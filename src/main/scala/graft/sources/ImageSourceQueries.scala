package graft.sources

import graft.{Graft, GraftQuery}
import graft.images.ImageOps
import graft.multimodal.TiffCodec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SourceQueries.{Fixture, mediaScale}

/** Image-family fixture trees and decode-under-hash-gate scans
  * (PNG, animated GIF, BMP, JPEG, QOI, TIFF).
  * Split from SourceQueries.scala (round 10) - mechanical move, no
  * behavior change; fixture dirs and oracle SQL are byte-identical.
  */
object ImageSourceQueries {

  private[sources] val ImageTree = Fixture("img", "img", "png", scales = true)

  /** Build (atomically, once per scale factor) the deterministic 4-level PNG
    * shard tree both binary-source queries scan. Returns the tree root.
    */
  private[sources] def ensureImageTree(sfDir: String): String =
    ImageTree.tree(sfDir) {
      (0 until 24 * mediaScale).iterator.map { i =>
        // floorMod: identity for i < 24 (byte-identical base tree), keeps
        // channels in range for the scaled indices
        val r = Math.floorMod(i * 10, 256)
        val g = Math.floorMod(255 - i * 10, 256)
        val img = ImageOps.Image(16, 16,
          Array.fill(256)((r << 16) | (g << 8) | (i % 256)))
        (s"${i % 2}/${i % 3}/${i % 4}/${ImageTree.file(i)}",
          ImageOps.encodePng(img))
      }
    }

  /** S1 — binary scan over a deterministic synthetic image tree (4-level
    * sharding like the reference's landmark layout), decoded and reduced to
    * per-image average color, dominant-color closest primary, and byte
    * metadata — ONE pass over the scan, the real decode path
    * ([[ImageOps.decode]]/averageColor/dominantColor/closestPrimary, M1–O1).
    *
    * Fully oracle-checked (closing the last `no_oracle` row): the fixture
    * images are SOLID colors whose fill is a pure function of the filename
    * index (r = 10·i, g = 255 − 10·i, b = i), so the oracle can replay the
    * expected decode output independently — average of a solid image is its
    * fill, dominant likewise, and the closest-primary argmin is six
    * constant squared distances — while `read_blob` over the SAME files
    * proves byte identity (n_bytes + 8-byte hex prefix). A hash match
    * therefore verifies the whole PNG decode chain end-to-end, not just
    * header metadata (that's [[ImageDims]]). Pixel-level decode on
    * non-solid images stays spec-verified (ImageOpsSpec) — IDAT zlib is
    * territory no SQL engine replays.
    */
  object BinaryScan extends GraftQuery {
    val name = "q_binary_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      ImageTree.assets(spark, ensureImageTree(sfDir))
        .mapPartitions { it =>
          it.flatMap { case (id, content) =>
            ImageOps.decode(content).map { img =>
              val avg = ImageOps.averageColor(img)
              val dom = ImageOps.dominantColor(img)
              val cp = ImageOps.closestPrimary(dom, ImageOps.Primaries)
              (id, avg._1.toLong, avg._2.toLong, avg._3.toLong, cp.toLong,
                content.length.toLong, Sources.headHex(content))
            }
          }
        }
        .toDF("img_id", "avg_c0", "avg_c1", "avg_c2", "closest_primary",
          "n_bytes", "head_hex")
        .orderBy("img_id")
    }
    val oracle = Some(
      s"""WITH f AS (${ImageTree.blobRows(8)}),
        |c AS (
        |  SELECT asset_idx AS img_id, n_bytes, head_hex, asset_idx * 10 AS r,
        |         255 - asset_idx * 10 AS g, asset_idx AS b
        |  FROM f),
        |d AS (
        |  SELECT img_id, r, g, b, n_bytes, head_hex,
        |         [ (r-255)*(r-255) + g*g + b*b,
        |           r*r + (g-255)*(g-255) + b*b,
        |           r*r + g*g + (b-255)*(b-255),
        |           r*r + (g-255)*(g-255) + (b-255)*(b-255),
        |           (r-255)*(r-255) + (g-255)*(g-255) + b*b,
        |           (r-255)*(r-255) + g*g + (b-255)*(b-255) ] AS dists
        |  FROM c)
        |SELECT img_id, r AS avg_c0, g AS avg_c1, b AS avg_c2,
        |       CAST(list_position(dists, list_min(dists)) - 1 AS BIGINT)
        |         AS closest_primary,
        |       n_bytes, head_hex
        |FROM d ORDER BY img_id""".stripMargin)
  }

  private[sources] val TwoToneTree =
    Fixture("img2", "img", "png", scales = true)

  /** Build (atomically, once per scale factor) the TWO-TONE PNG tree: 16×16
    * images whose left 10 columns are color A(i) = (10i, 255−10i, i) and
    * right 6 columns are B(i) = (5i, 100, 200−5i) — an asymmetric split, so
    * average (the 160:96 pixel-weighted mix) differs from dominant (the
    * larger region, exactly A). Same 4-level sharding as [[ensureImageTree]].
    */
  private[sources] def ensureTwoToneTree(sfDir: String): String =
    TwoToneTree.tree(sfDir) {
      (0 until 24 * mediaScale).iterator.map { i =>
        // floorMod: identity for i < 24 (see ensureImageTree)
        val a = (Math.floorMod(i * 10, 256) << 16) |
          (Math.floorMod(255 - i * 10, 256) << 8) | (i % 256)
        val b = (Math.floorMod(i * 5, 256) << 16) | (100 << 8) |
          Math.floorMod(200 - i * 5, 256)
        val px = Array.tabulate(256)(p => if (p % 16 < 10) a else b)
        (s"${i % 2}/${i % 3}/${i % 4}/${TwoToneTree.file(i)}",
          ImageOps.encodePng(ImageOps.Image(16, 16, px)))
      }
    }

  /** The decode oracle beyond solid fills (VERDICT r6 item 5): two-tone
    * fixtures where average ≠ dominant, so the hash gate now verifies the
    * NON-TRIVIAL k-means path end-to-end, not just the degenerate
    * single-color case. Closed forms the oracle replays:
    *   - average: floor((160·A + 96·B) / 256) per channel (integer
    *     truncation in [[ImageOps.averageColor]] == DuckDB `//`);
    *   - dominant: exactly A — [[ImageOps.dominantColor]] seeds centers at
    *     the top-frequency distinct colors, so for a 2-color image the
    *     centers ARE {A, B} (distance-0 assignments, converged after one
    *     round, integer centroid means are exact in float) and the
    *     biggest-cluster argmax picks the 160-pixel A region;
    *   - closest primary of BOTH (they differ — the avg mixes toward B).
    * `read_blob` byte identity (n_bytes + head) again pins the files.
    */
  object BinaryTwoTone extends GraftQuery {
    val name = "q_binary_twotone"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      TwoToneTree.assets(spark, ensureTwoToneTree(sfDir))
        .mapPartitions { it =>
          it.flatMap { case (id, content) =>
            ImageOps.decode(content).map { img =>
              val avg = ImageOps.averageColor(img)
              val dom = ImageOps.dominantColor(img)
              (id, avg._1.toLong, avg._2.toLong, avg._3.toLong,
                dom._1.toLong, dom._2.toLong, dom._3.toLong,
                ImageOps.closestPrimary(avg, ImageOps.Primaries).toLong,
                ImageOps.closestPrimary(dom, ImageOps.Primaries).toLong,
                content.length.toLong)
            }
          }
        }
        .toDF("img_id", "avg_c0", "avg_c1", "avg_c2",
          "dom_c0", "dom_c1", "dom_c2", "cp_avg", "cp_dom", "n_bytes")
        .orderBy("img_id")
    }
    // dv/da = the six squared primary distances of the average /
    // dominant color (argmin = first min, like the Scala).
    val oracle = Some(
      s"""WITH f AS (
        |  SELECT asset_idx AS i, n_bytes FROM (${TwoToneTree.blobRows()})),
        |c AS (
        |  SELECT i AS img_id, n_bytes,
        |         i * 10 AS ar, 255 - i * 10 AS ag, i AS ab,
        |         i * 5 AS br, 100 AS bg, 200 - i * 5 AS bb
        |  FROM f),
        |m AS (
        |  SELECT img_id, n_bytes, ar, ag, ab,
        |         (160 * ar + 96 * br) // 256 AS vr,
        |         (160 * ag + 96 * bg) // 256 AS vg,
        |         (160 * ab + 96 * bb) // 256 AS vb
        |  FROM c),
        |d AS (
        |  SELECT img_id, n_bytes, ar, ag, ab, vr, vg, vb,
        |         [ (vr-255)*(vr-255) + vg*vg + vb*vb,
        |           vr*vr + (vg-255)*(vg-255) + vb*vb,
        |           vr*vr + vg*vg + (vb-255)*(vb-255),
        |           vr*vr + (vg-255)*(vg-255) + (vb-255)*(vb-255),
        |           (vr-255)*(vr-255) + (vg-255)*(vg-255) + vb*vb,
        |           (vr-255)*(vr-255) + vg*vg + (vb-255)*(vb-255) ] AS dv,
        |         [ (ar-255)*(ar-255) + ag*ag + ab*ab,
        |           ar*ar + (ag-255)*(ag-255) + ab*ab,
        |           ar*ar + ag*ag + (ab-255)*(ab-255),
        |           ar*ar + (ag-255)*(ag-255) + (ab-255)*(ab-255),
        |           (ar-255)*(ar-255) + (ag-255)*(ag-255) + ab*ab,
        |           (ar-255)*(ar-255) + ag*ag + (ab-255)*(ab-255) ] AS da
        |  FROM m)
        |SELECT img_id, vr AS avg_c0, vg AS avg_c1, vb AS avg_c2,
        |       ar AS dom_c0, ag AS dom_c1, ab AS dom_c2,
        |       CAST(list_position(dv, list_min(dv)) - 1 AS BIGINT) AS cp_avg,
        |       CAST(list_position(da, list_min(da)) - 1 AS BIGINT) AS cp_dom,
        |       n_bytes
        |FROM d ORDER BY img_id""".stripMargin)
  }

  /** S1's metadata pass WITH an oracle — the one binary-source operator a
    * second engine can replay: image dimensions and byte sizes parsed from
    * the PNG IHDR header by pure byte arithmetic (width = bytes 17–20
    * big-endian, height = 21–24), over the same sharded tree
    * [[BinaryScan]] scans. Spark reads the `binaryFile` source and slices
    * `content`; the oracle reads the SAME FILES via DuckDB `read_blob` and
    * slices identically — closing the round-1 `no_oracle` gap for the
    * binary path at the header level (pixel decoding stays spec-verified:
    * IDAT is zlib territory no SQL engine replays).
    *
    * At corpus scale this is the no-decode metadata pass that
    * sizes/filters a 100 TB image set without touching pixel data.
    */
  object ImageDims extends GraftQuery {
    val name = "q_image_dims"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      ImageTree.assets(spark, ensureImageTree(sfDir))
        .select(col("asset_idx").as("img_id"),
          conv(hex(expr("substring(content, 17, 4)")), 16, 10).cast("long").as("width"),
          conv(hex(expr("substring(content, 21, 4)")), 16, 10).cast("long").as("height"),
          length(col("content")).cast("long").as("n_bytes"))
        .orderBy("img_id")
    }
    val oracle = Some(
      s"""SELECT ${ImageTree.blobIdx} AS img_id,
        |       ('0x' || substring(hex(content), 33, 8))::BIGINT AS width,
        |       ('0x' || substring(hex(content), 41, 8))::BIGINT AS height,
        |       CAST(octet_length(content) AS BIGINT) AS n_bytes
        |FROM ${ImageTree.blob}
        |ORDER BY img_id""".stripMargin)
  }

  private[sources] val GifTree = Fixture("gif", "n", "gif", scales = false)

  /** Build (atomically, once per scale factor) the animated-GIF fixture tree:
    * 24 .gif files of 18×11 8-bit frames (dims not multiples of 8, so all
    * four interlace passes are partial), 3 + (i mod 3) frames per clip
    * with odd frames written INTERLACED by the encoder. Pixels and
    * palette are pure functions of the asset index:
    * px(x, y, f) = (7i + 3x + 5y + 11f) mod 256, palette channel forms
    * r = (2j + i) mod 256, g = (j + 3i) mod 256, b = (5j + 7i) mod 256.
    */
  private[sources] def ensureGifTree(sfDir: String): String =
    GifTree.tree(sfDir) {
      val w = 18; val h = 11
      (0 until 24).iterator.map { i =>
        val pal = new Array[Byte](768)
        for (j <- 0 until 256) {
          pal(3 * j) = ((2 * j + i) % 256).toByte
          pal(3 * j + 1) = ((j + 3 * i) % 256).toByte
          pal(3 * j + 2) = ((5 * j + 7 * i) % 256).toByte
        }
        val frames = (0 until 3 + i % 3).map { f =>
          Array.tabulate(w * h)(o =>
            ((7 * i + 3 * (o % w) + 5 * (o / w) + 11 * f) % 256).toByte)
        }
        (s"${i % 2}/${i % 3}/${GifTree.file(i)}",
          graft.multimodal.GifCodec.encode(w, h, pal, frames))
      }
    }

  /** Animated-GIF decode under the hash gate: binary scan of the GIF
    * fixture tree, decoded by the pure-JVM from-spec
    * [[graft.multimodal.GifCodec]] (GIF89a framing, graphic-control
    * extensions, the four-pass interlace order on odd frames, and the
    * GIF variant of LZW — variable-width LSB-first codes, clear/EOI,
    * 4096-entry dictionary), reduced to exact per-frame RGB sums. GIF
    * is lossless indexed color, so the oracle replays every decoded
    * pixel in CLOSED FORM from the filename index while `read_blob`
    * pins byte identity. LZW is the SECOND compression family under
    * the gate (dictionary coding, next to DEFLATE's LZ77+Huffman in
    * PNG/ZMBV) — and the from-spec decoder dodges a real JDK bug
    * (ImageIO's reader misorders interlace passes at small heights;
    * GifCodecSpec proves our decode against SOURCE truth).
    */
  object GifScan extends GraftQuery {
    val name = "q_gif_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      GifTree.assets(spark, ensureGifTree(sfDir))
        .flatMap { case (idx, content) =>
          import graft.multimodal.GifCodec
          val headHex = Sources.headHex(content)
          for {
            frames <- GifCodec.decode(content).toSeq
            (frame, fi) <- frames.zipWithIndex
          } yield {
            val (sr, sg, sb) = ImageOps.channelSums(frame.pixels)
            (idx, fi.toLong, frame.width.toLong * frame.height, sr, sg, sb,
              content.length.toLong, headHex)
          }
        }
        .toDF("asset_idx", "frame_idx", "n_pixels", "sum_r", "sum_g",
          "sum_b", "n_bytes", "head_hex")
        .orderBy("asset_idx", "frame_idx")
    }
    val oracle = Some(
      s"""WITH f AS (${GifTree.blobRows(8)}),
        |fr AS (
        |  SELECT asset_idx, n_bytes, head_hex, t.f AS frame_idx
        |  FROM f, LATERAL unnest(range(0, 3 + asset_idx % 3)) t(f)),
        |px AS (
        |  SELECT asset_idx, frame_idx,
        |         (7 * asset_idx + 3 * x.x + 5 * y.y + 11 * frame_idx) % 256 AS j
        |  FROM fr, LATERAL unnest(range(0, 18)) x(x),
        |       LATERAL unnest(range(0, 11)) y(y)),
        |a AS (
        |  SELECT asset_idx, frame_idx, count(*) AS n_pixels,
        |         CAST(sum((2 * j + asset_idx) % 256) AS BIGINT) AS sum_r,
        |         CAST(sum((j + 3 * asset_idx) % 256) AS BIGINT) AS sum_g,
        |         CAST(sum((5 * j + 7 * asset_idx) % 256) AS BIGINT) AS sum_b
        |  FROM px GROUP BY 1, 2)
        |SELECT fr.asset_idx, fr.frame_idx, a.n_pixels, a.sum_r, a.sum_g,
        |       a.sum_b, fr.n_bytes, fr.head_hex
        |FROM fr JOIN a USING (asset_idx, frame_idx)
        |ORDER BY fr.asset_idx, fr.frame_idx""".stripMargin)
  }

  private[sources] val BmpTree = Fixture("bmp", "b", "bmp", scales = false)

  /** Build (atomically, once per scale factor) the BMP fixture tree: 24 .bmp
    * files of 15×9 24-bit pixels (odd width exercises the 4-byte row pad):
    * channel c of pixel (x, y) in asset i is r = (9i + 2x + 4y) mod 256,
    * g = (4i + 5x + y) mod 256, b = (6i + x + 3y) mod 256. Written by
    * the engine's own deterministic [[graft.multimodal.BmpCodec]]
    * writer (plain BI_RGB, bottom-up).
    */
  private[sources] def ensureBmpTree(sfDir: String): String =
    BmpTree.tree(sfDir) {
      val w = 15; val h = 9
      (0 until 24).iterator.map { i =>
        val px = Array.tabulate(w * h) { o =>
          val x = o % w; val y = o / w
          (((9 * i + 2 * x + 4 * y) % 256) << 16) |
            (((4 * i + 5 * x + y) % 256) << 8) | ((6 * i + x + 3 * y) % 256)
        }
        (s"${i % 2}/${i % 3}/${BmpTree.file(i)}",
          graft.multimodal.BmpCodec.encode(ImageOps.Image(w, h, px)))
      }
    }

  /** BMP decode under the hash gate: binary scan of the BMP fixture
    * tree, decoded by the from-spec [[graft.multimodal.BmpCodec]]
    * (BITMAPINFOHEADER, bottom-up padded rows) — the last engine-owned
    * image format joins the gate set (PNG/QOI/GIF/BMP; only JPEG
    * remains library-decoded, being non-bit-standardized). The oracle
    * replays every pixel in closed form and `read_blob` pins byte
    * identity through the engine's own deterministic writer.
    */
  object BmpScan extends GraftQuery {
    val name = "q_bmp_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      BmpTree.assets(spark, ensureBmpTree(sfDir))
        .flatMap { case (idx, content) =>
          for (img <- graft.multimodal.BmpCodec.decode(content).toSeq) yield {
            val (sr, sg, sb) = ImageOps.channelSums(img.pixels)
            (idx, img.width.toLong * img.height, sr, sg, sb,
              content.length.toLong, Sources.headHex(content))
          }
        }
        .toDF("asset_idx", "n_pixels", "sum_r", "sum_g", "sum_b",
          "n_bytes", "head_hex")
        .orderBy("asset_idx")
    }
    val oracle = Some(
      s"""WITH f AS (${BmpTree.blobRows(8)}),
        |a AS (
        |  SELECT f.asset_idx, count(*) AS n_pixels,
        |         CAST(sum((9 * f.asset_idx + 2 * x.x + 4 * y.y) % 256) AS BIGINT) AS sum_r,
        |         CAST(sum((4 * f.asset_idx + 5 * x.x + y.y) % 256) AS BIGINT) AS sum_g,
        |         CAST(sum((6 * f.asset_idx + x.x + 3 * y.y) % 256) AS BIGINT) AS sum_b
        |  FROM f, LATERAL unnest(range(0, 15)) x(x),
        |       LATERAL unnest(range(0, 9)) y(y)
        |  GROUP BY 1)
        |SELECT f.asset_idx, a.n_pixels, a.sum_r, a.sum_g, a.sum_b,
        |       f.n_bytes, f.head_hex
        |FROM f JOIN a USING (asset_idx)
        |ORDER BY f.asset_idx""".stripMargin)
  }

  private[sources] val JpegTree = Fixture("jpeg", "j", "jpg", scales = false)

  /** Build (atomically, once per scale factor) the JPEG fixture tree: 24 .jpg
    * files of 32×16 pixels, two-tone at the block-aligned split x=16 between
    * two EVEN grays a = (2·(17i+30)) mod 256 and b = (2·(41i+90)) mod
    * 256. This sits exactly on [[graft.multimodal.JpegCodec]]'s
    * exactness corner: block-constant even grays survive the lossy
    * pipeline IDENTICALLY (Y=v and Cb=Cr=128 exactly; DC = 8·(v−128)
    * divides by the Annex-K luma Q00=16 for even v; the islow IDCT
    * reconstructs constants exactly), so even a JPEG tree is closed-form
    * replayable. Written by the engine's own deterministic encoder.
    */
  private[sources] def ensureJpegTree(sfDir: String): String =
    JpegTree.tree(sfDir) {
      val w = 32; val h = 16
      (0 until 24).iterator.map { i =>
        val a = (2 * (17 * i + 30)) % 256
        val b = (2 * (41 * i + 90)) % 256
        val px = Array.tabulate(w * h) { o =>
          val v = if (o % w < 16) a else b
          (v << 16) | (v << 8) | v
        }
        (s"${i % 2}/${i % 3}/${JpegTree.file(i)}",
          graft.multimodal.JpegCodec.encode(ImageOps.Image(w, h, px)))
      }
    }

  /** Baseline JPEG decode under the hash gate: binary scan of the JPEG
    * fixture tree, decoded by the from-spec [[graft.multimodal.JpegCodec]]
    * (T.81 marker walk, canonical Huffman, islow IDCT — proven
    * BIT-identical to ImageIO in JpegCodecSpec). JPEG being lossy, the
    * gate stands on the codec's exactness corner (block-constant even
    * grays roundtrip identically), so the oracle replays every pixel in
    * closed form and `read_blob` pins byte identity through the engine's
    * own deterministic writer — the last image format joins the
    * PNG/QOI/GIF/BMP gate set.
    */
  object JpegScan extends GraftQuery {
    val name = "q_jpeg_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      JpegTree.assets(spark, ensureJpegTree(sfDir))
        .flatMap { case (idx, content) =>
          for (img <- graft.multimodal.JpegCodec.decode(content).toSeq) yield {
            val (sr, sg, sb) = ImageOps.channelSums(img.pixels)
            (idx, img.width.toLong, img.height.toLong,
              img.width.toLong * img.height, sr, sg, sb,
              content.length.toLong, Sources.headHex(content))
          }
        }
        .toDF("asset_idx", "width", "height", "n_pixels", "sum_r", "sum_g",
          "sum_b", "n_bytes", "head_hex")
        .orderBy("asset_idx")
    }
    // Each half is 16×16 = 256 pixels of one even gray, so every channel
    // sum is 256·(a+b).
    val oracle = Some(
      s"""WITH f AS (${JpegTree.blobRows(8)}),
        |a AS (
        |  SELECT asset_idx,
        |         (2 * (17 * asset_idx + 30)) % 256 AS ga,
        |         (2 * (41 * asset_idx + 90)) % 256 AS gb
        |  FROM f)
        |SELECT f.asset_idx, CAST(32 AS BIGINT) AS width,
        |       CAST(16 AS BIGINT) AS height, CAST(512 AS BIGINT) AS n_pixels,
        |       CAST(256 * (a.ga + a.gb) AS BIGINT) AS sum_r,
        |       CAST(256 * (a.ga + a.gb) AS BIGINT) AS sum_g,
        |       CAST(256 * (a.ga + a.gb) AS BIGINT) AS sum_b,
        |       f.n_bytes, f.head_hex
        |FROM f JOIN a USING (asset_idx)
        |ORDER BY f.asset_idx""".stripMargin)
  }

  private[sources] val QoiTree = Fixture("qoi", "q", "qoi", scales = true)

  /** Build (atomically, once per scale factor) the QOI fixture tree: 24
    * .qoi images (20×14, 3-channel) whose pixels tile in 5×3 plateaus —
    * runs inside rows, small inter-tile deltas (DIFF/LUMA ops), repeated
    * colors (INDEX hits): channel c of pixel (x, y) in asset i is
    * r = (5i + 3⌊x/5⌋ + 7⌊y/3⌋) mod 256, g = (3i + 2⌊x/5⌋ + 5⌊y/3⌋)
    * mod 256, b = (7i + ⌊x/5⌋ + ⌊y/3⌋) mod 256. Encoded by
    * [[graft.multimodal.QoiCodec]].
    */
  private[sources] def ensureQoiTree(sfDir: String): String =
    QoiTree.tree(sfDir) {
      val w = 20; val h = 14
      (0 until 24 * mediaScale).iterator.map { i =>
        val px = Array.tabulate(w * h) { o =>
          val tx = (o % w) / 5; val ty = (o / w) / 3
          val r = (i * 5 + 3 * tx + 7 * ty) % 256
          val g = (i * 3 + 2 * tx + 5 * ty) % 256
          val b = (i * 7 + tx + ty) % 256
          (r << 16) | (g << 8) | b
        }
        (s"${i % 2}/${i % 3}/${QoiTree.file(i)}",
          graft.multimodal.QoiCodec.encode(w, h, px))
      }
    }

  /** From-spec image decode under the hash gate: binary scan of the QOI
    * fixture tree, decoded by the pure-JVM [[graft.multimodal.QoiCodec]]
    * (the public one-page QOI format: 64-entry hash index, wraparound
    * DIFF/LUMA deltas, runs — the image tier's first codec implemented
    * in the engine itself rather than delegated to ImageIO), reduced to
    * exact integer per-image channel sums. QOI is lossless, so the
    * oracle replays every pixel in CLOSED FORM from the filename index
    * while `read_blob` pins byte identity — the image twin of
    * `q_flac_scan`'s stance for audio.
    */
  object QoiScan extends GraftQuery {
    val name = "q_qoi_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      QoiTree.assets(spark, ensureQoiTree(sfDir))
        .mapPartitions { it =>
          it.flatMap { case (idx, content) =>
            graft.multimodal.QoiCodec.decode(content).map { q =>
              val px = graft.multimodal.QoiCodec.toImage(q).pixels
              val (sr, sg, sb) = ImageOps.channelSums(px)
              (idx, q.width.toLong, q.height.toLong,
                q.width.toLong * q.height, sr, sg, sb,
                content.length.toLong, Sources.headHex(content))
            }
          }
        }
        .toDF("asset_idx", "width", "height", "n_pixels", "sum_r", "sum_g",
          "sum_b", "n_bytes", "head_hex")
        .orderBy("asset_idx")
    }
    val oracle = Some(
      s"""WITH f AS (${QoiTree.blobRows(8)}),
        |px AS (
        |  SELECT asset_idx,
        |         (asset_idx * 5 + 3 * (x.x // 5) + 7 * (y.y // 3)) % 256 AS r,
        |         (asset_idx * 3 + 2 * (x.x // 5) + 5 * (y.y // 3)) % 256 AS g,
        |         (asset_idx * 7 + (x.x // 5) + (y.y // 3)) % 256 AS b
        |  FROM f, LATERAL unnest(range(0, 20)) x(x),
        |       LATERAL unnest(range(0, 14)) y(y)),
        |a AS (
        |  SELECT asset_idx, count(*) AS n_pixels,
        |         CAST(sum(r) AS BIGINT) AS sum_r,
        |         CAST(sum(g) AS BIGINT) AS sum_g,
        |         CAST(sum(b) AS BIGINT) AS sum_b
        |  FROM px GROUP BY 1)
        |SELECT f.asset_idx, CAST(20 AS BIGINT) AS width,
        |       CAST(14 AS BIGINT) AS height, a.n_pixels, a.sum_r, a.sum_g,
        |       a.sum_b, f.n_bytes, f.head_hex
        |FROM f JOIN a USING (asset_idx)
        |ORDER BY f.asset_idx""".stripMargin)
  }

  private[sources] val WebpTree = Fixture("webp", "w", "webp", scales = true)

  /** Build (atomically, once per scale factor) the WebP fixture tree: 24
    * .webp files of 20×14 pixels cycling through eight VP8L feature classes
    * (i mod 8) that jointly cover the lossless decoder: plain literals
    * with normal prefix codes (0), two-color simple codes (1), color
    * cache (2), LZ77 backward refs over row-periodic pixels (3),
    * subtract-green + predictor transform cycling all 14 modes (4),
    * 12-color color-indexing with bundled sub-byte pixels (5), the
    * color transform's signed-8 cross-channel deltas (6), and meta
    * prefix groups split by column (7). Pixel formulas (exact mod-256
    * integer, oracle-replayable):
    *  0: r=(5i+2x+3y), g=(3i+4x+y),  b=(7i+x+2y)
    *  1: (x+y) even → (3i, 7i, 11i); odd → (5i+1, 2i+9, i+4)
    *  2: tx=x/5, ty=y/3: r=(5i+3tx+7ty), g=(3i+2tx+5ty), b=(7i+tx+ty)
    *  3: y3=y%3: r=(7i+2x+5·y3), g=(i+x+y3), b=(2i+3x+y3)
    *  4: r=(3i+x+2y), g=(i+4x+y), b=(2i+3x+3y)
    *  5: j=(x+2y+i)%12, palette j: ((3j+i), (5j+2i), (7j+4i))
    *  6: r=(9i+2x+4y), g=(4i+5x+y), b=(6i+x+3y)
    *  7: base = 0 if x<10 else 192: each channel base + formula%64 —
    *     r=(i+x+y), g=(2i+x), b=(i+y)
    * Encoded by the engine's own deterministic
    * [[graft.multimodal.WebpCodec]] writer (lossless — decode must
    * replay every pixel bit-exactly).
    */
  private[sources] def ensureWebpTree(sfDir: String): String =
    WebpTree.tree(sfDir) {
      import graft.multimodal.WebpCodec
      val w = 20; val h = 14
      (0 until 24 * mediaScale).iterator.map { i =>
        def m(v: Int) = ((v % 256) + 256) % 256
        val px = Array.tabulate(w * h) { o =>
          val x = o % w; val y = o / w
          val (r, g, b) = (i % 8) match {
            case 0 => (m(5 * i + 2 * x + 3 * y), m(3 * i + 4 * x + y),
              m(7 * i + x + 2 * y))
            case 1 =>
              if ((x + y) % 2 == 0) (m(3 * i), m(7 * i), m(11 * i))
              else (m(5 * i + 1), m(2 * i + 9), m(i + 4))
            case 2 =>
              val tx = x / 5; val ty = y / 3
              (m(5 * i + 3 * tx + 7 * ty), m(3 * i + 2 * tx + 5 * ty),
                m(7 * i + tx + ty))
            case 3 =>
              val y3 = y % 3
              (m(7 * i + 2 * x + 5 * y3), m(i + x + y3), m(2 * i + 3 * x + y3))
            case 4 => (m(3 * i + x + 2 * y), m(i + 4 * x + y),
              m(2 * i + 3 * x + 3 * y))
            case 5 =>
              val j = (x + 2 * y + i) % 12
              (m(3 * j + i), m(5 * j + 2 * i), m(7 * j + 4 * i))
            case 6 => (m(9 * i + 2 * x + 4 * y), m(4 * i + 5 * x + y),
              m(6 * i + x + 3 * y))
            case _ =>
              val base = if (x < 10) 0 else 192
              (base + (i + x + y) % 64, base + (2 * i + x) % 64,
                base + (i + y) % 64)
          }
          (r << 16) | (g << 8) | b
        }
        val layout = (i % 8) match {
          case 0 | 1        => WebpCodec.Layout()
          case 2            => WebpCodec.Layout(cacheBits = 6)
          case 3            => WebpCodec.Layout(lz77 = true)
          case 4 => WebpCodec.Layout(subtractGreen = true, predictorBits = 2)
          case 5            => WebpCodec.Layout(palette = true)
          case 6            => WebpCodec.Layout(colorBits = 3)
          case _            => WebpCodec.Layout(metaBits = 4)
        }
        (s"${i % 2}/${i % 3}/${WebpTree.file(i)}",
          WebpCodec.encode(w, h, px, layout))
      }
    }

  /** From-spec WebP (VP8L lossless) decode under the hash gate: binary
    * scan of the WebP fixture tree, decoded by the pure-JVM
    * [[graft.multimodal.WebpCodec]] (RFC 9649 §4: canonical prefix
    * codes, color cache, LZ77 with the 2D distance neighborhood, and
    * all four transforms — the eight fixture classes jointly exercise
    * each), reduced to exact integer per-image channel sums. VP8L is
    * lossless, so the oracle replays every pixel in CLOSED FORM from
    * the filename index while `read_blob` pins byte identity — the one
    * mainstream image format a real crawl serves in volume that
    * `MagicBytes.sniffMime` could route but the engine could not open
    * until round 14. Lossy VP8 stays a documented strict-fenced seam
    * beside H.264 (header dims only, never fake pixels).
    */
  object WebpScan extends GraftQuery {
    val name = "q_webp_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      WebpTree.assets(spark, ensureWebpTree(sfDir))
        .mapPartitions { it =>
          it.flatMap { case (idx, content) =>
            graft.multimodal.WebpCodec.decode(content).map { d =>
              val (sr, sg, sb) = ImageOps.channelSums(d.argb)
              (idx, d.width.toLong, d.height.toLong,
                d.width.toLong * d.height, sr, sg, sb,
                content.length.toLong, Sources.headHex(content))
            }
          }
        }
        .toDF("asset_idx", "width", "height", "n_pixels", "sum_r", "sum_g",
          "sum_b", "n_bytes", "head_hex")
        .orderBy("asset_idx")
    }
    // The per-class pixel formulas replay in one CASE over the (x, y) grid.
    val oracle = Some(
      s"""WITH f AS (${WebpTree.blobRows(8)}),
        |px AS (
        |  SELECT asset_idx, i, x.x AS x, y.y AS y,
        |         CASE i % 8
        |           WHEN 0 THEN (5*i + 2*x.x + 3*y.y) % 256
        |           WHEN 1 THEN CASE WHEN (x.x + y.y) % 2 = 0
        |             THEN (3*i) % 256 ELSE (5*i + 1) % 256 END
        |           WHEN 2 THEN (5*i + 3*(x.x//5) + 7*(y.y//3)) % 256
        |           WHEN 3 THEN (7*i + 2*x.x + 5*(y.y % 3)) % 256
        |           WHEN 4 THEN (3*i + x.x + 2*y.y) % 256
        |           WHEN 5 THEN (3*((x.x + 2*y.y + i) % 12) + i) % 256
        |           WHEN 6 THEN (9*i + 2*x.x + 4*y.y) % 256
        |           ELSE (CASE WHEN x.x < 10 THEN 0 ELSE 192 END)
        |                + (i + x.x + y.y) % 64 END AS r,
        |         CASE i % 8
        |           WHEN 0 THEN (3*i + 4*x.x + y.y) % 256
        |           WHEN 1 THEN CASE WHEN (x.x + y.y) % 2 = 0
        |             THEN (7*i) % 256 ELSE (2*i + 9) % 256 END
        |           WHEN 2 THEN (3*i + 2*(x.x//5) + 5*(y.y//3)) % 256
        |           WHEN 3 THEN (i + x.x + y.y % 3) % 256
        |           WHEN 4 THEN (i + 4*x.x + y.y) % 256
        |           WHEN 5 THEN (5*((x.x + 2*y.y + i) % 12) + 2*i) % 256
        |           WHEN 6 THEN (4*i + 5*x.x + y.y) % 256
        |           ELSE (CASE WHEN x.x < 10 THEN 0 ELSE 192 END)
        |                + (2*i + x.x) % 64 END AS g,
        |         CASE i % 8
        |           WHEN 0 THEN (7*i + x.x + 2*y.y) % 256
        |           WHEN 1 THEN CASE WHEN (x.x + y.y) % 2 = 0
        |             THEN (11*i) % 256 ELSE (i + 4) % 256 END
        |           WHEN 2 THEN (7*i + (x.x//5) + (y.y//3)) % 256
        |           WHEN 3 THEN (2*i + 3*x.x + y.y % 3) % 256
        |           WHEN 4 THEN (2*i + 3*x.x + 3*y.y) % 256
        |           WHEN 5 THEN (7*((x.x + 2*y.y + i) % 12) + 4*i) % 256
        |           WHEN 6 THEN (6*i + x.x + 3*y.y) % 256
        |           ELSE (CASE WHEN x.x < 10 THEN 0 ELSE 192 END)
        |                + (i + y.y) % 64 END AS b
        |  FROM (SELECT asset_idx, asset_idx AS i FROM f) s,
        |       LATERAL unnest(range(0, 20)) x(x),
        |       LATERAL unnest(range(0, 14)) y(y)),
        |a AS (
        |  SELECT asset_idx, count(*) AS n_pixels,
        |         CAST(sum(r) AS BIGINT) AS sum_r,
        |         CAST(sum(g) AS BIGINT) AS sum_g,
        |         CAST(sum(b) AS BIGINT) AS sum_b
        |  FROM px GROUP BY 1)
        |SELECT f.asset_idx, CAST(20 AS BIGINT) AS width,
        |       CAST(14 AS BIGINT) AS height, a.n_pixels, a.sum_r, a.sum_g,
        |       a.sum_b, f.n_bytes, f.head_hex
        |FROM f JOIN a USING (asset_idx)
        |ORDER BY f.asset_idx""".stripMargin)
  }

  private[sources] val TiffTree = Fixture("tiff", "t", "tif", scales = false)

  /** Build (atomically, once per scale factor) the TIFF fixture tree: 24 .tif
    * files of 15×9 pixels cycling through six layout classes (i mod 6) that
    * jointly cover the baseline decoder: RGB uncompressed II (0), RGB
    * PackBits II (1), RGB LZW II (2), RGB LZW + horizontal predictor MM
    * (3), 8-bit grayscale LZW + predictor II (4), 8-bit palette
    * uncompressed MM (5) — all multi-strip (RowsPerStrip 4). Pixel
    * formulas (exact mod-256 integer, oracle-replayable):
    * RGB classes r = (9i+2x+4y), g = (4i+5x+y), b = (6i+x+3y);
    * gray v = (9i+2x+4y) (r=g=b=v); palette index j = (2x+3y+i) with
    * palette entry r = (3j+i), g = (5j+2i), b = (7j+4i). Written by the
    * engine's own deterministic [[graft.multimodal.TiffCodec]] writer.
    */
  private[sources] def ensureTiffTree(sfDir: String): String =
    TiffTree.tree(sfDir) {
      val w = 15; val h = 9
      (0 until 24).iterator.map { i =>
        val layout = (i % 6) match {
          case 0 => TiffCodec.Layout(1, 1, bigEndian = false, 4)
          case 1 => TiffCodec.Layout(32773, 1, bigEndian = false, 4)
          case 2 => TiffCodec.Layout(5, 1, bigEndian = false, 4)
          case 3 => TiffCodec.Layout(5, 2, bigEndian = true, 4)
          case 4 => TiffCodec.Layout(5, 2, bigEndian = false, 4)
          case _ => TiffCodec.Layout(1, 1, bigEndian = true, 4)
        }
        val bytes = (i % 6) match {
          case 4 =>
            val v = Array.tabulate(w * h) { o =>
              val x = o % w; val y = o / w
              ((9 * i + 2 * x + 4 * y) % 256).toByte
            }
            TiffCodec.encodeGray(w, h, v, layout)
          case 5 =>
            val idx = Array.tabulate(w * h) { o =>
              val x = o % w; val y = o / w
              ((2 * x + 3 * y + i) % 256).toByte
            }
            val pal = Array.tabulate(256)(j =>
              (((3 * j + i) % 256) << 16) | (((5 * j + 2 * i) % 256) << 8) |
                ((7 * j + 4 * i) % 256))
            TiffCodec.encodePalette(w, h, idx, pal, layout)
          case _ =>
            val px = Array.tabulate(w * h) { o =>
              val x = o % w; val y = o / w
              (((9 * i + 2 * x + 4 * y) % 256) << 16) |
                (((4 * i + 5 * x + y) % 256) << 8) | ((6 * i + x + 3 * y) % 256)
            }
            TiffCodec.encodeRgb(ImageOps.Image(w, h, px), layout)
        }
        (s"${i % 2}/${i % 3}/${TiffTree.file(i)}", bytes)
      }
    }

  /** TIFF decode under the hash gate: binary scan of the TIFF fixture
    * tree, decoded by the from-spec [[graft.multimodal.TiffCodec]] —
    * every baseline shape (3 compressions, both predictors, both byte
    * orders, gray/RGB/palette, multi-strip) replayed pixel-exactly by
    * the closed-form oracle, with `read_blob` pinning byte identity
    * through the engine's own deterministic writer.
    */
  object TiffScan extends GraftQuery {
    val name = "q_tiff_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      TiffTree.assets(spark, ensureTiffTree(sfDir))
        .flatMap { case (idx, content) =>
          for (img <- TiffCodec.decode(content).toSeq) yield {
            val (sr, sg, sb) = ImageOps.channelSums(img.pixels)
            (idx, img.width.toLong * img.height, sr, sg, sb,
              content.length.toLong, Sources.headHex(content))
          }
        }
        .toDF("asset_idx", "n_pixels", "sum_r", "sum_g", "sum_b",
          "n_bytes", "head_hex")
        .orderBy("asset_idx")
    }
    val oracle = Some(
      s"""WITH f AS (${TiffTree.blobRows(8)}),
        |px AS (
        |  SELECT asset_idx, x.x AS x, y.y AS y
        |  FROM f, LATERAL unnest(range(0, 15)) x(x),
        |       LATERAL unnest(range(0, 9)) y(y)),
        |ch AS (
        |  SELECT asset_idx,
        |    CASE WHEN asset_idx % 6 = 5
        |      THEN (3 * ((2*x + 3*y + asset_idx) % 256) + asset_idx) % 256
        |      ELSE (9*asset_idx + 2*x + 4*y) % 256 END AS r,
        |    CASE WHEN asset_idx % 6 = 4 THEN (9*asset_idx + 2*x + 4*y) % 256
        |         WHEN asset_idx % 6 = 5
        |      THEN (5 * ((2*x + 3*y + asset_idx) % 256) + 2*asset_idx) % 256
        |      ELSE (4*asset_idx + 5*x + y) % 256 END AS g,
        |    CASE WHEN asset_idx % 6 = 4 THEN (9*asset_idx + 2*x + 4*y) % 256
        |         WHEN asset_idx % 6 = 5
        |      THEN (7 * ((2*x + 3*y + asset_idx) % 256) + 4*asset_idx) % 256
        |      ELSE (6*asset_idx + x + 3*y) % 256 END AS b
        |  FROM px),
        |a AS (
        |  SELECT asset_idx, count(*) AS n_pixels,
        |         CAST(sum(r) AS BIGINT) AS sum_r,
        |         CAST(sum(g) AS BIGINT) AS sum_g,
        |         CAST(sum(b) AS BIGINT) AS sum_b
        |  FROM ch GROUP BY 1)
        |SELECT f.asset_idx, a.n_pixels, a.sum_r, a.sum_g, a.sum_b,
        |       f.n_bytes, f.head_hex
        |FROM f JOIN a USING (asset_idx)
        |ORDER BY f.asset_idx""".stripMargin)
  }

  private[sources] val PnmTree = Fixture("pnm", "n", "p?m", scales = true)

  /** Build (atomically, once per scale factor) the Netpbm fixture tree: 24
    * files cycling all six variants (P1..P6 — ASCII/binary bitmap, graymap,
    * pixmap), two maxvals (255 and 200, so the v·255 div maxval sample
    * scaling is actually exercised), header comments on every third
    * asset, every sample a pure function of (i, x, y).
    */
  private[sources] def ensurePnmTree(sfDir: String): String =
    PnmTree.tree(sfDir) {
      import graft.multimodal.PnmCodec
      (0 until 24 * mediaScale).iterator.map { i =>
        val kind = 1 + i % 6
        val w = 8 + i % 5
        val h = 6 + i % 4
        val maxval = if (kind == 1 || kind == 4) 1
          else if (i % 2 == 0) 255 else 200
        val px: (Int, Int) => (Int, Int, Int) = kind match {
          case 1 | 4 => (x, y) => (((x + y + i) % 2), 0, 0)
          case 2 | 5 => (x, y) => {
            val g = (7 * i + 3 * x + 5 * y) % (maxval + 1); (g, g, g)
          }
          case _ => (x, y) => ((3 * i + x) % (maxval + 1),
            (5 * i + y) % (maxval + 1), (7 * i + x + y) % (maxval + 1))
        }
        val ext = kind match {
          case 1 | 4 => "pbm"
          case 2 | 5 => "pgm"
          case _ => "ppm"
        }
        (s"${i % 2}/${PnmTree.file(i, ext)}",
          PnmCodec.build(kind, w, h, maxval, px, comment = i % 3 == 0))
      }
    }

  /** Netpbm decode under the hash gate: all six variants through the
    * from-spec [[graft.multimodal.PnmCodec]] (ASCII token grammar with
    * comments, MSB-first P4 bit rows, 1-is-black PBM semantics, exact
    * v·255 div maxval sample scaling), reduced to per-file channel
    * sums the oracle replays closed-form from the pixel formulas.
    */
  object PnmScan extends GraftQuery {
    val name = "q_pnm_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      PnmTree.assets(spark, ensurePnmTree(sfDir))
        .flatMap { case (idx, content) =>
          for (img <- graft.multimodal.PnmCodec.decode(content).toSeq)
          yield (idx, img.kind.toLong, img.width.toLong,
            img.height.toLong, img.maxval.toLong,
            img.rgb.map(p => ((p >> 16) & 0xFF).toLong).sum,
            img.rgb.map(p => ((p >> 8) & 0xFF).toLong).sum,
            img.rgb.map(p => (p & 0xFF).toLong).sum,
            content.length.toLong)
        }
        .toDF("asset_idx", "kind", "width", "height", "maxval",
          "sum_r", "sum_g", "sum_b", "n_bytes")
        .orderBy("asset_idx")
    }
    val oracle = Some(
      s"""WITH specs AS (
        |  SELECT i.i AS asset_idx, 1 + i.i % 6 AS kind,
        |         8 + i.i % 5 AS w, 6 + i.i % 4 AS h,
        |         CASE WHEN 1 + i.i % 6 IN (1, 4) THEN 1
        |              WHEN i.i % 2 = 0 THEN 255 ELSE 200 END AS maxval
        |  FROM unnest(range(0, 24)) i(i)),
        |px AS (
        |  SELECT s.asset_idx, s.kind, s.maxval, x.x AS x, y.y AS y
        |  FROM specs s, LATERAL unnest(range(0, s.w)) x(x),
        |       LATERAL unnest(range(0, s.h)) y(y)),
        |ch AS (
        |  SELECT asset_idx,
        |         CASE WHEN kind IN (1, 4)
        |              THEN CASE WHEN (x + y + asset_idx) % 2 = 1 THEN 0 ELSE 255 END
        |              WHEN kind IN (2, 5)
        |              THEN ((7 * asset_idx + 3 * x + 5 * y) % (maxval + 1)) * 255 // maxval
        |              ELSE ((3 * asset_idx + x) % (maxval + 1)) * 255 // maxval
        |         END AS r,
        |         CASE WHEN kind IN (1, 4)
        |              THEN CASE WHEN (x + y + asset_idx) % 2 = 1 THEN 0 ELSE 255 END
        |              WHEN kind IN (2, 5)
        |              THEN ((7 * asset_idx + 3 * x + 5 * y) % (maxval + 1)) * 255 // maxval
        |              ELSE ((5 * asset_idx + y) % (maxval + 1)) * 255 // maxval
        |         END AS g,
        |         CASE WHEN kind IN (1, 4)
        |              THEN CASE WHEN (x + y + asset_idx) % 2 = 1 THEN 0 ELSE 255 END
        |              WHEN kind IN (2, 5)
        |              THEN ((7 * asset_idx + 3 * x + 5 * y) % (maxval + 1)) * 255 // maxval
        |              ELSE ((7 * asset_idx + x + y) % (maxval + 1)) * 255 // maxval
        |         END AS b
        |  FROM px),
        |agg AS (
        |  SELECT asset_idx, CAST(sum(r) AS BIGINT) AS sum_r,
        |         CAST(sum(g) AS BIGINT) AS sum_g,
        |         CAST(sum(b) AS BIGINT) AS sum_b
        |  FROM ch GROUP BY 1),
        |bl AS (${PnmTree.blobRows()})
        |SELECT s.asset_idx, CAST(s.kind AS BIGINT) AS kind,
        |       CAST(s.w AS BIGINT) AS width, CAST(s.h AS BIGINT) AS height,
        |       CAST(s.maxval AS BIGINT) AS maxval,
        |       a.sum_r, a.sum_g, a.sum_b, bl.n_bytes
        |FROM specs s JOIN agg a USING (asset_idx) JOIN bl USING (asset_idx)
        |ORDER BY s.asset_idx""".stripMargin)
  }
}
