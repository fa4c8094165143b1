package graft.sources

import graft.{Graft, GraftQuery}
import graft.images.ImageOps
import graft.multimodal.TiffCodec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SourceQueries.{Fixture, mediaScale}

/** Video-family fixture trees and decode-under-hash-gate scans
  * (ZMBV in AVI, ZMBV in Matroska VfW, MS-RLE in AVI).
  * Split from SourceQueries.scala (round 10) - mechanical move, no
  * behavior change; fixture dirs and oracle SQL are byte-identical.
  */
object VideoSourceQueries {

  private[sources] val ZmbvTree = Fixture("zmbv", "v", "avi", scales = true)

  /** Build (atomically, once per scale factor) the ZMBV fixture tree: 24
    * .avi clips (8bpp palette, 24×18 — edge blocks on both axes) whose
    * pixels are a pure function of the asset index: frame f's palette
    * index at (x, y) is (i·11 + (x − 3f)·2 + y·5) mod 256 — a
    * 3-px-per-frame horizontal scroll, so the encoder's motion search
    * finds (−3, 0) and inter frames genuinely motion-compensate — with
    * palette (j, (j·3 + i) mod 256, (j·7 + 2i) mod 256). 5–7 frames per clip,
    * keyframe every 4 (a mid-stream zlib reset on every clip), encoded by
    * [[graft.multimodal.ZmbvCodec]].
    */
  private[sources] def ensureZmbvTree(sfDir: String): String =
    ZmbvTree.tree(sfDir) {
      val w = 24; val h = 18
      (0 until 24 * mediaScale).iterator.map { i =>
        val pal = new Array[Byte](768)
        for (j <- 0 until 256) {
          pal(3 * j) = j.toByte
          pal(3 * j + 1) = ((j * 3 + i) % 256).toByte
          pal(3 * j + 2) = ((j * 7 + 2 * i) % 256).toByte
        }
        val frames = (0 until 5 + i % 3).map { f =>
          val px = new Array[Byte](w * h)
          for (y <- 0 until h; x <- 0 until w)
            px(y * w + x) =
              java.lang.Math.floorMod(i * 11 + (x - 3 * f) * 2 + y * 5, 256).toByte
          (px, pal)
        }
        (s"${i % 2}/${i % 3}/${ZmbvTree.file(i)}",
          graft.multimodal.ZmbvCodec.encodeAvi(w, h,
            graft.multimodal.ZmbvCodec.FmtPal8, frames, keyEvery = 4))
      }
    }

  /** Inter-frame video decode under the hash gate: binary scan of the
    * ZMBV fixture tree, demuxed by [[graft.multimodal.AviCodec]] (dims +
    * codec fourcc from the real `hdrl` header) and decoded by the
    * pure-JVM [[graft.multimodal.ZmbvCodec]] (per-block motion vectors
    * into the previous frame, XOR residuals, palette deltas, one shared
    * zlib context per GOP — a REAL inter-frame codec, not a header
    * peek), reduced to exact integer per-frame RGB sums. ZMBV is
    * lossless, so the oracle replays every decoded pixel in CLOSED FORM
    * from the filename index — a hash match proves
    * decode(encode(pixels)) == pixels through real files, a real
    * container parse, and real motion compensation — while `read_blob`
    * pins byte identity, the same stance as `q_flac_scan` for FLAC.
    * This closes the "inter-frame video is a stand-in" gap for the AVI
    * container (mp4/H.264 remains the documented fake+strict seam).
    */
  object ZmbvScan extends GraftQuery {
    val name = "q_zmbv_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      ZmbvTree.assets(spark, ensureZmbvTree(sfDir))
        .flatMap { case (idx, content) =>
          import graft.multimodal.{AviCodec, ZmbvCodec}
          val headHex = Sources.headHex(content)
          for {
            (fcc, w, h) <- AviCodec.videoInfo(content).toSeq if fcc == "ZMBV"
            payloads <- AviCodec.frames(content).toSeq
            video <- ZmbvCodec.decode(w, h, payloads).toSeq
            (frame, fi) <- video.frames.zipWithIndex
          } yield {
            val (sr, sg, sb) =
              ImageOps.channelSums(frame.width, frame.height, frame.rgb)
            (idx, fi.toLong, frame.width.toLong * frame.height, sr, sg, sb,
              content.length.toLong, headHex)
          }
        }
        .toDF("asset_idx", "frame_idx", "n_pixels", "sum_r", "sum_g",
          "sum_b", "n_bytes", "head_hex")
        .orderBy("asset_idx", "frame_idx")
    }
    val oracle = Some(
      s"""WITH f AS (${ZmbvTree.blobRows(8)}),
        |fr AS (
        |  SELECT asset_idx, n_bytes, head_hex, t.f AS frame_idx
        |  FROM f, LATERAL unnest(range(0, 5 + asset_idx % 3)) t(f)),
        |px AS (
        |  SELECT asset_idx, frame_idx,
        |         ((asset_idx * 11 + (x.x - 3 * frame_idx) * 2 + y.y * 5)
        |            % 256 + 256) % 256 AS j
        |  FROM fr, LATERAL unnest(range(0, 24)) x(x),
        |       LATERAL unnest(range(0, 18)) y(y)),
        |a AS (
        |  SELECT asset_idx, frame_idx, count(*) AS n_pixels,
        |         CAST(sum(j) AS BIGINT) AS sum_r,
        |         CAST(sum((j * 3 + asset_idx) % 256) AS BIGINT) AS sum_g,
        |         CAST(sum((j * 7 + 2 * asset_idx) % 256) AS BIGINT) AS sum_b
        |  FROM px GROUP BY 1, 2)
        |SELECT fr.asset_idx, fr.frame_idx, a.n_pixels, a.sum_r, a.sum_g,
        |       a.sum_b, fr.n_bytes, fr.head_hex
        |FROM fr JOIN a USING (asset_idx, frame_idx)
        |ORDER BY fr.asset_idx, fr.frame_idx""".stripMargin)
  }

  private[sources] val MkvVfwTree = Fixture("mkvvfw", "w", "mkv", scales = true)

  /** Build (atomically, once per scale factor) the ZMBV-in-Matroska fixture
    * tree: 24 .mkv files carrying the engine's ZMBV inter-frame payloads via
    * the public `V_MS/VFW/FOURCC` mapping (BITMAPINFOHEADER in
    * CodecPrivate, biCompression = "ZMBV"). Pixels are a pure function
    * of the asset index: 20×14 8-bpp frames, 4 + (i mod 4) per clip,
    * px(x, y, f) = (13·i + (x − 2·f)·3 + y·7) mod 256 (a 2 px/frame
    * scroll the encoder's motion search finds), palette channel forms
    * r = j, g = (5·j + i) mod 256, b = (3·j + 4·i) mod 256, keyframe
    * every 3 frames — so every clip exercises motion compensation AND
    * the mid-stream keyframe path inside the MKV carriage.
    */
  private[sources] def ensureMkvVfwTree(sfDir: String): String =
    MkvVfwTree.tree(sfDir) {
      val w = 20; val h = 14
      (0 until 24 * mediaScale).iterator.map { i =>
        val pal = new Array[Byte](768)
        for (j <- 0 until 256) {
          pal(3 * j) = j.toByte
          pal(3 * j + 1) = ((j * 5 + i) % 256).toByte
          pal(3 * j + 2) = ((j * 3 + 4 * i) % 256).toByte
        }
        val frames = (0 until 4 + i % 4).map { f =>
          val px = new Array[Byte](w * h)
          for (y <- 0 until h; x <- 0 until w)
            px(y * w + x) =
              java.lang.Math.floorMod(i * 13 + (x - 2 * f) * 3 + y * 7, 256).toByte
          (px, pal)
        }
        val payloads = graft.multimodal.ZmbvCodec.encode(w, h,
          graft.multimodal.ZmbvCodec.FmtPal8, frames, keyEvery = 3)
        (s"${i % 2}/${i % 3}/${MkvVfwTree.file(i)}",
          graft.multimodal.MkvCodec.muxVfw("ZMBV", w, h, 8, payloads))
      }
    }

  /** Inter-frame video decode inside Matroska under the hash gate:
    * binary scan of the ZMBV-in-MKV fixture tree, demuxed by
    * [[graft.multimodal.MkvCodec]] (EBML walk → `V_MS/VFW/FOURCC` track,
    * dims + fourcc from the BITMAPINFOHEADER in CodecPrivate) and
    * decoded by the pure-JVM [[graft.multimodal.ZmbvCodec]] (motion
    * vectors, XOR residuals, shared zlib context per GOP), reduced to
    * exact integer per-frame RGB sums. ZMBV is lossless, so the oracle
    * replays every decoded pixel in CLOSED FORM from the filename index
    * while `read_blob` pins byte identity — the Matroska twin of
    * `q_zmbv_scan`, proving the container×codec matrix holds: the same
    * real inter-frame codec decodes identically from either carriage.
    */
  object MkvVfwScan extends GraftQuery {
    val name = "q_mkv_vfw_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      MkvVfwTree.assets(spark, ensureMkvVfwTree(sfDir))
        .flatMap { case (idx, content) =>
          import graft.multimodal.{MkvCodec, ZmbvCodec}
          val headHex = Sources.headHex(content)
          for {
            tracks <- MkvCodec.demux(content).toSeq
            t <- tracks.find(_.codecId == "V_MS/VFW/FOURCC").toSeq
            (fcc, w, h) <- MkvCodec.vfwInfo(t).toSeq if fcc == "ZMBV"
            video <- ZmbvCodec.decode(w, h, t.frames).toSeq
            (frame, fi) <- video.frames.zipWithIndex
          } yield {
            val (sr, sg, sb) =
              ImageOps.channelSums(frame.width, frame.height, frame.rgb)
            (idx, fi.toLong, frame.width.toLong * frame.height, sr, sg, sb,
              content.length.toLong, headHex)
          }
        }
        .toDF("asset_idx", "frame_idx", "n_pixels", "sum_r", "sum_g",
          "sum_b", "n_bytes", "head_hex")
        .orderBy("asset_idx", "frame_idx")
    }
    val oracle = Some(
      s"""WITH f AS (${MkvVfwTree.blobRows(8)}),
        |fr AS (
        |  SELECT asset_idx, n_bytes, head_hex, t.f AS frame_idx
        |  FROM f, LATERAL unnest(range(0, 4 + asset_idx % 4)) t(f)),
        |px AS (
        |  SELECT asset_idx, frame_idx,
        |         ((asset_idx * 13 + (x.x - 2 * frame_idx) * 3 + y.y * 7)
        |            % 256 + 256) % 256 AS j
        |  FROM fr, LATERAL unnest(range(0, 20)) x(x),
        |       LATERAL unnest(range(0, 14)) y(y)),
        |a AS (
        |  SELECT asset_idx, frame_idx, count(*) AS n_pixels,
        |         CAST(sum(j) AS BIGINT) AS sum_r,
        |         CAST(sum((j * 5 + asset_idx) % 256) AS BIGINT) AS sum_g,
        |         CAST(sum((j * 3 + 4 * asset_idx) % 256) AS BIGINT) AS sum_b
        |  FROM px GROUP BY 1, 2)
        |SELECT fr.asset_idx, fr.frame_idx, a.n_pixels, a.sum_r, a.sum_g,
        |       a.sum_b, fr.n_bytes, fr.head_hex
        |FROM fr JOIN a USING (asset_idx, frame_idx)
        |ORDER BY fr.asset_idx, fr.frame_idx""".stripMargin)
  }

  private[sources] val MsrleTree = Fixture("msrle", "r", "avi", scales = false)

  /** Build (atomically, once per scale factor) the MS-RLE fixture tree: 24
    * .avi clips (8bpp palette, 16×12), 5 + (i mod 2) frames, keyframe every 4
    * (a mid-stream full repaint on 6-frame clips). Frame f is frame f−1
    * with a 4×3 block stamped at (2f, f): pixel (x, y) of frame f shows
    * the LAST stamp f′ ≤ f covering it — value
    * (13·i + 29·f′ + 5·x + 3·y + 100) mod 256 — or the background
    * (7·i + 3·x + 11·y) mod 256 if no stamp ever covered it. Inter
    * frames therefore paint only the 12 changed pixels and delta-skip
    * the rest — the conditional-replenishment path the codec exists
    * for. Palette: (j, (5j + i) mod 256, (11j + 3i) mod 256), carried
    * in the AVI `strf` color table. Encoded by
    * [[graft.multimodal.MsRleCodec]].
    */
  private[sources] def ensureMsrleTree(sfDir: String): String =
    MsrleTree.tree(sfDir) {
      val w = 16; val h = 12
      (0 until 24).iterator.map { i =>
        val pal = new Array[Byte](768)
        for (j <- 0 until 256) {
          pal(3 * j) = j.toByte
          pal(3 * j + 1) = ((j * 5 + i) % 256).toByte
          pal(3 * j + 2) = ((j * 11 + 3 * i) % 256).toByte
        }
        val nf = 5 + i % 2
        val canvas = Array.tabulate(w * h) { o =>
          ((i * 7 + (o % w) * 3 + (o / w) * 11) % 256).toByte
        }
        val frames = (0 until nf).map { f =>
          for (y <- f until math.min(f + 3, h); x <- 2 * f until math.min(2 * f + 4, w))
            canvas(y * w + x) =
              ((i * 13 + f * 29 + x * 5 + y * 3 + 100) % 256).toByte
          canvas.clone()
        }
        (s"${i % 2}/${i % 3}/${MsrleTree.file(i)}",
          graft.multimodal.MsRleCodec.encodeAvi(w, h, pal, frames, keyEvery = 4))
      }
    }

  /** Run-length video decode under the hash gate: binary scan of the
    * MS-RLE fixture tree, demuxed by [[graft.multimodal.AviCodec]]
    * (fourcc + dims from `hdrl`, palette from the `strf` color table)
    * and decoded by the pure-JVM [[graft.multimodal.MsRleCodec]]
    * (BI_RLE8 — bottom-up runs, EOL/EOI/delta escapes, absolute mode,
    * and the persistent canvas that makes skipped pixels inherit the
    * previous frame — a REAL inter-frame codec of the conditional-
    * replenishment family, complementing ZMBV's motion compensation),
    * reduced to exact integer per-frame RGB sums. MS-RLE is lossless,
    * so the oracle replays every decoded pixel in CLOSED FORM from the
    * filename index (last-stamp-wins arithmetic over the frame history)
    * while `read_blob` pins byte identity — the same stance as
    * `q_zmbv_scan`. A hash match proves the skip/paint state machine
    * reconstructs every frame of every clip bit-exactly.
    */
  object MsrleScan extends GraftQuery {
    val name = "q_msrle_scan"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      MsrleTree.assets(spark, ensureMsrleTree(sfDir))
        .flatMap { case (idx, content) =>
          import graft.multimodal.{AviCodec, MsRleCodec}
          val headHex = Sources.headHex(content)
          for {
            (fcc, w, h) <- AviCodec.videoInfo(content).toSeq if fcc == "MRLE"
            pal <- AviCodec.palette8(content).toSeq
            payloads <- AviCodec.frames(content).toSeq
            video <- MsRleCodec.decode(w, h, pal, payloads).toSeq
            (frame, fi) <- video.frames.zipWithIndex
          } yield {
            val (sr, sg, sb) =
              ImageOps.channelSums(frame.width, frame.height, frame.rgb)
            (idx, fi.toLong, frame.width.toLong * frame.height, sr, sg, sb,
              content.length.toLong, headHex)
          }
        }
        .toDF("asset_idx", "frame_idx", "n_pixels", "sum_r", "sum_g",
          "sum_b", "n_bytes", "head_hex")
        .orderBy("asset_idx", "frame_idx")
    }
    // The covering stamps f′ of a pixel form an interval
    // [max(⌈(x−3)/2⌉, y−2, 0), min(⌊x/2⌋, y, frame_idx)], so the LAST
    // stamp (the paint order the encoder applied) is the interval's
    // upper end when the interval is nonempty — pure arithmetic, no
    // correlated subquery.
    val oracle = Some(
      s"""WITH f AS (${MsrleTree.blobRows(8)}),
        |fr AS (
        |  SELECT asset_idx, n_bytes, head_hex, t.f AS frame_idx
        |  FROM f, LATERAL unnest(range(0, 5 + asset_idx % 2)) t(f)),
        |cov AS (
        |  SELECT asset_idx, frame_idx, x.x AS x, y.y AS y,
        |         GREATEST(CASE WHEN x.x <= 3 THEN 0 ELSE (x.x - 2) // 2 END,
        |                  y.y - 2, 0) AS lo,
        |         LEAST(x.x // 2, y.y, frame_idx) AS hi
        |  FROM fr, LATERAL unnest(range(0, 16)) x(x),
        |       LATERAL unnest(range(0, 12)) y(y)),
        |px AS (
        |  SELECT asset_idx, frame_idx,
        |         CASE WHEN lo > hi
        |              THEN (asset_idx * 7 + x * 3 + y * 11) % 256
        |              ELSE (asset_idx * 13 + hi * 29 + x * 5 + y * 3
        |                    + 100) % 256 END AS j
        |  FROM cov),
        |a AS (
        |  SELECT asset_idx, frame_idx, count(*) AS n_pixels,
        |         CAST(sum(j) AS BIGINT) AS sum_r,
        |         CAST(sum((j * 5 + asset_idx) % 256) AS BIGINT) AS sum_g,
        |         CAST(sum((j * 11 + 3 * asset_idx) % 256) AS BIGINT) AS sum_b
        |  FROM px GROUP BY 1, 2)
        |SELECT fr.asset_idx, fr.frame_idx, a.n_pixels, a.sum_r, a.sum_g,
        |       a.sum_b, fr.n_bytes, fr.head_hex
        |FROM fr JOIN a USING (asset_idx, frame_idx)
        |ORDER BY fr.asset_idx, fr.frame_idx""".stripMargin)
  }
}
