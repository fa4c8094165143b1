package graft.sources

import graft.{Graft, GraftQuery}
import graft.images.ImageOps
import graft.multimodal.TiffCodec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import SourceQueries.{fixtureTree, scaledTag}
import ImageSourceQueries._
import AudioSourceQueries._
import AudioContainerQueries._
import VideoSourceQueries._

/** The unified media-catalog tree and the capstone modality-router scan.
  * Split from SourceQueries.scala (round 10) - mechanical move, no
  * behavior change; fixture dirs and oracle SQL are byte-identical.
  */
object MediaCatalogQueries {

  /** Build (atomically, once per scale factor and media scale) the
    * unified media-catalog tree: every fixture tree of the multimodal tier
    * copied under one root with tree-tagged names (both PNG trees reuse `imgNNN.png`, so a flat
    * union would collide on asset_id): 24 solid PNGs (`s*.png`), 24
    * two-tone PNGs (`t*.png`), 24 FLAC (`a*.flac`), 24 FLAC-in-MP4
    * (`m*.m4a`), 24 ZMBV AVIs (`v*.avi`), 24 MS-RLE AVIs (`r*.avi`),
    * 24 IMA ADPCM WAVs (`p*.wav`), 24 G.711 WAVs (`g*.wav`), 24 QOI
    * images (`x*.qoi`), 24 FLAC-in-Ogg (`o*.ogg`), 24 FLAC-in-Matroska
    * (`k*.mka`), 24 ZMBV-in-Matroska (`w*.mkv`), 24 animated GIFs
    * (`n*.gif`), 24 BMPs (`b*.bmp`), 24 TIFFs (`f*.tif`), 24 AIFFs
    * (`u*.aif`). Written through [[SourceQueries.fixtureTree]], so adding
    * a fixture family means a new tag.
    */
  private[sources] def ensureMediaCatalog(sfDir: String): String =
    fixtureTree(scaledTag("media"), sfDir) {
      import scala.jdk.CollectionConverters._
      Seq(
        (ensureImageTree(sfDir), ImageTree, "s"),
        (ensureTwoToneTree(sfDir), TwoToneTree, "t"),
        (ensureFlacTree(sfDir), FlacTree, "a"),
        (ensureMp4Tree(sfDir), Mp4Tree, "m"),
        (ensureZmbvTree(sfDir), ZmbvTree, "v"),
        (ensureMsrleTree(sfDir), MsrleTree, "r"),
        (ensureAdpcmTree(sfDir), AdpcmTree, "p"),
        (ensureG711Tree(sfDir), G711Tree, "g"),
        (ensureQoiTree(sfDir), QoiTree, "x"),
        (ensureOggTree(sfDir), OggTree, "o"),
        (ensureMkvTree(sfDir), MkvTree, "k"),
        (ensureMkvVfwTree(sfDir), MkvVfwTree, "w"),
        (ensureGifTree(sfDir), GifTree, "n"),
        (ensureBmpTree(sfDir), BmpTree, "b"),
        (ensureTiffTree(sfDir), TiffTree, "f"),
        (ensureAiffTree(sfDir), AiffTree, "u")).iterator.flatMap {
        case (src, tree, tag) =>
          val walk = Files.walk(Paths.get(src))
          val files = try walk.iterator().asScala
            .filter(p => p.toString.endsWith("." + tree.ext)).toList
          finally walk.close()
          files.iterator
            .map(p => (s"$tag/$tag${p.getFileName}", Files.readAllBytes(p)))
      }
    }


  /** Capstone of the multimodal tier: ONE scan over every media fixture
    * tree at once through the production ingestion edge —
    * [[graft.multimodal.Multimodal.scanMedia]] (modality inferred from
    * the extension) → [[graft.multimodal.Multimodal.extractFeatures]]
    * (per-partition decoder construction; PNG via ImageIO, FLAC bare and
    * in MP4 via [[graft.multimodal.FlacCodec]]/[[graft.multimodal.Mp4Codec]],
    * IMA ADPCM + G.711 WAV via [[graft.multimodal.AdpcmCodec]],
    * ZMBV-AVI via [[graft.multimodal.ZmbvCodec]]) — reduced to per-
    * modality integer invariants: asset/row counts, how many rows came
    * from REAL decodes (all of them — the catalog holds no payload the
    * engine fakes), and exact width/height sums. Every number is a
    * closed form of the fixture definitions, so the oracle replays the
    * whole catalog from `range()` arithmetic alone: a green row proves
    * the modality router sends every file down its real decode path and
    * each decoder reports the exact dims/rates the encoders wrote.
    * (Byte identity and per-pixel/per-sample content are pinned by the
    * per-tree queries `q_binary_scan`/`q_binary_twotone`/`q_flac_scan`/
    * `q_mp4_scan`/`q_ogg_scan`/`q_mkv_scan`/`q_mkv_vfw_scan`/`q_zmbv_scan`; this query certifies the ROUTING layer
    * above them.)
    */
  object MediaCatalog extends GraftQuery {
    val name = "q_media_catalog"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val root = ensureMediaCatalog(sfDir)
      val media = graft.multimodal.Multimodal.scanMedia(spark, root)
      val feats = graft.multimodal.Multimodal.extractFeatures(media)
      feats.groupBy(col("modality"))
        .agg(
          countDistinct(col("asset_id")).as("n_assets"),
          count(lit(1)).as("n_rows"),
          sum(col("feature_real").cast("long")).as("n_real"),
          sum(col("width").cast("long")).as("sum_w"),
          sum(col("height").cast("long")).as("sum_h"))
        .orderBy("modality")
    }
    // Closed forms: image = 48 16×16 PNGs + 24 20×14 QOI + 24 18×11
    // GIFs (first frame) + 24 15×9 BMPs + 24 15×9 TIFFs (one feature row
    // each); audio = 24 FLAC at rate 8000+100i, 24 MP4-FLAC at
    // 16000+50i, 24 Ogg-FLAC at 11025+111i, 24 MKV-FLAC at 9000+77i,
    // 24 IMA ADPCM WAVs at 8000+25i, 24 G.711 WAVs at 8000, 24 AIFFs at
    // 8000+25i with 1+(i mod 2) channels (width carries the rate,
    // height the channel count); video = 24 ZMBV clips of 5+(i mod 3)
    // frames at 24×18 plus 24 MS-RLE clips of 5+(i mod 2) frames at
    // 16×12 plus 24 ZMBV-in-MKV clips of 4+(i mod 4) frames at 20×14
    // (one row per frame).
    val oracle = Some(
      """WITH fl AS (SELECT sum(8000 + 100 * i.i) AS w
        |            FROM unnest(range(0, 24)) i(i)),
        |mp AS (SELECT sum(16000 + 50 * i.i) AS w
        |       FROM unnest(range(0, 24)) i(i)),
        |og AS (SELECT sum(11025 + 111 * i.i) AS w
        |       FROM unnest(range(0, 24)) i(i)),
        |mk AS (SELECT sum(9000 + 77 * i.i) AS w
        |       FROM unnest(range(0, 24)) i(i)),
        |ad AS (SELECT sum(8000 + 25 * i.i) AS w
        |       FROM unnest(range(0, 24)) i(i)),
        |vid AS (SELECT sum(5 + i.i % 3) AS fr
        |        FROM unnest(range(0, 24)) i(i)),
        |mr AS (SELECT sum(5 + i.i % 2) AS fr
        |       FROM unnest(range(0, 24)) i(i)),
        |mv AS (SELECT sum(4 + i.i % 4) AS fr
        |       FROM unnest(range(0, 24)) i(i))
        |SELECT * FROM (
        |  SELECT 'audio' AS modality, CAST(168 AS BIGINT) AS n_assets,
        |         CAST(168 AS BIGINT) AS n_rows, CAST(168 AS BIGINT) AS n_real,
        |         CAST((SELECT w FROM fl) + (SELECT w FROM mp)
        |              + (SELECT w FROM og) + (SELECT w FROM mk)
        |              + 2 * (SELECT w FROM ad) + 24 * 8000 AS BIGINT) AS sum_w,
        |         CAST(144 + 24 + 12 AS BIGINT) AS sum_h
        |  UNION ALL
        |  SELECT 'image', CAST(144 AS BIGINT), CAST(144 AS BIGINT),
        |         CAST(144 AS BIGINT),
        |         CAST(768 + 24 * 20 + 24 * 18 + 2 * 24 * 15 AS BIGINT),
        |         CAST(768 + 24 * 14 + 24 * 11 + 2 * 24 * 9 AS BIGINT)
        |  UNION ALL
        |  SELECT 'video', CAST(72 AS BIGINT),
        |         CAST((SELECT fr FROM vid) + (SELECT fr FROM mr)
        |              + (SELECT fr FROM mv) AS BIGINT),
        |         CAST((SELECT fr FROM vid) + (SELECT fr FROM mr)
        |              + (SELECT fr FROM mv) AS BIGINT),
        |         CAST(24 * (SELECT fr FROM vid)
        |              + 16 * (SELECT fr FROM mr)
        |              + 20 * (SELECT fr FROM mv) AS BIGINT),
        |         CAST(18 * (SELECT fr FROM vid)
        |              + 12 * (SELECT fr FROM mr)
        |              + 14 * (SELECT fr FROM mv) AS BIGINT))
        |ORDER BY modality""".stripMargin)
  }
}
