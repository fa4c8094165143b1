package graft.sources

import graft.GraftQuery
import graft.dedup.Dedup
import graft.images.ImageOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SourceQueries.{Fixture, keepLargest}
import VideoSourceQueries.{MkvVfwTree, ZmbvTree, ensureZmbvTree,
  ensureMkvVfwTree}

/** Video perceptual dedup: per-frame fingerprints, shot-set near-dup,
  * end-to-end cluster + representative tier.
  * Split from SourceQueries.scala (round 10) - mechanical move, no
  * behavior change; fixture dirs and oracle SQL are byte-identical.
  */
object VideoDedupQueries {

  /** Both ZMBV carriages (AVI tree, MKV-VfW tree) reduced to per-frame
    * aHash fingerprints — the shared scan both video-dedup queries
    * build on. A clip is a SET of frame fingerprints (the shot-based
    * video-dedup representation); only (kind, idx, frame, hash) rows
    * leave the scan.
    */
  private[sources] def videoFpRows(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{AviCodec, MkvCodec, ZmbvCodec}
    def hashFrames(kind: String, idx: Long,
        video: ZmbvCodec.Video): Seq[(String, Long, Long, Long, Long)] =
      video.frames.zipWithIndex.map { case (f, fi) =>
        val px = Array.tabulate(f.width * f.height) { o =>
          val (r, g, b) = f.rgb(o % f.width, o / f.width)
          (r << 16) | (g << 8) | b
        }
        val h = ImageOps.aHash64(ImageOps.Image(f.width, f.height, px))
        (kind, idx, fi.toLong, h >>> 32, h & 0xFFFFFFFFL)
      }
    def scan(tree: Fixture, root: String, kind: String,
        decode: Array[Byte] => Option[ZmbvCodec.Video]): DataFrame =
      tree.assets(spark, root)
        .flatMap { case (idx, content) =>
          decode(content).toSeq.flatMap(hashFrames(kind, idx, _))
        }
        .toDF("kind", "asset_idx", "frame_idx", "hash_hi", "hash_lo")
    scan(ZmbvTree, ensureZmbvTree(sfDir), "v",
      bs => for {
        (fcc, w, h) <- AviCodec.videoInfo(bs) if fcc == "ZMBV"
        payloads <- AviCodec.frames(bs)
        video <- ZmbvCodec.decode(w, h, payloads)
      } yield video)
      .unionByName(scan(MkvVfwTree, ensureMkvVfwTree(sfDir), "w",
        bs => for {
          tracks <- MkvCodec.demux(bs)
          t <- tracks.find(_.codecId == "V_MS/VFW/FOURCC")
          inf <- MkvCodec.vfwInfo(t) if inf._1 == "ZMBV"
          video <- ZmbvCodec.decode(inf._2, inf._3, t.frames)
        } yield video))
  }

  /** Shared closed-form frame-hash replay for the video-dedup oracles:
    * both trees' pixels are pure functions of (asset, frame, x, y), so
    * every aHash bit replays through the same cross-multiplied
    * cell-vs-global luma compare as the image oracles.
    */
  private[sources] val videoFpOracleCte =
    """px AS (
      |  SELECT 'v' AS kind, i.i AS asset_idx, t.f AS frame_idx,
      |         (8 * y.y) // 18 * 8 + (8 * x.x) // 24 AS k,
      |         ((i.i * 11 + (x.x - 3 * t.f) * 2 + y.y * 5) % 256 + 256) % 256 AS j,
      |         i.i AS ai
      |  FROM unnest(range(0, 24)) i(i),
      |       LATERAL unnest(range(0, 5 + i.i % 3)) t(f),
      |       LATERAL unnest(range(0, 24)) x(x),
      |       LATERAL unnest(range(0, 18)) y(y)
      |  UNION ALL
      |  SELECT 'w', i.i, t.f,
      |         (8 * y.y) // 14 * 8 + (8 * x.x) // 20,
      |         ((i.i * 13 + (x.x - 2 * t.f) * 3 + y.y * 7) % 256 + 256) % 256,
      |         i.i
      |  FROM unnest(range(0, 24)) i(i),
      |       LATERAL unnest(range(0, 4 + i.i % 4)) t(f),
      |       LATERAL unnest(range(0, 20)) x(x),
      |       LATERAL unnest(range(0, 14)) y(y)),
      |lum AS (
      |  SELECT kind, asset_idx, frame_idx, k,
      |         CASE kind
      |           WHEN 'v' THEN 299 * j + 587 * ((3 * j + ai) % 256)
      |                         + 114 * ((7 * j + 2 * ai) % 256)
      |           ELSE 299 * j + 587 * ((5 * j + ai) % 256)
      |                + 114 * ((3 * j + 4 * ai) % 256) END AS luma
      |  FROM px),
      |cells AS (
      |  SELECT kind, asset_idx, frame_idx, k,
      |         sum(luma) AS cs, count(*) AS cn
      |  FROM lum GROUP BY 1, 2, 3, 4),
      |tot AS (
      |  SELECT kind, asset_idx, frame_idx, sum(cs) AS ts, sum(cn) AS tn
      |  FROM cells GROUP BY 1, 2, 3),
      |vbits AS (
      |  SELECT c.kind, c.asset_idx, c.frame_idx, c.k
      |  FROM cells c JOIN tot t USING (kind, asset_idx, frame_idx)
      |  WHERE c.cs * t.tn > t.ts * c.cn),
      |vh AS (
      |  SELECT t.kind, t.asset_idx, t.frame_idx,
      |         CAST(coalesce(sum(CASE WHEN b.k >= 32
      |                THEN (CAST(1 AS BIGINT) << (b.k - 32)) END), 0)
      |              AS BIGINT) AS hash_hi,
      |         CAST(coalesce(sum(CASE WHEN b.k < 32
      |                THEN (CAST(1 AS BIGINT) << b.k) END), 0)
      |              AS BIGINT) AS hash_lo
      |  FROM tot t LEFT JOIN vbits b USING (kind, asset_idx, frame_idx)
      |  GROUP BY 1, 2, 3)""".stripMargin

  /** Per-frame video fingerprints under the hash gate: one aHash per
    * decoded frame across BOTH ZMBV carriages (AVI and MKV-VfW),
    * through the real motion-compensation decode. The oracle replays
    * every bit of every frame hash in closed form — the video-tier
    * analogue of `q_image_ahash`, completing the fingerprint set over
    * all three modalities.
    */
  object VideoFpScan extends GraftQuery {
    val name = "q_video_fingerprint"
    def run(spark: SparkSession, sfDir: String): DataFrame =
      videoFpRows(spark, sfDir).orderBy("kind", "asset_idx", "frame_idx")
    val oracle = Some(
      s"""WITH $videoFpOracleCte
        |SELECT kind, asset_idx, frame_idx, hash_hi, hash_lo
        |FROM vh ORDER BY kind, asset_idx, frame_idx""".stripMargin)
  }

  /** Clip pairs sharing ≥ 2 distinct frame fingerprints — the
    * shot-based video near-dup join shared by both video-dedup queries.
    * Input rows `(id, hash_hi, hash_lo)`, one per frame. The equi-join on
    * the frame hash IS the candidate generator (no all-pairs over clips,
    * no temporal alignment cost — the same inverted-index shape as
    * `q_minhash_bands`). Returns unordered `(id_a, id_b, n_shared)`.
    */
  private def sharedFramePairs(frames: DataFrame): DataFrame = {
    val fs = frames.distinct()
    fs.select(col("id").as("id_a"), col("hash_hi"), col("hash_lo"))
      .join(fs.select(col("id").as("id_b"), col("hash_hi"), col("hash_lo")),
        Seq("hash_hi", "hash_lo"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 2)
  }

  /** Video near-duplicate detection — shot-based: a clip is its SET of
    * distinct frame fingerprints, and two clips are near-dups when they
    * share at least 2 frames ([[sharedFramePairs]]). The scrolling
    * fixtures plant real overlaps (a clip's frames revisit earlier
    * phases of the 256-periodic pattern); the oracle replays the exact
    * set semantics from the closed-form hashes.
    */
  object VideoNearDup extends GraftQuery {
    val name = "q_video_neardup"
    def run(spark: SparkSession, sfDir: String): DataFrame =
      sharedFramePairs(videoFpRows(spark, sfDir)
          .select(concat(col("kind"), lpad(col("asset_idx").cast("string"), 3, "0")).as("id"),
            col("hash_hi"), col("hash_lo")))
        .orderBy("id_a", "id_b")
    val oracle = Some(
      s"""WITH $videoFpOracleCte,
        |fs AS (
        |  SELECT DISTINCT
        |         kind || lpad(CAST(asset_idx AS VARCHAR), 3, '0') AS id,
        |         hash_hi, hash_lo
        |  FROM vh),
        |shared AS (
        |  SELECT a.id AS id_a, c.id AS id_b, count(*) AS n_shared
        |  FROM fs a JOIN fs c
        |    ON a.hash_hi = c.hash_hi AND a.hash_lo = c.hash_lo
        |   AND a.id < c.id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared
        |FROM shared WHERE n_shared >= 2
        |ORDER BY id_a, id_b""".stripMargin)
  }

  /** Video dedup taken END-TO-END, completing the cluster tier across
    * all three media modalities ([[ImageDedupQueries.ImageDedupCluster]] /
    * [[AudioDedupQueries.AudioDedupCluster]]): clip pairs sharing ≥ 2
    * exact frame hashes ([[sharedFramePairs]], numeric ids) contracted
    * to connected components, keep policy ([[SourceQueries.keepLargest]])
    * = the clip with the MOST FRAMES per cluster (the longest cut; ties →
    * smaller id). `n_carriages` counts container families per cluster —
    * the AVI and Matroska trees carry the same ZMBV content families, so
    * clusters spanning carriages prove container-independent video
    * dedup. Same recursive-CTE oracle + union-find differential as the
    * twins.
    */
  object VideoDedupCluster extends GraftQuery {
    val name = "q_video_dedup_cluster"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val rows = videoFpRows(spark, sfDir)
        .select((when(col("kind") === "v", 0L).otherwise(1L) * 1000L
          + col("asset_idx")).as("id"),
          col("hash_hi"), col("hash_lo"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nframes = rows.groupBy("id").agg(count(lit(1)).as("n_frames"))
      val pairs = sharedFramePairs(rows)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      keepLargest(Dedup.connectedComponents(pairs).join(nframes, Seq("id")),
        size = "n_frames", kinds = "n_carriages")
    }
    val oracle = Some(
      s"""WITH RECURSIVE $videoFpOracleCte,
        |idsv AS (
        |  SELECT (CASE kind WHEN 'v' THEN 0 ELSE 1 END) * 1000 + asset_idx
        |           AS nid,
        |         frame_idx, hash_hi, hash_lo
        |  FROM vh),
        |nf AS (SELECT nid AS id, count(*) AS n_frames FROM idsv GROUP BY 1),
        |fs AS (SELECT DISTINCT nid, hash_hi, hash_lo FROM idsv),
        |pr AS (
        |  SELECT a.nid AS da, c.nid AS db
        |  FROM fs a JOIN fs c
        |    ON a.hash_hi = c.hash_hi AND a.hash_lo = c.hash_lo
        |   AND a.nid < c.nid
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |edges AS (SELECT da AS src, db AS dst FROM pr
        |          UNION SELECT db, da FROM pr),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |labels AS (
        |  SELECT src AS id, least(src, min(dst)) AS label
        |  FROM reach GROUP BY src)
        |SELECT l.label AS cluster_id, count(*) AS cluster_size,
        |       max_by(l.id, nf.n_frames * 100000 - l.id) AS representative,
        |       CAST(count(DISTINCT l.id // 1000) AS BIGINT) AS n_carriages
        |FROM labels l JOIN nf ON l.id = nf.id
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }
}
