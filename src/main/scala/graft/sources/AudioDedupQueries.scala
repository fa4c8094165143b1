package graft.sources

import graft.GraftQuery
import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SourceQueries.{Fixture, keepLargest}
import AudioSourceQueries.{FlacTree, ensureFlacTree}
import AudioContainerQueries.{MkvTree, OggTree, ensureOggTree, ensureMkvTree}

/** Audio perceptual dedup: energy-contour fingerprints, banded near-dup
  * join, end-to-end cluster + representative tier.
  * Split from SourceQueries.scala (round 10) - mechanical move, no
  * behavior change; fixture dirs and oracle SQL are byte-identical.
  */
object AudioDedupQueries {

  /** The three FLAC-carrying fixture trees (bare `.flac`, Ogg, Matroska)
    * reduced to 31-bit energy-contour fingerprints
    * ([[graft.multimodal.AudioFingerprint]]) — the shared scan both
    * audio-dedup queries build on. Decode happens where the scan reads
    * the bytes; only (kind, idx, fp, n) rows move afterwards.
    */
  private[sources] def audioFpRows(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.{AudioFingerprint, FlacCodec, MkvCodec, OggCodec}
    def scan(tree: Fixture, root: String, kind: String,
        toFlac: Array[Byte] => Option[Array[Byte]]): DataFrame =
      tree.assets(spark, root)
        .flatMap { case (idx, content) =>
          for {
            stream <- toFlac(content).toSeq
            pcm <- FlacCodec.decode(stream).toSeq
          } yield (kind, idx,
            AudioFingerprint.energyContour(pcm.channels(0)),
            pcm.channels(0).length.toLong)
        }
        .toDF("kind", "asset_idx", "fp", "n_samples")
    scan(FlacTree, ensureFlacTree(sfDir), "a", bs => Some(bs))
      .unionByName(scan(OggTree, ensureOggTree(sfDir), "o",
        OggCodec.flacStream))
      .unionByName(scan(MkvTree, ensureMkvTree(sfDir), "k",
        bs => MkvCodec.demux(bs).flatMap(_.find(_.codecId == "A_FLAC"))
          .flatMap(MkvCodec.flacStream)))
  }

  /** Shared closed-form fingerprint replay for the audio-dedup oracles:
    * every bit of every contour from the fixture PCM formulas alone —
    * |((c0 + ct·t) mod 65536) − 32768| summed into frame 32·t div n,
    * bit f ⇔ E_f > E_{f+1}.
    */
  private[sources] val audioFpOracleCte =
    """specs AS (
      |  SELECT 'a' AS kind, i.i AS asset_idx, 5000 + 171 * i.i AS n,
      |         37 * i.i AS c0, 13 AS ct
      |  FROM unnest(range(0, 24)) i(i)
      |  UNION ALL
      |  SELECT 'o', i.i, 6000 + 131 * i.i, 41 * i.i, 17
      |  FROM unnest(range(0, 24)) i(i)
      |  UNION ALL
      |  SELECT 'k', i.i, 30000 + 1234 * i.i, 37 * i.i, 13
      |  FROM unnest(range(0, 24)) i(i)),
      |en AS (
      |  SELECT kind, asset_idx, (32 * t.t) // n AS f,
      |         CAST(sum(abs(((c0 + ct * t.t) % 65536) - 32768)) AS BIGINT) AS e
      |  FROM specs, LATERAL unnest(range(0, n)) t(t)
      |  GROUP BY 1, 2, 3),
      |bits AS (
      |  SELECT a.kind, a.asset_idx, a.f
      |  FROM en a JOIN en b
      |    ON a.kind = b.kind AND a.asset_idx = b.asset_idx AND b.f = a.f + 1
      |  WHERE a.e > b.e),
      |fp AS (
      |  SELECT s.kind, s.asset_idx, CAST(s.n AS BIGINT) AS n_samples,
      |         CAST(coalesce(sum(CAST(1 AS BIGINT) << b.f), 0) AS BIGINT) AS fp
      |  FROM specs s LEFT JOIN bits b USING (kind, asset_idx)
      |  GROUP BY 1, 2, 3)""".stripMargin

  /** Audio perceptual fingerprints under the hash gate: one 31-bit
    * energy contour per clip across the bare-FLAC, FLAC-in-Ogg, and
    * FLAC-in-MKV trees, through the REAL decode chains (container demux
    * → FlacCodec). The oracle replays EVERY BIT from the PCM closed
    * forms — the audio-tier analogue of `q_image_ahash`, and a
    * cross-container proof: the fingerprint depends only on the decoded
    * samples, never on the carriage.
    */
  object AudioFpScan extends GraftQuery {
    val name = "q_audio_fingerprint"
    def run(spark: SparkSession, sfDir: String): DataFrame =
      audioFpRows(spark, sfDir).orderBy("kind", "asset_idx")
    val oracle = Some(
      s"""WITH $audioFpOracleCte
        |SELECT kind, asset_idx, fp, n_samples
        |FROM fp ORDER BY kind, asset_idx""".stripMargin)
  }

  /** Audio near-duplicate detection — the banded Hamming join
    * ([[Dedup.hammingClassJoin]]) over the energy contours: 4 8-bit bands
    * bucket candidates (pigeonhole recall for Hamming < 4), exact
    * Hamming ≤ 4 keeps true near-dups. The exact-class collapse keeps
    * 8-bit band occupancy from growing with corpus size (the ×1/×10
    * audit's one wrong-direction curve). The `a` and `k` trees share
    * their PCM formula with different lengths, so genuine
    * cross-CONTAINER near-dups exist for the join to find; the oracle
    * replays the same banding + Hamming semantics from the closed forms.
    */
  object AudioNearDup extends GraftQuery {
    val name = "q_audio_neardup"
    def run(spark: SparkSession, sfDir: String): DataFrame =
      Dedup.hammingClassJoin(audioFpRows(spark, sfDir)
          .select(concat(col("kind"), lpad(col("asset_idx").cast("string"), 3, "0")).as("id"),
            col("fp")),
          bandBits = 8, maxDist = 4, clusters = false)
        .orderBy("id_a", "id_b")
    val oracle = Some(
      s"""WITH $audioFpOracleCte,
        |ids AS (
        |  SELECT kind || lpad(CAST(asset_idx AS VARCHAR), 3, '0') AS id, fp
        |  FROM fp),
        |bands AS (
        |  SELECT id, fp, b.b AS band_idx,
        |         (fp // (CAST(1 AS BIGINT) << (8 * b.b))) % 256 AS band_val
        |  FROM ids, LATERAL unnest(range(0, 4)) b(b)),
        |pairs AS (
        |  SELECT DISTINCT a.id AS id_a, c.id AS id_b,
        |         CAST(bit_count(xor(a.fp, c.fp)) AS BIGINT) AS dist
        |  FROM bands a JOIN bands c USING (band_idx, band_val)
        |  WHERE a.id < c.id)
        |SELECT id_a, id_b, dist FROM pairs
        |WHERE dist <= 4
        |ORDER BY id_a, id_b""".stripMargin)
  }

  /** Audio dedup taken END-TO-END, the audio twin of
    * [[ImageDedupQueries.ImageDedupCluster]]: the banded energy-contour
    * pair graph (`q_audio_neardup`, numeric ids) contracted to connected
    * components, keep policy ([[SourceQueries.keepLargest]]) = the
    * LONGEST clip per cluster (most samples; ties → smaller id — a
    * podcast pipeline keeps the unclipped master). Cross-CONTAINER
    * clusters are the point: the `a` (bare FLAC) and `k` (Matroska)
    * trees share PCM formulas, so a green row proves the cluster step
    * unifies duplicates across carriages. Same recursive-CTE oracle
    * shape as the image twin.
    */
  object AudioDedupCluster extends GraftQuery {
    val name = "q_audio_dedup_cluster"
    def run(spark: SparkSession, sfDir: String): DataFrame =
      keepLargest(Dedup.hammingClassJoin(audioFpRows(spark, sfDir)
          .select((when(col("kind") === "a", 0L).when(col("kind") === "o", 1L)
            .otherwise(2L) * 1000L + col("asset_idx")).as("id"),
            col("fp"), col("n_samples")),
          bandBits = 8, maxDist = 4, clusters = true),
        size = "n_samples", kinds = "n_containers")
    val oracle = Some(
      s"""WITH RECURSIVE $audioFpOracleCte,
        |ids AS (
        |  SELECT (CASE kind WHEN 'a' THEN 0 WHEN 'o' THEN 1 ELSE 2 END)
        |           * 1000 + asset_idx AS nid,
        |         fp, n_samples
        |  FROM fp),
        |bands AS (
        |  SELECT nid, fp, bb.b AS band_idx,
        |         (fp // (CAST(1 AS BIGINT) << (8 * bb.b))) % 256 AS band_val
        |  FROM ids, LATERAL unnest(range(0, 4)) bb(b)),
        |pr AS (
        |  SELECT DISTINCT a.nid AS da, c.nid AS db
        |  FROM bands a JOIN bands c USING (band_idx, band_val)
        |  WHERE a.nid < c.nid AND bit_count(xor(a.fp, c.fp)) <= 4),
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
        |       max_by(l.id, i.n_samples * 100000 - l.id) AS representative,
        |       CAST(count(DISTINCT l.id // 1000) AS BIGINT) AS n_containers
        |FROM labels l JOIN ids i ON l.id = i.nid
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }
}
