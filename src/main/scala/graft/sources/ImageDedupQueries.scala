package graft.sources

import graft.GraftQuery
import graft.dedup.Dedup
import graft.images.ImageOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SourceQueries.{Fixture, keepLargest}
import ImageSourceQueries.{ImageTree, TwoToneTree, QoiTree, ensureImageTree,
  ensureTwoToneTree, ensureQoiTree}

/** Image perceptual dedup: aHash fingerprints, banded near-dup join,
  * end-to-end cluster + representative tier.
  * Split from SourceQueries.scala (round 10) - mechanical move, no
  * behavior change; fixture dirs and oracle SQL are byte-identical.
  */
object ImageDedupQueries {

  /** All three decodable image fixture trees reduced to 64-bit aHash
    * perceptual fingerprints ([[ImageOps.aHash64]]) — the shared scan
    * both image-dedup queries build on. One row per image: tree kind
    * (`s` solid PNG / `t` two-tone PNG / `x` QOI), filename index, the
    * hash split into two 32-bit halves (sign-safe in every SQL engine),
    * and byte length. Decode happens where the scan put the bytes; only
    * 4-long rows move afterwards — at 100 TB the binaries never shuffle.
    */
  private[sources] def aHashRows(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def scan(tree: Fixture, root: String, kind: String): DataFrame =
      tree.assets(spark, root)
        .flatMap { case (idx, content) =>
          ImageOps.decode(content).toSeq.map { im =>
            val hsh = ImageOps.aHash64(im)
            (kind, idx, hsh >>> 32, hsh & 0xFFFFFFFFL, content.length.toLong)
          }
        }
        .toDF("kind", "asset_idx", "hash_hi", "hash_lo", "n_bytes")
    scan(ImageTree, ensureImageTree(sfDir), "s")
      .unionByName(scan(TwoToneTree, ensureTwoToneTree(sfDir), "t"))
      .unionByName(scan(QoiTree, ensureQoiTree(sfDir), "x"))
  }

  /** The oracle twin of [[aHashRows]]' byte sizes: one
    * (kind, asset_idx, n_bytes) row per file of the three trees.
    */
  private val aHashBlobRows =
    s"""SELECT 's' AS kind, * FROM (${ImageTree.blobRows()})
       |UNION ALL SELECT 't', * FROM (${TwoToneTree.blobRows()})
       |UNION ALL SELECT 'x', * FROM (${QoiTree.blobRows()})""".stripMargin

  /** Shared closed-form hash replay for the aHash oracles: every bit of
    * every fingerprint from the fixture formulas alone. Solid PNGs hash
    * to 0 (every cell mean equals the global mean — ties clear no bit);
    * two-tone PNGs reduce to one luma comparison (gA > gB flips at
    * i = 19), producing the 40-bit left mask or the 24-bit right mask;
    * QOI plateaus are replayed pixel-by-pixel through the same
    * cross-multiplied cell-vs-global compare.
    */
  private[sources] val aHashOracleCte =
    """h AS (
      |  SELECT 's' AS kind, i.i AS asset_idx,
      |         CAST(0 AS BIGINT) AS hash_hi, CAST(0 AS BIGINT) AS hash_lo
      |  FROM unnest(range(0, 24)) i(i)
      |  UNION ALL
      |  SELECT 't', i.i,
      |         CASE WHEN -3691 * i.i + 68185 > 0
      |              THEN CAST(31 AS BIGINT) * 16843009
      |              ELSE CAST(224 AS BIGINT) * 16843009 END,
      |         CASE WHEN -3691 * i.i + 68185 > 0
      |              THEN CAST(31 AS BIGINT) * 16843009
      |              ELSE CAST(224 AS BIGINT) * 16843009 END
      |  FROM unnest(range(0, 24)) i(i)
      |  UNION ALL
      |  SELECT 'x', asset_idx, hash_hi, hash_lo FROM (
      |    WITH px AS (
      |      SELECT i.i AS asset_idx,
      |             (8 * y.y) // 14 * 8 + (8 * x.x) // 20 AS k,
      |             299 * ((5 * i.i + 3 * (x.x // 5) + 7 * (y.y // 3)) % 256)
      |             + 587 * ((3 * i.i + 2 * (x.x // 5) + 5 * (y.y // 3)) % 256)
      |             + 114 * ((7 * i.i + (x.x // 5) + (y.y // 3)) % 256) AS luma
      |      FROM unnest(range(0, 24)) i(i),
      |           LATERAL unnest(range(0, 20)) x(x),
      |           LATERAL unnest(range(0, 14)) y(y)),
      |    cells AS (
      |      SELECT asset_idx, k, sum(luma) AS cs, count(*) AS cn
      |      FROM px GROUP BY 1, 2),
      |    tot AS (
      |      SELECT asset_idx, sum(cs) AS ts, sum(cn) AS tn
      |      FROM cells GROUP BY 1),
      |    bits AS (
      |      SELECT c.asset_idx, c.k
      |      FROM cells c JOIN tot t USING (asset_idx)
      |      WHERE c.cs * t.tn > t.ts * c.cn)
      |    SELECT t.asset_idx,
      |           CAST(coalesce(sum(CASE WHEN b.k >= 32
      |                  THEN (CAST(1 AS BIGINT) << (b.k - 32)) END), 0)
      |                AS BIGINT) AS hash_hi,
      |           CAST(coalesce(sum(CASE WHEN b.k < 32
      |                  THEN (CAST(1 AS BIGINT) << b.k) END), 0)
      |                AS BIGINT) AS hash_lo
      |    FROM tot t LEFT JOIN bits b USING (asset_idx)
      |    GROUP BY 1))""".stripMargin

  /** Image perceptual fingerprints under the hash gate: one aHash per
    * image across the solid-PNG, two-tone-PNG, and QOI fixture trees,
    * through the REAL decode path ([[ImageOps.decode]], whose chain holds
    * the from-spec [[graft.multimodal.QoiCodec]]). The oracle replays
    * every bit of every hash in closed form from the fixture formulas
    * (no reference
    * hash constants — the same cross-multiplied integer compare on both
    * sides) and pins byte identity via `read_blob`. This is the
    * image-tier analogue of `q_doc_fingerprint`: the fingerprint the
    * image-dedup pipeline keys on, verified bit-for-bit.
    */
  object ImageAHash extends GraftQuery {
    val name = "q_image_ahash"
    def run(spark: SparkSession, sfDir: String): DataFrame =
      aHashRows(spark, sfDir).orderBy("kind", "asset_idx")
    val oracle = Some(
      s"""WITH $aHashOracleCte,
        |b AS ($aHashBlobRows)
        |SELECT h.kind, h.asset_idx, h.hash_hi, h.hash_lo, b.n_bytes
        |FROM h JOIN b USING (kind, asset_idx)
        |ORDER BY h.kind, h.asset_idx""".stripMargin)
  }

  /** The aHash as one 64-bit fingerprint: its 16-bit bands and its
    * popcount are bit-identical to the (hash_hi, hash_lo) pair's.
    */
  private def aHashFp = shiftleft(col("hash_hi"), 32).bitwiseOR(col("hash_lo")).as("fp")

  /** Image near-duplicate detection — the multimodal twin of the MinHash
    * band join: 16-bit bands of each aHash bucket the candidates (a
    * pair collides iff it shares ≥ 1 of 4 bands — pigeonhole guarantees
    * recall for Hamming < 4; the standard LSH recall trade beyond), an
    * equi-join on (band index, band value) generates candidates WITHOUT
    * any all-pairs scan, and the exact Hamming ≤ 10 filter keeps true
    * near-dups. Runs through [[Dedup.hammingClassJoin]]'s exact-class
    * collapse: exact duplicates (the fat head of any crawl) never enter
    * the candidate join. The output set — and the oracle, which joins
    * members directly — is the member-level join's.
    */
  object ImageNearDup extends GraftQuery {
    val name = "q_image_neardup"
    def run(spark: SparkSession, sfDir: String): DataFrame =
      Dedup.hammingClassJoin(aHashRows(spark, sfDir)
          .select(concat(col("kind"), lpad(col("asset_idx").cast("string"), 3, "0")).as("id"),
            aHashFp),
          bandBits = 16, maxDist = 10, clusters = false)
        .orderBy("id_a", "id_b")
    val oracle = Some(
      s"""WITH $aHashOracleCte,
        |ids AS (
        |  SELECT kind || lpad(CAST(asset_idx AS VARCHAR), 3, '0') AS id,
        |         hash_hi, hash_lo
        |  FROM h),
        |bands AS (
        |  SELECT id, hash_hi, hash_lo, b.b AS band_idx,
        |         CASE b.b
        |           WHEN 0 THEN hash_lo % 65536
        |           WHEN 1 THEN hash_lo // 65536
        |           WHEN 2 THEN hash_hi % 65536
        |           ELSE hash_hi // 65536 END AS band_val
        |  FROM ids, LATERAL unnest(range(0, 4)) b(b)),
        |pairs AS (
        |  SELECT DISTINCT a.id AS id_a, c.id AS id_b,
        |         CAST(bit_count(xor(a.hash_hi, c.hash_hi))
        |              + bit_count(xor(a.hash_lo, c.hash_lo)) AS BIGINT) AS dist
        |  FROM bands a JOIN bands c USING (band_idx, band_val)
        |  WHERE a.id < c.id)
        |SELECT id_a, id_b, dist FROM pairs
        |WHERE dist <= 10
        |ORDER BY id_a, id_b""".stripMargin)
  }

  /** Image dedup taken END-TO-END: the near-dup PAIR graph
    * (`q_image_neardup`'s banded aHash join, here on numeric ids:
    * kind-code·1000 + asset index) contracted to connected components
    * ([[Dedup.hammingClassJoin]] with `clusters = true` — the same
    * component machinery the text tier uses) with the production keep
    * policy ([[SourceQueries.keepLargest]]): each cluster's
    * representative is its LARGEST member by byte size (keep the
    * best-resolution copy). This is what a real pipeline does with
    * near-dup pairs — pairs are evidence, clusters are the dedup
    * decision. The oracle replays the hashes closed-form, the banding +
    * Hamming gate, the components as a recursive CTE, and the same
    * max_by policy; cluster membership at corpus scale is orders of
    * magnitude smaller than the corpus, so everything after the band
    * join is bounded by the dedup output.
    */
  object ImageDedupCluster extends GraftQuery {
    val name = "q_image_dedup_cluster"
    def run(spark: SparkSession, sfDir: String): DataFrame =
      keepLargest(Dedup.hammingClassJoin(aHashRows(spark, sfDir)
          .select((when(col("kind") === "s", 0L).when(col("kind") === "t", 1L)
            .otherwise(2L) * 1000L + col("asset_idx")).as("id"),
            aHashFp, col("n_bytes")),
          bandBits = 16, maxDist = 10, clusters = true),
        size = "n_bytes", kinds = "n_kinds")
    val oracle = Some(
      s"""WITH RECURSIVE $aHashOracleCte,
        |b0 AS ($aHashBlobRows),
        |ids AS (
        |  SELECT (CASE h.kind WHEN 's' THEN 0 WHEN 't' THEN 1 ELSE 2 END)
        |           * 1000 + h.asset_idx AS nid,
        |         h.hash_hi, h.hash_lo, b0.n_bytes
        |  FROM h JOIN b0 USING (kind, asset_idx)),
        |bands AS (
        |  SELECT nid, hash_hi, hash_lo, bb.b AS band_idx,
        |         CASE bb.b
        |           WHEN 0 THEN hash_lo % 65536
        |           WHEN 1 THEN hash_lo // 65536
        |           WHEN 2 THEN hash_hi % 65536
        |           ELSE hash_hi // 65536 END AS band_val
        |  FROM ids, LATERAL unnest(range(0, 4)) bb(b)),
        |pr AS (
        |  SELECT DISTINCT a.nid AS da, c.nid AS db
        |  FROM bands a JOIN bands c USING (band_idx, band_val)
        |  WHERE a.nid < c.nid
        |    AND bit_count(xor(a.hash_hi, c.hash_hi))
        |        + bit_count(xor(a.hash_lo, c.hash_lo)) <= 10),
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
        |       max_by(l.id, i.n_bytes * 100000 - l.id) AS representative,
        |       CAST(count(DISTINCT l.id // 1000) AS BIGINT) AS n_kinds
        |FROM labels l JOIN ids i ON l.id = i.nid
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }
}
