package graft.dedup

import graft.{Graft, GraftQuery}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Content-defined chunking — the storage-tier dedup primitive (Rabin-style
  * rolling boundaries; the gear-hash formulation is FastCDC, Xia et al.,
  * USENIX ATC 2016): chunk boundaries are chosen where a rolling hash of
  * the content hits a mask, so INSERTIONS shift boundaries only locally and
  * shared sub-documents chunk identically regardless of their offset —
  * exactly what byte/offset-based shingling cannot give you. The engine
  * runs it at the document level: boundary detection and chunk extraction
  * are one scan-side fold per document (no shuffle), and duplicate-chunk
  * detection is a single chunk-keyed aggregate — the exact-dedup plan
  * family, one level below the document.
  *
  * Determinism: the rolling hash is pure integer arithmetic —
  * h' = (2h + g(c)) mod 2^31 with g(c) = (c · 2654435761) mod 2^31 (the
  * Knuth multiplicative constant as the gear table's closed form; products
  * stay < 2^53 so both engines compute identical BIGINTs). A position ends
  * a chunk when at least [[MinLen]] characters have accumulated and
  * h' mod [[MaskPlus1]] == 0; the final partial chunk always closes at the
  * document end. The DuckDB oracle replays the identical fold with
  * list_reduce, and chunk keys are portable md5 hex on both sides.
  */
object CdcOps {

  private[dedup] val Mod = 1L << 31
  private[dedup] val Gear = 2654435761L
  private[dedup] val MaskPlus1 = 32 // avg chunk ≈ 32 chars on hash-uniform text
  private[dedup] val MinLen = 16
  private[dedup] val TopN = 300

  /** Boundary positions (1-based, ascending, always ending at len(text)):
    * the native one-pass kernel ([[graft.plans.CdcExpression]] — codegen
    * callable, O(chars) per document). CdcOpsSpec proves its semantics ≡ an
    * interpreted `aggregate` fold (the formulation the DuckDB oracle
    * replays) and an independent sequential chunker.
    */
  private[dedup] def boundaries(text: Column): Column =
    graft.plans.CdcExpression.cdc_bounds(text, Gear, Mod, MaskPlus1, MinLen)

  /** One row per chunk: (doc_id, chunk, chunk_len). */
  private[dedup] def chunks(docs: DataFrame): DataFrame =
    docs
      // non-empty guard: Spark's sequence(1, 0) steps DOWN, so the fold
      // must never see an empty text (the corpus has none; the guard keeps
      // the operator total for arbitrary callers)
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("text"), boundaries(col("text")).as("bs"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(bs)), k -> struct(
          |  substring(text, CASE WHEN k = 1 THEN 1 ELSE bs[k - 2] + 1 END,
          |            bs[k - 1] - CASE WHEN k = 1 THEN 0 ELSE bs[k - 2] END)
          |    AS chunk,
          |  bs[k - 1] - CASE WHEN k = 1 THEN 0 ELSE bs[k - 2] END AS len))
          |""".stripMargin)).as("c"))
      .select(col("doc_id"), col("c.chunk").as("chunk"),
        col("c.len").as("chunk_len"))

  /** Per-document chunking readout: how CDC splits each document. */
  object CdcChunks extends GraftQuery {
    val name = "q_cdc_chunks"
    def run(spark: SparkSession, sfDir: String): DataFrame =
      chunks(Graft.table(spark, sfDir, "documents"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          min(col("chunk_len")).cast("long").as("min_chunk_len"),
          max(col("chunk_len")).cast("long").as("max_chunk_len"))
        .orderBy("doc_id")
    val oracle = Some(
      s"""WITH $oracleChunkCtes
         |SELECT doc_id, count(*) AS n_chunks,
         |       CAST(min(chunk_len) AS BIGINT) AS min_chunk_len,
         |       CAST(max(chunk_len) AS BIGINT) AS max_chunk_len
         |FROM chunks GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Corpus-wide duplicate chunks: the sub-document shared content CDC
    * exists to find (boundaries are content-anchored, so shared passages
    * chunk identically at any offset). Chunk keys are md5; bounded
    * TakeOrdered readout.
    */
  object CdcDupes extends GraftQuery {
    val name = "q_cdc_dupes"
    def run(spark: SparkSession, sfDir: String): DataFrame =
      chunks(Graft.table(spark, sfDir, "documents"))
        .groupBy(md5(col("chunk")).as("chunk_hash"),
          col("chunk_len").cast("long").as("chunk_len"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_occurrences") >= 2)
        .orderBy(col("n_occurrences").desc, col("chunk_hash").asc)
        .limit(TopN)
    val oracle = Some(
      s"""WITH $oracleChunkCtes
         |SELECT md5(chunk) AS chunk_hash, CAST(chunk_len AS BIGINT) AS chunk_len,
         |       count(*) AS n_occurrences,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM chunks GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY n_occurrences DESC, chunk_hash ASC LIMIT $TopN""".stripMargin)
  }

  /** The DuckDB twin of [[boundaries]] + [[chunks]]: the identical integer
    * fold via list_reduce. The accumulator is a FLAT BIGINT list
    * [h, last, j, b1, b2, …] rather than a struct carrying a list field —
    * DuckDB 1.0's list_reduce loses list-valued struct fields across CASE
    * branches (empirically: the carried list reads as empty inside the
    * branch that appends), while a top-level list accumulator concatenates
    * correctly. Positions are tracked by the explicit j counter because the
    * accumulator's length changes when boundaries append.
    */
  private def oracleChunkCtes: String =
    s"""folded AS MATERIALIZED (
       |  SELECT doc_id, text,
       |    list_reduce(
       |      [[0::BIGINT, 0::BIGINT, 0::BIGINT]] ||
       |      list_transform(range(1, len(text) + 1), x -> [0::BIGINT]),
       |      (acc, x) -> CASE
       |        WHEN (acc[3] + 1 - acc[2] >= $MinLen) AND
       |             ((acc[1] * 2 + (ascii(text[acc[3] + 1 : acc[3] + 1])
       |               * $Gear) % $Mod) % $Mod) % $MaskPlus1 = 0
       |        THEN [(acc[1] * 2 + (ascii(text[acc[3] + 1 : acc[3] + 1])
       |                * $Gear) % $Mod) % $Mod,
       |              acc[3] + 1, acc[3] + 1] || acc[4:] || [acc[3] + 1]
       |        ELSE [(acc[1] * 2 + (ascii(text[acc[3] + 1 : acc[3] + 1])
       |                * $Gear) % $Mod) % $Mod,
       |              acc[2], acc[3] + 1] || acc[4:]
       |        END) AS st
       |  FROM documents WHERE len(text) >= 1),
       |bounds AS MATERIALIZED (
       |  SELECT doc_id, text,
       |    CASE WHEN len(st) = 3 OR st[len(st)] <> len(text)
       |         THEN st[4:] || [len(text)::BIGINT] ELSE st[4:] END AS bs
       |  FROM folded),
       |chunks AS MATERIALIZED (
       |  SELECT doc_id,
       |         text[CASE WHEN k = 1 THEN 1 ELSE bs[k - 1] + 1 END : bs[k]]
       |           AS chunk,
       |         bs[k] - CASE WHEN k = 1 THEN 0 ELSE bs[k - 1] END AS chunk_len
       |  FROM bounds, LATERAL unnest(range(1, len(bs) + 1)) t(k))""".stripMargin

  /** Document-level near-dup over CDC chunk SETS — the text twin of the
    * video tier's shot-set dedup (`q_video_neardup`): a document is its
    * set of distinct chunk hashes, the equi-join on the hash is the
    * candidate generator (inverted-index shape — quadratic work confined
    * to same-chunk buckets, whose size is the duplicate multiplicity),
    * pairs sharing ≥ [[MinShared]] chunks are scored with exact
    * chunk-set Jaccard (one double division of identical integers).
    * Because boundaries are content-anchored, this finds documents
    * sharing PASSAGES at different offsets — the case fixed-offset
    * shingling misses and MinHash only finds probabilistically.
    */
  object CdcNearDup extends GraftQuery {
    val name = "q_cdc_neardup"
    private[dedup] val MinShared = 2
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val ch = chunks(Graft.table(spark, sfDir, "documents"))
        .select(col("doc_id"), md5(col("chunk")).as("h"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sizes = ch.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val pairs = ch.select(col("doc_id").as("doc_a"), col("h"))
        .join(ch.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= MinShared)
      pairs
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")),
          Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
          col("shared"),
          (col("shared").cast("double") /
            (col("n_a") + col("n_b") - col("shared")).cast("double"))
            .as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }
    val oracle = Some(
      s"""WITH $oracleChunkCtes,
         |ch AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, md5(chunk) AS h FROM chunks),
         |sizes AS (SELECT doc_id, count(*) AS n FROM ch GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         count(*) AS shared
         |  FROM ch a JOIN ch b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= $MinShared)
         |SELECT doc_a, doc_b,
         |       sa.n AS n_a, sb.n AS n_b, shared,
         |       CAST(shared AS DOUBLE) /
         |         CAST(sa.n + sb.n - shared AS DOUBLE) AS jaccard
         |FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
         |           JOIN sizes sb ON sb.doc_id = doc_b
         |ORDER BY doc_a, doc_b""".stripMargin)
  }

  val all: Seq[GraftQuery] = Seq(CdcChunks, CdcDupes, CdcNearDup)
}
