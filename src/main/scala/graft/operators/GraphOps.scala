package graft.operators

import graft.{Graft, GraftQuery}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over corpus-derived graphs. The iterative-computation
  * pattern (persist per round, fixed lineage depth) complements the
  * connected-components loop in [[graft.dedup.Dedup]].
  */
object GraphOps {

  /** PageRank over the token co-occurrence graph: nodes are the corpus
    * vocabulary, directed edges the DISTINCT adjacent-token bigrams —
    * "which words sit at the hubs of the corpus' phrase structure". The
    * canonical iterative-join workload, exercised the way a 1000-executor
    * run would do it: edges/nodes persisted once, each iteration ONE
    * token-keyed join + aggregate (vocab-sized shuffles — never
    * corpus-sized), ranks re-persisted per round to pin lineage depth.
    *
    * Determinism: ranks are FIXED-POINT BIGINTs (units of 1e-12) and every
    * per-edge contribution is the truncating integer division
    * `(85·rank) div (100·deg)` — sums of integers are order-independent,
    * so after any number of iterations the ranks are bit-identical on any
    * engine, which is what lets a 5-round PageRank hash-match a DuckDB
    * replay (the oracle unrolls the rounds as CTEs). The damping base
    * `(15·SCALE) div (100·N)` uses the same integer stance. Nodes without
    * out-edges simply absorb rank (teleport-base only — the mass leak is
    * the documented stance, identical on both engines).
    */
  object PageRank extends GraftQuery {
    val name = "q_pagerank"
    // shared with the composed crawl-graph ranking (ArchiveQueries
    // .CrawlPageRank) so both replays unroll the same recurrence
    private[graft] val Scale = 1000000000000L // 1e-12 rank units
    private[graft] val Iters = 5
    private val K = 20

    /** Fixed-point integer ranks per node, gated by MEASURED graph size
      * (the [[graft.dedup.Dedup.connectedComponents]] stance applied to
      * the second iterative-graph operator): a vocab-bounded token graph
      * is a few hundred edges, where each distributed round's fixed
      * plan+codegen+job cost (~0.8 s) is 1000× the arithmetic — below the
      * threshold the five rounds run as a driver loop over the SAME
      * truncating-div integer recurrence, bit-identical by construction
      * (both paths sum the same integers; GraphOpsSpec forces the
      * distributed path and asserts equality). Webscale graphs take the
      * distributed loop unchanged.
      */
    def pagerankRanks(edges: DataFrame, nodes: DataFrame,
        smallGraphThreshold: Long = 100000L): DataFrame = {
      val spark = edges.sparkSession
      // N is a driver scalar — the per-iteration literals derive from it
      // with the same Long division the oracle's BIGINT `//` performs. One
      // bounded collect sizes the graph and, when small, fetches it.
      val es = edges.select("w1", "w2")
        .limit(math.min(smallGraphThreshold + 1, Int.MaxValue).toInt).collect()
        .map(r => (r.getString(0), r.getString(1)))
      if (es.length <= smallGraphThreshold) {
        import spark.implicits._
        val ns = nodes.select("t").collect().map(_.getString(0))
        val n = ns.length.toLong
        val base = (15L * Scale) / (100L * n)
        val deg = es.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
        var rank = ns.map(_ -> Scale / n).toMap
        for (_ <- 1 to Iters) {
          val inflow = scala.collection.mutable.Map[String, Long]()
            .withDefaultValue(0L)
          es.foreach { case (a, b) =>
            inflow(b) += (85L * rank(a)) / (100L * deg(a))
          }
          rank = ns.map(t => t -> (base + inflow(t))).toMap
        }
        return ns.map(t => (t, rank(t))).toSeq.toDF("t", "rank")
      }
      val n = nodes.count()
      val base = (15L * Scale) / (100L * n)
      val deg = edges.groupBy("w1").agg(count(lit(1)).as("deg"))
      var r = nodes.select(col("t"), lit(Scale / n).as("rank"))
      for (_ <- 1 to Iters) {
        val inflow = r.withColumnRenamed("t", "w1")
          .join(edges, "w1").join(deg, "w1")
          .select(col("w2").as("t"),
            expr("(85 * `rank`) div (100 * deg)").as("c"))
          .groupBy("t").agg(sum(col("c")).as("inflow"))
        r = nodes.join(inflow, Seq("t"), "left")
          .select(col("t"),
            (lit(base) + coalesce(col("inflow"), lit(0L))).as("rank"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      r
    }

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val docs = Graft.table(spark, sfDir, "documents")
      // corpus-distinct directed bigram edges, via the fused
      // tokenize→bigram kernel (same dialect contract as q_bigram_stats)
      val edges = docs
        .select(explode(
          graft.plans.ShingleExpression.shingle_strings(col("text"), 2)).as("g"))
        .distinct()
        .select(split(col("g"), " ").getItem(0).as("w1"),
          split(col("g"), " ").getItem(1).as("w2"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nodes = docs
        .select(explode(graft.text.TextOps.tokens(col("text"))).as("t"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pagerankRanks(edges, nodes)
        .select(col("t").as("token"), col("rank").as("rank_units"),
          (col("rank").cast("double") / lit(1.0e12)).as("pagerank"))
        .orderBy(col("rank_units").desc, col("token").asc)
        .limit(K)
    }
    val oracle = {
      val rounds = (1 to Iters).map { k =>
        s"""r$k AS (
           |  SELECT nodes.t,
           |         (${15L * Scale} // (100 * n)) + coalesce(f.inflow, 0) AS rank
           |  FROM nodes CROSS JOIN n
           |  LEFT JOIN (
           |    SELECT e.w2 AS t,
           |           CAST(sum((85 * r.rank) // (100 * d.deg)) AS BIGINT) AS inflow
           |    FROM r${k - 1} r
           |    JOIN edges e ON r.t = e.w1
           |    JOIN deg d ON e.w1 = d.w1
           |    GROUP BY 1) f ON nodes.t = f.t)""".stripMargin
      }.mkString(",\n")
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, t.tok, t.i
           |  FROM (SELECT doc_id,
           |               string_split_regex(trim(text), '\\s+') AS l FROM documents) d,
           |       LATERAL (SELECT unnest(l) AS tok, generate_subscripts(l, 1) AS i) t),
           |edges AS (
           |  SELECT DISTINCT t1.tok AS w1, t2.tok AS w2
           |  FROM toks t1 JOIN toks t2
           |    ON t1.doc_id = t2.doc_id AND t2.i = t1.i + 1),
           |deg AS (SELECT w1, count(*) AS deg FROM edges GROUP BY 1),
           |nodes AS (SELECT DISTINCT tok AS t FROM toks),
           |n AS (SELECT count(*) AS n FROM nodes),
           |r0 AS (SELECT t, $Scale // n AS rank FROM nodes CROSS JOIN n),
           |$rounds
           |SELECT t AS token, rank AS rank_units,
           |       CAST(rank AS DOUBLE) / 1e12 AS pagerank
           |FROM r$Iters
           |ORDER BY rank_units DESC, token ASC
           |LIMIT $K""".stripMargin)
    }
  }

  /** Triangle counting over the undirected token co-occurrence graph —
    * the second classic distributed-graph workload beside the iterative
    * joins ([[PageRank]], the dedup connected components): per token, how
    * many closed triangles it participates in (clustering-structure
    * density around each vocabulary hub).
    *
    * The standard two-join formulation with the standard safeguard:
    * edges are canonicalized to a < b, wedges enumerate ONLY ascending
    * paths a < b < c (each triangle is built exactly once — no /3
    * correction, no double counting), and the closing edge check is a
    * LEFT SEMI join. Scale shape: the edge set is VOCAB-sized (distinct
    * bigrams), persisted once and read three times; both joins shuffle
    * edge keys, never corpus rows. At web scale the same plan runs with
    * degree-ordered canonicalization (order by degree, then id) to bound
    * wedge fan-out on hub nodes — id order here keeps the oracle exact.
    */
  /** Canonicalized (a < b) distinct undirected edges of the token
    * co-occurrence graph, persisted — the shared base of [[Triangles]],
    * [[LinkPredict]] and [[DegreeDist]]. VOCAB²-bounded in rows (distinct
    * token pairs), corpus-bounded in work: one fused shingle pass.
    */
  private[operators] def undirectedTokenEdges(spark: SparkSession,
      sfDir: String): DataFrame = {
    val bi = Graft.table(spark, sfDir, "documents")
      .select(explode(
        graft.plans.ShingleExpression.shingle_strings(col("text"), 2)).as("g"))
      .select(split(col("g"), " ").getItem(0).as("u"),
        split(col("g"), " ").getItem(1).as("v"))
    bi.select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .filter(col("a") < col("b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** The toks→bi→und CTE chain every token-graph oracle replays. */
  private[operators] val UndEdgeCtes: String =
    """toks AS (
      |  SELECT doc_id, t.tok, t.i
      |  FROM (SELECT doc_id,
      |               string_split_regex(trim(text), '\s+') AS l FROM documents) d,
      |       LATERAL (SELECT unnest(l) AS tok, generate_subscripts(l, 1) AS i) t),
      |bi AS (
      |  SELECT DISTINCT t1.tok AS u, t2.tok AS v
      |  FROM toks t1 JOIN toks t2
      |    ON t1.doc_id = t2.doc_id AND t2.i = t1.i + 1),
      |und AS (
      |  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
      |  FROM bi WHERE least(u, v) < greatest(u, v))""".stripMargin

  object Triangles extends GraftQuery {
    val name = "q_triangles"
    private val K = 15
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val und = undirectedTokenEdges(spark, sfDir)
      val wedges = und.as("x")
        .join(und.as("y"), col("x.b") === col("y.a"))
        .select(col("x.a").as("a"), col("x.b").as("b"), col("y.b").as("c"))
      val tris = wedges
        .join(und.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
      tris.select(explode(array(col("a"), col("b"), col("c"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n_triangles"))
        .orderBy(col("n_triangles").desc, col("token").asc)
        .limit(K)
    }
    val oracle = Some(
      s"""WITH toks AS (
         |  SELECT doc_id, t.tok, t.i
         |  FROM (SELECT doc_id,
         |               string_split_regex(trim(text), '\\s+') AS l FROM documents) d,
         |       LATERAL (SELECT unnest(l) AS tok, generate_subscripts(l, 1) AS i) t),
         |bi AS (
         |  SELECT DISTINCT t1.tok AS u, t2.tok AS v
         |  FROM toks t1 JOIN toks t2
         |    ON t1.doc_id = t2.doc_id AND t2.i = t1.i + 1),
         |und AS (
         |  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
         |  FROM bi WHERE least(u, v) < greatest(u, v)),
         |tris AS (
         |  SELECT x.a, x.b, y.b AS c
         |  FROM und x JOIN und y ON x.b = y.a
         |  WHERE EXISTS (SELECT 1 FROM und z WHERE z.a = x.a AND z.b = y.b)),
         |exploded AS (
         |  SELECT a AS token FROM tris
         |  UNION ALL SELECT b FROM tris
         |  UNION ALL SELECT c FROM tris)
         |SELECT token, count(*) AS n_triangles
         |FROM exploded GROUP BY 1
         |ORDER BY n_triangles DESC, token ASC
         |LIMIT $K""".stripMargin)
  }

  /** Common-neighbor link prediction — the simplest link predictor that
    * works: for token pairs NOT currently co-occurring, count shared
    * neighbors in the co-occurrence graph and keep the top 10. The wedge
    * enumeration is the [[Triangles]] join run once over the doubled
    * adjacency (each unordered candidate pair produced once via the
    * `u < v` canonicalization, each shared neighbor counted once), and
    * "not an edge" is a LEFT ANTI join against the same persisted edge
    * set. Vocab-sized keys throughout; the corpus is touched once.
    */
  object LinkPredict extends GraftQuery {
    val name = "q_link_predict"
    private val K = 10
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val und = undirectedTokenEdges(spark, sfDir)
      val adj = und.select(col("a").as("u"), col("b").as("v"))
        .unionAll(und.select(col("b").as("u"), col("a").as("v")))
      val cand = adj.as("e1")
        .join(adj.as("e2"), col("e1.v") === col("e2.u"))
        .filter(col("e1.u") < col("e2.v"))
        .groupBy(col("e1.u").as("a"), col("e2.v").as("b"))
        .agg(count(lit(1)).as("n_common"))
      cand.join(und, Seq("a", "b"), "left_anti")
        .orderBy(col("n_common").desc, col("a").asc, col("b").asc)
        .limit(K)
    }
    val oracle = Some(
      s"""WITH $UndEdgeCtes,
         |adj AS (
         |  SELECT a AS u, b AS v FROM und
         |  UNION ALL SELECT b, a FROM und),
         |cand AS (
         |  SELECT e1.u AS a, e2.v AS b, count(*) AS n_common
         |  FROM adj e1 JOIN adj e2 ON e1.v = e2.u
         |  WHERE e1.u < e2.v GROUP BY 1, 2)
         |SELECT a, b, n_common FROM cand
         |WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.a = cand.a AND und.b = cand.b)
         |ORDER BY n_common DESC, a ASC, b ASC LIMIT $K""".stripMargin)
  }

  /** Degree distribution of the token co-occurrence graph — the one-line
    * structural profile (hub detection, power-law check) every graph
    * pipeline starts with. Degrees from the doubled adjacency, then a
    * degree-keyed histogram; both aggregates are vocab-sized.
    */
  object DegreeDist extends GraftQuery {
    val name = "q_degree_dist"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val und = undirectedTokenEdges(spark, sfDir)
      und.select(explode(array(col("a"), col("b"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_tokens"))
        .orderBy("degree")
    }
    val oracle = Some(
      s"""WITH $UndEdgeCtes,
         |deg AS (
         |  SELECT token, count(*) AS degree FROM (
         |    SELECT a AS token FROM und UNION ALL SELECT b FROM und)
         |  GROUP BY 1)
         |SELECT degree, count(*) AS n_tokens
         |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  val all: Seq[GraftQuery] = Seq(PageRank, Triangles, LinkPredict, DegreeDist)
}
