package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY §2 (and the north-star
  * dedup/similarity/text extensions) is a [[GraftQuery]] registered here.
  * Queries with `oracle = Some(sql)` are hash-verified against DuckDB by the
  * driver; the rest get a rows-only check and are covered by ScalaTest.
  */
object SparkEntry {

  /** The full registry, one entry per operator. */
  val registry: Seq[GraftQuery] =
    operators.Relational.all ++
      operators.MapOps.all ++
      operators.WindowOps.all ++
      operators.AnalyticOps.all ++
      operators.AsOfJoin.all ++
      Seq(operators.Salting.SaltedAgg, operators.Salting.KeySkew,
        operators.Salting.SaltedJoin) ++
      operators.AuditOps.all ++
      operators.GraphOps.all ++
      operators.BehaviorOps.all ++
      operators.LayoutOps.all ++
      operators.StatOps.all ++
      operators.InferenceOps.all ++
      operators.SketchOps.all ++
      operators.WarehouseOps.all ++
      text.IndexOps.all ++
      text.LmOps.all ++
      text.DsirOps.all ++
      text.ClassifierOps.all ++
      text.TextOps.all ++
      text.TextPipeline.all ++
      text.WordPieceTrain.all ++
      text.UnigramTrain.all ++
      text.SkipGramOps.all ++
      text.CorpusOps.all ++
      dedup.Dedup.all ++
      dedup.SubstringDedup.all ++
      dedup.StarComponents.all ++
      dedup.CdcOps.all ++
      similarity.Similarity.all ++
      similarity.VectorOps.all ++
      similarity.PqSearch.all ++
      similarity.KMeansOps.all ++
      similarity.RandProj.all ++
      similarity.MmrOps.all ++
      sources.SourceQueries.all ++
      sources.ArchiveQueries.all ++
      sources.FrontierQueries.all ++
      streaming.StreamQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.PerCustomerRollup.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> ((s: SparkSession, dir: String) => q.run(s, dir))).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The queries a harness main runs: `queries` less any not named in the
    * comma list `SPARK_GRAFT_ONLY` (when set) and any named in
    * `SPARK_GRAFT_SKIP`. Each listed name is trimmed. Driver runs set
    * neither, so they judge the full registry.
    */
  def selected(queries: Seq[GraftQuery] = registry,
      env: Map[String, String] = sys.env): Seq[GraftQuery] = {
    def names(key: String) = env.get(key).map(_.split(",").map(_.trim).toSet)
    val only = names("SPARK_GRAFT_ONLY")
    val skip = names("SPARK_GRAFT_SKIP").getOrElse(Set.empty[String])
    queries.filter(q => only.forall(_(q.name)) && !skip(q.name))
  }

  /** What [[sweep]] gives back, in query order: `use`'s value for each
    * query that completed, and the exception of each query that threw.
    */
  final case class Swept[A](results: Seq[(String, A)], failed: Seq[(String, Throwable)])

  /** The one walk over queries: runs `use` on each query in order. A query
    * that throws is recorded by name and the walk goes on — one broken
    * query must not hide the rest. After every query the session's cached
    * state is released, blocking (`clearCache` alone is asynchronous), so
    * frames a query persists neither shrink a later query's memory nor
    * bleed their removal into its time.
    */
  def sweep[A](spark: SparkSession, queries: Seq[GraftQuery])(use: GraftQuery => A): Swept[A] = {
    val results = Seq.newBuilder[(String, A)]
    val failed = Seq.newBuilder[(String, Throwable)]
    queries.foreach { q =>
      try results += q.name -> use(q)
      catch { case e: Throwable => failed += q.name -> e }
      finally {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      }
    }
    Swept(results.result(), failed.result())
  }
}
