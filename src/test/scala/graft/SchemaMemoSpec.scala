package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** SchemaMemo contract: a repeated read of an unchanged path runs no
  * inference job, the memoized schema is exactly the one Spark infers
  * (nullability and field metadata included: `StructType` equality
  * compares both), and a changed file, listing or inference conf is read
  * as Spark would read it now.
  */
class SchemaMemoSpec extends SparkSpec {

  /** Spark jobs started while `body` runs, whatever their job group (a
    * streaming query's micro-batches run under their own). Listener events
    * arrive in order, so the jobs between two marker jobs are the body's.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val counting = new AtomicBoolean
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some("memo-start") => counting.set(true)
          case Some("memo-end") => counting.set(false); drained.countDown()
          case _ => if (counting.get) jobs.incrementAndGet()
        }
    }
    def marker(group: String): Unit = {
      sc.setJobGroup(group, group)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker("memo-start")
      body
      marker("memo-end")
      assert(drained.await(60, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  private def tempDir(): Path = Files.createTempDirectory("graft_memo")

  test("a second Graft.table read of an unchanged table runs no job before an action") {
    val dir = tempDir()
    Files.copy(java.nio.file.Paths.get(sf, "region.parquet"), dir.resolve("region.parquet"))
    assert(jobsDuring(Graft.table(spark, dir.toString, "region").schema) == 1)
    assert(jobsDuring(Graft.table(spark, dir.toString, "region").schema) == 0)
  }

  test("memoized schemas and rows equal a plain read for every catalog table at sf0.01") {
    val sf01 = "/root/testdata/sf0.01"
    for (name <- Graft.TableNames) {
      val path = s"$sf01/$name.parquet"
      val memoized = Graft.table(spark, sf01, name) // sets nanosAsLong, as every read does
      val plain = spark.read.parquet(path)
      assert(SchemaMemo.schema(spark, "parquet", path) == plain.schema, name)
      assert(SchemaMemo.read(spark, "parquet", path).schema == plain.schema, name)
      assert(memoized.collect().toSeq == Graft.normalizeEventTs(plain).collect().toSeq, name)
    }
  }

  test("a file rewritten at the same path with another schema is read with the new schema") {
    import spark.implicits._
    val dir = tempDir().resolve("t").toString
    Seq((1, "a")).toDF("a", "b").write.parquet(dir)
    assert(SchemaMemo.read(spark, "parquet", dir).columns.toSeq == Seq("a", "b"))
    Seq((2L, 3.0, "x")).toDF("x", "y", "z").write.mode("overwrite").parquet(dir)
    val back = SchemaMemo.read(spark, "parquet", dir)
    assert(back.schema == spark.read.parquet(dir).schema)
    assert(back.collect().toSeq == Seq(Row(2L, 3.0, "x")))
  }

  test("toggling an inference conf reads the schema Spark infers under it") {
    // events.ts is an unannotated-by-Spark TIMESTAMP(isAdjustedToUTC=false):
    // inferTimestampNTZ decides between TIMESTAMP_NTZ and TIMESTAMP
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val path = tempDir().resolve("events.parquet")
    Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.01/events.parquet"), path)
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      val ntz = SchemaMemo.schema(spark, "parquet", path.toString)
      assert(ntz("ts").dataType == TimestampNTZType)
      spark.conf.set(key, "false")
      val ltz = SchemaMemo.schema(spark, "parquet", path.toString)
      assert(ltz("ts").dataType == TimestampType)
      assert(ltz == spark.read.parquet(path.toString).schema)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a CSV rewritten with another header is read with the new columns") {
    val file = tempDir().resolve("t.csv")
    Files.writeString(file, "a;b\n1;2\n")
    val csv = file.toString
    assert(sources.Sources.readSemicolonCsv(spark, csv).columns.toSeq == Seq("a", "b"))
    assert(jobsDuring(sources.Sources.readSemicolonCsv(spark, csv).schema) == 0)
    Files.writeString(file, "x;y;z\n1;2;3\n")
    val back = sources.Sources.readSemicolonCsv(spark, csv)
    assert(back.columns.toSeq == Seq("x", "y", "z"))
    assert(back.collect().toSeq == Seq(Row("1", "2", "3")))
  }

  test("q_stream_enrich runs 5 jobs once its tables' schemas are memoized") {
    // run() plus Bench's noop write; a plain read of the events footer and
    // of the customer table would add one inference job each
    def once(): Unit = streaming.StreamQueries.StreamEnrich.run(spark, sf)
      .write.format("noop").mode("overwrite").save()
    once()
    assert(jobsDuring(once()) == 5)
  }
}
