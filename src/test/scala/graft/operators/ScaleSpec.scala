package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Scale-technique correctness: salted aggregation equivalence and
  * bucketed co-located joins (shuffle elimination asserted on the plan).
  */
class ScaleSpec extends SparkSpec {

  test("saltedSumCount ≡ plain groupBy sum/count (algebraic two-phase)") {
    val li = graft.Graft.table(spark, sf, "lineitem")
    val salted = Salting.saltedSumCount(
        li, col("l_returnflag"), col("l_extendedprice"), salts = 16)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val plain = li.groupBy(col("l_returnflag").as("key"))
      .agg(sum(col("l_extendedprice").cast("decimal(27,6)")).cast("double").as("total"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(salted == plain) // bit-identical via decimal-exact partials
  }

  test("partitioned parquet layout prunes partitions at scan time") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString + "/li"
    val li = graft.Graft.table(spark, sf, "lineitem")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
    val scan = spark.read.parquet(dir).filter(col("l_returnflag") === "R")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(l_returnflag"),
      s"no partition filter pushed:\n$plan")
    val expect = li.filter(col("l_returnflag") === "R").count()
    assert(scan.count() == expect)
  }

  test("AQE splits a skewed join partition (the runtime skew path)") {
    import spark.implicits._
    // one hot key carrying ~all rows: the classic skew shape. Thresholds
    // forced down so the tiny fixture trips the same decision a hot key
    // trips at 100 TB; broadcast disabled so a shuffle join actually plans.
    val prev = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    def set(k: String, v: String): Unit = spark.conf.set(k, v)
    set("spark.sql.adaptive.enabled", "true")
    set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    set("spark.sql.adaptive.skewJoin.enabled", "true")
    set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
    set("spark.sql.autoBroadcastJoinThreshold", "-1")
    set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      // payload columns must survive into the join (referenced by the agg
      // below) — with key-only scans, column pruning leaves partitions too
      // small to trip the byte threshold, and identical sides collapse
      // into a ReusedExchange
      val left = (1 to 4000)
        .map(i => (if (i % 10 == 0) i.toLong else 7L, s"payload_left_$i" * 4))
        .toDF("k", "lv")
      val right = (1 to 4000)
        .map(i => (if (i % 10 == 0) i.toLong else 7L, s"payload_right_$i" * 4))
        .toDF("k", "rv")
      // global agg on top: requires no hash distribution on k, so AQE is
      // free to split the skewed partition (a parent that re-required
      // hashpartitioning(k) would veto the split as an extra shuffle).
      // Inspect THIS frame's queryExecution — .count() would build and
      // execute a separate one, leaving this plan un-finalized.
      val cnt = left.join(right, "k")
        .agg(count(when(length(col("lv")) > 0 && length(col("rv")) > 0, 1)).as("n"))
      val n = cnt.collect().head.getLong(0)
      // hot key 7: 3600 × 3600 pairs, plus 400 distinct singletons
      assert(n == 3600L * 3600L + 400L)
      val plan = cnt.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("skew"),
        s"no skew-split marker in the adaptive plan:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("bucketed tables co-locate the join: no Exchange in the plan") {
    // (tables land in Graft.session's warehouse under java.io.tmpdir,
    // dropped in the finally)
    // disable broadcast so the planner would otherwise have to shuffle
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val o = graft.Graft.table(spark, sf, "orders")
      val c = graft.Graft.table(spark, sf, "customer")
      o.write.mode("overwrite").bucketBy(4, "o_custkey")
        .sortBy("o_custkey").saveAsTable("orders_b")
      c.write.mode("overwrite").bucketBy(4, "c_custkey")
        .sortBy("c_custkey").saveAsTable("customer_b")
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"),
          col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == o.count()) // every order has its customer
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("key skew report flags a planted hot key with the right multiples") {
    import spark.implicits._
    // 100 rows on key 1, one row each on keys 2..21: share(1) = 100/120,
    // x_uniform(1) = share × 21 keys
    val ev = ((1 to 100).map(i => (i.toLong, 1L)) ++
      (2 to 21).map(k => (100L + k, k.toLong)))
      .map { case (eid, uid) => (eid, eid * 1000000000L, uid, "view", 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("skew_spec").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = Salting.KeySkew.run(spark, dir).collect()
    assert(rows.length == 10)
    val top = rows.head
    assert(top.getLong(0) == 1L && top.getLong(1) == 100L)
    assert(top.getLong(2) == 120L && top.getLong(3) == 21L)
    assert(top.getDouble(4) == 100.0 / 120.0)
    assert(top.getDouble(5) == 100.0 * 21.0 / 120.0)
    // remaining reported keys are the singleton tail, ordered by key
    rows.tail.foreach(r => assert(r.getLong(1) == 1L))
    assert(rows.tail.map(_.getLong(0)).toSeq == (2L to 10L))
  }

  test("salted join ≡ plain join: every fact row matched exactly once") {
    import org.apache.spark.sql.functions._
    import graft.functions.PortableHash.pHash28
    val out = Salting.SaltedJoin.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val li = graft.Graft.table(spark, sf, "lineitem")
    val dim = li.select(col("l_returnflag").as("key")).distinct()
      .select(col("key"),
        (pHash28(concat(lit("rate:"), col("key"))) % 50 + 1).as("rate"))
    val plain = li.join(dim, li("l_returnflag") === dim("key"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum((col("l_extendedprice") * col("rate")).cast("decimal(27,6)"))
          .cast("double").as("wt"))
      .orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == plain.toSeq, s"salted ${out.toSeq} vs plain ${plain.toSeq}")
    assert(out.map(_._2).sum == li.count(), "each fact row joined exactly once")
  }

  test("column pruning reaches the scan: metadata-only queries never read text") {
    // documents.text dominates the table's bytes; a query that only needs
    // (doc_id, n_chars, source) must not scan it — at 100 TB that IS the
    // difference between a metadata pass and a full-corpus read. Same for
    // orders: the id-gap audit reads exactly one column.
    val cases = Seq(
      "q_length_deciles" -> "text",
      "q_compaction_plan" -> "text",
      "q_dup_size_hist" -> "embedding", // text needed (fingerprint); embeddings not
      "q_id_gap_audit" -> "o_totalprice")
    cases.foreach { case (name, mustNotRead) =>
      val q = graft.SparkEntry.registry.find(_.name == name).get
      val plan = q.run(spark, sf).queryExecution.executedPlan.toString
      spark.catalog.clearCache()
      val scans = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
      assert(scans.nonEmpty, s"$name: no scan found")
      assert(!scans.exists(_.contains(mustNotRead)),
        s"$name reads pruned-away column '$mustNotRead':\n${scans.mkString("\n")}")
    }
  }
}
