package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Shuffle partitions default to the core count (the local harness's
    // stand-in for "partitions scale with the cluster") but can be pinned
    // independently: on a real cluster partitions scale with INPUT SIZE,
    // so scaling experiments need partitions-vs-data decoupled from
    // parallelism-vs-data (e.g. sf1 at w8 with 64 partitions answers
    // whether a super-linear ratio is per-reducer state growth or plan
    // shape).
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = Graft.session(s"local[$cpus]", shufflePartitions.toInt)
    // warm up codegen/JIT + datasource init so the first measured query
    // doesn't carry ~5s of one-time session cost. The warmup exercises the
    // operator machinery the suite leans on (window functions, explode,
    // md5/conv hashing, json parsing, decimal aggregation, broadcast join)
    // so JIT/codegen warmup lands here, not in whichever query the
    // registry map happens to iterate first.
    locally {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val r = spark.read.parquet(s"$sfDir/region.parquet")
      val n = spark.read.parquet(s"$sfDir/nation.parquet")
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("n_name"),
          conv(substring(md5(col("n_name").cast("binary")), 1, 7), 16, 10).as("h"),
          posexplode(sequence(lit(0), lit(3))))
        .withColumn("rn", row_number().over(
          Window.partitionBy("n_name").orderBy(col("pos"))))
        .agg(sum(col("rn").cast("decimal(27,6)")),
          count_distinct(col("h")), sum(size(from_json(lit("""{"a":1}"""),
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.LongType)))))
        .write.format("noop").mode("overwrite").save()
      // warm the cache/self-join machinery too (InMemoryRelation codegen,
      // columnar cache serde, zip_with lambdas) — the dedup pair queries
      // persist a frame and self-join it, and whichever of them the
      // registry iterates first would otherwise absorb this one-time cost
      val cached = n.select(col("n_nationkey").as("k"),
          array(col("n_name"), col("n_name")).as("arr"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached.as("a").join(cached.as("b"), col("a.k") === col("b.k"))
        .select(size(filter(zip_with(col("a.arr"), col("b.arr"),
          (x, y) => x === y), bb => bb)).as("m"))
        .filter(col("m") >= 0).distinct()
        .write.format("noop").mode("overwrite").save()
      cached.unpersist()
      // warm the engine's NATIVE kernels (winnow/shingle/minhash/simhash/
      // lsh/vector-quantize): each is its own generated class, so the md5
      // warmup above doesn't reach them — whichever query hit each kernel
      // first absorbed its whole-stage-codegen + C2 compile otherwise
      // (q_contamination measured 4.1s in-suite vs 1.4s warm, the gap
      // being exactly this one-time cost)
      import graft.plans.{WinnowExpression, ShingleExpression, SimHashExpression}
      import graft.plans.VectorExpressions.{dot_long, quantize_vec}
      val txt = n.select(col("n_nationkey").as("id"),
        regexp_replace(lower(trim(col("n_name"))), "[^ -~]", "").as("s"),
        array(lit(0.1f), lit(0.2f), lit(0.3f), lit(0.4f)).as("v"))
        .withColumn("t", col("s").cast("binary"))
      txt.select(col("id"),
          size(WinnowExpression.winnow_fps(col("t"), 8, 4)).as("a"),
          size(graft.dedup.Dedup.minhashSignature(
            ShingleExpression.shingle_hashes(col("s"), 3))).as("b"),
          SimHashExpression.simhash60(col("s"), graft.dedup.Dedup.SimHashBits).as("c"),
          dot_long(quantize_vec(col("v")), quantize_vec(col("v"))).as("d"),
          element_at(graft.similarity.Similarity.lshKeysNative(
            quantize_vec(col("v")), 4), 1).as("e"))
        .write.format("noop").mode("overwrite").save()
      // warm the window-aggregation path with a decimal running sum (the
      // frame-sliding decimal accumulator is its own codegen shape)
      import org.apache.spark.sql.expressions.Window
      n.select(col("n_nationkey").as("k"), col("n_regionkey").as("g"))
        .withColumn("rs", sum(col("k").cast("decimal(27,6)")).over(
          Window.partitionBy("g").orderBy("k")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .write.format("noop").mode("overwrite").save()
    }
    // Materialize through the `noop` sink, NOT `.count()`: under a global
    // count Catalyst legitimately prunes whatever nothing references —
    // EliminateSorts drops the final ORDER BY and column pruning deletes
    // computed columns no filter touches (a fingerprint md5, a window sum),
    // so the timing would flatter queries whose cost IS those columns. A
    // noop write requires every output column of every row, like a real
    // sink, while writing nothing.
    // SPARK_GRAFT_ONLY (e.g. q_dedup_clusters,q_contamination) narrows the
    // run for targeted perf iteration; SPARK_GRAFT_SKIP, its A/B twin, drops
    // a few named rows from an otherwise-full run so their JVM-wide side
    // effects (persists, cache pressure) can be adjudicated against
    // untouched rows under the SAME warmth protocol (isolated ONLY-runs are
    // 15-30% slower from lost JIT warmth). Driver runs set neither, so the
    // full registry is always what gets judged.
    val selected = SparkEntry.selected()
    // Noise-robust protocol: N interleaved repetitions (A,B,C,A,B,C — not
    // A,A,A, so a host-contention burst contaminates at most one rep of
    // each query), reported time = per-query MIN across reps. A fixed
    // CPU-bound probe runs once per rep; `spread` = max/min of the probe
    // times, so a contaminated run is self-evident from the artifact
    // (this host swings ±2-3× between runs — single-shot numbers cannot
    // adjudicate a 2× gate).
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // discard one probe run first: its codegen/JIT is one-time cost that
    // would otherwise inflate the first rep and fake a high spread
    def probe(): Double = {
      val t0 = System.nanoTime()
      // pmod keeps the running sum < 2e13 (ANSI long-overflow-safe); the
      // cost is the 20M xxhash64 calls, which is the point of the probe
      spark.range(20L * 1000 * 1000)
        .select(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.xxhash64(
              org.apache.spark.sql.functions.col("id")),
            org.apache.spark.sql.functions.lit(1000003L))))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // A failed query must NOT bench as a fast no-op (round 4 counted 35
    // analysis-error queries at ~0.1s each and the total looked healthy).
    // Record every failure by name and surface the list in the JSON line.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val probeTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    probe() // warmup run, discarded (codegen + JIT for the probe itself)
    for (_ <- 1 to math.max(reps, 1)) {
      probeTimes += probe()
      // a failure is deterministic; don't re-throw it N times. The sweep
      // releases the frames the dedup/pipeline queries persist after each
      // query, OUTSIDE the timed region
      val rep = SparkEntry.sweep(spark, selected.filterNot(q => failed(q.name))) { q =>
        val t0 = System.nanoTime()
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      rep.failed.foreach { case (name, e) =>
        failed += name
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200))
      }
      rep.results.foreach { case (name, dt) =>
        if (best.get(name).forall(dt < _)) best(name) = dt
      }
    }
    val results = best
    val spread =
      if (probeTimes.nonEmpty && probeTimes.min > 0) probeTimes.max / probeTimes.min
      else 0.0
    // Print timings rounded to milliseconds. The full-precision line for 70
    // queries runs past 3 kB, which overflowed the harness's output-tail
    // capture in round 3 (BENCH_r03.json parsed=null — the head of the JSON
    // line fell outside the captured tail). 3 decimals keeps the whole line
    // comfortably inside the tail window; sub-ms precision is noise anyway.
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // field order matters twice over: the driver detects the line by its
    // `{"metric"` head, while the harness tail-captures the END of stdout
    // — so the failure report rides at the very end (it survives
    // truncation of the long per-query map), and bench_full.json keeps
    // the complete line either way.
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""queries":$qs,"sf":"$sfDir","n_queries":${results.size},""" +
      s""""reps":$reps,"spread":${fmt(spread)},""" +
      s""""n_failed":${failed.size},"failed":$failedJson}"""
    println(line)
    // The stdout line gets tail-captured by the harness and has historically
    // truncated past ~83 entries — persist the complete artifact to a file
    // so every per-query timing survives for round-over-round diffs.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
    // Exit 0 even on failures: the driver must still ingest the JSON line
    // (and grade the queries that DID run); `n_failed`/`failed` carry the
    // loud signal. The registry smoke spec is what turns failures red.
  }
}
