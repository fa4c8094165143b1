package graft.operators

import graft.{Graft, GraftQuery}
import graft.functions.PortableHash.{pHash28, pHash60}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout / pruning operators — the data-organization side of a
  * 100 TB engine: Bloom-filter membership pruning (the runtime-filter that
  * turns a join into a scan-side drop) and Z-order clustering keys (the
  * multi-dimensional sort that makes min/max file statistics selective on
  * more than one column).
  *
  * Every hash is an md5 prefix ([[graft.functions.PortableHash]]) and every
  * bit operation is spelled in the two engines' common operator subset, so
  * both operators carry full DuckDB oracles — including the Bloom filter's
  * exact false-positive count.
  */
object LayoutOps {

  /** Bloom-filter membership pruning. Build: each supplier key sets k=3
    * bits (derived from disjoint slices of one 60-bit md5 hash) in an
    * m=4096-bit filter packed into 128 32-bit words — built with one
    * explode + `bit_or` hash aggregate, 128 rows total. Probe: every
    * distinct customer key looks up its 3 (word, mask) pairs against the
    * broadcast filter; a key is a candidate iff all 3 bits are set. The
    * query reports the filter's exact confusion counts (true members vs
    * false positives) by comparing against the exact semi-join.
    *
    * Scale shape: the filter is O(m) bytes no matter how large the build
    * side grows (the aggregate's partial state is the filter itself), the
    * probe is a broadcast join against 128 rows followed by a count-3
    * aggregate on the probe key — the exact plan a runtime-filter rewrite
    * injects in front of a shuffle join to drop non-matching rows at the
    * scan. Sibling: [[SketchOps.BloomSeen]] (`q_bloom_urlseen`) is the
    * STANDING seen-set variant a crawl scheduler persists between runs,
    * where the merge law and the no-false-negatives report matter
    * instead of the join-prune shape.
    */
  object BloomFilter extends GraftQuery {
    val name = "q_bloom_filter"
    private val Bits = 4096 // m: filter size in bits
    private val WordBits = 32 // packed word width (sign-safe in both engines)

    /** 3 disjoint 12-bit positions from one 60-bit hash. */
    private def positions(h: Column): Column =
      array(h % Bits,
        expr(s"(h div $Bits) % $Bits"),
        expr(s"(h div ${Bits * Bits}) % $Bits"))

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val words = Graft.table(spark, sfDir, "supplier")
        .select(pHash60(concat(lit("bloom:"), col("s_suppkey").cast("string"))).as("h"))
        .select(explode(positions(col("h"))).as("p"))
        .select(expr(s"p div $WordBits").as("w"),
          expr(s"shiftleft(CAST(1 AS BIGINT), CAST(p % $WordBits AS INT))").as("m"))
        .groupBy("w").agg(expr("bit_or(m)").as("bits"))

      val probes = Graft.table(spark, sfDir, "customer")
        .select(col("c_custkey")).distinct()
      val probeBits = probes
        .select(col("c_custkey"),
          pHash60(concat(lit("bloom:"), col("c_custkey").cast("string"))).as("h"))
        .select(col("c_custkey"), explode(positions(col("h"))).as("p"))
        .select(col("c_custkey"), expr(s"p div $WordBits").as("w"),
          expr(s"shiftleft(CAST(1 AS BIGINT), CAST(p % $WordBits AS INT))").as("m"))
      val candidates = probeBits
        .join(broadcast(words), Seq("w"))
        .filter((col("bits").bitwiseAND(col("m"))) =!= 0)
        .groupBy("c_custkey").agg(count(lit(1)).as("n_set"))
        .filter(col("n_set") === 3)
        .select("c_custkey")

      val supplierKeys = Graft.table(spark, sfDir, "supplier").select("s_suppkey")
      val trueMembers = candidates
        .join(supplierKeys, col("c_custkey") === col("s_suppkey"), "left_semi")
      val falsePos = candidates
        .join(supplierKeys, col("c_custkey") === col("s_suppkey"), "left_anti")

      probes.agg(count(lit(1)).as("n_probes"))
        .crossJoin(candidates.agg(count(lit(1)).as("n_candidates")))
        .crossJoin(trueMembers.agg(count(lit(1)).as("n_true_members")))
        .crossJoin(falsePos.agg(count(lit(1)).as("n_false_pos")))
    }
    val oracle = Some(
      s"""WITH build AS (
         |  SELECT ('0x' || substr(md5('bloom:' || s_suppkey::VARCHAR), 1, 15))::BIGINT AS h
         |  FROM supplier),
         |pos AS (
         |  SELECT unnest([h % $Bits, (h // $Bits) % $Bits,
         |                 (h // ${Bits * Bits}) % $Bits]) AS p
         |  FROM build),
         |words AS (
         |  SELECT p // $WordBits AS w,
         |         bit_or(1::BIGINT << CAST(p % $WordBits AS INT)) AS bits
         |  FROM pos GROUP BY 1),
         |probes AS (SELECT DISTINCT c_custkey FROM customer),
         |probebits AS (
         |  SELECT c_custkey, p // $WordBits AS w,
         |         1::BIGINT << CAST(p % $WordBits AS INT) AS m
         |  FROM (SELECT c_custkey,
         |               unnest([h % $Bits, (h // $Bits) % $Bits,
         |                       (h // ${Bits * Bits}) % $Bits]) AS p
         |        FROM (SELECT c_custkey,
         |                     ('0x' || substr(md5('bloom:' || c_custkey::VARCHAR), 1, 15))::BIGINT AS h
         |              FROM probes))),
         |candidates AS (
         |  SELECT c_custkey FROM probebits JOIN words USING (w)
         |  WHERE (bits & m) <> 0
         |  GROUP BY 1 HAVING count(*) = 3),
         |truemem AS (
         |  SELECT c_custkey FROM candidates
         |  WHERE c_custkey IN (SELECT s_suppkey FROM supplier)),
         |falsepos AS (
         |  SELECT c_custkey FROM candidates
         |  WHERE c_custkey NOT IN (SELECT s_suppkey FROM supplier))
         |SELECT (SELECT count(*) FROM probes) AS n_probes,
         |       (SELECT count(*) FROM candidates) AS n_candidates,
         |       (SELECT count(*) FROM truemem) AS n_true_members,
         |       (SELECT count(*) FROM falsepos) AS n_false_pos""".stripMargin)
  }

  /** Z-order (Morton) clustering key: interleave the bits of two 8-bit
    * dimensions into one 16-bit sort key, then report per-bucket occupancy
    * and the bounding box of each bucket — small boxes are the property
    * that makes min/max statistics selective on BOTH dimensions after a
    * sort by `z`. The interleave is 16 shift-and-mask terms, generated
    * once here for both engines (pure integer ops, bit-identical).
    *
    * At scale this key feeds `repartitionByRange(z)` + within-partition
    * sort before a columnar write; the query itself verifies the key
    * arithmetic and the locality property it buys.
    */
  object ZOrder extends GraftQuery {
    val name = "q_zorder"
    private val DimBits = 8

    /** Sum of interleave terms with `x`/`y` spelled per-dialect. */
    private def zTerms(shr: (String, Int) => String): String =
      (0 until DimBits).flatMap { i =>
        Seq(s"(${shr("x", i)} << ${2 * i})", s"(${shr("y", i)} << ${2 * i + 1})")
      }.mkString(" + ")

    // Spark: shiftleft/shiftright functions; DuckDB: << / >> operators.
    private val zSpark: String = (0 until DimBits).flatMap { i =>
      Seq(s"shiftleft(shiftright(x, $i) & 1, ${2 * i})",
        s"shiftleft(shiftright(y, $i) & 1, ${2 * i + 1})")
    }.mkString(" + ")
    private val zDuck: String = zTerms((c, i) => s"(($c >> $i) & 1)")

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val pts = Graft.table(spark, sfDir, "part")
        .select(col("p_size").cast("long").as("x"),
          (pHash28(concat(lit("z:"), col("p_partkey").cast("string"))) % 256).as("y"))
      pts.select(col("x"), col("y"), expr(zSpark).as("z"))
        .select(col("x"), col("y"), col("z"), expr("z div 1024").as("zbucket"))
        .groupBy("zbucket")
        .agg(count(lit(1)).as("n"),
          min(col("z")).as("min_z"), max(col("z")).as("max_z"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .orderBy("zbucket")
    }
    val oracle = Some(
      s"""WITH pts AS (
         |  SELECT CAST(p_size AS BIGINT) AS x,
         |         ('0x' || substr(md5('z:' || p_partkey::VARCHAR), 1, 7))::BIGINT % 256 AS y
         |  FROM part),
         |z AS (SELECT x, y, $zDuck AS z FROM pts)
         |SELECT z // 1024 AS zbucket, count(*) AS n,
         |       min(z) AS min_z, max(z) AS max_z,
         |       min(x) AS min_x, max(x) AS max_x,
         |       min(y) AS min_y, max(y) AS max_y
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Hilbert-curve clustering key — Z-order's stronger sibling (Hilbert
    * 1891; the iterative rotate-and-accumulate form is the standard
    * public d2xy/xy2d algorithm): consecutive index values are ALWAYS
    * grid neighbors, where Morton order jumps across the plane at power-
    * of-two seams, so equal-width index ranges have tighter bounding
    * boxes — the property that makes min/max statistics even more
    * selective than under `q_zorder`, whose readout this query mirrors
    * column-for-column so the bucket boxes can be compared side by side.
    *
    * The index is a fold over the 8 bit-levels (s = 128…1): quadrant
    * digits accumulate s²·((3·rx) xor ry) and the (x, y) pair is
    * reflected/swapped per level — pure integer arithmetic, so the
    * DuckDB oracle replays the identical fold (as a flat BIGINT-list
    * accumulator [x, y, d, i]: DuckDB 1.0's list_reduce mangles only
    * LIST-valued struct fields, but flat lists are proven good — the
    * [[graft.dedup.CdcOps]] finding). At scale the key feeds
    * `repartitionByRange(h)` + within-partition sort before a columnar
    * write, exactly like the Z-order key.
    */
  object HilbertOrder extends GraftQuery {
    val name = "q_hilbert_order"
    private val Levels = 8 // 256×256 grid

    /** xy → Hilbert d as a fold over the descending s values, Spark side. */
    private[operators] def hilbertExpr: Column =
      aggregate(
        array((0 until Levels).reverse.map(i => lit(1L << i)): _*),
        struct(col("x").as("hx"), col("y").as("hy"), lit(0L).as("d")),
        (st, s) => {
          val rx = when(st.getField("hx").bitwiseAND(s) > 0, lit(1L))
            .otherwise(lit(0L))
          val ry = when(st.getField("hy").bitwiseAND(s) > 0, lit(1L))
            .otherwise(lit(0L))
          val d2 = st.getField("d") + s * s * (rx * 3).bitwiseXOR(ry)
          val refl = rx === 1 && ry === 0
          val tx = when(refl, s - 1 - st.getField("hx"))
            .otherwise(st.getField("hx"))
          val ty = when(refl, s - 1 - st.getField("hy"))
            .otherwise(st.getField("hy"))
          struct(
            when(ry === 0, ty).otherwise(tx).as("hx"),
            when(ry === 0, tx).otherwise(ty).as("hy"),
            d2.as("d"))
        }).getField("d")

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val pts = Graft.table(spark, sfDir, "part")
        .select(col("p_size").cast("long").as("x"),
          (pHash28(concat(lit("z:"), col("p_partkey").cast("string"))) % 256).as("y"))
      pts.select(col("x"), col("y"), hilbertExpr.as("h"))
        .select(col("x"), col("y"), col("h"), expr("h div 1024").as("hbucket"))
        .groupBy("hbucket")
        .agg(count(lit(1)).as("n"),
          min(col("h")).as("min_h"), max(col("h")).as("max_h"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .orderBy("hbucket")
    }
    val oracle = Some(
      s"""WITH pts AS (
         |  SELECT CAST(p_size AS BIGINT) AS x,
         |         ('0x' || substr(md5('z:' || p_partkey::VARCHAR), 1, 7))::BIGINT % 256 AS y
         |  FROM part),
         |h AS (
         |  SELECT x, y,
         |    list_reduce(
         |      [[x, y, 0::BIGINT, ${Levels - 1}::BIGINT]] ||
         |      list_transform(range(0, $Levels), q -> [0::BIGINT]),
         |      (a, e) -> CASE
         |        WHEN (CASE WHEN (a[1] & (1::BIGINT << CAST(a[4] AS INT))) > 0
         |                   THEN 1 ELSE 0 END) = 1 AND
         |             (CASE WHEN (a[2] & (1::BIGINT << CAST(a[4] AS INT))) > 0
         |                   THEN 1 ELSE 0 END) = 0
         |        THEN [
         |          (1::BIGINT << CAST(a[4] AS INT)) - 1 - a[2],
         |          (1::BIGINT << CAST(a[4] AS INT)) - 1 - a[1],
         |          a[3] + (1::BIGINT << CAST(a[4] AS INT))
         |                 * (1::BIGINT << CAST(a[4] AS INT))
         |                 * xor(3 * (CASE WHEN (a[1] & (1::BIGINT << CAST(a[4] AS INT))) > 0
         |                            THEN 1::BIGINT ELSE 0 END),
         |                       (CASE WHEN (a[2] & (1::BIGINT << CAST(a[4] AS INT))) > 0
         |                        THEN 1::BIGINT ELSE 0 END)),
         |          a[4] - 1]
         |        WHEN (CASE WHEN (a[2] & (1::BIGINT << CAST(a[4] AS INT))) > 0
         |              THEN 1 ELSE 0 END) = 0
         |        THEN [a[2], a[1],
         |          a[3] + (1::BIGINT << CAST(a[4] AS INT))
         |                 * (1::BIGINT << CAST(a[4] AS INT))
         |                 * xor(3 * (CASE WHEN (a[1] & (1::BIGINT << CAST(a[4] AS INT))) > 0
         |                            THEN 1::BIGINT ELSE 0 END),
         |                       (CASE WHEN (a[2] & (1::BIGINT << CAST(a[4] AS INT))) > 0
         |                        THEN 1::BIGINT ELSE 0 END)),
         |          a[4] - 1]
         |        ELSE [a[1], a[2],
         |          a[3] + (1::BIGINT << CAST(a[4] AS INT))
         |                 * (1::BIGINT << CAST(a[4] AS INT))
         |                 * xor(3 * (CASE WHEN (a[1] & (1::BIGINT << CAST(a[4] AS INT))) > 0
         |                            THEN 1::BIGINT ELSE 0 END),
         |                       (CASE WHEN (a[2] & (1::BIGINT << CAST(a[4] AS INT))) > 0
         |                        THEN 1::BIGINT ELSE 0 END)),
         |          a[4] - 1]
         |        END)[3] AS h
         |  FROM pts)
         |SELECT h // 1024 AS hbucket, count(*) AS n,
         |       min(h) AS min_h, max(h) AS max_h,
         |       min(x) AS min_x, max(x) AS max_x,
         |       min(y) AS min_y, max(y) AS max_y
         |FROM h GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Zone-map (min/max file statistics) pruning simulation: chunk the
    * orders table into simulated 250-row files under TWO physical
    * layouts — `natural` (insertion order: chunk by o_orderkey) and
    * `sorted` (chunk by date rank) — compute each chunk's min/max
    * o_orderdate zone map, and mark whether a 6-month date predicate
    * could skip the chunk. The side-by-side is the point: on the natural
    * layout every zone spans the full date range (kept ≈ all), on the
    * sorted layout kept ≈ selectivity — the quantitative argument for
    * sorting/clustering before a columnar write.
    *
    * Scale shape: zone maps are a per-chunk aggregate (metadata-sized
    * output, 2 longs + 2 dates per file); the sorted layout's global
    * rank runs through [[Dist.globalRowNumber]] — `repartitionByRange(
    * date)` + per-partition numbering + partition offsets, the same
    * boundaries a clustered columnar write produces, with no
    * single-partition window.
    */
  object ZoneMapPrune extends GraftQuery {
    val name = "q_zonemap_prune"
    private val ChunkRows = 250
    private val Lo = "1999-01-01"
    private val Hi = "1999-07-01" // predicate: Lo <= d < Hi

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val orders = Graft.table(spark, sfDir, "orders")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d"))
      val natural = orders
        .select(lit("natural").as("layout"),
          expr(s"o_orderkey div $ChunkRows").as("chunk"), col("d"))
      val sorted = Dist
        .globalRowNumber(orders, "rn1", col("d").asc, col("o_orderkey").asc)
        .select(lit("sorted").as("layout"),
          expr(s"(rn1 - 1) div $ChunkRows").as("chunk"), col("d"))
      natural.unionAll(sorted)
        .groupBy("layout", "chunk")
        .agg(count(lit(1)).as("n_rows"),
          min(col("d")).as("min_d"), max(col("d")).as("max_d"))
        .withColumn("kept",
          (col("min_d") < lit(Hi).cast("date") &&
            col("max_d") >= lit(Lo).cast("date")).cast("int"))
        .orderBy("layout", "chunk")
    }
    val oracle = Some(
      s"""WITH o AS (
         |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders),
         |chunks AS (
         |  SELECT 'natural' AS layout, o_orderkey // $ChunkRows AS chunk, d FROM o
         |  UNION ALL
         |  SELECT 'sorted',
         |         (row_number() OVER (ORDER BY d, o_orderkey) - 1) // $ChunkRows, d
         |  FROM o)
         |SELECT layout, chunk, count(*) AS n_rows,
         |       min(d) AS min_d, max(d) AS max_d,
         |       CAST(min(d) < DATE '$Hi' AND max(d) >= DATE '$Lo' AS INT) AS kept
         |FROM chunks GROUP BY layout, chunk ORDER BY layout, chunk""".stripMargin)
  }

  /** Small-file compaction planning: roll per-file byte sizes (simulated
    * files = 20-document groups of the corpus) into sequential output
    * bins of a target size via an exclusive running sum — the plan a
    * table-maintenance job executes to rewrite many small files into few
    * target-sized ones. Emits per-bin file count, byte total, and the
    * contiguous file range (contiguity = the property that keeps the
    * rewrite a sequential read).
    *
    * Scale shape: the planning frame is per-FILE metadata (1 row per
    * ~100 MB file ⇒ ~1M rows at 100 TB), and the exclusive running sum
    * runs as the two-phase distributed prefix sum proven exact by
    * `q_pps_sample`/`q_running_total_dist` — only the n/B bucket-offset
    * frame is ever single-partition.
    */
  object CompactionPlan extends GraftQuery {
    val name = "q_compaction_plan"
    private val DocsPerFile = 20
    private val TargetBytes = 16384L

    private val FilesPerBucket = 1000L

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val files = Graft.table(spark, sfDir, "documents")
        .groupBy(expr(s"doc_id div $DocsPerFile").as("file_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // two-phase distributed prefix sum over the file frame (the
      // [[WindowOps.RunningTotalDist]] decomposition): per-bucket sums →
      // exclusive bucket offsets over the n/B bucket frame (lit(0) =
      // single-partition by design), broadcast back, within-bucket
      // exclusive cumsum under HashPartitioning(bucket)
      val bOff = files.groupBy(expr(s"file_id div $FilesPerBucket").as("fbkt"))
        .agg(sum(col("bytes")).as("bw"))
        .withColumn("b_off", coalesce(sum(col("bw")).over(
          Window.partitionBy(Dist.boundedOne(col("fbkt"))).orderBy("fbkt")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("fbkt", "b_off")
      val inB = Window.partitionBy("fbkt").orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      files
        .withColumn("fbkt", expr(s"file_id div $FilesPerBucket"))
        .join(broadcast(bOff), "fbkt")
        .withColumn("cum_before",
          col("b_off") + coalesce(sum(col("bytes")).over(inB), lit(0L)))
        .withColumn("bin", expr(s"cum_before div $TargetBytes"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("total_bytes"),
          min(col("file_id")).as("first_file"), max(col("file_id")).as("last_file"))
        .orderBy("bin")
    }
    val oracle = Some(
      s"""WITH files AS (
         |  SELECT doc_id // $DocsPerFile AS file_id, count(*) AS n_docs,
         |         sum(n_chars) AS bytes
         |  FROM documents GROUP BY 1),
         |planned AS (
         |  SELECT file_id, bytes,
         |         CAST(COALESCE(sum(bytes) OVER (ORDER BY file_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           // $TargetBytes AS BIGINT) AS bin
         |  FROM files)
         |SELECT bin, count(*) AS n_files,
         |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
         |       min(file_id) AS first_file, max(file_id) AS last_file
         |FROM planned GROUP BY bin ORDER BY bin""".stripMargin)
  }

  /** Bucketed co-located join — the layout rewrite that deletes the join
    * shuffle: both sides written `bucketBy(8, custkey)` into managed
    * tables, re-read, and joined with broadcast disabled, so the planner
    * must use the bucket co-location (ScaleSpec asserts the no-Exchange
    * plan; this query makes the RESULT oracle-checked: the oracle is the
    * plain join on the raw parquet, so the green hash proves layout
    * changes nothing). Same identity-proof stance as `q_salted_join` and
    * `q_partitioned_roundtrip` — the three physical-layout rewrites each
    * certified against their logical originals.
    */
  object BucketedJoin extends GraftQuery {
    val name = "q_bucketed_join"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val o = Graft.table(spark, sfDir, "orders")
      val c = Graft.table(spark, sfDir, "customer")
      // the derby metastore is per-JVM but the warehouse DIRECTORY is not:
      // a table written by a previous session leaves its location behind
      // with no catalog entry, and saveAsTable refuses the orphan — drop
      // both the entry and the location before writing
      Seq("graft_bjoin_orders", "graft_bjoin_customer").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), t)
        loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(loc, true)
      }
      // Project to the columns the readout touches BEFORE the bucketed
      // write (guide §2.3 "project before the exchange" applied to the
      // layout rewrite's write leg): the bucketed tables exist to serve
      // THIS join, and writing orders' other 7 columns only to drop them
      // at the scan was the query's dominant cost (sub-stage probe at
      // sf0.1/w8: orders write 0.90 s of the 1.7 s total with all
      // columns). The declared result is the aggregate — unchanged; the
      // oracle still replays the plain join on the raw parquet.
      o.select(col("o_custkey"), col("o_totalprice"))
        .write.bucketBy(8, "o_custkey")
        .sortBy("o_custkey").saveAsTable("graft_bjoin_orders")
      c.select(col("c_custkey"), col("c_mktsegment"))
        .write.bucketBy(8, "c_custkey")
        .sortBy("c_custkey").saveAsTable("graft_bjoin_customer")
      Graft.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        spark.table("graft_bjoin_orders")
          .join(spark.table("graft_bjoin_customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            graft.functions.SafeMath.exactSum(col("o_totalprice")).as("revenue"))
          .orderBy("c_mktsegment")
          // materialize before the threshold is restored — the plan must
          // bind under the no-broadcast setting
          .localCheckpoint(eager = true)
      }
    }
    val oracle = Some(
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  val all: Seq[GraftQuery] = Seq(HilbertOrder) ++ Seq(BloomFilter, ZOrder, ZoneMapPrune,
    CompactionPlan, BucketedJoin)
}
