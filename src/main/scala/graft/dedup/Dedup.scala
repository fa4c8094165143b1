package graft.dedup

import graft.{Graft, GraftQuery}
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data-pipeline surface:
  * exact (hash-groupBy), MinHash+LSH banding, SimHash, shingle Jaccard.
  *
  * Scale design: every variant is shuffle-on-fingerprint — the 100 TB path is
  * "compute a small key per document, shuffle only (key, doc_id) pairs".
  * Nothing here materializes pairwise candidates except within an LSH bucket,
  * which is the standard way to keep near-dup detection sub-quadratic.
  */
object Dedup {

  /** Exact dedup via content fingerprint: keep the smallest doc_id per
    * normalized-text hash. One hash-shuffle on a 32-byte key — at 100 TB the
    * shuffle carries fingerprints, never document bodies.
    */
  object ExactDedup extends GraftQuery {
    val name = "q_dedup_exact"
    def run(spark: SparkSession, sfDir: String): DataFrame =
      Graft.table(spark, sfDir, "documents")
        .select(col("doc_id"), md5(lower(trim(col("text")))).as("fp"))
        .groupBy("fp")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"), col("fp"))
        .orderBy("keep_id")
    val oracle = Some(
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
        |       md5(lower(trim(text))) AS fp
        |FROM documents GROUP BY md5(lower(trim(text)))
        |ORDER BY keep_id""".stripMargin)
  }

  // ---------------------------------------------------------------- MinHash

  /** Number of MinHash permutations / LSH band layout. 16 hashes in 8 bands
    * of 2 rows ⇒ P(candidate) = 1-(1-j²)⁸: ≈0.97 at Jaccard 0.6, ≈0.9994 at
    * 0.8, ≈0.28 at 0.2 — tuned for near-dup detection, where misses cost
    * more than extra candidates (the verify stage prunes false positives).
    */
  val NumHashes = 16
  val NumBands = 8
  val RowsPerBand: Int = NumHashes / NumBands
  private val MersennePrime = 2147483647L // 2^31 - 1

  /** Deterministic permutation coefficients (seeded — the reference's
    * k-means used random centers, `pyspark_dominant.py:46`; we seed
    * everything, SURVEY §7 risk list).
    */
  val coefs: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(NumHashes)((rnd.nextInt(Int.MaxValue - 1).toLong + 1, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Word n-gram shingles as space-joined strings (distinct). Built by
    * zipping the token array with its shifted suffixes — n linear passes,
    * not a slice copy per position (the slice-per-position form spent the
    * bulk of the text-query bench). Trailing partial windows concat to
    * null and are compacted away; docs with < n tokens yield no shingles.
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextOps.tokens(text)
    val suffixes = (0 until n).map(i => slice(toks, lit(i + 1), size(toks)))
    val joined = suffixes.reduce((a, b) =>
      zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
    array_distinct(array_compact(joined))
  }

  /** Portable 28-bit hash of each shingle — compute ONCE per row and feed
    * [[minhashSignature]]. Inlining the shingle construction into all 16
    * permutation expressions (the naive formulation) rebuilds the shingle
    * array 16× per row and blows whole-stage codegen size — it benched 50×
    * slower at sf0.1. 28 bits keeps `a*h + b` under 2^63 on both engines
    * ([[graft.functions.PortableHash]]), making the signature — and
    * therefore the LSH bands — DuckDB-oracle-checkable.
    */
  def shingleHashes(shingleCol: Column): Column =
    transform(shingleCol, s => graft.functions.PortableHash.pHash28(s))

  /** MinHash signature over pre-hashed shingles: for each permutation i,
    * min over shingles of ((a_i * h + b_i) mod p) — fused into one array
    * pass by the native [[graft.plans.MinHashExpression]] (the composable
    * k×`array_min(transform(...))` form traverses the array k times;
    * equivalence is spec-verified against it).
    */
  def minhashSignature(hashCol: Column): Column =
    graft.plans.MinHashExpression.minhash_sig(hashCol, coefs.map(_._1), coefs.map(_._2))

  /** Portable LSH bucket key for one band: md5 of the comma-joined slice of
    * the signature. A hex string is a perfectly good shuffle key, and md5 is
    * the hash both engines share ([[graft.functions.PortableHash]]).
    */
  def bandBucket(sig: Column, band: Column): Column =
    md5(concat_ws(",",
      transform(slice(sig, band * lit(RowsPerBand) + lit(1), lit(RowsPerBand)),
        _.cast("string"))))

  /** MinHash + LSH banding: (doc_id, band, bucket) rows. Near-dup candidates
    * are doc pairs sharing any (band, bucket) — a self-equi-join on the
    * bucket key, i.e. a shuffle on small keys, never a cross join. The whole
    * chain (shingle → 28-bit md5 hash → 16 permutations → band buckets) is
    * replayed in ANSI SQL by the oracle below, so the signature math is
    * hash-verified end to end.
    */
  /** DuckDB-oracle CTE chain replaying the full sketch math — tokens →
    * 3-gram shingles → 28-bit hashes → 16 permutation minima → band
    * buckets — over `src` (any relation providing doc_id, text). The ONE
    * source of truth for the replay SQL: every oracle built on MinHash
    * splices this block, so a change to NumHashes/NumBands/coefs updates
    * them all together. Exposes CTEs `sig` (doc_id, i, s) and `bk`
    * (doc_id, band, bucket).
    */
  def minhashOracleCtes(src: String): String = {
    val permRows = coefs.zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    val bandSlice = (1 to RowsPerBand)
      .map(r => s"l[$RowsPerBand*b.band+$r]::VARCHAR").mkString(" || ',' || ")
    s"""toks AS (
       |  SELECT doc_id, t.tok, t.i
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
       |        FROM $src) tsrc,
       |       LATERAL (SELECT unnest(l) AS tok, generate_subscripts(l, 1) AS i) t),
       |sh AS (
       |  SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok || ' ' || t3.tok AS sh
       |  FROM toks t1
       |  JOIN toks t2 ON t1.doc_id = t2.doc_id AND t2.i = t1.i + 1
       |  JOIN toks t3 ON t1.doc_id = t3.doc_id AND t3.i = t1.i + 2),
       |h AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 7))::BIGINT AS h FROM sh),
       |sig AS (
       |  SELECT doc_id, p.i, min((h.h * p.a + p.b) % $MersennePrime) AS s
       |  FROM h, (VALUES $permRows) p(i, a, b)
       |  GROUP BY 1, 2),
       |sigl AS (SELECT doc_id, list(s ORDER BY i) AS l FROM sig GROUP BY 1),
       |bk AS (
       |  SELECT doc_id, b.band, md5($bandSlice) AS bucket
       |  FROM sigl,
       |       (SELECT unnest(generate_series(0, ${NumBands - 1})) AS band) b)""".stripMargin
  }

  object MinHashLsh extends GraftQuery {
    val name = "q_minhash_bands"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val docs = Graft.table(spark, sfDir, "documents")
      val sig = signatures(docs)
      // explode the band index FIRST, then hash: one md5 expression run
      // NumBands times per doc instead of NumBands md5 expressions fused
      // into a single projection (same work, 1/8 the generated code — the
      // fused form's codegen dominated the cold run)
      sig.select(col("doc_id"), col("sig"),
          posexplode(sequence(lit(0), lit(NumBands - 1))))
        .select(col("doc_id"), col("pos").cast("int").as("band"),
          bandBucket(col("sig"), col("col")).as("bucket"))
        .orderBy("doc_id", "band")
    }
    val oracle = Some(
      s"""WITH ${minhashOracleCtes("documents")}
         |SELECT doc_id, CAST(band AS INT) AS band, bucket
         |FROM bk ORDER BY doc_id, band""".stripMargin)
  }

  /** (doc_id, sig) with shingle hashing staged once per row. The hash array
    * is materialized behind a projection boundary so CollapseProject won't
    * re-inline it into all 16 signature expressions. Docs too short to form
    * a single shingle are dropped — their signature would be the sentinel
    * vector, and every such doc would spuriously LSH-collide with every
    * other one.
    */
  def signatures(docs: DataFrame): DataFrame =
    Graft.fanOutSmallScan(docs).select(col("doc_id"),
        // native fused tokenize→shingle→distinct→hash: the composable
        // shingleHashes(shingles(...)) chain runs its higher-order lambdas
        // interpreted and was the residual hot path of the MinHash bench
        // (equivalence spec: ShingleExpressionSpec)
        graft.plans.ShingleExpression.shingle_hashes(col("text"), 3).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), minhashSignature(col("hs")).as("sig"))

  /** Candidate near-dup pairs from LSH buckets, verified by signature
    * agreement (estimated Jaccard = fraction of matching minhashes).
    *
    * Scale stance: the bucket self-join emits O(m²) candidates inside a
    * near-dup cluster of m members — inherent to any banded-LSH pair
    * formulation (measured in the round-11 q_crawl_corpus ×10 audit:
    * 115× in-cluster pairs → 42× shuffled rows when the fixture grows
    * cluster SIZE instead of cluster COUNT). The exact-duplicate head
    * never gets here (md5 collapse runs upstream in every composed
    * pipeline); for corpora whose near-dup clusters grow with the crawl,
    * the production lever is a band-bucket size cap — skip buckets past
    * a bound (they are boilerplate by definition and already caught by
    * coarser gates), keeping the join linear. Not applied here because
    * every registered oracle replays the uncapped semantics exactly.
    */
  def minhashCandidatePairs(docs: DataFrame, minEstJaccard: Double): DataFrame = {
    val sig = signatures(docs)
    // portable band buckets (same as [[MinHashLsh]]) — an engine-private
    // hash here would make any query built on this stage un-oracle-able.
    // Persisted: the self-join below references this frame twice, and
    // without a materialization barrier EACH side re-runs the full
    // tokenize→shingle→hash→signature chain over the corpus — at 100 TB
    // that is a whole extra pass. MEMORY_AND_DISK spills rather than
    // recomputes; the cached rows are (id, 16 longs, band, 32-char bucket),
    // orders of magnitude narrower than the documents they summarize.
    // Cache lifecycle is caller-owned (the returned frame is lazy, so this
    // function can't know when its consumer is done): sessions running
    // many pipelines should `spark.catalog.clearCache()` (or unpersist via
    // the catalog) between runs, as Bench/Verify do per query.
    val banded = sig.select(col("doc_id"), col("sig"),
        posexplode(sequence(lit(0), lit(NumBands - 1))))
      .select(col("doc_id"), col("sig"), col("pos").as("band"),
        bandBucket(col("sig"), col("col")).as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // score-before-dedup: est_jaccard is functional in the pair, so
    // computing it per bucket hit and filtering BEFORE the distinct means
    // the dedup shuffle carries (long, long, double) survivors only — not
    // two 16-long signatures per hit, and not the (majority) sub-threshold
    // candidates. Same rows out; the match count is a 16-compare native
    // loop ([[graft.plans.VectorExpressions.count_eq]] — the zip_with/
    // filter/size spelling ran its lambdas interpreted).
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (graft.plans.VectorExpressions.count_eq(col("a.sig"), col("b.sig"))
          .cast("double") / lit(NumHashes.toDouble)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------- SimHash

  /** SimHash width: 60 bits — the widest hash derivable from an md5 prefix
    * that still fits signed-64 exactly on both engines
    * ([[graft.functions.PortableHash.pHash60]]).
    */
  val SimHashBits = 60

  /** 60-bit SimHash: per bit, sum ±1 votes over token OCCURRENCES, sign →
    * bit (Σ_occurrences ±1 ≡ Σ_distinct-tokens ±tf, the classic
    * tf-weighted definition). SimHash is a pure per-document function, so
    * it computes scan-side through the fused native
    * [[graft.plans.SimHashExpression]] — a projected column, NO explode,
    * NO shuffle (the round-2 aggregator form shuffled one 60-counter
    * buffer per document; [[graft.functions.Aggregators.SimHashAgg]]
    * remains the right tool when the input is already exploded tokens,
    * equivalence spec-verified).
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Graft.fanOutSmallScan(docs).select(col(idCol),
      graft.plans.SimHashExpression.simhash60(col(textCol), SimHashBits).as("simhash"))

  /** DuckDB CTE chain replaying the SimHash math over `src` (any relation
    * providing doc_id, text) — tf-weighted per-bit votes → sign → packed
    * 60-bit hash. The ONE source of truth for the replay SQL, spliced by
    * every oracle built on SimHash. Exposes CTE `sh` (doc_id, simhash).
    */
  def simhashOracleCtes(src: String): String =
    s"""tf AS (
       |  SELECT doc_id, tok, count(*) AS tf,
       |         ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
       |  FROM (SELECT doc_id,
       |               unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |        FROM $src)
       |  GROUP BY doc_id, tok),
       |votes AS (
       |  SELECT doc_id, b.bit,
       |         sum(CASE WHEN ((h >> b.bit) & 1) = 1 THEN tf ELSE -tf END) AS v
       |  FROM tf, (SELECT unnest(generate_series(0, ${SimHashBits - 1})) AS bit) b
       |  GROUP BY 1, 2),
       |sh AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END)
       |              AS BIGINT) AS simhash
       |  FROM votes GROUP BY 1)""".stripMargin

  object SimHash extends GraftQuery {
    val name = "q_simhash"
    def run(spark: SparkSession, sfDir: String): DataFrame =
      simhash(Graft.table(spark, sfDir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    val oracle = Some(
      s"""WITH ${simhashOracleCtes("documents")}
         |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin)
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ maxDist: the banded
    * Hamming join ([[hammingJoin]], 4×16-bit bands) over (id, simhash).
    */
  def simhashNearDupPairs(sims: DataFrame, idCol: String, maxDist: Int): DataFrame =
    hammingJoin(sims.select(col(idCol).as("id"), col("simhash").as("fp")),
        bandBits = 16, maxDist)
      .orderBy("id_a", "id_b")

  /** The SimHash near-dup PAIR stage surfaced as its own oracle query —
    * [[simhashNearDupPairs]] was previously reachable only through specs.
    * The oracle replays block bucketing, the bucket equi-join, and the
    * XOR-popcount Hamming gate, so the full sketch→pairs path is
    * hash-verified in isolation.
    */
  object SimHashPairs extends GraftQuery {
    val name = "q_simhash_pairs"
    val MaxDist = 3
    def run(spark: SparkSession, sfDir: String): DataFrame =
      simhashNearDupPairs(
        simhash(Graft.table(spark, sfDir, "documents"), "doc_id", "text"),
        "doc_id", MaxDist)
    val oracle = Some(
      s"""WITH ${simhashOracleCtes("documents")},
         |blocks AS (
         |  SELECT doc_id, simhash, b.block,
         |         (simhash >> (b.block * 16)) & 65535 AS key
         |  FROM sh, (SELECT unnest(generate_series(0, 3)) AS block) b),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.simhash AS sa, b.simhash AS sb
         |  FROM blocks a JOIN blocks b
         |    ON a.block = b.block AND a.key = b.key AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
         |FROM pairs WHERE bit_count(xor(sa, sb)) <= $MaxDist
         |ORDER BY id_a, id_b""".stripMargin)
  }

  /** CTE chain extending [[minhashOracleCtes]] with the LSH candidate-pair
    * + signature-agreement stage — the ONE source of truth for the pair
    * replay SQL (spliced by every oracle built on MinHash pairs). Exposes
    * CTE `est` (doc_a, doc_b, m = number of agreeing minhashes).
    */
  def minhashPairOracleCtes(src: String): String =
    s"""${minhashOracleCtes(src)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bk a JOIN bk b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT c.doc_a, c.doc_b, count(*) FILTER (WHERE sa.s = sb.s) AS m
       |  FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
       |              JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
       |  GROUP BY 1, 2)""".stripMargin

  /** The MinHash candidate-pair + estimated-Jaccard stage surfaced as its
    * own oracle query (the verify step behind [[MinHashLsh]], composed by
    * [[graft.text.TextPipeline.CleanCorpus]]). The filter in BOTH engines
    * is the same double comparison m/16 ≥ 0.5.
    */
  object MinHashPairs extends GraftQuery {
    val name = "q_minhash_pairs"
    val MinEstJaccard = 0.5
    def run(spark: SparkSession, sfDir: String): DataFrame =
      minhashCandidatePairs(Graft.table(spark, sfDir, "documents"), MinEstJaccard)
    val oracle = Some(
      s"""WITH ${minhashPairOracleCtes("documents")}
         |SELECT doc_a, doc_b,
         |       CAST(m AS DOUBLE) / $NumHashes.0 AS est_jaccard
         |FROM est WHERE CAST(m AS DOUBLE) / $NumHashes.0 >= $MinEstJaccard
         |ORDER BY doc_a, doc_b""".stripMargin)
  }

  /** Connected components of an undirected pair graph by min-label
    * propagation: every node starts labeled with its own id; each round
    * every node takes the minimum label among itself and its neighbors;
    * fixpoint ⇒ label = smallest id in the component. Converges within
    * graph-diameter rounds (near-dup clusters are shallow — dups of one
    * document chain through it), each round one equi-join + one aggregate;
    * the convergence check is a count per round — the standard iterative
    * shape (GraphX/GraphFrames CC does the same), NOT a driver collect of
    * data.
    */
  /** NOTE on cache lifecycle: the returned frame is backed by the final
    * round's persisted labels — caller-owned, like every persisted barrier
    * in this file (`spark.catalog.clearCache()` between runs; Bench/Verify
    * do this per query). Throws if the label fixpoint is not reached
    * within `maxIters` rounds — silently returning under-merged clusters
    * would be a wrong answer, not a degraded one.
    *
    * Small-graph fast path: up to `smallGraphThreshold` edges (measured by
    * the bounded collect that also fetches them, [[smallGraphLabels]]; the
    * measured-gate pattern of [[graft.Graft.fanOutSmallScan]]) the component computation
    * runs as driver-side union-find — a near-dup pair graph is orders of
    * magnitude smaller than its corpus, and at a few hundred edges each
    * propagation round's fixed cost (plan + codegen + 3 jobs, ~0.4 s) is
    * 1000× the actual work. 100k edges ≈ 1.6 MB on the driver — the same
    * bounded-collect budget as the golden-CSV finals. Larger graphs take
    * the distributed loop unchanged (both paths produce identical
    * min-id-per-component labels; DedupSpec runs the union-find
    * differential against the FORCED distributed path).
    */
  /** Driver-side union-find labels for a pair graph of at most `maxEdges`
    * edges (~100k, the golden-CSV bounded-collect budget), or None for a
    * larger graph. One collect of at most `maxEdges + 1` rows both
    * measures the graph and fetches it, so the pair plan runs once.
    * Shared by [[connectedComponents]] and
    * [[StarComponents.starComponents]] so both small-graph gates run the
    * identical reference algorithm.
    */
  private[dedup] def smallGraphLabels(pairs: DataFrame, maxEdges: Long): Option[DataFrame] = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // iterative find + path compression: a recursive find could blow the
    // stack on a worst-case chain near the threshold
    def labels[T: scala.reflect.ClassTag](es: Array[(T, T)])(
        implicit ord: Ordering[T]): Seq[(T, T)] = {
      val parent = scala.collection.mutable.Map[T, T]()
      def find(x: T): T = {
        var r = x
        while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
      }
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val minOfRoot = nodes.groupBy(find).map { case (r, ns) => r -> ns.min }
      nodes.map(n => (n, minOfRoot(find(n)))).toSeq
    }
    val stringIds = pairs.schema.fields.head.dataType ==
      org.apache.spark.sql.types.StringType
    val ends = Seq(col("doc_a"), col("doc_b")).map(c => if (stringIds) c else c.cast("long"))
    val rows = pairs.select(ends: _*)
      .limit(math.min(maxEdges + 1, Int.MaxValue).toInt).collect()
    if (rows.length > maxEdges) None
    else if (stringIds) {
      // string node ids (e.g. the hreflang URL graph): component minima
      // must match Spark's UTF8String BINARY ordering, not
      // java.lang.String's UTF-16 ordering (they differ above the BMP)
      implicit val utf8Ord: Ordering[String] = (a: String, b: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
      Some(labels(rows.map(r => (r.getString(0), r.getString(1)))).toDF("id", "label"))
    } else Some(labels(rows.map(r => (r.getLong(0), r.getLong(1)))).toDF("id", "label"))
  }

  def connectedComponents(pairs: DataFrame, maxIters: Int = 50,
      smallGraphThreshold: Long = 100000L): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val small = smallGraphLabels(pairs, smallGraphThreshold)
    if (small.isDefined) return small.get
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(lvl)
    var cached = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .withColumn("old", col("label")).persist(lvl)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val nbrMin = edges.join(cached, edges("dst") === cached("id"))
        .groupBy(edges("src").as("nid")).agg(min(col("label")).as("nl"))
      // carry the previous label alongside: the convergence check is then
      // a filter+count on the cached frame, not a second per-round join
      val next = cached.join(nbrMin, cached("id") === nbrMin("nid"), "left")
        .select(cached("id").as("id"),
          least(cached("label"), coalesce(col("nl"), cached("label"))).as("label"),
          cached("label").as("old"))
        .persist(lvl)
      changed = next.filter(col("label") =!= col("old")).count()
      cached.unpersist()
      cached = next
      iter += 1
    }
    edges.unpersist()
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIters rounds " +
          "(graph diameter exceeds the cap) — raise maxIters")
    cached.select(col("id"), col("label"))
  }

  /** Banded Hamming near-dup join, the one candidate generator of every
    * fingerprint tier (text SimHash, image dHash/aHash, audio contours).
    * Rows `(id, fp: bigint)`, `id` unique; `fp` splits into 4 bands of
    * `bandBits` bits (16 for 64-bit hashes, 8 for the 31-bit audio
    * contour). Candidates come from an equi-join on (band index, band
    * value) and popcount(fp_a XOR fp_b) ≤ `maxDist` keeps them. A pair
    * within distance 3 leaves a band untouched (pigeonhole), so recall is
    * exact up to 3; above that, gated pairs that share no band are missed.
    * The band rows are persisted (both join sides read them, and their
    * lineage is the whole fingerprint pass). A pair meets once per shared
    * band and survives only at its LOWEST one, so no `distinct` (and no
    * dedup shuffle) is needed. Returns unordered `(id_a, id_b, hamming:
    * int)` with id_a < id_b.
    */
  def hammingJoin(rows: DataFrame, bandBits: Int, maxDist: Int): DataFrame = {
    val mask = lit((1L << bandBits) - 1)
    def band(fp: Column, b: Int): Column = shiftright(fp, b * bandBits).bitwiseAND(mask)
    val bands = rows.select(col("id"), col("fp"),
        posexplode(array((0 until 4).map(band(col("fp"), _)): _*)).as(Seq("band", "key")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val xor = col("a.fp").bitwiseXOR(col("b.fp"))
    // no band below `a.band` is shared: each lower band of the XOR is non-zero
    val lowestShared = (0 until 3)
      .map(b => col("a.band") <= b || band(xor, b) =!= 0).reduce(_ && _)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id") && lowestShared)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(xor).as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** [[hammingJoin]] behind an exact-class collapse, for corpora whose
    * fat head is exact duplicates: the band join sees one row per
    * DISTINCT fingerprint, so bucket occupancy tracks distinct hashes, not
    * corpus size. Rows `(id, fp, ...)`; the result equals the
    * member-level join's.
    *  - `clusters = false`: unordered member pairs `(id_a, id_b, dist:
    *    bigint)`. Fingerprint pairs expand to their members; within-class
    *    pairs (dist 0) come from a self-join on `fp`.
    *  - `clusters = true`: the rows of every cluster member plus `label`,
    *    the min id of its connected component ([[connectedComponents]]
    *    over one node per class). A size ≥ 2 class with no cross-class
    *    edge is a cluster already and keeps its own min id.
    */
  def hammingClassJoin(rows: DataFrame, bandBits: Int, maxDist: Int,
      clusters: Boolean): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val members = rows.persist(lvl)
    if (clusters) {
      val classes = members.groupBy("fp")
        .agg(min(col("id")).as("id"), count(lit(1)).as("n_members"))
        .persist(lvl)
      val labels = connectedComponents(hammingJoin(classes, bandBits, maxDist)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
      members.join(classes.join(labels, Seq("id"), "left")
        .where(col("label").isNotNull || col("n_members") >= 2)
        .select(col("fp"), coalesce(col("label"), col("id")).as("label")), "fp")
    } else {
      // a class is named by its fingerprint, so pairs expand on `fp`
      val cross = hammingJoin(members.select(col("fp").as("id"), col("fp")).distinct(),
          bandBits, maxDist)
        .join(members.select(col("fp").as("id_a"), col("id").as("ma")), "id_a")
        .join(members.select(col("fp").as("id_b"), col("id").as("mb")), "id_b")
        .select(least(col("ma"), col("mb")).as("id_a"),
          greatest(col("ma"), col("mb")).as("id_b"),
          col("hamming").cast("long").as("dist"))
      val within = members.as("x")
        .join(members.as("y"), col("x.fp") === col("y.fp") && col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"), lit(0L).as("dist"))
      cross.unionByName(within)
    }
  }

  /** Cluster-level near-dup dedup: MinHash candidate pairs (est-Jaccard ≥
    * 0.5) → connected components → one row per CLUSTER (id = min doc_id,
    * size) — the transitive semantics real dedup needs (A~B and B~C must
    * collapse to ONE survivor even when A~C was never scored). The oracle
    * replays the component computation with a recursive CTE over the same
    * pair graph.
    */
  object DedupClusters extends GraftQuery {
    val name = "q_dedup_clusters"
    val MinEstJaccard = 0.5
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      // Persisted: the edge union reads the pair set twice and the initial
      // label set a third time, all inside the first propagation round's
      // action — unpersisted, that round re-ran the banded self-join per
      // reference and cost 3.4 s of the query's 4.8 s at sf0.1. The pair
      // set is a few hundred (long, long, double) rows — the cheapest
      // possible barrier. (An earlier measurement that skipping this cache
      // was faster predates the initial-label reference; re-measured: 5.8 s
      // unpersisted vs 2.6 s persisted, CORRECTNESS unchanged.)
      val pairs = minhashCandidatePairs(
        Graft.table(spark, sfDir, "documents"), MinEstJaccard)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      connectedComponents(pairs)
        .groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"))
        .orderBy("cluster_id")
    }
    val oracle = Some(
      s"""WITH RECURSIVE ${minhashPairOracleCtes("documents")},
         |${componentOracleCtes(MinEstJaccard)}
         |SELECT label AS cluster_id, count(*) AS cluster_size
         |FROM labels GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Recursive-CTE replay of [[connectedComponents]] over the est-Jaccard
    * pair graph (shared by [[DedupClusters]] and
    * [[ClusterRepresentative]]); expects the `est` CTE from
    * [[minhashPairOracleCtes]] in scope and must run under
    * `WITH RECURSIVE`.
    */
  def componentOracleCtes(threshold: Double): String =
    s"""p AS (SELECT doc_a, doc_b FROM est
       |      WHERE CAST(m AS DOUBLE) / $NumHashes.0 >= $threshold),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |          UNION SELECT doc_b, doc_a FROM p),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |labels AS (
       |  SELECT src AS id, least(src, min(dst)) AS label
       |  FROM reach GROUP BY src)""".stripMargin

  /** Cluster curation policy: which document SURVIVES a near-dup cluster.
    * Keep-min-id ([[DedupClusters]]) is the cheap default; this operator
    * implements the production policy — keep the highest-QUALITY member
    * (ties → smaller id), reporting each cluster's representative next to
    * its size. Composition: the same pair graph + components, a quality
    * score per member ([[graft.text.TextOps.qualityExpr]] — the one shared
    * expression shape), and a per-cluster argmax window. Only documents in
    * clusters are scored after the semi-join — at corpus scale the cluster
    * membership is orders of magnitude smaller than the corpus, so the
    * quality pass is bounded by the dedup output, not the input.
    */
  object ClusterRepresentative extends GraftQuery {
    val name = "q_cluster_representative"
    val MinEstJaccard = 0.5
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val docs = Graft.table(spark, sfDir, "documents")
      val pairs = minhashCandidatePairs(docs, MinEstJaccard)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val labels = connectedComponents(pairs)
      val members = docs
        .join(labels, docs("doc_id") === labels("id"))
        .select(col("label"), col("doc_id"),
          graft.text.TextOps.qualityExpr(
            graft.text.TextOps.tokens(col("text"))).as("quality"))
      val w = Window.partitionBy("label")
        .orderBy(col("quality").desc, col("doc_id").asc)
      members
        .select(col("label"), col("doc_id"), col("quality"),
          row_number().over(w).as("rn"),
          count(lit(1)).over(Window.partitionBy("label")).as("cluster_size"))
        .filter(col("rn") === 1)
        .select(col("label").as("cluster_id"), col("doc_id").as("rep_doc"),
          col("quality").as("rep_quality"), col("cluster_size"))
        .orderBy("cluster_id")
    }
    val oracle = Some(
      s"""WITH RECURSIVE ${minhashPairOracleCtes("documents")},
         |${componentOracleCtes(MinEstJaccard)},
         |members AS (
         |  SELECT l.label, d.doc_id,
         |         ${graft.text.TextOps.qualitySql("string_split_regex(trim(d.text), '\\s+')")} AS quality
         |  FROM labels l JOIN documents d ON d.doc_id = l.id),
         |sel AS (
         |  SELECT label, doc_id, quality,
         |         row_number() OVER (PARTITION BY label
         |                            ORDER BY quality DESC, doc_id ASC) AS rn,
         |         count(*) OVER (PARTITION BY label) AS cluster_size
         |  FROM members)
         |SELECT label AS cluster_id, doc_id AS rep_doc,
         |       quality AS rep_quality, CAST(cluster_size AS BIGINT) AS cluster_size
         |FROM sel WHERE rn = 1 ORDER BY cluster_id""".stripMargin)
  }

  // ------------------------------------------------------- Shingle Jaccard

  /** Word-3-gram Jaccard over a bounded candidate set — the exact
    * verification stage behind MinHash. SQL-expressible via positional
    * self-joins, so it carries a DuckDB oracle.
    */
  object ShingleJaccard extends GraftQuery {
    val name = "q_shingle_jaccard"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val docs = Graft.table(spark, sfDir, "documents").filter(col("doc_id") < 20)
      val sh = docs.select(col("doc_id"),
        explode(shingles(col("text"), 3)).as("sh"))
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = sh.as("a").join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(sizes.withColumnRenamed("n", "n_a"), col("doc_a") === sizes("doc_id"))
        .drop("doc_id")
        .join(sizes.withColumnRenamed("n", "n_b"), col("doc_b") === sizes("doc_id"))
        .select(col("doc_a"), col("doc_b"),
          (col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter")).cast("double")).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }
    val oracle = Some(
      """WITH toks AS (
        |  SELECT doc_id, t.tok, t.i
        |  FROM (SELECT doc_id,
        |               string_split_regex(trim(text), '\s+') AS l
        |        FROM documents WHERE doc_id < 20) d,
        |       LATERAL (SELECT unnest(l) AS tok, generate_subscripts(l, 1) AS i) t),
        |sh AS (
        |  SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok || ' ' || t3.tok AS sh
        |  FROM toks t1
        |  JOIN toks t2 ON t1.doc_id = t2.doc_id AND t2.i = t1.i + 1
        |  JOIN toks t3 ON t1.doc_id = t3.doc_id AND t3.i = t1.i + 2),
        |s AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |i AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |       CAST(n_inter AS DOUBLE)
        |       / CAST(sa.n + sb.n - n_inter AS DOUBLE) AS jaccard
        |FROM i JOIN s sa ON i.doc_a = sa.doc_id
        |       JOIN s sb ON i.doc_b = sb.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin)
  }

  /** Embedding-cosine near-dup pairs over a bounded id range — the
    * semantic-dedup member of the family (exact → MinHash → SimHash →
    * embedding cosine). Brute-force here for oracle-ability; the scale path
    * is LSH bucketing ([[graft.similarity.Similarity.lshTopK]] machinery)
    * exactly as the similarity ops do it.
    */
  object EmbedNearDup extends GraftQuery {
    val name = "q_embed_neardup"
    import graft.plans.VectorExpressions.{dot_long, quantize_vec}
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val e = Graft.table(spark, sfDir, "embeddings").filter(col("vec_id") < 100)
        .select(col("vec_id"), quantize_vec(col("embedding")).as("q"))
        .select(col("vec_id"), col("q"),
          sqrt(dot_long(col("q"), col("q")).cast("double")).as("nrm"))
      val a = e.select(col("vec_id").as("id_a"), col("q").as("qa"), col("nrm").as("na"))
      val b = e.select(col("vec_id").as("id_b"), col("q").as("qb"), col("nrm").as("nb"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (dot_long(col("qa"), col("qb")).cast("double") /
            (col("na") * col("nb"))).as("cosine"))
        .filter(col("cosine") >= lit(0.3))
        .orderBy("id_a", "id_b")
    }
    val oracle = Some(
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100),
        |quant AS (
        |  SELECT vec_id, i,
        |         CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT) AS q
        |  FROM (SELECT vec_id, unnest(embedding) AS v,
        |               generate_subscripts(embedding, 1) AS i FROM e)),
        |norms AS (SELECT vec_id, sqrt(CAST(sum(q*q) AS DOUBLE)) AS nrm
        |          FROM quant GROUP BY 1),
        |dots AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         CAST(sum(a.q * b.q) AS DOUBLE) AS dot
        |  FROM quant a JOIN quant b ON a.i = b.i AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, dot / (na.nrm * nb.nrm) AS cosine
        |FROM dots JOIN norms na ON id_a = na.vec_id
        |          JOIN norms nb ON id_b = nb.vec_id
        |WHERE dot / (na.nrm * nb.nrm) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin)
  }

  /** Incremental ingest dedup — the ONLINE twin of [[ExactDedup]]: a new
    * batch arrives against an already-ingested base corpus, and only the
    * batch documents whose content fingerprint is absent from the base are
    * admitted. The batch split here is a deterministic hash slice (20%
    * "incoming"), standing in for the arrival boundary a production run
    * gets from its ingest log.
    *
    * Scale shape: the base side reduces to DISTINCT 32-byte fingerprints
    * before the join — the shuffle carries fingerprints, never text, and
    * the incoming batch (typically orders of magnitude smaller than the
    * base) probes it with one left join; per-source admission counts are
    * the final small-key aggregate. The narrow fingerprint frame is
    * persisted because both sides of the split derive from it (one text
    * scan + md5 pass total, not two).
    */
  object IncrementalDedup extends GraftQuery {
    val name = "q_incremental_dedup"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import graft.functions.PortableHash.pHash28
      val fps = Graft.table(spark, sfDir, "documents")
        .select(col("doc_id"), col("source"),
          md5(lower(trim(col("text")))).as("fp"),
          (pHash28(concat(lit("inc:"), col("doc_id").cast("string"))) % 5 === 0)
            .as("incoming"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val baseFps = fps.filter(!col("incoming"))
        .select(col("fp")).distinct()
        .withColumn("hit", lit(1L))
      fps.filter(col("incoming"))
        .join(baseFps, Seq("fp"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_incoming"),
          sum(coalesce(col("hit"), lit(0L))).as("n_dup_vs_base"))
        .select(col("source"), col("n_incoming"), col("n_dup_vs_base"),
          (col("n_incoming") - col("n_dup_vs_base")).as("n_new"))
        .orderBy("source")
    }
    val oracle = Some(
      """WITH d AS (
        |  SELECT doc_id, source, md5(lower(trim(text))) AS fp,
        |         ('0x' || substr(md5('inc:' || doc_id::VARCHAR), 1, 7))::BIGINT
        |           % 5 = 0 AS incoming
        |  FROM documents),
        |base AS (SELECT DISTINCT fp FROM d WHERE NOT incoming),
        |inc AS (
        |  SELECT d.source,
        |         CASE WHEN b.fp IS NULL THEN 0 ELSE 1 END AS dup
        |  FROM d LEFT JOIN base b USING (fp) WHERE incoming)
        |SELECT source, count(*) AS n_incoming,
        |       CAST(sum(dup) AS BIGINT) AS n_dup_vs_base,
        |       count(*) - CAST(sum(dup) AS BIGINT) AS n_new
        |FROM inc GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Prefix-filtering set-similarity join (the PPJoin/AllPairs candidate
    * rule): all document pairs with 3-gram-shingle-set Jaccard ≥ 0.6,
    * found WITHOUT an all-shared-elements self-join. Each doc's distinct
    * shingles are ranked by global rarity (document frequency asc, shingle
    * asc); a doc of m shingles keeps only its first `m − ⌈0.6·m⌉ + 1`
    * rarest as its prefix, and candidate pairs must share a PREFIX
    * element — complete for the threshold (if |A∩B|/|A∪B| ≥ t, the two
    * rarity-ordered sets cannot avoid colliding inside their prefixes) and
    * sub-quadratic in practice because prefixes hold only rare shingles,
    * whose postings lists are short. ⌈0.6·m⌉ is `(6m+9) div 10` — pure
    * integer math. Shingles, not unigram tokens, are the set elements: on
    * a bounded vocabulary token SETS saturate (most docs contain most
    * words, Jaccard → 1 corpus-wide), while the 3-gram space stays
    * discriminative — the same representation the MinHash chain estimates,
    * making this the EXACT counterpart LSH recall is measured against.
    *
    * Verification joins the candidate ids back to per-doc sorted shingle
    * arrays and filters on `10·|∩| ≥ 6·|∪|` (exact integers; the reported
    * jaccard is one IEEE division). The oracle replays the SEMANTICS — the
    * full shared-shingle pair join with the same threshold — so the green
    * row proves the prefix filter lost nothing.
    *
    * Scale shape: the shingle-df aggregate broadcasts onto the shingle
    * stream; prefix selection is a doc-keyed window; the candidate join
    * shuffles (prefix-shingle, doc_id) pairs only; the verify join carries
    * shingle arrays for candidate pairs only. No corpus self-join exists
    * in the plan.
    */
  object PrefixJoin extends GraftQuery {
    val name = "q_prefix_join"
    def run(spark: SparkSession, sfDir: String): DataFrame =
      prefixJoinPairs(Graft.table(spark, sfDir, "documents"))
        .orderBy("doc_a", "doc_b")
    val oracle = Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
        |  FROM documents),
        |t AS (
        |  SELECT DISTINCT doc_id,
        |         l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS tok
        |  FROM toks,
        |       LATERAL (SELECT unnest(generate_series(1, len(l) - 2)) AS i) g),
        |s AS (SELECT doc_id, count(*) AS m FROM t GROUP BY 1),
        |i AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_inter,
        |       sa.m + sb.m - n_inter AS n_union,
        |       CAST(n_inter AS DOUBLE)
        |         / CAST(sa.m + sb.m - n_inter AS DOUBLE) AS jaccard
        |FROM i JOIN s sa ON i.doc_a = sa.doc_id
        |       JOIN s sb ON i.doc_b = sb.doc_id
        |WHERE n_inter * 10 >= (sa.m + sb.m - n_inter) * 6
        |ORDER BY doc_a, doc_b""".stripMargin)
  }

  /** The exact pair set behind [[PrefixJoin]] (unordered): every document
    * pair with 3-gram-shingle Jaccard ≥ 0.6, computed by the prefix-filter
    * algorithm. Also the GROUND TRUTH side of [[MinhashRecall]].
    */
  def prefixJoinPairs(docs: DataFrame): DataFrame = {
      // persisted barriers (caller-owned, same lifecycle stance as
      // minhashCandidatePairs): docToks has THREE consumers (the hashed
      // image below and both sides of the exact verify join), docHash has
      // three (the df/prefix chain and both sides of the hashed
      // pre-verify), and prefixes feeds both sides of the candidate
      // self-join — without the barriers each consumer re-shingles the
      // corpus.
      // UNSORTED shingle arrays (r15): the global array_sort of the string
      // arrays was ~3.2 s of the 4.9 s docToks materialization at sf1
      // (probe), but sorted STRING arrays are only consumed by the exact
      // verify of the few threshold-passing survivors — so the sort moves
      // there (per-survivor array_sort over ~2.5k pairs, negligible). The
      // hashed image sorts its longs inside the kernel regardless.
      val docToks = docs.select(col("doc_id"),
          graft.plans.ShingleExpression
            .shingle_strings(col("text"), 3).as("toks"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the sorted xxhash64 image of each doc's shingle set (r15): the
      // fixed-width proxy every stage but the final exact verify runs on —
      // the explode below reads it (the per-token xxhash64 is paid once
      // here, not per exploded row), and the hashed PRE-VERIFY merges it
      // (8-byte elements through the verify joins where ~23-byte strings
      // rode before; guide §2.3 "narrower types"). Persisted for the same
      // reason as docToks: three consumers (explode + both prefilter join
      // sides). hash_sorted KEEPS collision duplicates, so the multiset
      // merge count is provably ≥ the true string intersection (see the
      // kernel's soundness note) — the prefilter can only pass extra
      // pairs, which the exact string verify then removes.
      val docHash = docToks.select(col("doc_id"),
          graft.plans.SortedArrayExpressions.hash_sorted(col("toks")).as("hs"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // shingle_strings is DISTINCT by construction, so the set size m is
      // just size(hs) — carried through the explode instead of a second
      // count().over(partitionBy(doc_id)) window, which cost an extra
      // WindowExec pass over the full shingle stream (the r5 regression:
      // two windows over (doc_id) where one suffices)
      // the candidate machinery needs only EQUALITY and a common TOTAL
      // ORDER on shingles, so the exploded token IS the 64-bit hash and
      // never crosses an exchange as a string: the df aggregate keys
      // on the long, and the rarity window orders by (df, tk) instead of
      // (df, tok) — fixed-width 32-byte rows through both exchanges where
      // the string rode before (guide §2.3 "narrower types"). Completeness
      // under hashing: a collision only MERGES tokens into one equivalence
      // class keyed tk — classes are consecutive under the (df, tk) order,
      // a true pair's first shared token lies in both docs' minimal shared
      // class (one tk), the join matches on tk, and s ≥ ⌈t·m⌉ still forces
      // that class inside both prefixes — so no true pair is lost, extra
      // candidates are removed by the exact string-array verify below,
      // which is why the reported rows are identical. (Exploding hs
      // instead of toks yields the IDENTICAL (doc_id, m, tk) multiset:
      // hash_sorted is elementwise xxhash64 of the same array.)
      val toks = docHash
        .select(col("doc_id"), size(col("hs")).cast("long").as("m"),
          explode(col("hs")).as("tk"))
      val df = toks.groupBy("tk").agg(count(lit(1)).as("df"))
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("df").asc, col("tk").asc)
      // the df attach is UNHINTED (r15): the forced broadcast shipped the
      // whole distinct-shingle frame — a table that GROWS with the corpus,
      // the unbounded-broadcast class — and measured slower than letting
      // the planner shuffle-join it (sf1 probe: prefixes stage 4.06 s
      // hinted → 3.21 s unhinted; AQE still picks broadcast when the df
      // frame is genuinely small).
      val prefixes = toks.join(df, "tk")
        .select(col("doc_id"), col("tk"), col("m"),
          row_number().over(wDoc).as("pos"))
        .filter(col("pos") <= col("m") - expr("(6 * m + 9) div 10") + 1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the two classic PPJoin prunes ride the candidate join as pure
      // integer residuals (measured 300k → 69k verify pairs on this corpus):
      //   length filter — J ≥ 0.6 forces 10·min(m) ≥ 6·max(m);
      //   positional filter — at the pair's FIRST collision (its rarest
      //   shared shingle) nothing earlier is shared, so overlap ≤
      //   1 + min(m−pos); require that to reach the overlap threshold
      //   α = ⌈0.6(ma+mb)/1.6⌉ = (3(ma+mb)+7) div 8. True pairs always
      //   survive via their first-collision row (soundness), later
      //   collision rows may be pruned (they were duplicates anyway).
      val cands = prefixes.as("a")
        .join(prefixes.as("b"),
          col("a.tk") === col("b.tk") && col("a.doc_id") < col("b.doc_id") &&
            col("a.m") * 10 >= col("b.m") * 6 &&
            col("b.m") * 10 >= col("a.m") * 6 &&
            expr("1 + least(a.m - a.pos, b.m - b.pos) >= " +
              "(3 * (a.m + b.m) + 7) div 8"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.m").as("ma"), col("b.m").as("mb"))
        .distinct()
      // two-stage verify (r15). The Jaccard ≥ 0.6 gate in integers:
      //   n·10 ≥ (ma+mb−n)·6  ⟺  n ≥ ⌈6(ma+mb)/16⌉ = (3(ma+mb)+7) div 8 = α
      // — the SAME α as the positional filter. Stage 1 merges the hashed
      // long arrays with a threshold-aware early exit (abort as soon as
      // count + min(remaining) < α): sound because the multiset hash merge
      // can only INFLATE (kernel note), so a hashed count < α proves the
      // pair fails. Stage 2 attaches the string arrays for the few
      // survivors only and reports the EXACT count — the n_inter ≥ 0
      // filter is then bit-identical to the retired n·10 ≥ n_union·6
      // (integer-⌈⌉ equivalence above; the kernel returns −1 below α and
      // the exact count at or above it). Measured at sf1 (probe, hot):
      // plain string merge over all 687k candidates 7.8 s → 1.2 s; the
      // verify joins now carry 8-byte elements for the candidate set and
      // ~23-byte strings for ~2.5k survivors.
      val alpha = expr("(3 * (ma + mb) + 7) div 8")
      val pre = cands
        .join(docHash.select(col("doc_id").as("doc_a"), col("hs").as("ha")),
          "doc_a")
        .join(docHash.select(col("doc_id").as("doc_b"), col("hs").as("hb")),
          "doc_b")
        .filter(graft.plans.SortedArrayExpressions
          .sorted_long_intersect_atleast(col("ha"), col("hb"), alpha) >= 0)
        .select(col("doc_a"), col("doc_b"), col("ma"), col("mb"))
      pre
        .join(docToks.select(col("doc_id").as("doc_a"), col("toks").as("ta")),
          "doc_a")
        .join(docToks.select(col("doc_id").as("doc_b"), col("toks").as("tb")),
          "doc_b")
        // exact |∩| via the sorted-merge kernel: the arrays are distinct by
        // construction and sorted HERE (survivors only — the global string
        // sort this replaces was ~3.2 s at sf1), so the linear merge counts
        // exactly what size(array_intersect(...)) counted, without the
        // per-pair hash-set build and intersection-array allocation
        .select(col("doc_a"), col("doc_b"),
          graft.plans.SortedArrayExpressions
            .sorted_intersect_atleast(
              array_sort(col("ta")), array_sort(col("tb")), alpha)
            .as("n_inter"),
          col("ma"), col("mb"))
        .filter(col("n_inter") >= 0)
        .select(col("doc_a"), col("doc_b"), col("n_inter"),
          (col("ma") + col("mb") - col("n_inter")).as("n_union"))
        .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"),
          (col("n_inter").cast("double") / col("n_union").cast("double"))
            .as("jaccard"))
  }

  /** Sketch-quality evaluation: precision/recall of the MinHash-LSH
    * candidate stage (est-Jaccard ≥ 0.5 gate, the `q_minhash_pairs`
    * pipeline) against the EXACT shingle-Jaccard ≥ 0.6 pair set computed
    * by [[prefixJoinPairs]] — "did the sketch find the real near-dups?",
    * the closing-the-loop measurement a production dedup pipeline runs on
    * samples before trusting the sketch at full scale. Counts are exact;
    * precision/recall are single IEEE divisions, so the whole evaluation
    * hash-matches the oracle (which replays BOTH chains — the portable
    * minhash math and the exact pair join — in one SQL statement).
    *
    * Plan shape: both sides are the already-audited sub-quadratic
    * pipelines; the comparison is a full outer join on (doc_a, doc_b)
    * pair keys followed by a 1-row aggregate.
    */
  object MinhashRecall extends GraftQuery {
    val name = "q_minhash_recall"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val docs = Graft.table(spark, sfDir, "documents")
      val truth = prefixJoinPairs(docs)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("is_t"))
      val pred = minhashCandidatePairs(docs, 0.5)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("is_p"))
      truth.join(pred, Seq("doc_a", "doc_b"), "full_outer")
        .agg(count(col("is_t")).as("n_truth"),
          count(col("is_p")).as("n_pred"),
          count(when(col("is_t").isNotNull && col("is_p").isNotNull, 1))
            .as("n_hit"))
        .select(col("n_truth"), col("n_pred"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_pred").cast("double"))
            .as("precision"),
          (col("n_hit").cast("double") / col("n_truth").cast("double"))
            .as("recall"))
    }
    val oracle = Some(
      // splices the factored pair-replay chain (minhashPairOracleCtes →
      // CTEs cand/est) rather than restating it — one source of truth for
      // the sketch SQL, per the chain's own contract
      s"""WITH ${minhashPairOracleCtes("documents")},
         |sz AS (SELECT doc_id, count(*) AS m2 FROM sh GROUP BY 1),
         |ip AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT da, db
         |  FROM ip JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
         |  WHERE ni * 10 >= (sa.m2 + sb.m2 - ni) * 6),
         |pred AS (
         |  SELECT doc_a AS da, doc_b AS db FROM est
         |  WHERE CAST(m AS DOUBLE) / ${NumHashes.toDouble} >= 0.5),
         |j AS (
         |  SELECT t.da AS tda, p.da AS pda
         |  FROM truth t FULL OUTER JOIN pred p ON t.da = p.da AND t.db = p.db)
         |SELECT count(tda) AS n_truth, count(pda) AS n_pred,
         |       count(CASE WHEN tda IS NOT NULL AND pda IS NOT NULL
         |                  THEN 1 END) AS n_hit,
         |       CAST(count(CASE WHEN tda IS NOT NULL AND pda IS NOT NULL
         |                       THEN 1 END) AS DOUBLE)
         |         / CAST(count(pda) AS DOUBLE) AS precision,
         |       CAST(count(CASE WHEN tda IS NOT NULL AND pda IS NOT NULL
         |                       THEN 1 END) AS DOUBLE)
         |         / CAST(count(tda) AS DOUBLE) AS recall
         |FROM j""".stripMargin)
  }

  /** SimHash-quality evaluation against the same exact shingle-Jaccard
    * ≥ 0.6 truth set as [[MinhashRecall]] — the fourth and last
    * approximate family's scorecard. SimHash Hamming ≤ 3 proxies
    * tf-vector COSINE, not set Jaccard, so unlike the MinHash stage it is
    * NOT tuned to this truth set: the measured precision/recall is the
    * honest cross-proxy disagreement a pipeline owner needs before
    * substituting one sketch for the other. Same evaluation shape (full
    * outer join on pair keys + a 1-row aggregate); the oracle replays the
    * exact pair chain AND the full SimHash block-bucket chain in one
    * statement.
    */
  object SimhashRecall extends GraftQuery {
    val name = "q_simhash_recall"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val docs = Graft.table(spark, sfDir, "documents")
      val truth = prefixJoinPairs(docs)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("is_t"))
      val pred = simhashNearDupPairs(simhash(docs, "doc_id", "text"),
          "doc_id", SimHashPairs.MaxDist)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          lit(1L).as("is_p"))
      truth.join(pred, Seq("doc_a", "doc_b"), "full_outer")
        .agg(count(col("is_t")).as("n_truth"),
          count(col("is_p")).as("n_pred"),
          count(when(col("is_t").isNotNull && col("is_p").isNotNull, 1))
            .as("n_hit"))
        .select(col("n_truth"), col("n_pred"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_pred").cast("double"))
            .as("precision"),
          (col("n_hit").cast("double") / col("n_truth").cast("double"))
            .as("recall"))
    }
    val oracle = Some(
      s"""WITH jtoks AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
         |  FROM documents),
         |jt AS (
         |  SELECT DISTINCT doc_id,
         |         l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS tok
         |  FROM jtoks,
         |       LATERAL (SELECT unnest(generate_series(1, len(l) - 2)) AS i) g),
         |js AS (SELECT doc_id, count(*) AS m FROM jt GROUP BY 1),
         |jp AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
         |  FROM jt a JOIN jt b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT da, db
         |  FROM jp JOIN js sa ON da = sa.doc_id JOIN js sb ON db = sb.doc_id
         |  WHERE ni * 10 >= (sa.m + sb.m - ni) * 6),
         |${simhashOracleCtes("documents")},
         |blocks AS (
         |  SELECT doc_id, simhash, b.block,
         |         (simhash >> (b.block * 16)) & 65535 AS key
         |  FROM sh, (SELECT unnest(generate_series(0, 3)) AS block) b),
         |pred AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM blocks a JOIN blocks b
         |    ON a.block = b.block AND a.key = b.key AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= ${SimHashPairs.MaxDist}),
         |j AS (
         |  SELECT t.da AS tda, p.da AS pda
         |  FROM truth t FULL OUTER JOIN pred p ON t.da = p.da AND t.db = p.db)
         |SELECT count(tda) AS n_truth, count(pda) AS n_pred,
         |       count(CASE WHEN tda IS NOT NULL AND pda IS NOT NULL
         |                  THEN 1 END) AS n_hit,
         |       CAST(count(CASE WHEN tda IS NOT NULL AND pda IS NOT NULL
         |                       THEN 1 END) AS DOUBLE)
         |         / CAST(count(pda) AS DOUBLE) AS precision,
         |       CAST(count(CASE WHEN tda IS NOT NULL AND pda IS NOT NULL
         |                       THEN 1 END) AS DOUBLE)
         |         / CAST(count(tda) AS DOUBLE) AS recall
         |FROM j""".stripMargin)
  }

  /** Embedding near-dup at SCALE — the LSH-bucketed pair generator that
    * [[EmbedNearDup]]'s doc promises: candidate pairs form only inside
    * sign-LSH buckets (an equi-join on small int keys, the same 8×4 index
    * as `q_lsh_topk`), then exact quantized cosine verifies each
    * candidate. No id bound, no cross join — this is the all-pairs
    * semantic-dedup plan that survives a 1000-executor corpus, with the
    * usual LSH trade (a pair hashing into no shared bucket is missed;
    * `q_ann_recall` quantifies that rate for this exact index layout).
    *
    * The keyed frame (quantize + norm + 8 bucket keys per vector) is
    * persisted: BOTH sides of the bucket self-join read it — unpersisted,
    * each side would recompute the full quantize+hash pass (the
    * minhash-self-join lesson, applied here from day one). The verify
    * filter runs BEFORE pair dedup so the dedup exchange carries only
    * above-threshold (id, id, cosine) triples.
    */
  object EmbedNearDupLsh extends GraftQuery {
    val name = "q_embed_neardup_lsh"
    import graft.plans.VectorExpressions.{dot_long, quantize_vec}
    import graft.similarity.Similarity
    private val Threshold = 0.3
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val keyed = Graft.table(spark, sfDir, "embeddings")
        .select(col("vec_id"), quantize_vec(col("embedding")).as("q"))
        .select(col("vec_id"), col("q"),
          sqrt(dot_long(col("q"), col("q")).cast("double")).as("nrm"),
          explode(Similarity.lshKeysNative(col("q"), 64)).as("key"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val a = keyed.select(col("key"), col("vec_id").as("id_a"),
        col("q").as("qa"), col("nrm").as("na"))
      val b = keyed.select(col("key"), col("vec_id").as("id_b"),
        col("q").as("qb"), col("nrm").as("nb"))
      a.join(b, Seq("key"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (dot_long(col("qa"), col("qb")).cast("double") /
            (col("na") * col("nb"))).as("cosine"))
        .filter(col("cosine") >= Threshold)
        .dropDuplicates("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }
    val oracle = Some(
      s"""WITH planes AS (
         |  SELECT t.t, p.p, i.i,
         |         CASE WHEN ('0x' || substr(md5(t.t::VARCHAR || '_' ||
         |                      p.p::VARCHAR || '_' || i.i::VARCHAR), 1, 1))::INT
         |                   % 2 = 1
         |              THEN 1 ELSE -1 END AS w
         |  FROM (SELECT unnest(generate_series(0, ${Similarity.NumTables - 1})) AS t) t,
         |       (SELECT unnest(generate_series(0, ${Similarity.PlanesPerTable - 1})) AS p) p,
         |       (SELECT unnest(generate_series(0, 63)) AS i) i),
         |q AS (
         |  SELECT vec_id, i,
         |         CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT) AS q
         |  FROM (SELECT vec_id, unnest(embedding) AS v,
         |               generate_subscripts(embedding, 1) AS i FROM embeddings)),
         |dots AS (
         |  SELECT q.vec_id, pl.t, pl.p, sum(q.q * pl.w) AS d
         |  FROM q JOIN planes pl ON q.i = pl.i + 1
         |  GROUP BY 1, 2, 3),
         |keys AS (
         |  SELECT vec_id,
         |         t * ${1 << Similarity.PlanesPerTable}
         |         + CAST(sum(CASE WHEN d >= 0 THEN (1 << p) ELSE 0 END) AS INT) AS key
         |  FROM dots GROUP BY vec_id, t),
         |cand AS (
         |  SELECT DISTINCT ka.vec_id AS id_a, kb.vec_id AS id_b
         |  FROM keys ka JOIN keys kb ON ka.key = kb.key
         |  WHERE ka.vec_id < kb.vec_id),
         |norms AS (SELECT vec_id, sqrt(CAST(sum(q*q) AS DOUBLE)) AS nrm
         |          FROM q GROUP BY 1),
         |comp AS (
         |  SELECT c.id_a, c.id_b, sum(qa.q * qb.q) AS dot
         |  FROM cand c JOIN q qa ON qa.vec_id = c.id_a
         |              JOIN q qb ON qb.vec_id = c.id_b AND qb.i = qa.i
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |       CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) AS cosine
         |FROM comp JOIN norms na ON id_a = na.vec_id
         |          JOIN norms nb ON id_b = nb.vec_id
         |WHERE CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) >= $Threshold
         |ORDER BY id_a, id_b""".stripMargin)
  }

  /** [[EmbedNearDupLsh]] with the plane count ADAPTED to the corpus: the
    * fixed-width variant's documented weakness is that bucket occupancy —
    * and with it the candidate-pair volume — grows linearly with the
    * corpus (pairs ~quadratically), which the round-7 shuffle audit
    * MEASURED at 312× shuffled rows for 10× vectors. The production
    * stance was always "planes ∝ log n"; this operator implements it:
    * planes per table = the smallest p in [4, 24] with 2^p · 16 ≥ n
    * (target mean occupancy 16 per table), chosen by EXACT integer
    * arithmetic from a 1-row count (the documented bounded-collect
    * pattern — same class as the k-means k·dim centroid fetch), so the
    * oracle replays the choice from `count(*)` with the same shift
    * formula, float-free. Each doubling of the corpus adds one plane and
    * halves per-bucket occupancy back to target: candidate volume stays
    * ~linear (measured sf0.1 → sf1 in PLANS.md "Shuffle-volume audit" —
    * the adaptive follow-up). Precision/recall moves with p exactly as
    * sign-LSH theory says; the recall tier (`q_ann_recall` etc.)
    * measures that axis.
    */
  object EmbedNearDupLshAdaptive extends GraftQuery {
    val name = "q_embed_neardup_lsh_adaptive"
    import graft.plans.VectorExpressions.{dot_long, quantize_vec}
    import graft.similarity.Similarity
    private val Threshold = 0.3
    private val TargetBucket = 16
    /** Smallest p in [4, 24] with 2^p · TargetBucket ≥ n — integer-exact. */
    def planesFor(n: Long): Int =
      (4 to 24).find(p => (1L << p) * TargetBucket >= n).getOrElse(24)
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val emb = Graft.table(spark, sfDir, "embeddings")
      val p = planesFor(emb.count()) // bounded: one count action, 1 row
      val keyed = emb
        .select(col("vec_id"), quantize_vec(col("embedding")).as("q"))
        .select(col("vec_id"), col("q"),
          sqrt(dot_long(col("q"), col("q")).cast("double")).as("nrm"),
          explode(Similarity.lshKeysNative(col("q"), 64,
            Similarity.NumTables, p)).as("key"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val a = keyed.select(col("key"), col("vec_id").as("id_a"),
        col("q").as("qa"), col("nrm").as("na"))
      val b = keyed.select(col("key"), col("vec_id").as("id_b"),
        col("q").as("qb"), col("nrm").as("nb"))
      a.join(b, Seq("key"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (dot_long(col("qa"), col("qb")).cast("double") /
            (col("na") * col("nb"))).as("cosine"))
        .filter(col("cosine") >= Threshold)
        .dropDuplicates("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }
    val oracle = Some(
      s"""WITH pp AS (
         |  SELECT min(p.p) AS p
         |  FROM (SELECT unnest(range(4, 25)) AS p) p
         |  WHERE (CAST(1 AS BIGINT) << p.p) * $TargetBucket >=
         |        (SELECT count(*) FROM embeddings)),
         |planes AS (
         |  SELECT t.t, p.p, i.i,
         |         CASE WHEN ('0x' || substr(md5(t.t::VARCHAR || '_' ||
         |                      p.p::VARCHAR || '_' || i.i::VARCHAR), 1, 1))::INT
         |                   % 2 = 1
         |              THEN 1 ELSE -1 END AS w
         |  FROM (SELECT unnest(generate_series(0, ${Similarity.NumTables - 1})) AS t) t,
         |       (SELECT unnest(range(0, 25)) AS p) p,
         |       (SELECT unnest(generate_series(0, 63)) AS i) i
         |  WHERE p.p < (SELECT p FROM pp)),
         |q AS (
         |  SELECT vec_id, i,
         |         CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT) AS q
         |  FROM (SELECT vec_id, unnest(embedding) AS v,
         |               generate_subscripts(embedding, 1) AS i FROM embeddings)),
         |dots AS (
         |  SELECT q.vec_id, pl.t, pl.p, sum(q.q * pl.w) AS d
         |  FROM q JOIN planes pl ON q.i = pl.i + 1
         |  GROUP BY 1, 2, 3),
         |keys AS (
         |  SELECT vec_id,
         |         t * (CAST(1 AS BIGINT) << (SELECT p FROM pp))
         |         + CAST(sum(CASE WHEN d >= 0
         |                         THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
         |                AS BIGINT) AS key
         |  FROM dots GROUP BY vec_id, t),
         |cand AS (
         |  SELECT DISTINCT ka.vec_id AS id_a, kb.vec_id AS id_b
         |  FROM keys ka JOIN keys kb ON ka.key = kb.key
         |  WHERE ka.vec_id < kb.vec_id),
         |norms AS (SELECT vec_id, sqrt(CAST(sum(q*q) AS DOUBLE)) AS nrm
         |          FROM q GROUP BY 1),
         |comp AS (
         |  SELECT c.id_a, c.id_b, sum(qa.q * qb.q) AS dot
         |  FROM cand c JOIN q qa ON qa.vec_id = c.id_a
         |              JOIN q qb ON qb.vec_id = c.id_b AND qb.i = qa.i
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |       CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) AS cosine
         |FROM comp JOIN norms na ON id_a = na.vec_id
         |          JOIN norms nb ON id_b = nb.vec_id
         |WHERE CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) >= $Threshold
         |ORDER BY id_a, id_b""".stripMargin)
  }

  /** Dedup coverage curve — the YIELD curve of a dedup pass: as the corpus
    * is consumed in ingest order (doc_id), how fast does the distinct set
    * grow and the duplicate rate climb? The number that sizes every
    * "do we keep crawling this source" decision. A document is NEW iff it
    * owns its fingerprint's minimum doc_id ([[ExactDedup]]'s keep rule);
    * buckets are integer tenths of the id range from a 1-row broadcast
    * (no global rank window); the cumulative sums run over the 10-row
    * bucket frame. Everything but the two final divisions is exact
    * integer arithmetic.
    */
  object CoverageCurve extends GraftQuery {
    val name = "q_coverage_curve"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val docs = Graft.table(spark, sfDir, "documents")
        .select(col("doc_id"), md5(lower(trim(col("text")))).as("fp"))
      val firsts = docs.groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), lit(1L).as("is_new"))
      val hi = docs.agg((max(col("doc_id")) + 1).as("n_ids"))
      val perBucket = docs.join(firsts, Seq("doc_id"), "left")
        .crossJoin(broadcast(hi))
        .groupBy(expr("least(9, (10 * doc_id) div n_ids)").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("is_new"), lit(0L))).as("n_new"))
      // 10-bucket frame — single-partition by design (lit(0) = audited)
      val cum = Window.partitionBy(graft.operators.Dist.boundedOne(col("bucket"))).orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perBucket
        .select(col("bucket"), col("n_docs"), col("n_new"),
          sum(col("n_docs")).over(cum).as("cum_docs"),
          sum(col("n_new")).over(cum).as("cum_distinct"))
        .withColumn("dup_rate",
          lit(1.0) - col("cum_distinct").cast("double") /
            col("cum_docs").cast("double"))
        .orderBy("bucket")
    }
    val oracle = Some(
      """WITH docs AS (
        |  SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents),
        |firsts AS (
        |  SELECT min(doc_id) AS doc_id, 1 AS is_new FROM docs GROUP BY fp),
        |hi AS (SELECT max(doc_id) + 1 AS n_ids FROM docs),
        |perbucket AS (
        |  SELECT least(9, (10 * doc_id) // n_ids) AS bucket,
        |         count(*) AS n_docs,
        |         CAST(sum(coalesce(is_new, 0)) AS BIGINT) AS n_new
        |  FROM docs LEFT JOIN firsts USING (doc_id) CROSS JOIN hi
        |  GROUP BY 1)
        |SELECT bucket, n_docs, n_new,
        |       CAST(sum(n_docs) OVER w AS BIGINT) AS cum_docs,
        |       CAST(sum(n_new) OVER w AS BIGINT) AS cum_distinct,
        |       1.0 - CAST(sum(n_new) OVER w AS DOUBLE)
        |             / CAST(sum(n_docs) OVER w AS DOUBLE) AS dup_rate
        |FROM perbucket
        |WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY bucket""".stripMargin)
  }

  /** Duplicate-cluster size histogram — the SHAPE of the duplication:
    * [[ExactDedup]] answers "how many copies of each doc"; this rolls that
    * into "how many families of each size" plus the rows each size class
    * would delete. A corpus with a fat tail of 2-copies needs different
    * handling (near-dup chasing) than one with a few 1000-copy boilerplate
    * families (blocklist the families). Two stacked tiny aggregates over
    * the fingerprint frame; deletable = (size−1)·families, exact.
    */
  object DupSizeHist extends GraftQuery {
    val name = "q_dup_size_hist"
    def run(spark: SparkSession, sfDir: String): DataFrame =
      Graft.table(spark, sfDir, "documents")
        .select(md5(lower(trim(col("text")))).as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_families"))
        .select(col("sz").as("family_size"), col("n_families"),
          ((col("sz") - 1) * col("n_families")).as("n_deletable"))
        .orderBy("family_size")
    val oracle = Some(
      """WITH fams AS (
        |  SELECT md5(lower(trim(text))) AS fp, count(*) AS sz
        |  FROM documents GROUP BY 1)
        |SELECT sz AS family_size, count(*) AS n_families,
        |       (sz - 1) * count(*) AS n_deletable
        |FROM fams GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  val all: Seq[GraftQuery] =
    Seq(ExactDedup, MinHashLsh, MinHashPairs, SimHash, SimHashPairs,
      DedupClusters, ClusterRepresentative, ShingleJaccard, EmbedNearDup,
      EmbedNearDupLsh, EmbedNearDupLshAdaptive, IncrementalDedup, PrefixJoin,
      MinhashRecall, SimhashRecall, CoverageCurve, DupSizeHist)
}
