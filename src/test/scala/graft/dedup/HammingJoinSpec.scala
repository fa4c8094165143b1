package graft.dedup

import graft.SparkSpec

/** The banded Hamming join and its exact-class-collapse wrapper against a
  * driver-side brute force over random 64-bit fingerprints (negative
  * longs included: the aHash top bit is set for half of all images),
  * with planted exact-duplicate classes and neighbours at every distance
  * from 0 to maxDist + 1.
  */
class HammingJoinSpec extends SparkSpec {

  private def corpus(seed: Long, bandBits: Int, maxDist: Int): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    // 8-bit bands cover bits 0-31 only; flips above them leave every band equal
    val span = math.min(64, 4 * bandBits + 8)
    def flip(fp: Long, k: Int): Long =
      rng.shuffle((0 until span).toList).take(k).foldLeft(fp)((f, b) => f ^ (1L << b))
    val fps = (0 until 12).flatMap { _ =>
      val base = rng.nextLong() | (if (rng.nextBoolean()) Long.MinValue else 0L)
      val dup = if (rng.nextInt(3) == 0) Seq(base) else Nil
      base +: ((0 to maxDist + 1).map(k => flip(base, k)) ++ dup)
    }
    val lone = rng.nextLong()  // an exact class with no near neighbour
    val all = fps ++ Seq(lone, lone, lone)
    rng.shuffle(all.indices.map(_ * 7L + 3).toList).zip(all)
  }

  private def shareBand(x: Long, y: Long, bits: Int): Boolean = {
    val mask = (1L << bits) - 1
    (0 until 4).exists(b => ((x >> (b * bits)) & mask) == ((y >> (b * bits)) & mask))
  }

  /** Min-id component labels of a pair graph by union-find. */
  private def unionFind(pairs: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap { case (a, b) => Seq(a, b) }
    nodes.map(n => n -> find(n)).toMap
  }

  private def check(bandBits: Int, maxDist: Int): Unit = {
    import spark.implicits._
    val rows = corpus(1000L * bandBits + maxDist, bandBits, maxDist)
    val all = for {
      (i, x) <- rows; (j, y) <- rows if i < j
      d = java.lang.Long.bitCount(x ^ y) if d <= maxDist
    } yield ((i, j), (d, shareBand(x, y, bandBits)))
    val expected = all.collect { case (p, (d, true)) => (p._1, p._2, d) }.toSet
    if (maxDist <= 3)
      assert(expected == all.map { case (p, (d, _)) => (p._1, p._2, d) }.toSet,
        "pigeonhole: within distance 3 every pair shares a band")
    val df = rows.toDF("id", "fp")
    val ctx = s"bandBits $bandBits, maxDist $maxDist"

    val plain = Dedup.hammingJoin(df, bandBits, maxDist).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(plain.size == plain.toSet.size, s"$ctx: duplicate pairs")
    assert(plain.toSet == expected, s"$ctx: plain join")

    val pairs = Dedup.hammingClassJoin(df, bandBits, maxDist, clusters = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt)).toSeq
    assert(pairs.size == pairs.toSet.size, s"$ctx: duplicate wrapper pairs")
    assert(pairs.toSet == expected, s"$ctx: wrapper pairs")

    val labels = Dedup.hammingClassJoin(df, bandBits, maxDist, clusters = true)
      .select("id", "label").collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val uf = unionFind(expected.map(p => (p._1, p._2)))
    assert(labels.toMap == uf && labels.size == uf.size, s"$ctx: wrapper clusters")
    // the planted lone class has no cross-class edge, yet is a cluster
    val lone = rows.takeRight(3).map(_._1)
    assert(lone.map(uf.get).distinct == Seq(Some(lone.min)), s"$ctx: lone class")
    assert(expected.forall(p => lone.contains(p._1) == lone.contains(p._2)),
      s"$ctx: the lone class must have no near neighbour")
    spark.catalog.clearCache()
  }

  test("banded Hamming join ≡ brute force: 16-bit bands, maxDist 1, 3 and 6") {
    Seq(1, 3, 6).foreach(check(16, _))
  }

  test("banded Hamming join ≡ brute force: 8-bit bands, maxDist 2, 3 and 5") {
    Seq(2, 3, 5).foreach(check(8, _))
  }
}
