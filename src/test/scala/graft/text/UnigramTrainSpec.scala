package graft.text

import graft.SparkSpec

/** Differential proof for the Unigram (hard-EM Viterbi) trainer: an
  * INDEPENDENT plain-Scala implementation — sequential mutable-map
  * substring counting, array-based Viterbi DP, explicit prune — must
  * produce the same seed inventory, the same round-1 segmentations, and
  * the same final vocabulary from the same dictionary. Plus a brute-force
  * optimality pin: for short words the DP's winner must equal the minimum
  * over ALL enumerated segmentations under the identical
  * (bits, n_pieces, spelling) total order, and reconstruction/cost
  * invariants hold for every dictionary word.
  */
class UnigramTrainSpec extends SparkSpec {

  private val L = 5 // UnigramTrain.MaxPieceLen

  /** floor(log2(x)) for x >= 1 — the bits formula's exact core. */
  private def ilog2(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)

  private def substrCounts(dict: Seq[(String, Long)]): Map[String, Long] = {
    val m = scala.collection.mutable.Map.empty[String, Long]
    for ((w, n) <- dict; i <- 0 until w.length;
         t <- 1 to math.min(L, w.length - i)) {
      val p = w.substring(i, i + t)
      m(p) = m.getOrElse(p, 0L) + n
    }
    m.toMap
  }

  private def seedOf(counts: Map[String, Long]): Map[String, Long] = {
    val chars = counts.filter(_._1.length == 1)
    val multi = counts.filter(_._1.length >= 2).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(UnigramTrain.SeedMulti)
    chars ++ multi
  }

  private def bitsOf(inv: Map[String, Long]): Map[String, Long] = {
    val t = inv.valuesIterator.sum
    inv.map { case (p, c) => p -> ilog2(t / c) }
  }

  /** Reference Viterbi under the (bits, np, seq) total order. */
  private def viterbi(w: String, bits: Map[String, Long]): (Long, Long, String) = {
    val dp = Array.fill[(Long, Long, String)](w.length + 1)(null)
    dp(0) = (0L, 0L, "")
    for (j <- 1 to w.length) {
      var best: (Long, Long, String) = null
      for (t <- 1 to math.min(L, j)) {
        val piece = w.substring(j - t, j)
        bits.get(piece) match {
          case Some(b) if dp(j - t) != null =>
            val (pb, pn, ps) = dp(j - t)
            val cand = (pb + b, pn + 1, if (ps.isEmpty) piece else ps + "/" + piece)
            if (best == null || Ordering[(Long, Long, String)].lt(cand, best))
              best = cand
          case _ =>
        }
      }
      dp(j) = best
    }
    dp(w.length)
  }

  private def usageOf(dict: Seq[(String, Long)],
      bits: Map[String, Long]): Map[String, Long] = {
    val m = scala.collection.mutable.Map.empty[String, Long]
    for ((w, n) <- dict; p <- viterbi(w, bits)._3.split("/"))
      m(p) = m.getOrElse(p, 0L) + n
    m.toMap
  }

  private def dictOf(): Seq[(String, Long)] =
    BpeTrain.wordDict(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq

  test("q_unigram_seed ≡ independent substring counting + integer bit-costs") {
    val dict = dictOf()
    assert(dict.nonEmpty)
    val want = bitsOf(seedOf(substrCounts(dict)))
    val got = UnigramTrain.UnigramSeed.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val counts = seedOf(substrCounts(dict))
    assert(got.length == want.size)
    for ((p, len, cnt, b) <- got) {
      assert(len == p.length)
      assert(cnt == counts(p), s"cnt mismatch for $p")
      assert(b == want(p), s"bits mismatch for $p")
    }
    spark.catalog.clearCache()
  }

  test("q_unigram_segment ≡ independent array Viterbi on every dictionary word") {
    val dict = dictOf()
    val bits = bitsOf(seedOf(substrCounts(dict)))
    val got = UnigramTrain.UnigramSegment.run(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)), r.getLong(1))).toMap
    assert(got.size == dict.size)
    for ((w, n) <- dict) {
      val (res, gotN) = got(w)
      assert(gotN == n)
      assert(res == viterbi(w, bits), s"segmentation mismatch for $w")
    }
    spark.catalog.clearCache()
  }

  test("segmentation invariants: pieces reconstruct the word; bits add up") {
    val dict = dictOf()
    val bits = bitsOf(seedOf(substrCounts(dict)))
    val rows = UnigramTrain.UnigramSegment.run(spark, sf).collect()
    for (r <- rows) {
      val pieces = r.getString(4).split("/").toSeq
      assert(pieces.mkString("") == r.getString(0))
      assert(pieces.map(bits).sum == r.getLong(2))
      assert(pieces.length.toLong == r.getLong(3))
      assert(pieces.forall(_.length <= L))
    }
    spark.catalog.clearCache()
  }

  test("DP winner ≡ brute-force minimum over all segmentations (short words)") {
    val dict = dictOf()
    val bits = bitsOf(seedOf(substrCounts(dict)))
    def allSegs(w: String): Seq[Seq[String]] =
      if (w.isEmpty) Seq(Seq.empty)
      else (1 to math.min(L, w.length)).flatMap { t =>
        val h = w.substring(0, t)
        if (bits.contains(h)) allSegs(w.substring(t)).map(h +: _) else Seq.empty
      }
    val shorts = dict.map(_._1).filter(_.length <= 8).take(50)
    assert(shorts.nonEmpty)
    for (w <- shorts) {
      val enumBest = allSegs(w)
        .map(s => (s.map(bits).sum, s.length.toLong, s.mkString("/")))
        .min
      assert(viterbi(w, bits) == enumBest, s"DP suboptimal on $w")
    }
  }

  test("q_unigram_apply ≡ independent corpus-level application with char fallback") {
    val dict = dictOf()
    val seedInv = seedOf(substrCounts(dict))
    val use1 = usageOf(dict, bitsOf(seedInv))
    val kept: Map[String, Long] =
      seedInv.keysIterator.filter(_.length == 1)
        .map(p => p -> (use1.getOrElse(p, 0L) + 1)).toMap ++
        use1.filter(_._1.length >= 2).toSeq
          .sortBy { case (p, u) => (-u, p) }.take(UnigramTrain.KeepMulti)
          .map { case (p, u) => p -> (u + 1) }
    val segPieces: Map[String, Long] =
      dict.map { case (w, _) => w -> viterbi(w, bitsOf(kept))._2 }.toMap
    val docs = graft.Graft.table(spark, sf, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val agg = scala.collection.mutable.Map
      .empty[String, (Long, Long, Long, Long)]
    val tokRe = "[a-z]+".r
    for ((src, text) <- docs; w <- tokRe.findAllIn(text.toLowerCase)) {
      val (nt, oov, pieces, chars) = agg.getOrElse(src, (0L, 0L, 0L, 0L))
      val (o, p) = segPieces.get(w) match {
        case Some(np) => (0L, np)
        case None => (1L, w.length.toLong)
      }
      agg(src) = (nt + 1, oov + o, pieces + p, chars + w.length)
    }
    val got = UnigramTrain.UnigramApply.run(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)),
          r.getDouble(5))).toMap
    assert(got.keySet == agg.keySet)
    for ((src, want) <- agg) {
      assert(got(src)._1 == want, s"counts mismatch for $src")
      assert(got(src)._2 == want._4.toDouble / want._3.toDouble)
    }
    spark.catalog.clearCache()
  }

  test("q_unigram_vocab ≡ independent two-round hard-EM prune") {
    val dict = dictOf()
    val counts = substrCounts(dict)
    val seedInv = seedOf(counts)
    val use1 = usageOf(dict, bitsOf(seedInv))
    val kept: Map[String, Long] =
      seedInv.keysIterator.filter(_.length == 1)
        .map(p => p -> (use1.getOrElse(p, 0L) + 1)).toMap ++
        use1.filter(_._1.length >= 2).toSeq
          .sortBy { case (p, u) => (-u, p) }.take(UnigramTrain.KeepMulti)
          .map { case (p, u) => p -> (u + 1) }
    val bits2 = bitsOf(kept)
    val use2 = usageOf(dict, bits2)
    val got = UnigramTrain.UnigramVocab.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.length == kept.size)
    for ((p, len, cnt, b, u) <- got) {
      assert(len == p.length)
      assert(cnt == kept(p), s"cnt2 mismatch for $p")
      assert(b == bits2(p), s"bits2 mismatch for $p")
      assert(u == use2.getOrElse(p, 0L), s"usage2 mismatch for $p")
    }
    spark.catalog.clearCache()
  }

  test("driver-side localTrain ≡ retained DataFrame trainer, term for term") {
    import UnigramDataFrameTrainer._
    val dictDf = BpeTrain.wordDict(spark, sf).persist()
    val dict = dictDf.collect().map(r => (r.getString(0), r.getLong(1)))
    val local = UnigramTrain.localTrain(dict)
    // round-1: seed inventory with costs, and the round-1 segmentation
    val c1 = withBitCosts(seed(dictDf).persist())
      .persist()
    val dfCost1 = c1.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2))).toSet
    assert(local.cost1.toSet == dfCost1)
    val seg1 = segment(dictDf, costMap(c1))
    val dfSeg1 = seg1.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getString(4))).toSet
    assert(local.seg1.toSet == dfSeg1)
    // round-2: pruned inventory + final segmentation + usage
    val (cost2, seg2) = trainedModel(spark, sf)
    val dfCost2 = cost2.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2))).toSet
    assert(local.cost2.toSet == dfCost2)
    val dfSeg2 = seg2.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getString(4))).toSet
    assert(local.seg2.toSet == dfSeg2)
    val dfUse2 = usage(seg2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(local.use2 == dfUse2)
    spark.catalog.clearCache()
  }
}
