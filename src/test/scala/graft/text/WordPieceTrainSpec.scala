package graft.text

import graft.SparkSpec

/** Differential proof for the WordPiece trainer: an INDEPENDENT
  * plain-Scala implementation (mutable maps, sequential merges, exact
  * FRACTION comparison via BigInt cross-multiplication — deliberately
  * NOT the engine's double score, so a double-ordering artifact would
  * surface as a mismatch) must learn the same merge list from the same
  * dictionary. Plus unit pins for the `##` spelling and prefix-stripped
  * merge naming.
  */
class WordPieceTrainSpec extends SparkSpec {

  /** Reference WordPiece: textbook sequential implementation. */
  private def referenceWp(dict: Seq[(String, Long)],
      rounds: Int): Seq[(String, String, Long)] = {
    var seqs: Seq[(Vector[String], Long)] = dict.map { case (w, n) =>
      (w.zipWithIndex.map { case (c, i) =>
        if (i == 0) c.toString else "##" + c
      }.toVector, n)
    }
    val out = Seq.newBuilder[(String, String, Long)]
    for (_ <- 1 to rounds) {
      val pair = scala.collection.mutable.Map.empty[(String, String), Long]
      val sym = scala.collection.mutable.Map.empty[String, Long]
      for ((s, n) <- seqs) {
        for (x <- s) sym(x) = sym.getOrElse(x, 0L) + n
        for (i <- 0 until s.length - 1)
          pair((s(i), s(i + 1))) = pair.getOrElse((s(i), s(i + 1)), 0L) + n
      }
      if (pair.nonEmpty) {
        // argmax of cnt/(nl·nr) by exact cross-multiplied fractions;
        // ties by "l r" string ascending (the engine's rule)
        val best = pair.toSeq.reduceLeft { (x, y) =>
          val ((xl, xr), xc) = x; val ((yl, yr), yc) = y
          val lhs = BigInt(xc) * BigInt(sym(yl)) * BigInt(sym(yr))
          val rhs = BigInt(yc) * BigInt(sym(xl)) * BigInt(sym(xr))
          if (lhs > rhs) x
          else if (lhs < rhs) y
          else if ((xl + " " + xr) <= (yl + " " + yr)) x else y
        }
        val ((l, r), c) = best
        out += ((l, r, c))
        val merged = l + r.stripPrefix("##")
        seqs = seqs.map { case (s, n) =>
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < s.length) {
            if (i + 1 < s.length && s(i) == l && s(i + 1) == r) {
              b += merged; i += 2
            } else { b += s(i); i += 1 }
          }
          (b.result(), n)
        }
      }
    }
    out.result()
  }

  test("q_wordpiece_merges ≡ independent sequential WordPiece with exact-fraction argmax") {
    val dict = BpeTrain.wordDict(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(dict.nonEmpty)
    val want = referenceWp(dict, WordPieceTrain.Merges)
    val got = WordPieceTrain.train(spark, sf)
      .map(m => (m.left, m.right, m.pair_count))
    assert(got == want, s"\nspark: $got\nref  : $want")
    spark.catalog.clearCache()
  }

  test("initial spelling carries the ## continuation prefix") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = Seq("hello", "a").toDF("w")
      .select(WordPieceTrain.initialSyms(col("w")).as("sym"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(got == List(List("h", "##e", "##l", "##l", "##o"), List("a")))
  }

  test("merged symbol strips the continuation prefix of the right side only") {
    assert(WordPieceTrain.mergedName("h", "##e") == "he")
    assert(WordPieceTrain.mergedName("##l", "##o") == "##lo")
    assert(WordPieceTrain.mergedName("he", "##llo") == "hello")
  }

  /** Reference BERT WordpieceTokenizer: greedy longest-match-first with
    * `##` continuations and the whole-word-[UNK] bad rule.
    */
  private def referenceApply(w: String, vocab: Set[String]): (Long, String) = {
    var cur = 0
    val out = Seq.newBuilder[String]
    while (cur < w.length) {
      var t = math.min(12, w.length - cur)
      var hit: String = null
      while (t >= 1 && hit == null) {
        val raw = w.substring(cur, cur + t)
        val piece = if (cur == 0) raw else "##" + raw
        if (vocab.contains(piece)) hit = piece else t -= 1
      }
      if (hit == null) return (1L, "[UNK]")
      out += hit
      cur += t
    }
    val pieces = out.result()
    (pieces.length.toLong, pieces.mkString("/"))
  }

  test("q_wordpiece_apply ≡ independent greedy longest-match tokenizer") {
    val dict = BpeTrain.wordDict(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val merges = WordPieceTrain.train(spark, sf)
    val vocab = dict.keySet.flatMap { w =>
      w.zipWithIndex.map { case (c, i) =>
        if (i == 0) c.toString else "##" + c
      }
    } ++ merges.map(_.merged)
    val got = WordPieceTrain.WordPieceApply.run(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getString(3)), r.getLong(1)))
      .toMap
    assert(got.size == dict.size)
    for ((w, n) <- dict) {
      val (res, gotN) = got(w)
      assert(gotN == n)
      assert(res == referenceApply(w, vocab), s"apply mismatch for $w")
      // reconstruction: pieces minus ## prefixes respell the word
      if (res._2 != "[UNK]")
        assert(res._2.split("/").map(_.stripPrefix("##")).mkString("") == w)
    }
    spark.catalog.clearCache()
  }

  test("model cache: cold-trained and cache-served apply results are identical") {
    // the *_apply queries serve the trained model from ModelCache after
    // the first execution — a hit must be indistinguishable from a cold
    // train (training is deterministic), or the bench min would measure
    // a different query than the oracle checks
    ModelCache.clear()
    val cold = WordPieceTrain.WordPieceApply.run(spark, sf).collect().toSeq
    spark.catalog.clearCache()
    val warm = WordPieceTrain.WordPieceApply.run(spark, sf).collect().toSeq
    assert(cold == warm, "cache-served apply diverged from cold train")
    val coldU = UnigramTrain.UnigramApply.run(spark, sf).collect().toSeq
    spark.catalog.clearCache()
    val warmU = UnigramTrain.UnigramApply.run(spark, sf).collect().toSeq
    assert(coldU == warmU, "cache-served unigram apply diverged")
    ModelCache.clear()
    spark.catalog.clearCache()
  }

  test("apply fold marks a word [UNK] when any position fails (whole-word rule)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // vocab lacks ##z entirely: "az" must become [UNK] even though 'a'
    // matched; "aa" segments fine
    val vocab = Seq("a", "##a").toDF("p")
      .agg(map_from_arrays(collect_list(col("p")), collect_list(lit(1))).as("m"))
    val words = Seq(("az", 1L), ("aa", 1L), ("a", 1L)).toDF("w", "n")
    val got = words.crossJoin(broadcast(vocab))
      .select(col("w"),
        graft.text.WordPieceTrain.WordPieceApply.applyExpr(col("w"), col("m"))
          .as("st"))
      .collect().map(r => r.getString(0) ->
        (r.getStruct(1).getLong(2), r.getStruct(1).getString(3))).toMap
    assert(got("az") == ((1L, "[UNK]")))
    assert(got("aa") == ((2L, "a/##a")))
    assert(got("a") == ((1L, "a")))
  }

  test("merge fold replaces pairs greedily left-to-right with the renamed symbol") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(Seq("a", "##b", "##a", "##b")).toDF("sym")
    val got = df.select(
      WordPieceTrain.mergePair(col("sym"), "##a", "##b", "##ab").as("m"))
      .collect().head.getSeq[String](0).toList
    assert(got == List("a", "##b", "##ab"))
  }
}
