package graft.text

import graft.SparkSpec
import graft.functions.PortableHash

/** ClassifierOps contract: the distributed batch perceptron equals an
  * INDEPENDENT sequential implementation (plain driver-side loops over the
  * same documents — the differential-spec idiom of LmDifferentialSpec),
  * plus structural invariants of the training trace and the selection.
  */
class ClassifierOpsSpec extends SparkSpec {

  /** Driver-side replica of the hashed-bigram featurizer + batch
    * perceptron, sharing NOTHING with the Spark implementation but the
    * md5 hash definition.
    */
  private def sequential(docs: Seq[(Long, String, String)])
      : (Seq[(Int, Long, Long, Long, Long)], Map[Long, Long], Map[Long, (Int, Long)]) = {
    val feats: Seq[(Long, Int, Map[Long, Long])] = docs.flatMap {
      case (id, text, source) =>
        val toks = text.trim.split("\\s+").toSeq
        if (toks.length < 2) None
        else {
          val y = if (source == ClassifierOps.TargetSource) 1 else -1
          val counts = toks.sliding(2).map { bg =>
            java.lang.Long.parseLong(
              PortableHash.md5Hex(bg.mkString(" ")).take(15), 16) %
              ClassifierOps.B
          }.toSeq.groupBy(identity).map { case (f, o) => f -> o.size.toLong }
          Some((id, y, counts))
        }
    }
    var w = Map.empty[Long, Long]
    val trace = Seq.newBuilder[(Int, Long, Long, Long, Long)]
    for (e <- 1 to ClassifierOps.Epochs) {
      val miscl = feats.filter { case (_, y, c) =>
        val s = c.map { case (f, n) => n * w.getOrElse(f, 0L) }.sum
        y * s <= 0
      }
      miscl.foreach { case (_, y, c) =>
        c.foreach { case (f, n) => w = w.updated(f, w.getOrElse(f, 0L) + y * n) }
      }
      trace += ((e, miscl.size.toLong, w.values.map(math.abs).sum,
        w.values.sum, w.count(_._2 != 0L).toLong))
    }
    val scores = feats.map { case (id, y, c) =>
      id -> (y, c.map { case (f, n) => n * w.getOrElse(f, 0L) }.sum)
    }.toMap
    (trace.result(), w, scores)
  }

  private lazy val docs: Seq[(Long, String, String)] = {
    import org.apache.spark.sql.functions._
    graft.Graft.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
  }

  test("distributed training trace equals the sequential perceptron") {
    val (seqTrace, _, _) = sequential(docs)
    val dist = ClassifierOps.ClassifierTrain.run(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(dist == seqTrace,
      s"distributed $dist != sequential $seqTrace")
  }

  test("epoch 1 misclassifies every document with at least one bigram") {
    val n = docs.count(_._2.trim.split("\\s+").length >= 2)
    val first = ClassifierOps.ClassifierTrain.run(spark, sf)
      .collect().minBy(_.getInt(0))
    assert(first.getLong(1) == n.toLong)
  }

  test("selection scores match the sequential model and order is total") {
    val (_, _, seqScores) = sequential(docs)
    val rows = ClassifierOps.ClassifierSelect.run(spark, sf).collect()
    assert(rows.length == 20)
    val scores = rows.map(_.getLong(2))
    assert(scores.sameElements(scores.sorted(Ordering[Long].reverse)))
    rows.foreach { r =>
      val (y, s) = seqScores(r.getLong(0))
      assert(r.getInt(1) == y && r.getLong(2) == s,
        s"doc ${r.getLong(0)}: dist (${r.getInt(1)}, ${r.getLong(2)}) vs seq ($y, $s)")
      assert(r.getLong(3) == (if (y * s > 0) 1L else 0L))
    }
    // the top of the ranking must actually be the global top-20
    val top = seqScores.toSeq.map { case (id, (_, s)) => (-s, id) }.sorted.take(20)
      .map { case (negS, id) => (id, -negS) }
    assert(rows.map(r => (r.getLong(0), r.getLong(2))).toSeq == top)
  }

  test("weight table stays inside the hashed-feature bound") {
    val (_, w, _) = sequential(docs)
    assert(w.keys.forall(f => f >= 0 && f < ClassifierOps.B))
    assert(w.size <= ClassifierOps.B)
  }

  test("AUC equals the brute-force all-pairs Mann-Whitney on sequential scores") {
    val (_, _, scores) = sequential(docs)
    val pos = scores.values.collect { case (1, s) => s }.toSeq
    val neg = scores.values.collect { case (-1, s) => s }.toSeq
    val gt = (for (p <- pos; n <- neg if p > n) yield 1L).sum
    val tie = (for (p <- pos; n <- neg if p == n) yield 1L).sum
    val r = ClassifierOps.ClassifierAuc.run(spark, sf).collect().head
    assert(r.getLong(0) == pos.size && r.getLong(1) == neg.size)
    assert(r.getLong(2) == gt, "pairs_gt vs brute force")
    assert(r.getLong(3) == tie, "pairs_tie vs brute force")
    assert(r.getDouble(4) == (2.0 * gt + tie) / (2.0 * pos.size * neg.size))
    // confusion identities: rows partition by class and threshold
    val (tp, fp, tn, fn) = (r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))
    assert(tp + fn == pos.size && fp + tn == neg.size)
    assert(tp == pos.count(_ > 0) && fp == neg.count(_ > 0))
    assert(r.getDouble(9) == (tp + tn).toDouble / (pos.size + neg.size))
    spark.catalog.clearCache()
  }

  /** Remove the scored-corpus parquet checkpoint so a "cold" run really
    * retrains + rescores from the raw table.
    */
  private def wipeScoresCheckpoint(): Unit =
    graft.sources.SourceQueries.deleteTree(ClassifierOps.scoresDir(spark, sf))

  test("model cache: cold-trained and checkpoint-served eval results are identical") {
    // q_classifier_select / q_classifier_auc serve the scored-corpus
    // parquet checkpoint (weights via ModelCache underneath) after the
    // first execution — a hit must be indistinguishable from a cold
    // train+score, or the bench min would measure a different query
    // than the oracle checks
    ModelCache.clear()
    wipeScoresCheckpoint()
    val coldSel = ClassifierOps.ClassifierSelect.run(spark, sf).collect().toSeq
    val coldAuc = ClassifierOps.ClassifierAuc.run(spark, sf).collect().toSeq
    spark.catalog.clearCache()
    val warmSel = ClassifierOps.ClassifierSelect.run(spark, sf).collect().toSeq
    val warmAuc = ClassifierOps.ClassifierAuc.run(spark, sf).collect().toSeq
    assert(coldSel == warmSel, "checkpoint-served selection diverged from cold train")
    assert(coldAuc == warmAuc, "checkpoint-served AUC diverged from cold train")
    // a SECOND cold pass (fresh train, fresh scores) must reproduce the
    // checkpointed results exactly — pins checkpoint content, not just
    // read-path stability
    ModelCache.clear()
    wipeScoresCheckpoint()
    spark.catalog.clearCache()
    val recoldSel = ClassifierOps.ClassifierSelect.run(spark, sf).collect().toSeq
    assert(recoldSel == coldSel, "re-trained scores diverged from checkpoint")
    ModelCache.clear()
    spark.catalog.clearCache()
  }
}
