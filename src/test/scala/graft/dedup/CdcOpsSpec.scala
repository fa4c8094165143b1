package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Differential proof for content-defined chunking: an independent
  * sequential gear-hash chunker must produce the same boundaries on the
  * real corpus, invariants must hold (reconstruction, min length, boundary
  * hash condition), and CDC's defining property — boundary realignment
  * after an insertion — must actually hold on shifted documents.
  */
class CdcOpsSpec extends SparkSpec {

  private val M = 1L << 31

  /** The composed-operator formulation of [[CdcOps.boundaries]]
    * (interpreted `aggregate` fold, one struct per character, quadratic
    * substr walk): the exact semantics the DuckDB oracle replays, and the
    * reference the native kernel is checked against.
    */
  private def boundariesFold(text: Column): Column = {
    import CdcOps.{Gear, MaskPlus1, MinLen, Mod}
    val folded = aggregate(
      sequence(lit(1), length(text)),
      struct(lit(0L).as("h"), lit(0).as("last"), lit(0).as("j"),
        array().cast("array<int>").as("bs")),
      (st: Column, _: Column) => {
        val j = st.getField("j") + 1
        val g = (ascii(text.substr(j, lit(1))) * lit(Gear)) % lit(Mod)
        val h = (st.getField("h") * 2 + g) % lit(Mod)
        val isB = (j - st.getField("last") >= MinLen) && (h % MaskPlus1 === 0)
        struct(h.as("h"),
          when(isB, j).otherwise(st.getField("last")).as("last"),
          j.as("j"),
          when(isB, concat(st.getField("bs"), array(j)))
            .otherwise(st.getField("bs")).as("bs"))
      })
    val bs = folded.getField("bs")
    when(size(bs) === 0 || element_at(bs, size(bs)) =!= length(text),
      concat(bs, array(length(text)))).otherwise(bs)
  }

  private def refChunks(t: String): Seq[String] = {
    var h = 0L; var last = 0
    val bs = Seq.newBuilder[Int]
    for (i <- 1 to t.length) {
      h = (2 * h + (t.charAt(i - 1).toLong * CdcOps.Gear) % M) % M
      if (i - last >= CdcOps.MinLen && h % CdcOps.MaskPlus1 == 0) {
        bs += i; last = i
      }
    }
    val all = {
      val b = bs.result()
      if (b.isEmpty || b.last != t.length) b :+ t.length else b
    }
    all.zip(0 +: all.init).map { case (e, s) => t.substring(s, e) }
  }

  test("engine chunks ≡ independent sequential gear-hash chunker") {
    val docs = graft.Graft.table(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = CdcOps.chunks(graft.Graft.table(spark, sf, "documents"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .groupBy(_._1)
    assert(got.keySet == docs.keySet)
    for ((id, text) <- docs) {
      val want = refChunks(text)
      val g = got(id).map(_._2).toSeq
      assert(g == want, s"chunk mismatch for doc $id")
      assert(got(id).forall(c => c._3 == c._2.length))
      assert(g.mkString("") == text)
      // every chunk except possibly the last respects the min length
      assert(g.init.forall(_.length >= CdcOps.MinLen))
    }
    spark.catalog.clearCache()
  }

  test("native kernel ≡ interpreted aggregate-fold boundaries on the corpus") {
    val docs = graft.Graft.table(spark, sf, "documents")
    val rows = docs.select(col("doc_id"),
      CdcOps.boundaries(col("text")).as("native"),
      boundariesFold(col("text")).as("fold")).collect()
    assert(rows.nonEmpty)
    for (r <- rows)
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"kernel/fold divergence for doc ${r.getLong(0)}")
    spark.catalog.clearCache()
  }

  test("CDC property: boundaries realign after a prefix insertion") {
    import spark.implicits._
    val texts = graft.Graft.table(spark, sf, "documents")
      .select("text").limit(20).collect().map(_.getString(0))
    var realigned = 0
    for (t <- texts) {
      val orig = refChunks(t).toSet
      val shifted = refChunks("zqj " + t).toSet
      // offset-based shingling would share ZERO windows; CDC re-anchors
      // after the first post-insertion boundary, so later chunks coincide
      realigned += (orig intersect shifted).size
    }
    assert(realigned > texts.length, // on average > 1 shared chunk per doc
      s"CDC failed to realign: only $realigned shared chunks over ${texts.length} docs")
  }

  test("q_cdc_neardup ≡ independent chunk-set pairing with exact Jaccard") {
    val docs = graft.Graft.table(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val sets = docs.map { case (id, t) => id -> refChunks(t).toSet }.toMap
    val want = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a < b
      shared = (sa intersect sb).size if shared >= CdcOps.CdcNearDup.MinShared
    } yield (a, b) -> (sa.size.toLong, sb.size.toLong, shared.toLong)).toMap
    val got = CdcOps.CdcNearDup.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)), r.getDouble(5))).toMap
    assert(got.keySet == want.keySet)
    for ((k, (na, nb, sh)) <- want) {
      assert(got(k)._1 == ((na, nb, sh)), s"counts mismatch for $k")
      assert(got(k)._2 == sh.toDouble / (na + nb - sh).toDouble)
    }
    spark.catalog.clearCache()
  }

  test("q_cdc_dupes: every reported duplicate is a genuine repeated chunk") {
    val docs = graft.Graft.table(spark, sf, "documents")
      .select("text").collect().map(_.getString(0))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    for (t <- docs; c <- refChunks(t)) counts(c) = counts.getOrElse(c, 0L) + 1
    val rows = CdcOps.CdcDupes.run(spark, sf).collect()
    val wantDupes = counts.filter(_._2 >= 2)
    assert(rows.length == math.min(wantDupes.size, CdcOps.TopN))
    val md5Of = wantDupes.keys.map(k =>
      java.security.MessageDigest.getInstance("MD5").digest(k.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString -> k).toMap
    for (r <- rows) {
      val key = md5Of.getOrElse(r.getString(0), fail(s"unknown hash ${r.getString(0)}"))
      assert(r.getLong(2) == wantDupes(key), s"occurrence count for $key")
      assert(r.getLong(1) == key.length.toLong)
    }
    spark.catalog.clearCache()
  }
}
