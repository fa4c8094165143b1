package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, lit, regexp_replace}

/** ModelCache contract: a served model is always the model of the corpus
  * now at the path. A corpus replaced at the same sf dir trains again; it
  * is never served the model trained on the corpus it replaced.
  */
class ModelCacheSpec extends SparkSpec {

  test("a corpus replaced at the same path serves the model a cold train on it gives") {
    val dir = java.nio.file.Files.createTempDirectory("graft_models").toString
    val docs = s"$dir/documents.parquet"
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
    def served() = (
      UnigramTrain.UnigramApply.run(spark, dir).collect().toSeq,
      WordPieceTrain.WordPieceApply.run(spark, dir).collect().toSeq,
      ClassifierOps.servedWeights(spark, dir))
    try {
      corpus.write.parquet(docs)
      val onA = served()
      // B: A's texts without the letter e, so most words are new (a
      // reversed or letter-permuted corpus would segment the same way)
      corpus.withColumn("text", regexp_replace(col("text"), lit("e"), lit("")))
        .write.mode("overwrite").parquet(docs)
      val onB = served()
      ModelCache.clear()
      val coldB = served()
      assert(onB._1 == coldB._1, "unigram: served a model of the replaced corpus")
      assert(onB._2 == coldB._2, "wordpiece: served a model of the replaced corpus")
      assert(onB._3 == coldB._3, "classifier: served a model of the replaced corpus")
      // the two corpora give three different models
      assert(onA._1 != coldB._1 && onA._2 != coldB._2 && onA._3 != coldB._3)
    } finally {
      ModelCache.clear()
      spark.catalog.clearCache()
    }
  }

  test("a corpus replaced at the same path serves the selection a fresh tmpdir gives") {
    val dir = java.nio.file.Files.createTempDirectory("graft_models").toString
    val docs = s"$dir/documents.parquet"
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
    def select() = ClassifierOps.ClassifierSelect.run(spark, dir).collect().toSeq
    val tmpdir = System.getProperty("java.io.tmpdir")
    try {
      corpus.write.parquet(docs)
      val onA = select()
      corpus.withColumn("text", regexp_replace(col("text"), lit("e"), lit("")))
        .write.mode("overwrite").parquet(docs)
      val onB = select()
      // no scores checkpoint under a fresh tmpdir: B is scored from scratch
      System.setProperty("java.io.tmpdir",
        java.nio.file.Files.createTempDirectory("graft_tmpdir").toString)
      ModelCache.clear()
      val coldB = select()
      assert(onB == coldB, "served the scores of the replaced corpus")
      assert(onA != coldB)
    } finally {
      System.setProperty("java.io.tmpdir", tmpdir)
      ModelCache.clear()
      spark.catalog.clearCache()
    }
  }
}
