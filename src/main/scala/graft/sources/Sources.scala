package graft.sources

import graft.SchemaMemo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat

/** Source/sink compatibility layer (SURVEY §2.1).
  *
  * The reference's on-disk interchange is header'd `;`-separated CSV
  * everywhere (`pyspark_stats.py:22-24`, `pyspark_yolox.py:138-140`); our
  * engine is Parquet-first (columnar, predicate pushdown, schema'd) and
  * keeps the CSV dialect as a compat boundary.
  */
object Sources {

  /** S1 — the one scan over a tree of binary files: every file under
    * `root`, at any depth, whose NAME matches `glob`, as `binaryFile` rows
    * (path, modificationTime, length, content). The reference's
    * four-level sharded `sc.binaryFiles` jpg glob (`pyspark_yolox.py:123`);
    * recursive lookup makes the shard depth irrelevant.
    */
  def binaryTree(spark: SparkSession, root: String, glob: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(root)

  /** [[binaryTree]] as a file-source stream: files landing under `root`
    * arrive as micro-batches. `binaryFile`'s schema is fixed, so it is
    * declared here instead of being inferred by a batch listing.
    */
  def binaryTreeStream(spark: SparkSession, root: String,
      glob: String): DataFrame =
    spark.readStream.format("binaryFile")
      .schema(BinaryFileFormat.schema)
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(root)

  /** The first (up to) 8 bytes of a file as uppercase hex — the
    * byte-identity pin the fixture scans share with DuckDB's
    * `substring(hex(content), 1, 16)`.
    */
  def headHex(content: Array[Byte]): String =
    content.take(8).map(b => f"$b%02X").mkString

  /** S2 — the reference's CSV dialect: header, `;` separator. The header
    * schema comes from [[SchemaMemo]]: one inference job per file listing.
    */
  def readSemicolonCsv(spark: SparkSession, path: String): DataFrame =
    SchemaMemo.read(spark, "csv", path, Map("header" -> "true", "sep" -> ";"))

  /** S3 — CSV sink in the same dialect, overwrite mode
    * (`df.write.csv(mode="overwrite", header=True, sep=";")`).
    */
  def writeSemicolonCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").option("sep", ";").csv(path)

  /** I4 — Parquet checkpoint between pipeline stages (replaces the
    * reference's `--cached-pred` re-read toggle, `pyspark_yolox.py:115-119`).
    * Read back with the schema it wrote: a plain `read.parquet` runs a
    * footer-inference job.
    */
  def checkpoint(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }
}
