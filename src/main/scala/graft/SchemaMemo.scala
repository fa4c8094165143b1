package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Spark's own inferred schema of a file read, kept per path.
  *
  * A plain `spark.read.parquet(path)` runs a one-task Spark job to read the
  * Parquet footer, and a header'd CSV read runs one to read the header
  * line. The engine re-reads the same immutable tables in every query, so
  * the first read of a path infers exactly as Spark does and later reads
  * hand that `StructType` to `read.schema(...)`: no job runs before the
  * query's own action.
  *
  * An entry holds for one [[listing]] of the files under the path, one
  * format with its options, and one setting of the session confs that
  * steer inference (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`,
  * case sensitivity; a header'd CSV read without `inferSchema` types every
  * column as a string). Anything else infers again and replaces the path's
  * entry, so the memo holds at most one entry per path.
  */
object SchemaMemo {
  type Listing = Seq[(String, Long, Long)]

  private final case class Key(format: String, options: Map[String, String],
      listing: Listing, confs: Map[String, String])

  private val entries =
    scala.collection.concurrent.TrieMap.empty[String, (Key, StructType)]

  private val InferenceConfs = Seq("spark.sql.parquet.",
    "spark.sql.legacy.parquet.", "spark.sql.caseSensitive")

  /** Names, sizes and modification times of every file under `path` (the
    * path itself when it names a file; a glob is expanded as Spark's reader
    * expands it), sorted. A file replaced, added or removed at the same
    * path changes it. Listed with `listStatus`, which leaves a local file's
    * permissions unread (`listFiles` forks a shell per file to load them).
    */
  def listing(spark: SparkSession, path: String): Listing = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(s: FileStatus): Seq[FileStatus] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(files)
      else Seq(s)
    Option(fs.globStatus(p)).toSeq.flatten.flatMap(files)
      .map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
      .sorted
  }

  /** The schema Spark infers for `spark.read.format(format).options(options)
    * .load(path)`, inferred on the first call and again only when the key
    * changes.
    */
  def schema(spark: SparkSession, format: String, path: String,
      options: Map[String, String] = Map.empty): StructType = {
    // listed before inferring: a file swapped in between leaves a stale
    // listing in the key, which the next read sees as a change
    val key = Key(format, options, listing(spark, path),
      spark.conf.getAll.filter { case (k, _) => InferenceConfs.exists(k.startsWith) })
    entries.get(path) match {
      case Some((`key`, s)) => s
      case _ =>
        val s = spark.read.format(format).options(options).load(path).schema
        entries.put(path, (key, s))
        s
    }
  }

  /** `spark.read.format(format).options(options).load(path)` with the
    * memoized [[schema]].
    */
  def read(spark: SparkSession, format: String, path: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format(format).options(options)
      .schema(schema(spark, format, path, options)).load(path)
}
