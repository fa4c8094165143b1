package graft.sources

import graft.GraftQuery
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption,
  StandardOpenOption}

/** Driver-visible queries for the source/sink surface (SURVEY §2.1 S1–S3).
  * The testdata has no CSV or image files, so each query materializes its
  * own deterministic input from the parquet tables (or synthesizes one) in
  * a per-scale-factor temp dir, then exercises the real source.
  */
object SourceQueries {

  /** The one per-sf scratch path: `java.io.tmpdir/graft_<tag>_<sfDir>`,
    * with every character of `sfDir` but letters, digits and dots made `_`.
    */
  private[graft] def rootOf(tag: String, sfDir: String): Path = {
    val safe = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    Paths.get(System.getProperty("java.io.tmpdir"), s"graft_${tag}_$safe")
  }

  /** Delete the tree at `p`, if there is one. */
  private[graft] def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.delete(q))
      finally walk.close()
    }

  private[sources] def workDir(tag: String, sfDir: String): String = {
    val p = rootOf(tag, sfDir)
    Files.createDirectories(p)
    p.toString
  }

  /** The one fixture-tree protocol: returns the root of the `tag` tree
    * for `sfDir`, writing it first if it does not exist. `files` yields
    * (path relative to the root, bytes), each path once, and is only
    * evaluated when the tree is built. The files go into a hidden staging
    * sibling that is then renamed onto the root in one atomic move, so an
    * existing root is always a complete tree: a build that dies half-way
    * leaves no root, and the next call starts over. If another process
    * renames its tree into place first, this one's staging copy is
    * discarded. An existing root is never inspected or changed, so a tree
    * whose bytes change must get a new tag.
    */
  private[sources] def fixtureTree(tag: String, sfDir: String)(
      files: => Iterator[(String, Array[Byte])]): String = {
    val root = rootOf(tag, sfDir)
    if (!Files.exists(root)) {
      Files.createDirectories(root.getParent)
      val stage = Files.createTempDirectory(root.getParent,
        s".${root.getFileName}.stage")
      try {
        files.foreach { case (rel, bytes) =>
          val f = stage.resolve(rel)
          Files.createDirectories(f.getParent)
          Files.write(f, bytes, StandardOpenOption.CREATE_NEW)
        }
        try Files.move(stage, root, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.io.IOException if Files.exists(root) => () }
      } finally deleteTree(stage)
    }
    root.toString
  }

  /** The scale-factor dir whose fixture trees the DuckDB oracles read:
    * the correctness gate runs there only.
    */
  private[sources] val OracleSfDir = "/root/testdata/sf0.01"

  /** One fixture tree's naming and location, spelled once. Asset `i` is
    * the file `<prefix><i, 3 digits>.<ext>` (the shard directories above
    * it are the writer's) under the root of `tag` — of `scaledTag(tag)`
    * when the tree `scales`, so SPARK_GRAFT_MEDIA_SCALE trees get roots
    * of their own. The writer's file names, the Spark scan and the
    * DuckDB oracle's `read_blob` prelude all come from this value, so a
    * tag bump moves the oracle with the tree.
    *
    * Oracle SQL is fixed text: it reads the ×1 tree (the one its closed
    * forms describe) that the Spark side writes at [[OracleSfDir]] under
    * this JVM's `java.io.tmpdir` before the oracle runs.
    */
  private[sources] final case class Fixture(tag: String, prefix: String,
      ext: String, scales: Boolean) {
    private def rootTag = if (scales) scaledTag(tag) else tag

    /** Asset `i`'s file name, with `ext` for a tree of several (PNM). */
    def file(i: Int, ext: String): String = f"$prefix$i%03d.$ext"
    def file(i: Int): String = file(i, ext)
    def glob: String = s"*.$ext"

    /** Group 1 is the asset index; Java regex and DuckDB's RE2 read it
      * alike. A `?` in `ext` matches any one character, as in [[glob]].
      */
    def idPattern: String =
      prefix + "(\\d+)\\." + ext.replace(".", "\\.").replace("?", ".")

    /** [[SourceQueries.fixtureTree]] for this tree: its root for `sfDir`. */
    def tree(sfDir: String)(files: => Iterator[(String, Array[Byte])]): String =
      fixtureTree(rootTag, sfDir)(files)

    /** Every file under `root` named like this tree's assets. */
    def scan(spark: SparkSession, root: String): DataFrame =
      Sources.binaryTree(spark, root, glob)

    /** [[scan]] as `(asset_idx, content)` rows. */
    def assets(spark: SparkSession,
        root: String): Dataset[(Long, Array[Byte])] = {
      import spark.implicits._
      scan(spark, root)
        .select(regexp_extract(col("path"), idPattern, 1).cast("long")
          .as("asset_idx"), col("content"))
        .as[(Long, Array[Byte])]
    }

    /** The oracle's `read_blob` over every asset of the ×1 tree. */
    def blob: String = s"read_blob('${rootOf(tag, OracleSfDir)}/**/$glob')"

    /** The oracle's asset index of a `read_blob` row. */
    def blobIdx: String =
      s"CAST(regexp_extract(filename, '$idPattern', 1) AS BIGINT)"

    /** The oracle's per-file prelude: `(asset_idx, n_bytes)` from
      * [[blob]], plus `head_hex` (the first `headBytes` bytes as
      * uppercase hex, [[Sources.headHex]]'s twin) when `headBytes` > 0.
      */
    def blobRows(headBytes: Int = 0): String = {
      val head =
        if (headBytes > 0)
          s",\n       substring(hex(content), 1, ${2 * headBytes}) AS head_hex"
        else ""
      s"""SELECT $blobIdx AS asset_idx,
         |       CAST(octet_length(content) AS BIGINT) AS n_bytes$head
         |FROM $blob""".stripMargin
    }
  }

  /** Fixture-tree scale knob for the media-dedup SCALING audits (the
    * two-point shuffle measurements a constant-size tree cannot
    * provide): SPARK_GRAFT_MEDIA_SCALE=10 makes the fingerprint/near-dup
    * fixture trees 10× larger, in their own roots. The driver never sets
    * it, so every oracle-pinned tree keeps its documented size and exact
    * bytes (at scale 1 the generators are byte-identical to before — the
    * masking below is the identity on the base index range).
    */
  private[sources] def mediaScale: Int = {
    val s = sys.env.getOrElse("SPARK_GRAFT_MEDIA_SCALE", "1").toInt
    // the *DedupCluster queries encode node ids as kind*1000 + asset_idx;
    // ≥1000 assets per kind (scale ≥ 42) would silently collide across
    // kinds and merge unrelated clusters — fail loudly instead
    require(s * 24 < 1000,
      s"SPARK_GRAFT_MEDIA_SCALE=$s would overflow the kind*1000+asset_idx " +
        "node-id stride of the media dedup-cluster queries (max 41)")
    s
  }
  private[sources] def scaledTag(tag: String): String = {
    val s = mediaScale
    if (s == 1) tag else s"${tag}_x$s"
  }

  /** The keep-largest summary of the three media dedup-cluster queries:
    * cluster members `(id, label, <size>)` → one row per cluster with
    * its size, its representative (the LARGEST member by `size`; ties →
    * smaller id, encoded as one integer argmax key since ids are < 10⁵)
    * and the number of distinct kinds among its members (`kinds`; the
    * kind code is `id div 1000`, see [[mediaScale]]).
    */
  private[sources] def keepLargest(members: DataFrame, size: String,
      kinds: String): DataFrame =
    members.groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        max_by(col("id"), col(size) * 100000L - col("id")).as("representative"),
        countDistinct(expr("id div 1000")).as(kinds))
      .orderBy("cluster_id")


  /** Registration order preserved from the pre-split single file (round
    * 10 split it by media family; the driver's query order is this list).
    */
  val all: Seq[GraftQuery] = {
    import TabularQueries._
    import ImageSourceQueries._
    import ImageDedupQueries._
    import AudioSourceQueries._
    import AudioContainerQueries._
    import AudioDedupQueries._
    import VideoSourceQueries._
    import VideoDedupQueries._
    import MediaCatalogQueries._
    Seq(CsvRoundtrip, BinaryScan, BinaryTwoTone, ImageDims, JsonlRoundtrip,
      OrcRoundtrip, PartitionedRoundtrip, SchemaEvolution, CodecRoundtrip,
      FlacScan, ZmbvScan, Mp4Scan, OggScan, MkvScan, MkvVfwScan, GifScan,
      BmpScan, TiffScan, JpegScan, MsrleScan,
      AdpcmScan, G711Scan, AiffScan, QoiScan, ImageAHash, ImageNearDup,
      ImageDedupCluster, AudioFpScan, AudioNearDup, AudioDedupCluster,
      VideoFpScan, VideoNearDup, VideoDedupCluster, MediaCatalog, Mp3Scan,
      PnmScan, WebpScan)
  }
}
