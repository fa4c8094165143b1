package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Source/sink semantics not visible to the oracle hash-match: the
  * partitioned layout's PLAN guarantee — the source filter must prune at
  * the directory level, before any data file is opened. (The generic
  * pruning mechanism is also covered in ScaleSpec; this pins the query's
  * own layout.)
  */
class SourceQueriesSpec extends SparkSpec {

  test("partitioned roundtrip: the re-read scan prunes excluded source " +
    "directories and matches the unpartitioned filter") {
    val out = TabularQueries.PartitionedRoundtrip.run(spark, sf).collect()
    assert(out.nonEmpty)
    // the run above wrote the layout; re-open it the way the query does
    val safe = sf.replaceAll("[^A-Za-z0-9.]", "_")
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_hivepart_$safe",
      "documents").toString
    val pruned = spark.read.parquet(dir)
      .filter(col("source").isin("src1", "src2"))
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("source"),
      s"no partition filter in:\n$plan")
    // every file actually read at execution lives under a kept directory
    val scanned = pruned.select(input_file_name().as("f"))
      .distinct().collect().map(_.getString(0))
    assert(scanned.nonEmpty)
    assert(scanned.forall(p =>
      p.contains("source=src1") || p.contains("source=src2")),
      scanned.take(3).mkString(", "))
    // row parity with the same filter on the original table
    val expected = graft.Graft.table(spark, sf, "documents")
      .filter(col("source").isin("src1", "src2")).count()
    assert(pruned.count() == expected && expected > 0)
  }

  test("image dims: SQL header arithmetic agrees with the driver-side " +
    "parser on every file in the tree") {
    val rows = ImageSourceQueries.ImageDims.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 24)
    assert(rows.map(_._1).toSeq == (0L until 24L), "one row per image, ordered")
    // differential: re-parse each file with ImageOps.imageDims
    val safe = sf.replaceAll("[^A-Za-z0-9.]", "_")
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_img_$safe")
    rows.foreach { case (id, w, h, nBytes) =>
      assert(w == 16 && h == 16, s"img $id dims ${w}x$h")
      val file = java.nio.file.Files.walk(root).iterator().asScala
        .find(_.getFileName.toString == f"img$id%03d.png").get
      val bytes = java.nio.file.Files.readAllBytes(file)
      assert(bytes.length.toLong == nBytes, s"img $id size")
      val parsed = graft.images.ImageOps.imageDims(bytes)
      assert(parsed.contains((w.toInt, h.toInt, "png")), s"img $id: $parsed")
    }
  }
  test("fixtureTree: an interrupted build leaves no tree") {
    import java.nio.file.{Files, Path, Paths}
    val sfDir = "/spec/fixture_tree" // synthetic key, never generated
    val tag = "fxspec"
    val root = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}")
    def rm(p: Path): Unit = if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    def files(under: Path): Map[String, Seq[Byte]] =
      Files.walk(under).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => under.relativize(p).toString -> Files.readAllBytes(p).toSeq)
        .toMap
    def file(i: Int) = (s"${i % 2}/${i % 3}/f$i.bin",
      Array.tabulate(10 + i)(k => (7 * i + k).toByte))
    var calls = 0
    def generator(failAt: Int) = {
      calls += 1
      (0 until 6).iterator.map { i =>
        if (i == failAt) throw new IllegalStateException("encoder died")
        file(i)
      }
    }
    rm(root)
    try {
      val e = intercept[IllegalStateException](
        SourceQueries.fixtureTree(tag, sfDir)(generator(failAt = 3)))
      assert(e.getMessage == "encoder died")
      assert(!Files.exists(root), "3 of 6 files passed as a complete tree")
      assert(!Files.list(root.getParent).iterator().asScala
        .exists(_.getFileName.toString.startsWith(s".${root.getFileName}")),
        "the staging directory outlived the failed build")
      assert(SourceQueries.fixtureTree(tag, sfDir)(generator(-1)) ==
        root.toString)
      assert(files(root) ==
        (0 until 6).map(file).map { case (r, b) => r -> b.toSeq }.toMap)
      SourceQueries.fixtureTree(tag, sfDir)(generator(-1))
      assert(calls == 2, "the generator ran again over a complete tree")
      // a root planted by hand is returned untouched
      rm(root)
      Files.createDirectories(root.resolve("x"))
      Files.write(root.resolve("x/planted.bin"), Array[Byte](1))
      assert(SourceQueries.fixtureTree(tag, sfDir)(generator(-1)) ==
        root.toString)
      assert(calls == 2)
      assert(files(root) == Map("x/planted.bin" -> Seq[Byte](1)))
    } finally rm(root)
  }

  test("every read_blob oracle reads a tree its query writes under " +
    "java.io.tmpdir") {
    import java.nio.file.{FileSystems, Files, Paths}
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val blob = "read_blob\\('([^']+)'\\)".r
    val blobOracles = graft.SparkEntry.registry
      .flatMap(q => q.oracle.filter(_.contains("read_blob(")).map(q -> _))
    assert(blobOracles.nonEmpty)
    blobOracles.foreach { case (q, sql) =>
      // run() writes every fixture tree the query scans
      q.run(spark, SourceQueries.OracleSfDir)
      val globs = blob.findAllMatchIn(sql).map(_.group(1)).toSeq
      assert(globs.nonEmpty, s"${q.name}: no read_blob glob")
      globs.foreach { g =>
        val root = Paths.get(g.substring(0, g.indexOf("/**/")))
        assert(root.startsWith(tmp), s"${q.name}: $g is not under $tmp")
        val names = FileSystems.getDefault
          .getPathMatcher("glob:" + g.substring(g.lastIndexOf('/') + 1))
        val walk = Files.walk(root)
        try assert(walk.iterator().asScala.exists(p =>
            Files.isRegularFile(p) && names.matches(p.getFileName)),
          s"${q.name}: $g matches no file")
        finally walk.close()
      }
    }
    spark.catalog.clearCache()
  }

  test("media catalog root carries the media scale of the trees it copies") {
    assert(MediaCatalogQueries.ensureMediaCatalog(sf) ==
      SourceQueries.rootOf(SourceQueries.scaledTag("media"), sf).toString)
  }

  test("codec roundtrip: snappy and zstd checksums agree") {
    val out = TabularQueries.CodecRoundtrip.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(out.length == 2)
    assert(out.map(_._1).toSeq == Seq("snappy", "zstd"))
    assert(out(0)._2 == out(1)._2 && out(0)._3 == out(1)._3,
      s"codecs must be lossless: ${out.toSeq}")
  }


  test("image dedup clusters equal an independent union-find over the pair graph") {
    // independent re-derivation: collect the near-dup PAIRS (their own
    // query is oracle-green), run a plain-Scala union-find, apply the
    // same keep-largest policy, compare to the operator's clusters
    val pairs = ImageDedupQueries.ImageNearDup.run(spark, sf).collect()
      .map { r =>
        def nid(s: String): Long =
          (s.head match { case 's' => 0L; case 't' => 1L; case _ => 2L }) *
            1000L + s.tail.toLong
        (nid(r.getString(0)), nid(r.getString(1)))
      }
    val bytes = ImageDedupQueries.ImageAHash.run(spark, sf).collect()
      .map { r =>
        val k = r.getString(0) match { case "s" => 0L; case "t" => 1L; case _ => 2L }
        (k * 1000L + r.getLong(1)) -> r.getLong(4)
      }.toMap
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElseUpdate(r, r) != r) r = parent(r); r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val want = members.groupBy(m => members.filter(n => find(n) == find(m)).min)
      .map { case (root, ms) =>
        root -> (ms.length.toLong,
          ms.maxBy(m => bytes(m) * 100000L - m), ms.map(_ / 1000).distinct.length.toLong)
      }
    val got = ImageDedupQueries.ImageDedupCluster.run(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == want, s"clusters diverged: got ${got.size}, want ${want.size}")
    // the solid tree is one giant exact-dup class: all 24 hash to 0 and
    // pairwise Hamming 0 — they must land in ONE cluster rooted at nid 0
    assert(got.contains(0L) && got(0L)._1 >= 24L, s"solid cluster: ${got.get(0L)}")
    spark.catalog.clearCache()
  }

  test("audio dedup clusters: union-find differential + cross-container unification") {
    val pairs = AudioDedupQueries.AudioNearDup.run(spark, sf).collect()
      .map { r =>
        def nid(s: String): Long =
          (s.head match { case 'a' => 0L; case 'o' => 1L; case _ => 2L }) *
            1000L + s.tail.toLong
        (nid(r.getString(0)), nid(r.getString(1)))
      }
    val samples = AudioDedupQueries.AudioFpScan.run(spark, sf).collect()
      .map { r =>
        val k = r.getString(0) match { case "a" => 0L; case "o" => 1L; case _ => 2L }
        (k * 1000L + r.getLong(1)) -> r.getLong(3)
      }.toMap
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElseUpdate(r, r) != r) r = parent(r); r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val want = members.groupBy(m => members.filter(n => find(n) == find(m)).min)
      .map { case (root, ms) =>
        root -> (ms.length.toLong,
          ms.maxBy(m => samples(m) * 100000L - m),
          ms.map(_ / 1000).distinct.length.toLong)
      }
    val got = AudioDedupQueries.AudioDedupCluster.run(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == want, s"clusters diverged: got ${got.size}, want ${want.size}")
    // the whole point: at least one cluster spans containers (the bare-
    // FLAC and Matroska trees share PCM formulas)
    assert(got.values.exists(_._3 >= 2L), "no cross-container cluster found")
    spark.catalog.clearCache()
  }

  test("video dedup clusters: union-find differential over the shot-overlap graph") {
    val pairs = VideoDedupQueries.VideoNearDup.run(spark, sf).collect()
      .map { r =>
        def nid(s: String): Long =
          (if (s.head == 'v') 0L else 1L) * 1000L + s.tail.toLong
        (nid(r.getString(0)), nid(r.getString(1)))
      }
    val nFrames = VideoDedupQueries.VideoFpScan.run(spark, sf).collect()
      .map { r =>
        val k = if (r.getString(0) == "v") 0L else 1L
        (k * 1000L + r.getLong(1))
      }.groupBy(identity).map { case (id, g) => id -> g.length.toLong }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElseUpdate(r, r) != r) r = parent(r); r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val want = members.groupBy(m => members.filter(n => find(n) == find(m)).min)
      .map { case (root, ms) =>
        root -> (ms.length.toLong,
          ms.maxBy(m => nFrames(m) * 100000L - m),
          ms.map(_ / 1000).distinct.length.toLong)
      }
    val got = VideoDedupQueries.VideoDedupCluster.run(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == want, s"clusters diverged: got ${got.size}, want ${want.size}")
    spark.catalog.clearCache()
  }
}
