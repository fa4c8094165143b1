package graft.streaming

import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter}
import org.scalatest.funsuite.AnyFunSuite

/** The checkpoint manager the streaming twins run under: atomic publish,
  * create-if-absent, cancel, and the plain file operations, each on a
  * `file:` path and on a scheme-less one.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def names(dir: JPath): Set[String] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[JPath].getFileName.toString).toSet
    finally s.close()
  }

  private def write(fm: LocalCheckpointFileManager, p: Path, bytes: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(bytes.getBytes("UTF-8"))
    out.close()
  }

  private def read(p: JPath): String = new String(Files.readAllBytes(p), "UTF-8")

  for ((style, toPath) <- Seq[(String, JPath => Path)](
      "file:" -> (p => new Path(p.toUri)),
      "scheme-less" -> (p => new Path(p.toString)))) {

    def fixture(): (JPath, LocalCheckpointFileManager) = {
      val dir = Files.createTempDirectory("graft_ckpt")
      (dir, new LocalCheckpointFileManager(toPath(dir), conf))
    }

    test(s"$style: a createAtomic file is invisible until close") {
      val (dir, fm) = fixture()
      val out = fm.createAtomic(toPath(dir.resolve("0")), false)
      out.write("offsets".getBytes("UTF-8"))
      out.flush()
      assert(!fm.exists(toPath(dir.resolve("0"))))
      assert(!Files.exists(dir.resolve("0")))
      out.close()
      assert(read(dir.resolve("0")) == "offsets")
      assert(names(dir) == Set("0"))
    }

    test(s"$style: cancel leaves neither the target nor a temp file") {
      val (dir, fm) = fixture()
      val out = fm.createAtomic(toPath(dir.resolve("1.delta")), true)
      out.write(Array[Byte](1, 2, 3))
      out.cancel()
      out.close() // a cancelled stream stays cancelled
      assert(names(dir).isEmpty)
    }

    test(s"$style: overwrite=false on an existing target fails and keeps the old bytes") {
      val (dir, fm) = fixture()
      val p = toPath(dir.resolve("commits"))
      write(fm, p, "old", overwrite = false)
      intercept[FileAlreadyExistsException] {
        write(fm, p, "new", overwrite = false)
      }
      assert(read(dir.resolve("commits")) == "old")
      assert(names(dir) == Set("commits"))
    }

    test(s"$style: overwrite=true replaces the target") {
      val (dir, fm) = fixture()
      val p = toPath(dir.resolve("metadata"))
      write(fm, p, "old", overwrite = true)
      write(fm, p, "new", overwrite = true)
      assert(read(dir.resolve("metadata")) == "new")
      assert(names(dir) == Set("metadata"))
    }

    test(s"$style: mkdirs, exists, list with a filter, open and delete") {
      val (dir, fm) = fixture()
      val sub = toPath(dir.resolve("state/0/1"))
      assert(!fm.exists(sub))
      fm.mkdirs(sub)
      fm.mkdirs(sub) // an existing dir is fine
      assert(fm.exists(sub) && Files.isDirectory(dir.resolve("state/0/1")))
      for (f <- Seq("1.delta", "2.delta", "2.snapshot"))
        write(fm, new Path(sub, f), f, overwrite = false)
      val deltas = new PathFilter {
        def accept(p: Path): Boolean = p.getName.endsWith(".delta")
      }
      assert(fm.list(sub, deltas).map(_.getPath.getName).sorted.toSeq ==
        Seq("1.delta", "2.delta"))
      assert(fm.list(sub).length == 3)
      val in = fm.open(new Path(sub, "2.snapshot"))
      try assert(new String(in.readAllBytes(), "UTF-8") == "2.snapshot")
      finally in.close()
      fm.delete(new Path(sub, "1.delta"))
      fm.delete(new Path(sub, "absent")) // deleting nothing is fine
      assert(!fm.exists(new Path(sub, "1.delta")))
      assert(names(dir.resolve("state/0/1")) == Set("2.delta", "2.snapshot"))
    }
  }

  test("createCheckpointDirectory makes the qualified root") {
    val dir = Files.createTempDirectory("graft_ckpt").resolve("a/b")
    val fm = new LocalCheckpointFileManager(new Path(dir.toString), conf)
    val root = fm.createCheckpointDirectory()
    assert(root.toUri.getScheme == "file" && root.toUri.getPath == dir.toString)
    assert(Files.isDirectory(dir))
  }
}
