package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption, Path => JPath}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus,
  FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Streaming checkpoint files on a local disk, written through `java.nio`.
  * Selected by `spark.sql.streaming.checkpointFileManagerClass` in
  * [[StreamQueries]]' scoped confs.
  *
  * Without libhadoop, Hadoop's local file system forks a process for
  * every permission and symlink check: `chmod` on each `mkdirs` and file
  * create, `readlink` on each `FileContext.rename`. Spark's default
  * manager commits every offset, commit log entry, state-store delta and
  * checksum file through those calls, about 150 forks per twin run. Here
  * a file is written to a temp sibling and published with one atomic
  * `rename(2)` (overwrite) or `link(2)` (create-if-absent, which fails if
  * the target exists); `open`, `list` and `delete` go to the raw local
  * file system, which forks nothing. The files carry no Hadoop `.crc`
  * sidecars; the state store's own checksum files (Spark's
  * `ChecksumCheckpointFileManager`, which wraps this manager) are
  * unchanged. A checkpoint whose file system is not `file:` is handled by
  * the inherited `FileContext` manager, unchanged.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  private val local = fc.getDefaultFileSystem.getUri.getScheme == "file"
  private lazy val raw = FileSystem.getLocal(hadoopConf).getRawFileSystem

  private def nio(p: Path): JPath = Paths.get(p.toUri.getPath)

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (!local) super.createAtomic(p, overwriteIfPossible)
    else {
      val dst = nio(p)
      new LocalCheckpointFileManager.AtomicStream(dst,
        dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp"),
        overwriteIfPossible)
    }

  override def open(p: Path): FSDataInputStream =
    if (local) raw.open(p) else super.open(p)

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    if (local) raw.listStatus(p, filter) else super.list(p, filter)

  override def mkdirs(p: Path): Unit =
    if (local) Files.createDirectories(nio(p)) else super.mkdirs(p)

  override def exists(p: Path): Boolean =
    if (local) Files.exists(nio(p)) else super.exists(p)

  override def delete(p: Path): Unit =
    if (local) raw.delete(p, true) else super.delete(p)

  override def createCheckpointDirectory(): Path =
    if (!local) super.createCheckpointDirectory()
    else {
      val qualified = fc.makeQualified(path)
      Files.createDirectories(nio(qualified))
      qualified
    }
}

object LocalCheckpointFileManager {

  /** Writes `tmp`; `close` publishes it at `dst`, `cancel` drops it. Either
    * way no temp file outlives the stream.
    */
  private final class AtomicStream(dst: JPath, tmp: JPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(
        new BufferedOutputStream(Files.newOutputStream(tmp))) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          super.close()
          if (overwrite)
            Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
          else
            try Files.createLink(dst, tmp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$dst already exists")
            }
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        // a cancel runs on a failure path: it must not mask that failure
        try super.close() catch { case NonFatal(_) => }
        finally Files.deleteIfExists(tmp)
      }
    }
  }
}
