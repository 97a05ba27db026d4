package graft.streaming

import java.io.{BufferedOutputStream, File}
import java.nio.file.{Files, Path => JPath, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A checkpoint file manager that writes `file:` checkpoints with
  * `java.nio` instead of Hadoop's local filesystem. Without the native
  * `libhadoop`, Hadoop's local filesystem forks `chmod` for every file it
  * creates and `readlink` for every path a `FileContext` rename touches:
  * about 20 processes per micro-batch for the offset log and the commit
  * log. `java.nio` does the same writes without a fork.
  *
  * `createAtomic` writes a hidden temp file beside the target, and its
  * `close()` publishes it with a hard link (no clobber: a second writer
  * of the same file gets Hadoop's `FileAlreadyExistsException`, which
  * `HDFSMetadataLog` reports as a concurrent writer) or, when
  * overwriting, with an atomic rename. No reader sees a torn file. No
  * `.crc` sidecar is written, as on Spark's object-store checkpoints; a
  * sidecar left by Spark's default manager is deleted whenever this
  * manager publishes or deletes the file it belongs to, so a checkpoint
  * can move between the two managers. Like Spark's default manager on a
  * local disk, nothing is fsync'd.
  *
  * Reads, listings and existence checks go to Hadoop's local filesystem,
  * which forks for none of them. A path on any other scheme goes to the
  * manager Spark would pick with `spark.sql.streaming.checkpointFileManagerClass`
  * unset. [[Pipeline.startQuery]] installs this manager for the
  * queries it starts. */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val fs = path.getFileSystem(hadoopConf)
  private val onFile = fs.getScheme == "file"

  /** Spark's own choice, for a path on any scheme but `file:`. */
  private lazy val other = {
    val conf = new Configuration(hadoopConf)
    conf.unset(ConfKey)
    CheckpointFileManager.create(path, conf)
  }

  private def local(p: Path): JPath = new File(fs.makeQualified(p).toUri).toPath

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (!onFile) other.createAtomic(p, overwriteIfPossible)
    else {
      val dst = local(p)
      Files.createDirectories(dst.getParent)
      new AtomicFile(dst, overwriteIfPossible,
        dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp"))
    }

  override def open(p: Path): FSDataInputStream =
    if (onFile) fs.open(p) else other.open(p)

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    if (onFile) fs.listStatus(p, filter) else other.list(p, filter)

  override def mkdirs(p: Path): Unit =
    if (onFile) Files.createDirectories(local(p)) else other.mkdirs(p)

  override def exists(p: Path): Boolean =
    if (onFile) fs.exists(p) else other.exists(p)

  /** On `file:`, Hadoop's checksummed local filesystem deletes a file's
    * `.crc` sidecar with it. */
  override def delete(p: Path): Unit =
    if (onFile) fs.delete(p, true) else other.delete(p)

  override def isLocal: Boolean = onFile || other.isLocal

  override def createCheckpointDirectory(): Path =
    if (!onFile) other.createCheckpointDirectory()
    else {
      val qualified = fs.makeQualified(path)
      Files.createDirectories(local(qualified))
      qualified
    }

  override def close(): Unit = if (!onFile) other.close()
}

object LocalCheckpointFileManager {
  /** The session conf through which Spark picks a checkpoint manager. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Hadoop's checksum sidecar of `f`. */
  private def crcOf(f: JPath): JPath = f.resolveSibling(s".${f.getFileName}.crc")

  /** Bytes go to `tmp`; `close()` publishes them at `dst`, `cancel()`
    * drops them. Either way `tmp` is gone afterwards. */
  private final class AtomicFile(dst: JPath, overwrite: Boolean, tmp: JPath)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          super.close()
          // dropping a sidecar never makes a file unreadable, only
          // unchecked, so it goes before the publish
          Files.deleteIfExists(crcOf(dst))
          if (overwrite) Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
          else
            try Files.createLink(dst, tmp)
            catch { case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$dst already exists")
            }
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try underlyingStream.close() finally Files.deleteIfExists(tmp)
      }
    }
  }
}
