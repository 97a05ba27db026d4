package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, OffsetSeq, OffsetSeqLog}

import graft.SparkSpec
import graft.sources.BusOffset

/** The contract Spark's checkpoint logs rely on, held by the `java.nio`
  * manager: atomic publish, no clobber, cancel leaves nothing, and a
  * checkpoint written by Spark's default manager stays readable. */
class LocalCheckpointFileManagerSpec extends SparkSpec {
  import LocalCheckpointFileManager.ConfKey

  private def hadoopConf = spark.sessionState.newHadoopConf()
  private def local(dir: JPath) = new LocalCheckpointFileManager(new Path(dir.toUri), hadoopConf)
  private def sparkDefault(dir: JPath) = new FileContextBasedCheckpointFileManager(new Path(dir.toUri), hadoopConf)

  private def write(m: CheckpointFileManager, p: Path, s: String, overwrite: Boolean = false): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }
  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSet

  test("a second no-clobber writer of the same file fails and the first file is intact") {
    val dir = Files.createTempDirectory("graft-lcfm")
    val m = local(dir)
    val p = new Path(dir.toUri.toString, "0")
    val first = m.createAtomic(p, false)
    val second = m.createAtomic(p, false)
    first.write("first".getBytes(UTF_8))
    second.write("second".getBytes(UTF_8))
    first.close()
    intercept[FileAlreadyExistsException](second.close())
    assert(read(m, p) === "first")
    assert(names(dir) === Set("0"), "a temp file was left behind")
  }

  test("cancel publishes nothing and leaves no temp file") {
    val dir = Files.createTempDirectory("graft-lcfm")
    val m = local(dir)
    val p = new Path(dir.toUri.toString, "0")
    val out = m.createAtomic(p, false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(!m.exists(p))
    assert(names(dir).isEmpty)
  }

  test("overwriteIfPossible replaces the file's bytes") {
    val dir = Files.createTempDirectory("graft-lcfm")
    val m = local(dir)
    val p = new Path(dir.toUri.toString, "0")
    write(m, p, "old")
    write(m, p, "new", overwrite = true)
    assert(read(m, p) === "new")
    assert(names(dir) === Set("0"))
  }

  test("a checkpoint moves between Spark's default manager and this one without a stale checksum") {
    val dir = Files.createTempDirectory("graft-lcfm")
    val (ours, theirs) = (local(dir), sparkDefault(dir))
    val p = new Path(dir.toUri.toString, "0")
    val q = new Path(dir.toUri.toString, "1")
    write(theirs, p, "theirs")
    write(theirs, q, "theirs")
    assert(names(dir) === Set("0", ".0.crc", "1", ".1.crc"))
    // this manager reads the default manager's files, checksums verified
    assert(read(ours, p) === "theirs")
    // rewriting a file drops its sidecar, so the default manager reads
    // the new bytes instead of failing the old checksum
    write(ours, p, "ours", overwrite = true)
    assert(read(theirs, p) === "ours")
    ours.delete(q)
    assert(names(dir) === Set("0"))
    assert(ours.list(new Path(dir.toUri)).map(_.getPath.getName).toSeq === Seq("0"))
  }

  test("two offset logs on one directory: the second writer of a batch fails as a concurrent writer, as under Spark's default manager") {
    // b writes batch 0 while a's write of batch 0 is still open, so both
    // pass the log's existence check and a's publish is the conflict
    def conflict(managerClass: String): Throwable = {
      val dir = Files.createTempDirectory("graft-lcfm").toString
      spark.conf.set(ConfKey, managerClass)
      try {
        val a = new OffsetSeqLog(spark, dir)
        val b = new OffsetSeqLog(spark, dir)
        val batch = OffsetSeq.fill(BusOffset(5))
        val e = intercept[Exception] {
          a.addNewBatchByStream(0) { out =>
            assert(b.add(0, batch))
            out.write("a".getBytes(UTF_8))
          }
        }
        assert(b.get(0).isDefined)
        e
      } finally spark.conf.unset(ConfKey)
    }
    val theirs = conflict(classOf[FileContextBasedCheckpointFileManager].getName)
    val ours = conflict(classOf[LocalCheckpointFileManager].getName)
    assert(theirs.getClass.getName === "org.apache.spark.SparkConcurrentModificationException")
    assert(ours.getClass === theirs.getClass)
    assert(ours.getCause.isInstanceOf[FileAlreadyExistsException])
  }
}
