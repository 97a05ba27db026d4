package graft.streaming

import java.util.concurrent.TimeUnit

import scala.io.Source
import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

/** Runs the PySpark shim end to end: `python3 python/smoke_pubsub.py`
  * from the project base (the forked test JVM's working directory),
  * which loads the compiled classes from `target/scala-2.13/classes`.
  * The smoke starts its own Spark driver through pyspark, so it shares
  * nothing with the suite's session. */
class PythonShimSmokeSpec extends AnyFunSuite {

  test("python/smoke_pubsub.py drives the shim through pull, a pandas UDF, publish and ack") {
    val pyspark = Try {
      val p = new ProcessBuilder("python3", "-c", "import pyspark")
        .redirectErrorStream(true).start()
      p.getInputStream.readAllBytes()
      p.waitFor(60, TimeUnit.SECONDS) && p.exitValue() == 0
    }.getOrElse(false)
    assume(pyspark, "python3 with pyspark is not available")

    // stdout carries the PASS lines; stderr (Spark's log and progress
    // bar, a Python traceback) goes to a file shown on failure
    val errFile = java.nio.file.Files.createTempFile("py-smoke", ".err")
    val proc = new ProcessBuilder("python3", "python/smoke_pubsub.py")
      .redirectError(errFile.toFile).start()
    val out = new StringBuilder
    val reader = new Thread(() => {
      val src = Source.fromInputStream(proc.getInputStream, "UTF-8")
      try src.getLines().foreach(l => out.synchronized(out.append(l).append('\n')))
      finally src.close()
    }, "py-smoke-output")
    reader.setDaemon(true)
    reader.start()
    try {
      val finished = proc.waitFor(5, TimeUnit.MINUTES)
      if (!finished) proc.destroyForcibly().waitFor(30, TimeUnit.SECONDS)
      reader.join(10000)
      val stdout = out.synchronized(out.toString)
      def log = s"stdout:\n$stdout\nstderr (tail):\n" +
        new String(java.nio.file.Files.readAllBytes(errFile), "UTF-8").takeRight(8000)
      assert(finished, s"smoke still running after 5 minutes\n$log")
      assert(proc.exitValue() == 0, s"smoke exited ${proc.exitValue()}\n$log")
      val passes = stdout.linesIterator.filter(_.startsWith("PASS")).toList
      assert(passes.size == 3, s"want three PASS lines\n$log")
      assert(passes.head.contains("batches of 10/10/5"), passes.head)
    } finally java.nio.file.Files.delete(errFile)
  }
}
