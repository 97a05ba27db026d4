package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every runnable program in `src/main` must be named where someone would
  * find it — the README, a test, the benchmark, the tools or the Python
  * shim — so a one-off measurement `main` cannot outlive its use
  * unnoticed. */
class EntryPointsSpec extends AnyFunSuite {

  private def sources(root: String, ext: String*): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(f =>
        Files.isRegularFile(f) && ext.exists(f.toString.endsWith)).toList
      finally s.close()
    }
  }

  private def read(p: Path) = new String(Files.readAllBytes(p), "UTF-8")

  /** (file, object) for each `def main(` under src/main/scala: the object
    * is the nearest one declared above the method. */
  private def entryPoints: Seq[(Path, String)] =
    sources("src/main/scala", ".scala").flatMap { f =>
      val src = read(f)
      """def main\(""".r.findAllMatchIn(src).map { m =>
        val obj = """object\s+(\w+)""".r.findAllMatchIn(src.take(m.start))
          .map(_.group(1)).toSeq.lastOption
        f -> obj.getOrElse(fail(s"$f: `def main(` outside an object"))
      }
    }

  test("every main under src/main is named by the README, a test, the benchmark, tools or python") {
    assert(entryPoints.nonEmpty, "no entry points found: wrong working directory?")
    val self = Paths.get("src/test/scala/graft/EntryPointsSpec.scala")
    val refs = (Seq(Paths.get("README.md")) ++
      sources("src/test", ".scala", ".py") ++
      sources("perfbench/src", ".scala") ++
      sources("tools", ".py") ++
      sources("python", ".py"))
      .filterNot(f => Files.isSameFile(f, self))
      .map(read).mkString("\n")
    val unnamed = entryPoints.filterNot { case (_, obj) =>
      s"\\b$obj\\b".r.findFirstIn(refs).isDefined
    }
    assert(unnamed.isEmpty,
      s"entry points nothing refers to (document, test or delete them): " +
        unnamed.map { case (f, o) => s"$o ($f)" }.mkString(", "))
  }
}
