package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps the product's entry points and configuration surface from
  * growing back: a measurement belongs in `QProbe` or `Bench`, not in a
  * new one-shot `main`, and product code reads no private session-conf
  * switches.
  */
class EntryPointGuardSpec extends AnyFunSuite {
  private lazy val sources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
  }

  test("the objects declaring `def main` are exactly the six tools") {
    val Pkg = """(?m)^package ([\w.]+)""".r
    val Obj = """(?m)^\s*object (\w+)""".r
    val Entry = """def main\(|\bextends App\b""".r
    val mains = sources.flatMap { case (p, src) =>
      val pkg = Pkg.findFirstMatchIn(src).fold("")(_.group(1) + ".")
      val objs = Obj.findAllMatchIn(src).toSeq
      // each entry point belongs to the last object opened before it
      Entry.findAllMatchIn(src).map { e =>
        objs.filter(_.start <= e.start).lastOption
          .fold(p.toString)(o => pkg + o.group(1))
      }
    }
    assert(mains.sorted == Seq("graft.Bench", "graft.Explain", "graft.QProbe",
      "graft.Smoke", "graft.Verify", "graft.pipeline.Runme"), mains)
  }

  test("no product source names a spark.graft.* session key") {
    val offenders = sources.collect {
      case (p, src) if src.contains("\"spark.graft.") => p.toString
    }
    assert(offenders.isEmpty, offenders)
  }
}
