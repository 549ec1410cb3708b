package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard over `src/main/scala`: query code takes no JVM system
  * properties (A/B toggles belong in a benchmark arm, not in the engine),
  * and the set of entry points is closed — timing, tracing and A/B runs
  * go through `perfbench/run.py`, plan text through PlanDump, so a new
  * one-off probe `main` fails here.
  */
class SourceGuardSpec extends AnyFunSuite {

  private val Mains = Set("Bench", "Verify", "ScaleCheck", "PlanDump",
    "QList", "core.SampleMain", "streaming.StreamDemo")

  private val Pkg = """(?m)^package\s+([\w.]+)""".r
  private val Obj =
    """(?m)^\s*(?:(?:private|protected|final|case)\s+)*object\s+(\w+)""".r
  private val Main = """\bdef\s+main\s*\(|\bextends\s+App\b""".r

  private lazy val sources: Seq[(Path, String)] = {
    val s = Files.walk(Paths.get("src/main/scala"))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    finally s.close()
  }

  test("no main source reads JVM system properties") {
    val hits = sources.collect {
      case (p, src) if src.contains("sys.props") ||
        src.contains("System.getProperty") => p.toString
    }
    assert(hits.isEmpty, s"system property reads in: ${hits.mkString(", ")}")
  }

  test("the objects that define a main are exactly the kept entry points") {
    val found = sources.flatMap { case (_, src) =>
      val pkg = Pkg.findFirstMatchIn(src).map(_.group(1)).getOrElse("")
        .stripPrefix("graft").stripPrefix(".")
      Main.findAllMatchIn(src).map { m =>
        // the main belongs to the nearest object declared before it
        val owner = Obj.findAllMatchIn(src.substring(0, m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse("?")
        if (pkg.isEmpty) owner else s"$pkg.$owner"
      }
    }.toSet
    assert(found == Mains,
      s"unexpected: ${(found -- Mains).toSeq.sorted.mkString(", ")}; " +
        s"missing: ${(Mains -- found).toSeq.sorted.mkString(", ")}")
  }
}
