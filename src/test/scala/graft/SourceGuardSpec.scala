package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard over `src/main/scala`: query code takes no JVM system
  * properties (A/B toggles belong in a benchmark arm, not in the engine),
  * and the set of entry points is closed — timing, tracing and A/B runs
  * go through `perfbench/run.py`, plan text through PlanDump, so a new
  * one-off probe `main` fails here. One guard covers all of `src`: the
  * generated-class cache size has exactly one home, BenchConf.
  */
class SourceGuardSpec extends AnyFunSuite {

  private val Mains = Set("Bench", "Verify", "ScaleCheck", "PlanDump",
    "QList", "core.SampleMain", "streaming.StreamDemo")

  private val Pkg = """(?m)^package\s+([\w.]+)""".r
  private val Obj =
    """(?m)^\s*(?:(?:private|protected|final|case)\s+)*object\s+(\w+)""".r
  private val Main = """\bdef\s+main\s*\(|\bextends\s+App\b""".r

  private def read(root: String): Seq[(Path, String)] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(Files.isRegularFile(_)).toList
      .map(p => p -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    finally s.close()
  }

  private lazy val sources: Seq[(Path, String)] =
    read("src/main/scala").filter(_._1.toString.endsWith(".scala"))

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

  test("the codegen cache size is set in BenchConf and nowhere else") {
    // the cache is JVM-wide and sized once, by the first session that
    // generates code: a second setting anywhere would race this one
    val key = org.apache.spark.sql.internal.StaticSQLConf
      .CODEGEN_CACHE_MAX_ENTRIES.key
    val hits = read("src").collect {
      case (p, src) if src.contains(key) => p.toString
    }
    assert(hits == Seq("src/main/scala/graft/BenchConf.scala"),
      s"$key set in: ${hits.mkString(", ")}")
  }
}
