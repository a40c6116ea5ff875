package graft.tools

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps one-off probes out of the main jar: every `main` entry point
  * in src/main must be a tool that a gate, a doc or a daemon runs. A
  * measurement that is run once belongs in perfbench or a scratch
  * branch, not in the shipped jar.
  */
class MainEntryPointsSpec extends AnyFunSuite {

  private val allowed = Set(
    "Bench", "Verify",
    "IngesterMain", "IngesterHttpMain",
    "ChaosGate", "ExecutorLossProbe", "DaemonSoak",
    "ScaleData", "PlanDump", "ExplainAudit", "JobProfile",
    // RiverCli.scala: the writer/reader CLIs and the transport benchmark
    "RiverWriterCli", "RiverReaderCli", "RiverBenchmark",
    "RiverLatencyBenchmark")

  private val ObjectDecl =
    """^\s*(?:private\s+)?(?:case\s+)?object\s+(\w+)""".r
  private val MainDef =
    """\bdef\s+main\s*\(\s*\w+\s*:\s*Array\[String\]\s*\)""".r
  private val AppObject = """\bobject\s+(\w+)\s+extends\s+App\b""".r

  /** (object, file:line) for every object in `src` that defines a
    * `main(args: Array[String])` or extends `App`. */
  private def entryPoints(path: String, src: String)
      : Seq[(String, String)] = {
    var current = "<top level>"
    src.linesIterator.zipWithIndex.flatMap { case (l, i) =>
      ObjectDecl.findFirstMatchIn(l).foreach(m => current = m.group(1))
      val at = s"$path:${i + 1}"
      AppObject.findFirstMatchIn(l).map(m => m.group(1) -> at)
        .orElse(MainDef.findFirstIn(l).map(_ => current -> at))
    }.toSeq
  }

  test("every main entry point in src/main is on the allow-list of " +
      "tools a gate, doc or daemon runs") {
    val root = Paths.get("src/main/scala")
    assume(Files.isDirectory(root), "run from the repo root")
    val found = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => entryPoints(p.toString, Files.readString(p)))
      .toList
    assert(found.exists(_._1 == "Verify"),
      s"the scan found no known entry point: $found")
    val offenders = found.filterNot { case (obj, _) => allowed(obj) }
    assert(offenders.isEmpty,
      "main entry points outside the allow-list (one-off probes belong " +
        s"outside the main jar): ${offenders.map { case (o, at) =>
          s"$o ($at)" }.mkString(", ")}")
  }
}
