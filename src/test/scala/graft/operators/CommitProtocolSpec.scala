package graft.operators

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the durable-index commit protocol single: every batch tree
  * and the manifest are published through `AnnOps.overwriteViaTemp`
  * (batches through `AnnOps.commitBatch`), whose callbacks write only
  * to the temp paths they are handed. A direct parquet write to a
  * `batches/batch=`, `codes/batch=` or `tombstones/batch=` path, or a
  * direct create of `_index.json`, bypasses the temp-then-publish step:
  * a failed replay would then clear what an earlier run committed.
  * Every index tree is read back through `AnnOps.readTree`, under the
  * schema declared for it.
  */
class CommitProtocolSpec extends AnyFunSuite {

  /** `.write` followed by builder calls (`.mode(..)`, `.partitionBy(..)`,
    * ...) and a `.parquet(` / `.save(` sink; group 1 is the rest of the
    * sink's line — its target. */
  private val WriteSink = ("""\.write\b(?:\s*\.\s*\w+\s*\(""" +
    """(?:[^()]|\([^()]*\))*\))*\s*\.\s*(?:parquet|save)\s*\(([^\n]*)""").r
  private val BatchTree = """(?:batches|codes|tombstones)/batch=""".r

  private def sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assume(Files.isDirectory(root), "run from the repo root")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> Files.readString(p)).toList
  }

  private def lineOf(src: String, at: Int) =
    src.substring(0, at).count(_ == '\n') + 1

  test("no durable-index batch tree or manifest is written in src/main " +
      "outside the temp-then-publish commit helpers") {
    val all = sources
    val sinks = all.flatMap { case (path, src) =>
      WriteSink.findAllMatchIn(src).map(m => (path, src, m)) }
    assert(sinks.size > 10, s"the scan found too few write sinks: ${sinks.size}")
    val direct = sinks.collect {
      case (path, src, m) if BatchTree.findFirstIn(m.group(1)).nonEmpty =>
        s"$path:${lineOf(src, m.start)}"
    }
    val manifest = all.flatMap { case (path, src) =>
      src.linesIterator.zipWithIndex.collect {
        case (l, i) if l.contains("_index.json") && l.contains(".create(") =>
          s"$path:${i + 1}"
      }
    }
    val offenders = direct ++ manifest
    assert(offenders.isEmpty,
      "durable-index writes that bypass AnnOps.commitBatch / " +
        s"overwriteViaTemp: ${offenders.mkString(", ")}")
  }

  /** `.read` followed by builder calls (`.schema(..)`, `.format(..)`,
    * ...) and a `.parquet(` / `.load(` source. */
  private val ReadSource = ("""\.read\b(?:\s*\.\s*\w+\s*\(""" +
    """(?:[^()]|\([^()]*\))*\))*\s*\.\s*(?:parquet|load)\s*\(""").r

  test("every parquet read in graft.operators goes through " +
      "AnnOps.readTree, the one declared-schema index-tree reader") {
    val reads = sources
      .filter(_._1.contains("graft/operators/"))
      .flatMap { case (path, src) =>
        ReadSource.findAllMatchIn(src).map(m =>
          (s"$path:${lineOf(src, m.start)}", m.matched))
      }
    val (reader, others) =
      reads.partition(_._2.contains(".schema(tree.schema)"))
    assert(others.isEmpty,
      "parquet reads outside AnnOps.readTree (each infers its schema " +
        s"with a Spark job): ${others.map(_._1).mkString(", ")}")
    assert(reader.size == 1, s"readTree's own read not found once: $reader")
  }
}
