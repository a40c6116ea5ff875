package graft.operators

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the durable-index commit protocol single: every batch tree
  * and the manifest are published through `IndexStore.overwriteViaTemp`
  * (batches through `IndexStore.commitBatch`), whose callbacks write only
  * to the temp paths they are handed. A direct parquet write to a
  * `batches/batch=`, `codes/batch=` or `tombstones/batch=` path or to
  * the `centroids` or `codebooks` tree, or a direct create of
  * `_index.json`, bypasses the temp-then-publish step: a failed replay
  * would then clear what an earlier run committed.
  * Every index tree is read back through `IndexStore.readTree`, under the
  * schema declared for it. The on-disk layout is spelled only in
  * `graft.index` (src/main/scala/graft/index), whose helpers are
  * `private[index]`.
  */
class CommitProtocolSpec extends AnyFunSuite {

  /** `.write` followed by builder calls (`.mode(..)`, `.partitionBy(..)`,
    * ...) and a `.parquet(` / `.save(` sink; group 1 is the rest of the
    * sink's line — its target. */
  private val WriteSink = ("""\.write\b(?:\s*\.\s*\w+\s*\(""" +
    """(?:[^()]|\([^()]*\))*\))*\s*\.\s*(?:parquet|save)\s*\(([^\n]*)""").r
  private val BatchTree =
    """(?:batches|codes|tombstones)/batch=|/(?:centroids|codebooks)\b""".r

  /** A sink's target; a bare identifier resolves to the right-hand side
    * of its `val` in the same file (`parquet(centPath)`). */
  private def target(src: String, arg: String): String =
    """^\s*(\w+)\s*\)""".r.findFirstMatchIn(arg)
      .flatMap(id => s"val ${id.group(1)}\\s*=([^\\n]*)".r
        .findFirstMatchIn(src).map(_.group(1)))
      .getOrElse(arg)

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
      case (path, src, m)
          if BatchTree.findFirstIn(target(src, m.group(1))).nonEmpty =>
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
      "durable-index writes that bypass IndexStore.commitBatch / " +
        s"overwriteViaTemp: ${offenders.mkString(", ")}")
  }

  /** `.read` followed by builder calls (`.schema(..)`, `.format(..)`,
    * ...) and a `.parquet(` / `.load(` source. */
  private val ReadSource = ("""\.read\b(?:\s*\.\s*\w+\s*\(""" +
    """(?:[^()]|\([^()]*\))*\))*\s*\.\s*(?:parquet|load)\s*\(""").r

  test("every parquet read in graft.operators goes through " +
      "AnnOps.readTree, the one declared-schema index-tree reader") {
    val reads = sources
      .filter(p => Seq("graft/operators/", "graft/index/")
        .exists(p._1.contains))
      .flatMap { case (path, src) =>
        ReadSource.findAllMatchIn(src).map(m =>
          (s"$path:${lineOf(src, m.start)}", m.matched))
      }
    val (reader, others) =
      reads.partition(_._2.contains(".schema(tree.schema)"))
    assert(others.isEmpty,
      "parquet reads outside IndexStore.readTree (each infers its schema " +
        s"with a Spark job): ${others.map(_._1).mkString(", ")}")
    assert(reader.size == 1, s"readTree's own read not found once: $reader")
  }

  test("the durable-index layout is spelled only in graft.index") {
    val layout = Seq("_index.json", "_commits", "gens/", ".maintenance-lock",
      "tombstones/")
    val outside = sources.filterNot(_._1.contains("graft/index/"))
    assert(outside.size > 10, s"the scan found too few files: ${outside.size}")
    val spelled = outside.flatMap { case (path, src) =>
      src.linesIterator.zipWithIndex.collect {
        case (l, i) if layout.exists(l.contains) => s"$path:${i + 1}"
      }
    }
    assert(spelled.isEmpty,
      s"durable-index layout spelled outside graft.index: " +
        spelled.mkString(", "))
  }
}
