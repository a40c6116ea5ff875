package graft.queries

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the md5 bucket that every deterministic split and sample of
  * the query layer keys on spelled once: `GraftQuery.md5Bucket`. A
  * second Scala spelling of `conv(substring(md5(..), 1, 4), 16, 10)`
  * can drift from the helper (and from its oracle twin
  * `GraftQuery.sqlMd5Bucket`) without any oracle noticing until a split
  * moves.
  */
class QuerySourceSpec extends AnyFunSuite {

  /** `conv(substring(md5(<arg>), 1, 4), 16, 10)` across line breaks;
    * `<arg>` may hold one level of parentheses (`$"id".cast("string")`). */
  private val Md5Bucket = ("""conv\(\s*substring\(\s*md5\(""" +
    """(?:[^()]|\([^()]*\))*\)\s*,\s*1\s*,\s*4\s*\)\s*,\s*16\s*,\s*10\s*\)""").r

  test("the Scala md5-bucket spelling appears in graft/queries only " +
      "inside GraftQuery.md5Bucket") {
    val root = Paths.get("src/main/scala/graft/queries")
    assume(Files.isDirectory(root), "run from the repo root")
    val hits = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .flatMap { p =>
        val src = Files.readString(p)
        Md5Bucket.findAllMatchIn(src).map { m =>
          val line = src.substring(0, m.start).count(_ == '\n') + 1
          val owner = src.substring(0, m.start)
            .lastIndexOf("def md5Bucket(") match {
            case -1 => ""
            case i => src.substring(i, m.start)
          }
          (s"${p.getFileName}:$line", owner)
        }
      }
    assert(hits.size == 1,
      s"md5 bucket spelled outside its helper: ${hits.map(_._1).mkString(", ")}")
    val (at, owner) = hits.head
    assert(at.startsWith("GraftQuery.scala:") && owner.nonEmpty &&
      !owner.drop(1).contains("def "),
      s"the one md5 bucket spelling at $at is not GraftQuery.md5Bucket's body")
  }
}
