package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Pins every declared query's DuckDB oracle token for token.
  *
  * The pin is the SHA-256 of each `SparkEntry.oracleSql` text after every
  * whitespace run outside single-quoted literals is collapsed to one
  * space (and the ends trimmed), so re-indenting or re-wrapping an oracle
  * keeps its pin while any changed token, identifier or literal fails it
  * and names the query. The table lives in `oracle_sql.sha256` (one
  * `name digest` line per query); after a deliberate oracle change,
  * regenerate it from the repo root with
  * `sbt "Test/runMain graft.OracleSqlPinSpec src/test/resources/oracle_sql.sha256"`.
  */
class OracleSqlPinSpec extends AnyFunSuite {
  import OracleSqlPinSpec._

  test("the whitespace collapse leaves single-quoted literals alone") {
    assert(normalize("  SELECT\n\t a ,  'x  \n y'  FROM t  ") ==
      "SELECT a , 'x  \n y' FROM t")
    assert(normalize("SELECT 'it''s  here'   AS s") ==
      "SELECT 'it''s  here' AS s")
  }

  test("every oracle's normalized text matches its pinned SHA-256") {
    val src = Option(getClass.getResourceAsStream("/oracle_sql.sha256"))
    assert(src.isDefined, "oracle_sql.sha256 is missing from test resources")
    val pinned = scala.io.Source.fromInputStream(src.get, "UTF-8")
      .getLines().filter(_.trim.nonEmpty)
      .map { l => val Array(n, d) = l.trim.split("\\s+"); n -> d }.toMap
    val now = table
    val changed = now.collect {
      case (n, d) if pinned.get(n).exists(_ != d) => n
    }.toSeq.sorted
    val added = (now.keySet -- pinned.keySet).toSeq.sorted
    val gone = (pinned.keySet -- now.keySet).toSeq.sorted
    assert(changed.isEmpty && added.isEmpty && gone.isEmpty,
      s"oracle SQL drifted from its pin — changed: ${changed.mkString(", ")}; " +
        s"unpinned: ${added.mkString(", ")}; pinned but gone: " +
        gone.mkString(", "))
    assert(now.size == SparkEntry.allQueries.size)
  }
}

object OracleSqlPinSpec {

  /** Collapse each whitespace run outside `'...'` literals to one space
    * and trim the ends. A doubled quote inside a literal closes and
    * reopens it with nothing between, so it needs no special case. */
  def normalize(sql: String): String = {
    val out = new StringBuilder
    var inLit = false
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'') { inLit = !inLit; out += c; i += 1 }
      else if (!inLit && c.isWhitespace) {
        while (i < sql.length && sql.charAt(i).isWhitespace) i += 1
        out += ' '
      } else { out += c; i += 1 }
    }
    out.toString.trim
  }

  def digest(sql: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(normalize(sql).getBytes(UTF_8)).map("%02x".format(_)).mkString

  def table: Map[String, String] =
    SparkEntry.oracleSql.map { case (n, sql) => n -> digest(sql) }

  /** Writes the current pin table to `args(0)`, sorted by query name. */
  def main(args: Array[String]): Unit =
    Files.writeString(Paths.get(args(0)), table.toSeq.sorted
      .map { case (n, d) => s"$n $d\n" }.mkString)
}
