package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** Pins every generated oracle SQL text at once: the whitespace-
  * normalized sha256 over the query table, the digest the verify recipe
  * computes from `oracle_sql.json`, so an oracle refactor that changes
  * any SQL token fails here without a DuckDB run. Normalization is
  * Python's `' '.join(sql.split())`: runs of Unicode whitespace become
  * one space, so only layout may move; `") ,"` and `"),"` still differ. */
class OracleDigestSpec extends AnyFunSuite {

  // str.isspace(): Java's whitespace, the no-break spaces and U+0085
  private def isSpace(c: Char): Boolean =
    Character.isWhitespace(c) || Character.isSpaceChar(c) || c == '\u0085'

  private def normalized(sql: String): String = {
    val b = new StringBuilder
    var gap = false
    sql.foreach { c =>
      if (isSpace(c)) gap = b.nonEmpty
      else {
        if (gap) b += ' '
        gap = false
        b += c
      }
    }
    b.result()
  }

  test("normalization splits on the whitespace Python's str.split() does") {
    assert(normalized(" \tSELECT\u00a0 1\n,\u2003x\u0085\u3000") == "SELECT 1 , x")
    assert(normalized("a\u200bb") == "a\u200bb") // a zero-width space is not whitespace
  }

  test("the oracle SQL digest: 191 fb60c90e…") {
    val entries = SparkEntry.table.map(q => q.name -> q.oracle).sortBy(_._1)
    val joined = entries.map { case (k, v) => k + "\u0000" + normalized(v) }.mkString("\u0001")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(joined.getBytes(UTF_8)).map(b => f"$b%02x").mkString
    assert(s"${entries.size} $digest" ==
      "191 fb60c90ed377eedd6c6ff96a6bdfb6ca228a84406ae02bab5853d32a82a40356")
  }
}
