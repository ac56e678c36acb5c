package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Pins every generated oracle SQL text at once: the whitespace-
  * normalized sha256 over the query table, the digest the verify recipe
  * computes from `oracle_sql.json`, so an oracle refactor that changes
  * any SQL token fails here without a DuckDB run. Normalization is
  * Python's `' '.join(sql.split())`: runs of Unicode whitespace become
  * one space, so only layout may move; `") ,"` and `"),"` still differ.
  * A lint case keeps the oracles composed: no stretch of SparkEntry's
  * source is pasted twice. */
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

  test("no run of 6 non-blank lines appears twice in SparkEntry.scala") {
    val w = 6
    val lines = Files.readAllLines(Paths.get("src/main/scala/graft/SparkEntry.scala"), UTF_8)
      .asScala.zipWithIndex.map { case (l, i) => (i + 1, normalized(l)) }
      .filter(_._2.nonEmpty).toIndexedSeq
    // each repeated window's (first, repeat) start, as non-blank indices
    val first = scala.collection.mutable.Map.empty[Seq[String], Int]
    val repeats = (0 to lines.size - w).flatMap { k =>
      val key = lines.slice(k, k + w).map(_._2)
      first.get(key) match {
        case Some(a) => Some(a -> k)
        case None    => first(key) = k; None
      }
    }
    // consecutive windows are one run: report its line spans once
    val runs = repeats.foldLeft(List.empty[(Int, Int, Int)]) {
      case ((a, b, n) :: rest, (x, y)) if x == a + n && y == b + n => (a, b, n + 1) :: rest
      case (acc, (x, y)) => (x, y, 1) :: acc
    }.reverse.map { case (a, b, n) =>
      s"lines ${lines(a)._1}-${lines(a + n + w - 2)._1} repeat at " +
        s"${lines(b)._1}-${lines(b + n + w - 2)._1}"
    }
    if (runs.nonEmpty)
      fail(s"${runs.size} pasted runs; compose a named fragment:\n" + runs.mkString("\n"))
  }
}
