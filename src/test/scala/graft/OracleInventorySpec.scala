package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The DuckDB oracle's inventory, read without a Spark session: every
  * oracle key names a battery entry, the entries without an oracle are
  * exactly README's rows-only table, and every rendered oracle string
  * hashes to its line in `src/test/resources/oracle_sql.sha256`.
  *
  * The hash is taken after each run of whitespace outside single-quoted
  * literals becomes one space and the ends are trimmed; literals compare
  * byte for byte. A change to an oracle's SQL therefore fails here, while
  * a change to how the Scala source lays that SQL out does not. When an
  * oracle changes on purpose, the failure prints every actual line; they
  * replace the golden file. */
class OracleInventorySpec extends AnyFunSuite {

  private val golden = Paths.get("src/test/resources/oracle_sql.sha256")

  /** Whitespace runs outside `'...'` literals become one space; `''`
    * inside a literal toggles out and back in, so it needs no case. */
  private def normalize(sql: String): String = {
    val out = new StringBuilder
    var inLiteral = false
    var pendingSpace = false
    sql.foreach { c =>
      if (!inLiteral && c.isWhitespace) pendingSpace = true
      else {
        if (pendingSpace) { out.append(' '); pendingSpace = false }
        if (c == '\'') inLiteral = !inLiteral
        out.append(c)
      }
    }
    out.toString.trim
  }

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  test("every oracle key is a battery entry") {
    val stray = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(stray.isEmpty, s"oracle keys with no battery entry: ${stray.toSeq.sorted.mkString(", ")}")
  }

  test("the entries without an oracle are exactly README's rows-only table") {
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
    val section = readme.split("(?m)^### The rows-only battery entries")(1).split("(?m)^## ")(0)
    val inTable = "(?m)^\\| (q\\d+_[^|]+)\\|".r.findAllMatchIn(section)
      .flatMap(m => "q\\d+_\\w+".r.findAllIn(m.group(1))).toSet
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(inTable.nonEmpty, "README's rows-only table not found: wrong working directory?")
    assert(rowsOnly == inTable,
      s"no oracle, not in README: ${(rowsOnly -- inTable).toSeq.sorted.mkString(", ")}; " +
        s"in README, has an oracle: ${(inTable -- rowsOnly).toSeq.sorted.mkString(", ")}")
  }

  test("every rendered oracle string matches its golden hash") {
    val actual = SparkEntry.oracleSql.map { case (k, sql) => k -> sha256(normalize(sql)) }
    val expected = new String(Files.readAllBytes(golden), "UTF-8").linesIterator
      .map(_.trim).filter(_.nonEmpty).map { line =>
        val Array(k, h) = line.split(" ")
        k -> h
      }.toMap
    if (actual != expected) {
      println(s"actual lines for $golden:")
      actual.toSeq.sorted.foreach { case (k, h) => println(s"$k $h") }
    }
    val differ = (actual.keySet ++ expected.keySet).filter(k => actual.get(k) != expected.get(k))
    assert(differ.isEmpty, s"${differ.size} oracle strings differ: ${differ.toSeq.sorted.mkString(", ")}")
  }
}
