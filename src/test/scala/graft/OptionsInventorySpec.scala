package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library's settable surface, inventoried from the source: every
  * `spark.graft.*` conf key the main code names is a row of README's conf
  * table, and every environment variable it reads is listed below with
  * the mains that read it. A new option therefore needs a doc row or an
  * edit to this list, either of which shows up in review. */
class OptionsInventorySpec extends AnyFunSuite {

  /** Environment variable -> the mains (source file names) that read it. */
  private val envReads: Map[String, Set[String]] = Map(
    "SPARK_GRAFT_SF_DIR" -> Set("Bench", "PlanDump", "ProfileEntry", "ProfileOpScaling"),
    "SPARK_GRAFT_CPUS" -> Set("Bench", "Main", "PlanDump", "ProfileEntry",
      "ProfileOpScaling", "Verify"),
    "SPARK_GRAFT_BENCH_REF" -> Set("Bench"),
    "SPARK_GRAFT_ONLY" -> Set("Bench", "Verify"),
    "SPARK_GRAFT_SHUFFLE_ORDER" -> Set("Bench"),
    "SPARK_GRAFT_REPS" -> Set("Bench"))

  /** (file name without `.scala`, contents) of every main source file. */
  private lazy val sources: Seq[(String, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map((p: Path) => p.getFileName.toString.stripSuffix(".scala") ->
        new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  test("every spark.graft.* conf key in src/main is a row of README's conf table") {
    val inCode = sources.flatMap { case (_, text) =>
      "\"(spark\\.graft\\.[A-Za-z0-9_.]*[A-Za-z0-9_])".r
        .findAllMatchIn(text).map(_.group(1))
    }.toSet
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
    val inTable = "(?m)^\\| `(spark\\.graft\\.[^`]+)` \\|".r
      .findAllMatchIn(readme).map(_.group(1)).toSet
    assert(inCode.nonEmpty, "no spark.graft.* literal found: wrong working directory?")
    assert(inCode == inTable,
      s"in code, not in README: ${(inCode -- inTable).toSeq.sorted.mkString(", ")}; " +
        s"in README, not in code: ${(inTable -- inCode).toSeq.sorted.mkString(", ")}")
  }

  test("every environment variable src/main reads is listed, with its readers") {
    val keyed = "sys\\.env(?:\\.(?:get|getOrElse|contains))?\\(\\s*\"([A-Za-z0-9_]+)\"".r
    val found = sources.flatMap { case (file, text) =>
      // a read whose key is not a literal would escape the inventory
      val reads = "sys\\.env\\b".r.findAllMatchIn(text).size
      val literal = keyed.findAllMatchIn(text).map(_.group(1)).toList
      assert(literal.size == reads, s"$file reads sys.env without a literal key")
      literal.map(_ -> file)
    }
    val readers = found.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    assert(readers == envReads, s"read: $readers; listed: $envReads")
  }
}
