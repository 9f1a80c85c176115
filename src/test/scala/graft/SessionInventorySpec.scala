package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The suites' one session, inventoried from the source: no test file
  * but [[SparkSuite]]'s builds a SparkSession of its own. */
class SessionInventorySpec extends AnyFunSuite {

  test("no file under src/test but SparkSuite's calls the session builder") {
    val walk = Files.walk(Paths.get("src/test"))
    val files = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    assert(files.exists(_.endsWith(Paths.get("graft", "SparkSuite.scala"))),
      "SparkSuite.scala not found: wrong working directory?")
    val builder = """SparkSession\s*\.\s*builder\s*\(""".r
    val building = files.filterNot(_.getFileName.toString == "SparkSuite.scala")
      .filter(p => builder.findFirstIn(
        new String(Files.readAllBytes(p), "UTF-8")).isDefined)
    assert(building.isEmpty,
      s"build their own session; mix in SparkSuite instead: ${building.mkString(", ")}")
  }
}
