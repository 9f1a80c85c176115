package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Session confs, inventoried from the source: code under src/main
  * changes a conf only through [[Sessions.withConf]], which puts the
  * prior value back, so no entry or main leaves a key changed on the
  * session it was given. */
class ConfInventorySpec extends AnyFunSuite {

  test("no file under src/main but Sessions.scala sets or unsets a session conf") {
    val walk = Files.walk(Paths.get("src/main"))
    val files = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    assert(files.exists(_.endsWith(Paths.get("graft", "Sessions.scala"))),
      "Sessions.scala not found: wrong working directory?")
    val mutation = """\.conf\s*\.\s*(set|unset)\s*\(""".r
    val hits = for {
      p <- files.filterNot(_.getFileName.toString == "Sessions.scala")
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if mutation.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      s"change a conf through Sessions.withConf instead:\n${hits.mkString("\n")}")
  }
}
