package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Shared engine session (r19 What's-wrong #1 / Next #4): Verify now
    // runs under the same session contract as Bench — in particular the
    // spark.sql.maxPlanStringLength cap, so the per-action plan render
    // of the incremental-state entries is bounded here too (it used to
    // pay megabyte renders ~48x per query; the plan REQUIREs all
    // validate under the cap). adaptive.enabled=true matches Spark 4's
    // default, so the only behavior change is the render cap.
    val spark = Sessions.localBuilder("graft-verify", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q150,q73 runs just the named prefixes — a
    // builder-side spot-check knob; the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = only match {
      case Some(prefixes) =>
        SparkEntry.queries.filter { case (n, _) => prefixes.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: ${failed(name)}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Machine-readable failure record: a query that fails plan/analysis
    // produces no result dir, and a compare harness that iterates result
    // dirs would silently OMIT it (round 7 shipped a 153-entry
    // correctness file vs the 160-query battery — 7 failures invisible).
    // errors.json keeps the battery shape auditable: every selected
    // query is accounted for either as a result dir or an error entry.
    val errJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v.take(300))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size}/${selected.size} queries FAILED: ${failed.keys.mkString(", ")}")
    // the live-source test servers hold a non-daemon acceptor thread;
    // without this the JVM (and the driver's harness) would hang on exit
    graft.queries.LiveSourceQueries.stopServers()
    spark.stop()
  }
}
