package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.io.Source

/** Recorded outputs of the ETL build. Datasets sit in disjoint bands, so
  * each (slot, band) placement contributes its own index rows, distinct
  * cells and digest, and any seeded placement's expected totals are sums
  * over the table in `etl_expected.tsv`. */
object Expected {

  final case class Etl(indexRows: Long, statsRows: Long, digest: BigDecimal)

  private lazy val table: Map[(Int, Int), Etl] =
    Option(getClass.getResourceAsStream("/etl_expected.tsv")).map { in =>
      try Source.fromInputStream(in).getLines()
        .filterNot(l => l.startsWith("#") || l.isBlank)
        .map(_.split('\t'))
        .map(f => (f(0).toInt, f(1).toInt) -> Etl(f(2).toLong, f(3).toLong, BigDecimal(f(4))))
        .toMap
      finally in.close()
    }.getOrElse(Map.empty)

  def etl(rs: Seq[Replica]): Option[Etl] = {
    val parts = rs.map(r => table.get((r.slot, r.band)))
    if (parts.exists(_.isEmpty)) None
    else Some(parts.flatten.reduce((a, b) =>
      Etl(a.indexRows + b.indexRows, a.statsRows + b.statsRows, a.digest + b.digest)))
  }

  /** Build the ETL datasets in every band (one Runner.run per rotation of
    * slots over bands) and write the per-placement table to `path`. */
  def record(spark: SparkSession, work: String, path: String): Unit = {
    val base = s"$work/base"
    Inputs.writeBase(spark, base)
    val n = Workloads.EtlSizes.length
    val lines = (0 until Inputs.Bands).flatMap { k =>
      val rs = Inputs.placed(Workloads.EtlSizes, "etl", (0 until n).map(i => (i + k) % Inputs.Bands))
      val src = s"$work/src_$k"
      Inputs.writeReplicas(spark, base, src, rs)
      val res = graft.pipeline.Runner.run(spark, Inputs.configs(src, rs), Inputs.registry,
        s"$work/wh_$k")
      val index = spark.table("h3_index")
      val parts = rs.map { r =>
        val one = index.filter(col("dataset_id") === r.datasetId)
        val cells = one.select(countDistinct(col("h3_cell"))).head().getLong(0)
        val (rows, digest) = Stats.digest(one, Workloads.IndexCols)
        (r, Etl(rows, cells, digest))
      }
      require(parts.map(_._2.indexRows).sum == res.indexRows &&
        parts.map(_._2.statsRows).sum == res.statsRows,
        s"rotation $k: per-dataset rows/cells do not add up to $res")
      parts.map { case (r, e) => s"${r.slot}\t${r.band}\t${e.indexRows}\t${e.statsRows}\t${e.digest}" }
    }
    val w = new java.io.PrintWriter(path)
    try {
      w.println("# slot\tband\tindex_rows\tdistinct_cells\tdigest (see Expected.record)")
      lines.foreach(w.println)
    } finally w.close()
  }
}
