package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Bucketed layout: the zero-shuffle claims are PLAN-asserted, not just
  * result-asserted — a silent bucketing regression (config off, bucket
  * mismatch, wrong key) re-introduces an Exchange and fails here long
  * before it burns a cluster.
  */
class BucketedSpec extends SparkSuite {

  /** A test whose plans are raw: no broadcast to hide a join's
    * exchange, no AQE rewrap. */
  private def rawPlanTest(name: String)(body: => Unit): Unit =
    test(name)(withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")(body))

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  rawPlanTest("co-bucketed join and bucket-key aggregation plan with zero exchange") {
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("k"), col("c_name"), col("c_mktsegment"))
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_custkey").as("k"), col("o_totalprice"))
    Bucketed.writeBucketed(cust, "b_cust", "k", buckets = 8)
    Bucketed.writeBucketed(ord, "b_ord", "k", buckets = 8)

    val joined = Bucketed.joinCoBucketed(spark, "b_cust", "b_ord", "k")
    val jp = plan(joined)
    assert(!jp.contains("Exchange"),
      "co-bucketed join still shuffles:\n" + jp.take(1200))

    val agg = spark.table("b_ord").groupBy("k")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("total"))
    val ap = plan(agg)
    assert(!ap.contains("Exchange"),
      "bucket-key aggregation still shuffles:\n" + ap.take(1200))

    // and the results are the ones the shuffled plan would produce
    val expected = cust.join(ord, "k").count()
    assert(joined.count() == expected)
    assert(agg.count() == ord.select("k").distinct().count())
  }

  rawPlanTest("join on a NON-bucket key still shuffles (the assertion bites)") {
    // sanity check that the zero-exchange assertions above are not
    // vacuous: a bucketed table joined on a different column DOES
    // exchange. Writes its own table so the test runs in isolation.
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("k"), col("c_name"))
    Bucketed.writeBucketed(cust, "b_cust_nv", "k", buckets = 8)
    val other = Bucketed.joinCoBucketed(spark, "b_cust_nv", "b_cust_nv", "c_name")
    assert(plan(other).contains("Exchange"))
  }
}
