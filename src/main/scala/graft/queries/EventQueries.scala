package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Time-series / event-log operators over the `events` table. The
  * reference is batch-only (SURVEY.md §1.1), so these are the
  * beyond-parity operators a log-shaped 100 TB corpus needs: time
  * bucketing, JSON attribute extraction (the `_json_data` pattern,
  * sql/migrations/004_staging_transform_template.sql:39), top-k actors,
  * and gap-based sessionization.
  */
object EventQueries {

  /** events.ts has shipped as both parquet TIMESTAMP(NANOS) (which
    * Spark's vectorized reader rejects — read as raw nanos via the
    * legacy conf and convert with integer division, since ns-since-epoch
    * exceeds double's 2^53 mantissa) and plain TIMESTAMP(MICROS) (which
    * Spark reads natively). Inspect the loaded dtype and normalize to a
    * TimestampType `ts` either way, so the fixture's physical type is
    * not a contract. The legacy conf is set only around the read: the
    * relation it resolves keeps `ts` a long when scanned later, and the
    * caller's session is left as it was. */
  private[queries] def ev(s: SparkSession, dir: String): DataFrame = {
    val raw = graft.Sessions.withConf(s,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      s.read.parquet(s"$dir/events.parquet")
    }
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Daily time buckets per event type — partition-prunable at scale if
    // the table is laid out by day.
    "q40_time_buckets" -> ((s, dir) => {
      ev(s, dir)
        .withColumn("day", date_trunc("day", col("ts")).cast("date"))
        .groupBy("day", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy("day", "event_type")
    }),

    // JSON attribute extraction from the props blob (from_json/`->>'k'`
    // parity with the reference's _json_data round-trips).
    "q41_json_extract" -> ((s, dir) => {
      ev(s, dir)
        .withColumn("k_val", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          min(col("k_val")).as("min_k"), max(col("k_val")).as("max_k"),
          sum(col("k_val").cast("long")).as("sum_k"))
        .orderBy("event_type")
    }),

    // Top-20 most active users (ORDER BY count DESC LIMIT — §2.9).
    "q42_top_users" -> ((s, dir) => {
      ev(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"))
        .orderBy(desc("n_events"), asc("user_id"))
        .limit(20)
    }),

    // Gap-based sessionization: a >30 min silence starts a new session
    // (lag window per user). Keys partition cleanly at scale; state is
    // one row per user.
    "q43_sessions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts")
      ev(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
            .otherwise(0))
        .groupBy("user_id")
        .agg(sum(col("new_session")).cast("long").as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // Per-type value distribution stats.
    "q44_value_stats" -> ((s, dir) => {
      ev(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(min(col("value")).cast("double"), 4).as("min_v"),
          round(max(col("value")).cast("double"), 4).as("max_v"),
          round(sum(col("value").cast("decimal(18,4)")).cast("double") /
            count(lit(1)), 4).as("avg_v"))
        .orderBy("event_type")
    }),

    // As-of enrichment: each purchase gets the user's latest click at or
    // before it (ops/AsofJoin union+window — ONE shuffle, no range
    // cross-product). Timestamps compared as epoch micros on both
    // engines; clicks pre-deduped per (user, ts) so the match is
    // deterministic. DuckDB replays with its native ASOF LEFT JOIN —
    // two independent implementations of the backward-inclusive
    // convention held hash-equal.
    "q107_asof_join" -> ((s, dir) => {
      val e = ev(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"))
      val clicks = e.filter(col("event_type") === "click")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .agg(max(col("value")).as("click_value"))
      graft.ops.AsofJoin.asofBackward(
          purchases, clicks, Seq("user_id"), "ts_us", Seq("click_value"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("asof_ts_us").as("click_ts_us"),
          round(col("asof_click_value").cast("double"), 4).as("click_value"))
        .orderBy("event_id")
    }),

    // Range join: each error with the count of events in its preceding
    // 60 s (ops/RangeJoin bucketized equi-join — a bare inequality join
    // would plan as a nested loop). Oracle replays the interval
    // predicate directly in DuckDB.
    "q108_range_join" -> ((s, dir) => {
      val e = ev(s, dir)
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("t"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("t").as("err_t"))
      val all = e.select(col("event_id").as("oid"), col("t").as("ot"))
      graft.ops.RangeJoin.rangeJoin(errors, all, Seq(), "err_t", "ot",
          beforeUs = 60000000L, afterUs = 0L, bucketUs = 60000000L)
        .filter(col("oid") =!= col("err_id"))
        .groupBy("err_id")
        .agg(count(lit(1)).as("n_prior"))
        .orderBy("err_id")
    }),

    // The RangeJoinRewrite OPTIMIZER RULE (plans/RangeJoinRewrite,
    // wired in production via spark.sql.extensions=graft.
    // GraftExtensions; here via the runtime extraOptimizations hook):
    // a bare interval join — which Spark plans as
    // BroadcastNestedLoopJoin, O(n·m) comparisons — replans into the
    // bucketized equi-join TRANSPARENTLY, no operator call. The
    // require asserts the rule actually fired (nested-loop gone,
    // bucket explode present); the oracle is the plain declarative
    // range join, so the hash match proves the rewrite returns
    // byte-identical rows. q108 is the explicit-operator spelling of
    // the same shape.
    "q212_rangejoin_rule" -> ((s, dir) => {
      val rule = graft.plans.RangeJoinRewrite(s)
      // While installed, the rewrite applies to ANY query planned on
      // this session — the battery runs queries single-threaded, so
      // nothing else plans concurrently; the production spelling is the
      // session-scoped spark.sql.extensions wiring, not this runtime
      // hook.
      graft.Sessions.withRule(s, rule, rule.ConfKey -> "2.0") {
        val e = ev(s, dir)
        val pts = e.select(col("event_id").as("p_id"),
          col("value").as("pt"))
        val ivs = e.filter(col("event_id") % 101 === 0)
          .select(col("event_id").as("i_id"),
            (col("value") - 1.0).as("lo"), (col("value") + 1.0).as("hi"))
        val joined = pts.join(ivs,
          col("pt") >= col("lo") && col("pt") <= col("hi"))
        val plan = joined.queryExecution.executedPlan.toString
        require(!plan.contains("NestedLoop") && !plan.contains("Cartesian")
            && plan.contains("Generate"),
          "RangeJoinRewrite did not fire on the battery session — the " +
            "interval join would run as a nested-loop product")
        // materialize WHILE the rule is installed: the returned frame
        // is re-optimized at the driver's write action, which runs
        // after withRule restores the session (interval-count rows,
        // bounded by the % 101 stratum)
        val rows = joined.groupBy("i_id").agg(count(lit(1)).as("n_in_range"))
          .orderBy("i_id").collect().map(r => (r.getLong(0), r.getLong(1)))
        val sess = s
        import sess.implicits._
        rows.toSeq.toDF("i_id", "n_in_range").orderBy("i_id")
      }
    }),

    // COMPOSITE form of the rule (r13 ADVICE follow-on): `user_id
    // equality AND value BETWEEN lo AND hi` — the as-of shape. Spark
    // hash-joins the keyed join unaided but evaluates the interval as
    // a post-join FILTER (every same-key pair materializes first; one
    // hot key goes quadratic) — the rule APPENDS the bucket to the
    // equi keys so pairing happens per (key, bucket). The require
    // asserts the composite rewrite fired (bucket explode + bucket
    // key present, the join still a hash join); the oracle is the
    // declarative keyed interval join, so the hash match proves
    // row-identity.
    "q216_rangejoin_rule_keyed" -> ((s, dir) => {
      val rule = graft.plans.RangeJoinRewrite(s)
      graft.Sessions.withRule(s, rule, rule.ConfKey -> "2.0") {
        val e = ev(s, dir)
        val pts = e.select(col("event_id").as("p_id"),
          col("user_id").as("pk"), col("value").as("pt"))
        val ivs = e.filter(col("event_id") % 101 === 0)
          .select(col("event_id").as("i_id"), col("user_id").as("ik"),
            (col("value") - 1.0).as("lo"), (col("value") + 1.0).as("hi"))
        val joined = pts.join(ivs,
          col("pk") === col("ik") &&
            col("pt") >= col("lo") && col("pt") <= col("hi"))
        val plan = joined.queryExecution.executedPlan.toString
        require(plan.contains("Generate") && plan.contains("__g_rj_b_")
            && !plan.contains("NestedLoop") && !plan.contains("Cartesian"),
          "RangeJoinRewrite did not rewrite the composite keyed " +
            "interval join — the interval would run as a post-join " +
            "filter over every same-key pair")
        // materialize WHILE the rule is installed (q212's discipline)
        val rows = joined.groupBy("i_id").agg(count(lit(1)).as("n_in_range"))
          .orderBy("i_id").collect().map(r => (r.getLong(0), r.getLong(1)))
        val sess = s
        import sess.implicits._
        rows.toSeq.toDF("i_id", "n_in_range").orderBy("i_id")
      }
    }),

    // TEMPORAL form of the rule (r14 Next #3): `user_id equality AND
    // ts BETWEEN lo AND hi` on real TIMESTAMPs — the commonest
    // interval join in the wild (as-of enrichment, sessionization),
    // which the numeric-only rule could never rewrite and users had
    // to pre-cast by hand. The rule normalizes timestamps to epoch
    // MICROS inside the bucket expression (dates to epoch days;
    // explicit timeZoneId on every post-analysis cast — the q212
    // lesson), so bucketWidth is 60 s = 6e7 micros here. The require
    // asserts the composite temporal rewrite fired; the oracle is
    // DuckDB's declarative keyed interval join over the same
    // timestamps — byte-identical rows across engines.
    "q223_rangejoin_rule_temporal" -> ((s, dir) => {
      val rule = graft.plans.RangeJoinRewrite(s)
      graft.Sessions.withRule(s, rule, rule.ConfKey -> "60000000") { // 60 s in micros
        val e = ev(s, dir)
        val pts = e.select(col("event_id").as("p_id"),
          col("user_id").as("pk"), col("ts").as("pt"))
        val ivs = e.filter(col("event_id") % 101 === 0)
          .select(col("event_id").as("i_id"), col("user_id").as("ik"),
            (col("ts") - expr("INTERVAL 60 SECONDS")).as("lo"),
            (col("ts") + expr("INTERVAL 60 SECONDS")).as("hi"))
        val joined = pts.join(ivs,
          col("pk") === col("ik") &&
            col("pt") >= col("lo") && col("pt") <= col("hi"))
        val plan = joined.queryExecution.executedPlan.toString
        require(plan.contains("Generate") && plan.contains("__g_rj_b_")
            && !plan.contains("NestedLoop") && !plan.contains("Cartesian"),
          "RangeJoinRewrite did not rewrite the TIMESTAMP interval " +
            "join — temporal points/bounds must bucketize via epoch " +
            "micros")
        // materialize WHILE the rule is installed (q212's discipline)
        val rows = joined.groupBy("i_id").agg(count(lit(1)).as("n_in_range"))
          .orderBy("i_id").collect().map(r => (r.getLong(0), r.getLong(1)))
        val sess = s
        import sess.implicits._
        rows.toSeq.toDF("i_id", "n_in_range").orderBy("i_id")
      }
    }),

    // LEFT-OUTER form of the rule (r15): `points LEFT JOIN intervals
    // ON key AND ts BETWEEN lo AND hi` — the as-of ENRICHMENT shape,
    // where every point row must survive matched or not. Sound
    // because the exploded bound side is the NON-preserved side (a
    // matched pair meets exactly the one bucket copy equal to the
    // point's bucket; unmatched point rows null-extend once, exactly
    // as the nested-loop plan). The interval window is shifted
    // [+30 s, +90 s] so a large unmatched mass exercises the
    // null-extension path; the oracle replays the declarative LEFT
    // interval join with per-point match counts (COUNT(i_id) counts
    // only non-null matches).
    "q226_rangejoin_rule_left" -> ((s, dir) => {
      val rule = graft.plans.RangeJoinRewrite(s)
      graft.Sessions.withRule(s, rule, rule.ConfKey -> "60000000") { // 60 s in micros
        val e = ev(s, dir)
        val pts = e.filter(col("event_id") % 7 === 0)
          .select(col("event_id").as("p_id"),
            col("user_id").as("pk"), col("ts").as("pt"))
        val ivs = e.filter(col("event_id") % 101 === 0)
          .select(col("event_id").as("i_id"), col("user_id").as("ik"),
            (col("ts") + expr("INTERVAL 30 SECONDS")).as("lo"),
            (col("ts") + expr("INTERVAL 90 SECONDS")).as("hi"))
        val joined = pts.join(ivs,
          col("pk") === col("ik") &&
            col("pt") >= col("lo") && col("pt") <= col("hi"),
          "left_outer")
        val plan = joined.queryExecution.executedPlan.toString
        require(plan.contains("Generate") && plan.contains("__g_rj_b_")
            && !plan.contains("NestedLoop") && !plan.contains("Cartesian"),
          "RangeJoinRewrite did not rewrite the LEFT OUTER temporal " +
            "interval join — the enrichment shape must bucketize too")
        val rows = joined.groupBy("p_id")
          .agg(count(col("i_id")).as("n_matched"))
          .orderBy("p_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        require(rows.exists(_._2 == 0L),
          "no unmatched point rows — the left-outer null-extension " +
            "path was not exercised")
        val sess = s
        import sess.implicits._
        rows.toSeq.toDF("p_id", "n_matched").orderBy("p_id")
      }
    })
  )

  val oracle: Map[String, String] = Map(
    // The declarative range join, no rewrite: the engine's optimizer
    // rule must return byte-identical rows to this.
    // The declarative KEYED interval join: the composite rewrite must
    // return byte-identical rows to the equi-key + post-filter plan.
    "q216_rangejoin_rule_keyed" ->
      """WITH p AS (SELECT event_id AS p_id, user_id AS pk, value AS pt
        |           FROM events),
        |i AS (SELECT event_id AS i_id, user_id AS ik,
        |             value - 1.0 AS lo, value + 1.0 AS hi
        |      FROM events WHERE event_id % 101 = 0)
        |SELECT i_id, CAST(COUNT(*) AS BIGINT) AS n_in_range
        |FROM p JOIN i ON pk = ik AND pt >= lo AND pt <= hi
        |GROUP BY 1 ORDER BY i_id""".stripMargin,
    // The declarative LEFT keyed TIMESTAMP interval join: the
    // left-outer rewrite must return byte-identical per-point match
    // counts, unmatched points included at 0.
    "q226_rangejoin_rule_left" ->
      """WITH p AS (SELECT event_id AS p_id, user_id AS pk, ts AS pt
        |           FROM events WHERE event_id % 7 = 0),
        |i AS (SELECT event_id AS i_id, user_id AS ik,
        |             ts + INTERVAL 30 SECOND AS lo,
        |             ts + INTERVAL 90 SECOND AS hi
        |      FROM events WHERE event_id % 101 = 0)
        |SELECT p_id, CAST(COUNT(i_id) AS BIGINT) AS n_matched
        |FROM p LEFT JOIN i ON pk = ik AND pt >= lo AND pt <= hi
        |GROUP BY 1 ORDER BY p_id""".stripMargin,
    // The declarative keyed TIMESTAMP interval join: the temporal
    // rewrite must return byte-identical rows to this.
    "q223_rangejoin_rule_temporal" ->
      """WITH p AS (SELECT event_id AS p_id, user_id AS pk, ts AS pt
        |           FROM events),
        |i AS (SELECT event_id AS i_id, user_id AS ik,
        |             ts - INTERVAL 60 SECOND AS lo,
        |             ts + INTERVAL 60 SECOND AS hi
        |      FROM events WHERE event_id % 101 = 0)
        |SELECT i_id, CAST(COUNT(*) AS BIGINT) AS n_in_range
        |FROM p JOIN i ON pk = ik AND pt >= lo AND pt <= hi
        |GROUP BY 1 ORDER BY i_id""".stripMargin,
    "q212_rangejoin_rule" ->
      """WITH p AS (SELECT event_id AS p_id, value AS pt FROM events),
        |i AS (SELECT event_id AS i_id, value - 1.0 AS lo, value + 1.0 AS hi
        |      FROM events WHERE event_id % 101 = 0)
        |SELECT i_id, CAST(COUNT(*) AS BIGINT) AS n_in_range
        |FROM p JOIN i ON pt >= lo AND pt <= hi
        |GROUP BY 1 ORDER BY i_id""".stripMargin,
    "q40_time_buckets" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "q41_json_extract" ->
      """WITH j AS (SELECT event_type, CAST(props->>'k' AS INTEGER) AS k_val FROM events)
        |SELECT event_type, COUNT(*) AS n, MIN(k_val) AS min_k, MAX(k_val) AS max_k,
        |  CAST(SUM(CAST(k_val AS BIGINT)) AS BIGINT) AS sum_k
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q42_top_users" ->
      """SELECT user_id, COUNT(*) AS n_events FROM events
        |GROUP BY user_id ORDER BY n_events DESC, user_id ASC LIMIT 20""".stripMargin,
    "q43_sessions" ->
      """WITH g AS (
        |  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |  FROM events
        |), m AS (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM g
        |)
        |SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q44_value_stats" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(MIN(value) AS DOUBLE), 4) AS min_v,
        |  ROUND(CAST(MAX(value) AS DOUBLE), 4) AS max_v,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q107_asof_join" ->
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |         ROUND(CAST(MAX(value) AS DOUBLE), 4) AS click_value
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY 1, 2
        |)
        |SELECT p.event_id, p.user_id, p.ts_us,
        |       c.ts_us AS click_ts_us, c.click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
        |ORDER BY p.event_id""".stripMargin,
    "q108_range_join" ->
      """WITH e AS (
        |  SELECT event_id AS err_id, epoch_us(ts) AS t
        |  FROM events WHERE event_type = 'error'
        |), o AS (
        |  SELECT event_id AS oid, epoch_us(ts) AS t FROM events
        |)
        |SELECT err_id, COUNT(*) AS n_prior
        |FROM e JOIN o
        |  ON o.t BETWEEN e.t - 60000000 AND e.t AND o.oid != e.err_id
        |GROUP BY 1 ORDER BY err_id""".stripMargin
  )
}
