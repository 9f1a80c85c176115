package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.pipeline.{H3Config, Stages, FieldMapping}

/** Structured Streaming extension (SURVEY §1.1: the reference is
  * batch-only; this is the engine's incremental path, built on the same
  * stage transforms). Three shapes:
  *
  *  1. windowed event aggregation with watermarking — the streaming
  *     analogue of q40_time_buckets;
  *  2. incremental mart/h3_stats refresh: new raw geodata micro-batches
  *     run through the SAME Stage004→Normalize→MartH3 chain and append
  *     to the mart — at 100 TB this is how the index stays fresh
  *     without re-polyfilling history;
  *  3. stateful sessionization via flatMapGroupsWithState — the q43 gap
  *     sessionizer with per-user state instead of a window over all
  *     history.
  */
object StreamingOps {

  /** Watermarked tumbling-window counts per event type. */
  def windowedEventCounts(events: DataFrame,
      window_ : String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  /** Incremental mart maintenance: each micro-batch of raw features is
    * staged/normalized/exploded with the batch transforms and appended
    * to the mart parquet dir — the mart stays a plain table the batch
    * H3Index/H3Query layer reads as-is.
    *
    * DELIVERY CONTRACT — at-least-once, stated plainly: foreachBatch
    * replays a micro-batch whose append landed but whose checkpoint
    * commit did not (a crash in that window duplicates the batch's
    * rows). A plain parquet append cannot be made exactly-once without
    * either a transactional table format or a batch-id partition
    * column in the mart schema (which would change what the batch
    * layer reads). Recovery discipline: after an unclean stop, either
    * clear martPath + checkpoint and re-run (AvailableNow makes the
    * re-run complete), or dedup the mart on its id columns — both are
    * one-liners; silent duplicates are the thing to know about. */
  def incrementalMart(rawStream: DataFrame, fm: FieldMapping, datasetId: String,
      martPath: String, checkpoint: String,
      h3: H3Config = H3Config()): StreamingQuery =
    rawStream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val staged = Stages.stage004(batch, h3)
        val normalized = Stages.normalizeExtRestr(staged, fm, datasetId)
        Stages.martH3Cells(normalized, datasetId)
          .write.mode("append").parquet(martPath)
      }
      .start()

  /** Streaming exact dedup — the incremental-ingest front gate of the
    * corpus pipeline (the streaming analogue of the q32 md5-groupBy
    * batch dedup): each content fingerprint is admitted once within the
    * watermark horizon. dropDuplicatesWithinWatermark keeps the
    * fingerprint state BOUNDED (entries older than the horizon are
    * evicted), so a re-crawl storm of known documents never grows state
    * or re-admits rows — no historical corpus scan per batch. */
  def streamingDedup(docs: DataFrame, tsCol: String, textCol: String,
      watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fingerprint", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class SessionState(lastTs: Long, sessions: Int, events: Long)
  final case class SessionUpdate(user_id: Long, n_sessions: Int, n_events: Long)

  /** Gap-based sessionization with keyed state (> gapSeconds of silence
    * starts a new session). State is one (lastTs, counts) tuple per
    * user — bounded, spill-free at any scale. Both output counters are
    * CUMULATIVE across micro-batches (take the latest row per user —
    * the q43 batch shape). Contracts:
    *  - lastTs is MONOTONE: a late cross-batch event inside the gap
    *    joins the current session without rewinding the frontier (the
    *    old unconditional assignment let one late event rewind lastTs
    *    and a subsequent on-time event then opened a PHANTOM session).
    *    A late event that should retroactively split an already-closed
    *    session cannot (append-mode state has no retraction) — bound
    *    disorder upstream with a watermarked sort if that matters.
    *  - NULL timestamps are excluded (no ordering information, and the
    *    sort would NPE). */
  def sessionize(spark: SparkSession, events: DataFrame,
      gapSeconds: Long = 1800): DataFrame = {
    import spark.implicits._
    val typed = events.select(col("user_id").cast("long"),
        col("ts").cast("timestamp")).as[SessionEvent]
    typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0, 0L))
          rows.toSeq.filter(_.ts != null).sortBy(_.ts.getTime).foreach { e =>
            val t = e.ts.getTime / 1000
            val newSession =
              st.lastTs == Long.MinValue || t - st.lastTs > gapSeconds
            st = SessionState(math.max(t, st.lastTs),
              st.sessions + (if (newSession) 1 else 0), st.events + 1)
          }
          state.update(st)
          Iterator(SessionUpdate(user, st.sessions, st.events))
      }
      .toDF()
  }

  final case class VecIn(vec_id: Long, embedding: Seq[Float], cluster: Long)
  final case class SemMember(id: Long, vec: Array[Float])
  final case class SemDecision(vec_id: Long, cluster: Long, kept: Boolean,
      suppressor: Option[Long])

  /** STREAMING SemDeDup — the vector layer's full ingest gate (q182
    * covered assignment only): vectors stream in, map-assign to FROZEN
    * centroids via [[graft.ops.VectorOps.assignExpr]], then a
    * per-cluster keyed state carries every member seen so far and
    * decides kept/dropped + the suppressor evidence EXACTLY as the
    * batch prune would — same in-order-fold cosine arithmetic, same
    * 6-decimal HALF_UP rounding, same smaller-id membership rule — so
    * the stream's complete output equals `semState(all, cents, tau)
    * .members` including the suppressor column (q187 requires it).
    *
    * Append-only contract (the incrementalSemDedup precondition, here
    * enforced per cluster inside the state function): a batch's ids
    * must exceed everything the cluster has seen — out-of-order ids
    * could flip emitted decisions, so they REFUSE loudly.
    *
    * State shape: one (id, vec) list per cluster — SemDeDup sizes k so
    * cluster occupancy n_c stays bounded (~10⁴ at 10⁸ vectors in the
    * paper's regime), which bounds state per key; the unbounded-corpus
    * path remains the batch/warehouse [[graft.ops.VectorOps
    * .incrementalSemDedup]].
    *
    * `maxMembersPerCluster` makes that occupancy contract ENFORCED,
    * not aspirational: a cluster exceeding the cap REFUSES loudly
    * (fails the stream) instead of growing state without bound. There
    * is deliberately no eviction policy — every stored member, dropped
    * ones included, votes in future decisions (the membership rule),
    * so evicting would silently change results; the correct response
    * to a tripped cap is re-clustering with a larger k (more, smaller
    * cells) or moving the corpus to the batch maintenance path. State
    * bytes per cluster ≈ members x (8 + 4 x dims + overhead) — the
    * measured figures at three batch sizes are in PERF.md. */
  def streamingSemDedup(spark: SparkSession, vecs: DataFrame,
      centroids: Array[(Long, Array[Double])], tau: Double,
      maxMembersPerCluster: Int = 1000000): DataFrame = {
    import spark.implicits._
    val assigned = vecs
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"),
        graft.ops.VectorOps.assignExpr(col("embedding"), centroids)
          .as("cluster"))
      .as[VecIn]
    assigned
      .groupByKey(_.cluster)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (cluster: Long, rows: Iterator[VecIn], state: GroupState[Vector[SemMember]]) =>
          var members = state.getOption.getOrElse(Vector.empty[SemMember])
          val out = Vector.newBuilder[SemDecision]
          rows.toSeq.sortBy(_.vec_id).foreach { r =>
            members.lastOption.foreach(m => require(r.vec_id > m.id,
              s"streamingSemDedup is append-only per cluster: id " +
                s"${r.vec_id} <= stored max ${m.id} in cluster $cluster"))
            // NULL embedding: batch parity, not an anonymous NPE — the
            // batch prune keeps such a row (every cosine with it is
            // NULL, never >= tau) and its votes never suppress anyone,
            // so it is emitted kept and NOT added to the member state
            // (an all-NULL voter changes no future decision)
            if (r.embedding == null) {
              out += SemDecision(r.vec_id, cluster, kept = true, None)
            } else {
            val v = r.embedding.toArray
            // min smaller-id tau-neighbor over everything this cluster
            // has seen (dropped members vote too — membership rule)
            var suppressor: Option[Long] = None
            val it = members.iterator
            while (it.hasNext && suppressor.isEmpty) {
              val m = it.next()
              val c = cosineRounded6(m.vec, v)
              if (c != null && c.doubleValue >= tau) suppressor = Some(m.id)
            }
            out += SemDecision(r.vec_id, cluster, suppressor.isEmpty,
              suppressor)
            members = members :+ SemMember(r.vec_id, v)
            require(members.length <= maxMembersPerCluster,
              s"streamingSemDedup cluster $cluster exceeded " +
                s"maxMembersPerCluster=$maxMembersPerCluster — state is " +
                "full-membership by design (no eviction: dropped members " +
                "vote); re-cluster with larger k or use the batch " +
                "incrementalSemDedup path")
            }
          }
          state.update(members)
          out.result().iterator
      }
      .toDF()
  }

  /** The batch prune's exact cosine: in-order fold accumulating
    * dot/normA/normB as doubles (the [[graft.ops.VectorOps.CosineSim]]
    * IEEE op sequence), SQL-NULL on zero norms, then Spark Round's
    * HALF_UP at 6 decimals. Members are iterated in id order, so the
    * first tau-hit IS the min suppressor. */
  private def cosineRounded6(a: Array[Float], b: Array[Float]): java.lang.Double = {
    if (a.length != b.length) return null
    var dab = 0.0; var daa = 0.0; var dbb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dab += x * y; daa += x * x; dbb += y * y; i += 1
    }
    if (daa == 0.0 || dbb == 0.0) return null
    val c = dab / (math.sqrt(daa) * math.sqrt(dbb))
    java.math.BigDecimal.valueOf(c)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
  }
}
