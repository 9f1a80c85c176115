package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Mid-operator materialization seam, shared by the operators that must
  * evaluate a map-only stage once while feeding it to several plan
  * consumers (banded self-joins, removal/append seams): broadcast and
  * shuffle exchanges never unify under Spark's exchange reuse, so
  * without a materialization the stage re-executes per consumer.
  *
  * The DEFAULT is `localCheckpoint(eager = false)` — cheapest, no
  * configuration — but it truncates lineage onto executor-local blocks:
  * losing an executor then FAILS the job instead of recomputing, and
  * the blocks free only when the driver GCs the checkpointed RDD. A
  * long-running service can opt out per session via
  * `spark.graft.stage.mode`:
  *
  *  - `localCheckpoint` (default): lazy executor-local blocks, GC-freed.
  *  - `persist`: MEMORY_AND_DISK cache — lineage kept (fault-tolerant:
  *    lost blocks recompute), evictable under memory pressure. The
  *    staged frames are INTERNAL to the operators (callers never hold
  *    them), so this module tracks them per session: a service calls
  *    [[releaseStaged]] between corpora to free them without
  *    `spark.catalog.clearCache()`'s collateral damage to its own
  *    unrelated caches.
  *  - `checkpoint`: reliable checkpoint to `spark.checkpoint.dir`
  *    (must be set) — fault-tolerant across executor loss, freed by
  *    deleting the checkpoint dir. Runs EAGERLY through a transient
  *    cache: a bare RDD checkpoint recomputes its full lineage in the
  *    checkpoint-write job, doubling the staged pass.
  *
  * ITERATIVE STATE SEAMS are the exception to the knob: a maintenance
  * loop (incrementalSemDedup's removal/append seam) nests each run's
  * plan inside the next state's, so without PLAN truncation the
  * logical plan grows without bound across runs — analysis time
  * balloons and eventually overflows the stack, under ANY mode that
  * keeps lineage. Seams that feed their own next iteration therefore
  * pass `requireTruncation = true`, which escalates `persist` to a
  * truncating mode (reliable checkpoint when a checkpoint dir is
  * set — the service-safe combination — else localCheckpoint).
  */
object Materialize {

  val ConfKey = "spark.graft.stage.mode"

  // Persist-mode staged frames per session. NOT weakly keyed: each
  // tracked DataFrame strongly references its SparkSession, so with a
  // WeakHashMap the value would pin the key and no entry could ever be
  // reclaimed (the classic value->key WeakHashMap trap). Instead every
  // track/release SWEEPS entries whose underlying SparkContext has
  // stopped — a session discarded without releaseStaged() is dropped
  // at the next staging anywhere in the JVM (its cached blocks died
  // with the context, so dropping the bookkeeping is all that's
  // needed). Cloned sessions (newSession) on a LIVE context are not
  // sweepable this way — a caller who drops such a session without
  // releaseStaged() would leak its entry AND its persisted blocks
  // forever — so the map is additionally BOUNDED: ordered by LAST
  // STAGING time (track() re-positions a session to the tail on every
  // stage), and past MaxTrackedSessions the least-recently-STAGING
  // session's frames are unpersisted and its entry evicted — an
  // actively-staging long-lived session is never the victim.
  // Unpersisting is correctness-neutral in persist mode (lineage is
  // kept; consumers recompute), so the bound converts an unbounded
  // leak into a bounded cache with LRU-by-session eviction.
  private[graft] val MaxTrackedSessions = 64
  private val staged =
    new java.util.LinkedHashMap[SparkSession, java.util.ArrayList[DataFrame]]()

  private def sweepStopped(): Unit = {
    staged.keySet().removeIf((s: SparkSession) => s.sparkContext.isStopped)
    while (staged.size() > MaxTrackedSessions) {
      val eldest = staged.entrySet().iterator().next()
      eldest.getValue.forEach(f => f.unpersist(false))
      staged.remove(eldest.getKey)
    }
  }

  /** Frames tracked for `spark` after a sweep — test/diagnostic hook. */
  private[graft] def stagedFrames(spark: SparkSession): Int =
    staged.synchronized {
      sweepStopped()
      Option(staged.get(spark)).fold(0)(_.size())
    }

  /** Unpersist every persist-mode staged frame this module created in
    * `spark`'s session — the between-corpora release hook for
    * long-running services on `spark.graft.stage.mode=persist`. */
  def releaseStaged(spark: SparkSession): Unit = staged.synchronized {
    sweepStopped()
    Option(staged.remove(spark))
      .foreach(_.forEach(f => f.unpersist(false)))
  }

  // Per-session cap on TRACKED persist-mode frames: a long-lived
  // service looping a persist-staging operator (kmvOverlap per
  // corpus-pair, for instance) would otherwise accumulate cache
  // entries without bound inside ONE session, which the session-level
  // LRU above cannot see. Evicting the ELDEST frame is correctness-
  // neutral (persist keeps lineage — consumers recompute) and in
  // practice frees long-consumed intermediates; releaseStaged remains
  // the precise hygiene hook.
  private[graft] val MaxTrackedFramesPerSession = 512

  private def track(df: DataFrame): DataFrame = {
    staged.synchronized {
      sweepStopped()
      // remove+reinsert so the insertion-ordered map becomes
      // LRU-by-last-STAGING: an actively-staging long-lived session
      // (the service's primary, typically) is re-positioned to the
      // tail on every stage and is never the eviction victim; only
      // sessions that stopped staging age toward the head.
      val lst = Option(staged.remove(df.sparkSession))
        .getOrElse(new java.util.ArrayList[DataFrame]())
      lst.add(df)
      while (lst.size() > MaxTrackedFramesPerSession) {
        lst.remove(0).unpersist(false)
      }
      staged.put(df.sparkSession, lst)
    }
    df
  }

  /** Materialize `df` per the session's `spark.graft.stage.mode` (see
    * object scaladoc). Persist-mode frames are tracked per session for
    * [[releaseStaged]]; a session discarded WITHOUT that call keeps
    * its entry (and cache blocks, on a live context) until either its
    * SparkContext stops or the tracked-session bound
    * ([[MaxTrackedSessions]]) evicts it eldest-first — so a service
    * churning short-lived `newSession()` clones should still call
    * [[releaseStaged]] to free blocks promptly rather than waiting
    * for eviction. */
  private[graft] def stage(df: DataFrame,
      requireTruncation: Boolean = false): DataFrame = {
    val mode = df.sparkSession.conf.getOption(ConfKey)
      .getOrElse("localCheckpoint")
    val effective =
      if (requireTruncation && mode == "persist") {
        // iterative-state seam: honor the spirit of the opt-out
        // (no GC-lifetime executor-pinned blocks) where possible,
        // but never skip plan truncation — see scaladoc
        if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
          "checkpoint"
        else "localCheckpoint"
      } else mode
    effective match {
      case "localCheckpoint" => df.localCheckpoint(false)
      case "persist" =>
        track(df.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      case "checkpoint" =>
        // persist -> EAGER checkpoint -> drop the transient cache:
        // a bare checkpoint's write job recomputes the whole staged
        // lineage from scratch (ReliableRDDCheckpointData reads the
        // RDD, not the result of the action that triggered it)
        val p = df.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try p.checkpoint()
        finally p.unpersist(blocking = false)
      case other => throw new IllegalArgumentException(
        s"$ConfKey must be localCheckpoint|persist|checkpoint, got '$other'")
    }
  }

  /** Persist-based staging for SMALL frames where CALL-TIME LAZINESS
    * is part of the caller's contract (kmvOverlap/kmvDifference must
    * be job-free transformation builders — r16 What's-wrong #2):
    * MEMORY_AND_DISK cache, tracked per session exactly like persist
    * mode. The localCheckpoint default is unsuitable there because
    * `Dataset.localCheckpoint(eager = false)` still SUBMITS its
    * shuffle stages as a Spark job at call time (measured; the
    * SketchesSpec job-count test pins the distinction). Lineage is
    * kept, so eviction recomputes instead of failing; free via
    * [[release]]/[[releaseStaged]] as usual. Not for iterative state
    * seams — no plan truncation happens here. */
  private[graft] def stageLazy(df: DataFrame): DataFrame =
    track(df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Eagerly free a staged/persisted frame under the localCheckpoint
    * and persist stage modes (under `checkpoint` the reliable files
    * are NOT deleted here — they free with the checkpoint dir, which
    * the session owner manages).
    * `Dataset.unpersist` alone is a NO-OP for `localCheckpoint()`ed
    * frames — the default stage mode — because localCheckpoint
    * persists at the RDD level, below the cache manager; those blocks
    * otherwise free only when the driver GCs the checkpointed RDD
    * (exactly the residual-pressure failure mode a battery of
    * state-heavy queries exhibits). So: free the checkpointed RDD via
    * the Bridge when the frame is one, then unpersist the cache-
    * manager entry for the persist-mode case — and drop the frame
    * from the per-session staged tracker, so a long-lived persist-mode
    * session that releases its frames promptly does not accumulate
    * stale references in its tracker entry until eviction (r15
    * ADVICE). The frame must not be executed again afterwards. */
  def release(df: DataFrame): Unit = {
    org.apache.spark.sql.graftbridge.Bridge.checkpointedRdd(df)
      .foreach(_.unpersist(blocking = false))
    df.unpersist(blocking = false)
    staged.synchronized {
      val lst = staged.get(df.sparkSession)
      if (lst ne null) {
        lst.removeIf(f => f eq df)
        if (lst.isEmpty) staged.remove(df.sparkSession)
      }
    }
  }
}
