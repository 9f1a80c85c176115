package graft.ops

import org.apache.spark.sql.SparkSession

import graft.SparkSuite

/** The staging seam's lifecycle contracts: eager release must work in
  * the DEFAULT localCheckpoint mode (Dataset.unpersist alone is a
  * no-op there — blocks otherwise free only on driver GC, the exact
  * residual-pressure mode a long battery exhibits), and the
  * persist-mode session bound must evict the least-recently-STAGING
  * session, never an actively-staging one. */
class MaterializeSpec extends SparkSuite {

  private def storedRddIds: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("release frees a localCheckpoint-staged frame's RDD blocks " +
      "eagerly (Dataset.unpersist alone cannot)") {
    import spark.implicits._
    val before = storedRddIds
    val staged = Materialize.stage(
      (1L to 1000L).toDF("v").filter(org.apache.spark.sql.functions
        .col("v") % 2 === 0))
    assert(staged.count() == 500L)
    val newIds = storedRddIds -- before
    assert(newIds.nonEmpty,
      "staging did not register any persisted RDD blocks — the " +
        "default mode is no longer localCheckpoint?")
    // the broken spelling: Dataset.unpersist is cache-manager-only
    staged.unpersist(blocking = false)
    assert((storedRddIds -- before) == newIds,
      "Dataset.unpersist freed localCheckpoint blocks — the " +
        "Materialize.release helper (and this test) are obsolete")
    Materialize.release(staged)
    // RDD unpersist is async at blocking=false: poll briefly
    val deadline = System.nanoTime() + 10e9.toLong
    while ((storedRddIds & newIds).nonEmpty &&
        System.nanoTime() < deadline) Thread.sleep(50)
    assert((storedRddIds & newIds).isEmpty,
      "Materialize.release did not free the checkpointed RDD blocks")
  }

  test("per-session tracked-frame bound: a loop of stageLazy calls " +
      "keeps at most MaxTrackedFramesPerSession frames cached, evicting " +
      "the eldest (correctness-neutral — lineage kept)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    Materialize.releaseStaged(spark) // clean slate for the count
    val cap = Materialize.MaxTrackedFramesPerSession
    val frames = (0 until cap + 20).map { i =>
      val f = Materialize.stageLazy(
        Seq((i.toLong, i * 2L)).toDF("a", "b").filter(col("a") >= 0))
      f.count() // materialize the cache entry
      f
    }
    assert(Materialize.stagedFrames(spark) <= cap,
      s"tracked list exceeded the cap: ${Materialize.stagedFrames(spark)}")
    // the eldest frames were unpersisted; they still COMPUTE correctly
    // (persist keeps lineage)
    assert(frames.head.count() == 1L)
    Materialize.releaseStaged(spark)
  }

  test("persist-mode session bound evicts by last STAGING time: an " +
      "actively-staging session survives churn past the bound") {
    def clone(): SparkSession = {
      val c = spark.newSession()
      c.conf.set(Materialize.ConfKey, "persist")
      c
    }
    val active = clone()
    def stageIn(s: SparkSession): Unit = {
      val df = Materialize.stage(s.range(10).toDF("v"))
      df.count()
      ()
    }
    stageIn(active)
    // churn MaxTrackedSessions fresh clones (active + churn = bound
    // + 1), re-staging in the active session midway — the re-position
    // must move it to the tail so the final clone's insertion evicts
    // the OLDEST clone, not the long-lived active session
    val churn = (1 to Materialize.MaxTrackedSessions).map(_ => clone())
    churn.take(30).foreach(stageIn)
    stageIn(active) // re-position: active is now newest
    churn.drop(30).foreach(stageIn) // pushes total past the bound
    assert(Materialize.stagedFrames(active) == 2,
      "the actively-staging session was evicted — the bound is " +
        "insertion-ordered, not LRU-by-staging")
    assert(Materialize.stagedFrames(churn.head) == 0,
      "the least-recently-staging clone was not the eviction victim")
    // cleanup: free the persist-mode frames this test created
    (churn :+ active).foreach(Materialize.releaseStaged)
  }

  test("release drops a persist-mode frame from the staged tracker " +
      "(a promptly-releasing service must not accumulate stale refs)") {
    val sess = spark.newSession()
    sess.conf.set(Materialize.ConfKey, "persist")
    try {
      val a = Materialize.stage(sess.range(10).toDF())
      val b = Materialize.stage(sess.range(20).toDF())
      assert(Materialize.stagedFrames(sess) == 2)
      Materialize.release(a)
      assert(Materialize.stagedFrames(sess) == 1,
        "release left the freed frame tracked")
      Materialize.release(b)
      assert(Materialize.stagedFrames(sess) == 0,
        "the session's tracker entry should be gone once empty")
    } finally {
      Materialize.releaseStaged(sess)
      sess.conf.unset(Materialize.ConfKey)
    }
  }
}
