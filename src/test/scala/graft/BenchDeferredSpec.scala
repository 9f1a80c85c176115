package graft

import org.scalatest.funsuite.AnyFunSuite

/** The deferred end-of-battery retry pass, synthetically (r16 Next #2):
  * a memo-backed entry whose shared memo was released at endAll used to
  * pay the whole rebuild inside its timed retry and could never clear a
  * host spike (the r16 driver's q222 at 24.8 s). The pass now rebuilds
  * the matching module memos ONCE, outside any timed window, and
  * reports the count. No SparkSession needed — the pass is a pure
  * timing/control-flow harness over injected run/prewarm thunks.
  */
class BenchDeferredSpec extends AnyFunSuite {

  test("memo-backed deferred entry: the prewarm rebuilds ONCE outside " +
      "the timed retry, and the retry wins against the spiky inline time") {
    // fake memo: run() is slow while it is absent (the pre-fix
    // behavior: the retry itself paid the rebuild), fast when present
    @volatile var memoBuilt = false
    def run(name: String): Unit = {
      assert(name == "q_slow", s"unexpected retry of $name")
      if (!memoBuilt) Thread.sleep(400) else Thread.sleep(10)
    }
    val prewarm = () => { memoBuilt = true; Thread.sleep(30) }
    // q_slow's inline min (5.0 s) is a simulated host spike over its
    // 1.0 s bar; q_fast is under bar and must not be retried
    val results = Seq(("q_slow", 5.0, 6.0, 2), ("q_fast", 0.1, 0.1, 1))
    val out = Bench.deferredPass(run, results, _ => 1.0,
      Seq((Set("q_slow", "q_other"), prewarm),
        (Set("q_unrelated"), () => fail("unrelated prewarm ran"))))
    assert(out.memoRebuilds == 1, s"expected 1 memo rebuild, got $out")
    assert(out.reps == 1)
    assert(out.memoRebuildS >= 0.02,
      "rebuild time was not measured (prewarm did not run before timing)")
    val bySlow = out.arbitrated.find(_._1 == "q_slow").get
    // the retry ran WITH the memo present: ~10 ms, not ~400 ms (the
    // rebuild-inside-timing failure mode) and far under the 5.0 spike
    assert(bySlow._2 < 0.2,
      s"retry did not benefit from the rebuilt memo: ${bySlow._2} s")
    assert(bySlow._4 == 3, "min-of count was not incremented")
    assert(out.arbitrated.find(_._1 == "q_fast").get ==
      ("q_fast", 0.1, 0.1, 1), "under-bar entry was touched")
    assert(out.errors.isEmpty)
  }

  test("parseQuietRefs extracts the queries object from a bench capture " +
      "line, drops failed (-1) entries, and is empty-safe on junk " +
      "(r17 Next #2: artifact-derived refs)") {
    val line = """{"metric":"total","value":357.4,"unit":"sec",""" +
      """"queries":{"q01_pricing_summary":0.9812,"q222_incremental_jaccard":8.0834,""" +
      """"q_failed":-1.0000},"errors":{},"n_queries":3,"setup_s":42.6}"""
    val refs = Bench.parseQuietRefs(line)
    assert(refs == Map("q01_pricing_summary" -> 0.9812,
      "q222_incremental_jaccard" -> 8.0834),
      s"parsed $refs")
    // empty/junk inputs with no name:value entry: no refs, no throw
    // (the bar then falls back to the hardcoded constants per name)
    assert(Bench.parseQuietRefs("") == Map.empty[String, Double])
    assert(Bench.parseQuietRefs("{\"metric\":\"total\"}") ==
      Map.empty[String, Double])
    assert(Bench.parseQuietRefs("{\"queries\":{garbage}}") ==
      Map.empty[String, Double])
    assert(Bench.parseQuietRefs("{\"queries\":{") ==
      Map.empty[String, Double])
    // a non-numeric value fails the parse, naming the entry, instead of
    // quietly running that entry without a ref
    val bad = intercept[IllegalArgumentException](Bench.parseQuietRefs(
      "{\"queries\":{\"q_ok\":1.0000,\"q_bad\":1.2x}}"))
    assert(bad.getMessage.contains("q_bad") && bad.getMessage.contains("1.2x"),
      bad.getMessage)
    // a missing artifact file loads as empty (fallback pinned)
    assert(Bench.loadQuietRefs("/nonexistent/BENCH_ref.json") ==
      Map.empty[String, Double])
    // a real file round-trips
    val tmp = java.io.File.createTempFile("bench_ref", ".json")
    try {
      val w = new java.io.PrintWriter(tmp, "UTF-8")
      try w.print(line) finally w.close()
      assert(Bench.loadQuietRefs(tmp.getPath).size == 2)
    } finally tmp.delete()
  }

  test("candidate quiet-ref emission (r19, r18 Next #3): a CLEAN capture " +
      "— no failures, everything under bar — writes a candidate that " +
      "round-trips through parseQuietRefs; any flag or failure blocks it") {
    val bar: String => Double = _ => 2.0
    val clean = Seq(("q_a", 0.5, 0.5, 1), ("q_b", 1.9, 1.9, 1))
    assert(Bench.isCleanCapture(clean, bar, nErrors = 0))
    // one entry over its bar = a benchdiff flag: not a refresh source
    assert(!Bench.isCleanCapture(Seq(("q_a", 0.5, 0.5, 1),
      ("q_b", 2.1, 2.1, 2)), bar, 0))
    // any failure (main loop or deferred) blocks the candidate
    assert(!Bench.isCleanCapture(clean, bar, nErrors = 1))
    // a failed (-1) entry blocks it too
    assert(!Bench.isCleanCapture(Seq(("q_a", -1.0, -1.0, 1)), bar, 0))
    // the written candidate is byte-usable as the next BENCH_ref.json:
    // exactly Bench's own line format, parsed by the same loader
    val line = """{"metric":"total","value":2.4,"unit":"sec",""" +
      """"queries":{"q_a":0.5000,"q_b":1.9000},"errors":{},"n_queries":2}"""
    val tmp = java.io.File.createTempFile("bench_cand", ".json")
    try {
      assert(Bench.writeCandidateRef(tmp.getPath, line))
      assert(Bench.loadQuietRefs(tmp.getPath) ==
        Map("q_a" -> 0.5, "q_b" -> 1.9),
        "candidate did not round-trip through the artifact loader")
    } finally tmp.delete()
    // an unwritable path is a stderr note, never a failure
    assert(!Bench.writeCandidateRef("/nonexistent_dir/x/y.json", line))
  }

  test("parseRefSf: refs only compare within one data scale — the sf " +
      "field round-trips out of a capture line; absent/truncated is None") {
    val line = """{"metric":"total","value":2.4,"unit":"sec",""" +
      """"queries":{"q_a":0.5000},"errors":{},""" +
      """"sf":"/root/testdata/sf0.1"}"""
    assert(Bench.parseRefSf(line).contains("/root/testdata/sf0.1"))
    assert(Bench.parseRefSf("""{"queries":{"q_a":0.5}}""").isEmpty)
    assert(Bench.parseRefSf("""{"sf":"/unterminated""").isEmpty)
  }

  test("quietRefsFor: a missing or unparseable artifact fails the run " +
      "naming its absolute path and SPARK_GRAFT_BENCH_REF; a wrong-sf " +
      "artifact bars nothing; a matching one yields its refs") {
    val line = """{"metric":"total","value":2.4,"unit":"sec",""" +
      """"queries":{"q_a":0.5000,"q_b":1.9000},"errors":{},""" +
      """"sf":"/data/sf0.1"}"""
    def loud(path: String): Unit = {
      val e = intercept[IllegalStateException](
        Bench.quietRefsFor(path, "/data/sf0.1"))
      assert(e.getMessage.contains(new java.io.File(path).getAbsolutePath),
        e.getMessage)
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_REF"), e.getMessage)
    }
    // missing: a relative path is reported absolute (the default path
    // is CWD-relative)
    loud("no_such_dir/BENCH_ref.json")
    val tmp = java.io.File.createTempFile("bench_ref", ".json")
    def write(text: String): Unit = {
      val w = new java.io.PrintWriter(tmp, "UTF-8")
      try w.print(text) finally w.close()
    }
    try {
      // unparseable: e.g. a jq-reformatted artifact
      write("{\n  \"queries\": {\n    \"q_a\": 0.5\n  }\n}")
      loud(tmp.getPath)
      write(line)
      assert(Bench.quietRefsFor(tmp.getPath, "/elsewhere/sf0.001") ==
        Map.empty[String, Double], "a wrong-sf artifact must bar nothing")
      assert(Bench.quietRefsFor(tmp.getPath, "/other/root/sf0.1") ==
        Map("q_a" -> 0.5, "q_b" -> 1.9))
    } finally tmp.delete()
  }

  test("barFor: a REFLESS entry (newer than artifact + fallback table) " +
      "runs unbarred — a finite default bar would veto cleanliness " +
      "forever and the candidate ref could never be emitted") {
    assert(Bench.barFor(0.0) == Double.MaxValue)
    assert(Bench.barFor(-1.0) == Double.MaxValue)
    // referenced entries keep the r17 bars exactly: 3x under 1 s
    // (noise floor), 2x above, never below 0.8 s
    assert(Bench.barFor(0.5) == 1.5)
    assert(Bench.barFor(0.1) == 0.8)
    assert(Bench.barFor(2.0) == 4.0)
    // a refless new entry cannot block a clean capture however slow
    val bar: String => Double = {
      case "q_new" => Bench.barFor(0.0)
      case _       => Bench.barFor(1.0)
    }
    assert(Bench.isCleanCapture(
      Seq(("q_old", 1.5, 1.5, 1), ("q_new", 97.0, 97.0, 1)), bar, 0))
  }

  test("no memo-backed deferred entries: zero rebuilds; a FAILED retry " +
      "keeps the inline timing and is recorded loudly") {
    var ran = 0
    def run(name: String): Unit = {
      ran += 1
      throw new RuntimeException(s"boom in $name")
    }
    val results = Seq(("q_bad", 3.0, 3.0, 1))
    val out = Bench.deferredPass(run, results, _ => 1.0,
      Seq((Set("q_unrelated"), () => fail("prewarm must not run"))))
    assert(out.memoRebuilds == 0 && ran == 1)
    // the inline timing survives a failed retry, visibly
    assert(out.arbitrated.head == ("q_bad", 3.0, 3.0, 1))
    assert(out.errors.get("q_bad").exists(_.contains("boom")))
  }

  test("nothing deferred: the pass is a no-op (no prewarms, no retries)") {
    val results = Seq(("q_ok", 0.5, 0.5, 1))
    val out = Bench.deferredPass(
      _ => fail("no entry should be retried"), results, _ => 1.0,
      Seq((Set("q_ok"), () => fail("prewarm must not run"))))
    assert(out.reps == 0 && out.memoRebuilds == 0 &&
      out.arbitrated == results)
  }
}
