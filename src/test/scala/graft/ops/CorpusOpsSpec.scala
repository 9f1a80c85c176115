package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

class CorpusOpsSpec extends SparkSuite {

  private def vecs(rows: (Long, Seq[Float])*) = {
    import spark.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
  }

  test("cosine: zero-norm vector yields SQL NULL (Divide parity), never NaN") {
    import spark.implicits._
    // A zero-norm vector has no direction, so its cosine must be SQL
    // NULL (what try_divide / the pre-ANSI Divide give on a 0.0
    // divisor; under Spark 4's default ANSI mode the raw `/` throws).
    // A NaN here would sort above every real cosine and turn a zero
    // vector into a "duplicate of everything" in semDedupPrune.
    val df = Seq(
      (1L, Seq(0f, 0f), Seq(1f, 2f)),   // zero left
      (2L, Seq(1f, 2f), Seq(0f, 0f)),   // zero right
      (3L, Seq(0f, 0f), Seq(0f, 0f)),   // both zero
      (4L, Seq(1f, 0f), Seq(1f, 0f))    // sane pair
    ).toDF("id", "a", "b")
    val hof = try_divide(VectorOps.dot(col("a"), col("b")),
      VectorOps.l2norm(col("a")) * VectorOps.l2norm(col("b")))
    val rows = df.select(col("id"), VectorOps.cosine(col("a"), col("b")).as("nat"),
        hof.as("hof")).orderBy("id").collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2),
        s"null parity broken at id=${r.getLong(0)}")
      if (!r.isNullAt(1))
        assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(2)), "bit identity")
    }
    assert(rows.take(3).forall(_.isNullAt(1)), "zero-norm must be NULL")
    assert(rows(3).getDouble(1) == 1.0)
    // and a zero vector must never be pruned as a duplicate: it has no
    // defined direction, so semDedup keeps it (NULL >= tau is false)
    val e = vecs(1L -> Seq(1f, 0f), 2L -> Seq(0f, 0f), 3L -> Seq(1f, 0f))
    val kept = VectorOps.semDedup(e, "vec_id", "embedding", k = 1, tau = 0.9)
      .where(col("kept")).select("vec_id").as[Long].collect().toSet
    assert(kept.contains(2L), "zero vector silently dropped as duplicate")
  }

  test("semDedup: duplicates drop, near-but-below-tau survives") {
    // seeds (k=2) are ids 1,2; id3 duplicates seed1, id5 duplicates
    // seed2, id4 is near seed1 but under tau=0.95 (cos 3/sqrt(10)).
    val e = vecs(
      1L -> Seq(1f, 0f), 2L -> Seq(0f, 1f), 3L -> Seq(1f, 0f),
      4L -> Seq(3f, 1f), 5L -> Seq(0f, 1f))
    val out = VectorOps.semDedup(e, "vec_id", "embedding", k = 2, tau = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == (1L, true) && out(3L) == (1L, false))
    assert(out(2L) == (2L, true) && out(5L) == (2L, false))
    assert(out(4L) == (1L, true), "below-tau neighbor must survive")
  }

  test("ivfSemDedup(nlist=1) kept set equals semDedup(k=1): single cluster either way, shared prune") {
    val rnd = new scala.util.Random(7)
    val e = vecs((1L to 50L).map(i =>
      i -> Seq.fill(6)(rnd.nextFloat() * 2 - 1)): _*)
    def keptSet(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("kept")).select("vec_id").collect()
        .map(_.getLong(0)).toSet
    val viaIvf = keptSet(
      VectorOps.ivfSemDedup(e, "vec_id", "embedding", nlist = 1, tau = 0.8))
    val viaSeed = keptSet(
      VectorOps.semDedup(e, "vec_id", "embedding", k = 1, tau = 0.8))
    assert(viaIvf == viaSeed)
  }

  test("ivfSemDedup: partition + prune law hold under KMeans clusters") {
    val rnd = new scala.util.Random(13)
    val e = vecs((1L to 80L).map(i =>
      i -> Seq.fill(6)(rnd.nextFloat() * 2 - 1)): _*)
    val tau = 0.8
    val out = VectorOps.ivfSemDedup(e, "vec_id", "embedding",
        nlist = 4, tau = tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length == 80 && out.map(_._1).distinct.length == 80,
      "one row per input vector")
    // independent reference for the prune decision, from the SAME
    // cluster assignment: dropped iff a smaller-id same-cluster
    // neighbor sits at rounded cosine >= tau
    val raw = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      BigDecimal(dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byCluster = out.groupBy(_._2)
    out.foreach { case (id, c, kept) =>
      val expectDrop = byCluster(c).exists { case (other, _, _) =>
        other < id && cos(raw(other), raw(id)) >= tau
      }
      assert(kept == !expectDrop, s"vec $id in cluster $c: kept=$kept")
    }
  }

  test("lloydCentroids: exact integer-micro-unit means; lloydSemDedup runs the shared prune on them") {
    val e = vecs(
      1L -> Seq(1f, 0f), 2L -> Seq(0f, 1f), 3L -> Seq(0.9f, 0.1f))
    val cents = VectorOps.lloydCentroids(e, "vec_id", "embedding", k = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    // seeds 1,2; vec 3 assigns to seed 1 (cos .995 vs .110) ->
    // cluster-1 mean = ((1 + 0.9)/2, (0 + 0.1)/2) exactly in micro-units
    assert(cents(1L) == Seq(0.95, 0.05))
    assert(cents(2L) == Seq(0.0, 1.0))
    val out = VectorOps.lloydSemDedup(e, "vec_id", "embedding",
        k = 2, tau = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    // cos(vec3, vec1) = 0.9/(1*sqrt(0.82)) ~ 0.9939 >= tau -> vec3
    // drops inside cluster 1; the cluster minima always survive
    assert(out(1L) == (1L, true) && out(3L) == (1L, false))
    assert(out(2L) == (2L, true))
  }

  test("incrementalIvf: maintained index equals one-shot re-assignment over random remove/add deltas") {
    val rnd = new scala.util.Random(23)
    val e = vecs((1L to 100L).map(i =>
      i -> Seq.fill(6)(rnd.nextFloat() * 2 - 1)): _*)
    val old = e.filter(col("vec_id") <= 80)
    val cents = VectorOps.lloydCentroids(old, "vec_id", "embedding", k = 5)
    val st = VectorOps.ivfState(old, "vec_id", "embedding", cents)
    val removed = old.filter(col("vec_id") % 3 === 0).select("vec_id")
    val added = e.filter(col("vec_id") > 80)
    val inc = VectorOps.incrementalIvf(st, removed, added,
      "vec_id", "embedding")
    val newCorpus = e.filter(col("vec_id") > 80 ||
      (col("vec_id") <= 80 && col("vec_id") % 3 =!= 0))
    val full = VectorOps.assignToCentroids(newCorpus, "vec_id",
      "embedding", cents)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cluster").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = pairs(inc.assigned)
    assert(got.nonEmpty && got == pairs(full))
  }

  test("incrementalSemDedup: append equals full re-run; interleaved ids refuse loudly") {
    val rnd = new scala.util.Random(29)
    val e = vecs((1L to 90L).map(i =>
      i -> Seq.fill(6)(rnd.nextFloat() * 2 - 1)): _*)
    val old = e.filter(col("vec_id") <= 60)
    val added = e.filter(col("vec_id") > 60)
    val cents = VectorOps.lloydCentroids(old, "vec_id", "embedding", k = 4)
    val st = VectorOps.semState(old, "vec_id", "embedding", cents,
      tau = 0.6)
    val inc = VectorOps.incrementalSemDedup(st, added, "vec_id",
      "embedding", tau = 0.6)
    val full = VectorOps.semState(e, "vec_id", "embedding", cents,
      tau = 0.6)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cluster", "kept").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sorted.toSeq
    val got = rows(inc.members)
    assert(got.length == 90 && got == rows(full.members))
    // interleaved ids (added id 30 < stored max 60) must refuse, not
    // silently keep a stale decision
    val bad = vecs(30L -> Seq.fill(6)(0.5f))
    val err = intercept[IllegalArgumentException] {
      VectorOps.incrementalSemDedup(st, bad, "vec_id", "embedding",
        tau = 0.6)
    }
    assert(err.getMessage.contains("append-only"))
    // chain release (the service pattern): materialize the live
    // state's members, free the SUPERSEDED state's own frames via
    // releaseSuperseded — the shared frozen centroids must survive —
    // then a SECOND append still equals the full re-run
    inc.members.count()
    st.releaseSuperseded(inc)
    val e2 = (91L to 110L).map(i =>
      i -> Seq.fill(6)(rnd.nextFloat() * 2 - 1))
    val inc2 = VectorOps.incrementalSemDedup(inc, vecs(e2: _*),
      "vec_id", "embedding", tau = 0.6)
    val full2 = VectorOps.semState(e.unionByName(vecs(e2: _*)),
      "vec_id", "embedding", cents, tau = 0.6)
    assert(rows(inc2.members) == rows(full2.members),
      "post-release chained append diverged from the full re-run")
    inc.releaseSuperseded(inc2)
    Seq(inc2, full, full2).foreach(_.release())
  }

  test("incrementalSemDedup with removals: dirty-frontier resurrection equals full re-run") {
    // hand-built geometry first: cluster with 1 -> suppresses 3 and 5
    // (all parallel); removing 1 must resurrect 3 (new cluster min)
    // while 5 stays dropped (still has smaller-id neighbor 3)
    val e = vecs(
      1L -> Seq(1f, 0f), 3L -> Seq(1f, 0f), 5L -> Seq(1f, 0f),
      2L -> Seq(0f, 1f))
    val cents = VectorOps.lloydCentroids(e, "vec_id", "embedding", k = 2)
    val st = VectorOps.semState(e, "vec_id", "embedding", cents, tau = 0.9)
    import spark.implicits._
    val removed = Seq(1L).toDF("vec_id")
    val emptyAdd = vecs()
    val inc = VectorOps.incrementalSemDedup(st, removed, emptyAdd,
      "vec_id", "embedding", tau = 0.9)
    val got = inc.members.collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    assert(got.keySet == Set(2L, 3L, 5L))
    assert(got(3L)._1, "removal of the suppressor must resurrect 3")
    assert(!got(5L)._1, "5 still has smaller-id neighbor 3 — stays dropped")
    assert(got(2L)._1)
    // evidence column maintained exactly: 5's suppressor re-points to
    // the surviving min neighbor (3); kept members carry NULL
    assert(got(5L)._2 == Some(3L) && got(3L)._2.isEmpty && got(2L)._2.isEmpty)

    // randomized equivalence: removals + appended batch in one run
    // must equal a full re-run over (old \ removed) ∪ added with the
    // same frozen centroids
    val rnd = new scala.util.Random(31)
    val all = vecs((1L to 90L).map(i =>
      i -> Seq.fill(6)(rnd.nextFloat() * 2 - 1)): _*)
    val old = all.filter(col("vec_id") <= 60)
    val added = all.filter(col("vec_id") > 60)
    val cents2 = VectorOps.lloydCentroids(old, "vec_id", "embedding", k = 4)
    val st2 = VectorOps.semState(old, "vec_id", "embedding", cents2,
      tau = 0.6)
    val rem2 = old.filter(col("vec_id") % 7 === 0).select("vec_id")
    val inc2 = VectorOps.incrementalSemDedup(st2, rem2, added, "vec_id",
      "embedding", tau = 0.6)
    val survivors = old.join(rem2, Seq("vec_id"), "left_anti")
      .unionByName(added)
    val full2 = VectorOps.semState(survivors, "vec_id", "embedding",
      cents2, tau = 0.6)
    def rws(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cluster", "kept").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sorted.toSeq
    assert(rws(inc2.members) == rws(full2.members))
  }

  test("topKByScore: bounded-heap aggregate equals the row_number window, ties and NULL scores included") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // adversarial fixture: duplicate scores (id tiebreak), NULL scores
    // (must rank last), groups smaller and larger than k, and enough
    // partitions that map-side combine actually merges partial heaps
    val rnd = new scala.util.Random(47)
    val rows = (1L to 4000L).map { i =>
      val g = i % 13
      // NaN scores included: Spark sorts NaN GREATEST (desc -> first),
      // and a naive `>` heap comparator would treat NaN as equal to
      // everything and evict real candidates — the ordering must be
      // the total order, not raw double comparison
      val score: Option[Double] =
        if (i % 29 == 0) None
        else if (i % 31 == 0) Some(Double.NaN)
        else Some((rnd.nextInt(40)).toDouble / 10.0)
      (g, i, score)
    }
    val df = rows.toDF("g", "id", "score").repartition(16)
    val k = 5
    val win = df
      .withColumn("rank", row_number().over(
        Window.partitionBy("g").orderBy(desc("score"), asc("id"))))
      .filter(col("rank") <= k)
      .select("g", "rank", "id", "score")
    val agg = df.groupBy("g")
      .agg(graft.functions.TopKAgg.topKByScore(col("score"), col("id"), k)
        .as("t"))
      .select(col("g"), posexplode(col("t")).as(Seq("p", "e")))
      .select(col("g"), (col("p") + 1).cast("int").as("rank"),
        col("e.id").as("id"), col("e.score").as("score"))
    // scores canonicalized to IEEE bits: Scala's numeric == makes
    // NaN != NaN, which would fail the comparison on IDENTICAL rows
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(3)))))
        .sorted.toSeq
    assert(canon(agg) == canon(win))
    // and a group with fewer members than k emits them all
    val small = Seq((1L, 10L, Some(0.5)), (1L, 11L, None)).toDF("g", "id", "score")
    val out = small.groupBy("g")
      .agg(graft.functions.TopKAgg.topKByScore(col("score"), col("id"), 5).as("t"))
      .select(size(col("t"))).head().getInt(0)
    assert(out == 2)
  }

  test("duplicateSpanList(onlyDocs) equals the full result filtered: global counts, stratum merge") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    def noise(pool: Char, n: Int): String =
      (0 until n).map(_ => (pool + rnd.nextInt(20)).toChar).mkString
    val run = "S" * 50
    // the duplicated run pairs a stratum doc (2) with a NON-stratum
    // doc (3): the restricted variant must still see doc 2's span,
    // which requires the count pass to stay corpus-wide
    val docs = Seq(
      1L -> noise('a', 100),
      2L -> (noise('b', 20) + run + noise('b', 30)),
      3L -> (noise('c', 45) + run + noise('c', 10)),
      4L -> (noise('d', 15) + "T" * 55 + noise('d', 5) + "T" * 55))
      .toDF("doc_id", "text")
    val p = col("doc_id") % 2 === 0
    val restricted = TextDedup.duplicateSpanList(docs, "doc_id", "text",
        l = 40, onlyDocs = Some(p))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val filtered = TextDedup.duplicateSpanList(docs, "doc_id", "text", l = 40)
      .filter(p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(restricted.nonEmpty && restricted.exists(_._1 == 2L),
      "cross-stratum duplicate must be visible to the restricted variant")
    assert(restricted.toSeq == filtered.toSeq)
    // digest invariance: spans carry positions, never digests, so the
    // xxhash64 fast path must reproduce the md5 spans byte-for-byte
    // (same law for the state-build + incremental path, exercised at
    // corpus scale by q177's oracle)
    val fast = TextDedup.duplicateSpanList(docs, "doc_id", "text", l = 40,
        fastDigest = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val slow = TextDedup.duplicateSpanList(docs, "doc_id", "text", l = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(fast.toSeq == slow.toSeq)
    // a predicate over the TEXT column (dropped from the anchor frame)
    // must take the re-anchor fallback and still match filter-the-full
    val pt = col("text").contains("S" * 50)
    val restrText = TextDedup.duplicateSpanList(docs, "doc_id", "text",
        l = 40, onlyDocs = Some(pt))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val fullIds = TextDedup.duplicateSpanList(docs, "doc_id", "text", l = 40)
      .join(docs.filter(pt).select("doc_id"), Seq("doc_id"), "left_semi")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(restrText.toSeq == fullIds.toSeq && restrText.exists(_._1 == 2L))
    // a predicate over a PER-ANCHOR column ("p") must NOT take the
    // anchor-filter shortcut (it would drop anchor rows, not docs) —
    // it falls back to re-anchoring, where the bogus column fails
    // loudly at analysis instead of silently truncating spans
    intercept[org.apache.spark.sql.AnalysisException] {
      TextDedup.duplicateSpanList(docs, "doc_id", "text", l = 40,
        onlyDocs = Some(col("p") > 100)).collect()
    }
  }

  test("duplicateSpans: exact extents at arbitrary (non-aligned) offsets; self-duplication; clean docs absent") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    def noise(pool: Char, n: Int): String =
      (0 until n).map(_ => (pool + rnd.nextInt(20)).toChar).mkString
    val run = "R" * 60
    // run at offset 10 in doc 1 and offset 37 in doc 2 — offsets differ
    // by 27, not a multiple of any stride: the case strided anchoring
    // provably misses and the exact construction must find.
    val d1 = noise('a', 9) + run + noise('a', 40)
    val d2 = noise('A', 36) + run + noise('A', 25)
    val d3 = noise('0', 120) // clean
    val d4 = noise('k', 5) + "Q" * 55 + noise('k', 12) + "Q" * 55 // self-dup
    val out = TextDedup.duplicateSpans(
        Seq(1L -> d1, 2L -> d2, 3L -> d3, 4L -> d4).toDF("doc_id", "text"),
        "doc_id", "text", l = 40)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(3))).toMap
    assert(!out.contains(3L), "clean doc must be absent")
    assert(out(1L) == (1L, 60L), s"doc1 span must be the exact 60-char run: ${out(1L)}")
    assert(out(2L) == (1L, 60L), s"doc2 span must be the exact 60-char run: ${out(2L)}")
    assert(out.contains(4L), "within-doc duplication must be flagged")
  }

  test("duplicateSpans: no spans shorter than l; dup_frac bounded by 1") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val shared = (0 until 200).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val docs = (1L to 12L).map { i =>
      def own = (0 until 80).map(_ => ('A' + rnd.nextInt(26)).toChar).mkString
      i -> (if (i % 3 == 0) own + shared.substring(0, 90) + own else own + own)
    }.toDF("doc_id", "text")
    val rows = TextDedup.duplicateSpans(docs, "doc_id", "text", l = 40).collect()
    rows.foreach { r =>
      assert(r.getLong(3) >= 40L, "every merged span covers at least l chars")
      assert(r.getDouble(4) <= 1.0 && r.getDouble(4) > 0.0)
    }
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(3L, 6L, 9L, 12L),
      "exactly the docs sharing the 90-char block are flagged")
  }

  test("exciseDuplicateSpans: removes exactly the planted run, leaves clean docs untouched, and is idempotent here") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    def noise(pool: Char, n: Int): String =
      (0 until n).map(_ => (pool + rnd.nextInt(20)).toChar).mkString
    val run = "Z" * 70
    val pre1 = noise('a', 13); val post1 = noise('a', 50)
    val pre2 = noise('A', 31); val post2 = noise('A', 44)
    val clean = noise('0', 150)
    val df = Seq(1L -> (pre1 + run + post1), 2L -> (pre2 + run + post2),
      3L -> clean).toDF("doc_id", "text")
    val out = TextDedup.exciseDuplicateSpans(df, "doc_id", "text", l = 40)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L) == ((pre1 + post1).length.toLong, 70L, md5hex(pre1 + post1)))
    assert(out(2L) == ((pre2 + post2).length.toLong, 70L, md5hex(pre2 + post2)))
    assert(out(3L) == (150L, 0L, md5hex(clean)))
    // the excised corpus has no duplicated spans left (on this fixture)
    val re = Seq(1L -> (pre1 + post1), 2L -> (pre2 + post2), 3L -> clean)
      .toDF("doc_id", "text")
    assert(TextDedup.duplicateSpans(re, "doc_id", "text", l = 40).count() == 0)
  }

  test("sourceOverlapMatrix: planted overlap measured exactly, disjoint sources absent") {
    import spark.implicits._
    // srcA and srcB share one 5-token run (3 shared trigrams);
    // srcC is vocabulary-disjoint from both.
    val shared = "k1 k2 k3 k4 k5"
    val df = Seq(
      (1L, "a1 a2 a3 " + shared, "srcA"),
      (2L, "b1 b2 " + shared + " b3", "srcB"),
      (3L, "c1 c2 c3 c4 c5 c6", "srcC"))
      .toDF("doc_id", "text", "source")
    val out = TrainingOps.sourceOverlapMatrix(df, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(5))).toMap
    // srcA trigrams: 6 total; srcB: 7; shared trigrams = the 3 inside
    // the k-run ("k1 k2 k3","k2 k3 k4","k3 k4 k5")
    assert(out.keySet == Set(("srcA", "srcB")), out.keySet)
    assert(out(("srcA", "srcB"))._1 == 3L)
    assert(out(("srcA", "srcB"))._2 == 0.5,
      "containment = 3 shared / min(6, 7)")
  }

  test("minHashCandidatesMd5: exact copies collide 16/16 in every band; disjoint-vocab docs never pair") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val base = (0 until 10).map { i =>
      i.toLong -> (0 until 40).map(_ => s"w${i}_${rnd.nextInt(30)}").mkString(" ")
    }
    val copies = base.map { case (id, t) => (id + 1000) -> t }
    val out = TextDedup.minHashCandidatesMd5(
        (base ++ copies).toDF("doc_id", "text"), "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    (0 until 10).foreach { i =>
      assert(out.get((i.toLong, i + 1000L)).contains((16L, 1.0)),
        s"exact copy of $i must collide with full signature match")
    }
    out.keys.foreach { case (a, b) =>
      assert(b - a == 1000L,
        s"disjoint-vocabulary docs must never share a band: ($a,$b)")
    }
  }

  test("simHashMd5Sig: 16-hex signatures, copy-identity, perturbation locality, partition invariance") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val base = (0 until 12).map { i =>
      i.toLong -> (0 until 60).map(_ => s"t${rnd.nextInt(25)}").mkString(" ")
    }
    val copies = base.map { case (id, t) => (id + 100) -> t }
    val pert = base.map { case (id, t) => (id + 200) -> (t + " q1 q2 q3") }
    val df = (base ++ copies ++ pert).toDF("doc_id", "text")
    val sigs = TextDedup.simHashMd5Sig(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    sigs.values.foreach(s =>
      assert(s.length == 16 && s.forall("0123456789abcdef".contains(_)), s))
    (0 until 12).foreach { i =>
      assert(sigs(i.toLong) == sigs(i + 100L), "copy must hash identically")
      val d = sigs(i.toLong).zip(sigs(i + 200L)).map { case (a, b) =>
        Integer.bitCount("0123456789abcdef".indexOf(a) ^
          "0123456789abcdef".indexOf(b))
      }.sum
      assert(d > 0 && d <= 16, s"perturbed copy at implausible hamming $d")
    }
    val again = TextDedup.simHashMd5Sig(df.repartition(7), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == sigs, "signature must be partitioning-independent")
  }

  test("simHashCandidatesMd5: copies pair at hamming 0; banding finds the perturbed pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val base = (0 until 10).map { i =>
      i.toLong -> (0 until 80).map(_ => s"u${rnd.nextInt(20)}").mkString(" ")
    }
    val copies = base.map { case (id, t) => (id + 100) -> t }
    val df = (base ++ copies).toDF("doc_id", "text")
    val out = TextDedup.simHashCandidatesMd5(df, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    (0 until 10).foreach { i =>
      assert(out.get((i.toLong, i + 100L)).contains(0L),
        s"exact copy of $i must pair at hamming 0")
    }
  }

  test("HexHamming16: bit-identical to the 16-digit instr/div spelling, incl. degenerate inputs") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}
    val rnd = new scala.util.Random(23)
    def hx(n: Int): String =
      (0 until n).map(_ => "0123456789abcdef"(rnd.nextInt(16))).mkString
    val rows = (0 until 50).map(_ => (hx(16), hx(16))) ++ Seq(
      ("0123456789abcdef", "0123456789abcdef"), // identical -> 0
      ("ffffffffffffffff", "0000000000000000"), // all bits -> 64
      ("", hx(16)),                             // empty side
      ("short", hx(16)),                        // short + non-hex chars
      ("ZZZZZZZZZZZZZZZZ", hx(16)))             // non-hex (uppercase)
    // reference: the REPLACED r19 Catalyst spelling, evaluated by Spark
    // itself — instr/substring digit values, int XOR, the remainder +
    // double-divide-truncate popcount terms, final cast long
    val legacy = (0 until 16).map { j =>
      val va = expr(s"instr('0123456789abcdef', substring(a, ${j + 1}, 1))") - 1
      val vb = expr(s"instr('0123456789abcdef', substring(b, ${j + 1}, 1))") - 1
      val x = va.bitwiseXOR(vb)
      (x % 2) + ((x / 2).cast("int") % 2) + ((x / 4).cast("int") % 2) +
        ((x / 8).cast("int") % 2)
    }.reduce(_ + _).cast("long")
    val native = toCol(TextDedup.HexHamming16(
      toExpr(col("a")), toExpr(col("b"))))
    val out = rows.toDF("a", "b")
      .select(col("a"), col("b"), legacy.as("want"), native.as("got"))
      .collect()
    out.foreach { r =>
      assert(r.getLong(2) == r.getLong(3),
        s"'${r.getString(0)}' vs '${r.getString(1)}': " +
          s"legacy ${r.getLong(2)} != native ${r.getLong(3)}")
    }
    // NULL propagation matches the legacy expression (null in -> null out)
    val nulls = Seq((null.asInstanceOf[String], hx(16))).toDF("a", "b")
      .select(legacy.as("want"), native.as("got")).head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("lmScore: hand-computed bigram log-probs, unseen-context floor, quality ordering") {
    import spark.implicits._
    val train = Seq(1L -> "a b a b", 2L -> "a c").toDF("doc_id", "text")
    // c12: "a b"->2, "b a"->1, "a c"->1 ; c1: a->3, b->1 ; V = |{b,a,c}| = 3
    val score = Seq(10L -> "a b c", 11L -> "z z", 12L -> "a b a b a b")
      .toDF("doc_id", "text")
    val out = TrainingOps.lmScore(train, score, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    def micro(p: Double): Long = math.floor(math.log(p) * 1e6 + 0.5).toLong
    val expected10 = BigDecimal(
        (micro(2.5 / 4.5) + micro(0.5 / 2.5)) / 2.0 / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(10L)._1 == 2L)
    assert(out(10L)._2 == expected10)
    // fully unseen context: p = alpha / (alpha * V) = 1/V = 1/3
    val expected11 = BigDecimal(micro(1.0 / 3.0) / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(11L)._2 == expected11)
    // a doc of frequent train bigrams outscores gibberish
    assert(out(12L)._2 > out(11L)._2)
    assert(out(12L)._3 < out(11L)._3, "higher avg logp = lower perplexity")
  }

  test("lmScore is partitioning-independent (integer micro-unit sums)") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val docs = (1L to 40L).map(i =>
      i -> Seq.fill(50)(s"t${rnd.nextInt(30)}").mkString(" ")).toDF("doc_id", "text")
    val a = TrainingOps.lmScore(docs, docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sorted.toSeq
    val b = TrainingOps.lmScore(docs.repartition(7), docs.repartition(13),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sorted.toSeq
    assert(a == b)
  }

  test("semDedup laws: min id per cluster always kept; tau>1 keeps all; tau=-1 keeps only cluster minima") {
    val rnd = new scala.util.Random(11)
    val e = vecs((1L to 60L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val out = VectorOps.semDedup(e, "vec_id", "embedding", k = 4, tau = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length == 60)
    out.groupBy(_._2).foreach { case (c, members) =>
      val minId = members.map(_._1).min
      assert(members.find(_._1 == minId).get._3,
        s"cluster $c smallest id $minId must be kept")
    }
    val keepAll = VectorOps.semDedup(e, "vec_id", "embedding", k = 4, tau = 1.01)
    assert(keepAll.filter(!col("kept")).count() == 0)
    val onlyMin = VectorOps.semDedup(e, "vec_id", "embedding", k = 4, tau = -1.0)
      .filter(col("kept")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = out.map(t => (t._1, t._2))
    val expectedKept = clusters.groupBy(_._2).map { case (c, m) =>
      (m.map(_._1).min, c)
    }.toSet
    assert(onlyMin.toSet == expectedKept,
      "tau=-1 must keep exactly the smallest id of each cluster")
  }

  // the stratum lemma q184's trimmed pin rests on: the prune's only
  // join key is the cluster id, so pruning a cluster subset equals the
  // full prune restricted to that subset — kept AND suppressor
  test("prune decomposes by cluster: subset prune == full prune restricted") {
    val rnd = new scala.util.Random(23)
    val e = vecs((1L to 80L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val cents = VectorOps.lloydCentroids(e, "vec_id", "embedding", k = 6)
    val clustered = VectorOps.assignToCentroids(e, "vec_id", "embedding",
      cents)
    val full = VectorOps.semDedupPruneEvidence(clustered, "vec_id",
      "embedding", tau = 0.2)
    for (r <- 0 until 3) {
      val sub = VectorOps.semDedupPruneEvidence(
        clustered.filter(col("cluster") % 3 === r), "vec_id",
        "embedding", tau = 0.2)
      val fullR = full.filter(col("cluster") % 3 === r)
      assert(sub.exceptAll(fullR).isEmpty && fullR.exceptAll(sub).isEmpty,
        s"cluster stratum $r prune diverged from the restricted full prune")
    }
  }

  // the sub-stratum lemma q186's trimmed pin rests on: the knn graph
  // has no cross-query term (groupBy q_id), so the graph of a query
  // subset equals the full graph restricted to it
  test("knn graph decomposes by query: subset graph == full graph restricted") {
    val rnd = new scala.util.Random(29)
    val e = vecs((1L to 90L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val cents = VectorOps.lloydCentroids(e, "vec_id", "embedding", k = 5)
    val st = VectorOps.ivfState(e, "vec_id", "embedding", cents)
    val full = VectorOps.knnJoinIndexed(e, st, "vec_id", "embedding",
      k = 3, nprobe = 2)
    val sub = VectorOps.knnJoinIndexed(e.filter(col("vec_id") % 4 === 1),
      st, "vec_id", "embedding", k = 3, nprobe = 2)
    val fullR = full.filter(col("q_id") % 4 === 1)
    assert(sub.exceptAll(fullR).isEmpty && fullR.exceptAll(sub).isEmpty,
      "query-subset knn graph diverged from the restricted full graph")
  }

  // the cluster-stratum lemma q187's trimmed streaming pin rests on is
  // the same per-cluster independence as the prune lemma above, at the
  // streaming layer: feeding only a cluster stratum through the keyed
  // state produces exactly the batch decisions for those clusters
  // (exercised end-to-end by q187's require; the batch-side algebra is
  // the "prune decomposes by cluster" law)

  // ---------------------------------------- product quantization

  // quarter-valued components: v * 1e6 is an exact integer and the
  // micro-round division is exact in binary, so a single-member
  // code's refined centroid IS its seed vector bit for bit — the
  // degenerate law below is then exact, not approximate
  private def quarterVecs(n: Int, dims: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    vecs((1L to n.toLong).map(i =>
      i -> Seq.fill(dims)((rnd.nextInt(9) - 4) * 0.25f)): _*)
  }

  test("pq degenerate law: m=1, ksub=n reproduces the exact cosine ranking") {
    val e = quarterVecs(14, 8, seed = 43)
    // fixture guard: no two vectors may be same-direction (rounded
    // cosine 1.0) or the self-assignment argument breaks
    val pairs = e.select(col("vec_id"), col("embedding"))
      .crossJoin(e.select(col("vec_id").as("id2"),
        col("embedding").as("e2")))
      .filter(col("vec_id") < col("id2"))
      .select(round(VectorOps.cosine(col("embedding"), col("e2")), 6)
        .as("c"))
      .filter(col("c") >= 1.0).count()
    assert(pairs == 0L, "fixture has same-direction vectors; reseed")
    val books = VectorOps.pqCodebooks(e, "vec_id", "embedding",
      m = 1, ksub = 14)
    val enc = VectorOps.pqEncode(e, "vec_id", "embedding", books)
    val adc = VectorOps.pqAdcKnn(e, enc, books, "vec_id", "embedding",
      k = 3)
    // exact graph over the raw vectors, same ordering contract
    val exact = e.select(col("vec_id").as("__q_id"),
        col("embedding").as("__q_vec"))
      .crossJoin(e.select(col("vec_id").as("__c_id"),
        col("embedding").as("__c_vec")))
      .filter(col("__q_id") =!= col("__c_id"))
      .select(col("__q_id"), col("__c_id"),
        round(VectorOps.cosine(col("__q_vec"), col("__c_vec")), 6)
          .as("cs"))
      .groupBy("__q_id")
      .agg(graft.functions.TopKAgg.topKByScore(col("cs"), col("__c_id"), 3)
        .as("__top"))
      .select(col("__q_id").as("q_id"),
        posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("q_id"), (col("__pos") + 1).cast("int").as("rank"),
        col("__e.id").as("vec_id"), col("__e.score").as("adc_cos"))
    assert(adc.exceptAll(exact).isEmpty && exact.exceptAll(adc).isEmpty,
      "degenerate PQ (every vector its own code) diverged from the " +
        "exact cosine ranking")
  }

  test("pq multi-step refinement: the degenerate configuration is a bit-exact fixed point") {
    // m=1, ksub=n: every vector is its own code, so each step's
    // assignment is the identity and each integer-mean is the single
    // member itself (micro-unit exact) — steps > 1 must change NOTHING
    val e = quarterVecs(14, 8, seed = 43)
    val b1 = VectorOps.pqCodebooks(e, "vec_id", "embedding",
      m = 1, ksub = 14, steps = 1)
    val b3 = VectorOps.pqCodebooks(e, "vec_id", "embedding",
      m = 1, ksub = 14, steps = 3)
    assert(b1.exceptAll(b3).isEmpty && b3.exceptAll(b1).isEmpty,
      "degenerate PQ codebook is not a refinement fixed point")
  }

  test("pq multi-step refinement recovers clustered structure from degenerate seeds") {
    // two orthogonal-direction clusters; ids ordered so BOTH seeds
    // land in cluster A — the pathological seeding a single
    // refinement step cannot fully repair
    val rnd = new scala.util.Random(7)
    def noisy(base: Seq[Float]): Seq[Float] =
      base.map(x => x + (rnd.nextInt(3) - 1) * 0.25f)
    val a = Seq.fill(4)(1.0f) ++ Seq.fill(4)(0.0f)
    val b = Seq.fill(4)(0.0f) ++ Seq.fill(4)(1.0f)
    val e = vecs((1L to 40L).map { i =>
      i -> (if (i <= 2 || i % 2 == 1) noisy(a) else noisy(b))
    }: _*)
    def quality(steps: Int): Double = {
      val books = VectorOps.pqCodebooks(e, "vec_id", "embedding",
        m = 2, ksub = 2, steps = steps)
      val enc = VectorOps.pqEncode(e, "vec_id", "embedding", books)
      // mean cosine between each vector and its reconstruction
      val recon = enc
        .select(col("vec_id"), posexplode(col("pq_codes"))
          .as(Seq("subspace", "code")))
        .join(books, Seq("subspace", "code"))
        .groupBy("vec_id")
        .agg(flatten(transform(
          array_sort(collect_list(struct(col("subspace"), col("cvec")))),
          x => x.getField("cvec"))).as("__recon"))
      e.join(recon, "vec_id")
        .agg(avg(VectorOps.cosine(col("embedding"), col("__recon"))))
        .head().getDouble(0)
    }
    val (q1, q4) = (quality(1), quality(4))
    assert(q4 >= q1 - 1e-9,
      s"refinement degraded quantization: steps=1 $q1 -> steps=4 $q4")
    assert(q4 > q1 + 1e-4,
      s"expected a material gain from extra steps on the pathological " +
        s"seeding: steps=1 $q1 -> steps=4 $q4")
  }

  test("pq: codes are m ints in [0, ksub); a dead code is never emitted") {
    // vector 2 = 2 x vector 1 (same direction): both seeds' members
    // collapse onto code 0 by the tie-break, so code 1 dies in the
    // refined book and the encoder can never emit it
    val base = Seq.fill(8)(0.25f)
    val e = vecs(
      1L -> base, 2L -> base.map(_ * 2),
      3L -> Seq.fill(8)(-0.5f), 4L -> (Seq.fill(4)(0.75f) ++ Seq.fill(4)(-0.25f)))
    val books = VectorOps.pqCodebooks(e, "vec_id", "embedding",
      m = 2, ksub = 2)
    val codes = books.select("subspace", "code").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(!codes.contains((0, 1)) && !codes.contains((1, 1)),
      s"expected seed 2's code to die into seed 1's: $codes")
    val enc = VectorOps.pqEncode(e, "vec_id", "embedding", books)
      .select("pq_codes").collect().map(_.getSeq[Int](0))
    assert(enc.forall(c => c.length == 2 && c.forall(_ == 0)), enc.toSeq)
  }

  test("pq ADC score: LUT lookup == independent driver re-derivation") {
    val e = quarterVecs(20, 8, seed = 47)
    val books = VectorOps.pqCodebooks(e, "vec_id", "embedding",
      m = 2, ksub = 3)
    val enc = VectorOps.pqEncode(e, "vec_id", "embedding", books)
    val adc = VectorOps.pqAdcKnn(e, enc, books, "vec_id", "embedding",
      k = 19)  // k >= n-1: every pair's score surfaces
    val book = books.collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2)))
      .toMap
    val codes = enc.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val vecsById = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def dotF(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def half6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = adc.collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    assert(got.nonEmpty)
    got.foreach { case ((qId, xId), score) =>
      val qv = vecsById(qId)
      val terms = codes(xId).zipWithIndex.map { case (c, s) =>
        dotF(qv.slice(s * 4, (s + 1) * 4), book((s, c)))
      }
      val n2 = codes(xId).zipWithIndex.map { case (c, s) =>
        dotF(book((s, c)), book((s, c)))
      }
      val expect = half6(
        terms.foldLeft(0.0)(_ + _) /
          (math.sqrt(dotF(qv, qv)) * math.sqrt(n2.foldLeft(0.0)(_ + _))))
      assert(score == expect,
        s"ADC($qId, $xId): lut=$score re-derived=$expect")
    }
  }

  test("pq IVFADC: nprobe = nlist equals the full ADC scan exactly") {
    val e = quarterVecs(30, 8, seed = 53)
    val books = VectorOps.pqCodebooks(e, "vec_id", "embedding",
      m = 2, ksub = 4)
    val enc = VectorOps.pqEncode(e, "vec_id", "embedding", books)
    val cents = VectorOps.lloydCentroids(e, "vec_id", "embedding", k = 3)
    val st = VectorOps.ivfState(e, "vec_id", "embedding", cents)
    val q = e.filter(col("vec_id") % 3 === 1)
    val full = VectorOps.pqAdcKnn(q, enc, books, "vec_id", "embedding",
      k = 4)
    val ivf = VectorOps.pqAdcKnnIndexed(q, st, enc, books, "vec_id",
      "embedding", k = 4, nprobe = 3)
    assert(ivf.exceptAll(full).isEmpty && full.exceptAll(ivf).isEmpty,
      "IVFADC at nprobe = nlist diverged from the full ADC scan")
  }

  test("pq: indivisible dims refuse loudly") {
    val e = quarterVecs(6, 8, seed = 59)
    val err = intercept[IllegalArgumentException] {
      VectorOps.pqCodebooks(e, "vec_id", "embedding", m = 3, ksub = 2)
    }
    assert(err.getMessage.contains("not divisible"), err.getMessage)
  }

  test("rpProject: components equal the driver-side sign-fold re-derivation; NULL vectors excluded") {
    import spark.implicits._
    val e = quarterVecs(10, 8, seed = 67)
    val got = VectorOps.rpProject(e, "vec_id", "embedding", outDims = 5)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // independent re-derivation: same md5 sign matrix, same in-order
    // fold, on the collected raw vectors
    val raw = e.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val signs = VectorOps.rpSigns(5, 8)
    raw.foreach { case (id, v) =>
      val expect = (0 until 5).map { i =>
        var acc = 0.0
        var j = 0
        while (j < 8) { acc += v(j).toDouble * signs(i)(j); j += 1 }
        acc
      }
      assert(got(id) == expect, s"vec $id: ${got(id)} != $expect")
    }
    // a NULL vector is excluded, not projected to garbage
    val withNull = e.unionByName(
      Seq((99L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding"))
    assert(!VectorOps.rpProject(withNull, "vec_id", "embedding", 5)
      .collect().exists(_.getLong(0) == 99L))
    // dims read survives a NULL vector in the FIRST row (size(NULL)
    // is NULL — a bare head().getInt would NPE; r13 self-review)
    val nullFirst = Seq((0L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding").unionByName(e)
    assert(VectorOps.rpProject(nullFirst, "vec_id", "embedding", 5)
      .count() == 10L)
  }

  test("srpBands: copies share every band; buckets invariant under positive scaling, flipped by negation") {
    val e = quarterVecs(12, 8, seed = 71)
    val base = VectorOps.srpBands(e, "vec_id", "embedding",
        bands = 4, bandBits = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // positive scaling cannot change a sign bit (SRP hashes direction)
    val scaled = VectorOps.srpBands(
        e.select(col("vec_id"), transform(col("embedding"),
          x => x * lit(2.5f)).as("embedding")),
        "vec_id", "embedding", bands = 4, bandBits = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(scaled == base, "SRP buckets changed under positive scaling")
    // negation flips every strictly-nonzero sign: at least one bucket
    // must differ for any vector with a nonzero projection
    val negated = VectorOps.srpBands(
        e.select(col("vec_id"), transform(col("embedding"),
          x => -x).as("embedding")),
        "vec_id", "embedding", bands = 4, bandBits = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(negated != base, "negation left every SRP bucket unchanged")
    intercept[IllegalArgumentException] {
      VectorOps.srpBands(e, "vec_id", "embedding", bands = 0)
    }
  }

  test("srpCandidates: planted copies found in all bands at cosine 1.0; zero vectors never pass") {
    import spark.implicits._
    val e = quarterVecs(30, 8, seed = 73)
    // plant exact copies of vecs 3, 7, 11 plus one all-zero vector
    val copies = e.filter(col("vec_id").isin(3L, 7L, 11L))
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    val zero = Seq((2000L, Seq.fill(8)(0.0f))).toDF("vec_id", "embedding")
    val corpus = e.unionByName(copies).unionByName(zero)
    val got = VectorOps.srpCandidates(corpus, "vec_id", "embedding",
        tau = 0.999, bands = 4, bandBits = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pairs = got.map(t => (t._1, t._2)).toSet
    for (id <- Seq(3L, 7L, 11L))
      assert(pairs.contains((id, id + 1000L)),
        s"planted copy pair ($id, ${id + 1000L}) not found: $pairs")
    assert(got.filter(t => t._2 - t._1 == 1000L).forall(_._3 == 1.0))
    // the zero vector's cosine is NULL (CosineSim contract) — it can
    // never survive the tau refine, even though its all-zero-bit
    // buckets collide with other non-positive projections
    assert(!got.exists(t => t._1 == 2000L || t._2 == 2000L))
    // ordering contract
    assert(got.forall(t => t._1 < t._2))
  }

  test("srpCandidates maxBucket: degenerate pileups (zero vectors, " +
      "exact-duplicate mass) go quadratic uncapped; the cap drops them " +
      "with visible accounting and keeps discriminative pairs") {
    // the two pileups a dup-heavy crawl feeds SRP: 500 zero vectors
    // (every projection 0 -> bucket 0 in EVERY band) and 500 exact
    // copies of one embedding (P[band collide] = 1), plus one planted
    // near-pair OUTSIDE the pileups that the cap must preserve
    val base = quarterVecs(40, 8, seed = 77)
    val dupVec = base.filter(col("vec_id") === 3L)
      .select(col("embedding")).head().getSeq[Float](0).toList
    val dups = spark.range(500)
      .select((col("id") + 20000L).as("vec_id"),
        typedLit(dupVec).as("embedding"))
    val zeros = spark.range(500)
      .select((col("id") + 10000L).as("vec_id"),
        typedLit(List.fill(8)(0.0f)).as("embedding"))
    val near = base.filter(col("vec_id") === 5L)
      .select(lit(999L).as("vec_id"), col("embedding"))
    val corpus = base.unionByName(zeros).unionByName(dups)
      .unionByName(near)

    // degenerate geometry pinned: the zero pileup is bucket 0 in
    // every band (strictly-positive bit rule), the dup mass shares
    // one >= 500 group per band
    val stats = VectorOps.srpBucketStats(corpus, "vec_id", "embedding",
        bands = 4, bandBits = 16)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    for (b <- 0 until 4) {
      assert(stats.exists(t => t._1 == b && t._2 == 0L && t._3 >= 500L),
        s"band $b: zero-vector bucket-0 pileup missing")
      assert(stats.count(t => t._1 == b && t._3 >= 500L) >= 2,
        s"band $b: expected both pileup groups at >= 500")
    }

    // blowup without the cap: the copy mass alone emits ALL
    // 500*499/2 quadratic pairs (each at cosine 1.0; the zero
    // pileup's equally-quadratic join work dies only at the refine,
    // where its cosine is NULL)
    val uncapped = VectorOps.srpCandidates(corpus, "vec_id",
      "embedding", tau = 0.999, bands = 4, bandBits = 16)
    assert(uncapped.filter(col("id_a") >= 20000L &&
      col("id_b") >= 20000L).count() === 500L * 499L / 2L)

    // capped at 100: every pileup group drops before the join; the
    // accounting query names exactly the dropped groups
    val dropped = stats.filter(_._3 > 100L)
    assert(dropped.length == 8,
      s"expected 4 bands x 2 pileup groups over the cap, got " +
        s"${dropped.toSeq}")
    val capped = VectorOps.srpCandidates(corpus, "vec_id", "embedding",
        tau = 0.999, bands = 4, bandBits = 16, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!capped.exists(t => t._1 >= 10000L || t._2 >= 10000L),
      "capped run still emitted pileup pairs")
    // the discriminative planted pair survives: its buckets hold only
    // the pair itself (its bands are nowhere near the pileups)
    assert(capped.contains((5L, 999L)),
      s"cap dropped the non-pileup near pair: ${capped.toSeq}")
    intercept[IllegalArgumentException] {
      VectorOps.srpCandidates(corpus, "vec_id", "embedding",
        tau = 0.9, bands = 4, bandBits = 16, maxBucket = 0)
    }
  }

  test("srpMultiProbeCandidates: probe 0 == base bands; each probe " +
      "flips exactly one bit; candidates grow monotonically and " +
      "strictly beat the base on a noised corpus") {
    val e = quarterVecs(60, 8, seed = 79)
    // noised copies: cosine high but signatures allowed to drift a bit
    val noised = e.select((col("vec_id") + 5000L).as("vec_id"),
      zip_with(col("embedding"),
        concat(slice(col("embedding"), 2, 7), slice(col("embedding"), 1, 1)),
        (a, b) => a + lit(0.25f) * b).as("embedding"))
    val corpus = e.unionByName(noised)
    // probe 0 of the probe table IS the base banding
    val baseBands = VectorOps.srpBands(corpus, "vec_id", "embedding",
        bands = 4, bandBits = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val probeTable = VectorOps.srpProbeBands(corpus, "vec_id", "embedding",
        bands = 4, bandBits = 16, probes = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3)))
    val p0 = probeTable.filter(_._3 == 0)
      .map(t => (t._1, t._2) -> t._4).toMap
    assert(p0 == baseBands, "probe 0 diverged from the base banding")
    // every probe r >= 1 differs from its base bucket in EXACTLY one
    // bit, and the flipped bits are distinct across probes of a band
    probeTable.filter(_._3 > 0).groupBy(t => (t._1, t._2)).foreach {
      case ((id, band), rows) =>
        val flips = rows.map(t =>
          java.lang.Long.bitCount(t._4 ^ baseBands((id, band))))
        assert(flips.forall(_ == 1),
          s"vec $id band $band: non-single-bit probes ${flips.toSeq}")
        val bits = rows.map(t => t._4 ^ baseBands((id, band))).toSet
        assert(bits.size == rows.length,
          s"vec $id band $band: duplicate probe flips")
    }
    // monotone candidate growth; probes=0 == srpCandidates exactly
    def pairsAt(p: Int): Set[(Long, Long)] =
      VectorOps.srpMultiProbeCandidates(corpus, "vec_id", "embedding",
          tau = 0.7, bands = 4, bandBits = 16, probes = p)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base0 = VectorOps.srpCandidates(corpus, "vec_id", "embedding",
        tau = 0.7, bands = 4, bandBits = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (s0, s1, s3) = (pairsAt(0), pairsAt(1), pairsAt(3))
    assert(s0 == base0, "probes=0 diverged from srpCandidates")
    assert(s0.subsetOf(s1) && s1.subsetOf(s3),
      "candidates not monotone in probes")
    assert(s3.size > s0.size,
      s"probing found nothing new on the noised corpus (${s0.size})")
    intercept[IllegalArgumentException] {
      VectorOps.srpProbeBands(e, "vec_id", "embedding", probes = 17)
    }
  }

  test("pq loud contracts: empty frames and corpus < ksub refuse with context (r12 ADVICE)") {
    val e = quarterVecs(6, 8, seed = 61)
    val empty = e.filter(col("vec_id") < 0)
    // every dims read guards the empty frame — a bare head() would
    // throw a contextless NoSuchElementException
    val e1 = intercept[IllegalArgumentException] {
      VectorOps.pqCodebooks(empty, "vec_id", "embedding", m = 2, ksub = 2)
    }
    assert(e1.getMessage.contains("EMPTY"), e1.getMessage)
    val books = VectorOps.pqCodebooks(e, "vec_id", "embedding",
      m = 2, ksub = 2)
    val e2 = intercept[IllegalArgumentException] {
      VectorOps.pqEncode(empty, "vec_id", "embedding", books)
    }
    assert(e2.getMessage.contains("EMPTY"), e2.getMessage)
    val enc = VectorOps.pqEncode(e, "vec_id", "embedding", books)
    val e3 = intercept[IllegalArgumentException] {
      VectorOps.pqAdcKnn(empty, enc, books, "vec_id", "embedding", k = 2)
    }
    assert(e3.getMessage.contains("EMPTY"), e3.getMessage)
    // a corpus smaller than ksub would SILENTLY train fewer codes than
    // requested — refused loudly instead
    val e4 = intercept[IllegalArgumentException] {
      VectorOps.pqCodebooks(e, "vec_id", "embedding", m = 2, ksub = 7)
    }
    assert(e4.getMessage.contains("ksub=7"), e4.getMessage)
  }
}
