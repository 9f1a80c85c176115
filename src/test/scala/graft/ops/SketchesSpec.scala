package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

class SketchesSpec extends SparkSuite {

  private def est(rows: Seq[(String, Long)]): Map[String, (Double, Long, Long)] = {
    import spark.implicits._
    Sketches.hllDistinct(rows.toDF("g", "v").repartition(4), Seq("g"), "v")
      .collect()
      .map(r => r.getString(0) ->
        ((r.getDouble(3), r.getLong(1), r.getLong(2))))
      .toMap
  }

  test("hllDistinct: accuracy at small (linear-counting) and large cardinalities") {
    // 3 distinct values: linear counting gives 256*ln(256/253) = 3.018
    val small = est((1L to 3L).map(i => ("s", i)))("s")._1
    assert(small > 2.8 && small < 3.3, s"small-range estimate $small")
    // 10k distinct: HLL-256 sigma is 6.5%; 3 sigma = 19.5%
    val big = est((1L to 10000L).map(i => ("b", i)))("b")._1
    assert(math.abs(big - 10000) / 10000.0 < 0.195, s"large estimate $big")
  }

  test("hllDistinct: a sketch sees VALUES, not rows — duplication-invariant, partitioning-invariant") {
    import spark.implicits._
    val base = (1L to 5000L).map(i => ("g", i % 997))
    val once = est(base)
    // every row duplicated 3x: identical registers, identical estimate
    val thrice = est(base ++ base ++ base)
    assert(once == thrice)
    // different partitioning: max-combining registers is exact, so the
    // result is bit-identical regardless of layout
    val repart = Sketches.hllDistinct(
        base.toDF("g", "v").repartition(13, col("v")), Seq("g"), "v")
      .collect().map(r => (r.getDouble(3), r.getLong(1), r.getLong(2))).head
    assert(repart == once("g"))
  }

  test("countMin: overestimate law, exact on heavy hitters, unseen keys 0, shard-mergeable") {
    import spark.implicits._
    val occurrences = (
      Seq.fill(500)("alpha") ++ Seq.fill(100)("beta") ++
        (1 to 800).map(i => s"tail$i")).map(Tuple1(_))
      .toDF("tok").repartition(8)
    val sk = Sketches.countMinBuild(occurrences, "tok").persist()
    val probes = Seq("alpha", "beta", "tail7", "never-seen").toDF("tok")
    val est = Sketches.countMinEstimate(sk, probes, "tok")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // count-min can only overestimate
    assert(est("alpha") >= 500 && est("beta") >= 100 && est("tail7") >= 1)
    // with 1400 items in 4x1024 cells, heavy hitters are near-exact
    // (expected collision mass per cell ~1.4)
    assert(est("alpha") <= 520 && est("beta") <= 120)
    assert(est("never-seen") <= 20) // collision mass only
    // MERGEABILITY (the shard/day rollup law): cell-wise SUM of two
    // shard sketches equals the sketch of the union, exactly
    val (a, b) = (occurrences.filter(length(col("tok")) <= 4),
      occurrences.filter(length(col("tok")) > 4))
    val merged = Sketches.countMinMerge(Sketches.countMinBuild(a, "tok")
      .unionByName(Sketches.countMinBuild(b, "tok")))
    assert(merged.exceptAll(sk).isEmpty && sk.exceptAll(merged).isEmpty)
    sk.unpersist()
  }

  /** Root-chain message search: the lazy in-plan gates raise at
    * EXECUTION time, so the raise_error text may sit one or more
    * cause levels under the SparkException an action surfaces. */
  private def chainMessage(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")

  test("countMin: probing with mismatched (depth, width) fails loudly, not silently under") {
    import spark.implicits._
    val sk = Sketches.countMinBuild(
      Seq.fill(50)("alpha").map(Tuple1(_)).toDF("tok"), "tok",
      depth = 4, width = 1024)
    val probes = Seq("alpha").toDF("tok")
    // the structural check is a LAZY plan gate (r12 ADVICE): building
    // the probe frame runs NO job and throws nothing...
    val lazyFrame =
      Sketches.countMinEstimate(sk, probes, "tok", depth = 4, width = 512)
    // ...the mismatch fails the ACTION, loudly
    val e = intercept[Exception] { lazyFrame.collect() }
    assert(chainMessage(e).contains("structural check failed"),
      chainMessage(e))
    // parameter-stripped external sketches stay accepted (caller-owned
    // contract): same probe, columns dropped, no require possible
    val stripped = Sketches.countMinEstimate(
        sk.select("r", "bucket", "cnt"), probes, "tok")
      .collect().map(r => r.getLong(1))
    assert(stripped.head >= 50L)
  }

  test("hll rollup law: MAX-merged shard registers == the single-pass sketch, estimate and digest") {
    import spark.implicits._
    val rows = (1L to 4000L).map(i => ("g", i % 13, i % 1500))
      .toDF("g", "shard", "v")
    val merged = Sketches.hllFromRegisters(
      Sketches.hllRegisters(rows, Seq("shard", "g"), "v")
        .groupBy("g", "hll_bucket").agg(max(col("hll_m")).as("hll_m")),
      Seq("g"))
    val single = Sketches.hllDistinct(rows.select("g", "v"), Seq("g"), "v")
    assert(merged.exceptAll(single).isEmpty && single.exceptAll(merged).isEmpty)
  }

  test("hllDistinct: null values ignored; multiple groups independent") {
    import spark.implicits._
    val df = Seq[(String, java.lang.Long)](
      ("a", 1L), ("a", 2L), ("a", null), ("b", 7L)).toDF("g", "v")
    val got = Sketches.hllDistinct(df, Seq("g"), "v").collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(got("a") > 1.8 && got("a") < 2.2)
    assert(got("b") > 0.8 && got("b") < 1.2)
  }

  test("countMinEstimate rejects an unmerged sharded sketch loudly") {
    import spark.implicits._
    // 4 shards x 25 occurrences: probing the UNMERGED sketch would
    // min() across shard rows and report <= 25 for a key with true
    // count 100 — a silent overestimate-law violation, so the extra
    // column must fail loudly instead
    val rows = (1L to 100L).map(i => (i % 4, "k")).toDF("day", "k")
    val sharded = Sketches.countMinBuild(rows, "k",
      shardCols = Seq("day"))
    val e = intercept[IllegalArgumentException] {
      Sketches.countMinEstimate(sharded, Seq("k").toDF("k"), "k")
        .collect()
    }
    assert(e.getMessage.contains("countMinMerge"), e.getMessage)
    // a canonical-columned union whose merge was forgotten is the
    // same trap with no extra columns — the duplicate-cell fold
    // catches it inside the same lazy gate, at action time
    val a = Sketches.countMinBuild(rows.filter(col("day") < 2)
      .select("k"), "k")
    val b = Sketches.countMinBuild(rows.filter(col("day") >= 2)
      .select("k"), "k")
    val e2 = intercept[Exception] {
      Sketches.countMinEstimate(a.unionByName(b), Seq("k").toDF("k"), "k")
        .collect()
    }
    assert(chainMessage(e2).contains("countMinMerge"), chainMessage(e2))
    // the merged form estimates correctly
    val merged = Sketches.countMinMerge(sharded)
    val est = Sketches.countMinEstimate(merged, Seq("k").toDF("k"), "k")
      .head().getLong(1)
    assert(est >= 100L, s"merged estimate $est under the true count")
  }

  test("bloom: no false negatives ever; false positives exist at tiny m; a miss is definitive") {
    import spark.implicits._
    val present = (1 to 200).map(i => s"key$i").toDF("k")
    val sk = Sketches.bloomBuild(present, "k", mBits = 256, kHashes = 3)
    // every inserted key probes true — the law, exhaustively
    val neg = Sketches.bloomMightContain(sk, present, "k",
      mBits = 256, kHashes = 3).filter(!col("bloom_hit")).count()
    assert(neg == 0L, s"$neg false negatives")
    // 200 keys into 256 bits: the filter is saturated, so absent keys
    // MUST mostly collide — false positives are real, and any absent
    // key that does miss is definitively absent
    val absent = (1 to 200).map(i => s"other$i").toDF("k")
    val hits = Sketches.bloomMightContain(sk, absent, "k",
        mBits = 256, kHashes = 3)
      .filter(col("bloom_hit")).count()
    assert(hits > 0L, "expected false positives at saturation")
  }

  test("bloom: shard sketches OR-merge to the single-pass sketch exactly") {
    import spark.implicits._
    val rows = (1L to 500L).map(i => (i % 7, s"tok${i % 90}"))
      .toDF("shard", "k")
    val merged = Sketches.bloomBuild(rows, "k", mBits = 1024,
        kHashes = 4, shardCols = Seq("shard"))
      .select("bit", "m_bits", "k_hashes").distinct()
    val single = Sketches.bloomBuild(rows, "k", mBits = 1024, kHashes = 4)
    assert(merged.exceptAll(single).isEmpty &&
      single.exceptAll(merged).isEmpty)
  }

  test("bloom: probing with mismatched (mBits, kHashes) fails loudly") {
    import spark.implicits._
    val sk = Sketches.bloomBuild(Seq("a", "b").toDF("k"), "k",
      mBits = 1024, kHashes = 4)
    val e = intercept[Exception] {
      Sketches.bloomMightContain(sk, Seq("a").toDF("k"), "k",
        mBits = 512, kHashes = 4).collect()
    }
    assert(chainMessage(e).contains("parameter mismatch"), chainMessage(e))
    // parameter-stripped external sketches stay accepted (caller-owned)
    val hit = Sketches.bloomMightContain(sk.select("bit"),
        Seq("a").toDF("k"), "k", mBits = 1024, kHashes = 4)
      .head().getBoolean(1)
    assert(hit)
  }

  test("hdr: bins are monotone and contiguous across the 2^k seams; exact region is exact") {
    import spark.implicits._
    val p = 3
    // every boundary-adjacent value around each power of two up to
    // 2^40, plus the exact region [0, 2^(p+1))
    val vals = ((0L until (2L << p)) ++
      (4 to 40).flatMap(k => Seq((1L << k) - 1, 1L << k, (1L << k) + 1)))
      .distinct.sorted
    val bins = Sketches.hdrBuild(vals.toDF("v"), "v", precision = p)
      .select("bin").as[Long].collect().sorted
    val byVal = vals.map { v =>
      Sketches.hdrBuild(Seq(v).toDF("v"), "v", precision = p)
        .head().getLong(0)
    }
    // monotone non-decreasing in v
    assert(byVal.zip(byVal.tail).forall { case (a, b) => a <= b },
      "bin function not monotone")
    // exact region: bin == value
    assert((0L until (2L << p)).forall(v => byVal(v.toInt) == v))
    // every bin's quantile decode brackets its member: q=1.0 over a
    // single-value sketch estimates within 2^-(p+1) relative
    for (v <- Seq(100L, 12345L, (1L << 30) + 7, (1L << 40) - 1)) {
      val e = Sketches.hdrQuantiles(
        Sketches.hdrBuild(Seq(v).toDF("v"), "v", precision = p),
        Seq(1.0), precision = p).head().getLong(2)
      assert(math.abs(e - v).toDouble / v <= 1.0 / (1L << (p + 1)),
        s"v=$v est=$e out of bound")
    }
    assert(bins.nonEmpty)
  }

  test("hdr: quantile estimates within 2^-(p+1) relative error of exact ranks") {
    import spark.implicits._
    val p = 7
    // deterministic skewed values spanning 5 decades
    val vals = (1 to 20000).map { i =>
      val u = ((i * 2654435761L) & 0xffffffffL).toDouble / 4294967296.0
      (math.exp(u * 11.5) * 10).toLong + 1
    }
    val sk = Sketches.hdrBuild(vals.toDF("v"), "v", precision = p)
    val qs = Seq(0.5, 0.9, 0.99, 0.999)
    val sorted = vals.sorted
    val got = Sketches.hdrQuantiles(sk, qs, precision = p)
      .collect().map(r => r.getDouble(0) -> r.getLong(2)).toMap
    for (q <- qs) {
      val exact = sorted(math.max(math.ceil(q * vals.size).toLong, 1L).toInt - 1)
      val rel = math.abs(got(q) - exact).toDouble / exact
      assert(rel <= 1.0 / (1L << (p + 1)),
        s"q=$q exact=$exact est=${got(q)} rel=$rel")
    }
  }

  test("hdr: shard sketches SUM-merge to the single-pass sketch cell for cell") {
    import spark.implicits._
    val rows = (1L to 5000L).map(i => (i % 7, i * i % 100000))
      .toDF("shard", "v")
    val merged = Sketches.hdrBuild(rows, "v", precision = 6,
        shardCols = Seq("shard"))
      .groupBy("bin", "hdr_p").agg(sum("cnt").as("cnt"))
      .select("bin", "cnt", "hdr_p")
    val single = Sketches.hdrBuild(rows, "v", precision = 6)
    assert(merged.exceptAll(single).isEmpty &&
      single.exceptAll(merged).isEmpty)
  }

  test("hdr: per-group quantiles respect the error law group by group") {
    import spark.implicits._
    val p = 6
    val rows = (1 to 6000).map { i =>
      val g = s"g${i % 3}"
      // distinct scale per group so cross-group mixing would be loud
      (g, ((i * 2654435761L) & 0xffffL) * (1L << (2 * (i % 3))) + 1)
    }
    val sk = Sketches.hdrBuild(rows.toDF("g", "v"), "v", precision = p,
      shardCols = Seq("g"))
    val got = Sketches.hdrQuantiles(sk, Seq(0.5, 0.99), precision = p,
        groupCols = Seq("g"))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(3))
      .toMap
    for (g <- Seq("g0", "g1", "g2"); q <- Seq(0.5, 0.99)) {
      val vs = rows.filter(_._1 == g).map(_._2).sorted
      val exact = vs(math.max(math.ceil(q * vs.size).toLong, 1L).toInt - 1)
      val rel = math.abs(got((g, q)) - exact).toDouble / exact
      assert(rel <= 1.0 / (1L << (p + 1)),
        s"group $g q=$q exact=$exact est=${got((g, q))} rel=$rel")
    }
  }

  test("hdr: mismatched precision and negative values fail loudly") {
    import spark.implicits._
    val sk = Sketches.hdrBuild(Seq(10L, 20L).toDF("v"), "v", precision = 7)
    val e = intercept[Exception] {
      Sketches.hdrQuantiles(sk, Seq(0.5), precision = 6).collect()
    }
    assert(chainMessage(e).contains("precision mismatch"), chainMessage(e))
    val neg = intercept[Exception] {
      Sketches.hdrBuild(Seq(-5L).toDF("v"), "v", precision = 7).collect()
    }
    assert(neg.getMessage != null && neg.getMessage.contains("negative"),
      s"expected loud negative-value failure, got: ${neg.getMessage}")
  }

  test("kmv: exact under k; unbiased estimator within 3-sigma above k; " +
      "duplication/partitioning-invariant") {
    import spark.implicits._
    def sketch(rows: Seq[(String, Long)], k: Int) =
      Sketches.kmvSketch(rows.toDF("g", "v").repartition(4), Seq("g"), "v", k)
    def nOf(rows: Seq[(String, Long)], k: Int): Map[String, Double] =
      Sketches.kmvDistinct(sketch(rows, k), Seq("g")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // under k: the sketch IS the distinct set — exact, duplication-blind
    val small = (1L to 40L).map(i => ("s", i % 17)) // 17 distinct, dup'd
    assert(nOf(small, 64)("s") == 17.0)
    // above k: KMV sigma ~ 1/sqrt(k-1); k=128 -> 8.9%, 3 sigma = 26.6%
    val big = (1L to 9000L).map(i => ("b", i))
    val e = nOf(big, 128)("b")
    assert(math.abs(e - 9000) / 9000.0 < 0.266, s"kmv estimate $e")
    // partitioning-invariant: same rows, different layout, same sketch
    val a = sketch(big, 128).collect().map(r =>
      (r.getString(0), r.getLong(1))).toSet
    val b = Sketches.kmvSketch(big.toDF("g", "v").repartition(13),
      Seq("g"), "v", 128).collect().map(r =>
      (r.getString(0), r.getLong(1))).toSet
    assert(a == b, "kmv sketch depends on partitioning")
  }

  test("kmv: shard sketches merge to the single-pass sketch exactly; " +
      "mixed k refuses loudly") {
    import spark.implicits._
    val rows = (1L to 6000L).map(i => (s"g${i % 3}", i))
    val all = Sketches.kmvSketch(rows.toDF("g", "v"), Seq("g"), "v", 64)
    val shards = (0 until 4).map(p =>
      Sketches.kmvSketch(rows.filter(_._2 % 4 == p).toDF("g", "v"),
        Seq("g"), "v", 64))
    val merged = Sketches.kmvMerge(
      shards.reduce((x, y) => x.unionByName(y)), Seq("g"))
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rowsOf(merged) == rowsOf(all),
      "merged shard sketches != single-pass sketch")
    val e = intercept[IllegalArgumentException] {
      Sketches.kmvMerge(all.unionByName(
        Sketches.kmvSketch(rows.toDF("g", "v"), Seq("g"), "v", 32)),
        Seq("g"))
    }
    assert(e.getMessage.contains("ONE k"), e.getMessage)
  }

  test("kmv overlap: exact under k; theta estimates track true " +
      "intersection and jaccard above k; mismatched k refuses") {
    import spark.implicits._
    // planted overlap: A = [1, 3000], B = [2001, 6000] -> inter 1000,
    // union 6000, jaccard 1/6
    val aRows = (1L to 3000L).map(i => ("g", i)).toDF("g", "v")
    val bRows = (2001L to 6000L).map(i => ("g", i)).toDF("g", "v")
    val ov = Sketches.kmvOverlap(
        Sketches.kmvSketch(aRows, Seq("g"), "v", 256),
        Sketches.kmvSketch(bRows, Seq("g"), "v", 256),
        Seq("g"))
      .collect().head
    val (na, nb, ni, j) = (ov.getDouble(1), ov.getDouble(2),
      ov.getDouble(3), ov.getDouble(4))
    assert(math.abs(na - 3000) / 3000.0 < 0.27, s"n_a $na")
    assert(math.abs(nb - 4000) / 4000.0 < 0.27, s"n_b $nb")
    // intersection error scales with union/theta-sample size: allow 3x
    // the single-side band
    assert(math.abs(ni - 1000) / 1000.0 < 0.8, s"n_inter $ni")
    assert(j > 0.05 && j < 0.4, s"jaccard_kmv $j")
    // exact regime: both sides under k
    val ovx = Sketches.kmvOverlap(
        Sketches.kmvSketch(aRows.filter(col("v") <= 30), Seq("g"), "v", 64),
        Sketches.kmvSketch(bRows.filter(col("v") <= 2040), Seq("g"), "v", 64),
        Seq("g"))
      .collect().head
    assert(ovx.getDouble(1) == 30.0 && ovx.getDouble(2) == 40.0 &&
      ovx.getDouble(3) == 0.0 && ovx.getDouble(4) == 0.0,
      s"exact-regime overlap wrong: $ovx")
    // k mismatch surfaces at EXECUTION (the lazy in-plan gate — r16
    // What's-wrong #2: construction is job-free), loudly
    val e = intercept[Throwable] {
      Sketches.kmvOverlap(
        Sketches.kmvSketch(aRows, Seq("g"), "v", 64),
        Sketches.kmvSketch(bRows, Seq("g"), "v", 128), Seq("g")).collect()
    }
    assert(causeChain(e).contains("k contract failed"), causeChain(e))
    // invalid k refuses at build time
    intercept[IllegalArgumentException] {
      Sketches.kmvSketch(aRows, Seq("g"), "v", 1)
    }
  }

  test("kmv: k-bounded build equals the distinct-then-select spelling " +
      "row for row, on duplicate-heavy input, with ONE exchange") {
    import spark.implicits._
    // heavy duplication (9000 rows, 2500 distinct per 3 groups mixed)
    val rows = (1L to 9000L).map(i => (s"g${i % 3}", i % 2500))
    val df = rows.toDF("g", "v").repartition(7)
    val k = 128
    val now = Sketches.kmvSketch(df, Seq("g"), "v", k)
    // the pre-fix spelling: full distinct first, then the k smallest
    val h = conv(substring(md5(col("v").cast("string")), 1, 13), 16, 10)
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("__h")
    val old = df.filter(col("v").isNotNull)
      .select(col("g"), h.as("__h")).distinct()
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .select(col("g"), col("__h").as("kmv_h"), lit(k).as("kmv_k"))
    assert(now.collect().map(_.toSeq).toSet ===
      old.collect().map(_.toSeq).toSet,
      "k-bounded build diverged from the distinct+select spelling")
    // the 100 TB claim in-plan: ONE exchange (the register aggregate's
    // partial->final shuffle), no upstream distinct exchange — checked
    // on an UN-executed, un-repartitioned build (one plan section, no
    // AQE final/initial duplication, no test-fixture repartition)
    val planOnly = Sketches.kmvSketch(rows.toDF("g", "v"), Seq("g"), "v", k)
    val exchanges = planOnly.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected 1 exchange in the KMV build, " +
      s"got $exchanges:\n${planOnly.queryExecution.executedPlan}")
  }

  test("kmv difference: exact under k; theta estimates track the true " +
      "set differences above k; k contract shared with overlap") {
    import spark.implicits._
    // A = [1, 3000], B = [2001, 6000]: A\B = 2000, B\A = 3000, inter 1000
    val aRows = (1L to 3000L).map(i => ("g", i)).toDF("g", "v")
    val bRows = (2001L to 6000L).map(i => ("g", i)).toDF("g", "v")
    val d = Sketches.kmvDifference(
        Sketches.kmvSketch(aRows, Seq("g"), "v", 256),
        Sketches.kmvSketch(bRows, Seq("g"), "v", 256),
        Seq("g"))
      .collect().head
    val (ao, bo, ni) = (d.getDouble(1), d.getDouble(2), d.getDouble(3))
    assert(math.abs(ao - 2000) / 2000.0 < 0.5, s"n_a_only $ao")
    assert(math.abs(bo - 3000) / 3000.0 < 0.5, s"n_b_only $bo")
    assert(math.abs(ni - 1000) / 1000.0 < 0.8, s"n_inter $ni")
    // the three estimates decompose the sides: a_only + inter ~ |A|
    assert(math.abs((ao + ni) - 3000) / 3000.0 < 0.5, s"a decomp ${ao + ni}")
    // exact regime: both sides under k -> theta = 2^52, counts exact
    val dx = Sketches.kmvDifference(
        Sketches.kmvSketch(aRows.filter(col("v") <= 30), Seq("g"), "v", 64),
        Sketches.kmvSketch(bRows.filter(col("v") <= 2040), Seq("g"), "v", 64),
        Seq("g"))
      .collect().head
    assert(dx.getDouble(1) == 30.0 && dx.getDouble(2) == 40.0 &&
      dx.getDouble(3) == 0.0, s"exact-regime difference wrong: $dx")
    // mixed-k WITHIN one side refuses loudly (the r15 ADVICE gap: a
    // per-group max-k check passed this silently) — at EXECUTION,
    // through the lazy in-plan gate (r16 What's-wrong #2)
    val mixed = Sketches.kmvSketch(aRows, Seq("g"), "v", 64).unionByName(
      Sketches.kmvSketch(aRows, Seq("g"), "v", 128))
    val e = intercept[Throwable] {
      Sketches.kmvDifference(mixed,
        Sketches.kmvSketch(bRows, Seq("g"), "v", 64), Seq("g")).collect()
    }
    assert(causeChain(e).contains("k contract failed"), causeChain(e))
    val e2 = intercept[Throwable] {
      Sketches.kmvOverlap(
        Sketches.kmvSketch(aRows, Seq("g"), "v", 64).unionByName(
          Sketches.kmvSketch(aRows, Seq("g"), "v", 128)),
        Sketches.kmvSketch(bRows, Seq("g"), "v", 64), Seq("g")).collect()
    }
    assert(causeChain(e2).contains("k contract failed"), causeChain(e2))
    // a violation COINCIDING with an EMPTY other side keeps its
    // diagnostic (r17 ADVICE low: concat is null-in-null-out, so the
    // empty side's NULL __kb0/__kb1 bounds used to null out the whole
    // raise_error message — loud, but stripped of the k values it
    // names). Pinned at the message-expression level: end-to-end, an
    // empty side short-circuits the whole join to an empty result
    // (sound) before the lazy gate broadcast ever materializes, so the
    // shape is not deterministically reachable from the public API.
    val m3 = Seq((64, 128)).toDF("__ka0", "__ka1")
      .withColumn("__kb0", lit(null).cast("int"))
      .withColumn("__kb1", lit(null).cast("int"))
      .select(Sketches.kGateMessage("kmvDifference").as("m"))
      .collect().head.getString(0)
    assert(m3 != null && m3.contains("k contract failed"),
      s"mixed-k + empty-side message nulled out: $m3")
    assert(m3.contains("side A kmv_k in [64,128]"),
      s"the violating side's k values are missing from the message: $m3")
    assert(m3.contains("side B in [null,null]"),
      s"empty side's bounds did not survive as 'null' in the message: $m3")
  }

  test("kmv overlap/difference construction is JOB-FREE: the k contract " +
      "is a lazy in-plan gate, not an eager per-call collect (r16 #4)") {
    import spark.implicits._
    val aRows = (1L to 3000L).map(i => ("g", i)).toDF("g", "v")
    val bRows = (2001L to 6000L).map(i => ("g", i)).toDF("g", "v")
    val ska = Sketches.kmvSketch(aRows, Seq("g"), "v", 256)
    val skb = Sketches.kmvSketch(bRows, Seq("g"), "v", 256)
    val built = recording((Sketches.kmvOverlap(ska, skb, Seq("g")),
      Sketches.kmvDifference(ska, skb, Seq("g"))))
    val (ov, di) = built.result
    assert(built.jobs.size == 0,
      s"overlap/difference construction ran ${built.jobs.size} eager jobs")
    // the frames still execute and agree with their eager-era rows
    assert(ov.collect().nonEmpty && di.collect().nonEmpty)
  }

  /** All messages down a failure's cause chain — execution-time
    * raise_error gates surface wrapped in SparkException layers. */
  private def causeChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ ne null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

}
