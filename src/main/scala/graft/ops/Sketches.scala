package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-engine-replayable cardinality sketches.
  *
  * Spark's `approx_count_distinct` and DuckDB's are both HLL but hash
  * differently, so their answers can only be compared by tolerance.
  * This HLL derives every register from md5 — the one hash both
  * engines share bit-for-bit — and does all register/accumulator math
  * in EXACT integers, so the sketch (and its estimate, modulo the
  * final documented float steps) replays identically in any engine:
  * the same auditable-randomness move as minHashCandidatesMd5 and
  * simHashMd5 (TextDedup.scala), applied to COUNT(DISTINCT).
  *
  * 100 TB shape: the pre-aggregation carries one (group, bucket, max
  * rho) row per group x 256 — the shuffle is m rows per group
  * regardless of input size, vs the full value shuffle of an exact
  * distinct (q63's exact heatmap member sets are the documented
  * anti-scale case). Registers combine by MAX, so partial aggregation
  * is exact and re-aggregation over shards/days is free — the
  * property that makes sketches the right daily-rollup primitive.
  */
object Sketches {

  /** Flajolet et al. 2007 bias constant alpha_m * m^2 for m = 256.
    * Public so oracle SQL can embed the EXACT double via Scala's
    * shortest-round-trip toString (17-significant-digit literals parse
    * back to the identical IEEE double in any engine). */
  val AlphaMm: Double = (0.7213 / (1 + 1.079 / 256)) * 65536.0

  private val Pow53 = 9007199254740992.0 // 2^53, exact in double

  /** Count-min sketch of `keyCol` occurrence frequencies (Cormode &
    * Muthukrishnan 2005): `depth` independent md5-derived hash rows of
    * `width` counters. ALL-INTEGER — build, probe and estimate
    * hash-match any engine with md5, with no float caveats at all.
    * The sketch is mergeable by cell-wise SUM (shards/days combine
    * exactly), and its fixed depth x width footprint is what replaces
    * a full token-frequency shuffle for heavy-hitter prefiltering at
    * scale. Returns (r, bucket, cnt) — depth x width rows max. */
  /** The (row, bucket) cell coordinates of a key — ONE derivation
    * shared by build and probe, so the two sides cannot drift. The
    * caller MUST probe with the same (depth, width) it built with:
    * mismatched widths hash to unrelated cells and can UNDER-estimate,
    * silently breaking the overestimate law. countMinBuild therefore
    * emits (depth, width) as columns and countMinEstimate
    * require-checks them; only parameter-stripped external sketches
    * fall back to caller-owned discipline. */
  private def cmCells(keyCol: String, depth: Int, width: Int) = {
    require(depth >= 1 && width >= 2, "countMin needs depth >= 1, width >= 2")
    (0 until depth).map { d =>
      struct(lit(d).as("r"),
        (conv(substring(md5(concat(lit(s"$d#"), col(keyCol)).cast("binary")),
          1, 13), 16, 10).cast("long") % width).as("bucket"))
    }
  }

  /** The (depth, width) parameters travel WITH the sketch as constant
    * columns — `countMinEstimate` require-checks them, so a probe with
    * mismatched parameters fails loudly instead of hashing to
    * unrelated cells and silently under-estimating. Constant columns
    * cost nothing at the fixed depth x width row count, survive any
    * store/merge round-trip (parquet, cell-SUM rollups group by them),
    * and replay trivially in SQL. */
  /** `shardCols` (day, file, source...) build one sketch PER SHARD in
    * a single pass — the warehouse form: shard sketches roll up to the
    * union's sketch by cell-wise SUM grouped on (r, bucket, depth,
    * width), exactly (q197 pins merged == single-pass cell for
    * cell). */
  def countMinBuild(df: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 1024,
      shardCols: Seq[String] = Nil): DataFrame = {
    val shard = shardCols.map(col)
    df.filter(col(keyCol).isNotNull)
      .select(shard :+
        explode(array(cmCells(keyCol, depth, width): _*)).as("c"): _*)
      .groupBy(shard ++ Seq(col("c.r").as("r"),
        col("c.bucket").as("bucket")): _*)
      .agg(count(lit(1)).as("cnt"))
      .select(shard ++ Seq(col("r"), col("bucket"), col("cnt"),
        lit(depth).as("depth"), lit(width).as("width")): _*)
  }

  /** Cell-wise SUM merge of shard sketches ([[countMinBuild]] with
    * `shardCols`, a union of per-day sketch tables, ...) into the
    * union's sketch — exact (q197 pins merged == single-pass cell for
    * cell). The ONE blessed merge idiom: [[countMinEstimate]] refuses
    * both extra columns and duplicate cells, so every rollup path
    * should go through here rather than hand-writing the groupBy. */
  def countMinMerge(sketches: DataFrame): DataFrame =
    sketches.groupBy("r", "bucket", "depth", "width")
      .agg(sum(col("cnt")).as("cnt"))
      .select("r", "bucket", "cnt", "depth", "width")

  /** The structural contract as a LAZY in-plan gate: a one-row
    * aggregate over the sketch whose failure `raise_error`s at
    * EXECUTION time, cross-joined (broadcast, 1 row) into the probe
    * plan with the gate value folded into the output expression so
    * column pruning cannot drop the check. Probe builders therefore
    * stay LAZY transformations — no driver action at call time, and
    * the whole probe (gate included) reads a persisted sketch from
    * cache instead of executing the build once for the check and
    * again under the join. (An UNPERSISTED expensive sketch still
    * evaluates twice — gate subtree + probe subtree — exactly as the
    * old eager check did; persisting the sketch remains the advice,
    * q194/q197/q198 do.) `passIf` must be TRUE on the all-NULL row an
    * empty sketch aggregates to. */
  private def gateOf(agged: DataFrame, passIf: Column, msg: Column) =
    broadcast(agged.select(
      when(passIf, lit(1L)).otherwise(raise_error(msg).cast("long"))
        .as("__gate")))

  /** Point-estimate frequencies for `probes` against a built sketch:
    * min over the depth rows of each probe's counter. The count-min
    * LAW — estimate >= true count, always, deterministically (hash
    * collisions only ever ADD) — is the require every consumer gets
    * for free. Unseen keys estimate 0 via the empty-cell coalesce.
    * Returns (keyCol, cm_est).
    *
    * The probe's (depth, width) MUST match the build's: a mismatched
    * width hashes probes to unrelated cells and can under-estimate,
    * breaking the overestimate law with no error anywhere. The build
    * carries its parameters as columns, and this checks them
    * structurally via the lazy [[gateOf]] plan gate — a mismatch (or
    * an unmerged sharded union's duplicate cells) fails the probe JOB
    * loudly; nothing executes at call time, so this stays a lazy
    * transformation builder. Sketches from sources without the
    * parameter columns (external tables) are accepted as-is: the
    * caller owns the contract there, as the scaladoc on cmCells
    * records. */
  def countMinEstimate(sketch: DataFrame, probes: DataFrame,
      keyCol: String, depth: Int = 4, width: Int = 1024): DataFrame = {
    val cols = sketch.columns.toSet
    val est = probes
      // NULL probes mirror the build side's exclusion (otherwise a
      // phantom (null, 0) row appears for a key no sketch can hold)
      .filter(col(keyCol).isNotNull)
      .select(col(keyCol),
        explode(array(cmCells(keyCol, depth, width): _*)).as("c"))
      .select(col(keyCol), col("c.r").as("r"), col("c.bucket").as("bucket"))
      .join(broadcast(sketch.select("r", "bucket", "cnt")),
        Seq("r", "bucket"), "left")
      .groupBy(keyCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("__est"))
    if (cols.contains("depth") && cols.contains("width")) {
      // an UNMERGED sharded sketch would be just as silent a trap
      // as mismatched parameters: min() across a cell's shard rows
      // returns one shard's count, UNDER the true total — the exact
      // law violation this contract exists to prevent. Extra
      // columns beyond the canonical five are rejected loudly
      // (schema-only, no action), and duplicate (r, bucket) rows — a
      // canonical-columned union of shard sketches whose
      // [[countMinMerge]] was forgotten — are caught by the
      // uniqueness fold inside the SAME lazy gate.
      val extra = cols -- Set("r", "bucket", "cnt", "depth", "width")
      require(extra.isEmpty,
        s"count-min sketch carries extra columns ${extra.mkString(",")}" +
          " — an unmerged sharded sketch under-estimates silently;" +
          " countMinMerge it before probing")
      val gate = gateOf(
        sketch.agg(min(col("depth")).as("__d0"), max(col("depth")).as("__d1"),
          min(col("width")).as("__w0"), max(col("width")).as("__w1"),
          count(lit(1)).as("__n"),
          countDistinct(col("r"), col("bucket")).as("__u")),
        col("__d0").isNull ||
          (col("__d0") === depth && col("__d1") === depth &&
            col("__w0") === width && col("__w1") === width &&
            col("__n") === col("__u")),
        concat(lit("count-min structural check failed: sketch built " +
            "with depth="), col("__d0"), lit(".."), col("__d1"),
          lit(" width="), col("__w0"), lit(".."), col("__w1"),
          lit(s" probed with depth=$depth width=$width; cells "),
          col("__n"), lit(" rows / "), col("__u"),
          lit(" distinct — mismatched parameters or an unmerged " +
            "shard union under-estimate silently; countMinMerge " +
            "and/or match the build parameters")))
      est.crossJoin(gate)
        .select(col(keyCol), (col("__est") * col("__gate")).as("cm_est"))
    } else est.select(col(keyCol), col("__est").as("cm_est"))
  }

  /** Per-group HLL(b=8, m=256) distinct estimate of `valueCol`.
    *
    * Register derivation (all exact): md5 hex chars 1-2 = bucket
    * (8 bits); chars 3-15 = a 52-bit word w; rho = leading-zero count
    * of w within 52 bits + 1 = 53 - bitlength(w) (53 when w = 0).
    * Registers are max(rho) per (group, bucket); absent buckets are 0.
    *
    * Estimate: E_raw = alpha_m * m^2 / sum(2^-M_j), with the
    * denominator accumulated as EXACT scaled integers
    * sum(2^(53 - M_j)) — order-independent, cross-engine identical —
    * and the small-range linear-counting correction m * ln(m / V)
    * applied when E_raw <= 2.5m and empty buckets remain. The only
    * inexact steps are the final double multiply/divide (IEEE,
    * deterministic, written in the same order as the SQL replay) and
    * ln (engines may differ by an ulp — callers rounding output to
    * fixed decimals, the repo's double convention, are unaffected).
    * The 64-bit large-range correction is irrelevant at any real
    * cardinality and omitted.
    *
    * Returns one row per group, in column order (groupCols...,
    * hll_v long = empty-bucket count, hll_reg_digest long, n_hll
    * double). hll_reg_digest is the XOR over present registers of a
    * 52-bit md5 hash of "bucket:M" — order-independent, exact, and
    * collision-resistant (unlike a plain sum of bucket*64+M, which is
    * blind to cross-bucket swaps of register values), so a replay
    * divergence that preserves the rho multiset but misassigns
    * buckets still changes the digest. */
  def hllDistinct(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame =
    hllFromRegisters(hllRegisters(df, groupCols, valueCol), groupCols)

  /** The register table alone: one (groupCols..., hll_bucket, hll_m)
    * row per present bucket — the STORED/SHIPPED form of the sketch.
    * Registers combine by MAX over any further grouping (days, shards,
    * files), exactly — re-aggregating register tables and then
    * estimating via [[hllFromRegisters]] equals the single-pass
    * estimate over the union, the daily-rollup property q196 pins. */
  def hllRegisters(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "hllRegisters needs at least one group column")
    val hex = md5(col(valueCol).cast("string"))
    val bucket = conv(substring(hex, 1, 2), 16, 10).cast("long")
    val whex = substring(hex, 3, 13)
    val w = conv(whex, 16, 10).cast("long")
    // conv(_, 16, 2) drops leading zeros, so its length IS bitlength
    val rho = when(w === 0L, lit(53))
      .otherwise(lit(53) - length(conv(whex, 16, 2)))
    val gcols = groupCols.map(col)
    df.filter(col(valueCol).isNotNull)
      .select(gcols :+ bucket.as("hll_bucket") :+ rho.as("__rho"): _*)
      .groupBy(gcols :+ col("hll_bucket"): _*)
      .agg(max(col("__rho")).as("hll_m"))
  }

  /** Estimate + digest from a register table ((groupCols...,
    * hll_bucket, hll_m) — [[hllRegisters]] output, or any MAX-merge of
    * such tables over extra shard keys). */
  def hllFromRegisters(regs: DataFrame, groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "hllFromRegisters needs a group column")
    val gcols = groupCols.map(col)
    regs
      .select(gcols :+ col("hll_bucket").as("__bucket") :+
        col("hll_m").as("__m"): _*)
      .groupBy(gcols: _*)
      .agg(
        // exact scaled harmonic sum: present buckets contribute
        // 2^(53-M) (M >= 1 so <= 2^52), absent ones 2^53 each;
        // <= 256 * 2^53 = 2^61, no overflow
        (sum(expr("shiftleft(1L, 53 - __m)")) +
          (lit(256L) - count(lit(1))) * lit(9007199254740992L))
          .as("__s_scaled"),
        (lit(256L) - count(lit(1))).as("hll_v"),
        expr("bit_xor(cast(conv(substring(md5(concat(" +
          "cast(__bucket as string), ':', cast(__m as string))), 1, 13)" +
          ", 16, 10) as bigint))").as("hll_reg_digest"))
      .withColumn("__e_raw",
        lit(AlphaMm) * lit(Pow53) / col("__s_scaled").cast("double"))
      .withColumn("n_hll",
        when(col("__e_raw") <= 640.0 && col("hll_v") > 0L,
          lit(256.0) * log(lit(256.0) / col("hll_v").cast("double")))
          .otherwise(col("__e_raw")))
      .drop("__s_scaled", "__e_raw")
  }

  // ------------------------------------------- bloom membership sketch

  /** Key x's k bit positions: the same salted-md5 integer derivation
    * as [[cmCells]] (13 hex chars -> 52-bit non-negative long -> mod),
    * so the whole filter replays in any engine with md5. Bloom
    * completes the sketch family: HLL answers "how many distinct",
    * count-min "how often", bloom "possibly present?" — the runtime
    * membership prefilter in front of expensive exact joins
    * (Bloom, CACM 1970; Spark's own runtime row-group filters are the
    * same idea at the storage layer). */
  private def bloomBits(keyCol: String, mBits: Int, kHashes: Int) = {
    require(mBits >= 2 && kHashes >= 1,
      "bloom needs mBits >= 2, kHashes >= 1")
    (0 until kHashes).map { h =>
      (conv(substring(md5(concat(lit(s"$h#"), col(keyCol)).cast("binary")),
        1, 13), 16, 10).cast("long") % mBits).cast("int").as(s"__b$h")
    }
  }

  /** Build the filter as a RELATIONAL sketch: the distinct set of set
    * bits — at most mBits rows no matter the input cardinality, with
    * (m_bits, k_hashes) carried as columns (the count-min parameter
    * contract: a mismatched probe fails loudly in
    * [[bloomMightContain]], it does not silently miss). Shard sketches
    * (`shardCols`) OR-merge into the union's sketch by dropping the
    * shard columns and taking DISTINCT — exactly (spec-pinned).
    * Returns (shardCols..., bit, m_bits, k_hashes). */
  def bloomBuild(df: DataFrame, keyCol: String,
      mBits: Int = 65536, kHashes: Int = 4,
      shardCols: Seq[String] = Nil): DataFrame = {
    val shard = shardCols.map(col)
    df.filter(col(keyCol).isNotNull)
      .select(shard :+
        explode(array(bloomBits(keyCol, mBits, kHashes): _*)).as("bit"): _*)
      .distinct()
      .select(shard ++ Seq(col("bit"), lit(mBits).as("m_bits"),
        lit(kHashes).as("k_hashes")): _*)
  }

  /** Probe: a key "might be present" iff ALL k of its bits are set.
    * The bloom LAW — NO false negatives: every key that went into the
    * build probes true, deterministically (its own insertion set
    * exactly these bits); false positives are the tunable cost
    * (~(1-e^{-kn/m})^k). Parameter columns are checked against the
    * probe's (mBits, kHashes) when present — the count-min structural
    * contract, as a lazy [[gateOf]] plan gate (no call-time action).
    * Returns (keyCol, bloom_hit). */
  def bloomMightContain(sketch: DataFrame, probes: DataFrame,
      keyCol: String, mBits: Int = 65536, kHashes: Int = 4): DataFrame = {
    val cols = sketch.columns.toSet
    val hit = probes
      .filter(col(keyCol).isNotNull)
      .select(col(keyCol),
        explode(array(bloomBits(keyCol, mBits, kHashes): _*)).as("bit"))
      .join(broadcast(sketch.select("bit").withColumn("__set", lit(1))),
        Seq("bit"), "left")
      .groupBy(keyCol)
      .agg((count(lit(1)) === sum(coalesce(col("__set"), lit(0))))
        .as("__hit"))
    if (cols.contains("m_bits") && cols.contains("k_hashes")) {
      val gate = gateOf(
        sketch.agg(min(col("m_bits")).as("__m0"), max(col("m_bits")).as("__m1"),
          min(col("k_hashes")).as("__k0"), max(col("k_hashes")).as("__k1")),
        col("__m0").isNull ||
          (col("__m0") === mBits && col("__m1") === mBits &&
            col("__k0") === kHashes && col("__k1") === kHashes),
        concat(lit("bloom parameter mismatch: sketch built with m_bits="),
          col("__m0"), lit(".."), col("__m1"), lit(" k_hashes="),
          col("__k0"), lit(".."), col("__k1"),
          lit(s", probed with m_bits=$mBits k_hashes=$kHashes — " +
            "mismatched bits silently miss")))
      // the gate reference keeps the raise_error subtree alive under
      // column pruning; __gate is always 1 when the job survives
      hit.crossJoin(gate)
        .select(col(keyCol),
          (col("__hit") && col("__gate") === 1L).as("bloom_hit"))
    } else hit.select(col(keyCol), col("__hit").as("bloom_hit"))
  }

  // ------------------------------------------- hdr quantile histogram

  /** Log-scale histogram bin of a non-negative long — the HDR
    * Histogram binning (Tene's HdrHistogram, the production-standard
    * latency-quantile structure): values whose bit length fits
    * `p + 1` bits get EXACT bins (bin = v); larger values keep their
    * top `p + 1` bits, so every bin's width/low ratio is <= 2^-p and
    * a midpoint estimate is within 2^-(p+1) relative error of any
    * member. All-integer — bit length via `conv(v, 10, 2)` string
    * length (== DuckDB's `length(bin(v))`, the HLL rho identity), the
    * dynamic shifts via the SQL shiftright/shiftleft (expression
    * arguments, unlike the literal-only Scala helpers) — so the whole
    * sketch replays in any engine with integer shifts. Completes the
    * sketch quartet: HLL "how many distinct", count-min "how often",
    * bloom "possibly present", hdr "how is it distributed".
    *
    * bin = b * 2^p + (v >> b) where b = max(0, bitlen(v) - (p + 1)).
    * Monotone non-decreasing in v, contiguous across the exact/coarse
    * boundary (spec-pinned at the 2^k +- 1 seams). */
  private def hdrBin(v: Column, p: Int): Column = {
    require(p >= 1 && p <= 20, "hdr precision must be in [1, 20]")
    val blen = length(conv(v, 10, 2))
    val b = greatest(blen - (p + 1), lit(0))
    (b.cast("long") * (1L << p) +
      call_function("shiftright", v, b)).as("bin")
  }

  /** Inclusive [low, high] bounds of a bin index (the build's exact
    * inverse: low <= every member <= high, spec-pinned). */
  private def hdrBounds(bin: Column, p: Int): (Column, Column) = {
    val b = greatest(call_function("shiftright", bin, lit(p)).cast("int") - 1,
      lit(0))
    val low = when(bin < (2L << p), bin)
      .otherwise(call_function("shiftleft", bin - b.cast("long") * (1L << p), b))
    val high = when(bin < (2L << p), bin)
      .otherwise(low + call_function("shiftleft", lit(1L), b) - 1L)
    (low, high)
  }

  /** Build the histogram: (shardCols..., bin, cnt, hdr_p) — at most
    * ~64 * 2^p bins regardless of input cardinality, `p` carried as a
    * column (the count-min structural contract — [[hdrQuantiles]]
    * require-checks it; a mismatched precision would decode bins to
    * the wrong value ranges silently). Shard sketches SUM-merge to the
    * union's sketch cell for cell, exactly (counts decompose over any
    * partition of the rows). Negative values fail LOUDLY at execution
    * (raise_error), not by silent misbinning: `conv` would format them
    * as 64-bit two's-complement magnitudes. */
  def hdrBuild(df: DataFrame, valueCol: String, precision: Int = 7,
      shardCols: Seq[String] = Nil): DataFrame = {
    val shard = shardCols.map(col)
    val v = col(valueCol).cast("long")
    val checked = when(v < 0L,
      raise_error(concat(lit(s"hdrBuild: negative $valueCol value "),
        v.cast("string"), lit(" — hdr bins are defined on [0, 2^63)")))
        .cast("long"))
      .otherwise(v)
    df.filter(col(valueCol).isNotNull)
      .select(shard :+ hdrBin(checked, precision): _*)
      .groupBy(shard :+ col("bin"): _*)
      .agg(count(lit(1)).as("cnt"))
      .select(shard ++ Seq(col("bin"), col("cnt"),
        lit(precision).as("hdr_p")): _*)
  }

  /** Quantile estimates from a (merged) histogram: for each q in
    * `qs`, the value at rank max(ceil(q * n), 1) in the sorted
    * population, estimated as the MIDPOINT of the bin holding that
    * rank — the bin's cumulative count brackets the true rank-value
    * exactly, so |est - true| <= half the bin width and the relative
    * error is <= 2^-(p+1) (the in-query law q202 requires). Per-group
    * with `groupCols`; returns (groupCols..., q, n, hdr_est), one row
    * per (group, q). The ceil/multiply runs on the same IEEE doubles
    * in any engine — the replay is bit-stable. */
  def hdrQuantiles(sketch: DataFrame, qs: Seq[Double], precision: Int = 7,
      groupCols: Seq[String] = Nil): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must be in (0, 1]")
    val cols = sketch.columns.toSet
    // precision contract as a lazy gate (the count-min discipline):
    // checked inside the query job, not by a call-time action
    val gate =
      if (cols.contains("hdr_p"))
        Some(gateOf(
          sketch.agg(min(col("hdr_p")).as("__p0"),
            max(col("hdr_p")).as("__p1")),
          col("__p0").isNull ||
            (col("__p0") === precision && col("__p1") === precision),
          concat(lit("hdr precision mismatch: sketch built with p="),
            col("__p0"), lit(".."), col("__p1"),
            lit(s", queried with p=$precision — bins would decode to " +
              "wrong value ranges"))))
      else None
    val base = sketch
    val gcols = groupCols.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(gcols: _*).orderBy("bin")
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(gcols: _*)
    val (low, high) = hdrBounds(col("bin"), precision)
    val est = base
      .select(gcols ++ Seq(col("bin"), col("cnt")): _*)
      .withColumn("__cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .select(gcols ++ Seq(col("bin"), col("__cum"), col("n"),
        explode(typedLit(qs)).as("q")): _*)
      .filter(col("__cum") >=
        greatest(ceil(col("q") * col("n").cast("double")), lit(1L)))
      .groupBy(gcols ++ Seq(col("q"), col("n")): _*)
      .agg(min(col("bin")).as("bin"))
      // midpoint as low + (width >> 1): `/` would be double division
      // and low + high can overflow a long near the top of the domain
      .select(gcols ++ Seq(col("q"), col("n"),
        (low + call_function("shiftright", high - low, lit(1)))
          .as("__e")): _*)
    gate.fold(est.select(gcols ++ Seq(col("q"), col("n"),
        col("__e").as("hdr_est")): _*)) { g =>
      // the __gate reference keeps the raise_error subtree alive under
      // column pruning; it is always 1 when the job survives
      est.crossJoin(g).select(gcols ++ Seq(col("q"), col("n"),
        (col("__e") + (col("__gate") - 1L)).as("hdr_est")): _*)
    }
  }

  // ------------------------------- KMV / Theta distinct sketch

  private val Pow52 = 4503599627370496.0 // 2^52, exact in double
  private val Theta1 = 4503599627370496L // 2^52: "nothing discarded"

  /** The bounded register stage shared by [[kmvSketch]] and
    * [[kmvMerge]]: k smallest DISTINCT hashes per group through the
    * duplicate-skipping [[graft.functions.KmvAgg]] set-register — ONE
    * aggregation, ONE exchange carrying at most k longs per (group,
    * partition) regardless of input cardinality (the HLL wire shape;
    * measured flat in corpus size, PERF.md). No upstream
    * `.distinct()`: that was a hash aggregate keyed on (group, hash)
    * whose exchange carried O(distinct values) — the exact cost a
    * distinct sketch exists to avoid (r15 verdict, What's wrong #1). */
  private def kmvTop(hashed: DataFrame, groupCols: Seq[String],
      k: Int): DataFrame = {
    val gcols = groupCols.map(col)
    hashed
      .groupBy(gcols: _*)
      .agg(graft.functions.KmvAgg.kmvMinK(col("__h"), k).as("__top"))
      .select(gcols :+ explode(col("__top")).as("kmv_h"): _*)
      .select(gcols :+ col("kmv_h") :+ lit(k).as("kmv_k"): _*)
  }

  /** k-minimum-values (Theta) distinct sketch (Bar-Yossef et al.,
    * RANDOM 2002; Beyer et al., SIGMOD 2007; the set algebra is
    * Apache DataSketches' theta framework): per group, the k SMALLEST
    * distinct 52-bit md5 hash values of `valueCol`. Everything stays
    * exact integers until the final estimate division, so build,
    * merge, estimate AND the set operations replay bit for bit in any
    * engine with md5 — and the reason this joins the
    * HLL/count-min/bloom/HDR quartet at all: a distinct sketch whose
    * INTERSECTION is well-defined ([[kmvOverlap]] — overlap sizing
    * for decontamination/version reporting), which HLL registers
    * fundamentally cannot give (max-merge destroys the set identity).
    *
    * Stored form: (groupCols..., kmv_h long, kmv_k int) — at most k
    * rows per group, k carried as a constant column and
    * require-checked wherever two sketches meet (the module's
    * parameter-contract convention). Mergeable: [[kmvMerge]] over a
    * UNION of stored tables equals the sketch of the unioned data,
    * exactly (spec-pinned as row equality). Hash collisions inside
    * 52 bits shadow values identically in every engine — the standard
    * KMV idealization, immaterial below ~2^26 distincts.
    *
    * 100 TB shape: the BUILD is k-bounded end to end — the
    * duplicate-skipping register ([[graft.functions.KmvAgg]]) dedups
    * inside each map task, so the single exchange carries at most k
    * longs per (group, partition) at any input cardinality, never the
    * distinct value set itself (the HLL wire story, now shared). */
  def kmvSketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int): DataFrame = {
    require(groupCols.nonEmpty, "kmvSketch needs at least one group column")
    require(k >= 2 && k <= 65536, s"kmvSketch needs 2 <= k <= 65536, got $k")
    val h = conv(substring(md5(col(valueCol).cast("string")), 1, 13),
      16, 10).cast("long")
    val gcols = groupCols.map(col)
    kmvTop(
      df.filter(col(valueCol).isNotNull)
        .select(gcols :+ h.as("__h"): _*),
      groupCols, k)
  }

  /** Roll up a UNION of stored KMV tables (same k — require-checked):
    * dedup hashes, keep the k smallest per group. Exactly the sketch
    * of the unioned underlying data, so shards/days/files combine
    * with no loss beyond each input's own.
    *
    * Unlike [[kmvOverlap]]/[[kmvDifference]], the k check here stays a
    * CALL-TIME job by necessity — k is a structural parameter of the
    * register aggregate, not a value a plan gate could defer — but the
    * input is staged first so an UNMATERIALIZED sketch plan executes
    * once (the discovery collect warms the cache the merge then
    * reads), not twice. */
  def kmvMerge(sketches: DataFrame, groupCols: Seq[String]): DataFrame = {
    val staged = Materialize.stageLazy(sketches)
    val ks = staged.select(col("kmv_k")).distinct().collect()
    require(ks.nonEmpty,
      "kmvMerge got an EMPTY sketch table — there is nothing to merge " +
        "and k is unknowable; guard the rollup against empty shards " +
        "(an empty sketch is the natural output of kmvSketch on no " +
        "rows, so skipping empty inputs is always sound)")
    require(ks.length == 1,
      s"kmvMerge needs sketches built with ONE k, found ${ks.length} " +
        "distinct kmv_k values — mixed-k sketches have different " +
        "retention thresholds and must not be merged")
    val gcols = groupCols.map(col)
    kmvTop(
      staged.select(gcols :+ col("kmv_h").as("__h"): _*),
      groupCols, ks(0).getInt(0))
  }

  /** Per-group distinct estimate: exact count while the group holds
    * fewer than k hashes (the sketch IS the distinct hash set); else
    * the unbiased KMV estimator (k − 1) / u_(k) with u_(k) =
    * (kth + 0.5) / 2^52, kth = the LARGEST retained hash (the k-th
    * smallest overall; +0.5 is the repo's mid-bucket convention for
    * integer hashes as uniform (0,1) draws). One double multiply and
    * divide at the end, written in the same order as the SQL replay. */
  def kmvDistinct(sketch: DataFrame, groupCols: Seq[String]): DataFrame = {
    val gcols = groupCols.map(col)
    sketch.groupBy(gcols: _*)
      .agg(count(lit(1)).as("__n"), max(col("kmv_h")).as("__kth"),
        max(col("kmv_k")).as("__k"))
      .select(gcols :+
        when(col("__n") < col("__k"), col("__n").cast("double"))
          .otherwise((col("__k") - 1).cast("double") * lit(Pow52) /
            (col("__kth").cast("double") + lit(0.5)))
          .as("n_kmv"): _*)
  }

  /** Theta-framework set estimates between two stored sketches over
    * the same `groupCols` and k: per group, θ_X = 2^52 when side X
    * holds fewer than k hashes (nothing was discarded) else its
    * largest retained hash (the exclusive retention threshold — the
    * k-th smallest itself is the first DISCARDED point of the
    * θ-sample); θ = min(θ_A, θ_B). Hashes below θ from both sides are
    * an unbiased θ-sample of each side's distinct set, so
    * |sample_A ∩ sample_B| / (θ / 2^52) estimates |A ∩ B| and the
    * sample Jaccard |∩| / |∪| estimates the true Jaccard. All counts
    * and thresholds are exact integers; the two final divisions are
    * IEEE doubles in replay order. Returns (groupCols..., n_a, n_b,
    * n_inter, jaccard_kmv) for groups present on BOTH sides (an
    * absent side has no sketch, not an empty set — union the inputs
    * into [[kmvMerge]] first if empty-vs-absent matters). */
  def kmvOverlap(a: DataFrame, b: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val gcols = groupCols.map(col)
    val th = thetaCounts(a, b, groupCols, "kmvOverlap")
    def kmvEst(sfx: String): Column =
      when(col(s"__n$sfx") < col(s"__k$sfx"), col(s"__n$sfx").cast("double"))
        .otherwise((col(s"__k$sfx") - 1).cast("double") * lit(Pow52) /
          (col(s"__kth$sfx").cast("double") + lit(0.5)))
    th.select(gcols ++ Seq(
      kmvEst("a").as("n_a"),
      kmvEst("b").as("n_b"),
      (coalesce(col("__i"), lit(0L)).cast("double") * lit(Pow52) /
        col("__theta").cast("double")).as("n_inter"),
      when(coalesce(col("__u"), lit(0L)) === 0L, lit(0.0))
        .otherwise(coalesce(col("__i"), lit(0L)).cast("double") /
          col("__u").cast("double")).as("jaccard_kmv")): _*)
  }

  /** Theta set-DIFFERENCE sizing between two stored sketches (same
    * `groupCols`, same k): per group, estimates of |A ∖ B|, |B ∖ A|
    * and |A ∩ B| — "how much of this crawl is NEW against the last
    * one", the versioning question [[kmvOverlap]]'s intersection alone
    * does not answer. Below θ = min(θ_A, θ_B) BOTH retention sets are
    * COMPLETE samples of their sides (every value hashing under θ was
    * retained), so a θ-sample row of A absent from B's θ-sample is a
    * true member of A ∖ B restricted to the sample — an unbiased
    * θ-sample of the difference, scaled by 2^52 / θ, the standard
    * theta-framework A-not-B estimator. All counts and thresholds are
    * exact integers; the final divisions are IEEE doubles in replay
    * order (the q228 oracle convention). Returns (groupCols...,
    * n_a_only, n_b_only, n_inter) for groups present on BOTH sides. */
  def kmvDifference(a: DataFrame, b: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val gcols = groupCols.map(col)
    val th = thetaCounts(a, b, groupCols, "kmvDifference")
    def scaled(c: Column): Column =
      coalesce(c, lit(0L)).cast("double") * lit(Pow52) /
        col("__theta").cast("double")
    th.select(gcols ++ Seq(
      scaled(col("__ao")).as("n_a_only"),
      scaled(col("__bo")).as("n_b_only"),
      scaled(col("__i")).as("n_inter")): _*)
  }

  /** Shared theta plumbing for [[kmvOverlap]]/[[kmvDifference]]:
    * stage both sketch sides once (the caller usually passes
    * UNMATERIALIZED kmvSketch plans, and each side feeds the k check,
    * the threshold aggregate AND the theta sample — unstaged, the
    * whole sketch pipeline would re-execute per reference; staged
    * size is <= k rows per group), enforce the k contract, and return
    * (per-group thresholds frame with __theta/__n/__kth/__k per side,
    * A's θ-sample, B's θ-sample).
    *
    * k contract, the kmvMerge way (r15 ADVICE): each SIDE must be
    * internally k-uniform — a per-group max() would let a side that
    * unions mixed-k sketch tables within one group pass undetected
    * with wrong thresholds — and the two sides must share one k. Both
    * halves run as ONE lazy [[gateOf]] plan gate folded into __theta
    * (r16 What's-wrong #2): construction stays a pure transformation
    * builder — no eager `.distinct().collect()` job per call — and a
    * violation raise_errors the consumer's own job loudly. Every
    * downstream estimate ([[kmvOverlap]]'s n_inter, jaccard;
    * [[kmvDifference]]'s three scaled counts) divides by __theta, so
    * column pruning can never drop the check. */
  /** The k-contract gate's diagnostic over the __ka0/__ka1/__kb0/__kb1
    * bounds. Each bound survives a NULL (an empty side) via coalesce:
    * concat is null-in-null-out, and a violation coinciding with one
    * empty side would otherwise raise_error with a NULL message — loud,
    * but stripped of the k values it exists to name (r17 ADVICE low).
    * Package-visible so SketchesSpec can pin the null-surviving shape
    * directly: end-to-end, an empty side usually short-circuits the
    * whole join (empty output — sound) before the lazy gate broadcast
    * ever materializes, so the message path is not deterministically
    * reachable from the public API. */
  private[ops] def kGateMessage(caller: String): Column =
    concat(lit(s"$caller: k contract failed — side A kmv_k in ["),
      coalesce(col("__ka0").cast("string"), lit("null")), lit(","),
      coalesce(col("__ka1").cast("string"), lit("null")),
      lit("], side B in ["),
      coalesce(col("__kb0").cast("string"), lit("null")), lit(","),
      coalesce(col("__kb1").cast("string"), lit("null")),
      lit("]; sketches must be internally k-uniform (mixed-k tables " +
        "have different retention thresholds — roll them up through " +
        "kmvMerge first) and both sides must share one k"))

  /** Shared theta computation for [[kmvOverlap]]/[[kmvDifference]]:
    * per-group thresholds plus the θ-sample set counts (__i
    * intersection, __u union, __ao A-only, __bo B-only), all from ONE
    * staged side-flagged UNION of the two sketch tables.
    *
    * Shape rationale (r19 optimization round, guide §2.4): the
    * previous spelling staged each side separately and fanned them
    * into a k-gate aggregate, a per-side threshold aggregate, two
    * θ-sample joins and (for the difference) two anti-joins + an
    * inner join — ~10 plan subtrees over the two lazily-persisted
    * sides, which AQE compiled into ~50 near-empty jobs per execution
    * (measured 14.6 s first / 6.1 s warm for one kmvOverlap at sf0.1
    * on 9163 input rows; the concurrent broadcast builds additionally
    * raced to materialize the unpersisted sketch pipelines). The
    * union form computes identical values with two aggregations and
    * one broadcast join: rows carry a side flag, per-group thresholds
    * come from conditional aggregates, and every set count is a flag
    * predicate over the per-(group, hash) side flags — no join ever
    * touches two copies of a sketch pipeline.
    *
    * k contract, the kmvMerge way (r15 ADVICE): each SIDE must be
    * internally k-uniform and the two sides must share one k; the
    * check runs as ONE lazy [[gateOf]] plan gate folded into __theta
    * (r16 What's-wrong #2) — construction stays a pure transformation
    * builder, and a violation raise_errors the consumer's own job
    * loudly. Every downstream estimate divides by __theta, so column
    * pruning can never drop the check. NULL bounds (an empty side)
    * pass — an empty side yields no both-sides group rows, and the
    * diagnostic keeps its k values via [[kGateMessage]]'s coalesces.
    *
    * Returned columns: groupCols, __na/__ktha/__ka and b-suffixed
    * twins, __thetaa/__thetab/__theta, and nullable __i/__u/__ao/__bo
    * (NULL when a group has no θ-sample rows at all — the callers
    * coalesce to 0, the pre-r19 left-join convention). Only groups
    * present on BOTH sides appear (the pre-r19 inner-join semantics:
    * an absent side has no sketch, not an empty set). */
  private def thetaCounts(a: DataFrame, b: DataFrame,
      groupCols: Seq[String], caller: String): DataFrame = {
    val gcols = groupCols.map(col)
    // stageLazy, not stage: localCheckpoint staging submits its
    // shuffle stages at CALL time even when lazy — a persist cache
    // gives one execution of the sketch pipelines with zero call-time
    // jobs (and this frame is <= 2k rows per group)
    val u0 = Materialize.stageLazy(
      a.select(gcols ++ Seq(col("kmv_h"), col("kmv_k"),
        lit(0).as("__side")): _*)
        .unionByName(b.select(gcols ++ Seq(col("kmv_h"), col("kmv_k"),
          lit(1).as("__side")): _*)))
    def onSide(s: Int, c: Column): Column = when(col("__side") === s, c)
    val pg = u0.groupBy(gcols: _*).agg(
      count(onSide(0, lit(1))).as("__na"),
      max(onSide(0, col("kmv_h"))).as("__ktha"),
      max(onSide(0, col("kmv_k"))).as("__ka"),
      min(onSide(0, col("kmv_k"))).as("__ka0g"),
      count(onSide(1, lit(1))).as("__nb"),
      max(onSide(1, col("kmv_h"))).as("__kthb"),
      max(onSide(1, col("kmv_k"))).as("__kb"),
      min(onSide(1, col("kmv_k"))).as("__kb0g"))
    // the global per-side k bounds are min-of-group-mins /
    // max-of-group-maxes — identical to aggregating the raw sides, and
    // NULL exactly when a side is empty (min/max skip NULL group cells)
    val gate = gateOf(
      pg.agg(min(col("__ka0g")).as("__ka0"), max(col("__ka")).as("__ka1"),
        min(col("__kb0g")).as("__kb0"), max(col("__kb")).as("__kb1")),
      (col("__ka0").isNull || col("__ka0") === col("__ka1")) &&
        (col("__kb0").isNull || col("__kb0") === col("__kb1")) &&
        (col("__ka0").isNull || col("__kb0").isNull ||
          col("__ka0") === col("__kb0")),
      kGateMessage(caller))
    val th = pg.filter(col("__na") > 0 && col("__nb") > 0)
      .withColumn("__thetaa",
        when(col("__na") < col("__ka"), lit(Theta1)).otherwise(col("__ktha")))
      .withColumn("__thetab",
        when(col("__nb") < col("__kb"), lit(Theta1)).otherwise(col("__kthb")))
      .crossJoin(gate)
      // __gate is 1 when the contract holds; folding it into __theta
      // keeps the raise_error subtree alive under column pruning (the
      // hdrQuantiles convention)
      .withColumn("__theta",
        least(col("__thetaa"), col("__thetab")) + (col("__gate") - 1L))
      .drop("__gate", "__ka0g", "__kb0g")
    val thSlim = th.select(gcols :+ col("__theta"): _*)
    val cnts = u0
      .select(gcols ++ Seq(col("kmv_h").as("__h"), col("__side")): _*)
      .join(thSlim, groupCols)
      .filter(col("__h") < col("__theta"))
      .groupBy(gcols :+ col("__h"): _*)
      .agg(max(col("__side") === 0).as("__fa"),
        max(col("__side") === 1).as("__fb"))
      .groupBy(gcols: _*)
      .agg(
        sum(when(col("__fa") && col("__fb"), 1L).otherwise(0L)).as("__i"),
        count(lit(1)).as("__u"),
        sum(when(col("__fa") && !col("__fb"), 1L).otherwise(0L)).as("__ao"),
        sum(when(col("__fb") && !col("__fa"), 1L).otherwise(0L)).as("__bo"))
    th.join(cnts, groupCols.toSeq, "left")
  }
}
