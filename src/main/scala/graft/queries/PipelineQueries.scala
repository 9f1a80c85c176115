package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.queries.OracleSql._

/** Training-data-pipeline operator battery over `documents`/`orders`
  * (builder brief §LLM-pipeline): version dedup, deterministic
  * hash sampling, corpus stats, vocabulary top-k, set ops — each
  * DuckDB-oracle-checked. Every pattern is chosen for its 100 TB
  * shape: hash-partitionable, no driver-side state, exact results
  * independent of partitioning. */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  // parallel variant for the module's HEAVY one-pass builders (bigram
  // explode, BPE merge learns, DSIR weight build) — see Inputs.parquet;
  // the light per-entry reads stay bare: measured r19, the added
  // exchange + 32-task stages cost the many small entries ~0.5 s each
  // while only the heavy builders repay it
  private def docsPar(s: SparkSession, dir: String): DataFrame =
    Inputs.parquet(s, s"$dir/documents.parquet")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Force-build this module's shared memos (the staged bigram table
    * behind q228/q230, the DSIR weights behind q205/q209) so a bench
    * harness can charge the build to an explicit setup phase. Used by
    * the deferred retry pass's memoPrewarms (r17 ADVICE low: the
    * pipeline: namespaces were the one memo family whose deferred
    * retries still paid the full rebuild inside their timed window).
    * NOT called from the main-loop setup phase: there the build cost
    * stays attributed to the first consumer by design (q228's quiet
    * reference was captured under that attribution). */
  def prewarmShared(s: SparkSession, dir: String): Unit = {
    sharedBigrams(s, dir).write.format("noop").mode("overwrite").save()
    dsirWeightsMemo(s, dir).write.format("noop").mode("overwrite").save()
  }

  // q228 (overlap) and q230 (difference) share the staged distinct
  // bigram table: ONE scan/explode/aggregate builds both corpus halves,
  // feeding the sketches AND the exact counts of both entries — built
  // once per battery, released after the later consumer (Memos
  // lifecycle; the spanList pattern). Stored as one row per distinct
  // (lang, bigram) with per-side membership FLAGS (r19 optimization,
  // guide §2.3/§2.4): the flag form is strictly smaller than the
  // (lang, side, bg) distinct rows, each side is a filter of it, and
  // the exact intersection/difference counts of q228/q230 become ONE
  // aggregation over this table instead of per-side groupBys plus
  // (anti-)joins re-keyed on (lang, bg).
  private def sharedBigrams(s: SparkSession, dir: String): DataFrame =
    Memos.shared(s"pipeline:kmvbg:$dir",
      Set("q228_kmv_overlap", "q230_kmv_difference")) {
      val ts = filter(graft.ops.TextDedup.tokensOf(col("text")),
        t => length(t) > 0)
      graft.ops.Materialize.stage(
        docsPar(s, dir).filter(col("doc_id").isNotNull)
          .select(col("lang"), (col("doc_id") % 2).as("side"),
            explode(when(size(ts) >= 2,
              transform(sequence(lit(1), size(ts) - 1), i =>
                concat(element_at(ts, i), lit(" "),
                  element_at(ts, i + 1))))
              .otherwise(array().cast("array<string>"))).as("bg"))
          .groupBy(col("lang"), col("bg"))
          .agg(max(col("side") === 0).as("__in_a"),
            max(col("side") === 1).as("__in_b")))
    }(graft.ops.Materialize.release)

  // q189 learns the rules, q190 applies them — the collected merge
  // table is 8 driver-side rows. q189 RECOMPUTES on every execution
  // (its timing must be the learn loop's honest cost under bench
  // reps — the q162 cache-assisted-best-of-N lesson) and re-stores;
  // q190 reads the memo (rules are its INPUT, attributed to q189,
  // which runs first in battery order) but still pays its own
  // explode + join + agg per execution.
  private val bpeMemo =
    scala.collection.concurrent.TrieMap[String, Seq[(Int, String, String, Long)]]()
  private def learnBpeRules(s: SparkSession, dir: String): Seq[(Int, String, String, Long)] = {
    val r = graft.ops.TrainingOps.bpeMerges(docsPar(s, dir), "text", numMerges = 8)
      .orderBy("merge_idx").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    bpeMemo.put(dir, r)
    r
  }
  private def bpeRules(s: SparkSession, dir: String): Seq[(Int, String, String, Long)] =
    bpeMemo.getOrElse(dir, learnBpeRules(s, dir))

  // q217's byte-level rules: the learn entry pays its own learn on
  // every execution (q189's honest-timing discipline) and re-stores;
  // q220 (ids) and q225 (packing) read the memo — rules are their
  // INPUT, attributed to q217, which sorts first in battery order.
  private val byteBpeMemo =
    scala.collection.concurrent.TrieMap[String, Seq[(String, String)]]()
  private def learnByteBpeRules(s: SparkSession,
      dir: String): Seq[(String, String)] = {
    val r = graft.ops.TrainingOps
      .byteBpeMerges(docsPar(s, dir), "text", numMerges = 8)
      .orderBy("merge_idx").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    byteBpeMemo.put(dir, r)
    r
  }

  // q205 (selection) and q209 (streaming pin) score the SAME fixture
  // with the SAME batch weights — one build, Memos lifecycle (cost
  // attributed to whichever runs first; the streaming PROBE side of
  // q209 stays independent, it is the thing under test there).
  private def dsirFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val d = docsPar(s, dir).select(col("doc_id"), col("text"))
    (d.filter(col("doc_id") % 37 =!= 0), d.filter(col("doc_id") % 37 === 0))
  }
  private def dsirWeightsMemo(s: SparkSession, dir: String): DataFrame =
    Memos.shared(s"pipeline:dsir:$dir",
      Set("q205_dsir_select", "q209_streaming_dsir")) {
      val (raw, target) = dsirFixture(s, dir)
      graft.ops.TrainingOps
        .dsirWeights(raw, target, "doc_id", "text").persist()
    }(_.unpersist())

  /** [[graft.ops.TrainingOps.bytePretokenPattern]] as the body of a SQL
    * string literal. */
  private val pretokPatternSql =
    graft.ops.TrainingOps.bytePretokenPattern.replace("'", "''")

  /** The BPE learn loop as DuckDB CTEs after `base`, the CTE
    * `w0(<carry>w, sym, cnt)` of word types with counts and wrapped
    * symbol strings: p_i = weighted adjacent-pair counts over w_{i-1},
    * b_i = argmax (count desc, pair asc), w_i = b_i applied via the
    * boundary-safe wrapped replace. `carry` holds the columns kept
    * beside `w`. chr(1) is the pair separator (symbols never contain
    * it). */
  private def mergeChainSql(base: String, carry: String, n: Int): String = {
    val iters = (1 to n).map { i =>
      s"""p$i AS (
         |  SELECT string_split(pr, chr(1))[1] AS a,
         |    string_split(pr, chr(1))[2] AS b,
         |    CAST(SUM(cnt) AS BIGINT) AS c
         |  FROM (SELECT unnest(list_transform(range(1, len(s)),
         |          j -> s[j] || chr(1) || s[j + 1])) AS pr, cnt
         |        FROM (SELECT string_split(substr(sym, 2, len(sym) - 2), '__') AS s,
         |                cnt
         |              FROM w${i - 1}))
         |  GROUP BY 1, 2),
         |b$i AS (SELECT a, b, c FROM p$i ORDER BY c DESC, a, b LIMIT 1),
         |w$i AS (SELECT ${carry}w, replace(sym, '_' || a || '__' || b || '_',
         |          '_' || a || b || '_') AS sym, cnt
         |        FROM w${i - 1}, b$i)""".stripMargin
    }
    s"WITH $base,\n${iters.mkString(",\n")}"
  }

  /** The shared BPE learn chain over the lowercase [a-z]+ words of
    * `documents`. */
  private def bpeChainSql(n: Int): String =
    mergeChainSql(
      """w0 AS (
        |  SELECT w, regexp_replace(w, '(.)', '_\1_', 'g') AS sym,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |        FROM documents)
        |  WHERE w <> '' GROUP BY 1, 2)""".stripMargin, "", n)

  /** The BYTE-LEVEL learn chain: same iteration structure as
    * [[bpeChainSql]], over [[graft.ops.TrainingOps.bytePretokens]]'
    * RE2-safe pre-tokens mapped to display units. The corpus is
    * `[a-z ]` text, so the unit map reduces to `space -> chr(288)`
    * (U+0120, the byte map's 0x20 slot) — the oracle replays the map
    * for the bytes that OCCUR; the Scala side computes the full
    * 256-way table and would hash-mismatch here if the fixture ever
    * grew bytes this replay doesn't cover. Each w_i carries the
    * original pre-token w0 alongside the evolving wrapped sym. */
  private def byteChainSql(n: Int): String =
    mergeChainSql(
      s"""w0 AS (
         |  SELECT w0, w, regexp_replace(w, '(.)', '_\\1_', 'g') AS sym,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM (SELECT w0, replace(w0, ' ', chr(288)) AS w
         |        FROM (SELECT unnest(regexp_extract_all(text, '$pretokPatternSql')) AS w0
         |              FROM documents))
         |  WHERE w0 <> '' GROUP BY 1, 2, 3)""".stripMargin, "w0, ", n)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Keep-one-version dedup: row_number over the content fingerprint,
    // earliest doc_id wins — the canonical "dedup exact copies, keep
    // stable representative" pass of a corpus pipeline. Shuffles on the
    // fingerprint hash; no global sort.
    "q80_version_dedup" -> ((s, dir) => {
      val w = Window.partitionBy("fp").orderBy("doc_id")
      docs(s, dir)
        .withColumn("fp", md5(col("text").cast("binary")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("fp"))
        .orderBy("doc_id")
    }),

    // Deterministic hash sampling (~1/8 of the corpus): reproducible on
    // any cluster/partitioning, unlike TABLESAMPLE. The filter pushes
    // to the scan.
    "q81_hash_sample" -> ((s, dir) => {
      docs(s, dir)
        .filter(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
          .isin("0", "1"))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    // Stratified deterministic sample: a fixed-size uniform draw PER
    // STRATUM (language), ranked by a salted hash so the draw is
    // reproducible across engines and runs — the balanced-corpus
    // sampler of a training pipeline (q81 is the global variant). At
    // scale: one shuffle on the stratum key, rank bounded per group.
    "q109_stratified_sample" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(md5(concat_ws("|", col("doc_id"), lit("graft"))), col("doc_id"))
      docs(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .select("doc_id", "lang", "rn")
        .orderBy("lang", "rn")
    }),

    // Weighted sample (ops/TrainingOps.weightedSample): inclusion odds
    // proportional to document length via Efraimidis–Spirakis
    // exponential-race keys with deterministic md5-derived u — the
    // quality-weighted draw of a mixture pipeline (q81 uniform, q109
    // stratified, this one weighted). Plans as TakeOrderedAndProject:
    // per-partition top-n, no global sort shuffle.
    "q188_weighted_sample" -> ((s, dir) => {
      val picked = graft.ops.TrainingOps.weightedSample(
        docs(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", n = 100, salt = "graftw")
      picked
        .withColumn("smp_rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("samp_key"), col("doc_id"))))
        .select(col("doc_id"), col("n_chars"), col("smp_rank"))
        .orderBy("smp_rank")
    }),

    // BPE merge-rule induction (ops/TrainingOps.bpeMerges): the 8
    // highest-count adjacent-symbol fusions over the corpus vocabulary
    // — tokenizer TRAINING (q39 applies a fixed rule set; this learns
    // one). Oracle replays all 8 Lloyd-style iterations as a DuckDB
    // CTE chain, so the full learn loop is cross-engine pinned.
    "q189_bpe_merges" -> ((s, dir) => {
      val r = learnBpeRules(s, dir) // always the full learn loop
      val sess = s
      import sess.implicits._
      r.toDF("merge_idx", "a", "b", "cnt").orderBy("merge_idx")
    }),

    // Tokenizer APPLICATION under the q189-learned rules
    // (ops/TrainingOps.applyBpeMerges): per-document token counts via
    // the type-table lexicon join — rules rewrite |vocab| rows once,
    // documents pay an explode + broadcast join + sum, zero per-doc
    // string work. The learn -> apply loop, closed.
    "q190_bpe_tokenize" -> ((s, dir) => {
      graft.ops.TrainingOps.applyBpeMerges(docs(s, dir), "doc_id", "text",
          bpeRules(s, dir).map(m => (m._2, m._3)))
        .orderBy("doc_id")
    }),

    // Cross-engine-replayable HLL (ops/Sketches.hllDistinct): distinct
    // users per event type from 256 md5-derived registers — the
    // m-rows-per-group shuffle that replaces a full distinct at scale.
    // Unlike approx_count_distinct (engine-specific hashing, tolerance
    // compare only), the whole sketch hash-matches DuckDB: registers
    // via the exact digest column, the estimate via identical IEEE
    // math. The HLL accuracy law (sigma = 1.04/sqrt(256) = 6.5%)
    // rides in a 3-sigma require against the exact count.
    "q191_hll_distinct" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"), col("user_id"))
      val sk = graft.ops.Sketches.hllDistinct(ev, Seq("event_type"), "user_id")
      val exact = ev.filter(col("user_id").isNotNull)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      val joined = sk.join(exact, "event_type")
      joined.select("event_type", "n_hll", "n_exact").collect().foreach { r =>
        val (est, ex) = (r.getDouble(1), r.getLong(2))
        require(math.abs(est - ex) / ex.toDouble <= 0.20,
          s"HLL outside 3-sigma for ${r.getString(0)}: est=$est exact=$ex")
      }
      joined.select(col("event_type"), col("n_exact"),
          round(col("n_hll"), 2).as("n_hll"),
          col("hll_v"), col("hll_reg_digest"))
        .orderBy("event_type")
    }),

    // Count-min frequency sketch (ops/Sketches.countMinBuild/
    // Estimate): the top-20 corpus tokens' estimated vs exact counts.
    // ALL-INTEGER md5 hashing — build, probe and estimate hash-match
    // DuckDB with no float caveats — and the count-min LAW (estimate
    // >= truth, always: collisions only add) rides in a require over
    // every probe. The 4x1024-cell table is the mergeable fixed-size
    // shuffle that replaces a full token-frequency pass for
    // heavy-hitter prefiltering at scale.
    "q194_countmin_sketch" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(explode(graft.ops.TextDedup.tokensOf(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
        .persist()
      // persisted (<= depth x width rows): countMinEstimate's lazy
      // structural gate and probe join are two plan subtrees over the
      // sketch — unmaterialized, the build would execute twice
      val sketch = graft.ops.Sketches.countMinBuild(toks, "tok").persist()
      try {
        val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("tok")).limit(20)
        val est = graft.ops.Sketches.countMinEstimate(
          sketch, exact.select("tok"), "tok")
        // ONE execution: the law checks the collected 20 rows and the
        // same rows become the result (re-executing the join plan would
        // re-run the whole sketch+exact pipeline for the harness's read)
        val rows = exact.join(est, "tok").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        rows.foreach { case (tok, ex, cm) =>
          require(cm >= ex,
            s"count-min under-estimated '$tok': $cm < $ex — impossible unless broken")
        }
        val sess = s
        import sess.implicits._
        rows.toSeq.toDF("tok", "exact_cnt", "cm_est")
          .orderBy(col("exact_cnt").desc, col("tok"))
      } finally {
        sketch.unpersist(blocking = false)
        toks.unpersist(blocking = false)
      }
    }),

    // HLL SHARD ROLLUP (ops/Sketches.hllRegisters/hllFromRegisters):
    // the daily-rollup pattern that is the whole point of a mergeable
    // sketch at 100 TB — per-shard register tables (shard standing in
    // for day/file partitions), MAX-merged per event type, estimated
    // from the merged registers. The rollup law — merged sketch ==
    // single-pass sketch over the union, estimate AND digest — is
    // require'd both directions in-query, and the whole sharded
    // build + merge + estimate replays in DuckDB.
    "q196_hll_rollup" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("user_id"),
          (col("event_id") % 4).as("shard"))
      val mergedRegs = graft.ops.Sketches
        .hllRegisters(ev, Seq("shard", "event_type"), "user_id")
        .groupBy("event_type", "hll_bucket")
        .agg(max(col("hll_m")).as("hll_m"))
      val merged = graft.ops.Sketches
        .hllFromRegisters(mergedRegs, Seq("event_type"))
      val single = graft.ops.Sketches
        .hllDistinct(ev.select("event_type", "user_id"),
          Seq("event_type"), "user_id")
      val diff = Pins.keyed(merged, single, Seq("event_type"),
        Seq("hll_v", "hll_reg_digest", "n_hll")).diff.total
      require(diff == 0L,
        s"HLL shard rollup diverged from the single-pass sketch: " +
          s"$diff groups differ")
      val shards = ev.filter(col("user_id").isNotNull)
        .groupBy("event_type")
        .agg(countDistinct(col("shard")).as("n_shards"))
      merged.join(shards, "event_type")
        .select(col("event_type"), col("n_shards"),
          round(col("n_hll"), 2).as("n_hll"),
          col("hll_v"), col("hll_reg_digest"))
        .orderBy("event_type")
    }),

    // Count-min SHARD ROLLUP: per-shard sketches built in ONE pass
    // (shardCols), cell-wise SUM-merged, require'd equal cell for
    // cell to the single-pass sketch, and the top-20 probes estimated
    // from the MERGED sketch — with the overestimate law on every
    // probe, same as q194. Shard = doc_id % 3 stands in for the
    // day/file partition key of a warehouse token-frequency rollup.
    "q197_countmin_rollup" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select((col("doc_id") % 3).as("shard"),
          explode(graft.ops.TextDedup.tokensOf(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
        .persist()
      // persisted (<= depth x width rows): feeds the cell diff, the
      // estimate's structural check AND its probe join; declared
      // outside try so the finally releases it on pin failure too
      val merged = graft.ops.Sketches.countMinMerge(
        graft.ops.Sketches.countMinBuild(toks, "tok",
          shardCols = Seq("shard")))
        .persist()
      try {
        val single = graft.ops.Sketches.countMinBuild(toks, "tok")
        val cellDiff = Pins.keyed(merged, single,
          Seq("r", "bucket", "depth", "width"), Seq("cnt")).diff.total
        require(cellDiff == 0L,
          s"count-min shard rollup diverged cell-wise from " +
            s"single-pass: $cellDiff cells differ")
        val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("tok")).limit(20)
        val rows = exact
          .join(graft.ops.Sketches.countMinEstimate(
            merged, exact.select("tok"), "tok"), "tok")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        rows.foreach { case (tok, ex, cm) =>
          require(cm >= ex, s"merged sketch under-estimated '$tok': $cm < $ex")
        }
        val sess = s
        import sess.implicits._
        rows.toSeq.toDF("tok", "exact_cnt", "cm_est")
          .orderBy(col("exact_cnt").desc, col("tok"))
      } finally {
        merged.unpersist(blocking = false)
        toks.unpersist(blocking = false)
      }
    }),

    // Heavy-hitter PREFILTER (the composition the sketch exists for):
    // estimate every token TYPE against the sketch, keep candidates
    // with cm_est >= tau, exact-count ONLY those, final filter on the
    // exact count. The overestimate law makes the candidate set a
    // provable superset of the true heavy hitters, so the output is
    // EXACTLY the direct HAVING count >= tau result (the oracle
    // computes it sketch-free) — while the expensive exact aggregation
    // shuffles only heavy-hitter occurrences, not the corpus's full
    // token stream. tau = max(1, occurrences/1000).
    "q198_cm_heavyhitters" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(explode(graft.ops.TextDedup.tokensOf(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
        .persist()
      // persisted: the estimate's lazy structural gate and the probe
      // join are two subtrees over the sketch (see countMinEstimate
      // scaladoc); outside try so the finally releases it on failure
      val sketch = graft.ops.Sketches.countMinBuild(toks, "tok")
        .persist()
      try {
        val tau = math.max(1L, toks.count() / 1000L)
        val cands = graft.ops.Sketches
          .countMinEstimate(sketch, toks.distinct(), "tok")
          .filter(col("cm_est") >= tau).select("tok")
        val rows = toks.join(broadcast(cands), "tok")
          .groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
          .filter(col("exact_cnt") >= tau)
          .collect().map(r => (r.getString(0), r.getLong(1)))
        val sess = s
        import sess.implicits._
        rows.toSeq.toDF("tok", "exact_cnt")
          .orderBy(col("exact_cnt").desc, col("tok"))
      } finally {
        sketch.unpersist(blocking = false)
        toks.unpersist(blocking = false)
      }
    }),

    // Bloom MEMBERSHIP prefilter (ops/Sketches.bloomBuild/
    // bloomMightContain — the runtime-filter pattern at the operator
    // level, completing the sketch family: HLL counts distinct,
    // count-min counts frequency, bloom answers membership): build a
    // fixed-size bloom over the benchmark's distinct word 4-grams,
    // probe every corpus gram TYPE, and run the exact overlap join
    // only over admitted grams. The bloom LAW — no false negatives —
    // makes the admitted set a provable superset of the true overlap,
    // so the per-doc shared-gram counts are EXACTLY the direct join's
    // (the oracle computes them bloom-free), while the exact join's
    // probe side shrinks to the admitted gram types. At 100 TB the
    // sketch is <= m_bits rows built once per benchmark and broadcast;
    // the corpus-side explode feeds a semi-join against it instead of
    // the full benchmark gram set. In-query require: EVERY benchmark
    // gram probes true — the no-false-negative law, exhaustively.
    "q201_bloom_prefilter" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val benchGrams = d.filter(col("doc_id") % 41 === 0)
        .select(explode(graft.ops.TextDedup.shinglesOf(
          graft.ops.TextDedup.tokensOf(col("text")), 4)).as("gram"))
        .distinct().persist()
      try {
        val sketch = graft.ops.Sketches.bloomBuild(benchGrams, "gram")
        val misses = graft.ops.Sketches.bloomMightContain(sketch,
            benchGrams, "gram")
          .filter(!col("bloom_hit")).count()
        require(misses == 0L,
          s"bloom no-false-negative law violated: $misses benchmark " +
            "grams probed false")
        val corpusGrams = d.filter(col("doc_id") % 41 =!= 0)
          .select(col("doc_id"),
            explode(array_distinct(graft.ops.TextDedup.shinglesOf(
              graft.ops.TextDedup.tokensOf(col("text")), 4))).as("gram"))
        val admitted = graft.ops.Sketches.bloomMightContain(sketch,
            corpusGrams.select("gram").distinct(), "gram")
          .filter(col("bloom_hit")).select("gram")
        corpusGrams.join(broadcast(admitted), "gram")
          .join(broadcast(benchGrams), "gram")
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared_grams"))
          .orderBy("doc_id")
      } finally benchGrams.unpersist(blocking = false)
    }),

    // HDR QUANTILE histogram (ops/Sketches.hdrBuild/hdrQuantiles —
    // the fourth sketch: HLL counts distinct, count-min frequency,
    // bloom membership, hdr DISTRIBUTION): log-scale all-integer
    // bins over price cents, built PER SHARD in one pass, SUM-merged
    // cell for cell (require'd == the single-pass sketch), quantiles
    // {p50, p90, p99, p999} estimated from the merged sketch. The hdr
    // LAW — the true rank value lies in the picked bin, so the
    // midpoint is within 2^-(p+1) relative — is require'd in-query
    // against the EXACT rank values (one distinct-value cum-sum job).
    // At 100 TB each shard's sketch is <= ~64*2^p rows regardless of
    // cardinality and the merge is a cell SUM — the daily latency/
    // size-percentile rollup runs on sketch tables, never re-reading
    // the corpus. The oracle replays the ENTIRE sharded chain — bit
    // length via DuckDB's bin() == Spark's conv(v,10,2) (the HLL rho
    // identity), integer shifts, same IEEE ceil — and hash-matches.
    "q202_hdr_quantiles" -> ((s, dir) => {
      val p = 7
      val qs = Seq(0.5, 0.9, 0.99, 0.999)
      // persisted: cents feeds three actions (cell diff, quantile
      // estimate, exact-rank job) — unpersisted each would re-scan
      // lineitem
      val cents = t(s, dir, "lineitem")
        .select((col("l_orderkey") % 4).as("shard"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("v"))
        .persist()
      try {
      // persisted: the sketch is <= ~64 * 2^p rows and feeds the cell
      // diff, the quantile estimate and the returned frame
      val merged = graft.ops.Sketches
        .hdrBuild(cents, "v", precision = p, shardCols = Seq("shard"))
        .groupBy("bin", "hdr_p").agg(sum(col("cnt")).as("cnt"))
        .select("bin", "cnt", "hdr_p")
        .persist()
      val single = graft.ops.Sketches.hdrBuild(cents, "v", precision = p)
      val cellDiff = Pins.keyed(merged, single, Seq("bin", "hdr_p"),
        Seq("cnt")).diff.total
      require(cellDiff == 0L,
        s"hdr shard rollup diverged cell-wise from the single-pass " +
          s"sketch: $cellDiff cells differ")
      val est = graft.ops.Sketches.hdrQuantiles(merged, qs, precision = p)
      val estRows = est.collect()
      merged.unpersist(blocking = false)
      val n = estRows.head.getLong(1)
      val ranks = qs.map(q => (q, math.max(math.ceil(q * n).toLong, 1L)))
      // exact rank values in one job: distinct-value cumulative counts
      // (~|distinct prices| rows, a bounded single-partition window)
      val w = org.apache.spark.sql.expressions.Window.orderBy("v")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val exact = cents.groupBy("v").agg(count(lit(1)).as("cnt"))
        .withColumn("__c", sum(col("cnt")).over(w))
        .select(col("v"), col("__c"), explode(typedLit(ranks)).as("__p"))
        .filter(col("__c") >= col("__p._2"))
        .groupBy(col("__p._1").as("q")).agg(min(col("v")).as("exact"))
        .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
      estRows.foreach { r =>
        val (q, e) = (r.getDouble(0), r.getLong(2))
        val x = exact(q)
        require(math.abs(e - x).toDouble / x <= 1.0 / (1L << (p + 1)),
          s"hdr estimate out of the 2^-(p+1) bound at q=$q: " +
            s"est=$e exact=$x")
      }
      val sess = s
      import sess.implicits._
      estRows.map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
        .toSeq.toDF("q", "n", "hdr_est").orderBy("q")
      } finally cents.unpersist(blocking = false)
    }),

    // Benchmark decontamination (ops/TrainingOps.ngramOverlap): count
    // of distinct word 3-grams each corpus doc shares with a held-out
    // "benchmark" slice — the train-test overlap check a pretraining
    // pipeline runs before training. Benchmark side broadcasts; corpus
    // side is a map-only explode + probe.
    "q111_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ops.TrainingOps.ngramOverlap(
          d.filter(col("doc_id") % 37 =!= 0), "doc_id", "text",
          d.filter(col("doc_id") % 37 === 0), "text", n = 3)
        .orderBy("doc_id")
    }),

    // Sequence packing (ops/TrainingOps.packSequences): deterministic
    // greedy layout of documents into 512-token bins, packed per shard
    // (8 hash shards) so the window parallelizes — the bin assignment
    // that turns a filtered corpus into fixed-budget training rows.
    "q112_pack_sequences" -> ((s, dir) => {
      val d = docs(s, dir)
        .select(col("doc_id"),
          size(graft.ops.TextDedup.tokensOf(col("text"))).cast("long")
            .as("n_tokens"))
        .withColumn("shard", (col("doc_id") % 8).cast("int"))
      graft.ops.TrainingOps.packSequences(d, "doc_id", "n_tokens",
          capacity = 512, shardCol = Some("shard"))
        .select("doc_id", "shard", "n_tokens", "cum_tokens", "bin")
        .orderBy("doc_id")
    }),

    // Repetition-ratio quality signal (ops/TrainingOps
    // .repetitionRatio): fraction of a doc's bigrams taken by its most
    // frequent bigram — boilerplate/spam filtering via the distributed
    // bigram histogram.
    "q113_repetition" -> ((s, dir) => {
      graft.ops.TrainingOps.repetitionRatio(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), round(col("rep_ratio"), 4).as("rep_ratio"))
        .orderBy("doc_id")
    }),

    // Overlapping token-window chunking (ops/TrainingOps.chunkTokens):
    // 64-token windows, 48-token stride — one training/RAG row per
    // window, chunk content pinned by md5.
    "q118_chunk_tokens" -> ((s, dir) => {
      graft.ops.TrainingOps.chunkTokens(docs(s, dir), "doc_id", "text",
          chunkSize = 64, stride = 48)
        .orderBy("doc_id", "chunk_idx")
    }),

    // PII redaction (ops/TrainingOps.redactPii): the scrub pass before
    // anything leaves the raw zone. The corpus text is augmented with
    // DETERMINISTIC synthetic PII (email, dotted-quad, long account
    // number derived from doc_id) so the redaction is exercised on
    // every row and value-checked — a regex that silently stopped
    // matching would break the hash, not pass vacuously.
    "q151_pii_redact" -> ((s, dir) => {
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@mail.example.com via 10."),
        (col("doc_id") % 200).cast("string"), lit(".0."),
        (col("doc_id") % 250).cast("string"), lit(" ref "),
        (col("doc_id") * 1000000007L + 123456789L).cast("string"))
      docs(s, dir)
        .withColumn("t", aug)
        .withColumn("pc", graft.ops.TrainingOps.piiCounts(col("t")))
        .select(col("doc_id"),
          graft.ops.TrainingOps.redactPii(col("t")).as("redacted"),
          col("pc.n_email").as("n_email"),
          col("pc.n_ip").as("n_ip"),
          col("pc.n_num").as("n_num"))
        .orderBy("doc_id")
    }),

    // URL canonicalization (ops/WebArchive.canonicalizeUrl): collapse
    // the surface forms a crawl emits (case, default port, fragment,
    // tracking params, param order, trailing slash) to the dedup/join
    // key, plus the registered-domain grouping key. The URL grid is
    // derived from doc_id so every normalization branch is exercised
    // and value-checked.
    "q152_url_canon" -> ((s, dir) => {
      val url = concat(
        lit("HTTPS://WWW.Example"), (col("doc_id") % 7).cast("string"),
        lit(".COM"),
        when(col("doc_id") % 3 === 0, ":443").otherwise(""),
        lit("/Path/"), col("doc_id").cast("string"),
        when(col("doc_id") % 2 === 0, "/").otherwise(""),
        lit("?utm_source=feed&b="), (col("doc_id") % 5).cast("string"),
        lit("&a=1"),
        when(col("doc_id") % 4 === 0, "&fbclid=XYZ").otherwise(""),
        lit("#frag"))
      docs(s, dir)
        .withColumn("u", url)
        .select(col("doc_id"),
          graft.ops.WebArchive.canonicalizeUrl(col("u")).as("canon_url"),
          graft.ops.WebArchive.urlDomain(col("u")).as("domain"))
        .orderBy("doc_id")
    }),

    // Salted inner join (ops/Skew.saltedJoin): the hot-key spreading
    // pattern for joining a skewed fact against a non-broadcastable
    // dim. Salting only re-routes rows, so the JOIN RESULT is
    // salt-independent — aggregating it must equal the plain join,
    // which IS the DuckDB oracle: a replication bug (a row meeting the
    // dim 0 or 2 times) breaks both counts and sums.
    "q153_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_suppkey"), col("l_quantity"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.ops.Skew.saltedJoin(li, sup, "l_suppkey", saltFactor = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("s_nationkey")
    }),

    // Two-phase salted aggregation (ops/Skew.saltedAgg): partial agg on
    // (key, salt), final on key — the manual map-side-combine form for
    // hot keys. l_returnflag has 3 values over 600k rows (real skew).
    // Partial sums/counts re-aggregate exactly, so the result equals
    // the direct group-by, replayed in DuckDB.
    "q154_salted_agg" -> ((s, dir) => {
      graft.ops.Skew.saltedAgg(
          t(s, dir, "lineitem")
            .select(col("l_returnflag"), col("l_quantity")),
          "l_returnflag", saltFactor = 16,
          partialAggs = Seq(
            count(lit(1)).as("pn"),
            sum(col("l_quantity").cast("decimal(18,2)")).as("psum")),
          finalAggs = Seq(
            sum(col("pn")).cast("long").as("n"),
            sum(col("psum")).cast("double").as("sum_qty")))
        .orderBy("l_returnflag")
    }),

    // Rule-based quality gate (ops/TrainingOps.qualityRules): the
    // published Gopher heuristics — word-count window, mean word
    // length, alphabetic-word fraction, stopword presence — as one
    // codegen'd hash aggregate. Signals are exact integer sums divided
    // once, so every signal AND every rule boolean replays in DuckDB.
    "q155_quality_rules" -> ((s, dir) => {
      graft.ops.TrainingOps.qualityRules(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("alpha_frac"), col("n_stop"), col("ok_words"),
          col("ok_mean_len"), col("ok_alpha"), col("ok_stop"), col("keep"))
        .orderBy("doc_id")
    }),

    // The FULL published Gopher rule set over deterministically
    // augmented multi-line text (the fixture corpus is single-line, so
    // line/paragraph-shaped rules would sit untested on raw text — the
    // q151 pattern: derive text that exercises every rule BOTH ways
    // from doc_id arithmetic, replayed identically in SQL). Signals:
    // symbol-to-word ratios (#, ...), bullet-line and ellipsis-line
    // fractions, duplicate-line/paragraph fractions by count and by
    // character mass, plus the original four — every signal and every
    // boolean hash-checked at paper-default thresholds.
    "q161_quality_full" -> ((s, dir) => {
      val aug = when(col("doc_id") % 13 === 0,
        lit("- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j\n- k\nplain closing line"))
        .otherwise(concat(
          col("text"),
          lit("\n- alpha point\n- beta point"),
          when(col("doc_id") % 4 === 0,
            lit("\n- duplicated filler line carrying plenty of characters" * 4))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            lit("\nto be continued...\nmore to come...\nfinal thought..."))
            .otherwise(lit("")),
          when(col("doc_id") % 9 === 0, lit("\n" + ("wait... " * 12)))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("\n" + ("# " * 12)))
            .otherwise(lit("")),
          lit("\n\nclosing paragraph with plenty of characters to trip the duplicate mass threshold"),
          when(col("doc_id") % 6 === 0,
            lit("\n\nclosing paragraph with plenty of characters to trip the duplicate mass threshold"))
            .otherwise(lit(""))))
      graft.ops.TrainingOps.qualityRules(
          docs(s, dir).select(col("doc_id"), aug.as("text")), "doc_id", "text")
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("alpha_frac"), col("n_stop"), col("hash_ratio"),
          col("ellipsis_ratio"), col("bullet_frac"),
          col("ellipsis_line_frac"), col("dup_line_frac"),
          col("dup_line_char_frac"), col("dup_para_frac"),
          col("dup_para_char_frac"), col("ok_words"), col("ok_mean_len"),
          col("ok_alpha"), col("ok_stop"), col("ok_symbols"),
          col("ok_bullet"), col("ok_ellipsis_lines"), col("ok_dup_lines"),
          col("ok_dup_paras"), col("keep"))
        .orderBy("doc_id")
    }),

    // The COMPOSED training-data pipeline in ONE declarative plan —
    // quality gate -> exact dedup (keep first fingerprint) -> benchmark
    // decontamination (anti-join on shared 3-grams) -> token sizing ->
    // sequence packing into 256-token bins across 4 shards. Each stage
    // is an op verified alone (q155/q80/q111/q112); this query pins the
    // COMPOSITION: Catalyst fuses the whole thing into one lineage
    // (scan once, no driver round-trips) and the oracle replays every
    // stage in SQL, so a subtle contract mismatch between stages (e.g.
    // a stage changing dedup's tie-break or the token definition)
    // breaks the hash even though every stage passes its own check.
    "q160_pipeline_e2e" -> ((s, dir) => {
      val d = docs(s, dir)
      val keepers = graft.ops.TrainingOps.qualityRules(d, "doc_id", "text")
        .filter(col("keep")).select("doc_id")
      val kept = d.join(keepers, "doc_id")
      val wDedup = Window.partitionBy("fp").orderBy("doc_id")
      val deduped = kept
        .withColumn("fp", md5(col("text").cast("binary")))
        .withColumn("rn", row_number().over(wDedup))
        .filter(col("rn") === 1)
        .select("doc_id", "text")
      // contamination = >= 8 shared distinct 3-grams (a THRESHOLD, as
      // real decontamination runs use: single-gram collisions are
      // vocabulary noise, a run of shared grams is benchmark text)
      val contaminated = graft.ops.TrainingOps.ngramOverlap(
          deduped.filter(col("doc_id") % 37 =!= 0), "doc_id", "text",
          d.filter(col("doc_id") % 37 === 0), "text", n = 3)
        .filter(col("n_shared_grams") >= 8)
      val clean = deduped.filter(col("doc_id") % 37 =!= 0)
        .join(contaminated.select("doc_id"), Seq("doc_id"), "left_anti")
      val sized = clean.select(col("doc_id"),
          size(graft.ops.TextDedup.tokensOf(col("text"))).cast("long")
            .as("n_tokens"))
        .withColumn("shard", (col("doc_id") % 4).cast("int"))
      graft.ops.TrainingOps.packSequences(sized, "doc_id", "n_tokens",
          capacity = 256, shardCol = Some("shard"))
        .select("doc_id", "shard", "n_tokens", "cum_tokens", "bin")
        .orderBy("doc_id")
    }),

    // Per-document top-3 characteristic terms by tf-idf
    // (ops/TrainingOps.tfidfTopTerms): ONE corpus explode feeds both
    // the (doc, term) tf aggregate and the term df aggregate; the
    // rational idf (N+1)/(df+1) keeps ranking identical to the log
    // form while replaying bit-identically cross-engine. Every rank,
    // count and score hash-matched.
    "q165_tfidf_top_terms" -> ((s, dir) => {
      graft.ops.TrainingOps.tfidfTopTerms(docs(s, dir), "doc_id", "text",
          k = 3)
        .orderBy("doc_id", "rank")
    }),

    // Deterministic train/val/test split (ops/TrainingOps.hashSplit):
    // md5-prefix thresholds over (id # salt) — reproducible across
    // runs, partitionings, engines and corpus growth (an added doc
    // can never move an existing doc's split — the leakage property
    // a RNG-based split silently lacks). 14/16 - 1/16 - 1/16 exact
    // binary fractions; every assignment hash-matched.
    "q163_hash_split" -> ((s, dir) => {
      graft.ops.TrainingOps.hashSplit(
          docs(s, dir).select(col("doc_id")), "doc_id",
          Seq("train" -> 0.875, "val" -> 0.0625, "test" -> 0.0625),
          salt = "exp1")
        .orderBy("doc_id")
    }),

    // Corpus mixing (ops/TrainingOps.mixCorpus): fractional per-source
    // sampling weights — src3 x2.5 (two full copies + a hash-selected
    // half), src7 x0.25 (quarter downsample), src11 x0 (excluded),
    // rest x1.0. Weights are exact binary fractions so the md5-prefix
    // threshold replays bit-identically in DuckDB.
    "q159_corpus_mix" -> ((s, dir) => {
      graft.ops.TrainingOps.mixCorpus(
          docs(s, dir).select(col("doc_id"), col("source")),
          "doc_id", "source",
          Map("src3" -> 2.5, "src7" -> 0.25, "src11" -> 0.0))
        .select(col("doc_id"), col("source"), col("copy_idx"))
        .orderBy("doc_id", "copy_idx")
    }),

    // Snapshot diff (ops/TrainingOps.snapshotDiff): two deterministic
    // "crawl snapshots" derived from the corpus — the old one drops
    // doc_id % 11 == 0 (so those read as added), the new one drops
    // doc_id % 13 == 0 (removed) and rewrites text for doc_id % 5 == 0
    // (changed) — classified by md5 fingerprint through one full outer
    // join. Every status branch is exercised and the whole
    // classification replays in SQL.
    "q158_snapshot_diff" -> ((s, dir) => {
      val d = docs(s, dir)
      val oldSnap = d.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      val newSnap = d.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).cast("binary")).as("fp"))
      graft.ops.TrainingOps.snapshotDiff(oldSnap, newSnap, "doc_id", "fp")
        .orderBy("doc_id")
    }),

    // Z-order layout key (ops/Layout.zValue2): the Morton interleave
    // that clusters a 2-D key space so parquet min/max stats prune 2-D
    // predicates to O(box perimeter) files (Layout.zorder applies it
    // via repartitionByRange + local sort; the contiguity and
    // partition-pruning properties are LayoutSpec laws). The key math
    // is pure integer arithmetic, hash-checked here against DuckDB's
    // replay of the same closed form.
    "q157_zorder_key" -> ((s, dir) => {
      val x = (col("o_custkey") % 512).cast("int")
      val y = ((col("o_orderkey") * 7) % 512).cast("int")
      t(s, dir, "orders")
        .select(col("o_orderkey"), x.as("x"), y.as("y"),
          graft.ops.Layout.zValue2(x, y, bits = 9).as("z"))
        .orderBy("o_orderkey")
        .limit(2000)
    }),

    // CUBE over (lang, source): the full coverage matrix incl. margins.
    "q82_cube" -> ((s, dir) => {
      docs(s, dir)
        .cube("lang", "source")
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("chars"))
        .orderBy(asc_nulls_first("lang"), asc_nulls_first("source"))
    }),

    // Exact interpolated percentiles of document length per language.
    "q83_percentiles" -> ((s, dir) => {
      docs(s, dir)
        .groupBy("lang")
        .agg(
          round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
          round(expr("percentile(n_chars, 0.9)"), 4).as("p90"),
          round(expr("percentile(n_chars, 0.99)"), 4).as("p99"))
        .orderBy("lang")
    }),

    // Approximate quantiles — the sketch path a 100 TB column actually
    // uses (exact percentile holds every value per group in memory;
    // approx_percentile's KLL-style sketch is fixed-size and
    // merge-combinable, so the shuffle carries sketches, not values).
    // The gate stays EXACT: the query require's the sketch answer
    // within rank tolerance of the exact percentile per group (the
    // accuracy contract approx_percentile documents), then RETURNS the
    // exact values so the driver hash-matches them — the law rides in
    // the require, the hash rides on replayable math.
    "q166_approx_quantiles" -> ((s, dir) => {
      val d = docs(s, dir)
      val joined = d.groupBy("lang")
        .agg(
          expr("percentile(n_chars, array(0.5, 0.9, 0.99))").as("exact"),
          expr("approx_percentile(n_chars, array(0.5, 0.9, 0.99), 10000)")
            .as("approx"),
          count(lit(1)).as("n"),
          min("n_chars").as("lo"), max("n_chars").as("hi"))
        .collect()
      joined.foreach { r =>
        val exact = r.getSeq[Double](1)
        val approx = r.getSeq[Long](2).map(_.toDouble)
        val spreadTol = (r.getLong(5) - r.getLong(4)).toDouble * 0.05 + 1.0
        exact.zip(approx).foreach { case (e, a) =>
          require(math.abs(e - a) <= spreadTol,
            s"approx_percentile outside tolerance for lang ${r.getString(0)}: exact=$e approx=$a tol=$spreadTol")
        }
      }
      d.groupBy("lang")
        .agg(
          round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
          round(expr("percentile(n_chars, 0.9)"), 4).as("p90"),
          round(expr("percentile(n_chars, 0.99)"), 4).as("p99"),
          count(lit(1)).as("n"))
        .orderBy("lang")
    }),

    // ntile quartiles by length per language -> bucket histogram.
    "q84_ntile" -> ((s, dir) => {
      val w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
      docs(s, dir)
        .withColumn("q", ntile(4).over(w).cast("long"))
        .groupBy("lang", "q")
        .agg(count(lit(1)).as("n"), max(col("n_chars")).as("max_chars"))
        .orderBy("lang", "q")
    }),

    // Anti-membership via EXCEPT: customers with no high-value order.
    "q85_set_ops" -> ((s, dir) => {
      t(s, dir, "customer").select(col("c_custkey").as("k"))
        .except(t(s, dir, "orders")
          .filter(col("o_totalprice") > 200000)
          .select(col("o_custkey").as("k")))
        .orderBy("k")
        .limit(2000)
    }),

    // Scalar conditional battery: least/greatest/nullif/coalesce.
    "q86_least_greatest" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber").cast("long").as("ln"),
          least(col("l_quantity"), col("l_discount") * 100).as("lo"),
          greatest(col("l_quantity"), col("l_tax") * 100).as("hi"),
          coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("rf"))
        .orderBy("l_orderkey", "ln")
        .limit(2000)
    }),

    // Fixed-width histogram binning of order value.
    "q87_histogram" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(floor(col("o_totalprice") / 20000).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bin")
    }),

    // Vocabulary top-k: explode tokens -> count -> topk. Map-side
    // partial aggregation collapses the token stream before the
    // shuffle; TakeOrdered keeps the result exchange at k rows.
    "q88_top_tokens" -> ((s, dir) => {
      docs(s, dir)
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("token"))
        .limit(50)
    }),

    // Per-language share of the corpus (exact ratio via window-free
    // cross join with the 1-row total — broadcast, no second shuffle).
    "q89_lang_coverage" -> ((s, dir) => {
      val d = docs(s, dir)
      val total = d.agg(count(lit(1)).as("total"))
      d.groupBy("lang").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(total))
        .select(col("lang"), col("n"),
          round(col("n").cast("double") / col("total"), 6).as("share"))
        .orderBy("lang")
    }),

    // RANGE-frame window: trailing-30-day order count per customer
    // (value-based frame, not row-based).
    "q91_range_frame" -> ((s, dir) => {
      val d = datediff(col("o_orderdate").cast("date"), lit("1990-01-01").cast("date"))
      val w = Window.partitionBy("o_custkey").orderBy("d")
        .rangeBetween(-30, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("d", d.cast("long"))
        .withColumn("n_30d", count(lit(1)).over(w))
        .select("o_orderkey", "o_custkey", "n_30d")
        .orderBy("o_custkey", "o_orderkey")
        .limit(2000)
    }),

    // first_value / last_value over the full partition frame.
    "q92_first_last" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .withColumn("first_price", first(col("o_totalprice")).over(w))
        .withColumn("last_price", last(col("o_totalprice")).over(w))
        .select("o_orderkey", "o_custkey", "first_price", "last_price")
        .orderBy("o_custkey", "o_orderkey")
        .limit(2000)
    }),

    // Longest-doc-per-source via row_number (top-1-per-group pattern).
    "q90_argmax_per_group" -> ((s, dir) => {
      val w = Window.partitionBy("source")
        .orderBy(desc("n_chars"), asc("doc_id"))
      docs(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .orderBy("source")
    }),

    // Tokenizer APPLICATION to sequences (ops/TrainingOps.
    // bpeTokenSpans): the materialized (doc, word, subword) token
    // table under the q189-learned rules — what a training pipeline
    // actually feeds the model builder, where q190 returns counts
    // only. The DECODE law — concatenating a word's tokens in order
    // reproduces the word, for EVERY word type in the corpus — is
    // require'd in-query (tokenization loses and invents nothing);
    // the emitted table is a doc_id % 13 slice (the full table is
    // every token of every doc — output discipline, not a compute
    // trim; the law runs on the full lexicon).
    "q204_bpe_detok" -> ((s, dir) => {
      val spans = graft.ops.TrainingOps.bpeTokenSpans(
        docs(s, dir), "doc_id", "text",
        bpeRules(s, dir).map(m => (m._2, m._3)))
      val badDecodes = spans.select("w", "tok_pos", "token").distinct()
        .groupBy("w")
        .agg(concat_ws("", transform(
          array_sort(collect_list(struct(col("tok_pos"), col("token")))),
          x => x.getField("token"))).as("decoded"))
        .filter(col("decoded") =!= col("w")).count()
      require(badDecodes == 0L,
        s"BPE decode law violated for $badDecodes word types — " +
          "tokenization must reproduce every word exactly")
      spans.filter(col("doc_id") % 13 === 0)
        .select(col("doc_id"), col("word_pos"), col("w"),
          col("tok_pos"), col("token"))
        .orderBy("doc_id", "word_pos", "tok_pos")
    }),

    // BYTE-LEVEL BPE (ops/TrainingOps.byteBpeMerges/byteBpeTokenSpans;
    // Radford et al. 2019's GPT-2 convention, RE2-safe pre-tokenizer
    // variant): NOTHING is out-of-vocabulary — pre-tokens are hashed
    // to their UTF-8 bytes as display units and the q189 merge engine
    // runs over that 256-way alphabet. TWO laws are require'd
    // in-query over the FULL corpus/lexicon before the output slice:
    // the pre-tokenizer TILES (concatenating a doc's pre-tokens
    // reproduces its text exactly), and the BYTE DECODE law
    // (concatenating a pre-token's tokens and inverting the unit map
    // reproduces the pre-token's exact bytes — tokens may split
    // multi-byte codepoints; only the concatenation must decode).
    // The oracle replays learn + tokenize chain-for-chain in DuckDB.
    "q217_byte_bpe" -> ((s, dir) => {
      val rules = learnByteBpeRules(s, dir) // full learn each execution
      // docsPar (r20): the tile-law count and the token-span pass walk
      // every BYTE of the corpus; over the bare 1-partition fixture
      // scan each ran as one 2.3 s task with 31 cores idle (profiled)
      val d = docsPar(s, dir)
      val badTile = d.select(col("text"), concat_ws("",
          graft.ops.TrainingOps.bytePretokens(col("text"))).as("r"))
        .filter(col("r") =!= col("text")).count()
      require(badTile == 0L,
        s"byte pre-tokenizer failed to tile $badTile documents — " +
          "the byte decode law has no foundation")
      val spans = graft.ops.TrainingOps.byteBpeTokenSpans(
        d, "doc_id", "text", rules)
      val badDecodes = spans
        .select("w0", "tok_pos", "token").distinct()
        .groupBy("w0")
        .agg(concat_ws("", transform(
          array_sort(collect_list(struct(col("tok_pos"), col("token")))),
          x => x.getField("token"))).as("dec_units"))
        .filter(graft.ops.TrainingOps.byte_units_decode(col("dec_units"))
          =!= col("w0") ||
          graft.ops.TrainingOps.byte_units_decode(col("dec_units")).isNull)
        .count()
      require(badDecodes == 0L,
        s"byte-level BPE decode law violated for $badDecodes pre-token " +
          "types — tokens must concatenate back to the exact bytes")
      spans.filter(col("doc_id") % 13 === 0)
        .select(col("doc_id"), col("pretok_pos"), col("w0"), col("w"),
          col("tok_pos"), col("token"))
        .orderBy("doc_id", "pretok_pos", "tok_pos")
    }),

    // Byte-level token IDS (ops/TrainingOps.byteBpeVocab/
    // byteBpeEncodeIds) — the vocabulary artifact a training pipeline
    // actually feeds the model builder: ids 0..255 = byte units in
    // byte order, then one id per merge in rule order (GPT-2's
    // construction). The coverage law — the vocab lookup can NEVER
    // miss, because every emittable token is a base unit or some
    // merge's fusion — is require'd in-query over the FULL corpus;
    // the oracle reconstructs every id from the replayed merge chain
    // (fused: 255 + merge index; base: the unit's byte value).
    "q220_byte_bpe_ids" -> ((s, dir) => {
      val rules = byteBpeMemo.getOrElse(dir, learnByteBpeRules(s, dir))
      // docsPar (r20): same per-byte pass rationale as q217
      val ids = graft.ops.TrainingOps.byteBpeEncodeIds(
        docsPar(s, dir), "doc_id", "text", rules)
      val misses = ids.filter(col("token_id").isNull).count()
      require(misses == 0L,
        s"byte-BPE vocabulary lookup missed $misses tokens — the " +
          "vocab must cover every emittable token by construction")
      ids.filter(col("doc_id") % 13 === 0)
        .select(col("doc_id"), col("pretok_pos"), col("tok_pos"),
          col("token"), col("token_id"))
        .orderBy("doc_id", "pretok_pos", "tok_pos")
    }),

    // BYTE-level token counts feeding the packing stage (r14 Next #8):
    // the q112 sequence-packing composition with the PRODUCTION
    // tokenizer — per-doc counts from byteBpeTokenSpans under the
    // q217 rule set, packed into 512-token bins per hash shard. The
    // oracle replays the full byte chain (learn + lexicon + per-doc
    // token sums) and the window packing in DuckDB, so the byte
    // tokenizer's counts are pinned INSIDE a downstream composition,
    // not just standalone. Scale shape: the spans explode + broadcast
    // lexicon join is map-only; the pack is one shuffle on the shard
    // key (q112's parallel-window layout).
    "q225_byte_pack_e2e" -> ((s, dir) => {
      val rules = byteBpeMemo.getOrElse(dir, learnByteBpeRules(s, dir))
      // bare read, NOT docsPar (r20 A/B: the span pass aggregates to
      // per-doc counts immediately and the added exchange measured
      // 3.5/3.6 -> 3.8/4.4 s isolated — the small-entry tax again)
      val counts = graft.ops.TrainingOps.byteBpeTokenSpans(
          docs(s, dir), "doc_id", "text", rules)
        .groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
        .withColumn("shard", (col("doc_id") % 8).cast("int"))
      graft.ops.TrainingOps.packSequences(counts, "doc_id", "n_tokens",
          capacity = 512, shardCol = Some("shard"))
        .select("doc_id", "shard", "n_tokens", "cum_tokens", "bin")
        .orderBy("doc_id")
    }),

    // KMV/Theta overlap sizing (ops/Sketches.kmvSketch/kmvOverlap —
    // Bar-Yossef et al. 2002, Beyer et al. SIGMOD'07, the theta set
    // algebra): per-language token-BIGRAM overlap between the two
    // doc_id % 2 corpus halves, estimated from two k=256 sketches —
    // the sketch-level answer to "how contaminated is corpus B by
    // corpus A" that HLL cannot give (max-merged registers have no
    // intersection). Bigram vocabulary is 700-900 per (lang, half)
    // at sf0.01, so the theta estimator path (k-th-smallest
    // threshold, not the exact under-k regime) is exercised on every
    // group. In-query sanity law: estimates within the 3-4 sigma
    // band of the EXACT overlap, computed alongside; the oracle
    // replays the ENTIRE pipeline — md5 hashes, rank-k retention,
    // theta min, sample counts, the two final divisions — in DuckDB.
    "q228_kmv_overlap" -> ((s, dir) => {
      val bg = sharedBigrams(s, dir)
      val exA = bg.filter(col("__in_a")).select("lang", "bg")
      val exB = bg.filter(col("__in_b")).select("lang", "bg")
      locally {
        val ov = graft.ops.Sketches.kmvOverlap(
          graft.ops.Sketches.kmvSketch(exA, Seq("lang"), "bg", k = 256),
          graft.ops.Sketches.kmvSketch(exB, Seq("lang"), "bg", k = 256),
          Seq("lang"))
        // exact counts as ONE pass over the staged flag table (r19 —
        // was per-side groupBys + an inner join re-keyed on
        // (lang, bg)); the >0 filters reproduce the former inner-join
        // semantics exactly (a language missing a side or with an
        // empty intersection produced no row there)
        val exact = bg.groupBy("lang").agg(
            sum(when(col("__in_a"), 1L).otherwise(0L)).as("__exa"),
            sum(when(col("__in_b"), 1L).otherwise(0L)).as("__exb"),
            sum(when(col("__in_a") && col("__in_b"), 1L).otherwise(0L))
              .as("__exi"))
          .filter(col("__exa") > 0 && col("__exb") > 0 && col("__exi") > 0)
        val rows = ov.join(exact, "lang")
          .orderBy("lang").collect()
        rows.foreach { r =>
          val lang = r.getString(0)
          val (na, nb, ni) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
          val (exa, exb, exi) = (r.getLong(5), r.getLong(6), r.getLong(7))
          require(math.abs(na - exa) / exa <= 0.30 &&
              math.abs(nb - exb) / exb <= 0.30,
            s"KMV distinct estimate outside 3-4 sigma for $lang: " +
              s"n_a=$na/$exa n_b=$nb/$exb")
          require(math.abs(ni - exi) / math.max(exi, 1L) <= 0.60,
            s"theta intersection estimate outside band for $lang: " +
              s"n_inter=$ni exact=$exi")
        }
        val sess = s
        import sess.implicits._
        rows.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
            r.getDouble(3), r.getDouble(4))).toSeq
          .toDF("lang", "__na", "__nb", "__ni", "__j")
          .select(col("lang"), round(col("__na"), 4).as("n_a"),
            round(col("__nb"), 4).as("n_b"),
            round(col("__ni"), 4).as("n_inter"),
            round(col("__j"), 6).as("jaccard_kmv"))
          .orderBy("lang")
      }
    }),

    // Theta set-DIFFERENCE sizing (ops/Sketches.kmvDifference — the
    // A-not-B estimator of the theta framework): per-language bigram
    // |A ∖ B|, |B ∖ A| and |A ∩ B| between the two corpus halves from
    // the same k=256 sketches as q228 — "how much of this crawl is
    // NEW against the last one", which kmvOverlap's intersection alone
    // cannot answer. In-query sigma-band law against the EXACT set
    // differences computed alongside; the oracle replays the whole
    // pipeline (hashes, rank-k retention, theta, EXCEPT counts, the
    // scaled divisions) in DuckDB.
    "q230_kmv_difference" -> ((s, dir) => {
      val bg = sharedBigrams(s, dir)
      val exA = bg.filter(col("__in_a")).select("lang", "bg")
      val exB = bg.filter(col("__in_b")).select("lang", "bg")
      val d = graft.ops.Sketches.kmvDifference(
        graft.ops.Sketches.kmvSketch(exA, Seq("lang"), "bg", k = 256),
        graft.ops.Sketches.kmvSketch(exB, Seq("lang"), "bg", k = 256),
        Seq("lang"))
      // exact set sizes as ONE pass over the staged flag table (r19 —
      // was two left-anti joins + an inner join re-keyed on
      // (lang, bg)); a language whose halves share ALL bigrams gets
      // __exao = 0 from the flag sum directly (the r16 ADVICE zero
      // the left-anti spelling needed LEFT joins + COALESCE for), and
      // the LEFT join from the theta frame keeps exactly d's languages
      val exact = d.select("lang")
        .join(bg.groupBy("lang").agg(
            sum(when(col("__in_a") && !col("__in_b"), 1L).otherwise(0L))
              .as("__exao"),
            sum(when(col("__in_b") && !col("__in_a"), 1L).otherwise(0L))
              .as("__exbo"),
            sum(when(col("__in_a") && col("__in_b"), 1L).otherwise(0L))
              .as("__exi")), Seq("lang"), "left")
        .select(col("lang"), coalesce(col("__exao"), lit(0L)).as("__exao"),
          coalesce(col("__exbo"), lit(0L)).as("__exbo"),
          coalesce(col("__exi"), lit(0L)).as("__exi"))
      val rows = d.join(exact, "lang").orderBy("lang").collect()
      require(rows.nonEmpty, "no languages on both corpus halves")
      rows.foreach { r =>
        val lang = r.getString(0)
        val (ao, bo, ni) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
        val (exao, exbo, exi) = (r.getLong(4), r.getLong(5), r.getLong(6))
        // ABSOLUTE sigma band, not relative: a theta-sampled count's
        // std is ~sqrt(true/scale), so the SCALED estimate's std is
        // ~sqrt(true x scale) with scale = 2^52/θ ≈ max(|side|)/k —
        // for a tiny true difference (the halves of one language
        // share almost all bigrams) the relative error is dominated
        // by the one-sample quantization unit `scale`, which a
        // relative band mislabels as failure (r16: de at sf0.1 has
        // |A∖B| = 7 with scale ≈ 11). scale derives exactly from the
        // exact counts: A = (A∖B) ∪ (A∩B) partitions A.
        val va = exao + exi
        val vb = exbo + exi
        val s256 = math.max(1.0, math.max(va, vb) / 256.0)
        def band(ex: Long): Double =
          4.0 * math.sqrt(math.max(ex, 1L) * s256) + s256
        require(math.abs(ao - exao) <= band(exao) &&
            math.abs(bo - exbo) <= band(exbo),
          s"theta difference estimate outside the 4-sigma band for " +
            s"$lang: a_only=$ao/$exao b_only=$bo/$exbo scale=$s256")
        require(math.abs(ni - exi) <= band(exi),
          s"theta intersection estimate outside the 4-sigma band for " +
            s"$lang: n_inter=$ni exact=$exi scale=$s256")
        // non-vacuity: the law must have compared a real side
        require(va > 0, s"vacuous difference law for $lang")
      }
      val sess = s
      import sess.implicits._
      rows.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
          r.getDouble(3))).toSeq
        .toDF("lang", "__ao", "__bo", "__ni")
        .select(col("lang"), round(col("__ao"), 4).as("n_a_only"),
          round(col("__bo"), 4).as("n_b_only"),
          round(col("__ni"), 4).as("n_inter"))
        .orderBy("lang")
    }),

    // DSIR data selection (ops/TrainingOps.dsirWeights/dsirResample,
    // Xie et al. NeurIPS 2023): importance weights from hashed
    // unigram+bigram bucket profiles of a small target corpus
    // (doc_id % 37, the q111 benchmark convention) vs the raw rest,
    // then a deterministic Gumbel top-k resample — the published
    // select-web-data-like-the-target method as one engine pass. The
    // B-row ratio table replays bucket for bucket in DuckDB (md5
    // hashing, all-integer smoothing, micro-unit log-ratio rounding),
    // so weights AND the resampled ranking hash-match end to end. At
    // 100 TB the ratio table is 4096 rows regardless of corpus size,
    // broadcast; the raw side pays one map-only explode + combinable
    // long-sum shuffle of (id, partial) pairs.
    "q205_dsir_select" -> ((s, dir) => {
      val w = dsirWeightsMemo(s, dir)
      graft.ops.TrainingOps
        .dsirResample(w, "doc_id", "dsir_logw", n = 50, salt = "dsir")
        .withColumn("smp_rank", row_number().over(
          Window.orderBy(col("samp_key").desc, col("doc_id"))))
        .select(col("doc_id"), col("n_grams"), col("dsir_logw"),
          round(col("samp_key"), 6).as("samp_key"), col("smp_rank"))
        .orderBy("smp_rank")
    }),

    // Per-group weighted sampling (ops/TrainingOps.
    // weightedSamplePerGroup): n docs PER LANGUAGE with inclusion
    // odds by length — the stratified curation draw of a mixture
    // pipeline (q81 uniform global, q109 uniform stratified, q188
    // weighted global; this completes the grid). The per-group top-n
    // runs through the bounded TopKAgg heap (k rows per group per
    // partition through the one shuffle), NOT a row_number window —
    // the oracle IS that window, so the plan swap is verified
    // equivalent on every run.
    "q206_group_weighted_sample" -> ((s, dir) => {
      graft.ops.TrainingOps.weightedSamplePerGroup(
          docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
          "doc_id", "n_chars", Seq("lang"), nPerGroup = 20,
          salt = "graftw")
        .select(col("lang"), col("smp_rank"), col("doc_id"),
          round(col("samp_key"), 6).as("samp_key"))
        .orderBy("lang", "smp_rank")
    }),

    // STREAMING DSIR scoring (ops/TrainingOps.dsirScoreProbe): the
    // q205 importance weight as a stateless per-row expression — the
    // B-entry micro-ratio table rides inside the expression (4096
    // longs), so an ingest stream scores with a pure map: no state,
    // no watermark, no shuffle. Three id-ordered micro-batches on the
    // doc_id % 3 = 1 stratum (the q193 treatment — the probe is
    // per-row stateless, probe == batch is spec-pinned, so stream ==
    // batch on any row subset by construction; the stream leg
    // exercises the micro-batch plumbing); output require'd == the
    // batch scorer both directions. Oracle = the q205 weight chain
    // for the full raw corpus.
    "q209_streaming_dsir" -> ((s, dir) => {
      val (raw, target) = dsirFixture(s, dir)
      val probe = graft.ops.TrainingOps.dsirScoreProbe(raw, target, "text")
      val streamDocs = raw.filter(col("doc_id") % 3 === 1)
      val (tmp, src) = StreamFixtures.writeIdOrderedMicroBatches(
        streamDocs, "doc_id", "q209")
      try {
        val stream = s.readStream.schema(raw.schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
        val q = stream.select(col("doc_id"), probe(col("text")).as("p"))
          .select(col("doc_id"), col("p.n_grams").as("n_grams"),
            col("p.dsir_logw").as("dsir_logw"))
          .writeStream.outputMode("append")
          .format("memory").queryName("q209out").start()
        try q.processAllAvailable() finally q.stop()
        // gramless docs probe (0, 0.0) where the batch op omits the
        // row — the documented asymmetry; align before comparing
        val streamed = s.table("q209out").filter(col("n_grams") > 0)
        val batch = dsirWeightsMemo(s, dir)
        val batchStrat = batch.filter(col("doc_id") % 3 === 1)
        require(Pins.multiset(streamed, batchStrat).diff.total == 0L,
          "streaming DSIR diverged from the batch scorer on the " +
            "doc stratum")
        batch.orderBy("doc_id")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    }),

    // The SELECTION PIPELINE end to end, one declarative pass — the
    // round-13 capstone composition: exact dedup (md5 keep-first) ->
    // quality gate (length floor) -> DSIR importance weights vs the
    // %37 benchmark target -> per-LANGUAGE Gumbel top-10 (the without-
    // replacement draw in log space, stratified through the bounded
    // TopKAgg heap). Every stage is an existing proven operator; this
    // entry pins their COMPOSITION against a single DuckDB replay of
    // the whole chain. At 100 TB: dedup shuffles digests, the gate is
    // a map, the ratio table broadcasts at 4096 rows, the draw
    // shuffles k rows per (lang, partition).
    "q213_selection_e2e" -> ((s, dir) => {
      val d = docs(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      val w = Window.partitionBy(md5(col("text").cast("binary")))
        .orderBy("doc_id")
      val deduped = d.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      val kept = deduped.filter(col("n_chars") >= 100)
      val target = kept.filter(col("doc_id") % 37 === 0)
      val raw = kept.filter(col("doc_id") % 37 =!= 0)
      val weights = graft.ops.TrainingOps.dsirWeights(
        raw, target, "doc_id", "text")
      val bits = conv(substring(
          md5(concat_ws("|", col("doc_id"), lit("sel"))), 1, 13), 16, 10)
        .cast("long").cast("double")
      val u = (bits + lit(0.5)) / lit(4503599627370496.0)
      weights
        .join(raw.select(col("doc_id"), col("lang")), "doc_id")
        .withColumn("__key", col("dsir_logw") - log(-log(u)))
        .groupBy("lang")
        .agg(graft.functions.TopKAgg.topKByScore(
          col("__key"), col("doc_id"), 10).as("__top"))
        .select(col("lang"),
          posexplode(col("__top")).as(Seq("__pos", "__e")))
        .select(col("lang"), (col("__pos") + 1).cast("int").as("smp_rank"),
          col("__e.id").as("doc_id"),
          round(col("__e.score"), 6).as("samp_key"))
        .orderBy("lang", "smp_rank")
    }),

    // Rendezvous (HRW) shard assignment (ops/Layout.rendezvousShard —
    // Thaler & Ravishankar 1998): argmax over shards of
    // md5(shard#key), hex compared lexicographically (monotone — the
    // hashSplit convention). THE law an incremental warehouse needs
    // and mod-N cannot give, require'd in-query: scaling 5 -> 6
    // shards relocates keys ONLY onto the new shard (expected 1/6 of
    // them), every other assignment is untouched — so shard-state
    // rebuilds are O(1/n) of the corpus on scale-out. Pure map over
    // a shard-count literal: no shuffle, streaming-safe; both
    // assignments replay in DuckDB as md5 rank-1 windows.
    "q210_rendezvous_shards" -> ((s, dir) => {
      val shards = (0 until 5).map(i => s"s$i")
      val d = docs(s, dir).select(col("doc_id"))
      val both = d.select(col("doc_id"),
        graft.ops.Layout.rendezvousShard(col("doc_id"), shards)
          .as("shard5"),
        graft.ops.Layout.rendezvousShard(col("doc_id"), shards :+ "s5")
          .as("shard6"))
      val moved = both.filter(col("shard5") =!= col("shard6"))
        .filter(col("shard6") =!= "s5").count()
      require(moved == 0L,
        s"rendezvous minimal-disruption law violated: $moved keys " +
          "relocated between surviving shards on scale-out")
      both.select(col("doc_id"), col("shard5"), col("shard6"),
          (col("shard5") =!= col("shard6")).as("moved"))
        .orderBy("doc_id")
    })
  )

  /** Count-min cell of `tok` in row `d.r`: 1024 md5-keyed buckets. */
  private def cmBucketSql(tok: String): String =
    s"CAST(concat('0x', substring(md5(d.r || '#' || $tok), 1, 13)) AS BIGINT) % 1024 AS bucket"

  /** The 20 most frequent tokens of `tf`, each estimated as the least
    * of its 4 count-min cells in `sk`. */
  private val cmProbeSql =
    s"""ex AS (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM tf
       |  GROUP BY 1 ORDER BY exact_cnt DESC, tok LIMIT 20),
       |pr AS (
       |  SELECT ex.tok, d.r AS r,
       |    ${cmBucketSql("ex.tok")}
       |  FROM ex, (VALUES (0),(1),(2),(3)) d(r)),
       |est AS (
       |  SELECT pr.tok, MIN(COALESCE(sk.cnt, 0)) AS cm_est
       |  FROM pr LEFT JOIN sk USING (r, bucket) GROUP BY 1)
       |SELECT ex.tok, ex.exact_cnt, est.cm_est
       |FROM ex JOIN est USING (tok)
       |ORDER BY exact_cnt DESC, tok""".stripMargin

  /** Per-doc count of word `n`-gram shingles shared with the benchmark
    * slice (`doc_id % benchMod = 0`). */
  private def sharedGramsSql(n: Int, benchMod: Int): String =
    s"""WITH ${tokenListsSql("documents")}, ${shinglesSql(n)}, bench AS (
       |  SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id % $benchMod = 0
       |), corpus AS (
       |  SELECT doc_id, unnest(s) AS gram FROM sh WHERE doc_id % $benchMod <> 0
       |)
       |SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
       |FROM corpus c JOIN bench b USING (gram)
       |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin

  /** The Gopher word statistics of `column` in `src`: CTEs `tok` and
    * `m(doc_id, n_words, sum_len, n_alpha, n_stop)`. */
  private def wordStatsSql(src: String, column: String): String =
    s"""tok AS (
       |  SELECT doc_id, unnest(${tokensOfSql(column)}) AS w
       |  FROM $src
       |), m AS (
       |  SELECT doc_id, COUNT(*) AS n_words,
       |    SUM(length(w)) AS sum_len,
       |    SUM(CASE WHEN regexp_matches(w, '[A-Za-z]') THEN 1 ELSE 0 END) AS n_alpha,
       |    SUM(CASE WHEN w IN ('the','be','to','of','and','that','have','with','a','in')
       |        THEN 1 ELSE 0 END) AS n_stop
       |  FROM tok GROUP BY doc_id
       |)""".stripMargin

  /** The DSIR weight chain over `src(doc_id, text)`: unigram + bigram
    * md5 buckets, the benchmark slice (`doc_id % 37 = 0`) against the
    * rest, all-integer add-half smoothing and micro-unit log ratios.
    * CTEs `tok` through `ratio(bucket, r_micro)`, with the raw side's
    * grams in `rg(doc_id, bucket)`. `ratio` is left unclosed: the
    * caller writes its `)`. */
  private def dsirRatioSql(src: String): String = {
    val bucket = "CAST(concat('0x', substring(md5(g), 1, 13)) AS BIGINT) % 4096 AS bucket"
    s"""${tokenListsSql(src)}, grams AS (
       |  SELECT doc_id, unnest(list_concat(
       |    list_filter(t, x -> len(x) > 0),
       |    CASE WHEN len(t) >= 2
       |      THEN list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
       |      ELSE [] END)) AS g
       |  FROM tok
       |), tg AS (
       |  SELECT $bucket
       |  FROM grams WHERE doc_id % 37 = 0
       |), rg AS (
       |  SELECT doc_id, $bucket
       |  FROM grams WHERE doc_id % 37 <> 0
       |), ct AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c_t FROM tg GROUP BY 1),
       |cr AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c_r FROM rg GROUP BY 1),
       |tot AS (SELECT (SELECT COALESCE(SUM(c_t), 0) FROM ct) AS n_t,
       |               (SELECT COALESCE(SUM(c_r), 0) FROM cr) AS n_r),
       |ratio AS (
       |  SELECT b.bucket,
       |    CAST(floor((ln(COALESCE(c_t, 0) * 2 + 1) - ln(n_t * 2 + 4096)
       |      - ln(COALESCE(c_r, 0) * 2 + 1) + ln(n_r * 2 + 4096)) * 1e6 + 0.5) AS BIGINT) AS r_micro
       |  FROM (SELECT bucket FROM range(4096) t(bucket)) b
       |  LEFT JOIN ct USING (bucket) LEFT JOIN cr USING (bucket), tot""".stripMargin
  }

  /** The KMV samples of each (lang, half): distinct word-bigram md5
    * hashes, the 256 least kept. CTEs `t` through `sk(lang, side, h)`. */
  private val kmvSamplesSql =
    s"""t AS (
      |  SELECT lang, doc_id % 2 AS side,
      |    list_filter($tokensSql, x -> len(x) > 0) AS ts
      |  FROM documents WHERE doc_id IS NOT NULL),
      |bg AS (SELECT DISTINCT lang, side,
      |    unnest(list_transform(range(1, len(ts)), i ->
      |      ts[CAST(i AS INT)] || ' ' || ts[CAST(i + 1 AS INT)])) AS bg
      |  FROM t),
      |hsh AS (SELECT DISTINCT lang, side,
      |    CAST(concat('0x', substring(md5(bg), 1, 13)) AS BIGINT) AS h
      |  FROM bg),
      |rk AS (SELECT lang, side, h,
      |    row_number() OVER (PARTITION BY lang, side ORDER BY h) AS rn
      |  FROM hsh),
      |sk AS (SELECT lang, side, h FROM rk WHERE rn <= 256)""".stripMargin

  /** Each half's sample below the shared theta of `pair`. */
  private val kmvBelowThetaSql =
    """sa AS (SELECT s.lang, s.h FROM sk s JOIN pair p ON s.lang = p.lang
      |  WHERE s.side = 0 AND s.h < p.theta),
      |sb AS (SELECT s.lang, s.h FROM sk s JOIN pair p ON s.lang = p.lang
      |  WHERE s.side = 1 AND s.h < p.theta)""".stripMargin

  /** A learned byte-level symbol string split into its tokens. */
  private val byteSplitSql =
    """string_split(regexp_replace(sym, '^_|_$', '', 'g'), '__')"""

  /** CTE `pt(doc_id, w0, pretok_pos)`: the 1-based pre-tokens of every
    * 13th document. */
  private val pretokSpansSql =
    s"""pt AS (SELECT doc_id,
       |    unnest(regexp_extract_all(text, '$pretokPatternSql')) AS w0,
       |    unnest(range(1, len(regexp_extract_all(text, '$pretokPatternSql')) + 1))
       |      AS pretok_pos
       |  FROM documents WHERE doc_id % 13 = 0)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q80_version_dedup" ->
      """WITH r AS (
        |  SELECT doc_id, md5(text) AS fp,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, fp FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q81_hash_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
        |ORDER BY doc_id""".stripMargin,
    "q109_stratified_sample" ->
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(concat_ws('|', doc_id, 'graft')), doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang, rn FROM r WHERE rn <= 20
        |ORDER BY lang, rn""".stripMargin,
    // The full 8-iteration BPE learn loop replayed via the shared
    // bpeChainSql CTE chain — one SELECT per learned rule.
    "q189_bpe_merges" -> {
      val unions = (1 to 8)
        .map(i => s"SELECT $i AS merge_idx, a, b, c AS cnt FROM b$i")
        .mkString("\nUNION ALL\n")
      s"${bpeChainSql(8)}\n$unions\nORDER BY merge_idx"
    },
    // Tokenize under the learned vocabulary: token count of a wrapped
    // symbol string is underscores/2 (k symbols <=> 2k wrappers), the
    // lexicon join replays applyBpeMerges' type-table design exactly.
    "q190_bpe_tokenize" -> {
      s"""${bpeChainSql(8)},
         |lex AS (SELECT w,
         |  CAST((len(sym) - len(replace(sym, '_', ''))) // 2 AS BIGINT)
         |    AS word_tokens FROM w8),
         |d AS (SELECT doc_id, w FROM (
         |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
         |  FROM documents) WHERE w <> '')
         |SELECT doc_id, CAST(SUM(word_tokens) AS BIGINT) AS n_tokens
         |FROM d JOIN lex USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // Byte-level learn + tokenize replayed end to end: the 8-merge
    // chain over unit-mapped pre-tokens, then the lexicon join and
    // positional double-unnest — tokens, positions and pre-tokens all
    // hash-match the Spark spans table.
    "q217_byte_bpe" ->
      s"""${byteChainSql(8)},
         |lex AS (SELECT w0, w,
         |  $byteSplitSql AS toks
         |  FROM w8),
         |$pretokSpansSql
         |SELECT doc_id, CAST(pretok_pos AS INT) AS pretok_pos, w0, w,
         |  CAST(unnest(range(1, len(toks) + 1)) AS INT) AS tok_pos,
         |  unnest(toks) AS token
         |FROM pt JOIN lex USING (w0)
         |ORDER BY doc_id, pretok_pos, tok_pos""".stripMargin,
    // Ids from the replayed chain: fused tokens via 255 + merge index
    // (first mint wins), base units via the byte value (this corpus's
    // units are a-z at their codepoints plus chr(288) = the space
    // byte 32).
    "q220_byte_bpe_ids" -> {
      val fusedUnion = (1 to 8)
        .map(i => s"SELECT $i AS i, a || b AS token FROM b$i")
        .mkString("\nUNION ALL ")
      s"""${byteChainSql(8)},
         |fused AS (SELECT token, CAST(255 + MIN(i) AS BIGINT) AS fid
         |  FROM ($fusedUnion) GROUP BY token),
         |lex AS (SELECT w0,
         |  $byteSplitSql AS toks
         |  FROM w8),
         |$pretokSpansSql,
         |sp AS (SELECT doc_id, CAST(pretok_pos AS INT) AS pretok_pos,
         |    CAST(unnest(range(1, len(toks) + 1)) AS INT) AS tok_pos,
         |    unnest(toks) AS token
         |  FROM pt JOIN lex USING (w0))
         |SELECT doc_id, pretok_pos, tok_pos, token,
         |  COALESCE(fused.fid,
         |    CASE WHEN unicode(token) = 288 THEN 32
         |         ELSE CAST(unicode(token) AS BIGINT) END) AS token_id
         |FROM sp LEFT JOIN fused USING (token)
         |ORDER BY doc_id, pretok_pos, tok_pos""".stripMargin
    },
    // The whole KMV/theta pipeline replayed: md5 hashes, rank-256
    // retention per (lang, half), the under-k 2^52 threshold rule,
    // theta = least of the two, sample intersection/union counts,
    // and the two final double divisions in the same order.
    "q228_kmv_overlap" ->
      s"""WITH $kmvSamplesSql,
        |th AS (SELECT lang, side, CAST(COUNT(*) AS BIGINT) AS n,
        |    MAX(h) AS kth,
        |    CASE WHEN COUNT(*) < 256 THEN CAST(4503599627370496 AS BIGINT)
        |         ELSE MAX(h) END AS theta
        |  FROM sk GROUP BY 1, 2),
        |pair AS (SELECT a.lang, a.n AS na, a.kth AS ktha,
        |    b.n AS nb, b.kth AS kthb, LEAST(a.theta, b.theta) AS theta
        |  FROM th a JOIN th b ON a.lang = b.lang
        |  WHERE a.side = 0 AND b.side = 1),
        |$kmvBelowThetaSql,
        |i AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS ic
        |  FROM (SELECT * FROM sa INTERSECT SELECT * FROM sb) GROUP BY 1),
        |u AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS uc
        |  FROM (SELECT * FROM sa UNION SELECT * FROM sb) GROUP BY 1)
        |SELECT p.lang,
        |  round(CASE WHEN na < 256 THEN CAST(na AS DOUBLE)
        |    ELSE CAST(255 AS DOUBLE) * 4503599627370496.0 /
        |      (CAST(ktha AS DOUBLE) + 0.5) END, 4) AS n_a,
        |  round(CASE WHEN nb < 256 THEN CAST(nb AS DOUBLE)
        |    ELSE CAST(255 AS DOUBLE) * 4503599627370496.0 /
        |      (CAST(kthb AS DOUBLE) + 0.5) END, 4) AS n_b,
        |  round(CAST(COALESCE(ic, 0) AS DOUBLE) * 4503599627370496.0 /
        |    CAST(theta AS DOUBLE), 4) AS n_inter,
        |  round(CASE WHEN COALESCE(uc, 0) = 0 THEN 0.0
        |    ELSE CAST(COALESCE(ic, 0) AS DOUBLE) / CAST(uc AS DOUBLE)
        |    END, 6) AS jaccard_kmv
        |FROM pair p LEFT JOIN i ON i.lang = p.lang
        |  LEFT JOIN u ON u.lang = p.lang
        |ORDER BY p.lang""".stripMargin,
    // The theta set-difference pipeline replayed: same hashes /
    // retention / theta as q228, EXCEPT counts instead of the
    // intersection/union pair, each scaled by 2^52 / theta.
    "q230_kmv_difference" ->
      s"""WITH $kmvSamplesSql,
        |th AS (SELECT lang, side, CAST(COUNT(*) AS BIGINT) AS n,
        |    CASE WHEN COUNT(*) < 256 THEN CAST(4503599627370496 AS BIGINT)
        |         ELSE MAX(h) END AS theta
        |  FROM sk GROUP BY 1, 2),
        |pair AS (SELECT a.lang, LEAST(a.theta, b.theta) AS theta
        |  FROM th a JOIN th b ON a.lang = b.lang
        |  WHERE a.side = 0 AND b.side = 1),
        |$kmvBelowThetaSql,
        |ao AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS aoc
        |  FROM (SELECT * FROM sa EXCEPT SELECT * FROM sb) GROUP BY 1),
        |bo AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS boc
        |  FROM (SELECT * FROM sb EXCEPT SELECT * FROM sa) GROUP BY 1),
        |i AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS ic
        |  FROM (SELECT * FROM sa INTERSECT SELECT * FROM sb) GROUP BY 1)
        |SELECT p.lang,
        |  round(CAST(COALESCE(aoc, 0) AS DOUBLE) * 4503599627370496.0 /
        |    CAST(theta AS DOUBLE), 4) AS n_a_only,
        |  round(CAST(COALESCE(boc, 0) AS DOUBLE) * 4503599627370496.0 /
        |    CAST(theta AS DOUBLE), 4) AS n_b_only,
        |  round(CAST(COALESCE(ic, 0) AS DOUBLE) * 4503599627370496.0 /
        |    CAST(theta AS DOUBLE), 4) AS n_inter
        |FROM pair p LEFT JOIN ao ON ao.lang = p.lang
        |  LEFT JOIN bo ON bo.lang = p.lang
        |  LEFT JOIN i ON i.lang = p.lang
        |ORDER BY p.lang""".stripMargin,
    // Byte-level counts into the q112 packing window, replayed: the
    // learn chain + lexicon token counts + per-shard prefix-sum bins.
    "q225_byte_pack_e2e" ->
      s"""${byteChainSql(8)},
         |lex AS (SELECT w0, CAST(len($byteSplitSql) AS BIGINT) AS ntok
         |  FROM w8),
         |pt AS (SELECT doc_id,
         |    unnest(regexp_extract_all(text, '$pretokPatternSql')) AS w0
         |  FROM documents),
         |cnt AS (SELECT doc_id, CAST(SUM(ntok) AS BIGINT) AS n_tokens
         |  FROM pt JOIN lex USING (w0) GROUP BY 1),
         |packed AS (SELECT doc_id,
         |    CAST(doc_id % 8 AS INT) AS shard, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY doc_id % 8
         |      ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |      AS cum_tokens
         |  FROM cnt)
         |SELECT doc_id, shard, n_tokens, cum_tokens,
         |  CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS bin
         |FROM packed ORDER BY doc_id""".stripMargin,
    // The count-min build + probe replayed cell for cell — every step
    // is md5 + integer arithmetic, so the whole frame hash-matches.
    "q194_countmin_sketch" ->
      s"""WITH tok AS (
        |  SELECT unnest($tokensSql) AS tok
        |  FROM documents
        |), tf AS (SELECT tok FROM tok WHERE tok <> ''),
        |sk AS (
        |  SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM (
        |    SELECT d.r AS r,
        |      ${cmBucketSql("tok")}
        |    FROM tf, (VALUES (0),(1),(2),(3)) d(r))
        |  GROUP BY 1, 2),
        |$cmProbeSql""".stripMargin,
    // The SHARDED build + MAX-merge + estimate, replayed end to end:
    // per-(shard, event_type) registers first, max-merged per type —
    // structurally the rollup, not a re-statement of q191's single
    // pass.
    "q196_hll_rollup" ->
      s"""WITH ${hllSql(shards = 4)},
         |ns AS (
         |  SELECT event_type, CAST(COUNT(DISTINCT shard) AS BIGINT) AS n_shards
         |  FROM h GROUP BY 1)
         |SELECT event_type, n_shards,
         |  $hllEstimateSql
         |FROM e JOIN ns USING (event_type)
         |ORDER BY event_type""".stripMargin,
    // The sharded count-min: per-shard cell counts, cell-wise SUM
    // merge, probes estimated against the MERGED cells.
    "q197_countmin_rollup" ->
      s"""WITH tok AS (
        |  SELECT doc_id % 3 AS shard,
        |    unnest($tokensSql) AS tok
        |  FROM documents
        |), tf AS (SELECT shard, tok FROM tok WHERE tok <> ''),
        |sk0 AS (
        |  SELECT shard, r, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM (
        |    SELECT shard, d.r AS r,
        |      ${cmBucketSql("tok")}
        |    FROM tf, (VALUES (0),(1),(2),(3)) d(r))
        |  GROUP BY 1, 2, 3),
        |sk AS (
        |  SELECT r, bucket, CAST(SUM(cnt) AS BIGINT) AS cnt
        |  FROM sk0 GROUP BY 1, 2),
        |$cmProbeSql""".stripMargin,
    // Sketch-free: the direct HAVING-threshold heavy hitters — the
    // frame the sketch-prefiltered composition must reproduce exactly.
    "q198_cm_heavyhitters" ->
      s"""WITH tok AS (
        |  SELECT unnest($tokensSql) AS tok
        |  FROM documents
        |), tf AS (SELECT tok FROM tok WHERE tok <> '')
        |SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        |FROM tf GROUP BY tok
        |HAVING COUNT(*) >= (SELECT GREATEST(1, COUNT(*) // 1000) FROM tf)
        |ORDER BY exact_cnt DESC, tok""".stripMargin,
    // Bloom-free: the direct exact 4-gram overlap — the frame the
    // bloom-prefiltered composition must reproduce exactly (no false
    // negatives = the admitted set is a superset of the join keys).
    "q201_bloom_prefilter" -> sharedGramsSql(4, 41),
    // The WHOLE sharded hdr chain replayed: same cents rounding, bit
    // length via bin() (== Spark's conv-to-binary length, the HLL rho
    // identity), the same integer bin/shift math, per-shard GROUP BY
    // then cell SUM, the same ceil-rank pick and low + (width >> 1)
    // midpoint decode. p = 7: exact region bin < 256, coarse
    // b = (bin >> 7) - 1.
    "q202_hdr_quantiles" ->
      """WITH c AS (
        |  SELECT l_orderkey % 4 AS shard,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
        |  FROM lineitem
        |), i AS (
        |  SELECT shard, CASE WHEN length(bin(v)) <= 8 THEN v
        |    ELSE (length(bin(v)) - 8) * 128 + (v >> (length(bin(v)) - 8))
        |  END AS bin FROM c
        |), sh AS (
        |  SELECT shard, bin, COUNT(*) AS cnt FROM i GROUP BY shard, bin
        |), m AS (
        |  SELECT bin, CAST(SUM(cnt) AS BIGINT) AS cnt FROM sh GROUP BY bin
        |), cum AS (
        |  SELECT bin, CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cu,
        |         CAST(SUM(cnt) OVER () AS BIGINT) AS n
        |  FROM m
        |), qs AS (
        |  -- DOUBLE, not DuckDB's DECIMAL literal type: the rank pick
        |  -- must run the same IEEE q * n the Spark side runs
        |  SELECT CAST(unnest([0.5, 0.9, 0.99, 0.999]) AS DOUBLE) AS q
        |), pick AS (
        |  SELECT q, n, MIN(bin) AS bin
        |  FROM cum, qs
        |  WHERE cu >= GREATEST(CAST(CEIL(q * n) AS BIGINT), 1)
        |  GROUP BY q, n
        |)
        |SELECT q, n, CASE WHEN bin < 256 THEN bin
        |  ELSE ((bin - ((bin >> 7) - 1) * 128) << ((bin >> 7) - 1))
        |     + (((CAST(1 AS BIGINT) << ((bin >> 7) - 1)) - 1) >> 1)
        |END AS hdr_est
        |FROM pick ORDER BY q""".stripMargin,
    // The full sketch replayed: same md5 bucket/word split, same exact
    // integer register math (bin() length = bitlength, exactly Spark's
    // conv-to-binary length), the alpha*m^2 constant embedded as
    // Scala's shortest-round-trip double literal so both engines
    // multiply the identical IEEE value.
    "q191_hll_distinct" ->
      s"""WITH ${hllSql(shards = 0)},
         |x AS (
         |  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
         |  FROM events WHERE user_id IS NOT NULL GROUP BY 1)
         |SELECT event_type, n_exact,
         |  $hllEstimateSql
         |FROM e JOIN x USING (event_type)
         |ORDER BY event_type""".stripMargin,
    // u replays exactly: 13 hex md5 chars = 52 bits, (bits + 0.5)/2^52
    // is a dyadic rational a double holds exactly in both engines.
    "q188_weighted_sample" ->
      """WITH k AS (
        |  SELECT doc_id, n_chars,
        |    -ln((CAST(concat('0x', substring(md5(concat_ws('|', doc_id, 'graftw')), 1, 13)) AS BIGINT) + 0.5)
        |        / 4503599627370496.0) / CAST(n_chars AS DOUBLE) AS samp_key
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
        |SELECT doc_id, n_chars,
        |  CAST(row_number() OVER (ORDER BY samp_key, doc_id) AS INTEGER) AS smp_rank
        |FROM k ORDER BY samp_key, doc_id LIMIT 100""".stripMargin,
    // Same shingle construction as q73's oracle (3-gram word shingles
    // over whitespace-normalized lowercase text), split into benchmark
    // (doc_id % 37 = 0) and corpus slices.
    "q111_decontaminate" -> sharedGramsSql(3, 37),
    // NOTE the range(4096) fan-out bound: unlike the fixture-derived
    // oracles, n_tokens here comes from real corpus text, so the bound
    // must exceed any plausible doc (4096 chunks = ~196k tokens at
    // this stride; current corpora max out near 100 tokens/doc). A doc
    // beyond it would make the oracle under-count while the engine is
    // correct.
    "q118_chunk_tokens" ->
      s"""WITH ${tokenListsSql("documents")}, c AS (
        |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens FROM tok
        |), x AS (
        |  SELECT doc_id, t, n_tokens, i AS chunk_idx
        |  FROM c, range(4096) r(i)
        |  WHERE i <= greatest(0, (n_tokens - 64 + 48 - 1) // 48)
        |)
        |SELECT doc_id, chunk_idx, n_tokens,
        |  CAST(len(t[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS BIGINT) AS n_chunk_tokens,
        |  md5(array_to_string(t[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')) AS chunk_md5
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin,
    "q112_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS shard,
        |    CAST(len(string_split(trim(regexp_replace(text,'\s+',' ','g')),' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT doc_id, shard, n_tokens, cum_tokens,
        |  CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS bin
        |FROM c ORDER BY doc_id""".stripMargin,
    "q113_repetition" ->
      s"""WITH ${tokenListsSql("documents")}, sh AS (
        |  SELECT doc_id, CASE WHEN len(t) < 2 THEN [array_to_string(t,' ')]
        |    ELSE list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1],' '))
        |  END AS s
        |  FROM tok
        |), g AS (
        |  SELECT doc_id, unnest(s) AS gram FROM sh
        |), h AS (
        |  SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2
        |)
        |SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 4) AS rep_ratio
        |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Every stage replayed: quality (q155's construction), dedup
    // (q80's), decontamination (q111's 3-gram shingles), sizing and
    // packing (q112's window) — composed in the same order.
    "q160_pipeline_e2e" ->
      s"""WITH ${tokenListsSql("documents")}, m AS (
        |  SELECT tok.doc_id, len(t) AS n_words,
        |    (SELECT SUM(length(w)) FROM unnest(t) u(w)) AS sum_len,
        |    (SELECT SUM(CASE WHEN regexp_matches(w, '[A-Za-z]') THEN 1 ELSE 0 END) FROM unnest(t) u(w)) AS n_alpha,
        |    (SELECT SUM(CASE WHEN w IN ('the','be','to','of','and','that','have','with','a','in') THEN 1 ELSE 0 END) FROM unnest(t) u(w)) AS n_stop
        |  FROM tok
        |), keepers AS (
        |  SELECT doc_id FROM m
        |  WHERE n_words BETWEEN 50 AND 100000
        |    AND ROUND(CAST(sum_len AS DOUBLE) / n_words, 4) BETWEEN 3.0 AND 10.0
        |    AND ROUND(CAST(n_alpha AS DOUBLE) / n_words, 4) >= 0.8
        |    AND n_stop >= 2
        |), ded AS (
        |  SELECT d.doc_id, d.text FROM (
        |    SELECT doc_id, text,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM documents JOIN keepers USING (doc_id)) d
        |  WHERE d.rn = 1
        |), ${shinglesSql(3)}, bench AS (
        |  SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id % 37 = 0
        |), corp AS (
        |  SELECT sh.doc_id, unnest(sh.s) AS gram
        |  FROM sh JOIN ded USING (doc_id) WHERE sh.doc_id % 37 <> 0
        |), contam AS (
        |  SELECT c.doc_id FROM corp c JOIN bench b USING (gram)
        |  GROUP BY c.doc_id HAVING COUNT(*) >= 8
        |), clean AS (
        |  SELECT ded.doc_id, ded.text FROM ded
        |  WHERE ded.doc_id % 37 <> 0
        |    AND ded.doc_id NOT IN (SELECT doc_id FROM contam)
        |), sized AS (
        |  SELECT c.doc_id, CAST(c.doc_id % 4 AS INTEGER) AS shard,
        |    CAST(len(t) AS BIGINT) AS n_tokens
        |  FROM clean c JOIN tok ON tok.doc_id = c.doc_id
        |), packed AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS cum_tokens
        |  FROM sized)
        |SELECT doc_id, shard, n_tokens, cum_tokens,
        |  CAST((cum_tokens - n_tokens) // 256 AS BIGINT) AS bin
        |FROM packed ORDER BY doc_id""".stripMargin,
    // Same weight CASE, same copy fan-out, same md5-prefix keep rule
    // (thresholds are the weights' exact 32-bit hex fractions).
    "q159_corpus_mix" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src3' THEN 2.5 WHEN 'src7' THEN 0.25
        |                WHEN 'src11' THEN 0.0 ELSE 1.0 END AS w
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, source, w, i AS copy_idx
        |  FROM t, range(4) r(i)
        |  WHERE i < greatest(CAST(ceil(w) AS INTEGER), 1))
        |SELECT doc_id, source, CAST(copy_idx AS INTEGER) AS copy_idx
        |FROM e
        |WHERE copy_idx < CAST(floor(w) AS INTEGER)
        |   OR substring(md5(doc_id || '#' || copy_idx), 1, 8) <
        |      CASE source WHEN 'src3' THEN '80000000' WHEN 'src7' THEN '40000000'
        |                  ELSE '00000000' END
        |ORDER BY doc_id, copy_idx""".stripMargin,
    // Same snapshot construction, same fingerprints, same
    // classification via FULL OUTER JOIN.
    "q158_snapshot_diff" ->
      """WITH o AS (
        |  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 11 <> 0
        |), n AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS fp
        |  FROM documents WHERE doc_id % 13 <> 0
        |)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.fp IS NULL THEN 'added'
        |       WHEN n.fp IS NULL THEN 'removed'
        |       WHEN o.fp = n.fp THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    // Same interleave as a closed-form sum of bit terms.
    "q157_zorder_key" -> {
      val xTerms = (0 until 9)
        .map(i => s"((x // ${1L << i}) % 2) * ${1L << (2 * i)}")
      val yTerms = (0 until 9)
        .map(i => s"((y // ${1L << i}) % 2) * ${1L << (2 * i + 1)}")
      s"""WITH t AS (
         |  SELECT o_orderkey,
         |    CAST(o_custkey % 512 AS INTEGER) AS x,
         |    CAST((o_orderkey * 7) % 512 AS INTEGER) AS y
         |  FROM orders)
         |SELECT o_orderkey, x, y,
         |  CAST(${(xTerms ++ yTerms).mkString(" + ")} AS BIGINT) AS z
         |FROM t ORDER BY o_orderkey LIMIT 2000""".stripMargin
    },
    // The salted join must EQUAL the plain join — the oracle is the
    // unsalted SQL.
    "q153_salted_join" ->
      """SELECT s_nationkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    // Two-phase re-aggregation must equal the direct group-by.
    "q154_salted_agg" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Same tokens, same integer sums, same single division, same rule
    // thresholds (Gopher defaults: 50-100k words, mean len 3-10, alpha
    // fraction >= 0.8, >= 2 stopword hits).
    "q155_quality_rules" ->
      s"""WITH ${wordStatsSql("documents", "text")}, sig AS (
        |  SELECT doc_id, n_words,
        |    ROUND(CAST(sum_len AS DOUBLE) / n_words, 4) AS mean_word_len,
        |    ROUND(CAST(n_alpha AS DOUBLE) / n_words, 4) AS alpha_frac,
        |    n_stop
        |  FROM m
        |)
        |SELECT doc_id, n_words, mean_word_len, alpha_frac,
        |  CAST(n_stop AS BIGINT) AS n_stop,
        |  (n_words >= 50 AND n_words <= 100000) AS ok_words,
        |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_mean_len,
        |  (alpha_frac >= 0.8) AS ok_alpha,
        |  (n_stop >= 2) AS ok_stop,
        |  ((n_words >= 50 AND n_words <= 100000)
        |    AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
        |    AND (alpha_frac >= 0.8) AND (n_stop >= 2)) AS keep
        |FROM sig ORDER BY doc_id""".stripMargin,
    // Same augmented multi-line text, same explode/aggregate shapes,
    // same single-division fractions, same paper-default thresholds.
    "q161_quality_full" ->
      s"""WITH a AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN
        |      '- a'||chr(10)||'- b'||chr(10)||'- c'||chr(10)||'- d'||chr(10)||'- e'
        |      ||chr(10)||'- f'||chr(10)||'- g'||chr(10)||'- h'||chr(10)||'- i'
        |      ||chr(10)||'- j'||chr(10)||'- k'||chr(10)||'plain closing line'
        |    ELSE
        |      text
        |      || chr(10)||'- alpha point'||chr(10)||'- beta point'
        |      || CASE WHEN doc_id % 4 = 0 THEN
        |           repeat(chr(10)||'- duplicated filler line carrying plenty of characters', 4)
        |         ELSE '' END
        |      || CASE WHEN doc_id % 3 = 0 THEN
        |           chr(10)||'to be continued...'||chr(10)||'more to come...'||chr(10)||'final thought...'
        |         ELSE '' END
        |      || CASE WHEN doc_id % 9 = 0 THEN chr(10)||repeat('wait... ', 12) ELSE '' END
        |      || CASE WHEN doc_id % 5 = 0 THEN chr(10)||repeat('# ', 12) ELSE '' END
        |      || chr(10)||chr(10)||'closing paragraph with plenty of characters to trip the duplicate mass threshold'
        |      || CASE WHEN doc_id % 6 = 0 THEN
        |           chr(10)||chr(10)||'closing paragraph with plenty of characters to trip the duplicate mass threshold'
        |         ELSE '' END
        |    END AS t
        |  FROM documents
        |), ${wordStatsSql("a", "t")}, sym AS (
        |  SELECT doc_id, len(regexp_extract_all(t, '#')) AS n_hash,
        |    len(regexp_extract_all(t, '\\.\\.\\.')) AS n_ellipsis
        |  FROM a
        |), lraw AS (
        |  SELECT doc_id, trim(unnest(string_split(t, chr(10)))) AS u FROM a
        |), lg AS (
        |  SELECT doc_id, u, COUNT(*) AS cnt FROM lraw WHERE u <> '' GROUP BY doc_id, u
        |), ln AS (
        |  SELECT doc_id, SUM(cnt) AS n_lines, SUM(cnt - 1) AS n_dup_lines,
        |    SUM(cnt * length(u)) AS lines_chars,
        |    SUM((cnt - 1) * length(u)) AS dup_lines_chars,
        |    SUM(CASE WHEN regexp_matches(u, '^[-*] ') THEN cnt ELSE 0 END) AS n_bullet,
        |    SUM(CASE WHEN regexp_matches(u, '\\.\\.\\.$$') THEN cnt ELSE 0 END) AS n_ellipsis_end
        |  FROM lg GROUP BY doc_id
        |), praw AS (
        |  SELECT doc_id, trim(unnest(string_split(t, chr(10)||chr(10)))) AS u FROM a
        |), pg AS (
        |  SELECT doc_id, u, COUNT(*) AS cnt FROM praw WHERE u <> '' GROUP BY doc_id, u
        |), pn AS (
        |  SELECT doc_id, SUM(cnt) AS n_paras, SUM(cnt - 1) AS n_dup_paras,
        |    SUM(cnt * length(u)) AS paras_chars,
        |    SUM((cnt - 1) * length(u)) AS dup_paras_chars
        |  FROM pg GROUP BY doc_id
        |), sig AS (
        |  SELECT m.doc_id, m.n_words,
        |    ROUND(CAST(m.sum_len AS DOUBLE) / m.n_words, 4) AS mean_word_len,
        |    ROUND(CAST(m.n_alpha AS DOUBLE) / m.n_words, 4) AS alpha_frac,
        |    CAST(m.n_stop AS BIGINT) AS n_stop,
        |    CASE WHEN m.n_words > 0 THEN ROUND(CAST(sym.n_hash AS DOUBLE) / m.n_words, 4) ELSE 0.0 END AS hash_ratio,
        |    CASE WHEN m.n_words > 0 THEN ROUND(CAST(sym.n_ellipsis AS DOUBLE) / m.n_words, 4) ELSE 0.0 END AS ellipsis_ratio,
        |    CASE WHEN ln.n_lines > 0 THEN ROUND(CAST(ln.n_bullet AS DOUBLE) / ln.n_lines, 4) ELSE 0.0 END AS bullet_frac,
        |    CASE WHEN ln.n_lines > 0 THEN ROUND(CAST(ln.n_ellipsis_end AS DOUBLE) / ln.n_lines, 4) ELSE 0.0 END AS ellipsis_line_frac,
        |    CASE WHEN ln.n_lines > 0 THEN ROUND(CAST(ln.n_dup_lines AS DOUBLE) / ln.n_lines, 4) ELSE 0.0 END AS dup_line_frac,
        |    CASE WHEN ln.lines_chars > 0 THEN ROUND(CAST(ln.dup_lines_chars AS DOUBLE) / ln.lines_chars, 4) ELSE 0.0 END AS dup_line_char_frac,
        |    CASE WHEN pn.n_paras > 0 THEN ROUND(CAST(pn.n_dup_paras AS DOUBLE) / pn.n_paras, 4) ELSE 0.0 END AS dup_para_frac,
        |    CASE WHEN pn.paras_chars > 0 THEN ROUND(CAST(pn.dup_paras_chars AS DOUBLE) / pn.paras_chars, 4) ELSE 0.0 END AS dup_para_char_frac
        |  FROM m LEFT JOIN sym USING (doc_id)
        |    LEFT JOIN ln USING (doc_id) LEFT JOIN pn USING (doc_id)
        |)
        |SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stop,
        |  hash_ratio, ellipsis_ratio, bullet_frac, ellipsis_line_frac,
        |  dup_line_frac, dup_line_char_frac, dup_para_frac, dup_para_char_frac,
        |  (n_words >= 50 AND n_words <= 100000) AS ok_words,
        |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_mean_len,
        |  (alpha_frac >= 0.8) AS ok_alpha,
        |  (n_stop >= 2) AS ok_stop,
        |  (hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1) AS ok_symbols,
        |  (bullet_frac <= 0.9) AS ok_bullet,
        |  (ellipsis_line_frac <= 0.3) AS ok_ellipsis_lines,
        |  (dup_line_frac <= 0.3 AND dup_line_char_frac <= 0.2) AS ok_dup_lines,
        |  (dup_para_frac <= 0.3 AND dup_para_char_frac <= 0.2) AS ok_dup_paras,
        |  ((n_words >= 50 AND n_words <= 100000)
        |    AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
        |    AND (alpha_frac >= 0.8) AND (n_stop >= 2)
        |    AND (hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1)
        |    AND (bullet_frac <= 0.9) AND (ellipsis_line_frac <= 0.3)
        |    AND (dup_line_frac <= 0.3 AND dup_line_char_frac <= 0.2)
        |    AND (dup_para_frac <= 0.3 AND dup_para_char_frac <= 0.2)) AS keep
        |FROM sig ORDER BY doc_id""".stripMargin,
    // Same augmented text, same three regexes (the pattern subset Java
    // regex and RE2 read identically), same fixed replacement order.
    "q151_pii_redact" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@mail.example.com via 10.'
        |      || (doc_id % 200) || '.0.' || (doc_id % 250)
        |      || ' ref ' || (doc_id * 1000000007 + 123456789) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\d{9,}', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(t, '\d{9,}')) AS BIGINT) AS n_num
        |FROM a ORDER BY doc_id""".stripMargin,
    // Same single explode, same rational idf, same rounded score and
    // (score DESC, term ASC) tie-break.
    "q165_tfidf_top_terms" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest($tokensSql) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
        |), df AS (
        |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        |), n AS (
        |  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok
        |), scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    ROUND(tf.tf * (n.n_docs + 1.0) / (df.df + 1.0), 6) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n
        |), ranked AS (
        |  SELECT doc_id, term, tf, df, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, term ASC) AS BIGINT) AS rank
        |  FROM scored
        |)
        |SELECT doc_id, rank, term, tf, df, score
        |FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,
    // Same md5 prefix, same cumulative thresholds (0.875 -> e0000000,
    // 0.9375 -> f0000000), remainder to the last split.
    "q163_hash_split" ->
      """SELECT doc_id,
        |  CASE WHEN substring(md5(doc_id || '#exp1'), 1, 8) < 'e0000000' THEN 'train'
        |       WHEN substring(md5(doc_id || '#exp1'), 1, 8) < 'f0000000' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Scheme/host lowercase, :443 stripped (scheme is https), fragment
    // dropped, utm_/fbclid params removed, remaining params sorted
    // binary, trailing slash stripped — replayed with DuckDB list ops.
    "q152_url_canon" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTPS://WWW.Example' || (doc_id % 7) || '.COM'
        |      || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
        |      || '/Path/' || doc_id
        |      || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
        |      || '?utm_source=feed&b=' || (doc_id % 5) || '&a=1'
        |      || CASE WHEN doc_id % 4 = 0 THEN '&fbclid=XYZ' ELSE '' END
        |      || '#frag' AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth,
        |    regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '') AS path,
        |    regexp_extract(url, '\?([^#]*)', 1) AS rawq
        |  FROM u),
        |c AS (
        |  SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
        |         ELSE auth END AS host,
        |    path,
        |    array_to_string(list_sort(list_filter(string_split(rawq, '&'),
        |      x -> x <> '' AND NOT starts_with(x, 'utm_')
        |        AND NOT starts_with(x, 'fbclid=')
        |        AND NOT starts_with(x, 'gclid='))), '&') AS q
        |  FROM p)
        |SELECT doc_id,
        |  scheme || '://' || host || path
        |    || CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canon_url,
        |  regexp_extract(regexp_replace(host, ':[0-9]+$', ''), '([^.]+\.[^.]+)$', 1) AS domain
        |FROM c ORDER BY doc_id""".stripMargin,
    "q82_cube" ->
      """SELECT lang, source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY CUBE (lang, source)
        |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin,
    "q83_percentiles" ->
      """SELECT lang,
        |  ROUND(quantile_cont(n_chars, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(n_chars, 0.9), 4) AS p90,
        |  ROUND(quantile_cont(n_chars, 0.99), 4) AS p99
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // The hash checks the EXACT values (replayable); the sketch's rank
    // tolerance is require'd inside the query.
    "q166_approx_quantiles" ->
      """SELECT lang,
        |  ROUND(quantile_cont(n_chars, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(n_chars, 0.9), 4) AS p90,
        |  ROUND(quantile_cont(n_chars, 0.99), 4) AS p99,
        |  COUNT(*) AS n
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q84_ntile" ->
      """WITH q AS (
        |  SELECT lang, doc_id, n_chars,
        |    CAST(ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS q
        |  FROM documents)
        |SELECT lang, q, COUNT(*) AS n, MAX(n_chars) AS max_chars
        |FROM q GROUP BY lang, q ORDER BY lang, q""".stripMargin,
    "q85_set_ops" ->
      """SELECT c_custkey AS k FROM customer
        |EXCEPT SELECT o_custkey AS k FROM orders WHERE o_totalprice > 200000
        |ORDER BY k LIMIT 2000""".stripMargin,
    "q86_least_greatest" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
        |  least(l_quantity, l_discount * 100) AS lo,
        |  greatest(l_quantity, l_tax * 100) AS hi,
        |  coalesce(nullif(l_returnflag, 'N'), 'none') AS rf
        |FROM lineitem ORDER BY l_orderkey, ln LIMIT 2000""".stripMargin,
    "q87_histogram" ->
      """SELECT CAST(floor(o_totalprice / 20000) AS BIGINT) AS bin, COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY bin""".stripMargin,
    "q88_top_tokens" ->
      """SELECT t.token, COUNT(*) AS n
        |FROM documents, unnest(string_split(lower(text), ' ')) AS t(token)
        |WHERE t.token <> ''
        |GROUP BY t.token ORDER BY n DESC, token ASC LIMIT 50""".stripMargin,
    "q89_lang_coverage" ->
      """SELECT lang, COUNT(*) AS n,
        |  ROUND(COUNT(*) / (SELECT COUNT(*) FROM documents), 6) AS share
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q91_range_frame" ->
      """WITH d AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d
        |  FROM orders)
        |SELECT o_orderkey, o_custkey,
        |  COUNT(*) OVER (PARTITION BY o_custkey ORDER BY d
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS n_30d
        |FROM d ORDER BY o_custkey, o_orderkey LIMIT 2000""".stripMargin,
    "q92_first_last" ->
      """SELECT o_orderkey, o_custkey,
        |  first_value(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_price,
        |  last_value(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price
        |FROM orders ORDER BY o_custkey, o_orderkey LIMIT 2000""".stripMargin,
    "q90_argmax_per_group" ->
      """WITH r AS (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM documents)
        |SELECT source, doc_id, n_chars FROM r WHERE rn = 1 ORDER BY source""".stripMargin,
    // Token-sequence replay: the w8 lexicon split back into subword
    // lists ("_ab__c_" -> [ab, c]); DuckDB's parallel unnests zip
    // positionally, giving 1-based word/token positions that match the
    // engine's posexplode+1.
    "q204_bpe_detok" -> {
      s"""${bpeChainSql(8)},
         |lex AS (SELECT w,
         |  string_split(substr(sym, 2, len(sym) - 2), '__') AS toks
         |  FROM w8),
         |raw AS (SELECT doc_id,
         |    string_split_regex(lower(text), '[^a-z]+') AS ws
         |  FROM documents WHERE doc_id % 13 = 0),
         |d0 AS (SELECT doc_id, unnest(ws) AS w,
         |    unnest(range(1, len(ws) + 1)) AS word_pos FROM raw),
         |d AS (SELECT * FROM d0 WHERE w <> ''),
         |x AS (SELECT d.doc_id, d.word_pos, d.w,
         |    unnest(range(1, len(toks) + 1)) AS tp, unnest(toks) AS token
         |  FROM d JOIN lex USING (w))
         |SELECT doc_id, CAST(word_pos AS INTEGER) AS word_pos, w,
         |  CAST(tp AS INTEGER) AS tok_pos, token
         |FROM x ORDER BY doc_id, word_pos, tok_pos""".stripMargin
    },
    // The DSIR chain replayed end to end: hashed unigram+bigram bucket
    // counts, all-integer add-half smoothing, micro-unit log-ratio
    // rounding (the lmScore discipline), per-doc long sums, Gumbel
    // top-k keys from the same md5-dyadic u as q188.
    "q205_dsir_select" ->
      s"""WITH ${dsirRatioSql("documents")}
        |), w AS (
        |  SELECT rg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |    round(CAST(SUM(r_micro) AS DOUBLE) / 1e6, 6) AS dsir_logw
        |  FROM rg JOIN ratio USING (bucket) GROUP BY 1
        |), k AS (
        |  SELECT doc_id, n_grams, dsir_logw,
        |    dsir_logw - ln(-ln((CAST(concat('0x', substring(md5(concat_ws('|', doc_id, 'dsir')), 1, 13)) AS BIGINT) + 0.5)
        |      / 4503599627370496.0)) AS samp_key
        |  FROM w)
        |SELECT doc_id, n_grams, dsir_logw, round(samp_key, 6) AS samp_key,
        |  CAST(row_number() OVER (ORDER BY samp_key DESC, doc_id) AS INTEGER) AS smp_rank
        |FROM k ORDER BY samp_key DESC, doc_id LIMIT 50""".stripMargin,
    // The q205 weight chain (buckets, smoothing, micro-rounding)
    // truncated at the per-doc weights — q209's output is the full
    // batch weight frame (the stream leg's equality is require'd
    // in-query).
    "q209_streaming_dsir" ->
      s"""WITH ${dsirRatioSql("documents")})
        |SELECT rg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  round(CAST(SUM(r_micro) AS DOUBLE) / 1e6, 6) AS dsir_logw
        |FROM rg JOIN ratio USING (bucket) GROUP BY 1
        |ORDER BY doc_id""".stripMargin,
    // The whole selection chain replayed: dedup window, length gate,
    // the q205 weight CTEs over the GATED corpus, Gumbel keys,
    // per-lang rank.
    "q213_selection_e2e" ->
      s"""WITH dd AS (
        |  SELECT doc_id, lang, n_chars, text,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents
        |), kept AS (
        |  SELECT doc_id, lang, text FROM dd WHERE rn = 1 AND n_chars >= 100
        |), ${dsirRatioSql("kept")}
        |), wts AS (
        |  SELECT rg.doc_id,
        |    round(CAST(SUM(r_micro) AS DOUBLE) / 1e6, 6) AS dsir_logw
        |  FROM rg JOIN ratio USING (bucket) GROUP BY 1
        |), k AS (
        |  SELECT kept.lang, wts.doc_id,
        |    wts.dsir_logw - ln(-ln((CAST(concat('0x', substring(md5(concat_ws('|', wts.doc_id, 'sel')), 1, 13)) AS BIGINT) + 0.5)
        |      / 4503599627370496.0)) AS key
        |  FROM wts JOIN kept ON kept.doc_id = wts.doc_id
        |), r AS (
        |  SELECT lang, doc_id, key,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id) AS INTEGER) AS smp_rank
        |  FROM k)
        |SELECT lang, smp_rank, doc_id, round(key, 6) AS samp_key
        |FROM r WHERE smp_rank <= 10 ORDER BY lang, smp_rank""".stripMargin,
    // Both shard maps replayed as md5 rank-1 windows; the DESC, sh
    // DESC tie-break mirrors the engine's struct-max (ties cannot
    // occur short of an md5 collision, but the spellings agree
    // anyway).
    "q210_rendezvous_shards" ->
      """WITH s5 AS (SELECT unnest(['s0','s1','s2','s3','s4']) AS sh),
        |s6 AS (SELECT unnest(['s0','s1','s2','s3','s4','s5']) AS sh),
        |a5 AS (
        |  SELECT doc_id, sh AS shard5 FROM (
        |    SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY md5(sh || '#' || doc_id) DESC, sh DESC) AS rn
        |    FROM documents, s5) WHERE rn = 1),
        |a6 AS (
        |  SELECT doc_id, sh AS shard6 FROM (
        |    SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY md5(sh || '#' || doc_id) DESC, sh DESC) AS rn
        |    FROM documents, s6) WHERE rn = 1)
        |SELECT a5.doc_id, shard5, shard6, shard5 <> shard6 AS moved
        |FROM a5 JOIN a6 USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q206_group_weighted_sample" ->
      """WITH k AS (
        |  SELECT lang, doc_id,
        |    -ln((CAST(concat('0x', substring(md5(concat_ws('|', doc_id, 'graftw')), 1, 13)) AS BIGINT) + 0.5)
        |        / 4503599627370496.0) / CAST(n_chars AS DOUBLE) AS samp_key
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0
        |), r AS (
        |  SELECT lang, doc_id, samp_key,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY samp_key, doc_id) AS INTEGER) AS smp_rank
        |  FROM k)
        |SELECT lang, smp_rank, doc_id, round(samp_key, 6) AS samp_key
        |FROM r WHERE smp_rank <= 20 ORDER BY lang, smp_rank""".stripMargin
  )
}
