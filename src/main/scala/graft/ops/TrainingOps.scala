package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Training-data pipeline operators beyond the reference's own surface
  * (builder brief: the operations a large-scale LLM data pipeline
  * needs as first-class components): benchmark decontamination and
  * sequence packing. Both are declarative DataFrame transforms —
  * Catalyst keeps the n-gram explode and window math inside
  * whole-stage codegen, no UDFs.
  */
object TrainingOps {

  /** Benchmark decontamination: per-document count of distinct word
    * n-grams shared with a benchmark/eval corpus — the train-test
    * overlap check every serious pretraining pipeline runs before
    * training (n-gram collision against held-out benchmarks).
    *
    * Output: one row per contaminated document, `(idCol,
    * n_shared_grams)`. Documents with zero overlap are absent (an
    * anti-join against this result removes contamination).
    *
    * 100 TB shape: the BENCHMARK side is small (eval sets are MBs) and
    * broadcasts — the corpus side is a map-only explode + broadcast
    * hash probe, then one combinable per-doc count shuffle of (id,
    * partial count) pairs. `array_distinct` BEFORE the explode keeps
    * per-doc duplicate grams from inflating either the shuffle or the
    * count. If the benchmark ever outgrows broadcast, drop the hint:
    * the same plan becomes a shuffle join on the gram key.
    *
    * Tokenization matches TextDedup ([[TextDedup.tokensOf]] /
    * [[TextDedup.shinglesOf]]), so candidates line up with the dedup
    * battery's shingle space and the construction is SQL-replayable.
    */
  def ngramOverlap(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 8): DataFrame = {
    val benchGrams = bench
      .select(explode(TextDedup.shinglesOf(
        TextDedup.tokensOf(col(benchTextCol)), n)).as("gram"))
      .distinct()
    val docGrams = docs
      .select(col(idCol), explode(array_distinct(TextDedup.shinglesOf(
        TextDedup.tokensOf(col(textCol)), n))).as("gram"))
    docGrams.join(broadcast(benchGrams), "gram")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Greedy contiguous sequence packing: lay documents out in a
    * deterministic order and cut the stream into bins of `capacity`
    * tokens — the standard sequence-packing layout for training
    * (each bin overflows its last document by at most one doc, the
    * streaming-pack convention; no doc is split).
    *
    * `bin = floor(tokens_before_this_doc / capacity)` over the running
    * prefix sum, so the assignment is a pure window computation —
    * deterministic, replayable in ANSI SQL, and stable under re-runs.
    *
    * 100 TB shape: a bare global window is a single-partition sort —
    * fine for one shard, wrong for a corpus. Pass `shardCol` (e.g. a
    * hash-derived shard id): each shard packs independently under
    * `Window.partitionBy(shard)`, which is one shuffle on the shard
    * key and parallel packing within shards — bins are then
    * (shard, bin) pairs, exactly how packed corpora are laid out on
    * disk (`partitionBy(shard)` + per-file bins).
    */
  def packSequences(docs: DataFrame, idCol: String, nTokensCol: String,
      capacity: Int, shardCol: Option[String] = None): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val w0 = shardCol match {
      case Some(sc) => Window.partitionBy(col(sc)).orderBy(col(idCol))
      case None => Window.orderBy(col(idCol))
    }
    // ROWS frame, not the default RANGE: under RANGE, rows sharing an
    // id are PEERS and each one's cumulative sum includes the other —
    // tokens_before then double-counts and bins skip. With ROWS,
    // duplicate ids still pack (their relative order is the engine's,
    // so the determinism contract additionally needs unique ids per
    // shard — the documented precondition).
    val w = w0.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sum(col(nTokensCol)).over(w)
    docs
      .withColumn("cum_tokens", cum.cast("long"))
      // integer `div`, not `/`: SQL division is double, and floor of a
      // large prefix sum divided as double can misbucket at exact
      // capacity boundaries (same reasoning as RangeJoin's bucketing);
      // the numerator is a non-negative long, so div == floor
      .withColumn("bin",
        expr(s"(cum_tokens - $nTokensCol) div ${capacity}L").cast("long"))
  }

  /** Overlapping token-window chunking: split each document into
    * windows of `chunkSize` tokens advancing by `stride` (< chunkSize
    * gives overlap) — the splitter that turns long documents into
    * training/RAG rows. A doc with n tokens yields
    * `1 + max(0, ceil((n - chunkSize) / stride))` chunks (the last one
    * may be short; every token lands in at least one chunk).
    *
    * Shape: pure per-row explode with bounded fan-out (n/stride), all
    * codegen'd built-ins (sequence/slice are not lambda HOFs) — no
    * shuffle at all. Chunk count math is integer arithmetic end-to-end
    * so the layout replays exactly in SQL. */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got stride=$stride chunkSize=$chunkSize")
    docs
      // NULL text would otherwise emit one phantom chunk row
      // (size(NULL) = -1/NULL, greatest SKIPS the null bound, slice
      // of NULL, md5 of the empty concat) — no text, no chunks
      .filter(col(textCol).isNotNull)
      .select(col(idCol), TextDedup.tokensOf(col(textCol)).as("__toks"))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
      .withColumn("chunk_idx", explode(sequence(lit(0L),
        greatest(lit(0L),
          expr(s"(n_tokens - ${chunkSize}L + ${stride}L - 1L) div ${stride}L")))))
      .withColumn("__chunk",
        slice(col("__toks"), (col("chunk_idx") * stride + 1).cast("int"),
          lit(chunkSize)))
      .select(col(idCol), col("chunk_idx"), col("n_tokens"),
        size(col("__chunk")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("__chunk")).cast("binary")).as("chunk_md5"))
  }

  // ----------------------------------------------- tf-idf term weights

  /** Top-k characteristic terms per document by tf-idf — the corpus
    * statistic behind keyword extraction, topic routing and
    * rare-boilerplate detection in a pretraining pipeline.
    *
    * The idf factor is the RATIONAL form (N + 1) / (df + 1) instead of
    * its logarithm: per-term ranking is identical (log is monotone and
    * the factor is constant within a term), and IEEE division replays
    * bit-identically in any engine while ln() may differ by an ulp
    * between libm implementations — the same exactness-over-canon
    * trade as the engine's decimal money sums.
    *
    * Shape: one token explode -> tf hash-aggregate on (doc, term) ->
    * df hash-aggregate on term (both map-side combinable; df derives
    * from tf so the corpus explodes ONCE) -> broadcast the 1-row
    * corpus count -> join on term -> per-doc top-k window. Shuffles
    * carry (doc, term, count) triples bounded by distinct-term mass,
    * never raw text. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val tf = docs.select(col(idCol),
        explode(TextDedup.tokensOf(col(textCol))).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.select(col(idCol)).distinct()
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(idCol)
      .orderBy(desc("score"), asc("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * (col("n_docs") + 1.0) / (col("df") + 1.0), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("df"),
        col("score"))
  }

  // ------------------------------------------- n-gram LM quality score

  /** CCNet-style n-gram language-model quality scoring (Wenzek et al.
    * 2020, arXiv:1911.00359 §4.3 — there a KenLM 5-gram; here a bigram
    * LM with add-alpha smoothing trained ON a deterministic split of
    * the corpus itself): documents whose token transitions are
    * improbable under a reference LM are low-quality (gibberish,
    * boilerplate, wrong-language) and score low. The classic
    * perplexity-filter pass between raw crawl and tokenizer.
    *
    * Model: P(w2|w1) = (c(w1 w2) + a) / (c(w1 ·) + a·V), V = distinct
    * successor types in train. Score = mean log-prob over the doc's
    * bigrams; ppl = exp(-score). Unseen contexts degrade smoothly to
    * a/(a·V) = 1/V.
    *
    * Determinism across engines and partitionings: each bigram's
    * log-prob is snapped to integer MICRO-log units
    * (floor(ln(p)·1e6 + 0.5) as BIGINT) before the per-doc sum — an
    * integer sum is order-independent, where a shuffled double sum is
    * not. ln() of the same rational double agrees to 1 ulp across
    * libm implementations; a micro-unit snap only misreads that at an
    * exact .5 boundary (~1e-10 probability per evaluation).
    *
    * 100 TB shape: two map-side-combinable hash aggregations over
    * train bigrams (counts), then the scoring pass is a map-only
    * explode + two equi-joins on the gram/context key + one combinable
    * per-doc sum. The count tables are df-bounded (vocabulary², but
    * Zipf-truncated in practice) and the V/total stats travel as a
    * broadcast 1-row cross join. Tokenization = [[TextDedup.tokensOf]]
    * (the dedup battery's shingle space), SQL-replayable.
    *
    * Returns one row per `train`+`score` doc with >= 2 tokens:
    * (idCol, n_bigrams, avg_logp, ppl). */
  def lmScore(train: DataFrame, score: DataFrame, idCol: String,
      textCol: String, alpha: Double = 0.5): DataFrame = {
    require(alpha > 0,
      "add-alpha smoothing needs alpha > 0 (log of a zero probability)")
    def bigrams(df: DataFrame): DataFrame = {
      val toks = TextDedup.tokensOf(col(textCol))
      df.select(col(idCol), toks.as("__toks"))
        .filter(size(col("__toks")) >= 2)
        .select(col(idCol),
          explode(TextDedup.shinglesOf(col("__toks"), 2)).as("g"))
    }
    val trainBi = bigrams(train)
    val c12 = trainBi.groupBy("g").agg(count(lit(1)).as("c12"))
    val c1 = trainBi
      .select(substring_index(col("g"), " ", 1).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = c12
      .select(substring_index(col("g"), " ", -1).as("w2"))
      .agg(countDistinct(col("w2")).cast("double").as("V"))
      // V = 0 (train empty / no doc with >= 2 tokens) would make the
      // smoothing denominator 0 -> NULL division -> NULL avg_logp/ppl
      // for EVERY scored doc, and a NULL-compared perplexity gate
      // silently keeps or drops everything — fail loudly in-plan
      // instead (zero cost on the healthy path)
      .select(when(col("V") === 0.0, raise_error(lit(
        "lmScore: train side produced an EMPTY bigram table (no doc " +
          "with >= 2 tokens) — every score would be NULL")).cast("double"))
        .otherwise(col("V")).as("V"))
    bigrams(score)
      .join(c12, Seq("g"), "left")
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        floor(log((coalesce(col("c12"), lit(0L)) + alpha) /
            (coalesce(col("c1"), lit(0L)) + col("V") * alpha)) * 1e6 + 0.5)
          .cast("long").as("micro"))
      .groupBy(idCol)
      .agg(sum(col("micro")).as("sum_micro"),
        count(lit(1)).as("n_bigrams"))
      .select(col(idCol), col("n_bigrams"),
        round(col("sum_micro") / col("n_bigrams") / 1e6, 6).as("avg_logp"))
      .withColumn("ppl", round(exp(-col("avg_logp")), 3))
  }

  // ------------------------------- DSIR importance-resampling selection

  /** DSIR importance weights (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS 2023,
    * arXiv:2302.03169): score every raw document by how TARGET-like
    * its hashed n-gram profile is — the published method for selecting
    * web-scale pretraining data that matches a small high-quality
    * target corpus (the selection layer ABOVE this repo's quality/
    * dedup gates; [[lmScore]] ranks by fluency under one LM, this
    * ranks by the likelihood RATIO between two).
    *
    * Features: word unigrams + bigrams ([[TextDedup.tokensOf]] /
    * [[TextDedup.shinglesOf]] — the battery's one tokenization) hashed
    * into `buckets` buckets by the repo's 52-bit md5 derivation. Both
    * corpora reduce to bucket-count vectors; a document's log
    * importance weight is
    *
    *   log w(x) = Σ_occurrences [ ln p_T(b) − ln p_R(b) ]
    *
    * with add-half smoothing p(b) = (2c_b + 1) / (2n + B) spelled
    * all-integer, so each bucket's log-ratio is ONE double whose
    * micro-unit rounding (the [[lmScore]] discipline) makes the
    * per-document SUM an exact long — order-independent, partition-
    * independent, engine-replayable. Returns (idCol, n_grams,
    * dsir_logw), one row per raw doc with at least one gram.
    *
    * 100 TB shape: the bucket table is B rows REGARDLESS of corpus
    * size (the whole point of hashed features) and broadcasts; the
    * target side is benchmark-small; the raw side pays one map-only
    * explode + broadcast join + combinable per-doc long sum — no
    * shuffle wider than (id, partial sum). */
  /** The ONE gram spelling shared by the batch scorer and the
    * streaming probe (their row-for-row equality rests on it): word
    * unigrams (empties dropped) ++ word bigrams (docs with >= 2
    * tokens only). */
  private def dsirGramsOf(text: Column): Column = {
    val toks = TextDedup.tokensOf(text)
    concat(
      filter(toks, t => length(t) > 0),
      when(size(toks) >= 2, TextDedup.shinglesOf(toks, 2))
        .otherwise(array().cast("array<string>")))
  }

  private def dsirBucketOf(g: Column, buckets: Int): Column =
    conv(substring(md5(g), 1, 13), 16, 10).cast("long") % buckets

  /** The DENSE B-row micro-unit log-ratio table (bucket, __r_micro) —
    * the learned artifact of DSIR, shared by [[dsirWeights]] (joins
    * it) and [[dsirScoreProbe]] (embeds it). Each corpus is scanned
    * once for its count table (Materialize.stage, the exchange-reuse
    * seam); an empty target fails in-plan, loudly. */
  private[graft] def dsirRatioTable(raw: DataFrame, target: DataFrame,
      textCol: String, buckets: Int): DataFrame = {
    require(buckets >= 2, "dsir needs buckets >= 2")
    def bucketCounts(df: DataFrame, cName: String) =
      df.select(explode(dsirGramsOf(col(textCol))).as("g"))
        .select(dsirBucketOf(col("g"), buckets).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as(cName))
    val cT = Materialize.stage(bucketCounts(target, "c_t"))
    val cR = Materialize.stage(bucketCounts(raw, "c_r"))
    val totals = cT
      .agg(coalesce(sum(col("c_t")), lit(0L)).as("n_t"))
      .crossJoin(cR
        .agg(coalesce(sum(col("c_r")), lit(0L)).as("n_r")))
      // an empty target would give every doc the SAME constant weight
      // — selection silently degenerates to uniform; fail in-plan
      .select(when(col("n_t") === 0L, raise_error(lit(
          "dsirWeights: target side produced ZERO grams — every raw " +
            "doc would score identically")).cast("long"))
          .otherwise(col("n_t")).as("n_t"),
        col("n_r"))
    // DENSE (sequence range): absent buckets carry the smoothing
    // floor instead of needing a per-probe fallback
    raw.sparkSession.range(buckets.toLong)
      .select(col("id").as("bucket"))
      .join(cT, Seq("bucket"), "left")
      .join(cR, Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        floor((log((coalesce(col("c_t"), lit(0L)) * 2 + 1)
              .cast("double")) -
            log((col("n_t") * 2 + buckets).cast("double")) -
            log((coalesce(col("c_r"), lit(0L)) * 2 + 1).cast("double")) +
            log((col("n_r") * 2 + buckets).cast("double"))) * 1e6 + 0.5)
          .cast("long").as("__r_micro"))
  }

  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 4096): DataFrame = {
    val ratio = dsirRatioTable(raw, target, textCol, buckets)
    raw.select(col(idCol), explode(dsirGramsOf(col(textCol))).as("g"))
      .select(col(idCol), dsirBucketOf(col("g"), buckets).as("bucket"))
      .join(broadcast(ratio), Seq("bucket"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(col("__r_micro")).as("__sum_micro"))
      .select(col(idCol), col("n_grams"),
        round(col("__sum_micro") / 1e6, 6).as("dsir_logw"))
  }

  /** The DSIR score as a STATELESS per-row expression — the streaming
    * form (the contaminationProbe pattern): the B-entry micro-ratio
    * table is collected ONCE (bounded by `buckets`, 4096 longs by
    * default — task-closure-trivial) and rides inside the returned
    * Column function as an array literal, so an ingest stream scores
    * documents with a pure map: no state, no watermark, no shuffle,
    * append-mode safe by construction. Per row the gram micro-ratios
    * fold as LONGS (order-independent), so probe == batch
    * [[dsirWeights]] EXACTLY for every doc with >= 1 gram; a gramless
    * doc probes (0, 0.0) where the batch operator omits the row
    * (documented asymmetry — a stream cannot drop rows it must
    * acknowledge). Returns text => struct(n_grams, dsir_logw). */
  def dsirScoreProbe(raw: DataFrame, target: DataFrame, textCol: String,
      buckets: Int = 4096): Column => Column = {
    val lut = new Array[Long](buckets)
    dsirRatioTable(raw, target, textCol, buckets).collect()
      .foreach(r => lut(r.getLong(0).toInt) = r.getLong(1))
    val lutLit = typedLit(lut.toSeq)
    text => {
      val grams = dsirGramsOf(text)
      struct(
        size(grams).cast("long").as("n_grams"),
        round(
          aggregate(grams, lit(0L), (acc, g) =>
            acc + element_at(lutLit,
              (dsirBucketOf(g, buckets) + 1).cast("int"))) / 1e6,
          6).as("dsir_logw"))
    }
  }

  /** The DSIR resampling step: draw `n` documents WITHOUT replacement
    * with inclusion odds proportional to exp(logwCol) — the Gumbel
    * top-k trick (key = log w + Gumbel noise, largest keys win), which
    * is [[weightedSample]]'s exponential race rewritten in log space
    * so astronomically large/small importance ratios never overflow a
    * double. Noise is deterministic: g = −ln(−ln u) with the same
    * md5-dyadic u as weightedSample — reproducible across runs,
    * partitionings and engines; a different salt draws an independent
    * sample. NULL ids/weights are excluded (the weightedSample
    * contract). Plans as TakeOrderedAndProject: per-partition top-n,
    * no global sort. Returns the winners with their `samp_key`. */
  def dsirResample(weighted: DataFrame, idCol: String, logwCol: String,
      n: Int, salt: String = "graft"): DataFrame = {
    require(n >= 1, "dsirResample needs n >= 1")
    val bits = conv(substring(
        md5(concat_ws("|", col(idCol), lit(salt))), 1, 13), 16, 10)
      .cast("long").cast("double")
    val u = (bits + lit(0.5)) / lit(4503599627370496.0) // 2^52
    weighted
      .filter(col(idCol).isNotNull && col(logwCol).isNotNull)
      .withColumn("samp_key", col(logwCol).cast("double") - log(-log(u)))
      .orderBy(col("samp_key").desc, col(idCol))
      .limit(n)
  }

  // --------------------------------------------- source overlap matrix

  /** Cross-source contamination matrix — for every pair of corpus
    * sources, how many distinct word shingles they share, with a
    * containment ratio (shared / smaller side). The corpus-analytics
    * report behind mixture decisions: a web source that contains most
    * of a "books" source's shingles is re-crawled content, not new
    * signal, and double-weighting both would duplicate training data.
    *
    * 100 TB shape: one combinable (source, digest) DISTINCT aggregate
    * — shingles leave the scan as md5 digests, never text — then a
    * digest-keyed self-join whose per-digest fan-out is bounded by the
    * SOURCE count (dozens), never the corpus; totals broadcast back
    * onto the pair rows. */
  def sourceOverlapMatrix(docs: DataFrame, textCol: String,
      sourceCol: String, shingleN: Int = 3): DataFrame = {
    val grams = docs.select(col(sourceCol).as("source"),
        explode(TextDedup.shinglesOf(
          TextDedup.tokensOf(col(textCol)), shingleN)).as("g"))
      .select(col("source"), md5(col("g").cast("binary")).as("h"))
      .distinct()
    val totals = grams.groupBy("source").agg(count(lit(1)).as("n"))
    val a = grams.as("a")
    val b = grams.as("b")
    a.join(b, col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .join(broadcast(totals.select(col("source").as("src_a"),
        col("n").as("n_a"))), Seq("src_a"))
      .join(broadcast(totals.select(col("source").as("src_b"),
        col("n").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared_grams"),
        col("n_a"), col("n_b"),
        round(col("n_shared_grams").cast("double") /
          least(col("n_a"), col("n_b")), 6).as("containment"))
  }

  // -------------------------------------------------- train/val split

  /** Deterministic train/validation/test split — the assignment every
    * training run needs to be REPRODUCIBLE and leakage-free: a
    * document's split must never depend on partitioning, run order, or
    * corpus growth (a re-crawl that adds documents must not move an
    * existing doc from train to test, or eval contamination follows).
    *
    * Assignment = the md5 32-bit prefix of (idCol # salt) mapped onto
    * cumulative fraction thresholds, exactly the [[mixCorpus]]
    * convention: fixed-width lowercase hex compares monotonically, so
    * the split replays bit-identically in any engine with md5 — and
    * joining on the id reproduces the split years later without
    * storing it. `salt` lets different experiments draw independent
    * splits from the same corpus.
    *
    * Fractions must be >= 0, sum to <= 1, and (same contract as
    * mixCorpus) be <= 32-bit binary fractions so threshold arithmetic
    * is exact; any remainder falls to the LAST split in declaration
    * order. Map-only projection — no shuffle, no RNG. */
  def hashSplit(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)], salt: String = ""): DataFrame = {
    require(splits.nonEmpty, "need at least one split")
    require(splits.forall(_._2 >= 0), "fractions must be non-negative")
    require(splits.map(_._2).sum <= 1.0 + 1e-12, "fractions must sum to <= 1")
    require(splits.forall { case (_, f) =>
      (f * 4294967296.0) == math.floor(f * 4294967296.0)
    }, "fractions must be binary fractions with <= 32 bits (k / 2^32) " +
      "for bit-identical cross-engine replay")
    val cumulative = splits.scanLeft(0.0)(_ + _._2).tail
    // The last DECLARED split's branch is unconditional (see below), so
    // at full coverage it receives the prefix-exactly-ffffffff doc that
    // the strict < pushes past every threshold. At partial coverage
    // that is the documented remainder contract (the last split IS the
    // remainder sink, zero fraction or not) — but at full coverage a
    // zero-fraction last split would silently gain a doc it was
    // promised never to hold: eval contamination. Refuse loudly.
    require(cumulative.last < 1.0 - 1e-12 || splits.last._2 > 0,
      s"the last declared split '${splits.last._1}' has fraction 0 at " +
        "full coverage: it is the unconditional fallback branch and " +
        "would receive any doc whose md5 prefix is exactly ffffffff — " +
        "declare a positive-fraction split last (or leave coverage " +
        "partial, which makes the last split the documented remainder " +
        "sink)")
    val prefix = substring(
      md5(concat(col(idCol).cast("string"), lit("#"), lit(salt))
        .cast("binary")), 1, 8)
    def hexThreshold(f: Double): String = {
      val v = (f * 4294967296.0).toLong.min(4294967295L)
      f"$v%08x"
    }
    // the LAST split's branch is UNCONDITIONAL (fold over init only):
    // at full coverage its threshold is 1.0 -> "ffffffff", and the
    // strict < would push a doc whose prefix is exactly ffffffff
    // (expected >= 1 per few-billion docs) past every split into this
    // fallback — which the full-coverage require above guarantees is a
    // positive-fraction split, so no zero-fraction eval split can gain
    // a doc (the contamination this op exists to prevent)
    val assigned = splits.init.map(_._1).zip(cumulative.init)
      .foldRight(lit(splits.last._1): Column) { case ((name, cum), acc) =>
        when(prefix < lit(hexThreshold(cum)), name).otherwise(acc)
      }
    df.withColumn("split", assigned)
  }

  // ---------------------------------------------------- corpus mixing

  /** Deterministic corpus mixing with fractional per-source weights —
    * the data-mixture primitive of a training run ("web x1.7, books
    * x0.4, rest x1.0"). Weight w emits floor(w) full copies of each
    * row plus one fractional copy kept for a deterministic
    * hash-selected w-floor(w) share; w < 1 downsamples the single
    * copy the same way. The keep decision is a fixed-width-hex md5
    * prefix compared to the weight's 32-bit threshold — lexicographic
    * compare of fixed-width lowercase hex is monotone in the value, so
    * the selection replays bit-identically in any engine with md5.
    *
    * Shape: map-only explode with fan-out ceil(max weight) — no
    * shuffle, no RNG (reproducible across runs, partitionings and
    * engines, unlike `sample()`). Output keeps (idCol, sourceCol,
    * copy_idx). */
  def mixCorpus(df: DataFrame, idCol: String, sourceCol: String,
      weights: Map[String, Double], defaultWeight: Double = 1.0): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(w => w >= 0),
      "weights must be non-negative")
    // The cross-engine bit-identity claim rests on frac * 2^32 being
    // EXACT: a weight whose fractional part is not a multiple of 2^-32
    // (e.g. 0.1) truncates, and the threshold silently shifts by up to
    // 1 ulp relative to an engine that rounds differently. Require
    // binary fractions of at most 32 bits (0.5, 0.25, 0.375, ...) so
    // the contract is explicit instead of silently weakened.
    require((weights.values ++ Seq(defaultWeight)).forall { wt =>
      val frac = wt - math.floor(wt)
      (frac * 4294967296.0) == math.floor(frac * 4294967296.0)
    }, "fractional weights must be binary fractions with <= 32 bits " +
      "(k / 2^32) for bit-identical cross-engine replay; got " +
      (weights.values ++ Seq(defaultWeight)).filter { wt =>
        val f = wt - math.floor(wt); (f * 4294967296.0) % 1 != 0
      }.mkString(", "))
    val w = weights.foldLeft(lit(defaultWeight)) { case (acc, (src, wt)) =>
      when(col(sourceCol) === src, wt).otherwise(acc)
    }
    def thresholdHex(weight: Column): Column = {
      // 8-hex-digit threshold of the fractional part: frac * 2^32
      val frac = weight - floor(weight)
      lpad(lower(hex((frac * 4294967296.0).cast("long"))), 8, "0")
    }
    df.withColumn("__w", w)
      .withColumn("copy_idx",
        explode(sequence(lit(0), greatest(ceil(col("__w")).cast("int") - 1, lit(0)))))
      .filter(
        col("copy_idx") < floor(col("__w")).cast("int") ||
          substring(md5(concat(col(idCol).cast("string"), lit("#"),
            col("copy_idx").cast("string")).cast("binary")), 1, 8)
            < thresholdHex(col("__w")))
      .drop("__w")
  }

  // ------------------------------------------- weighted sampling

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    * A-Res): item i gets the exponential-race key
    * k_i = -ln(u_i) / w_i and the n SMALLEST keys win — the standard
    * distributed one-pass draw where inclusion odds are proportional
    * to weight (quality-weighted corpus subsetting; q81/q109 are the
    * uniform/stratified members of this family).
    *
    * u_i is DETERMINISTIC: the first 52 md5 bits of (id, salt) mapped
    * to the exact dyadic (bits + 0.5) / 2^52 ∈ (0,1) — 52 bits fit a
    * double exactly, so u replays bit-identically in any engine with
    * md5, and the draw is reproducible across runs, partitionings and
    * engines (different salt = a fresh independent draw). ln() is the
    * one non-exact step: engines may differ by an ulp, which could in
    * principle swap two near-tied RANKS — keys of distinct documents
    * are continuous-random, so ties at 1e-15 relative are vanishingly
    * rare (and the driver gate would catch one loudly).
    *
    * NULL and non-positive weights are excluded (their inclusion
    * probability is 0 in the limit; excluding is the well-defined
    * contract — callers wanting a floor should clamp first).
    *
    * 100 TB shape: map-only key computation, then orderBy(key).limit(n)
    * plans as TakeOrderedAndProject — per-partition bounded top-n and
    * one n-sized driver merge, NO global sort shuffle. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      n: Int, salt: String = "graft"): DataFrame = {
    require(n >= 1, "weightedSample needs n >= 1")
    val bits = conv(substring(
        md5(concat_ws("|", col(idCol), lit(salt))), 1, 13), 16, 10)
      .cast("long").cast("double")
    val u = (bits + lit(0.5)) / lit(4503599627370496.0) // 2^52
    df
      // NULL ids are excluded like degenerate weights: concat_ws SKIPS
      // nulls, so every null-id row would share ONE sampling key and
      // the cut among them would be partition-order luck — the exact
      // nondeterminism this op's md5 derivation exists to rule out
      .filter(col(idCol).isNotNull &&
        col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("samp_key", -log(u) / col(weightCol).cast("double"))
      .orderBy(col("samp_key"), col(idCol))
      .limit(n)
  }

  /** [[weightedSample]] PER GROUP — the stratified curation draw ("n
    * docs per source, inclusion odds by quality weight") a mixture
    * pipeline runs per shard/language/source: the same deterministic
    * Efraimidis–Spirakis exponential-race keys (md5-dyadic u, see
    * weightedSample for the replay contract), the n SMALLEST keys per
    * group win.
    *
    * 100 TB shape: the per-group top-n runs through the bounded
    * [[graft.functions.TopKAgg]] heap aggregate — k rows per (group,
    * partition) through the one shuffle, map-side combined — NOT a
    * row_number window (full sort + full shuffle of every candidate;
    * the q185 measurement is 3.1x on exactly this swap). The id must
    * be LONG (the TopKAgg analysis-time contract — other id types
    * fail loudly at planning; cast or dense-rank ids first). Returns
    * (groupCols..., smp_rank 1-based by key asc, idCol, samp_key). */
  def weightedSamplePerGroup(df: DataFrame, idCol: String,
      weightCol: String, groupCols: Seq[String], nPerGroup: Int,
      salt: String = "graft"): DataFrame = {
    require(nPerGroup >= 1, "weightedSamplePerGroup needs nPerGroup >= 1")
    require(groupCols.nonEmpty,
      "weightedSamplePerGroup needs at least one group column — use " +
        "weightedSample for the global draw")
    val bits = conv(substring(
        md5(concat_ws("|", col(idCol), lit(salt))), 1, 13), 16, 10)
      .cast("long").cast("double")
    val u = (bits + lit(0.5)) / lit(4503599627370496.0) // 2^52
    val gcols = groupCols.map(col)
    df
      .filter(col(idCol).isNotNull &&
        col(weightCol).isNotNull && col(weightCol) > 0)
      .select(gcols :+ col(idCol) :+
        (-log(u) / col(weightCol).cast("double")).as("samp_key"): _*)
      .groupBy(gcols: _*)
      // smallest keys win the race: negate for the desc-ordered heap
      // (ties break id ASC inside the aggregate, matching the global
      // form's orderBy(samp_key, id))
      .agg(graft.functions.TopKAgg.topKByScore(
        -col("samp_key"), col(idCol), nPerGroup).as("__top"))
      .select(gcols :+ posexplode(col("__top")).as(Seq("__pos", "__e")): _*)
      .select(gcols ++ Seq((col("__pos") + 1).cast("int").as("smp_rank"),
        col("__e.id").as(idCol), (-col("__e.score")).as("samp_key")): _*)
  }

  // ------------------------------------------- BPE vocabulary induction

  /** The BPE alphabet split — lowercased maximal [a-z]+ runs. ONE
    * spelling shared by the learn and apply sides: their
    * word-for-word correspondence is the whole correctness story
    * (applyBpeMerges' token counts are only meaningful if words split
    * exactly as in training). */
  private def bpeWords(text: Column): Column =
    split(lower(text), "[^a-z]+")

  /** Bounded-lineage chain truncation for iterative column rewrites:
    * localCheckpoint every caller-chosen period, MATERIALIZING the new
    * checkpoint before eagerly freeing the superseded one (the lazy
    * checkpoint's lineage still reads the predecessor's blocks until
    * it materializes; and Dataset.unpersist is a no-op on
    * localCheckpoint'd frames — the release goes through the
    * LogicalRDD). Without the free, a 30k-merge run pins ~1k copies
    * of the type table until driver GC. */
  private final class ChainTruncator {
    private var last: Option[DataFrame] = None
    def truncate(df: DataFrame): DataFrame = {
      val ck = df.localCheckpoint(false)
      ck.count() // materialize BEFORE freeing what it is built from
      release()
      last = Some(ck)
      ck
    }
    /** Free the most recent checkpoint too — only when the caller no
      * longer executes anything derived from it. */
    def release(): Unit = {
      last.foreach(Materialize.release)
      last = None
    }
  }

  /** BPE merge-rule induction (Sennrich et al. 2016, arXiv:1508.07909):
    * learn `numMerges` merge rules by repeatedly fusing the corpus's
    * most frequent adjacent symbol pair — the vocabulary-training step
    * of a tokenizer pipeline (q39 is the APPLICATION side: tokenize
    * with a fixed rule set; this learns the rules).
    *
    * Trains on WORD TYPES with counts, not running tokens — the corpus
    * collapses to its vocabulary in ONE aggregation, and every merge
    * iteration is a pair-count aggregation over that type table. That
    * is what makes the op tractable at 100 TB: a trillion-token corpus
    * has tens of millions of word types, so the per-merge work is a
    * small-table explode + groupBy + TakeOrdered(1), independent of
    * corpus size after the first pass.
    *
    * Symbols are kept as a per-symbol-wrapped string ("low" ->
    * "_l__o__w_"): a merge (a, b) is then the literal replace of
    * "_a__b_" with "_ab_", which (i) cannot match across symbol
    * boundaries (a symbol's wrapper chars are its own) and (ii)
    * fuses left-to-right non-overlapping occurrences — exactly
    * reference BPE's greedy application. Words are lowercased and
    * split on non-[a-z] first, so '_' never collides with a symbol.
    * Ties on count break lexicographically (a, b) for a fully
    * deterministic, engine-replayable rule sequence.
    *
    * Driver holds one (a, b, count) row per merge — k-sized, like
    * ivfBuild's centroids.
    *
    * TWO learn engines over the same collapsed type table, same rule
    * sequence by construction (spec-pinned equal):
    *
    *  - DRIVER-LOCAL (the default whenever the type table fits
    *    `localLearnMaxTypes`): collect (word, count) once and run the
    *    classic in-memory learn loop with incremental pair-count
    *    maintenance — O(occurrences-of-merged-pair) per rule, zero
    *    scheduler round-trips. This is how production tokenizer
    *    trainers work, and it is what makes REAL merge counts viable:
    *    the distributed loop pays one driver round-trip (~0.3 s
    *    job-submission floor) PER RULE, which at a 30k-merge
    *    vocabulary is hours of pure scheduling latency independent of
    *    corpus size. The collapse is the distributed part; the learn
    *    fits the driver. SIZING IS THE INDEX, NOT THE PAIRS: beyond
    *    the raw (word, count) rows, the learn holds a symbol array
    *    per word plus a pair -> containing-words occurrence index —
    *    roughly one boxed entry per (pair, word) occurrence, ~10x
    *    the raw text bytes in JVM overhead. The 2M-type default
    *    budgets a few GB of driver heap (PERF.md's BPE curve: its 200k-type /
    *    30k-merge row ran well inside 1 GB); a trillion-token
    *    corpus's tens of millions of types need
    *    `localLearnMaxTypes` raised on a driver sized for
    *    ~10x-the-type-table, or the distributed fallback.
    *  - DISTRIBUTED (type table above the budget, or budget 0): the
    *    per-merge pair-count aggregation loop over the evolving type
    *    table, one replace per learned rule, with a lazy
    *    localCheckpoint every 32 rules so plan size stays bounded. */
  def bpeMerges(docs: DataFrame, textCol: String, numMerges: Int,
      localLearnMaxTypes: Long = 2000000L): DataFrame = {
    require(numMerges >= 1, "bpeMerges needs numMerges >= 1")
    val spark = docs.sparkSession
    val wordTypes = docs
      .select(explode(bpeWords(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .persist()
    try {
      val nTypes = wordTypes.count()
      import spark.implicits._
      if (nTypes <= localLearnMaxTypes) {
        val local = wordTypes.collect()
          .map(r => (r.getString(0), r.getLong(1)))
        return bpeLearnLocal(local, numMerges)
          .toDF("merge_idx", "a", "b", "cnt")
      }
      bpeMergesDistributed(wordTypes, numMerges)
    } finally wordTypes.unpersist(blocking = false)
  }

  /** The in-memory learn loop over the collected (word, count) type
    * table: symbols as string arrays, pair counts and a pair -> word
    * occurrence index maintained INCREMENTALLY (only words containing
    * the merged pair are touched per rule — the subword-nmt
    * bookkeeping), argmax by (count desc, a asc, b asc) exactly like
    * the distributed aggregation's ORDER BY, merges applied
    * left-to-right non-overlapping exactly like the wrapped-string
    * replace. The argmax is a LAZY max-heap (an entry is pushed on
    * every count mutation; pops whose count no longer matches the
    * live map are discarded) — a linear map scan per rule was
    * measured quadratic-in-merges at deep vocabularies. Per-rule
    * cost: O(log) pops + work proportional to the merged pair's
    * occurrences. */
  private def bpeLearnLocal(types: Array[(String, Long)],
      numMerges: Int): Seq[(Int, String, String, Long)] = {
    // interned symbols: words are int arrays, a pair is ONE packed
    // long (a << 32 | b) — no tuple/string hashing on the hot path
    val symId = new java.util.HashMap[String, Integer]()
    val syms = scala.collection.mutable.ArrayBuffer[String]()
    def intern(s: String): Int = {
      val got = symId.get(s)
      if (got != null) got.intValue
      else { syms += s; symId.put(s, syms.length - 1); syms.length - 1 }
    }
    val words: Array[Array[Int]] =
      types.map(_._1.map(ch => intern(ch.toString)).toArray)
    val counts: Array[Long] = types.map(_._2)
    def key(a: Int, b: Int): Long = (a.toLong << 32) | (b.toLong & 0xffffffffL)
    val pairCount = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    val pairWords =
      new java.util.HashMap[java.lang.Long, java.util.HashSet[Integer]]()
    // (count desc, a asc, b asc) on the SYMBOL STRINGS — the
    // distributed ORDER BY; string compares only fire on count ties
    val heap = new java.util.PriorityQueue[Array[Long]](
      (x: Array[Long], y: Array[Long]) => {
        val c = java.lang.Long.compare(y(0), x(0))
        if (c != 0) c
        else {
          val a = syms((x(1) >>> 32).toInt).compareTo(syms((y(1) >>> 32).toInt))
          if (a != 0) a
          else syms(x(1).toInt).compareTo(syms(y(1).toInt))
        }
      })
    // pairs whose count changed since their last heap entry — pushed
    // ONCE per (pair, merge round) instead of once per mutation (early
    // rounds mutate a hot pair thousands of times; deferring the push
    // is what keeps deep runs in seconds)
    val dirty = new java.util.HashSet[java.lang.Long]()
    def add(i: Int, sign: Long): Unit = {
      val s = words(i)
      var j = 0
      while (j < s.length - 1) {
        val p = java.lang.Long.valueOf(key(s(j), s(j + 1)))
        val c = pairCount.getOrDefault(p, 0L) + sign * counts(i)
        if (c == 0L) pairCount.remove(p) else pairCount.put(p, c)
        dirty.add(p)
        if (sign > 0)
          pairWords.computeIfAbsent(p, _ => new java.util.HashSet[Integer]())
            .add(i)
        else {
          val ws = pairWords.get(p)
          if (ws != null) { ws.remove(Integer.valueOf(i))
            if (ws.isEmpty) pairWords.remove(p) }
        }
        j += 1
      }
    }
    def flushDirty(): Unit = {
      val it = dirty.iterator()
      while (it.hasNext) {
        val p = it.next()
        val live = pairCount.get(p)
        if (live != null) heap.add(Array(live.longValue, p.longValue))
      }
      dirty.clear()
    }
    words.indices.foreach(add(_, 1L))
    flushDirty()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var it = 1
    var done = false
    while (it <= numMerges && !done) {
      // pop to the first LIVE entry (count matches the map — stale
      // entries from superseded counts are discarded)
      var bestKey = 0L
      var bestC = 0L
      var found = false
      while (!found && !heap.isEmpty) {
        val e = heap.poll()
        val live = pairCount.get(java.lang.Long.valueOf(e(1)))
        if (live != null && live.longValue == e(0)) {
          bestKey = e(1); bestC = e(0); found = true
        }
      }
      if (!found) { done = true }
      else {
        val (ba, bb) = ((bestKey >>> 32).toInt, bestKey.toInt)
        merges += ((it, syms(ba), syms(bb), bestC))
        val fusedId = intern(syms(ba) + syms(bb))
        val touched = pairWords.get(java.lang.Long.valueOf(bestKey))
        if (touched != null) {
          // snapshot: add/remove below mutate the index under iteration
          val ids = touched.toArray(new Array[Integer](touched.size))
          ids.foreach { boxed =>
            val i = boxed.intValue
            add(i, -1L)
            val s = words(i)
            val out = new Array[Int](s.length)
            var j = 0
            var n = 0
            while (j < s.length) {
              if (j < s.length - 1 && s(j) == ba && s(j + 1) == bb) {
                out(n) = fusedId; n += 1; j += 2
              } else { out(n) = s(j); n += 1; j += 1 }
            }
            words(i) = java.util.Arrays.copyOf(out, n)
            add(i, 1L)
          }
        }
        flushDirty()
        it += 1
      }
    }
    merges.result()
  }

  /** The distributed learn loop (scale fallback past
    * `localLearnMaxTypes`): one pair-count aggregation +
    * TakeOrdered(1) round-trip per rule over the evolving wrapped-
    * symbol type table. ALPHABET-AGNOSTIC since r14: the per-rule
    * replace goes through `call_function("replace", ...)` with
    * literal Columns (never SQL-string parsing) and the wrap regex
    * runs in DOTALL, so the same loop serves the [a-z] word engine
    * and [[byteBpeMerges]]' 256-char unit alphabet — the only
    * alphabet requirement is the structural one, that '_' is not a
    * symbol (true for both by construction). Cross-engine tie-break
    * parity: Spark orders strings by UTF-8 bytes, the driver-local
    * learn by UTF-16 code units — order-equivalent below U+0800,
    * which bounds both alphabets. */
  private def bpeMergesDistributed(wordTypes: DataFrame,
      numMerges: Int): DataFrame = {
    val spark = wordTypes.sparkSession
    val types = wordTypes
      .select(regexp_replace(col("w"), "(?s)(.)", "_$1_").as("sym"),
        col("cnt"))
      .persist()
    val truncator = new ChainTruncator
    try {
      var cur = types
      val merges = Seq.newBuilder[(Int, String, String, Long)]
      var it = 1
      var exhausted = false
      while (it <= numMerges && !exhausted) {
        val top = cur
          .select(split(expr("substring(sym, 2, length(sym) - 2)"), "__").as("s"),
            col("cnt"))
          .filter(size(col("s")) >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(s) - 2), i -> struct(s[i] as a, s[i + 1] as b))"))
            .as("p"), col("cnt"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("cnt")).as("c"))
          .orderBy(col("c").desc, col("a"), col("b"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((it, a, b, c))
          // literal Columns, not an expr string: byte-alphabet symbols
          // may contain quotes/backslashes that SQL parsing would eat
          cur = cur.withColumn("sym",
            call_function("replace", col("sym"),
              lit(s"_${a}__${b}_"), lit(s"_${a}${b}_")))
          // real vocab training runs thousands of merges: truncate the
          // accumulated replace lineage periodically so plan size and
          // per-iteration analysis cost stay bounded — and FREE each
          // superseded checkpoint (a 30k-merge run would otherwise pin
          // ~1k copies of the type table; ChainTruncator scaladoc)
          if (it % 32 == 0) cur = truncator.truncate(cur)
          it += 1
        }
      }
      import spark.implicits._
      merges.result().toDF("merge_idx", "a", "b", "cnt")
    } finally {
      // the rule list is already collected driver-side — the final
      // checkpoint is releasable too
      truncator.release()
      types.unpersist(blocking = false)
    }
  }

  /** Apply learned BPE merge rules: per-document token counts under
    * the `bpeMerges` vocabulary — the "how many tokens is this corpus
    * under MY tokenizer" pass that budgets a training run.
    *
    * Efficient shape (the reason training on types pays off twice):
    * rules are applied to the WORD TYPE table once — |vocab| rows, not
    * |corpus| — and documents join word -> token_count by type, so
    * the per-doc pass is an explode + broadcast-sized equi-join +
    * sum, with zero per-doc string rewriting. Words are lowercased
    * [a-z]+ exactly as in training; out-of-alphabet spans separate
    * words and contribute no tokens.
    *
    * The word-type lexicon is broadcast, so it must fit the broadcast
    * budget. */
  def applyBpeMerges(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    // the learn side guarantees [a-z]+ rules by construction; THIS is
    // the external surface — a quote would escape the replace string
    // literal below (parsed as SQL), and an uppercase or
    // underscore-bearing rule would silently never match the
    // lowercased wrapped symbols, yielding wrong token counts with no
    // error anywhere
    val lexicon = bpeFusedLexicon(docs, textCol, merges)
      .select(col("w"),
        // k symbols <=> k wrapped '_x_' units: tokens = underscores / 2
        ((length(col("sym")) -
          length(regexp_replace(col("sym"), "_", ""))) / 2)
          .cast("long").as("word_tokens"))
    docs.select(col(idCol),
        explode(bpeWords(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(lexicon), "w")
      .groupBy(idCol).agg(sum(col("word_tokens")).as("n_tokens"))
  }

  /** The fused type-table lexicon shared by [[applyBpeMerges]] and
    * [[bpeTokenSpans]]: every distinct corpus word rewritten through
    * the full rule sequence in wrapped-symbol form. Returns
    * (w, sym). */
  private def bpeFusedLexicon(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    // the learn side guarantees [a-z]+ rules by construction; THIS is
    // the external surface — a quote would escape the replace string
    // literal below (parsed as SQL), and an uppercase or
    // underscore-bearing rule would silently never match the
    // lowercased wrapped symbols, yielding wrong token counts with no
    // error anywhere
    merges.foreach { case (a, b) =>
      require(a.nonEmpty && b.nonEmpty &&
        (a + b).forall(ch => ch >= 'a' && ch <= 'z'),
        s"BPE merge rules must be non-empty [a-z]+ pairs, got ('$a', '$b')")
    }
    val types = docs
      .select(explode(bpeWords(col(textCol))).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .withColumn("sym", regexp_replace(col("w"), "(.)", "_$1_"))
    // lineage truncation every 32 rules, like the learn loop: a real
    // 30k-rule vocabulary would otherwise nest one replace expression
    // 30k deep (analyzer stack overflow / O(n²) analysis). The FINAL
    // checkpoint stays live — the returned frame reads it; superseded
    // ones free eagerly.
    val truncator = new ChainTruncator
    merges.zipWithIndex.foldLeft(types) {
      case (t, ((a, b), i)) =>
        val applied = t.withColumn("sym",
          expr(s"replace(sym, '_${a}__${b}_', '_${a}${b}_')"))
        if ((i + 1) % 32 == 0 && i + 1 < merges.length)
          truncator.truncate(applied)
        else applied
    }
  }

  /** Tokenize into SUBWORD SEQUENCES under a learned rule set — the
    * materialized form of [[applyBpeMerges]], which returns counts
    * only: one row per (doc, word, subword token), positions 1-based.
    * This is the table a training pipeline actually feeds the model
    * builder (token ids come from a vocabulary join on `token`), and
    * it satisfies the DECODE law that makes tokenization safe:
    * concatenating a word's tokens in order reproduces the word
    * exactly, for every word type in the corpus — nothing lost,
    * nothing invented (spec-pinned; the q204 battery entry requires
    * it in-query over the full lexicon).
    *
    * Same type-table scale shape as the count form: the rules rewrite
    * |vocab| lexicon rows once; documents pay an explode + broadcast
    * join + posexplode — zero per-doc string work, no shuffle beyond
    * the final ordering a caller asks for. `word_pos` preserves the
    * splitter's positions (gaps where [[bpeWords]] produced empties),
    * so the token table keeps the word-order structure of the source
    * text. Returns (idCol, word_pos, w, tok_pos, token). The lexicon
    * is broadcast, so it must fit the broadcast budget. */
  def bpeTokenSpans(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val lexicon = bpeFusedLexicon(docs, textCol, merges)
      .select(col("w"),
        // "_ab__c_" -> ["ab", "c"]: strip the outer wrappers, split on
        // the inter-symbol "__" seam (tokens are [a-z]+, so neither
        // pattern can occur inside a token)
        split(regexp_replace(col("sym"), "^_|_$", ""), "__").as("toks"))
    docs.select(col(idCol),
        posexplode(bpeWords(col(textCol))).as(Seq("__p0", "w")))
      .filter(length(col("w")) > 0)
      .join(broadcast(lexicon), "w")
      .select(col(idCol), (col("__p0") + 1).as("word_pos"), col("w"),
        posexplode(col("toks")).as(Seq("__t0", "token")))
      .select(col(idCol), col("word_pos"), col("w"),
        (col("__t0") + 1).as("tok_pos"), col("token"))
  }

  // ---------------------------------------------------- snapshot diff

  /** Snapshot diff — the incremental-processing primitive for periodic
    * crawls: classify every document across two corpus versions as
    * `added` (only in the new snapshot), `removed` (only in the old),
    * `changed` (present in both, fingerprint differs) or `unchanged`.
    * Downstream, only `added`+`changed` re-enter the expensive stages
    * (dedup, quality, embedding), which is what makes re-crawls
    * O(delta) instead of O(corpus).
    *
    * One full outer join on the id — hash-partitioned both sides, no
    * skew beyond id distribution; fingerprints travel instead of
    * payloads, so the shuffle carries (id, digest) pairs. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, idCol: String,
      fpCol: String): DataFrame = {
    // presence flags, not fingerprint nullness: a row present in a
    // snapshot with a NULL fingerprint (fetch-failed/unfingerprinted)
    // must NOT read as absent — fp-null-in-old classified 'added' and
    // NULL === NULL fell through to 'changed'. The null-safe <=>
    // treats two NULL fps as equal (unchanged: nothing re-enters the
    // pipeline on a doc neither snapshot could fingerprint). NULL ids
    // are refused upstream by the join semantics themselves (they
    // never match) — filter them, loudly absent rather than
    // double-counted as added+removed.
    val o = oldSnap.filter(col(idCol).isNotNull)
      .select(col(idCol).as("__id"), col(fpCol).as("__fp_old"),
        lit(true).as("__in_old"))
    val n = newSnap.filter(col(idCol).isNotNull)
      .select(col(idCol).as("__id"), col(fpCol).as("__fp_new"),
        lit(true).as("__in_new"))
    o.join(n, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("__in_old").isNull, "added")
          .when(col("__in_new").isNull, "removed")
          .when(col("__fp_old") <=> col("__fp_new"), "unchanged")
          .otherwise("changed").as("status"))
  }

  // ------------------------------------------------- rule-based quality

  /** Stopword probe set used by the quality gate (the "contains >= k
    * common English words" heuristic from the published rule-based
    * quality filters). */
  val QualityStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with", "a", "in")

  /** Rule-based document quality gate following the published Gopher
    * heuristics (Rae et al. 2021, §A1.1.1), the cheap filter pass a
    * pretraining pipeline runs before any model-based scoring:
    *
    *  - word-count window and mean-word-length window
    *  - alphabetic-word fraction and stopword presence
    *  - symbol-to-word ratios for `#` and `...`
    *  - fraction of lines starting with a bullet / ending in `...`
    *  - duplicate-line and duplicate-paragraph fractions, by line count
    *    and by character mass
    *
    * Output per doc: every signal plus per-rule booleans and the
    * conjunctive `keep`. Signals are exact integer sums divided once
    * (not float accumulations), so the gate replays bit-identically in
    * SQL.
    *
    * Shape: three codegen'd hash aggregates (word explode, line
    * explode, paragraph explode — the dup fractions group by the line/
    * paragraph VALUE first, so the shuffle carries (doc, unit, partial
    * count) bounded by corpus size) plus one map-only symbol projection,
    * joined on the doc id. All four sides hash-partition by the same
    * key, so AQE plans one co-partitioned join chain; nothing in the
    * gate is quadratic and no payload wider than a line ever shuffles.
    * (A per-row lambda scan over the token array would avoid the
    * shuffles but runs interpreted — Catalyst lambda functions don't
    * codegen — and measured 10x slower; see [[repetitionRatio]].) */
  def qualityRules(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8, minStopHits: Int = 2,
      maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
      maxEllipsisLineFrac: Double = 0.3, maxDupFrac: Double = 0.3,
      maxDupCharFrac: Double = 0.2): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(TextDedup.tokensOf(col(textCol))).as("w"))
    val words = toks.groupBy(idCol).agg(
        count(lit(1)).as("n_words"),
        sum(length(col("w"))).as("sum_len"),
        sum(when(col("w").rlike("[A-Za-z]"), 1L).otherwise(0L)).as("n_alpha"),
        sum(when(col("w").isin(QualityStopwords: _*), 1L).otherwise(0L))
          .as("n_stop"))

    // whole-text symbol counts: map-only, no explode needed
    val symbols = docs.select(col(idCol),
      regexp_count(col(textCol), lit("#")).cast("long").as("n_hash"),
      regexp_count(col(textCol), lit("\\.\\.\\.")).cast("long").as("n_ellipsis"))

    // duplicate fraction over exploded units (lines or paragraphs):
    // group by (doc, unit) first — every occurrence beyond the first is
    // a duplicate, and duplicate character mass weighs them by length
    def dupAgg(unitsCol: Column, prefix: String) = {
      docs.select(col(idCol), explode(unitsCol).as("u"))
        .withColumn("u", trim(col("u")))
        .filter(col("u") =!= "")
        .groupBy(col(idCol), col("u"))
        .agg(count(lit(1)).as("cnt"),
          (count(lit(1)) * length(col("u"))).as("chars"),
          ((count(lit(1)) - 1) * length(col("u"))).as("dup_chars"))
        .groupBy(idCol).agg(
          sum(col("cnt")).as(s"n_$prefix"),
          sum(col("cnt") - 1).as(s"n_dup_$prefix"),
          sum(col("chars")).as(s"${prefix}_chars"),
          sum(col("dup_chars")).as(s"dup_${prefix}_chars"),
          sum(when(col("u").rlike("^[-*] "), col("cnt")).otherwise(0L))
            .as("n_bullet"),
          sum(when(col("u").rlike("\\.\\.\\.$"), col("cnt")).otherwise(0L))
            .as("n_ellipsis_end"))
    }
    val lines = dupAgg(split(col(textCol), "\n"), "lines")
    val paras = dupAgg(split(col(textCol), "\n\n"), "paras")
      .drop("n_bullet", "n_ellipsis_end")

    def frac(num: Column, den: Column): Column =
      round(when(den > 0, num.cast("double") / den).otherwise(0.0), 4)

    words
      .join(symbols, Seq(idCol), "left")
      .join(lines, Seq(idCol), "left")
      .join(paras, Seq(idCol), "left")
      .withColumn("mean_word_len",
        round(col("sum_len").cast("double") / col("n_words"), 4))
      .withColumn("alpha_frac",
        round(col("n_alpha").cast("double") / col("n_words"), 4))
      .withColumn("hash_ratio", frac(col("n_hash"), col("n_words")))
      .withColumn("ellipsis_ratio", frac(col("n_ellipsis"), col("n_words")))
      .withColumn("bullet_frac", frac(col("n_bullet"), col("n_lines")))
      .withColumn("ellipsis_line_frac",
        frac(col("n_ellipsis_end"), col("n_lines")))
      .withColumn("dup_line_frac", frac(col("n_dup_lines"), col("n_lines")))
      .withColumn("dup_line_char_frac",
        frac(col("dup_lines_chars"), col("lines_chars")))
      .withColumn("dup_para_frac", frac(col("n_dup_paras"), col("n_paras")))
      .withColumn("dup_para_char_frac",
        frac(col("dup_paras_chars"), col("paras_chars")))
      .withColumn("ok_words",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("ok_mean_len",
        col("mean_word_len") >= minMeanLen && col("mean_word_len") <= maxMeanLen)
      .withColumn("ok_alpha", col("alpha_frac") >= minAlphaFrac)
      .withColumn("ok_stop", col("n_stop") >= minStopHits)
      .withColumn("ok_symbols",
        col("hash_ratio") <= maxSymbolRatio &&
          col("ellipsis_ratio") <= maxSymbolRatio)
      .withColumn("ok_bullet", col("bullet_frac") <= maxBulletFrac)
      .withColumn("ok_ellipsis_lines",
        col("ellipsis_line_frac") <= maxEllipsisLineFrac)
      .withColumn("ok_dup_lines",
        col("dup_line_frac") <= maxDupFrac &&
          col("dup_line_char_frac") <= maxDupCharFrac)
      .withColumn("ok_dup_paras",
        col("dup_para_frac") <= maxDupFrac &&
          col("dup_para_char_frac") <= maxDupCharFrac)
      .withColumn("keep",
        col("ok_words") && col("ok_mean_len") && col("ok_alpha") &&
          col("ok_stop") && col("ok_symbols") && col("ok_bullet") &&
          col("ok_ellipsis_lines") && col("ok_dup_lines") &&
          col("ok_dup_paras"))
  }

  // ------------------------------------------------------ PII redaction

  /** Email shape: local part @ dotted domain with an alpha TLD. Kept to
    * the syntax subset that Java regex (Spark) and RE2 (DuckDB, and the
    * scan engines a lakehouse fronts) interpret identically — no
    * backrefs, no lookaround. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** Dotted-quad IPv4 between word boundaries. */
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  /** Digit runs of >= 9 — phone/account/card shapes. */
  val LongNumRe = "\\d{9,}"

  /** PII redaction: replace emails, IPv4 addresses and long digit runs
    * with typed placeholder tokens — the scrub pass a training-data
    * pipeline runs before anything leaves the raw zone. Replacements
    * apply in a fixed order (email, then ip, then number) so the
    * output is deterministic: an address consumed by `<EMAIL>` can no
    * longer partially match the later patterns. Map-only codegen'd
    * regexp_replace — no shuffle, no UDF. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      LongNumRe, "<NUM>")

  /** Per-category PII counts on the ORIGINAL text (each category
    * counted independently, before any replacement). */
  def piiCounts(text: Column): Column = struct(
    regexp_count(text, lit(EmailRe)).cast("long").as("n_email"),
    regexp_count(text, lit(Ipv4Re)).cast("long").as("n_ip"),
    regexp_count(text, lit(LongNumRe)).cast("long").as("n_num"))

  /** Intra-document repetition ratio: the fraction of a document's
    * word bigrams taken by its single most frequent bigram — the
    * boilerplate/spam signal used for repetition-based quality
    * filtering (a doc that is one phrase repeated scores near 1.0).
    *
    * Shape: explode -> groupBy(doc, gram) -> groupBy(doc) — the
    * standard distributed histogram. Both aggregations are codegen'd
    * hash aggregates with map-side combine, and the shuffle carries
    * (doc, gram, partial count), bounded by corpus token count. (A
    * per-row higher-order-function scan over the sorted gram array
    * avoids the shuffle but runs INTERPRETED — Catalyst lambda
    * functions don't codegen — and measured 10x slower; giant
    * documents also burst a per-row formulation, while the histogram
    * hash-partitions them away.) */
  def repetitionRatio(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(idCol), explode(TextDedup.shinglesOf(
        TextDedup.tokensOf(col(textCol)), 2)).as("gram"))
      .groupBy(idCol, "gram")
      .agg(count(lit(1)).as("c"))
      .groupBy(idCol)
      .agg((max(col("c")).cast("double") / sum(col("c"))).as("rep_ratio"))

  // ------------------------------------- byte-level BPE (GPT-2 convention)

  /** Byte-level pre-tokenization regex — the GPT-2 convention
    * (contractions, space-prefixed letter/digit/punctuation runs,
    * whitespace runs) with ONE deliberate deviation: the trailing-
    * whitespace lookahead `\s+(?!\S)` is dropped, because RE2-family
    * engines (DuckDB, Go, BigQuery) don't support lookarounds and
    * cross-engine replayability is this repo's spine. Effect: a
    * multi-space run before a word keeps ALL its spaces in one
    * whitespace pre-token instead of donating the last one to the
    * word. The pattern still TILES every string (each char belongs to
    * exactly one match, spec-pinned), so the byte decode law is
    * unaffected. Alternation is ordered identically under java.util
    * .regex and RE2 (both leftmost-first). */
  private[graft] val bytePretokenPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** The pre-token array of `text` — every char of the input appears
    * in exactly one element, in order (the tiling law). */
  def bytePretokens(text: Column): Column =
    regexp_extract_all(text, lit(bytePretokenPattern), lit(0))

  /** Byte <-> display-unit bijection (the GPT-2 byte-to-unicode
    * table): every one of the 256 byte values maps to ONE printable
    * BMP char, so a pre-token's UTF-8 bytes become a string the merge
    * engine's char-level machinery handles untouched — NO text is
    * out-of-vocabulary, ever (the byte-fallback property production
    * pretraining tokenizers rely on). "Nice" bytes (printable ASCII
    * and most of Latin-1) map to themselves; the rest shift to
    * U+0100.. in byte order. ONE deviation from GPT-2's table: '_'
    * (0x5F) joins the remapped set (-> U+0121), because '_' is the
    * fused lexicon's symbol-wrapper char and must never be a symbol.
    * All units are < U+0200: single UTF-16 code units, and UTF-16
    * order == UTF-8 byte order == codepoint order on this range, so
    * the learn loop's tie-breaks replay identically in any engine. */
  private[graft] object ByteUnitsMap {
    val byteToChar: Array[Char] = {
      val identity = ((0x21 to 0x7e) ++ (0xa1 to 0xac) ++
        (0xae to 0xff)).toSet - 0x5f
      val out = new Array[Char](256)
      var next = 0x100
      var b = 0
      while (b < 256) {
        if (identity(b)) out(b) = b.toChar
        else { out(b) = next.toChar; next += 1 }
        b += 1
      }
      out
    }
    // inverse; -1 = not a unit char
    val charToByte: Array[Int] = {
      val inv = Array.fill(0x200)(-1)
      var b = 0
      while (b < 256) { inv(byteToChar(b).toInt) = b; b += 1 }
      inv
    }
    def isUnit(ch: Char): Boolean = ch < 0x200 && charToByte(ch.toInt) >= 0
    def encode(s: String): String = {
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val sb = new java.lang.StringBuilder(bytes.length)
      var i = 0
      while (i < bytes.length) {
        sb.append(byteToChar(bytes(i) & 0xff)); i += 1
      }
      sb.toString
    }
    /** Inverse of [[encode]]; a char outside the unit alphabet raises
      * (-> SQL NULL through the expression's contract). */
    def decode(units: String): String = {
      val out = new Array[Byte](units.length)
      var i = 0
      while (i < units.length) {
        val ch = units.charAt(i)
        require(ch < 0x200 && charToByte(ch.toInt) >= 0,
          s"byte_units_decode: char U+${ch.toInt.toHexString} is not a byte unit")
        out(i) = charToByte(ch.toInt).toByte
        i += 1
      }
      new String(out, java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  /** byte_units(text): the pre-token's UTF-8 bytes as display units —
    * native expression (per-row hot path of every corpus pass; the
    * boxed-call codegen contract of [[graft.functions.GeoExpr]]). */
  case class ByteUnitsEnc(text: Expression) extends graft.functions.GeoExpr {
    override def children: Seq[Expression] = Seq(text)
    override def dataType: DataType = StringType
    override protected def evalNotNull(a: Array[Any]): Any =
      UTF8String.fromString(
        ByteUnitsMap.encode(a(0).asInstanceOf[UTF8String].toString))
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression = copy(text = c(0))
  }

  /** byte_units_decode(units): exact inverse — the decoded BYTES as a
    * string. A non-unit char yields SQL NULL (GeoExpr contract). */
  case class ByteUnitsDec(units: Expression) extends graft.functions.GeoExpr {
    override def children: Seq[Expression] = Seq(units)
    override def dataType: DataType = StringType
    override protected def evalNotNull(a: Array[Any]): Any =
      UTF8String.fromString(
        ByteUnitsMap.decode(a(0).asInstanceOf[UTF8String].toString))
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression = copy(units = c(0))
  }

  def byte_units(text: Column): Column = toCol(ByteUnitsEnc(toExpr(text)))
  def byte_units_decode(units: Column): Column =
    toCol(ByteUnitsDec(toExpr(units)))

  /** Byte-level BPE merge-rule induction: [[bytePretokens]] +
    * [[ByteUnitsMap]] feeding the SAME driver-local learn loop as the
    * word engine ([[bpeLearnLocal]] — char-level and alphabet-
    * agnostic, so the byte units ride through untouched). Unlike
    * [[bpeMerges]]' lowercased [a-z] word types, NOTHING is dropped:
    * punctuation, digits, whitespace, case, and arbitrary Unicode all
    * tokenize (as their UTF-8 bytes), which is the production
    * pretraining convention (Radford et al. 2019, GPT-2; Sennrich
    * 2016 for the merge procedure itself).
    *
    * Returns (merge_idx, a, b, cnt) with a/b in unit space. 100 TB
    * shape: the corpus collapses to its pre-token type table in ONE
    * aggregation (tens of millions of types for a trillion-token
    * corpus); within `localLearnMaxTypes` the learn is driver-local
    * over that table ([[bpeMerges]]' sizing guidance applies
    * unchanged); past the budget it falls back to the SAME
    * distributed per-rule aggregation loop as the word engine —
    * alphabet-agnostic since its replace goes through literal
    * Columns (spec-pinned local == distributed on a multibyte
    * corpus). */
  def byteBpeMerges(docs: DataFrame, textCol: String, numMerges: Int,
      localLearnMaxTypes: Long = 2000000L): DataFrame = {
    require(numMerges >= 1, "byteBpeMerges needs numMerges >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val types = docs
      .select(explode(bytePretokens(col(textCol))).as("w0"))
      .filter(length(col("w0")) > 0)
      .select(byte_units(col("w0")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .persist()
    try {
      val n = types.count()
      if (n <= localLearnMaxTypes) {
        val local = types.collect().map(r => (r.getString(0), r.getLong(1)))
        return bpeLearnLocal(local, numMerges)
          .toDF("merge_idx", "a", "b", "cnt")
      }
      bpeMergesDistributed(types, numMerges)
    } finally types.unpersist(blocking = false)
  }

  /** The byte-level fused lexicon: every distinct pre-token rewritten
    * through the rule sequence in wrapped-symbol form — the word
    * engine's design with two byte-alphabet adjustments: the replace
    * goes through `call_function("replace", ...)` with literal
    * Columns (symbols may contain quotes/backslashes — no SQL-string
    * parsing anywhere), and rule validation checks unit-alphabet
    * membership instead of [a-z] (the wrapper '_' is unmapped BY
    * CONSTRUCTION, so no rule can ever collide with it). Returns
    * (w0 original pre-token, w units, sym wrapped). */
  private def byteBpeFusedLexicon(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    merges.foreach { case (a, b) =>
      require(a.nonEmpty && b.nonEmpty &&
        (a + b).forall(ByteUnitsMap.isUnit),
        s"byte-level BPE merge rules must be non-empty strings over " +
          s"the byte-unit alphabet, got ('$a', '$b')")
    }
    val types = docs
      .select(explode(bytePretokens(col(textCol))).as("w0"))
      .filter(length(col("w0")) > 0).distinct()
      .select(col("w0"), byte_units(col("w0")).as("w"))
      // (?s): remapped control bytes are ordinary BMP chars, but "."
      // must still never skip anything the alphabet could ever hold
      .withColumn("sym", regexp_replace(col("w"), "(?s)(.)", "_$1_"))
    val truncator = new ChainTruncator
    merges.zipWithIndex.foldLeft(types) {
      case (t, ((a, b), i)) =>
        val applied = t.withColumn("sym",
          call_function("replace", col("sym"),
            lit(s"_${a}__${b}_"), lit(s"_${a}${b}_")))
        if ((i + 1) % 32 == 0 && i + 1 < merges.length)
          truncator.truncate(applied)
        else applied
    }
  }

  /** Byte-level tokenization into subword sequences — the
    * [[bpeTokenSpans]] shape over the byte alphabet. Returns (idCol,
    * pretok_pos, w0, w, tok_pos, token): `w0` is the original
    * pre-token, `w`/`token` are in unit space (an individual token
    * may split a multi-byte codepoint and is NOT decodable alone —
    * only the concatenation is, which is exactly the byte-level
    * decode law: `byte_units_decode(concat(tokens)) == w0`, require'd
    * in-query by the battery entry over the FULL lexicon). Same scale
    * shape as the word engine: rules rewrite |vocab| lexicon rows
    * once, documents pay an explode + broadcast join + posexplode.
    * The lexicon is broadcast, so it must fit the broadcast budget. */
  def byteBpeTokenSpans(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val lexicon = byteBpeFusedLexicon(docs, textCol, merges)
      .select(col("w0"), col("w"),
        split(regexp_replace(col("sym"), "^_|_$", ""), "__").as("toks"))
    docs.select(col(idCol),
        posexplode(bytePretokens(col(textCol))).as(Seq("__p0", "w0")))
      .filter(length(col("w0")) > 0)
      .join(broadcast(lexicon), "w0")
      .select(col(idCol), (col("__p0") + 1).as("pretok_pos"),
        col("w0"), col("w"),
        posexplode(col("toks")).as(Seq("__t0", "token")))
      .select(col(idCol), col("pretok_pos"), col("w0"), col("w"),
        (col("__t0") + 1).as("tok_pos"), col("token"))
  }

  /** The (token, id) VOCABULARY a byte-level rule set induces — the
    * GPT-2 construction: ids 0..255 are the byte units in byte-value
    * order, then one id per merge in rule order (merge i, 1-based,
    * mints token a+b at id 255 + i). Every token [[byteBpeTokenSpans]]
    * can emit is covered: single-unit tokens are base ids, and every
    * multi-unit symbol was minted by exactly the merge whose fusion
    * it is. If a later merge re-mints an existing string (possible
    * when two different segmentations fuse to the same text — e.g.
    * (a, bc) then (ab, c)), the FIRST id wins: the two symbols are
    * indistinguishable as strings, so one id is the only consistent
    * encoding. Driver-side k+256 rows, like the merge table itself. */
  def byteBpeVocab(merges: Seq[(String, String)]): Seq[(String, Long)] = {
    merges.foreach { case (a, b) =>
      require(a.nonEmpty && b.nonEmpty &&
        (a + b).forall(ByteUnitsMap.isUnit),
        s"byte-level BPE merge rules must be non-empty strings over " +
          s"the byte-unit alphabet, got ('$a', '$b')")
    }
    val base = (0 until 256).map(b =>
      ByteUnitsMap.byteToChar(b).toString -> b.toLong)
    val fused = merges.zipWithIndex.map { case ((a, b), i) =>
      (a + b) -> (256L + i) }
    val seen = scala.collection.mutable.LinkedHashMap[String, Long]()
    (base ++ fused).foreach { case (t, id) =>
      if (!seen.contains(t)) seen.put(t, id) }
    seen.toSeq
  }

  /** Tokenize to TOKEN IDS — [[byteBpeTokenSpans]] joined through the
    * [[byteBpeVocab]] literal map: (idCol, pretok_pos, tok_pos,
    * token, token_id). The lookup can never miss (vocab covers every
    * emittable token by construction), so a NULL id is a broken rule
    * set — surface it, don't drop it: callers require'ing
    * `token_id IS NOT NULL` get the loud version of that contract
    * (the q220 battery entry does). Same scale shape as the spans,
    * and the same broadcast-budget precondition on the lexicon. */
  def byteBpeEncodeIds(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val vocab = byteBpeVocab(merges)
    val idMap = map_from_arrays(
      typedLit(vocab.map(_._1)), typedLit(vocab.map(_._2)))
    byteBpeTokenSpans(docs, idCol, textCol, merges)
      .select(col(idCol), col("pretok_pos"), col("tok_pos"),
        col("token"), element_at(idMap, col("token")).as("token_id"))
  }
}
