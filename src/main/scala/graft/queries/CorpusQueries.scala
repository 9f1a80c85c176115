package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.OracleSql._

/** Round-9 corpus-curation battery: the training-data passes a 100 TB
  * pipeline runs between raw crawl and tokenizer — semantic dedup over
  * embeddings, n-gram LM quality scoring, exact duplicated-substring
  * spans — each deterministic, partitioning-independent, and DuckDB
  * hash-matched. */
object CorpusQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Three id-ordered micro-batches — see [[StreamFixtures]] for the
    * quantile-split + mtime-stamping contract). Callers
    * deleteQuietly(tmpDir) in a finally. */
  private def writeIdOrderedMicroBatches(df: DataFrame, idCol: String,
      tag: String): (java.nio.file.Path, String) =
    StreamFixtures.writeIdOrderedMicroBatches(df, idCol, tag)

  // q172 (summary) and q174 (excision) share the span discovery — the
  // expensive per-position digest pass runs once per battery, released
  // after the later of the two (Memos lifecycle).
  private def spanList(s: SparkSession, dir: String): DataFrame =
    Memos.shared(s"corpus:spans:$dir",
      Set("q172_duplicate_spans", "q174_span_excision",
        "q176_curation_e2e"))(
      graft.ops.TextDedup
        .duplicateSpanList(docs(s, dir), "doc_id", "text", l = 40)
        .persist())(_.unpersist())

  // q182/q183/q184/q186/q187/q195 all cluster the SAME full corpus
  // with the SAME k=16 integer-mean lloyd centroids — a shared input,
  // built once per battery (Memos lifecycle; Bench setup attribution)
  private def fullCentroids(s: SparkSession, dir: String): DataFrame =
    Memos.shared(s"corpus:cents:$dir", Set("q182_streaming_ivf",
      "q183_knn_join", "q184_semdedup_removals", "q186_knn_indexed",
      "q187_streaming_semdedup", "q195_knn_containment",
      "q200_pq_ivf")) {
      val c = graft.ops.VectorOps.lloydCentroids(
        emb(s, dir).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 16).persist()
      c.count()
      c
    }(_.unpersist())

  // the full-corpus SemState under those frozen centroids (tau = 0.4):
  // q184's initial maintained state and q187's batch-truth side are
  // the SAME computation — one evidence prune per battery
  private def fullSemState(s: SparkSession,
      dir: String): graft.ops.VectorOps.SemState =
    Memos.shared(s"corpus:semstate:$dir",
      Set("q184_semdedup_removals", "q187_streaming_semdedup")) {
      val cents = fullCentroids(s, dir)
      val st = graft.ops.VectorOps.semState(
        emb(s, dir).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", cents, tau = 0.4)
      val members = st.members.persist()
      members.count()
      graft.ops.VectorOps.SemState(members, cents)
    }(_.members.unpersist())

  // q192/q193 share the decontamination fixture AND its batch decision
  // frame — one crossMinHashContamination per battery (q193's stream
  // pins against it; its own marginal cost is just the probe stream)
  private def xdeconFixture(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val bench = d.filter(col("doc_id") % 37 === 0)
    val corpus = d.filter(col("doc_id") % 37 =!= 0)
      .union(bench.select((col("doc_id") + 30000000L).as("doc_id"),
        concat(col("text"), lit(" qq77 qq88")).as("text")))
    (bench, corpus)
  }
  private def xdeconRes(s: SparkSession, dir: String): DataFrame =
    Memos.shared(s"corpus:xdecon:$dir",
      Set("q192_cross_decontam", "q193_streaming_decontam")) {
      val (bench, corpus) = xdeconFixture(s, dir)
      val res = graft.ops.TextDedup.crossMinHashContamination(
          corpus, "doc_id", "text", bench, "doc_id", "text",
          shingleN = 3, k = 16, bands = 4)
        .persist()
      res.count()
      res
    }(_.unpersist())

  // q199/q200 share the PQ codebooks + encoded code words — one
  // seeded learn + one map-only encode per battery
  private def pqIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    Memos.shared(s"corpus:pq:$dir", Set("q199_pq_adc", "q200_pq_ivf")) {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val books = graft.ops.VectorOps.pqCodebooks(e, "vec_id",
        "embedding", m = 4, ksub = 8).persist()
      books.count()
      // repartition BEFORE the persist (r19): the single-file fixture
      // scan leaves enc with ONE cached partition, and q199's ADC
      // crossJoin scan (|enc| x |queries| score folds) inherits that —
      // measured 5.2 s in one task with 31 cores idle. At warehouse
      // scale the code parquet is many-partitioned and this is moot.
      val enc = graft.ops.VectorOps.pqEncode(e, "vec_id", "embedding",
          books)
        .repartition(s.sparkContext.defaultParallelism).persist()
      enc.count()
      (books, enc)
    } { case (books, enc) => books.unpersist(); enc.unpersist() }

  /** Force-build the shared memos (Bench setup phase — same
    * attribution fix as GeoQueries.prewarmShared: the one-time build
    * must land in setup_s, not on whichever consumer runs first,
    * where the adaptive-retry min would silently discard it). */
  def prewarmShared(s: SparkSession, dir: String): Unit = {
    spanList(s, dir).count()
    semKept(s, dir).count()
    fullSemState(s, dir).members.count()
    pqIndex(s, dir)
    xdeconRes(s, dir); ()
  }

  // q170 and q176 share the semantic-dedup result the same way
  private def semKept(s: SparkSession, dir: String): DataFrame =
    Memos.shared(s"corpus:sem:$dir",
      Set("q170_semantic_dedup", "q176_curation_e2e"))(
      graft.ops.VectorOps
        .semDedup(emb(s, dir), "vec_id", "embedding", k = 16, tau = 0.4)
        .persist())(_.unpersist())

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SemDeDup (ops/VectorOps.semDedup): deterministic seeded
    // clustering + within-cluster cosine prune. tau=0.4 matches the
    // q55 near-dup threshold so the synthetic corpus actually has
    // drops; k=16 coarse clusters over 500-5000 vectors.
    "q170_semantic_dedup" -> ((s, dir) => {
      semKept(s, dir).orderBy("vec_id")
    }),

    // CCNet-style bigram-LM quality score (ops/TrainingOps.lmScore):
    // the LM trains on a deterministic 75% hash split and scores the
    // WHOLE corpus — held-out docs are scored by a model that never
    // saw them, the real perplexity-filter deployment shape. Scores
    // are integer micro-log units summed per doc, so the result is
    // partitioning-independent and replays in SQL.
    "q171_lm_quality_score" -> ((s, dir) => {
      val d = docs(s, dir)
      val sp = graft.ops.TrainingOps.hashSplit(d, "doc_id",
        Seq("train" -> 0.75, "heldout" -> 0.25), salt = "lm")
      val train = sp.filter(col("split") === "train")
      graft.ops.TrainingOps.lmScore(train, d, "doc_id", "text")
        .join(sp.select(col("doc_id"), col("split")), Seq("doc_id"))
        .select(col("doc_id"), col("split"), col("n_bigrams"),
          col("avg_logp"), col("ppl"))
        .orderBy("doc_id")
    }),

    // Exact duplicated-substring spans (ops/TextDedup.duplicateSpans,
    // Lee et al. ExactSubstr as a relational plan): every >= 40-char
    // run that recurs anywhere in the corpus, merged to maximal
    // per-document spans. The raw synthetic corpus genuinely contains
    // such runs (shared boilerplate sentences), so the check is
    // non-vacuous without planting.
    "q172_duplicate_spans" -> ((s, dir) => {
      graft.ops.TextDedup.duplicateSpans(spanList(s, dir), "doc_id")
        .orderBy("doc_id")
    }),

    // MinHash+LSH with md5-replayable hashes
    // (ops/TextDedup.minHashCandidatesMd5): the ALGORITHM itself —
    // signature minima, banding, candidate pairs, Jaccard estimates —
    // hash-matched bit-for-bit against a SQL replay (the fast
    // xxhash-based q70 variant stays rows-only: its bits exist only in
    // this JVM). Exact copies of every 10th doc are unioned in so full
    // 16/16 collisions are guaranteed present alongside any natural
    // near-dups.
    "q173_minhash_replay" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val copies = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      graft.ops.TextDedup.minHashCandidatesMd5(d.union(copies),
          "doc_id", "text", shingleN = 3, k = 16, bands = 4)
        .orderBy("id_a", "id_b")
    }),

    // Cross-corpus FUZZY decontamination
    // (ops/TextDedup.crossMinHashContamination): every corpus doc's
    // best minhash match against a held-out benchmark — the near-dup
    // complement of q111's exact n-gram check. Fixture: the benchmark
    // is the %37 slice; the corpus is everything else PLUS perturbed
    // copies of the benchmark (two junk tokens appended) that an
    // exact check can miss but a banded signature must flag.
    "q192_cross_decontam" -> ((s, dir) => {
      val res = xdeconRes(s, dir)
      // the fixture's law: every perturbed benchmark copy MUST flag
      // with high signature agreement (>= 8 of 16 minima shared)
      val weak = res.filter(col("doc_id") >= 30000000L)
        .filter(col("n_equal") < 8).count()
      require(weak == 0,
        s"$weak perturbed benchmark copies escaped cross-decontamination")
      res.orderBy("doc_id")
    }),

    // STREAMING decontamination (ops/TextDedup.contaminationProbe):
    // the q192 decision as a stateless per-row expression — the
    // benchmark's banded signature index rides inside the expression
    // (benchmark-sized), so the stream pays a pure map: no state, no
    // watermark, no shuffle. Three id-ordered micro-batches; output
    // require'd ≡ the batch operator both directions; oracle = the
    // q192 replay (same fixture, same decision frame).
    "q193_streaming_decontam" -> ((s, dir) => {
      val (bench, corpus) = xdeconFixture(s, dir)
      val probe = graft.ops.TextDedup.contaminationProbe(
        bench, "doc_id", "text", shingleN = 3, k = 16, bands = 4)
      // the STREAM runs on the doc_id % 3 = 1 stratum (r11 Next #2
      // treatment): the probe decision is a STATELESS per-row
      // expression — no state, no watermark, no cross-row term at
      // all — so stream == batch on any row subset by construction
      // (the per-row probe == batch-operator lemma is spec-pinned in
      // DedupOpsSpec "contaminationProbe == crossMinHashContamination
      // row for row");
      // what the stream leg adds beyond the batch pin is the
      // micro-batch plumbing itself, which three batches over a
      // stratum exercise fully. The batch side is the q192-shared
      // decision frame; the output (and the driver's oracle replay)
      // remains the FULL corpus frame, itself pinned against the
      // stream here on the stratum.
      val streamDocs = corpus.filter(col("doc_id") % 3 === 1)
      val (tmp, src) = writeIdOrderedMicroBatches(streamDocs, "doc_id",
        "q193")
      try {
        val stream = s.readStream.schema(corpus.schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
        val q = stream
          .select(col("doc_id"), probe(col("text")).as("bm"))
          .select(col("doc_id"), col("bm.ref_id").as("ref_id"),
            coalesce(col("bm.n_equal"), lit(0L)).as("n_equal"))
          .withColumn("est_jaccard", round(col("n_equal") / 16.0, 6))
          .writeStream.outputMode("append")
          .format("memory").queryName("q193out").start()
        try q.processAllAvailable() finally q.stop()
        val streamed = s.table("q193out")
        val batch = xdeconRes(s, dir)
        val batchStrat = batch.filter(col("doc_id") % 3 === 1)
        require(Pins.multiset(streamed, batchStrat).diff.total == 0L,
          "streaming decontamination diverged from the batch operator " +
            "on the doc stratum")
        batch.orderBy("doc_id")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    }),

    // Span excision (ops/TextDedup.exciseDuplicateSpans): the second
    // half of ExactSubstr — q172's duplicated spans cut back out of
    // the text, remainder stitched by an ordered in-group concat.
    // Cleaned text is compared by md5 (the driver hashes values
    // anyway; this keeps the dumped result narrow).
    "q174_span_excision" -> ((s, dir) => {
      graft.ops.TextDedup.exciseDuplicateSpans(docs(s, dir), "doc_id",
          "text", spanList(s, dir))
        .orderBy("doc_id")
    }),

    // SimHash with md5-replayable bits
    // (ops/TextDedup.simHashCandidatesMd5): completes the
    // cross-engine-auditable dedup trio (q173 minhash, q172/q174 exact
    // substrings). Exact copies land at Hamming 0; tail-appended
    // perturbed copies land at small nonzero Hamming; the whole pair
    // set with digit-wise distances hash-matched against the SQL
    // replay of the bit-vote pipeline.
    "q175_simhash_replay" -> ((s, dir) => {
      // the fixture parquet is one file -> 1-2 input partitions; the
      // per-token md5 + hex-digit vote pass is compute-bound, so
      // spread it across the session width (the GeoQueries.staged
      // pattern). At warehouse scale the input is already wide — this
      // shuffle is the 1.5 MB fixture, not a design shape.
      val d = docs(s, dir).select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
      val copies = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      val pert = d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"),
          concat(col("text"), lit(" zz11 zz22 zz33")).as("text"))
      graft.ops.TextDedup.simHashCandidatesMd5(
          d.union(copies).union(pert), "doc_id", "text", maxHamming = 8)
        .orderBy("id_a", "id_b")
    }),

    // Composed round-9 curation pipeline in ONE Catalyst lineage (the
    // q160 pattern applied to this round's layer): excise duplicated
    // spans -> train/score the bigram LM on the CLEANED text -> gate on
    // span fraction + LM quality + semantic dedup (embeddings keyed by
    // the same ids). The oracle replays the entire chain in a single
    // SQL statement, so the cross-stage contracts (the LM sees excised
    // text, the gates compose) are hash-checked, not just each stage.
    "q176_curation_e2e" -> ((s, dir) => {
      val d = docs(s, dir)
      val spans = spanList(s, dir)
      val fracs = graft.ops.TextDedup.duplicateSpans(spans, "doc_id")
        .select(col("doc_id"), col("dup_frac"))
      // persisted: the excision chain (window + ordered concat) feeds
      // the LM THREE times (split, train side, scored side) — without
      // the cache it re-executes per reference (measured 11 s -> ~4 s)
      val ct = graft.ops.TextDedup.excisedText(d, "doc_id", "text", spans)
        .select(col("doc_id"), col("clean_text"))
        .persist()
      Memos.track(s"corpus:ct:$dir", Set("q176_curation_e2e"), ct) { () =>
        ct.unpersist(); ()
      }
      val sp = graft.ops.TrainingOps.hashSplit(ct, "doc_id",
        Seq("train" -> 0.75, "heldout" -> 0.25), salt = "lm")
      val lm = graft.ops.TrainingOps.lmScore(
          sp.filter(col("split") === "train"), ct, "doc_id", "clean_text")
        .select(col("doc_id"), col("avg_logp"))
      val sem = semKept(s, dir)
        .select(col("vec_id").as("doc_id"), col("kept").as("kept_sem"))
      d.select(col("doc_id"))
        .join(fracs, Seq("doc_id"), "left")
        .join(lm, Seq("doc_id"), "left")
        .join(sem, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("dup_frac"), lit(0.0)).as("dup_frac"),
          col("avg_logp"), col("kept_sem"),
          (coalesce(col("dup_frac"), lit(0.0)) <= 0.2 &&
            coalesce(col("avg_logp"), lit(-99.0)) >= -3.42 &&
            coalesce(col("kept_sem"), lit(false))).as("selected"))
        .orderBy("doc_id")
    }),

    // Incremental ExactSubstr (ops/TextDedup.incrementalSpanState):
    // the q162 O(delta) pattern applied to the span layer — the stored
    // (anchors, counts, spans) state maintained through the same
    // removed/changed/added crawl delta, with the delta-run span set
    // require'd EQUAL to a from-scratch rebuild, and the resulting
    // summary hash-matched against DuckDB's full-run replay over the
    // new corpus: delta-Spark vs full-SQL, two engines AND two
    // algorithms.
    "q177_incremental_spans" -> ((s, dir) => {
      val d = docs(s, dir)
      val oldCorpus = d.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"), col("text"))
      val newCorpus = d.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      // fastDigest THROUGHOUT (r9 Next #3, second lever): the
      // per-character anchor passes below pay the digest constant per
      // corpus character; a stored span state never replays its
      // internals cross-engine, so xxhash64 replaces md5 — the span
      // summary the ORACLE replays is digest-free and byte-identical.
      // ONE anchor pass serves both the old-state build and the
      // independent rebuild (r11 Next #2 treatment, proof-COST only —
      // the full-population two-sided pin below is untouched):
      // anchors are strictly per-document, so each side is a FILTER
      // of the (doc, version)-keyed table plus a slice-local count
      // rebuild (spanStateFromAnchors; the lemma "anchors decompose
      // per document" is spec-pinned in DedupOpsSpec). vid = 2*doc+ver
      // keys the two text versions of a %5 doc apart.
      val vdocs = d.select((col("doc_id") * 2).as("vid"), col("text"))
        .union(d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") * 2 + 1).as("vid"),
            concat(col("text"), lit(" v2")).as("text")))
      val vAnchors = graft.ops.TextDedup.spanState(vdocs, "vid", "text",
          l = 40, fastDigest = true)
        .anchors // counts/spans of the version union are never executed
        .persist()
      def slice(cond: org.apache.spark.sql.Column) = vAnchors.filter(cond)
        .select(expr("vid div 2").as("doc_id"), col("__len"), col("p"),
          col("h"))
      val built = graft.ops.TextDedup.spanStateFromAnchors(
        slice(col("vid") % 2 === 0 && expr("vid div 2") % 11 =!= 0),
        "doc_id", l = 40)
      val st = graft.ops.TextDedup.SpanState(built.anchors,
        built.counts.persist(), built.spans.persist())
      val removedIds = oldCorpus
        .filter(col("doc_id") % 13 === 0 || col("doc_id") % 5 === 0)
        .select("doc_id")
      val addedDocs = newCorpus
        .filter(col("doc_id") % 11 === 0 || col("doc_id") % 5 === 0)
      val inc = graft.ops.TextDedup.incrementalSpanState(st, removedIds,
        addedDocs, "doc_id", "text", l = 40)
      val incSpans = inc.spans.persist()
      try {
      // Two-sided span-level pin over the FULL population (restored
      // from r10's ~1/3 doc stratum per r10 ADVICE: a divergence on
      // non-stratum docs was only caught by the external oracle hash,
      // without the in-query extra/missing diagnostics). The rebuild
      // side is the same shared anchor table sliced to the new
      // corpus's (doc, version) rows — its counts/spans re-derive
      // from the slice (duplicate validity is slice-global, never
      // shared), byte-identical to duplicateSpanList over newCorpus.
      // The DuckDB oracle below still replays the ENTIRE new corpus
      // from raw text against the incremental result, as before.
      val full = graft.ops.TextDedup.spanStateFromAnchors(
        slice(expr("vid div 2") % 13 =!= 0 &&
          (col("vid") % 2 === 1) === (expr("vid div 2") % 5 === 0)),
        "doc_id", l = 40).spans
      val diff = Pins.keyed(incSpans, full, Seq("doc_id", "s"),
        Seq("e", "n_anchors", "doc_len")).diff
      require(diff.extra == 0 && diff.missing == 0,
        s"incremental spans diverged from full rebuild: " +
          s"${diff.extra} extra, ${diff.missing} missing")
      Memos.track(s"corpus:incspans:$dir",
        Set("q177_incremental_spans"), incSpans) { () =>
        incSpans.unpersist(); inc.release(); st.release()
        vAnchors.unpersist(blocking = false); ()
      }
      graft.ops.TextDedup.duplicateSpans(incSpans, "doc_id")
        .orderBy("doc_id")
      // pin failure must not leak the corpus-scale caches into the
      // rest of the battery (the q200 discipline): the harness
      // catches the throw and keeps running
      } catch { case t: Throwable =>
        incSpans.unpersist(blocking = false); inc.release(); st.release()
        vAnchors.unpersist(blocking = false)
        throw t
      }
    }),

    // Cross-source contamination matrix
    // (ops/TrainingOps.sourceOverlapMatrix): distinct shared shingles
    // + containment ratio for every source pair — the corpus report
    // behind mixture weighting. Digest-only distinct aggregate, then a
    // digest-keyed self-join bounded by the source count per digest.
    "q178_source_overlap" -> ((s, dir) => {
      graft.ops.TrainingOps.sourceOverlapMatrix(docs(s, dir), "text",
          "source", shingleN = 3)
        .orderBy("src_a", "src_b")
    }),

    // SemDeDup through the centroid-assignment path
    // (ops/VectorOps.lloydSemDedup): one deterministic Lloyd step from
    // the q170 seeds — centroid means computed as EXACT integer
    // micro-unit sums so the whole chain (seeds -> assign ->
    // integer-mean centroids -> re-assign -> prune) replays
    // bit-identically in SQL. This pins assignToCentroids +
    // semDedupPrune, the two stages the production KMeans variant
    // (ivfSemDedup, not SQL-replayable) feeds.
    "q179_lloyd_semdedup" -> ((s, dir) => {
      graft.ops.VectorOps.lloydSemDedup(emb(s, dir), "vec_id",
          "embedding", k = 16, tau = 0.4)
        .orderBy("vec_id")
    }),

    // Incremental ANN index maintenance (ops/VectorOps.IvfState /
    // incrementalIvf): the q162/q177 O(delta) state pattern applied to
    // the vector layer. Centroids train ONCE on the old corpus
    // (replayable lloydCentroids — integer-mean, so the whole chain
    // replays in SQL) and stay frozen; the index is maintained through
    // a remove/add delta and require'd equal, both directions, to
    // re-assigning the whole new corpus; per-cell occupancy comes
    // along as a window count. Hash-matched end to end.
    "q180_incremental_ivf" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val oldCorpus = e.filter(col("vec_id") % 7 =!= 0)
      val cents = graft.ops.VectorOps.lloydCentroids(oldCorpus, "vec_id",
        "embedding", k = 16)
      val st = graft.ops.VectorOps.ivfState(oldCorpus, "vec_id",
        "embedding", cents)
      val removedIds = oldCorpus.filter(col("vec_id") % 5 === 0)
        .select("vec_id")
      val addedVecs = e.filter(col("vec_id") % 7 === 0)
      val inc = graft.ops.VectorOps.incrementalIvf(st, removedIds,
        addedVecs, "vec_id", "embedding")
      val incAssigned = inc.assigned.persist()
      // independent target: one-shot assignment of the whole new
      // corpus against the SAME frozen centroids
      val newCorpus = e.filter(col("vec_id") % 7 === 0 ||
        col("vec_id") % 5 =!= 0)
      val full = graft.ops.VectorOps.assignToCentroids(newCorpus,
        "vec_id", "embedding", cents)
      val diff = Pins.keyed(incAssigned, full, Seq("vec_id"), Seq("cluster"))
        .diff
      require(diff.extra == 0 && diff.missing == 0,
        s"incremental IVF diverged from full re-assignment: " +
          s"${diff.extra} extra, ${diff.missing} missing")
      Memos.track(s"corpus:incivf:$dir",
        Set("q180_incremental_ivf"), incAssigned) { () =>
        incAssigned.unpersist(); ()
      }
      import org.apache.spark.sql.expressions.Window
      incAssigned
        .select(col("vec_id"), col("cluster"),
          count(lit(1)).over(Window.partitionBy("cluster")).as("cell_n"))
        .orderBy("vec_id")
    }),

    // Append-only incremental SemDeDup (ops/VectorOps.SemState /
    // incrementalSemDedup): the crawl-append regime — a batch of
    // re-embedded docs arrives under NEW ingest ids (old id +
    // 10000000), centroids stay frozen from the original corpus, and
    // only the delta pays assignment + prune. The drop rule's
    // smaller-id direction makes stored decisions provably final, so
    // the maintained state is require'd equal, both directions, to a
    // full re-run over old ∪ added — and the whole chain (frozen
    // integer-mean centroids included) hash-matches a SQL replay.
    "q181_incremental_semdedup" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val oldCorpus = e.filter(col("vec_id") % 4 =!= 3)
      val added = e.filter(col("vec_id") % 4 === 3)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
      val cents = graft.ops.VectorOps.lloydCentroids(oldCorpus, "vec_id",
        "embedding", k = 16)
      val st = graft.ops.VectorOps.semState(oldCorpus, "vec_id",
        "embedding", cents, tau = 0.4)
      val inc = graft.ops.VectorOps.incrementalSemDedup(st, added,
        "vec_id", "embedding", tau = 0.4)
      val incMembers = inc.members.persist()
      // TWO-SIDED pin at proof cost O(corpus map + stratum prune) —
      // the q184 stratum treatment applied to the append-only path:
      //  (i) ASSIGNMENT equality over the FULL union, both directions
      //      (the map-only half of the full re-run);
      //  (ii) the prune re-run restricted to the cluster % 3 = 2
      //      stratum, kept pinned both directions (the prune's only
      //      join key is the cluster id — the decomposition lemma is
      //      spec-pinned in CorpusOpsSpec "prune decomposes by
      //      cluster"). The driver oracle still replays the FULL
      //      corpus against the output.
      // persisted: the assignment feeds BOTH the coverage count and
      // the stratum prune — unpersisted it would pay the corpus map
      // twice, exactly what the trim's cost claim excludes
      val clusteredU = graft.ops.VectorOps.assignToCentroids(
        oldCorpus.unionByName(added), "vec_id", "embedding", cents)
        .persist()
      try {
        val fullStrat = graft.ops.VectorOps.semDedupPrune(
          clusteredU.filter(col("cluster") % 3 === 2), "vec_id",
          "embedding", tau = 0.4)
        val Seq(aDiff, diff) = Pins.run(
          Pins.keyed(incMembers, clusteredU, Seq("vec_id"), Seq("cluster")),
          Pins.keyed(incMembers.filter(col("cluster") % 3 === 2), fullStrat,
            Seq("vec_id"), Seq("cluster", "kept")))
        require(aDiff.total == 0L,
          s"incremental state's id/cluster coverage diverged from the " +
            s"full re-assignment: ${aDiff.total} rows differ")
        require(diff.extra == 0 && diff.missing == 0,
          s"incremental semDedup diverged from the stratum re-prune: " +
            s"${diff.extra} extra, ${diff.missing} missing")
        Memos.track(s"corpus:incsem:$dir",
          Set("q181_incremental_semdedup"), incMembers) { () =>
          incMembers.unpersist(); ()
        }
        incMembers.select(col("vec_id"), col("cluster"), col("kept"))
          .orderBy("vec_id")
      } catch { case t: Throwable =>
        incMembers.unpersist(blocking = false)
        throw t
      } finally clusteredU.unpersist(blocking = false)
    }),

    // Dirty-frontier incremental SemDeDup WITH removals (r10 Next #2 —
    // the vector layer's q177 treatment): one maintenance run carries
    // removals AND an appended batch. Removals are exact, not a
    // staleness-bounded re-prune: the membership-based drop rule means
    // a removal can only resurrect larger-id dropped members of the
    // removed vector's own cluster, and exactly those (the dirty
    // frontier) re-run the prune. require'd equal, both directions, to
    // a full re-run over (old \ removed) ∪ added with the same frozen
    // centroids, and the whole chain hash-matches the SQL replay.
    "q184_semdedup_removals" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val st = fullSemState(s, dir) // shared initial state (memo)
      val cents = st.centroids
      val removed = e.filter(col("vec_id") % 6 === 1).select("vec_id")
      val added = e.filter(col("vec_id") % 4 === 3)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
      val inc = graft.ops.VectorOps.incrementalSemDedup(st, removed,
        added, "vec_id", "embedding", tau = 0.4)
      val incMembers = inc.members.persist()
      val survivors = e.join(removed, Seq("vec_id"), "left_anti")
        .unionByName(added)
      // TWO-SIDED pin at proof cost O(corpus map + stratum prune), not
      // a second full prune (the q183 stratum treatment, r11 Next #2):
      //  (i) ASSIGNMENT equality over the FULL corpus, both directions
      //      — the map-only half of the full re-run, so id coverage
      //      and cluster placement are pinned everywhere;
      //  (ii) the expensive prune re-run restricted to the cluster
      //      stratum (cluster % 3 = 0, ~1/3 of the pair work), kept
      //      AND suppressor pinned null-safe both directions. The
      //      prune is per-cluster by construction (its only join key
      //      is the cluster id) — the decomposition lemma is
      //      spec-pinned in CorpusOpsSpec ("prune decomposes by
      //      cluster"). The driver oracle still replays the FULL
      //      corpus against the output.
      val clustered = graft.ops.VectorOps.assignToCentroids(survivors,
        "vec_id", "embedding", cents)
      val strat = clustered.filter(col("cluster") % 3 === 0)
      val fullStrat = graft.ops.VectorOps.semDedupPruneEvidence(strat,
        "vec_id", "embedding", tau = 0.4)
      val Seq(aDiff, diff) = Pins.run(
        Pins.keyed(incMembers, clustered, Seq("vec_id"), Seq("cluster")),
        Pins.keyed(incMembers.filter(col("cluster") % 3 === 0), fullStrat,
          Seq("vec_id"), Seq("cluster", "kept", "suppressor")))
      require(aDiff.total == 0L,
        s"incremental state's id/cluster coverage diverged from the " +
          s"full re-assignment: ${aDiff.total} rows differ")
      require(diff.extra == 0 && diff.missing == 0,
        s"removal-capable incremental semDedup diverged from the " +
          s"stratum re-prune: ${diff.extra} extra, " +
          s"${diff.missing} missing")
      Memos.track(s"corpus:incsemrm:$dir",
        Set("q184_semdedup_removals"), incMembers) { () =>
        incMembers.unpersist(); ()
      }
      incMembers.select(col("vec_id"), col("cluster"), col("kept"))
        .orderBy("vec_id")
    }),

    // Streaming embedding ingest (ops/VectorOps.assignExpr + Structured
    // Streaming): vectors arrive as micro-batched files and are
    // assigned to FROZEN centroids by a pure map expression (no
    // blocking aggregation — the streaming-safe form of
    // assignToCentroids, same rounded-cosine/smaller-id argmax by
    // construction). Stream output is require'd identical to the batch
    // assignment, and the whole chain hash-matches the SQL replay of
    // the integer-mean centroid pipeline.
    "q182_streaming_ivf" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val cents = fullCentroids(s, dir)
      val centArr = cents.collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
      val tmp = java.nio.file.Files.createTempDirectory("graft_q182")
      val src = tmp.resolve("src").toString
      for (r <- 0 to 2)
        e.filter(col("vec_id") % 3 === r).coalesce(1)
          .write.mode("append").parquet(src)
      val stream = s.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      val q = stream.select(col("vec_id"),
          graft.ops.VectorOps.assignExpr(col("embedding"), centArr)
            .as("cluster"))
        .writeStream.outputMode("append")
        .format("memory").queryName("q182out").start()
      try q.processAllAvailable() finally q.stop()
      val streamed = s.table("q182out").select("vec_id", "cluster")
      val batch = graft.ops.VectorOps.assignToCentroids(e, "vec_id",
          "embedding", cents)
        .select(col("vec_id"), col("cluster"))
      require(Pins.multiset(streamed, batch).diff.total == 0L,
        "streaming assignment diverged from batch assignToCentroids")
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
      streamed.orderBy("vec_id")
    }),

    // Batch k-NN JOIN / knn-graph (ops/VectorOps.knnJoin): top-5
    // neighbors for EVERY vector through the IVF cell structure. At
    // nprobe = nlist the cell fan-out provably covers every corpus
    // vector exactly once, so the result IS the brute-force knn graph
    // — hash-matched against DuckDB's all-pairs window replay. Partial
    // probes are the Σ(fan-out x occupancy) scale path (recall/latency
    // measured in PERF.md's IVF recall curve).
    "q183_knn_join" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val cents = fullCentroids(s, dir)
      // query side restricted to a deterministic 1/3 stratum (r10 Next
      // #6 proof-cost trim): the law under test — nprobe = nlist is
      // EXACTLY the brute-force top-k — is a PER-QUERY property
      // against the corpus, and the corpus side here stays complete,
      // so each retained query's row set is identical to its row set
      // in the unrestricted graph (the oracle replays the same
      // stratum against the full corpus). Pair work drops 3x.
      val q = e.filter(col("vec_id") % 3 === 0)
      graft.ops.VectorOps.knnJoin(q, e, "vec_id", "embedding", cents,
          k = 5, nprobe = 16)
        .orderBy("q_id", "rank")
    }),

    // knnJoin against the STORED index (ops/VectorOps.knnJoinIndexed —
    // the deployment shape): the corpus assignment is a maintained
    // warehouse table written partitionBy(cluster); a graph build pays
    // zero corpus re-assignment, only the query-side probe ranking and
    // the cell-keyed join against the stored slices. The stored index
    // is round-tripped through parquet here, the graph is require'd
    // identical to the in-memory build both directions, and the whole
    // chain hash-matches the same all-pairs window replay as q183 (on
    // the complementary %3=1 query stratum, so between them the two
    // queries cover 2/3 of the corpus as queries).
    "q186_knn_indexed" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val cents = fullCentroids(s, dir)
      val st = graft.ops.VectorOps.ivfState(e, "vec_id", "embedding",
        cents)
      val tmp = java.nio.file.Files.createTempDirectory("graft_q186")
      val idxDir = tmp.resolve("ivf_idx").toString
      st.assigned.write.partitionBy("cluster").mode("overwrite")
        .parquet(idxDir)
      val stored = graft.ops.VectorOps.IvfState(
        s.read.parquet(idxDir), cents)
      val q = e.filter(col("vec_id") % 3 === 1)
      val g = graft.ops.VectorOps.knnJoinIndexed(q, stored, "vec_id",
        "embedding", k = 5, nprobe = 16).persist()
      // round-trip pin at proof cost O(index compare + sub-stratum
      // graph), not a second full graph (r11 Next #2):
      //  (i) the stored index read back equals the in-memory
      //      assignment row for row, both directions — the narrow
      //      (vec_id, cluster) frame, cheap at any scale;
      //  (ii) the in-memory graph duplicated only on the % 9 = 1
      //      query sub-stratum and require'd equal to the stored-index
      //      graph there, both directions. knnJoinIndexed decomposes
      //      per query row (groupBy q_id; no cross-query term) — the
      //      lemma is spec-pinned in CorpusOpsSpec ("knn graph
      //      decomposes by query"). The driver oracle still replays
      //      the FULL %3=1 stratum against the output.
      val q9 = q.filter(col("vec_id") % 9 === 1)
      val mem9 = graft.ops.VectorOps.knnJoinIndexed(q9, st, "vec_id",
        "embedding", k = 5, nprobe = 16)
      val g9 = g.filter(col("q_id") % 9 === 1)
      val Seq(aDiff, gDiff) = Pins.run(
        Pins.multiset(stored.assigned.select(col("vec_id"), col("cluster")),
          st.assigned.select(col("vec_id"), col("cluster"))),
        Pins.multiset(g9, mem9))
      require(aDiff.total == 0L,
        s"stored IVF index diverged from the in-memory assignment: " +
          s"${aDiff.total} rows differ after the parquet round-trip")
      require(gDiff.total == 0L,
        "stored-index knn graph diverged from the in-memory build " +
          "on the sub-stratum")
      Memos.track(s"corpus:knnidx:$dir",
        Set("q186_knn_indexed"), g) { () =>
        g.unpersist()
        org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile); ()
      }
      g.orderBy("q_id", "rank")
    }),

    // STREAMING SemDeDup (streaming/StreamingOps.streamingSemDedup):
    // the full vector ingest gate as a stream — q182 proved the
    // assignment map; this adds the per-cluster keyed STATE
    // (flatMapGroupsWithState) that carries every member seen and
    // decides kept/dropped + suppressor evidence with the batch
    // prune's exact arithmetic. Vectors arrive in three id-ordered
    // micro-batches (range-sliced — the append-only contract the state
    // enforces per cluster); the stream's complete output is require'd
    // equal, both directions, to the batch semState over the same
    // corpus INCLUDING the suppressor column, and the whole chain
    // hash-matches the SQL replay.
    "q187_streaming_semdedup" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val st = fullSemState(s, dir)
      val centArr = st.centroids.collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
      val batch = st.members.select(col("vec_id"), col("cluster"),
        col("kept"), col("suppressor"))
      // the STREAM runs on the cluster % 3 = 1 stratum (r11 Next #2):
      // the keyed state is per-cluster with no cross-cluster term, so
      // stream == batch on a cluster stratum plus the spec-pinned
      // decomposition lemma covers the gate; the full-corpus OUTPUT
      // (and the driver's full-corpus oracle) comes from the batch
      // members, themselves pinned against the stream here and
      // replayed in SQL. Stratum membership derives from the batch
      // assignment — per-row deterministic under frozen centroids, so
      // the stream re-derives identical clusters.
      val streamVecs = e.join(
        st.members.filter(col("cluster") % 3 === 1).select("vec_id"),
        Seq("vec_id"), "left_semi")
      // id-ORDERED micro-batches (required: the per-cluster state is
      // append-only, so a batch-order flip would refuse) — see
      // writeIdOrderedMicroBatches for the tercile + mtime contract
      val (tmp, src) = writeIdOrderedMicroBatches(streamVecs, "vec_id",
        "q187")
      try {
        val stream = s.readStream.schema(e.schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
        val q = graft.streaming.StreamingOps
          .streamingSemDedup(s, stream, centArr, tau = 0.4)
          .writeStream.outputMode("append")
          .format("memory").queryName("q187out").start()
        try q.processAllAvailable() finally q.stop()
        val streamed = s.table("q187out")
          .select(col("vec_id"), col("cluster"), col("kept"),
            col("suppressor"))
        val batchStrat = batch.filter(col("cluster") % 3 === 1)
        require(Pins.multiset(streamed, batchStrat).diff.total == 0L,
          "streaming semDedup diverged from the batch prune on the " +
            "cluster stratum")
        batch.orderBy("vec_id")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    }),

    // PARTIAL-PROBE CONTAINMENT (r11 Next #5): the q183/q186 laws pin
    // nprobe = nlist; this pins the laws partial probes actually obey,
    // on the remaining %3 = 2 query stratum (q183 covers %3 = 0, q186
    // %3 = 1 — between the three, every corpus vector serves as a
    // query somewhere). Output: the nprobe ∈ {2, 8} neighbor lists,
    // hash-matched against a DuckDB replay of centroids -> assignment
    // -> probe ranking -> candidate-restricted window top-k. In-query
    // requires (each a THEOREM of restricting a top-k to a candidate
    // subset, so a violation means the implementation is broken):
    //  (i) probe monotonicity: every 8-probe neighbor that lies in
    //      the query's 2 probed cells appears in the 2-probe list,
    //      with rank_2 <= rank_8 (removing candidates only moves
    //      survivors UP);
    //  (ii) vs exact: every exact (nprobe = nlist) neighbor lying in
    //      the 8 probed cells appears in the 8-probe list with
    //      rank_8 <= rank_exact — exact computed on the % 9 = 2
    //      sub-stratum (the q183 proof-cost discount; the oracle
    //      already pins both FULL partial lists).
    "q195_knn_containment" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val cents = fullCentroids(s, dir)
      val st = graft.ops.VectorOps.ivfState(e, "vec_id", "embedding",
        cents)
      val q = e.filter(col("vec_id") % 3 === 2)
      def graph(qs: DataFrame, nprobe: Int): DataFrame =
        graft.ops.VectorOps.knnJoinIndexed(qs, st, "vec_id",
          "embedding", k = 5, nprobe = nprobe)
      val l2 = graph(q, 2).persist()
      val l8 = graph(q, 8).persist()
      try {
        val assign = st.assigned
          .select(col("vec_id"), col("cluster").as("__n_cl"))
        val pc2 = graft.ops.VectorOps.probeCells(q, cents, "vec_id",
          "embedding", nprobe = 2)
          .select(col("vec_id").as("q_id"), col("cluster").as("__n_cl"))
        // (i): l8 rows inside the 2-probe candidate scope...
        val l8in2 = l8.join(assign, Seq("vec_id"))
          .join(pc2, Seq("q_id", "__n_cl"), "left_semi")
          .select(col("q_id"), col("vec_id"), col("rank").as("rank_8"))
        // ...must ALL appear in l2, ranked at or above their l8 rank
        val viol1 = l8in2.join(
            l2.select(col("q_id"), col("vec_id"), col("rank").as("rank_2")),
            Seq("q_id", "vec_id"), "left")
          .filter(col("rank_2").isNull || col("rank_2") > col("rank_8"))
          .count()
        require(viol1 == 0L,
          s"probe-monotonicity violated: $viol1 8-probe neighbors in " +
            "2-probe cells missing or demoted in the 2-probe list")
        // (ii): exact on the sub-stratum vs l8
        val q9 = q.filter(col("vec_id") % 9 === 2)
        val exact9 = graph(q9, 16)
        val pc8 = graft.ops.VectorOps.probeCells(q9, cents, "vec_id",
          "embedding", nprobe = 8)
          .select(col("vec_id").as("q_id"), col("cluster").as("__n_cl"))
        val exIn8 = exact9.join(assign, Seq("vec_id"))
          .join(pc8, Seq("q_id", "__n_cl"), "left_semi")
          .select(col("q_id"), col("vec_id"), col("rank").as("rank_x"))
        val viol2 = exIn8.join(
            l8.select(col("q_id"), col("vec_id"), col("rank").as("rank_8")),
            Seq("q_id", "vec_id"), "left")
          .filter(col("rank_8").isNull || col("rank_8") > col("rank_x"))
          .count()
        require(viol2 == 0L,
          s"exact-containment violated: $viol2 exact neighbors in the " +
            "8 probed cells missing or demoted in the 8-probe list")
        Memos.track(s"corpus:knncont:$dir",
          Set("q195_knn_containment"), l2) { () =>
          l2.unpersist(blocking = false)
          l8.unpersist(blocking = false); ()
        }
        l2.withColumn("nprobe", lit(2))
          .unionByName(l8.withColumn("nprobe", lit(8)))
          .select(col("nprobe"), col("q_id"), col("rank"), col("vec_id"),
            col("cos_sim"))
          .orderBy("nprobe", "q_id", "rank")
      } catch { case e: Throwable =>
        l2.unpersist(blocking = false)
        l8.unpersist(blocking = false)
        throw e
      }
    }),

    // PRODUCT QUANTIZATION / ADC (ops/VectorOps.pqCodebooks/pqEncode/
    // pqAdcKnn — Jégou, Douze, Schmid, TPAMI 2011): the STORED form of
    // a 100 TB vector corpus is the m-int code word (16-64x smaller
    // than the float vectors); search precomputes one m x ksub
    // dot-product table per query and scores every code word with m
    // table lookups — the corpus's float vectors are never touched.
    // Everything replays exactly: seeded codebooks + one integer-mean
    // refinement (the lloydCentroids discipline), rounded-cosine
    // argmax encode, subspace-ordered ADC folds — the DuckDB oracle
    // replays seed -> assign -> refine -> encode -> ADC -> top-5 end
    // to end and hash-matches. In-query law on the % 21 = 3
    // sub-stratum: the LUT-based scan equals a decode-then-score
    // re-derivation (same folds over the reconstruction), both
    // directions — bit-exact, which pins the LUT's stride indexing
    // and code ordering.
    "q199_pq_adc" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val (books, enc) = pqIndex(s, dir)
      val q = e.filter(col("vec_id") % 7 === 3)
      val g = graft.ops.VectorOps.pqAdcKnn(q, enc, books, "vec_id",
        "embedding", k = 5).persist()
      try {
        val recon = enc
          .select(col("vec_id"), posexplode(col("pq_codes"))
            .as(Seq("subspace", "code")))
          .join(broadcast(books), Seq("subspace", "code"))
          .groupBy("vec_id")
          .agg(flatten(transform(
            array_sort(collect_list(struct(col("subspace"), col("cvec")))),
            x => x.getField("cvec"))).as("__recon"))
        val q9 = q.filter(col("vec_id") % 21 === 3)
        // the subspace-ordered fold as ONE native expression (r19,
        // guide §4): bit-identical IEEE sequence to the previous
        // subFold(dot(slice...)) HOF spelling — PqAdcCosine's scaladoc
        // carries the grouping proof; the interpreted-lambda version
        // measured 6.6 s for this 190k-row stage at sf0.1
        val scored9 = recon.crossJoin(broadcast(q9.select(
            col("vec_id").as("__q_id"), col("embedding").as("__q_vec"))))
          .filter(col("__q_id") =!= col("vec_id"))
          .select(col("__q_id"), col("vec_id"),
            round(graft.ops.VectorOps.pqAdcCosine(
              col("__q_vec"), col("__recon"), m = 4, subDim = 16),
              6).as("adc_cos"))
        val g9dec = scored9.groupBy("__q_id")
          .agg(graft.functions.TopKAgg.topKByScore(col("adc_cos"),
            col("vec_id"), 5).as("__top"))
          .select(col("__q_id").as("q_id"),
            posexplode(col("__top")).as(Seq("__pos", "__e")))
          .select(col("q_id"), (col("__pos") + 1).cast("int").as("rank"),
            col("__e.id").as("vec_id"), col("__e.score").as("adc_cos"))
        val g9 = g.filter(col("q_id") % 21 === 3)
        // (q_id, rank) is unique per side: bounded top-k output
        val diff = Pins.keyed(g9, g9dec, Seq("q_id", "rank"),
          Seq("vec_id", "adc_cos")).diff.total
        require(diff == 0L,
          s"LUT-based ADC diverged from the decode-then-score " +
            s"re-derivation on the sub-stratum: $diff rows differ")
        Memos.track(s"corpus:pqadc:$dir", Set("q199_pq_adc"), g) { () =>
          g.unpersist(blocking = false); ()
        }
        g.orderBy("q_id", "rank")
      } catch { case t: Throwable =>
        g.unpersist(blocking = false)
        throw t
      }
    }),

    // IVFADC (pqAdcKnnIndexed): IVF probe pruning x PQ code words —
    // the deployment composition (read nprobe/nlist of the
    // cell-partitioned code parquet per query batch; floats touched
    // never). nprobe = nlist is EXACTLY the full ADC scan — identical
    // candidate set and scores — so the oracle is q199's full replay
    // verbatim; the partial-probe side is pinned by the q195-shape
    // monotonicity law with adc_cos as the score: every full-probe
    // neighbor lying in the query's 2 probed cells appears in the
    // 2-probe list at equal-or-better rank.
    "q200_pq_ivf" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val (books, enc) = pqIndex(s, dir)
      val cents = fullCentroids(s, dir)
      val st = graft.ops.VectorOps.ivfState(e, "vec_id", "embedding",
        cents)
      val q = e.filter(col("vec_id") % 7 === 3)
      def graph(nprobe: Int): DataFrame =
        graft.ops.VectorOps.pqAdcKnnIndexed(q, st, enc, books,
          "vec_id", "embedding", k = 5, nprobe = nprobe)
      val full = graph(16).persist()
      try {
        val l2p = graph(2)
        val assign = st.assigned
          .select(col("vec_id"), col("cluster").as("__n_cl"))
        val pc2 = graft.ops.VectorOps.probeCells(q, cents, "vec_id",
          "embedding", nprobe = 2)
          .select(col("vec_id").as("q_id"), col("cluster").as("__n_cl"))
        val fullIn2 = full.join(assign, Seq("vec_id"))
          .join(pc2, Seq("q_id", "__n_cl"), "left_semi")
          .select(col("q_id"), col("vec_id"), col("rank").as("rank_f"))
        val viol = fullIn2.join(
            l2p.select(col("q_id"), col("vec_id"), col("rank").as("rank_2")),
            Seq("q_id", "vec_id"), "left")
          .filter(col("rank_2").isNull || col("rank_2") > col("rank_f"))
          .count()
        require(viol == 0L,
          s"ADC probe-monotonicity violated: $viol full-probe " +
            "neighbors in 2-probe cells missing or demoted in the " +
            "2-probe list")
        Memos.track(s"corpus:pqivf:$dir", Set("q200_pq_ivf"), full) { () =>
          full.unpersist(blocking = false); ()
        }
        full.orderBy("q_id", "rank")
      } catch { case t: Throwable =>
        full.unpersist(blocking = false)
        throw t
      }
    }),

    // STREAMING sketch rollup (Sketches.hllRegisters under a
    // complete-mode streaming aggregation): HLL registers are a
    // monotone MAX aggregate, so the sketch family is streaming-safe
    // BY CONSTRUCTION — the same mergeability q196 pins across shards
    // holds across arrival time, with no custom state function at
    // all (contrast q187's flatMapGroupsWithState, which exists
    // because semantic dedup is NOT order-free; cardinality is).
    // Stream leg on the event_id % 3 = 1 stratum (the register agg
    // commutes with any row partition — q196's shard law IS the
    // decomposition lemma); require: streamed registers == batch
    // registers on the stratum, both directions, after three
    // micro-batches. Output and oracle: the full-corpus q191-shape
    // estimate frame (registers -> exact-integer harmonic sum ->
    // estimate + collision-resistant digest), hash-matched in DuckDB.
    "q203_streaming_hll" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_type"), col("user_id"), col("event_id"))
      val strat = ev.filter(col("event_id") % 3 === 1)
      // q203/q231 stream the IDENTICAL slice: one shared fixture
      // (Memos-owned lifecycle) instead of a corpus copy per execution
      val src = StreamFixtures.sharedMicroBatches(strat, "event_id",
        s"corpus:streamfx13:$dir",
        Set("q203_streaming_hll", "q231_streaming_kmv"))
      locally {
        val stream = s.readStream.schema(strat.schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
        val q = graft.ops.Sketches
          .hllRegisters(stream, Seq("event_type"), "user_id")
          .writeStream.outputMode("complete").format("memory")
          .queryName("q203regs").start()
        try q.processAllAvailable() finally q.stop()
        val streamed = s.table("q203regs")
        val batchStrat = graft.ops.Sketches
          .hllRegisters(strat, Seq("event_type"), "user_id")
        val diff = Pins.keyed(streamed, batchStrat,
          Seq("event_type", "hll_bucket"), Seq("hll_m")).diff.total
        require(diff == 0L,
          s"streaming HLL registers diverged from the batch registers " +
            s"on the event stratum: $diff register cells differ")
        graft.ops.Sketches
          .hllDistinct(ev.select("event_type", "user_id"),
            Seq("event_type"), "user_id")
          .select(col("event_type"), round(col("n_hll"), 2).as("n_hll"),
            col("hll_v"), col("hll_reg_digest"))
          .orderBy("event_type")
      }
    }),

    // Streaming KMV build (q203's sibling for the distinct sketch):
    // the KMV register is an order-free MIN-like fold — k smallest
    // distinct hashes — so the SAME kmvSketch plan runs unchanged as a
    // complete-mode streaming aggregation, giving a live distinct
    // sketch over a stream whose snapshots kmvMerge/kmvOverlap/
    // kmvDifference consume exactly like batch sketches. Require:
    // streamed sketch rows == batch sketch rows on the event_id % 3
    // stratum, keyed on (event_type, kmv_h), after three
    // micro-batches. Output and oracle: the full-corpus
    // kmvDistinct estimate frame, hashes + rank-k retention + the
    // estimator division replayed in DuckDB.
    "q231_streaming_kmv" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_type"), col("user_id"), col("event_id"))
      val strat = ev.filter(col("event_id") % 3 === 1)
      // shared with q203 — see sharedMicroBatches
      val src = StreamFixtures.sharedMicroBatches(strat, "event_id",
        s"corpus:streamfx13:$dir",
        Set("q203_streaming_hll", "q231_streaming_kmv"))
      locally {
        val stream = s.readStream.schema(strat.schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
        val q = graft.ops.Sketches
          .kmvSketch(stream, Seq("event_type"), "user_id", k = 64)
          .writeStream.outputMode("complete").format("memory")
          .queryName("q231kmv").start()
        try q.processAllAvailable() finally q.stop()
        val streamed = s.table("q231kmv")
        val batchStrat = graft.ops.Sketches
          .kmvSketch(strat, Seq("event_type"), "user_id", k = 64)
        val diff = Pins.keyed(streamed, batchStrat,
          Seq("event_type", "kmv_h")).diff.total
        require(diff == 0L,
          s"streaming KMV sketch diverged from the batch sketch on " +
            s"the event stratum: $diff register rows differ")
        graft.ops.Sketches.kmvDistinct(
            graft.ops.Sketches.kmvSketch(ev, Seq("event_type"),
              "user_id", k = 64),
            Seq("event_type"))
          .select(col("event_type"), round(col("n_kmv"), 4).as("n_kmv"))
          .orderBy("event_type")
      }
    })
  )

  /** `TextDedup.duplicateSpans` over `src(doc_id, text)`: a 40-char
    * anchor at every offset, the anchors whose md5 prefix occurs twice or
    * more, merged into islands. CTEs `base` through
    * `merged(doc_id, island, s, e)`; `counted` also carries each doc's
    * `len` and each island's anchor count `na`. */
  private def spansSql(src: String, counted: Boolean): String = {
    val (len, anLen, maxLen, na) =
      if (counted) ("len, ", "an.len, ", "MAX(len) AS len, ", ",\n    COUNT(*) AS na")
      else ("", "", "", "")
    s"""base AS (
       |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len FROM $src
       |), an AS (
       |  SELECT doc_id, ${len}CAST(p AS BIGINT) AS p,
       |    substring(md5(substring(text, p, 40)), 1, 16) AS h
       |  FROM (SELECT doc_id, text, $len
       |          unnest(list_transform(range(1, CAST(len AS INT) - 38),
       |                                x -> CAST(x AS INT))) AS p
       |        FROM base WHERE len >= 40)
       |), dh AS (
       |  SELECT h FROM an GROUP BY h HAVING COUNT(*) >= 2
       |), dup AS (
       |  SELECT an.doc_id, ${anLen}an.p, an.p + 39 AS e FROM an JOIN dh USING (h)
       |), brk AS (
       |  SELECT doc_id, ${len}p, e,
       |    CASE WHEN p > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY p
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
       |      THEN 1 ELSE 0 END AS b
       |  FROM dup
       |), isl AS (
       |  SELECT doc_id, ${len}p, e,
       |    SUM(b) OVER (PARTITION BY doc_id ORDER BY p) AS island
       |  FROM brk
       |), merged AS (
       |  SELECT doc_id, ${maxLen}island, MIN(p) AS s, MAX(e) AS e$na
       |  FROM isl GROUP BY doc_id, island
       |)""".stripMargin
  }

  /** Per-doc span statistics over the counted [[spansSql]]. */
  private val spanStatsSql =
    """SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
      |  CAST(SUM(na) AS BIGINT) AS n_dup_anchors,
      |  CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars,
      |  ROUND(CAST(SUM(e - s + 1) AS DOUBLE) / MAX(len), 6) AS dup_frac
      |FROM merged GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** `TextDedup.exciseDuplicateSpans` after [[spansSql]]: the gaps
    * between merged spans plus the tail, concatenated in order. CTEs
    * `gaps`, `tails` and `cleaned(doc_id, <text>)`. */
  private def excisedSql(text: String): String =
    s"""gaps AS (
       |  SELECT m.doc_id, m.s AS ord,
       |    substring(b.text, CAST(m.prev_e + 1 AS INT),
       |              CAST(m.s - m.prev_e - 1 AS INT)) AS seg
       |  FROM (SELECT doc_id, s,
       |          COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS prev_e
       |        FROM merged) m
       |  JOIN base b USING (doc_id)
       |), tails AS (
       |  SELECT t.doc_id, CAST(9223372036854775807 AS BIGINT) AS ord,
       |    substring(b.text, CAST(t.max_e + 1 AS INT)) AS seg
       |  FROM (SELECT doc_id, MAX(e) AS max_e FROM merged GROUP BY doc_id) t
       |  JOIN base b USING (doc_id)
       |), cleaned AS (
       |  SELECT doc_id, string_agg(seg, '' ORDER BY ord) AS $text
       |  FROM (SELECT * FROM gaps UNION ALL SELECT * FROM tails)
       |  GROUP BY doc_id
       |)""".stripMargin

  /** The md5 train/heldout split of `TrainingOps.lmScore`'s entries. */
  private val lmSplitSql =
    """CASE WHEN substring(md5(doc_id || '#lm'), 1, 8) < 'c0000000'
      |         THEN 'train' ELSE 'heldout' END AS split""".stripMargin

  /** `TrainingOps.lmScore`'s add-half bigram model, trained on the
    * `train` rows of `tok(doc_id, split, toks)`, each bigram's log
    * probability rounded to micro-units. CTEs `bi` through
    * `micro(doc_id, m)`. */
  private def bigramLmSql(tok: String): String =
    s"""bi AS (
       |  SELECT doc_id, split, toks[i] || ' ' || toks[i+1] AS g
       |  FROM (SELECT doc_id, split, toks,
       |          unnest(list_transform(range(1, len(toks)), x -> CAST(x AS INT))) AS i
       |        FROM $tok WHERE len(toks) >= 2)
       |), c12 AS (
       |  SELECT g, COUNT(*) AS c12 FROM bi WHERE split = 'train' GROUP BY g
       |), c1 AS (
       |  SELECT split_part(g, ' ', 1) AS w1, COUNT(*) AS c1
       |  FROM bi WHERE split = 'train' GROUP BY 1
       |), v AS (
       |  SELECT CAST(COUNT(DISTINCT split_part(g, ' ', 2)) AS DOUBLE) AS V FROM c12
       |), micro AS (
       |  SELECT bi.doc_id,
       |    CAST(FLOOR(ln((COALESCE(c12.c12, 0) + 0.5)
       |                  / (COALESCE(c1.c1, 0) + 0.5 * v.V)) * 1e6 + 0.5)
       |      AS BIGINT) AS m
       |  FROM bi LEFT JOIN c12 USING (g)
       |          LEFT JOIN c1 ON split_part(bi.g, ' ', 1) = c1.w1
       |          CROSS JOIN v
       |)""".stripMargin

  /** The md5 twin of the minhash pipeline over `src(doc_id, text)`:
    * tokens, word 3-gram shingles, 16 md5-keyed mins, 4 bands of 4.
    * CTEs `<p>tok`, `<p>gr`, `<p>sig` and `<p>bnd(doc_id, m0..m15,
    * b0..b3)`. */
  private def minHashSigSql(src: String, p: String): String = {
    val mins = (0 until 16)
      .map(i => s"MIN(substring(md5('$i#' || g), 1, 16)) AS m$i")
      .mkString(",\n    ")
    val bands = (0 until 4).map { b =>
      val parts = (0 until 4).map(i => s"m${b * 4 + i}").mkString(" || '|' || ")
      s"md5($parts) AS b$b"
    }.mkString(",\n    ")
    s"""${p}tok AS (
       |  SELECT doc_id,
       |    $tokensSql AS toks
       |  FROM $src
       |), ${p}gr AS (
       |  SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
       |  FROM (SELECT doc_id, toks,
       |          unnest(list_transform(range(1, CAST(len(toks) AS INT) - 1),
       |                                x -> CAST(x AS INT))) AS i
       |        FROM ${p}tok WHERE len(toks) >= 3)
       |  UNION ALL
       |  SELECT doc_id, array_to_string(toks, ' ') AS g FROM ${p}tok WHERE len(toks) < 3
       |), ${p}sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM ${p}gr GROUP BY doc_id
       |), ${p}bnd AS (
       |  SELECT *,
       |    $bands
       |  FROM ${p}sig
       |)""".stripMargin
  }

  /** The number of equal mins between the signatures `a` and `b`. */
  private def minHashEqualSql(a: String, b: String): String =
    (0 until 16).map(i => s"(CASE WHEN $a.m$i = $b.m$i THEN 1 ELSE 0 END)").mkString(" + ")

  /** `a` and `b` share at least one band. */
  private def minHashBandOrSql(a: String, b: String): String =
    (0 until 4).map(i => s"$a.b$i = $b.b$i").mkString(" OR ")

  // q192 and q193 share one fixture and one decision frame - one
  // replay serves both (q193 additionally proves stream == batch
  // in-query).
  private lazy val crossDecontamSql: String = {
    val eqSum = minHashEqualSql("c", "r")
    s"""WITH bench AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 37 = 0
       |), corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 37 <> 0
       |  UNION ALL
       |  SELECT doc_id + 30000000 AS doc_id, text || ' qq77 qq88' AS text
       |  FROM documents WHERE doc_id % 37 = 0
       |), ${minHashSigSql("corpus", "c")},
       |${minHashSigSql("bench", "r")},
       |cand AS (
       |  SELECT c.doc_id, r.doc_id AS ref_id,
       |    CAST($eqSum AS BIGINT) AS n_equal,
       |    row_number() OVER (PARTITION BY c.doc_id
       |      ORDER BY ($eqSum) DESC, r.doc_id) AS rn
       |  FROM cbnd c JOIN rbnd r ON (${minHashBandOrSql("c", "r")})
       |)
       |SELECT d.doc_id, cand.ref_id,
       |  COALESCE(cand.n_equal, 0) AS n_equal,
       |  ROUND(COALESCE(cand.n_equal, 0) / 16.0, 6) AS est_jaccard
       |FROM (SELECT doc_id FROM corpus) d
       |LEFT JOIN (SELECT * FROM cand WHERE rn = 1) cand USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** `vec_id, <out>` of each vector's best row of
    * `from(vec_id, <key>, c)`: the highest rounded cosine `c`, ties to
    * the lowest key. */
  private def nearestSql(from: String, key: String, out: String): String =
    s"""SELECT vec_id, $out FROM (
       |    SELECT vec_id, $key,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY c DESC, $key ASC) AS rn
       |    FROM $from)
       |  WHERE rn = 1""".stripMargin

  /** `VectorOps.semDedup`'s seeding: the first 16 vectors of `src` are
    * the seeds, and each vector of `src` joins its nearest seed. CTEs
    * `seeds`, `assign<n>` and `best<n>(vec_id, cluster)`. */
  private def seedClustersSql(src: String, n: String): String =
    s"""seeds AS (
       |  SELECT vec_id AS seed_id, embedding AS se
       |  FROM $src ORDER BY vec_id LIMIT 16
       |), assign$n AS (
       |  SELECT e.vec_id, s.seed_id,
       |    ${sqlCos("e.embedding", "s.se")} AS c
       |  FROM $src e CROSS JOIN seeds s
       |), best$n AS (
       |  ${nearestSql(s"assign$n", "seed_id", "seed_id AS cluster")}
       |)""".stripMargin

  /** `VectorOps.lloydCentroids`' step from `best0`: each cluster's mean
    * over `src`, every component rounded to 1e-6 and summed as an
    * integer. CTEs `dims`, `comp` and `cent(cluster, cvec)`. */
  private def lloydCentroidsSql(src: String): String =
    s"""dims AS (
       |  SELECT vec_id, dim, embedding[dim] AS v
       |  FROM (SELECT vec_id, embedding,
       |          unnest(list_transform(range(1, CAST(len(embedding) AS INT) + 1),
       |                                x -> CAST(x AS INT))) AS dim
       |        FROM $src)
       |), comp AS (
       |  SELECT b.cluster, d.dim,
       |    CAST(SUM(CAST(FLOOR(CAST(d.v AS DOUBLE) * 1e6 + 0.5)
       |      AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1e6) AS comp
       |  FROM best0 b JOIN dims d USING (vec_id)
       |  GROUP BY b.cluster, d.dim
       |), cent AS (
       |  SELECT cluster, list(comp ORDER BY dim) AS cvec
       |  FROM comp GROUP BY cluster
       |)""".stripMargin

  /** CTE `assign1`: every vector of `src` against every centroid. */
  private def centroidScoresSql(src: String): String =
    s"""assign1 AS (
       |  SELECT e.vec_id, c.cluster,
       |    ${sqlCos("e.embedding", "c.cvec")} AS c
       |  FROM $src e CROSS JOIN cent c
       |)""".stripMargin

  /** CTE `best(vec_id, cluster)`: each vector's nearest centroid. */
  private val nearestCentroidSql =
    s"""best AS (
       |  ${nearestSql("assign1", "cluster", "cluster")}
       |)""".stripMargin

  /** `VectorOps.semDedupPrune` over `best`: a vector whose cosine with a
    * lower id of its cluster (vectors from `src`) reaches 0.4 is
    * dropped. Selects `cols` over the (b1 kept-candidate, b2 dropped)
    * pairs. */
  private def prunedSql(src: String, cols: String): String =
    s"""SELECT $cols
       |  FROM best b1
       |  JOIN best b2 ON b1.cluster = b2.cluster AND b1.vec_id < b2.vec_id
       |  JOIN $src e1 ON b1.vec_id = e1.vec_id
       |  JOIN $src e2 ON b2.vec_id = e2.vec_id
       |  WHERE ${sqlCos("e1.embedding", "e2.embedding")} >= 0.4""".stripMargin

  /** CTE `dropped`, then each `best` row with its kept flag. */
  private def keptSql(src: String): String =
    s"""dropped AS (
       |  ${prunedSql(src, "DISTINCT b2.vec_id")}
       |)
       |SELECT b.vec_id, b.cluster,
       |  b.vec_id NOT IN (SELECT vec_id FROM dropped) AS kept
       |FROM best b ORDER BY b.vec_id""".stripMargin

  /** Exact cosine top-5 for the queries `a.vec_id % 3 = <stratum>`. */
  private def knnSql(stratum: Int): String =
    s"""SELECT q_id, CAST(rank AS INT) AS rank, vec_id, cos_sim FROM (
       |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
       |    ${sqlCos("a.embedding", "b.embedding")} AS cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |      ORDER BY ${sqlCos("a.embedding", "b.embedding")} DESC,
       |               b.vec_id ASC) AS rank
       |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
       |  WHERE a.vec_id % 3 = $stratum)
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  val oracle: Map[String, String] = Map(
    "q170_semantic_dedup" ->
      s"""WITH ${seedClustersSql("embeddings", "")}, ${keptSql("embeddings")}""",

    "q171_lm_quality_score" ->
      s"""WITH sp AS (
         |  SELECT doc_id, text,
         |    $lmSplitSql
         |  FROM documents
         |), d AS (
         |  SELECT doc_id, split,
         |    $tokensSql AS toks
         |  FROM sp
         |), ${bigramLmSql("d")}, agg AS (
         |  SELECT doc_id, CAST(SUM(m) AS BIGINT) AS sm, COUNT(*) AS n_bigrams
         |  FROM micro GROUP BY doc_id
         |)
         |SELECT a.doc_id, sp.split, a.n_bigrams,
         |  ROUND(a.sm / a.n_bigrams / 1e6, 6) AS avg_logp,
         |  ROUND(EXP(-ROUND(a.sm / a.n_bigrams / 1e6, 6)), 3) AS ppl
         |FROM agg a JOIN sp USING (doc_id)
         |ORDER BY a.doc_id""".stripMargin,

    "q172_duplicate_spans" ->
      s"""WITH ${spansSql("documents", counted = true)}
         |$spanStatsSql""".stripMargin,

    "q173_minhash_replay" -> {
      val eqSum = minHashEqualSql("a", "b")
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
         |), ${minHashSigSql("corpus", "")}
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST($eqSum AS BIGINT) AS n_equal,
         |  ROUND(($eqSum) / 16.0, 6) AS est_jaccard
         |FROM bnd a JOIN bnd b
         |  ON a.doc_id < b.doc_id AND (${minHashBandOrSql("a", "b")})
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q192_cross_decontam" -> crossDecontamSql,
    "q193_streaming_decontam" -> crossDecontamSql,

    "q174_span_excision" ->
      s"""WITH ${spansSql("documents", counted = false)}, ${excisedSql("ct")}
         |SELECT b.doc_id,
         |  CAST(length(COALESCE(c.ct, b.text)) AS BIGINT) AS clean_len,
         |  CAST(b.len - length(COALESCE(c.ct, b.text)) AS BIGINT) AS removed_chars,
         |  md5(COALESCE(c.ct, b.text)) AS clean_md5
         |FROM base b LEFT JOIN cleaned c USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin,

    "q175_simhash_replay" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000000 AS doc_id, text || ' zz11 zz22 zz33' AS text
         |  FROM documents WHERE doc_id % 7 = 0
         |), tok AS (
         |  SELECT doc_id,
         |    unnest($tokensSql) AS w
         |  FROM corpus
         |), dg AS (
         |  SELECT doc_id, md5(w) AS hx FROM tok
         |), digits AS (
         |  SELECT doc_id, CAST(j AS INT) AS j,
         |    strpos('0123456789abcdef', substring(hx, CAST(j AS INT) + 1, 1)) - 1 AS v
         |  FROM dg, (SELECT unnest(range(0, 16)) AS j)
         |), votes AS (
         |  SELECT doc_id, j * 4 + kk AS bit,
         |    SUM(CASE WHEN (v // p) % 2 = 1 THEN 1 ELSE -1 END) AS tally
         |  FROM digits, (VALUES (0, 8), (1, 4), (2, 2), (3, 1)) AS bp(kk, p)
         |  GROUP BY doc_id, j * 4 + kk
         |), nib AS (
         |  SELECT doc_id, bit // 4 AS j,
         |    SUM((CASE WHEN tally > 0 THEN 1 ELSE 0 END)
         |        * CAST(power(2, 3 - (bit % 4)) AS INT)) AS nv
         |  FROM votes GROUP BY doc_id, bit // 4
         |), sig AS (
         |  SELECT doc_id,
         |    string_agg(substring('0123456789abcdef', CAST(nv AS INT) + 1, 1),
         |               '' ORDER BY j) AS sig
         |  FROM nib GROUP BY doc_id
         |), banded AS (
         |  SELECT doc_id, sig, CAST(b AS INT) AS b,
         |    substring(sig, CAST(b AS INT) * 4 + 1, 4) AS chunk
         |  FROM sig, (SELECT unnest(range(0, 4)) AS b)
         |), pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.sig AS sa, b.sig AS sb
         |  FROM banded a JOIN banded b
         |    ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id
         |), ham AS (
         |  SELECT id_a, id_b,
         |    CAST(SUM((x % 2) + (x // 2 % 2) + (x // 4 % 2) + (x // 8 % 2))
         |      AS BIGINT) AS hamming
         |  FROM (SELECT id_a, id_b,
         |          xor(strpos('0123456789abcdef', substring(sa, CAST(j AS INT) + 1, 1)) - 1,
         |              strpos('0123456789abcdef', substring(sb, CAST(j AS INT) + 1, 1)) - 1) AS x
         |        FROM pairs, (SELECT unnest(range(0, 16)) AS j))
         |  GROUP BY id_a, id_b
         |)
         |SELECT id_a, id_b, hamming FROM ham
         |WHERE hamming <= 8 ORDER BY id_a, id_b""".stripMargin,

    "q176_curation_e2e" ->
      s"""WITH ${spansSql("documents", counted = false)}, fracs AS (
         |  SELECT m.doc_id,
         |    ROUND(CAST(SUM(m.e - m.s + 1) AS DOUBLE) / MAX(b.len), 6) AS dup_frac
         |  FROM merged m JOIN base b USING (doc_id) GROUP BY m.doc_id
         |), ${excisedSql("ctext")}, ct AS (
         |  SELECT b.doc_id, COALESCE(c.ctext, b.text) AS clean_text
         |  FROM base b LEFT JOIN cleaned c USING (doc_id)
         |), sp AS (
         |  SELECT doc_id, clean_text,
         |    $lmSplitSql
         |  FROM ct
         |), dtk AS (
         |  SELECT doc_id, split,
         |    ${tokensOfSql("clean_text")} AS toks
         |  FROM sp
         |), ${bigramLmSql("dtk")}, lmagg AS (
         |  SELECT doc_id, CAST(SUM(m) AS BIGINT) AS sm, COUNT(*) AS n_bigrams
         |  FROM micro GROUP BY doc_id
         |), lm AS (
         |  SELECT doc_id, ROUND(sm / n_bigrams / 1e6, 6) AS avg_logp FROM lmagg
         |), ${seedClustersSql("embeddings", "")}, dropped AS (
         |  ${prunedSql("embeddings", "DISTINCT b2.vec_id")}
         |), sem AS (
         |  SELECT b.vec_id AS doc_id,
         |    b.vec_id NOT IN (SELECT vec_id FROM dropped) AS kept
         |  FROM best b
         |)
         |SELECT d.doc_id,
         |  COALESCE(f.dup_frac, 0.0) AS dup_frac,
         |  l.avg_logp,
         |  s2.kept AS kept_sem,
         |  (COALESCE(f.dup_frac, 0.0) <= 0.2
         |    AND COALESCE(l.avg_logp, -99.0) >= -3.42
         |    AND COALESCE(s2.kept, FALSE)) AS selected
         |FROM documents d
         |LEFT JOIN fracs f USING (doc_id)
         |LEFT JOIN lm l USING (doc_id)
         |LEFT JOIN sem s2 USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "q177_incremental_spans" ->
      s"""WITH corpus AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 13 <> 0
         |), ${spansSql("corpus", counted = true)}
         |$spanStatsSql""".stripMargin,

    "q178_source_overlap" ->
      s"""WITH tok AS (
         |  SELECT source,
         |    $tokensSql AS toks
         |  FROM documents
         |), gr AS (
         |  SELECT DISTINCT source, md5(g) AS h FROM (
         |    SELECT source, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
         |    FROM (SELECT source, toks,
         |            unnest(list_transform(range(1, CAST(len(toks) AS INT) - 1),
         |                                  x -> CAST(x AS INT))) AS i
         |          FROM tok WHERE len(toks) >= 3)
         |    UNION ALL
         |    SELECT source, array_to_string(toks, ' ') AS g
         |    FROM tok WHERE len(toks) < 3)
         |), tot AS (
         |  SELECT source, COUNT(*) AS n FROM gr GROUP BY source
         |), pairs AS (
         |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
         |  FROM gr a JOIN gr b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2
         |)
         |SELECT p.src_a, p.src_b,
         |  CAST(p.n_shared AS BIGINT) AS n_shared_grams,
         |  CAST(ta.n AS BIGINT) AS n_a, CAST(tb.n AS BIGINT) AS n_b,
         |  ROUND(CAST(p.n_shared AS DOUBLE) / LEAST(ta.n, tb.n), 6) AS containment
         |FROM pairs p
         |JOIN tot ta ON p.src_a = ta.source
         |JOIN tot tb ON p.src_b = tb.source
         |ORDER BY p.src_a, p.src_b""".stripMargin,

    "q179_lloyd_semdedup" ->
      s"""WITH ${seedClustersSql("embeddings", "0")}, ${lloydCentroidsSql("embeddings")},
         |${centroidScoresSql("embeddings")}, $nearestCentroidSql, ${keptSql("embeddings")}""".stripMargin,

    "q180_incremental_ivf" ->
      s"""WITH oldc AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 <> 0
         |), ${seedClustersSql("oldc", "0")}, ${lloydCentroidsSql("oldc")}, newc AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 7 = 0 OR vec_id % 5 <> 0
         |), ${centroidScoresSql("newc")}, $nearestCentroidSql
         |SELECT vec_id, cluster,
         |  CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS cell_n
         |FROM best ORDER BY vec_id""".stripMargin,

    "q181_incremental_semdedup" ->
      s"""WITH oldc AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 <> 3
         |), corpus AS (
         |  SELECT vec_id, embedding FROM oldc
         |  UNION ALL
         |  SELECT vec_id + 10000000 AS vec_id, embedding
         |  FROM embeddings WHERE vec_id % 4 = 3
         |), ${seedClustersSql("oldc", "0")}, ${lloydCentroidsSql("oldc")},
         |${centroidScoresSql("corpus")}, $nearestCentroidSql, ${keptSql("corpus")}""".stripMargin,

    // q184: centroids frozen over the FULL old corpus (pre-removal),
    // assignment + prune replayed over (old \ removed) ∪ added — the
    // corpus the maintained state must equal.
    "q184_semdedup_removals" ->
      s"""WITH ${seedClustersSql("embeddings", "0")}, ${lloydCentroidsSql("embeddings")}, corpus AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 6 <> 1
         |  UNION ALL
         |  SELECT vec_id + 10000000 AS vec_id, embedding
         |  FROM embeddings WHERE vec_id % 4 = 3
         |), ${centroidScoresSql("corpus")}, $nearestCentroidSql, ${keptSql("corpus")}""".stripMargin,

    "q182_streaming_ivf" ->
      s"""WITH ${seedClustersSql("embeddings", "0")}, ${lloydCentroidsSql("embeddings")},
         |${centroidScoresSql("embeddings")}
         |${nearestSql("assign1", "cluster", "cluster")} ORDER BY vec_id""".stripMargin,

    "q183_knn_join" -> knnSql(0),

    "q186_knn_indexed" -> knnSql(1),

    "q187_streaming_semdedup" ->
      s"""WITH ${seedClustersSql("embeddings", "0")}, ${lloydCentroidsSql("embeddings")},
         |${centroidScoresSql("embeddings")}, $nearestCentroidSql, dropped AS (
         |  ${prunedSql("embeddings", "b2.vec_id, CAST(MIN(b1.vec_id) AS BIGINT) AS suppressor")}
         |  GROUP BY b2.vec_id
         |)
         |SELECT b.vec_id, b.cluster, d.vec_id IS NULL AS kept,
         |  d.suppressor
         |FROM best b LEFT JOIN dropped d USING (vec_id)
         |ORDER BY b.vec_id""".stripMargin,

    // q195: centroids -> corpus assignment -> per-query probe-cell
    // ranking -> candidate-restricted window top-5 for BOTH partial
    // probe depths — the full partial-probe search replayed, not just
    // the nprobe = nlist degenerate case.
    "q195_knn_containment" ->
      s"""WITH ${seedClustersSql("embeddings", "0")}, ${lloydCentroidsSql("embeddings")},
         |${centroidScoresSql("embeddings")}, $nearestCentroidSql, q AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 2
         |), probe AS (
         |  SELECT q.vec_id AS q_id, c.cluster,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${sqlCos("q.embedding", "c.cvec")} DESC,
         |               c.cluster ASC) AS pr
         |  FROM q CROSS JOIN cent c
         |), cand AS (
         |  SELECT np.np, p.q_id, b.vec_id,
         |    ${sqlCos("qe.embedding", "ne.embedding")} AS cos_sim
         |  FROM (VALUES (2), (8)) np(np)
         |  JOIN probe p ON p.pr <= np.np
         |  JOIN best b ON b.cluster = p.cluster
         |  JOIN embeddings qe ON qe.vec_id = p.q_id
         |  JOIN embeddings ne ON ne.vec_id = b.vec_id
         |  WHERE b.vec_id <> p.q_id
         |), ranked AS (
         |  SELECT np, q_id, vec_id, cos_sim,
         |    ROW_NUMBER() OVER (PARTITION BY np, q_id
         |      ORDER BY cos_sim DESC, vec_id ASC) AS rank
         |  FROM cand)
         |SELECT CAST(np AS INT) AS nprobe, q_id, CAST(rank AS INT) AS rank,
         |  vec_id, cos_sim
         |FROM ranked WHERE rank <= 5
         |ORDER BY nprobe, q_id, rank""".stripMargin,

    // q199/q200: the WHOLE PQ pipeline replayed — seeded subspace
    // codebooks (code = seed id rank), rounded-cosine argmax
    // assignment, integer-mean refinement, re-assignment encode, then
    // ADC: per-(query, code word) subspace dot terms summed IN
    // SUBSPACE ORDER (list ORDER BY s -> list_sum, the same fold the
    // Spark side spells), reconstruction norm from the same ordered
    // fold, rank by rounded adc_cos desc / id asc. q200's IVFADC at
    // nprobe = nlist is exactly this full scan, so both keys share
    // the replay.
    "q199_pq_adc" -> pqAdcSql,
    "q200_pq_ivf" -> pqAdcSql,
    // The q191 register/estimate replay, estimate-only shape (the
    // streaming leg is pinned in-query; what the oracle checks is the
    // full-corpus sketch the query returns).
    "q203_streaming_hll" ->
      s"""WITH ${hllSql(shards = 0)}
         |SELECT event_type,
         |  $hllEstimateSql
         |FROM e
         |ORDER BY event_type""".stripMargin,
    // The KMV estimate pipeline replayed over the full events table
    // (the streaming ≡ batch law is pinned in-query; the oracle checks
    // the full-corpus sketch estimate the query returns): md5 52-bit
    // hashes, rank-64 retention, exact-under-k vs the (k-1)/u_(k)
    // estimator with the +0.5 mid-bucket convention.
    "q231_streaming_kmv" ->
      """WITH hsh AS (
        |  SELECT DISTINCT event_type,
        |    CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |rk AS (SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM hsh),
        |sk AS (SELECT event_type, h FROM rk WHERE rn <= 64),
        |agg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    MAX(h) AS kth
        |  FROM sk GROUP BY 1)
        |SELECT event_type,
        |  round(CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
        |    ELSE CAST(63 AS DOUBLE) * 4503599627370496.0 /
        |      (CAST(kth AS DOUBLE) + 0.5) END, 4) AS n_kmv
        |FROM agg ORDER BY event_type""".stripMargin
  )

  private lazy val pqAdcSql: String =
    s"""WITH seeds AS (
       |  SELECT embedding,
       |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        ORDER BY vec_id LIMIT 8)
       |), ss AS (
       |  SELECT CAST(unnest(range(0, 4)) AS INT) AS s
       |), sub AS (
       |  SELECT e.vec_id, ss.s,
       |    list_slice(e.embedding, ss.s * 16 + 1, ss.s * 16 + 16) AS sv
       |  FROM embeddings e CROSS JOIN ss
       |), seedbook AS (
       |  SELECT ss.s, sd.code,
       |    list_slice(sd.embedding, ss.s * 16 + 1, ss.s * 16 + 16) AS cvec
       |  FROM seeds sd CROSS JOIN ss
       |), assign0 AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT sub.vec_id, sub.s, sb.code,
       |      ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.s
       |        ORDER BY COALESCE(${sqlCos("sub.sv", "sb.cvec")}, -2) DESC,
       |                 sb.code ASC) AS rn
       |    FROM sub JOIN seedbook sb USING (s))
       |  WHERE rn = 1
       |), dd AS (
       |  SELECT CAST(unnest(range(1, 17)) AS INT) AS dim
       |), comp AS (
       |  SELECT s, code, dim,
       |    CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1e6 + 0.5) AS BIGINT))
       |      AS DOUBLE) / (COUNT(*) * 1e6) AS comp
       |  FROM (
       |    SELECT a.s, a.code, dd.dim, sub.sv[dd.dim] AS v
       |    FROM assign0 a
       |    JOIN sub ON sub.vec_id = a.vec_id AND sub.s = a.s
       |    CROSS JOIN dd)
       |  GROUP BY s, code, dim
       |), cb AS (
       |  SELECT s, code, list(comp ORDER BY dim) AS cvec
       |  FROM comp GROUP BY s, code
       |), enc AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT sub.vec_id, sub.s, cb.code,
       |      ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.s
       |        ORDER BY COALESCE(${sqlCos("sub.sv", "cb.cvec")}, -2) DESC,
       |                 cb.code ASC) AS rn
       |    FROM sub JOIN cb USING (s))
       |  WHERE rn = 1
       |), q AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 = 3
       |), terms AS (
       |  SELECT q.vec_id AS q_id, enc.vec_id AS x_id, enc.s,
       |    ${sqlDot("list_slice(q.embedding, enc.s * 16 + 1, enc.s * 16 + 16)", "cb.cvec")} AS t,
       |    ${sqlDot("cb.cvec", "cb.cvec")} AS n2
       |  FROM enc
       |  JOIN cb ON cb.s = enc.s AND cb.code = enc.code
       |  CROSS JOIN q
       |  WHERE enc.vec_id <> q.vec_id
       |), adc AS (
       |  SELECT q_id, x_id,
       |    list_sum(list(t ORDER BY s)) AS num,
       |    sqrt(list_sum(list(n2 ORDER BY s))) AS xn
       |  FROM terms GROUP BY q_id, x_id
       |), qn AS (
       |  SELECT vec_id AS q_id, ${sqlL2("embedding")} AS ql2 FROM q
       |), ranked AS (
       |  SELECT a.q_id, a.x_id,
       |    ROUND(a.num / (qn.ql2 * a.xn), 6) AS adc_cos,
       |    ROW_NUMBER() OVER (PARTITION BY a.q_id
       |      ORDER BY ROUND(a.num / (qn.ql2 * a.xn), 6) DESC,
       |               a.x_id ASC) AS rnk
       |  FROM adc a JOIN qn USING (q_id)
       |)
       |SELECT q_id, CAST(rnk AS INT) AS rank, x_id AS vec_id, adc_cos
       |FROM ranked WHERE rnk <= 5
       |ORDER BY q_id, rank""".stripMargin
}
