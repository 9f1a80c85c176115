package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.OracleSql._

/** Similarity-search operators over the `embeddings` table (SURVEY.md
  * §7.4): brute-force cosine top-k as the exactness baseline and a
  * sign-LSH bucketed variant as the 100 TB scale path.
  *
  * Scale design: the query vector is a one-row broadcast (O(1) driver
  * data, like the reference's polyfilled query polygon,
  * src/g_etl/h3_query.py:106-108); the LSH variant turns all-pairs
  * similarity into bucket equi-joins — the same trick the reference
  * plays turning ST_Intersects into an h3_cell equi-join
  * (docs/H3_POLYGON_ANALYSIS.md:301-321). Dot products fold
  * left-to-right over the array on both engines, so doubles compare
  * bit-stable against the oracle.
  */
object VectorQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Inputs.parquet(s, s"$dir/embeddings.parquet")

  /** In-order double fold of sum(a[i]*b[i]) — deterministic, unlike a
    * shuffled SUM over exploded rows. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  private def l2(a: Column): Column = sqrt(dot(a, a))

  /** 8-bit sign-LSH bucket over fixed dims — the banding trick: vectors
    * can only be near if they share a bucket. */
  private def signBucket(a: Column): Column =
    concat((1 to 57 by 8).map(i =>
      when(element_at(a, i) > 0f, "1").otherwise("0")): _*)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Symmetric per-dimension int8 scalar quantization
    // (ops/VectorOps.sqQuantize): the 4x memory/shuffle lever for a
    // 100 TB embedding corpus. Scales are one distributed max-abs
    // pass; quantization is a map-only zip_with of codegen'd
    // built-ins, spelled floor(x*127/s + 0.5) because that rounding
    // replays identically in any engine (Java rint is half-even, SQL
    // ROUND half-away). Every quantized vector hash-matched against
    // DuckDB's closed-form replay; the recall law (int8 top-10 vs
    // float brute force) is spec-pinned in DedupOpsSpec.
    "q164_sq_quantize" -> ((s, dir) => {
      val e = emb(s, dir)
      val scales = graft.ops.VectorOps.sqScales(e, "embedding")
      e.select(col("vec_id"),
          md5(concat_ws(",",
            transform(
              graft.ops.VectorOps.sqQuantize(col("embedding"), scales),
              _.cast("string"))).cast("binary")).as("q_md5"))
        .orderBy("vec_id")
    }),

    // L2 norms + dims — the sanity projection every vector pipeline runs.
    "q50_vector_norm" -> ((s, dir) => {
      emb(s, dir)
        .select(col("vec_id"), size(col("embedding")).cast("long").as("dim"),
          round(l2(col("embedding")), 6).as("l2_norm"))
        .orderBy("vec_id")
    }),

    // Brute-force cosine top-10 vs the vec_id=42 query vector. The query
    // side is a 1-row broadcast; the scan side is embarrassingly
    // parallel; TakeOrdered keeps the shuffle at k rows.
    "q51_knn_brute" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 42)
        .select(col("embedding").as("qe"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 42)
        .select(col("vec_id"),
          round(dot(col("embedding"), col("qe")) /
            (l2(col("embedding")) * l2(col("qe"))), 6).as("cos_sim"))
        .orderBy(desc("cos_sim"), asc("vec_id"))
        .limit(10)
    }),

    // Sign-LSH bucket histogram: 8 hyperplane-sign bits → 256 buckets.
    "q52_lsh_buckets" -> ((s, dir) => {
      emb(s, dir)
        .select(signBucket(col("embedding")).as("bucket"), col("label"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_vecs"),
          countDistinct(col("label")).as("n_labels"))
        .orderBy("bucket")
    }),

    // Bucketed ANN: candidates restricted to the query's LSH bucket, then
    // exact cosine within the bucket — bucket equi-join replaces the
    // all-pairs cross join (at 100 TB: shuffle on bucket, ~1/256 of data
    // per bucket, never N²).
    "q53_ann_bucketed" -> ((s, dir) => {
      val e = emb(s, dir).withColumn("bucket", signBucket(col("embedding")))
      val q = e.filter(col("vec_id") === 42)
        .select(col("bucket"), col("embedding").as("qe"))
      e.join(broadcast(q), Seq("bucket"))
        .filter(col("vec_id") =!= 42)
        .select(col("vec_id"), col("bucket"),
          round(dot(col("embedding"), col("qe")) /
            (l2(col("embedding")) * l2(col("qe"))), 6).as("cos_sim"))
        .orderBy(desc("cos_sim"), asc("vec_id"))
        .limit(5)
    }),

    // Embedding-cosine near-dup pairs: sign-LSH bucket SELF-join (the
    // dedup variant of q53 — both sides are the corpus), exact cosine
    // within the bucket, pairs above threshold. At 100 TB this shuffles
    // on bucket once; candidate work is sum over buckets of n_b², never
    // corpus N².
    "q55_embedding_neardup" -> ((s, dir) => {
      val e = emb(s, dir)
        .select(col("vec_id"), col("embedding"),
          signBucket(col("embedding")).as("bucket"))
      val a = e.as("a")
      val b = e.as("b")
      a.join(b, col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          round(dot(col("a.embedding"), col("b.embedding")) /
            (l2(col("a.embedding")) * l2(col("b.embedding"))), 6).as("cos_sim"))
        .filter(col("cos_sim") >= 0.4)
        .orderBy("id_a", "id_b")
    }),

    // Per-label cluster stats: exact decimal bridge for the norm sum so
    // the aggregation is order-independent.
    "q54_label_stats" -> ((s, dir) => {
      emb(s, dir)
        .withColumn("l2_norm", l2(col("embedding")))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(col("l2_norm").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 4).as("avg_norm"))
        .orderBy("label")
    }),

    // Signed random projection (ops/VectorOps.rpProject — Achlioptas
    // ±1 JL): 64 -> 16 dims through the md5-derived sign matrix, each
    // component an in-order fold — the data-independent embedding
    // compressor that needs NO training pass (vs sqQuantize's scales
    // and pqCodebooks' Lloyd). Pure map over a literal matrix; the
    // vec_id % 7 slice is output discipline (the op is map-only, the
    // projection replays bucket for bucket in DuckDB either way).
    "q207_random_projection" -> ((s, dir) => {
      graft.ops.VectorOps.rpProject(
          emb(s, dir).filter(col("vec_id") % 7 === 0),
          "vec_id", "embedding", outDims = 16)
        .select(col("vec_id"), posexplode(col("rp_vec")).as(Seq("__i", "__c")))
        .select(col("vec_id"), (col("__i") + 1).cast("int").as("dim"),
          round(col("__c"), 6).as("comp"))
        .orderBy("vec_id", "dim")
    }),

    // SRP-LSH near-dup candidates (ops/VectorOps.srpCandidates —
    // Charikar sign-LSH): 4 bands x 16 projection-sign bits, banded
    // bucket self-join, exact cosine refine — the THIRD embedding
    // near-dup family (IVF/SemDeDup cluster, SQ/PQ compress-then-
    // score, SRP hashes cosine geometry directly, training-free and
    // streaming-safe). Exact copies collide in EVERY band (P = 1 —
    // signs are scale-blind), so the planted-copy law is require'd
    // in-query: every vec_id % 19 clone must surface at cosine 1.0.
    // The whole chain — sign matrix, in-order folds, bit packing,
    // banding, refine — replays in DuckDB.
    "q208_srp_neardup" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") % 19 === 0)
      val corpus = e.unionByName(planted
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      val cands = graft.ops.VectorOps.srpCandidates(
        corpus, "vec_id", "embedding", tau = 0.6,
        bands = 4, bandBits = 16).persist()
      try {
        val nPlanted = planted.count()
        val found = cands.filter(col("id_b") - col("id_a") === 100000L &&
          col("id_a") % 19 === 0 && col("cos_sim") === 1.0).count()
        require(found == nPlanted,
          s"SRP all-bands copy law violated: $found of $nPlanted " +
            "planted copies surfaced at cosine 1.0")
        val sess = s
        import sess.implicits._
        cands.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
          .toDF("id_a", "id_b", "cos_sim")
          .orderBy("id_a", "id_b")
      } finally cands.unpersist(blocking = false)
    }),

    // MULTI-PROBE SRP (ops/VectorOps.srpMultiProbeCandidates — Lv et
    // al. VLDB'07): probe r flips the r-th lowest-|projection| bit,
    // buying back the 4x16 precision point's recall without more
    // bands (measured: tau-0.95 recall 0.84 -> 0.99 at probes=2 for
    // ~2.7x the base candidates, vs 8x8's 100x). Fixture plants
    // noised copies whose signatures MAY drift a bit; two laws
    // require'd in-query: superset of the unprobed candidates, and a
    // strict gain on the noised mass. The full chain — projections,
    // margins, flip ranks, probe join, refine — replays in DuckDB.
    "q221_srp_multiprobe" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val noised = e.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 200000L).as("vec_id"),
          zip_with(col("embedding"),
            concat(slice(col("embedding"), 2, 63),
              slice(col("embedding"), 1, 1)),
            (a, b) => a + lit(0.35) * b).as("embedding"))
      val corpus = e.unionByName(noised)
      // ONE shared banding stage for both operators (r19 VERDICT Next
      // #5): srpCandidates and srpMultiProbeCandidates here run over
      // the same corpus at the same (bands, bandBits, maxBucket), so
      // the staged (band, bucket) table — the banding projection (64
      // sign dots per row) plus its repartition — is built once and
      // passed to both, instead of each op staging its own copy.
      val banded = graft.ops.VectorOps.srpStagedBands(
        corpus, "vec_id", "embedding", bands = 4, bandBits = 16)
      val withP = graft.ops.VectorOps.srpMultiProbeCandidatesStaged(
        banded, corpus, "vec_id", "embedding", tau = 0.8,
        bands = 4, bandBits = 16, probes = 2).persist()
      val base = graft.ops.VectorOps.srpCandidatesStaged(
        banded, corpus, "vec_id", "embedding", tau = 0.8).persist()
      try {
        // (id_a, id_b) is unique per side: both ops end in a
        // pair-distinct + refine
        val d0 = Pins.keyed(base, withP, Seq("id_a", "id_b")).diff
        val (lost, gained) = (d0.onlyLeft, d0.onlyRight)
        require(lost == 0L,
          s"multi-probe LOST $lost base candidate pairs — probe 0 " +
            "must reproduce the base banding")
        require(gained > 0L,
          "probing found nothing the base banding missed — the " +
            "noised fixture has no drifted-signature mass")
        val sess = s
        import sess.implicits._
        withP.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
          .toDF("id_a", "id_b", "cos_sim")
          .orderBy("id_a", "id_b")
      } finally {
        withP.unpersist(blocking = false)
        base.unpersist(blocking = false)
      }
    }),

    // STREAMING SRP bucketing (ops/VectorOps.srpBandBuckets): the
    // q208 band assignment as a stateless per-row expression — an
    // ingest stream buckets new embeddings for near-dup lookup with
    // no state, no watermark, no shuffle (the sign matrix is a
    // literal). Three id-ordered micro-batches on the vec_id % 3 = 1
    // stratum (the q193 treatment — per-row statelessness makes
    // stream == batch on any subset by construction; the stream leg
    // exercises the plumbing); output require'd == the batch srpBands
    // both directions; oracle replays the FULL corpus's bands.
    "q214_streaming_srp" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val streamVecs = e.filter(col("vec_id") % 3 === 1)
      // q214/q227 stream the IDENTICAL slice: one shared fixture
      // (Memos-owned lifecycle) instead of a corpus copy per execution
      val src = StreamFixtures.sharedMicroBatches(streamVecs, "vec_id",
        s"vector:streamfx13:$dir",
        Set("q214_streaming_srp", "q227_streaming_multiprobe"))
      locally {
        val stream = s.readStream.schema(streamVecs.schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
        val q = stream.filter(col("embedding").isNotNull)
          .select(col("vec_id"), posexplode(
            graft.ops.VectorOps.srpBandBuckets(col("embedding"), dims = 64))
            .as(Seq("band", "bucket")))
          .writeStream.outputMode("append")
          .format("memory").queryName("q214out").start()
        try q.processAllAvailable() finally q.stop()
        val streamed = s.table("q214out")
        val batch = graft.ops.VectorOps.srpBands(e, "vec_id", "embedding")
        val batchStrat = batch.filter(col("vec_id") % 3 === 1)
        require(Pins.multiset(streamed, batchStrat).diff.total == 0L,
          "streaming SRP bucketing diverged from the batch operator " +
            "on the vec stratum")
        batch.orderBy("vec_id", "band")
      }
    }),

    // STREAMING multi-probe bucketing (ops/VectorOps.srpProjections +
    // srpProbeStructs): q221's probe table as two stateless per-row
    // expressions — an ingest stream probes a stored SRP index with
    // the SAME recall boost the batch side measured (probe r flips
    // the r-th lowest-|projection| bit), still with no state, no
    // watermark, no shuffle. Three id-ordered micro-batches on the
    // vec_id % 3 = 1 stratum (the q214 treatment); stream require'd
    // == the batch srpProbeBands both directions; the oracle replays
    // the full probe table — projections, flip ranks, XORs — in
    // DuckDB.
    "q227_streaming_multiprobe" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val streamVecs = e.filter(col("vec_id") % 3 === 1)
      // shared with q214 — see sharedMicroBatches
      val src = StreamFixtures.sharedMicroBatches(streamVecs, "vec_id",
        s"vector:streamfx13:$dir",
        Set("q214_streaming_srp", "q227_streaming_multiprobe"))
      locally {
        val stream = s.readStream.schema(streamVecs.schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
        val q = stream.filter(col("embedding").isNotNull)
          .select(col("vec_id"), graft.ops.VectorOps.srpProjections(
            col("embedding"), dims = 64, bands = 4, bandBits = 16)
            .as("__pj"))
          .select(col("vec_id"), explode(graft.ops.VectorOps
            .srpProbeStructs(col("__pj"), bands = 4, bandBits = 16,
              probes = 2)).as("__e"))
          .select(col("vec_id"), col("__e.band").as("band"),
            col("__e.probe").as("probe"), col("__e.bucket").as("bucket"))
          .writeStream.outputMode("append")
          .format("memory").queryName("q227out").start()
        try q.processAllAvailable() finally q.stop()
        val streamed = s.table("q227out")
        val batch = graft.ops.VectorOps.srpProbeBands(
          e, "vec_id", "embedding", bands = 4, bandBits = 16, probes = 2)
        val batchStrat = batch.filter(col("vec_id") % 3 === 1)
        // (vec_id, band, probe) is a unique key of the probe table
        val diff = Pins.keyed(streamed, batchStrat,
          Seq("vec_id", "band", "probe"), Seq("bucket")).diff.total
        require(diff == 0L,
          s"streaming multi-probe bucketing diverged from the batch " +
            s"probe table on $diff stratum rows")
        batch.orderBy("vec_id", "band", "probe")
      }
    })
  )

  private val sqlBucket = (1 to 57 by 8).map(i =>
    s"CASE WHEN embedding[$i] > 0 THEN '1' ELSE '0' END").mkString(" || ")

  /** `sgn(i, s)` body: the first `n` rows of the SRP sign matrix over
    * 64 dims, +1 where md5('rp#i#j') starts with an even hex digit. */
  private def srpSignsSql(n: Int): String =
    s"""SELECT i, list(CASE WHEN substring(md5('rp#' || i || '#' || j), 1, 1)
       |      IN ('0','2','4','6','8','a','c','e') THEN 1.0 ELSE -1.0 END
       |    ORDER BY j) AS s
       |  FROM range($n) t1(i), range(64) t2(j) GROUP BY i""".stripMargin

  /** One projection: the in-order fold of sign row `s` against `elem`
    * (the j-th component). */
  private def srpDotSql(elem: String): String =
    s"""list_sum(list_transform(range(1, 65), j ->
       |      s[CAST(j AS INT)] * $elem))""".stripMargin

  /** The j-th component of `embedding` as a DOUBLE. */
  private val castElem = "CAST(embedding[CAST(j AS INT)] AS DOUBLE)"

  /** `proj(vec_id, i, p)` body over `src`. */
  private def srpProjSql(src: String, elem: String): String =
    s"""SELECT vec_id, i,
       |    ${srpDotSql(elem)} AS p
       |  FROM $src, sgn WHERE embedding IS NOT NULL""".stripMargin

  /** `proj` packed into 16-bit little-endian band buckets. */
  private val srpBandsSql =
    """SELECT vec_id, CAST(i // 16 AS INTEGER) AS band,
      |    CAST(SUM(CASE WHEN p > 0 THEN 1 << CAST(i % 16 AS INTEGER) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM proj GROUP BY 1, 2""".stripMargin

  /** Multi-probe flip ranks: (|p| asc, bit asc) per (vec, band). */
  private val srpFlipsSql =
    """SELECT vec_id, CAST(i // 16 AS INTEGER) AS band,
      |    CAST(i % 16 AS INTEGER) AS bit_i,
      |    row_number() OVER (PARTITION BY vec_id, i // 16
      |                       ORDER BY ABS(p), i % 16) AS rnk
      |  FROM proj""".stripMargin

  /** Exact cosine refine of the candidate `pairs` over `corpus` (NULLIF
    * = the CosineSim zero-norm NULL contract). */
  private def srpRefineSql(threshold: Double): String =
    s"""cand AS (
       |  SELECT id_a, id_b,
       |    ROUND(${sqlDot("ea.embedding", "eb.embedding")} /
       |      NULLIF(${sqlL2("ea.embedding")} * ${sqlL2("eb.embedding")}, 0), 6) AS cos_sim
       |  FROM pairs
       |  JOIN corpus ea ON ea.vec_id = pairs.id_a
       |  JOIN corpus eb ON eb.vec_id = pairs.id_b)
       |SELECT id_a, id_b, cos_sim FROM cand
       |WHERE cos_sim >= $threshold ORDER BY id_a, id_b""".stripMargin

  val oracle: Map[String, String] = Map(
    // Same max-abs scales, same floor(+0.5) rounding, same clamp —
    // the whole codebook replayed in SQL (1-based list indexing on
    // the fixed 64-dim corpus).
    "q164_sq_quantize" ->
      """WITH sc AS (
        |  SELECT i, GREATEST(MAX(ABS(CAST(embedding[CAST(i AS INT)] AS DOUBLE))), 1e-30) AS m
        |  FROM embeddings, range(1, 65) t(i) GROUP BY i
        |), scl AS (
        |  SELECT list(m ORDER BY i) AS ms FROM sc
        |)
        |SELECT vec_id,
        |  md5(array_to_string(list_transform(range(1, 65), i ->
        |    CAST(GREATEST(-127, LEAST(127,
        |      FLOOR(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 127.0
        |            / ms[CAST(i AS INT)] + 0.5))) AS INT)), ',')) AS q_md5
        |FROM embeddings, scl
        |ORDER BY vec_id""".stripMargin,
    "q50_vector_norm" ->
      s"""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
         |  ROUND(${sqlL2("embedding")}, 6) AS l2_norm
         |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q51_knn_brute" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 42)
         |SELECT e.vec_id,
         |  ${sqlCos("e.embedding", "q.qe")} AS cos_sim
         |FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 42
         |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin,
    "q52_lsh_buckets" ->
      s"""SELECT $sqlBucket AS bucket, COUNT(*) AS n_vecs,
         |  COUNT(DISTINCT label) AS n_labels
         |FROM embeddings GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q53_ann_bucketed" ->
      s"""WITH b AS (SELECT vec_id, label, embedding, $sqlBucket AS bucket FROM embeddings),
         |q AS (SELECT bucket, embedding AS qe FROM b WHERE vec_id = 42)
         |SELECT e.vec_id, e.bucket,
         |  ${sqlCos("e.embedding", "q.qe")} AS cos_sim
         |FROM b e JOIN q ON e.bucket = q.bucket WHERE e.vec_id <> 42
         |ORDER BY cos_sim DESC, vec_id ASC LIMIT 5""".stripMargin,
    "q55_embedding_neardup" ->
      s"""WITH b AS (SELECT vec_id, embedding, $sqlBucket AS bucket FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${sqlCos("a.embedding", "b.embedding")} AS cos_sim
         |FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE ${sqlCos("a.embedding", "b.embedding")} >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,
    "q54_label_stats" ->
      s"""SELECT label, COUNT(*) AS n_vecs,
         |  ROUND(CAST(SUM(CAST(${sqlL2("embedding")} AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS avg_norm
         |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,
    // The sign matrix replayed from the same md5 parity (even first
    // hex digit -> +1), each component the same in-order list fold.
    "q207_random_projection" ->
      s"""WITH sgn AS (
         |  ${srpSignsSql(16)})
         |SELECT e.vec_id, CAST(i + 1 AS INTEGER) AS dim,
         |  ROUND(${srpDotSql(castElem)}, 6) AS comp
         |FROM embeddings e, sgn
         |WHERE vec_id % 7 = 0 AND embedding IS NOT NULL
         |ORDER BY vec_id, dim""".stripMargin,
    // Full SRP-LSH chain: planted copies, 64 projections, strictly-
    // positive sign bits packed little-endian per 16-bit band, banded
    // self-join, exact cosine refine.
    "q208_srp_neardup" ->
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 19 = 0
         |), sgn AS (
         |  ${srpSignsSql(64)}
         |), proj AS (
         |  ${srpProjSql("corpus", castElem)}
         |), bands AS (
         |  $srpBandsSql
         |), pairs AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |), ${srpRefineSql(0.6)}""".stripMargin,
    // The q208 chain + margins: flip rank r = r-th smallest (|p|,
    // bit) per (vec, band); probes are xor(bucket, 1 << bit); the
    // probe side joins the base side, pairs normalize via
    // LEAST/GREATEST. Noised fixture in exact double arithmetic.
    "q221_srp_multiprobe" ->
      s"""WITH corpus AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
         |  FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 200000,
         |    list_transform(range(1, 65), j ->
         |      CAST(embedding[CAST(j AS INT)] AS DOUBLE) +
         |      CAST(0.35 AS DOUBLE) *
         |        CAST(embedding[CAST(j % 64 + 1 AS INT)] AS DOUBLE))
         |  FROM embeddings WHERE vec_id % 7 = 0
         |), sgn AS (
         |  ${srpSignsSql(64)}
         |), proj AS (
         |  ${srpProjSql("corpus", "embedding[CAST(j AS INT)]")}
         |), bands AS (
         |  $srpBandsSql
         |), flips AS (
         |  $srpFlipsSql
         |), probes AS (
         |  SELECT vec_id, band, bucket FROM bands
         |  UNION ALL
         |  SELECT f.vec_id, f.band,
         |    CAST(xor(b.bucket, CAST(1 AS BIGINT) << f.bit_i) AS BIGINT)
         |  FROM flips f JOIN bands b
         |    ON b.vec_id = f.vec_id AND b.band = f.band
         |  WHERE f.rnk <= 2
         |), pairs AS (
         |  SELECT DISTINCT LEAST(p.vec_id, b.vec_id) AS id_a,
         |    GREATEST(p.vec_id, b.vec_id) AS id_b
         |  FROM probes p JOIN bands b
         |    ON p.band = b.band AND p.bucket = b.bucket
         |      AND p.vec_id <> b.vec_id
         |), ${srpRefineSql(0.8)}""".stripMargin,
    // The full multi-probe table replayed: projections, little-endian
    // base buckets (q208's), (|proj| asc, bit asc) flip ranks, XOR
    // probes.
    "q227_streaming_multiprobe" ->
      s"""WITH sgn AS (
         |  ${srpSignsSql(64)}
         |), proj AS (
         |  ${srpProjSql("embeddings", castElem)}
         |), bands AS (
         |  $srpBandsSql
         |), flips AS (
         |  $srpFlipsSql)
         |SELECT vec_id, band, CAST(0 AS INTEGER) AS probe, bucket FROM bands
         |UNION ALL
         |SELECT f.vec_id, f.band, CAST(f.rnk AS INTEGER) AS probe,
         |  CAST(xor(b.bucket, CAST(1 AS BIGINT) << f.bit_i) AS BIGINT)
         |    AS bucket
         |FROM flips f JOIN bands b
         |  ON b.vec_id = f.vec_id AND b.band = f.band
         |WHERE f.rnk <= 2
         |ORDER BY vec_id, band, probe""".stripMargin,
    "q214_streaming_srp" ->
      s"""WITH sgn AS (
         |  ${srpSignsSql(64)}
         |), proj AS (
         |  ${srpProjSql("embeddings", castElem)})
         |$srpBandsSql
         |ORDER BY vec_id, band""".stripMargin
  )
}
