package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

class DedupOpsSpec extends SparkSuite {

  /** Labeled near-dup fixture: 20 base documents; each gets an exact
    * copy (id+1000) and a lightly perturbed copy (id+2000); unrelated
    * docs share no vocabulary. */
  private lazy val fixture = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = (0 until 20).map { i =>
      val words = (0 until 60).map(_ => s"w${i}_${rnd.nextInt(40)}")
      (i.toLong, words.mkString(" "))
    }
    val exact = base.map { case (id, t) => (id + 1000, t) }
    val near = base.map { case (id, t) =>
      val toks = t.split(" ").toVector
      val mutated = toks.updated(5, "XX").updated(25, "YY").updated(45, "ZZ")
      (id + 2000, mutated.mkString(" "))
    }
    (base ++ exact ++ near).toDF("doc_id", "text")
  }

  test("minhash LSH finds every exact and near duplicate (recall = 1)") {
    val cands = TextDedup.minHashCandidates(fixture, "doc_id", "text")
      .filter(col("est_jaccard") >= 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    (0 until 20).foreach { i =>
      assert(cands.contains((i.toLong, i + 1000L)), s"missed exact dup of $i")
      assert(cands.contains((i.toLong, i + 2000L)), s"missed near dup of $i")
    }
  }

  test("minhash LSH emits no high-estimate false positives") {
    val fp = TextDedup.minHashCandidates(fixture, "doc_id", "text")
      .filter(col("est_jaccard") >= 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (b % 1000) != (a % 1000) }
    assert(fp.isEmpty, s"false positives: ${fp.toSeq}")
  }

  test("estimated jaccard tracks exact jaccard on candidates") {
    val cands = TextDedup.minHashCandidates(fixture, "doc_id", "text")
    val refined = TextDedup.jaccardRefine(cands, fixture, "doc_id", "text",
      threshold = 0.0)
    refined.collect().foreach { r =>
      val est = r.getAs[Double]("est_jaccard")
      val exact = r.getAs[Double]("jaccard")
      assert(math.abs(est - exact) < 0.25,
        s"estimate $est far from exact $exact for ${r.getLong(0)}/${r.getLong(1)}")
    }
    // exact dups refine to jaccard 1.0
    val exactPairs = refined
      .filter(col("id_a") < 1000 && col("id_b") === col("id_a") + 1000)
      .collect()
    assert(exactPairs.nonEmpty)
    exactPairs.foreach(r => assert(r.getAs[Double]("jaccard") == 1.0))
  }

  test("simhash: identical texts share hash, near-dups within small hamming") {
    val pairs = TextDedup.simHashCandidates(fixture, "doc_id", "text",
      maxHamming = 16).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Long]("hamming"))).toMap
    (0 until 20).foreach { i =>
      assert(pairs.get((i.toLong, i + 1000L)).contains(0L), s"exact dup $i hamming != 0")
      pairs.get((i.toLong, i + 2000L)).foreach(h => assert(h <= 16))
    }
  }

  test("sqQuantize: null elements stay null; out-of-range saturates like the driver-side clamp") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val scales = Array(1.0, 1.0, 1e-30)
    val df = Seq(Tuple1(Seq[java.lang.Float](0.5f, null, 0.5f)))
      .toDF("v")
    val q = df.select(VectorOps.sqQuantize(col("v"), scales).as("q"))
      .head().getSeq[Any](0)
    // greatest/least SKIP nulls — an unguarded clamp fabricates 127
    assert(q(0) == 64 && q(1) == null,
      s"null element must stay null, got $q")
    // stale tiny scale + real value: floor saturates then an int cast
    // would WRAP to -1; the clamp must run before the cast and yield
    // +127, matching sqKnn's driver-side quantization of the same value
    assert(q(2) == 127, s"expected saturation to 127, got ${q(2)}")
  }

  test("assignToCentroids refuses an empty centroid table loudly") {
    import spark.implicits._
    val emb = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val empty = Seq.empty[(Long, Seq[Double])].toDF("__c_id", "__c_vec")
    val e = intercept[IllegalArgumentException] {
      VectorOps.assignToCentroids(emb, "vec_id", "embedding", empty)
    }
    assert(e.getMessage.contains("EMPTY centroid"), e.getMessage)
  }

  test("int8 scalar quantization: recall@10 >= 0.8 vs float brute force, bounded error") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val scales = VectorOps.sqScales(emb, "embedding")
    assert(scales.length == 64 && scales.forall(_ > 0))
    val quantized = emb.select(col("vec_id"),
      VectorOps.sqQuantize(col("embedding"), scales).as("q")).persist()
    // per-element dequantization error is bounded by half a step
    val deq = quantized.select(col("vec_id"),
      org.apache.spark.sql.functions.zip_with(col("q"),
        org.apache.spark.sql.functions.typedLit(scales.toSeq),
        (v, s) => v.cast("double") * s / 127.0).as("d"))
      .join(emb, "vec_id")
      .collect()
    deq.foreach { r =>
      val d = r.getAs[scala.collection.Seq[Double]]("d")
      val x = r.getAs[scala.collection.Seq[Float]]("embedding")
      d.indices.foreach { i =>
        assert(math.abs(d(i) - x(i)) <= scales(i) / 127.0 * 0.5 + 1e-12)
      }
    }
    // recall law vs the float brute-force baseline
    val query = emb.filter(col("vec_id") === 7)
      .select("embedding").head().getSeq[Float](0).toArray
    val exact = VectorOps.knnBrute(emb.filter(col("vec_id") =!= 7),
        "vec_id", "embedding", query, 10)
      .collect().map(_.getLong(0)).toSet
    val viaInt8 = VectorOps.sqKnn(quantized.filter(col("vec_id") =!= 7),
        "vec_id", "q", scales, query, 10)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(viaInt8).size / 10.0
    assert(recall >= 0.8, s"int8 recall@10 = $recall")
    quantized.unpersist()
  }

  test("IVF search recall@10 >= 0.8 vs brute force on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val query = emb.filter(col("vec_id") === 42)
      .select("embedding").head().getSeq[Float](0).toArray
    val brute = VectorOps.knnBrute(emb.filter(col("vec_id") =!= 42),
      "vec_id", "embedding", query, 10)
      .collect().map(_.getLong(0)).toSet
    val (assigned, centroids) = VectorOps.ivfBuild(emb, "vec_id", "embedding", nlist = 8)
    val ivf = VectorOps.ivfSearch(
      assigned.filter(col("vec_id") =!= 42), centroids,
      "vec_id", "embedding", query, 10, nprobe = 5)
      .collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"IVF recall@10 = $recall (brute=$brute ivf=$ivf)")
  }

  test("multimodal enrich: meta/features/frames have the contract shapes") {
    import spark.implicits._
    val df = Seq((1L, "hello world, this is a binary payload stand-in"))
      .toDF("id", "txt")
      .withColumn("payload", col("txt").cast("binary"))
    val out = Multimodal.enrich(df, "payload", "application/octet-stream").head()
    val meta = out.getAs[org.apache.spark.sql.Row]("meta")
    assert(meta.getAs[String]("mime") == "application/octet-stream")
    assert(meta.getAs[Long]("n_bytes") == 46L)
    assert(meta.getAs[String]("checksum").length == 32)
    val feats = out.getAs[scala.collection.Seq[Double]]("features")
    assert(feats.length == 8)
    assert(feats.forall(f => f >= 0.0 && f <= 1.0))
    val frames = out.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("frames")
    assert(frames.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 1, 2, 3))
    assert(frames.map(_.getAs[String]("frame_digest")).distinct.size == 4)
  }

  test("shingles/jaccard building blocks behave") {
    import spark.implicits._
    val d = Seq(("a b c d e", "a b c d e"), ("a b c d e", "a b c x e"))
      .toDF("t1", "t2")
    val r = d.select(
      TextDedup.jaccard(
        TextDedup.shinglesOf(TextDedup.tokensOf(col("t1")), 3),
        TextDedup.shinglesOf(TextDedup.tokensOf(col("t2")), 3)).as("j"))
      .collect().map(_.getDouble(0))
    assert(r(0) == 1.0)
    assert(r(1) > 0.0 && r(1) < 0.5)
    // short text fallback: fewer tokens than n -> single shingle
    val short = Seq("one two").toDF("t")
      .select(TextDedup.shinglesOf(TextDedup.tokensOf(col("t")), 3).as("s"))
      .head().getAs[scala.collection.Seq[String]]("s")
    assert(short.toSeq == Seq("one two"))
  }

  private def edgesDf(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    pairs.toDF("id_a", "id_b")
  }

  private def componentsOf(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val cc = TextDedup.connectedComponents(edgesDf(pairs))
    val out = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cc.unpersist()
    out
  }

  /** Brute-force union-find reference. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("connected components: multi-hop chain collapses to min id") {
    // 1-2-3-4-5 plus 10-11; diameter 4 forces several propagation rounds
    val got = componentsOf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("connected components match brute-force union-find on a random graph") {
    val rnd = new scala.util.Random(13)
    val pairs = (0 until 120).map { _ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)
    }.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    assert(componentsOf(pairs) == unionFind(pairs))
  }

  test("repeated passages: content-defined chunking matches blocks at ANY offset") {
    import spark.implicits._
    val block = "shared boilerplate license block alpha beta gamma delta " +
      "epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma"
    // the same block sits at a different token offset in every doc;
    // filler vocabularies are disjoint so only the block can repeat
    val docs = Seq(
      (1L, s"$block and unique tail one two three"),
      (2L, s"prefix p1 p2 p3 p4 p5 $block trailing t1 t2"),
      (3L, s"longer prefix q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 $block"))
      .toDF("doc_id", "text")
    val rep = TextDedup.repeatedPassages(docs, "doc_id", "text",
      minTokens = 4, minDocs = 3).collect()
    assert(rep.nonEmpty,
      "no passage matched across offsets — chunking is position-dependent")
    // every reported passage is in all 3 docs (fillers are disjoint)
    rep.foreach(r => assert(r.getAs[Long]("n_docs") == 3))
    // and a position-DEFINED control (fixed 8-token windows from doc
    // start) finds nothing across these offsets — the reason CDC exists
    val fixedWindows = graft.ops.TrainingOps.chunkTokens(
        docs, "doc_id", "text", chunkSize = 8, stride = 8)
      .groupBy("chunk_md5")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") === 3)
    assert(fixedWindows.isEmpty)
  }

  test("incremental shingle state equals full recompute across df-validity flips") {
    import spark.implicits._
    // Adversarial fixture aimed at the df-boundary cases a naive
    // delta-only recompute gets wrong:
    //  - group A (docs 1-8) shares a sentence with df=8 (valid); the NEW
    //    snapshot adds doc 100 carrying the same sentence -> df=9 flips
    //    INVALID, so every A-pair must disappear even though no A doc
    //    changed;
    //  - group B (docs 11-19) shares a sentence with df=9 (invalid); the
    //    new snapshot removes doc 19 -> df=8 flips VALID, so B-pairs
    //    must appear among untouched docs 11-18.
    val sa = "alpha beta gamma delta epsilon zeta"
    val sb = "eta theta iota kappa lambda mu"
    val groupA = (1L to 8L).map(i => (i, s"$sa fa${i}1 fa${i}2 fa${i}3 fa${i}4 fa${i}5"))
    val groupB = (11L to 19L).map(i => (i, s"$sb fb${i}1 fb${i}2 fb${i}3 fb${i}4 fb${i}5"))
    val loners = Seq(
      (30L, "solo thirty text with unique words entirely present"),
      (40L, "solo forty text other unique words entirely present"))
    val oldCorpus = (groupA ++ groupB ++ loners).toDF("doc_id", "text")
    val newDocs = (groupA ++ groupB.filterNot(_._1 == 19L) ++ Seq(
      (30L, "solo thirty text now rewritten completely differently here"),
      (100L, s"$sa fx1 fx2 fx3 fx4 fx5"),
      (50L, "fresh fifty text with its own unique words here")))
      .toDF("doc_id", "text")

    val st0 = TextDedup.shingleState(oldCorpus, "doc_id", "text",
      shingleN = 5, maxDf = 8, minShared = 1)
    val removed = Seq(19L, 30L, 40L).toDF("doc_id") // removed + changed-old
    val added = newDocs.filter(col("doc_id").isin(30L, 100L, 50L))
    val inc = TextDedup.incrementalShingleState(st0, removed, added,
      "doc_id", "text", shingleN = 5, maxDf = 8, minShared = 1)
    val full = TextDedup.shingleState(newDocs, "doc_id", "text",
      shingleN = 5, maxDf = 8, minShared = 1)

    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def gramSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def dfSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val fullPairs = pairSet(full.pairs)
    assert(pairSet(inc.pairs) == fullPairs)
    // the carried state for the NEXT delta run must also equal full
    assert(gramSet(inc.grams) == gramSet(full.grams))
    assert(dfSet(inc.df) == dfSet(full.df))
    // and the flips genuinely happened (the fixture isn't vacuous)
    assert(!fullPairs.exists { case (_, b, _) => b <= 8 },
      "A-pairs should vanish when their shared gram exceeds maxDf")
    assert(fullPairs.exists { case (a, b, _) => a >= 11 && b <= 18 },
      "B-pairs should appear when their shared gram drops to maxDf")
    assert(pairSet(st0.pairs).exists { case (_, b, _) => b <= 8 })
    assert(!pairSet(st0.pairs).exists { case (a, _, _) => a >= 11 })
  }

  test("rare-shingle candidates find seeded near-dups, resist boilerplate") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    // every doc shares a boilerplate sentence (df = n_docs > maxDf);
    // docs 0/1 and 2/3 are near-identical beyond it; 4..23 are unique
    val boiler = "all rights reserved contact us for more information today"
    def uniq(i: Int) = (0 until 40).map(_ => s"u${i}_${rnd.nextInt(30)}").mkString(" ")
    val pairText = uniq(100)
    val pairText2 = uniq(200)
    val docs = Seq(
      (0L, s"$boiler $pairText"), (1L, s"$boiler $pairText extra"),
      (2L, s"$boiler $pairText2"), (3L, s"$boiler $pairText2 tail")) ++
      (4 until 24).map(i => (i.toLong, s"$boiler ${uniq(i)}"))
    val edges = TextDedup.rareShingleCandidates(docs.toDF("doc_id", "text"),
        "doc_id", "text", shingleN = 5, maxDf = 8, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges.contains((0L, 1L)), "missed seeded near-dup 0-1")
    assert(edges.contains((2L, 3L)), "missed seeded near-dup 2-3")
    // boilerplate alone (shared by all 24 docs, df over the cap) must
    // not connect unrelated docs
    val cross = edges.filter { case (a, b) => !(a < 4 && b < 4) }
    assert(cross.isEmpty, s"boilerplate-only edges leaked: $cross")
  }

  test("crossMinHashContamination: exact copy scores 1.0, perturbed copy flags, clean doc NULL, ties break by ref id") {
    import spark.implicits._
    val benchText = "the cat sat on the mat while the dog ran around the yard chasing birds all afternoon long"
    val bench = Seq(
      (100L, benchText),
      (101L, benchText), // duplicate benchmark entry: tie-break target
      (102L, "completely unrelated benchmark question about quantum flux capacitors and temporal mechanics today")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, benchText),                       // verbatim leak
      (2L, benchText + " zz99"),             // perturbed leak
      (3L, "independent training document discussing cooking recipes and garden maintenance through seasons")
    ).toDF("doc_id", "text")
    val got = TextDedup.crossMinHashContamination(
        corpus, "doc_id", "text", bench, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getLong(2), r.getDouble(3)))
    // verbatim: all 16 minima agree; tie between refs 100/101 breaks low
    assert(got(0) == ((1L, Some(100L), 16L, 1.0)))
    // perturbed: still banded, most minima shared
    assert(got(1)._2.contains(100L) && got(1)._3 >= 8L)
    // clean: no band collision -> NULL ref, zero agreement
    assert(got(2) == ((3L, None, 0L, 0.0)))
  }

  test("minHashCandidates: null-text docs neither pair up nor blow up; k % bands guarded") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq[(Long, String)](
      (1L, base), (2L, base + " tail"),
      (3L, null), (4L, null), (5L, null)
    ).toDF("doc_id", "text")
    // Spark's hash() skips null inputs, so unfiltered null signatures
    // would all share one bucket per band — docs 3/4/5 must simply
    // vanish from the candidate set instead
    val pairs = TextDedup.minHashCandidates(docs, "doc_id", "text")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "real near-dup pair missed")
    assert(pairs.forall { case (a, b) => a <= 2 && b <= 2 },
      s"null-text docs produced candidate pairs: $pairs")
    val e = intercept[IllegalArgumentException] {
      TextDedup.minHashCandidates(docs, "doc_id", "text", k = 60,
        bands = 16)
    }
    assert(e.getMessage.contains("multiple of bands"), e.getMessage)
    // zero bands is a named argument error, not `/ by zero`; a zero
    // cap is refused, not a silently empty candidate set
    for ((bands, maxBucket, param) <- Seq((0, Int.MaxValue, "bands"),
        (16, 0, "maxBucket"))) {
      val e = intercept[IllegalArgumentException] {
        TextDedup.minHashCandidates(docs, "doc_id", "text", bands = bands,
          maxBucket = maxBucket)
      }
      assert(e.getMessage.contains(s"$param must be >= 1"), e.getMessage)
    }
  }

  test("minhash_shingle_signature: null token elements follow concat_ws skip-null parity") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq("alpha", null, "beta", "gamma", "delta")))
      .toDF("toks")
    val fused = df.select(TextDedup.minhash_shingle_signature(
      col("toks"), 3, 16).as("s")).head.getSeq[Long](0)
    val composed = df.select(TextDedup.minhash_signature(
      TextDedup.shinglesOf(col("toks"), 3), 16).as("s")).head.getSeq[Long](0)
    assert(fused == composed,
      "fused shingle signature diverged from the composed path on a " +
        "null token element")
  }

  test("contaminationProbe refuses a non-long reference id, loudly") {
    import spark.implicits._
    val ref = Seq(("mmlu-1", "some benchmark question text here today"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextDedup.contaminationProbe(ref, "doc_id", "text")
    }
    assert(e.getMessage.contains("LONG"), e.getMessage)
  }

  test("connectedComponents frees superseded round checkpoints eagerly") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.size
    // a 40-vertex path graph forces many label-propagation rounds —
    // each round's localCheckpoint blocks must be freed as soon as
    // the next supersedes it (Dataset.unpersist cannot do this; the
    // release goes through the LogicalRDD)
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = TextDedup.connectedComponents(edges)
    assert(cc.select(countDistinct(col("component"))).head.getLong(0) == 1L)
    val after = spark.sparkContext.getPersistentRDDs.size
    // only the RETURNED frame's own checkpoint may remain
    assert(after <= before + 1,
      s"superseded checkpoint blocks leaked: $before -> $after persistent RDDs")
  }

  // the per-row lemma q193's stream-stratum trim rests on: the probe
  // expression IS the batch operator row for row (stateless, no
  // cross-corpus-row term), so stream == batch holds on any corpus
  // subset once the micro-batch plumbing itself is exercised
  test("contaminationProbe == crossMinHashContamination row for row") {
    import spark.implicits._
    val benchText = "the cat sat on the mat while the dog ran around the yard chasing birds all afternoon long"
    val bench = Seq(
      (100L, benchText),
      (101L, benchText),
      (102L, "completely unrelated benchmark question about quantum flux capacitors and temporal mechanics today")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, benchText),                          // verbatim leak
      (2L, benchText + " zz99"),                // perturbed leak
      (3L, "independent training document discussing cooking recipes and garden maintenance through seasons"),
      (4L, "the cat sat on the mat while the dog ran around"), // partial
      (5L, "temporal mechanics today are completely unrelated benchmark question about quantum flux capacitors")
    ).toDF("doc_id", "text")
    val probe = TextDedup.contaminationProbe(bench, "doc_id", "text",
      shingleN = 3, k = 16, bands = 4)
    val viaProbe = corpus
      .select(col("doc_id"), probe(col("text")).as("bm"))
      .select(col("doc_id"), col("bm.ref_id").as("ref_id"),
        coalesce(col("bm.n_equal"), lit(0L)).as("n_equal"))
      .withColumn("est_jaccard", round(col("n_equal") / 16.0, 6))
    val batch = TextDedup.crossMinHashContamination(corpus, "doc_id",
      "text", bench, "doc_id", "text", shingleN = 3, k = 16, bands = 4)
    assert(viaProbe.exceptAll(batch).isEmpty &&
      batch.exceptAll(viaProbe).isEmpty,
      "probe expression diverged from the batch operator")
  }

  test("contaminationProbe refuses a reference past maxRefDocs, loudly") {
    import spark.implicits._
    val ref = (1L to 10L).map(i => (i, s"benchmark item number $i text"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextDedup.contaminationProbe(ref, "doc_id", "text", maxRefDocs = 5L)
    }
    assert(e.getMessage.contains("crossMinHashContamination"),
      s"guard message must point to the large-reference path: ${e.getMessage}")
    // at/under the cap it constructs fine
    TextDedup.contaminationProbe(ref, "doc_id", "text", maxRefDocs = 10L)
  }

  test("Materialize.stage modes: persist and checkpoint give the same result as the default localCheckpoint") {
    import spark.implicits._
    val docs = ((1L to 20L).map(i => (i, s"some document body ${i % 7} with shared tokens across docs")) :+
      (21L, "some document body 1 with shared tokens across docs"))
      .toDF("doc_id", "text")
    def run(): Set[(Long, Long)] =
      TextDedup.minHashCandidatesMd5(docs, "doc_id", "text")
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = run()
    withConf(graft.ops.Materialize.ConfKey -> "persist") {
      assert(run() == base, "stage mode persist diverged")
    }
    // persist-mode staged frames are internal to the operators — the
    // dedicated release hook frees them without clearCache, and the
    // tracking map drops this session's entry (r12 ADVICE: the old
    // WeakHashMap could never reclaim entries because each tracked
    // DataFrame strongly references its session — now release/sweep
    // does the bookkeeping explicitly). The persist run above staged
    // at least one frame for THIS session; after release, none.
    assert(graft.ops.Materialize.stagedFrames(spark) > 0,
      "the persist-mode run above must have staged at least one frame")
    graft.ops.Materialize.releaseStaged(spark)
    assert(graft.ops.Materialize.stagedFrames(spark) == 0,
      "releaseStaged must drop the session's tracking entry")
    // checkpoint mode (reliable, through the transient cache)
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ck")
    try {
      spark.sparkContext.setCheckpointDir(ckDir.toString)
      withConf(graft.ops.Materialize.ConfKey -> "checkpoint") {
        assert(run() == base, "stage mode checkpoint diverged")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(ckDir.toFile)
    // an unknown mode, `none` included, fails loudly rather than
    // falling back to the default, and names the key
    for (mode <- Seq("bogus", "none")) {
      withConf(graft.ops.Materialize.ConfKey -> mode) {
        val e = intercept[IllegalArgumentException] { run() }
        assert(e.getMessage.contains("spark.graft.stage.mode"),
          s"$mode: ${e.getMessage}")
      }
    }
  }

  test("Materialize tracked-session bound: discarded cloned sessions " +
      "evict eldest-first instead of leaking forever (r13 ADVICE)") {
    import graft.ops.Materialize
    def stageIn(s: org.apache.spark.sql.SparkSession): Unit = {
      s.conf.set(Materialize.ConfKey, "persist")
      try Materialize.stage(s.range(3).toDF())
      finally s.conf.unset(Materialize.ConfKey)
    }
    // a clone staged then DISCARDED without releaseStaged: on a live
    // context the stopped-sweep can't reclaim it — the session bound
    // must, once enough newer sessions churn past it
    val abandoned = spark.newSession()
    stageIn(abandoned)
    assert(Materialize.stagedFrames(abandoned) == 1)
    val recent = (1 to Materialize.MaxTrackedSessions)
      .map { _ => val s = spark.newSession(); stageIn(s); s }
    assert(Materialize.stagedFrames(abandoned) == 0,
      "eldest discarded session survived the tracked-session bound")
    assert(Materialize.stagedFrames(recent.last) == 1,
      "a fresh session's entry must not be evicted")
    // clean up the clones' entries (unpersists their frames)
    recent.foreach(Materialize.releaseStaged)
  }

  // the endpoint lemma q162's trimmed pin rests on: with the corpus
  // df table FIXED, a pair's n_shared depends only on its two
  // endpoints' gram sets, so the pair self-join over a doc subset
  // (validity still from the full-corpus df) equals the full pair
  // frame restricted to pairs with both endpoints in the subset
  test("rare-shingle pairs decompose by endpoint restriction under the corpus df table") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = (1L to 12L).map { i =>
      // overlapping shared block + per-doc filler: plenty of rare
      // shingles crossing the subset boundary
      (i, s"$shared pad${i}a pad${i}b $shared tail${(i % 4)}x tail${(i % 4)}y")
    }.toDF("doc_id", "text")
    val st = TextDedup.shingleState(docs, "doc_id", "text",
      shingleN = 3, maxDf = 8, minShared = 2)
    val valid = st.df.filter(col("df") >= 2 && col("df") <= 8)
      .select("gram")
    for (r <- 0 until 3) {
      val rgS = st.grams.filter(col("doc_id") % 3 === r)
        .join(valid, "gram").select("doc_id", "gram")
      val pairsS = rgS.as("a").join(rgS.as("b"),
          col("a.gram") === col("b.gram") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
      val fullR = st.pairs
        .filter(col("id_a") % 3 === r && col("id_b") % 3 === r)
      assert(pairsS.exceptAll(fullR).isEmpty &&
        fullR.exceptAll(pairsS).isEmpty,
        s"doc stratum $r pair frame diverged from the restricted full frame")
    }
  }

  // the lemma q177's shared anchor pass rests on: the anchor pass has
  // no cross-document term, so anchors over a doc subset equal the
  // full anchor table filtered to that subset — and a state rebuilt
  // from the sliced table (spanStateFromAnchors, with its own
  // slice-global counts) equals the direct build over the subset
  test("span anchors decompose per document; state rebuilds from a sliced anchor table") {
    import spark.implicits._
    val block = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (1L to 9L).map(i =>
      (i, s"prefix$i $block middle${i % 3} $block suffix$i tail tail"))
      .toDF("doc_id", "text")
    val full = TextDedup.spanState(docs, "doc_id", "text", l = 20)
    val p = col("doc_id") % 3 === 1
    val direct = TextDedup.spanState(docs.filter(p), "doc_id", "text",
      l = 20)
    val sliced = full.anchors.filter(p)
    assert(sliced.exceptAll(direct.anchors).isEmpty &&
      direct.anchors.exceptAll(sliced).isEmpty,
      "anchor pass not per-document")
    val rebuilt = TextDedup.spanStateFromAnchors(sliced, "doc_id", l = 20)
    assert(rebuilt.counts.exceptAll(direct.counts).isEmpty &&
      direct.counts.exceptAll(rebuilt.counts).isEmpty,
      "rebuilt counts diverged from the direct slice build")
    assert(rebuilt.spans.exceptAll(direct.spans).isEmpty &&
      direct.spans.exceptAll(rebuilt.spans).isEmpty,
      "rebuilt spans diverged from the direct slice build")
  }

  test("jaccardJoin == brute force (no false negatives), boundary pair included, tau=1 is set equality") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta eps"),
      (2L, "eps delta gamma beta alpha"),          // J(1,2) = 1 (set equality, order-blind)
      (3L, "alpha beta gamma delta zeta"),         // J(1,3) = 4/6
      (4L, "alpha beta gamma delta eps f g h i j"),// J(1,4) = 5/10 = 0.5 exactly
      (5L, "q r s t u v w"),                       // disjoint
      (6L, "alpha alpha beta beta gamma")          // multiset-blind: {alpha,beta,gamma}
    ).toDF("doc_id", "text")
    def brute(tau: Double): Set[(Long, Long)] = {
      val sets = docs.collect().map(r => r.getLong(0) ->
        r.getString(1).split(" ").toSet).toMap
      (for {
        a <- sets.keys; b <- sets.keys; if a < b
        i = (sets(a) & sets(b)).size
        u = (sets(a) | sets(b)).size
        if i.toDouble / u >= tau
      } yield (a, b)).toSet
    }
    for (tau <- Seq(0.5, 0.66, 0.9, 1.0)) {
      val got = TextDedup.jaccardJoin(docs, "doc_id", "text", tau)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute(tau), s"tau=$tau: got $got expected ${brute(tau)}")
    }
    // the exact-boundary pair (J(1,4) = 0.5) is INCLUDED at tau = 0.5
    assert(TextDedup.jaccardJoin(docs, "doc_id", "text", 0.5)
      .collect().exists(r => r.getLong(0) == 1L && r.getLong(1) == 4L))
    // tau = 1 finds exactly the set-equal pairs, multiplicity-blind
    val exact = TextDedup.jaccardJoin(docs, "doc_id", "text", 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((1L, 2L)))
    intercept[IllegalArgumentException] {
      TextDedup.jaccardJoin(docs, "doc_id", "text", 0.0)
    }
  }

  test("jaccardJoin == brute force over randomized corpora (5 seeds, varied vocab/length/tau)") {
    import spark.implicits._
    // the recall-1 claim on ADVERSARIALLY varied shapes: tiny dense
    // vocabularies (nothing prunes), large sparse ones (everything
    // prunes), short docs (prefix length 1-2), taus from loose to
    // near-exact — engine output must equal in-memory brute force
    // EXACTLY in every draw
    for ((seed, vocab, docLen, tau) <- Seq(
        (1, 8, 12, 0.5), (2, 30, 20, 0.7), (3, 120, 25, 0.8),
        (4, 5, 6, 0.9), (5, 50, 15, 0.95))) {
      val rnd = new scala.util.Random(seed)
      val docs = (1L to 120L).map(i =>
        (i, (0 until (3 + rnd.nextInt(docLen)))
          .map(_ => s"w${rnd.nextInt(vocab)}").mkString(" ")))
        .toDF("doc_id", "text")
      val sets = docs.collect()
        .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
      val brute = (for {
        a <- sets.keys; b <- sets.keys; if a < b
        i = (sets(a) & sets(b)).size
        u = (sets(a) | sets(b)).size
        if i.toDouble / u >= tau
      } yield (a, b)).toSet
      val got = TextDedup.jaccardJoin(docs, "doc_id", "text", tau)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute,
        s"seed=$seed vocab=$vocab tau=$tau: missing=${brute -- got} " +
          s"extra=${got -- brute}")
    }
  }

  test("PPJoin positional filter: candidates are a subset of " +
      "prefix-only candidates, still a superset of every true pair, " +
      "and strictly fewer on a partial-overlap corpus") {
    import spark.implicits._
    // many docs sharing a rare token but with positions deep enough
    // that the first-shared-token bound kills the pair: long docs
    // pairwise sharing only low-rank tokens
    val rnd = new scala.util.Random(9)
    val docs = (1L to 150L).map(i =>
      (i, (0 until 18).map(_ => s"w${rnd.nextInt(60)}").mkString(" ")))
      .toDF("doc_id", "text")
    val tau = 0.8
    val toks = TextDedup.jaccardTokens(docs, "doc_id", "text")
    val pos = TextDedup.jaccardCandidates(toks, tau, positional = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pre = TextDedup.jaccardCandidates(toks, tau, positional = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pos.subsetOf(pre),
      s"positional filter ADDED candidates: ${pos -- pre}")
    assert(pos.size < pre.size,
      s"positional filter pruned nothing on the partial-overlap " +
        s"corpus (${pre.size} candidates) — fixture has no mass")
    // recall-1: every true tau-pair survives the positional filter
    val sets = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    val brute = (for {
      a <- sets.keys; b <- sets.keys; if a < b
      i = (sets(a) & sets(b)).size
      u = (sets(a) | sets(b)).size
      if i.toDouble / u >= tau
    } yield (a, b)).toSet
    assert(brute.subsetOf(pos),
      s"positional filter dropped true pairs: ${brute -- pos}")
  }

  test("jaccardPrefixProbe == batch prefix frame; unseen tokens rank " +
      "first; empty/short docs safe") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val docs = ((1L to 80L).map(i =>
      (i, (0 until 3 + rnd.nextInt(12)).map(_ => s"w${rnd.nextInt(40)}")
        .mkString(" "))) ++ Seq((81L, ""), (82L, "solo")))
      .toDF("doc_id", "text")
    val tau = 0.8
    val probe = TextDedup.jaccardPrefixProbe(docs, "doc_id", "text", tau)
    val viaProbe = docs
      .select(col("doc_id"), posexplode(probe(col("text")))
        .as(Seq("__i", "tok")))
      .select(col("doc_id"), (col("__i") + 1).as("rnk"), col("tok"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet
    val viaBatch = TextDedup.jaccardPrefixFrame(
        TextDedup.jaccardTokens(docs, "doc_id", "text"), tau)
      .select(col("__id"), col("__rnk"), col("tok"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet
    assert(viaProbe == viaBatch,
      s"probe != batch: onlyProbe=${viaProbe -- viaBatch} " +
        s"onlyBatch=${viaBatch -- viaProbe}")
    assert(viaProbe.nonEmpty)
    // an arriving doc with tokens UNSEEN in the reference ranks them
    // FIRST (df 0 beats every reference df >= 1): maximally
    // discriminative, candidate-adding only — never recall-losing
    val arriving = Seq((1000L, "zzz-new w1 w2 w3 w4 w5 w6 w7 w8"))
      .toDF("doc_id", "text")
    val pfx = arriving.select(probe(col("text"))).head().getSeq[String](0)
    assert(pfx.head == "zzz-new", s"unseen token not ranked first: $pfx")
    // prefix length law: 9 distinct tokens at tau 0.8 -> 9 - 8 + 1 = 2
    assert(pfx.length == 2, s"prefix length ${pfx.length}, want 2")
    intercept[IllegalArgumentException] {
      TextDedup.jaccardPrefixProbe(docs, "doc_id", "text", 0.0)
    }
  }

  test("JaccardState: init == jaccardJoin; appends == full rebuild " +
      "over randomized splits; reindex keeps pairs; append-only is loud") {
    import spark.implicits._
    def corpus(seed: Int, n: Int, vocab: Int, len: Int) = {
      val rnd = new scala.util.Random(seed)
      (1L to n.toLong).map(i =>
        (i, (0 until (3 + rnd.nextInt(len))).map(_ =>
          s"w${rnd.nextInt(vocab)}").mkString(" ")))
    }
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for ((seed, vocab, len, tau) <- Seq(
        (11, 12, 10, 0.6), (12, 40, 18, 0.8), (13, 6, 6, 0.9))) {
      val all = corpus(seed, 150, vocab, len)
      val (a, b) = all.partition(_._1 % 3 != 1)
      val (b1, b2) = b.partition(_._1 % 2 == 0)
      val dfA = a.toDF("doc_id", "text")
      val full = pairsOf(TextDedup.jaccardJoin(
        all.toDF("doc_id", "text"), "doc_id", "text", tau))
      // init == the one-shot operator
      val s0 = TextDedup.jaccardJoinState(dfA, "doc_id", "text", tau)
      assert(pairsOf(s0.pairs) == pairsOf(
        TextDedup.jaccardJoin(dfA, "doc_id", "text", tau)),
        s"seed=$seed: init diverged from jaccardJoin")
      // two chained appends == full rebuild over the union
      val s1 = TextDedup.jaccardJoinAppend(s0,
        b1.toDF("doc_id", "text"), "doc_id", "text")
      val s2 = TextDedup.jaccardJoinAppend(s1,
        b2.toDF("doc_id", "text"), "doc_id", "text")
      assert(pairsOf(s2.pairs) == full,
        s"seed=$seed tau=$tau: incremental != rebuild; " +
          s"missing=${full -- pairsOf(s2.pairs)} " +
          s"extra=${pairsOf(s2.pairs) -- full}")
      // mid-chain release, the service pattern: materialize the live
      // state's tables, then free the SUPERSEDED states' frames —
      // releaseSuperseded must keep the shared frozen order alive
      // (plain release() here frees dfFrozen and the next maintenance
      // step dies on a missing checkpoint block)
      Seq(s2.toks, s2.prefix, s2.sizes, s2.pairs).foreach(_.count())
      s0.releaseSuperseded(s1)
      s1.releaseSuperseded(s2)
      // reindex refreshes the order, keeps the pairs bit for bit
      val s3 = TextDedup.jaccardJoinReindex(s2)
      assert(pairsOf(s3.pairs) == full, s"seed=$seed: reindex changed pairs")
      // a third append AFTER reindex still equals the rebuild
      val extra = Seq((9001L, "w1 w2 w3"), (9002L, "w1 w2 w3 w4"))
      val s4 = TextDedup.jaccardJoinAppend(s3,
        extra.toDF("doc_id", "text"), "doc_id", "text")
      val full2 = pairsOf(TextDedup.jaccardJoin(
        (all ++ extra).toDF("doc_id", "text"), "doc_id", "text", tau))
      assert(pairsOf(s4.pairs) == full2,
        s"seed=$seed: post-reindex append diverged")
      // append-only contract: an existing id refuses loudly
      val e = intercept[IllegalArgumentException] {
        TextDedup.jaccardJoinAppend(s4,
          Seq((1L, "w1 w2")).toDF("doc_id", "text"), "doc_id", "text")
      }
      assert(e.getMessage.contains("append-only"), e.getMessage)
      // membership domain: a zero-token delta doc refuses up front
      // (it would leave no trace in the state — appendable twice,
      // never removable)
      val e0 = intercept[IllegalArgumentException] {
        TextDedup.jaccardJoinAppend(s4,
          Seq((77777L, "   ")).toDF("doc_id", "text"), "doc_id", "text")
      }
      assert(e0.getMessage.contains("tokenize to nothing"), e0.getMessage)
      // REMOVE: drop a slice spanning original AND delta ids — pure
      // filtering must equal the rebuild over the survivors
      val corpus4 = all ++ extra
      val victims = corpus4.map(_._1).filter(_ % 5 == 2)
      assert(victims.nonEmpty)
      val s5 = TextDedup.jaccardJoinRemove(s4,
        victims.toDF("doc_id"), "doc_id")
      val survivors4 = corpus4.filterNot(_._1 % 5 == 2)
      val fullR = pairsOf(TextDedup.jaccardJoin(
        survivors4.toDF("doc_id", "text"), "doc_id", "text", tau))
      assert(pairsOf(s5.pairs) == fullR,
        s"seed=$seed: remove != rebuild over survivors; " +
          s"missing=${fullR -- pairsOf(s5.pairs)} " +
          s"extra=${pairsOf(s5.pairs) -- fullR}")
      // remove∘append: a removed id is NEW again — the re-crawl path
      val reAdd = corpus4.filter(_._1 % 5 == 2).take(3)
        .map { case (i, t) => (i, t + " w0") }
      val s6 = TextDedup.jaccardJoinAppend(s5,
        reAdd.toDF("doc_id", "text"), "doc_id", "text")
      val full3 = pairsOf(TextDedup.jaccardJoin(
        (survivors4 ++ reAdd).toDF("doc_id", "text"),
        "doc_id", "text", tau))
      assert(pairsOf(s6.pairs) == full3,
        s"seed=$seed: remove-then-append diverged from rebuild")
      // unknown removal id refuses loudly
      val e2 = intercept[IllegalArgumentException] {
        TextDedup.jaccardJoinRemove(s6,
          Seq(99999999L).toDF("doc_id"), "doc_id")
      }
      assert(e2.getMessage.contains("not in the state"), e2.getMessage)
      Seq(s2, s3, s4, s5, s6).foreach(_.release())
    }
  }

  test("JaccardState auto-compaction: a 10-append chain keeps the " +
      "segment list bounded at the threshold, pairs stay equal to the " +
      "full rebuild, and threshold <= 0 disables (r16 Next #3)") {
    import spark.implicits._
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val all = (1L to 330L).map(i =>
      (i, (0 until (3 + (i % 7)).toInt).map(j =>
        s"w${(i * 7 + j) % 25}").mkString(" ")))
    val init = all.filter(_._1 % 12 == 0)
    var st = TextDedup.jaccardJoinState(
      init.toDF("doc_id", "text"), "doc_id", "text", tau = 0.7)
    var added = init
    var maxSegs = st.toksSegs.length
    var compactions = 0
    for (k <- 0 until 10) {
      val delta = all.filter(_._1 % 12 == k + 1)
      val nxt = TextDedup.jaccardJoinAppend(st,
        delta.toDF("doc_id", "text"), "doc_id", "text",
        autoCompactSegments = 4)
      Seq(nxt.toks, nxt.prefix, nxt.sizes, nxt.pairs).foreach(_.count())
      st.releaseSuperseded(nxt)
      if (nxt.toksSegs.length < st.toksSegs.length + 1) compactions += 1
      st = nxt
      added ++= delta
      maxSegs = math.max(maxSegs, st.toksSegs.length)
      // every table's segment list stays bounded BELOW the threshold
      // (a compaction resets to 1 exactly when the grown list would
      // have reached 4)
      assert(st.toksSegs.length < 4 && st.prefixSegs.length < 4 &&
        st.sizesSegs.length < 4 && st.pairsSegs.length < 4,
        s"append ${k + 1}: segment list not bounded — " +
          s"${st.toksSegs.length} segments")
    }
    assert(compactions >= 3,
      s"a 10-append chain at threshold 4 should have compacted >= 3 " +
        s"times, saw $compactions")
    // results are untouched by compaction: the chain's pairs equal
    // the one-shot rebuild over everything appended (the q222 oracle
    // law, held across every consolidation)
    val full = pairsOf(TextDedup.jaccardJoin(
      added.toDF("doc_id", "text"), "doc_id", "text", tau = 0.7))
    assert(pairsOf(st.pairs) == full,
      s"auto-compacted chain != rebuild; missing=" +
        s"${full -- pairsOf(st.pairs)} extra=${pairsOf(st.pairs) -- full}")
    st.release()
    // disabled: <= 0 keeps the pre-r17 grow-forever behavior
    var st2 = TextDedup.jaccardJoinState(
      init.toDF("doc_id", "text"), "doc_id", "text", tau = 0.7)
    for (k <- 0 until 5) {
      val nxt = TextDedup.jaccardJoinAppend(st2,
        all.filter(_._1 % 12 == k + 1).toDF("doc_id", "text"),
        "doc_id", "text", autoCompactSegments = 0)
      nxt.pairs.count()
      st2.releaseSuperseded(nxt)
      st2 = nxt
    }
    assert(st2.toksSegs.length == 6,
      s"disabled auto-compaction still compacted: ${st2.toksSegs.length}")
    st2.release()
  }

  test("releaseSuperseded frees exactly the frames the next state does " +
      "not share") {
    import org.apache.spark.storage.StorageLevel
    def frame(n: Int) = spark.range(n).toDF("doc_id").persist()
    val Seq(grams, df, pairs, nextPairs, internal) = (1 to 5).map(frame)
    val st = TextDedup.ShingleState(grams, df, pairs, Seq(internal))
    val next = TextDedup.ShingleState(grams, df, nextPairs)
    st.releaseSuperseded(next)
    def persisted(f: org.apache.spark.sql.DataFrame) =
      f.storageLevel != StorageLevel.NONE
    assert(Seq(grams, df, nextPairs).forall(persisted),
      "a frame the next state shares was freed")
    assert(!persisted(pairs) && !persisted(internal),
      "a superseded frame or internal is still persisted")
    next.release()
    assert(!Seq(grams, df, nextPairs).exists(persisted))
  }

  test("jaccardJoin is partitioning-invariant and null-id/null-text safe") {
    import spark.implicits._
    val base = (1L to 60L).map(i =>
      (i, (0 to (i % 7).toInt).map(j => s"tok${(i + j) % 11}").mkString(" ")))
    val docs = (base :+ (0L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .unionByName(Seq((null.asInstanceOf[java.lang.Long], "tok1 tok2"))
        .toDF("doc_id", "text"))
    val a = TextDedup.jaccardJoin(docs, "doc_id", "text", 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2))).toSet
    val b = TextDedup.jaccardJoin(docs.repartition(13), "doc_id", "text",
        0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2))).toSet
    assert(a == b, "jaccardJoin depends on partitioning")
    assert(a.nonEmpty, "fixture produced no pairs — law has no mass")
    assert(!a.exists(t => t._1 == 0L || t._2 == 0L),
      "a null-text doc paired with something")
  }
}
