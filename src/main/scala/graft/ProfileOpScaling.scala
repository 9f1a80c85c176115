package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Core-scaling capture for the r19-rewritten heavy operators (r19
  * VERDICT Next #7): the sf0.1 battery runs sub-second entries over
  * Memos-cached frames, so its 8-vs-32-core block cannot evidence that
  * the big rewrites parallelize — this main times each rewritten
  * operator UNCACHED on a replica-expanded corpus (shifted ids, same
  * per-row work — the PERF.md index-scale "more lake, not more overlap"
  * convention) at whatever `$SPARK_GRAFT_CPUS` says, so two runs
  * (8 and 32) give a clean compute-bound scaling ratio.
  *
  * Inputs are repartitioned to the session width BEFORE expansion —
  * the warehouse shape (a 100 TB table scans wide); the operators
  * themselves add no other parallelism hints. Not part of the driver
  * contract; results recorded in plans/r20 + OPTIMIZATION_r20.md.
  */
object ProfileOpScaling {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.localBuilder("graft-op-scaling", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val p = spark.sparkContext.defaultParallelism

    def docsX(n: Int): DataFrame =
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
        .repartition(p)
        .withColumn("__r", explode(sequence(lit(0L), lit(n - 1L))))
        .select((col("doc_id") + col("__r") * 10000000L).as("doc_id"),
          col("text"))
    def embX(n: Int): DataFrame =
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
        .repartition(p)
        .withColumn("__r", explode(sequence(lit(0L), lit(n - 1L))))
        .select((col("vec_id") + col("__r") * 10000000L).as("vec_id"),
          col("embedding"))

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // two reps, both printed (the bench min-arbitration convention):
    // rep 1 pays page-cache/codegen residue, rep 2 is the number the
    // 8-vs-32 ratio reads. Every persist-mode staged frame (the KMV
    // ops' stageLazy) is RELEASED between reps — a persisted frame
    // registers in the CacheManager, and rep 2's identical plan would
    // silently substitute rep 1's cached result instead of recomputing
    // (observed: the kmv row read 0.98 s warm at 8 cores — a cache
    // read, not the operator).
    def time(name: String)(f: => Unit): Unit = {
      spark.sparkContext.setJobDescription(name)
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        f
        val dt = (System.nanoTime() - t0) / 1e9
        graft.ops.Materialize.releaseStaged(spark)
        System.gc()
        dt
      }
      println(f"""{"op":"$name","cpus":$cpus%s,"sec":${ts.min}%.2f,"reps":[${
        ts.map(t => f"$t%.2f").mkString(",")}]}""")
      spark.sparkContext.setJobDescription(null)
    }

    // one tiny prewarm per family so JIT/classloading is not in the
    // timed windows (the Bench prewarm convention)
    locally {
      val tiny = docsX(1).limit(50)
      noop(graft.ops.TextDedup.simHashMd5Sig(tiny, "doc_id", "text"))
      noop(graft.ops.VectorOps.srpBands(embX(1).limit(50), "vec_id",
        "embedding", bands = 4, bandBits = 16))
    }

    // SimHash signature pass (r19 SimHashSig aggregate; q175 family):
    // per-token md5 + 64-bit vote tally, map-side combinable
    time("simhash_sig_x96") {
      noop(graft.ops.TextDedup.simHashMd5Sig(docsX(96), "doc_id", "text"))
    }

    // SRP banding projection (r19 SrpBandBuckets native; q208/q214/
    // q221/q227 family): 64 sign dot products per row, map-only
    time("srp_bands_x512") {
      noop(graft.ops.VectorOps.srpBands(embX(512), "vec_id", "embedding",
        bands = 4, bandBits = 16))
    }

    // ADC scoring (r19 AdcLutScore native; q199/q200 family): codebooks
    // + encode trained on the base corpus, the LUT scorer swept over
    // the expanded encodings for a 5-probe set
    time("pq_adc_x64") {
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding")).repartition(p)
      val books = graft.ops.VectorOps.pqCodebooks(e, "vec_id",
        "embedding", m = 4, ksub = 8)
      val enc = graft.ops.VectorOps.pqEncode(embX(64), "vec_id",
        "embedding", books)
      noop(graft.ops.VectorOps.pqAdcKnn(
        e.filter(col("vec_id") % 199 === 3), enc, books, "vec_id",
        "embedding", k = 5))
    }

    // Bigram explode + KMV theta sketches (r19 side-flagged-union
    // thetaCounts; q228/q230 family), doc side split in two
    time("bigram_kmv_x16") {
      val ts = filter(graft.ops.TextDedup.tokensOf(col("text")),
        t => length(t) > 0)
      val bg = docsX(16).filter(col("doc_id").isNotNull)
        .select(lit("all").as("lang"), (col("doc_id") % 2).as("side"),
          explode(when(size(ts) >= 2,
            transform(sequence(lit(1), size(ts) - 1), i =>
              concat(element_at(ts, i), lit(" "),
                element_at(ts, i + 1))))
            .otherwise(array().cast("array<string>"))).as("bg"))
      val a = graft.ops.Sketches.kmvSketch(
        bg.filter(col("side") === 0).select("lang", "bg"),
        Seq("lang"), "bg", k = 256)
      val b = graft.ops.Sketches.kmvSketch(
        bg.filter(col("side") === 1).select("lang", "bg"),
        Seq("lang"), "bg", k = 256)
      noop(graft.ops.Sketches.kmvOverlap(a, b, Seq("lang")))
    }

    // Per-character anchor pass (q172/q177 family): xxhash64 of every
    // position's 40-gram
    time("span_anchors_x32") {
      noop(graft.ops.TextDedup.spanState(docsX(32), "doc_id", "text",
        l = 40, fastDigest = true).anchors)
    }

    spark.stop()
  }
}
