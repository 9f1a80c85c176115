package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.array.ByteArrayMethods

/** r19 optimization round: dumps `.explain("formatted")` for the plan
  * shapes the round touched, so plans/r19/<query>_{before,after}.txt
  * can be produced from any git state. Not part of the driver
  * contract.
  *
  * Usage: PlanDump <shape> — prints ONE formatted plan on stdout
  * (env SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the rendered plan IS this tool's output (the q162 dumps run to
    // ~390 KB), so the shared 16 KiB plan-string cap goes back to
    // Spark's default
    val spark = Sessions.localBuilder("graft-plan-dump", cpus)
      .config("spark.sql.maxPlanStringLength",
        ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH.toLong)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = dump(spark, sfDir, args.headOption.getOrElse(""))
    println(out)
    spark.stop()
  }

  def dump(spark: SparkSession, sfDir: String, shape: String): String = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // the q228/q230 bigram fixture, spelled over whichever staged
    // schema the current tree builds (side rows pre-r19, flags post)
    lazy val bgRows = {
      val ts = filter(graft.ops.TextDedup.tokensOf(col("text")),
        t => length(t) > 0)
      docs.filter(col("doc_id").isNotNull)
        .select(col("lang"), (col("doc_id") % 2).as("side"),
          explode(when(size(ts) >= 2,
            transform(sequence(lit(1), size(ts) - 1), i =>
              concat(element_at(ts, i), lit(" "),
                element_at(ts, i + 1))))
            .otherwise(array().cast("array<string>"))).as("bg"))
    }
    lazy val exA = bgRows.filter(col("side") === 0).select("lang", "bg")
    lazy val exB = bgRows.filter(col("side") === 1).select("lang", "bg")
    def fmt(df: org.apache.spark.sql.DataFrame): String = {
      val w = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(w, true, "UTF-8")) {
        df.explain("formatted")
      }
      w.toString("UTF-8")
    }
    shape match {
      case "kmv_overlap" =>
        fmt(graft.ops.Sketches.kmvOverlap(
          graft.ops.Sketches.kmvSketch(exA, Seq("lang"), "bg", k = 256),
          graft.ops.Sketches.kmvSketch(exB, Seq("lang"), "bg", k = 256),
          Seq("lang")))
      case "kmv_difference" =>
        fmt(graft.ops.Sketches.kmvDifference(
          graft.ops.Sketches.kmvSketch(exA, Seq("lang"), "bg", k = 256),
          graft.ops.Sketches.kmvSketch(exB, Seq("lang"), "bg", k = 256),
          Seq("lang")))
      case "pq_adc" =>
        val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        val books = graft.ops.VectorOps.pqCodebooks(e, "vec_id",
          "embedding", m = 4, ksub = 8).persist()
        books.count()
        val enc = graft.ops.VectorOps.pqEncode(e, "vec_id", "embedding",
          books).persist()
        enc.count()
        fmt(graft.ops.VectorOps.pqAdcKnn(
          e.filter(col("vec_id") % 7 === 3), enc, books, "vec_id",
          "embedding", k = 5))
      case "simhash_sig" =>
        fmt(graft.ops.TextDedup.simHashMd5Sig(
          docs.select(col("doc_id"), col("text")), "doc_id", "text"))
      case "srp_bands" =>
        val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        fmt(graft.ops.VectorOps.srpBands(e, "vec_id", "embedding",
          bands = 4, bandBits = 16))

      // ---- r20 shapes. The *_r19 variants reproduce the ROUND-19
      // spelling inline so before/after plan captures can both be
      // produced from the current tree (the legacy spellings are
      // verbatim copies of the replaced code, kept ONLY here).
      case "simhash_hamming" =>
        // r20: the candidate join's Hamming is ONE HexHamming16 node
        fmt(graft.ops.TextDedup.simHashCandidatesMd5(
          docs.select(col("doc_id"), col("text")), "doc_id", "text",
          maxHamming = 8))
      case "simhash_hamming_r19" =>
        // the replaced spelling: 16 instr/substring digit extractions
        // and div/mod popcounts per candidate row, on the same banded
        // self-join (verbatim from r19 simHashCandidatesMd5)
        val sig = graft.ops.TextDedup.simHashMd5Sig(
          docs.select(col("doc_id"), col("text")), "doc_id", "text")
          .localCheckpoint(false)
        val banded = sig.select(col("doc_id"), col("sig"),
            explode(array((0 until 4).map(b =>
              struct(lit(b).as("band"),
                substring(col("sig"), b * 4 + 1, 4).as("chunk"))): _*)).as("bb"))
          .select(col("doc_id"), col("sig"), col("bb.band"), col("bb.chunk"))
          .repartition(col("band"), col("chunk"))
          .localCheckpoint(false)
        val a = banded.as("a")
        val b = banded.as("b")
        val hamming = (0 until 16).map { j =>
          val va = expr(
            s"instr('0123456789abcdef', substring(a.sig, ${j + 1}, 1))") - 1
          val vb = expr(
            s"instr('0123456789abcdef', substring(b.sig, ${j + 1}, 1))") - 1
          val x = va.bitwiseXOR(vb)
          (x % 2) + ((x / 2).cast("int") % 2) + ((x / 4).cast("int") % 2) +
            ((x / 8).cast("int") % 2)
        }.reduce(_ + _)
        fmt(a.join(b,
            col("a.band") === col("b.band") &&
              col("a.chunk") === col("b.chunk") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            hamming.cast("long").as("hamming"))
          .groupBy("id_a", "id_b")
          .agg(max(col("hamming")).as("hamming"))
          .filter(col("hamming") <= 8))

      case "q221_banding" | "q221_banding_r19" =>
        // q221's two candidate frames. r20: ONE shared staged banding
        // table (both plans scan the SAME MapPartitionsRDD id). r19:
        // each op staged its own copy (two different RDD ids, the
        // banding projection + (band, bucket) exchange paid twice).
        val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("embedding"))
        val (withP, base) =
          if (shape == "q221_banding_r19")
            (graft.ops.VectorOps.srpMultiProbeCandidates(
              e, "vec_id", "embedding", tau = 0.8, bands = 4,
              bandBits = 16, probes = 2),
             graft.ops.VectorOps.srpCandidates(
              e, "vec_id", "embedding", tau = 0.8, bands = 4,
              bandBits = 16))
          else {
            val banded = graft.ops.VectorOps.srpStagedBands(
              e, "vec_id", "embedding", bands = 4, bandBits = 16)
            (graft.ops.VectorOps.srpMultiProbeCandidatesStaged(
              banded, e, "vec_id", "embedding", tau = 0.8, bands = 4,
              bandBits = 16, probes = 2),
             graft.ops.VectorOps.srpCandidatesStaged(
              banded, e, "vec_id", "embedding", tau = 0.8))
          }
        "== multi-probe candidates ==\n" + fmt(withP) +
          "\n== base candidates ==\n" + fmt(base)

      case "q162_pin" | "q162_pin_r19" =>
        // q162's state-equality pin actions. r20: the gram / df /
        // stratum-pair diffs are ONE 3-row union (one action). r19:
        // three separate aggregate plans (three actions). Constructed
        // exactly like the query body, over the same delta fixtures;
        // nothing is executed here, only planned.
        val oldCorpus = docs.filter(col("doc_id") % 11 =!= 0)
          .select(col("doc_id"), col("text"))
        val newCorpus = docs.filter(col("doc_id") % 13 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
        val built = graft.ops.TextDedup.shingleState(oldCorpus, "doc_id",
          "text", shingleN = 5, maxDf = 8, minShared = 3)
        val st = graft.ops.TextDedup.ShingleState(
          built.grams, built.df, built.pairs)
        val removedIds = oldCorpus
          .filter(col("doc_id") % 13 === 0 || col("doc_id") % 5 === 0)
          .select("doc_id")
        val addedDocs = newCorpus
          .filter(col("doc_id") % 11 === 0 || col("doc_id") % 5 === 0)
        val inc = graft.ops.TextDedup.incrementalShingleState(st,
          removedIds, addedDocs, "doc_id", "text", shingleN = 5,
          maxDf = 8, minShared = 3)
        val fresh0 = graft.ops.TextDedup.shingleState(newCorpus, "doc_id",
          "text", shingleN = 5, maxDf = 8, minShared = 3)
        val freshGrams = fresh0.grams
        val freshDf = freshGrams.groupBy("gram")
          .agg(count(lit(1)).as("df"))
        val gJoin = inc.grams
          .select(col("doc_id"), col("gram"), lit(1).as("__i"))
          .join(freshGrams.select(col("doc_id"), col("gram"),
            lit(1).as("__f")), Seq("doc_id", "gram"), "full_outer")
        val dJoin = inc.df.withColumnRenamed("df", "df_i")
          .join(freshDf.withColumnRenamed("df", "df_f"), Seq("gram"),
            "full_outer")
        val validS = freshDf.filter(col("df") >= 2 && col("df") <= 8)
          .select("gram")
        val rgS = freshGrams.filter(col("doc_id") % 3 === 1)
          .join(validS, "gram").select("doc_id", "gram")
        val pairsS = rgS.as("a").join(rgS.as("b"),
            col("a.gram") === col("b.gram") &&
              col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3)
        val pJoin = inc.pairs
          .filter(col("id_a") % 3 === 1 && col("id_b") % 3 === 1)
          .withColumnRenamed("n_shared", "n_inc")
          .join(pairsS.withColumnRenamed("n_shared", "n_full"),
            Seq("id_a", "id_b"), "full_outer")
        if (shape == "q162_pin_r19") {
          "== pin action 1/3: gram diff ==\n" +
            fmt(gJoin.filter(col("__i").isNull || col("__f").isNull)
              .groupBy().count()) +
            "\n== pin action 2/3: df diff ==\n" +
            fmt(dJoin.filter(col("df_i").isNull || col("df_f").isNull ||
              col("df_i") =!= col("df_f")).groupBy().count()) +
            "\n== pin action 3/3: stratum pair diff ==\n" +
            fmt(pJoin.agg(
              coalesce(sum(when(col("n_full").isNull ||
                col("n_inc") =!= col("n_full"), 1L).otherwise(0L)), lit(0L))
                .as("extra"),
              coalesce(sum(when(col("n_inc").isNull ||
                col("n_inc") =!= col("n_full"), 1L).otherwise(0L)), lit(0L))
                .as("missing")))
        } else {
          val gBad = gJoin
            .agg(coalesce(sum(when(col("__i").isNull || col("__f").isNull,
              1L).otherwise(0L)), lit(0L)).as("a"))
            .select(lit("grams").as("pin"), col("a"), lit(0L).as("b"))
          val dBad = dJoin
            .agg(coalesce(sum(when(col("df_i").isNull ||
              col("df_f").isNull || col("df_i") =!= col("df_f"),
              1L).otherwise(0L)), lit(0L)).as("a"))
            .select(lit("df").as("pin"), col("a"), lit(0L).as("b"))
          val pBad = pJoin
            .agg(
              coalesce(sum(when(col("n_full").isNull ||
                col("n_inc") =!= col("n_full"), 1L).otherwise(0L)), lit(0L))
                .as("a"),
              coalesce(sum(when(col("n_inc").isNull ||
                col("n_inc") =!= col("n_full"), 1L).otherwise(0L)), lit(0L))
                .as("b"))
            .select(lit("pairs").as("pin"), col("a"), col("b"))
          "== pin action 1/1: merged 3-row union ==\n" +
            fmt(gBad.unionByName(dBad).unionByName(pBad))
        }

      case other =>
        s"unknown plan shape '$other'"
    }
  }
}
