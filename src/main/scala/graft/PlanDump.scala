package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.array.ByteArrayMethods

/** Dumps `.explain("formatted")` for a named plan shape, so the
  * `plans/<round>/<shape>_{before,after}.txt` captures can be produced
  * from any git state. Not part of the driver contract.
  *
  * Usage: PlanDump <shape> — prints ONE formatted plan on stdout
  * (env SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS). An unknown shape lists
  * the known ones on stderr and exits 2.
  */
object PlanDump {
  val shapes: Seq[String] = Seq("kmv_overlap", "kmv_difference", "pq_adc",
    "simhash_sig", "srp_bands", "simhash_hamming", "q221_banding",
    "q162_pin")

  def main(args: Array[String]): Unit = {
    val shape = args.headOption.getOrElse("")
    if (!shapes.contains(shape)) {
      System.err.println(s"unknown plan shape '$shape'; known shapes: " +
        shapes.mkString(", "))
      sys.exit(2)
    }
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
    val out = dump(spark, sfDir, shape)
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

      case "simhash_hamming" =>
        // the candidate join's Hamming is ONE HexHamming16 node
        fmt(graft.ops.TextDedup.simHashCandidatesMd5(
          docs.select(col("doc_id"), col("text")), "doc_id", "text",
          maxHamming = 8))

      case "q221_banding" =>
        // q221's two candidate frames over ONE shared staged banding
        // table (both plans scan the SAME MapPartitionsRDD id)
        val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("embedding"))
        val banded = graft.ops.VectorOps.srpStagedBands(
          e, "vec_id", "embedding", bands = 4, bandBits = 16)
        val withP = graft.ops.VectorOps.srpMultiProbeCandidatesStaged(
          banded, e, "vec_id", "embedding", tau = 0.8, bands = 4,
          bandBits = 16, probes = 2)
        val base = graft.ops.VectorOps.srpCandidatesStaged(
          banded, e, "vec_id", "embedding", tau = 0.8)
        "== multi-probe candidates ==\n" + fmt(withP) +
          "\n== base candidates ==\n" + fmt(base)

      case "q162_pin" =>
        // q162's three pins as the one action the query body runs,
        // over the same delta fixtures; nothing is executed, only
        // planned
        val oldCorpus = docs.filter(col("doc_id") % 11 =!= 0)
          .select(col("doc_id"), col("text"))
        val newCorpus = docs.filter(col("doc_id") % 13 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
        val st = graft.ops.TextDedup.shingleState(oldCorpus, "doc_id",
          "text", shingleN = 5, maxDf = 8, minShared = 3)
        val removedIds = oldCorpus
          .filter(col("doc_id") % 13 === 0 || col("doc_id") % 5 === 0)
          .select("doc_id")
        val addedDocs = newCorpus
          .filter(col("doc_id") % 11 === 0 || col("doc_id") % 5 === 0)
        val inc = graft.ops.TextDedup.incrementalShingleState(st,
          removedIds, addedDocs, "doc_id", "text", shingleN = 5,
          maxDf = 8, minShared = 3)
        val freshGrams = graft.ops.TextDedup.shingleState(newCorpus,
          "doc_id", "text", shingleN = 5, maxDf = 8, minShared = 3).grams
        "== pin action 1/1: merged 3-row union ==\n" +
          fmt(graft.queries.Pins.plan(graft.queries.DedupQueries
            .shinglePins(inc, inc.pairs, freshGrams): _*))

      case other =>
        throw new IllegalArgumentException(s"unknown plan shape '$other'")
    }
  }
}
