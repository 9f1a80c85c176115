package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}

import scala.util.hashing.MurmurHash3

import graft.functions.GeoExpr

/** Near-duplicate detection for 100 TB text corpora (SURVEY.md §7.4):
  * MinHash + LSH banding, SimHash, and exact n-gram Jaccard — all using
  * the same explode -> equi-join -> aggregate skeleton as the H3 index
  * (docs/H3_POLYGON_ANALYSIS.md:301-321): candidate generation is a
  * hash-bucket equi-join, never an all-pairs cross join.
  *
  * Scale notes: signatures are fixed-size arrays computed per row
  * (map-only); the band explode multiplies rows by `bands` (small
  * constant); the bucket join shuffles only (band, bucket-hash, doc_id,
  * signature) — bounded by k longs per row, never the text.
  */
object TextDedup {

  // --------------------------------------------------- expressions

  /** 64-bit stable byte hash (MurmurHash3 x2 — deterministic across
    * JVMs, unlike String.hashCode's surrogate behavior edge cases). */
  private def hash64(b: Array[Byte], seed: Int): Long =
    (MurmurHash3.bytesHash(b, seed).toLong << 32) |
      (MurmurHash3.bytesHash(b, seed + 0x9e3779b9).toLong & 0xFFFFFFFFL)

  /** Finalizer-quality 64-bit mixer (public-domain splitmix64 constants):
    * derives the j-th "permutation" of a base hash in ~5 ALU ops, so a
    * k-minhash costs ONE string hash + k mixes per shingle instead of k
    * string hashes. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** minhash_signature(shingles, k, seed) -> array<long> of k minima. */
  case class MinHashSig(tokens: Expression, k: Expression, seed: Expression)
      extends GeoExpr {
    override def children: Seq[Expression] = Seq(tokens, k, seed)
    override def dataType: DataType = ArrayType(LongType)
    override protected def evalNotNull(a: Array[Any]): Any = {
      val arr = a(0).asInstanceOf[ArrayData]
      val kk = int(a(1))
      val sd = int(a(2))
      val out = Array.fill(kk)(Long.MaxValue)
      var i = 0
      while (i < arr.numElements()) {
        val base = hash64(arr.getUTF8String(i).getBytes, sd)
        var j = 0
        while (j < kk) {
          val h = mix64(base + j * 0xd6e8feb86659fd93L)
          if (h < out(j)) out(j) = h
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out.map(java.lang.Long.valueOf(_).asInstanceOf[Any]))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(tokens = c(0), k = c(1), seed = c(2))
  }

  /** simhash64(tokens) -> long: per-bit weighted vote over token
    * hashes; near-duplicates land within small Hamming distance. */
  case class SimHash64(tokens: Expression) extends GeoExpr {
    override def children: Seq[Expression] = Seq(tokens)
    override def dataType: DataType = LongType
    override protected def evalNotNull(a: Array[Any]): Any = {
      val arr = a(0).asInstanceOf[ArrayData]
      val votes = new Array[Int](64)
      var i = 0
      while (i < arr.numElements()) {
        val h = hash64(arr.getUTF8String(i).getBytes, 0x51347)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        i += 1
      }
      var out = 0L
      var b = 0
      while (b < 64) {
        if (votes(b) > 0) out |= (1L << b)
        b += 1
      }
      java.lang.Long.valueOf(out)
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(tokens = c(0))
  }

  /** minhash_shingle_signature(tokens, n, k, seed): fused shingle+hash —
    * slides an n-token window over the token array and hashes the
    * joined bytes directly, producing BIT-IDENTICAL minima to
    * `MinHashSig(shinglesOf(tokens, n))` without materializing the
    * O(tokens) shingle-string array through Catalyst (sequence/
    * transform/slice/concat_ws allocate ~500 strings per document —
    * that was the dominant cost of candidate generation, not the LSH
    * join). */
  case class MinHashShingleSig(tokens: Expression, n: Expression,
      k: Expression, seed: Expression) extends GeoExpr {
    override def children: Seq[Expression] = Seq(tokens, n, k, seed)
    override def dataType: DataType = ArrayType(LongType)
    override protected def evalNotNull(a: Array[Any]): Any = {
      val arr = a(0).asInstanceOf[ArrayData]
      val nn = int(a(1))
      val kk = int(a(2))
      val sd = int(a(3))
      val nTok = arr.numElements()
      val toks = new Array[Array[Byte]](nTok)
      var i = 0
      while (i < nTok) {
        // null elements stay null here and are SKIPPED in joined() —
        // concat_ws's skip-null semantics, the bit-parity contract
        // with MinHashSig(WordNGrams(...)) (tokensOf never emits
        // nulls, but caller-supplied token arrays can)
        val u = arr.getUTF8String(i)
        toks(i) = if (u == null) null else u.getBytes
        i += 1
      }
      val out = Array.fill(kk)(Long.MaxValue)
      def consume(bytes: Array[Byte]): Unit = {
        val base = hash64(bytes, sd)
        var j = 0
        while (j < kk) {
          val h = mix64(base + j * 0xd6e8feb86659fd93L)
          if (h < out(j)) out(j) = h
          j += 1
        }
      }
      def joined(from: Int, until: Int): Array[Byte] = {
        var len = 0
        var cnt = 0
        var t = from
        while (t < until) {
          if (toks(t) != null) { len += toks(t).length; cnt += 1 }
          t += 1
        }
        val buf = new Array[Byte](if (cnt == 0) 0 else len + cnt - 1)
        var off = 0
        var emitted = 0
        t = from
        while (t < until) {
          if (toks(t) != null) {
            if (emitted > 0) { buf(off) = ' '.toByte; off += 1 }
            System.arraycopy(toks(t), 0, buf, off, toks(t).length)
            off += toks(t).length
            emitted += 1
          }
          t += 1
        }
        buf
      }
      if (nTok < nn) consume(joined(0, nTok)) // shinglesOf short-text fallback
      else {
        var w = 0
        while (w + nn <= nTok) { consume(joined(w, w + nn)); w += 1 }
      }
      new GenericArrayData(out.map(java.lang.Long.valueOf(_).asInstanceOf[Any]))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(tokens = c(0), n = c(1), k = c(2), seed = c(3))
  }

  /** word_ngrams(tokens, n) -> array<string>: the same shingle array
    * as the old sequence/transform/slice/concat_ws composition, built
    * natively in one pass. Catalyst higher-order-function lambdas run
    * INTERPRETED (never codegen'd) and allocate ~tokens intermediate
    * rows per document — measured as the dominant cost of every
    * full-corpus shingle consumer (exact-Jaccard refine, n-gram
    * decontamination, repetition histogram). Output is bit-identical,
    * including the <n-token whole-text fallback and concat_ws's
    * skip-null semantics. */
  case class WordNGrams(tokens: Expression, n: Expression) extends GeoExpr {
    override def children: Seq[Expression] = Seq(tokens, n)
    override def dataType: DataType = ArrayType(StringType)
    override protected def evalNotNull(a: Array[Any]): Any = {
      import org.apache.spark.unsafe.types.UTF8String
      val arr = a(0).asInstanceOf[ArrayData]
      val nn = int(a(1))
      val nTok = arr.numElements()
      val sep = UTF8String.fromString(" ")
      val toks = new Array[UTF8String](nTok)
      var i = 0
      while (i < nTok) { toks(i) = arr.getUTF8String(i); i += 1 }
      if (nTok < nn)
        new GenericArrayData(Array[Any](UTF8String.concatWs(sep,
          scala.collection.immutable.ArraySeq.unsafeWrapArray(toks): _*)))
      else {
        val out = new Array[Any](nTok - nn + 1)
        var w = 0
        while (w + nn <= nTok) {
          val window = new Array[UTF8String](nn)
          System.arraycopy(toks, w, window, 0, nn)
          out(w) = UTF8String.concatWs(sep,
            scala.collection.immutable.ArraySeq.unsafeWrapArray(window): _*)
          w += 1
        }
        new GenericArrayData(out)
      }
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(tokens = c(0), n = c(1))
  }

  def minhash_signature(shingles: Column, k: Int, seed: Int = 42): Column =
    toCol(MinHashSig(toExpr(shingles), toExpr(lit(k)), toExpr(lit(seed))))

  def minhash_shingle_signature(tokens: Column, n: Int, k: Int,
      seed: Int = 42): Column =
    toCol(MinHashShingleSig(toExpr(tokens), toExpr(lit(n)), toExpr(lit(k)),
      toExpr(lit(seed))))

  def simhash64(tokens: Column): Column = toCol(SimHash64(toExpr(tokens)))

  // ------------------------------------------- Column building blocks

  /** Whitespace tokens of cleaned, lowercased text (pure built-ins). */
  def tokensOf(text: Column): Column =
    split(lower(trim(regexp_replace(text, "\\s+", " "))), " ")

  /** Word n-gram shingles — a native expression ([[WordNGrams]]), not
    * a sequence/transform/slice lambda composition: Catalyst HOF
    * lambdas evaluate interpreted, and this sits in the per-row hot
    * path of every full-corpus shingle consumer. */
  def shinglesOf(tokens: Column, n: Int): Column =
    toCol(WordNGrams(toExpr(tokens), toExpr(lit(n))))

  /** Exact Jaccard over two shingle arrays (codegen'd built-ins). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(array_union(a, b))
    when(union === 0, 0.0).otherwise(inter.cast("double") / union)
  }

  // ------------------------------------------------- LSH band join

  /** MinHash LSH candidate pairs: shingle -> k-minhash -> `bands` bands
    * of `k/bands` rows -> explode -> bucket equi-join within band.
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b, deduped across
    * bands. `df` needs (idCol, textCol).
    *
    * `maxBucket` drops (band, bucket) groups larger than the cap before
    * the self-join ([[Banding]]'s skew guard). */
  def minHashCandidates(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val rows = Banding.rows(k, bands, maxBucket)
    val sig = df.select(
        col(idCol).as("doc_id"),
        minhash_shingle_signature(tokensOf(col(textCol)), shingleN, k)
          .as("sig"))
      // null signatures (null text) must not band: Spark's hash()
      // SKIPS null inputs, so every null-sig doc would land in the
      // same per-band bucket — an O(n_null^2) all-pairs blowup of
      // garbage candidates on crawl data where null text is routine
      // (the md5 variant filters identically)
      .filter(col("sig").isNotNull)
    // the k-long signature is DROPPED before the band fan-out: the
    // bucket exchange ships (doc_id, band, bucket) only — k x 8 bytes
    // x bands narrower than carrying the signature through (measured
    // 1.1 GB -> tens of MB at a 16x sf0.1 corpus once the frame
    // outgrows AQE's broadcast threshold). Signatures re-attach to the
    // candidate PAIRS (a tiny frame) afterwards; the signature
    // expression re-evaluates on those two map-side joins — CPU
    // scales out at 100 TB, the bucket shuffle does not.
    val banded = Banding.stage(Banding.explode(sig, col("doc_id"),
      transform(sequence(lit(0), lit(bands - 1)),
        b => hash(slice(col("sig"), b * rows + 1, lit(rows)), b))), maxBucket)
    val cand = Banding.pairs(banded, "doc_id").distinct()
    Banding.attach(cand, sig, "doc_id")
      .select(col("id_a"), col("id_b"),
        (aggregate(
          zip_with(col("a_sig"), col("b_sig"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / k).as("est_jaccard"))
      // one row per pair even when idCol is NOT unique in the input:
      // `sig` carries one row per input row, so the re-attach joins
      // above multiply duplicated ids (2x2 rows per pair of duplicated
      // ids) — this collapse restores the pre-refactor CARDINALITY
      // contract. Estimate SEMANTICS for duplicated ids remain
      // per-copy (max over copies), not the merged-shingle-set
      // signature a groupBy-built signature would produce — unique
      // ids are the documented precondition for exact parity with
      // [[minHashCandidatesMd5]]. With unique ids this is a no-op on
      // a pair-sized frame (map-side combinable, shuffles the frame
      // the caller consumes anyway).
      .groupBy("id_a", "id_b")
      .agg(max(col("est_jaccard")).as("est_jaccard"))
  }

  /** SimHash candidate pairs: 4 x 16-bit bands of the 64-bit simhash.
    * The pigeonhole GUARANTEE covers Hamming distance <= 3 (4 bands:
    * at most 3 differing bits cannot touch all four); pairs at
    * distance 4..maxHamming are found only when their differing bits
    * leave some band intact — overwhelmingly likely for near-dups
    * (differing bits cluster on few token votes) but NOT certain, the
    * standard LSH recall trade. The output is the candidate pairs
    * within maxHamming, not a proof of completeness beyond distance
    * 3; use [[simHashCandidatesMd5]]'s replayable twin plus the q103
    * recall-law fixture when measured recall matters. */
  def simHashCandidates(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 8): DataFrame = {
    val sh = df.select(col(idCol).as("doc_id"),
      simhash64(tokensOf(col(textCol))).as("sh"))
    // the simhash rides the band table: the Hamming score is taken per
    // colliding band row, so duplicated ids score per copy
    val banded = Banding.stage(Banding.explode(sh, col("doc_id"),
      array((0 until 4).map(b =>
        shiftright(col("sh"), b * 16).bitwiseAND(lit(0xFFFFL))): _*),
      col("sh")))
    Banding.pairs(banded, "doc_id", "sh")
      .select(col("id_a"), col("id_b"),
        bit_count(col("a_sh").bitwiseXOR(col("b_sh"))).cast("long").as("hamming"))
      .groupBy("id_a", "id_b")
      .agg(min(col("hamming")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------- cross-engine-replayable MinHash LSH

  /** MinHash + LSH banding with every hash replayable in any engine
    * with md5 — the cross-engine PROOF variant of
    * [[minHashCandidates]]. The production op hashes shingles with
    * xxhash-class native expressions (fast, but nothing outside this
    * JVM reproduces the bits); here "permutation" i is the
    * lexicographic MIN over shingles of the 16-hex-digit prefix of
    * md5(i || '#' || shingle) — fixed-width lowercase hex compares
    * monotonically with its value, so the min IS the numeric min, and
    * any SQL engine derives the identical signature, bands, candidate
    * pairs and Jaccard estimates. Same algebra, auditable bits.
    *
    * Scale shape is unchanged from the production variant: signature =
    * one combinable groupBy over exploded shingles (k mins travel as
    * k×16-byte partials), banding is a map-only explode of `bands`
    * digest rows, candidates come from the (band, bucket) equi-join —
    * never all pairs. k md5 calls per shingle instead of one hash + k
    * mixes is the price of replayability; pay it in audits, not in the
    * hot path.
    *
    * Returns (id_a, id_b, n_equal, est_jaccard) for pairs sharing >= 1
    * of `bands` buckets (id_a < id_b, deduped). */
  /** All k md5-permutation minhash minima of a shingle array, in ONE
    * native pass — permutation i of gram g is md5("i#" || g), and the
    * minimum is taken over the first 8 digest bytes compared unsigned
    * (identical to comparing the 16-hex-char prefix lexicographically,
    * which is what every SQL replay does). A single reused
    * MessageDigest serves all (gram, permutation) hashes; HOF
    * lambda spellings of the same computation evaluate interpreted
    * and measured ~2x slower, and the explode+groupBy spelling pays a
    * shuffle — this is the [[WordNGrams]] treatment for the signature
    * hot path. Returns array<string> of k 16-hex-char minima. */
  case class MinHashMd5Minima(grams: Expression, k: Int)
      extends graft.functions.GeoExpr {
    require(k >= 1, "minhash needs k >= 1")
    override def children: Seq[Expression] = Seq(grams)
    override def dataType: DataType = ArrayType(StringType)
    // per-expression, not per-row: this is the signature hot path, and
    // rebuilding k small byte arrays per document was pure GC churn
    @transient private lazy val prefixes: Array[Array[Byte]] =
      (0 until k).map(i => s"$i#".getBytes("UTF-8")).toArray
    override protected def evalNotNull(a: Array[Any]): Any = {
      import org.apache.spark.unsafe.types.UTF8String
      val arr = a(0).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = arr.numElements()
      if (n == 0) return null // mirrors explode-of-empty: no signature
      val md = java.security.MessageDigest.getInstance("MD5")
      val mins = Array.ofDim[Byte](k, 8)
      var first = true // first gram populates every slot unconditionally
      var g = 0
      while (g < n) {
        val gb = arr.getUTF8String(g).getBytes
        var i = 0
        while (i < k) {
          md.reset()
          md.update(prefixes(i))
          md.update(gb)
          val d = md.digest()
          // unsigned compare of the first 8 digest bytes == lexicographic
          // compare of the 16-hex-char prefix
          if (first || unsignedLess(d, mins(i))) {
            System.arraycopy(d, 0, mins(i), 0, 8)
          }
          i += 1
        }
        first = false
        g += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        mins.map(m => UTF8String.fromString(
          m.map(b => f"${b & 0xFF}%02x").mkString): Any))
    }
    private def unsignedLess(d: Array[Byte], m: Array[Byte]): Boolean = {
      var i = 0
      while (i < 8) {
        val a = d(i) & 0xFF
        val b = m(i) & 0xFF
        if (a != b) return a < b
        i += 1
      }
      false
    }
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression = copy(grams = c(0))
  }

  /** The md5-replayable minhash signature table: (doc_id, m0..m{k-1}),
    * permutation i = md5("i#" || gram) truncated to 16 hex chars.
    * Shared by the self-join candidates (q173) and the cross-corpus
    * decontamination (q192) — both corpora MUST hash through the same
    * permutations for signature agreement to estimate Jaccard.
    *
    * MAP-ONLY: a signature is a pure function of its own document
    * ([[MinHashMd5Minima]] computes all k minima in one native pass),
    * so there is NO (doc, gram) explode and NO shuffle — which is
    * also what makes the op streaming-safe: a stateless select works
    * on any stream. Minima are byte-identical to the explode+groupBy
    * spelling, so every SQL replay is unchanged. */
  private def minHashMd5SigTable(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int, k: Int): DataFrame = {
    val sig = toCol(MinHashMd5Minima(
      toExpr(shinglesOf(tokensOf(col(textCol)), shingleN)), k))
    // NULL text/minima rows dropped — the explode spelling's contract
    df.select(col(idCol).as("doc_id"), sig.as("__sig"))
      .filter(col("__sig").isNotNull)
      .select(col("doc_id") +:
        (0 until k).map(i => col("__sig")(i).as(s"m$i")): _*)
  }

  /** (doc_id, band, bucket digest) — the narrow banded frame. */
  private def md5Banded(sig: DataFrame, rows: Int, bands: Int): DataFrame =
    Banding.explode(sig, col("doc_id"), array((0 until bands).map(b =>
      md5(concat_ws("|", (0 until rows).map(r => col(s"m${b * rows + r}")): _*)
        .cast("binary"))): _*))

  def minHashCandidatesMd5(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val rows = Banding.rows(k, bands)
    // the map-only sig has no shuffle exchange for Spark to reuse, so
    // without materialization the banded self-join's four references
    // would recompute the md5 pass 4x — the same single-pass fix as
    // simHashCandidatesMd5's checkpoint. Materialize.stage: lazy
    // localCheckpoint by default; spark.graft.stage.mode lets services
    // opt into persist/reliable-checkpoint lifecycles.
    val sig = Materialize.stage(
      minHashMd5SigTable(df, idCol, textCol, shingleN, k))
    val cand = Banding.pairs(Banding.stage(md5Banded(sig, rows, bands)),
      "doc_id").distinct()
    val nEqual = (0 until k)
      .map(i => when(col(s"a_m$i") === col(s"b_m$i"), 1).otherwise(0))
      .reduce(_ + _)
    Banding.attach(cand, sig, "doc_id")
      .select(col("id_a"), col("id_b"), nEqual.cast("long").as("n_equal"))
      .withColumn("est_jaccard", round(col("n_equal") / k.toDouble, 6))
  }

  /** Cross-corpus FUZZY decontamination: for every corpus document,
    * its best minhash match in a reference corpus (held-out benchmark,
    * eval set, a previous training run) — the near-duplicate
    * complement of exact n-gram decontamination
    * (TrainingOps.ngramOverlap): a paraphrased or lightly-perturbed
    * test item shares most shingles, lands in a common LSH band, and
    * surfaces here; an exact 3-gram containment check can miss it.
    * Both sides hash through the SAME md5 permutations (the q173
    * replayable trio), so the whole decision frame replays in SQL.
    *
    * Output: one row per corpus doc — (doc_id, ref_id, n_equal,
    * est_jaccard), where ref_id is the banded candidate with the most
    * signature agreement (ties by smallest ref id) or NULL with
    * n_equal = 0 when no band collides. Callers drop rows with
    * est_jaccard >= their threshold.
    *
    * 100 TB shape: the reference side is benchmark-sized — its banded
    * frame and signature table broadcast, so the corpus pays one
    * shingle aggregation and map-side joins; nothing corpus-sized
    * shuffles. The per-doc argmax window runs over banded CANDIDATES
    * only (a few rows per contaminated doc, none for clean docs). */
  def crossMinHashContamination(corpus: DataFrame, idCol: String,
      textCol: String, ref: DataFrame, refIdCol: String, refTextCol: String,
      shingleN: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val rows = Banding.rows(k, bands)
    // both sig tables feed two consumers each (banded frame + minima
    // re-attach): materialize so the map-only md5 pass runs once per
    // side (Materialize.stage — spark.graft.stage.mode for lifecycle)
    val csig = Materialize.stage(
      minHashMd5SigTable(corpus, idCol, textCol, shingleN, k))
    val rsig = Materialize.stage(
      minHashMd5SigTable(ref, refIdCol, refTextCol, shingleN, k))
    val cand = Banding.matches(md5Banded(csig, rows, bands), "doc_id",
        broadcast(md5Banded(rsig, rows, bands)), "doc_id")
      .select(col("__l").as("doc_id"), col("__r").as("ref_id"))
      .distinct()
    val rs = rsig.select(col("doc_id").as("ref_id") +:
      (0 until k).map(i => col(s"m$i").as(s"r_m$i")): _*)
    val nEqual = (0 until k)
      .map(i => when(col(s"m$i") === col(s"r_m$i"), 1).otherwise(0))
      .reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("n_equal").desc, col("ref_id"))
    val best = cand.join(broadcast(rs), Seq("ref_id")).join(csig, Seq("doc_id"))
      .select(col("doc_id"), col("ref_id"), nEqual.cast("long").as("n_equal"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    corpus.select(col(idCol).as("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ref_id"),
        coalesce(col("n_equal"), lit(0L)).as("n_equal"))
      .withColumn("est_jaccard", round(col("n_equal") / k.toDouble, 6))
  }

  /** Per-row best-benchmark-match: given a document's k minhash
    * minima, find the banded benchmark candidate with the most
    * signature agreement (ties by smallest ref id) — the ENTIRE
    * cross-decontamination decision as one stateless scalar
    * expression. The benchmark's banded index rides inside the
    * expression (benchmark-sized by contract — the same
    * serialize-with-the-task pattern as the polygon handle's
    * CellSetHolder), so evaluation is a pure map: no join, no
    * aggregation, no shuffle — and therefore APPEND-MODE STREAMING
    * SAFE with no state or watermark. Returns
    * struct(ref_id, n_equal), or NULL when no band collides. */
  case class BestBandMatch(sig: Expression,
      refSigs: Array[(Long, Array[String])], bands: Int)
      extends graft.functions.GeoExpr {
    override def children: Seq[Expression] = Seq(sig)
    override def dataType: DataType = StructType(Seq(
      StructField("ref_id", LongType), StructField("n_equal", LongType)))
    // (band, joined band minima) -> ref indices, built once per
    // expression instance (re-serialized per task like any literal)
    @transient private lazy val bandIndex: java.util.HashMap[String, java.util.ArrayList[Int]] = {
      val m = new java.util.HashMap[String, java.util.ArrayList[Int]]()
      val rows = refSigs.headOption.map(_._2.length / bands).getOrElse(0)
      refSigs.zipWithIndex.foreach { case ((_, s), idx) =>
        (0 until bands).foreach { b =>
          val key = s"$b#${s.slice(b * rows, (b + 1) * rows).mkString("|")}"
          m.computeIfAbsent(key, _ => new java.util.ArrayList[Int]()).add(idx)
        }
      }
      m
    }
    override protected def evalNotNull(a: Array[Any]): Any = {
      val arr = a(0).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val k = arr.numElements()
      val rows = k / bands
      val s = Array.tabulate(k)(i => arr.getUTF8String(i).toString)
      val cands = new java.util.TreeSet[Int]()
      var b = 0
      while (b < bands) {
        val key = s"$b#${s.slice(b * rows, (b + 1) * rows).mkString("|")}"
        val hit = bandIndex.get(key)
        if (hit != null) hit.forEach(i => { cands.add(i); () })
        b += 1
      }
      if (cands.isEmpty) return null
      var bestId = Long.MaxValue
      var bestEq = -1
      cands.forEach { idx =>
        val (rid, rs) = refSigs(idx)
        var eq = 0
        var i = 0
        while (i < k) { if (s(i) == rs(i)) eq += 1; i += 1 }
        if (eq > bestEq || (eq == bestEq && rid < bestId)) {
          bestEq = eq; bestId = rid
        }
      }
      org.apache.spark.sql.catalyst.InternalRow(bestId, bestEq.toLong)
    }
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression = copy(sig = c(0))
  }

  /** Factory for the streaming decontamination probe: collects the
    * reference corpus's signatures ONCE (benchmark-sized), returns a
    * text -> struct(ref_id, n_equal) Column function evaluating
    * [[BestBandMatch]] over [[MinHashMd5Minima]] — semantics
    * identical to [[crossMinHashContamination]]'s banded argmax, as a
    * pure map usable in any streaming select. */
  def contaminationProbe(ref: DataFrame, refIdCol: String,
      refTextCol: String, shingleN: Int = 3, k: Int = 16,
      bands: Int = 4, maxRefDocs: Long = 100000L): Column => Column = {
    Banding.rows(k, bands)
    // the embedded-signature expression carries LONG ref ids
    // (BestBandMatch's output struct is typed) — a non-long id column
    // would otherwise surface as a ClassCastException deep in the
    // collect, where the batch operator (id-type agnostic) succeeds
    require(ref.schema(refIdCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"contaminationProbe needs a LONG $refIdCol (BestBandMatch " +
        "carries typed long ref ids); cast string/int benchmark ids " +
        "first, or use crossMinHashContamination, which is id-type " +
        "agnostic")
    // loud contract failure BEFORE the collect: the reference rides
    // inside the expression (benchmark-sized by design); a corpus-sized
    // reference would otherwise surface as a driver OOM / giant task
    // binary. The guard is LIMIT-bounded — counting a corpus-sized
    // reference in full would itself be the warehouse-scale scan this
    // guard exists to refuse. Payload math behind the default: each
    // doc ships id + k 16-hex minima (~1.3 KB of JVM strings at
    // k=16), so 100k docs ~ 130 MB of task closure — already at the
    // edge of comfortable; raise deliberately, never casually.
    val cap = math.min(maxRefDocs, (Int.MaxValue - 1).toLong)
    val nRef = ref.limit(cap.toInt + 1).count()
    require(nRef <= maxRefDocs,
      s"contaminationProbe embeds the reference in the expression and " +
        s"needs a benchmark-sized one: got > maxRefDocs=" +
        s"$maxRefDocs docs — use crossMinHashContamination for large " +
        "references")
    val refSigs = minHashMd5SigTable(ref, refIdCol, refTextCol, shingleN, k)
      .collect()
      .map(r => (r.getLong(0), Array.tabulate(k)(i => r.getString(i + 1))))
    text => toCol(BestBandMatch(
      toExpr(toCol(MinHashMd5Minima(
        toExpr(shinglesOf(tokensOf(text), shingleN)), k))),
      refSigs, bands))
  }

  /** SimHash with every bit replayable in any engine with md5 — the
    * cross-engine PROOF variant of [[simhash64]], completing the trio
    * with [[minHashCandidatesMd5]]. Token t's 64-bit hash is read
    * DIGIT-WISE from md5(t): hex digit j contributes 4 bits, extracted
    * by integer div/mod on the digit's value — the full 64-bit word is
    * NEVER materialized (unsigned 2^63..2^64-1 values would wrap in a
    * Spark long and ERROR in a DuckDB BIGINT; per-nibble arithmetic
    * sidesteps both). Per-bit votes sum +1/-1 over tokens (weighted by
    * multiplicity, like the production expression), and the signature
    * re-assembles as 16 hex digits from the 4-bit majority nibbles.
    * Banding falls out for free: band b IS substring(sig, 4b+1, 4)
    * (16 bits), so near-dups within Hamming distance ~3 share a band.
    *
    * Scale shape: one explode + one (doc, digit-position) aggregate —
    * combinable — then a map-only nibble assembly; the candidate join
    * is the same (band, bucket) equi-join as the production variant.
    *
    * Returns (doc_id, sig) — join on 4-char substrings for candidates,
    * or compare signatures digit-wise for Hamming distance. */
  def simHashMd5Sig(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(tokensOf(col(textCol))).as("w"))
      .withColumn("hx", md5(col("w").cast("binary")))
    // ONE typed imperative vote-tally aggregate (r19, guide §4) —
    // value-identical to the previous 16-digit-projection + 64-vote +
    // 64-sum column spelling (SimHashAgg's scaladoc carries the
    // parity argument), still map-side combinable, but with NO
    // 64-wide whole-stage codegen unit: that unit's Janino compile
    // recurred on every execution (~1.7 s of q175's hot stage on a
    // WARM JVM — the earlier staged-projection fix had only shrunk
    // it). An earlier (doc, token, digit, bit)-exploded spelling
    // shuffled 64 rows per token — 160M rows at sf0.1; the aggregate
    // keeps the explode at token granularity.
    toks.groupBy("doc_id")
      .agg(graft.functions.SimHashAgg.sigOf(col("hx")).as("sig"))
  }

  /** Digit-wise Hamming distance between two 16-hex-char signatures —
    * the NATIVE form of the 16-digit instr/div/mod expression tree the
    * candidate join used to carry (r19 VERDICT Next #6; the same
    * guide-§4 GeoExpr treatment as the r19 SRP/ADC natives). Per hex
    * position j (1-based 1..16) the replaced spelling computed
    *   v = instr('0123456789abcdef', substring(sig, j, 1)) - 1
    * for each side, XORed the two values and summed the 4 bit terms
    *   (x % 2) + int(x / 2.0) % 2 + int(x / 4.0) % 2 + int(x / 8.0) % 2
    * — ~200 expression nodes per candidate row. This expression
    * replicates that arithmetic EXACTLY, including the degenerate
    * paths that never fire on real signatures: a position past the
    * string's end contributes digit value 0 (instr(haystack, '') = 1),
    * a non-hex character contributes -1 (instr = 0), and the Java
    * int remainder / double-divide-then-truncate pair is the same
    * operation sequence Catalyst's Remainder and Cast(double -> int)
    * perform — so the output is bit-identical on ANY input, not just
    * the well-formed md5 hex the operator feeds it. (Position lookup
    * uses String.charAt — identical to substring's code-point slicing
    * for the BMP characters any hex/ASCII signature consists of.) */
  case class HexHamming16(a: Expression, b: Expression) extends GeoExpr {
    override def children: Seq[Expression] = Seq(a, b)
    override def dataType: DataType = LongType
    private[this] final val Table = "0123456789abcdef"
    private def digit(s: String, j: Int): Int =
      if (j >= s.length) 0 else Table.indexOf(s.charAt(j))
    override protected def evalNotNull(v: Array[Any]): Any = {
      val sa = v(0).toString
      val sb = v(1).toString
      var ham = 0
      var j = 0
      while (j < 16) {
        val x = digit(sa, j) ^ digit(sb, j)
        ham += (x % 2) + ((x / 2.0).toInt % 2) + ((x / 4.0).toInt % 2) +
          ((x / 8.0).toInt % 2)
        j += 1
      }
      java.lang.Long.valueOf(ham.toLong)
    }
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression = copy(a = c(0), b = c(1))
  }

  /** Candidate pairs from [[simHashMd5Sig]] signatures: 4 x 16-bit
    * bands (4 hex chars each), Hamming distance computed digit-wise —
    * same algebra as the production [[simHashCandidates]], fully
    * SQL-replayable. */
  def simHashCandidatesMd5(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 8): DataFrame = {
    // lazy local checkpoint: the banded self-join references the
    // signature table on BOTH sides, and Spark plans the small side as
    // a broadcast — a broadcast exchange and a shuffle exchange never
    // unify under exchange reuse, so without this the full
    // explode + md5 + 64-sum signature pass executed twice per run
    // (measured: the pass is ~half the operator's wall). The lazy
    // checkpoint materializes the one-row-per-doc sig table on first
    // use and both sides read the stored blocks; lineage truncation is
    // a bonus for the long battery plans. Lifecycle: the default lazy
    // localCheckpoint frees on driver GC (the Bench loop GCs
    // periodically); a service looping over many corpora can set
    // spark.graft.stage.mode=persist|checkpoint for explicit /
    // fault-tolerant lifecycles (Materialize.stage).
    // repartition-before-stage (r19 pqIndex treatment, guide §2; r19
    // VERDICT Next #3): AQE coalesces the tiny per-doc signature
    // aggregate to ONE post-shuffle partition, so the staged blocks —
    // and the banding explode + (band, bucket) exchange map feeding the
    // candidate join — ran as a single task with the rest of the
    // machine idle (measured: 0.6-1.0 s of q175's residue at sf0.1).
    // The extra exchange moves only the narrow (doc_id, 16-char sig)
    // table — noise next to the signature pass it parallelizes.
    val sig = Materialize.stage(simHashMd5Sig(df, idCol, textCol)
      .repartition(df.sparkSession.sparkContext.defaultParallelism))
    val banded = Banding.stage(Banding.explode(sig, col("doc_id"),
      array((0 until 4).map(b => substring(col("sig"), b * 4 + 1, 4)): _*),
      col("sig")))
    // digit-wise Hamming: per hex position, popcount of (va XOR vb) —
    // ONE native expression node ([[HexHamming16]], bit-identical to
    // the former 16-digit instr/div tree) instead of ~200 per row
    val hamming = toCol(HexHamming16(
      toExpr(col("a_sig")), toExpr(col("b_sig"))))
    Banding.pairs(banded, "doc_id", "sig")
      .select(col("id_a"), col("id_b"), hamming.as("hamming"))
      .groupBy("id_a", "id_b")
      .agg(max(col("hamming")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------- duplicate clusters

  /** SQL-replayable candidate pairs via rare-shingle co-occurrence:
    * (id_a, id_b, n_shared) for document pairs sharing >= `minShared`
    * distinct shingles whose corpus document-frequency is in
    * [2, maxDf]. The df cap is the same non-discriminative-boilerplate
    * guard as [[minHashCandidates]]' maxBucket: a shingle appearing in
    * thousands of documents contributes O(df^2) pair work and no dedup
    * evidence, while true near-dups still share rare shingles. Unlike
    * the MinHash/SimHash generators (engine-internal hash functions),
    * every step here is plain relational algebra, so the whole pipeline
    * through [[connectedComponents]] replays in ANSI SQL — this is the
    * generator the cluster battery query uses for its DuckDB oracle.
    *
    * 100 TB shape: distinct-shingle explode (map-side combinable),
    * one df hash-aggregate, then a self-join whose work is bounded by
    * df^2 <= maxDf^2 per shingle — never all-pairs. */
  /** Distinct shingles of each doc as 64-BIT HASHES: the rare-shingle
    * state/pair machinery never needs the shingle TEXT back, and 8-byte
    * long keys keep every downstream shuffle, sort, semi-join and
    * runtime broadcast digest-only — ~4x narrower than raw 5-gram
    * strings (with string grams the delta slices crossed the 10 MB AQE
    * broadcast threshold at sf0.1 x50 and every "O(delta)" semi-join
    * fell back to a full sort-merge shuffle of the corpus gram table).
    * A 64-bit collision merges two shingles' df counts — 2^-64-scale,
    * at worst perturbing one n_shared by 1. */
  private def gramHashes(d: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame =
    d.select(col(idCol).as("doc_id"),
      explode(array_distinct(shinglesOf(tokensOf(col(textCol)), shingleN)))
        .as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gram"))

  def rareShingleCandidates(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, maxDf: Int = 8, minShared: Int = 2): DataFrame = {
    val grams = gramHashes(df, idCol, textCol, shingleN)
    // df-count via a window instead of agg + join-back: the corpus-wide
    // shingle explode (the expensive part) runs ONCE and the window's
    // gram-shuffle leaves the data partitioned exactly as the self-join
    // below needs it, where the agg+join-back form explodes the corpus
    // a second time for the probe side (measured ~30% faster at
    // sf0.01; at corpus scale it is one full explode+shuffle saved)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("gram")
    val rg = grams.withColumn("df", count(lit(1)).over(w))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select("doc_id", "gram")
    val a = rg.as("a")
    val b = rg.as("b")
    a.join(b, col("a.gram") === col("b.gram") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Connected components over an undirected edge list — the cluster
    * formation every dedup pipeline runs AFTER pair detection (pairs
    * alone can't answer "keep one per duplicate group": near-dup is
    * not transitive, the component closure is).
    *
    * Iterative min-label propagation: each vertex's label becomes the
    * min of its own and its neighbors' labels until a fixpoint, so the
    * component id is the min vertex id in the component —
    * deterministic and partitioning-independent. Converges in
    * O(component diameter) rounds; duplicate graphs are near-cliques
    * (diameter 2-4), so the loop is a handful of rounds in practice.
    * Each round is one shuffle join + one hash aggregate; the round's
    * labels persist and the previous round's cache is released as soon
    * as the convergence check runs. Convergence is detected by the sum
    * of labels (labels only ever decrease, so an unchanged sum IS the
    * fixpoint) — one aggregate, no extra join. For adversarially deep
    * graphs (long chains) the star-contraction variants run in
    * O(log n) rounds; not needed for dedup-shaped graphs, and `maxIter`
    * bounds the loop regardless.
    *
    * Returns (id, component). Vertices = endpoints of `edges`; callers
    * left-join docs against it (absent doc = singleton component). */
  def connectedComponents(edges: DataFrame, srcCol: String = "id_a",
      dstCol: String = "id_b", maxIter: Int = 30): DataFrame = {
    // localCheckpoint, not persist: an iterative algorithm's round-N
    // plan otherwise NESTS the full upstream lineage N times, and
    // Catalyst re-analyzes that whole tree every round — fed by a
    // deep input plan (e.g. the incremental-dedup maintenance chain),
    // ANALYSIS dominated execution ~10x at sf0.1. The checkpoint
    // truncates the logical plan to the materialized blocks, making
    // each round's plan O(1) regardless of input lineage or round
    // count. (On a cluster with failure-tolerance requirements, swap
    // for reliable checkpoint() to a checkpoint dir; blocks are freed
    // by the ContextCleaner once unreferenced.)
    val sym = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .union(edges
        .select(col(dstCol).cast("long").as("src"), col(srcCol).cast("long").as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint()
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("component").cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = prevSum == null // empty edge set: nothing to do
    while (!converged && iter < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("component").as("nc")), "dst")
        .groupBy("src").agg(min("nc").as("nbr_min"))
      val stepped = labels
        .join(nbrMin.withColumnRenamed("src", "id"), Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"))
      // POINTER JUMP (label := label(label)): plain neighbor-min moves
      // a label ONE hop per round, so a diameter-d component needs d
      // rounds — a 40-vertex path would silently exhaust maxIter with
      // wrong labels. Jumping compresses through the current label's
      // own label each round, so remaining depth HALVES: log2(diameter)
      // rounds, and maxIter = 30 covers diameter 2^30. Every label is
      // a vertex id present in `stepped` (labels start as ids and move
      // by min over them), so the self-join always matches; the
      // coalesce is belt-and-braces.
      val next = stepped
        .join(stepped.select(col("id").as("component"),
          col("component").as("__cc2")), Seq("component"), "left")
        .select(col("id"),
          coalesce(col("__cc2"), col("component")).as("component"))
        .localCheckpoint()
      val nextSum = labelSum(next)
      // free the superseded round's checkpoint blocks NOW: they are
      // RDD-level persisted and otherwise live until the driver GCs
      // the dataframe and ContextCleaner runs — long iterative runs
      // (or many CC calls in one JVM) would accumulate executor
      // storage. Dataset.unpersist is a NO-OP here (it clears
      // cache-manager entries only; localCheckpoint never registers
      // one), so the release goes through the underlying LogicalRDD.
      // `next` no longer references the old blocks (localCheckpoint
      // truncated its plan to its own), so this is safe.
      val superseded = labels
      labels = next
      Materialize.release(superseded)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    Materialize.release(sym)
    // unreachable below diameter 2^maxIter thanks to the pointer jump
    // — but silently returning PARTIAL components would poison every
    // downstream dedup decision, so the cap is loud, never quiet
    require(converged,
      s"connectedComponents did not converge within maxIter=$maxIter " +
        "rounds — raise maxIter")
    labels
  }

  // ------------------------------------------------ repeated passages

  /** Repeated-PASSAGE detection — exact substring-level duplication
    * across documents (the boilerplate/licence-block/navigation-chrome
    * signal that document-level dedup cannot see: two different pages
    * sharing one large copied block).
    *
    * Segmentation is CONTENT-DEFINED, not position-defined: a token is
    * a segment boundary iff its md5 starts with '0' or '1' (a 1-in-8
    * value-only test, ~8-token expected segments), so an identical
    * token run segments identically WHEREVER it sits in a document —
    * fixed-offset windows provably cannot do this (the same passage at
    * byte offset 100 in one doc and 900 in another never aligns). The
    * interior segments of any shared block >= a few expected segment
    * lengths hash equal across documents; a segment hash under >=
    * `minDocs` distinct documents is a repeated passage. This is the
    * CDC trick rsync/dedup storage uses, applied at the token level.
    *
    * Returns (passage_md5, n_tokens, n_docs, n_occurrences); join back
    * on the hash to locate or excise occurrences.
    *
    * 100 TB shape: token explode -> one per-doc window cumsum (shuffle
    * keyed by doc) -> per-(doc, segment) aggregate -> digest-only
    * passage aggregate (the segment TEXT is hashed away before the
    * second shuffle; only (hash, counts) travel). Both aggregates are
    * map-side combinable; nothing is quadratic. */
  def repeatedPassages(docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 6, minDocs: Int = 2): DataFrame = {
    val toks = docs.select(col(idCol),
      posexplode(tokensOf(col(textCol))).as(Seq("pos", "w")))
    val isBoundary = substring(md5(col("w").cast("binary")), 1, 1)
      .isin("0", "1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
    val segmented = toks.withColumn("seg",
      sum(when(isBoundary, 1L).otherwise(0L)).over(w))
    val segments = segmented
      .groupBy(col(idCol), col("seg"))
      .agg(count(lit(1)).as("n_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w"))).as("ptext"))
      .filter(col("n_tokens") >= minTokens)
    segments
      .select(col(idCol), col("n_tokens"),
        md5(col("ptext").cast("binary")).as("passage_md5"))
      .groupBy("passage_md5", "n_tokens")
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)
  }

  // --------------------------------------------- duplicated char spans

  /** Exact duplicated-substring SPANS per document — the
    * character-level complement of [[repeatedPassages]], after the
    * ExactSubstr dedup of Lee et al. 2021 (arXiv:2107.06499: a
    * suffix-array pass marking every >= 50-char substring that recurs
    * in the corpus). The suffix array is replaced by the equivalent
    * relational construction: EVERY position contributes its `l`-char
    * gram; a gram whose hash occurs >= 2 times anywhere in the corpus
    * marks all its sites as duplicated, and per document the marked
    * [p, p+l-1] intervals are merged (gaps-and-islands) into maximal
    * spans. Exactness: a duplicated run of length >= l is found at all
    * of its occurrences, wherever they sit (position-STRIDED
    * subsampling cannot promise this — two copies of a run at offsets
    * differing by a non-multiple of the stride anchor out of phase and
    * never hash-collide; that is precisely why Lee et al. build suffix
    * arrays, and why the subsampled variant in this library is the
    * content-defined [[repeatedPassages]] instead). Positions and
    * merges are pure integer arithmetic — bit-identical in any engine.
    *
    * Returns one row per document that HAS duplicated spans:
    * (idCol, n_spans, n_dup_anchors, dup_chars, dup_frac) — anti-join
    * or threshold on dup_frac to excise (the paper drops the span, not
    * the document).
    *
    * 100 TB shape: the per-position explode is map-only (fan-out =
    * doc length, the same row volume as any tokenizing pass) and the
    * grams leave the scan as 16-byte digests, never text; the digest
    * count is map-side combinable, so the count shuffle carries one
    * (digest, partial) per distinct gram per partition — boilerplate,
    * the very thing being hunted, collapses in the combiner. The
    * semi-join back prunes to duplicated sites before the only
    * doc-keyed shuffle (the island merge). Nothing quadratic, no
    * driver state. When even the map-side fan-out is too much, run
    * [[repeatedPassages]] (content-defined segments, ~1/8 the rows)
    * and reserve this pass for its hits. */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      l: Int = 40): DataFrame =
    duplicateSpans(duplicateSpanList(docs, idCol, textCol, l), idCol)

  /** Summary form over a precomputed [[duplicateSpanList]] (lets a
    * caller that also excises pay for the span discovery once). */
  def duplicateSpans(spans: DataFrame, idCol: String): DataFrame =
    spans
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_spans"),
        sum(col("n_anchors")).as("n_dup_anchors"),
        sum(col("e") - col("s") + 1).as("dup_chars"),
        max(col("doc_len")).as("__len"))
      .select(col(idCol), col("n_spans"), col("n_dup_anchors"),
        col("dup_chars"),
        round(col("dup_chars").cast("double") / col("__len"), 6).as("dup_frac"))

  /** The merged duplicated spans themselves — (idCol, s, e, n_anchors,
    * doc_len), one row per maximal span (1-based inclusive [s, e]).
    * [[duplicateSpans]] summarizes this; [[exciseDuplicateSpans]] cuts
    * the spans back out of the text. */
  /** `onlyDocs` restricts the OUTPUT to documents matching the
    * predicate (over the input columns): the anchor pass and the
    * global duplicate-count stay CORPUS-WIDE — a restricted doc's
    * spans depend on grams it shares with ANY document — but the dup
    * semi-join and the per-doc island merge run only for matching
    * docs. Output rows are byte-identical to filtering the full result
    * by the same predicate; the merge-stage cost scales with the
    * stratum instead of the corpus (the q177 proof-cost trim).
    * `fastDigest` swaps the anchor digest for xxhash64 — see
    * [[anchorsOf]]; span output is digest-free either way. */
  def duplicateSpanList(docs: DataFrame, idCol: String, textCol: String,
      l: Int = 40, onlyDocs: Option[Column] = None,
      fastDigest: Boolean = false): DataFrame = {
    require(l >= 2, "need l >= 2")
    val anchors = anchorsOf(docs, idCol, textCol, l, fastDigest)
    val dupHashes = anchors.groupBy("h").agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= 2).select("h")
    // the per-character anchor pass dominates this operator's cost; a
    // predicate over PER-DOCUMENT-constant columns (the id; __len)
    // filters the already-computed anchors instead of re-anchoring the
    // filtered docs — same rows, one anchor pass instead of two.
    // ONLY per-doc-constant columns are safe to shortcut: "p"/"h" vary
    // per anchor, and filtering anchors by them would silently drop
    // anchor ROWS instead of documents. Predicates over anything else
    // (dropped text columns included) take the re-anchor fallback,
    // where a bogus column still fails loudly at analysis.
    val anchorCols = Set(idCol, "__len")
    val scoped = onlyDocs.fold(anchors) { p =>
      val refs = org.apache.spark.sql.graftbridge.Bridge.expression(p).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.last
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
          a.name
      }
      if (refs.nonEmpty && refs.forall(anchorCols.contains)) anchors.filter(p)
      else anchorsOf(docs.filter(p), idCol, textCol, l, fastDigest)
    }
    islandMerge(scoped.join(dupHashes, Seq("h"), "left_semi"), idCol, l)
  }

  /** Every position's l-gram as (idCol, __len, p, h). The default
    * digest is a 16-hex-digit md5 prefix: half the shuffle width of
    * full md5, still replayable in any engine; a 64-bit collision
    * (~n²/2^65) merges two distinct grams with probability far below
    * the float-format noise floor of everything else in the battery.
    * `fastDigest` switches to xxhash64 — a LONG digest at a fraction
    * of md5's per-position cost (this pass touches every CHARACTER of
    * the corpus, so the hash constant is the pass) — for consumers
    * that never replay the internal state cross-engine: span outputs
    * carry positions, not digests, so any collision-free 64-bit hash
    * yields byte-identical spans; only a caller that audits the anchor
    * TABLE itself in SQL needs the md5 form. */
  private def anchorsOf(docs: DataFrame, idCol: String, textCol: String,
      l: Int, fastDigest: Boolean): DataFrame = {
    // two-level explode: a single sequence(1, len) would materialize
    // an 8-bytes-per-character array PER ROW before exploding — a
    // 100 MB document allocates ~800 MB for one row (and sequence
    // hard-fails past 2^31 elements). Chunking bounds the per-row
    // allocation at 64 Ki positions regardless of document size; the
    // emitted (position, digest) rows are identical.
    val chunk = 65536L
    docs.select(col(idCol), col(textCol).as("__t"),
        length(col(textCol)).cast("long").as("__len"))
      .filter(col("__len") >= l)
      .select(col(idCol), col("__len"), col("__t"),
        explode(sequence(lit(0L),
          floor((col("__len") - lit(l.toLong)) / chunk).cast("long")))
          .as("__c"))
      .select(col(idCol), col("__len"), col("__t"),
        explode(sequence(col("__c") * chunk + 1,
          least((col("__c") + 1) * chunk, col("__len") - (l - 1)))).as("p"))
      .withColumn("h",
        if (fastDigest) xxhash64(expr(s"substring(__t, p, $l)"))
        else substring(md5(expr(s"substring(__t, p, $l)").cast("binary")), 1, 16))
      .drop("__t", "__c")
  }

  /** Gaps-and-islands merge of duplicated anchors into maximal spans
    * — input (idCol, __len, p), output (idCol, s, e, n_anchors,
    * doc_len). */
  private def islandMerge(dupAnchors: DataFrame, idCol: String,
      l: Int): DataFrame = {
    val dup = dupAnchors.withColumn("e", col("p") + (l - 1))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("p")
    val prevMax = max(col("e")).over(
      w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    dup
      .withColumn("__brk",
        when(prevMax.isNull || col("p") > prevMax + 1, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__brk")).over(w))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("p")).as("s"), max(col("e")).as("e"),
        count(lit(1)).as("n_anchors"), max(col("__len")).as("doc_len"))
      .drop("__island")
  }

  /** Span EXCISION — the second half of the ExactSubstr dedup: cut
    * every duplicated span out of every document and stitch the
    * remainder back together (aggressive mode: all occurrences go,
    * including the first — threshold on [[duplicateSpans]].dup_frac
    * first if a keep-one policy is wanted). Each doc's keep-segments
    * are the gaps between its merged spans (a lag window over span
    * starts) plus the tail after the last span; reassembly is an
    * ordered in-group concat. Documents with no duplicated spans pass
    * through unchanged.
    *
    * Returns one row per input document:
    * (idCol, clean_len, removed_chars, clean_md5).
    *
    * 100 TB shape: on top of [[duplicateSpanList]]'s cost this adds
    * only doc-keyed window/aggregate work on the few docs that HAVE
    * spans (a semi-join-sized population), one broadcast-friendly join
    * back to the text, and a left join for the untouched majority. */
  def exciseDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      l: Int = 40): DataFrame =
    exciseDuplicateSpans(docs, idCol, textCol,
      duplicateSpanList(docs, idCol, textCol, l))

  /** Excision over a precomputed [[duplicateSpanList]]. */
  def exciseDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame =
    excisedText(docs, idCol, textCol, spans)
      .select(col(idCol),
        length(col("clean_text")).cast("long").as("clean_len"),
        (col("__orig_len") - length(col("clean_text"))).cast("long")
          .as("removed_chars"),
        md5(col("clean_text").cast("binary")).as("clean_md5"))

  /** The excised documents THEMSELVES — (idCol, clean_text,
    * __orig_len) for every input doc (span-free docs pass through
    * unchanged). The downstream form for composing excision with
    * scoring/dedup passes; [[exciseDuplicateSpans]] is its digest
    * summary. */
  def excisedText(docs: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    val base = docs.select(col(idCol), col(textCol).as("__t"),
      length(col(textCol)).cast("long").as("__len"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("s")
    val gaps = spans
      .withColumn("__prev_e", coalesce(lag(col("e"), 1).over(w), lit(0L)))
      .join(base, Seq(idCol))
      .select(col(idCol), col("s").as("__ord"),
        expr("substring(__t, __prev_e + 1, s - __prev_e - 1)").as("__seg"))
    val tails = spans.groupBy(idCol).agg(max(col("e")).as("__max_e"))
      .join(base, Seq(idCol))
      .select(col(idCol), lit(Long.MaxValue).as("__ord"),
        expr("substring(__t, __max_e + 1)").as("__seg"))
    val cleaned = gaps.union(tails)
      .groupBy(idCol)
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("__ord"), col("__seg")))),
        x => x.getField("__seg"))).as("__clean"))
    base.join(cleaned, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__clean"), col("__t")).as("clean_text"),
        col("__len").as("__orig_len"))
  }

  // ----------------------------------------- incremental span state

  /** The stored ExactSubstr state a periodic-crawl pipeline keeps
    * between runs: the per-position anchor table, the global gram
    * counts, and the merged duplicated spans. The same O(delta)
    * contract as [[ShingleState]]: maintenance re-anchors text ONLY
    * for the delta, and every big-table touch is a broadcast-filtered
    * scan. */
  final case class SpanState(anchors: DataFrame, counts: DataFrame,
      spans: DataFrame, internals: Seq[DataFrame] = Nil)
      extends IncrementalState {
    def frames: Seq[DataFrame] = Seq(anchors, counts, spans)
  }

  /** Full-run state build — spans identical to
    * [[duplicateSpanList]]. `fastDigest`: see [[anchorsOf]] (a stored
    * warehouse state has no cross-engine-replay obligation, so the
    * fast digest is the production default-in-spirit; md5 stays the
    * parameter default for continuity with the replayable q172
    * surface). */
  def spanState(docs: DataFrame, idCol: String, textCol: String,
      l: Int = 40, fastDigest: Boolean = false): SpanState = {
    spanStateFromAnchors(anchorsOf(docs, idCol, textCol, l, fastDigest),
      idCol, l)
  }

  /** Rebuild the derived state tables (counts, spans) from a stored
    * anchor table — (idCol, __len, p, h), the [[SpanState]].anchors
    * schema. Two production uses: (a) the recovery path — the anchor
    * table is the expensive per-character artifact, and counts/spans
    * re-derive from it without touching text; (b) corpus SLICES —
    * anchors are strictly per-document (no cross-document term in
    * [[anchorsOf]]), so `anchorsOf(docs.filter(p)) ==
    * anchorsOf(docs).filter(p)` for any per-document predicate
    * (spec-pinned: "anchors decompose per document"), and several
    * corpus views can share ONE anchor pass, each rebuilding its own
    * global counts from its filtered rows. The COUNTS must come from
    * the slice, never be reused across slices — duplicate validity is
    * the one corpus-global ingredient. */
  def spanStateFromAnchors(anchors: DataFrame, idCol: String,
      l: Int = 40): SpanState = {
    val counts = anchors.groupBy("h").agg(count(lit(1)).as("cnt"))
    val dup = anchors.join(counts.filter(col("cnt") >= 2).select("h"),
      Seq("h"), "left_semi")
    SpanState(anchors, counts, islandMerge(dup, idCol, l))
  }

  /** O(delta) maintenance of [[SpanState]] through removed / changed /
    * added documents (a changed doc appears in BOTH removedIds and
    * addedDocs, with its new text). Only the delta is re-anchored; the
    * stored anchor table is scanned with broadcast semi/anti filters,
    * never shuffled. Span recompute is restricted to DIRTY docs — the
    * delta docs plus owners of any gram whose duplicated-validity
    * (count >= 2) flipped — which is exactly the set whose spans can
    * change: a clean doc's anchors are untouched and each of its
    * grams kept its validity, so its merged spans are byte-identical.
    * Every intermediate below is O(delta)-bounded.
    *
    * The delta-derived side sets (doc ids, touched gram digests) are
    * broadcast, so they must fit the broadcast budget: AQE cannot
    * convert these joins itself, because they sit under persist(). */
  def incrementalSpanState(state: SpanState, removedIds: DataFrame,
      addedDocs: DataFrame, idCol: String, textCol: String,
      l: Int = 40): SpanState = {
    // The digest family is a property of the STORED STATE, so it is
    // derived from the state's anchor schema rather than trusted to a
    // caller flag: a mismatched flag would union long and string
    // digests (string-widened, never equal), silently treating every
    // added anchor as a brand-new gram and corrupting the span state
    // with no error.
    val fastDigest =
      state.anchors.schema("h").dataType == org.apache.spark.sql.types.LongType
    // every O(delta) frame with more than one consumer is persisted
    // (returned via `internals` for release) — without the caches each
    // reference replays the delta re-anchoring and the broadcast-
    // filtered state scans from scratch, the same multi-reference
    // blowup incrementalShingleState fixed (measured 32 s -> ~8 s for
    // the q177 battery entry at sf0.1). The returned anchors/counts
    // come back persisted: they are the next run's state tables.
    val rem = removedIds.select(col(idCol))
    val remAnchors = state.anchors.join(broadcast(rem), Seq(idCol), "left_semi")
    val addAnchors = anchorsOf(addedDocs, idCol, textCol, l, fastDigest)
      .persist()
    val anchorsNew = state.anchors.join(broadcast(rem), Seq(idCol), "left_anti")
      .union(addAnchors)
      .persist()

    val deltaCounts = addAnchors.groupBy("h").agg(count(lit(1)).as("__plus"))
      .join(remAnchors.groupBy("h").agg(count(lit(1)).as("__minus")),
        Seq("h"), "full_outer")
      .persist()
    val deltaKeys = broadcast(deltaCounts.select("h"))
    val touchedOld = state.counts.join(deltaKeys, Seq("h"), "left_semi")
      .persist()
    val mergedTouched = touchedOld.join(deltaCounts, Seq("h"), "full_outer")
      .select(col("h"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("__plus"), lit(0L))
          - coalesce(col("__minus"), lit(0L))).as("cnt"))
      .filter(col("cnt") > 0)
      .persist()
    val countsNew = state.counts.join(deltaKeys, Seq("h"), "left_anti")
      .union(mergedTouched)
      .persist()

    val flipped = touchedOld.select(col("h"), (col("cnt") >= 2).as("__vo"))
      .join(mergedTouched.select(col("h"), (col("cnt") >= 2).as("__vn")),
        Seq("h"), "full_outer")
      .filter(coalesce(col("__vo"), lit(false)) =!=
        coalesce(col("__vn"), lit(false)))
      .select("h")
    val dirty = anchorsNew.join(broadcast(flipped), Seq("h"), "left_semi")
      .select(col(idCol))
      .union(addedDocs.select(col(idCol)))
      .distinct()
      .persist()

    val dirtyAnchors = anchorsNew.join(broadcast(dirty), Seq(idCol),
        "left_semi")
      .persist()
    val dirtyGramKeys = broadcast(dirtyAnchors.select("h").distinct())
    val validDirty = mergedTouched.filter(col("cnt") >= 2).select("h")
      .join(dirtyGramKeys, Seq("h"), "left_semi")
      .union(state.counts.filter(col("cnt") >= 2)
        .join(deltaKeys, Seq("h"), "left_anti").select("h")
        .join(dirtyGramKeys, Seq("h"), "left_semi"))
    val dirtySpans = islandMerge(
      dirtyAnchors.join(broadcast(validDirty), Seq("h"), "left_semi"),
      idCol, l)
    val gone = broadcast(dirty.union(rem).distinct())
    val spansNew = state.spans.join(gone, Seq(idCol), "left_anti")
      .union(dirtySpans)
    SpanState(anchorsNew, countsNew, spansNew,
      internals = Seq(addAnchors, deltaCounts, touchedOld, mergedTouched,
        dirty, dirtyAnchors))
  }

  // ------------------------------------------------ incremental dedup

  /** The stored dedup state a periodic-crawl pipeline keeps between
    * runs: the per-document distinct shingle table, the corpus-wide
    * shingle document frequencies, and the candidate pairs. All three
    * are narrow relational tables (ids, grams, counts — never text), so
    * they live as ordinary warehouse tables and every maintenance step
    * below is a hash-partitioned join/aggregate on them. */
  /** `internals`: delta-run intermediates persisted by
    * [[incrementalShingleState]] (empty for a full build) — released by
    * [[ShingleState.release]] together with the state tables the caller
    * persisted. */
  final case class ShingleState(grams: DataFrame, df: DataFrame,
      pairs: DataFrame, internals: Seq[DataFrame] = Nil)
      extends IncrementalState {
    def frames: Seq[DataFrame] = Seq(grams, df, pairs)
  }

  /** Full-run state construction — same pair semantics as
    * [[rareShingleCandidates]], but also returns the gram and df tables
    * that incremental maintenance needs. */
  def shingleState(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, maxDf: Int = 8, minShared: Int = 2): ShingleState = {
    val grams = gramHashes(docs, idCol, textCol, shingleN)
    val dfTab = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    val valid = dfTab.filter(col("df") >= 2 && col("df") <= maxDf)
      .select("gram")
    val rg = grams.join(valid, "gram").select("doc_id", "gram")
    val pairs = rg.as("a").join(rg.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    ShingleState(grams, dfTab, pairs)
  }

  /** O(delta) maintenance of [[ShingleState]] across a re-crawl:
    * given the docs whose old shingles must leave (`removedIds` =
    * removed ∪ changed, old identity) and the docs whose shingles must
    * be computed fresh (`addedDocs` = added ∪ changed, new text), the
    * new state is provably EQUAL to a full re-run over the new corpus
    * — the equivalence the battery pins (q162).
    *
    * Why the frontier is what it is: a rare-shingle pair's n_shared
    * counts its shared grams with corpus df in [2, maxDf], so a pair
    * between two untouched documents can only change if one of their
    * grams' VALIDITY flipped — and any such gram is owned by both
    * endpoints, making them "dirty". Pairs with both endpoints clean
    * are therefore carried over verbatim; pairs with >= 1 dirty
    * endpoint are recomputed from the maintained gram table under the
    * merged df counts. Text is only ever re-shingled for `addedDocs`:
    * everything else is joins/aggregates over the narrow state tables.
    *
    * 100 TB shape: the text explode is O(delta); df maintenance is a
    * merge of delta counts into the stored df table; the recompute
    * self-join is bounded by maxDf^2 per gram exactly like the full
    * run, but only over grams owned by dirty documents. The
    * delta-derived side sets are broadcast (AQE cannot convert joins
    * under persist()), so they must fit the broadcast budget. */
  def incrementalShingleState(state: ShingleState, removedIds: DataFrame,
      addedDocs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, maxDf: Int = 8, minShared: Int = 2): ShingleState = {
    // the removed-id set is O(delta) — broadcast it at the join sites
    // so the stored gram table is SCANNED (filtered map-side), never
    // shuffled, for both the departing-grams slice and the
    // carried-forward remainder
    val rem = removedIds.select(col(idCol).as("doc_id"))
    val gramsAdd = gramHashes(addedDocs, idCol, textCol, shingleN)
    val gramsRem = state.grams.join(broadcast(rem), Seq("doc_id"), "left_semi")
    // persist the two RETURNED state tables: they are the next run's
    // inputs anyway, and everything below (dirty set, valid-gram
    // restriction, recompute join — several consumers each) derives
    // from them, so without the cache each consumer would replay the
    // delta explode and the df merge from scratch (measured 4x the
    // whole maintenance cost at sf0.1). The caller owns the release,
    // exactly as with a full-run state build.
    val gramsNew = state.grams.join(broadcast(rem), Seq("doc_id"), "left_anti")
      .union(gramsAdd)
      .persist()

    def valid(c: Column): Column = c >= 2 && c <= maxDf
    // Every side set below (delta gram counts, flipped grams, dirty doc
    // ids, dirty-owned gram keys) is O(delta)-bounded, never O(corpus):
    // each restricts a big-state-table touch to the delta slice BEFORE
    // any join, so the delta run's SHUFFLE volume is O(delta) — the big
    // tables are only ever SCANNED with an AQE-broadcast semi/anti
    // filter. The O(delta) sets with >1 consumer are persisted
    // (returned via `internals` for release).

    // df maintenance WITHOUT shuffling the stored df table: the
    // untouched slice passes through as a broadcast-anti-filtered scan,
    // and only the delta-touched slice (O(delta) grams) pays a join.
    // (The earlier full-outer of state.df against the delta shuffled
    // the ENTIRE df table every run — O(corpus), the opposite of the
    // point. With the df table bucketed by gram at warehouse scale even
    // the scan writes co-located.)
    val dfDelta = gramsAdd.groupBy("gram").agg(count(lit(1)).as("plus"))
      .join(gramsRem.groupBy("gram").agg(count(lit(1)).as("minus")),
        Seq("gram"), "full_outer")
      .persist()
    // explicit broadcast hints, not AQE: these joins sit under
    // persist(), and AQE's runtime broadcast conversion is disabled
    // while building a cached plan (canChangeCachedPlanOutputPartitioning)
    // — without the hints every semi/anti below planned as a sort-merge
    // join that shuffled the FULL state table (six ~32 MB corpus-wide
    // shuffles per delta run at sf0.1 x10, measured). The hinted sides
    // are persisted and O(delta)-bounded.
    val deltaGramKeys0 = broadcast(dfDelta.select("gram"))
    val touchedOld = state.df.join(deltaGramKeys0, Seq("gram"), "left_semi")
    val mergedTouched = touchedOld.join(dfDelta, Seq("gram"), "full_outer")
      .select(col("gram"),
        (coalesce(col("df"), lit(0L)) + coalesce(col("plus"), lit(0L))
          - coalesce(col("minus"), lit(0L))).as("df"))
      .filter(col("df") > 0)
      .persist()
    val dfNew = state.df.join(deltaGramKeys0, Seq("gram"), "left_anti")
      .union(mergedTouched)
      .persist()

    // a gram's validity can only flip if its df changed, and only
    // delta-touched grams change df — the flip check compares the two
    // O(delta) touched slices, never the full tables
    val flipped = touchedOld
      .select(col("gram"), valid(col("df")).as("vo"))
      .join(mergedTouched.select(col("gram"), valid(col("df")).as("vn")),
        Seq("gram"), "full_outer")
      .filter(coalesce(col("vo"), lit(false)) =!= coalesce(col("vn"), lit(false)))
      .select("gram")

    // dirty = delta docs + owners of any validity-flipped gram
    val dirty = gramsNew.join(broadcast(flipped), Seq("gram"), "left_semi")
      .select("doc_id")
      .union(gramsAdd.select("doc_id"))
      .distinct()
      .persist()

    // carry over pairs whose endpoints are both clean AND both survive
    val dirtyOrGone = broadcast(dirty.union(rem).distinct())
    // explicit re-select: each USING-join moves its key column first,
    // and the union below is position-based
    val cleanPairs = state.pairs
      .join(dirtyOrGone.withColumnRenamed("doc_id", "id_a"),
        Seq("id_a"), "left_anti")
      .join(dirtyOrGone.withColumnRenamed("doc_id", "id_b"),
        Seq("id_b"), "left_anti")
      .select("id_a", "id_b", "n_shared")

    // recompute every pair with >= 1 dirty endpoint under the new df.
    // The probe side is restricted to DIRTY-OWNED gram keys first: a
    // recomputed pair's shared gram is owned by its dirty endpoint, so
    // dropping grams no dirty doc owns loses nothing — and it shrinks
    // the y side from the full corpus gram table to an O(delta) slice
    // (the structural fix that keeps the delta run's shuffles O(delta),
    // not O(corpus)). distinct on (pair, gram) collapses the symmetric
    // double-count when BOTH endpoints are dirty; grams are per-doc
    // distinct already.
    val dirtyGramKeys = gramsNew.join(broadcast(dirty), Seq("doc_id"),
        "left_semi")
      .select("gram").distinct()
      .persist()
    val validTouched = mergedTouched.filter(valid(col("df")))
      .join(broadcast(dirtyGramKeys), Seq("gram"), "left_semi")
      .select("gram")
      .union(state.df.filter(valid(col("df")))
        .join(deltaGramKeys0, Seq("gram"), "left_anti")
        .join(broadcast(dirtyGramKeys), Seq("gram"), "left_semi")
        .select("gram"))
    // every valid gram occurrence owned by a dirty gram key, flagged
    // with whether its OWNER doc is dirty — the flag lets the pair join
    // count each unordered pair exactly once with NO post-join distinct
    // (a dirty-clean pair only ever forms from the dirty side; a
    // dirty-dirty pair only in x < y order), where the previous
    // dedup-by-distinct shuffled an (id_a, id_b, gram) triple per
    // shared gram — the delta run's single biggest shuffle.
    val rgFlagged = gramsNew
      .join(broadcast(validTouched), "gram")
      .join(broadcast(dirty.withColumn("is_dirty", lit(true))),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("gram"),
        coalesce(col("is_dirty"), lit(false)).as("is_dirty"))
      .persist()
    val recomputed = rgFlagged.filter(col("is_dirty")).as("x")
      .join(rgFlagged.as("y"),
        col("x.gram") === col("y.gram") &&
          col("x.doc_id") =!= col("y.doc_id") &&
          (!col("y.is_dirty") || col("x.doc_id") < col("y.doc_id")))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("id_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

    ShingleState(gramsNew, dfNew, cleanPairs.union(recomputed),
      internals = Seq(dfDelta, mergedTouched, dirty, dirtyGramKeys,
        rgFlagged))
  }

  /** EXACT Jaccard-threshold similarity self-join via prefix
    * filtering (the SSJoin/PPJoin prefix principle — Chaudhuri, Ganti
    * & Kaushik, ICDE 2006; Xiao, Wang, Lin & Yu, WWW 2008): every
    * pair of documents whose token-SET Jaccard reaches `tau`, with NO
    * false negatives — the exact complement of [[minHashCandidates]]'
    * probabilistic recall, for pipelines where a missed duplicate is
    * unacceptable (contract/compliance dedup, benchmark isolation).
    *
    * Method: order each doc's distinct tokens by global rarity
    * (document frequency asc, token asc — one canonical total order);
    * keep the PREFIX of length |d| − α(d) + 1 where α(d) = the
    * smallest integer ≥ tau·|d|. The prefix-filter lemma: for a pair
    * with J ≥ tau, the smallest-ranked common token must sit in BOTH
    * prefixes (if every common token sat past x's prefix, |x ∩ y| ≤
    * α(x) − 1 < tau·|x| ≤ tau·|x ∪ y| ≤ |x ∩ y| — contradiction; and
    * symmetrically for y). Candidates are therefore the prefix-token
    * equi-join plus the size filter (J ≥ tau bounds |y| within
    * [tau·|x|, |x|/tau]) plus PPJoin's POSITIONAL filter (Xiao,
    * Wang, Lin & Yu, WWW 2008): at the pair's FIRST shared prefix
    * token — positions p_x, p_y in the canonical order — the overlap
    * can never exceed 1 + min(|x| − p_x, |y| − p_y) (no
    * earlier-ranked token is shared: a shared token ranked before it
    * would sit inside BOTH prefixes, contradicting firstness), so a
    * pair whose bound falls below the required overlap
    * ceil(tau/(1+tau)·(|x|+|y|)) drops BEFORE the verify join —
    * typically another 2-5x candidate cut on Zipfian data, at the
    * cost of carrying two int positions through the prefix join. The
    * exact refine removes the remaining false positives. α is
    * computed as ceil(tau·|d| − 1e-9): the epsilon
    * absorbs IEEE noise that could push tau·|d| just ABOVE an integer
    * boundary and silently shorten the prefix below the lemma's bound
    * (a false-negative hole); erring longer is always safe. The
    * verify compares the UNROUNDED division i / (|x| + |y| − i) ≥ tau
    * — identical IEEE ops in any engine — and rounds only the output.
    * Returns (id_a, id_b, jaccard rounded 6), id_a < id_b.
    *
    * 100 TB shape: rarity-first prefixes make the candidate join's
    * fan-out Σ df² over PREFIX tokens — the rarest ~(1−tau)·|d|
    * tokens of each doc, exactly the small-df tail on a real Zipfian
    * vocabulary; the verify join touches candidates only, and both
    * token passes read one staged tokens table. On a degenerate DENSE
    * vocabulary (every token in most docs) prefix filtering cannot
    * prune — no exact method can — and LSH + maxBucket is the
    * documented fallback. */
  def jaccardJoin(docs: DataFrame, idCol: String, textCol: String,
      tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, "jaccardJoin needs tau in (0, 1]")
    val toks = jaccardTokens(docs, idCol, textCol)
    val cands = jaccardCandidates(toks, tau, positional = true)
    jaccardVerifyPairs(cands, toks, tau)
  }

  /** The exact verify: candidate (id_a, id_b) pairs against the token
    * table — intersection count, UNROUNDED division compared to tau
    * (identical IEEE ops in any engine), rounded only on output. */
  private def jaccardVerifyPairs(cands: DataFrame, toks: DataFrame,
      tau: Double): DataFrame =
    jaccardVerifyPairsSized(cands, toks,
      toks.groupBy("__id").agg(count(lit(1)).as("__n")), tau)

  /** [[jaccardVerifyPairs]] with a PRECOMPUTED (__id, __n) size table
    * — the incremental-state path: sizes are append-only facts, so
    * [[JaccardState]] stores them and an append unions in O(delta)
    * instead of re-aggregating the full token table per maintenance
    * run. */
  private def jaccardVerifyPairsSized(cands: DataFrame, toks: DataFrame,
      sz: DataFrame, tau: Double): DataFrame = {
    cands
      .join(toks.select(col("__id").as("id_a"), col("tok")), "id_a")
      .join(toks.select(col("__id").as("id_b"), col("tok")),
        Seq("id_b", "tok"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__i"))
      .join(sz.select(col("__id").as("id_a"), col("__n").as("__na")), "id_a")
      .join(sz.select(col("__id").as("id_b"), col("__n").as("__nb")), "id_b")
      .withColumn("__j", col("__i").cast("double") /
        (col("__na") + col("__nb") - col("__i")).cast("double"))
      .filter(col("__j") >= tau)
      .select(col("id_a"), col("id_b"), round(col("__j"), 6).as("jaccard"))
  }

  /** The staged distinct-token table [[jaccardJoin]] builds:
    * (__id, tok), null ids and empty tokens excluded. */
  private def rawJaccardTokens(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.filter(col(idCol).isNotNull)
      .select(col(idCol).as("__id"), explode(array_distinct(
        filter(tokensOf(col(textCol)), t => length(t) > 0))).as("tok"))

  private[graft] def jaccardTokens(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    Materialize.stage(rawJaccardTokens(docs, idCol, textCol))

  /** Pre-filter for the [[JaccardState]] membership domain: keep only
    * docs with a non-null id that tokenize to at least one token —
    * the SAME tokenization the state layer uses, so what survives
    * this filter is exactly what [[jaccardJoinAppend]] accepts.
    * MIGRATION (r15): appends previously tolerated zero-token docs
    * silently (they cannot pair, so they were harmless); the removal
    * contract made them a hard error, because a doc with no trace in
    * any state table would be appendable twice and never removable.
    * Callers appending raw crawl batches (whitespace-only or empty
    * documents included) should route the delta through this helper
    * first. */
  def filterEmptyDocs(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.filter(col(idCol).isNotNull &&
      exists(tokensOf(col(textCol)), t => length(t) > 0))

  /** The ranked prefix table [[jaccardCandidates]] joins on: for each
    * doc, its distinct tokens ranked by global rarity (__df asc, tok
    * asc), kept up to the prefix-lemma length |d| − α(d) + 1. Returns
    * (tok, __id, __sz, __rnk). [[jaccardPrefixProbe]] is the
    * stateless streaming spelling of the same table — the battery
    * pins them equal on a stratum. */
  private[graft] def jaccardPrefixFrame(toks: DataFrame,
      tau: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfCounts = toks.groupBy("tok").agg(count(lit(1)).as("__df"))
    val wDoc = Window.partitionBy("__id")
    def alpha(sz: Column): Column = ceil(lit(tau) * sz - lit(1e-9))
    val ranked = toks.join(dfCounts, "tok")
      .withColumn("__rnk", row_number().over(
        wDoc.orderBy(col("__df"), col("tok"))))
      .withColumn("__sz", count(lit(1)).over(wDoc))
    ranked.filter(col("__rnk") <= col("__sz") - alpha(col("__sz")) + 1)
      .select("tok", "__id", "__sz", "__rnk")
  }

  /** STREAMING prefix-bucket probe — the stateless per-row spelling
    * of [[jaccardPrefixFrame]], for ingest-time pre-bucketing: an
    * arriving document's prefix tokens (returned in rank order) are
    * the ONLY equi-join keys under which it can pair with an existing
    * document at Jaccard >= tau (the prefix-filter lemma), so a
    * stream can route each new doc to its prefix-token buckets and
    * the exact dedup downstream touches only those groups. Built from
    * a REFERENCE corpus snapshot: the token document frequencies
    * collect into a literal map (the dsirScoreProbe treatment — the
    * vocabulary IS the broadcast-sized state; for a web-scale open
    * vocabulary keep the batch join, this probe is for the
    * bounded-vocabulary reference-corpus regime). The returned
    * closure is a pure Column function: no state, no watermark, no
    * shuffle — safe in `readStream` map stages.
    *
    * Tokens UNSEEN in the reference rank df = 0 — ahead of every
    * reference token. That is the correct dedup semantics: an unseen
    * token is maximally discriminative (no existing doc shares it),
    * and ranking it into the prefix can only ADD candidate buckets,
    * never lose a true pair (the lemma needs the prefix to contain
    * the rarest |d| − α + 1 tokens under SOME total order shared by
    * both sides of a future comparison; per-snapshot consistency is
    * the caller's versioning contract, same as any LSH band table).
    *
    * Ranking parity with the batch frame is exact: array_sort on
    * (df, tok) structs orders by fields left-to-right ascending —
    * the window's (__df asc, tok asc) — and both sides compute the
    * same prefix length with the same IEEE-guarded α. */
  def jaccardPrefixProbe(ref: DataFrame, idCol: String, textCol: String,
      tau: Double): Column => Column = {
    require(tau > 0.0 && tau <= 1.0, "jaccardPrefixProbe needs tau in (0, 1]")
    val dfRows = ref.filter(col(idCol).isNotNull)
      .select(explode(array_distinct(
        filter(tokensOf(col(textCol)), t => length(t) > 0))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("__df"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val dfMap = map_from_arrays(
      typedLit(dfRows.map(_._1).toSeq), typedLit(dfRows.map(_._2).toSeq))
    (text: Column) => {
      val t = array_distinct(filter(tokensOf(text), x => length(x) > 0))
      val scored = transform(t, tok => struct(
        coalesce(element_at(dfMap, tok), lit(0L)).as("df"),
        tok.as("tok")))
      val n = size(t)
      val plen = n - ceil(lit(tau) * n - lit(1e-9)).cast("int") + 1
      transform(slice(array_sort(scored), lit(1), plen),
        s => s.getField("tok"))
    }
  }

  /** [[jaccardJoin]]'s candidate stage, exposed for measurement:
    * prefix-token equi-join + size filter, and (when `positional`)
    * the PPJoin positional filter — see [[jaccardJoin]]'s scaladoc
    * for the lemmas. Returns distinct (id_a, id_b), id_a < id_b,
    * a SUPERSET of the true tau-pairs either way (both filters are
    * upper-bound arguments: they only remove pairs that cannot reach
    * tau, never true pairs — the recall-1 spec pins this). */
  private[graft] def jaccardCandidates(toks: DataFrame, tau: Double,
      positional: Boolean): DataFrame = {
    def alpha(sz: Column): Column = ceil(lit(tau) * sz - lit(1e-9))
    // NOT pre-partitioned by tok (unlike Banding.stage): the prefix
    // table is cand-join-sized, AQE broadcasts it at interactive
    // scale, and forcing a repartition measured STRICTLY worse
    // (PERF.md Jaccard curve: 13.9 -> 15.7 shuffle MB, 3.95 ->
    // 4.29 s at 17k docs) — the banded LSH tables are the ones whose
    // self-joins genuinely re-exchange
    val prefix = Materialize.stage(jaccardPrefixFrame(toks, tau))
    val sized = prefix
      .select(col("tok"), col("__id").as("id_a"),
        col("__sz").as("__na"), col("__rnk").as("__pa"))
      .join(prefix.select(col("tok"), col("__id").as("id_b"),
        col("__sz").as("__nb"), col("__rnk").as("__pb")), Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("__nb") >= alpha(col("__na")) &&
        col("__na") >= alpha(col("__nb")))
    if (!positional) sized.select("id_a", "id_b").distinct()
    else {
      // the pair's FIRST shared prefix token is the row with minimal
      // __pa (positions follow ONE global token order, so minimal in
      // a is minimal in b too; min(struct) picks it without a second
      // shuffle — the groupBy replaces the .distinct() the
      // positional-off path needs anyway). Required overlap o from
      // J >= tau  <=>  i >= tau/(1+tau) * (na+nb); the -1e-9 errs o
      // SMALLER at IEEE boundaries, keeping candidates — only ever
      // safe-direction noise, same discipline as alpha.
      val o = ceil(lit(tau / (1.0 + tau)) *
        (col("__na") + col("__nb")) - lit(1e-9))
      sized
        .groupBy("id_a", "id_b")
        .agg(min(struct(col("__pa"), col("__pb"))).as("__m"),
          first(col("__na")).as("__na"), first(col("__nb")).as("__nb"))
        .filter(lit(1) +
          least(col("__na") - col("__m.__pa"),
            col("__nb") - col("__m.__pb")) >= o)
        .select("id_a", "id_b")
    }
  }

  // ---------------------------- incremental exact-Jaccard state

  /** Stored state for O(delta) maintenance of the EXACT Jaccard join
    * across appends — the [[ShingleState]]/SemState pattern at the
    * recall-1 endpoint. `toks` (__id, tok) and `prefix` (tok, __id,
    * __sz, __rnk) cover the whole corpus; `dfFrozen` is the rarity
    * order FROZEN at build/reindex time (the IVF frozen-centroid
    * discipline: refresh on a schedule, never per batch); `sizes`
    * (__id, __n) is the per-doc distinct-token count — append-only
    * facts, stored so the verify never re-aggregates the full token
    * table; `pairs` is the exact output so far.
    *
    * SEGMENTED storage (r15 Next #3): each logical table is a Seq of
    * truncation-staged SEGMENTS (base + one delta per append) and the
    * public accessors expose their lazy union. An append therefore
    * stages only its O(delta) segment — the previous form re-staged
    * `toks`/`prefix`/`pairs` as full-table unions, an O(corpus)
    * staged-bytes floor per append (measured 45-54 MB/append,
    * PERF r15; the Jaccard append-chain row now shows staged-new ~=
    * delta size). The cost moved, not hidden: each append widens the
    * union plan by one branch per table, and consumers still READ all
    * segments — [[jaccardJoinReindex]] is the compaction hook that
    * consolidates segment lists back to one frame each, on the same
    * schedule as its df refresh. */
  final case class JaccardState(toksSegs: Seq[DataFrame], dfFrozen: DataFrame,
      prefixSegs: Seq[DataFrame], sizesSegs: Seq[DataFrame],
      pairsSegs: Seq[DataFrame], tau: Double,
      internals: Seq[DataFrame] = Nil) extends IncrementalState {
    // positional unions: every segment is produced by the maintenance
    // functions with the table's canonical column order (remove
    // re-selects it explicitly for exactly this reason)
    private def u(segs: Seq[DataFrame]): DataFrame = segs.reduce(_.union(_))
    def toks: DataFrame = u(toksSegs)
    def prefix: DataFrame = u(prefixSegs)
    def sizes: DataFrame = u(sizesSegs)
    def pairs: DataFrame = u(pairsSegs)
    /** Successors share frames BY REFERENCE: `dfFrozen` across
      * appends/removes, every prior segment across an append, the
      * consolidated single-segment tables across a reindex. */
    def frames: Seq[DataFrame] =
      (toksSegs ++ prefixSegs ++ sizesSegs ++ pairsSegs) :+ dfFrozen
  }

  /** Prefixes of `toks` docs under the FROZEN (df, tok) order of
    * `dfTab` — tokens absent from the frozen table read df 0 (rank
    * FIRST, like [[jaccardPrefixProbe]]'s unseen-token rule:
    * candidate-adding only, never recall-losing, since the lemma
    * holds under ANY total order both sides share). */
  private def frozenPrefix(toks: DataFrame, dfTab: DataFrame,
      tau: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def alpha(sz: Column): Column = ceil(lit(tau) * sz - lit(1e-9))
    val wDoc = Window.partitionBy("__id")
    toks.join(dfTab, Seq("tok"), "left")
      .withColumn("__df0", coalesce(col("__df"), lit(0L)))
      .withColumn("__rnk", row_number().over(
        wDoc.orderBy(col("__df0"), col("tok"))))
      .withColumn("__sz", count(lit(1)).over(wDoc))
      .filter(col("__rnk") <= col("__sz") - alpha(col("__sz")) + 1)
      .select("tok", "__id", "__sz", "__rnk")
  }

  /** Candidates between a QUERY prefix frame and an INDEX prefix
    * frame (both under ONE frozen order — the lemma's only
    * requirement): prefix-token equi-join + size filter + the
    * positional filter, pair keys normalized via least/greatest so
    * both orientations of a pair collapse (positions re-keyed to the
    * normalized endpoints first — the first-shared-token bound needs
    * a consistent per-pair orientation). */
  private def deltaJaccardCandidates(prefixQ: DataFrame,
      prefixI: DataFrame, tau: Double): DataFrame = {
    def alpha(sz: Column): Column = ceil(lit(tau) * sz - lit(1e-9))
    val q = prefixQ.select(col("tok"), col("__id").as("__qa"),
      col("__sz").as("__na"), col("__rnk").as("__pa"))
    val i = prefixI.select(col("tok"), col("__id").as("__qb"),
      col("__sz").as("__nb"), col("__rnk").as("__pb"))
    val fwd = col("__qa") < col("__qb")
    q.join(i, Seq("tok"))
      .filter(col("__qa") =!= col("__qb"))
      .filter(col("__nb") >= alpha(col("__na")) &&
        col("__na") >= alpha(col("__nb")))
      .select(least(col("__qa"), col("__qb")).as("id_a"),
        greatest(col("__qa"), col("__qb")).as("id_b"),
        when(fwd, col("__pa")).otherwise(col("__pb")).as("__p1"),
        when(fwd, col("__pb")).otherwise(col("__pa")).as("__p2"),
        when(fwd, col("__na")).otherwise(col("__nb")).as("__n1"),
        when(fwd, col("__nb")).otherwise(col("__na")).as("__n2"))
      .groupBy("id_a", "id_b")
      .agg(min(struct(col("__p1"), col("__p2"))).as("__m"),
        first(col("__n1")).as("__n1"), first(col("__n2")).as("__n2"))
      .filter(lit(1) +
        least(col("__n1") - col("__m.__p1"),
          col("__n2") - col("__m.__p2")) >=
        ceil(lit(tau / (1.0 + tau)) *
          (col("__n1") + col("__n2")) - lit(1e-9)))
      .select("id_a", "id_b")
  }

  /** Build the stored exact-Jaccard state: one full [[jaccardJoin]]
    * pass whose intermediates (tokens, frozen rarity order, prefixes)
    * are kept for O(delta) appends. `pairs` equals `jaccardJoin(docs)`
    * exactly (spec-pinned). */
  def jaccardJoinState(docs: DataFrame, idCol: String, textCol: String,
      tau: Double): JaccardState = {
    require(tau > 0.0 && tau <= 1.0, "jaccardJoinState needs tau in (0, 1]")
    val toks = Materialize.stage(rawJaccardTokens(docs, idCol, textCol),
      requireTruncation = true)
    val dfFrozen = Materialize.stage(
      toks.groupBy("tok").agg(count(lit(1)).as("__df")),
      requireTruncation = true)
    val prefix = Materialize.stage(frozenPrefix(toks, dfFrozen, tau),
      requireTruncation = true)
    val sizes = Materialize.stage(
      toks.groupBy("__id").agg(count(lit(1)).as("__n")),
      requireTruncation = true)
    val pairs = Materialize.stage(
      jaccardVerifyPairsSized(deltaJaccardCandidates(prefix, prefix, tau),
        toks, sizes, tau),
      requireTruncation = true)
    JaccardState(Seq(toks), dfFrozen, Seq(prefix), Seq(sizes), Seq(pairs),
      tau)
  }

  /** O(delta) APPEND maintenance of [[JaccardState]]: the new exact
    * pair set is provably the old one plus the pairs touching a
    * delta doc — the OUTPUT of an exact join is a pure function of
    * the document sets (pruning order affects efficiency, never
    * results), and a pair of two untouched docs has an unchanged
    * Jaccard. So the delta pays: its own tokens (O(delta) text work),
    * prefixes under the STORED frozen order (unseen tokens rank
    * first — candidate-adding only), the candidate join delta-prefix
    * x full-prefix, the exact verify of those candidates (which
    * joins the STORED size table — sizes are append-only facts that
    * union in O(delta); intersections still scan the full token
    * table once, restricted to candidate ids by the equi-join), and
    * staging: O(delta) — each table gains one truncation-staged
    * SEGMENT and the prior segments carry by reference (the r15
    * O(corpus)-staged-bytes-per-append floor is gone; PERF.md's Jaccard
    * append-chain row now measures staged-new ~= delta size). What an append
    * does NOT shrink: consumers still READ every segment (the
    * candidate join scans the full prefix union once), and the union
    * plan widens by one branch per table per append — batch appends
    * at warehouse cadence rather than row-at-a-time. The segment list
    * is AUTO-COMPACTED when it reaches `autoCompactSegments` (default
    * 8; <= 0 disables): the append consolidates each table back to one
    * staged frame — a loud stderr line names the trigger — bounding
    * read cost at N branches for an amortized O(corpus/N) re-staging
    * per append (r16 Next #3: an unattended chain previously degraded
    * linearly until a manual [[jaccardJoinReindex]]). df-order
    * REFRESH remains the caller's scheduled decision: fold a
    * [[jaccardJoinReindex]] in when drift has eroded pruning (it also
    * compacts). The stored prefix table is SCANNED, never re-ranked: df
    * drift only costs pruning efficiency, which
    * [[jaccardJoinReindex]] refreshes on the caller's schedule
    * (pairs carry over verbatim even then — they are
    * order-independent facts).
    *
    * APPEND-ONLY by contract: a delta id already present in the
    * state refuses loudly (count mismatches silently corrupt sizes
    * and intersections). The state's MEMBERSHIP DOMAIN is docs with
    * at least one token: a zero-token doc leaves no trace in any
    * state table (it cannot pair), so it would be appendable twice
    * and never removable — the append therefore refuses zero-token
    * delta docs up front (filter empty docs before the state layer;
    * the full BUILD tolerates them for bulk-corpus convenience, but
    * they are not members and not removable). Re-crawl updates are
    * remove + append: [[jaccardJoinRemove]] retires ids in O(state
    * scan), then the changed docs re-enter here. The delta's ids are
    * broadcast, so the delta must fit the broadcast budget. */
  def jaccardJoinAppend(state: JaccardState, addedDocs: DataFrame,
      idCol: String, textCol: String,
      autoCompactSegments: Int = 8): JaccardState = {
    val toksAdd = rawJaccardTokens(addedDocs, idCol, textCol).persist()
    val deltaIds = toksAdd.select("__id").distinct()
    // membership-domain contract: every delta doc must tokenize to
    // something, or it would be invisible to the state (appendable
    // again, never removable — the zero-token asymmetry)
    val nDocsAdd = addedDocs.filter(col(idCol).isNotNull)
      .select(col(idCol)).distinct().count()
    val nTokDocs = deltaIds.count()
    require(nTokDocs == nDocsAdd,
      s"jaccardJoinAppend: ${nDocsAdd - nTokDocs} delta docs tokenize " +
        "to nothing — zero-token docs cannot enter the state (they " +
        "cannot pair) and would break the removal contract; route the " +
        "delta through TextDedup.filterEmptyDocs first")
    // state.toks is SCANNED with a broadcast semi filter — only
    // delta-colliding rows reach the distinct — so the contract check
    // shuffles O(delta), not O(corpus)
    val dup = state.toks.join(broadcast(deltaIds), Seq("__id"), "left_semi")
      .select("__id").distinct().count()
    require(dup == 0L,
      s"jaccardJoinAppend: $dup delta ids already exist in the state " +
        "— the state is append-only (re-crawl updates are a rebuild; " +
        "see scaladoc)")
    val prefixAdd = frozenPrefix(toksAdd, state.dfFrozen, state.tau)
      .persist()
    // stage ONLY the delta segments — the full tables are the lazy
    // segment unions (JaccardState scaladoc, r15 Next #3)
    val toksSeg = Materialize.stage(toksAdd, requireTruncation = true)
    val sizesSeg = Materialize.stage(
      toksAdd.groupBy("__id").agg(count(lit(1)).as("__n")),
      requireTruncation = true)
    val prefixSeg = Materialize.stage(prefixAdd, requireTruncation = true)
    val cands = deltaJaccardCandidates(prefixAdd,
      state.prefix.union(prefixAdd), state.tau)
    val verified = jaccardVerifyPairsSized(cands,
      state.toks.union(toksAdd), state.sizes.union(sizesSeg), state.tau)
    val pairsSeg = Materialize.stage(verified, requireTruncation = true)
    val grown = JaccardState(state.toksSegs :+ toksSeg, state.dfFrozen,
      state.prefixSegs :+ prefixSeg, state.sizesSegs :+ sizesSeg,
      state.pairsSegs :+ pairsSeg, state.tau,
      internals = Seq(toksAdd, prefixAdd))
    // AUTO-COMPACTION (r16 Next #3): an unattended append chain grows
    // one union branch per table per append, so reads degrade linearly
    // until something consolidates. When the segment count reaches
    // `autoCompactSegments` (default 8; <= 0 disables), compact the
    // segment lists right here — the [[jaccardJoinReindex]] segment
    // half WITHOUT the df refresh (pruning freshness stays the
    // caller's scheduled decision; compaction is a pure plan-shape
    // no-op on results). Cost: one O(corpus) re-staging every
    // `autoCompactSegments` appends — amortized O(corpus/N) per
    // append, in exchange for segment-list reads bounded at N (the
    // scaladoc'd "batch appends, fold a reindex in" guidance, now
    // enforced by default instead of relied on). The compacted tables
    // are materialized eagerly so this call's own delta segments can
    // be released immediately (the caller never saw them; the PRIOR
    // state's segments stay untouched for the caller's
    // releaseSuperseded protocol).
    if (autoCompactSegments > 0 &&
        grown.toksSegs.lengthCompare(autoCompactSegments) >= 0) {
      System.err.println(
        s"[graft] jaccardJoinAppend: segment list reached " +
          s"${grown.toksSegs.length} — auto-compacting (one union " +
          "branch per append degrades reads; jaccardJoinReindex also " +
          "refreshes the frozen df order when pruning has drifted)")
      def compact(segs: Seq[DataFrame]): DataFrame = {
        val c = Materialize.stage(segs.reduce(_.union(_)),
          requireTruncation = true)
        c.count() // materialize before the input segments are released
        c
      }
      val out = JaccardState(Seq(compact(grown.toksSegs)), state.dfFrozen,
        Seq(compact(grown.prefixSegs)), Seq(compact(grown.sizesSegs)),
        Seq(compact(grown.pairsSegs)), state.tau,
        internals = Seq(toksAdd, prefixAdd))
      // free THIS call's staged delta segments (consumed by the
      // compaction; owned by nobody else)
      Seq(toksSeg, prefixSeg, sizesSeg, pairsSeg)
        .foreach(Materialize.release)
      out
    } else grown
  }

  /** O(state scan) REMOVE maintenance of [[JaccardState]]: by the
    * same purity argument as the append — the exact output is a pure
    * function of the document set — removal can never CREATE a pair,
    * and a pair of two surviving docs has an unchanged Jaccard
    * (neither doc's tokens moved). So the new state is pure
    * filtering: `pairs` keeps rows where NEITHER endpoint is removed;
    * `toks`/`prefix`/`sizes` keep surviving ids (a survivor's prefix
    * rows stay exact — prefix length depends only on the doc's OWN
    * size and the FROZEN order, both untouched). No candidate join,
    * no re-verify. `dfFrozen` carries verbatim: stale df after
    * removal costs pruning efficiency only (the lemma holds under
    * any shared total order), refreshed by [[jaccardJoinReindex]] on
    * the caller's schedule. Shuffle is O(removed) (the broadcast
    * anti/semi checks); the survivor tables re-stage O(corpus) bytes,
    * the same per-maintenance staging floor as the append.
    *
    * `removedIds` must each exist in the state — an unknown id
    * refuses loudly (a silent no-op id in a removal batch usually
    * means the caller's id space diverged from the state's; note the
    * membership domain is docs with >= 1 token — zero-token docs a
    * bulk BUILD admitted are not members and not removable, and the
    * append path refuses them up front, see [[jaccardJoinAppend]]).
    * A removed id may be re-appended later: it is no longer in the
    * state, so the append contract sees it as new — remove + append
    * IS the re-crawl update path. The removed ids are broadcast, so
    * they must fit the broadcast budget. */
  def jaccardJoinRemove(state: JaccardState, removedIds: DataFrame,
      idCol: String): JaccardState = {
    val ids = removedIds.filter(col(idCol).isNotNull)
      .select(col(idCol).as("__id")).distinct().persist()
    val unknown = ids.join(state.sizes, Seq("__id"), "left_anti").count()
    require(unknown == 0L,
      s"jaccardJoinRemove: $unknown ids are not in the state — " +
        "removal ids must name existing documents (id-space drift is " +
        "the usual cause; see scaladoc)")
    // re-select the ORIGINAL column order: a using-column join moves
    // __id first, and the state tables feed later POSITIONAL unions
    // (jaccardJoinAppend) — a reordered prefix table would union tok
    // under __id
    def keep(df: DataFrame): DataFrame =
      Materialize.stage(
        df.join(broadcast(ids), Seq("__id"), "left_anti")
          .select(df.columns.map(col).toIndexedSeq: _*),
        requireTruncation = true)
    val pairsNew = Materialize.stage(
      state.pairs
        .join(broadcast(ids.select(col("__id").as("id_a"))), Seq("id_a"),
          "left_anti")
        .join(broadcast(ids.select(col("__id").as("id_b"))), Seq("id_b"),
          "left_anti")
        .select("id_a", "id_b", "jaccard"),
      requireTruncation = true)
    // a remove filters the full segment UNIONS once, so it doubles as
    // a compaction: the result is single-segment on every table
    JaccardState(Seq(keep(state.toks)), state.dfFrozen,
      Seq(keep(state.prefix)), Seq(keep(state.sizes)), Seq(pairsNew),
      state.tau, internals = Seq(ids))
  }

  /** Refresh the frozen rarity order from the CURRENT token table —
    * the compaction hook for long append chains, in BOTH senses:
    * pruning efficiency drifts as real df diverges from the frozen
    * snapshot (the df aggregation + prefix re-rank fix that; the
    * PAIRS are order-independent facts and carry over verbatim, so a
    * reindex costs NO pair recomputation), and the segment lists the
    * appends grew — one truncation-staged delta per append,
    * [[jaccardJoinAppend]] — consolidate back to one frame per table
    * (a single-segment table carries by reference, nothing re-staged).
    * Cadence should follow df drift OR segment-list length, whichever
    * bites first. */
  def jaccardJoinReindex(state: JaccardState): JaccardState = {
    def compact(segs: Seq[DataFrame]): Seq[DataFrame] =
      if (segs.lengthCompare(1) == 0) segs
      else Seq(Materialize.stage(segs.reduce(_.union(_)),
        requireTruncation = true))
    val toksC = compact(state.toksSegs)
    val sizesC = compact(state.sizesSegs)
    val pairsC = compact(state.pairsSegs)
    val dfNew = Materialize.stage(
      toksC.head.groupBy("tok").agg(count(lit(1)).as("__df")),
      requireTruncation = true)
    val prefixNew = Materialize.stage(
      frozenPrefix(toksC.head, dfNew, state.tau),
      requireTruncation = true)
    JaccardState(toksC, dfNew, Seq(prefixNew), sizesC, pairsC, state.tau)
  }

  /** Exact n-gram Jaccard refinement of candidate pairs: join texts
    * back (broadcast the small candidate set at interactive scale;
    * shuffle-join on id at batch scale) and compute exact overlap.
    * Shingle arrays are computed ONLY for documents that appear in a
    * candidate pair (semi-join first): the candidate set after LSH is
    * orders of magnitude smaller than the corpus, and building the
    * O(tokens) shingle array for every corpus row twice was the cost. */
  def jaccardRefine(candidates: DataFrame, df: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val ids = candidates.select(col("id_a").as("jid"))
      .union(candidates.select(col("id_b").as("jid"))).distinct()
    val needed = df.select(col(idCol).as("jid"), col(textCol).as("jtext"))
      .join(ids, "jid")
    val sh = needed.select(col("jid"),
      shinglesOf(tokensOf(col("jtext")), shingleN).as("sh"))
    candidates
      .join(sh.withColumnRenamed("jid", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("jid", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .drop("sh_a", "sh_b")
  }
}
