package graft.ops

import graft.SparkSuite

/** Randomized cross-checks of the round-9 corpus operators against
  * independent brute-force references (plain Scala, O(n²) where the
  * operator is smarter) — the distributed plan and the reference must
  * agree exactly on every sampled corpus. Fewer samples than the
  * spatial PropertySpec (each sample is a Spark job), fixed seeds.
  */
class CorpusPropertySpec extends SparkSuite {

  /** Random corpus over a tiny alphabet (forces real duplicate grams)
    * with planted cross-doc and within-doc repeats. */
  private def randomCorpus(seed: Int, nDocs: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    def chunk(n: Int) =
      (0 until n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    val shared = chunk(10 + rnd.nextInt(15))
    (1L to nDocs.toLong).map { i =>
      val base = chunk(20 + rnd.nextInt(40))
      val t =
        if (i % 3 == 0) {
          val at = rnd.nextInt(base.length)
          base.substring(0, at) + shared + base.substring(at)
        } else if (i % 5 == 0) base + base.substring(0, 12 + rnd.nextInt(8))
        else base
      i -> t
    }
  }

  /** Brute-force reference for duplicateSpanList/duplicateSpans. */
  private def refSpans(corpus: Seq[(Long, String)],
      l: Int): Map[Long, (Long, Long, Long)] = {
    val grams = corpus.flatMap { case (id, t) =>
      (0 to t.length - l).map(p => (t.substring(p, p + l), id, p + 1L))
    }
    val dupKeys = grams.groupBy(_._1).filter(_._2.size >= 2).keySet
    corpus.flatMap { case (id, t) =>
      val anchors = (0 to t.length - l)
        .filter(p => dupKeys(t.substring(p, p + l)))
        .map(p => (p + 1L, p.toLong + l))
      if (anchors.isEmpty) None
      else {
        var spans = List.empty[(Long, Long)]
        anchors.foreach { case (s, e) =>
          spans match {
            case (s0, e0) :: rest if s <= e0 + 1 =>
              spans = (s0, math.max(e0, e)) :: rest
            case _ => spans = (s, e) :: spans
          }
        }
        val merged = spans.reverse
        Some(id -> (merged.size.toLong, anchors.size.toLong,
          merged.map { case (s, e) => e - s + 1 }.sum))
      }
    }.toMap
  }

  test("property: duplicateSpans == brute-force reference on random corpora") {
    import spark.implicits._
    (1 to 6).foreach { seed =>
      val corpus = randomCorpus(seed * 101 + 7, 18)
      val got = TextDedup.duplicateSpans(
          corpus.toDF("doc_id", "text"), "doc_id", "text", l = 6)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(got == refSpans(corpus, 6), s"seed $seed diverged")
    }
  }

  test("property: exciseDuplicateSpans == reference cut-and-stitch") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (1 to 6).foreach { seed =>
      val corpus = randomCorpus(seed * 317 + 11, 15)
      val l = 6
      val grams = corpus.flatMap { case (_, t) =>
        (0 to t.length - l).map(p => t.substring(p, p + l))
      }
      val dupKeys = grams.groupBy(identity).filter(_._2.size >= 2).keySet
      val expect = corpus.map { case (id, t) =>
        val marked = Array.fill(t.length)(false)
        (0 to t.length - l).foreach { p =>
          if (dupKeys(t.substring(p, p + l)))
            (p until p + l).foreach(marked(_) = true)
        }
        // NOTE the operator merges ADJACENT spans (gap 0 keeps chars
        // between them): char-level marking equals interval-merge
        // marking because merged intervals cover exactly the marked
        // chars
        val clean = t.zipWithIndex.collect {
          case (c, i) if !marked(i) => c
        }.mkString
        id -> (clean.length.toLong, (t.length - clean.length).toLong,
          md5hex(clean))
      }.toMap
      val got = TextDedup.exciseDuplicateSpans(
          corpus.toDF("doc_id", "text"), "doc_id", "text", l)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
        .toMap
      assert(got == expect, s"seed $seed diverged")
    }
  }

  test("property: incrementalSpanState == full rebuild across random deltas") {
    import spark.implicits._
    (1 to 4).foreach { seed =>
      val rnd = new scala.util.Random(seed * 401 + 13)
      val oldCorpus = randomCorpus(seed * 977 + 29, 16)
      // random delta: drop some docs, rewrite some (which can both
      // create and destroy duplications), add brand-new docs
      val dropped = oldCorpus.map(_._1).filter(_ => rnd.nextInt(5) == 0).toSet
      val changed = oldCorpus.map(_._1)
        .filter(id => !dropped(id) && rnd.nextInt(4) == 0).toSet
      val newDocs = (100L to 102L).map(i =>
        i -> oldCorpus(rnd.nextInt(oldCorpus.size))._2.take(30))
      val newCorpus = oldCorpus.filterNot(d => dropped(d._1))
        .map { case (id, t) =>
          id -> (if (changed(id)) t.reverse + "xx" else t)
        } ++ newDocs
      val oldDf = oldCorpus.toDF("doc_id", "text")
      val newDf = newCorpus.toDF("doc_id", "text")
      val l = 6
      val built = TextDedup.spanState(oldDf, "doc_id", "text", l)
      val st = TextDedup.SpanState(built.anchors.persist(),
        built.counts.persist(), built.spans.persist())
      val removedIds = (dropped ++ changed).toSeq.toDF("doc_id")
      val addedDocs = newCorpus
        .filter(d => changed(d._1) || d._1 >= 100L).toDF("doc_id", "text")
      val inc = TextDedup.incrementalSpanState(st, removedIds, addedDocs,
        "doc_id", "text", l)
      def spanSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val got = spanSet(inc.spans)
      val want = spanSet(TextDedup.duplicateSpanList(newDf, "doc_id", "text", l))
      assert(got == want, s"seed $seed: delta-run spans diverged")
      // the maintained counts must equal a fresh count over the new corpus
      val gotCounts = inc.counts.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val wantCounts = newDf
        .select(org.apache.spark.sql.functions.expr(
          "explode(sequence(1, length(text) - 5)) AS p"), $"text")
        .selectExpr("substring(md5(CAST(substring(text, p, 6) AS BINARY)), 1, 16) AS h")
        .groupBy("h").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(gotCounts == wantCounts, s"seed $seed: counts diverged")
      st.release()
    }
  }

  test("property: lmScore == brute-force bigram reference") {
    import spark.implicits._
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed * 53 + 3)
      val corpus = (1L to 20L).map { i =>
        i -> (0 until 10 + rnd.nextInt(30))
          .map(_ => s"w${rnd.nextInt(8)}").mkString(" ")
      }
      val train = corpus.filter(_._1 % 2 == 0)
      def bigrams(t: String) = {
        val toks = t.split(" ").toSeq
        toks.zip(toks.tail).map { case (a, b) => s"$a $b" }
      }
      val c12 = train.flatMap(d => bigrams(d._2)).groupBy(identity)
        .map { case (g, o) => g -> o.size }
      val c1 = train.flatMap(d => bigrams(d._2).map(_.split(" ")(0)))
        .groupBy(identity).map { case (w, o) => w -> o.size }
      val vocab = c12.keySet.map(_.split(" ")(1)).size.toDouble
      val expect = corpus.map { case (id, t) =>
        val bs = bigrams(t)
        val micros = bs.map { g =>
          val p = (c12.getOrElse(g, 0) + 0.5) /
            (c1.getOrElse(g.split(" ")(0), 0) + 0.5 * vocab)
          math.floor(math.log(p) * 1e6 + 0.5).toLong
        }
        val avg = BigDecimal(micros.sum.toDouble / bs.size / 1e6)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        id -> (bs.size.toLong, avg)
      }.toMap
      val got = TrainingOps.lmScore(train.toDF("doc_id", "text"),
          corpus.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      assert(got == expect, s"seed $seed diverged")
    }
  }

  test("property: sourceOverlapMatrix == brute-force set-intersection reference") {
    import spark.implicits._
    (1 to 4).foreach { seed =>
      val rnd = new scala.util.Random(seed * 131 + 19)
      val docs = (1L to 30L).map { i =>
        val src = s"s${rnd.nextInt(4)}"
        val t = (0 until 8 + rnd.nextInt(20))
          .map(_ => s"w${rnd.nextInt(12)}").mkString(" ")
        (i, t, src)
      }
      def trigrams(t: String): Seq[String] = {
        val toks = t.split(" ").toSeq
        if (toks.size < 3) Seq(toks.mkString(" "))
        else toks.sliding(3).map(_.mkString(" ")).toSeq
      }
      val bySrc = docs.groupBy(_._3).map { case (s, ds) =>
        s -> ds.flatMap(d => trigrams(d._2)).toSet
      }
      val expect = (for {
        a <- bySrc.keys; b <- bySrc.keys if a < b
        shared = (bySrc(a) intersect bySrc(b)).size if shared > 0
      } yield (a, b) -> (shared.toLong, bySrc(a).size.toLong,
        bySrc(b).size.toLong)).toMap
      val got = TrainingOps.sourceOverlapMatrix(
          docs.toDF("doc_id", "text", "source"), "text", "source")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      assert(got == expect, s"seed $seed diverged")
    }
  }

  test("property: semDedup == brute-force seeded-assignment reference") {
    import spark.implicits._
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed * 211 + 5)
      val vecs = (1L to 30L).map { i =>
        // duplicates of earlier vectors planted every 4th id
        if (i % 4 == 0 && i > 4)
          i -> null // filled below from an earlier vector
        else i -> Seq.fill(6)(rnd.nextFloat() * 2 - 1)
      }.toMap
      val filled = (1L to 30L).map { i =>
        i -> (if (vecs(i) == null) vecs(i - 3) else vecs(i))
      }
      def cos(a: Seq[Float], b: Seq[Float]): Double = {
        val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
        val r = d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
          math.sqrt(b.map(x => x.toDouble * x).sum))
        BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val k = 4
      val tau = 0.9
      val seeds = filled.sortBy(_._1).take(k)
      val cluster = filled.map { case (id, v) =>
        id -> seeds.map { case (sid, sv) => (cos(v, sv), -sid) }
          .zip(seeds.map(_._1)).maxBy(_._1)._2
      }.toMap
      val expect = filled.map { case (id, v) =>
        val dropped = filled.exists { case (jd, jv) =>
          jd < id && cluster(jd) == cluster(id) && cos(jv, v) >= tau
        }
        id -> (cluster(id), !dropped)
      }.toMap
      val got = VectorOps.semDedup(
          filled.toSeq.toDF("vec_id", "embedding"), "vec_id", "embedding",
          k, tau)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
        .toMap
      assert(got == expect, s"seed $seed diverged")
    }
  }
}
