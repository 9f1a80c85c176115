package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

class TrainingOpsSpec extends SparkSuite {

  test("ngramOverlap counts distinct shared n-grams, absent when zero") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val docs = Seq(
      // shares "the quick brown" and "quick brown fox" and "brown fox jumps"
      (1L, "the quick brown fox jumps over"),
      // repeats a shared 3-gram twice — must count ONCE (distinct)
      (2L, "the quick brown and the quick brown"),
      // no overlap
      (3L, "completely different words here entirely")).toDF("doc_id", "text")
    val got = TrainingOps.ngramOverlap(docs, "doc_id", "text", bench, "text", n = 3)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 3L), (2L, 1L)))
  }

  test("packSequences: per-shard prefix-sum bins, capacity respected") {
    import spark.implicits._
    val d = Seq(
      (1L, 0, 300L), (2L, 0, 300L), (3L, 0, 300L), (4L, 0, 300L),
      (5L, 1, 600L), (6L, 1, 100L)).toDF("doc_id", "shard", "n_tokens")
    val got = TrainingOps.packSequences(d, "doc_id", "n_tokens", 512,
        shardCol = Some("shard"))
      .select("doc_id", "bin").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // shard 0: prefix-before = 0,300,600,900 -> bins 0,0,1,1
    // shard 1: prefix-before = 0,600 -> bins 0,1
    assert(got.toSeq === Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L),
      (5L, 0L), (6L, 1L)))
    // determinism: identical re-run, identical assignment
    val again = TrainingOps.packSequences(d, "doc_id", "n_tokens", 512,
        shardCol = Some("shard"))
      .select("doc_id", "bin").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(again.toSeq === got.toSeq)
  }

  test("chunkTokens: overlap layout, short docs, full coverage") {
    import spark.implicits._
    val text10 = (1 to 10).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, text10), (2L, "a b c"), (3L, "solo")).toDF("doc_id", "text")
    val got = TrainingOps.chunkTokens(d, "doc_id", "text",
        chunkSize = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx").collect()
    // doc 1: 10 tokens -> chunks at 0,3,6 cover [1-4],[4-7],[7-10] ->
    // 1 + ceil((10-4)/3) = 3 chunks, all full size
    val doc1 = got.filter(_.getLong(0) == 1L)
    assert(doc1.map(_.getLong(1)).toSeq === Seq(0L, 1L, 2L))
    assert(doc1.map(_.getLong(3)).toSeq === Seq(4L, 4L, 4L))
    // every token of doc 1 is covered by at least one chunk
    val covered = doc1.flatMap { r =>
      val s = r.getLong(1).toInt * 3
      (s until math.min(s + 4, 10))
    }.toSet
    assert(covered === (0 until 10).toSet)
    // doc 2: 3 tokens < chunkSize -> exactly one (short) chunk
    val doc2 = got.filter(_.getLong(0) == 2L)
    assert(doc2.length === 1 && doc2(0).getLong(3) === 3L)
    // doc 3: single token -> one chunk of one token
    assert(got.count(_.getLong(0) == 3L) === 1)
    // invalid parameters rejected
    assert(intercept[IllegalArgumentException] {
      TrainingOps.chunkTokens(d, "doc_id", "text", 4, 5)
    }.getMessage.contains("stride"))
  }

  test("repetitionRatio: 1.0 for pure repetition, low for diverse text") {
    import spark.implicits._
    val d = Seq(
      (1L, "spam spam spam spam spam"),          // one bigram repeated
      (2L, "all words here are unique tokens"),  // every bigram distinct
      (3L, "x"),                                 // degenerate single token
      (4L, "")).toDF("doc_id", "text")
    val got = TrainingOps.repetitionRatio(d, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got(0)._2 === 1.0) // "spam spam" x4 of 4 bigrams
    assert(got(1)._2 === 0.2) // 5 distinct bigrams, max run 1
    assert(got(2)._2 === 1.0) // single degenerate shingle
    assert(got(3)._2 === 1.0) // empty text -> one empty shingle
  }

  test("mixCorpus: integer copies exact, fractional share near weight, w=0 drops") {
    import spark.implicits._
    val d = (0 until 400).map(i => (i.toLong, if (i < 200) "up" else "down"))
      .toDF("doc_id", "source")
    val mixed = TrainingOps.mixCorpus(d, "doc_id", "source",
      Map("up" -> 2.5, "down" -> 0.25))
    val byCopy = mixed.groupBy("source", "copy_idx").count()
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
    // full copies are exact
    assert(byCopy(("up", 0)) == 200L && byCopy(("up", 1)) == 200L)
    // fractional copies hit the hash share within a loose band
    assert(byCopy(("up", 2)) > 60L && byCopy(("up", 2)) < 140L)
    assert(byCopy(("down", 0)) > 20L && byCopy(("down", 0)) < 80L)
    // weight 0 excludes entirely; determinism: re-run is identical
    val zero = TrainingOps.mixCorpus(d, "doc_id", "source",
      Map("up" -> 0.0, "down" -> 0.0))
    assert(zero.count() == 0L)
    val again = TrainingOps.mixCorpus(d, "doc_id", "source",
      Map("up" -> 2.5, "down" -> 0.25))
      .groupBy("source", "copy_idx").count()
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
    assert(again == byCopy)
    // the explicit weight contract: a non-binary fraction (0.1 has no
    // finite base-2 expansion) is rejected up front instead of silently
    // weakening the cross-engine bit-identity claim
    val ex = intercept[IllegalArgumentException] {
      TrainingOps.mixCorpus(d, "doc_id", "source", Map("up" -> 1.1))
    }
    assert(ex.getMessage.contains("binary fraction"))
    // exact binary fractions of any width pass
    TrainingOps.mixCorpus(d, "doc_id", "source",
      Map("up" -> (1.0 + 3.0 / 4294967296.0))).count()
  }

  test("hashSplit: deterministic, near-target shares, growth-stable, contract enforced") {
    import spark.implicits._
    val d = (0L until 4000L).toDF("doc_id")
    val splits = Seq("train" -> 0.875, "val" -> 0.0625, "test" -> 0.0625)
    val got = TrainingOps.hashSplit(d, "doc_id", splits, salt = "s1")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val shares = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(shares("train") - 3500) < 200)
    assert(math.abs(shares("val") - 250) < 100)
    assert(math.abs(shares("test") - 250) < 100)
    // growth stability: the split of the first 1000 docs is unchanged
    // when the corpus quadruples — the leakage-freedom property
    val small = TrainingOps.hashSplit((0L until 1000L).toDF("doc_id"),
        "doc_id", splits, salt = "s1")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(small.forall { case (id, sp) => got(id) == sp })
    // different salt draws an (almost surely) different assignment
    val other = TrainingOps.hashSplit(d, "doc_id", splits, salt = "s2")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(other.exists { case (id, sp) => got(id) != sp })
    // contract: non-binary fraction and sum > 1 both rejected
    intercept[IllegalArgumentException] {
      TrainingOps.hashSplit(d, "doc_id", Seq("a" -> 0.1, "b" -> 0.5))
    }
    intercept[IllegalArgumentException] {
      TrainingOps.hashSplit(d, "doc_id", Seq("a" -> 0.75, "b" -> 0.5))
    }
    // contract: a zero-fraction LAST split at FULL coverage is refused
    // loudly — the last branch is the unconditional fallback, and the
    // md5-prefix-ffffffff doc would leak into it (eval contamination)
    val exZero = intercept[IllegalArgumentException] {
      TrainingOps.hashSplit(d, "doc_id", Seq("train" -> 1.0, "eval" -> 0.0))
    }
    assert(exZero.getMessage.contains("fraction 0 at full coverage"))
    // ...but at PARTIAL coverage the last split is the documented
    // remainder sink, zero declared fraction or not: accepted, and it
    // receives exactly the docs past the declared thresholds
    val rest = TrainingOps.hashSplit(d, "doc_id",
        Seq("train" -> 0.75, "rest" -> 0.0), salt = "s1")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rest.getOrElse("rest", 0L) > 0L)
    // a zero-fraction NON-last split can never receive a doc: its
    // threshold equals its predecessor's, so the strict < that guards
    // it is unsatisfiable once the predecessor's branch has passed
    val mid = TrainingOps.hashSplit(d, "doc_id",
        Seq("train" -> 0.875, "eval" -> 0.0, "test" -> 0.125), salt = "s1")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mid.getOrElse("eval", 0L) == 0L)
  }

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    import spark.implicits._
    val oldSnap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "fp")
    val newSnap = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("doc_id", "fp")
    val got = TrainingOps.snapshotDiff(oldSnap, newSnap, "doc_id", "fp")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "removed"), (2L, "unchanged"),
      (3L, "changed"), (4L, "added")))
  }

  test("qualityRules: each rule gates independently, signals exact") {
    import spark.implicits._
    val good = (("the quick brown fox jumps over and over with a lot of " * 5) +
      "end").trim // 12 x 5 + 1 = 61 words, all alpha, stopword-rich
    val short = "the and of brief"                       // fails word count
    val noStop = (0 until 60).map(i => s"tok$i").mkString(" ") // fails stopwords
    val longWords = (("extraordinarily incomprehensible " * 30).trim +
      " the and of to be have") // mean word len > 10
    val d = Seq((1L, good), (2L, short), (3L, noStop), (4L, longWords))
      .toDF("doc_id", "text")
    val got = TrainingOps.qualityRules(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    def flags(i: Int) = (got(i).getAs[Boolean]("ok_words"),
      got(i).getAs[Boolean]("ok_mean_len"), got(i).getAs[Boolean]("ok_alpha"),
      got(i).getAs[Boolean]("ok_stop"), got(i).getAs[Boolean]("keep"))
    assert(flags(0) == ((true, true, true, true, true)))
    assert(flags(1)._1 == false && flags(1)._5 == false)
    assert(flags(2)._4 == false && flags(2)._5 == false)
    assert(flags(3)._2 == false && flags(3)._5 == false)
    assert(got(0).getAs[Long]("n_words") == 61L)
  }

  test("redactPii: categories, fixed order, idempotence, clean text untouched") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail bob.smith+x@corp.example.org now"),
      (2L, "server at 192.168.0.1 port 8080"),
      (3L, "card 4111222233334444 and phone 0701234567"),
      (4L, "nothing sensitive here 1234 end"),
      (5L, "a@b.co via 10.0.0.1 ref 999999999")).toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
        TrainingOps.redactPii(col("text")).as("r"),
        TrainingOps.piiCounts(col("text")).as("c"))
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == "mail <EMAIL> now")
    assert(out(1).getString(1) == "server at <IP> port 8080")
    assert(out(2).getString(1) == "card <NUM> and phone <NUM>")
    assert(out(3).getString(1) == "nothing sensitive here 1234 end")
    assert(out(4).getString(1) == "<EMAIL> via <IP> ref <NUM>")
    val c4 = out(4).getStruct(2)
    assert((c4.getLong(0), c4.getLong(1), c4.getLong(2)) == ((1L, 1L, 1L)))
    // idempotence: redacting redacted text changes nothing
    val twice = d.select(TrainingOps.redactPii(
        TrainingOps.redactPii(col("text"))).as("r2"))
      .collect().map(_.getString(0))
    assert(twice.toSeq == out.map(_.getString(1)).toSeq)
  }

  test("canonicalizeUrl: surface forms of the same page collapse to one key") {
    import spark.implicits._
    val variants = Seq(
      "https://www.site.com/a/b?x=1&y=2",          // already canonical
      "HTTPS://WWW.SITE.COM/a/b?y=2&x=1",          // case + param order
      "https://www.site.com:443/a/b/?x=1&y=2#top", // port + slash + fragment
      "https://www.site.com/a/b?utm_source=nl&y=2&fbclid=Z&x=1") // tracking
    val canon = variants.toDF("u")
      .select(WebArchive.canonicalizeUrl(col("u"))).collect().map(_.getString(0))
    assert(canon.toSet == Set("https://www.site.com/a/b?x=1&y=2"))
    // path case is preserved; http default port 80 stripped; empty query
    val more = Seq(
      ("http://Host.org:80/CaseSensitive", "http://host.org/CaseSensitive"),
      ("http://host.org:8080/p", "http://host.org:8080/p"),
      ("https://x.y.z.com/?utm_a=1", "https://x.y.z.com"))
      .toDF("u", "want")
      .select(WebArchive.canonicalizeUrl(col("u")).as("got"), col("want"))
      .collect()
    more.foreach(r => assert(r.getString(0) == r.getString(1),
      s"${r.getString(0)} != ${r.getString(1)}"))
    val dom = Seq("https://a.b.site.co:8443/x").toDF("u")
      .select(WebArchive.urlDomain(col("u"))).head.getString(0)
    assert(dom == "site.co")
  }

  test("weightedSample: deterministic, weight-monotone inclusion, non-positive weights excluded, TakeOrdered plan") {
    import spark.implicits._
    val pop = (1L to 400L).map { i =>
      // ids 1-200 light (w=1), 201-400 heavy (w=50); a few degenerate
      val w: java.lang.Double =
        if (i % 97 == 0) null
        else if (i % 89 == 0) 0.0
        else if (i % 83 == 0) -2.0
        else if (i <= 200) 1.0 else 50.0
      (i, w)
    }.toDF("doc_id", "w")
    val s1 = TrainingOps.weightedSample(pop, "doc_id", "w", n = 60, salt = "s")
      .select("doc_id").as[Long].collect().toSet
    // same draw replays exactly
    val s2 = TrainingOps.weightedSample(pop, "doc_id", "w", n = 60, salt = "s")
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == s2 && s1.size == 60)
    // degenerate weights can never be drawn, even with n > population
    val all = TrainingOps.weightedSample(pop, "doc_id", "w", n = 1000)
      .select("doc_id").as[Long].collect()
    assert(all.forall(i => i % 97 != 0 && i % 89 != 0 && i % 83 != 0))
    // 50x weight must dominate the draw (binomial: P(heavy < 40 of 60)
    // is astronomically small at this weight ratio)
    val heavy = s1.count(_ > 200L)
    assert(heavy > 40, s"heavy-weight inclusion too low: $heavy of 60")
    // and an independent salt gives a different (still heavy-skewed) draw
    val s3 = TrainingOps.weightedSample(pop, "doc_id", "w", n = 60, salt = "t")
      .select("doc_id").as[Long].collect().toSet
    assert(s3 != s1)
    // scale shape: top-n via TakeOrdered (per-partition bounded heap +
    // driver merge), not a global sort shuffle
    val plan = TrainingOps.weightedSample(pop, "doc_id", "w", n = 60)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"), plan.take(400))
  }

  test("weightedSample: inclusion proportional to weight (3:1 over a 2.5% draw)") {
    import spark.implicits._
    // 20k items, half weight 3, half weight 1; a 500-item draw (2.5%,
    // depletion negligible) should hold E[heavy] ~ 500 * 3/4 = 375,
    // sd ~ 9.7 — the 325..425 window is a ~5-sigma band, so a pass is
    // evidence the exponential-race keys actually encode the weights
    // (a uniform sampler would land at 250, 13 sigma out)
    val pop = (1L to 20000L).map(i => (i, if (i % 2 == 0) 3.0 else 1.0))
      .toDF("doc_id", "w").repartition(8)
    val heavy = TrainingOps.weightedSample(pop, "doc_id", "w", n = 500)
      .select("doc_id").as[Long].collect().count(_ % 2 == 0)
    assert(heavy > 325 && heavy < 425, s"heavy count $heavy outside 5-sigma band")
  }

  test("bpeMerges: the Sennrich worked example, merge by merge") {
    import spark.implicits._
    // the arXiv:1508.07909 §3.2 vocabulary: low x5, lower x2,
    // newest x6, widest x3 — every merge below is hand-derived
    // (count desc, pair lexicographic on ties)
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("Lower!") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val got = TrainingOps.bpeMerges(docs, "text", numMerges = 8)
      .orderBy("merge_idx").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1, "e", "s", 9L),      // e-s 9 ties s-t 9, e < s
      (2, "es", "t", 9L),     // newest/widest now end in "est"
      (3, "l", "o", 7L),      // l-o 7 ties o-w 7
      (4, "lo", "w", 7L),
      (5, "e", "w", 6L),      // three 6-count pairs, e < ew < n
      (6, "ew", "est", 6L),
      (7, "n", "ewest", 6L),  // newest is now ONE symbol
      (8, "d", "est", 3L)))
    // the DISTRIBUTED engine (forced via budget 0) learns the
    // identical sequence — the two learn paths are interchangeable
    val dist = TrainingOps.bpeMerges(docs, "text", numMerges = 8,
        localLearnMaxTypes = 0L)
      .orderBy("merge_idx").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(dist.toSeq == got.toSeq)
    // exhaustion: a vocab with one fusible pair stops early, no error —
    // on BOTH engines
    val tiny = Seq((1L, "ab ab c")).toDF("doc_id", "text")
    for (budget <- Seq(0L, 100L)) {
      val t = TrainingOps.bpeMerges(tiny, "text", numMerges = 5,
          localLearnMaxTypes = budget)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      assert(t.toSeq == Seq((1, "a", "b", 2L)), s"budget $budget")
    }
  }

  test("bpeMerges: driver-local == distributed, deep run over a messy corpus") {
    import spark.implicits._
    // adversarial shapes: repeated-letter runs (overlapping pair
    // counts + non-overlapping left-to-right fusion), count ties
    // (lexicographic break), shared prefixes/suffixes
    val rnd = new scala.util.Random(7)
    val vocabulary = Seq("banana", "bananas", "aaaa", "aaab", "abab",
      "mississippi", "success", "assess", "lesson", "lessee",
      "footloose", "bootstrap", "zzzyzzz") ++
      (0 until 40).map(_ => (0 until (2 + rnd.nextInt(8)))
        .map(_ => ('a' + rnd.nextInt(6)).toChar).mkString)
    val text = rnd.shuffle(vocabulary.flatMap(w =>
      Seq.fill(1 + rnd.nextInt(5))(w))).mkString(" ")
    val docs = Seq((1L, text), (2L, text.toUpperCase),
      (3L, "aaaa aaab; abab!")).toDF("doc_id", "text")
    def run(budget: Long) =
      TrainingOps.bpeMerges(docs, "text", numMerges = 40,
          localLearnMaxTypes = budget)
        .orderBy("merge_idx").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    val local = run(1000000L)
    val dist = run(0L)
    assert(local == dist,
      s"learn engines diverged:\n local=$local\n dist=$dist")
    assert(local.size == 40, s"expected a full 40-rule run, got ${local.size}")
  }

  test("applyBpeMerges: per-doc token counts under the learned rules") {
    import spark.implicits._
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val rules = TrainingOps
      .bpeMerges(Seq((1L, corpus)).toDF("doc_id", "text"), "text", 8)
      .orderBy("merge_idx").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    // after the 8 merges: low=1 symbol, lower=low+e+r=3,
    // newest=1, widest=w+i+dest=3; doc 3 has no [a-z] words -> absent
    val docs = Seq(
      (1L, "Low, lower!"), (2L, "newest widest NEWEST"), (3L, "123 !!")
    ).toDF("doc_id", "text")
    val got = TrainingOps.applyBpeMerges(docs, "doc_id", "text", rules)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 4L), (2L, 5L)))
  }

  test("applyBpeMerges refuses non-[a-z]+ rules loudly (external surface)") {
    import spark.implicits._
    val docs = Seq((1L, "hello world")).toDF("doc_id", "text")
    for (bad <- Seq(("a", "b'||'x"), ("A", "b"), ("a_", "b"), ("", "b"))) {
      val e = intercept[IllegalArgumentException] {
        TrainingOps.applyBpeMerges(docs, "doc_id", "text", Seq(bad))
      }
      assert(e.getMessage.contains("[a-z]+"), s"$bad: ${e.getMessage}")
    }
  }

  test("packSequences: duplicate ids do not double-count (ROWS frame, not RANGE)") {
    import spark.implicits._
    // two peers with the same id, 5 tokens each, capacity 5: under the
    // default RANGE frame both saw cum=10 and landed in bin 1, leaving
    // bin 0 EMPTY; the ROWS frame packs them into bins {0, 1}
    val docs = Seq((1L, 5L), (1L, 5L)).toDF("doc_id", "n_tokens")
    val bins = TrainingOps.packSequences(docs, "doc_id", "n_tokens",
      capacity = 5).select("bin").collect().map(_.getLong(0)).sorted
    assert(bins.toSeq == Seq(0L, 1L), s"got bins ${bins.toSeq}")
  }

  test("chunkTokens: null-text docs yield no phantom chunk rows") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, null: String))
      .toDF("doc_id", "text")
    val rows = TrainingOps.chunkTokens(docs, "doc_id", "text",
      chunkSize = 2, stride = 2).collect()
    assert(rows.forall(_.getLong(0) == 1L),
      s"null-text doc emitted chunks: ${rows.mkString(",")}")
    assert(rows.length == 2)
  }

  test("weightedSample excludes null ids (one shared key would be partition luck)") {
    import spark.implicits._
    val df = Seq((java.lang.Long.valueOf(1L), 5.0),
      (null.asInstanceOf[java.lang.Long], 100.0),
      (null.asInstanceOf[java.lang.Long], 100.0))
      .toDF("doc_id", "w")
    val got = TrainingOps.weightedSample(df, "doc_id", "w", n = 3)
      .select("doc_id").collect()
    assert(got.length == 1 && got.head.getLong(0) == 1L,
      s"null-id rows sampled: ${got.mkString(",")}")
  }

  test("snapshotDiff: null fingerprints classify by PRESENCE, null-safely") {
    import spark.implicits._
    val old = Seq((1L, "aa"), (2L, null: String), (3L, null: String),
      (4L, "dd")).toDF("doc_id", "fp")
    val neu = Seq((1L, "aa"), (2L, "bb"), (3L, null: String),
      (5L, "ee")).toDF("doc_id", "fp")
    val got = TrainingOps.snapshotDiff(old, neu, "doc_id", "fp")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "unchanged")
    // present in both, old fp NULL: fp changed — NOT 'added'
    assert(got(2L) == "changed", s"got ${got(2L)}")
    // present in both, both fps NULL: nothing to reprocess
    assert(got(3L) == "unchanged", s"got ${got(3L)}")
    assert(got(4L) == "removed" && got(5L) == "added")
  }

  test("bpeTokenSpans: decode law, count agreement with applyBpeMerges, splitter positions kept") {
    import spark.implicits._
    val docs = Seq(
      (1L, "low lower lowest low"),
      (2L, "newest widest low"),
      // leading punctuation: bpeWords emits a leading empty token, so
      // real words start at word_pos 2 — positions must keep the gap
      (3L, "!low new")).toDF("doc_id", "text")
    val rules = TrainingOps.bpeMerges(docs, "text", numMerges = 4)
      .orderBy("merge_idx").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val spans = TrainingOps.bpeTokenSpans(docs, "doc_id", "text", rules)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getInt(3), r.getString(4)))
    // DECODE law: per (doc, word_pos), tokens concatenated in tok_pos
    // order reproduce the word exactly — nothing lost, nothing invented
    spans.groupBy(s => (s._1, s._2)).foreach { case ((d, wp), ts) =>
      val w = ts.head._3
      val decoded = ts.sortBy(_._4).map(_._5).mkString
      assert(decoded == w, s"doc $d word_pos $wp: '$decoded' != '$w'")
    }
    // count agreement: token count per doc == applyBpeMerges
    val counts = TrainingOps.applyBpeMerges(docs, "doc_id", "text", rules)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val spanCounts = spans.groupBy(_._1).view.mapValues(_.length).toMap
    counts.foreach { case (d, n) =>
      assert(spanCounts(d).toLong == n, s"doc $d: spans ${spanCounts(d)} vs counts $n")
    }
    // splitter positions: doc 3's first real word sits at word_pos 2
    val d3Positions = spans.filter(_._1 == 3L).map(_._2).distinct.sorted.toSeq
    assert(d3Positions == Seq(2, 3), s"doc 3 positions $d3Positions")
    // a merged rule actually produced a multi-char token somewhere
    assert(spans.exists(_._5.length > 1), "no merge ever applied")
    // contract: invalid rules refuse loudly (shared with applyBpeMerges)
    intercept[IllegalArgumentException] {
      TrainingOps.bpeTokenSpans(docs, "doc_id", "text", Seq(("A", "b")))
    }
  }

  test("byte units: 256-way bijection; pre-tokenizer tiles every string") {
    import spark.implicits._
    import TrainingOps.ByteUnitsMap
    // bijection over all 256 byte values; '_' is never a unit (it is
    // the lexicon's symbol wrapper), everything stays below U+0200
    val units = (0 until 256).map(ByteUnitsMap.byteToChar)
    assert(units.distinct.size == 256)
    assert(!units.contains('_'))
    assert(units.forall(_ < 0x200))
    assert(ByteUnitsMap.byteToChar(' '.toInt) == 0x120.toChar)
    assert(ByteUnitsMap.byteToChar('_'.toInt) == 0x121.toChar)
    // encode/decode round-trips EXACT BYTES on adversarial text:
    // multibyte (2/3/4-byte UTF-8), controls, quotes, backslash, '_'
    val tricky = Seq("héllo wörld", "日本語テスト", "a b\tc\nd",
      "quote'and\"back\\slash", "__under_score__", "emoji 😀🎉 end",
      "mixed: Тест + עברית + 123")
    tricky.foreach { s =>
      assert(ByteUnitsMap.decode(ByteUnitsMap.encode(s)) == s, s)
    }
    intercept[IllegalArgumentException] { ByteUnitsMap.decode("a_b") }
    // the pre-tokenizer TILES: concatenating the matches reproduces
    // the input char for char, for every shape above plus spacing
    // edge cases (the decode law rests on this)
    val texts = tricky ++ Seq("", "   ", "a  b", " leading", "trailing ",
      "Hello, world! It's 42.5% done...", "tab\tand\nnewline")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val retiled = df.select(col("id"), col("text"),
        concat_ws("", TrainingOps.bytePretokens(col("text"))).as("r"))
      .collect()
    retiled.foreach(r =>
      assert(r.getString(2) == r.getString(1), s"tiling broke: ${r.getString(1)}"))
    // GPT-2 segmentation shape (modulo the documented no-lookahead
    // deviation): one leading space rides with a word; a multi-space
    // run stays ONE whitespace pre-token
    val seg = df.sparkSession.range(1).select(
      TrainingOps.bytePretokens(lit("Hello, world!  It's done")))
      .head().getSeq[String](0)
    assert(seg == Seq("Hello", ",", " world", "!", "  ", "It", "'s",
      " done"), seg)
  }

  test("byte-level BPE: spans match a spec-local greedy oracle; byte " +
      "decode law holds even when tokens split codepoints") {
    import spark.implicits._
    import TrainingOps.ByteUnitsMap
    val docs = Seq(
      (1L, "the quick brown fox. The quick brown fox!"),
      (2L, "Größenwahn, naïveté, 日本語 — the quick test"),
      (3L, "numbers 12345 12345 and emoji 😀😀😀"),
      (4L, "the the the quick quick brown")).toDF("doc_id", "text")
    val rules = TrainingOps.byteBpeMerges(docs, "text", numMerges = 14)
      .orderBy("merge_idx").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(rules.size == 14)
    // every rule is over the unit alphabet (byte-fallback: nothing OOV)
    assert(rules.forall { case (a, b) =>
      (a + b).forall(ByteUnitsMap.isUnit) })
    val spans = TrainingOps.byteBpeTokenSpans(docs, "doc_id", "text",
        rules)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getInt(4), r.getString(5)))
    // spec-local greedy application: rules in order, each fused
    // left-to-right non-overlapping — the reference BPE semantics
    def applyRules(units: String): Seq[String] = {
      var syms = units.map(_.toString).toVector
      for ((a, b) <- rules) {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms
    }
    spans.groupBy(s => (s._1, s._2)).foreach { case ((d, p), ts) =>
      val sorted = ts.sortBy(_._5)
      val w0 = sorted.head._3
      val got = sorted.map(_._6).toSeq
      val want = applyRules(ByteUnitsMap.encode(w0))
      assert(got == want, s"doc $d pretok $p '$w0': $got != $want")
      // the BYTE decode law: concatenated tokens decode to the exact
      // original pre-token
      assert(ByteUnitsMap.decode(got.mkString) == w0,
        s"decode law broke for '$w0'")
    }
    // nothing lost: per-doc pre-token concatenation rebuilds the text
    val rebuilt = spans.groupBy(_._1).view.mapValues(
      _.groupBy(_._2).toSeq.sortBy(_._1)
        .map(_._2.head._3).mkString).toMap
    docs.collect().foreach { r =>
      assert(rebuilt(r.getLong(0)) == r.getString(1),
        s"doc ${r.getLong(0)} did not rebuild")
    }
    // multibyte evidence: the doc-3 emoji run merges across the 4-byte
    // UTF-8 units, so SOME token is not a whole codepoint (its solo
    // decode is not its own re-encode) while the concatenation law
    // above still held — the byte-fallback property in action
    val emojiToks = spans.filter(t => t._1 == 3L && t._3.contains("😀"))
      .map(_._6)
    assert(emojiToks.nonEmpty)
    // over-budget type table: no longer a refusal — it falls back to
    // the distributed learn and must return the IDENTICAL rule
    // sequence as the local path (the next test forces the fallback
    // on multibyte text; this pins the over-budget trigger itself)
    val overBudget = TrainingOps.byteBpeMerges(docs, "text",
        numMerges = 2, localLearnMaxTypes = 1L)
      .orderBy("merge_idx").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    val localTwo = TrainingOps.byteBpeMerges(docs, "text", numMerges = 2)
      .orderBy("merge_idx").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(overBudget.toSeq == localTwo.toSeq,
      s"over-budget fallback diverged from local learn:\n" +
        s"${overBudget.toSeq}\n${localTwo.toSeq}")
    // loud contracts: foreign rule chars
    intercept[IllegalArgumentException] {
      TrainingOps.byteBpeTokenSpans(docs, "doc_id", "text",
        Seq(("a", "_b")))
    }
    intercept[IllegalArgumentException] {
      TrainingOps.byteBpeTokenSpans(docs, "doc_id", "text",
        Seq(("a", "")))
    }
  }

  test("byte BPE: distributed learn == driver-local on multibyte text; " +
      "vocab ids cover every token and round-trip") {
    import spark.implicits._
    import TrainingOps.ByteUnitsMap
    val docs = Seq(
      (1L, "the quick brown fox. The quick brown fox!"),
      (2L, "Größenwahn, naïveté, 日本語 — the quick test"),
      (3L, "numbers 12345 12345 and emoji 😀😀😀"),
      (4L, "the the the quick quick brown")).toDF("doc_id", "text")
    val local = TrainingOps.byteBpeMerges(docs, "text", numMerges = 10)
      .orderBy("merge_idx").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // the distributed fallback (forced via budget 0) learns the
    // IDENTICAL rule sequence over the byte-unit alphabet — the
    // call_function(replace) path never SQL-parses a symbol
    val dist = TrainingOps.byteBpeMerges(docs, "text", numMerges = 10,
        localLearnMaxTypes = 0L)
      .orderBy("merge_idx").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(dist.toSeq == local.toSeq,
      s"distributed byte learn diverged:\n${dist.toSeq}\n${local.toSeq}")
    // vocab: 256 base ids in byte order, then one per merge
    val rules = local.map(t => (t._2, t._3)).toSeq
    val vocab = TrainingOps.byteBpeVocab(rules)
    assert(vocab.size == 266, s"${vocab.size} entries, want 256 + 10")
    val vmap = vocab.toMap
    assert(vmap(ByteUnitsMap.byteToChar(0x20).toString) == 32L)
    assert(vmap(ByteUnitsMap.byteToChar(0).toString) == 0L)
    assert(vmap("t") == 't'.toLong)
    assert(vmap(rules.head._1 + rules.head._2) == 256L)
    assert(vmap(rules.last._1 + rules.last._2) == 265L)
    // encode ids: no misses, and ids round-trip to tokens through the
    // reverse vocab (bijective on the emitted set)
    val ids = TrainingOps.byteBpeEncodeIds(docs, "doc_id", "text", rules)
      .collect().map(r => (r.getString(3), r.getLong(4)))
    assert(ids.nonEmpty && ids.exists(_._2 >= 256L),
      "no fused token ever emitted — fixture has no merge mass")
    val rev = vocab.map(_.swap).toMap
    ids.foreach { case (tok, id) =>
      assert(rev(id) == tok, s"id $id decoded to ${rev(id)}, not $tok")
    }
    // duplicate mint: two segmentations fusing to the same string —
    // the FIRST id wins and the vocab stays one-row-per-token
    val dup = Seq(("a", "b"), ("ab", "c"), ("a", "bc"))
    val v2 = TrainingOps.byteBpeVocab(dup)
    assert(v2.count(_._1 == "abc") == 1)
    assert(v2.toMap.apply("abc") == 257L)
    intercept[IllegalArgumentException] {
      TrainingOps.byteBpeVocab(Seq(("a", "_")))
    }
  }

  test("weightedSamplePerGroup == weightedSample per group; partitioning-invariant") {
    import spark.implicits._
    val d = (1L to 400L).map(i => (i, s"g${i % 3}", (i % 17 + 1).toDouble))
      .toDF("doc_id", "grp", "w")
    val got = TrainingOps.weightedSamplePerGroup(d, "doc_id", "w",
        Seq("grp"), nPerGroup = 5, salt = "s")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        BigDecimal(r.getDouble(3)).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
      .toSet
    // the per-group draw IS the global op restricted to the group —
    // same keys, same winners, same order
    val expected = (0 to 2).flatMap { g =>
      TrainingOps.weightedSample(d.filter(col("grp") === s"g$g"),
          "doc_id", "w", n = 5, salt = "s")
        .collect().zipWithIndex.map { case (r, i) =>
          (s"g$g", i + 1, r.getLong(0),
            BigDecimal(r.getDouble(3)).setScale(9, BigDecimal.RoundingMode.HALF_UP))
        }
    }.toSet
    assert(got == expected)
    // partitioning-invariant (the bounded-heap aggregate must not
    // depend on which partition saw a candidate first)
    val re = TrainingOps.weightedSamplePerGroup(d.repartition(13), "doc_id",
        "w", Seq("grp"), nPerGroup = 5, salt = "s")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(re == got.map(t => (t._1, t._2, t._3)))
    // contracts
    intercept[IllegalArgumentException] {
      TrainingOps.weightedSamplePerGroup(d, "doc_id", "w", Nil, 5)
    }
    intercept[IllegalArgumentException] {
      TrainingOps.weightedSamplePerGroup(d, "doc_id", "w", Seq("grp"), 0)
    }
  }

  test("dsirWeights: target-like docs outscore off-target docs; partitioning-invariant; empty target loud") {
    import spark.implicits._
    val target = Seq((100L, "alpha beta gamma alpha beta"),
      (101L, "beta gamma alpha")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "alpha beta gamma alpha"),     // pure target vocabulary
      (2L, "alpha beta zorp quux"),       // half target
      (3L, "zorp quux flem blarg")        // disjoint vocabulary
    ).toDF("doc_id", "text")
    val got = TrainingOps.dsirWeights(raw, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(1L) > got(2L) && got(2L) > got(3L),
      s"importance ordering violated: $got")
    // per-gram micro-unit longs sum order-independently
    val re = TrainingOps.dsirWeights(raw.repartition(7), target, "doc_id",
        "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(re == got, "dsir_logw depends on partitioning")
    // empty target fails in-plan, loudly
    val e = intercept[Exception] {
      TrainingOps.dsirWeights(raw, target.filter(col("doc_id") < 0L),
        "doc_id", "text").collect()
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("ZERO grams"), chain)
    // resample: deterministic Gumbel top-k, largest keys win, salt
    // draws an independent sample
    val w = TrainingOps.dsirWeights(raw, target, "doc_id", "text")
    val s1 = TrainingOps.dsirResample(w, "doc_id", "dsir_logw", n = 2,
      salt = "a").collect().map(_.getLong(0)).toSeq
    val s1b = TrainingOps.dsirResample(w, "doc_id", "dsir_logw", n = 2,
      salt = "a").collect().map(_.getLong(0)).toSeq
    assert(s1 == s1b, "resample not deterministic")
    assert(s1.toSet.subsetOf(Set(1L, 2L, 3L)) && s1.size == 2)
  }

  test("dsirScoreProbe == dsirWeights row for row; gramless docs probe (0, 0.0)") {
    import spark.implicits._
    val target = Seq((100L, "alpha beta gamma alpha beta"),
      (101L, "beta gamma alpha")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha beta zorp quux"),
      (3L, "zorp quux flem blarg"),
      (4L, "single"),
      (5L, "")).toDF("doc_id", "text")
    val probe = TrainingOps.dsirScoreProbe(raw, target, "text")
    val probed = raw.select(col("doc_id"), probe(col("text")).as("p"))
      .select(col("doc_id"), col("p.n_grams"), col("p.dsir_logw"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val batch = TrainingOps.dsirWeights(raw, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // every batch-scored doc probes EXACTLY equal (long micro folds)
    batch.foreach { case (id, v) =>
      assert(probed(id) == v, s"doc $id: probe ${probed(id)} != batch $v")
    }
    // the documented asymmetry: a gramless doc probes (0, 0.0) where
    // the batch operator omits the row
    assert(!batch.contains(5L) && probed(5L) == ((0L, 0.0)))
    // single-token doc: unigram only, no bigram fallback
    assert(probed(4L)._1 == 1L && batch(4L)._1 == 1L)
  }
}
