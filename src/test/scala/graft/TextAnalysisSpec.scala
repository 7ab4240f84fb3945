package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

/** q60 decontamination mechanism: n-gram overlap against a benchmark set
  * must catch BOTH the query's deterministic plants and natural overlap,
  * and must not flag clean or too-short documents.
  */
class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("decontaminate flags planted AND natural n-gram overlap; short/clean docs stay clean") {
    import spark.implicits._
    // hand corpus, n=3 grams. doc 0 is the benchmark (0 % 97 == 0); its
    // first-3-token snippet is "alpha beta gamma".
    val docs = Seq(
      (0L, "alpha beta gamma delta"),      // benchmark doc
      (1L, "one two three four"),          // clean
      (2L, "p q r"),                       // % 13 == 2: gets the snippet appended -> planted hit
      (3L, "x beta gamma delta y"),        // NATURAL overlap: gram "beta gamma delta"
      (5L, "tiny doc")                     // < n tokens: no grams, defined, clean
    ).map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_decon").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = TextAnalysis.decontaminate(spark, dir, n = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 0L, 0L),
      (2L, 1L, 1L), // only the appended snippet gram matches
      (3L, 1L, 1L), // the natural "beta gamma delta" gram
      (5L, 0L, 0L)
    ), s"got $out")
  }

  test("domain mix keeps minority sources whole and hash-gates the dominant one near its rate") {
    import spark.implicits._
    val out = TextAnalysis.domainMix(spark, TestSpark.Sf0001)
      .as[(Long, String)].collect()
    val bySource = out.groupBy(_._2).view.mapValues(_.length).toMap
    val baseCounts = Tables.documents(spark, TestSpark.Sf0001)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    // every minority source passes WHOLE (rate exactly 1 — the gate
    // `hash < floor(1.0 * 2^20)` admits every doc_id)
    baseCounts.foreach { case (s, n) =>
      assert(bySource.get(s).contains(n.toInt), s"minority source $s must be kept whole")
    }
    // the dominant crawl source lands near its expected rate (binomial
    // around min/ns; the gate is deterministic, so this is a fixed number —
    // the band just documents the intent, not flakiness)
    val minN = baseCounts.values.min.toInt
    val crawlKept = bySource.getOrElse("crawl", 0)
    assert(crawlKept > 0 && crawlKept <= 2 * minN,
      s"crawl must be downsampled toward $minN, got $crawlKept")
    // determinism: the same call returns the same sample
    val again = TextAnalysis.domainMix(spark, TestSpark.Sf0001).as[(Long, String)].collect()
    assert(again.toSeq == out.toSeq)
  }

  test("declared q60 catches every derived plant; flag and count stay consistent") {
    import spark.implicits._
    val out = TextAnalysis.decontaminate(spark, TestSpark.Sf0001)
      .as[(Long, Long, Long)].collect()
    val flagged = out.collect { case (id, _, 1L) => id }.toSet
    val plants = out.map(_._1).filter(id => id % 13 == 2).toSet
    // the fixture can contain NATURAL 8-gram overlap with the benchmark
    // slice (sf0.001 has two such docs) — plants are the floor, not the
    // whole set
    assert(plants.subsetOf(flagged) && plants.nonEmpty,
      s"every planted doc must be flagged; missing ${plants -- flagged}")
    assert(out.forall { case (_, shared, flag) => (shared > 0) == (flag == 1L) })
    // benchmark docs themselves are never in the output
    assert(out.forall(_._1 % 97 != 0))
  }

  test("sentence dedup keeps only the GLOBAL first occurrence; documents reassemble in order") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha one. shared boiler. alpha two"),
      (2L, "beta one. shared boiler. beta two"), // cross-doc boilerplate: stripped here
      (3L, "shared boiler"),                     // entirely boilerplate: zero survivors
      (4L, "gamma one. gamma one. gamma two")    // in-doc repeat dedups too
    ).toDF("doc_id", "text")
    val m = TextAnalysis.sentenceDedupOf(corpus)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(m(1L) == ((1L, 3L, 3L, "alpha one. shared boiler. alpha two")),
      s"doc 1 holds the first occurrence and keeps everything; got ${m(1L)}")
    assert(m(2L) == ((2L, 3L, 2L, "beta one. beta two")), s"got ${m(2L)}")
    assert(m(3L) == ((3L, 1L, 0L, "")), s"got ${m(3L)}")
    assert(m(4L) == ((4L, 3L, 2L, "gamma one. gamma two")), s"got ${m(4L)}")
  }

  test("decontaminateBloom equals decontaminate row-for-row: the exact confirm join kills false positives") {
    import spark.implicits._
    val exact = TextAnalysis.decontaminate(spark, TestSpark.Sf0001)
      .as[(Long, Long, Long)].collect().toSeq
    // a deliberately TINY, dense filter (1 bit/gram => high fpp) so the
    // false-positive path is actually exercised, not just absent
    val bloomDense = TextAnalysis.decontaminateBloom(spark, TestSpark.Sf0001, bitsPerGram = 1L)
      .as[(Long, Long, Long)].collect().toSeq
    assert(bloomDense == exact,
      "bloom pre-cut + exact confirm must reproduce the broadcast-join result under heavy FPs")
    val bloomNormal = TextAnalysis.decontaminateBloom(spark, TestSpark.Sf0001)
      .as[(Long, Long, Long)].collect().toSeq
    assert(bloomNormal == exact)
  }

  test("unigram log-prob matches hand-computed values and ranks rare-token docs lower") {
    import spark.implicits._
    // corpus: freq(a)=4, freq(b)=1, total=5 → p(a)=0.8, p(b)=0.2
    val corpus = Seq((1L, "a a a"), (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProbOf(corpus)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val lnP8 = math.log(0.8) // doc 1: avg = ln .8
    val doc2 = (math.log(0.8) + math.log(0.2)) / 2
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    assert(out == Seq((1L, 3L, r6(lnP8)), (2L, 2L, r6(doc2))),
      s"hand-computed unigram scores must match (zero-token doc 3 excluded); got $out")
    assert(out(0)._3 > out(1)._3, "the rare-token doc must score lower")
  }

  test("dup-span coverage: interval union, internal repeats, and sub-gram docs all hand-verified") {
    import spark.implicits._
    // doc 1: 20 unique tokens; doc 2 repeats doc 1's tokens 4..15 exactly,
    // so doc 1's gram starts 4..8 duplicate and their UNION covers 12
    // tokens (a sum over the 5 overlapping spans would claim 40);
    // doc 3 repeats its own 8 tokens back-to-back (internal duplication —
    // corpus-wide counting must see it); doc 4 unique; doc 5 too short
    val w = (1 to 40).map(i => s"w$i")
    val corpus = Seq(
      (1L, w.slice(0, 20).mkString(" ")),
      (2L, w.slice(4, 16).mkString(" ")),
      (3L, (w.slice(20, 28) ++ w.slice(20, 28)).mkString(" ")),
      (4L, w.slice(28, 38).mkString(" ")),
      (5L, w.slice(38, 40).mkString(" "))
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dupSpanCoverageOf(corpus)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 20L, 5L, 12L, 0.6),
      (2L, 12L, 5L, 12L, 1.0),
      (3L, 16L, 2L, 16L, 1.0),
      (4L, 10L, 0L, 0L, 0.0),
      (5L, 2L, 0L, 0L, 0.0)),
      s"hand-computed span coverage must match; got $out")
  }

  test("dup-span removal rewrites exactly the covered tokens, in order") {
    import spark.implicits._
    // same corpus as the coverage test: removal must cut exactly the
    // positions coverage counted — doc 1 loses tokens 4..15, doc 2 and 3
    // are fully covered (empty rewrite), docs 4/5 pass untouched
    val w = (1 to 40).map(i => s"w$i")
    val corpus = Seq(
      (1L, w.slice(0, 20).mkString(" ")),
      (2L, w.slice(4, 16).mkString(" ")),
      (3L, (w.slice(20, 28) ++ w.slice(20, 28)).mkString(" ")),
      (4L, w.slice(28, 38).mkString(" ")),
      (5L, w.slice(38, 40).mkString(" "))
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dupSpanRemoveOf(corpus)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 20L, 8L, (w.slice(0, 4) ++ w.slice(16, 20)).mkString(" ")),
      (2L, 12L, 0L, ""),
      (3L, 16L, 0L, ""),
      (4L, 10L, 10L, w.slice(28, 38).mkString(" ")),
      (5L, 2L, 2L, w.slice(38, 40).mkString(" "))),
      s"hand-computed span removal must match; got $out")
  }

  test("q95 bm25 matches a brute-force reference ranking on the fixture corpus") {
    import spark.implicits._
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    // brute-force BM25 from the operator's own tokenization
    val toks = docs.select(col("doc_id"), graft.operators.TextPipeline.tokenArr(col("text")).as("toks"))
      .as[(Long, Seq[String])].collect().filter(_._2.nonEmpty)
    val n = toks.length.toDouble
    val avgdl = toks.map(_._2.length).sum.toDouble / n
    val dfm = toks.flatMap { case (_, t) => t.distinct }.groupBy(identity)
      .map { case (k, v) => k -> v.length }
    val top12 = dfm.toSeq.filter(_._1.matches("[A-Za-z]{3,}"))
      .sortBy { case (tok, df) => (-df, tok) }.take(12)
    val queries = top12.zipWithIndex.groupBy(_._2 / 3)
      .map { case (qid, ts) => qid.toLong -> ts.map(_._1) }
    val expected = queries.toSeq.flatMap { case (qid, terms) =>
      val scores = toks.flatMap { case (id, t) =>
        val tfm = t.groupBy(identity).map { case (k, v) => k -> v.length }
        val hit = terms.exists { case (tok, _) => tfm.contains(tok) }
        val s = terms.collect { case (tok, df) if tfm.contains(tok) =>
          math.log((n - df + 0.5) / (df + 0.5) + 1) * (tfm(tok) * 2.2) /
            (tfm(tok) + 1.2 * (0.25 + 0.75 * t.length / avgdl))
        }.sum
        // HALF_UP: Spark SQL round()'s mode
        if (hit) Some((id, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)) else None
      }
      scores.sortBy { case (id, s) => (-s, id) }.take(10).zipWithIndex
        .map { case ((id, s), i) => (qid, (i + 1).toLong, id, s) }
    }.toSet
    val got = TextAnalysis.bm25Rank(spark, TestSpark.Sf0001)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got.size == 40, s"4 queries x top-10 expected, got ${got.size}")
    assert(got == expected,
      s"diff: spark-only=${(got -- expected).toSeq.sortBy(r => (r._1, r._2))}, " +
        s"ref-only=${(expected -- got).toSeq.sortBy(r => (r._1, r._2))}")
  }

  test("dup-span removal is exact on a long, heavily-duplicated document") {
    import spark.implicits._
    // Exercise the gap-slice rebuild at length: one 600-token doc built
    // from a repeated 25-token block (dense internal duplication, many
    // covered runs), one 400-token doc sharing a 50-token slab with it
    // (covered interval in the middle), one unique tail doc. Expected
    // kept-sets come from a brute-force reference over the same corpus.
    val block = (1 to 25).map(i => s"b$i")
    val slab = (1 to 50).map(i => s"s$i")
    val uniq1 = (1 to 175).map(i => s"u$i")
    val uniq2 = (1 to 300).map(i => s"v$i")
    val doc1 = (Seq.fill(16)(block).flatten ++ slab ++ uniq1)       // 625 toks
    val doc2 = (uniq2.slice(0, 175) ++ slab ++ uniq2.slice(175, 300)) // 350 toks
    val doc3 = (1 to 80).map(i => s"z$i")
    val corpus = Seq(
      (1L, doc1.mkString(" ")), (2L, doc2.mkString(" ")), (3L, doc3.mkString(" "))
    ).toDF("doc_id", "text")
    // brute-force reference: same 8-gram span definition, corpus-wide
    val L = 8
    val docs = Map(1L -> doc1, 2L -> doc2, 3L -> doc3)
    val gramCounts = docs.values.toSeq
      .flatMap(t => t.sliding(L).filter(_.length == L).map(_.mkString(" ")))
      .groupBy(identity).map { case (k, v) => k -> v.length }
    val expected = docs.map { case (id, t) =>
      val covered = t.sliding(L).zipWithIndex
        .filter { case (g, _) => g.length == L && gramCounts(g.mkString(" ")) >= 2 }
        .flatMap { case (_, i) => i until (i + L) }.toSet
      val kept = t.zipWithIndex.collect { case (tok, i) if !covered(i) => tok }
      id -> ((t.length.toLong, kept.length.toLong, kept.mkString(" ")))
    }
    val out = TextAnalysis.dupSpanRemoveOf(corpus)
      .as[(Long, Long, Long, String)].collect()
    assert(out.length == 3)
    out.foreach { case (id, n, k, cleaned) =>
      val (en, ek, ec) = expected(id)
      assert(n == en && k == ek, s"doc $id: ($n, $k) != ($en, $ek)")
      assert(cleaned == ec, s"doc $id rebuilt text diverges from reference")
    }
    // sanity on the scenario itself: doc 1 keeps only its unique tail
    // (the 400-token repeated region and 50-token shared slab are cut),
    // doc 3 is untouched
    assert(expected(1L)._2 == 175 && expected(3L)._2 == 80)
  }

  test("importance selection keeps target-like docs and rejects off-target vocabulary") {
    import spark.implicits._
    // target = en docs. Docs 1-4 (en) and doc 5 (fr) are built from the
    // SHARED target vocabulary — doc 5 is the DSIR point: selection is by
    // distribution match, not by the lang label. Docs 6-7 (zh) use
    // vocabulary absent from the target slice and must score negative.
    val corpus = Seq(
      (1L, "en", "s0", "alpha beta gamma delta"),
      (2L, "en", "s0", "beta gamma delta alpha"),
      (3L, "en", "s1", "gamma delta alpha beta"),
      (4L, "en", "s1", "delta alpha beta gamma"),
      (5L, "fr", "s2", "alpha beta gamma delta"),
      (6L, "zh", "s2", "qq1 qq2 qq3 qq4"),
      (7L, "zh", "s2", "qq5 qq6 qq7 qq8")
    ).toDF("doc_id", "lang", "source", "text")
    val out = TextAnalysis.importanceSelectOf(corpus, col("lang") === "en")
      .select($"doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 2L, 3L, 4L, 5L),
      s"target-vocabulary docs (including the fr doc) select; off-target zh docs must not: $out")
  }

  test("quality quota keeps exactly k best per (lang, source), ranked by score then id") {
    import spark.implicits._
    // two groups: (en, web) with 4 docs, (en, book) with 2; quota k=3.
    // "common common" scores high (frequent tokens), "rare" words low;
    // doc 13 and 14 tie exactly (identical text) -> id breaks the tie
    val corpus = Seq(
      (11L, "common common common", "en", "web"),
      (12L, "zzqx1 zzqx2 zzqx3", "en", "web"),
      (13L, "common zzqx4", "en", "web"),
      (14L, "common zzqx4", "en", "web"),
      (21L, "common common", "en", "book"),
      (22L, "zzqx5 zzqx6", "en", "book")
    ).toDF("doc_id", "text", "lang", "source")
    val out = TextAnalysis.qualityQuotaOf(corpus, 3)
      .select("lang", "source", "rank", "doc_id")
      .as[(String, String, Long, Long)].collect().toSeq
    val web = out.filter(_._2 == "web").map(r => (r._3, r._4))
    assert(web.length == 3 && web.head == (1L, 11L),
      s"the all-common doc must rank 1 in (en, web); got $web")
    assert(web.map(_._2).toSet.subsetOf(Set(11L, 13L, 14L)) &&
      web.indexWhere(_._2 == 13L) < web.indexWhere(_._2 == 14L),
      s"quota 3 of 4 must drop the rare-token doc and break the 13/14 tie by id; got $web")
    assert(out.filter(_._2 == "book").map(_._4) == Seq(21L, 22L),
      "a group under quota keeps all its docs in score order")
  }

  test("token-budget select keeps the greedy quality-prefix of every (lang, shard) group") {
    import spark.implicits._
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val budget = 300L
    // reference computation from the operator's own inputs: score every
    // doc, order each group by (score desc, id), prefix-sum, cut at budget
    val scored = TextAnalysis.unigramLogProbOf(docs)
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .select("doc_id", "n_tokens", "avg_logp", "lang")
      .as[(Long, Long, Double, String)].collect()
    val expected = scored.groupBy(r => (r._4, r._1 % 8)).toSeq.flatMap { case ((lang, shard), rs) =>
      val ordered = rs.toSeq.sortBy(r => (-r._3, r._1))
      val cums = ordered.scanLeft(0L)(_ + _._2).tail
      ordered.zip(cums).takeWhile(_._2 <= budget)
        .map { case (r, c) => (lang, shard, r._1, r._2, c, r._3) }
    }.toSet
    val got = TextAnalysis.tokenBudgetSelectOf(docs, budget)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSet
    assert(got == expected, s"got ${got.size} rows, expected ${expected.size}")
    assert(got.nonEmpty && got.size < scored.length,
      "the budget must be a real cut: some docs kept, some dropped")
  }

  test("bigram log-prob matches the add-one-smoothed reference computation") {
    import spark.implicits._
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    // reference LM from the operator's own tokenization
    val toks = docs.select(col("doc_id"), graft.operators.TextPipeline.tokenArr(col("text")).as("toks"))
      .as[(Long, Seq[String])].collect()
    val vocab = toks.flatMap(_._2).distinct.length.toDouble
    val allBigrams = toks.flatMap { case (_, t) => t.zip(t.drop(1)) }
    val c12 = allBigrams.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val c1 = allBigrams.groupBy(_._1).map { case (k, v) => k -> v.length.toDouble }
    val expected: Map[Long, (Long, Double)] =
      toks.filter(_._2.length >= 2).map { case (id, t) =>
        val bgs = t.zip(t.drop(1))
        val avg = bgs.map(bg => math.log((c12(bg) + 1) / (c1(bg._1) + vocab))).sum / bgs.length
        id -> ((bgs.length.toLong, avg))
      }.toMap
    val got = TextAnalysis.bigramLogProbOf(docs)
      .as[(Long, Long, Double)].collect()
    assert(got.length == expected.size, s"${got.length} rows vs ${expected.size} docs with bigrams")
    got.foreach { case (id, n, s) =>
      val (en, es) = expected(id)
      assert(n == en, s"doc $id bigram count $n != $en")
      assert(math.abs(s - es) < 1.5e-6, s"doc $id score $s != $es")
    }
  }

  test("bigram LM penalizes scrambled word order where the unigram LM cannot see it") {
    import spark.implicits._
    val sent = "the model reads the data and the model writes the data"
    val scrambled = "data the and model the reads writes the data model the"
    val base = (0L until 40L).map(i => (i, sent, "en"))
    val corpus = (base :+ (98L, sent, "en") :+ (99L, scrambled, "en"))
      .toDF("doc_id", "text", "lang")
    val uni = TextAnalysis.unigramLogProbOf(corpus)
      .select("doc_id", "avg_logp").as[(Long, Double)].collect().toMap
    val bi = TextAnalysis.bigramLogProbOf(corpus)
      .select("doc_id", "avg_logp2").as[(Long, Double)].collect().toMap
    // same bag of words: unigram scores identical, bigram separates them
    assert(math.abs(uni(98L) - uni(99L)) < 1e-6,
      "scrambled doc has the identical unigram score by construction")
    assert(bi(99L) < bi(98L) - 0.5,
      s"scrambled order must crater the bigram score: ${bi(99L)} vs ${bi(98L)}")
  }

  test("percentile select keeps exactly the scores clearing each language's interpolated cut") {
    import spark.implicits._
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val scored = TextAnalysis.unigramLogProbOf(docs)
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .select("lang", "doc_id", "avg_logp").as[(String, Long, Double)].collect()
    val got = TextAnalysis.percentileSelectOf(docs, 0.75)
      .as[(String, Long, Double, Double)].collect()
    val cutByLang = got.map(r => r._1 -> r._4).toMap
    scored.groupBy(_._1).foreach { case (lang, rs) =>
      val cut = cutByLang(lang)
      // the reported cut sits between the two order statistics bracketing
      // rank 0.75*(n-1) — the interpolated-percentile contract
      val sorted = rs.map(_._3).sorted
      val idx = 0.75 * (sorted.length - 1)
      assert(cut >= sorted(math.floor(idx).toInt) - 1e-6 &&
        cut <= sorted(math.ceil(idx).toInt) + 1e-6,
        s"$lang cut $cut outside [${sorted(math.floor(idx).toInt)}, ${sorted(math.ceil(idx).toInt)}]")
      // membership: exactly the scores >= cut survive (cut is rounded to
      // 6dp in the output; scores are 6dp by construction, so the rounded
      // cut decides membership identically unless a score ties the cut
      // within rounding — assert with that guard)
      val kept = got.filter(_._1 == lang).map(_._2).toSet
      val expected = rs.filter(_._3 >= cut - 5e-7).map(_._2).toSet
      assert(kept.subsetOf(expected), s"$lang kept a doc below the cut")
      assert(rs.count(_._3 >= cut + 5e-7) <= kept.size, s"$lang dropped a doc above the cut")
      // the cut is a real cut: strictly between 15% and 35% of the group
      assert(kept.size >= rs.length * 15 / 100 && kept.size <= rs.length * 35 / 100,
        s"$lang kept ${kept.size} of ${rs.length} — not a ~25% cut")
    }
  }

  test("approx percentile select is the documented one-line scale swap: cuts within 1e-3") {
    import spark.implicits._
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val exact = TextAnalysis.percentileSelectOf(docs, 0.75)
      .select("lang", "cut").distinct().as[(String, Double)].collect().toMap
    val approx = TextAnalysis.percentileSelectOf(docs, 0.75, exact = false)
      .select("lang", "cut").distinct().as[(String, Double)].collect().toMap
    exact.foreach { case (lang, c) =>
      assert(math.abs(approx(lang) - c) < 1e-3,
        s"$lang approx cut ${approx(lang)} vs exact $c")
    }
  }

  test("decontaminateBloom raises the SQLConf bloom caps instead of shipping a clamped filter") {
    import spark.implicits._
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey  = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val (items0, bits0) = (spark.conf.get(itemsKey), spark.conf.get(bitsKey))
    try {
      // caps far below the suite's gram count: without the raise,
      // BloomFilterAggregate would silently clamp numItems/numBits
      spark.conf.set(itemsKey, 2L)
      spark.conf.set(bitsKey, 64L)
      val exact = TextAnalysis.decontaminate(spark, TestSpark.Sf0001)
        .as[(Long, Long, Long)].collect().toSeq
      val bloom = TextAnalysis.decontaminateBloom(spark, TestSpark.Sf0001)
        .as[(Long, Long, Long)].collect().toSeq
      assert(bloom == exact)
      assert(spark.conf.get(itemsKey).toLong > 2L,
        "the operator must raise maxNumItems to the suite size")
      assert(spark.conf.get(bitsKey).toLong > 64L,
        "the operator must raise maxNumBits to items * bitsPerGram")
    } finally {
      spark.conf.set(itemsKey, items0)
      spark.conf.set(bitsKey, bits0)
    }
  }

  /** Imperative winnowing reference (Schleimer et al. §4): k-gram
    * Karp-Rabin hashes, per-window rightmost minimum, set-deduped.
    */
  private def winnowRef(text: String, k: Int = 8, w: Int = 4): Set[(Long, Long)] = {
    val t = text.toLowerCase
    if (t.length < k) return Set.empty
    val hs = (0 to t.length - k).map { i =>
      t.substring(i, i + k).getBytes("UTF-8").foldLeft(0L)((h, b) => (h * 31 + (b & 0xff)) % 1000003L)
    }
    val ng = hs.length
    (1 to math.max(ng - w + 1, 1)).map { s =>
      var best = (1000004L, -1L)
      for (i <- 0 to math.min(w - 1, ng - s))
        if (hs(s + i - 1) <= best._1) best = (hs(s + i - 1), (s + i).toLong)
      (best._2, best._1) // (pos, fp)
    }.toSet
  }

  test("q90 equals the imperative winnowing reference on hand and random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(90)
    val texts = Seq("", "short", "abcdefgh", "aaaaaaaaaaaaaaaa",
      "The quick brown fox jumps over the lazy dog") ++
      Seq.fill(30)((0 until rnd.nextInt(60)).map(_ => "abc ".charAt(rnd.nextInt(4))).mkString)
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextAnalysis.winnowFingerprintOf(docs).as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got.getOrElse(i.toLong, Set.empty) == winnowRef(t),
        s"doc $i ${t.take(30)}: got ${got.get(i.toLong)}, ref ${winnowRef(t)}")
    }
  }

  test("q90 guarantee: a shared substring of length >= k+w-1 shares a fingerprint") {
    import spark.implicits._
    // k=8, w=4 → guarantee threshold 11 chars; plant a 24-char common span
    val span = "common stolen span here!"
    val docs = Seq(
      (0L, "left padding text " + span + " tail a"),
      (1L, "totally different lead-in words " + span + " other end"),
      (2L, "no overlap with anything else whatsoever here")).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprintOf(docs).as[(Long, Long, Long)].collect()
    val f0 = fps.filter(_._1 == 0L).map(_._3).toSet
    val f1 = fps.filter(_._1 == 1L).map(_._3).toSet
    val f2 = fps.filter(_._1 == 2L).map(_._3).toSet
    assert((f0 intersect f1).nonEmpty, "the planted shared span must share a fingerprint")
    assert((f0 intersect f2).isEmpty && (f1 intersect f2).isEmpty,
      "the clean doc must not collide at this corpus size")
  }

  test("q91 reports a planted cross-doc quote; the df cull silences boilerplate") {
    import spark.implicits._
    val quote = "this exact duplicated analysis span appears in two documents verbatim"
    val boiler = "subscribe to updates now" // 24 chars: its interior fps land in all 15 plants → culled
    val rnd = new scala.util.Random(91)
    def filler(i: Int) = s"wholly unrelated body number $i " +
      (0 until 40).map(_ => "defghijklmnop".charAt(rnd.nextInt(13))).mkString
    val docs = (Seq(
      (0L, "lead-in words then " + quote + " and a tail"),
      (1L, "different opening here " + quote + " closing remark"),
      (2L, "a clean unique document with no overlap at all " + filler(99))) ++
      (3 to 17).map(i => (i.toLong, filler(i) + " " + boiler))).toDF("doc_id", "text")
    val pairs = TextAnalysis.winnowMatchesOf(docs)
      .as[(Long, Long, Long)].collect().toList
    assert(pairs.map(p => (p._1, p._2)) == List((0L, 1L)),
      s"only the quote pair must surface: $pairs")
    assert(pairs.head._3 >= 5, s"the 70-char quote must share >= 5 fingerprints: $pairs")
  }

  test("q91 plans fingerprint-scale joins only — no cartesian, no corpus-text shuffle") {
    val df = TextAnalysis.winnowMatches(spark, TestSpark.Sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"matching must stay an equi-join on fp;\n$p")
    assert(!p.toLowerCase.contains("exchange rangepartitioning(text")
      && !p.contains("Exchange hashpartitioning(text"),
      s"corpus text must never shuffle;\n$p")
    assert(df.count() >= 0) // the plan executes
  }

  test("q90 selection is scan-local: no join, no window, no hash exchange at all") {
    val p = TextAnalysis.winnowFingerprint(spark, TestSpark.Sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"winnowing must not join;\n$p")
    assert(!p.contains("WindowExec"), s"the sliding window must stay inside the row;\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"selection + dedup happen inside the native expression — no shuffle;\n$p")
  }

  test("q121: the expanded query carries the originals at alpha/3 and a normalized expansion tail") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val tf = TextAnalysis.tokenTfOf(docs)
    val qtab = TextAnalysis.bm25QueryTableFromTf(tf)
    val originals = qtab.collect().map(r => (r.getLong(0), r.getString(2))).toSet
    val wq = TextAnalysis.rm3ExpandedQueryOf(tf, qtab).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val byQid = wq.groupBy(_._1)
    assert(byQid.keySet == (0L to 3L).toSet)
    byQid.foreach { case (qid, rows) =>
      val (orig, exp) = rows.partition { case (_, _, w) => w == TextAnalysis.Rm3OrigTermWeight }
      assert(orig.length == 3, s"qid $qid must keep its 3 original terms at alpha/3")
      assert(orig.forall { case (q, t, _) => originals((q, t)) })
      assert(exp.length <= TextAnalysis.Rm3ExpTerms && exp.nonEmpty)
      exp.foreach { case (q, t, w) =>
        assert(!originals((q, t)), s"expansion term $t duplicates qid $q's query")
        assert(t.matches("[A-Za-z]{3,}"), s"non-alphabetic expansion term $t")
        assert(w > 0)
      }
      if (exp.length == TextAnalysis.Rm3ExpTerms)
        assert(math.abs(exp.map(_._3).sum - TextAnalysis.Rm3ExpWeight) < 1e-9,
          s"qid $qid expansion weights must renormalize to 1 - alpha")
    }
  }

  test("q121: feedback expansion moves the ranking relative to plain BM25") {
    val base = TextAnalysis.bm25Rank(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rm3 = TextAnalysis.rm3Rank(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rm3.nonEmpty && rm3.map(_._1) == base.map(_._1))
    assert(rm3 != base,
      "the expanded query must change at least one (qid, rank, doc) cell")
  }

  test("q125: Dirichlet QL scores match the closed-form decomposition on a hand corpus") {
    import spark.implicits._
    val docs = Seq((1L, "apple banana apple"), (2L, "banana cherry"), (3L, "durian durian durian"))
      .toDF("doc_id", "text")
    val tf = TextAnalysis.tokenTfOf(docs)
    val qtab = Seq((0L, 1, "apple", 1L), (0L, 2, "banana", 2L), (0L, 3, "cherry", 1L))
      .toDF("qid", "rn", "token", "df")
    val out = TextAnalysis.qlFromTf(tf, qtab).collect()
      .map(r => r.getLong(2) -> (r.getLong(1), r.getDouble(3))).toMap
    // total tokens 8; P(apple)=2/8, P(banana)=2/8, P(cherry)=1/8; mu=1000
    val mu = TextAnalysis.QlMu
    def score(tfs: Map[String, Int], dl: Int): Double = {
      val p = Map("apple" -> 2.0 / 8, "banana" -> 2.0 / 8, "cherry" -> 1.0 / 8)
      val ms = tfs.map { case (t, f) => math.log(1.0 + f / (mu * p(t))) }.sum
      val bs = 3.0 * math.log(mu / (dl + mu))
      BigDecimal(bs + ms).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out(1L)._2 == score(Map("apple" -> 2, "banana" -> 1), 3))
    assert(out(2L)._2 == score(Map("banana" -> 1, "cherry" -> 1), 2))
    assert(out(3L)._2 == score(Map.empty, 3), "a no-match doc scores the pure length prior")
    // doc 2 matches two terms with the shortest length: it must rank first
    assert(out(2L)._1 == 1L)
  }

  test("q125: the QL and BM25 rankers agree on the workload but not the ranking") {
    val bm = TextAnalysis.bm25Rank(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ql = TextAnalysis.qlRank(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ql.map(_._1).distinct.sorted.sameElements(bm.map(_._1).distinct.sorted))
    assert(ql.length == bm.length)
    assert(ql.toSet != bm.toSet, "two different scoring models must disagree somewhere")
  }

  test("q121/q125: the artifact-backed tf path is row-identical to inline (encode once, serve many)") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_tf_artifact").toString
    TextAnalysis.tokenTfOf(docs).write.mode("overwrite").parquet(dir)
    val tfArtifact = spark.read.parquet(dir)
    val qtab = TextAnalysis.bm25QueryTableFromTf(tfArtifact)
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(rowsOf(TextAnalysis.rm3Rank(spark, TestSpark.Sf0001)) ==
      rowsOf(TextAnalysis.rm3FromTf(tfArtifact, qtab)),
      "RM3 must serve identically from the persisted tf artifact")
    assert(rowsOf(TextAnalysis.qlRank(spark, TestSpark.Sf0001)) ==
      rowsOf(TextAnalysis.qlFromTf(tfArtifact, qtab)),
      "QL must serve identically from the persisted tf artifact")
    // and the artifact path never touches corpus text
    val p = TextAnalysis.qlFromTf(tfArtifact, qtab).queryExecution.executedPlan.toString
    assert(!p.contains("text#") || !p.contains("regexp_extract_all"),
      s"the artifact path must not re-tokenize;\n$p")
  }
}
