package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Cleaning, Curation, Dedup, DedupExtras, Embed, IvfIndex, TextAnalysis}

/** The full training-data curation story as ONE composition over the
  * library's public corpus-parameterized operators — the workflow a user
  * of the reference would actually run at 100 TB, on a corpus the fixtures
  * never saw: clean (q85 normalization) → scrub (PII) → exact dedup →
  * decontaminate (benchmark overlap) → domain mix → embed → persisted
  * sign-bit index → near-dup audit + ANN search. Each stage is oracle- or spec-verified on its own
  * elsewhere; this proves they SNAP TOGETHER through their public
  * signatures, with every planted artifact caught by exactly the stage
  * built to catch it.
  */
class CurationPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("scrub -> dedup -> decontaminate -> mix -> embed -> index -> search composes end-to-end") {
    import spark.implicits._

    // raw corpus: 3 sources (web dominant), with planted artifacts
    //  - ids 900/901: exact duplicates of ids 0/1 (dedup must drop them)
    //  - id 5: contains an email + account number (scrub must redact)
    //  - id 7: contains the benchmark snippet (decontaminate must flag)
    val base = (0 until 120).map { i =>
      val src = if (i % 10 < 6) "web" else if (i % 10 < 9) "books" else "code"
      // doc-unique filler words: no two BASE docs share a single token, so
      // the only duplicate/near-dup/contamination relations in the corpus
      // are the planted ones below
      val words = s"doc$i " + (0 until 30).map(j => s"w${i}x$j").mkString(" ")
      (i.toLong, src, words)
    }
    val benchSnippet = "alpha beta gamma delta epsilon zeta eta theta"
    //  - id 902: a NEAR-duplicate of id 2 (one word changed) — exact dedup
    //    must NOT drop it; the MinHash stage must pair it with 2
    //  - id 903: junk (all punctuation) — the quality gate must drop it
    val nearDupText = base(2)._3.split(" ").dropRight(1).mkString(" ") + " changedword"
    val dirty = (base ++ Seq(
      (900L, "web", base(0)._3),
      (901L, "books", base(1)._3),
      (902L, "web", nearDupText),
      (903L, "web", "!!! ??? ... --- ;;; ((( ))) [[[ ]]] !!!"))).toDF("doc_id", "source", "text")
      .withColumn("text",
        when(col("doc_id") === 5, concat(col("text"), lit(" reach me at jane.doe@corp.example.com acct 1234567")))
          .when(col("doc_id") === 7, concat(col("text"), lit(s" $benchSnippet")))
          .otherwise(col("text")))
      // arrival dirt: every web doc arrives tab-separated with a trailing
      // control char — stage 0 must normalize it or downstream tokenizers
      // see "w1x2\tw1x3" as one token
      .withColumn("text",
        when(col("source") === "web",
          concat(translate(col("text"), " ", "\t"), lit(""))).otherwise(col("text")))

    // stage 0: cleaning — the q85 chain; ALL dirt gone, clean rows untouched
    val raw = dirty.drop("text")
      .join(Cleaning.textCleanOf(dirty, col("text"))
        .select(col("doc_id"), col("clean_text").as("text")), Seq("doc_id"))
    assert(raw.filter(col("text").rlike("[\\t\\u0007]")).count() == 0,
      "stage 0 must remove every control char")
    val bench = Seq((5000L, s"prefix words $benchSnippet suffix words")).toDF("doc_id", "text")

    // stage 1: PII scrub — flags found, text redacted, nothing else touched
    val scrubbed = raw.drop("text")
      .join(TextAnalysis.piiScrubOf(raw), Seq("doc_id"))
      .withColumnRenamed("redacted", "text")
    val pii = scrubbed.filter(col("n_emails") > 0 || col("n_long_digits") > 0)
      .select($"doc_id").as[Long].collect().toSet
    assert(pii == Set(5L), s"only the planted PII doc may flag; got $pii")
    assert(scrubbed.filter(col("text").contains("@")).count() == 0, "emails must be gone post-scrub")

    // stage 1b: quality gate — the all-punctuation plant scores near zero
    // (punct_ratio 1.0, no stopwords) and is the only doc under the bar
    val quality = TextAnalysis.qualityScoreOf(scrubbed)
    val junk = quality.filter(col("quality") < 0.4).select($"doc_id").as[Long].collect().toSet
    assert(junk == Set(903L), s"exactly the planted junk doc may fail the gate; got $junk")
    val gated = scrubbed.join(quality.filter(col("quality") >= 0.4).select("doc_id"), Seq("doc_id"))

    // stage 2: exact dedup — the two planted copies drop, keepers stay
    val exactDeduped = TextAnalysis.dedupSurvivorsOf(gated.select(col("doc_id"), col("source"), col("text")))
    val ids = exactDeduped.select($"doc_id").as[Long].collect().toSet
    assert(!ids.contains(900L) && !ids.contains(901L), "planted duplicates must not survive")
    assert(ids.contains(0L) && ids.contains(1L) && ids.contains(902L),
      "min-id keepers AND the near-dup (not exact) must survive exact dedup")
    assert(exactDeduped.count() == 121)

    // stage 2b: MinHash/LSH near-dup — catches what exact dedup cannot:
    // the one-word-changed plant pairs with its original; purge the b side
    val nearPairs = DedupExtras.minhashLshDedupOf(exactDeduped)
    val pairs = nearPairs.select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((2L, 902L)),
      s"exactly the planted near-dup pair must surface; got $pairs")
    val deduped = exactDeduped.join(
      nearPairs.select(col("b_id").as("doc_id")), Seq("doc_id"), "left_anti")
    assert(deduped.count() == 120)

    // stage 3: decontamination — the planted benchmark overlap flags; drop it
    val flags = TextAnalysis.decontaminateAgainst(deduped, bench, n = 8)
    val contaminated = flags.filter(col("contaminated") === 1)
      .select($"doc_id").as[Long].collect().toSet
    assert(contaminated == Set(7L), s"exactly the planted overlap must flag; got $contaminated")
    val clean = deduped.join(flags.filter(col("contaminated") === 0).select("doc_id"), Seq("doc_id"))

    // stage 4: domain mixing — the dominant web source downsamples toward
    // the smallest source; minority sources pass whole
    val mixed = TextAnalysis.domainMixOf(clean)
    val bySource = mixed.groupBy($"source").count().as[(String, Long)].collect().toMap
    val cleanBySource = clean.groupBy($"source").count().as[(String, Long)].collect().toMap
    val minSrc = cleanBySource.minBy(_._2)._1
    assert(bySource(minSrc) == cleanBySource(minSrc), "the smallest source passes whole")
    assert(bySource("web") < cleanBySource("web"), "the dominant source must downsample")

    // stage 4b: tokenize — fit the vocab on the KEPT corpus, encode to
    // fixed-length id sequences (SOS/EOS/PAD framing); 31-token docs fit
    // comfortably under SeqLen, so every kept doc encodes
    val vocab = graft.operators.TextPipeline.fitVocab(mixed.select(col("doc_id"), col("text")))
    val encoded = graft.operators.TextPipeline.encodeWith(mixed.select(col("doc_id"), col("text")), vocab)
    assert(encoded.count() == mixed.count(), "every kept doc must encode")
    assert(encoded.select(size($"token_ids")).distinct().as[Int].head() == 64,
      "sequences must pad to the fixed length")

    // stage 4c: pack the kept docs into training sequences — every doc
    // lands in a pack, offsets stay under the budget
    val packed = graft.operators.TextPipeline.packSequencesOf(
      mixed.select(col("doc_id"), lit("en").as("lang"), col("text")), budget = 128)
    assert(packed.count() == mixed.count(), "every kept doc must pack")
    assert(packed.filter($"pack_offset" >= 128 || $"pack_offset" < 0).count() == 0)

    // stage 5+6: embed the kept docs, build the persisted sign-bit index
    val emb = Embed.embedColumn[String](
      mixed.select(col("doc_id"), col("text")), "text", "embedding", Embed.hashingTextEncoder(32))
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_curation_idx").toString
    IvfIndex.buildSignBit(spark, emb, dir)
    assert(spark.read.parquet(IvfIndex.pointsPath(dir)).count() == mixed.count())

    // near-dup audit over the index finds no high-cosine pairs (the exact
    // dups were already removed upstream — the stages agree)
    val topPair = Dedup.nearDupPairsViaIndex(spark, dir, k = 1)
      .select($"score").as[Double].collect()
    assert(topPair.isEmpty || topPair.head < 0.999,
      s"no exact duplicate may survive to the embedding index; top pair ${topPair.headOption}")

    // stage 7: ANN search — a kept document used as the query must find
    // itself at cosine 1.0 through the persisted index
    val someId = mixed.select($"doc_id").as[Long].head()
    val q = emb.filter(col("vec_id") === someId)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val hit = IvfIndex.probe(spark, dir, q, k = 1, nprobe = 1)
      .select($"vec_id", $"score").as[(Long, Double)].head()
    assert(hit == (someId, 1.0), s"self-search through the index must hit at 1.0; got $hit")
  }

  test("fuzzy sentence dedup evaluates its corpus plan exactly once (round-18 ids-only rebuild)") {
    import spark.implicits._
    // the rebuild tail used to re-derive the caller's corpus a second time
    // just to list doc_ids (in q92 that re-ran the whole exact-dedup
    // aggregate); both the sentence stream and the id set must now come
    // off the one cached explode. A nondeterministic counting UDF cannot
    // be collapsed or duplicated by the optimizer, so the accumulator
    // counts true corpus-row evaluations.
    val evals = spark.sparkContext.longAccumulator("corpus_evals")
    val countText = udf { (t: String) => evals.add(1L); t }.asNondeterministic()
    val corpus = (0L until 40L)
      .map(i => (i, if (i % 5 == 4) "" else s"s${i}a s${i}b s${i}c. t${i}a t${i}b t${i}c"))
      .toDF("doc_id", "text")
      .withColumn("text", countText(col("text")))
    val out = TextAnalysis.fuzzySentenceDedupOf(corpus)
    assert(evals.value == 40L,
      s"corpus plan must execute exactly once (40 rows), saw ${evals.value} evaluations")
    // empty-text docs still emit their zero row through the ids-only rebuild
    assert(out.count() == 40L)
    assert(out.filter(col("n_sentences") === 0).count() == 8L)
  }

  test("fuzzy sentence dedup: the lazy plan and the public path agree on a repeated doc_id") {
    import spark.implicits._
    val boiler = "subscribe to our freshest newsletter for daily updates"
    // doc 2 arrives twice, with different texts; the public path must
    // emit one row per distinct doc_id
    val corpus = Seq(
      (1L, s"a1 b1 c1 d1. $boiler"),
      (2L, s"a2 b2 c2 d2. $boiler today"),
      (2L, "e2 f2 g2 h2. a1 b1 c1 d1"),
      (3L, ""),
      (4L, s"a4 b4 c4 d4. $boiler")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"n_sentences", $"n_kept", $"cleaned")
        .as[(Long, Long, Long, String)].collect().sorted.toSeq
    val public = rows(TextAnalysis.fuzzySentenceDedupOf(corpus))
    assert(public.map(_._1) == Seq(1L, 2L, 3L, 4L), s"one row per distinct doc_id: $public")
  }

  test("fuzzy sentence dedup strips boilerplate VARIANTS the exact pass keeps") {
    import spark.implicits._
    val base    = "subscribe to our freshest newsletter for daily updates"
    val variant = base + " today" // word-3-shingle Jaccard 6/7 vs base
    // doc-unique body sentences (no token shared across docs), boilerplate
    // planted in waves: base on i%3==0 (first in doc 0), variant on i%3==1
    // (first in doc 1 — LATER than the base's first occurrence)
    val corpus = (0 until 30).map { i =>
      val body = (0 until 3).map(j => s"w${i}a$j w${i}b$j w${i}c$j w${i}d$j").mkString(". ")
      val extra = (i % 3: @unchecked) match {
        case 0 => ". " + base
        case 1 => ". " + variant
        case 2 => ""
      }
      (i.toLong, body + extra)
    }.toDF("doc_id", "text")

    // precondition: the exact pass KEEPS the variant's first occurrence —
    // this is exactly the gap the fuzzy layer exists to close
    val exactCleaned = TextAnalysis.sentenceDedupOf(corpus)
      .select($"doc_id", $"cleaned").as[(Long, String)].collect().toMap
    assert(exactCleaned(1L).contains(variant),
      "exact dedup must keep the variant (it is not byte-identical)")

    val cleaned = TextAnalysis.fuzzySentenceDedupOf(corpus)
      .select($"doc_id", $"cleaned").as[(Long, String)].collect().toMap
    assert(cleaned(0L).contains(base), "the base's first occurrence survives")
    assert(cleaned.values.count(_.contains(base)) == 1,
      "the base survives ONLY at its first occurrence")
    assert(cleaned.values.count(_.contains("today")) == 0,
      "every copy of the variant is dominated by the earlier base and removed")
    (0 until 30).foreach { i =>
      assert(cleaned(i.toLong).contains(s"w${i}a0 w${i}b0 w${i}c0 w${i}d0"),
        s"doc $i's unique body sentences must pass through untouched")
    }
  }

  test("q92 curationPipelineOf: planted artifacts resolve and the pack plan is self-consistent") {
    import spark.implicits._

    // Synthetic corpus with every planted-artifact class the declared q92
    // exercises (the oracle pins exact values on the fixtures; this pins
    // the BEHAVIORS on a corpus the fixtures never saw):
    //  - ids 1..96: "high" docs — every token drawn from a shared 14-word
    //    pool (one use of each word per doc) plus two doc-unique words, so
    //    the unigram-LM scores cluster high; the unique word sits mid-
    //    sentence so no two docs' sentences come near the fuzzy Jaccard
    //    threshold
    //  - ids 101..119: "low" docs — all-unique vocabulary, strictly lower
    //    LM score than every high doc (selection must drop at least these)
    //  - id 97: the benchmark doc (97 % 97 == 0, held out at stage 4)
    //  - id 13: contaminated — carries an 8+-word span of doc 97's text
    val poolA = Seq("river", "stone", "cloud", "light", "grass", "wind", "meadow")
    val poolB = Seq("amber", "forest", "silver", "shadow", "ember", "frost", "valley")
    def rot(xs: Seq[String], k: Int): Seq[String] = xs.drop(k % xs.size) ++ xs.take(k % xs.size)
    def highText(i: Int): String = {
      val a = rot(poolA, i % 7); val b = rot(poolB, (i / 7) % 7)
      val s1 = (a.take(3) :+ s"u${i}a") ++ a.drop(3)
      val s2 = (b.take(3) :+ s"u${i}b") ++ b.drop(3)
      s1.mkString(" ") + ". " + s2.mkString(" ")
    }
    val benchText = "orchid nebula quartz falcon indigo marble zephyr lagoon basalt"
    val rows =
      (1 to 96).map { i =>
        val t = if (i == 13) highText(i) + ". " + benchText else highText(i)
        (i.toLong, "en", t)
      } ++ Seq((97L, "en", benchText)) ++
      (101 to 119).map(i => (i.toLong, "en", (0 until 16).map(j => s"z${i}q$j").mkString(" ")))
    val out = Curation.curationPipelineOf(rows.toDF("doc_id", "lang", "text"))
      .collect()
    val ids = out.map(_.getLong(2)).toSet

    assert(out.nonEmpty, "the pipeline must select a nonempty corpus")
    assert(ids.forall(_ < 1000000L), "every planted exact copy must die at the dedup stage")
    assert(!ids.contains(97L), "benchmark docs (id % 97 == 0) are held out of the corpus")
    assert(!ids.contains(13L), "the doc sharing an 8-gram with the benchmark must be dropped")
    assert((101L to 119L).forall(i => !ids.contains(i)),
      "all-unique-vocabulary docs score below the per-lang cut and must not be selected")
    assert(ids.subsetOf((1L to 96L).toSet diff Set(13L)),
      s"output ids must come from the eligible high docs, got ${ids -- (1L to 96L).toSet}")

    // the pack plan must be self-consistent: within each (lang, shard) in
    // doc_id order, pack_id/pack_offset are exactly the running-prefix
    // arithmetic over the emitted n_tokens (budget 256)
    out.groupBy(r => (r.getString(0), r.getLong(1))).foreach { case (_, rs) =>
      var prefix = 0L
      rs.sortBy(_.getLong(2)).foreach { r =>
        assert(r.getLong(4) == prefix / 256, s"pack_id mismatch at doc ${r.getLong(2)}")
        assert(r.getLong(5) == prefix % 256, s"pack_offset mismatch at doc ${r.getLong(2)}")
        prefix += r.getLong(3)
      }
    }
  }
}
