package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextPipeline

class TextPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("tokenArr splits words and punctuation runs separately (HF Whitespace fidelity)") {
    val got = Seq("hello, world!! a-b").toDF("text")
      .select(TextPipeline.tokenArr($"text")).as[Seq[String]].head()
    assert(got == Seq("hello", ",", "world", "!!", "a", "-", "b"))
  }

  test("vocab: specials occupy ids 0-3, corpus ids are dense from 4, ordered by freq desc then token") {
    val v = TextPipeline.vocabBuild(spark, TestSpark.Sf0001).collect()
    val byId = v.map { case Row(tok: String, id: Long, freq: Long) => (id, tok, freq) }.sortBy(_._1)
    assert(byId.take(4).map(t => (t._1, t._2)).toSeq ==
      Seq((0L, "[UNK]"), (1L, "[PAD]"), (2L, "[SOS]"), (3L, "[EOS]")))
    assert(byId.map(_._1).toSeq == byId.indices.map(_.toLong))
    val corpus = byId.drop(4)
    val resorted = corpus.sortBy(t => (-t._3, t._2))
    assert(corpus.toSeq == resorted.toSeq, "corpus ids must follow (freq desc, token asc)")
  }

  test("two-phase vocab rank equals a brute-force global (freq desc, token) rank") {
    val vocab = TextPipeline.vocabBuild(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val corpus = vocab.filter(_._2 >= 4) // drop specials
    // brute force: sort by (freq desc, token asc), ids dense from 4
    val expected = corpus.sortBy { case (tok, _, freq) => (-freq, tok) }
      .zipWithIndex.map { case ((tok, _, freq), i) => (tok, i + 4L, freq) }
    assert(corpus.sortBy(_._2).toSeq == expected.toSeq,
      "partitioned-rank + broadcast offsets must reproduce the single-window global rank")
    assert(corpus.nonEmpty)
  }

  test("tokenizePad: fixed length, SOS/EOS framing, PAD tail, too-long rejection") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
      .select($"doc_id", size(TextPipeline.tokenArr($"text")).as("n"))
      .as[(Long, Int)].collect().toMap
    val out = TextPipeline.tokenizePad(spark, TestSpark.Sf0001)
      .as[(Long, Seq[Long])].collect()
    assert(out.nonEmpty)
    out.foreach { case (docId, ids) =>
      assert(ids.length == TextPipeline.SeqLen, s"doc $docId length ${ids.length}")
      assert(ids.head == TextPipeline.SosId)
      val n = docs(docId)
      assert(ids(n + 1) == TextPipeline.EosId, s"doc $docId EOS position")
      assert(ids.drop(n + 2).forall(_ == TextPipeline.PadId), s"doc $docId pad tail")
      assert(ids.slice(1, n + 1).forall(id => id == TextPipeline.UnkId || id >= 4))
    }
    val kept = out.map(_._1).toSet
    docs.foreach { case (docId, n) =>
      assert(kept.contains(docId) == (n <= TextPipeline.SeqLen - 2), s"doc $docId n=$n kept=${kept.contains(docId)}")
    }
  }

  test("decode inverts encodeWith: specials stripped, OOV renders as [UNK]") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha zzz")).toDF("doc_id", "text")
    // hand vocab missing 'zzz' and 'gamma'-as-frequent: alpha=4, beta=5, gamma=6
    val vocab = Seq(("alpha", 4L), ("beta", 5L), ("gamma", 6L)).toDF("token", "id")
    val decoded = TextPipeline.decode(TextPipeline.encodeWith(docs, vocab), vocab)
      .orderBy($"doc_id").as[(Long, String)].collect().toSeq
    assert(decoded == Seq((1L, "alpha beta gamma"), (2L, "alpha [UNK]")))
  }

  test("operator-scoped caches leave nothing in the session cache manager") {
    import graft.operators.DedupExtras
    spark.catalog.clearCache()
    TextPipeline.vocabBuild(spark, TestSpark.Sf0001).collect()
    assert(spark.sharedState.cacheManager.isEmpty, "corpusVocab leaked a cached relation")
    DedupExtras.minhashLshDedup(spark, TestSpark.Sf0001).collect()
    assert(spark.sharedState.cacheManager.isEmpty, "minhashLshDedup leaked a cached relation")
    DedupExtras.ngramJaccard(spark, TestSpark.Sf0001).collect()
    assert(spark.sharedState.cacheManager.isEmpty, "ngramJaccard leaked a cached relation")
  }

  test("construction-eagerness convention: corpusVocab builds a plan with ZERO Spark jobs; sharedVocab memoizes one fit") {
    // table load OUTSIDE the probed region: parquet schema inference runs
    // its own footer-reading job — the convention under test is about the
    // vocab BUILDER, not the source scan
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    var lazyVocab: org.apache.spark.sql.DataFrame = null
    val jobs = SparkProbe.jobs(spark) {
      lazyVocab = TextPipeline.corpusVocab(docs)
      lazyVocab.queryExecution.optimizedPlan // plan work only
    }
    assert(jobs == 0, "lazy builder must not run cluster work at construction time")
    assert(lazyVocab.columns.toSeq == Seq("token", "id", "freq"))

    // the eager surface: one fit per (session, dir), then reference-identical reuse
    TextPipeline.clearVocabMemo()
    val a = TextPipeline.sharedVocab(spark, TestSpark.Sf0001)
    val b = TextPipeline.sharedVocab(spark, TestSpark.Sf0001)
    assert(a eq b, "sharedVocab must memoize the fitted artifact per (session, dir)")
  }

  test("vocab memo is keyed by session IDENTITY: a cloned session fits its own artifact") {
    TextPipeline.clearVocabMemo()
    val a = TextPipeline.sharedVocab(spark, TestSpark.Sf0001)
    val s2 = spark.newSession() // same context, different session object
    val b = TextPipeline.sharedVocab(s2, TestSpark.Sf0001)
    assert(!(a eq b), "distinct sessions must not share fitted artifacts")
    assert(TextPipeline.sharedVocab(s2, TestSpark.Sf0001) eq b,
      "the cloned session's own artifact memoizes like any other")
    TextPipeline.clearVocabMemo()
  }

  test("q54 artifact loop: encode via saveVocab→loadVocab is bit-identical to encode via the live fit") {
    val persisted = TextPipeline.encodePersistedVocab(spark, TestSpark.Sf0001)
      .as[(Long, String)].collect().toSeq
    val live = TextPipeline.tokenizePadDeclared(spark, TestSpark.Sf0001)
      .as[(Long, String)].collect().toSeq
    assert(persisted == live && persisted.nonEmpty)
  }

  test("instruction parse round-trips the framed prefix/suffix") {
    val r = TextPipeline.instructionParse(spark, TestSpark.Sf0001)
    val joined = r.join(Tables.documents(spark, TestSpark.Sf0001), Seq("doc_id"))
      .select($"instruction", $"response", $"text").as[(String, String, String)].take(20)
    joined.foreach { case (instr, resp, text) =>
      assert(instr == text.substring(0, math.min(40, text.length)).trim)
      assert(resp == text.drop(40).take(60).trim)
    }
  }

  test("sequence packing follows the greedy prefix rule inside each (lang, shard) group") {
    import org.apache.spark.sql.functions.col
    // one lang, doc_ids all ≡ 0 mod 8 (a single shard), 40 tokens per doc:
    // prefixes 0,40,80,... so with budget 100 the pack boundaries are known
    val docs = (0 until 6).map(i => (i * 8L, "en", (0 until 40).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val out = TextPipeline.packSequencesOf(docs, budget = 100, shards = 8)
      .select($"doc_id", $"n_tokens", $"pack_id", $"pack_offset")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // prefix: 0,40,80,120,160,200 → pack floor(prefix/100): 0,0,0,1,1,2
    assert(out == Seq(
      (0L, 40L, 0L, 0L), (8L, 40L, 0L, 40L), (16L, 40L, 0L, 80L),
      (24L, 40L, 1L, 20L), (32L, 40L, 1L, 60L), (40L, 40L, 2L, 0L)),
      s"got $out")
    // packs never span (lang, shard) groups: a second shard restarts at 0
    val two = TextPipeline.packSequencesOf(
      docs.unionByName(Seq((1L, "en", "a b c")).toDF("doc_id", "lang", "text")),
      budget = 100, shards = 8)
    val shard1 = two.filter(col("shard") === 1)
      .select($"pack_id", $"pack_offset").as[(Long, Long)].collect().toSeq
    assert(shard1 == Seq((0L, 0L)), s"a fresh shard must restart its packing; got $shard1")
  }

  test("nested translation-struct rows flatten and feed the encode cores unchanged") {
    import spark.implicits._
    // the reference's raw row shape: {translation: {en, it}}
    // (text_vector_db.py:26-29) — build nested rows from the fixture by
    // pairing each doc's text with a derived "translation"
    val flat = Tables.documents(spark, TestSpark.Sf0001)
      .select($"doc_id", $"text").limit(50)
    val nested = flat.select(
      col("doc_id"),
      struct(col("text").as("en"),
        concat(lit("tr: "), col("text")).as("it")).as("translation"))
    // one missing translation: it must drop out, not null-poison
    val withHole = nested.unionByName(
      Seq(99999L).toDF("doc_id")
        .select(col("doc_id"), struct(lit("only english").as("en"),
          lit(null).cast("string").as("it")).as("translation")))

    val rows = TextPipeline.flattenTranslations(withHole, Seq("en", "it"))
    assert(rows.columns.toSeq == Seq("doc_id", "lang", "text"))
    assert(rows.count() == 50 * 2 + 1, "one row per present (doc, lang) pair")
    assert(rows.filter($"doc_id" === 99999L).select($"lang").as[String].collect().toSeq == Seq("en"))

    // the flattened EN side must be byte-identical to the flat fixture —
    // downstream cores (encodeWith, packSequencesOf, sentence dedup) see
    // exactly the corpus they were built for
    val en = rows.filter($"lang" === "en" && $"doc_id" < 90000L)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val ref = flat.as[(Long, String)].collect().toMap
    assert(en == ref, "struct flattening must be lossless on the en side")

    // and it actually feeds a core: encode the flattened corpus against
    // the shared vocab and get one encoded row per short-enough doc
    val vocab = TextPipeline.vocabBuild(spark, TestSpark.Sf0001)
    val encoded = TextPipeline.encodeWith(rows.filter($"lang" === "en"), vocab)
    assert(encoded.count() > 0, "flattened struct rows must encode end-to-end")
  }

  test("q89: exact bucket boundaries, ceil batches, waste accounting") {
    import spark.implicits._
    // lengths 0 and 1 → bucket 1; 4 exactly → bucket 4 (NOT 8); 5 → 8;
    // 33 docs of length 2 → bucket 2 needs ceil(33/32) = 2 batches
    val docs = (Seq("", "a", "a b c d", "a b c d e") ++
      Seq.fill(33)("x y")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextPipeline.lengthBucketsOf(docs)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toList
    assert(got == List(
      (1L, 2L, 1L, 1L, 2L, 0.5),            // "" and "a": 1 real of 2 padded
      (2L, 33L, 2L, 66L, 66L, 0.0),         // exact fit, two batches
      (4L, 1L, 1L, 4L, 4L, 0.0),            // length 4 stays in bucket 4
      (8L, 1L, 1L, 5L, 8L, 0.375)), s"got $got")
  }

  test("q89's only hash exchange carries bucket-cardinality aggregated rows") {
    val p = TextPipeline.lengthBuckets(spark, TestSpark.Sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"bucketing must not join;\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"exactly one hash exchange (the bucket agg);\n$p")
  }
}
