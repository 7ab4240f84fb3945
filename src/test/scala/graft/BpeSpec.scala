package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bpe

/** q84 BPE pair counting and the full training loop, checked against an
  * imperative reference implementation of Sennrich-style BPE.
  */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Imperative reference: greedy-left single-pair merge over a list. */
  private def mergeRef(cs: List[String], a: String, b: String): List[String] = cs match {
    case x :: y :: rest if x == a && y == b => (a + b) :: mergeRef(rest, a, b)
    case x :: rest                          => x :: mergeRef(rest, a, b)
    case Nil                                => Nil
  }

  /** Imperative reference BPE train over token char lists. */
  private def trainRef(tokens: Seq[String], merges: Int): Seq[(Int, String, String, Long)] = {
    var seqs = tokens.filter(_.length >= 2).map(_.map(_.toString).toList)
    (1 to merges).flatMap { rank =>
      val counts = seqs.flatMap(cs => cs.zip(cs.drop(1)))
        .groupBy(identity).map { case (p, v) => (p, v.size.toLong) }
      if (counts.isEmpty) None
      else {
        val ((a, b), n) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        seqs = seqs.map(cs => mergeRef(cs, a, b))
        Some((rank, a, b, n))
      }
    }
  }

  test("hand corpus: pair counts match the reference count exactly") {
    import spark.implicits._
    val docs = Seq((1L, "low lower lowest"), (2L, "new newer newest")).toDF("doc_id", "text")
    val got = Bpe.bpePairCountsOf(docs).as[(String, String, Long)].collect().toList
    // tokens: low lower lowest new newer newest
    val ref = trainRef(Seq("low", "lower", "lowest", "new", "newer", "newest"), 1)
    // the top-1 of the declared query must equal the reference argmax
    assert((got.head._1, got.head._2, got.head._3) == (ref.head._2, ref.head._3, ref.head._4))
    // hand count: "we" appears in lower/lowest/newer/newest = 4, the argmax
    assert(got.head == ("w", "e", 4L))
    val all = got.map(r => ((r._1, r._2), r._3)).toMap
    assert(all(("l", "o")) == 3L && all(("o", "w")) == 3L && all(("n", "e")) == 3L)
  }

  test("bpeTrainOf equals the imperative reference on 10 merges, including run semantics") {
    import spark.implicits._
    val tokens = Seq(
      "low", "low", "lower", "lowest", "new", "newer", "newest", "newest",
      "wider", "wide", "widest", "aaaa", "aaab", "banana", "bananas")
    val docs = Seq((1L, tokens.mkString(" "))).toDF("doc_id", "text")
    val got = Bpe.bpeTrainOf(docs, merges = 10)
    val ref = trainRef(tokens, merges = 10)
    assert(got == ref, s"\nengine: $got\nref:    $ref")
  }

  test("property: bpeTrainOf equals the reference on a random run-heavy two-letter corpus") {
    import spark.implicits._
    // a, b alphabet maximizes merge-run edge cases ("aaaa" under (a,a));
    // seeded so the case set is reproducible
    val rnd = new scala.util.Random(84)
    val tokens = Seq.fill(40)((0 until (2 + rnd.nextInt(5))).map(_ => if (rnd.nextBoolean()) "a" else "b").mkString)
    val docs = Seq((1L, tokens.mkString(" "))).toDF("doc_id", "text")
    val got = Bpe.bpeTrainOf(docs, merges = 6)
    val ref = trainRef(tokens, merges = 6)
    assert(got == ref, s"\nengine: $got\nref:    $ref\ntokens: $tokens")
  }

  test("per-merge work scans the checkpointed type table, never the corpus files") {
    import spark.implicits._
    // the loop's invariant re-stated as a plan assertion: after the one
    // corpus aggregate is checkpointed, a merge round's count plan must
    // contain no file scan — its cost is |types|, independent of corpus
    val docs = Seq((1L, "low lower lowest new newer newest")).toDF("doc_id", "text")
    val types = Bpe.typeSymbols(Bpe.wordTypesOf(docs)).localCheckpoint(true)
    try {
      val p = Bpe.pairCounts(types).queryExecution.executedPlan.toString
      assert(!p.contains("FileScan") && !p.contains("Scan parquet"),
        s"merge-round count must not rescan the corpus;\n$p")
    } finally types.unpersist()
  }

  test("wordTypesOf weights factor the instance-level pair counts exactly") {
    import spark.implicits._
    // "low low low new" — type table (low,3),(new,1); weighted pair counts
    // must equal counting over every instance
    val docs = Seq((1L, "low low low new")).toDF("doc_id", "text")
    val tp = Bpe.pairCounts(Bpe.typeSymbols(Bpe.wordTypesOf(docs)))
      .as[(String, String, Long)].collect().map(r => ((r._1, r._2), r._3)).toMap
    assert(tp(("l", "o")) == 3L && tp(("o", "w")) == 3L && tp(("n", "e")) == 1L && tp(("e", "w")) == 1L)
  }

  /** Imperative reference encode: chars, then each merge in rank order. */
  private def encodeRef(tok: String, merges: Seq[(String, String)]): List[String] =
    merges.foldLeft(tok.map(_.toString).toList) { case (cs, (a, b)) => mergeRef(cs, a, b) }

  private val tokenRe = """(\w+|[^\w\s]+)""".r

  private def encodeDocRef(text: String, merges: Seq[(String, String)]): (Long, Long, String) = {
    val toks = tokenRe.findAllIn(text).toList
    val pieces = toks.flatMap(t => encodeRef(t, merges))
    (toks.size.toLong, pieces.size.toLong, pieces.mkString(" "))
  }

  test("bpeEncodeOf equals the imperative reference, including run-heavy merges") {
    import spark.implicits._
    // (a,a) then (aa,aa) exercises run parity at both symbol widths;
    // (b,a) exercises a multi-char right neighbor after prior merges
    val merges = Seq("a" -> "a", "aa" -> "aa", "b" -> "a", "e" -> "r")
    val texts = Seq("aaaa aaaaa baaa ba", "lower letter aaa!", "", "x")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Bpe.bpeEncodeOf(docs, merges)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toList
    val ref = texts.zipWithIndex.map { case (t, i) =>
      val (nt, np, ps) = encodeDocRef(t, merges); (i.toLong, nt, np, ps)
    }.toList
    assert(got == ref, s"\nengine: $got\nref:    $ref")
  }

  test("property: bpeEncodeOf equals the reference on random run-heavy corpora and merges") {
    import spark.implicits._
    val rnd = new scala.util.Random(86)
    val texts = Seq.fill(25)(
      Seq.fill(1 + rnd.nextInt(6))((0 until (1 + rnd.nextInt(6))).map(_ => if (rnd.nextBoolean()) "a" else "b").mkString).mkString(" "))
    val merges = Seq("a" -> "a", "b" -> "b", "aa" -> "b", "a" -> "bb", "aabb" -> "aabb")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Bpe.bpeEncodeOf(docs, merges)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toList
    val ref = texts.zipWithIndex.map { case (t, i) =>
      val (nt, np, ps) = encodeDocRef(t, merges); (i.toLong, nt, np, ps)
    }.toList
    assert(got == ref, s"\nengine: $got\nref:    $ref\ntexts: $texts")
  }

  test("bpeEncodeViaTypes equals the scan-local path") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val base = Bpe.bpeEncodeOf(docs).as[(Long, Long, Long, String)].collect().sortBy(_._1).toList
    val via = Bpe.bpeEncodeViaTypes(docs, Bpe.PinnedMerges)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toList
    assert(via == base, "the type-factorized encode diverged from scan-local")
  }

  test("the pinned merge table IS bpeTrainOf's output on the sf0.01 fixture") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val trained = Bpe.bpeTrainOf(docs, merges = Bpe.PinnedMerges.size).map(m => (m._2, m._3))
    assert(trained == Bpe.PinnedMerges,
      s"\ntrained: $trained\npinned:  ${Bpe.PinnedMerges}")
  }

  test("q86's scan-local plan has no shuffle and no join") {
    val p = Bpe.bpeEncode(spark, TestSpark.Sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"encode must be scan-local;\n$p")
    assert(!p.contains("Join"), s"encode must not join;\n$p")
  }

  test("q87 fertility equals the reference, counts zero-token docs, rounds to 6 dp") {
    import spark.implicits._
    val merges = Seq("a" -> "b", "ab" -> "c")
    // en: "abc abc x" → tokens 3, pieces: abc→[abc], abc→[abc], x→[x] = 3
    // de: "aabbcc" → 1 token, a a b b c c → a [ab] b c c → a [abc] c = wait,
    // computed below by the same imperative reference the engine is pinned to
    val rows = Seq((0L, "abc abc x", "en"), (1L, "aabbcc", "de"), (2L, "", "de"))
    val docs = rows.toDF("doc_id", "text", "lang")
    val got = Bpe.tokenizerFertilityOf(docs, merges)
      .as[(String, Long, Long, Long, Double)].collect().toList
    def langRef(lang: String) = {
      val ds = rows.filter(_._3 == lang)
      val per = ds.map(d => encodeDocRef(d._2, merges))
      val (nt, np) = (per.map(_._1).sum, per.map(_._2).sum)
      (lang, ds.size.toLong, nt, np,
        BigDecimal(np.toDouble / nt).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got == List(langRef("de"), langRef("en")), s"got $got")
  }

  test("q87's only hash exchange carries lang-cardinality aggregated rows") {
    val p = Bpe.tokenizerFertility(spark, TestSpark.Sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"fertility must not join;\n$p")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1, s"exactly one hash exchange (the lang agg);\n$p")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"the agg must be map-side combined before the exchange;\n$p")
  }

  test("q84 plans the top-50 as a merged partial top-k, not a global sort") {
    val p = Bpe.bpePairCounts(spark, TestSpark.Sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"ranked limit must merge per-partition;\n$p")
    assert(!p.contains("WindowExec"), s"no window in the count path;\n$p")
  }

  test("declared q84 runs on the fixture, ranks deterministically, pairs are single chars") {
    import spark.implicits._
    val out = Bpe.bpePairCounts(spark, TestSpark.Sf0001).as[(String, String, Long)].collect()
    assert(out.length == 50)
    assert(out.sliding(2).forall { case Array(x, y) =>
      x._3 > y._3 || (x._3 == y._3 && (x._1 < y._1 || (x._1 == y._1 && x._2 < y._2)))
    }, "rows must be strictly ordered by (n desc, c1, c2)")
    assert(out.forall(r => r._1.length == 1 && r._2.length == 1))
  }

  test("bpeEncodeAuto crossover: shallow or low-duplication picks scan-local, deep+duplicated picks types") {
    import spark.implicits._
    // depth past the shallow gate but the rule must still consult the
    // duplication estimate: 200 no-op merges on disjoint symbols
    val deepMerges = (0 until 200).map(i => (s"zz$i", s"qq$i"))
    val dupDocs = (0L until 50L).map(i => (i, "join join join join join join")).toDF("doc_id", "text")
    val uniqDocs = (0L until 50L).map(i => (i, (0 until 6).map(j => s"w${i}_$j").mkString(" "))).toDF("doc_id", "text")

    def hasJoin(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("Join")

    // pinned 12-merge depth: ALWAYS scan-local (no join, no exchange) —
    // this is q86's declared plan, so the auto route keeps its hash
    assert(!hasJoin(Bpe.bpeEncodeAuto(dupDocs)), "shallow depth must stay scan-local")
    // deep chain over a heavily duplicated corpus: the type path
    assert(hasJoin(Bpe.bpeEncodeAuto(dupDocs, deepMerges)),
      "deep chain + high duplication must take the type-factorized path")
    // deep chain over an all-unique-token corpus: type factoring buys
    // nothing (types ≈ instances), so the rule stays scan-local
    assert(!hasJoin(Bpe.bpeEncodeAuto(uniqDocs, deepMerges)),
      "deep chain with no duplication must stay scan-local")
    // and the auto route is row-identical to the explicit paths either way
    val auto = Bpe.bpeEncodeAuto(dupDocs, deepMerges).orderBy(col("doc_id")).collect().toSeq
    val scan = Bpe.bpeEncodeOf(dupDocs, deepMerges).orderBy(col("doc_id")).collect().toSeq
    assert(auto == scan, "both paths must stay row-identical under the auto rule")
  }

  test("the auto decision is deterministic: same branch under any partitioning or physical order") {
    // VERDICT r16 item 5: the duplication sample is a deterministic
    // xxhash64(doc_id) stratum, so WHICH docs decide the path cannot
    // depend on scan/partition order. All three branches of the rule are
    // exercised: shallow short-circuit, deep+scan-local, deep+types.
    val docs = Tables.documents(spark, TestSpark.Sf0001)
      .select(col("doc_id"), col("text"))
    assert(!Bpe.autoUseTypes(docs, depth = 12), "shallow depth short-circuits to scan-local")
    for (depth <- Seq(64, 100000)) {
      val base = Bpe.autoUseTypes(docs, depth)
      assert(base == Bpe.autoUseTypes(docs.repartition(7), depth),
        s"depth $depth: decision must not depend on partitioning")
      assert(base == Bpe.autoUseTypes(docs.orderBy(col("text")), depth),
        s"depth $depth: decision must not depend on physical row order")
    }
    // at a production-vocab depth the fixture corpus IS duplicated enough
    // for the type path — the branch the sample exists to find
    assert(Bpe.autoUseTypes(docs, depth = 100000),
      "deep chain over the fixture corpus must take the type path")
  }
}
