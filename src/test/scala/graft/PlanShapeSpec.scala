package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Knn, Relational}

/** Codifies the plan-shape claims from SCALE.md/README as assertions, so a
  * regression that silently changes a physical plan (lost pushdown, a
  * window sneaking in for top-k, a missing broadcast) fails the build, not
  * a benchmark review.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q01 k-NN ranks with the bounded-heap aggregator, not a window") {
    val p = plan(Knn.knnTopkCosine(spark, TestSpark.Sf0001))
    assert(p.contains("ObjectHashAggregate"), "TopK aggregator must plan as ObjectHashAggregate")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"no window may appear in the k-NN ranking path;\n$p")
  }

  test("materialized-tf rankers never re-tokenize: zero corpus parquet scans past the tf boundary") {
    // Round 17's biggest win came from discovering that exchange reuse
    // silently never fires across the tf branches (the scoring branch's
    // pushed isnotnull(token) de-canonicalizes its subtree), so the corpus
    // tokenized 4-7x per query. tokenTfMaterialized fixed it; this census
    // pins the fix: every plan branch past the boundary must read the
    // checkpointed tf RDD, so the composed plan contains NO parquet scan
    // at all. A refactor that silently reintroduces a lazy tf re-derivation
    // fails here, not in a benchmark review.
    import graft.operators.{Hybrid, Ranking, TextAnalysis}
    val docs = Tables.documents(spark, TestSpark.Sf0001)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val rows: Seq[(String, org.apache.spark.sql.DataFrame, Int)] = Seq(
      ("q95", TextAnalysis.bm25RankOf(docs), 0),
      ("q121", TextAnalysis.rm3RankOf(docs), 0),
      ("q125", TextAnalysis.qlRankOf(docs), 0),
      ("q104", Ranking.ndcgEvalOf(docs), 0),
      // q96's vector half legitimately encodes the corpus (lexical half
      // rides the tf boundary): exactly the encoder scan, nothing more
      ("q96", Hybrid.hybridRrfOf(docs), 1))
    rows.foreach { case (name, df, maxScans) =>
      val p = plan(df)
      // one spelling only: a file scan prints as "FileScan parquet", which
      // also contains "Scan parquet"
      val scans = "FileScan parquet".r.findAllIn(p).size
      assert(scans <= maxScans,
        s"$name: expected <= $maxScans corpus parquet scans past the tf " +
          s"materialization, found $scans — the 4-7x re-tokenize is back;\n$p")
    }
  }

  test("q26 pushes the date filter and prunes columns into the parquet scan") {
    val df = Relational.pricingSummary(spark, TestSpark.Sf0001)
    val p  = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull") || p.contains("PushedFilters: [LessThan"),
      s"expected non-empty PushedFilters in the lineitem scan;\n$p")
    val readSchema = "ReadSchema: struct<"
    assert(p.contains(readSchema))
    val schema = p.substring(p.indexOf(readSchema) + readSchema.length)
    assert(!schema.takeWhile(_ != '>').contains("l_comment"),
      "untouched wide columns must be pruned from the scan")
  }

  test("q27 joins dimensions by broadcast and takes top-20 without a global sort") {
    val p = plan(Relational.topCustomers(spark, TestSpark.Sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"dimension joins must broadcast;\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must compile to TakeOrderedAndProject, not Sort+Limit;\n$p")
  }

  test("q30 rollup compiles to a single Expand") {
    val p = plan(Relational.eventRollup(spark, TestSpark.Sf0001))
    assert("Expand".r.findAllIn(p).size == 1, s"rollup must be one Expand;\n$p")
  }

  test("q49 quantization is scan-local: the only exchange is the final presentation sort") {
    val p = plan(graft.operators.Quantize.quantizeInt8(spark, TestSpark.Sf0001))
    assert(!p.contains("Join"), s"quantization must not join;\n$p")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"per-vector codebooks need no shuffle — only the ORDER BY may exchange;\n$p")
  }

  test("q47 decode joins the vocab by broadcast on both encode and decode sides") {
    val p = plan(graft.operators.TextPipeline.detokenize(spark, TestSpark.Sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"vocab (dictionary-sized) must broadcast in encode AND decode;\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the token stream must never shuffle for a dictionary lookup;\n$p")
  }

  test("q53 multiprobe scan stays partition-pruned: widened IN-list, never a full-layout read") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_planshape_ivf").toString
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    graft.operators.IvfIndex.build(spark, emb, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val p = plan(graft.operators.IvfIndex.probe(spark, dir, queries, k = 3, nprobe = 2))
    assert("""PartitionFilters: \[[^\]]*list_id""".r.findFirstIn(p).isDefined,
      s"the nprobe=2 scan must keep list_id inside a non-empty partition filter;\n$p")
    assert(p.contains("ObjectHashAggregate"),
      "per-list top-k must stay the bounded-heap aggregator under multiprobe")
  }

  test("q54 persisted-vocab encode keeps the q05 plan: broadcast vocab, no token-stream shuffle") {
    val p = plan(graft.operators.TextPipeline.encodePersistedVocab(spark, TestSpark.Sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"the LOADED vocab must still broadcast into the encode join;\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"encoding through the artifact must not demote the dictionary join;\n$p")
  }

  test("q56 index-blocked pairs form via an EQUI-join on list_id, never a cartesian") {
    val p = plan(graft.operators.Dedup.indexBlockedNearDup(spark, TestSpark.Sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"blocking exists to avoid the all-pairs product;\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k pairs must merge per-partition, not globally sort;\n$p")
  }

  test("q57 compressed probe prunes the CODE layout's partitions and broadcasts the rerank queries") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_planshape_pq").toString
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    graft.operators.IvfIndex.build(spark, emb, dir)
    val cb = graft.operators.Pq.train(spark, emb, m = 8, k = 16)
    graft.operators.Pq.buildCodes(spark, dir, cb)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val p = plan(graft.operators.Pq.probeCompressed(spark, dir, cb, queries, k = 3, nprobe = 1, shortlist = 50))
    assert("""PartitionFilters: \[[^\]]*list_id""".r.findFirstIn(p).isDefined,
      s"the ADC scan must read only the probed lists' code partitions;\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the query-scale rerank side must broadcast;\n$p")
  }

  test("q58 pixel resize is scan-local: a typed map, no join, one presentation exchange") {
    val p = plan(graft.operators.Multimodal.pixelResizeDeclared(spark, TestSpark.Sf0001))
    assert(p.contains("MapPartitions"), s"the codec socket must plan as MapPartitions;\n$p")
    assert(!p.contains("Join"), s"resize must not join;\n$p")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"only the ORDER BY may exchange — the codec work is per-partition;\n$p")
  }

  test("q61 domain mix: rates broadcast, gate scan-local — no corpus shuffle, no window") {
    val p = plan(graft.operators.TextAnalysis.domainMix(spark, TestSpark.Sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"the source-cardinality rate table must broadcast;\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must never shuffle for a rate lookup;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"the hash gate replaces any window-based exact balance;\n$p")
  }

  test("q59 cross-modal search broadcasts the text-derived queries; the corpus never shuffles") {
    val p = plan(graft.operators.Embed.crossModalSearch(spark, TestSpark.Sf0001))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"few-queries×corpus scoring must broadcast the query side;\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"ranking must stay the bounded-heap aggregator;\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must never shuffle for a query-scale broadcast;\n$p")
  }

  test("q62 scaled pairs keep q56's shape: equi-join on list_id, no cartesian, heap-merged top-k") {
    val p = plan(graft.operators.Dedup.scaledNearDup(spark, TestSpark.Sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"sign-bit blocking exists to avoid the all-pairs product;\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k pairs must merge per-partition, not globally sort;\n$p")
  }

  test("q63 index-backed cross-modal probe prunes the image corpus' list partitions") {
    val p = plan(graft.operators.Embed.crossModalIndexSearch(spark, TestSpark.Sf0001))
    assert("""PartitionFilters: \[[^\]]*list_id""".r.findFirstIn(p).isDefined,
      s"the probe must read only the routed lists — that is the point of going through the index;\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"ranking must stay the bounded-heap aggregator;\n$p")
  }

  test("q66 salted join never broadcasts or sorts the salted fact side into a cartesian") {
    val p = plan(graft.operators.Skew.saltedJoinDeclared(spark, TestSpark.Sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the salted join must stay an equi-join on (key, salt);\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"the aggregate tail must stay a hash aggregate, no window;\n$p")
  }

  test("q68 sentence dedup: fingerprint min-aggregate + semi-join, no corpus window, no cartesian") {
    val p = plan(graft.operators.TextAnalysis.sentenceDedup(spark, TestSpark.Sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"first-occurrence selection must stay join-shaped;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"the global first-occurrence must be a min AGGREGATE, not a window over the sentence stream;\n$p")
  }

  test("q70 fuzzy sentence dedup: hash aggregates + equi-joins only — no cartesian, no window, no sort-agg") {
    // pin the lazy plan body: the public API materializes via
    // localCheckpoint, which would hide the plan behind an RDD scan
    val corpus = Tables.documents(spark, TestSpark.Sf0001).select("doc_id", "text")
    val sents  = graft.operators.TextAnalysis.sentenceUnits(corpus)
    val p = plan(graft.operators.TextAnalysis.fuzzySentenceDedupPlan(
      corpus, sents, graft.operators.DedupExtras.JaccardThreshold))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"banding must keep candidate generation an equi-join;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"first-occurrence and dominance must stay aggregates/joins, no corpus window;\n$p")
    assert(!p.contains("SortAggregate"),
      s"the DECIMAL key and band aggregates must stay hash-based;\n$p")
  }

  test("q92 curation composition inherits every stage's shape: no cartesian, no sort-agg, broadcast gram/cut joins") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
      .select("doc_id", "lang", "text")
    val p = plan(graft.operators.Curation.curationPlanOf(docs))
    assert(!p.contains("CartesianProduct"),
      s"no stage of the composition may degrade to an all-pairs join;\n$p")
    // the ONLY nested-loop joins allowed are q72's 1-row `total` broadcast
    // cross joins inside the LM scorer (one per terms consumer) — anything
    // beyond that count means a real join degraded to all-pairs
    assert("BroadcastNestedLoop".r.findAllIn(p).length <= 2,
      s"unexpected nested-loop join beyond the 1-row LM total broadcasts;\n$p")
    assert(!p.contains("SortAggregate"),
      s"the fingerprint/band/gram aggregates must stay hash-based through composition;\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the benchmark gram set and the per-lang cuts must broadcast, not shuffle the corpus;\n$p")
    // the only windows allowed are q69's per-(lang, shard) pack prefix and
    // q79's rank-free percentile path contributes none — a corpus-global
    // window sneaking into any stage would serialize the pipeline
    val windows = "Window".r.findAllIn(p).length
    assert(windows <= 2, s"unexpected window operators in the composition;\n$p")
  }

  test("q93 span removal: fp-scale shuffles + doc-scale rebuild join — token stream never shuffles, no window") {
    val p = plan(graft.operators.TextAnalysis.dupSpanRemove(spark, TestSpark.Sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"span marking must stay fingerprint equi-joins;\n$p")
    assert(!p.contains("Window"),
      s"removal needs no interval-union window — the covered set aggregates per doc;\n$p")
    assert(!p.contains("SortAggregate"),
      s"fingerprint and covered-set aggregates must stay hash-based;\n$p")
  }

  test("q94 importance select rides q72's LM shape: vocab broadcasts, token stream never shuffles") {
    val p = plan(graft.operators.TextAnalysis.importanceSelect(spark, TestSpark.Sf0001))
    assert(!p.contains("CartesianProduct"),
      s"the LM tables must join token-to-token;\n$p")
    assert("BroadcastNestedLoop".r.findAllIn(p).length <= 1,
      s"only the 1-row totals broadcast may nested-loop;\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the vocab-scale score table must broadcast back to the scan;\n$p")
    assert(!p.contains("Window"), s"selection is a filter, not a rank;\n$p")
  }

  test("q95 bm25: broadcast query cut + heap top-k — the only window is the 12-row qid assignment") {
    val p = plan(graft.operators.TextAnalysis.bm25Rank(spark, TestSpark.Sf0001))
    assert(!p.contains("CartesianProduct"),
      s"scoring must stay token/id equi-joins;\n$p")
    assert("BroadcastNestedLoop".r.findAllIn(p).length <= 1,
      s"only the 1-row corpus-stats broadcast may nested-loop;\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 12-row query-term table must broadcast into the tf stream;\n$p")
    // ranking is the bounded-heap aggregate, NOT row_number over every
    // scored doc; the one Window allowed is the qid assignment on the
    // 12-row limited query table
    assert("Window".r.findAllIn(p).length <= 1,
      s"per-query ranking must stay the heap aggregate, not a corpus window;\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the query derivation must be orderBy+limit, not a global sort;\n$p")
  }

  test("q96 hybrid rrf: both halves keep their audited shapes; fusion adds only query-scale work") {
    val p = plan(graft.operators.Hybrid.hybridRrf(spark, TestSpark.Sf0001))
    assert(!p.contains("CartesianProduct"),
      s"no unbounded cartesian anywhere in the fused plan;\n$p")
    // allowed nested-loops: the 1-row BM25 stats broadcast + the 4-row
    // query-vector broadcast into the corpus embedding scan (Knn.topK)
    assert("BroadcastNestedLoop".r.findAllIn(p).length <= 2,
      s"only the stats and query-vector broadcasts may nested-loop;\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the query-term table must broadcast into the tf stream;\n$p")
    // the shared 12-row workload table materializes to the driver once
    // and replants as a local relation (VERDICT r11 item 5): both halves
    // read in-memory rows — no cached table, no per-half re-derivation
    assert("LocalTableScan".r.findAllIn(p).length >= 2,
      s"both halves must read the driver-materialized workload table;\n$p")
    assert(!p.contains("InMemoryTableScan"),
      s"the workload table must not hold a cache entry (r11 leak fix);\n$p")
    // allowed window: ONLY the query-scale (<= queries x 2k rows) fusion
    // ranking — the 12-row qid assignment now runs in the separate
    // workload derivation job, and never a corpus window. (`Window \[`
    // excludes WindowGroupLimit, the pushed-down rank<=k pre-filter)
    assert("Window \\[".r.findAllIn(p).length <= 1,
      s"fusion may rank only the joined top lists;\n$p")
  }

  test("q71 greedy decode is scan-local: the only exchange is the presentation sort") {
    val p = plan(graft.operators.TensorOps.greedyDecode(spark, TestSpark.Sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      s"per-row decode must not join;\n$p")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, // rangepartitioning for orderBy (+ AQE read)
      s"decode must be scan-local, only the output ordering may shuffle;\n$p")
  }

  test("q73 simhash pairs: band equi-join, never an all-pairs XOR scan; heap-merged top-100") {
    val p = plan(graft.operators.DedupExtras.simhashNearDup(spark, TestSpark.Sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"candidates must form inside band buckets only;\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must merge per-partition, not globally sort;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"fingerprint votes must stay hash aggregates, no window;\n$p")
  }

  test("q74 cluster assignment: equi-joins + hash aggregates only over the corpus") {
    // pin the corpus-scale tail (label + size joins); the CC rounds run
    // on the decision-scale pair set behind localCheckpoint by design
    val p = plan(graft.operators.DupClusters.dupClusters(spark, TestSpark.Sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"label and size assignment must stay equi-joins;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"cluster sizes must come from a hash aggregate, not a corpus window;\n$p")
  }

  test("q75 dup spans: gram count is a hash aggregate; the union window partitions per doc") {
    val p = plan(graft.operators.TextAnalysis.dupSpanCoverage(spark, TestSpark.Sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the duplicated-fingerprint match must stay a semi/equi-join;\n$p")
    assert(p.contains("hashpartitioning(doc_id"),
      s"the interval-union window must partition by doc_id;\n$p")
    val windowIdx = p.indexOf("Window")
    assert(windowIdx >= 0 && !p.substring(windowIdx).contains("SinglePartition"),
      s"no single-partition exchange may feed the union window;\n$p")
  }

  test("q76 quota ranks with the bounded-heap aggregator per (lang, source) — not a window") {
    val p = plan(graft.operators.TextAnalysis.qualityQuota(spark, TestSpark.Sf0001))
    assert(p.contains("ObjectHashAggregate"),
      s"per-group top-k must plan as the partial/final heap aggregate;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"no row_number window may rank the scored corpus;\n$p")
  }

  test("q78 bigram assembly is scan-local: no window, no positional self-join, no cartesian") {
    val p = plan(graft.operators.TextAnalysis.bigramLogProb(spark, TestSpark.Sf0001))
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"bigrams must come from the array zipped with its own tail, not a lag window;\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the vocab-size scalar must broadcast, never cartesian;\n$p")
    assert(p.contains("HashAggregate"),
      s"the per-doc mean must be a map-side-combined hash aggregate;\n$p")
  }

  test("q79 thresholds are a per-lang aggregate broadcast back — no percent_rank window, no sort") {
    val p = plan(graft.operators.TextAnalysis.percentileSelect(spark, TestSpark.Sf0001))
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"the cut must come from a percentile aggregate, never a percent_rank window;\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 5-row threshold table must broadcast back into the scored stream;\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian;\n$p")
  }

  test("q77 budget windows hash-partition by (lang, shard) — never a global per-lang ordering") {
    val p = plan(graft.operators.TextAnalysis.tokenBudgetSelect(spark, TestSpark.Sf0001))
    assert(p.contains("hashpartitioning(lang"),
      s"the running token sum must shuffle by the (lang, shard) group key;\n$p")
    // the scoring subtree legitimately holds a one-row SinglePartition
    // aggregate (the LM's total token count); the exchange FEEDING the
    // window must be the (lang, shard) hash partitioning.
    val windowIdx = p.indexOf("Window")
    val firstExchange = p.indexOf("Exchange", windowIdx)
    assert(windowIdx >= 0 && firstExchange >= 0 &&
      p.startsWith("Exchange hashpartitioning(lang", firstExchange),
      s"the exchange feeding the budget window must hash by (lang, shard);\n$p")
  }

  test("q69 packing windows hash-partition by (lang, shard) — never a single global ordering") {
    val df = graft.operators.TextPipeline.packSequences(spark, TestSpark.Sf0001)
    val p  = plan(df)
    assert(p.contains("hashpartitioning(lang"),
      s"the running sum must shuffle by the (lang, shard) group key;\n$p")
    // the only allowed single-partition stage is the tiny presentation sort
    val windowIdx = p.indexOf("RunningWindowFunction") max p.indexOf("Window")
    assert(windowIdx >= 0 && !p.substring(windowIdx).contains("SinglePartition"),
      s"no single-partition exchange may feed or follow the packing window;\n$p")
  }

  test("q80 incremental dedup: fingerprint and band matches stay equi-joins") {
    val p = plan(graft.operators.Incremental.incrementalDedup(spark, TestSpark.Sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"exact pass and cross-corpus band join must stay equi-joins;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"no window belongs in the classification path;\n$p")
  }

  /** The executed plans of every query `f` runs, read off a
    * QueryExecutionListener once the listener bus is drained.
    */
  private def executedPlans(f: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try f
    finally {
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  /** Every node of `p` that evaluates `regexp_extract_all`, with how many
    * calls it makes per row, cached plans that `p` reads included. A
    * scan's data filters only mirror a Filter above it and are not counted.
    */
  private def tokenizerNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[(org.apache.spark.sql.execution.SparkPlan, Int)] = {
    import org.apache.spark.sql.catalyst.expressions.RegExpExtractAll
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val nodes = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}.collect(p) { case n => n }
    val own = nodes.filterNot(_.isInstanceOf[FileSourceScanExec])
      .map(n => n -> n.expressions.map(_.collect { case r: RegExpExtractAll => r }.size).sum)
      .filter(_._2 > 0)
    own ++ nodes.collect { case s: InMemoryTableScanExec => s.relation.cachedPlan }.distinct.flatMap(tokenizerNodes)
  }

  test("shingling runs the tokenizer once per doc: artifact build, verified pairs, both stream carriers") {
    import org.apache.spark.sql.execution.ProjectExec
    import org.apache.spark.sql.functions.{col, concat, lit}
    import graft.operators.{DedupExtras, Incremental}
    val docs = Tables.documents(spark, TestSpark.Sf0001).select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_tok_art").toString
    // near re-crawls: no exact match, so the near pass keeps its subtree
    val batch = docs.select((col("doc_id") + 3000000).as("doc_id"),
      concat(col("text"), lit(" please subscribe to our newsletter today")).as("text"))
    def classified(bound: Long) = {
      val store = Incremental.storeArtifacts(spark, dir, bound)
      executedPlans(Incremental.classify(batch, store).collect())
    }
    val runs = Seq(
      "buildStoreArtifacts" -> executedPlans(Incremental.buildStoreArtifacts(docs, dir)),
      "minhashVerifiedPairsOf" -> executedPlans(DedupExtras.minhashVerifiedPairsOf(docs)),
      "classify (lookup tables)" -> classified(Long.MaxValue),
      "classify (join frames)" -> classified(0L))
    runs.foreach { case (name, plans) =>
      val nodes = plans.flatMap(tokenizerNodes)
      // each shingling subtree tokenizes in its one projection; a Filter
      // pushed below that projection (the `>= 3` cut, or the `size(sh) >
      // 0` an inner explode infers) would tokenize every doc again
      assert(nodes.nonEmpty && nodes.forall { case (n, k) => n.isInstanceOf[ProjectExec] && k == 1 },
        s"$name: nodes evaluating regexp_extract_all ${nodes.map { case (n, k) => s"${n.nodeName} x$k" }}, " +
          s"want one call in each tokenizing Project;\n${plans.mkString("\n")}")
    }
  }

  test("q83 leakage-safe split: cluster label + side derive with equi-joins, no extra shuffle stage") {
    val p = plan(graft.operators.DupClusters.leakageSafeSplit(spark, TestSpark.Sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"label assignment must stay an equi-join;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"the side gate is scan-local — no window;\n$p")
  }

  test("q97 knn-classify: heap top-k + broadcast label probe; only the vote window") {
    val p = plan(graft.operators.Classify.knnClassify(spark, TestSpark.Sf0001))
    assert(p.contains("ObjectHashAggregate"),
      s"neighbor ranking must stay the bounded-heap aggregate;\n$p")
    // exactly one nested-loop: the query-vector broadcast into the corpus
    // scan; the label lookup must be a broadcast HASH join (rank list
    // broadcast against the label scan), never a shuffle
    assert("BroadcastNestedLoop".r.findAllIn(p).length <= 1,
      s"only the query broadcast may nested-loop;\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the rank-list label probe must broadcast-hash-join;\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no corpus-side shuffle join anywhere;\n$p")
    // the vote window partitions by qid over query-scale rows — allowed once
    assert("Window \\[".r.findAllIn(p).length <= 1,
      s"only the per-qid vote ranking may window;\n$p")
  }

  test("q98 triplet mining: one scoring pass, one aggregate — no window, no per-end scan") {
    val p = plan(graft.operators.Classify.tripletMining(spark, TestSpark.Sf0001))
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"both triplet ends come from the conditional max_by pair, not windows;\n$p")
    assert("BroadcastNestedLoop".r.findAllIn(p).length <= 1,
      s"only the anchor broadcast may nested-loop;\n$p")
    // scans: the corpus scored pass + the broadcast anchor side + the
    // query-scale keep-anchor side (ADVICE r11 left join) — all three are
    // pruned scans, and the keep-side joins broadcast-hash, never shuffled
    assert("Scan parquet".r.findAllIn(p).length <= 3,
      s"the corpus must be scanned once per side, not per triplet end;\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the keep-anchor join must stay broadcast over query-scale rows;\n$p")
  }

  test("q99 hamming top-k: scan-local pack + heap; no float math joins, no window") {
    val p = plan(graft.operators.Ann.hammingTopk(spark, TestSpark.Sf0001))
    assert(p.contains("ObjectHashAggregate"),
      s"distance ranking must stay the bounded-heap aggregate;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"no window in the binary search path;\n$p")
    assert("BroadcastNestedLoop".r.findAllIn(p).length <= 1,
      s"only the packed-query broadcast may nested-loop;\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the packed corpus must never shuffle;\n$p")
  }

  test("q101 kmeans assignment is scan-local: literal centroids, no join, one presentation sort") {
    val p = plan(graft.operators.Cluster.kmeansAssign(spark, TestSpark.Sf0001))
    assert(!p.contains("Join"),
      s"the argmin must fold the driver-held centroids as literals, never join;\n$p")
    assert("Exchange".r.findAllIn(p).length == 1,
      s"only the ORDER BY vec_id may exchange — assignment itself is per-row;\n$p")
  }

  test("q102 semdedup pairs stay cluster-blocked: equi-join on cluster, no cartesian") {
    val p = plan(graft.operators.Cluster.semdedup(spark, TestSpark.Sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"candidate pairs must form only inside a cluster block;\n$p")
  }

  test("q104 ndcg: heap-ranked IDCG, broadcast rank-list joins, no corpus window") {
    val p = plan(graft.operators.Ranking.ndcgEval(spark, TestSpark.Sf0001))
    assert(p.contains("ObjectHashAggregate"),
      s"both the BM25 ranking and IDCG must use the bounded-heap aggregate;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"no corpus-scale window in the evaluation path;\n$p")
    assert(!p.contains("CartesianProduct"),
      s"relevance must come from the broadcast-cut tf stream;\n$p")
  }

  test("q105 mmr: the greedy unroll runs on local relations — no corpus scan past retrieval") {
    val df = graft.operators.Ranking.mmrDiversify(spark, TestSpark.Sf0001)
    val p = plan(df)
    assert(!p.contains("Scan parquet"),
      s"the MmrSelect−1 unrolled steps must read the localized shortlist, not the corpus;\n$p")
    assert(p.contains("LocalTableScan"),
      s"candidates and pair-sims must be driver-localized query-scale relations;\n$p")
  }

  test("q106 perplexity buckets: percentile aggregate + broadcast cuts, no corpus window") {
    val p = plan(graft.operators.CorpusStats.perplexityBucket(spark, TestSpark.Sf0001))
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"tertile cuts must be percentile AGGREGATES, never a percent_rank window;\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the langs×2 cut table must broadcast back onto the scored stream;\n$p")
  }

  test("q107 matryoshka: every width scores in one corpus scan, ranks by bounded heap") {
    // the scale claim lives in the pre-checkpoint scoring stage
    val emb = graft.Tables.embeddings(spark, TestSpark.Sf0001)
    val p = plan(graft.operators.Audit.prefixTopsOf(emb))
    assert(p.contains("ObjectHashAggregate"),
      s"per-(query, width) ranking must be the bounded-heap aggregate;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"no window in the recall path;\n$p")
    // scored pass + query broadcast: the corpus is never rescanned per width
    assert("Scan parquet".r.findAllIn(p).length <= 2,
      s"all ${graft.operators.Audit.MatryoshkaDims.size} widths must share one scored scan;\n$p")
    // the recall arithmetic downstream must not rescan the corpus either
    val pr = plan(graft.operators.Audit.matryoshkaRecall(spark, TestSpark.Sf0001))
    assert("Scan parquet".r.findAllIn(pr).length <= 1,
      s"past the checkpointed tops only the dense-grid query list may scan;\n$pr")
  }

  test("q108 lsh audit: the corpus-scale banding stays an equi-join; quadratic work is sample-only") {
    val df = graft.operators.Audit.lshAudit(spark, TestSpark.Sf0001)
    val p = plan(df)
    // the candidate stage and truth side are materialized behind
    // localCheckpoints; the audited claim is the CANDIDATE stage's plan
    val cand = graft.operators.DedupExtras
      .bandCandidatesOf(graft.Tables.documents(spark, TestSpark.Sf0001))
    val pc = plan(cand)
    assert(!pc.contains("CartesianProduct") && !pc.contains("BroadcastNestedLoop"),
      s"banding candidates must come from the (band, bkey) equi-join;\n$pc")
    assert(!p.contains("CartesianProduct"),
      s"the metric joins over checkpointed pair sets must stay equi-joins;\n$p")
  }

  test("q109 zipf: the spectrum cut is TakeOrderedAndProject, the rank needs no window") {
    val p = plan(graft.operators.CorpusStats.zipfSlope(spark, TestSpark.Sf0001))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N types must use per-partition heaps, never a global sort;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"ranking the N survivors must fold via sort_array, not a window;\n$p")
  }

  test("q110 pagerank: each iteration is one equi-join + one hash agg over checkpointed edges") {
    // the iteration frames are checkpointed (the q74 per-round
    // discipline) — the declared row's final plan must read the last
    // round's checkpoint, not re-execute the fingerprint pipeline
    val p = plan(graft.operators.OverlapGraph.overlapPagerank(spark, TestSpark.Sf0001))
    assert(!p.contains("Scan parquet"),
      s"the presentation cut must rank the checkpointed fixed point, not rescan;\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-N hub cut must be heap-based;\n$p")
  }

  test("q111 containment: bounded inverted index — no cartesian, no self-join fanout") {
    val docs = graft.Tables.documents(spark, TestSpark.Sf0001)
    val p = plan(graft.operators.DedupExtras.containmentPairsOf(
      graft.operators.DedupExtras.shingleSetsOf(docs)))
    assert(!p.contains("Join"),
      s"pairs must explode from the bounded sets — never a shingle self-join;\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"the bounded-distinct UDAF is the inverted index's aggregation;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "), s"no window;\n$p")
    val df = graft.operators.DedupExtras.containmentDedupOf(docs)
    assert(df.columns.toSeq == Seq("a_id", "b_id", "cont_a", "cont_b", "cmax"))
  }

  test("q112 diversity: scan-local gram assembly, two-level hash agg, no window") {
    val p = plan(graft.operators.CorpusStats.ngramDiversity(spark, TestSpark.Sf0001))
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"no window in the diversity report;\n$p")
    assert(!p.contains("Join"), s"gram assembly must be scan-local, never a positional join;\n$p")
    assert("HashAggregate".r.findAllIn(p).nonEmpty, s"type counting must hash-aggregate;\n$p")
  }

  test("q113 funnel: per-stage aggregates + anchor equi-joins — no window, no sequence collect") {
    val p = plan(graft.operators.Behavior.funnelSteps(spark, TestSpark.Sf0001))
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"stage anchors are MIN aggregates, never a window over the stream;\n$p")
    assert(!p.contains("collect_list"),
      s"the windowed formulation needs no per-user sequence materialization;\n$p")
    assert(!p.contains("CartesianProduct"),
      s"stage joins are equi-joins on user_id;\n$p")
  }

  test("q114 rfm: one user aggregate, broadcast cuts, scan-side scoring — no window") {
    val p = plan(graft.operators.Behavior.rfmSegments(spark, TestSpark.Sf0001))
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"quintile scores come from percentile aggregates, never ntile windows;\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 12-value cut row must broadcast back onto the user frame;\n$p")
  }

  test("q115 pmi: scan-local pair assembly, type-scale joins, heap-based cut") {
    val p = plan(graft.operators.CorpusStats.pmiCooccur(spark, TestSpark.Sf0001))
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"no window anywhere in the collocation path;\n$p")
    assert(!p.contains("CartesianProduct"),
      s"pair assembly must be the slice+zip scan-local idiom, never a positional self-join;\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the unigram type table must broadcast onto the pair-type stream;\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-$${CoocTopK} cut must be per-partition heaps, never a global sort;\n$p")
  }

  test("q117 mad: three type-keyed aggregates, broadcast med/mad, no window") {
    val p = plan(graft.operators.Analytics.madOutliers(spark, TestSpark.Sf0001))
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"medians are percentile AGGREGATES, never a median() window;\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the type-scale med/mad tables must broadcast back onto the stream;\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no corpus-side shuffle join anywhere;\n$p")
  }

  test("q125 ql: postings-side match sum, doc-scale prior, heap top-k, no window") {
    val p = plan(graft.operators.TextAnalysis.qlRank(spark, TestSpark.Sf0001))
    assert(!p.contains("WindowExec") && !p.contains("Window "), s"no window;\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the query model broadcasts — never a product;\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"ranking must be the bounded-heap TopK aggregate;\n$p")
  }

  test("q122/q123: the lag window hash-partitions by user — never a global ordering") {
    for (df <- Seq(graft.operators.Behavior.eventTransitions(spark, TestSpark.Sf0001),
      graft.operators.Behavior.interarrivalStats(spark, TestSpark.Sf0001))) {
      val p = plan(df)
      assert(p.contains("hashpartitioning(user_id"),
        s"the consecutive-pair window must partition per user (the q28 discipline);\n$p")
      assert(!p.contains(", SinglePartition"),
        s"no stage may collapse the stream to one partition;\n$p")
      assert(!p.contains("CartesianProduct"), s"no cartesian;\n$p")
    }
  }

  test("q127 bias audit: decision-scale removal join, no text shuffle, no window") {
    val p = plan(graft.operators.DedupExtras.dedupBiasAudit(spark, TestSpark.Sf0001))
    assert(!p.contains("WindowExec") && !p.contains("Window "), s"no window;\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the q16 pair machinery stays banded — never all-pairs;\n$p")
  }

  test("q121 rm3: both rounds keep the q95 shape — broadcast cuts, heap top-k, no window") {
    val p = plan(graft.operators.TextAnalysis.rm3Rank(spark, TestSpark.Sf0001))
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"round-1 rank, expansion selection, and round-2 rank must all avoid windows;\n$p")
    assert(!p.contains("CartesianProduct"),
      s"query-scale tables broadcast — never a product;\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"both ranking rounds must use the bounded-heap TopK aggregate;\n$p")
  }

  test("q120 bursts: bucket-table derivation, broadcast rates, no window") {
    val p = plan(graft.operators.Analytics.rateBursts(spark, TestSpark.Sf0001))
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"hour bucketing is a projection + aggregate, never a window;\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian;\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the type-scale rate table must broadcast back onto the bucket table;\n$p")
  }

  test("q119 isotropy: the all-pairs statistic rides the sum identity — no pair join") {
    val p = plan(graft.operators.Analytics.isotropyReport(spark, TestSpark.Sf0001))
    assert(!p.contains("WindowExec") && !p.contains("Window "), s"no window;\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"mean pairwise cosine must come from the closed-form vector sum, never a pair join;\n$p")
    val gen = "Generate posexplode".r.findAllIn(p).length
    assert(gen == 1, s"one (label, dim) unit-component stream;\n$p")
  }

  test("q156 z-order: scan-local bit math, no shuffle before the file-stats aggregate") {
    val p = plan(graft.operators.Layout.zorderLayout(spark, TestSpark.Sf0001))
    assert(!p.contains("WindowExec") && !p.contains("Window "), s"no window;\n$p")
    assert("Exchange".r.findAllIn(p).size <= 2,
      s"one aggregate exchange (plus AQE read) — the z code must compute in the scan;\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), s"no join anywhere;\n$p")
  }

  test("q157 compaction: the prefix-sum window partitions by source, never globally") {
    val p = plan(graft.operators.Layout.compactionPlan(spark, TestSpark.Sf0001))
    assert(p.contains("Window"), "the prefix sum is a window")
    assert(p.contains("hashpartitioning(source"),
      s"the window must partition by source — a global window is one reducer at any scale;\n$p")
  }

  test("q161 quantile sketch: cells come off one scan; only the audit sorts") {
    val p = plan(graft.operators.Sketch.quantileSketch(spark, TestSpark.Sf0001))
    assert(!p.contains("CartesianProduct"), s"no cartesian (the 3-quantile probe broadcasts);\n$p")
    // the sketch side must partial-aggregate map-side: a HashAggregate pair
    // around the cell exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"cell counts must map-side combine;\n$p")
  }

  test("q164 cdc: chunking is scan-local — the only exchange feeds the final sort") {
    val p = plan(graft.operators.Cdc.cdcChunking(spark, TestSpark.Sf0001))
    assert(p.contains("graft_cdc_cuts"),
      s"the boundary scan must be the native expression, not the HOF chain;\n$p")
    assert(!p.contains("Join"), s"no join in the per-doc summary;\n$p")
    assert("Exchange".r.findAllIn(p).size <= 2, s"scan-local chunking;\n$p")
  }

  test("q158 outliers: stat arrays broadcast, scoring is a scan-local fold — no pair join") {
    val p = plan(graft.operators.Analytics.embeddingOutliers(spark, TestSpark.Sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1,
      s"the label-stat arrays must broadcast onto the corpus scan;\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no pair join anywhere in the scoring path;\n$p")
    assert("Generate posexplode".r.findAllIn(p).length == 1,
      s"only the stats pass explodes; scoring stays a zip_with fold;\n$p")
  }

  test("q128 domain-kl: vocab-scale joins, broadcast totals, no window") {
    val p = plan(graft.operators.CorpusStats.domainKl(spark, TestSpark.Sf0001))
    assert(!p.contains("WindowExec") && !p.contains("Window "), s"no window;\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian;\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1,
      s"the source-totals table must broadcast back onto the vocab stream;\n$p")
  }

  test("q129 pps sample: broadcast weight totals, scan-side integer gate — no window, no sort of the corpus") {
    val p = plan(graft.operators.Sampling.ppsSample(spark, TestSpark.Sf0001))
    assert(!p.contains("WindowExec") && !p.contains("Window "), s"no window;\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the lang-scale weight table must broadcast;\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian;\n$p")
  }

  test("q130 funnel: one token aggregate, literal-unrolled stages — no join, no window") {
    val p = plan(graft.operators.Quality.filterFunnel(spark, TestSpark.Sf0001))
    assert(!p.contains("Join"), s"the funnel needs no join anywhere;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"the cumulative stage counts unroll as literals, never a window;\n$p")
  }

  test("q131 fuzzy link: the fixed probe list broadcasts into a nested-loop scan") {
    val p = plan(graft.operators.Gazetteer.fuzzyLink(spark, TestSpark.Sf0001))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the non-equi distance predicate must evaluate scan-side against broadcast probes;\n$p")
    assert(!p.contains("CartesianProduct"), s"never an unbroadcast product;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"the argmin is an integer min aggregate, not a rank window;\n$p")
  }

  test("q132 power iteration: two bounded jobs, dim-scale localized result — no corpus join") {
    // construction runs the two Lloyd-style passes (each one corpus scan
    // ending in a dim-scale collect); the returned frame is the localized
    // report, so no consumer can ever re-trigger the corpus work
    val p = plan(graft.operators.Analytics.powerIteration(spark, TestSpark.Sf0001))
    assert(p.contains("LocalTableScan"), s"the dim-scale report must be localized;\n$p")
    assert(!p.contains("Join") && !p.contains("WindowExec"),
      s"nothing distributed may remain in the report plan;\n$p")
  }

  test("q133 cluster keywords: the rank window partitions by cluster; totals broadcast") {
    val p = plan(graft.operators.Cluster.clusterKeywords(spark, TestSpark.Sf0001))
    assert(p.contains("hashpartitioning(cluster"),
      s"the keyword rank must partition per cluster — never a global window;\n$p")
    assert(!p.contains(", SinglePartition"),
      s"no stage may collapse the type stream to one partition;\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"cluster totals and the term table join broadcast at this scale;\n$p")
  }

  test("q134 rank correlation: the prefix sum is two-level — bucket-partitioned window, no global ordering") {
    val p = plan(graft.operators.Quality.scoreRankCorr(spark, TestSpark.Sf0001))
    assert(p.contains("hashpartitioning(bk"),
      s"the value-grid cumulative must partition by bucket (the MPP prefix-sum shape);\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian;\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"both value-scale rank maps must broadcast back onto the scored stream;\n$p")
  }

  test("q135 key skew audit: two hash aggregates, nothing else") {
    val p = plan(graft.operators.Skew.keySkewAudit(spark, TestSpark.Sf0001))
    assert(!p.contains("Join"), s"the audit needs no join;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "), s"no window;\n$p")
  }

  test("q136 late events: the high-water-mark window hash-partitions by user") {
    val p = plan(graft.operators.Behavior.lateEventAudit(spark, TestSpark.Sf0001))
    assert(p.contains("hashpartitioning(user_id"),
      s"the running max must partition per user (the q28/q122 discipline);\n$p")
    assert(!p.contains(", SinglePartition"),
      s"no stage may collapse the stream to one partition;\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian;\n$p")
  }

  test("q137 range search: broadcast queries, scan-side cut — no heap, no window") {
    val p = plan(graft.operators.Knn.rangeSearch(spark, TestSpark.Sf0001))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"queries broadcast against the streaming corpus;\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("WindowExec"),
      s"a radius query has no ranking reduce at all — filter and emit;\n$p")
  }

  test("q138 recommend: scan-side example exclusion, bounded-heap ranking") {
    val p = plan(graft.operators.Knn.recommendMulti(spark, TestSpark.Sf0001))
    assert(p.contains("ObjectHashAggregate"),
      s"ranking must use the bounded-heap TopK aggregate;\n$p")
    assert(p.contains("array_contains"),
      s"example exclusion evaluates scan-side against the inlined id list;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "), s"no window;\n$p")
  }

  test("q139 novelty: gram-type anti-join, never a positional self-join") {
    val p = plan(graft.operators.CorpusStats.ngramNovelty(spark, TestSpark.Sf0001))
    assert(p.contains("LeftAnti"),
      s"novel grams come from a type-scale anti-join;\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "), s"no window;\n$p")
  }

  test("q140 histogram: broadcast bounds, integer scan-side bucketing") {
    val p = plan(graft.operators.Analytics.valueHistogram(spark, TestSpark.Sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"the type-scale min/max table must broadcast back;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "), s"no window;\n$p")
  }

  test("q141 shard balance: scan-local assignment, two aggregates, nothing else") {
    val p = plan(graft.operators.ShardShuffle.shardBalance(spark, TestSpark.Sf0001))
    assert(!p.contains("Join"), s"the audit needs no join;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "), s"no window;\n$p")
  }

  test("q142 calibration: q97's scan shape, query-scale vote window only") {
    val p = plan(graft.operators.Classify.knnCalibration(spark, TestSpark.Sf0001))
    assert(p.contains("ObjectHashAggregate"),
      s"the k-NN rank must use the bounded heap;\n$p")
    assert(p.contains("hashpartitioning(qid"),
      s"the vote window partitions per query;\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbroadcast product;\n$p")
  }

  test("q143 k-anonymity: two aggregates over class keys, nothing corpus-scale past the first") {
    val p = plan(graft.operators.Quality.privacyKanon(spark, TestSpark.Sf0001))
    assert(!p.contains("Join"), s"no join;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "), s"no window;\n$p")
    // length bucket must reach the scan as a projection, not a shuffle key surprise
    assert(p.contains("ReadSchema: struct<lang:string,source:string,n_chars:bigint")
      || p.contains("n_chars"), s"only the three quasi-identifier columns scan;\n$p")
  }

  test("q144 calibration: two bounded wide aggregates, localized dim-scale report") {
    val p = plan(graft.operators.Quantize.quantCalibrate(spark, TestSpark.Sf0001))
    assert(p.contains("LocalTableScan"), s"the dim-scale report must be localized;\n$p")
    assert(!p.contains("Join") && !p.contains("WindowExec"),
      s"nothing distributed may remain in the report plan;\n$p")
  }

  test("q145 confusion: q19's broadcast-profile shape plus decision-scale joins only") {
    val p = plan(graft.operators.TextAnalysis.langidConfusion(spark, TestSpark.Sf0001))
    assert(p.contains("hashpartitioning(doc_id"),
      s"the argmax window partitions per doc (the q19 shape);\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian;\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"profile dim and row totals broadcast;\n$p")
  }

  test("q146 shipping priority: pushed date filters, broadcast dims, heap top-10") {
    val p = plan(graft.operators.Relational.shippingPriority(spark, TestSpark.Sf0001))
    assert(p.contains("PushedFilters: [IsNotNull") || p.contains("PushedFilters: [LessThan")
      || p.contains("PushedFilters: [GreaterThan"),
      s"the date cuts must reach the scans;\n$p")
    assert(p.contains("BroadcastHashJoin"), s"the segment dim must broadcast;\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must compile to TakeOrderedAndProject, never a global sort;\n$p")
  }

  test("q148 semdedup scaled: orthant-blocked equi-join pairs, never a cartesian") {
    // target 100 so the fixture splits into 2^b > 1 orthants — the declared
    // target (500) sits at the b=0 single-block floor at sf0.001, where the
    // cluster key folds to a literal and the window pin would be vacuous
    val emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val p = plan(graft.operators.Cluster.semdedupScaledOf(emb, targetBlockRows = 100))
    assert(!p.contains("CartesianProduct"),
      s"pairs form only inside sign-bit blocks — an equi-join on cluster;\n$p")
    assert(p.contains("hashpartitioning(cluster"),
      s"the redundancy rank windows partition per block;\n$p")
  }

  test("q149 local supplier volume: one fact scan, broadcast dims, pushed date window") {
    val p = plan(graft.operators.Relational.localSupplierVolume(spark, TestSpark.Sf0001))
    assert("Scan parquet".r.findAllIn(p).size >= 5, s"six-table star;\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian;\n$p")
    // the customer join carries NO broadcast hint (VERDICT r13 item 1) —
    // this pin proves the planner still picks broadcast BY SIZE at fixture
    // scale, while a 100×-scale customer can fall back to a custkey shuffle
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"supplier/nation/customer dims broadcast by size — the fact never shuffles twice;\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)")
      || p.contains("GreaterThanOrEqual(o_orderdate"),
      s"the order-date window must reach the orders scan;\n$p")
  }

  test("q159 volume shipping: pushed ship-date window, broadcast supplier bloc, AQE-arbitrated customer") {
    val p = plan(graft.operators.Relational.volumeShipping(spark, TestSpark.Sf0001))
    assert(!p.contains("CartesianProduct"), s"no cartesian;\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate"),
      s"the ship-date window must reach the lineitem scan;\n$p")
    // customer carries NO hint (the q149 lesson): this pin proves the
    // planner still broadcasts it BY SIZE at fixture scale
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"supplier bloc + customer side broadcast by size at fixture scale;\n$p")
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size <= 1,
      s"at most the orderkey fact-fact join may shuffle;\n$p")
  }

  test("q152 serving: ranks from tf artifact + index points, corpus text never in the serving plan") {
    val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    val dir = graft.operators.Serving.buildServingArtifacts(spark, docs)
    val p = plan(graft.operators.Serving.servedFused(spark, dir))
    assert(p.contains("tf.parquet"),
      s"the lexical half must rank from the persisted tf artifact;\n$p")
    assert(p.contains("/index/points"),
      s"the vector half must read the persisted index layout;\n$p")
    assert(!p.contains("documents.parquet"),
      s"corpus text must never appear in the serving plan;\n$p")
  }

  test("q147 dedup inflation: fingerprint-keyed join, text never shuffles, no window") {
    val p = plan(graft.operators.TextAnalysis.tokenDedupInflation(spark, TestSpark.Sf0001))
    assert(!p.contains("WindowExec") && !p.contains("Window "), s"no window;\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian;\n$p")
    // text reduces to (md5, token count) inside the scan-side projection:
    // no exchange may partition on or carry raw text
    assert(!p.contains("hashpartitioning(text"),
      s"shuffles carry the 16-byte fingerprint, never text;\n$p")
  }

  test("q171 skyline: no unpartitioned window — every windowspec is bucket-keyed") {
    val p = plan(graft.operators.Skyline.skylineParts(spark, TestSpark.Sf0001))
    val specs = """windowspecdefinition\([^),]*""".r.findAllIn(p).toList
    assert(specs.nonEmpty, s"the within-bucket prefix must plan as a window;\n$p")
    specs.foreach(s => assert(s.startsWith("windowspecdefinition(bk#"),
      s"the sweep window must PARTITION by the price bucket, never order globally: $s;\n$p"))
  }

  // AQE plans stringify as final + initial sections; counting operators
  // over both double-counts every node, so pins read the FINAL one only
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // let AQE finalize join strategies before reading the plan
    plan(df).split("== Initial Plan ==").head
  }

  test("q173 small-qty revenue: decorrelated aggregate joins back — no cartesian, no per-row re-scan") {
    val p = finalPlan(graft.operators.Relational.smallQtyRevenue(spark, TestSpark.Sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the correlated subquery must decorrelate to an equi-join;\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"brand scope AND the per-part aggregate join broadcast at fixture scale " +
        s"(the aggregate carries no pinned hint — AQE arbitrates by size);\n$p")
    assert("Scan parquet".r.findAllIn(p).size <= 4,
      s"two brand-scoped passes over (lineitem, part) — never a per-row subquery re-scan;\n$p")
  }

  test("q174 big-order customers: having-aggregate joins broadcast, top-100 merges per-partition") {
    val p = finalPlan(graft.operators.Relational.bigOrderCustomers(spark, TestSpark.Sf0001))
    assert(!p.contains("CartesianProduct"), s"no cartesian;\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must compile to TakeOrderedAndProject, not Sort+Limit;\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"the post-having aggregate (no pinned hint) and the order rows broadcast by size;\n$p")
  }

  test("q175 idle-rich customers: one-row threshold broadcasts, NOT EXISTS plans as LeftAnti") {
    val p = finalPlan(graft.operators.Relational.idleRichCustomers(spark, TestSpark.Sf0001))
    assert(!p.contains("CartesianProduct"), s"the scalar subquery must broadcast, not cartesian;\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the (sum, count) threshold row joins as a broadcast nested loop — one row, zero shuffle;\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must decorrelate to an anti join;\n$p")
  }

  test("q177 skyline 3d: bucket-keyed front window, scan-local carry-in test, one bucket-keyed anti join") {
    val p = plan(graft.operators.Skyline.skyline3Parts(spark, TestSpark.Sf0001))
    val specs = """windowspecdefinition\([^),]*""".r.findAllIn(p).toList
    assert(specs.nonEmpty, s"the per-bucket (y,z) front must plan as a window;\n$p")
    specs.foreach(s => assert(s.startsWith("windowspecdefinition(bk#"),
      s"the front window must PARTITION by the x bucket, never order globally: $s;\n$p"))
    // the cross-bucket test must be an EQUI join on the bucket key plus a
    // scan-local array test — never an inequality join (the r15 form's
    // broadcast f_bk < bk anti-join planned as a nested loop, making
    // bucket count a cross-side cost and capping block fineness)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"no inequality/nested-loop join anywhere — carry-in made the cross test an equi join;\n$p")
    assert(p.contains("exists("), s"the carry-in dominance test must be the scan-local exists;\n$p")
    assert("LeftAnti".r.findAllIn(p).size >= 1,
      s"the same-bucket pair test plans as a bucket-keyed anti join;\n$p")
  }

  test("q178 promo-stock suppliers: one fact-scale aggregate, part scope is a semi-join, no re-scan") {
    val p = finalPlan(graft.operators.Relational.promoStockSuppliers(spark, TestSpark.Sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the nested IN must decorrelate to equi-joins;\n$p")
    assert(p.contains("LeftSemi"), s"the part scope must plan as a semi-join;\n$p")
    assert("Scan parquet".r.findAllIn(p).size <= 5,
      s"one pass over each of (lineitem, part, supplier, nation, region) — never a per-supplier re-scan;\n$p")
  }

  test("q163 audit arm: both stratum filters sit scan-side, ahead of the exact join") {
    val p = plan(graft.operators.Relational.joinCardinality(spark, TestSpark.Sf0001))
    assert("""conv\(substring\(md5""".r.findAllIn(p).size >= 2,
      s"the md5 stratum gate must filter BOTH fact sides before the audit join;\n$p")
  }

  test("q116 gazetteer: hit-scale explode, no join, no window") {
    val p = plan(graft.operators.Gazetteer.entityTag(spark, TestSpark.Sf0001))
    assert(!p.contains("Join"),
      s"the inlined dictionary matches scan-side — no terms-table join at this size;\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "), s"no window;\n$p")
    // the scan-side filter must precede the explode: the generator's input
    // is the FILTERED array (hit-scale), not the raw token array
    assert(p.contains("array_contains"), s"set membership must be the codegen'd array_contains;\n$p")
    val gen = "Generate explode".r.findAllIn(p).length
    assert(gen == 1, s"exactly one hit-scale generator;\n$p")
  }
}
