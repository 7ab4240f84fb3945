package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Knn, Relational}

/** Codifies the plan-shape claims from SCALE.md/README as assertions, so a
  * regression that silently changes a physical plan (lost pushdown, a
  * window sneaking in for top-k, a missing broadcast) fails the build, not
  * a benchmark review.
  *
  * Every pin reads the final physical plans of the queries a public call
  * executes at sf0.001 ([[SparkProbe]]), cached plans included, and counts
  * their nodes by class ([[Census]]). Each pin also requires the operators
  * its title names, so it cannot pass over a bare RDD or local scan. A
  * failure prints the census and every plan it walked.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001
  private val helper = new AdaptiveSparkPlanHelper {}

  /** The census of everything `body` executes. */
  private def ran(body: => Any): Census = SparkProbe(spark)(body).census

  /** What building `df` and collecting it ran. */
  private def probe(df: => DataFrame): Ran = SparkProbe(spark)(df.collect())

  /** The census of building `df` and collecting it: the queries the call
    * runs while it builds the frame, and the frame's own.
    */
  private def census(df: => DataFrame): Census = ran(df.collect())

  /** The census of the returned frame's own query only. */
  private def ownCensus(df: => DataFrame): Census = probe(df).last

  private implicit class Pins(c: Census) {
    def pin(cond: Boolean, why: => String): Unit = if (!cond) fail(s"$why\n${c.shown}")
    def n[T <: SparkPlan: ClassTag]: Int = c.count[T]
    def equiJoins: Seq[BaseJoinExec] = c.all[BaseJoinExec].filter {
      case _: HashJoin | _: SortMergeJoinExec => true
      case _ => false
    }
    def allPairs: Int = n[CartesianProductExec] + n[BroadcastNestedLoopJoinExec]
    def joinsOfType(t: org.apache.spark.sql.catalyst.plans.JoinType): Int = c.all[BaseJoinExec].count(_.joinType == t)
    def windows: Int = n[WindowExec]
    def hashAggs: Int = n[HashAggregateExec] + n[ObjectHashAggregateExec]
    def exchanges: Int = n[Exchange] + n[ReusedExchangeExec]
    def scans: Seq[FileSourceScanExec] = c.all[FileSourceScanExec]
    /** Shuffles whose hash key starts with column `name`. */
    def hashesOn(name: String): Seq[ShuffleExchangeExec] = c.all[ShuffleExchangeExec].filter(e => firstKey(e, name))
    def singlePartitionShuffles: Seq[ShuffleExchangeExec] =
      c.all[ShuffleExchangeExec].filter(_.outputPartitioning == SinglePartition)
    /** Nodes with an expression for which `p` holds. */
    def evaluating(p: Expression => Boolean): Seq[SparkPlan] =
      c.nodes.filter(_.expressions.exists(_.find(p).isDefined))
    def generators(p: Generator => Boolean): Int = c.all[GenerateExec].count(g => p(g.generator))
    /** Sort aggregates other than the MinHash signature's per-doc `min`
      * over md5 strings, which has no hash-aggregate form.
      */
    def sortAggsBeyondSignatures: Int = c.all[SortAggregateExec].count(a =>
      !a.aggregateExpressions.forall(_.aggregateFunction.isInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.Min]))
  }

  private def firstKey(e: ShuffleExchangeExec, name: String): Boolean = e.outputPartitioning match {
    case h: HashPartitioning => h.expressions.headOption.exists(_.references.exists(_.name == name))
    case _ => false
  }

  /** The nodes below `p`, query stages included. */
  private def below(p: SparkPlan): Seq[SparkPlan] = helper.collect(p) { case n => n }

  /** The first shuffle below `p`: the one that feeds it. */
  private def feeding(p: SparkPlan): Option[ShuffleExchangeExec] =
    below(p).collectFirst { case e: ShuffleExchangeExec => e }

  private def windowKeyedOn(w: WindowExec, name: String): Boolean =
    w.partitionSpec.headOption.exists(_.references.exists(_.name == name))

  /** A cut on column `c` known when the query is planned: neither a
    * dynamic pruning filter nor an inferred `isnotnull` counts.
    */
  private def staticFilterOn(filters: Seq[Expression], c: String): Boolean =
    filters.exists {
      case _: DynamicPruningExpression | _: IsNotNull => false
      case f => f.references.exists(_.name == c)
    }

  private def scanOf(s: FileSourceScanExec, table: String): Boolean =
    s.relation.location.rootPaths.exists(_.toString.contains(table))

  test("q01 k-NN ranks with the bounded-heap aggregator, not a window") {
    val c = census(Knn.knnTopkCosine(spark, sf))
    c.pin(c.n[ObjectHashAggregateExec] >= 1, "TopK aggregator must plan as ObjectHashAggregate")
    c.pin(c.windows == 0, "no window may appear in the k-NN ranking path")
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
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val rows: Seq[(String, () => DataFrame, Int)] = Seq(
      ("q95", () => TextAnalysis.bm25RankOf(docs), 0),
      ("q121", () => TextAnalysis.rm3RankOf(docs), 0),
      ("q125", () => TextAnalysis.qlRankOf(docs), 0),
      ("q104", () => Ranking.ndcgEvalOf(docs), 0),
      // q96's vector half legitimately encodes the corpus (lexical half
      // rides the tf boundary): exactly the encoder scan, nothing more
      ("q96", () => Hybrid.hybridRrfOf(docs), 1))
    rows.foreach { case (name, df, maxScans) =>
      // the ranking query the frame runs, past the tf materialization
      val c = ownCensus(df())
      c.pin(c.hashAggs >= 1, s"$name: the ranking must aggregate the tf rows")
      c.pin(c.scans.size <= maxScans,
        s"$name: expected <= $maxScans corpus parquet scans past the tf " +
          s"materialization, found ${c.scans.size} — the 4-7x re-tokenize is back")
    }
  }

  test("q26 pushes the date filter and prunes columns into the parquet scan") {
    val c = census(Relational.pricingSummary(spark, sf))
    val lineitem = c.scans.filter(scanOf(_, "lineitem"))
    c.pin(lineitem.nonEmpty, "q26 must scan lineitem")
    c.pin(lineitem.forall(s => staticFilterOn(s.dataFilters, "l_shipdate")),
      "the ship-date cut must be a data filter of the lineitem scan")
    c.pin(lineitem.forall(!_.requiredSchema.fieldNames.contains("l_comment")),
      "untouched wide columns must be pruned from the scan")
  }

  test("q27 joins dimensions by broadcast and takes top-20 without a global sort") {
    val c = census(Relational.topCustomers(spark, sf))
    c.pin(c.n[BroadcastHashJoinExec] >= 2, "dimension joins must broadcast")
    c.pin(c.n[TakeOrderedAndProjectExec] == 1 && c.n[SortExec] == 0,
      "top-20 must compile to TakeOrderedAndProject, not Sort+Limit")
  }

  test("q30 rollup compiles to a single Expand") {
    val c = census(Relational.eventRollup(spark, sf))
    c.pin(c.n[ExpandExec] == 1, "rollup must be one Expand")
  }

  test("q49 quantization is scan-local: the only exchange is the final presentation sort") {
    val c = census(graft.operators.Quantize.quantizeInt8(spark, sf))
    c.pin(c.n[BaseJoinExec] == 0, "quantization must not join")
    c.pin(c.exchanges == 1 && c.all[ShuffleExchangeExec].forall(_.outputPartitioning.isInstanceOf[RangePartitioning]),
      "per-vector codebooks need no shuffle — only the ORDER BY may exchange")
  }

  test("q47 decode joins the vocab by broadcast on both encode and decode sides") {
    val c = census(graft.operators.TextPipeline.detokenize(spark, sf))
    c.pin(c.n[BroadcastHashJoinExec] >= 2, "vocab (dictionary-sized) must broadcast in encode AND decode")
    c.pin(c.n[SortMergeJoinExec] == 0, "the token stream must never shuffle for a dictionary lookup")
  }

  test("q53 multiprobe scan stays partition-pruned: widened IN-list, never a full-layout read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_planshape_ivf").toString
    val emb = Tables.embeddings(spark, sf)
    graft.operators.IvfIndex.build(spark, emb, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = census(graft.operators.IvfIndex.probe(spark, dir, queries, k = 3, nprobe = 2))
    val points = c.scans.filter(scanOf(_, graft.operators.IvfIndex.pointsPath(dir)))
    c.pin(points.size == 1 && staticFilterOn(points.head.partitionFilters, "list_id"),
      "the nprobe=2 scan must keep list_id inside a non-empty partition filter")
    c.pin(c.n[ObjectHashAggregateExec] >= 1,
      "per-list top-k must stay the bounded-heap aggregator under multiprobe")
  }

  test("q54 persisted-vocab encode keeps the q05 plan: broadcast vocab, no token-stream shuffle") {
    val c = census(graft.operators.TextPipeline.encodePersistedVocab(spark, sf))
    c.pin(c.n[BroadcastHashJoinExec] >= 1, "the LOADED vocab must still broadcast into the encode join")
    c.pin(c.n[SortMergeJoinExec] == 0, "encoding through the artifact must not demote the dictionary join")
  }

  test("q56 index-blocked pairs form via an EQUI-join on list_id, never a cartesian") {
    val c = census(graft.operators.Dedup.indexBlockedNearDup(spark, sf))
    c.pin(c.equiJoins.nonEmpty && c.allPairs == 0, "blocking exists to avoid the all-pairs product")
    c.pin(c.n[TakeOrderedAndProjectExec] >= 1, "top-k pairs must merge per-partition, not globally sort")
  }

  test("q57 compressed probe prunes the CODE layout's partitions and broadcasts the rerank queries") {
    val dir = java.nio.file.Files.createTempDirectory("graft_planshape_pq").toString
    val emb = Tables.embeddings(spark, sf)
    graft.operators.IvfIndex.build(spark, emb, dir)
    val cb = graft.operators.Pq.train(spark, emb, m = 8, k = 16)
    graft.operators.Pq.buildCodes(spark, dir, cb)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = census(graft.operators.Pq.probeCompressed(spark, dir, cb, queries, k = 3, nprobe = 1, shortlist = 50))
    val codes = c.scans.filter(scanOf(_, "pq_codes"))
    c.pin(codes.nonEmpty && codes.forall(s => staticFilterOn(s.partitionFilters, "list_id")),
      "the ADC scan must read only the probed lists' code partitions")
    c.pin(c.n[BroadcastHashJoinExec] >= 1, "the query-scale rerank side must broadcast")
  }

  test("q58 pixel resize is scan-local: a typed map, no join, one presentation exchange") {
    val c = census(graft.operators.Multimodal.pixelResizeDeclared(spark, sf))
    c.pin(c.n[MapPartitionsExec] >= 1, "the codec socket must plan as MapPartitions")
    c.pin(c.n[BaseJoinExec] == 0, "resize must not join")
    c.pin(c.exchanges == 1, "only the ORDER BY may exchange — the codec work is per-partition")
  }

  test("q61 domain mix: rates broadcast, gate scan-local — no corpus shuffle, no window") {
    val c = census(graft.operators.TextAnalysis.domainMix(spark, sf))
    c.pin(c.n[BroadcastHashJoinExec] >= 1, "the source-cardinality rate table must broadcast")
    c.pin(c.n[SortMergeJoinExec] == 0, "the corpus must never shuffle for a rate lookup")
    c.pin(c.windows == 0, "the hash gate replaces any window-based exact balance")
  }

  test("q59 cross-modal search broadcasts the text-derived queries; the corpus never shuffles") {
    val c = census(graft.operators.Embed.crossModalSearch(spark, sf))
    c.pin(c.n[BroadcastNestedLoopJoinExec] >= 1, "few-queries×corpus scoring must broadcast the query side")
    c.pin(c.n[ObjectHashAggregateExec] >= 1, "ranking must stay the bounded-heap aggregator")
    c.pin(c.n[SortMergeJoinExec] == 0, "the corpus must never shuffle for a query-scale broadcast")
  }

  test("q62 scaled pairs keep q56's shape: equi-join on list_id, no cartesian, heap-merged top-k") {
    val c = census(graft.operators.Dedup.scaledNearDup(spark, sf))
    c.pin(c.equiJoins.nonEmpty && c.allPairs == 0, "sign-bit blocking exists to avoid the all-pairs product")
    c.pin(c.n[TakeOrderedAndProjectExec] >= 1, "top-k pairs must merge per-partition, not globally sort")
  }

  test("q63 index-backed cross-modal probe prunes the image corpus' list partitions") {
    val c = census(graft.operators.Embed.crossModalIndexSearch(spark, sf))
    val points = c.scans.filter(scanOf(_, "points"))
    c.pin(points.nonEmpty && points.forall(s => staticFilterOn(s.partitionFilters, "list_id")),
      "the probe must read only the routed lists — that is the point of going through the index")
    c.pin(c.n[ObjectHashAggregateExec] >= 1, "ranking must stay the bounded-heap aggregator")
  }

  test("q66 salted join never broadcasts or sorts the salted fact side into a cartesian") {
    val c = census(graft.operators.Skew.saltedJoinDeclared(spark, sf))
    c.pin(c.equiJoins.nonEmpty && c.allPairs == 0, "the salted join must stay an equi-join on (key, salt)")
    c.pin(c.hashAggs >= 1 && c.windows == 0, "the aggregate tail must stay a hash aggregate, no window")
  }

  test("q68 sentence dedup: fingerprint min-aggregate + semi-join, no corpus window, no cartesian") {
    val c = census(graft.operators.TextAnalysis.sentenceDedup(spark, sf))
    c.pin(c.hashAggs >= 1 && c.joinsOfType(LeftSemi) >= 1 && c.allPairs == 0,
      "first-occurrence selection must stay join-shaped")
    c.pin(c.windows == 0,
      "the global first-occurrence must be a min AGGREGATE, not a window over the sentence stream")
  }

  test("q70 fuzzy sentence dedup: hash aggregates + equi-joins only — no cartesian, no window, no sort-agg") {
    val corpus = Tables.documents(spark, sf).select("doc_id", "text")
    val c = census(graft.operators.TextAnalysis.fuzzySentenceDedupOf(corpus))
    c.pin(c.hashAggs >= 1 && c.equiJoins.nonEmpty && c.allPairs == 0,
      "banding must keep candidate generation an equi-join")
    c.pin(c.windows == 0, "first-occurrence and dominance must stay aggregates/joins, no corpus window")
    c.pin(c.sortAggsBeyondSignatures == 0, "the DECIMAL key and band aggregates must stay hash-based")
    // one outer generator splits each doc once: an inner posexplode would
    // infer a size(split(..)) > 0 filter that splits every doc again
    c.pin(c.generators(g => g.isInstanceOf[PosExplode] && g.find(_.isInstanceOf[StringSplit]).isDefined) == 1 &&
      c.evaluating(_.isInstanceOf[StringSplit]).forall(_.isInstanceOf[GenerateExec]),
      "the sentence split must run once per doc, in the one sentence generator")
  }

  test("q92 curation composition inherits every stage's shape: no cartesian, no sort-agg, broadcast gram/cut joins") {
    val c = census(graft.operators.Curation.curationPipeline(spark, sf))
    c.pin(c.n[CartesianProductExec] == 0, "no stage of the composition may degrade to an all-pairs join")
    // the ONLY nested-loop joins allowed are q72's 1-row `total` broadcast
    // cross joins inside the LM scorer (one per terms consumer) — anything
    // beyond that count means a real join degraded to all-pairs
    c.pin(c.n[BroadcastNestedLoopJoinExec] <= 2, "unexpected nested-loop join beyond the 1-row LM total broadcasts")
    c.pin(c.sortAggsBeyondSignatures == 0,
      "the fingerprint/band/gram aggregates must stay hash-based through composition")
    c.pin(c.n[BroadcastHashJoinExec] >= 1,
      "the benchmark gram set and the per-lang cuts must broadcast, not shuffle the corpus")
    // the only windows allowed are q69's per-(lang, shard) pack prefix and
    // q79's rank-free percentile path contributes none — a corpus-global
    // window sneaking into any stage would serialize the pipeline
    c.pin(c.windows + c.n[WindowGroupLimitExec] <= 2, "unexpected window operators in the composition")
  }

  test("q93 span removal: fp-scale shuffles + doc-scale rebuild join — token stream never shuffles, no window") {
    val c = census(graft.operators.TextAnalysis.dupSpanRemove(spark, sf))
    c.pin(c.equiJoins.nonEmpty && c.allPairs == 0, "span marking must stay fingerprint equi-joins")
    c.pin(c.windows + c.n[WindowGroupLimitExec] == 0,
      "removal needs no interval-union window — the covered set aggregates per doc")
    c.pin(c.n[SortAggregateExec] == 0, "fingerprint and covered-set aggregates must stay hash-based")
  }

  test("q94 importance select rides q72's LM shape: vocab broadcasts, token stream never shuffles") {
    val c = census(graft.operators.TextAnalysis.importanceSelect(spark, sf))
    c.pin(c.n[CartesianProductExec] == 0, "the LM tables must join token-to-token")
    c.pin(c.n[BroadcastNestedLoopJoinExec] <= 1, "only the 1-row totals broadcast may nested-loop")
    c.pin(c.n[BroadcastHashJoinExec] >= 1, "the vocab-scale score table must broadcast back to the scan")
    c.pin(c.windows + c.n[WindowGroupLimitExec] == 0, "selection is a filter, not a rank")
  }

  test("q95 bm25: broadcast query cut + heap top-k — the only window is the 12-row qid assignment") {
    val c = census(graft.operators.TextAnalysis.bm25Rank(spark, sf))
    c.pin(c.n[CartesianProductExec] == 0, "scoring must stay token/id equi-joins")
    c.pin(c.n[BroadcastNestedLoopJoinExec] <= 1, "only the 1-row corpus-stats broadcast may nested-loop")
    c.pin(c.n[BroadcastHashJoinExec] >= 1, "the 12-row query-term table must broadcast into the tf stream")
    // ranking is the bounded-heap aggregate, NOT row_number over every
    // scored doc; the one Window allowed is the qid assignment on the
    // 12-row limited query table
    c.pin(c.n[ObjectHashAggregateExec] >= 1 && c.windows + c.n[WindowGroupLimitExec] <= 1,
      "per-query ranking must stay the heap aggregate, not a corpus window")
    c.pin(c.n[TakeOrderedAndProjectExec] >= 1, "the query derivation must be orderBy+limit, not a global sort")
  }

  test("q96 hybrid rrf: both halves keep their audited shapes; fusion adds only query-scale work") {
    val run = probe(graft.operators.Hybrid.hybridRrf(spark, sf))
    val c = run.census
    c.pin(c.n[CartesianProductExec] == 0, "no unbounded cartesian anywhere in the fused plan")
    // allowed nested-loops: the 1-row BM25 stats broadcast + the 4-row
    // query-vector broadcast into the corpus embedding scan (Knn.topK)
    c.pin(c.n[BroadcastNestedLoopJoinExec] <= 2, "only the stats and query-vector broadcasts may nested-loop")
    c.pin(c.n[BroadcastHashJoinExec] >= 1, "the query-term table must broadcast into the tf stream")
    // the shared 12-row workload table materializes to the driver once
    // and replants as a local relation (VERDICT r11 item 5): both halves
    // read in-memory rows — no cached table, no per-half re-derivation
    c.pin(c.n[LocalTableScanExec] >= 2, "both halves must read the driver-materialized workload table")
    c.pin(c.n[InMemoryTableScanExec] == 0, "the workload table must not hold a cache entry (r11 leak fix)")
    // allowed window: ONLY the query-scale (<= queries x 2k rows) fusion
    // ranking — the 12-row qid assignment runs in the separate workload
    // derivation query, and never a corpus window
    run.last.pin(run.last.windows <= 1, "fusion may rank only the joined top lists")
  }

  test("q71 greedy decode is scan-local: the only exchange is the presentation sort") {
    val c = census(graft.operators.TensorOps.greedyDecode(spark, sf))
    c.pin(c.n[BaseJoinExec] == 0, "per-row decode must not join")
    c.pin(c.exchanges == 1 && c.all[ShuffleExchangeExec].forall(_.outputPartitioning.isInstanceOf[RangePartitioning]),
      "decode must be scan-local, only the output ordering may shuffle")
  }

  test("q73 simhash pairs: band equi-join, never an all-pairs XOR scan; heap-merged top-100") {
    val c = census(graft.operators.DedupExtras.simhashNearDup(spark, sf))
    c.pin(c.equiJoins.nonEmpty && c.allPairs == 0, "candidates must form inside band buckets only")
    c.pin(c.n[TakeOrderedAndProjectExec] >= 1, "top-100 must merge per-partition, not globally sort")
    c.pin(c.hashAggs >= 1 && c.windows == 0, "fingerprint votes must stay hash aggregates, no window")
  }

  test("q74 cluster assignment: equi-joins + hash aggregates only over the corpus") {
    val c = census(graft.operators.DupClusters.dupClusters(spark, sf))
    c.pin(c.equiJoins.nonEmpty && c.allPairs == 0, "label and size assignment must stay equi-joins")
    c.pin(c.hashAggs >= 1 && c.windows == 0, "cluster sizes must come from a hash aggregate, not a corpus window")
    // the distributed star rounds, forced: the fixture's pair set is far
    // under the driver-local bound
    val pairs = graft.operators.DedupExtras.minhashVerifiedPairsOf(Tables.documents(spark, sf))
      .select("a_id", "b_id").localCheckpoint(true)
    val rounds = ran(graft.operators.DupClusters.ccWithRounds(pairs, localEdgeBound = 0)._1.collect())
    rounds.pin(rounds.equiJoins.nonEmpty && rounds.hashAggs >= 1 && rounds.allPairs == 0 && rounds.windows == 0,
      "every star round must stay equi-joins + hash aggregates over the pair set")
  }

  test("q75 dup spans: gram count is a hash aggregate; the union window partitions per doc") {
    val c = census(graft.operators.TextAnalysis.dupSpanCoverage(spark, sf))
    c.pin(c.hashAggs >= 1 && c.allPairs == 0, "the duplicated-fingerprint match must stay a semi/equi-join")
    val ws = c.all[WindowExec]
    c.pin(ws.nonEmpty && ws.forall(windowKeyedOn(_, "doc_id")) && c.hashesOn("doc_id").nonEmpty,
      "the interval-union window must partition by doc_id")
    c.pin(ws.forall(w => !below(w).exists {
      case e: ShuffleExchangeExec => e.outputPartitioning == SinglePartition
      case _ => false
    }), "no single-partition exchange may feed the union window")
  }

  test("q76 quota ranks with the bounded-heap aggregator per (lang, source) — not a window") {
    val c = census(graft.operators.TextAnalysis.qualityQuota(spark, sf))
    c.pin(c.n[ObjectHashAggregateExec] >= 1, "per-group top-k must plan as the partial/final heap aggregate")
    c.pin(c.windows == 0, "no row_number window may rank the scored corpus")
  }

  test("q78 bigram assembly is scan-local: no window, no positional self-join, no cartesian") {
    val c = census(graft.operators.TextAnalysis.bigramLogProb(spark, sf))
    c.pin(c.windows == 0, "bigrams must come from the array zipped with its own tail, not a lag window")
    c.pin(c.n[CartesianProductExec] == 0, "the vocab-size scalar must broadcast, never cartesian")
    c.pin(c.hashAggs >= 1, "the per-doc mean must be a map-side-combined hash aggregate")
  }

  test("q79 thresholds are a per-lang aggregate broadcast back — no percent_rank window, no sort") {
    val c = census(graft.operators.TextAnalysis.percentileSelect(spark, sf))
    c.pin(c.windows == 0, "the cut must come from a percentile aggregate, never a percent_rank window")
    c.pin(c.n[BroadcastHashJoinExec] >= 1, "the 5-row threshold table must broadcast back into the scored stream")
    c.pin(c.n[CartesianProductExec] == 0, "no cartesian")
  }

  test("q77 budget windows hash-partition by (lang, shard) — never a global per-lang ordering") {
    val c = census(graft.operators.TextAnalysis.tokenBudgetSelect(spark, sf))
    c.pin(c.hashesOn("lang").nonEmpty, "the running token sum must shuffle by the (lang, shard) group key")
    // the scoring subtree legitimately holds a one-row SinglePartition
    // aggregate (the LM's total token count); the exchange FEEDING the
    // window must be the (lang, shard) hash partitioning.
    val ws = c.all[WindowExec]
    c.pin(ws.nonEmpty && ws.forall(w => feeding(w).exists(firstKey(_, "lang"))),
      "the exchange feeding the budget window must hash by (lang, shard)")
  }

  test("q69 packing windows hash-partition by (lang, shard) — never a single global ordering") {
    val c = census(graft.operators.TextPipeline.packSequences(spark, sf))
    c.pin(c.hashesOn("lang").nonEmpty, "the running sum must shuffle by the (lang, shard) group key")
    // the only allowed single-partition stage is the tiny presentation sort
    val ws = c.all[WindowExec]
    c.pin(ws.nonEmpty && ws.forall(w => !below(w).exists {
      case e: ShuffleExchangeExec => e.outputPartitioning == SinglePartition
      case _ => false
    }), "no single-partition exchange may feed the packing window")
  }

  test("q80 incremental dedup: fingerprint and band matches stay equi-joins") {
    val c = census(graft.operators.Incremental.incrementalDedup(spark, sf))
    // the exact pass keeps every batch doc: a left join on the fingerprint
    c.pin(c.equiJoins.exists(j => j.joinType == LeftOuter && j.leftKeys.exists(_.references.exists(_.name == "fp"))),
      "the exact pass must be a left equi-join on fp")
    c.pin(c.equiJoins.exists(j => Set("band", "bkey").subsetOf(j.leftKeys.flatMap(_.references.map(_.name)).toSet)),
      "the cross-corpus band match must be an equi-join on (band, bkey)")
    c.pin(c.allPairs == 0, "exact pass and cross-corpus band join must stay equi-joins")
    c.pin(c.windows == 0, "no window belongs in the classification path")
  }

  /** Every node of the census that evaluates `regexp_extract_all`, with
    * how many calls it makes per row. A scan's data filters only mirror a
    * Filter above it and are not counted.
    */
  private def tokenizerNodes(c: Census): Seq[(SparkPlan, Int)] =
    c.nodes.filterNot(_.isInstanceOf[FileSourceScanExec])
      .map(n => n -> n.expressions.map(_.collect { case r: RegExpExtractAll => r }.size).sum)
      .filter(_._2 > 0)

  test("shingling runs the tokenizer once per doc: artifact build, verified pairs, both stream carriers") {
    import org.apache.spark.sql.functions.{concat, lit}
    import graft.operators.{DedupExtras, Incremental}
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_tok_art").toString
    // near re-crawls: no exact match, so the near pass keeps its subtree
    val batch = docs.select((col("doc_id") + 3000000).as("doc_id"),
      concat(col("text"), lit(" please subscribe to our newsletter today")).as("text"))
    def classified(bound: Long) = {
      val store = Incremental.storeArtifacts(spark, dir, bound)
      ran(Incremental.classify(batch, store).collect())
    }
    val runs = Seq(
      "buildStoreArtifacts" -> ran(Incremental.buildStoreArtifacts(docs, dir)),
      "minhashVerifiedPairsOf" -> ran(DedupExtras.minhashVerifiedPairsOf(docs)),
      "classify (lookup tables)" -> classified(Long.MaxValue),
      "classify (join frames)" -> classified(0L))
    runs.foreach { case (name, c) =>
      val nodes = tokenizerNodes(c)
      // each shingling subtree tokenizes in its one projection; a Filter
      // pushed below that projection (the `>= 3` cut, or the `size(sh) >
      // 0` an inner explode infers) would tokenize every doc again
      c.pin(nodes.nonEmpty && nodes.forall { case (n, k) => n.isInstanceOf[ProjectExec] && k == 1 },
        s"$name: nodes evaluating regexp_extract_all ${nodes.map { case (n, k) => s"${n.nodeName} x$k" }}, " +
          "want one call in each tokenizing Project")
    }
  }

  test("q83 leakage-safe split: cluster label + side derive with equi-joins, no extra shuffle stage") {
    val c = census(graft.operators.DupClusters.leakageSafeSplit(spark, sf))
    c.pin(c.equiJoins.nonEmpty && c.allPairs == 0, "label assignment must stay an equi-join")
    c.pin(c.windows == 0, "the side gate is scan-local — no window")
  }

  test("q97 knn-classify: heap top-k + broadcast label probe; only the vote window") {
    val c = census(graft.operators.Classify.knnClassify(spark, sf))
    c.pin(c.n[ObjectHashAggregateExec] >= 1, "neighbor ranking must stay the bounded-heap aggregate")
    // exactly one nested-loop: the query-vector broadcast into the corpus
    // scan; the label lookup must be a broadcast HASH join (rank list
    // broadcast against the label scan), never a shuffle
    c.pin(c.n[BroadcastNestedLoopJoinExec] <= 1, "only the query broadcast may nested-loop")
    c.pin(c.n[BroadcastHashJoinExec] >= 1, "the rank-list label probe must broadcast-hash-join")
    c.pin(c.n[SortMergeJoinExec] + c.n[ShuffledHashJoinExec] == 0, "no corpus-side shuffle join anywhere")
    // the vote window partitions by qid over query-scale rows — allowed once
    c.pin(c.windows <= 1, "only the per-qid vote ranking may window")
  }

  test("q98 triplet mining: one scoring pass, one aggregate — no window, no per-end scan") {
    val c = census(graft.operators.Classify.tripletMining(spark, sf))
    c.pin(c.n[SortAggregateExec] + c.hashAggs == 2 && c.windows == 0,
      "both triplet ends come from the conditional max_by pair, not windows")
    c.pin(c.n[BroadcastNestedLoopJoinExec] <= 1, "only the anchor broadcast may nested-loop")
    // scans: the corpus scored pass + the broadcast anchor side + the
    // query-scale keep-anchor side (ADVICE r11 left join) — all three are
    // pruned scans, and the keep-side joins broadcast-hash, never shuffled
    c.pin(c.scans.size <= 3, "the corpus must be scanned once per side, not per triplet end")
    c.pin(c.n[SortMergeJoinExec] + c.n[ShuffledHashJoinExec] == 0,
      "the keep-anchor join must stay broadcast over query-scale rows")
  }

  test("q99 hamming top-k: scan-local pack + heap; no float math joins, no window") {
    val c = census(graft.operators.Ann.hammingTopk(spark, sf))
    c.pin(c.n[ObjectHashAggregateExec] >= 1, "distance ranking must stay the bounded-heap aggregate")
    c.pin(c.windows == 0, "no window in the binary search path")
    c.pin(c.n[BroadcastNestedLoopJoinExec] <= 1, "only the packed-query broadcast may nested-loop")
    c.pin(c.n[SortMergeJoinExec] + c.n[ShuffledHashJoinExec] == 0, "the packed corpus must never shuffle")
  }

  test("q101 kmeans assignment is scan-local: literal centroids, no join, one presentation sort") {
    val run = probe(graft.operators.Cluster.kmeansAssign(spark, sf))
    val c = run.census
    c.pin(c.n[BaseJoinExec] == 0, "the argmin must fold the driver-held centroids as literals, never join")
    val own = run.last
    own.pin(own.exchanges == 1 && own.n[SortExec] == 1,
      "only the ORDER BY vec_id may exchange — assignment itself is per-row")
  }

  test("q102 semdedup pairs stay cluster-blocked: equi-join on cluster, no cartesian") {
    val c = census(graft.operators.Cluster.semdedup(spark, sf))
    c.pin(c.equiJoins.nonEmpty && c.allPairs == 0, "candidate pairs must form only inside a cluster block")
  }

  test("q104 ndcg: heap-ranked IDCG, broadcast rank-list joins, no corpus window") {
    val c = census(graft.operators.Ranking.ndcgEval(spark, sf))
    c.pin(c.n[ObjectHashAggregateExec] >= 1, "both the BM25 ranking and IDCG must use the bounded-heap aggregate")
    c.pin(c.windows == 0, "no corpus-scale window in the evaluation path")
    c.pin(c.n[BroadcastHashJoinExec] >= 1 && c.n[CartesianProductExec] == 0,
      "relevance must come from the broadcast-cut tf stream")
  }

  test("q105 mmr: the greedy unroll runs on local relations — no corpus scan past retrieval") {
    val c = ownCensus(graft.operators.Ranking.mmrDiversify(spark, sf))
    c.pin(c.scans.isEmpty,
      "the MmrSelect−1 unrolled steps must read the localized shortlist, not the corpus")
    c.pin(c.n[LocalTableScanExec] >= 1,
      "candidates and pair-sims must be driver-localized query-scale relations")
  }

  test("q106 perplexity buckets: percentile aggregate + broadcast cuts, no corpus window") {
    val c = census(graft.operators.CorpusStats.perplexityBucket(spark, sf))
    c.pin(c.hashAggs >= 1 && c.windows == 0,
      "tertile cuts must be percentile AGGREGATES, never a percent_rank window")
    c.pin(c.n[BroadcastHashJoinExec] >= 1, "the langs×2 cut table must broadcast back onto the scored stream")
  }

  test("q107 matryoshka: every width scores in one corpus scan, ranks by bounded heap") {
    val c = census(graft.operators.Audit.matryoshkaRecall(spark, sf))
    c.pin(c.n[ObjectHashAggregateExec] >= 1, "per-(query, width) ranking must be the bounded-heap aggregate")
    c.pin(c.windows == 0, "no window in the recall path")
    // scored pass + query broadcast for the checkpointed tops, and past
    // them only the dense-grid query list: the corpus is never rescanned
    // per width
    c.pin(c.scans.size <= 3,
      s"all ${graft.operators.Audit.MatryoshkaDims.size} widths must share one scored scan")
  }

  test("q108 lsh audit: the corpus-scale banding stays an equi-join; quadratic work is sample-only") {
    val c = census(graft.operators.Audit.lshAudit(spark, sf))
    c.pin(c.equiJoins.exists(j => Set("band", "bkey").subsetOf(j.leftKeys.flatMap(_.references.map(_.name)).toSet)),
      "banding candidates must come from the (band, bkey) equi-join")
    c.pin(c.hashAggs >= 1 && c.n[CartesianProductExec] == 0,
      "the metric joins over checkpointed pair sets must stay equi-joins")
    // nested loops: the sample's a_id < b_id truth join and the two 1-row
    // metric cross joins — none in the banding
    c.pin(c.n[BroadcastNestedLoopJoinExec] <= 3, "only the sample truth join and the 1-row metric joins may nested-loop")
  }

  test("q109 zipf: the spectrum cut is TakeOrderedAndProject, the rank needs no window") {
    val c = census(graft.operators.CorpusStats.zipfSlope(spark, sf))
    c.pin(c.n[TakeOrderedAndProjectExec] >= 1, "top-N types must use per-partition heaps, never a global sort")
    c.pin(c.windows == 0, "ranking the N survivors must fold via sort_array, not a window")
  }

  test("q110 pagerank: each iteration is one equi-join + one hash agg over checkpointed edges") {
    import graft.operators.{OverlapGraph, TextAnalysis}
    // the distributed rounds, forced: the fixture's edge list is far under
    // the driver-local bound
    val matches = TextAnalysis.winnowMatchesOf(Tables.documents(spark, sf), minShared = OverlapGraph.PrMinShared)
      .localCheckpoint(true)
    val run = probe(OverlapGraph.pagerankOverEdges(matches, localEdgeBound = 0))
    val c = run.census
    val rounds = run.plans.map(p => new Census(Seq(p))).filter(_.equiJoins.nonEmpty)
    c.pin(rounds.size >= OverlapGraph.PrIters &&
      rounds.takeRight(OverlapGraph.PrIters).forall(r => r.equiJoins.size == 1 && r.hashAggs == 2),
      "each iteration must be one equi-join and one (partial + final) hash aggregate")
    c.pin(c.windows == 0 && c.allPairs == 0, "no window or all-pairs join in the fixed point")
    // the iteration frames are checkpointed (the q74 per-round
    // discipline) — the final plan must read the last round's checkpoint,
    // not re-execute the fingerprint pipeline
    val last = run.last
    last.pin(last.scans.isEmpty && last.n[RDDScanExec] >= 1,
      "the presentation cut must rank the checkpointed fixed point, not rescan")
    last.pin(last.n[TakeOrderedAndProjectExec] == 1, "the top-N hub cut must be heap-based")
  }

  test("q111 containment: bounded inverted index — no cartesian, no self-join fanout") {
    val docs = Tables.documents(spark, sf)
    val c = census(graft.operators.DedupExtras.containmentPairsOf(
      graft.operators.DedupExtras.shingleSetsOf(docs)))
    c.pin(c.n[BaseJoinExec] == 0, "pairs must explode from the bounded sets — never a shingle self-join")
    c.pin(c.n[ObjectHashAggregateExec] >= 1, "the bounded-distinct UDAF is the inverted index's aggregation")
    c.pin(c.windows == 0, "no window")
    val df = graft.operators.DedupExtras.containmentDedupOf(docs)
    assert(df.columns.toSeq == Seq("a_id", "b_id", "cont_a", "cont_b", "cmax"))
  }

  test("q112 diversity: scan-local gram assembly, two-level hash agg, no window") {
    val c = census(graft.operators.CorpusStats.ngramDiversity(spark, sf))
    c.pin(c.windows == 0, "no window in the diversity report")
    c.pin(c.n[BaseJoinExec] == 0, "gram assembly must be scan-local, never a positional join")
    c.pin(c.hashAggs >= 2, "type counting must hash-aggregate")
  }

  test("q113 funnel: per-stage aggregates + anchor equi-joins — no window, no sequence collect") {
    val c = census(graft.operators.Behavior.funnelSteps(spark, sf))
    c.pin(c.hashAggs >= 1 && c.windows == 0, "stage anchors are MIN aggregates, never a window over the stream")
    c.pin(c.evaluating(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.CollectList]).isEmpty,
      "the windowed formulation needs no per-user sequence materialization")
    c.pin(c.equiJoins.nonEmpty && c.n[CartesianProductExec] == 0, "stage joins are equi-joins on user_id")
  }

  test("q114 rfm: one user aggregate, broadcast cuts, scan-side scoring — no window") {
    val c = census(graft.operators.Behavior.rfmSegments(spark, sf))
    c.pin(c.hashAggs >= 1 && c.windows == 0,
      "quintile scores come from percentile aggregates, never ntile windows")
    c.pin(c.n[BroadcastNestedLoopJoinExec] + c.n[BroadcastHashJoinExec] >= 1,
      "the 12-value cut row must broadcast back onto the user frame")
  }

  test("q115 pmi: scan-local pair assembly, type-scale joins, heap-based cut") {
    val c = census(graft.operators.CorpusStats.pmiCooccur(spark, sf))
    c.pin(c.windows == 0, "no window anywhere in the collocation path")
    c.pin(c.n[CartesianProductExec] == 0,
      "pair assembly must be the slice+zip scan-local idiom, never a positional self-join")
    c.pin(c.n[BroadcastHashJoinExec] >= 1, "the unigram type table must broadcast onto the pair-type stream")
    c.pin(c.n[TakeOrderedAndProjectExec] >= 1, "the top-N cut must be per-partition heaps, never a global sort")
  }

  test("q117 mad: three type-keyed aggregates, broadcast med/mad, no window") {
    val c = census(graft.operators.Analytics.madOutliers(spark, sf))
    c.pin(c.hashAggs >= 3 && c.windows == 0, "medians are percentile AGGREGATES, never a median() window")
    c.pin(c.n[BroadcastHashJoinExec] >= 1, "the type-scale med/mad tables must broadcast back onto the stream")
    c.pin(c.n[SortMergeJoinExec] + c.n[CartesianProductExec] == 0, "no corpus-side shuffle join anywhere")
  }

  test("q125 ql: postings-side match sum, doc-scale prior, heap top-k, no window") {
    val c = census(graft.operators.TextAnalysis.qlRank(spark, sf))
    c.pin(c.windows == 0, "no window")
    c.pin(c.n[CartesianProductExec] == 0, "the query model broadcasts — never a product")
    c.pin(c.n[ObjectHashAggregateExec] >= 1, "ranking must be the bounded-heap TopK aggregate")
  }

  test("q122/q123: the lag window hash-partitions by user — never a global ordering") {
    for (df <- Seq(() => graft.operators.Behavior.eventTransitions(spark, sf),
      () => graft.operators.Behavior.interarrivalStats(spark, sf))) {
      val c = census(df())
      val ws = c.all[WindowExec]
      c.pin(ws.nonEmpty && ws.forall(w => windowKeyedOn(w, "user_id") && feeding(w).exists(firstKey(_, "user_id"))),
        "the consecutive-pair window must partition per user (the q28 discipline)")
      c.pin(c.singlePartitionShuffles.isEmpty, "no stage may collapse the stream to one partition")
      c.pin(c.n[CartesianProductExec] == 0, "no cartesian")
    }
  }

  test("q127 bias audit: decision-scale removal join, no text shuffle, no window") {
    val c = census(graft.operators.DedupExtras.dedupBiasAudit(spark, sf))
    c.pin(c.windows == 0, "no window")
    c.pin(c.equiJoins.nonEmpty && c.n[CartesianProductExec] == 0,
      "the q16 pair machinery stays banded — never all-pairs")
  }

  test("q121 rm3: both rounds keep the q95 shape — broadcast cuts, heap top-k, no window") {
    val c = census(graft.operators.TextAnalysis.rm3Rank(spark, sf))
    c.pin(c.windows == 0,
      "round-1 rank, expansion selection, and round-2 rank must all avoid windows")
    c.pin(c.n[CartesianProductExec] == 0, "query-scale tables broadcast — never a product")
    c.pin(c.n[ObjectHashAggregateExec] >= 2, "both ranking rounds must use the bounded-heap TopK aggregate")
  }

  test("q120 bursts: bucket-table derivation, broadcast rates, no window") {
    val c = census(graft.operators.Analytics.rateBursts(spark, sf))
    c.pin(c.hashAggs >= 1 && c.windows == 0, "hour bucketing is a projection + aggregate, never a window")
    c.pin(c.n[CartesianProductExec] == 0, "no cartesian")
    c.pin(c.n[BroadcastHashJoinExec] >= 1, "the type-scale rate table must broadcast back onto the bucket table")
  }

  test("q119 isotropy: the all-pairs statistic rides the sum identity — no pair join") {
    val c = census(graft.operators.Analytics.isotropyReport(spark, sf))
    c.pin(c.windows == 0, "no window")
    c.pin(c.hashAggs >= 1 && c.allPairs == 0,
      "mean pairwise cosine must come from the closed-form vector sum, never a pair join")
    c.pin(c.generators(_.isInstanceOf[PosExplode]) == 1, "one (label, dim) unit-component stream")
  }

  test("q156 z-order: scan-local bit math, no shuffle before the file-stats aggregate") {
    val c = census(graft.operators.Layout.zorderLayout(spark, sf))
    c.pin(c.windows == 0, "no window")
    c.pin(c.hashAggs >= 1 && c.exchanges <= 2,
      "one aggregate exchange (plus the presentation sort) — the z code must compute in the scan")
    c.pin(c.n[BaseJoinExec] == 0, "no join anywhere")
  }

  test("q157 compaction: the prefix-sum window partitions by source, never globally") {
    val c = census(graft.operators.Layout.compactionPlan(spark, sf))
    val ws = c.all[WindowExec]
    c.pin(ws.nonEmpty, "the prefix sum is a window")
    c.pin(ws.forall(w => windowKeyedOn(w, "source")) && c.hashesOn("source").nonEmpty,
      "the window must partition by source — a global window is one reducer at any scale")
  }

  test("q161 quantile sketch: cells come off one scan; only the audit sorts") {
    val c = census(graft.operators.Sketch.quantileSketch(spark, sf))
    c.pin(c.n[CartesianProductExec] == 0, "no cartesian (the 3-quantile probe broadcasts)")
    // the sketch side must partial-aggregate map-side: a HashAggregate pair
    // around the cell exchange
    c.pin(c.hashAggs >= 2, "cell counts must map-side combine")
  }

  test("q164 cdc: chunking is scan-local — the only exchange feeds the final sort") {
    val c = census(graft.operators.Cdc.cdcChunking(spark, sf))
    c.pin(c.evaluating(_.prettyName == "graft_cdc_cuts").nonEmpty,
      "the boundary scan must be the native expression, not the HOF chain")
    c.pin(c.n[BaseJoinExec] == 0, "no join in the per-doc summary")
    c.pin(c.exchanges <= 2, "scan-local chunking")
  }

  test("q158 outliers: stat arrays broadcast, scoring is a scan-local fold — no pair join") {
    val c = census(graft.operators.Analytics.embeddingOutliers(spark, sf))
    c.pin(c.n[BroadcastHashJoinExec] >= 1, "the label-stat arrays must broadcast onto the corpus scan")
    c.pin(c.allPairs == 0, "no pair join anywhere in the scoring path")
    c.pin(c.generators(_.isInstanceOf[PosExplode]) == 1, "only the stats pass explodes; scoring stays a zip_with fold")
  }

  test("q128 domain-kl: vocab-scale joins, broadcast totals, no window") {
    val c = census(graft.operators.CorpusStats.domainKl(spark, sf))
    c.pin(c.windows == 0, "no window")
    c.pin(c.n[CartesianProductExec] == 0, "no cartesian")
    c.pin(c.n[BroadcastHashJoinExec] >= 1, "the source-totals table must broadcast back onto the vocab stream")
  }

  test("q129 pps sample: broadcast weight totals, scan-side integer gate — no window, no sort of the corpus") {
    val c = census(graft.operators.Sampling.ppsSample(spark, sf))
    c.pin(c.windows == 0, "no window")
    c.pin(c.n[BroadcastHashJoinExec] >= 1, "the lang-scale weight table must broadcast")
    c.pin(c.n[CartesianProductExec] == 0, "no cartesian")
  }

  test("q130 funnel: one token aggregate, literal-unrolled stages — no join, no window") {
    val c = census(graft.operators.Quality.filterFunnel(spark, sf))
    c.pin(c.hashAggs >= 1 && c.n[BaseJoinExec] == 0, "the funnel needs no join anywhere")
    c.pin(c.windows == 0, "the cumulative stage counts unroll as literals, never a window")
  }

  test("q131 fuzzy link: the fixed probe list broadcasts into a nested-loop scan") {
    val c = census(graft.operators.Gazetteer.fuzzyLink(spark, sf))
    c.pin(c.n[BroadcastNestedLoopJoinExec] >= 1,
      "the non-equi distance predicate must evaluate scan-side against broadcast probes")
    c.pin(c.n[CartesianProductExec] == 0, "never an unbroadcast product")
    c.pin(c.windows == 0, "the argmin is an integer min aggregate, not a rank window")
  }

  test("q132 power iteration: two bounded jobs, dim-scale localized result — no corpus join") {
    // construction runs the two Lloyd-style passes (each one corpus scan
    // ending in a dim-scale collect); the returned frame is the localized
    // report, so no consumer can ever re-trigger the corpus work
    val run = probe(graft.operators.Analytics.powerIteration(spark, sf))
    val c = run.census
    c.pin(c.n[BaseJoinExec] == 0 && c.windows == 0, "no corpus join and no window in either pass")
    val last = run.last
    last.pin(last.n[LocalTableScanExec] == 1 && last.scans.isEmpty && last.n[BaseJoinExec] + last.windows == 0,
      "nothing distributed may remain in the report plan: the dim-scale report must be localized")
  }

  test("q133 cluster keywords: the rank window partitions by cluster; totals broadcast") {
    val c = census(graft.operators.Cluster.clusterKeywords(spark, sf))
    val ws = c.all[WindowExec]
    c.pin(ws.nonEmpty && ws.forall(windowKeyedOn(_, "cluster")) && c.hashesOn("cluster").nonEmpty,
      "the keyword rank must partition per cluster — never a global window")
    c.pin(ws.forall(w => feeding(w).exists(firstKey(_, "cluster"))),
      "the exchange feeding the rank must hash by cluster, never collapse the type stream to one partition")
    c.pin(c.n[BroadcastHashJoinExec] >= 2, "cluster totals and the term table join broadcast at this scale")
  }

  test("q134 rank correlation: the prefix sum is two-level — bucket-partitioned window, no global ordering") {
    val c = census(graft.operators.Quality.scoreRankCorr(spark, sf))
    val ws = c.all[WindowExec]
    c.pin(ws.nonEmpty && ws.exists(windowKeyedOn(_, "bk")) && c.hashesOn("bk").nonEmpty,
      "the value-grid cumulative must partition by bucket (the MPP prefix-sum shape)")
    c.pin(c.n[CartesianProductExec] == 0, "no cartesian")
    c.pin(c.n[BroadcastHashJoinExec] >= 2, "both value-scale rank maps must broadcast back onto the scored stream")
  }

  test("q135 key skew audit: two hash aggregates, nothing else") {
    val c = census(graft.operators.Skew.keySkewAudit(spark, sf))
    c.pin(c.hashAggs >= 2, "the audit is two hash aggregates")
    c.pin(c.n[BaseJoinExec] == 0, "the audit needs no join")
    c.pin(c.windows == 0, "no window")
  }

  test("q136 late events: the high-water-mark window hash-partitions by user") {
    val c = census(graft.operators.Behavior.lateEventAudit(spark, sf))
    val ws = c.all[WindowExec]
    c.pin(ws.nonEmpty && ws.forall(w => windowKeyedOn(w, "user_id") && feeding(w).exists(firstKey(_, "user_id"))),
      "the running max must partition per user (the q28/q122 discipline)")
    c.pin(c.singlePartitionShuffles.isEmpty, "no stage may collapse the stream to one partition")
    c.pin(c.n[CartesianProductExec] == 0, "no cartesian")
  }

  test("q137 range search: broadcast queries, scan-side cut — no heap, no window") {
    val c = census(Knn.rangeSearch(spark, sf))
    c.pin(c.n[BroadcastNestedLoopJoinExec] >= 1, "queries broadcast against the streaming corpus")
    c.pin(c.hashAggs == 0 && c.windows == 0, "a radius query has no ranking reduce at all — filter and emit")
  }

  test("q138 recommend: scan-side example exclusion, bounded-heap ranking") {
    val c = census(Knn.recommendMulti(spark, sf))
    c.pin(c.n[ObjectHashAggregateExec] >= 1, "ranking must use the bounded-heap TopK aggregate")
    c.pin(c.evaluating(_.isInstanceOf[ArrayContains]).nonEmpty,
      "example exclusion evaluates scan-side against the inlined id list")
    c.pin(c.windows == 0, "no window")
  }

  test("q139 novelty: gram-type anti-join, never a positional self-join") {
    val c = census(graft.operators.CorpusStats.ngramNovelty(spark, sf))
    c.pin(c.joinsOfType(LeftAnti) >= 1, "novel grams come from a type-scale anti-join")
    c.pin(c.n[CartesianProductExec] == 0, "no cartesian")
    c.pin(c.windows == 0, "no window")
  }

  test("q140 histogram: broadcast bounds, integer scan-side bucketing") {
    val c = census(graft.operators.Analytics.valueHistogram(spark, sf))
    c.pin(c.n[BroadcastHashJoinExec] >= 1, "the type-scale min/max table must broadcast back")
    c.pin(c.windows == 0, "no window")
  }

  test("q141 shard balance: scan-local assignment, two aggregates, nothing else") {
    val c = census(graft.operators.ShardShuffle.shardBalance(spark, sf))
    c.pin(c.hashAggs >= 2, "two aggregates")
    c.pin(c.n[BaseJoinExec] == 0, "the audit needs no join")
    c.pin(c.windows == 0, "no window")
  }

  test("q142 calibration: q97's scan shape, query-scale vote window only") {
    val c = census(graft.operators.Classify.knnCalibration(spark, sf))
    c.pin(c.n[ObjectHashAggregateExec] >= 1, "the k-NN rank must use the bounded heap")
    val ws = c.all[WindowExec]
    c.pin(ws.nonEmpty && ws.forall(windowKeyedOn(_, "qid")) && c.hashesOn("qid").nonEmpty,
      "the vote window partitions per query")
    c.pin(c.n[CartesianProductExec] == 0, "no unbroadcast product")
  }

  test("q143 k-anonymity: two aggregates over class keys, nothing corpus-scale past the first") {
    val c = census(graft.operators.Quality.privacyKanon(spark, sf))
    c.pin(c.hashAggs >= 2, "two aggregates over class keys")
    c.pin(c.n[BaseJoinExec] == 0, "no join")
    c.pin(c.windows == 0, "no window")
    // length bucket must reach the scan as a projection, not a shuffle key surprise
    c.pin(c.scans.nonEmpty && c.scans.forall(_.requiredSchema.fieldNames.toSet.subsetOf(Set("lang", "source", "n_chars"))),
      "only the three quasi-identifier columns scan")
  }

  test("q144 calibration: two bounded wide aggregates, localized dim-scale report") {
    val run = probe(graft.operators.Quantize.quantCalibrate(spark, sf))
    val c = run.census
    c.pin(c.hashAggs >= 2 && c.n[BaseJoinExec] == 0 && c.windows == 0,
      "two wide aggregates, no join, no window")
    val last = run.last
    last.pin(last.n[LocalTableScanExec] == 1 && last.scans.isEmpty && last.n[BaseJoinExec] + last.windows == 0,
      "nothing distributed may remain in the report plan: the dim-scale report must be localized")
  }

  test("q145 confusion: q19's broadcast-profile shape plus decision-scale joins only") {
    val c = census(graft.operators.TextAnalysis.langidConfusion(spark, sf))
    val ws = c.all[WindowExec]
    c.pin(ws.nonEmpty && ws.forall(windowKeyedOn(_, "doc_id")) && c.hashesOn("doc_id").nonEmpty,
      "the argmax window partitions per doc (the q19 shape)")
    c.pin(c.n[CartesianProductExec] == 0, "no cartesian")
    c.pin(c.n[BroadcastHashJoinExec] >= 2, "profile dim and row totals broadcast")
  }

  test("q146 shipping priority: pushed date filters, broadcast dims, heap top-10") {
    val c = census(Relational.shippingPriority(spark, sf))
    val dated = Seq("orders" -> "o_orderdate", "lineitem" -> "l_shipdate")
    c.pin(dated.forall { case (t, d) =>
      val ss = c.scans.filter(scanOf(_, t))
      ss.nonEmpty && ss.forall(s => staticFilterOn(s.dataFilters, d))
    }, "the date cuts must reach the scans")
    c.pin(c.n[BroadcastHashJoinExec] >= 1, "the segment dim must broadcast")
    c.pin(c.n[TakeOrderedAndProjectExec] == 1, "top-10 must compile to TakeOrderedAndProject, never a global sort")
  }

  test("q148 semdedup scaled: orthant-blocked equi-join pairs, never a cartesian") {
    // target 100 so the fixture splits into 2^b > 1 orthants — the declared
    // target (500) sits at the b=0 single-block floor at sf0.001, where the
    // cluster key folds to a literal and the window pin would be vacuous
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val c = census(graft.operators.Cluster.semdedupScaledOf(emb, targetBlockRows = 100))
    c.pin(c.equiJoins.nonEmpty && c.n[CartesianProductExec] == 0,
      "pairs form only inside sign-bit blocks — an equi-join on cluster")
    val ws = c.all[WindowExec]
    c.pin(ws.nonEmpty && ws.forall(windowKeyedOn(_, "cluster")) && c.hashesOn("cluster").nonEmpty,
      "the redundancy rank windows partition per block")
  }

  test("q149 local supplier volume: one fact scan, broadcast dims, pushed date window") {
    val c = census(Relational.localSupplierVolume(spark, sf))
    c.pin(c.scans.size >= 5, "six-table star")
    c.pin(c.n[CartesianProductExec] == 0, "no cartesian")
    // the customer join carries NO broadcast hint (VERDICT r13 item 1) —
    // this pin proves the planner still picks broadcast BY SIZE at fixture
    // scale, while a 100×-scale customer can fall back to a custkey shuffle
    c.pin(c.n[BroadcastHashJoinExec] >= 3,
      "supplier/nation/customer dims broadcast by size — the fact never shuffles twice")
    val orders = c.scans.filter(scanOf(_, "orders"))
    c.pin(orders.nonEmpty && orders.forall(s => staticFilterOn(s.dataFilters, "o_orderdate")),
      "the order-date window must reach the orders scan")
  }

  test("q159 volume shipping: pushed ship-date window, broadcast supplier bloc, AQE-arbitrated customer") {
    val c = census(Relational.volumeShipping(spark, sf))
    c.pin(c.n[CartesianProductExec] == 0, "no cartesian")
    val lineitem = c.scans.filter(scanOf(_, "lineitem"))
    c.pin(lineitem.nonEmpty && lineitem.forall(s => staticFilterOn(s.dataFilters, "l_shipdate")),
      "the ship-date window must reach the lineitem scan")
    // customer carries NO hint (the q149 lesson): this pin proves the
    // planner still broadcasts it BY SIZE at fixture scale
    c.pin(c.n[BroadcastHashJoinExec] >= 3, "supplier bloc + customer side broadcast by size at fixture scale")
    c.pin(c.n[SortMergeJoinExec] + c.n[ShuffledHashJoinExec] <= 1, "at most the orderkey fact-fact join may shuffle")
  }

  test("q152 serving: ranks from tf artifact + index points, corpus text never in the serving plan") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = graft.operators.Serving.buildServingArtifacts(spark, docs)
    val c = census(graft.operators.Serving.servedFused(spark, dir))
    c.pin(c.scans.exists(scanOf(_, "tf.parquet")), "the lexical half must rank from the persisted tf artifact")
    c.pin(c.scans.exists(scanOf(_, "/index/points")), "the vector half must read the persisted index layout")
    c.pin(!c.scans.exists(scanOf(_, "documents.parquet")), "corpus text must never appear in the serving plan")
  }

  test("q147 dedup inflation: fingerprint-keyed join, text never shuffles, no window") {
    val c = census(graft.operators.TextAnalysis.tokenDedupInflation(spark, sf))
    c.pin(c.windows == 0, "no window")
    c.pin(c.equiJoins.nonEmpty && c.n[CartesianProductExec] == 0, "no cartesian")
    // text reduces to (md5, token count) inside the scan-side projection:
    // no exchange may partition on or carry raw text
    c.pin(c.all[ShuffleExchangeExec].forall(e => !e.output.exists(_.name == "text")),
      "shuffles carry the 16-byte fingerprint, never text")
  }

  test("q171 skyline: no unpartitioned window — every windowspec is bucket-keyed") {
    val c = census(graft.operators.Skyline.skylineParts(spark, sf))
    val ws = c.all[WindowExec]
    c.pin(ws.nonEmpty, "the within-bucket prefix must plan as a window")
    c.pin(ws.forall(windowKeyedOn(_, "bk")),
      "the sweep window must PARTITION by the price bucket, never order globally")
  }

  test("q173 small-qty revenue: decorrelated aggregate joins back — no cartesian, no per-row re-scan") {
    val c = census(Relational.smallQtyRevenue(spark, sf))
    c.pin(c.allPairs == 0, "the correlated subquery must decorrelate to an equi-join")
    c.pin(c.n[BroadcastHashJoinExec] >= 2,
      "brand scope AND the per-part aggregate join broadcast at fixture scale " +
        "(the aggregate carries no pinned hint — AQE arbitrates by size)")
    c.pin(c.scans.size <= 4,
      "two brand-scoped passes over (lineitem, part) — never a per-row subquery re-scan")
  }

  test("q174 big-order customers: having-aggregate joins broadcast, top-100 merges per-partition") {
    val c = census(Relational.bigOrderCustomers(spark, sf))
    c.pin(c.n[CartesianProductExec] == 0, "no cartesian")
    c.pin(c.n[TakeOrderedAndProjectExec] == 1, "top-100 must compile to TakeOrderedAndProject, not Sort+Limit")
    c.pin(c.n[BroadcastHashJoinExec] >= 2,
      "the post-having aggregate (no pinned hint) and the order rows broadcast by size")
  }

  test("q175 idle-rich customers: one-row threshold broadcasts, NOT EXISTS plans as LeftAnti") {
    val c = census(Relational.idleRichCustomers(spark, sf))
    c.pin(c.n[CartesianProductExec] == 0, "the scalar subquery must broadcast, not cartesian")
    c.pin(c.n[BroadcastNestedLoopJoinExec] >= 1,
      "the (sum, count) threshold row joins as a broadcast nested loop — one row, zero shuffle")
    c.pin(c.joinsOfType(LeftAnti) >= 1, "NOT EXISTS must decorrelate to an anti join")
  }

  test("q177 skyline 3d: bucket-keyed front window, scan-local carry-in test, one bucket-keyed anti join") {
    val c = census(graft.operators.Skyline.skyline3Parts(spark, sf))
    val ws = c.all[WindowExec]
    c.pin(ws.nonEmpty, "the per-bucket (y,z) front must plan as a window")
    c.pin(ws.forall(windowKeyedOn(_, "bk")), "the front window must PARTITION by the x bucket, never order globally")
    // the cross-bucket test must be an EQUI join on the bucket key plus a
    // scan-local array test — never an inequality join (the r15 form's
    // broadcast f_bk < bk anti-join planned as a nested loop, making
    // bucket count a cross-side cost and capping block fineness)
    c.pin(c.allPairs == 0,
      "no inequality/nested-loop join anywhere — carry-in made the cross test an equi join")
    c.pin(c.evaluating(_.isInstanceOf[ArrayExists]).nonEmpty,
      "the carry-in dominance test must be the scan-local exists")
    c.pin(c.equiJoins.count(_.joinType == LeftAnti) >= 1, "the same-bucket pair test plans as a bucket-keyed anti join")
  }

  test("q178 promo-stock suppliers: one fact-scale aggregate, part scope is a semi-join, no re-scan") {
    val c = census(Relational.promoStockSuppliers(spark, sf))
    c.pin(c.hashAggs >= 1 && c.allPairs == 0, "the nested IN must decorrelate to equi-joins")
    c.pin(c.joinsOfType(LeftSemi) >= 1, "the part scope must plan as a semi-join")
    c.pin(c.scans.size <= 5,
      "one pass over each of (lineitem, part, supplier, nation, region) — never a per-supplier re-scan")
  }

  test("q163 audit arm: both stratum filters sit scan-side, ahead of the exact join") {
    val c = census(Relational.joinCardinality(spark, sf))
    val gates = c.all[FilterExec].filter(_.condition.find {
      case v: Conv => v.children.head.find(_.isInstanceOf[Md5]).isDefined
      case _ => false
    }.isDefined)
    c.pin(c.equiJoins.nonEmpty && gates.size >= 2,
      "the md5 stratum gate must filter BOTH fact sides before the audit join")
  }

  test("q116 gazetteer: hit-scale explode, no join, no window") {
    val c = census(graft.operators.Gazetteer.entityTag(spark, sf))
    c.pin(c.n[BaseJoinExec] == 0,
      "the inlined dictionary matches scan-side — no terms-table join at this size")
    c.pin(c.windows == 0, "no window")
    // the scan-side filter must precede the explode: the generator's input
    // is the FILTERED array (hit-scale), not the raw token array
    c.pin(c.evaluating(_.isInstanceOf[ArrayContains]).nonEmpty,
      "set membership must be the codegen'd array_contains")
    c.pin(c.generators(_.isInstanceOf[Explode]) == 1, "exactly one hit-scale generator")
  }
}
