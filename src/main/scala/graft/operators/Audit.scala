package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions

/** Quality audits for the engine's LOSSY stages — the rows an operator
  * team watches to know a compression knob is safe to turn. q64 audits
  * the IVF probe, q103 the clustering, q104 the lexical ranking; these
  * two close the remaining gaps: q107 measures what truncating the
  * embedding dimension costs retrieval (the Matryoshka trade), and q108
  * measures what the MinHash BANDING stage misses against exact Jaccard
  * ground truth (the S-curve, observed on live data rather than assumed).
  */
object Audit {

  /** Prefix widths scored by q107 (the full fixture width last — its
    * recall-1.0 row is the in-band sanity anchor).
    */
  val MatryoshkaDims = Seq(8, 16, 32, 64)

  /** Queries and depth, the q64 audit conventions. */
  val MatryoshkaQueries = 20
  val MatryoshkaK = 5

  /** q107_matryoshka_recall — PREFIX-DIMENSION RECALL audit (Kusupati et
    * al., NeurIPS'22): recall@[[MatryoshkaK]] of exact cosine search over
    * each embedding PREFIX width in [[MatryoshkaDims]], scored against
    * the full-width exact top-k. This is the measurement behind the
    * Matryoshka deployment decision — "serve the first d components and
    * keep X% of retrieval quality" — the storage/compute knob (a d=16
    * prefix scan reads 1/4 of the vector bytes) the quantization ladder
    * (q49 int8, q57 PQ, q99 1-bit) does not cover: truncation, not
    * discretization. Like q64 the audit is EXACT on both sides, so it
    * runs under the full hash gate (no seeded index build involved).
    *
    * 100 TB: ONE corpus scan computes every width's score — the k prefix
    * cosines are scan-local projections of the same row (a prefix dot is
    * a subterm of the full dot; at serving time a d-width deployment
    * reads d components and this plan reads them once) — and each
    * (query, width) reduces through the bounded-heap TopK: corpus never
    * shuffles, queries broadcast, the recall join and the dense
    * (query × width) grid are audit-scale. Widths above the stored
    * dimension clamp to it (slice past the end is the full vector).
    */
  def matryoshkaRecall(spark: SparkSession, sfDir: String): DataFrame =
    matryoshkaRecallOf(Tables.embeddings(spark, sfDir))

  /** The per-(query, width) prefix top-k — the ONE-SCAN stage whose plan
    * carries q107's scale claim (the recall arithmetic downstream runs
    * over its audit-scale checkpoint).
    */
  private[graft] def prefixTopsOf(emb: DataFrame): DataFrame = {
    GraftFunctions.ensureRegistered(emb.sparkSession)
    val queries = emb.filter(col("vec_id") < MatryoshkaQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def prefixScore(d: Int): Column =
      round(GraftFunctions.cosine(
        slice(col("qvec"), 1, d), slice(col("embedding"), 1, d)), 6)
    val scored = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(queries))
      .select(col("qid"), col("vec_id"),
        posexplode(array(MatryoshkaDims.map(d =>
          struct(lit(d.toLong).as("dim"), prefixScore(d).as("score"))): _*)))
      .select(col("qid"), col("vec_id"),
        col("col.dim").as("dim"), col("col.score").as("score"))
    val tk = TopK.topKUdaf(MatryoshkaK)
    scored
      .groupBy(col("qid"), col("dim"))
      .agg(tk(col("vec_id"), col("score")).as("top"))
      .select(col("qid"), col("dim"), explode(col("top")).as("s"))
      .select(col("qid"), col("dim"), col("s.id").as("vec_id"))
  }

  /** Composable core for ANY (vec_id, embedding, …) collection. */
  def matryoshkaRecallOf(emb: DataFrame): DataFrame = {
    val fullDim = MatryoshkaDims.max
    val queries = emb.filter(col("vec_id") < MatryoshkaQueries)
      .select(col("vec_id").as("qid"))
    // (queries × widths × k)-scale; checkpointed because it feeds both
    // the exact baseline and the hit join
    val tops = prefixTopsOf(emb).localCheckpoint(true)
    val exact = tops.filter(col("dim") === fullDim)
      .select(col("qid"), col("vec_id"))
    val hits = tops
      .join(exact, Seq("qid", "vec_id"))
      .groupBy(col("qid"), col("dim")).agg(count(lit(1)).as("hits"))
    // dense (query × width) grid: a width whose prefix top-k shares NO
    // member with the exact set must still average in as zero (the q64
    // dense-grid discipline)
    import emb.sparkSession.implicits._
    queries.select(col("qid"))
      .crossJoin(MatryoshkaDims.map(_.toLong).toDF("dim"))
      .join(hits, Seq("qid", "dim"), "left")
      .groupBy(col("dim"))
      .agg(round(avg(coalesce(col("hits"), lit(0L)) / lit(MatryoshkaK.toDouble)), 6)
        .as("recall"))
      .orderBy(col("dim"))
  }

  val q107OracleSql: String = {
    def cosSliceSql(d: String) =
      s"""round(CASE WHEN sqrt(list_dot_product(list_slice(q.qvec, 1, $d), list_slice(q.qvec, 1, $d)))
         |           * sqrt(list_dot_product(list_slice(c.vec, 1, $d), list_slice(c.vec, 1, $d))) = 0
         |      THEN 0.0
         |      ELSE list_dot_product(list_slice(q.qvec, 1, $d), list_slice(c.vec, 1, $d))
         |           / (sqrt(list_dot_product(list_slice(q.qvec, 1, $d), list_slice(q.qvec, 1, $d)))
         |              * sqrt(list_dot_product(list_slice(c.vec, 1, $d), list_slice(c.vec, 1, $d)))) END, 6)""".stripMargin
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
       |  FROM embeddings WHERE vec_id < $MatryoshkaQueries
       |), c AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
       |), dims AS (
       |  SELECT CAST(unnest([${MatryoshkaDims.mkString(", ")}]) AS BIGINT) AS dim
       |), s AS (
       |  SELECT d.dim, q.qid, c.vec_id,
       |         ${cosSliceSql("d.dim")} AS score
       |  FROM q CROSS JOIN c CROSS JOIN dims d
       |), tops AS (
       |  SELECT dim, qid, vec_id FROM (
       |    SELECT dim, qid, vec_id,
       |           row_number() OVER (PARTITION BY dim, qid ORDER BY score DESC, vec_id) AS rnk
       |    FROM s
       |  ) WHERE rnk <= $MatryoshkaK
       |), exact AS (
       |  SELECT qid, vec_id FROM tops WHERE dim = ${MatryoshkaDims.max}
       |), hits AS (
       |  SELECT t.dim, t.qid, COUNT(*) AS h
       |  FROM tops t JOIN exact e ON e.qid = t.qid AND e.vec_id = t.vec_id
       |  GROUP BY t.dim, t.qid
       |)
       |SELECT d.dim,
       |       round(AVG(COALESCE(h.h, 0) / CAST($MatryoshkaK AS DOUBLE)), 6) AS recall
       |FROM (SELECT qid FROM q) qq CROSS JOIN dims d
       |LEFT JOIN hits h ON h.qid = qq.qid AND h.dim = d.dim
       |GROUP BY d.dim ORDER BY d.dim""".stripMargin
  }

  /** q108's fixed audit budget: ground truth is exact all-pairs Jaccard
    * over the docs with the [[AuditSampleIds]] smallest ids — a CONSTANT
    * number of documents at every corpus size, so the truth side costs
    * the same at sf0.01 and 100 TB while the banding under audit runs at
    * full corpus scale.
    */
  val AuditSampleIds = 200

  /** q108_lsh_audit — MINHASH-BANDING RECALL/PRECISION audit: the q16
    * LSH candidate stage (default 8/4 md5 family), measured against
    * exact shingle-Jaccard ≥ [[DedupExtras.JaccardThreshold]] ground
    * truth on a fixed [[AuditSampleIds]]-doc sample. Emits one row —
    * truth pairs, candidate pairs within the sample, true positives,
    * precision, recall (degenerate denominators report 1.0: an empty
    * truth set is vacuously recalled). The banding S-curve is
    * property-tested off-line (MinhashWidthSpec); this is the same
    * measurement as a live declared query — the number a dedup operator
    * reads before trusting a width on a NEW corpus, exactly as q64 reads
    * recall before trusting nprobe.
    *
    * 100 TB: the WHOLE audit is O(sample), independent of corpus size —
    * LSH candidacy is a pairwise-LOCAL property (a band key depends only
    * on its own doc's signature), so banding the sample reproduces the
    * sample-internal candidate set of a full-corpus run exactly, the
    * truth side is all-pairs only within the same constant-size sample,
    * and the metric joins are sample-pair-scale. The production dedup
    * run this audits (q16) still pays corpus scale; its audit does not.
    */
  def lshAudit(spark: SparkSession, sfDir: String): DataFrame =
    lshAuditOf(Tables.documents(spark, sfDir))

  /** Composable core for ANY (doc_id, text, …) corpus.
    *
    * The banding stage runs on the SAMPLE only, and that is exact, not an
    * approximation: whether (a, b) are LSH candidates depends only on
    * their own two signatures (band keys are per-doc deterministic), so
    * banding the sample yields the identical sample-internal candidate
    * set as banding the full corpus and filtering — measured 12.8 s vs
    * 2 s at sf0.1 for the same rows (and the gap grows with n: the audit
    * is O(sample), the production dedup run it audits stays O(corpus)).
    */
  def lshAuditOf(docs: DataFrame): DataFrame = {
    val sampleDocs = docs.filter(col("doc_id") < AuditSampleIds)
    // operator-scoped shingle cache, the q16 discipline — and here it is
    // also the PERFORMANCE fix: an uncached shingle frame lets
    // CollapseProject inline the regexp tokenizer into every element
    // reference of the shingle lambda (3 array probes × ~shingles per
    // doc re-running the regex — measured 8.8 s vs 0.33 s at sf0.1 for
    // the signature aggregate over these 200 docs); both consumers
    // (banding + truth) read the materialized arrays instead
    val sh = DedupExtras.shingleSetsOf(sampleDocs).cache()
    try {
    val candidates = DedupExtras.bandCandidatesFromShingles(sh)
      .localCheckpoint(true)
    // docs under 3 tokens carry an empty set: the oracle drops them, and
    // two empty sets would divide 0 by 0
    val shingled = sh.filter(size(col("sh")) > 0)
    val truth = shingled.select(col("doc_id").as("a_id"), col("sh").as("sha"))
      .join(shingled.select(col("doc_id").as("b_id"), col("sh").as("shb")),
        col("a_id") < col("b_id"))
      .filter(DedupExtras.jaccardOf(col("sha"), col("shb")) >= DedupExtras.JaccardThreshold)
      .select(col("a_id"), col("b_id"))
      .localCheckpoint(true)
    val nTruth = truth.agg(count(lit(1)).as("truth_pairs"))
    val nCand = candidates.agg(count(lit(1)).as("cand_pairs"))
    val nTp = truth.join(candidates, Seq("a_id", "b_id"))
      .agg(count(lit(1)).as("tp"))
    Hybrid.localized(nTruth.crossJoin(nCand).crossJoin(nTp)
      .select(col("truth_pairs"), col("cand_pairs"), col("tp"),
        round(when(col("cand_pairs") === 0, 1.0)
          .otherwise(col("tp") / col("cand_pairs").cast("double")), 6).as("precision"),
        round(when(col("truth_pairs") === 0, 1.0)
          .otherwise(col("tp") / col("truth_pairs").cast("double")), 6).as("recall")))
    } finally sh.unpersist()
  }

  val q108OracleSql: String = {
    import DedupExtras.{NumHashes, Bands, JaccardThreshold}
    val sigSelect = (0 until NumHashes).map(i => s"min(md5('$i:' || s)) AS sig$i").mkString(", ")
    val bandSelects = (0 until Bands).map(b =>
      s"SELECT doc_id, $b AS band, md5(sig${2 * b} || sig${2 * b + 1}) AS bkey FROM sigs").mkString("\n  UNION ALL\n  ")
    s"""WITH sh AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(1, len(toks) - 1),
       |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
       |  FROM (SELECT doc_id, regexp_extract_all(text, '(\\w+|[^\\w\\s]+)', 1) AS toks
       |        FROM documents WHERE doc_id < $AuditSampleIds)
       |  WHERE len(toks) >= 3
       |), ex AS (
       |  SELECT doc_id, unnest(sh) AS s FROM sh
       |), sigs AS (
       |  SELECT doc_id, $sigSelect FROM ex GROUP BY doc_id
       |), bands AS (
       |  $bandSelects
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |), truth AS (
       |  SELECT sa.doc_id AS a_id, sb.doc_id AS b_id
       |  FROM sh sa JOIN sh sb ON sa.doc_id < sb.doc_id
       |  WHERE round(len(list_intersect(sa.sh, sb.sh))
       |              / CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE), 6) >= $JaccardThreshold
       |), nt AS (SELECT COUNT(*) AS truth_pairs FROM truth),
       |nc AS (SELECT COUNT(*) AS cand_pairs FROM cand),
       |tpz AS (
       |  SELECT COUNT(*) AS tp FROM truth t JOIN cand c ON c.a_id = t.a_id AND c.b_id = t.b_id
       |)
       |SELECT nt.truth_pairs, nc.cand_pairs, tpz.tp,
       |       round(CASE WHEN nc.cand_pairs = 0 THEN 1.0
       |             ELSE tpz.tp / CAST(nc.cand_pairs AS DOUBLE) END, 6) AS precision,
       |       round(CASE WHEN nt.truth_pairs = 0 THEN 1.0
       |             ELSE tpz.tp / CAST(nt.truth_pairs AS DOUBLE) END, 6) AS recall
       |FROM nt CROSS JOIN nc CROSS JOIN tpz""".stripMargin
  }
}
