package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions
import graft.functions.VectorFunctions._

/** Deterministic k-means over the embedding collection, and the two
  * curation operations built directly on top of it — SemDeDup-style
  * semantic dedup and a cluster-quality audit.
  *
  * The engine already TRAINS coarse quantizers two ways: per-label means
  * (q38, supervised) and MLlib KMeans ([[IvfIndex.buildUnsupervised]] —
  * spec-verified only, because MLlib's sampled init is not
  * oracle-expressible). This operator closes that gap: Lloyd's algorithm
  * with a PINNED deterministic init (the [[KmK]] smallest `vec_id`s, the
  * q88 closed-form discipline) and a FIXED iteration count is exactly
  * expressible in SQL, so the k-means loop itself — the index-build
  * step every IVF deployment of the reference runs
  * (reference: vector_db.py:30-36 delegates it to Qdrant's index) —
  * becomes a declared, hash-checked query.
  *
  * 100 TB shape (the MLlib/production layout): centroids live on the
  * DRIVER (k × dim doubles — decision-scale) and enter the plan as
  * LITERALS, so each Lloyd pass is one corpus scan with a SCAN-LOCAL
  * argmin (`array_sort` over k rounded distances — codegen'd, no join,
  * no shuffle of corpus rows); the recompute is ONE wide hash aggregate
  * (k rows × dim avg columns, partial-aggregated scan-side — the q132
  * wide-aggregate shape) whose shuffle carries one partial per
  * (cluster × dim) per partition — independent of corpus size (the q11
  * centroid shape). Building the frame therefore RUNS [[KmIters]]−1
  * bounded jobs (k×dim collects, the [[Hybrid.localized]] precedent) —
  * this is a training operator; the pass count is the pinned constant.
  */
object Cluster {

  /** Cluster count. Production sets k ∝ √n or n/target-block-size (the
    * q62 nlist ∝ n discipline); the declared row pins the small-fixture
    * value so the oracle is closed-form.
    */
  val KmK = 8

  /** Assignment passes: assign(init) → recompute → assign(recomputed).
    * Fixed so both engines run the identical unrolled computation.
    */
  val KmIters = 2

  /** Fraction of each cluster dropped by q102: floor(size/4). */
  val SemDedupDropDiv = 4

  /** Scan-local squared Euclidean distance between an array<double>
    * column and a literal centroid, rounded to 6 dp (rank on the rounded
    * value — the q76 discipline, so both engines argmin identical
    * numbers).
    */
  private def sqDist6(vec: Column, centroid: Array[Double]): Column =
    round(
      aggregate(
        zip_with(vec, typedLit(centroid.toSeq), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, v) => acc + v),
      6)

  /** Scan-local argmin over the k literal centroids: an array of
    * (d2, cid) structs sorted ascending — struct order = distance asc,
    * then smaller cluster id on ties. Returns struct(d2, cid).
    */
  private def nearest(vec: Column, cents: Seq[(Int, Array[Double])]): Column =
    element_at(
      array_sort(array(cents.map { case (cid, c) =>
        struct(sqDist6(vec, c).as("d2"), lit(cid).as("cid"))
      }: _*)),
      1)

  /** The corpus with its FINAL (vec_id, label, vec, cluster, d2)
    * assignment after [[KmIters]] passes — the shared core of
    * q101/q102/q103. Centroid collects are k × dim rows each
    * (decision-scale, driver-held, entered as literals).
    */
  private[graft] def kmeansAssignedOf(emb: DataFrame, k: Int = KmK,
      iters: Int = KmIters): DataFrame = {
    val corpus = emb.select(
      col("vec_id"), col("label").cast("long").as("label"),
      toDouble(col("embedding")).as("vec"))

    // pinned init: the k smallest vec_ids, cluster id = rank order
    var cents: Seq[(Int, Array[Double])] = corpus
      .filter(col("vec_id") < k).orderBy(col("vec_id"))
      .select(col("vec")).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0).toArray) }.toSeq
    require(cents.length == k, s"kmeans init: expected $k seed vectors, got ${cents.length}")

    val dim = cents.head._2.length
    for (_ <- 1 until iters) {
      // one Lloyd recompute: scan-local assign, then ONE wide hash
      // aggregate — k rows × dim `avg(element_at(vec, d))` columns, each
      // partial-aggregated scan-side. The q132 wide-aggregate lesson
      // (measured ×28 at sf10) applied to the training loop: the previous
      // posexplode shape streamed corpus×dim ROWS into the (cid, pos)
      // combiner; this shape streams corpus rows through dim column
      // accumulators. Rounding unchanged (6 dp) — the hash cannot move:
      // the recompute feeds rounded centroids only.
      val assigned = corpus
        .select(col("vec"), nearest(col("vec"), cents).getField("cid").as("cid"))
      val aggs = (0 until dim).map(d =>
        round(avg(element_at(col("vec"), d + 1)), 6).as(s"a$d"))
      val rows = assigned.groupBy(col("cid")).agg(aggs.head, aggs.tail: _*).collect()
      val next = rows.map(r =>
        (r.getInt(0), Array.tabulate(dim)(d => r.getDouble(d + 1)))).toSeq.sortBy(_._1)
      // an empty cluster would silently diverge from the oracle's inner
      // joins — fail loud instead (cannot occur while each seed vector
      // is its own nearest centroid)
      require(next.length == k,
        s"kmeans: ${k - next.length} cluster(s) emptied during Lloyd iteration")
      cents = next
    }

    val fin = nearest(col("vec"), cents)
    corpus.select(
      col("vec_id"), col("label"), col("vec"),
      fin.getField("cid").cast("long").as("cluster"),
      fin.getField("d2").as("d2"))
  }

  /** q101_kmeans_assign — the final per-point assignment (vec_id →
    * cluster, squared distance) after the pinned-init fixed-iteration
    * Lloyd loop.
    */
  def kmeansAssign(spark: SparkSession, sfDir: String): DataFrame =
    kmeansAssignedOf(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("cluster"), col("d2"))
      .orderBy(col("vec_id"))

  /** The shared k-means CTE prefix of the three oracles: ends with
    * `a2(vec_id, cid, d2)` = the final assignment, plus `c` (the cast
    * corpus) and `cp` (its positional unnest) for reuse.
    */
  private val kmeansCtes: String =
    s"""WITH c AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label, embedding::DOUBLE[] AS vec FROM embeddings
      |), cp AS (
      |  SELECT vec_id, generate_subscripts(vec, 1) AS pos, unnest(vec) AS v FROM c
      |), i0 AS (
      |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid FROM c WHERE vec_id < $KmK
      |), ip0 AS (
      |  SELECT i0.cid, cp.pos, cp.v FROM cp JOIN i0 USING (vec_id)
      |), d1 AS (
      |  SELECT cp.vec_id, ip0.cid, round(SUM((cp.v - ip0.v) ^ 2), 6) AS d2
      |  FROM cp JOIN ip0 USING (pos) GROUP BY cp.vec_id, ip0.cid
      |), a1 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM d1)
      |  WHERE rn = 1
      |), m1 AS (
      |  SELECT a1.cid, cp.pos, round(AVG(cp.v), 6) AS v
      |  FROM cp JOIN a1 USING (vec_id) GROUP BY a1.cid, cp.pos
      |), d2t AS (
      |  SELECT cp.vec_id, m1.cid, round(SUM((cp.v - m1.v) ^ 2), 6) AS d2
      |  FROM cp JOIN m1 USING (pos) GROUP BY cp.vec_id, m1.cid
      |), a2 AS (
      |  SELECT vec_id, cid, d2 FROM (
      |    SELECT vec_id, cid, d2, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM d2t)
      |  WHERE rn = 1
      |)""".stripMargin

  val q101OracleSql: String =
    s"""$kmeansCtes
      |SELECT vec_id, CAST(cid AS BIGINT) AS cluster, d2 FROM a2 ORDER BY vec_id""".stripMargin

  /** q102_semdedup — SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    * semantic near-duplicate pruning where the k-means clustering IS the
    * blocking — cosine pairs form only WITHIN a cluster (the paper's own
    * tractability argument: k grows with n, so block size n/k stays
    * bounded — the q62 nlist ∝ n discipline applied to semantic space).
    * Each point's redundancy = max cosine to any SMALLER-id point of its
    * cluster (−2.0 when it is the cluster's first point: below any real
    * cosine); the top floor(size/[[SemDedupDropDiv]]) most-redundant
    * points per cluster are the DROP list this query emits. A fixed
    * fraction rather than a fixed cosine threshold keeps the row
    * meaningful at every scale factor (the q10 lesson: the synthetic
    * fixtures top out near cosine 0.45).
    *
    * 100 TB: assignment is q101's scan-local pass; the pair join is
    * cluster-blocked (Σ b² — the declared-role shape of q10/q56, made
    * production-shaped here because the clustering bounds b by
    * construction); the rank/size windows partition by cluster over
    * cluster-sized groups.
    */
  def semdedup(spark: SparkSession, sfDir: String): DataFrame =
    semdedupOf(kmeansAssignedOf(Tables.embeddings(spark, sfDir)))

  /** Composable core over ANY (vec_id, vec, cluster, …) assigned frame. */
  private[graft] def semdedupOf(assigned: DataFrame): DataFrame = {
    GraftFunctions.ensureRegistered(assigned.sparkSession)
    val a = assigned.select(col("cluster"), col("vec_id").as("a_id"), col("vec").as("va"))
    val red = a.join(assigned.select(col("cluster"), col("vec_id").as("b_id"),
        col("vec").as("vb")), Seq("cluster"))
      .filter(col("a_id") < col("b_id"))
      .select(col("cluster"), col("b_id").as("vec_id"),
        round(GraftFunctions.cosine(col("va"), col("vb")), 6).as("cs"))
      .groupBy(col("cluster"), col("vec_id"))
      .agg(max(col("cs")).as("red"))
    val scored = assigned.select(col("vec_id"), col("cluster"))
      .join(red, Seq("cluster", "vec_id"), "left")
      .withColumn("red", coalesce(col("red"), lit(-2.0)))
    val wRank = Window.partitionBy(col("cluster")).orderBy(col("red").desc, col("vec_id"))
    val wSize = Window.partitionBy(col("cluster"))
    scored
      .withColumn("rn", row_number().over(wRank))
      .withColumn("size", count(lit(1)).over(wSize))
      .filter(col("rn") <= floor(col("size") / lit(SemDedupDropDiv)).cast("long"))
      .select(col("vec_id"), col("cluster"), col("red"))
      .orderBy(col("cluster"), col("red").desc, col("vec_id"))
  }

  /** Max SimHash hyperplanes for [[simhashCode]]: 2^32 blocks ×
    * [[SemDedupTargetBlockRows]] ≈ 2×10^12 rows before the cap binds —
    * genuinely past the 100 TB corpus scale.
    */
  private[graft] val SimhashMaxPlanes = 32

  /** Widest embedding [[SimhashPlanes]] covers. The fixtures are 64-dim;
    * a wider corpus regenerates the matrix (one constant), it does not
    * change the operator.
    */
  private[graft] val SimhashMaxDim = 64

  /** Seed of the pinned Rademacher plane matrix. */
  private[graft] val SimhashSeed = 0x9148L

  /** Pinned seeded Rademacher (±1) hyperplanes — the blocking rotation
    * for [[semdedupScaledOf]]. ONE generator
    * ([[graft.functions.SimhashCode.planes]], java.util.Random's
    * specified LCG — identical on every JVM) feeds both the native
    * expression the query evaluates and the oracle-SQL literal
    * ([[simhashPlanesSql]]): the two engines cannot disagree on a single
    * coefficient.
    */
  private[graft] val SimhashPlanes: Array[Array[Long]] =
    graft.functions.SimhashCode.planes(SimhashMaxPlanes, SimhashMaxDim, SimhashSeed)

  /** [[SimhashPlanes]] as a DuckDB VALUES body: `(i, [±1,…]::DOUBLE[])`
    * rows. DOUBLE[] so `list_dot_product` applies; every product/sum
    * stays integer-valued ≤ 2^26, exactly representable — order-free.
    */
  private[graft] def simhashPlanesSql: String =
    SimhashPlanes.zipWithIndex.map { case (row, i) =>
      s"($i, [${row.mkString(",")}]::DOUBLE[])"
    }.mkString(",\n         ")

  /** The blocking key of [[semdedupScaledOf]]: bit i ⇔
    * Σ_j plane_i[j] · round(v[j]·10^6) > 0 — SimHash with the pinned
    * [[SimhashPlanes]] over the 6-dp-QUANTIZED embedding, b =
    * min([[IvfIndex.signBitWidth]](n, target), [[SimhashMaxPlanes]])
    * planes. Three properties, each load-bearing:
    *
    *  - INTEGER-EXACT cross-engine: the quantization (round-half-away,
    *    the q66/q146/q149 fixed-point discipline) and the ±1 dot product
    *    are integer arithmetic — no float knife-edge at the sign
    *    boundary, so Spark and DuckDB compute the identical block for
    *    every vector (a true FWHT rotation would put an unpinnable fp
    *    sum at exactly the threshold that decides block membership —
    *    VERDICT r13 item 2's anticipated failure mode, designed out).
    *  - ROBUST where raw axes degenerate (VERDICT r13 item 2, with the
    *    attribution CORRECTED by round-14 measurement): the r13 "orthant
    *    occupancy skew" does not exist on the fixtures — raw-axis
    *    Σ|block|² at sf10 is within 0.3% of perfectly balanced (78.34M
    *    vs 78.13M, max block exactly 500); the measured exponent 1.10
    *    was the integer-b width SAWTOOTH (avg block width grows toward
    *    `target` until b increments — the uniform-width bench showed the
    *    same 1.085), not skew. The planes are kept anyway because the
    *    raw-axis balance is a fixture symmetry artifact: an axis whose
    *    component distribution is biased (e.g. post-ReLU all-positive
    *    features) contributes a CONSTANT bit and halves effective nlist
    *    — the degeneracy class the RotateHd docstring names. Full-span
    *    planes are immune to it, at a measured ≤1.19× pair-work cost on
    *    this fixture (correlated-bits anisotropy; per-plane
    *    median-centering was prototyped and rejected — it fixes marginal
    *    bias only, 92.86M vs 92.85M Σ|block|²).
    *  - STILL cosine-LSH: sign-random-projection with Rademacher
    *    hyperplanes is the standard SimHash family (Charikar '02), so
    *    near-duplicates still co-block with probability 1 − θ/π per bit.
    */
  private[graft] def simhashCode(emb: DataFrame, targetListRows: Int): (Int, Column) = {
    GraftFunctions.ensureRegistered(emb.sparkSession)
    val stats = emb.agg(count(lit(1)), min(size(col("embedding")))).head()
    val dim = stats.getInt(1)
    require(dim <= SimhashMaxDim,
      s"simhashCode: embedding dim $dim exceeds the pinned plane width $SimhashMaxDim — " +
        "regenerate SimhashPlanes at the wider dim")
    val b = math.min(IvfIndex.signBitWidth(stats.getLong(0), targetListRows), SimhashMaxPlanes)
    // the NATIVE expression, not an aggregate(zip_with(...)) chain: the
    // interpreted-HOF form cost n·b boxed lambda evaluations and read ~2×
    // the raw-axis code it replaced on the sf10 fork ladder (round 14);
    // the compiled kernel quantizes once and runs b multiply-accumulate
    // rows inside whole-stage codegen
    val code =
      if (b == 0) lit(0L)
      else GraftFunctions.simhashCode(col("embedding"), SimhashMaxDim, SimhashSeed, b)
    (b, code)
  }

  /** The 100 TB shape of q102 — SemDeDup with the BLOCK COUNT growing
    * with the corpus (the paper's own tractability condition, and the
    * q62 nlist ∝ n discipline): clusters come from the scan-local
    * [[simhashCode]] at width b = smallest with 2^b·target ≥ n
    * (integer arithmetic, no training pass, no driver-held centroids to
    * outgrow), so per-block pair work stays ~target²/2 at ANY corpus
    * size while the declared q101-blocked row (k pinned at [[KmK]] for
    * the closed-form oracle) grows quadratically-in-block past the
    * fixture scale — measured exp 1.29 at sf1, the q56→q62 pattern
    * repeated (BASELINE.md, "Round 12: q102's scale boundary").
    * Redundancy semantics are [[semdedupOf]]'s, unchanged; only the
    * blocking key differs. At b = 0 (n ≤ target) this IS the exact
    * all-pairs SemDeDup — the spec's equivalence anchor.
    */
  def semdedupScaledOf(emb: DataFrame, targetBlockRows: Int = SemDedupTargetBlockRows): DataFrame = {
    val (_, clusterExpr) = simhashCode(emb, targetBlockRows)
    semdedupOf(emb.select(
      col("vec_id"), toDouble(col("embedding")).as("vec"),
      clusterExpr.as("cluster")))
  }

  /** q148's block-size target: ~500 rows per sign-bit orthant at every
    * corpus size (nlist = 2^b grows with n), so the within-block pair
    * budget stays ~target²/2 per block — linear in n overall.
    */
  val SemDedupTargetBlockRows = 500

  /** q148_semdedup_scaled — [[semdedupScaledOf]] as a declared,
    * oracle-checked query (VERDICT r12 item 2 — the q56→q62 promotion
    * pattern, third repetition): [[semdedupOf]]'s redundancy semantics
    * unchanged, blocked by the pinned-plane [[simhashCode]] instead of
    * q102's pinned-k k-means. The quantizer is pure integer arithmetic
    * over literal ±1 planes, so DuckDB recomputes every block boundary
    * exactly — which puts the TRUE 100 TB SemDeDup shape under the hard
    * hash signal, clearing q102's `weak` (q102 stays as the closed-form
    * k-means oracle floor; BASELINE.md, "Round 14: q148 blocking
    * re-keyed", carries the measured three-decade ladder, re-forked after
    * the r14 de-skew).
    */
  def semdedupScaled(spark: SparkSession, sfDir: String): DataFrame =
    semdedupScaledOf(Tables.embeddings(spark, sfDir))

  val q102OracleSql: String =
    s"""$kmeansCtes, av AS (
      |  SELECT a2.vec_id, a2.cid, c.vec FROM a2 JOIN c USING (vec_id)
      |), p AS (
      |  SELECT x.cid, y.vec_id,
      |         round(CASE WHEN sqrt(list_dot_product(x.vec, x.vec)) * sqrt(list_dot_product(y.vec, y.vec)) = 0
      |               THEN 0.0
      |               ELSE list_dot_product(x.vec, y.vec)
      |                    / (sqrt(list_dot_product(x.vec, x.vec)) * sqrt(list_dot_product(y.vec, y.vec))) END, 6) AS cs
      |  FROM av x JOIN av y ON x.cid = y.cid AND x.vec_id < y.vec_id
      |), red AS (
      |  SELECT cid, vec_id, MAX(cs) AS red FROM p GROUP BY cid, vec_id
      |), scored AS (
      |  SELECT a2.vec_id, a2.cid, COALESCE(red.red, -2.0) AS red
      |  FROM a2 LEFT JOIN red ON red.cid = a2.cid AND red.vec_id = a2.vec_id
      |), rk AS (
      |  SELECT vec_id, cid, red,
      |         row_number() OVER (PARTITION BY cid ORDER BY red DESC, vec_id) AS rn,
      |         COUNT(*) OVER (PARTITION BY cid) AS sz
      |  FROM scored
      |)
      |SELECT vec_id, CAST(cid AS BIGINT) AS cluster, red
      |FROM rk WHERE rn <= sz // $SemDedupDropDiv
      |ORDER BY cluster, red DESC, vec_id""".stripMargin

  /** q148's oracle: the same integer-only `bin()` width formula as q62
    * (target [[SemDedupTargetBlockRows]] rows/list, capped at
    * [[SimhashMaxPlanes]]), the [[SimhashPlanes]] matrix as a literal
    * VALUES table, and the 6-dp quantized ±1 dot per bit — feeding
    * q102's redundancy/rank tail, so the scale path's oracle and the
    * floor's oracle can only differ in the blocking key. Every
    * product/sum in the blocking is integer-valued ≤ 2^26, exactly
    * representable in DOUBLE — `list_dot_product`'s summation order
    * cannot matter.
    */
  val q148OracleSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), q AS (
       |  SELECT vec_id, list_transform(v, x -> round(x * 1000000, 0)) AS qv FROM e
       |), nb AS (
       |  SELECT LEAST(CASE WHEN (COUNT(*) - 1) // $SemDedupTargetBlockRows = 0 THEN 0
       |               ELSE length(bin((COUNT(*) - 1) // $SemDedupTargetBlockRows)) END,
       |               $SimhashMaxPlanes) AS b
       |  FROM e
       |), pl(i, p) AS (
       |  VALUES $simhashPlanesSql
       |), clus AS (
       |  SELECT q.vec_id,
       |         CAST(COALESCE(SUM(CASE WHEN list_dot_product(q.qv, pl.p[1:len(q.qv)]) > 0
       |                           THEN (CAST(1 AS BIGINT) << pl.i)
       |                           ELSE CAST(0 AS BIGINT) END), 0) AS BIGINT) AS cluster
       |  FROM q CROSS JOIN nb LEFT JOIN pl ON pl.i < nb.b
       |  GROUP BY q.vec_id
       |), asg AS (
       |  SELECT e.vec_id, e.v, clus.cluster FROM e JOIN clus USING (vec_id)
       |), p AS (
       |  SELECT x.cluster, y.vec_id,
       |         ${IvfIndex.cosSql("x.v", "y.v")} AS cs
       |  FROM asg x JOIN asg y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
       |), red AS (
       |  SELECT cluster, vec_id, MAX(cs) AS red FROM p GROUP BY cluster, vec_id
       |), scored AS (
       |  SELECT asg.vec_id, asg.cluster, COALESCE(red.red, -2.0) AS red
       |  FROM asg LEFT JOIN red ON red.cluster = asg.cluster AND red.vec_id = asg.vec_id
       |), rk AS (
       |  SELECT vec_id, cluster, red,
       |         row_number() OVER (PARTITION BY cluster ORDER BY red DESC, vec_id) AS rn,
       |         COUNT(*) OVER (PARTITION BY cluster) AS sz
       |  FROM scored
       |)
       |SELECT vec_id, cluster, red
       |FROM rk WHERE rn <= sz // $SemDedupDropDiv
       |ORDER BY cluster, red DESC, vec_id""".stripMargin

  /** q103_cluster_purity — the audit row for q101's clustering: per
    * cluster, its size, majority payload label (ties to the smaller
    * label — the q97 vote discipline), majority count, and purity =
    * maj/size. The unsupervised clusters are scored against the stored
    * labels exactly the way q64 scores the ANN index against exact
    * search: the evaluation half that makes the training half
    * trustworthy. Everything past q101's scan is (k × labels)-scale.
    */
  def clusterPurity(spark: SparkSession, sfDir: String): DataFrame =
    clusterPurityOf(kmeansAssignedOf(Tables.embeddings(spark, sfDir)))

  /** Composable core over ANY (cluster, label, …) assigned frame. */
  private[graft] def clusterPurityOf(a: DataFrame): DataFrame = {
    val cnt = a.groupBy(col("cluster"), col("label")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("cluster")).orderBy(col("n").desc, col("label"))
    cnt
      .withColumn("rn", row_number().over(w))
      .withColumn("size", sum(col("n")).over(Window.partitionBy(col("cluster"))))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("size").cast("long").as("size"),
        col("label").as("maj_label"), col("n").cast("long").as("maj_n"),
        round(col("n").cast("double") / col("size"), 6).as("purity"))
      .orderBy(col("cluster"))
  }

  val q103OracleSql: String =
    s"""$kmeansCtes, j AS (
      |  SELECT a2.cid, c.label FROM a2 JOIN c USING (vec_id)
      |), cnt AS (
      |  SELECT cid, label, COUNT(*) AS n FROM j GROUP BY cid, label
      |), mj AS (
      |  SELECT cid, label, n,
      |         row_number() OVER (PARTITION BY cid ORDER BY n DESC, label) AS rn,
      |         SUM(n) OVER (PARTITION BY cid) AS size
      |  FROM cnt
      |)
      |SELECT CAST(cid AS BIGINT) AS cluster, CAST(size AS BIGINT) AS size,
      |       label AS maj_label, CAST(n AS BIGINT) AS maj_n,
      |       round(CAST(n AS DOUBLE) / size, 6) AS purity
      |FROM mj WHERE rn = 1 ORDER BY cluster""".stripMargin

  // ---------------------------------------------------------------------
  // Cluster keyword summarization (q133)
  // ---------------------------------------------------------------------

  /** Keywords kept per cluster in q133. */
  val KeywordsK = 5

  /** q133_cluster_keywords — c-TF-IDF CLUSTER SUMMARIZATION (the
    * BERTopic reduction, Grootendorst '22): after clustering, each
    * cluster is described by the terms most over-represented in it —
    * score = (c_tc / total_c) · ln(1 + Ā / f_t), with c_tc the term's
    * count in the cluster, total_c the cluster's token total, f_t the
    * term's corpus count, and Ā the mean cluster token total. The
    * "what is actually IN each cluster" report a curation run reads
    * after q101/q102/q103 — labels tell you clusters exist, keywords
    * tell you what they are. Candidate terms are alphabetic, ≥ 3
    * chars, non-stopword; scores round 6 dp BEFORE ranking, ties to
    * token asc (the q76 discipline).
    *
    * The declared row uses the fixture's `label` as the cluster id
    * (the q103 ground-truth convention — labels ARE the generator's
    * clusters); a production pipeline feeds q101's assignment frame
    * into the same core.
    *
    * 100 TB: one corpus token pass ends at the (cluster, token) count
    * aggregate (map-side combined, Heaps-sublinear rows); corpus term
    * totals and cluster totals both derive from THAT table (no second
    * scan); the rank runs over the cluster-term TYPE table — vocab-scale,
    * never corpus-scale — partitioned by cluster. Text never shuffles.
    */
  def clusterKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    val classes = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("doc_id"), col("label").cast("long").as("cluster"))
    clusterKeywordsOf(Tables.documents(spark, sfDir), classes)
  }

  /** Composable core: `docs` = ANY (doc_id, text, …) corpus, `classes` =
    * ANY (doc_id, cluster) assignment (q101's output fits directly).
    */
  def clusterKeywordsOf(docs: DataFrame, classes: DataFrame): DataFrame = {
    val stop = TextAnalysis.EnStopwords.map(s => s"'$s'").mkString("(", ",", ")")
    val ct = docs
      .select(col("doc_id"), explode(TextPipeline.tokenArr(col("text"))).as("token"))
      .filter(col("token").rlike("^[a-z]{3,}$") && !expr(s"token IN $stop"))
      .join(classes, Seq("doc_id"))
      .groupBy(col("cluster"), col("token")).agg(count(lit(1)).as("c_tc"))
    val termTotals = ct.groupBy(col("token")).agg(sum(col("c_tc")).as("f_t"))
    val clusterTotals = ct.groupBy(col("cluster")).agg(sum(col("c_tc")).as("total_c"))
    val meanTotal = clusterTotals.agg(avg(col("total_c")).as("a_bar"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("score").desc, col("token").asc)
    ct.join(termTotals, Seq("token"))
      .join(broadcast(clusterTotals), Seq("cluster"))
      .crossJoin(broadcast(meanTotal))
      .withColumn("score", round((col("c_tc") / col("total_c").cast("double")) *
        log(lit(1.0) + col("a_bar") / col("f_t")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= KeywordsK)
      .select(col("cluster"), col("rank"), col("token"), col("score"))
      .orderBy(col("cluster"), col("rank"))
  }

  val q133OracleSql: String = {
    val stop = TextAnalysis.EnStopwords.map(s => s"'$s'").mkString("(", ",", ")")
    s"""WITH t AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '(\\w+|[^\\w\\s]+)', 1)) AS token
       |  FROM documents
       |), ft AS (
       |  SELECT t.doc_id, t.token FROM t
       |  WHERE regexp_matches(t.token, '^[a-z]{3,}$$') AND t.token NOT IN $stop
       |), cls AS (
       |  SELECT vec_id AS doc_id, CAST(label AS BIGINT) AS cluster FROM embeddings
       |), ct AS (
       |  SELECT cls.cluster, ft.token, COUNT(*) AS c_tc
       |  FROM ft JOIN cls USING (doc_id) GROUP BY cls.cluster, ft.token
       |), tt AS (
       |  SELECT token, SUM(c_tc) AS f_t FROM ct GROUP BY token
       |), cc AS (
       |  SELECT cluster, SUM(c_tc) AS total_c FROM ct GROUP BY cluster
       |), ab AS (
       |  SELECT AVG(total_c) AS a_bar FROM cc
       |), s AS (
       |  SELECT ct.cluster, ct.token,
       |         round((ct.c_tc / CAST(cc.total_c AS DOUBLE)) * ln(1.0 + ab.a_bar / tt.f_t), 6) AS score
       |  FROM ct JOIN tt USING (token) JOIN cc USING (cluster) CROSS JOIN ab
       |), r AS (
       |  SELECT cluster, token, score,
       |         row_number() OVER (PARTITION BY cluster ORDER BY score DESC, token ASC) AS rank
       |  FROM s
       |)
       |SELECT cluster, CAST(rank AS BIGINT) AS rank, token, score
       |FROM r WHERE rank <= $KeywordsK
       |ORDER BY cluster, rank""".stripMargin
  }
}
