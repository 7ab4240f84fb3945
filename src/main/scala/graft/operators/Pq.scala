package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Product quantization (PQ; Jégou, Douze, Schmid, "Product Quantization
  * for Nearest Neighbor Search", IEEE TPAMI 2011 — the same paper that
  * defines the IVF+PQ composition below) — the memory-side companion to
  * the IVF layout ([[IvfIndex]]): where IVF prunes WHICH rows a probe
  * scans, PQ shrinks WHAT each scanned row costs. Vectors are split into `m`
  * subvectors; each subspace gets a small KMeans codebook; a vector is
  * stored as its m nearest-codeword indices — m bytes instead of
  * 4·dim bytes (64-dim float32 → 8 bytes: 32×). At 100 TB that is the
  * difference between scanning embeddings and scanning codes, with the
  * float corpus touched only to rerank a per-query shortlist.
  *
  * Search is ADC (asymmetric distance computation): per query, one
  * m×k table of query-subvector→codeword distances; a candidate's
  * approximate distance is m table lookups summed — no float vector is
  * read. The shortlist is then reranked with exact cosine against only
  * |queries|·shortlist embeddings.
  *
  * Cosine metric handling: vectors are L2-normalized before training and
  * encoding, where squared euclidean distance is monotone in cosine
  * (|a−b|² = 2(1−cos) on unit vectors) — the same reduction
  * [[Ann.lshApproxKnn]] uses. Seeded and deterministic end-to-end.
  *
  * Like the reference's index build, training is an offline, sampled
  * step (`trainFraction`); encode is one distributed pass; the codebooks
  * (m·k·subDim doubles) travel by closure/broadcast.
  */
object Pq {

  /** m codebooks of k codewords each; `centers(j)(c)` is the c-th codeword
    * of subspace j (length subDim = dim / m).
    */
  case class Codebooks(m: Int, k: Int, subDim: Int, centers: Array[Array[Array[Double]]])

  case class Codes(vec_id: Long, codes: Array[Int])

  /** Train per-subspace codebooks with a seeded in-driver Lloyd's KMeans
    * over a BOUNDED sample of the L2-normalized corpus. PQ training is the
    * one place a driver-side loop is the RIGHT scale design, not a
    * shortcut: the artifact is m·k·subDim doubles (a few KB), the standard
    * practice (FAISS `train`) fits it on a fixed-size sample regardless of
    * corpus size, and `maxTrainRows` makes the driver's bill explicit —
    * min(|corpus|·trainFraction, maxTrainRows) rows, never the corpus. One
    * distributed sample+collect, then m tiny in-memory fits; no
    * per-subspace Spark job fan-out.
    */
  def train(spark: SparkSession, emb: DataFrame, m: Int = 8, k: Int = 16,
            seed: Long = 42L, trainFraction: Double = 1.0,
            maxTrainRows: Int = 65536, knownCount: Long = -1L): Codebooks = {
    import spark.implicits._
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val subDim = dim / m

    val unit0 = emb.select(normalize(toDouble(col("embedding"))).as("u"))
    // When trainFraction alone would select more than maxTrainRows rows,
    // TIGHTEN THE FRACTION instead of limit()-truncating in scan order: a
    // corpus ordered by label/cluster would otherwise train on a biased
    // prefix (ADVICE r5). The 5% margin keeps the expected draw near the
    // cap; the limit() below stays only as the hard bound on the driver's
    // bill. One extra count() job — training is the offline step, and the
    // sample stays seeded-deterministic for a fixed layout. A caller that
    // already counted the corpus passes `knownCount` so the lifecycle
    // pays ONE counting pass, not two (guide §1.2: don't recompute what
    // you already have — at 100 TB each count() is a full scan).
    val n = if (knownCount >= 0) knownCount else emb.count()
    val expected = n * trainFraction
    val f =
      if (expected > maxTrainRows) {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"PQ training set capped at ~maxTrainRows=$maxTrainRows rows via a seeded sample " +
            s"(trainFraction=$trainFraction over $n rows selected more); raise maxTrainRows for a larger sample")
        math.min(1.0, trainFraction * maxTrainRows * 1.05 / expected)
      } else trainFraction
    val unit = if (f < 1.0) unit0.sample(withReplacement = false, f, seed) else unit0
    val sample: Array[Array[Double]] =
      unit.limit(maxTrainRows).as[Seq[Double]].collect().map(_.toArray)
    require(sample.length >= k,
      s"PQ training needs at least k=$k sampled vectors, got ${sample.length}")
    val centers = Array.tabulate(m)(j => lloyd(sample, j * subDim, subDim, k, seed + j))
    Codebooks(m, k, subDim, centers)
  }

  /** Seeded Lloyd's iterations over one subspace slice of the training
    * sample: k initial centers drawn without replacement, 20 rounds of
    * assign/update, empty clusters keep their previous center.
    * Deterministic for (sample, seed).
    */
  private def lloyd(sample: Array[Array[Double]], base: Int, subDim: Int,
                    k: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val n = sample.length
    val centers = rnd.shuffle((0 until n).toVector).take(k)
      .map(i => java.util.Arrays.copyOfRange(sample(i), base, base + subDim)).toArray
    val assign = new Array[Int](n)
    var iter = 0
    while (iter < 20) {
      var r = 0
      while (r < n) {
        val v = sample(r)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          val cw = centers(c)
          var d = 0.0; var i = 0
          while (i < subDim) { val t = v(base + i) - cw(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        assign(r) = best
        r += 1
      }
      val sums = Array.ofDim[Double](k, subDim)
      val counts = new Array[Int](k)
      r = 0
      while (r < n) {
        val c = assign(r); val v = sample(r)
        var i = 0
        while (i < subDim) { sums(c)(i) += v(base + i); i += 1 }
        counts(c) += 1
        r += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var i = 0
          while (i < subDim) { centers(c)(i) = sums(c)(i) / counts(c); i += 1 }
        } // empty cluster: keep the previous center (deterministic, total)
        c += 1
      }
      iter += 1
    }
    centers
  }

  /** Encode each embedding as its m nearest-codeword indices (euclidean on
    * the normalized vector, matching training). One distributed pass; the
    * codebooks ride the task closure (m·k·subDim doubles — a few KB).
    */
  /** Nearest-codeword indices for one normalized vector. */
  private def encodeOne(u: Seq[Double], cb: Codebooks): Array[Int] = {
    val codes = new Array[Int](cb.m)
    var j = 0
    while (j < cb.m) {
      val base = j * cb.subDim
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cb.k) {
        val cw = cb.centers(j)(c)
        var d = 0.0; var i = 0
        while (i < cb.subDim) {
          val t = u(base + i) - cw(i); d += t * t; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(j) = best
      j += 1
    }
    codes
  }

  def encode(spark: SparkSession, emb: DataFrame, cb: Codebooks): Dataset[Codes] = {
    import spark.implicits._
    emb.select(col("vec_id"), normalize(toDouble(col("embedding"))).as("u"))
      .as[(Long, Seq[Double])]
      .mapPartitions(rows => rows.map { case (id, u) => Codes(id, encodeOne(u, cb)) })
  }

  /** ADC table for one normalized query: `t(j)(c)` = squared distance from
    * the query's j-th subvector to codeword c. Shared by [[search]] and
    * [[probeCompressed]] so the two paths can never drift.
    */
  private def adcTable(u: Array[Double], cb: Codebooks): Array[Array[Double]] = {
    val t = Array.ofDim[Double](cb.m, cb.k)
    var j = 0
    while (j < cb.m) {
      val base = j * cb.subDim
      var c = 0
      while (c < cb.k) {
        val cw = cb.centers(j)(c)
        var d = 0.0; var i = 0
        while (i < cb.subDim) { val x = u(base + i) - cw(i); d += x * x; i += 1 }
        t(j)(c) = d
        c += 1
      }
      j += 1
    }
    t
  }

  /** ADC search + exact rerank: approximate top-`shortlist` per query from
    * codes alone, then exact cosine over only those candidates, top-`k`.
    *
    * The per-query ADC tables (m×k doubles each) are computed from the
    * collected query batch — query-scale, like [[IvfIndex.probe]]'s
    * routing lists — and ride the closure; the code scan stays fully
    * distributed and never touches a float vector. Returns
    * (qid, vec_id, score, rank) by exact cosine.
    */
  def search(spark: SparkSession, emb: DataFrame, codes: Dataset[Codes], cb: Codebooks,
             queries: DataFrame, shortlist: Int = 50, k: Int = 5): DataFrame = {
    import spark.implicits._
    import graft.functions.GraftFunctions
    GraftFunctions.ensureRegistered(spark)

    // per-query distance tables: queries are query-scale (bounded), the
    // tables a few KB each
    val tables: Array[(Long, Array[Array[Double]])] = queries
      .select(col("qid"), normalize(toDouble(col("qvec"))).as("u"))
      .as[(Long, Seq[Double])].collect()
      .map { case (qid, u) => (qid, adcTable(u.toArray, cb)) }

    // distributed ADC scan: |codes| rows × |queries| lookups, emitted as
    // (qid, vec_id, -adist) into the bounded-heap TopK (shuffle ≤
    // queries × partitions × shortlist)
    val scored = codes.flatMap { c =>
      tables.iterator.map { case (qid, t) =>
        var d = 0.0; var j = 0
        while (j < cb.m) { d += t(j)(c.codes(j)); j += 1 }
        (qid, c.vec_id, -d)
      }
    }.toDF("qid", "id", "score")
    val tk = TopK.topKUdaf(shortlist)
    val candidates = scored
      .groupBy(col("qid"))
      .agg(tk(col("id"), col("score")).as("top"))
      .select(col("qid"), explode(col("top")).as("s"))
      .select(col("qid"), col("s.id").as("vec_id"))

    // exact rerank over the tiny candidate set only
    val reranked = candidates
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(queries.select(col("qid"), col("qvec"))), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        round(GraftFunctions.cosine(toDouble(col("qvec")), toDouble(col("embedding"))), 6).as("score"))
    val tk2 = TopK.topKUdaf(k)
    reranked
      .groupBy(col("qid"))
      .agg(tk2(col("vec_id"), col("score")).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .toDF("qid", "pos", "s")
      .select(col("qid"), col("s.id").as("vec_id"), col("s.score").as("score"),
        (col("pos") + 1).cast("long").as("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  // --- IVF + PQ composition (the canonical billion-scale layout) ----------

  case class ListCodes(vec_id: Long, list_id: Long, codes: Array[Int])

  def codesPath(indexDir: String): String = s"$indexDir/pq_codes"

  /** Materialize PQ codes for a built [[IvfIndex]], `partitionBy(list_id)`
    * NEXT TO the index's float points — IVF prunes WHICH lists a probe
    * reads, PQ shrinks WHAT each pruned row costs (m bytes). The ADC scan
    * inherits the index's partition pruning for free because the codes
    * share its layout.
    */
  def buildCodes(spark: SparkSession, indexDir: String, cb: Codebooks): Unit = {
    import spark.implicits._
    // LWW view first: encoding raw point versions would emit duplicate /
    // stale code rows for every re-upserted id, and the ADC scan has no
    // version column to resolve them (the catalog-gated helper skips the
    // window when no append ever happened — the fresh-build lifecycle)
    IvfIndex.latestPointsFor(spark, indexDir, spark.read.parquet(IvfIndex.pointsPath(indexDir)))
      .select(col("vec_id"), col("list_id"), normalize(toDouble(col("embedding"))).as("u"))
      .as[(Long, Long, Seq[Double])]
      .mapPartitions(rows => rows.map { case (id, lst, u) => ListCodes(id, lst, encodeOne(u, cb)) })
      .toDF()
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(codesPath(indexDir))
  }

  /** IVFPQ probe: open the index ([[IvfIndex.open]]), route each query
    * ([[IvfIndex.route]]), ADC-scan ONLY the probed lists' code partitions,
    * shortlist per query, exact cosine rerank against the float points of
    * those same pruned lists; both layouts are read through the handle's
    * cached schemas. With a shortlist covering the probed lists entirely,
    * this equals [[IvfIndex.probe]] exactly (property-tested) — the
    * compression is then free; smaller shortlists trade recall for a
    * rerank bounded by |queries|·shortlist float reads. Routing runs on
    * the driver ([[IvfIndex.routeOf]]); its local relation is read once
    * (IN-list, probe sets, ADC tables; no job) and broadcast to the rerank
    * — no checkpoint.
    */
  def probeCompressed(spark: SparkSession, indexDir: String, cb: Codebooks,
                      queries: DataFrame, k: Int = 3, nprobe: Int = 1,
                      shortlist: Int = 100): DataFrame = {
    import spark.implicits._
    import graft.functions.GraftFunctions
    GraftFunctions.ensureRegistered(spark)

    // ONE driver read of the query-scale routing decision: the probed
    // IN-list, each query's own probed-list set and its ADC table
    val h = IvfIndex.open(spark, indexDir)
    val routed = IvfIndex.routeOf(spark, h, queries, nprobe)
    val decision = routed
      .select(col("qid"), col("probe_list"), normalize(toDouble(col("qvec"))).as("u"))
      .as[(Long, Long, Seq[Double])].collect()
    val lists = decision.map(_._2).distinct.sorted.toSeq
    val probeSets: Map[Long, Set[Long]] =
      decision.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val tables: Array[(Long, Array[Array[Double]])] = decision
      .map { case (qid, _, u) => (qid, u) }.distinct
      .map { case (qid, u) => (qid, adcTable(u.toArray, cb)) }

    // partition-pruned ADC scan: each code row scores only against queries
    // that probed ITS list
    val codes = h.codes(spark)
      .filter(col("list_id").isin(lists: _*))
      .select(col("vec_id"), col("list_id"), col("codes"))
      .as[ListCodes]
    val scored = codes.flatMap { c =>
      tables.iterator
        .filter { case (qid, _) => probeSets(qid).contains(c.list_id) }
        .map { case (qid, t) =>
          var d = 0.0; var j = 0
          while (j < cb.m) { d += t(j)(c.codes(j)); j += 1 }
          (qid, c.vec_id, -d)
        }
    }.toDF("qid", "id", "score")
    val tk = TopK.topKUdaf(shortlist)
    val candidates = scored
      .groupBy(col("qid"))
      .agg(tk(col("id"), col("score")).as("top"))
      .select(col("qid"), explode(col("top")).as("s"))
      .select(col("qid"), col("s.id").as("vec_id"))

    // exact rerank reads floats only from the pruned lists, only for the
    // shortlist
    val points = h.latest(h.points(spark).filter(col("list_id").isin(lists: _*)))
    val qside = routed.select(col("qid").as("r_qid"), col("qvec"), col("probe_list")).distinct()
    val reranked = candidates
      .join(points.select(col("vec_id"), col("embedding"), col("list_id")), Seq("vec_id"))
      .join(broadcast(qside),
        col("qid") === col("r_qid") && col("list_id") === col("probe_list"))
      .select(col("qid"), col("vec_id"), col("probe_list"),
        round(GraftFunctions.cosine(toDouble(col("qvec")), toDouble(col("embedding"))), 6).as("score"))
    // the shared probe presentation tail — same rounding/tie-breaks as
    // the scan, filtered and graph probes (IvfIndex.rankTopK)
    IvfIndex.rankTopK(reranked, k)
  }

  /** q57_ivfpq_probe — the full IVF+PQ lifecycle as a declared,
    * oracle-checked query: build the index, train the codebooks, encode
    * the corpus into the partitioned code layout, probe through the ADC
    * scan with a shortlist COVERING every probed list (shortlist = the
    * largest list's row count), which provably reduces the compressed probe
    * to the exact [[IvfIndex.probe]] — so the oracle is exactly q38's (the
    * same covering reduction q55 used for graph ANN). A hash match proves
    * codebook training, encoding, the code layout's partition pruning, the
    * ADC scan, shortlisting, and the exact rerank reproduce the
    * uncompressed probe bit-for-bit; the lossy small-shortlist regime is
    * property-tested in PqSpec.
    */
  /** The declared lifecycle's training call: a seeded sample bounded to
    * ~4k rows — enough for k=16 codewords per subspace, and the covering
    * shortlist + exact rerank make the declared RESULT independent of
    * codebook quality anyway. Shared with Bench's q57 split timing so the
    * bench can never drift from the declared query's definition.
    */
  private[graft] def lifecycleTrain(spark: SparkSession, emb: DataFrame): Codebooks = {
    val n = emb.count()
    // knownCount = n: the fraction derivation above already paid the
    // counting pass; train must not run a second one (guide §1.2)
    train(spark, emb, m = 8, k = 16, trainFraction = math.min(1.0, 4000.0 / n),
      knownCount = n)
  }

  /** Covering shortlist for [[probeCompressed]]: no PROBED list holds more
    * rows than the largest list (counted over raw point versions, an upper
    * bound of the LWW view) — the bound that provably reduces the
    * compressed probe to the exact probe. Shared with Bench's q57 split.
    */
  private[graft] def coveringShortlist(spark: SparkSession, indexDir: String): Int =
    spark.read.parquet(IvfIndex.pointsPath(indexDir))
      .groupBy(col("list_id")).count()
      .agg(max("count")).head().getLong(0).toInt

  def ivfpqProbe(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, sfDir)
    val indexDir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    IvfIndex.build(spark, emb, indexDir)
    val cb = lifecycleTrain(spark, emb)
    buildCodes(spark, indexDir, cb)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    probeCompressed(spark, indexDir, cb, queries, k = 3, nprobe = 1,
      shortlist = coveringShortlist(spark, indexDir))
  }

  /** Covering shortlist ⇒ the compressed probe == the exact probe. */
  val q57OracleSql: String = IvfIndex.q38OracleSql
}
