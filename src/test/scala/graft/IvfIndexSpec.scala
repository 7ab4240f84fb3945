package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.operators.IvfIndex

/** Persistent IVF index lifecycle: build writes a pruned-readable layout,
  * probe reads ONLY the probed list partitions, and the persisted path
  * returns exactly what the algebraic (no-index) computation returns.
  */
class IvfIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val indexDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString
    IvfIndex.build(spark, Tables.embeddings(spark, TestSpark.Sf0001), indexDir = dir)
    dir
  }

  test("build persists every corpus vector exactly once, in list partitions") {
    val points = spark.read.parquet(IvfIndex.pointsPath(indexDir))
    val corpus = Tables.embeddings(spark, TestSpark.Sf0001)
    assert(points.count() == corpus.count())
    assert(points.select("vec_id").distinct().count() == corpus.count())
    assert(points.columns.contains("list_id"))
    // layout really is directory-partitioned
    val dirs = new java.io.File(IvfIndex.pointsPath(indexDir))
      .listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("list_id=")))
  }

  test("probe scan is partition-pruned to the probed lists") {
    val q = IvfIndex.prunedPointsScan(spark, indexDir, Seq(3L))
    val plan = q.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*list_id""".r.findFirstIn(plan).isDefined,
      "list_id must appear INSIDE a non-empty partition filter (the key prints even when empty)")
    val leaves = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!leaves.contains("list_id=1") || leaves.contains("list_id=3"))
  }

  test("filtered probe scan prunes on BOTH list partitions and pushed label filter") {
    val q = IvfIndex.filteredPointsScan(spark, indexDir, Seq(3L), Seq(3, 4))
    val plan = q.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*list_id""".r.findFirstIn(plan).isDefined,
      "list_id must prune partitions (inside a non-empty filter bracket)")
    // (a 1-element IN folds to EqualTo — still pushed; assert the 2-element form)
    assert(plan.contains("PushedFilters") && plan.contains("In(label"),
      s"label IN (...) must be pushed into the parquet scan; got:\n$plan")
  }

  test("filtered probe returns only same-label candidates, ranked like q02 over the probed list") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val labels = emb.select($"vec_id", $"label".cast("long")).as[(Long, Long)].collect().toMap
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"), col("label").as("qlabel"))
    val r = IvfIndex.probeFiltered(spark, indexDir, queries, k = 3, nprobe = 1)
      .select($"qid", $"vec_id", $"rank").as[(Long, Long, Long)].collect()
    assert(r.nonEmpty)
    r.foreach { case (qid, vid, _) =>
      assert(labels(vid) == labels(qid), s"candidate $vid label must match query $qid label")
    }
    // every query finds at least itself (it carries its own label and lives in some probed-or-other list)
    // note: self may be assigned to a different list than the probed one, so only rank sanity here
    r.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
  }

  test("filtered probe honors last-writer-wins when a re-upsert changes the label") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_relabel").toString
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    IvfIndex.build(spark, emb, dir)
    // re-upsert vec 0 with a NEW label (same embedding => same list)
    val relabeled = emb.filter(col("vec_id") === 0)
      .withColumn("label", ((col("label") + 1) % 10).cast("int"))
    IvfIndex.append(spark, relabeled, dir, version = 1L)

    // query under vec 0's OLD label, probing every list: the superseded
    // version must not resurrect through the label cut
    val nlist = emb.select("label").distinct().count().toInt
    val q = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"), col("label").as("qlabel"))
    val r = IvfIndex.probeFiltered(spark, dir, q, k = 5, nprobe = nlist, pushLabelFilter = false)
      .select($"vec_id").as[Long].collect()
    assert(!r.contains(0L),
      "a row whose latest version carries a different label must not match the old label")
  }

  test("probe over the persisted index equals the index-free computation") {
    import spark.implicits._
    val direct = graft.operators.IvfIndex
      .ivfIndexProbe(spark, TestSpark.Sf0001) // builds its own temp index
      .select($"qid", $"probe_list", $"vec_id", $"score", $"rank")
      .collect().map(_.toSeq).toSeq
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val persisted = IvfIndex.probe(spark, indexDir, queries, k = 3, nprobe = 1)
      .select($"qid", $"probe_list", $"vec_id", $"score", $"rank")
      .collect().map(_.toSeq).toSeq
    assert(persisted == direct && persisted.nonEmpty)
  }

  test("route keepRank is prefix-stable: rank<=np subset equals route at nprobe=np") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val ranked = IvfIndex.route(spark, indexDir, queries, nprobe = 2, keepRank = true)
    for (np <- Seq(1, 2)) {
      val subset = ranked.filter(col("route_rank") <= np)
        .select($"qid", $"probe_list").collect().map(_.toSeq).toSet
      val direct = IvfIndex.route(spark, indexDir, queries, nprobe = np)
        .select($"qid", $"probe_list").collect().map(_.toSeq).toSet
      assert(subset == direct && direct.nonEmpty,
        s"nprobe=$np: keepRank prefix must equal the per-nprobe routing (q64's single-scan contract)")
    }
  }

  test("assignment literal and broadcast-join paths agree on random vectors (CentroidLiteralBound cutover)") {
    import spark.implicits._
    // random table, fixed seed: ties and near-ties exercised across many
    // centroids; the bound=0 call forces the broadcast-join fallback
    val rnd = new scala.util.Random(41)
    val dim = 8
    val emb = (0L until 300L).map { i =>
      (i, i % 7, Seq.fill(dim)(math.rint(rnd.nextGaussian() * 1e6) / 1e6))
    }.toDF("vec_id", "label", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_cutover").toString
    IvfIndex.build(spark, emb, dir)
    val in = emb.select(col("label").cast("long").as("label"), col("vec_id"),
      col("embedding"), lit(0L).as("version"))
    def assignments(bound: Long): Map[Long, Long] =
      IvfIndex.withNearestList(spark, in, dir, literalBound = bound)
        .select(col("vec_id"), col("list_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lit_ = assignments(IvfIndex.CentroidLiteralBound)
    val bcast = assignments(0L)
    assert(lit_.size == 300 && lit_ == bcast,
      "literal and broadcast-join assignment must be row-identical (same (cs desc, cl asc) argmax)")
    // the fallback must also preserve every column the literal path does
    val cols = IvfIndex.withNearestList(spark, in, dir, literalBound = 0L).columns.toSeq
    assert(cols == Seq("label", "vec_id", "embedding", "version", "list_id"))
  }

  test("routing literal and broadcast-join paths agree row-for-row, planted ties included (CentroidLiteralBound cutover)") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val dim = 8
    def draw(): Seq[Double] = Seq.fill(dim)(math.rint(rnd.nextGaussian() * 1e6) / 1e6)
    def dot(a: Seq[Double], b: Seq[Double]): Double = a.zip(b).map { case (x, y) => x * y }.sum
    // seven random clusters, plus lists 7 and 8 holding the SAME vectors:
    // their mean centroids are identical, a planted exact tie
    val twins = Seq.fill(10)(draw())
    val emb = ((0L until 210L).map(i => (i, (i % 7).toInt, draw())) ++
      twins.zipWithIndex.flatMap { case (v, j) => Seq((210L + 2 * j, 7, v), (211L + 2 * j, 8, v)) })
      .toDF("vec_id", "label", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_routecut").toString
    IvfIndex.build(spark, emb, dir)
    val cents = spark.read.parquet(IvfIndex.centroidsPath(dir)).collect()
      .map(r => r.getAs[Number]("label").longValue -> r.getSeq[Double](1)).toMap
    val nlist = cents.size
    assert(nlist == 9 && cents(7L) == cents(8L))
    // queries: random draws; a twin centroid itself (top-1 tie); the zero
    // vector (every score 0.0); and per centroid a draw projected
    // orthogonal to it, both signs (scores that round to 0.0 from above
    // and from below)
    val orth = cents.toSeq.sortBy(_._1).flatMap { case (_, c) =>
      val v = draw()
      val a = dot(v, c) / dot(c, c)
      val o = v.zip(c).map { case (x, y) => x - a * y }
      Seq(o, o.map(-_))
    }
    val qs = Seq.fill(40)(draw()) ++ Seq(cents(7L), Seq.fill(dim)(0.0)) ++ orth
    val queries = qs.zipWithIndex.map { case (v, i) => (i.toLong, v, s"t$i") }.toDF("qid", "qvec", "tag")
    def routed(np: Int, bound: Long) =
      IvfIndex.routeWith(spark, dir, queries, np, carry = Seq("tag"), keepRank = true, bound)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "probe_list", "route_rank", "tag").orderBy("qid", "route_rank")
        .collect().map(_.toSeq).toSeq
    for (np <- Seq(1, 2, 4, nlist + 3)) {
      val lit_ = routed(np, IvfIndex.CentroidLiteralBound)
      val bcast = routed(np, 0L)
      assert(lit_.columns.toSeq == Seq("qid", "qvec", "tag", "route_rank", "probe_list") &&
        lit_.columns.toSeq == bcast.columns.toSeq)
      val (l, b) = (rowsOf(lit_), rowsOf(bcast))
      assert(l.size == qs.size * math.min(np, nlist) && l == b,
        s"nprobe=$np: literal and broadcast-join routing must be row-identical " +
          "(same (score desc, list id asc) order)")
      // the literal route is a projection: no join, window or exchange
      val plan = lit_.queryExecution.executedPlan.toString
      assert(!plan.contains("Join") && !plan.contains("Window") && !plan.contains("Exchange"),
        s"the literal route must be scan-local;\n$plan")
    }
    // the planted ties break toward the smaller list id in both paths
    val twinQ = routed(2, IvfIndex.CentroidLiteralBound).filter(col("qid") === 40L)
      .orderBy("route_rank").select("probe_list").as[Long].collect().toSeq
    assert(twinQ == Seq(7L, 8L))
    val zeroQ = routed(3, IvfIndex.CentroidLiteralBound).filter(col("qid") === 41L)
      .orderBy("route_rank").select("probe_list").as[Long].collect().toSeq
    assert(zeroQ == Seq(0L, 1L, 2L))
    // a pre-catalog layout routes through the broadcast join, same rows
    new java.io.File(IvfIndex.metaPath(dir)).delete()
    val preCatalog = IvfIndex.route(spark, dir, queries, nprobe = 2, carry = Seq("tag"), keepRank = true)
    assert(preCatalog.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    assert(rowsOf(preCatalog) == rowsOf(routed(2, IvfIndex.CentroidLiteralBound)))
  }

  /** Spark jobs `body` starts, counted by a listener over a span-scoped
    * local property (inherited by the broadcast and stage threads).
    */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.spec.jobcount"
    val id = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == id)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, id)
    try body
    finally {
      sc.setLocalProperty(key, null)
      org.apache.spark.GraftTestBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("job-count pin: a catalogued probe and a catalogued append run a fixed number of Spark jobs") {
    // job counts are deterministic where fixture-scale wall time is not:
    // an extra driver action on the probe or append path (a collect, a
    // count, a checkpoint, a DISTINCT shuffle) changes the count and
    // fails here. The counts cover the driver-side actions inside each
    // call plus, for the probe, the jobs of collecting its result.
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_jobpin").toString
    IvfIndex.build(spark, emb, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val probeJobs = jobsOf(IvfIndex.probe(spark, dir, queries, k = 3, nprobe = 1).collect())
    val appendJobs = jobsOf(IvfIndex.append(spark, emb.filter(col("vec_id") % 50 === 0), dir))
    assert((probeJobs, appendJobs) == ((10, 5)),
      s"probe ran $probeJobs jobs, append ran $appendJobs")
  }

  test("a rebuild over an existing index dir with a different nlist assigns exactly like a fresh build") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val vecs = (0L until 240L).map(i => (i, Seq.fill(8)(math.rint(rnd.nextGaussian() * 1e6) / 1e6)))
    def labeled(mod: Int) =
      vecs.map { case (i, v) => (i, (i % mod).toInt, v) }.toDF("vec_id", "label", "embedding")
    val reused = java.nio.file.Files.createTempDirectory("graft_ivf_rebuild").toString
    IvfIndex.build(spark, labeled(7), reused)
    IvfIndex.build(spark, labeled(3), reused) // over the 7-list build's catalog
    val fresh = java.nio.file.Files.createTempDirectory("graft_ivf_rebuild_fresh").toString
    IvfIndex.build(spark, labeled(3), fresh)
    def layout(dir: String): Set[(Long, Long, Long)] =
      spark.read.parquet(IvfIndex.pointsPath(dir))
        .select(col("vec_id"), col("list_id").cast("long"), col("version"))
        .as[(Long, Long, Long)].collect().toSet
    assert(layout(reused).size == 240 && layout(reused) == layout(fresh))
    assert(IvfIndex.readMeta(spark, reused).map(_.nlist).contains(3L))
    // and the catalog-driven append path then agrees as well
    val batch = labeled(3).filter(col("vec_id") % 10 === 0)
      .withColumn("embedding", reverse(col("embedding")))
    IvfIndex.append(spark, batch, reused)
    IvfIndex.append(spark, batch, fresh)
    assert(layout(reused) == layout(fresh))
  }

  test("an explicit-version append below 1 is rejected and leaves the index byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_v0").toString
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    IvfIndex.build(spark, emb, dir)
    def snapshot(): Map[String, Seq[Byte]] = {
      val root = java.nio.file.Paths.get(dir)
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> java.nio.file.Files.readAllBytes(p).toSeq).toMap
      finally walk.close()
    }
    val before = snapshot()
    assert(before.contains("_meta.json") && before.keys.exists(_.startsWith("points/")))
    for (v <- Seq(0L, -1L)) {
      val e = intercept[IllegalArgumentException] {
        IvfIndex.append(spark, emb.filter(col("vec_id") === 0), dir, version = v)
      }
      assert(e.getMessage.contains("version"), e.getMessage)
    }
    assert(snapshot() == before, "a rejected append must not touch the points layout or _meta.json")
  }

  test("append upserts supersede on probe; compact removes stale rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_upsert").toString
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    IvfIndex.build(spark, emb, dir)

    // re-send vec_id 0 unchanged (same embedding => same list), version 1
    IvfIndex.append(spark, emb.filter(col("vec_id") === 0), dir, version = 1L)
    val pts = spark.read.parquet(IvfIndex.pointsPath(dir))
    assert(pts.filter(col("vec_id") === 0).count() == 2, "append must not rewrite")
    val latest = IvfIndex.latestPoints(pts).filter(col("vec_id") === 0)
    assert(latest.count() == 1 && latest.head().getAs[Long]("version") == 1L)

    // probe never returns a stale duplicate
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val r = IvfIndex.probe(spark, dir, queries, k = 5)
    assert(r.groupBy("qid", "vec_id").count().filter(col("count") > 1).count() == 0)

    // compaction restores exactly-one-row-per-id physically
    IvfIndex.compact(spark, dir)
    val compacted = spark.read.parquet(IvfIndex.pointsPath(dir))
    assert(compacted.filter(col("vec_id") === 0).count() == 1)
    assert(compacted.count() == emb.count())
    assert(compacted.filter(col("vec_id") === 0).head().getAs[Long]("version") == 1L)
  }

  test("describe reports live vs stored counts, catalog fields, and compaction debt") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_describe").toString
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    IvfIndex.build(spark, emb, dir)
    val n = emb.count()

    val d0 = IvfIndex.describe(spark, dir)
    assert(d0.columns.toSeq ==
      Seq("list_id", "live_points", "stored_rows", "dim", "metric", "nlist", "next_version"))
    val t0 = d0.agg(sum("live_points"), sum("stored_rows")).head()
    assert(t0.getLong(0) == n && t0.getLong(1) == n, "fresh build: live == stored == corpus")
    val meta0 = d0.select("dim", "metric", "nlist", "next_version").distinct().head()
    assert(meta0.getInt(0) == 64 && meta0.getString(1) == "cosine" && meta0.getLong(3) == 1L)

    // a re-upsert creates compaction debt visible in describe
    IvfIndex.append(spark, emb.filter(col("vec_id") === 0), dir)
    val d1 = IvfIndex.describe(spark, dir)
    val t1 = d1.agg(sum("live_points"), sum("stored_rows")).head()
    assert(t1.getLong(0) == n && t1.getLong(1) == n + 1,
      "one superseded row: live unchanged, stored +1")
    assert(d1.select("next_version").head().getLong(0) == 2L, "append advanced the catalog")

    // compact pays the debt down
    IvfIndex.compact(spark, dir)
    val t2 = IvfIndex.describe(spark, dir).agg(sum("live_points"), sum("stored_rows")).head()
    assert(t2.getLong(0) == n && t2.getLong(1) == n)
  }

  test("probing ALL lists equals exact brute-force k-NN (completeness)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val nlist = emb.select("label").distinct().count().toInt
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val full = IvfIndex.probe(spark, indexDir, queries, k = 5, nprobe = nlist)
      .select($"qid", $"vec_id", $"rank").as[(Long, Long, Long)].collect().toSet
    val exact = graft.operators.Knn.knnTopkCosine(spark, TestSpark.Sf0001)
      .select($"qid", $"vec_id", $"rank").as[(Long, Long, Long)].collect().toSet
    assert(full == exact && full.nonEmpty,
      "an IVF probe over every inverted list must reduce to exact search")
  }

  test("unsupervised KMeans build needs no labels; layout prunes and recall matches the labeled build") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val nlist = emb.select("label").distinct().count().toInt
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_unsup").toString
    // label column DROPPED: the quantizer must be learned, not read
    IvfIndex.buildUnsupervised(spark, emb.drop("label"), dir, nlist = nlist, seed = 7L)

    // identical layout contract: directory-partitioned, pruned scan
    val dirs = new java.io.File(IvfIndex.pointsPath(dir))
      .listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("list_id=")))
    val plan = IvfIndex.prunedPointsScan(spark, dir, Seq(dirs.head.stripPrefix("list_id=").toLong))
      .queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*list_id""".r.findFirstIn(plan).isDefined)

    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = graft.operators.Knn.knnTopkCosine(spark, TestSpark.Sf0001)
      .select($"qid", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recallOf(idx: String): Double = {
      val got = IvfIndex.probe(spark, idx, queries, k = 5, nprobe = 1)
        .select($"qid", $"vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      exact.map { case (q, ids) => (ids & got.getOrElse(q, Set.empty)).size.toDouble / ids.size }
        .sum / exact.size
    }
    val labeledRecall = recallOf(indexDir)
    val unsupRecall   = recallOf(dir)
    assert(unsupRecall >= labeledRecall,
      s"KMeans quantizer recall $unsupRecall must not trail the labeled build's $labeledRecall")

    // the write side is label-free too: append unlabeled vectors, probe
    // still returns no stale duplicates
    IvfIndex.append(spark, emb.drop("label").filter(col("vec_id") === 0), dir, version = 1L)
    val r = IvfIndex.probe(spark, dir, queries, k = 3, nprobe = 1)
    assert(r.groupBy("qid", "vec_id").count().filter(col("count") > 1).count() == 0)
  }

  test("build writes the catalog entry; append auto-assigns versions from it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_meta").toString
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    IvfIndex.build(spark, emb, dir)

    val meta = IvfIndex.readMeta(spark, dir).getOrElse(fail("build must write _meta.json"))
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val nlist = emb.select("label").distinct().count()
    assert((meta.dim, meta.metric, meta.nlist, meta.nextVersion) == (dim, "cosine", nlist, 1L))
    assert(meta.buildId != 0L, "build must stamp a per-build nonce")

    // two catalog-guarded appends: versions 1 then 2, no caller-side counter
    IvfIndex.append(spark, emb.filter(col("vec_id") === 0), dir)
    IvfIndex.append(spark, emb.filter(col("vec_id") === 0), dir)
    assert(IvfIndex.readMeta(spark, dir).get.nextVersion == 3L)
    val v = IvfIndex.latestPoints(spark.read.parquet(IvfIndex.pointsPath(dir)))
      .filter(col("vec_id") === 0).head().getAs[Long]("version")
    assert(v == 2L, "latest auto-assigned version must win")

    // an explicit-version append can never rewind the counter
    IvfIndex.append(spark, emb.filter(col("vec_id") === 1), dir, version = 10L)
    assert(IvfIndex.readMeta(spark, dir).get.nextVersion == 11L)
  }

  test("an empty append batch is a no-op: no rows written, no version burned") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_emptyappend").toString
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    IvfIndex.build(spark, emb, dir)
    IvfIndex.append(spark, emb.filter(col("vec_id") < 0), dir) // matches nothing
    assert(spark.read.parquet(IvfIndex.pointsPath(dir)).count() == emb.count())
    assert(IvfIndex.readMeta(spark, dir).get.nextVersion == 1L,
      "an empty batch must not consume a version number")
  }

  test("a dim-mismatched append fails fast at DDL time, not inside a probe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_dimguard").toString
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    IvfIndex.build(spark, emb, dir)
    val wrongDim = emb.filter(col("vec_id") === 0)
      .withColumn("embedding", slice(col("embedding"), 1, 3))
    val e = intercept[IllegalArgumentException] {
      IvfIndex.append(spark, wrongDim, dir, version = 1L)
    }
    assert(e.getMessage.contains("dim"), s"error must name the dim mismatch: ${e.getMessage}")
    // nothing was written: the index still holds exactly the built corpus
    assert(spark.read.parquet(IvfIndex.pointsPath(dir)).count() == emb.count())
  }

  test("recall@5 vs nprobe: monotone, and probing every list reaches 1.0") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val nlist = emb.select("label").distinct().count().toInt
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = graft.operators.Knn
      .topK(queries, emb.select(col("vec_id"), col("embedding")), k = 5)
      .select($"qid", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recallAt(nprobe: Int): Double = {
      val got = IvfIndex.probe(spark, indexDir, queries, k = 5, nprobe = nprobe)
        .select($"qid", $"vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      exact.map { case (q, ids) => (ids & got.getOrElse(q, Set.empty)).size.toDouble / ids.size }
        .sum / exact.size
    }
    val curve = Seq(1, 2, 4, nlist).map(np => np -> recallAt(np))
    info(s"recall@5 curve (sf0.001, 20 queries): " +
      curve.map { case (np, r) => s"nprobe=$np: ${math.rint(r * 1000) / 1000}" }.mkString(", "))
    assert(curve.sliding(2).forall { case Seq((_, a), (_, b)) => b >= a - 1e-12 },
      s"recall must not decrease as nprobe grows: $curve")
    assert(math.abs(curve.last._2 - 1.0) < 1e-12, "nprobe = nlist must reach exact recall")
  }

  test("nprobe > 1 widens the search to more lists, never fewer results") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val n1 = IvfIndex.probe(spark, indexDir, queries, k = 5, nprobe = 1)
    val n2 = IvfIndex.probe(spark, indexDir, queries, k = 5, nprobe = 2)
    assert(n2.select("probe_list").distinct().count() >= n1.select("probe_list").distinct().count())
    assert(n2.count() >= n1.count())
  }

  test("sign-bit build: width formula boundaries, exact assignment, probe-compatible layout") {
    // b = bit_length(⌊(n-1)/target⌋): smallest b with 2^b·target >= n —
    // the integer-exact boundaries the q62 oracle mirrors via bin()
    assert(IvfIndex.signBitWidth(0, 200) == 0)
    assert(IvfIndex.signBitWidth(200, 200) == 0)
    assert(IvfIndex.signBitWidth(201, 200) == 1)
    assert(IvfIndex.signBitWidth(400, 200) == 1)
    assert(IvfIndex.signBitWidth(401, 200) == 2)
    assert(IvfIndex.signBitWidth(25600, 200) == 7)
    assert(IvfIndex.signBitWidth(25601, 200) == 8)

    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_signbit_spec").toString
    val b = IvfIndex.buildSignBit(spark, emb, dir)
    assert(b == IvfIndex.signBitWidth(emb.count(), 200))

    // every persisted list_id is exactly the point's sign-bit code
    val pts = spark.read.parquet(IvfIndex.pointsPath(dir))
    val code = (0 until b).map(i =>
      when(col("embedding").getItem(i) > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    assert(pts.filter(col("list_id") =!= code).count() == 0)
    assert(pts.count() == emb.count())

    // full index citizen: catalog, describe, and probes work against it
    val meta = IvfIndex.readMeta(spark, dir).get
    assert(meta.nlist == pts.select("list_id").distinct().count())
    assert(IvfIndex.describe(spark, dir).count() == meta.nlist)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    assert(IvfIndex.probe(spark, dir, queries, k = 3, nprobe = 1).count() > 0)
  }

  test("sign-bit width caps at dim: 2^dim orthants, never an out-of-bounds sign read") {
    import spark.implicits._
    val dim = 3
    val rnd = new scala.util.Random(5)
    val rows = (0 until 3000)
      .map(i => (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_signbit_cap").toString
    val b = IvfIndex.buildSignBit(spark, rows, dir) // uncapped width would be 4
    assert(b == dim)
    assert(spark.read.parquet(IvfIndex.pointsPath(dir))
      .select("list_id").distinct().count() <= (1L << dim))
  }

  test("q176 upsert-search: the re-upsert visibly changes the result and the probe reads a compacted layout") {
    import org.apache.spark.sql.functions._
    // the declared row end-to-end: its result must DIFFER from the
    // never-upserted q38 probe (the modified stratum includes corpus
    // points near the queries), proving the LWW append is live in the
    // answer, not a no-op
    val upserted = IvfIndex.upsertSearch(spark, TestSpark.Sf0001)
      .select("qid", "vec_id", "score").collect().toSet
    val fresh = IvfIndex.ivfIndexProbe(spark, TestSpark.Sf0001)
      .select("qid", "vec_id", "score").collect().toSet
    assert(upserted != fresh, "the re-upserted stratum must change the probe result")
    // and the maintain(debtRatio = 1.0) pass must have compacted: a
    // fresh replica of the lifecycle ends with zero compaction debt
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_q176_spec").toString
    IvfIndex.build(spark, emb, dir)
    IvfIndex.append(spark, IvfIndex.upsertStratumOf(emb), dir)
    val report = IvfIndex.maintain(spark, dir, debtRatio = 1.0)
    assert(report.compacted, "debtRatio 1.0 must trigger compact after any re-upsert")
    val post = spark.read.parquet(IvfIndex.pointsPath(dir))
      .agg(count(lit(1)), countDistinct(col("vec_id"))).head()
    assert(post.getLong(0) == post.getLong(1), "post-compact layout must hold exactly the live rows")
  }
}
