package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Incremental
import graft.streaming.EventStream

/** q80 incremental dedup: the batch-vs-store classification must catch
  * verbatim re-crawls (exact), appended-boilerplate re-crawls (near), and
  * let genuinely novel docs through — with deterministic matched ids.
  */
class IncrementalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("q153: every diff status matches its closed-form id derivation, unchanged docs absent") {
    val out = Incremental.snapshotDiff(spark, TestSpark.Sf0001)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.nonEmpty)
    val n = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet").count()
    (0L until n).foreach { id =>
      val inOld = id % 11 != 3
      val inNew = id % 13 != 5
      val edited = id % 7 == 0
      val expected =
        if (inOld && !inNew) Some("removed")
        else if (!inOld && inNew) Some("added")
        else if (inOld && inNew && edited) Some("modified")
        else None // unchanged or in neither snapshot: absent from the diff
      assert(out.get(id) == expected, s"doc $id: got ${out.get(id)}, expected $expected")
    }
  }

  test("hand corpus: exact re-crawl, near variant, novel doc, short doc") {
    import spark.implicits._
    val store = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about distributed query engines and shuffles"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank today"), // store-internal dup of 1
      (4L, "hi there")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact copy of 1/3
      (102L, "completely different content about distributed query engines and shuffles " +
        "please subscribe"), // near variant of 2 (2 appended tokens)
      (103L, "entirely fresh material never seen in any snapshot of this corpus before now"),
      (104L, "hi")
    ).toDF("doc_id", "text")

    val out = Incremental.incrementalDedupOf(batch, store)
      .as[(Long, String, Long)].collect().toList
    assert(out == List(
      (101L, "exact_dup", 1L), // min store id wins across the internal dup pair
      (102L, "near_dup", 2L),
      (103L, "new", -1L),
      (104L, "new", -1L)       // < 3 tokens: no shingles, cannot near-match
    ))
  }

  test("a batch equal to the store is entirely exact_dup against it") {
    import spark.implicits._
    val store = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six")
    ).toDF("doc_id", "text")
    val batch = store.select((org.apache.spark.sql.functions.col("doc_id") + 100).as("doc_id"),
      org.apache.spark.sql.functions.col("text"))
    val out = Incremental.incrementalDedupOf(batch, store)
      .as[(Long, String, Long)].collect().toList
    assert(out == List((101L, "exact_dup", 1L), (102L, "exact_dup", 2L)))
  }

  test("artifact path: classification against persisted store artifacts equals the inline path") {
    import spark.implicits._
    val store = Tables.documents(spark, TestSpark.Sf0001).select("doc_id", "text")
    val batch = Incremental.batchOf(store)
    val dir = java.nio.file.Files.createTempDirectory("graft_store_art").toString
    Incremental.buildStoreArtifacts(store, dir)
    val inline = Incremental.incrementalDedupOf(batch, store)
      .as[(Long, String, Long)].collect().toList
    val viaArtifacts = Incremental.incrementalDedupAgainstArtifacts(batch, dir)
      .as[(Long, String, Long)].collect().toList
    assert(inline == viaArtifacts,
      s"${inline.size} inline rows vs ${viaArtifacts.size} artifact rows")
    // a SECOND batch probes the same artifacts without rebuilding them —
    // the amortization the docs promise
    val batch2 = batch.limit(50)
    val again = Incremental.incrementalDedupAgainstArtifacts(batch2, dir)
    assert(again.count() == 50)
  }

  test("declared q80 runs on the fixture with all three dispositions present") {
    val out = Incremental.incrementalDedup(spark, TestSpark.Sf0001).cache()
    try {
      val n = out.count()
      assert(n > 0)
      import spark.implicits._
      val byDisp = out.groupBy("disposition").count()
        .as[(String, Long)].collect().toMap
      assert(byDisp.getOrElse("exact_dup", 0L) > 0, s"no exact dups: $byDisp")
      assert(byDisp.getOrElse("new", 0L) > 0, s"no novel docs: $byDisp")
      // exact re-crawls (doc_id % 5 == 0 slice) must ALL be exact_dup
      val exactSlice = out.filter("doc_id % 5 = 0 AND doc_id >= 3000000")
      assert(exactSlice.filter("disposition <> 'exact_dup'").count() == 0)
    } finally out.unpersist()
  }

  /** A store with built artifacts, and q80's batch (exact re-sends,
    * near-dup variants, novel docs) plus a <3-token doc, split on doc_id
    * into `nFiles` stream files. Classification is per-doc independent, so
    * neither the verdict set nor the per-batch job count depends on the
    * order the file source replays them in.
    */
  private def stagedStream(nFiles: Int): (String, String, DataFrame) = {
    import spark.implicits._
    val store = Tables.documents(spark, TestSpark.Sf0001).select("doc_id", "text")
    val artifacts = java.nio.file.Files.createTempDirectory("graft_inc_stream_art").toString
    Incremental.buildStoreArtifacts(store, artifacts)
    val batch = Incremental.batchOf(store).unionByName(Seq((4000000L, "hi there")).toDF("doc_id", "text"))
    val src = java.nio.file.Files.createTempDirectory("graft_inc_stream_src").toString
    // split on doc_id / 5: every file mixes all of q80's strata
    (0 until nFiles).foreach { i =>
      batch.filter((col("doc_id") / 5).cast("long") % nFiles === i)
        .coalesce(1).write.mode("append").parquet(src)
    }
    (artifacts, src, batch)
  }

  /** Run [[EventStream.classifyAgainstStore]] over the staged files;
    * returns the appended verdicts sorted by doc_id and the Spark jobs of
    * each micro-batch that had input, keyed by batch id.
    */
  private def runClassifyStream(artifacts: String, src: String,
                                schema: org.apache.spark.sql.types.StructType)
      : (Seq[(Long, String, Long)], Map[Long, Int]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        for (p <- Option(e.properties); q <- Option(p.getProperty("sql.streaming.queryId"));
             b <- Option(p.getProperty("streaming.sql.batchId"))) jobs.add((q, b.toLong))
    }
    val out = java.nio.file.Files.createTempDirectory("graft_inc_stream_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_inc_stream_ckpt").toString
    sc.addSparkListener(listener)
    val q = try {
      val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
      val q = EventStream.classifyAgainstStore(stream, artifacts, out, ckpt).start()
      q.awaitTermination()
      q
    } finally {
      org.apache.spark.GraftTestBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    q.exception.foreach(e => throw e)
    val withInput = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSet
    import scala.jdk.CollectionConverters._
    val perBatch = jobs.asScala.toSeq.collect { case (id, b) if id == q.id.toString && withInput(b) => b }
      .groupBy(identity).map { case (b, js) => b -> js.size }
    val verdicts = spark.read.parquet(out).as[(Long, String, Long)].collect().toSeq.sortBy(_._1)
    (verdicts, withInput.map(b => b -> perBatch.getOrElse(b, 0)).toMap)
  }

  test("stream classification over a 3-file replay equals one artifact call over the union, in a fixed job count") {
    import spark.implicits._
    val (artifacts, src, batch) = stagedStream(3)
    val (streamed, jobsPerBatch) = runClassifyStream(artifacts, src, batch.schema)
    val oneCall = Incremental.incrementalDedupAgainstArtifacts(batch, artifacts)
      .as[(Long, String, Long)].collect().toSeq
    assert(streamed.nonEmpty && streamed == oneCall,
      s"${streamed.size} streamed verdicts vs ${oneCall.size} from one call")
    assert(oneCall.map(_._2).toSet == Set("exact_dup", "near_dup", "new"))
    assert(oneCall.contains((4000000L, "new", -1L)), "a <3-token doc cannot near-match")
    // every micro-batch is one write query over store frames resolved when
    // the writer was created: no artifact re-listing or schema read, no
    // cache, no checkpoint — an extra Spark action per batch fails here
    assert(jobsPerBatch.size == 3 && jobsPerBatch.values.forall(_ == 8),
      s"jobs per micro-batch: $jobsPerBatch")
  }

  test("stream and batch classification leave no persistent RDD or cached block behind") {
    val sc = spark.sparkContext
    val (artifacts, src, batch) = stagedStream(5)
    org.apache.spark.GraftTestBus.drain(sc)
    val rddsBefore = sc.getPersistentRDDs.keySet
    val blocksBefore = org.apache.spark.GraftTestBus.rddBlocks(sc)
    val (streamed, jobsPerBatch) = runClassifyStream(artifacts, src, batch.schema)
    assert(jobsPerBatch.size == 5 && streamed.nonEmpty)
    assert(Incremental.incrementalDedupAgainstArtifacts(batch, artifacts).collect().length == streamed.size)
    // compared as sets: the context cleaner may drop an earlier suite's
    // blocks meanwhile, but nothing this run creates may remain
    val newRdds = sc.getPersistentRDDs.keySet -- rddsBefore
    val newBlocks = org.apache.spark.GraftTestBus.rddBlocks(sc) -- blocksBefore
    assert(newRdds.isEmpty, s"persistent RDDs left behind: $newRdds")
    assert(newBlocks.isEmpty, s"RDD blocks left behind: $newBlocks")
  }
}
