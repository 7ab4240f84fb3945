package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

case class Ev(ts: Timestamp, event_type: String, value: Double)

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def t(s: String) = Timestamp.valueOf(s)

  test("streaming windowed counts equal the batch computation over the same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      Ev(t("2024-01-01 00:10:00"), "click", 1.0),
      Ev(t("2024-01-01 00:50:00"), "click", 2.0),
      Ev(t("2024-01-01 01:05:00"), "click", 4.0),
      Ev(t("2024-01-01 00:20:00"), "view", 8.0),
      Ev(t("2024-01-01 02:59:59"), "view", 16.0))

    val input = MemoryStream[Ev]
    val q = EventStream.startToMemory(input.toDF(), "stream_agg")
    try {
      input.addData(rows.take(3))
      q.processAllAvailable()
      input.addData(rows.drop(3))
      q.processAllAvailable()

      val streamed = spark.table("stream_agg")
        .orderBy("bucket_start", "event_type")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
      val batch = EventStream.windowedEventCounts(rows.toDF())
        .orderBy("bucket_start", "event_type")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq

      assert(streamed == batch)
      assert(streamed.map(_._3).sum == rows.size)
      assert(streamed.contains((t("2024-01-01 00:00:00"), "click", 2L, 3.0)))
    } finally q.stop()
  }

  test("q151: the file-source streaming run equals batch q13 row-for-row, and re-runs work") {
    val streamed = EventStream.streamWindowStats(spark, TestSpark.Sf0001).collect().toSeq
    val batch = graft.operators.Analytics.eventWindowStats(spark, TestSpark.Sf0001).collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // second invocation must not collide on the memory-sink query name
    // (the bench samples the declared row several times per session)
    assert(EventStream.streamWindowStats(spark, TestSpark.Sf0001).count() == batch.size.toLong)
  }

  test("declared streams run on their own session: the caller's shuffle width is unchanged during and after") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val streams = Seq(
      "q151" -> (() => EventStream.streamWindowStats(spark, TestSpark.Sf0001)),
      "q179" -> (() => EventStream.streamAppendWindows(spark, TestSpark.Sf0001)),
      "q160" -> (() => EventStream.streamSessionize(spark, TestSpark.Sf0001)))
    streams.foreach { case (name, run) =>
      val done = Future(run().count())
      val seen = scala.collection.mutable.Set.empty[String]
      while (!done.isCompleted) { seen += spark.conf.get(key); Thread.sleep(2) }
      assert(Await.result(done, 5.minutes) > 0, s"$name: empty result")
      assert(seen.forall(_ == before) && spark.conf.get(key) == before,
        s"$name: the caller's $key read ${seen.mkString(", ")} during the stream, ${spark.conf.get(key)} after; want $before")
    }
  }

  test("q180 streaming ingest lands byte-identical to the batch upsert lifecycle (q176)") {
    val streamed = EventStream.streamVectorIngest(spark, TestSpark.Sf0001).collect().toSeq
    val batch = graft.operators.IvfIndex.upsertSearch(spark, TestSpark.Sf0001).collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "the two-batch streaming replay must produce q176's exact probe result")
  }

  test("q181 streaming classification lands row-identical to batch q80") {
    val streamed = EventStream.streamDedupStore(spark, TestSpark.Sf0001).collect().toSeq
    val batch = graft.operators.Incremental.incrementalDedup(spark, TestSpark.Sf0001).collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "the two-batch artifact-probing replay must produce q80's exact verdict set")
  }

  test("q179 append mode emits exactly the finalized windows of the q151 complete snapshot") {
    val complete = EventStream.streamWindowStats(spark, TestSpark.Sf0001).collect().toSeq
    val append = EventStream.streamAppendWindows(spark, TestSpark.Sf0001).collect().toSeq
    // the final watermark: max event time (ms-floored, Spark's watermark
    // resolution) minus the 2 h delay — windows whose END it has passed
    // are emitted, the trailing horizon is withheld
    val maxTsMs = graft.Tables.events(spark, TestSpark.Sf0001)
      .agg(max(col("ts"))).head().getTimestamp(0).getTime
    val wmMs = maxTsMs - 2L * 3600 * 1000
    val finalized = complete.filter(r => (r.getLong(0) + 3600) * 1000 <= wmMs)
    assert(append.nonEmpty && append.size < complete.size,
      "append mode must withhold the trailing unfinalized windows")
    assert(append == finalized,
      "append-mode emission must be EXACTLY the windows the final watermark passed")
  }

  test("stateful sessionization: keyed state carries sessions across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val min = 60L * 1000000L // one minute in micros

    val input = MemoryStream[EventStream.UserEvent]
    val q = EventStream.sessionizeStream(input.toDS()).writeStream
      .format("memory").queryName("stream_sessions").outputMode("update").start()
    try {
      // batch 1: user 1 two close events (one session); user 2 one event
      input.addData(Seq(
        EventStream.UserEvent(1L, 10 * min, 100L),
        EventStream.UserEvent(1L, 12 * min, 101L),
        EventStream.UserEvent(2L, 11 * min, 200L)))
      q.processAllAvailable()
      val after1 = spark.table("stream_sessions")
        .as[EventStream.SessSnapshot].collect().map(s => s.user_id -> s).toMap
      assert(after1(1L).session_id == 1L && after1(1L).n_events == 2L)
      assert(after1(2L).session_id == 1L && after1(2L).n_events == 1L)

      // batch 2: user 1 continues within the gap (same session, via state);
      // user 2 returns after >30 min (new session)
      input.addData(Seq(
        EventStream.UserEvent(1L, 30 * min, 102L),
        EventStream.UserEvent(2L, 60 * min, 201L)))
      q.processAllAvailable()
      val after2 = spark.table("stream_sessions")
        .as[EventStream.SessSnapshot].collect()
        .groupBy(_.user_id).view.mapValues(_.maxBy(_.last_us)).toMap
      assert(after2(1L).session_id == 1L && after2(1L).n_events == 3L,
        "continuation within the gap must extend the session held in state")
      assert(after2(2L).session_id == 2L && after2(2L).n_events == 1L,
        "a >30-minute gap must roll the session over")
    } finally q.stop()
  }

  test("q160 audit state: multi-batch replay reproduces batch q28's totals per user") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val min = 60L * 1000000L

    val input = MemoryStream[EventStream.UserEvent]
    val q = EventStream.sessionAuditStream(input.toDS()).writeStream
      .format("memory").queryName("stream_sess_audit").outputMode("update").start()
    try {
      // user 1: sessions of 2 and 1 events split across batches; user 2:
      // a 3-event session whose members straddle the batch boundary
      input.addData(Seq(
        EventStream.UserEvent(1L, 10 * min, 100L),
        EventStream.UserEvent(1L, 12 * min, 101L),
        EventStream.UserEvent(2L, 11 * min, 200L),
        EventStream.UserEvent(2L, 13 * min, 201L)))
      q.processAllAvailable()
      input.addData(Seq(
        EventStream.UserEvent(1L, 50 * min, 102L),  // >30 min: new session
        EventStream.UserEvent(2L, 20 * min, 202L))) // within gap: extends
      q.processAllAvailable()
      val fin = spark.table("stream_sess_audit")
        .as[EventStream.SessAuditSnapshot].collect()
        .groupBy(_.user_id).view.mapValues(_.maxBy(_.n_events)).toMap
      assert(fin(1L) == EventStream.SessAuditSnapshot(1L, 3L, 2L, 2L),
        "user 1: 3 events over sessions of 2+1, max 2")
      assert(fin(2L) == EventStream.SessAuditSnapshot(2L, 3L, 1L, 3L),
        "user 2: one session extended across the batch boundary to 3 events")
    } finally q.stop()
  }

  test("q160 declared run equals batch q28 row-for-row on the fixture") {
    val stream = EventStream.streamSessionize(spark, TestSpark.Sf0001).collect().toSeq
    val batch = graft.operators.Relational.sessionize(spark, TestSpark.Sf0001).collect().toSeq
    assert(stream == batch, "the streaming custom-state path must compute the batch answer")
  }

  test("streaming dedup drops re-arrivals within the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Timestamp, String)]
    val q = EventStream.dedupStream(input.toDF().toDF("ts", "text")).writeStream
      .format("memory").queryName("stream_dedup").outputMode("append").start()
    try {
      // batch 1: a duplicate inside the batch
      input.addData(Seq(
        (t("2024-01-01 00:00:00"), "alpha"),
        (t("2024-01-01 00:01:00"), "alpha"),
        (t("2024-01-01 00:02:00"), "beta")))
      q.processAllAvailable()
      // batch 2: a cross-batch duplicate (state) + a fresh doc
      input.addData(Seq(
        (t("2024-01-01 00:10:00"), "alpha"),
        (t("2024-01-01 00:11:00"), "gamma")))
      q.processAllAvailable()

      val kept = spark.table("stream_dedup").select($"text").as[String].collect().sorted.toSeq
      assert(kept == Seq("alpha", "beta", "gamma"),
        "each distinct fingerprint must survive exactly once within the horizon")
    } finally q.stop()
  }

  test("store-backed streaming dedup drops duplicates across restarts, not just within the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft_dedup_store").toString + "/docs"
    val ckp   = java.nio.file.Files.createTempDirectory("graft_dedup_ckp").toString

    val input = MemoryStream[(Timestamp, String)]
    // batch 1: in-batch duplicate of alpha
    input.addData(Seq(
      (t("2024-01-01 00:00:00"), "alpha"),
      (t("2024-01-01 00:01:00"), "alpha"),
      (t("2024-01-01 00:02:00"), "beta")))
    val q1 = EventStream.dedupAgainstStore(input.toDF().toDF("ts", "text"), store, ckp).start()
    q1.awaitTermination()
    // batch 2 (fresh query = restart): alpha re-arrives DAYS later — far
    // beyond any watermark horizon — plus a genuinely new doc
    input.addData(Seq(
      (t("2024-02-01 00:00:00"), "alpha"),
      (t("2024-02-01 00:01:00"), "gamma")))
    val q2 = EventStream.dedupAgainstStore(input.toDF().toDF("ts", "text"), store, ckp).start()
    q2.awaitTermination()

    val kept = spark.read.parquet(store).select($"text").as[String].collect().sorted.toSeq
    assert(kept == Seq("alpha", "beta", "gamma"),
      "the persisted store must dedup across batches and restarts")

    // single-writer contract, supported mode: a different pipeline (its own
    // source + checkpoint) may resume the SAME store as long as it runs
    // sequentially — concurrent writers are the documented exclusion
    val input2 = MemoryStream[(Timestamp, String)]
    val ckp2   = java.nio.file.Files.createTempDirectory("graft_dedup_ckp2").toString
    input2.addData(Seq(
      (t("2024-03-01 00:00:00"), "beta"),
      (t("2024-03-01 00:01:00"), "delta")))
    val q3 = EventStream.dedupAgainstStore(input2.toDF().toDF("ts", "text"), store, ckp2).start()
    q3.awaitTermination()
    val kept2 = spark.read.parquet(store).select($"text").as[String].collect().sorted.toSeq
    assert(kept2 == Seq("alpha", "beta", "delta", "gamma"),
      "a sequential second writer must see the full history: beta dropped, delta admitted")
  }

  test("fuzzy store dedup: near-dup re-crawls are rejected across batches, novel docs admitted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft_fuzzy_store").toString
    val ckp   = java.nio.file.Files.createTempDirectory("graft_fuzzy_ckp").toString
    val base  = "the quick brown fox jumps over the lazy dog near the river bank today"

    val input = MemoryStream[(Long, String)]
    // batch 1 seeds the store (includes an in-batch exact dup pair)
    input.addData(Seq((1L, base), (2L, base),
      (3L, "completely different content about distributed query engines and shuffles")))
    val q1 = EventStream.fuzzyDedupAgainstStore(input.toDF().toDF("doc_id", "text"), store, ckp).start()
    q1.awaitTermination()
    // batch 2: an exact re-crawl, a near-dup re-crawl (appended boilerplate),
    // and a genuinely novel doc
    input.addData(Seq(
      (10L, base),
      (11L, base + " please subscribe"),
      (12L, "entirely fresh material never seen in any snapshot of this corpus before now")))
    val q2 = EventStream.fuzzyDedupAgainstStore(input.toDF().toDF("doc_id", "text"), store, ckp).start()
    q2.awaitTermination()

    val kept = spark.read.parquet(store).select($"doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 12L),
      s"store must hold batch-1 keepers + the novel doc only, got $kept")
  }

  test("foreachBatch upsert sink: last-writer-wins view resolves re-ingested ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val ckp = java.nio.file.Files.createTempDirectory("graft_ckp").toString

    val input = MemoryStream[(Long, String)]
    // two batches re-ingesting id 1 with a new payload
    input.addData(Seq((1L, "v0"), (2L, "v0")))
    val q1 = EventStream.upsertWriter(input.toDF().toDF("id", "payload"), dir, ckp).start()
    q1.awaitTermination()
    input.addData(Seq((1L, "v1")))
    val q2 = EventStream.upsertWriter(input.toDF().toDF("id", "payload"), dir, ckp).start()
    q2.awaitTermination()

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("version").desc)
    val latest = spark.read.parquet(dir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("id"), col("payload")).as[(Long, String)].collect().toMap
    assert(latest == Map(1L -> "v1", 2L -> "v0"))
  }

  test("streaming vector ingest: micro-batches append into the IVF index, probes see them, graphs go stale") {
    import spark.implicits._
    import graft.operators.{GraphAnn, IvfIndex}
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_vec_ingest").toString
    val ckp = java.nio.file.Files.createTempDirectory("graft_vec_ckp").toString
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    IvfIndex.build(spark, emb, dir)
    GraphAnn.buildGraphs(spark, dir, m = 8, efConstruction = 32)
    val versionsBefore = IvfIndex.readMeta(spark, dir).get.nextVersion

    // stream two micro-batches: a NEW vector identical to vector 7 (must
    // co-route and tie at score 1.0) and a re-ingest of id 3 (LWW)
    val v7 = emb.filter(col("vec_id") === 7)
      .select($"embedding", $"label").as[(Array[Float], Long)].head()
    val input = MemoryStream[(Long, Array[Float], Long)]
    input.addData(Seq((900001L, v7._1, v7._2)))
    EventStream.vectorIngest(input.toDF().toDF("vec_id", "embedding", "label"), dir, ckp)
      .start().awaitTermination()
    input.addData(Seq((3L, v7._1, v7._2))) // id 3 re-ingested with vector 7's embedding
    EventStream.vectorIngest(input.toDF().toDF("vec_id", "embedding", "label"), dir, ckp)
      .start().awaitTermination()

    // each non-empty micro-batch burned exactly one catalog version
    assert(IvfIndex.readMeta(spark, dir).get.nextVersion == versionsBefore + 2)

    // a probe with vector 7 as the query sees BOTH streamed rows at 1.0
    val q = emb.filter(col("vec_id") === 7)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val top = IvfIndex.probe(spark, dir, q, k = 3, nprobe = 1)
      .select($"vec_id", $"score").as[(Long, Double)].collect().toMap
    assert(top.get(900001L).contains(1.0), s"streamed new vector must surface at cosine 1.0; got $top")
    assert(top.get(3L).contains(1.0), s"re-ingested id 3 must rank by its NEW embedding; got $top")

    // the secondary graph index knows it predates the stream
    val e = intercept[IllegalArgumentException] {
      GraphAnn.probeGraph(spark, dir, q, k = 3, nprobe = 1, ef = 8).collect()
    }
    assert(e.getMessage.contains("stale"))

    // ONE maintain pass restores the whole collection without any manual
    // compact/buildGraphs calls: the re-ingested id 3 left a superseded
    // row (debt), and the graphs are stale — maintain must fix both
    val report = IvfIndex.maintain(spark, dir, debtRatio = 1.0)
    assert(report.storedRows > report.livePoints, "the LWW re-ingest must show as compaction debt")
    assert(report.compacted, s"debt past the ratio must trigger compact; got $report")
    assert(report.graphsRebuilt, s"stale graphs must trigger a rebuild; got $report")
    // graph probe works again, full-ef equals the exact probe, streamed rows present
    val viaGraph = GraphAnn.probeGraph(spark, dir, q, k = 3, nprobe = 1, ef = Int.MaxValue)
      .select($"vec_id", $"score").as[(Long, Double)].collect().toMap
    assert(viaGraph.get(900001L).contains(1.0) && viaGraph.get(3L).contains(1.0),
      s"post-maintain graph probe must see the streamed vectors; got $viaGraph")
    // compaction purged the superseded row; a second pass is a no-op
    val again = IvfIndex.maintain(spark, dir, debtRatio = 1.0)
    assert(again.storedRows == again.livePoints && !again.compacted && !again.graphsRebuilt,
      s"maintain must be idempotent once debt and staleness are cleared; got $again")

    // in-stream maintenance (maintainEvery=1): the next streamed batch
    // triggers maintain inside foreachBatch, so the graph probe works
    // immediately after the stream — no manual calls at all
    input.addData(Seq((900002L, v7._1, v7._2)))
    EventStream.vectorIngest(input.toDF().toDF("vec_id", "embedding", "label"), dir, ckp,
      maintainEvery = 1).start().awaitTermination()
    // k=4: vectors 3/7/900001/900002 all tie at cosine 1.0 and the
    // tie-break is ascending vec_id, so k=3 would drop 900002 legitimately
    val fresh = GraphAnn.probeGraph(spark, dir, q, k = 4, nprobe = 1, ef = Int.MaxValue)
      .select($"vec_id").as[Long].collect().toSet
    assert(fresh.contains(900002L),
      s"in-stream maintain must leave the graph fresh AND containing the new vector; got $fresh")
  }

  test("maintain vs racing appends: versioned catalog guard detects every interleave, loses nothing") {
    import spark.implicits._
    import graft.operators.{GraphAnn, IvfIndex}
    val dir = java.nio.file.Files.createTempDirectory("graft_maintain_race").toString
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    IvfIndex.build(spark, emb, dir)
    GraphAnn.buildGraphs(spark, dir, m = 8, efConstruction = 32)
    val base = emb.count()
    val seed = emb.filter(col("vec_id") === 7)
      .select($"embedding", $"label").as[(Array[Float], Long)].head()

    // Maintain is documented single-writer WITHIN a pass; the promise
    // worth testing is what guards the cycles BETWEEN passes: the
    // versioned catalog. Interleave appends with maintain passes —
    // alternating brand-new ids (graph staleness) with re-sent ids
    // (compaction debt) — and after every interleave assert the three
    // invariants the catalog guard owes: (1) the version counter is
    // strictly monotone, so racing sequential appends can never collide
    // on a version; (2) graph staleness is DETECTED (probeGraph fails
    // fast rather than silently serving the pre-append graph); (3) no
    // appended point is ever lost across the maintain that follows.
    var lastVersion = IvfIndex.readMeta(spark, dir).get.nextVersion
    var expectedLive = base
    (1 to 3).foreach { i =>
      val newId = 910000L + i
      IvfIndex.append(spark,
        Seq((newId, seed._1, seed._2)).toDF("vec_id", "embedding", "label"), dir)
      expectedLive += 1
      IvfIndex.append(spark, // re-sent id: pure LWW debt, no live growth
        Seq((3L, seed._1, seed._2)).toDF("vec_id", "embedding", "label"), dir)
      val v = IvfIndex.readMeta(spark, dir).get.nextVersion
      assert(v >= lastVersion + 2, s"two appends must burn two versions; $lastVersion -> $v")
      lastVersion = v

      assert(GraphAnn.graphsStale(spark, dir), s"interleave $i: appends must pin-mismatch the graph")
      val q = emb.filter(col("vec_id") === 7)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val e = intercept[IllegalArgumentException] {
        GraphAnn.probeGraph(spark, dir, q, k = 3, nprobe = 1, ef = 8).collect()
      }
      assert(e.getMessage.contains("stale"), "stale graph must fail fast, never silently serve")

      val report = IvfIndex.maintain(spark, dir, debtRatio = 1.0)
      assert(report.compacted && report.graphsRebuilt, s"interleave $i: $report")
      val live = IvfIndex.latestPoints(spark.read.parquet(IvfIndex.pointsPath(dir)))
        .select($"vec_id").as[Long].collect().toSet
      assert(live.size == expectedLive && (910001L to 910000L + i).forall(live),
        s"interleave $i: every appended id must survive maintain; ${live.size} vs $expectedLive")
      assert(IvfIndex.readMeta(spark, dir).get.nextVersion >= lastVersion,
        "maintain must never rewind the catalog version")

      val again = IvfIndex.maintain(spark, dir, debtRatio = 1.0)
      assert(!again.compacted && !again.graphsRebuilt,
        s"interleave $i: maintain must be idempotent until the NEXT append; got $again")
    }
  }
}
