package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array, col, posexplode, size}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupExtras, Incremental}
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
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_inc_stream_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_inc_stream_ckpt").toString
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val ran = SparkProbe(spark) {
      val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
      q = EventStream.classifyAgainstStore(stream, artifacts, out, ckpt).start()
      q.awaitTermination()
    }
    q.exception.foreach(e => throw e)
    val withInput = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSet
    val perBatch = ran.jobs
      .filter(p => p.getProperty("sql.streaming.queryId") == q.id.toString)
      .flatMap(p => Option(p.getProperty("streaming.sql.batchId")).map(_.toLong)).filter(withInput)
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
    // every micro-batch is ONE job: the write of its verdicts, a narrow
    // scan -> per-row expressions -> table probes -> parquet pass over
    // lookup tables the writer loaded and broadcast at creation. No
    // artifact listing, schema read, table load or broadcast, no shuffle,
    // cache or checkpoint — any extra Spark action per batch fails here
    assert(jobsPerBatch.size == 3 && jobsPerBatch.values.forall(_ == 1),
      s"jobs per micro-batch: $jobsPerBatch")
  }

  test("storeArtifacts reads the artifact tables under their declared schemas: no schema-inference job") {
    val (artifacts, _, _) = stagedStream(1)
    // lookup carrier: the shingle sum (two jobs under adaptive execution:
    // its shuffle stage and its result) and the three table collects;
    // join carrier: the shingle sum alone. Inferring each table's parquet
    // schema would add one job per table to both
    val tables = SparkProbe.jobs(spark)(Incremental.storeArtifacts(spark, artifacts, Long.MaxValue))
    val frames = SparkProbe.jobs(spark)(Incremental.storeArtifacts(spark, artifacts, 0L))
    assert((tables, frames) == ((5, 2)), s"storeArtifacts ran $tables jobs (tables), $frames (frames)")
  }

  test("a writer created after the artifacts are rebuilt classifies against the new store") {
    import spark.implicits._
    val (artifacts, src, batch) = stagedStream(2)
    val (first, _) = runClassifyStream(artifacts, src, batch.schema)
    // the same directory, rebuilt from a snapshot without the sources of
    // the exact re-crawls (doc_id % 5 == 0): the stream that ran keeps
    // its verdicts, a new writer must load the new tables
    val store2 = Tables.documents(spark, TestSpark.Sf0001).select("doc_id", "text")
      .filter(col("doc_id") % 5 =!= 0)
    Incremental.buildStoreArtifacts(store2, artifacts)
    val (second, _) = runClassifyStream(artifacts, src, batch.schema)
    val expected = Incremental.incrementalDedupOf(batch, store2).as[(Long, String, Long)].collect().toSeq
    assert(second == expected, s"${second.size} verdicts after the rebuild vs ${expected.size} expected")
    assert(first != second && first.count(_._2 == "exact_dup") > second.count(_._2 == "exact_dup"),
      "the rebuild must change the exact verdicts of the re-crawls whose source it dropped")
  }

  /** A hand store with built artifacts, a batch planting the rule's edge
    * cases, and the verdicts the rule gives them. Premises the cases rely
    * on (band collisions) are checked, so a change of hash family fails
    * here rather than hollowing a case out.
    */
  private def plantedStore(): (String, DataFrame, Seq[(Long, String, Long)]) = {
    import spark.implicits._
    def words(tag: String, n: Int): String = (0 until n).map(i => s"$tag$i").mkString(" ")
    val e = words("e", 40)
    val m = words("m", 40)
    val half = words("s0x", 12)   // 10 shingles
    val below = words("s1x", 102) // 100 shingles
    val store = Seq(
      (3L, s"$e tail words"),       // near-dup of batch 101, lower id than its exact copy
      (30L, e),
      (40L, half),
      (50L, below),
      (62L, s"$m alpha beta"),
      (60L, s"$m gamma delta epsilon"),
      (61L, s"$m zeta")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (101L, e),                             // exact copy of 30, near candidate of 3: exact wins
      (102L, s"$half ${words("s0y", 10)}"),  // jaccard 10/20 = 0.5 exactly: verified
      (103L, s"$below ${words("s1y", 101)}"),// jaccard 100/201 = 0.497512: rejected
      (104L, s"$m eta theta"),               // near-dup of 60, 61 and 62: the min id wins
      (105L, "hi there")                     // < 3 tokens: cannot near-match
    ).toDF("doc_id", "text")
    val bandsOf = (df: DataFrame) => DedupExtras.bandRowsOf(DedupExtras.signaturesOf(DedupExtras.shingleSetsOf(df)))
    val shared = bandsOf(store).as("s").join(bandsOf(batch).as("b"), Seq("band", "bkey"))
      .select(col("b.doc_id"), col("s.doc_id"), col("band")).as[(Long, Long, Int)].collect().toSeq
    def bandsShared(b: Long, s: Long) = shared.collect { case (`b`, `s`, band) => band }.toSet
    assert(bandsShared(101L, 3L).nonEmpty, "101 must be a near candidate of 3")
    assert(bandsShared(102L, 40L).nonEmpty && bandsShared(103L, 50L).nonEmpty,
      "the threshold cases must be band candidates, or verification is never asked")
    assert(Seq(60L, 61L, 62L).forall(bandsShared(104L, _).nonEmpty) &&
      Seq(60L, 61L, 62L).flatMap(bandsShared(104L, _)).toSet.size >= 2,
      "104 must reach all three store variants, through more than one band")
    val dir = java.nio.file.Files.createTempDirectory("graft_planted_art").toString
    Incremental.buildStoreArtifacts(store, dir)
    (dir, batch, Seq(
      (101L, "exact_dup", 30L),
      (102L, "near_dup", 40L),
      (103L, "new", -1L),
      (104L, "near_dup", 60L),
      (105L, "new", -1L)))
  }

  test("the lookup and join carriers give identical verdicts on planted edge cases and on q80's batch") {
    import spark.implicits._
    val (dir, planted, expected) = plantedStore()
    val lookup = Incremental.storeArtifacts(spark, dir, Long.MaxValue)
    val joins = Incremental.storeArtifacts(spark, dir, 0L)
    assert(lookup.isInstanceOf[Incremental.StoreLookup] && joins.isInstanceOf[Incremental.StoreFrames])
    def run(side: Incremental.StoreSide, b: DataFrame) =
      Incremental.classify(b, side).as[(Long, String, Long)].collect().toSeq.sortBy(_._1)
    assert(run(lookup, planted) == expected)
    assert(run(joins, planted) == expected)
    assert(run(lookup, planted.limit(0)).isEmpty && run(joins, planted.limit(0)).isEmpty,
      "an empty micro-batch classifies to no rows")
    // the fixture store: every stratum of q80's batch, in one and in three batches
    val store = Tables.documents(spark, TestSpark.Sf0001).select("doc_id", "text")
    val art = java.nio.file.Files.createTempDirectory("graft_carrier_art").toString
    Incremental.buildStoreArtifacts(store, art)
    val q80 = Incremental.batchOf(store)
    val viaLookup = Incremental.storeArtifacts(spark, art, Long.MaxValue)
    val viaJoins = Incremental.storeArtifacts(spark, art, 0L)
    val whole = run(viaLookup, q80)
    assert(whole.map(_._2).toSet == Set("exact_dup", "near_dup", "new"))
    assert(whole == run(viaJoins, q80))
    val split = (0 until 3).flatMap(i => run(viaLookup, q80.filter(col("doc_id") % 3 === i))).sortBy(_._1)
    assert(split == whole, "classification is per-doc: a batch split changes no verdict")
  }

  test("the per-row signature and band keys equal the aggregate signaturesOf and bandRowsOf") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val vocab = (0 until 40).map(i => s"t$i")
    val docs = (0 until 200).map(i => (i.toLong, Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
    val sh = DedupExtras.shingleSetsOf(docs).cache()
    try {
      val slots = (0 until DedupExtras.NumHashes).map(i => DedupExtras.signatureOf(col("sh"), i))
      val perRow = sh.filter(size(col("sh")) > 0).select(col("doc_id") +: slots.zipWithIndex.map { case (c, i) => c.as(s"sig$i") }: _*)
      val agg = DedupExtras.signaturesOf(sh)
      val cols = "doc_id" +: (0 until DedupExtras.NumHashes).map(i => s"sig$i")
      def rows(df: DataFrame) = df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
      assert(rows(perRow).size > 150 && rows(perRow) == rows(agg))
      assert(sh.filter(size(col("sh")) === 0).count() > 0, "some docs are under 3 tokens: no signature")
      val keys = perRow.select(col("doc_id"),
        posexplode(array(DedupExtras.bandKeysOf(slots.indices.map(i => col(s"sig$i"))): _*)))
      def bandSet(df: DataFrame) = df.toDF("doc_id", "band", "bkey").as[(Long, Int, String)].collect().toSet
      assert(bandSet(keys) == bandSet(DedupExtras.bandRowsOf(agg)))
    } finally sh.unpersist()
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
