package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming rendering of the reference's micro-batch ingest
  * loop (reference: vector_db.py:79-106 — accumulate 1000 points, flush,
  * repeat). Batch operator q13 (Analytics.eventWindowStats) is the
  * batch-mode equivalent of [[windowedEventCounts]]; the transformations
  * are identical, only the source/sink binding differs — which is the point
  * of building on the DataFrame API: one declaration, both execution modes.
  */
object EventStream {

  /** Tumbling 1-hour per-type event stats with a 2-hour watermark for late
    * data. Works on a batch OR streaming DataFrame with (ts, event_type,
    * value) columns.
    */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"), col("n_events"), col("sum_value"))

  /** Batched upsert sink: every micro-batch is appended with its batch id
    * as the upsert version — the streaming counterpart of q03's
    * last-writer-wins view (read side: row_number over (partition by id
    * order by version desc) = 1).
    */
  def upsertWriter(events: DataFrame, outDir: String, checkpointDir: String): DataStreamWriter[Row] =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("version", lit(batchId)).write.mode("append").parquet(outDir)
      }

  /** File-source ingest of an events directory (schema required by
    * streaming sources), useful for drills against the fixture files.
    */
  def fileStream(spark: org.apache.spark.sql.SparkSession, srcDir: String): DataFrame = {
    val schema = spark.read.parquet(srcDir).schema
    spark.readStream.schema(schema).parquet(srcDir)
  }

  /** Start the windowed aggregation into an in-memory table (complete mode)
    * — the smoke-drill entry used by tests.
    */
  def startToMemory(events: DataFrame, name: String): StreamingQuery =
    windowedEventCounts(events).writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .start()

  /** Unique memory-sink table names for [[streamWindowStats]]: the bench
    * runs the declared row several times in one session, and reusing a
    * query name across starts is an error.
    */
  private val declaredRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  /** State-partition count for the declared STATEFUL streaming rows
    * (q151/q160/q179), derived from the SOURCE size (round 18, guide §2:
    * scale-adaptive partitioning, never a constant tuned for one mode).
    * Streaming state partitioning is pinned into the checkpoint at query
    * start and every state partition pays a delta-file write + fsync PER
    * MICRO-BATCH — width beyond what the state's size can use is pure
    * commit-log overhead (measured: the q179 replay spends ~half its
    * engine time on 32-wide state commits whose aggregate state is a few
    * hundred rows). One source partition per 32 MB, clamped to
    * [1, defaultParallelism] — a 100 TB stream saturates at the full
    * core count, a fixture-scale replay stops paying for empty state
    * files. Override via SPARK_GRAFT_STREAM_STATE_PARTITIONS.
    */
  private def statePartitionsFor(spark: org.apache.spark.sql.SparkSession,
                                 srcPath: String): Int =
    sys.env.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS").map(_.toInt).getOrElse {
      val p = new org.apache.hadoop.fs.Path(srcPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bytes = fs.getContentSummary(p).getLength
      val perPartition = 32L * 1024 * 1024
      val want = ((bytes + perPartition - 1) / perPartition).toInt
      math.max(1, math.min(spark.sparkContext.defaultParallelism, want))
    }

  /** Run `f` with `spark.sql.shuffle.partitions` set to `n`, restoring the
    * session value after — the conf is consumed by the streaming query at
    * START (and pinned in its checkpoint), so the override never leaks
    * into any other query. Scoped, not session config — provided only
    * one query runs on the session at a time: while `f` runs the value
    * is session-global, so a query started concurrently on the same
    * session would pick up `n`, and two overlapping calls could restore
    * each other's value.
    */
  private def withShufflePartitions[T](spark: org.apache.spark.sql.SparkSession,
                                       n: Int)(f: => T): T = {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  /** The file SOURCE requires a directory (basePath): small fixtures ship
    * the table as one bare parquet file — expose it through a temp-dir
    * symlink; multi-part fixture dirs (sf1+) stream in place, one
    * micro-batch per part file.
    */
  private def declaredStreamPath(path: String, tmpPrefix: String): String = {
    val f = new java.io.File(path)
    if (f.isDirectory) path
    else {
      val d = java.nio.file.Files.createTempDirectory(tmpPrefix)
      java.nio.file.Files.createSymbolicLink(d.resolve(f.getName), f.toPath.toAbsolutePath)
      d.toString
    }
  }

  /** q151_stream_window_stats — the STREAMING execution mode declared
    * under the batch oracle (VERDICT r13 item 5, the q66/q67 equivalence
    * pattern): the events fixture is ingested through the Structured
    * Streaming FILE SOURCE (one micro-batch per file — multi-batch at
    * sf1+ where the fixture is a multi-part directory), flows through
    * [[windowedEventCounts]] — the same watermark + tumbling-window
    * declaration a live deployment runs — into a complete-mode sink, and
    * the FINAL table is shaped exactly like batch q13 and hash-checked
    * against q13's DuckDB oracle. A green hash proves the streaming path
    * computes the batch answer — the "one declaration, both modes"
    * claim as a hard signal instead of a spec note.
    *
    * Complete mode, deliberately: with an AvailableNow run the stream
    * ENDS, and in append mode the windows past the final watermark would
    * never emit — the classic finite-replay truncation. The sink table
    * is (bucket × type)-scale, not event-scale, so complete-mode state
    * is bounded the same way q13's aggregate output is. On an unbounded
    * deployment the SAME [[windowedEventCounts]] frame runs in append
    * mode with the watermark evicting finalized windows.
    *
    * Double-sum note: streaming sums `value` in arrival order, the batch
    * plan in scan order — both land on q13's 6-dp output rounding, the
    * suite-wide float tolerance discipline.
    */
  def streamWindowStats(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(path).schema
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(declaredStreamPath(path, "graft_q151_src"))
    val events = graft.Tables.normalizeEventTs(spark, raw)
    val name = s"graft_q151_run_${declaredRuns.incrementAndGet()}"
    withShufflePartitions(spark, statePartitionsFor(spark, path)) {
      val query = windowedEventCounts(events).writeStream
        .format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    spark.table(name).select(
      col("bucket_start").cast("long").as("bucket_start"),
      col("event_type"),
      col("n_events"),
      round(col("sum_value"), 6).as("sum_value"))
      .orderBy(col("bucket_start"), col("event_type"))
  }

  /** q179_stream_append_windows — APPEND-mode watermark EMISSION
    * semantics as a declared, oracle-checked row (VERDICT r15 forward
    * gap 4): the SAME [[windowedEventCounts]] declaration as q151, but
    * the sink receives only the windows the watermark FINALIZED — what
    * an unbounded deployment's downstream actually consumes. q151
    * proves streaming == batch on the full snapshot (complete mode);
    * this row pins WHICH windows a finite AvailableNow replay emits:
    * exactly those whose end the final watermark (max event time − 2 h,
    * advanced by the trailing no-data micro-batch) has passed. The
    * trailing windows inside the final watermark horizon are withheld —
    * the honest semantics of append mode at stream end, now
    * hash-checked against an oracle that recomputes the watermark cut
    * from the raw table instead of spec prose.
    *
    * Determinism: the replay is STAGED as two TIME-SPLIT files (below /
    * at-or-above the midpoint timestamp, written in that order), so
    * batch boundaries respect event-time order — after batch 1 the
    * watermark (max(file1) − 2 h) sits at least 2 h below every file-2
    * row, no already-emitted window can receive a late row, and the
    * trailing no-data micro-batch (on by default) flushes everything
    * eligible under the final watermark. An UNstaged replay of
    * arbitrary part files would NOT be deterministic: files overlapping
    * by more than the delay make mid-stream eviction drop late rows
    * from already-emitted windows (the fixture's single-file and
    * entity-partitioned layouts never hit this, but the declared row
    * must not depend on fixture luck) — exactly the disorder a live
    * deployment bounds with this same watermark contract, and which a
    * finite replay must stage away to be oracle-checkable.
    */
  def streamAppendWindows(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/events.parquet"
    val batch = graft.Tables.normalizeEventTs(spark, spark.read.parquet(path))
    val bounds = batch.agg(min(col("ts")), max(col("ts"))).head()
    val mid = new java.sql.Timestamp(
      (bounds.getTimestamp(0).getTime + bounds.getTimestamp(1).getTime) / 2)
    val srcDir = java.nio.file.Files.createTempDirectory("graft_q179_src").toString
    stageOrdered(srcDir,
      batch.filter(col("ts") < lit(mid)),
      batch.filter(col("ts") >= lit(mid)))
    val events = spark.readStream.schema(batch.select(col("ts"), col("event_type"), col("value")).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val name = s"graft_q179_run_${declaredRuns.incrementAndGet()}"
    withShufflePartitions(spark, statePartitionsFor(spark, srcDir)) {
      val query = windowedEventCounts(events).writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    spark.table(name).select(
      col("bucket_start").cast("long").as("bucket_start"),
      col("event_type"),
      col("n_events"),
      round(col("sum_value"), 6).as("sum_value"))
      .orderBy(col("bucket_start"), col("event_type"))
  }

  /** Stage a deterministic two-file replay directory: write each frame as
    * one part file, IN ORDER, and force the second file's mtime strictly
    * past the first's (ADVICE r16: the file source orders same-batch
    * candidates by modification time, and on a coarse-mtime filesystem
    * two sequential writes can land in one tick — the later time-half
    * would then be processed FIRST and the earlier half dropped below
    * the watermark, changing q179's emitted window set
    * nondeterministically). 2 s of skew covers every mainstream mtime
    * granularity (FAT's 2 s is the coarsest in practice).
    */
  private def stageOrdered(srcDir: String, first: DataFrame, second: DataFrame): Unit = {
    def parts = new java.io.File(srcDir).listFiles()
      .filter(_.getName.startsWith("part-")).toSet
    first.coalesce(1).write.mode("append").parquet(srcDir)
    val firstParts = parts
    second.coalesce(1).write.mode("append").parquet(srcDir)
    val maxFirst = firstParts.map(_.lastModified).max
    (parts -- firstParts).foreach { f =>
      if (f.lastModified <= maxFirst) {
        require(f.setLastModified(maxFirst + 2000),
          s"stageOrdered: could not advance mtime of $f — replay order would be nondeterministic")
      }
    }
  }

  /** q179 oracle: q13's hourly windows cut to the FINALIZED set — window
    * end (bucket + 1 h), in ms, at or below the final watermark
    * (floor(max event-time µs → ms) − 2 h; Spark tracks watermarks in
    * whole milliseconds, hence the ms flooring on the oracle side too).
    */
  val q179OracleSql: String =
    """WITH mx AS (SELECT (epoch_us(max(ts)) // 1000) - 7200000 AS wm_ms FROM events)
      |SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS bucket_start,
      |       event_type,
      |       COUNT(*) AS n_events,
      |       round(sum(value), 6) AS sum_value
      |FROM events CROSS JOIN mx
      |GROUP BY 1, 2, mx.wm_ms
      |HAVING (CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) + 3600) * 1000 <= mx.wm_ms
      |ORDER BY 1, 2""".stripMargin

  /** Streaming exact dedup — the streaming counterpart of batch q15
    * (TextAnalysis.exactDedup) for an ingest pipeline: fingerprint each
    * document (md5, the same 16-byte key the batch dedup shuffles) and
    * drop re-arrivals WITHIN the watermark horizon, so state is bounded
    * by horizon × arrival rate instead of stream length. Exact dedup
    * against ALL history is not a streaming-state problem: run the batch
    * anti-join (q45) against the persisted keeper set per micro-batch via
    * foreachBatch instead.
    *
    * `docs` needs (ts, text) plus any payload columns; works on batch or
    * streaming frames (the watermark is a no-op in batch mode).
    */
  def dedupStream(docs: DataFrame, tsCol: String = "ts", horizon: String = "2 hours"): DataFrame =
    docs
      .withColumn("fingerprint", md5(col("text")))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Streaming dedup against ALL history — the pattern [[dedupStream]]'s
    * scaladoc names: per micro-batch, fingerprint the arrivals, drop
    * in-batch duplicates, LEFT ANTI against the persisted store's
    * fingerprints (the q45 apply-side join), and append only the
    * survivors. Dedup state lives in the store — parquet, unbounded,
    * shared by every batch job — not in executor memory, so the horizon
    * is the full corpus and a restart loses nothing.
    *
    * SINGLE-WRITER CONTRACT (VERDICT r3 wrong-item 3): the
    * read-store → anti-join → append sequence is not atomic, so exactly
    * one stream may write a given `storeDir` at a time — two concurrent
    * writers can interleave between read and append and both admit the
    * same fingerprint. Sequential streams (including restarts, and a
    * later stream resuming the same store) are fully supported; to fan
    * in many sources, union them into the one stream or give each its
    * own store and reconcile with the batch anti-join (q45).
    */
  def dedupAgainstStore(docs: DataFrame, storeDir: String, checkpointDir: String): DataStreamWriter[Row] =
    docs
      .withColumn("fingerprint", md5(col("text")))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val known =
          try Some(batch.sparkSession.read.parquet(storeDir).select(col("fingerprint")))
          catch { case _: org.apache.spark.sql.AnalysisException => None } // store not created yet
        val inBatch = batch.dropDuplicates("fingerprint")
        val fresh = known.fold(inBatch)(k => inBatch.join(k, Seq("fingerprint"), "left_anti"))
        fresh.write.mode("append").parquet(storeDir)
      }

  /** Continuous curation: [[dedupAgainstStore]] upgraded with the NEAR-dup
    * gate — every micro-batch classifies against the growing store with
    * [[graft.operators.Incremental.incrementalDedupOf]] (exact md5 pass +
    * q16's MinHash banding cross-corpus) and appends only `new` docs, so a
    * re-crawl with a boilerplate sentence appended no longer re-enters the
    * corpus the way it would under the exact-only stream. Batch-internal
    * exact dups collapse to their min-id keeper first
    * ([[graft.operators.TextAnalysis.dedupSurvivorsOf]]); batch-internal
    * NEAR-dups are deliberately left to the next full near-dup pass (q70/
    * q74) — a batch-internal band self-join per micro-batch would pay the
    * quadratic-candidate risk on every trigger for a window real crawls
    * dedup post-hoc anyway.
    *
    * Same SINGLE-WRITER CONTRACT and at-least-once caveats as
    * [[dedupAgainstStore]]; `docs` needs (doc_id, text).
    */
  def fuzzyDedupAgainstStore(docs: DataFrame, storeDir: String, checkpointDir: String): DataStreamWriter[Row] =
    docs
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import graft.operators.{Incremental, TextAnalysis}
        val inBatch = TextAnalysis.dedupSurvivorsOf(batch)
        val store =
          try Some(batch.sparkSession.read.parquet(storeDir).select(col("doc_id"), col("text")))
          catch { case _: org.apache.spark.sql.AnalysisException => None } // store not created yet
        val fresh = store.fold(inBatch) { st =>
          val novel = Incremental.incrementalDedupOf(inBatch, st)
            .filter(col("disposition") === "new").select(col("doc_id"))
          inBatch.join(novel, Seq("doc_id"), "left_semi")
        }
        fresh.write.mode("append").parquet(storeDir)
      }

  /** Per-batch incremental-dedup CLASSIFICATION against persisted store
    * artifacts — the continuous-curation loop's decision stage as a
    * stream. The three [[graft.operators.Incremental.buildStoreArtifacts]]
    * tables are resolved ONCE, when the writer is created
    * ([[graft.operators.Incremental.storeArtifacts]]): a store of at most
    * [[graft.operators.Incremental.StoreTableBound]] shingles is loaded
    * into driver memory then, as lookup tables broadcast once for the
    * whole stream, and every micro-batch is ONE Spark job — scan,
    * per-row md5/shingle/band-key expressions, the table probes, write.
    * A larger store stays as artifact frames, probed by equi-joins in
    * each micro-batch's plan. Either way each micro-batch appends
    * [[graft.operators.Incremental.classify]]'s (doc_id, disposition,
    * matched_store_id) verdicts to `outDir`, unsorted, in a single write
    * query that caches and checkpoints nothing. Classification is per-doc
    * independent, so ANY micro-batch split of a crawl yields the same
    * verdict set, and the store text is never rescanned. Doc_ids must be
    * unique within each micro-batch, as
    * [[graft.operators.Incremental.classify]] states.
    *
    * CONTRACT: the artifacts are FIXED for the stream's lifetime — the
    * per-snapshot discipline the batch path documents. What the writer
    * loaded or listed at creation is what every micro-batch probes, so
    * the artifacts must not be rebuilt while the stream runs; rebuild
    * between streams and create a new writer, which loads the new store.
    * The broadcast tables are not destroyed when the query ends: the
    * ContextCleaner releases them once the writer and its query are
    * unreachable, as it does the broadcasts of Spark's own broadcast
    * joins. Admission (appending survivors to the store) stays the
    * separate concern [[fuzzyDedupAgainstStore]] owns; this writer is the
    * read-only classifier a pipeline fans out to before deciding.
    */
  def classifyAgainstStore(docs: DataFrame, artifactsDir: String, outDir: String,
                           checkpointDir: String): DataStreamWriter[Row] = {
    import graft.operators.Incremental
    val store = Incremental.storeArtifacts(docs.sparkSession, artifactsDir)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Incremental.classify(batch, store).write.mode("append").parquet(outDir)
      }
  }

  /** q181_stream_dedup_store — the STREAMING transport of q80's
    * incremental dedup, declared under q80's oracle VERBATIM (VERDICT
    * r16 item 2; the q180 declaration pattern): build the store
    * artifacts once from the documents snapshot, stage q80's derived
    * batch ([[graft.operators.Incremental.batchOf]] — the same exact /
    * near / novel strata) as a TWO-file replay split on doc_id parity,
    * run it through the file source → [[classifyAgainstStore]] (one
    * artifact-probing write query per micro-batch), and read the
    * appended verdicts back sorted. A green hash proves the
    * continuous-curation loop — the thing a pipeline team actually
    * schedules — lands row-identical to the batch classification: the
    * artifact probes lose nothing, and the batch split cannot change a
    * verdict (per-doc independence against a FIXED snapshot).
    *
    * 100 TB: per-batch cost is the batch's own fingerprinting/shingling
    * plus probes into the three persisted artifact tables — broadcast
    * lookups under the table bound, equi-joins (16-byte fp / banded
    * signature shuffles only — q80's audited shape) beyond it; the
    * streaming engine adds lifecycle-fixed start/commit cost like q180,
    * not data-proportional work.
    */
  def streamDedupStore(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Incremental
    val store = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val artifactsDir = java.nio.file.Files.createTempDirectory("graft_q181_art").toString
    Incremental.buildStoreArtifacts(store, artifactsDir)
    val batch = Incremental.batchOf(store)
    val srcDir = java.nio.file.Files.createTempDirectory("graft_q181_src").toString
    stageOrdered(srcDir,
      batch.filter(col("doc_id") % 2 === 0),
      batch.filter(col("doc_id") % 2 =!= 0))
    val outDir = java.nio.file.Files.createTempDirectory("graft_q181_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_q181_ckpt").toString
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = classifyAgainstStore(stream, artifactsDir, outDir, ckpt).start()
    q.awaitTermination()
    spark.read.parquet(outDir)
      .select(col("doc_id"), col("disposition"), col("matched_store_id"))
      .orderBy(col("doc_id"))
  }

  /** Streaming vector ingest into the persisted IVF index — the
    * reference's accumulate-and-flush upsert loop (vector_db.py:79-106)
    * pointed at the engine's OWN index instead of a remote server: every
    * micro-batch runs the catalog-guarded [[graft.operators.IvfIndex.append]]
    * (version auto-assigned from the catalog counter, reserved atomically
    * per batch; empty batches are version-free no-ops), so the probe's
    * last-writer-wins view advances once per batch and a stale
    * [[graft.operators.GraphAnn]] graph fails fast instead of silently
    * missing the new vectors. SINGLE-WRITER CONTRACT, exactly like
    * [[dedupAgainstStore]]'s store: the catalog's version reservation is a
    * read-modify-write, not a compare-and-swap, so two concurrent writers
    * on one index can both observe the same counter and stamp colliding
    * versions — run one ingest stream per index; fan sources in by
    * unioning them into that one stream.
    *
    * DELIVERY IS AT-LEAST-ONCE (ADVICE r5): foreachBatch commits the
    * checkpoint AFTER the batch body, so a crash between
    * [[graft.operators.IvfIndex.append]] and the commit replays the batch
    * on restart, appending the same vectors again under a NEW version.
    * Probe results stay correct — [[graft.operators.IvfIndex.latestPoints]]
    * is last-writer-wins per vec_id — but `stored_rows` (compaction debt in
    * [[graft.operators.IvfIndex.describe]]) and the version counter inflate
    * by the replayed batch until a [[graft.operators.IvfIndex.compact]]
    * (or [[graft.operators.IvfIndex.maintain]]) pass rewrites the layout.
    *
    * `vectors` needs (vec_id, embedding[, label]); the index must already
    * exist ([[graft.operators.IvfIndex.build]] or `buildUnsupervised`) —
    * appends route into the EXISTING centroid layout, the same contract as
    * the batch append.
    *
    * `maintainEvery = N > 0` runs [[graft.operators.IvfIndex.maintain]]
    * after every N-th micro-batch (compact past the debt ratio, rebuild
    * stale graphs) — the in-stream rendering of the reference's
    * server-side collection upkeep, so a graph-probing reader never needs
    * a manual rebuild between batches. Default 0 = off: maintenance cost
    * (a graph rebuild is the engine's most expensive component) is then
    * the operator's explicit, separately-scheduled decision.
    */
  def vectorIngest(vectors: DataFrame, indexDir: String, checkpointDir: String,
                   maintainEvery: Int = 0, debtRatio: Double = 1.2): DataStreamWriter[Row] =
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.IvfIndex.append(batch.sparkSession, batch, indexDir)
        if (maintainEvery > 0 && batchId % maintainEvery == (maintainEvery - 1).toLong) {
          graft.operators.IvfIndex.maintain(batch.sparkSession, indexDir, debtRatio)
          () // foreachBatch needs (DataFrame, Long) => Unit, not => MaintainReport
        }
      }

  /** q180_stream_vector_ingest — the STREAMING transport of q176's
    * lifecycle, declared under the SAME oracle (round 16; reference:
    * the batch-upsert loop `vector_db.py:93-106` run as a live ingest):
    * build the index, stage the q176 re-upsert stratum as a TWO-file
    * replay directory, run it through [[vectorIngest]] (file source →
    * one `IvfIndex.append` per micro-batch, catalog-versioned — two
    * version bumps here, so the LWW machinery is exercised across
    * batches, not just within one), `maintain(debtRatio = 1.0)` to
    * compact, probe with the original first-10 queries. The live corpus
    * is exactly q176's (the two batches carry disjoint ids, so replay
    * order cannot change the LWW outcome), hence the oracle is
    * `IvfIndex.q176OracleSql` VERBATIM — a green hash proves the
    * streaming ingest path lands byte-identical to the batch append.
    */
  def streamVectorIngest(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    import graft.operators.IvfIndex
    val emb = graft.Tables.embeddings(spark, sfDir)
    val indexDir = java.nio.file.Files.createTempDirectory("graft_q180_index").toString
    IvfIndex.build(spark, emb, indexDir)
    val modified = IvfIndex.upsertStratumOf(emb)
    val srcDir = java.nio.file.Files.createTempDirectory("graft_q180_src").toString
    val half = IvfIndex.UpsertStratumMod * 2
    modified.filter(col("vec_id") % half === 0)
      .coalesce(1).write.mode("append").parquet(srcDir)
    modified.filter(col("vec_id") % half =!= 0)
      .coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream.schema(modified.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_q180_ckpt").toString
    val q = vectorIngest(stream, indexDir, ckpt).start()
    q.awaitTermination()
    IvfIndex.maintain(spark, indexDir, debtRatio = 1.0)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    IvfIndex.probe(spark, indexDir, queries, k = 3, nprobe = 1)
  }

  // --- stateful sessionization (custom keyed state) -----------------------

  /** Input row for [[sessionizeStream]]: one event with its microsecond
    * timestamp.
    */
  case class UserEvent(user_id: Long, us: Long, event_id: Long)

  /** Per-user AUDIT state for [[sessionAuditStream]]: the open session's
    * id/count plus the running totals batch q28 reports. Still O(1) per
    * user — five longs.
    */
  case class SessAuditState(
      session_id: Long, last_us: Long, cur_events: Long,
      total_events: Long, max_closed: Long)

  /** Per-user audit snapshot — column-compatible with batch q28's output
    * (the open session counts toward the max, as it does at the end of a
    * batch pass).
    */
  case class SessAuditSnapshot(
      user_id: Long, n_events: Long, n_sessions: Long, max_session_events: Long)

  /** Streaming sessionization carrying the q28 AUDIT totals: same gap
    * rule and state discipline as [[sessionizeStream]], but the state
    * also accumulates total events, session count, and the max closed
    * session, so the LAST snapshot per user is exactly batch q28's row
    * for that user. Emitted per micro-batch in Update mode; totals are
    * monotone per user, so the final table is a max-struct per key.
    *
    * Correctness requires per-user event order to be preserved ACROSS
    * micro-batches (within a batch the fold sorts): satisfied when the
    * ingest files are entity-partitioned — each user's history in one
    * file, the GenScale fixture layout and the common log-shipping
    * arrangement — or time-ordered. Feed neither, and sessionization is
    * not a streaming-state problem at all: re-sessionize per entity in
    * batch (q28) instead.
    */
  def sessionAuditStream(
      events: org.apache.spark.sql.Dataset[UserEvent],
      gapUs: Long = SessionGapUs): org.apache.spark.sql.Dataset[SessAuditSnapshot] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val keyEnc: org.apache.spark.sql.Encoder[Long]              = Encoders.scalaLong
    implicit val stEnc: org.apache.spark.sql.Encoder[SessAuditState]     = Encoders.product[SessAuditState]
    implicit val outEnc: org.apache.spark.sql.Encoder[SessAuditSnapshot] = Encoders.product[SessAuditSnapshot]
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessAuditState, SessAuditSnapshot](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[UserEvent], state: GroupState[SessAuditState]) =>
          val sorted = evs.toArray.sortBy(e => (e.us, e.event_id))
          var st = state.getOption.getOrElse(SessAuditState(0L, Long.MinValue, 0L, 0L, 0L))
          sorted.foreach { e =>
            st =
              if (st.last_us == Long.MinValue || e.us - st.last_us > gapUs)
                SessAuditState(st.session_id + 1, e.us, 1L,
                  st.total_events + 1, math.max(st.max_closed, st.cur_events))
              else SessAuditState(st.session_id, e.us, st.cur_events + 1,
                st.total_events + 1, st.max_closed)
          }
          state.update(st)
          if (sorted.nonEmpty)
            Iterator.single(SessAuditSnapshot(user, st.total_events, st.session_id,
              math.max(st.max_closed, st.cur_events)))
          else Iterator.empty
      }
  }

  /** q160_stream_sessionize — STATEFUL streaming execution declared under
    * the batch oracle (the q151 pattern, moved from a windowed aggregate
    * to `flatMapGroupsWithState` custom state): the events fixture
    * replays through the file source, each user's per-batch events fold
    * into O(1) session state ([[sessionAuditStream]]), and the final
    * per-user snapshot table — last Update-mode emission per user, a
    * max-struct since totals are monotone — is hash-checked against
    * batch q28's own DuckDB oracle. A green hash proves the CUSTOM-STATE
    * streaming path (not just the built-in windowed aggregate) computes
    * the batch answer.
    */
  def streamSessionize(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.readStream
      .schema(spark.read.parquet(s"$sfDir/events.parquet").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(declaredStreamPath(s"$sfDir/events.parquet", "graft_q160_src"))
    implicit val evEnc: org.apache.spark.sql.Encoder[UserEvent] = Encoders.product[UserEvent]
    val events = graft.Tables.normalizeEventTs(spark, raw)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .as[UserEvent]
    val name = s"graft_q160_run_${declaredRuns.incrementAndGet()}"
    withShufflePartitions(spark, statePartitionsFor(spark, s"$sfDir/events.parquet")) {
      val query = sessionAuditStream(events).toDF().writeStream
        .format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    spark.table(name)
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("n_sessions"), col("max_session_events"))).as("s"))
      .select(col("user_id"), col("s.n_events").as("n_events"),
        col("s.n_sessions").as("n_sessions"),
        col("s.max_session_events").as("max_session_events"))
      .orderBy(col("user_id"))
  }

  /** Per-user state carried across micro-batches. */
  case class SessState(session_id: Long, last_us: Long, n_events: Long)

  /** Per-user snapshot emitted each micro-batch: the user's CURRENT session
    * id, its event count so far, and its last-seen timestamp.
    */
  case class SessSnapshot(user_id: Long, session_id: Long, n_events: Long, last_us: Long)

  /** Session gap, microseconds — same 30-minute rule as batch q28
    * (Relational.sessionize).
    */
  val SessionGapUs: Long = 1800L * 1000000L

  /** Streaming sessionization with custom keyed state
    * (`flatMapGroupsWithState`): the streaming counterpart of batch q28.
    * Each user's state is (current session id, last event time, events in
    * session); a batch's events extend the open session or, after a
    * >30-minute gap, roll it over. State size is O(users) regardless of
    * stream length — one tiny struct per key, the property that makes
    * per-entity streaming state viable at scale.
    */
  def sessionizeStream(
      events: org.apache.spark.sql.Dataset[UserEvent],
      gapUs: Long = SessionGapUs): org.apache.spark.sql.Dataset[SessSnapshot] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val keyEnc: org.apache.spark.sql.Encoder[Long]          = Encoders.scalaLong
    implicit val stEnc: org.apache.spark.sql.Encoder[SessState]      = Encoders.product[SessState]
    implicit val outEnc: org.apache.spark.sql.Encoder[SessSnapshot]  = Encoders.product[SessSnapshot]

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessSnapshot](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[UserEvent], state: GroupState[SessState]) =>
          // events inside one micro-batch are not ordered; sort the batch
          // (bounded by batch size, not stream length)
          val sorted = evs.toArray.sortBy(e => (e.us, e.event_id))
          var st = state.getOption.getOrElse(SessState(0L, Long.MinValue, 0L))
          sorted.foreach { e =>
            st =
              if (st.last_us == Long.MinValue || e.us - st.last_us > gapUs)
                SessState(st.session_id + 1, e.us, 1L)
              else SessState(st.session_id, e.us, st.n_events + 1)
          }
          state.update(st)
          if (sorted.nonEmpty) Iterator.single(SessSnapshot(user, st.session_id, st.n_events, st.last_us))
          else Iterator.empty
      }
  }
}
