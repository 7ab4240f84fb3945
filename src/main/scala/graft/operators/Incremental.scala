package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.Tables

/** Incremental (snapshot-over-snapshot) deduplication: classify every
  * document of a NEW BATCH against an existing corpus STORE — the shape a
  * production pipeline runs between crawls, where re-running full-corpus
  * dedup per arrival would be quadratic in snapshots. Two passes:
  *
  *   1. EXACT: md5(text) against the store's fingerprint set — a left
  *      join that shuffles only (16-byte fp, id); batch docs whose text
  *      already exists verbatim are `exact_dup`.
  *   2. NEAR: exact-pass survivors go through the MinHash/LSH band join
  *      against the store ([[DedupExtras.crossNearMatchesAgainst]] — q16's
  *      banding machinery, cross-corpus); a verified Jaccard ≥ 0.5 match
  *      makes the doc `near_dup`. Everything else is `new`.
  *
  * The reference's counterpart is its re-upsert loop (vector_db.py:93-106),
  * which round-trips every batch point through the store by id; this
  * operator is the content-addressed version that catches re-crawls under
  * NEW ids — what incremental curation actually needs.
  *
  * Every entry point runs the one rule [[classify]] states over a
  * [[StoreSide]]; they differ only in where the store side comes from and
  * how it is carried. The production path reads it from the persisted
  * artifacts ([[buildStoreArtifacts]], maintained once per snapshot — the
  * q54 persisted-artifact pattern) through [[storeArtifacts]], which loads
  * a store under [[StoreTableBound]] shingles into broadcast lookup
  * tables (a batch is then one narrow pass) and probes a larger one with
  * one equi-join into each artifact; nothing rescans store text. The
  * inline path (q80) derives the frames from the store documents, which
  * is the oracle-checkable rendering of the same dataflow.
  */
object Incremental {

  /** The store side of a classification, in one of two carriers that
    * [[classify]] turns into the same verdicts: [[StoreFrames]] (equi-joins
    * into the store tables) or [[StoreLookup]] (the tables loaded on the
    * driver, broadcast, probed per row). [[storeArtifacts]] picks between
    * them; the inline path ([[incrementalDedupOf]]) always joins.
    */
  sealed trait StoreSide

  /** The store side as frames: the md5 fingerprint set (fp,
    * exact_store_id), the shingle sets (doc_id, sh) and the LSH band rows
    * (doc_id, band, bkey).
    */
  final case class StoreFrames(fps: DataFrame, shingles: DataFrame, bands: DataFrame)
    extends StoreSide

  /** The store side as lookup tables broadcast to the executors, with the
    * two UDFs that probe them: `exactId(fp)` and `candidates(bandKeys)`.
    * The UDFs close over the broadcast handle only, so every plan built on
    * one [[StoreLookup]] ships the tables once, whatever its batch.
    */
  final class StoreLookup private[operators] (tables: Broadcast[StoreTables]) extends StoreSide {
    private[operators] val exactId: UserDefinedFunction = exactIdUdf(tables)
    private[operators] val candidates: UserDefinedFunction = candidatesUdf(tables)
  }

  // built outside StoreLookup, so each closure captures the handle alone
  private def exactIdUdf(bc: Broadcast[StoreTables]): UserDefinedFunction =
    udf((fp: String) => bc.value.exactId(fp))
  private def candidatesUdf(bc: Broadcast[StoreTables]): UserDefinedFunction =
    udf((keys: Seq[String]) => bc.value.candidates(keys))

  /** One candidate store doc of a batch doc: its id and shingle set. */
  final case class Candidate(store_id: Long, sh: Seq[String])

  /** The three store artifacts as flat, sorted arrays — cheap to serialize
    * once and to probe per row, with no per-entry objects beyond the
    * strings:
    *   - fingerprints: `fpKeys` sorted, `fpIds(i)` the min store id of
    *     `fpKeys(i)`;
    *   - band buckets: per band b, `bandKeys(b)` sorted with repeats and
    *     `bandIds(b)` parallel to it, ascending within one key;
    *   - shingle sets: `docIds` sorted; doc i's set is
    *     `vocab(codes(j))` for j in `offsets(i) until offsets(i + 1)` (CSR
    *     over one dictionary of the distinct shingles, which store docs
    *     share heavily).
    */
  final class StoreTables private[operators] (
      fpKeys: Array[String], fpIds: Array[Long],
      bandKeys: Array[Array[String]], bandIds: Array[Array[Long]],
      docIds: Array[Long], offsets: Array[Int], codes: Array[Int], vocab: Array[String])
    extends Serializable {

    /** The min store id whose text has md5 `fp`, or null. */
    def exactId(fp: String): java.lang.Long =
      if (fp == null) null
      else {
        val i = java.util.Arrays.binarySearch(fpKeys.asInstanceOf[Array[AnyRef]], fp)
        if (i >= 0) java.lang.Long.valueOf(fpIds(i)) else null
      }

    /** The store docs sharing a band bucket with a doc whose band b has key
      * `keys(b)`, distinct, ascending by id, each with its shingle set.
      */
    def candidates(keys: Seq[String]): Seq[Candidate] = {
      val ids = scala.collection.mutable.TreeSet.empty[Long]
      keys.iterator.zipWithIndex.foreach { case (k, b) =>
        if (k != null && b < bandKeys.length) {
          val ks = bandKeys(b)
          var i = lowerBound(ks, k)
          while (i < ks.length && ks(i) == k) { ids += bandIds(b)(i); i += 1 }
        }
      }
      ids.toSeq.map { id =>
        val d = java.util.Arrays.binarySearch(docIds, id)
        Candidate(id, if (d < 0) Nil else (offsets(d) until offsets(d + 1)).map(j => vocab(codes(j))))
      }
    }

    private def lowerBound(a: Array[String], k: String): Int = {
      var lo = 0; var hi = a.length
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (a(mid).compareTo(k) < 0) lo = mid + 1 else hi = mid }
      lo
    }
  }

  private[operators] object StoreTables {
    /** Collect the three store frames into tables — three jobs, driver
      * memory linear in the store's shingle total.
      */
    def of(store: StoreFrames): StoreTables = {
      val fps = store.fps.select(col("fp"), col("exact_store_id")).collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      val bands = store.bands.select(col("band"), col("bkey"), col("doc_id")).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      val nBands = if (bands.isEmpty) 0 else bands.map(_._1).max + 1
      val byBand = (0 until nBands).map(b => bands.filter(_._1 == b).map(t => (t._2, t._3)).sorted)
      val sets = store.shingles.select(col("doc_id"), col("sh")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) Seq.empty[String] else r.getSeq[String](1)))
        .sortBy(_._1)
      val dict = scala.collection.mutable.HashMap.empty[String, Int]
      val vocab = scala.collection.mutable.ArrayBuffer.empty[String]
      val offsets = new Array[Int](sets.length + 1)
      val codes = new Array[Int](sets.iterator.map(_._2.size).sum)
      var j = 0
      sets.iterator.zipWithIndex.foreach { case ((_, sh), i) =>
        offsets(i) = j
        sh.foreach { s => codes(j) = dict.getOrElseUpdate(s, { vocab += s; vocab.size - 1 }); j += 1 }
      }
      offsets(sets.length) = j
      new StoreTables(fps.map(_._1), fps.map(_._2),
        byBand.map(_.map(_._1)).toArray, byBand.map(_.map(_._2)).toArray,
        sets.map(_._1), offsets, codes, vocab.toArray)
    }
  }

  /** q80_incremental_dedup — declared fixture: the store is the documents
    * table; the batch is a deterministic mix of exact re-crawls
    * (doc_id % 5 == 0, re-keyed +3000000), near-dup re-crawls
    * (doc_id % 5 == 1, a boilerplate sentence appended), and novel docs
    * (doc_id % 5 == 2, synthesized text the store has never seen). Emits
    * one row per batch doc: (doc_id, disposition, matched_store_id) with
    * matched_store_id = min matching store id, -1 for `new`.
    *
    * Short survivors (<3 tokens) have no shingles, cannot near-match, and
    * classify `new` — mirrored by the oracle, which drops them from the
    * shingle CTE the same way.
    */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val store = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    incrementalDedupOf(batchOf(store), store)
  }

  /** The declared batch, derived deterministically from the store. */
  def batchOf(store: DataFrame): DataFrame = {
    val exactRe = store.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 3000000).as("doc_id"), col("text"))
    val nearRe = store.filter(col("doc_id") % 5 === 1)
      .select((col("doc_id") + 3000000).as("doc_id"),
        concat(col("text"), lit(" please subscribe to our newsletter today")).as("text"))
    val novel = store.filter(col("doc_id") % 5 === 2)
      .select((col("doc_id") + 3000000).as("doc_id"),
        concat(lit("fresh crawl item "), col("doc_id"),
          lit(" covers region "), col("doc_id") % 97).as("text"))
    exactRe.unionByName(nearRe).unionByName(novel)
  }

  /** Classification of ANY (doc_id, text, …) batch against a store given
    * as documents, sorted by doc_id. The store frames are derived inline
    * and passed to [[classify]], whose lazy plan reads two inputs more than
    * once; both are cached for this call:
    *   - the store shingle sets feed both the band rows and the
    *     verification join;
    *   - the batch (doc_id, text) feeds the exact pass's three consumers
    *     (the final attribution, and the survivors' band rows and
    *     verification shingles). Here the batch can be corpus-scale — q80's
    *     is 60% of the store, derived by three store scans — and
    *     re-deriving it per consumer measured 63 s of task CPU time
    *     against 48 s with this cache (q80 on GenScale's 50k-doc replica
    *     of sf0.1, one sample).
    * The result is materialized (batch-ids scale) before the caches are
    * released — operator-scoped, no cached blocks outlive the call. The
    * corpus md5 aggregate is one subtree that the exact pass's consumers
    * share through exchange reuse. Batch doc_ids must be unique
    * ([[classify]]).
    */
  def incrementalDedupOf(batch: DataFrame, store: DataFrame): DataFrame = {
    val docs = batch.select(col("doc_id"), col("text")).cache()
    val shS = DedupExtras.shingleSetsOf(store).cache()
    try classify(docs, StoreFrames(
        store.groupBy(md5(col("text")).as("fp")).agg(min(col("doc_id")).as("exact_store_id")),
        shS, DedupExtras.bandRowsOf(DedupExtras.signaturesOf(shS))))
      .orderBy(col("doc_id"))
      .localCheckpoint(true)
    finally { shS.unpersist(); docs.unpersist() }
  }

  /** Largest store, counted in shingles summed over its docs, that
    * [[storeArtifacts]] loads into lookup tables; a larger store is probed
    * through the artifact frames. Set by measurement (q181, `local[4]`,
    * median of 3): on the 5k-doc sf0.1 store (260k shingles) the tables
    * win, 6.8 s against 8.7 s for the joins; on its 50k-doc GenScale
    * replica (2.6M) the joins win, 30.4/31.1 s against 35.6/33.9 s, as
    * loading, broadcasting and the per-row signatures outgrow the jobs
    * they save. 1M shingles is about 19k docs of sf0.1's length; the
    * tables then hold one dictionary entry per distinct shingle and one
    * int per occurrence, tens of MB of driver heap.
    */
  val StoreTableBound = 1000000L

  /** Resolve the three persisted artifact tables ([[buildStoreArtifacts]])
    * into the store side of [[classify]] — the one place that picks the
    * carrier. One file listing and one schema read per table, and one job
    * summing the store's shingles, paid here and not by the
    * classifications that probe them. Then:
    *   - at most [[StoreTableBound]] shingles: the tables are collected to
    *     the driver (three jobs) and broadcast ONCE ([[StoreLookup]]), so a
    *     classification is one narrow pass over its batch;
    *   - beyond it: the frames themselves ([[StoreFrames]]), which pin the
    *     files listed now.
    * Either way the store side is fixed from here on: the artifacts must
    * not be rebuilt while a holder of it still classifies against them,
    * and a rebuild needs a new call. The broadcast is never destroyed
    * explicitly; like the broadcast of Spark's own broadcast joins, the
    * ContextCleaner releases it once nothing references the returned side.
    */
  def storeArtifacts(spark: SparkSession, artifactsDir: String): StoreSide =
    storeArtifacts(spark, artifactsDir, StoreTableBound)

  /** [[storeArtifacts]] with the bound as a parameter: specs force each
    * carrier with 0 (frames whenever the store has a shingle) or
    * Long.MaxValue (tables).
    */
  private[graft] def storeArtifacts(spark: SparkSession, artifactsDir: String,
                                    tableBound: Long): StoreSide = {
    val frames = StoreFrames(
      spark.read.parquet(s"$artifactsDir/store_fps.parquet"),
      spark.read.parquet(s"$artifactsDir/store_shingles.parquet"),
      spark.read.parquet(s"$artifactsDir/store_bands.parquet"))
    val total = frames.shingles.agg(sum(size(col("sh")))).head().getAs[Number](0)
    if (total != null && total.longValue > tableBound) frames
    else new StoreLookup(spark.sparkContext.broadcast(StoreTables.of(frames)))
  }

  /** The production incremental path as one batch call: [[classify]]
    * against the PERSISTED store artifacts, sorted by doc_id — through
    * [[storeArtifacts]], so a store under the bound is loaded and broadcast
    * for this call. The result is lazy; the store side is resolved here.
    * Spec-pinned row-identical to [[incrementalDedupOf]]. Batch doc_ids
    * must be unique ([[classify]]).
    */
  def incrementalDedupAgainstArtifacts(batch: DataFrame, artifactsDir: String): DataFrame =
    classify(batch, storeArtifacts(batch.sparkSession, artifactsDir)).orderBy(col("doc_id"))

  /** Build (or rebuild after a snapshot change) the store-side artifacts:
    * the md5 fingerprint set, shingle sets, and LSH band rows — the three
    * tables every incremental batch probes. One store scan total (the
    * shingle subtree is cached across its two writers); at 100 TB these
    * are maintained per snapshot, amortizing the corpus-scale work across
    * every batch that arrives before the next snapshot (q54's
    * persisted-artifact pattern applied to dedup state).
    */
  def buildStoreArtifacts(store: DataFrame, dir: String): Unit = {
    store
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("exact_store_id"))
      .write.mode("overwrite").parquet(s"$dir/store_fps.parquet")
    val sh = DedupExtras.shingleSetsOf(store).cache()
    try {
      // docs under 3 tokens have an empty set and no band row: left out
      sh.filter(size(col("sh")) > 0).write.mode("overwrite").parquet(s"$dir/store_shingles.parquet")
      DedupExtras.bandRowsOf(DedupExtras.signaturesOf(sh))
        .write.mode("overwrite").parquet(s"$dir/store_bands.parquet")
    } finally sh.unpersist()
  }

  /** The one classification rule, lazy and cache-free: it emits
    * (doc_id, disposition, matched_store_id) for every batch doc, unsorted.
    *   - EXACT wins: a doc whose md5 matches a store fingerprint is
    *     `exact_dup` of the min store id with that text.
    *   - NEAR covers the rest that have ≥ 3 tokens: a store doc sharing one
    *     of its LSH band buckets is a candidate, verified when
    *     [[DedupExtras.jaccardOf]] ≥ 0.5; the min verified store id wins
    *     (deterministic; the exact pass already owns the jaccard=1 case).
    *   - Everything else is `new` with -1.
    *
    * CONTRACT: batch doc_ids are unique. The two carriers agree only then —
    * the join carrier groups near matches by doc_id, so rows sharing one
    * would share a verdict, as [[TextAnalysis.fuzzySentenceDedupOf]] fuses
    * them, while the lookup carrier classifies each row alone. Nothing
    * checks it (a check costs a job per batch).
    */
  def classify(batch: DataFrame, store: StoreSide): DataFrame = store match {
    case frames: StoreFrames => classifyByJoins(batch, frames)
    case lookup: StoreLookup => classifyByLookup(batch, lookup)
  }

  /** The join carrier. The exact pass is a single left join of the batch
    * fingerprints onto `store.fps`; its output feeds both the survivor cut
    * (docs without an exact match go to the near pass,
    * [[DedupExtras.crossNearMatchesAgainst]]) and the final attribution.
    *
    * Being lazy, the plan evaluates `batch` once per consumer: for the
    * final attribution, and twice for the survivors (their band rows and
    * their verification shingles). That is cheap when the batch is a scan
    * of one micro-batch's files; a caller whose batch is costly to derive
    * caches it first, as [[incrementalDedupOf]] does.
    */
  private def classifyByJoins(batch: DataFrame, store: StoreFrames): DataFrame = {
    val tagged = batch
      .select(col("doc_id"), col("text"), md5(col("text")).as("fp"))
      .join(store.fps, Seq("fp"), "left")
    val near = DedupExtras.crossNearMatchesAgainst(
        tagged.filter(col("exact_store_id").isNull).select(col("doc_id"), col("text")),
        store.shingles, store.bands)
      .groupBy(col("batch_id"))
      .agg(min(col("store_id")).as("near_store_id"))
    verdicts(tagged.join(near, tagged("doc_id") === near("batch_id"), "left"))
  }

  /** The lookup carrier: one narrow pass, no join, no shuffle — so a
    * micro-batch is one Spark job. Per row, in order: md5 and tokens; the
    * exact probe and the shingle set ([[DedupExtras.shingleSetOf]]); for a
    * survivor with shingles, its signature ([[DedupExtras.signatureOf]])
    * and band keys ([[DedupExtras.bandKeysOf]]) and the candidates of
    * those buckets; the verified candidates' min id. The survivors' cut is
    * a `when`, so an exact dup computes no signature.
    */
  private def classifyByLookup(batch: DataFrame, store: StoreLookup): DataFrame = {
    import DedupExtras.{NumHashes, JaccardThreshold, signatureOf, bandKeysOf, jaccardOf}
    val sh = col("sh")
    val keys = array(bandKeysOf((0 until NumHashes).map(i => signatureOf(sh, i))): _*)
    verdicts(batch
      .select(col("doc_id"), md5(col("text")).as("fp"), TextPipeline.tokenArr(col("text")).as("toks"))
      .select(col("doc_id"), store.exactId(col("fp")).as("exact_store_id"),
        DedupExtras.shingleSetOf(col("toks")).as("sh"))
      .select(col("doc_id"), col("exact_store_id"),
        array_min(transform(
          filter(
            when(col("exact_store_id").isNull && size(sh) > 0, store.candidates(keys)),
            c => jaccardOf(sh, c.getField("sh")) >= JaccardThreshold),
          c => c.getField("store_id"))).as("near_store_id")))
  }

  /** The verdict columns over (doc_id, exact_store_id, near_store_id). */
  private def verdicts(tagged: DataFrame): DataFrame =
    tagged.select(col("doc_id"),
      when(col("exact_store_id").isNotNull, lit("exact_dup"))
        .when(col("near_store_id").isNotNull, lit("near_dup"))
        .otherwise(lit("new")).as("disposition"),
      coalesce(col("exact_store_id"), col("near_store_id"), lit(-1L)).as("matched_store_id"))

  /** DuckDB mirror: same batch derivation, same exact pass, and the q16
    * oracle's shingle/signature/band CTEs instantiated for both sides of
    * the cross join. Disposition and tie-break identical.
    */
  val q80OracleSql: String = {
    import DedupExtras.{NumHashes, Bands, JaccardThreshold}
    // shingle CTE body for a (doc_id, text) relation — q16's oracle shape
    def shingles(rel: String): String =
      s"""SELECT doc_id,
         |       list_distinct(list_transform(range(1, len(toks) - 1),
         |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |FROM (SELECT doc_id, regexp_extract_all(text, '(\\w+|[^\\w\\s]+)', 1) AS toks FROM $rel)
         |WHERE len(toks) >= 3""".stripMargin
    val sigSelect = (0 until NumHashes).map(i => s"min(md5('$i:' || s)) AS sig$i").mkString(", ")
    def bands(sigRel: String): String =
      (0 until Bands).map(b =>
        s"SELECT doc_id, $b AS band, md5(sig${2 * b} || sig${2 * b + 1}) AS bkey FROM $sigRel")
        .mkString("\n  UNION ALL\n  ")
    s"""WITH store AS (
       |  SELECT doc_id, text FROM documents
       |), batch AS (
       |  SELECT doc_id + 3000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + 3000000 AS doc_id,
       |         text || ' please subscribe to our newsletter today' AS text
       |  FROM documents WHERE doc_id % 5 = 1
       |  UNION ALL
       |  SELECT doc_id + 3000000 AS doc_id,
       |         'fresh crawl item ' || doc_id || ' covers region ' || (doc_id % 97) AS text
       |  FROM documents WHERE doc_id % 5 = 2
       |), storefp AS (
       |  SELECT md5(text) AS fp, min(doc_id) AS exact_store_id FROM store GROUP BY 1
       |), tagged AS (
       |  SELECT b.doc_id, b.text, s.exact_store_id
       |  FROM batch b LEFT JOIN storefp s ON md5(b.text) = s.fp
       |), surv AS (
       |  SELECT doc_id, text FROM tagged WHERE exact_store_id IS NULL
       |), shb AS (
       |  ${shingles("surv")}
       |), shs AS (
       |  ${shingles("store")}
       |), sigb AS (
       |  SELECT doc_id, $sigSelect FROM (SELECT doc_id, unnest(sh) AS s FROM shb) GROUP BY doc_id
       |), sigs AS (
       |  SELECT doc_id, $sigSelect FROM (SELECT doc_id, unnest(sh) AS s FROM shs) GROUP BY doc_id
       |), bandb AS (
       |  ${bands("sigb")}
       |), bandst AS (
       |  ${bands("sigs")}
       |), cand AS (
       |  SELECT DISTINCT b.doc_id AS batch_id, s.doc_id AS store_id
       |  FROM bandb b JOIN bandst s ON b.band = s.band AND b.bkey = s.bkey
       |), near AS (
       |  SELECT batch_id, min(store_id) AS near_store_id
       |  FROM (
       |    SELECT c.batch_id, c.store_id
       |    FROM cand c
       |    JOIN shb ON shb.doc_id = c.batch_id
       |    JOIN shs ON shs.doc_id = c.store_id
       |    WHERE round(len(list_intersect(shb.sh, shs.sh))
       |                / CAST(len(list_distinct(shb.sh || shs.sh)) AS DOUBLE), 6)
       |          >= $JaccardThreshold
       |  ) GROUP BY batch_id
       |)
       |SELECT t.doc_id,
       |       CASE WHEN t.exact_store_id IS NOT NULL THEN 'exact_dup'
       |            WHEN n.near_store_id IS NOT NULL THEN 'near_dup'
       |            ELSE 'new' END AS disposition,
       |       CAST(COALESCE(t.exact_store_id, n.near_store_id, -1) AS BIGINT) AS matched_store_id
       |FROM tagged t LEFT JOIN near n ON n.batch_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  /** q153_snapshot_diff — the corpus VERSION DIFF: which documents were
    * added, removed, or modified between two snapshots of the corpus —
    * the report every incremental pipeline run opens with (and the
    * decision input for q80's incremental dedup: only `added`/`modified`
    * docs enter the batch). The two snapshots are derived
    * deterministically from the fixture (old = drop doc_id % 11 == 3;
    * new = drop doc_id % 13 == 5, and doc_id % 7 == 0 texts carry a
    * "v2 " edit), so the oracle recomputes them exactly.
    *
    * 100 TB: each snapshot is scanned ONCE projecting (doc_id, md5) —
    * the 16-byte fingerprint discipline, corpus text never shuffles —
    * and the diff is a full-outer equi-join on doc_id (at production the
    * snapshots are id-bucketed, making this a co-partitioned zip); the
    * output is change-scale, not corpus-scale. A store of persisted
    * per-snapshot fingerprint artifacts (the q80 pattern) makes
    * successive diffs incremental too.
    */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val oldSnap = docs.filter(col("doc_id") % 11 =!= 3)
      .select(col("doc_id"), md5(col("text")).as("old_fp"))
    val newSnap = docs.filter(col("doc_id") % 13 =!= 5)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 7 === 0, concat(lit("v2 "), col("text")))
          .otherwise(col("text"))).as("new_fp"))
    oldSnap.join(newSnap, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") =!= col("new_fp"), lit("modified"))
          .otherwise(lit("unchanged")))
      .filter(col("status") =!= "unchanged")
      .select(col("doc_id"), col("status"))
      .orderBy(col("doc_id"))
  }

  val q153OracleSql: String =
    """WITH o AS (
      |  SELECT doc_id, md5(text) AS old_fp FROM documents WHERE doc_id % 11 <> 3
      |), n AS (
      |  SELECT doc_id,
      |         md5(CASE WHEN doc_id % 7 = 0 THEN 'v2 ' || text ELSE text END) AS new_fp
      |  FROM documents WHERE doc_id % 13 <> 5
      |), d AS (
      |  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |         CASE WHEN o.old_fp IS NULL THEN 'added'
      |              WHEN n.new_fp IS NULL THEN 'removed'
      |              WHEN o.old_fp <> n.new_fp THEN 'modified'
      |              ELSE 'unchanged' END AS status
      |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      |)
      |SELECT doc_id, status FROM d WHERE status <> 'unchanged'
      |ORDER BY doc_id""".stripMargin
}
