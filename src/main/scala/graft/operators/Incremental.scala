package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * Every entry point runs the one plan [[classify]] builds over a
  * [[StoreFrames]] triple; they differ only in where the store side comes
  * from. The production path reads it from the persisted artifacts
  * ([[buildStoreArtifacts]], maintained once per snapshot — the q54
  * persisted-artifact pattern): per-batch cost is batch-scale plus one
  * equi-join probe into each artifact, and nothing rescans store text.
  * The inline path (q80) derives it from the store documents, which is
  * the oracle-checkable rendering of the same dataflow.
  */
object Incremental {

  /** The store side of a classification: the md5 fingerprint set
    * (fp, exact_store_id), the shingle sets (doc_id, sh) and the LSH band
    * rows (doc_id, band, bkey).
    */
  final case class StoreFrames(fps: DataFrame, shingles: DataFrame, bands: DataFrame)

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
    * share through exchange reuse.
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

  /** Resolve the three persisted artifact tables ([[buildStoreArtifacts]])
    * into frames: one file listing and one schema read per table, paid
    * here and not by the classifications that probe them. The frames pin
    * the files listed now, so the artifacts must not be rebuilt while a
    * holder of these frames still classifies against them.
    */
  def storeArtifacts(spark: SparkSession, artifactsDir: String): StoreFrames =
    StoreFrames(
      spark.read.parquet(s"$artifactsDir/store_fps.parquet"),
      spark.read.parquet(s"$artifactsDir/store_shingles.parquet"),
      spark.read.parquet(s"$artifactsDir/store_bands.parquet"))

  /** The production incremental path as one batch call: [[classify]]
    * against the PERSISTED store artifacts, sorted by doc_id. Lazy —
    * nothing runs until the result is consumed. Spec-pinned row-identical
    * to [[incrementalDedupOf]].
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
      sh.write.mode("overwrite").parquet(s"$dir/store_shingles.parquet")
      DedupExtras.bandRowsOf(DedupExtras.signaturesOf(sh))
        .write.mode("overwrite").parquet(s"$dir/store_bands.parquet")
    } finally sh.unpersist()
  }

  /** The one classification plan: lazy and cache-free, it emits
    * (doc_id, disposition, matched_store_id) for every batch doc, unsorted.
    * The exact pass is a single left join of the batch fingerprints onto
    * `store.fps`; its output feeds both the survivor cut (docs without an
    * exact match go to the near pass) and the final attribution. Near-dup
    * tie-break: min store id among verified matches (deterministic; the
    * exact pass already owns the jaccard=1 case).
    *
    * Being lazy, the plan evaluates `batch` once per consumer: for the
    * final attribution, and twice for the survivors (their band rows and
    * their verification shingles). That is cheap when the batch is a scan
    * of one micro-batch's files; a caller whose batch is costly to derive
    * caches it first, as [[incrementalDedupOf]] does.
    */
  def classify(batch: DataFrame, store: StoreFrames): DataFrame = {
    val tagged = batch
      .select(col("doc_id"), col("text"), md5(col("text")).as("fp"))
      .join(store.fps, Seq("fp"), "left")
    val near = DedupExtras.crossNearMatchesAgainst(
        tagged.filter(col("exact_store_id").isNull).select(col("doc_id"), col("text")),
        store.shingles, store.bands)
      .groupBy(col("batch_id"))
      .agg(min(col("store_id")).as("near_store_id"))
    tagged
      .join(near, tagged("doc_id") === near("batch_id"), "left")
      .select(tagged("doc_id"),
        when(col("exact_store_id").isNotNull, lit("exact_dup"))
          .when(col("near_store_id").isNotNull, lit("near_dup"))
          .otherwise(lit("new")).as("disposition"),
        coalesce(col("exact_store_id"), col("near_store_id"), lit(-1L))
          .as("matched_store_id"))
  }

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
