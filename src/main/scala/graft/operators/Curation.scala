package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** q92_curation_pipeline — the END-TO-END curation job a training-data
  * team actually runs as ONE pipeline, composed from the engine's declared
  * stage cores (each separately oracle-pinned by its own query):
  *
  *   clean (q85) → exact dedup (q15/q45 apply side) → fuzzy sentence
  *   dedup (q70) → decontaminate (q60) → percentile select (q79) →
  *   sequence pack (q69)
  *
  * The reference splits this across separate scripts around its vector
  * store (data_clean.py → embedding → upsert); here the whole chain is one
  * declarative Spark plan per stage, each stage consuming the previous
  * stage's frame — the composition a user of the reference would schedule
  * as a single job. Output is the final stage's pack plan: the rows a
  * training loader consumes.
  *
  * Dirt is planted deterministically so every stage has real work at any
  * scale factor: doc_id % 3 == 0 arrives DIRTY (q85's tab/BEL planting),
  * doc_id % 5 == 0 gains an exact COPY at doc_id + 1000000 (q15's),
  * benchmark = doc_id % 97 == 0 held out and matched lowercased (q60's) —
  * the fuzzy layer runs on the corpus's own natural sentence structure.
  *
  * 100 TB shape: the composition inherits each stage's audited shape —
  * nothing new shuffles. Clean is scan-local column work; exact dedup
  * shuffles (doc_id, 16-byte md5), never text; the fuzzy layer's
  * corpus-scale work is the exact pass's fingerprint aggregate (MinHash
  * sees one row per DISTINCT sentence); decontamination broadcast-joins
  * the benchmark gram set; selection broadcasts per-lang cuts back to the
  * scan; packing windows within (lang, shard).
  *
  * Boundary placement is MEASURED, not assumed (BASELINE.md, "Round 11
  * boundary study"): (a) the fuzzy stage's internal caches and the decon
  * cache pay at every scale factor — without any
  * boundaries, the one-lazy-plan form recomputes the sentence machinery
  * per consumer (ReusedExchange covers only identical shuffle subtrees,
  * not their post-shuffle tails) and loses at BOTH sf0.1 (20.9 vs 9.5 s)
  * and sf1 (27.6 vs 21.1 s); (b) the round-10 post-record survivors cache
  * is the opposite — it saves ~1 s at sf0.1 but COSTS ×2.4 at sf1 (50.4
  * vs 21.1 s median): a text-bearing corpus-scale frame whose cache
  * build/storage grows linearly while the recompute it avoids is one
  * scan-local clean pass over an exchange-reused shuffle. The declared
  * row therefore keeps the stage boundaries but NOT the survivors cache
  * ([[curationPipelineOf]]); at 100 TB each kept boundary is a parquet
  * checkpoint write and the dropped one is exactly the frame a production
  * run would NOT persist.
  */
object Curation {

  def curationPipeline(spark: SparkSession, sfDir: String): DataFrame =
    curationPipelineOf(Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text")))

  /** Composable end-to-end core for ANY (doc_id, lang, text) corpus, with
    * the measured-fastest boundary placement (see object scaladoc): the
    * decontaminated frame cached across its consumers and the final pack
    * plan eagerly localCheckpoint'ed. Doc_ids must be unique: the sentence stage
    * ([[TextAnalysis.fuzzySentenceDedupOf]]) fuses rows that share one,
    * and no check runs, since it would cost a job.
    */
  def curationPipelineOf(docs: DataFrame): DataFrame = {
    // lang lookup against the RAW corpus, not the survivors frame
    // (round 17): a survivor id is always an ORIGINAL doc_id — a
    // planted copy (+1000000) can never be its text group's min-id
    // keeper because its source carries the same text under a smaller
    // id — and cleaning never touches lang, so the two joins are
    // row-identical; the raw side is a bare scan while the survivors
    // side re-ran the whole exact-dedup aggregate just to look up lang
    val rebuilt = TextAnalysis.fuzzySentenceDedupOf(dedupedClean(docs))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("cleaned").as("text"))
    val decon = deconOf(docs, rebuilt).cache()
    try selectAndPack(decon).localCheckpoint(true)
    finally decon.unpersist()
  }

  /** Stages 1-2: plant dirt + copies, clean, keep exact-dedup survivors. */
  private def dedupedClean(docs: DataFrame): DataFrame = {
    // stage 1 — CLEAN (q85 core): plant deterministic dirt, normalize it
    val raw = docs.select(col("doc_id"), col("lang"),
      when(col("doc_id") % 3 === 0,
        concat(translate(col("text"), " ", "\t"), lit("\u0007  tail  ")))
        .otherwise(col("text")).as("raw"))
    val cleaned = raw.select(col("doc_id"), col("lang"),
      Cleaning.cleanText(col("raw")).as("text"))
    // stage 2 — EXACT DEDUP (q15/q45 apply side): plant copies, keep the
    // min-id keeper of every distinct text
    val copies = cleaned.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("lang"), col("text"))
    TextAnalysis.dedupSurvivorsOf(cleaned.unionByName(copies))
  }

  /** Stage 4 — DECONTAMINATE (q60 core): drop rebuilt docs sharing any
    * 8-gram with the held-out benchmark slice, matched lowercased.
    */
  private def deconOf(docs: DataFrame, rebuilt: DataFrame): DataFrame = {
    val bench = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"), lower(col("text")).as("text"))
    val corpus = rebuilt.filter(col("doc_id") % 97 =!= 0)
    val contaminated = TextAnalysis
      .decontaminateAgainst(corpus.select(col("doc_id"), lower(col("text")).as("text")), bench)
      .filter(col("contaminated") === 1).select(col("doc_id"))
    corpus.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Stages 5-6: per-lang top-quartile LM selection (q79 core), then the
    * training-loader pack plan (q69 core).
    */
  private def selectAndPack(decon: DataFrame): DataFrame = {
    val sel = TextAnalysis.percentileSelectOf(decon, TextAnalysis.SelectQuantile)
      .select(col("doc_id"))
    TextPipeline.packSequencesOf(decon.join(sel, Seq("doc_id"), "left_semi"))
  }

  /** q92 oracle: each stage's already-pinned CTE family chained in one
    * WITH — q85's clean, q45's keeper semi-join, q70's sentence +
    * MinHash/banding/verify/rebuild chain (same NumHashes/Bands/threshold
    * constants), q60's gram join, q79's unigram-LM percentile, q69's
    * pack window.
    */
  val q92OracleSql: String = {
    import DedupExtras.{Bands, JaccardThreshold, NumHashes}
    val sigSelect = (0 until NumHashes).map(i => s"min(md5('$i:' || s)) AS sig$i").mkString(", ")
    val bandSelects = (0 until Bands).map(b =>
      s"SELECT k, $b AS band, md5(sig${2 * b} || sig${2 * b + 1}) AS bkey FROM sigs").mkString("\n  UNION ALL\n  ")
    s"""WITH base AS (
       |  SELECT doc_id, lang, text FROM documents
       |), rawd AS (
       |  SELECT doc_id, lang,
       |         CASE WHEN doc_id % 3 = 0
       |              THEN replace(text, ' ', chr(9)) || chr(7) || '  tail  '
       |              ELSE text END AS raw
       |  FROM base
       |), cln AS (
       |  SELECT doc_id, lang,
       |         trim(regexp_replace(regexp_replace(raw, '[[:cntrl:]]', ' ', 'g'), '\\s+', ' ', 'g')) AS text
       |  FROM rawd
       |), corpus2 AS (
       |  SELECT doc_id, lang, text FROM cln
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, lang, text FROM cln WHERE doc_id % 5 = 0
       |), keepers AS (
       |  SELECT MIN(doc_id) AS doc_id FROM corpus2 GROUP BY md5(text)
       |), surv AS (
       |  SELECT doc_id, lang, text FROM corpus2 WHERE doc_id IN (SELECT doc_id FROM keepers)
       |), sp AS (
       |  SELECT doc_id, string_split(text, '. ') AS parts FROM surv
       |), s0 AS (
       |  SELECT doc_id, generate_subscripts(parts, 1) - 1 AS pos, unnest(parts) AS sentence FROM sp
       |), f AS (
       |  SELECT doc_id, pos, sentence, unhex(md5(trim(sentence))) AS fp,
       |         CAST(doc_id AS HUGEINT) * 1000000000000 + pos AS k
       |  FROM s0 WHERE len(trim(sentence)) > 0
       |), firsts AS (
       |  SELECT fp, MIN(k) AS k FROM f GROUP BY fp
       |), dt AS (
       |  SELECT f.k AS k, trim(f.sentence) AS stext FROM f JOIN firsts USING (fp, k)
       |), shg AS (
       |  SELECT k, list_distinct(list_transform(range(1, len(toks) - 1),
       |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
       |  FROM (SELECT k, regexp_extract_all(stext, '(\\w+|[^\\w\\s]+)', 1) AS toks FROM dt)
       |  WHERE len(toks) >= 3
       |), ex AS (
       |  SELECT k, unnest(sh) AS s FROM shg
       |), sigs AS (
       |  SELECT k, $sigSelect FROM ex GROUP BY k
       |), bands AS (
       |  $bandSelects
       |), cand AS (
       |  SELECT DISTINCT a.k AS a_id, b.k AS b_id
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.k < b.k
       |), dominated AS (
       |  SELECT DISTINCT c.b_id AS k
       |  FROM cand c
       |  JOIN shg sa ON sa.k = c.a_id
       |  JOIN shg sb ON sb.k = c.b_id
       |  WHERE round(len(list_intersect(sa.sh, sb.sh))
       |              / CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE), 6) >= $JaccardThreshold
       |), kepts AS (
       |  SELECT doc_id, pos, sentence
       |  FROM f JOIN firsts USING (fp, k)
       |  WHERE k NOT IN (SELECT k FROM dominated)
       |), rebuilt AS (
       |  SELECT doc_id, string_agg(sentence, '. ' ORDER BY pos) AS cleaned
       |  FROM kepts GROUP BY doc_id
       |), rb AS (
       |  SELECT s.doc_id, s.lang, COALESCE(r.cleaned, '') AS text
       |  FROM surv s LEFT JOIN rebuilt r USING (doc_id)
       |), bench AS (
       |  SELECT lower(text) AS text FROM base WHERE doc_id % 97 = 0
       |), corpusd AS (
       |  SELECT doc_id, lang, text FROM rb WHERE doc_id % 97 <> 0
       |), cg AS (
       |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8
       |           THEN list_distinct(list_transform(range(1, len(t) - 6),
       |                i -> array_to_string(list_slice(t, i, i + 7), ' ')))
       |           ELSE [] END) AS g
       |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM corpusd)
       |), bg AS (
       |  SELECT DISTINCT unnest(CASE WHEN len(t) >= 8
       |           THEN list_transform(range(1, len(t) - 6),
       |                i -> array_to_string(list_slice(t, i, i + 7), ' '))
       |           ELSE [] END) AS g
       |  FROM (SELECT string_split_regex(text, '\\s+') AS t FROM bench)
       |), contam AS (
       |  SELECT DISTINCT doc_id FROM cg JOIN bg USING (g)
       |), decon AS (
       |  SELECT doc_id, lang, text FROM corpusd WHERE doc_id NOT IN (SELECT doc_id FROM contam)
       |), tk AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '(\\w+|[^\\w\\s]+)', 1)) AS token FROM decon
       |), fr AS (
       |  SELECT token, COUNT(*) AS freq FROM tk GROUP BY token
       |), tot AS (
       |  SELECT CAST(SUM(freq) AS DOUBLE) AS total FROM fr
       |), sc AS (
       |  SELECT doc_id, round(avg(ln(freq / total)), 6) AS avg_logp
       |  FROM tk JOIN fr USING (token) CROSS JOIN tot GROUP BY doc_id
       |), gl AS (
       |  SELECT d.lang, sc.doc_id, sc.avg_logp FROM sc JOIN decon d USING (doc_id)
       |), cu AS (
       |  SELECT lang, quantile_cont(avg_logp, ${TextAnalysis.SelectQuantile}) AS cut
       |  FROM gl GROUP BY lang
       |), seldoc AS (
       |  SELECT g.doc_id FROM gl g JOIN cu c ON g.lang = c.lang WHERE g.avg_logp >= c.cut
       |), seld AS (
       |  SELECT doc_id, lang, text FROM decon WHERE doc_id IN (SELECT doc_id FROM seldoc)
       |), pd AS (
       |  SELECT lang, doc_id % 8 AS shard, doc_id,
       |         CAST(len(regexp_extract_all(text, '(\\w+|[^\\w\\s]+)', 1)) AS BIGINT) AS n_tokens
       |  FROM seld
       |), pp AS (
       |  SELECT lang, shard, doc_id, n_tokens,
       |         COALESCE(SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
       |  FROM pd
       |)
       |SELECT lang, shard, doc_id, n_tokens,
       |       CAST(prefix // 256 AS BIGINT) AS pack_id,
       |       CAST(prefix % 256 AS BIGINT) AS pack_offset
       |FROM pp
       |ORDER BY lang, shard, doc_id""".stripMargin
  }
}
