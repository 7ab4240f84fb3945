package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TextPipeline.tokenArr

/** North-star text-analysis operators for a training-data pipeline
  * (BASELINE.json): exact dedup, heuristic language ID, quality scoring,
  * token counting, and document fingerprinting. All pure column
  * expressions (codegen-friendly) except where noted.
  */
object TextAnalysis {

  /** q15_exact_dedup — exact duplicate groups over a corpus that contains
    * duplicates: the fixture corpus unioned with re-ingested copies
    * (doc_id % 5 == 0, shifted ids), the same re-ingest shape as the
    * reference's re-upsert loop (reference: vector_db.py:93-106). Groups by
    * full-text md5 fingerprint; emits groups with >1 member with the keeper
    * (min id). Hash-groupBy with map-side combine: the canonical
    * exact-dedup at any scale — the fingerprint is tiny regardless of
    * document size, so the shuffle carries 16 bytes + counts per distinct
    * document.
    */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val copies = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    dupGroupsOf(docs.unionByName(copies)).orderBy(col("keeper_id"))
  }

  /** Composable core of q15 for ANY (doc_id, text, …) corpus: duplicate
    * groups by full-text md5, keeper = min id. The curation-pipeline
    * building block ([[dedupSurvivorsOf]] is the apply side).
    */
  def dupGroupsOf(corpus: DataFrame): DataFrame =
    corpus
      .groupBy(md5(col("text")).as("fingerprint"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select(col("fingerprint"), col("keeper_id"), col("n_copies"))

  /** Exact-dedup apply side over ANY corpus: the surviving rows (one per
    * distinct text — its min-id keeper), all caller columns preserved.
    * The q45 semi-join shape, returned as rows instead of counts: what a
    * pipeline actually feeds to the next stage. Shuffles only
    * (doc_id, 16-byte fingerprint) — never text.
    */
  def dedupSurvivorsOf(corpus: DataFrame): DataFrame = {
    val fp = corpus.withColumn("_fp", md5(col("text")))
    val keepers = fp.groupBy(col("_fp")).agg(min(col("doc_id")).as("keeper_id"))
      .select(col("keeper_id"))
    fp.join(keepers, fp("doc_id") === keepers("keeper_id"), "left_semi").drop("_fp")
  }

  /** q45_dedup_purge — the apply side of exact dedup, and the engine's
    * explicit semi/anti join surface: the keeper set (min doc_id per md5
    * fingerprint over the q15 duplicate-bearing corpus) is applied back to
    * the corpus with a LEFT SEMI join (survivors) and a LEFT ANTI join
    * (purged rows), aggregated per language. At 100 TB both joins shuffle
    * only (doc_id, lang, 16-byte fingerprint) — never document text — and
    * the keeper set broadcast-joins when it fits.
    */
  def dedupPurge(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"), col("text"))
    val copies = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("lang"), col("text"))
    val corpus = docs.unionByName(copies)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("fp"))
    val keepers = corpus.groupBy(col("fp")).agg(min(col("doc_id")).as("keeper_id"))
      .select(col("keeper_id"))
    val kept   = corpus.join(keepers, corpus("doc_id") === keepers("keeper_id"), "left_semi")
    val purged = corpus.join(keepers, corpus("doc_id") === keepers("keeper_id"), "left_anti")
    kept.groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
      .join(purged.groupBy(col("lang")).agg(count(lit(1)).as("n_purged")), Seq("lang"), "outer")
      .select(col("lang"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_purged"), lit(0L)).as("n_purged"))
      .orderBy(col("lang"))
  }

  val q45OracleSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, lang, md5(text) AS fp FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, lang, md5(text) AS fp FROM documents WHERE doc_id % 5 = 0
      |), keepers AS (
      |  SELECT min(doc_id) AS keeper_id FROM corpus GROUP BY fp
      |), kept AS (
      |  SELECT lang FROM corpus WHERE doc_id IN (SELECT keeper_id FROM keepers)
      |), purged AS (
      |  SELECT lang FROM corpus WHERE doc_id NOT IN (SELECT keeper_id FROM keepers)
      |), k AS (
      |  SELECT lang, COUNT(*) AS n_kept FROM kept GROUP BY lang
      |), p AS (
      |  SELECT lang, COUNT(*) AS n_purged FROM purged GROUP BY lang
      |)
      |SELECT COALESCE(k.lang, p.lang) AS lang,
      |       COALESCE(k.n_kept, 0) AS n_kept,
      |       COALESCE(p.n_purged, 0) AS n_purged
      |FROM k FULL OUTER JOIN p ON k.lang = p.lang
      |ORDER BY lang""".stripMargin

  val q15OracleSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
      |)
      |SELECT md5(text) AS fingerprint, min(doc_id) AS keeper_id, COUNT(*) AS n_copies
      |FROM corpus
      |GROUP BY md5(text)
      |HAVING COUNT(*) > 1
      |ORDER BY keeper_id""".stripMargin

  /** English stopword profile used by the quality score and language ID. */
  val EnStopwords: Seq[String] = Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

  /** Tiny per-language stopword profiles for the lang-ID heuristic. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un", "es"),
    "fr" -> Seq("le", "les", "et", "de", "un", "est", "pour", "dans"))

  /** q19_lang_id — n-gram/stopword-profile language identification: score
    * each document against each candidate profile (fraction of token
    * instances that hit the profile) and pick the argmax (tie → candidate
    * language asc). The profile join is a broadcast hash join against a
    * literal dimension table; the per-doc regroup shuffles one count per
    * (doc, candidate).
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame =
    langIdOf(Tables.documents(spark, sfDir))

  /** Composable core of q19 for ANY (doc_id, text, …) corpus. */
  def langIdOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val profiles = LangProfiles.flatMap { case (l, ts) => ts.map(t => (l, t)) }.toDF("cand_lang", "ptok")
    val cands    = LangProfiles.map(_._1).toDF("cand_lang")
    val toks = docs.select(col("doc_id"), explode(tokenArr(col("text"))).as("tok"))
    val nTok = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val hits = toks
      .join(broadcast(profiles), col("tok") === col("ptok"))
      .groupBy(col("doc_id"), col("cand_lang"))
      .agg(count(lit(1)).as("n_hits"))
    val scored = nTok
      .crossJoin(broadcast(cands))
      .join(hits, Seq("doc_id", "cand_lang"), "left")
      .select(col("doc_id"), col("cand_lang"),
        round(coalesce(col("n_hits"), lit(0L)) / col("n"), 6).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("cand_lang").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cand_lang").as("pred_lang"), col("score"))
      .orderBy(col("doc_id"))
  }

  val q19OracleSql: String = {
    val vals = LangProfiles.flatMap { case (l, ts) => ts.map(t => s"('$l', '$t')") }.mkString(", ")
    val langs = LangProfiles.map { case (l, _) => s"('$l')" }.mkString(", ")
    s"""WITH profiles(cand_lang, ptok) AS (VALUES $vals),
       |cands(cand_lang) AS (VALUES $langs),
       |t AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '(\\w+|[^\\w\\s]+)', 1)) AS tok FROM documents
       |), n AS (
       |  SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id
       |), hits AS (
       |  SELECT t.doc_id, p.cand_lang, COUNT(*) AS n_hits
       |  FROM t JOIN profiles p ON t.tok = p.ptok
       |  GROUP BY t.doc_id, p.cand_lang
       |), scored AS (
       |  SELECT n.doc_id, c.cand_lang,
       |         round(COALESCE(h.n_hits, 0) / CAST(n.n AS DOUBLE), 6) AS score
       |  FROM n CROSS JOIN cands c
       |  LEFT JOIN hits h ON h.doc_id = n.doc_id AND h.cand_lang = c.cand_lang
       |)
       |SELECT doc_id, cand_lang AS pred_lang, score
       |FROM (SELECT doc_id, cand_lang, score,
       |             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang) AS rn
       |      FROM scored)
       |WHERE rn = 1
       |ORDER BY doc_id""".stripMargin
  }

  /** q147_token_dedup_inflation — the TOKEN-WEIGHTED view of exact
    * dedup per source: documents and tokens before vs after the q15
    * keep-smallest-id dedup, and the duplication factor n_tokens /
    * tokens_kept — "how much of my token budget is copies", the number
    * that decides whether a source's dedup pass pays for itself (doc
    * counts under-state duplication when the duplicated docs are the
    * long ones; every corpus paper reports the token-weighted factor).
    * Complements q127's slice retention (docs) with the budget view
    * (tokens); one definition of the keeper set (md5 group min, the
    * q15 convention).
    *
    * 100 TB: one scan derives (md5, source, token count) — text never
    * leaves the scan; the keeper derivation is a hash-scale aggregate
    * joined back on the 16-byte fingerprint; the report is
    * source-scale with map-side combine.
    */
  def tokenDedupInflation(spark: SparkSession, sfDir: String): DataFrame =
    tokenDedupInflationOf(Tables.documents(spark, sfDir))

  /** Composable core for ANY (doc_id, source, text, …) corpus. */
  def tokenDedupInflationOf(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"), md5(col("text")).as("h"),
      size(TextPipeline.tokenArr(col("text"))).cast("long").as("n_tok"))
    val keepers = base.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    base.join(keepers, Seq("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(col("doc_id") === col("keep_id"), 1L).otherwise(0L)).as("docs_kept"),
        sum(when(col("doc_id") === col("keep_id"), col("n_tok")).otherwise(lit(0L)))
          .as("tokens_kept"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("docs_kept"), col("tokens_kept"),
        when(col("tokens_kept") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_tokens") / col("tokens_kept").cast("double"), 6))
          .as("token_dup_factor"))
      .orderBy(col("source"))
  }

  val q147OracleSql: String =
    """WITH base AS (
      |  SELECT doc_id, source, md5(text) AS h,
      |         CAST(len(regexp_extract_all(text, '(\w+|[^\w\s]+)', 1)) AS BIGINT) AS n_tok
      |  FROM documents
      |), k AS (
      |  SELECT h, MIN(doc_id) AS keep_id FROM base GROUP BY h
      |)
      |SELECT b.source,
      |       COUNT(*) AS n_docs,
      |       CAST(SUM(b.n_tok) AS BIGINT) AS n_tokens,
      |       CAST(SUM(CASE WHEN b.doc_id = k.keep_id THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
      |       CAST(SUM(CASE WHEN b.doc_id = k.keep_id THEN b.n_tok ELSE 0 END) AS BIGINT) AS tokens_kept,
      |       CASE WHEN SUM(CASE WHEN b.doc_id = k.keep_id THEN b.n_tok ELSE 0 END) = 0 THEN NULL
      |            ELSE round(SUM(b.n_tok) / CAST(SUM(CASE WHEN b.doc_id = k.keep_id THEN b.n_tok ELSE 0 END) AS DOUBLE), 6)
      |       END AS token_dup_factor
      |FROM base b JOIN k USING (h)
      |GROUP BY b.source ORDER BY b.source""".stripMargin

  /** q145_langid_confusion — the CONFUSION MATRIX of the q19 heuristic
    * against the fixture's ground-truth language: per (true lang,
    * predicted lang) document counts and row shares — the evaluation a
    * pipeline owner reads BEFORE trusting the lang-ID gate in q92-style
    * compositions (the fixture's zh has no stopword profile, so the
    * matrix exposes exactly where the heuristic is blind — every zh doc
    * lands on some profile language; a production rollout reads that
    * row and adds the profile before shipping). One definition of the
    * prediction: the matrix calls [[langIdOf]] itself, so it can never
    * drift from the operator it audits (the q103/q127 discipline).
    *
    * 100 TB: q19's audited shape (broadcast profile join, per-doc
    * regroup, per-doc argmax window), one doc-scale equi-join back to
    * the truth column, and a (langs × langs)-scale aggregate with a
    * broadcast row-total join. Nothing new is corpus-scale.
    */
  def langidConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    langidConfusionOf(docs)
  }

  /** Composable core for ANY (doc_id, text, lang, …) corpus. */
  def langidConfusionOf(docs: DataFrame): DataFrame = {
    val cm = langIdOf(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val totals = cm.groupBy(col("lang")).agg(sum(col("n")).as("row_n"))
    cm.join(broadcast(totals), Seq("lang"))
      .select(col("lang"), col("pred_lang"), col("n"),
        round(col("n") / col("row_n").cast("double"), 6).as("share"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  val q145OracleSql: String =
    s"""WITH pred AS (
       |$q19OracleSql
       |), cm AS (
       |  SELECT d.lang, p.pred_lang, COUNT(*) AS n
       |  FROM pred p JOIN documents d USING (doc_id)
       |  GROUP BY d.lang, p.pred_lang
       |), tot AS (
       |  SELECT lang, SUM(n) AS row_n FROM cm GROUP BY lang
       |)
       |SELECT cm.lang, cm.pred_lang, cm.n,
       |       round(cm.n / CAST(tot.row_n AS DOUBLE), 6) AS share
       |FROM cm JOIN tot USING (lang)
       |ORDER BY cm.lang, cm.pred_lang""".stripMargin

  /** q20_quality_score — per-document quality heuristics: token count,
    * punctuation-token ratio, stopword ratio, mean token length, and a
    * weighted composite — the standard pre-training corpus quality filter
    * shape (length/punct/stopword signals).
    */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame =
    qualityScoreOf(Tables.documents(spark, sfDir))

  /** Composable core of q20 for ANY (doc_id, text, …) corpus — the quality
    * gate of a curation pipeline (filter on the `quality` composite).
    */
  def qualityScoreOf(docs: DataFrame): DataFrame = {
    val stop = EnStopwords.map(s => s"'$s'").mkString("(", ",", ")")
    docs
      .select(col("doc_id"), posexplode(tokenArr(col("text"))))
      .toDF("doc_id", "pos", "tok")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(expr(s"CASE WHEN tok IN $stop THEN 1 ELSE 0 END")).as("n_stop"),
        sum(expr("CASE WHEN tok RLIKE '^[^a-z0-9]+$' THEN 1 ELSE 0 END")).as("n_punct"),
        avg(length(col("tok"))).as("m_len"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        round(col("n_stop") / col("n_tokens"), 6).as("stopword_ratio"),
        round(col("n_punct") / col("n_tokens"), 6).as("punct_ratio"),
        round(col("m_len"), 6).as("avg_tok_len"),
        round(
          least(col("n_tokens") / 100.0, lit(1.0)) * 0.4
            + (lit(1.0) - col("n_punct") / col("n_tokens")) * 0.3
            + (col("n_stop") / col("n_tokens")) * 0.3, 6).as("quality"))
      .orderBy(col("doc_id"))
  }

  val q20OracleSql: String = {
    val stop = EnStopwords.map(s => s"'$s'").mkString("(", ",", ")")
    s"""WITH t AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '(\\w+|[^\\w\\s]+)', 1)) AS tok FROM documents
       |), g AS (
       |  SELECT doc_id,
       |         COUNT(*) AS n_tokens,
       |         sum(CASE WHEN tok IN $stop THEN 1 ELSE 0 END) AS n_stop,
       |         sum(CASE WHEN regexp_matches(tok, '^[^a-z0-9]+$$') THEN 1 ELSE 0 END) AS n_punct,
       |         avg(len(tok)) AS m_len
       |  FROM t GROUP BY doc_id
       |)
       |SELECT doc_id, n_tokens,
       |       round(n_stop / CAST(n_tokens AS DOUBLE), 6) AS stopword_ratio,
       |       round(n_punct / CAST(n_tokens AS DOUBLE), 6) AS punct_ratio,
       |       round(m_len, 6) AS avg_tok_len,
       |       round(least(n_tokens / 100.0, 1.0) * 0.4
       |             + (1.0 - n_punct / CAST(n_tokens AS DOUBLE)) * 0.3
       |             + (n_stop / CAST(n_tokens AS DOUBLE)) * 0.3, 6) AS quality
       |FROM g ORDER BY doc_id""".stripMargin
  }

  /** q21_token_count — token counting two ways: plain whitespace split and a
    * BPE-ish pre-tokenizer regex (contractions, words, punctuation runs —
    * the GPT-2 pre-tokenizer family, restricted to RE2-safe constructs so
    * engines agree).
    */
  val BpeRegex = "'(?:[sdmt]|ll|ve|re)|\\w+|[^\\w\\s]+"

  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit(BpeRegex), lit(0))).cast("long").as("n_bpe_tokens"),
        col("n_chars"))
      .orderBy(col("doc_id"))

  val q21OracleSql: String =
    """SELECT doc_id,
      |       CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_ws_tokens,
      |       CAST(len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)|\w+|[^\w\s]+', 0)) AS BIGINT) AS n_bpe_tokens,
      |       n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q22_doc_fingerprint — Karp-Rabin polynomial rolling hash of the
    * document body (h = (h*31 + byte) mod 1000003), plus duplicate-bucket
    * size per fingerprint. The per-char fold is a pure array expression;
    * at scale the fingerprint replaces the full text in every downstream
    * dedup shuffle.
    */
  def docFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    // Native codegen'd byte fold (graft.functions.RollingHash): the
    // higher-order-function form (aggregate over split-to-chars) allocates
    // a per-char array and runs interpreted; the naive substr(text,i,1)
    // variant before it was O(n²) per doc and benched 10x slower still.
    graft.functions.RollingHash.ensureRegistered(spark)
    val docs = Tables.documents(spark, sfDir)
      .withColumn("fp", graft.functions.RollingHash.rollingHash(col("text")))
    val buckets = docs.groupBy(col("fp")).agg(count(lit(1)).as("n_docs"))
    docs.join(buckets, Seq("fp"))
      .select(col("doc_id"), col("fp"), col("n_docs"))
      .orderBy(col("doc_id"))
  }

  /** q90_winnow_fingerprint — WINNOWING local fingerprints (Schleimer,
    * Wilkerson, Aiken, SIGMOD 2003 — the MOSS algorithm): per document,
    * hash every k-char gram (k=8, q22's Karp-Rabin byte fold via the
    * native codegen'd [[graft.functions.RollingHash]]), slide a window
    * of w=4 gram positions, and keep each window's minimum hash
    * (rightmost on ties), deduplicated. Winnowing GUARANTEES any shared
    * substring of length ≥ k+w-1 contributes at least one matching
    * (fp, pos-aligned) fingerprint — the local-fingerprint property that
    * makes partial-overlap detection (quote mining, license text,
    * plagiarism-shaped duplication) work where q22's whole-doc hash
    * (identity only) and q16's MinHash (global resemblance, no
    * guarantee) do not. Emits one row per selected (doc_id, pos, fp).
    *
    * 100 TB shape: selection is pure scan-local column work — the gram
    * hashes, window minima, and dedup all run inside the row (arrays,
    * no explode-shuffle-regroup); the output is fingerprint-scale
    * (~2/(w+1) of gram positions), and ONLY it ever reaches a match
    * join. Docs shorter than k chars have no grams and emit nothing;
    * docs with fewer than w grams winnow their single truncated window.
    */
  def winnowFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    winnowFingerprintOf(Tables.documents(spark, sfDir))

  /** Composable core for ANY (doc_id, text, …) corpus; k and w are the
    * noise/guarantee thresholds (match guarantee t = k + w - 1). The
    * whole selection — gram hashes, monotone-deque window minima,
    * dedup — is one native expression ([[graft.functions
    * .WinnowFingerprint]]) per row: no shuffle anywhere (the first
    * HOF formulation ran interpreted at 5.0 s/sf0.1 and needed a
    * `distinct` exchange; this is 0.6 s and exchange-free).
    */
  def winnowFingerprintOf(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame = {
    val winnow = graft.functions.WinnowFingerprint.winnowCol(docs.sparkSession, k, w) _
    docs
      .select(col("doc_id"), explode(winnow(lower(col("text")))).as("f"))
      .select(col("doc_id"),
        element_at(col("f"), 2).as("pos"),
        element_at(col("f"), 1).as("fp"))
    // no orderBy: the output is fingerprint-scale (~0.4 rows per gram)
    // and a global sort would be its only exchange — the driver compare
    // and every downstream match join are order-free
  }

  /** q90 oracle: the same gram fold (q22's formulation), window fold as
    * an init-prepended list_reduce over [hash, pos] pairs, row DISTINCT
    * after UNNEST (DuckDB 1.0 cannot list_distinct nested lists).
    * Validated against an imperative winnowing reference over random
    * corpora before pinning.
    */
  val q90OracleSql: String =
    """WITH t AS (
      |  SELECT doc_id, lower(text) AS txt FROM documents
      |), h AS (
      |  SELECT doc_id,
      |    list_transform(range(1, len(txt) - 8 + 2), i ->
      |      list_reduce([CAST(0 AS BIGINT)] || list_transform(range(i, i + 8),
      |        j -> CAST(ascii(substring(txt, CAST(j AS INT), 1)) AS BIGINT)),
      |        (h, c) -> (h * 31 + c) % 1000003)) AS hs
      |  FROM t WHERE len(txt) >= 8
      |), win AS (
      |  SELECT doc_id, list_transform(range(1, greatest(len(hs) - 3, 1) + 1), s ->
      |    list_reduce([[CAST(1000004 AS BIGINT), CAST(-1 AS BIGINT)]] ||
      |      list_transform(range(0, least(3, len(hs) - s) + 1), i -> [hs[CAST(s + i AS INT)], CAST(s + i AS BIGINT)]),
      |      (acc, x) -> CASE WHEN x[1] <= acc[1] THEN x ELSE acc END)) AS fs
      |  FROM h
      |)
      |SELECT DISTINCT doc_id, f[2] AS pos, f[1] AS fp
      |FROM win CROSS JOIN UNNEST(fs) AS u(f)
      |ORDER BY doc_id, pos""".stripMargin

  /** q91_winnow_matches — cross-document OVERLAP DETECTION over q90's
    * winnowing fingerprints (the MOSS match step): documents sharing
    * ≥ minShared selected fingerprints are reported as (a_id, b_id,
    * n_shared). Because winnowing is LOCAL, this finds partial overlap —
    * a quoted paragraph, boilerplate license text, a copied span —
    * with per-span evidence, where q16's MinHash (global resemblance)
    * dilutes a short shared span to invisibility and q22 (whole-doc
    * hash) needs identity.
    *
    * The frequent-fingerprint cull (document frequency > maxDf drops
    * the fp) is MOSS's "too common to mean anything" rule AND the skew
    * bound: join fanout per fingerprint is ≤ maxDf², so the pair
    * explosion a boilerplate gram would cause is structurally capped —
    * the 100 TB answer to hot keys in the self-join (q66's salting
    * would spread the load; the cull removes it, and removes noise
    * with it).
    *
    * Everything past the scan is FINGERPRINT-scale: distinct (doc, fp),
    * the df count (map-side combined), the culled self-equi-join on fp,
    * and the pair aggregate. Corpus text never shuffles.
    */
  def winnowMatches(spark: SparkSession, sfDir: String): DataFrame =
    winnowMatchesOf(Tables.documents(spark, sfDir))

  /** Composable core for ANY (doc_id, text, …) corpus.
    *
    * ONE fingerprint-scale shuffle: (fp → bounded distinct doc set) via
    * [[BoundedDistinct]] — the cap IS the cull (a set past maxDf finishes
    * empty), state never exceeds maxDf+1 ids per key even on a
    * boilerplate fingerprint present in every document, and map-side
    * combine stays intact. Ordered pairs then explode straight out of
    * each ≤ maxDf sorted set (≤ maxDf²/2 per fp, array work, no
    * self-join), leaving only the pair-scale count exchange. The first
    * formulation (distinct → df count → join → self-join → agg) ran the
    * same semantics in four fingerprint-scale shuffles and measured
    * 347 s at sf10; this is two shuffles and 106 s (sf0.1→sf10 exp
    * 1.07 — linear in the fingerprint stream, as pair matching under a
    * bounded cull should be).
    */
  def winnowMatchesOf(docs: DataFrame, k: Int = 8, w: Int = 4,
                      maxDf: Int = 10, minShared: Int = 5): DataFrame = {
    val bd = BoundedDistinct.udafOf(maxDf)
    winnowFingerprintOf(docs, k, w)
      .groupBy(col("fp")).agg(bd(col("doc_id")).as("docs"))
      .filter(size(col("docs")) >= 2)
      .select(explode(flatten(transform(col("docs"), (a, i) =>
        transform(slice(col("docs"), i + 2, size(col("docs"))),
          b => struct(a.as("a_id"), b.as("b_id")))))).as("p"))
      .groupBy(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** q91 oracle: q90's fingerprint CTEs + distinct (doc, fp), df cull,
    * self-join, HAVING. */
  val q91OracleSql: String = {
    val fpCtes = q90OracleSql.split("\\n\\)\\nSELECT")(0) // WITH t/h/win CTEs
    s"""$fpCtes
       |), fps AS (
       |  SELECT DISTINCT doc_id, f[1] AS fp
       |  FROM win CROSS JOIN UNNEST(fs) AS u(f)
       |), rare AS (
       |  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 10
       |), kept AS (
       |  SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp)
       |)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(COUNT(*) AS BIGINT) AS n_shared
       |FROM kept a JOIN kept b USING (fp)
       |WHERE a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= 5
       |ORDER BY a_id, b_id""".stripMargin
  }

  val q22OracleSql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |         list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, len(text) + 1),
      |                     i -> CAST(ascii(substring(text, CAST(i AS INT), 1)) AS BIGINT)),
      |                     (h, c) -> (h * 31 + c) % 1000003) AS fp
      |  FROM documents
      |), b AS (
      |  SELECT fp, COUNT(*) AS n_docs FROM f GROUP BY fp
      |)
      |SELECT f.doc_id, f.fp, b.n_docs
      |FROM f JOIN b USING (fp)
      |ORDER BY f.doc_id""".stripMargin

  /** q50_tfidf_top_terms — per-document top-3 terms by TF-IDF (ties to the
    * lexicographically smaller token): the classic corpus-statistics
    * keyword extractor a training-data pipeline runs for quality scoring
    * and topic tagging. `tf` = in-document term count, `idf` = ln(N / df).
    *
    * Scale shape: two hash aggregates (map-side partial) — (doc, token)
    * term counts and per-token document frequencies — joined ON TOKEN (a
    * shuffle join by design: the df table is vocabulary-sized, which
    * outgrows a broadcast at web scale), then a per-document rank window
    * (partition cardinality = tokens per doc, bounded by document length,
    * never corpus size).
    */
  def tfidfTopTerms(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    // corpus size as a LAZY broadcast scalar (1-row aggregate), not an
    // eager docs.count() — constructing the frame must not run a job
    // (plan-only callers like Explain), and the oracle computes N the
    // same relational way
    val n = docs.agg(count(lit(1)).cast("double").as("n"))
    val terms = docs
      .select(col("doc_id"), explode(TextPipeline.tokenArr(col("text"))).as("token"))
    val tf = terms.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = terms.select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token").asc)
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("n") / col("df")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("token"), col("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** BM25 constants (q95): the standard Robertson/Walker defaults. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  /** q95: docs returned per query. */
  val Bm25TopK = 10

  /** q95_bm25_rank — RANKED LEXICAL RETRIEVAL: BM25 top-[[Bm25TopK]]
    * documents per query (k1=[[Bm25K1]], b=[[Bm25B]], IDF = ln((N − df +
    * 0.5)/(df + 0.5) + 1)). The lexical half of hybrid search next to
    * q01's vector half (reference: vector_db_query.py:78-86 is the
    * vector-only search this completes — a user running hybrid lexical +
    * vector retrieval over the corpus needs exactly this ranking next to
    * the cosine top-k).
    *
    * The query workload is derived deterministically from the corpus so
    * the operator is self-contained across fixture regenerations: the 12
    * highest-document-frequency alphabetic terms (df desc, token asc)
    * form 4 three-term queries. Scores round to 6 dp BEFORE ranking (the
    * q76 discipline: rank on the rounded value, ties to the smaller
    * doc_id, so both engines rank identical numbers).
    *
    * 100 TB shape: q50's plan family with q72's broadcast discipline —
    * two hash aggregates (per-(doc,token) tf with map-side combine; df +
    * doc-length tables derived from the TYPE table, no second corpus
    * pass), the query table is a 12-row broadcast that cuts the tf
    * stream scan-side BEFORE any corpus-scale join, the doc-length join
    * is id-to-id carrying two longs, the global stats ride a 1-row
    * broadcast, and the final ranking is the bounded-heap [[TopK]]
    * aggregate (≤ queries × partitions × k heap rows shuffle — never a
    * corpus-scale window). Text never moves; the query derivation's
    * orderBy+limit is TakeOrderedAndProject on the vocab-scale df table.
    */
  def bm25Rank(spark: SparkSession, sfDir: String): DataFrame =
    bm25RankOf(Tables.documents(spark, sfDir))

  /** The deterministic q95/q96 query workload over ANY (doc_id, text, …)
    * corpus: the 12 highest-document-frequency alphabetic terms (df desc,
    * token asc) grouped 3-per-query → `(qid, rn, token, df)`. The
    * orderBy+limit is a bounded TakeOrderedAndProject on the vocab-scale
    * df table; the rn window runs over 12 rows. Factored out so the BM25
    * ranker (q95) and the hybrid fusion (q96) can never drift on what
    * "the queries" are.
    */
  def bm25QueryTableOf(docs: DataFrame): DataFrame =
    bm25QueryTableFromTf(tokenTfOf(docs))

  /** The per-(doc, token) term-frequency table — q95's ONE corpus
    * tokenization pass, and the lexical artifact a serving tier persists
    * (q96's [[Hybrid.buildHybridArtifacts]]): every other BM25 input
    * (dl, corpus stats, df, the query workload) derives from this table
    * without touching corpus text again. The oracle builds its `tf` CTE
    * identically.
    */
  private[graft] def tokenTfOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokenArr(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))

  /** [[tokenTfOf]] materialized ONCE for the INLINE (live-fit) ranking
    * paths (round 17, guide §2.4): the tf table feeds 3–7 plan branches
    * in every ranker (dl, df/cf, stats, the scoring join, q121's
    * feedback model), and exchange reuse does NOT dedup them — the
    * scoring branch's broadcast-join pushes `isnotnull(token)` into its
    * scan, so its exchange subtree is no longer canonically identical to
    * the dl/df branches' (measured: the executed q95 plan tokenizes the
    * corpus 4×, q121 7×, zero ReusedExchange). The checkpoint is the
    * exact boundary the PRODUCTION path persists anyway — q183's
    * buildBm25Artifacts writes this very table to parquet; at 100 TB the
    * artifact-served route is the deployed one and this inline
    * materialization is its single-snapshot rendering. The FromTf
    * variants stay lazy: their tf is already a parquet artifact scan.
    */
  private[graft] def tokenTfMaterialized(docs: DataFrame): DataFrame =
    tokenTfOf(docs).localCheckpoint(true)

  /** [[bm25QueryTableOf]] from a (doc_id, token, tf) table: tf rows ARE
    * the distinct (doc, token) pairs, so df is one vocab-scale aggregate
    * (the oracle's own derivation order).
    */
  private[graft] def bm25QueryTableFromTf(tf: DataFrame): DataFrame =
    bm25QueryTableFromDf(tf.groupBy(col("token")).agg(count(lit(1)).as("df")))

  /** [[bm25QueryTableOf]] from a PRE-BUILT (token, df) table — the
    * artifact-served workload derivation (q183): the vocab-scale df
    * aggregate is read from the persisted artifact instead of recomputed
    * per query run.
    */
  private[graft] def bm25QueryTableFromDf(dfTab: DataFrame): DataFrame = {
    val top12 = dfTab.filter(col("token").rlike("^[A-Za-z]{3,}$"))
      .orderBy(col("df").desc, col("token").asc).limit(12)
    // rn WITHOUT a window: the 12 limited rows fold into one sorted array
    // ((-df, token) struct order == df desc, token asc) and posexplode
    // numbers them — same values as a row_number, but no global-window
    // node, so no single-partition WindowExec warning in every consumer
    // log (VERDICT r11 item 5) and one fewer exchange
    top12
      .agg(sort_array(collect_list(
        struct((-col("df")).as("negdf"), col("token"), col("df")))).as("rows"))
      .select(posexplode(col("rows")))
      .select(expr("CAST(pos div 3 AS BIGINT)").as("qid"),
        (col("pos") + 1).cast("int").as("rn"),
        col("col.token").as("token"), col("col.df").as("df"))
  }

  /** Composable core of q95 for ANY (doc_id, text, …) corpus. */
  def bm25RankOf(docs: DataFrame): DataFrame = {
    val tf = tokenTfMaterialized(docs)
    bm25RankFromTf(tf, bm25QueryTableFromTf(tf))
  }

  /** q95's ranker against a PRE-DERIVED query workload (the
    * [[bm25QueryTableOf]] shape `(qid, rn, token, df)`): q96 derives the
    * workload once and feeds both halves through this, so the fused run
    * does not re-derive it per half.
    */
  def bm25RankWith(docs: DataFrame, queryTable: DataFrame): DataFrame =
    bm25RankFromTf(tokenTfOf(docs), queryTable)

  /** The ranker against a PRE-BUILT (doc_id, token, tf) table — the
    * artifact-backed serving path ([[Hybrid.hybridRrfAgainstArtifacts]]):
    * corpus text is never read, every input derives from tf.
    */
  private[graft] def bm25RankFromTf(tf: DataFrame, queryTable: DataFrame): DataFrame = {
    // doc lengths and corpus stats from the tf table — no second corpus pass
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      avg(col("dl")).cast("double").as("avgdl"))
    bm25RankAgainst(tf, dl, stats, queryTable)
  }

  /** The ranker against FULLY pre-built inputs — (doc, token, tf), doc
    * lengths, the 1-row (n, avgdl) stats — the q183 artifact-served
    * scoring core: query-time work is the broadcast query-term cut of
    * tf, an id-to-id dl join, the 1-row stats broadcast, and the
    * bounded-heap top-k. Nothing vocab- or corpus-scale is aggregated
    * at query time.
    */
  private[graft] def bm25RankAgainst(tf: DataFrame, dl: DataFrame,
                                     stats: DataFrame, queryTable: DataFrame): DataFrame = {
    val qtab = queryTable.select(col("qid"), col("token"), col("df"))
    val perTerm = tf
      .join(broadcast(qtab), Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"),
        (log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1) *
          (col("tf") * (Bm25K1 + 1)) /
          (col("tf") + lit(Bm25K1) * (lit(1 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))).as("s"))
    val perDoc = perTerm.groupBy(col("qid"), col("doc_id"))
      .agg(round(sum(col("s")), 6).as("score"))
    val tk = TopK.topKUdaf(Bm25TopK)
    perDoc.groupBy(col("qid"))
      .agg(tk(col("doc_id"), col("score")).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .toDF("qid", "pos", "s")
      .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
        col("s.id").as("doc_id"), col("s.score").as("score"))
      .orderBy(col("qid"), col("rank"))
  }

  val q95OracleSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '(\w+|[^\w\s]+)', 1)) AS token FROM documents
      |), tf AS (
      |  SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY doc_id, token
      |), dl AS (
      |  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id
      |), stats AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(AVG(dl) AS DOUBLE) AS avgdl FROM dl
      |), df AS (
      |  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
      |), qt AS (
      |  SELECT token, df, row_number() OVER (ORDER BY df DESC, token) AS rn
      |  FROM df WHERE regexp_full_match(token, '[A-Za-z]{3,}')
      |  ORDER BY df DESC, token LIMIT 12
      |), q AS (
      |  SELECT CAST((rn - 1) // 3 AS BIGINT) AS qid, token, df FROM qt
      |), s AS (
      |  SELECT q.qid, tf.doc_id,
      |         ln((stats.n - q.df + 0.5) / (q.df + 0.5) + 1) *
      |         (tf.tf * (1.2 + 1)) /
      |         (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS s
      |  FROM tf JOIN q USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
      |), agg AS (
      |  SELECT qid, doc_id, round(SUM(s), 6) AS score FROM s GROUP BY qid, doc_id
      |), r AS (
      |  SELECT qid, doc_id, score,
      |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
      |  FROM agg
      |)
      |SELECT qid, CAST(rnk AS BIGINT) AS rank, doc_id, score
      |FROM r WHERE rnk <= 10 ORDER BY qid, rank""".stripMargin

  /** Build (or rebuild after a corpus snapshot change) the PERSISTED
    * BM25 index artifacts (VERDICT r16 item 4 — the q54/q38
    * build-once/serve-many pattern applied to the lexical side): the
    * per-(doc, token) tf table (ONE corpus tokenization pass), and the
    * three tables every query run needs derived from it — doc lengths
    * (dl), document frequencies (df), and the 1-row (n, avgdl) corpus
    * stats. dl/df/stats derive from the JUST-WRITTEN tf parquet (an
    * artifact-scale re-read, never a second corpus pass, and no cache
    * entry to leak). At 100 TB these are maintained per snapshot and
    * every q95-shaped ranking probes them without touching corpus text
    * — exactly what q152's serving tier deploys.
    */
  def buildBm25Artifacts(docs: DataFrame, dir: String): Unit = {
    tokenTfOf(docs).write.mode("overwrite").parquet(s"$dir/tf.parquet")
    val spark = docs.sparkSession
    val tf = spark.read.parquet(s"$dir/tf.parquet")
    tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      .write.mode("overwrite").parquet(s"$dir/dl.parquet")
    tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$dir/df.parquet")
    spark.read.parquet(s"$dir/dl.parquet")
      .agg(count(lit(1)).cast("double").as("n"),
        avg(col("dl")).cast("double").as("avgdl"))
      .write.mode("overwrite").parquet(s"$dir/stats.parquet")
  }

  /** q95's ranking served ENTIRELY from the persisted artifacts: the
    * query workload derives from the LOADED df table, scoring probes the
    * LOADED tf/dl/stats — no corpus text, no vocab-scale or doc-scale
    * aggregate anywhere in the query-time plan (serve-plan pinned in
    * LexArtifactSpec).
    */
  def bm25ServeFromArtifacts(spark: SparkSession, dir: String): DataFrame =
    bm25RankAgainst(
      spark.read.parquet(s"$dir/tf.parquet"),
      spark.read.parquet(s"$dir/dl.parquet"),
      spark.read.parquet(s"$dir/stats.parquet"),
      bm25QueryTableFromDf(spark.read.parquet(s"$dir/df.parquet")))

  /** q183_bm25_artifact_rank — the build-once/serve-many lexical index
    * as a declared, oracle-checked row (the q38/q54 lifecycle
    * discipline brought to the BM25 side): build the persisted
    * artifacts from the fixture corpus into a fresh temp directory,
    * then rank q95's workload from the LOADED artifacts alone. Declared
    * under q95's oracle VERBATIM — a green hash proves the persisted
    * lexical index loses nothing vs the live fit, the same claim q38
    * makes for the vector side.
    */
  def bm25ArtifactRank(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_q183_lex").toString
    buildBm25Artifacts(Tables.documents(spark, sfDir), dir)
    bm25ServeFromArtifacts(spark, dir)
  }

  /** RM3 knobs: feedback depth (round-1 docs that define the relevance
    * model), expansion width (terms added per query), and the
    * interpolation weight of the ORIGINAL query. The derived weights
    * ([[Rm3ExpWeight]], [[Rm3OrigTermWeight]]) are computed once here
    * and interpolated into the oracle via Scala's round-tripping Double
    * print — the q117 bit-identical-constant discipline.
    */
  val Rm3FbDocs = 5
  val Rm3ExpTerms = 5
  val Rm3Alpha = 0.6
  val Rm3ExpWeight: Double = 1 - Rm3Alpha
  val Rm3OrigTermWeight: Double = Rm3Alpha / 3.0

  /** q121_rm3_expand — PSEUDO-RELEVANCE-FEEDBACK retrieval (RM3, Lavrenko
    * & Croft SIGIR'01 as deployed in Indri/Anserini): run the q95 BM25
    * ranking, treat each query's top-[[Rm3FbDocs]] documents as a
    * relevance sample, estimate the relevance model P(w|R) =
    * mean_{d∈R} tf(w,d)/|d|, add the top-[[Rm3ExpTerms]] new terms
    * (alphabetic, not already in the query; weights 6-dp-rounded BEFORE
    * ranking, ties to the smaller token — the q76 discipline), and
    * re-rank with the interpolated weighted query ([[Rm3Alpha]] split
    * evenly over the 3 original terms, 1−α over the normalized expansion
    * weights). The classic recall lever a lexical serving tier pulls
    * when embeddings are unavailable or stale — and the missing third
    * piece of the retrieval stack next to q95 (rank) and q96 (fuse).
    *
    * 100 TB: ONE tokenization pass — every stage (both ranking rounds,
    * doc lengths, document frequencies, the feedback model) derives from
    * the (doc, token, tf) table, whose aggregation exchange
    * ReusedExchange shares across consumers (the q106/q114 stateless
    * discipline; the artifact-backed serving path feeds a persisted tf
    * via [[rm3FromTf]] exactly like q96's). The feedback pair set is
    * queries×[[Rm3FbDocs]] rows and BROADCASTS into the tf stream; the
    * relevance model aggregates feedback-doc tokens only; expansion
    * selection is a per-qid sort_array fold over the feedback vocabulary
    * (decision-scale, no window — the q95 rn idiom); both ranking rounds
    * are the audited q95 shape (broadcast query cut, bounded-heap TopK).
    */
  def rm3Rank(spark: SparkSession, sfDir: String): DataFrame =
    rm3RankOf(Tables.documents(spark, sfDir))

  /** Composable core of q121 for ANY (doc_id, text, …) corpus. */
  def rm3RankOf(docs: DataFrame): DataFrame = {
    val tf = tokenTfMaterialized(docs)
    rm3FromTf(tf, bm25QueryTableFromTf(tf))
  }

  /** The expanded weighted query table `(qid, token, weight)` — exposed
    * for spec assertions on the expansion semantics.
    */
  private[graft] def rm3ExpandedQueryOf(tf: DataFrame, queryTable: DataFrame): DataFrame = {
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val fb = bm25RankFromTf(tf, queryTable)
      .filter(col("rank") <= Rm3FbDocs)
      .select(col("qid"), col("doc_id"))
    val relModel = tf
      .join(broadcast(fb), Seq("doc_id"))
      .join(dl, Seq("doc_id"))
      .select(col("qid"), col("token"), (col("tf").cast("double") / col("dl")).as("p"))
      .groupBy(col("qid"), col("token"))
      .agg(round(sum(col("p")) / Rm3FbDocs, 6).as("w"))
    val candidates = relModel
      .join(queryTable.select(col("qid"), col("token")), Seq("qid", "token"), "left_anti")
      .filter(col("token").rlike("^[A-Za-z]{3,}$"))
    // top-E per qid WITHOUT a window: the feedback vocabulary per qid is
    // decision-scale (≤ FbDocs documents' types), so the q95 rn idiom
    // (sorted-struct fold) applies per query
    val expTerms = candidates
      .groupBy(col("qid"))
      .agg(slice(sort_array(collect_list(
        struct((-col("w")).as("negw"), col("token"), col("w")))), 1, Rm3ExpTerms).as("rows"))
      .select(col("qid"), explode(col("rows")).as("r"))
      .select(col("qid"), col("r.token").as("token"), col("r.w").as("w"))
    val expNorm = expTerms
      .join(expTerms.groupBy(col("qid")).agg(sum(col("w")).as("wsum")), Seq("qid"))
      .select(col("qid"), col("token"),
        (lit(Rm3ExpWeight) * col("w") / col("wsum")).as("weight"))
    queryTable.select(col("qid"), col("token"), lit(Rm3OrigTermWeight).as("weight"))
      .unionByName(expNorm)
  }

  /** q121 against a PRE-BUILT tf table — the artifact-backed serving
    * shape (encode the corpus once, expand-and-rank many).
    */
  private[graft] def rm3FromTf(tf: DataFrame, queryTable: DataFrame): DataFrame = {
    val wq = rm3ExpandedQueryOf(tf, queryTable)
    val dfTab = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val wqDf = dfTab.join(broadcast(wq), Seq("token"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      avg(col("dl")).cast("double").as("avgdl"))
    val perTerm = tf
      .join(broadcast(wqDf), Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"),
        (col("weight") *
          log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1) *
          (col("tf") * (Bm25K1 + 1)) /
          (col("tf") + lit(Bm25K1) * (lit(1 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))).as("s"))
    val perDoc = perTerm.groupBy(col("qid"), col("doc_id"))
      .agg(round(sum(col("s")), 6).as("score"))
    val tk = TopK.topKUdaf(Bm25TopK)
    perDoc.groupBy(col("qid"))
      .agg(tk(col("doc_id"), col("score")).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .toDF("qid", "pos", "s")
      .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
        col("s.id").as("doc_id"), col("s.score").as("score"))
      .orderBy(col("qid"), col("rank"))
  }

  val q121OracleSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '(\\w+|[^\\w\\s]+)', 1)) AS token FROM documents
      |), tf AS (
      |  SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY doc_id, token
      |), dl AS (
      |  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id
      |), stats AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(AVG(dl) AS DOUBLE) AS avgdl FROM dl
      |), df AS (
      |  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
      |), qt AS (
      |  SELECT token, df, row_number() OVER (ORDER BY df DESC, token) AS rn
      |  FROM df WHERE regexp_full_match(token, '[A-Za-z]{3,}')
      |  ORDER BY df DESC, token LIMIT 12
      |), q AS (
      |  SELECT CAST((rn - 1) // 3 AS BIGINT) AS qid, token, df FROM qt
      |), s1 AS (
      |  SELECT q.qid, tf.doc_id,
      |         ln((stats.n - q.df + 0.5) / (q.df + 0.5) + 1) *
      |         (tf.tf * ($Bm25K1 + 1)) /
      |         (tf.tf + $Bm25K1 * (1 - $Bm25B + $Bm25B * dl.dl / stats.avgdl)) AS s
      |  FROM tf JOIN q USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
      |), agg1 AS (
      |  SELECT qid, doc_id, round(SUM(s), 6) AS score FROM s1 GROUP BY qid, doc_id
      |), r1 AS (
      |  SELECT qid, doc_id,
      |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
      |  FROM agg1
      |), fb AS (
      |  SELECT qid, doc_id FROM r1 WHERE rnk <= $Rm3FbDocs
      |), rel AS (
      |  SELECT fb.qid, tf.token,
      |         round(SUM(CAST(tf.tf AS DOUBLE) / dl.dl) / $Rm3FbDocs, 6) AS w
      |  FROM tf JOIN fb USING (doc_id) JOIN dl USING (doc_id)
      |  GROUP BY fb.qid, tf.token
      |), cand AS (
      |  SELECT rel.qid, rel.token, rel.w
      |  FROM rel LEFT JOIN q ON q.qid = rel.qid AND q.token = rel.token
      |  WHERE q.token IS NULL AND regexp_full_match(rel.token, '[A-Za-z]{3,}')
      |), ex AS (
      |  SELECT qid, token, w FROM (
      |    SELECT qid, token, w,
      |           row_number() OVER (PARTITION BY qid ORDER BY w DESC, token) AS rn
      |    FROM cand) WHERE rn <= $Rm3ExpTerms
      |), ews AS (
      |  SELECT qid, SUM(w) AS wsum FROM ex GROUP BY qid
      |), wq AS (
      |  SELECT qid, token, $Rm3OrigTermWeight AS weight FROM q
      |  UNION ALL
      |  SELECT ex.qid, ex.token, $Rm3ExpWeight * ex.w / ews.wsum AS weight
      |  FROM ex JOIN ews USING (qid)
      |), s2 AS (
      |  SELECT wq.qid, tf.doc_id,
      |         wq.weight *
      |         ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1) *
      |         (tf.tf * ($Bm25K1 + 1)) /
      |         (tf.tf + $Bm25K1 * (1 - $Bm25B + $Bm25B * dl.dl / stats.avgdl)) AS s
      |  FROM tf JOIN wq USING (token) JOIN df USING (token)
      |       JOIN dl USING (doc_id) CROSS JOIN stats
      |), agg2 AS (
      |  SELECT qid, doc_id, round(SUM(s), 6) AS score FROM s2 GROUP BY qid, doc_id
      |), r2 AS (
      |  SELECT qid, doc_id, score,
      |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
      |  FROM agg2
      |)
      |SELECT qid, CAST(rnk AS BIGINT) AS rank, doc_id, score
      |FROM r2 WHERE rnk <= $Bm25TopK ORDER BY qid, rank""".stripMargin

  /** Dirichlet smoothing prior (Zhai & Lafferty's μ; 1000 is the classic
    * short-query setting). A literal both engines parse identically.
    */
  val QlMu = 1000.0

  /** q125_ql_rank — DIRICHLET QUERY-LIKELIHOOD ranking (Zhai & Lafferty
    * SIGIR'01), the language-modeling alternative to q95's BM25 and the
    * third classic lexical ranker (Anserini ships exactly this pair):
    * score(q,d) = Σ_{t∈q∩d} ln(1 + tf/(μ·P(t|C))) + |q|·ln(μ/(dl+μ)),
    * the rank-equivalent decomposition of log p(q|d) under Dirichlet
    * smoothing — the first sum needs only MATCHING postings, the second
    * is a per-document length prior. Same workload, rounding, and
    * tie-break discipline as q95, so the two rankers are directly
    * comparable row-for-row.
    *
    * 100 TB: the same ONE-tokenization derivation as q95/q121 (tf →
    * dl/cf/totals, ReusedExchange-shared); the match sum joins the
    * broadcast 12-term query model into the tf stream scan-side; the
    * length prior is arithmetic over the DOC-SCALE dl table (×|queries|
    * rows through the bounded heap — never corpus text); ranking is the
    * TopK aggregate. A serving tier adds the standard candidate cut
    * (score only matching docs) once it audits ≥k matches per query —
    * rank-identical in that regime, and the declared row stays exact by
    * scoring every document.
    */
  def qlRank(spark: SparkSession, sfDir: String): DataFrame =
    qlRankOf(Tables.documents(spark, sfDir))

  /** Composable core of q125 for ANY (doc_id, text, …) corpus. */
  def qlRankOf(docs: DataFrame): DataFrame = {
    val tf = tokenTfMaterialized(docs)
    qlFromTf(tf, bm25QueryTableFromTf(tf))
  }

  /** q125 against a PRE-BUILT tf table (the artifact serving path). */
  private[graft] def qlFromTf(tf: DataFrame, queryTable: DataFrame): DataFrame = {
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val tot = dl.agg(sum(col("dl")).cast("double").as("total"))
    val cf = tf.groupBy(col("token")).agg(sum(col("tf")).as("cf"))
    val qModel = queryTable.select(col("qid"), col("token"))
      .join(cf, Seq("token"))
      .crossJoin(broadcast(tot))
      .select(col("qid"), col("token"), (col("cf") / col("total")).as("p"))
    val matchSum = tf
      .join(broadcast(qModel), Seq("token"))
      .select(col("qid"), col("doc_id"),
        log(lit(1.0) + col("tf") / (lit(QlMu) * col("p"))).as("s"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("s")).as("ms"))
    val qids = queryTable.select(col("qid")).distinct()
    val base = dl.crossJoin(broadcast(qids))
      .select(col("qid"), col("doc_id"),
        (lit(3.0) * log(lit(QlMu) / (col("dl") + lit(QlMu)))).as("bs"))
    val scored = base.join(matchSum, Seq("qid", "doc_id"), "left")
      .select(col("qid"), col("doc_id"),
        round(col("bs") + coalesce(col("ms"), lit(0.0)), 6).as("score"))
    val tk = TopK.topKUdaf(Bm25TopK)
    scored.groupBy(col("qid"))
      .agg(tk(col("doc_id"), col("score")).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .toDF("qid", "pos", "s")
      .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
        col("s.id").as("doc_id"), col("s.score").as("score"))
      .orderBy(col("qid"), col("rank"))
  }

  val q125OracleSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '(\\w+|[^\\w\\s]+)', 1)) AS token FROM documents
      |), tf AS (
      |  SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY doc_id, token
      |), dl AS (
      |  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id
      |), tot AS (
      |  SELECT CAST(SUM(dl) AS DOUBLE) AS total FROM dl
      |), cf AS (
      |  SELECT token, SUM(tf) AS cf FROM tf GROUP BY token
      |), df AS (
      |  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
      |), qt AS (
      |  SELECT token, df, row_number() OVER (ORDER BY df DESC, token) AS rn
      |  FROM df WHERE regexp_full_match(token, '[A-Za-z]{3,}')
      |  ORDER BY df DESC, token LIMIT 12
      |), q AS (
      |  SELECT CAST((rn - 1) // 3 AS BIGINT) AS qid, token FROM qt
      |), qm AS (
      |  SELECT q.qid, q.token, cf.cf / tot.total AS p
      |  FROM q JOIN cf USING (token) CROSS JOIN tot
      |), ms AS (
      |  SELECT qm.qid, tf.doc_id, SUM(ln(1.0 + tf.tf / ($QlMu * qm.p))) AS ms
      |  FROM tf JOIN qm USING (token)
      |  GROUP BY qm.qid, tf.doc_id
      |), base AS (
      |  SELECT qq.qid, dl.doc_id, 3.0 * ln($QlMu / (dl.dl + $QlMu)) AS bs
      |  FROM dl CROSS JOIN (SELECT DISTINCT qid FROM q) qq
      |), sc AS (
      |  SELECT base.qid, base.doc_id,
      |         round(base.bs + COALESCE(ms.ms, 0.0), 6) AS score
      |  FROM base LEFT JOIN ms ON ms.qid = base.qid AND ms.doc_id = base.doc_id
      |), r AS (
      |  SELECT qid, doc_id, score,
      |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
      |  FROM sc
      |)
      |SELECT qid, CAST(rnk AS BIGINT) AS rank, doc_id, score
      |FROM r WHERE rnk <= $Bm25TopK ORDER BY qid, rank""".stripMargin

  /** q72_unigram_logprob — the CCNet/KenLM-shaped LM-quality stage of a
    * curation pipeline (round 7): a unigram language model is "trained" on
    * the corpus itself (token frequencies — the degenerate but fully
    * oracle-checkable case of the n-gram LM the production pipeline
    * loads), and every document scores by its MEAN TOKEN LOG-PROBABILITY.
    * Low scores flag rare-token soup/gibberish — exactly the perplexity
    * filter's decision axis, the model-based gate that runs after the
    * rule-based ones (q20 quality, q51 repetition).
    *
    * 100 TB shape: the LM is a VOCABULARY-scale aggregate (map-side
    * combined token counts; total tokens derived from the freq table, not
    * a second corpus pass) broadcast back into the token stream as a
    * scan-side join; the corpus then shuffles ONCE for the per-doc mean.
    * With a pre-trained LM artifact — the production case — the vocab
    * aggregate disappears entirely and the artifact broadcast-joins
    * straight into the token stream (the q54 persisted-vocab pattern).
    * Zero-token docs are excluded, the q51 convention.
    */
  def unigramLogProb(spark: SparkSession, sfDir: String): DataFrame =
    unigramLogProbOf(Tables.documents(spark, sfDir))

  /** Composable core of q72 for ANY (doc_id, text, …) corpus. */
  def unigramLogProbOf(docs: DataFrame): DataFrame = {
    val terms = docs
      .select(col("doc_id"), explode(TextPipeline.tokenArr(col("text"))).as("token"))
    val freqs = terms.groupBy(col("token")).agg(count(lit(1)).as("freq"))
    // total tokens from the vocab-scale freq table — no second corpus pass
    val total = freqs.agg(sum(col("freq")).cast("double").as("total"))
    terms
      .join(broadcast(freqs), Seq("token"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("freq") / col("total"))), 6).as("avg_logp"))
      .orderBy(col("doc_id"))
  }

  val q72OracleSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '(\w+|[^\w\s]+)', 1)) AS token FROM documents
      |), f AS (
      |  SELECT token, COUNT(*) AS freq FROM t GROUP BY token
      |), tot AS (
      |  SELECT CAST(SUM(freq) AS DOUBLE) AS total FROM f
      |)
      |SELECT doc_id,
      |       CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |       round(avg(ln(freq / total)), 6) AS avg_logp
      |FROM t JOIN f USING (token) CROSS JOIN tot
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Per-group quota for q76: the best 20 docs of each (lang, source). */
  val QuotaK = 20

  /** q76_quality_quota — per-source QUALITY QUOTA selection, the
    * "keep the best N documents per domain" sampling stage curation
    * pipelines run after scoring (FineWeb-style: a quality classifier
    * ranks, a quota caps each source's contribution): every (lang,
    * source) group keeps its top-[[QuotaK]] docs by the q72 unigram-LM
    * score, ranked (score desc, doc_id asc).
    *
    * 100 TB shape: ranking uses the bounded-heap [[TopK]] Aggregator,
    * NOT a window — `row_number() over (partition by lang, source)`
    * would shuffle every scored doc into one reducer per group, while
    * the heap aggregate's partial/final split ships ≤ groups ×
    * partitions × k tiny rows regardless of corpus size. The score
    * itself is q72's broadcast-LM scan shape.
    */
  def qualityQuota(spark: SparkSession, sfDir: String): DataFrame =
    qualityQuotaOf(Tables.documents(spark, sfDir), QuotaK)

  /** Composable core of q76 for ANY (doc_id, text, lang, source, …)
    * corpus.
    */
  def qualityQuotaOf(docs: DataFrame, k: Int): DataFrame = {
    val tk = TopK.topKUdaf(k)
    unigramLogProbOf(docs)
      .join(docs.select(col("doc_id"), col("lang"), col("source")), Seq("doc_id"))
      .groupBy(col("lang"), col("source"))
      .agg(tk(col("doc_id"), col("avg_logp")).as("top"))
      .select(col("lang"), col("source"), posexplode(col("top")))
      .toDF("lang", "source", "pos", "s")
      .select(col("lang"), col("source"), (col("pos") + 1).cast("long").as("rank"),
        col("s.id").as("doc_id"), col("s.score").as("avg_logp"))
      .orderBy(col("lang"), col("source"), col("rank"))
  }

  val q76OracleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '(\\w+|[^\\w\\s]+)', 1)) AS token FROM documents
       |), f AS (
       |  SELECT token, COUNT(*) AS freq FROM t GROUP BY token
       |), tot AS (
       |  SELECT CAST(SUM(freq) AS DOUBLE) AS total FROM f
       |), s AS (
       |  SELECT doc_id, round(avg(ln(freq / total)), 6) AS avg_logp
       |  FROM t JOIN f USING (token) CROSS JOIN tot GROUP BY doc_id
       |), r AS (
       |  SELECT d.lang, d.source, d.doc_id, s.avg_logp,
       |         row_number() OVER (PARTITION BY d.lang, d.source
       |           ORDER BY s.avg_logp DESC, d.doc_id) AS rank
       |  FROM s JOIN documents d USING (doc_id)
       |)
       |SELECT lang, source, CAST(rank AS BIGINT) AS rank, doc_id, avg_logp
       |FROM r WHERE rank <= ${QuotaK}
       |ORDER BY lang, source, rank""".stripMargin

  /** Per-(lang, shard) token budget for q77, sized so the fixture
    * selection is a real cut (about half of each shard's tokens).
    */
  val TokenBudget = 300L

  /** Shard count for q77 — the q69 convention: budgets apply per
    * (lang, shard = doc_id mod 8), the per-output-file quota real
    * samplers enforce, because a GLOBAL per-lang greedy selection is by
    * definition one total ordering (the q69 single-task funnel). Under
    * an exchangeable score distribution the sharded selection converges
    * on the global one; the K knob bounds each ordering task.
    */
  val BudgetShards = 8

  /** q77_token_budget_select — TOKEN-BUDGET corpus selection, the data
    * mixing stage that samples each language to a fixed token count for
    * the training mix (the budget, not a doc count, is what the token
    * accountant downstream consumes): docs are taken quality-first (the
    * q72 unigram-LM score, doc_id tie-break) while the shard's running
    * token total stays within [[TokenBudget]].
    *
    * 100 TB shape: the only window is a running sum per (lang, shard)
    * group — bounded by the K knob exactly as q69's packing windows;
    * scoring is q72's broadcast-LM scan shape. Never a global per-lang
    * ordering.
    */
  def tokenBudgetSelect(spark: SparkSession, sfDir: String): DataFrame =
    tokenBudgetSelectOf(Tables.documents(spark, sfDir), TokenBudget)

  /** Composable core of q77 for ANY (doc_id, text, lang, …) corpus. */
  def tokenBudgetSelectOf(docs: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"), col("shard"))
      .orderBy(col("avg_logp").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unigramLogProbOf(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("shard", pmod(col("doc_id"), lit(BudgetShards)).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col("lang"), col("shard"), col("doc_id"), col("n_tokens"),
        col("cum_tokens"), col("avg_logp"))
      .orderBy(col("lang"), col("shard"), col("doc_id"))
  }

  val q77OracleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '(\\w+|[^\\w\\s]+)', 1)) AS token FROM documents
       |), f AS (
       |  SELECT token, COUNT(*) AS freq FROM t GROUP BY token
       |), tot AS (
       |  SELECT CAST(SUM(freq) AS DOUBLE) AS total FROM f
       |), s AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |         round(avg(ln(freq / total)), 6) AS avg_logp
       |  FROM t JOIN f USING (token) CROSS JOIN tot GROUP BY doc_id
       |), g AS (
       |  SELECT d.lang, CAST(s.doc_id % ${BudgetShards} AS BIGINT) AS shard,
       |         s.doc_id, s.n_tokens, s.avg_logp
       |  FROM s JOIN documents d USING (doc_id)
       |), c AS (
       |  SELECT lang, shard, doc_id, n_tokens,
       |         CAST(sum(n_tokens) OVER (PARTITION BY lang, shard
       |           ORDER BY avg_logp DESC, doc_id
       |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       |         avg_logp
       |  FROM g
       |)
       |SELECT lang, shard, doc_id, n_tokens, cum_tokens, avg_logp
       |FROM c WHERE cum_tokens <= ${TokenBudget}
       |ORDER BY lang, shard, doc_id""".stripMargin

  /** q78_bigram_logprob — BIGRAM-LM perplexity scoring (round 7), the
    * context-sensitive upgrade of q72's unigram gate and the shape of the
    * actual CCNet/KenLM filter: a document full of real words in
    * scrambled order sails through a unigram LM but craters under a
    * conditional p(w2 | w1). The LM is add-one (Laplace) smoothed over
    * the corpus' own bigram table — the degenerate but fully
    * oracle-checkable case of the pre-trained n-gram artifact production
    * loads — and every doc scores by its mean bigram log-probability
    * ln((c12 + 1) / (c1 + V)).
    *
    * 100 TB shape: bigram assembly is SCAN-LOCAL — the token array zips
    * with its own tail (`arrays_zip(slice, slice)`), no per-doc window,
    * no positional self-join. The bigram table is a map-side-combined
    * hash aggregate (bigram TYPES, not instances); context counts derive
    * from the bigram table (no second corpus pass) and the vocab size
    * from the unigram table. With a pre-trained artifact — the
    * production case, q54's persisted-vocab pattern — the train
    * aggregates disappear and the table broadcast-joins straight into
    * the bigram stream. Docs with < 2 tokens carry no bigram evidence and
    * are excluded (the q72 zero-token convention, one level up).
    */
  def bigramLogProb(spark: SparkSession, sfDir: String): DataFrame =
    bigramLogProbOf(Tables.documents(spark, sfDir))

  /** Composable core of q78 for ANY (doc_id, text, …) corpus. The bigram
    * table is broadcast; BASELINE.md ("q78 LM-join knob measured") records
    * it against a shuffle-hash join up to sf10, where GenScale's disjoint
    * per-replica vocab grows bigram TYPES linearly (a real corpus follows
    * Heaps' law and grows them much slower).
    */
  def bigramLogProbOf(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokenArr(col("text")).as("toks"))
    // vocab size from the unigram type table — the smoothing denominator
    val vocab = toks.select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)))
      .agg(count(lit(1)).cast("double").as("vocab"))
    val bigrams = toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("toks"), lit(1), size(col("toks")) - 1).as("w1"),
        slice(col("toks"), lit(2), size(col("toks")) - 1).as("w2"))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bigramFreqs = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    // context totals c1 = Σ_w2 c12 — derived from the TYPE table, so the
    // corpus token stream is aggregated exactly once
    val contexts = bigramFreqs.groupBy(col("w1"))
      .agg(sum(col("c12")).cast("double").as("c1"))
    bigrams.join(broadcast(bigramFreqs), Seq("w1", "w2"))
      .join(broadcast(contexts), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((col("c12") + lit(1)) / (col("c1") + col("vocab")))), 6)
          .as("avg_logp2"))
      .orderBy(col("doc_id"))
  }

  val q78OracleSql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_extract_all(text, '(\w+|[^\w\s]+)', 1) AS toks FROM documents
      |), b AS (
      |  SELECT doc_id, toks[g.i] AS w1, toks[g.i+1] AS w2
      |  FROM d CROSS JOIN UNNEST(generate_series(1, length(toks)-1)) AS g(i)
      |  WHERE length(toks) >= 2
      |), bf AS (
      |  SELECT w1, w2, COUNT(*) AS c12 FROM b GROUP BY w1, w2
      |), cf AS (
      |  SELECT w1, CAST(SUM(c12) AS DOUBLE) AS c1 FROM bf GROUP BY w1
      |), v AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS vocab FROM (
      |    SELECT DISTINCT unnest(regexp_extract_all(text, '(\w+|[^\w\s]+)', 1)) AS token
      |    FROM documents)
      |)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |       round(avg(ln((c12 + 1) / (c1 + vocab))), 6) AS avg_logp2
      |FROM b JOIN bf USING (w1, w2) JOIN cf USING (w1) CROSS JOIN v
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Selection quantile for q79: keep each language's top quarter. */
  val SelectQuantile = 0.75

  /** q79_percentile_select — per-language PERCENTILE-THRESHOLD selection
    * (round 7), the FineWeb-Edu-style "keep the top X% by classifier
    * score" cut: each language keeps exactly the docs whose q72 LM score
    * clears that language's 75th-percentile threshold. Unlike q76's
    * fixed-count quota this adapts the kept VOLUME to the score
    * distribution — the knob real pipelines actually publish ("top 25%
    * by the edu classifier").
    *
    * 100 TB shape: the threshold is a per-language AGGREGATE (exact
    * interpolated percentile — value-count buffers, merged partial/
    * final), NEVER a per-language ordering of the corpus: no
    * percent_rank window, no global sort. The 5-row threshold table
    * broadcasts back and the cut is a scan-side comparison. The scored
    * stream is NOT cached: its two consumers (threshold build + cut)
    * live in one returned plan, so AQE exchange reuse shares the
    * scoring join's shuffle, and a corpus-scale cache entry with no
    * unpersist point would leak for the session (the `hllDistinctOf`
    * lesson, ADVICE r14/VERDICT r15 — the repo's unpersist discipline
    * is try/finally or nothing). A production pipeline persists the
    * score column and this stage never re-tokenizes at all. At corpus
    * sizes where exact value-count buffers strain the reducers,
    * `approx_percentile` is the documented one-line swap (fixed-size
    * sketch, spec-pinned within 0.1% of exact on the fixture).
    */
  def percentileSelect(spark: SparkSession, sfDir: String): DataFrame =
    percentileSelectOf(Tables.documents(spark, sfDir), SelectQuantile)

  /** Composable core of q79 for ANY (doc_id, text, lang, …) corpus.
    * `exact=false` swaps the scale-path approx sketch in. */
  def percentileSelectOf(docs: DataFrame, q: Double, exact: Boolean = true): DataFrame = {
    val scored = unigramLogProbOf(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("lang"), col("doc_id"), col("avg_logp"))
    val pct = if (exact) s"percentile(avg_logp, $q)"
              else s"approx_percentile(avg_logp, $q, 10000)"
    val cuts = scored.groupBy(col("lang")).agg(expr(pct).as("cut"))
    scored.join(broadcast(cuts), Seq("lang"))
      .filter(col("avg_logp") >= col("cut"))
      .select(col("lang"), col("doc_id"), col("avg_logp"),
        round(col("cut"), 6).as("cut"))
      .orderBy(col("lang"), col("doc_id"))
  }

  val q79OracleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '(\\w+|[^\\w\\s]+)', 1)) AS token FROM documents
       |), f AS (
       |  SELECT token, COUNT(*) AS freq FROM t GROUP BY token
       |), tot AS (
       |  SELECT CAST(SUM(freq) AS DOUBLE) AS total FROM f
       |), s AS (
       |  SELECT doc_id, round(avg(ln(freq / total)), 6) AS avg_logp
       |  FROM t JOIN f USING (token) CROSS JOIN tot GROUP BY doc_id
       |), g AS (
       |  SELECT d.lang, s.doc_id, s.avg_logp
       |  FROM s JOIN documents d USING (doc_id)
       |), c AS (
       |  SELECT lang, quantile_cont(avg_logp, ${SelectQuantile}) AS cut
       |  FROM g GROUP BY lang
       |)
       |SELECT g.lang, g.doc_id, g.avg_logp, round(c.cut, 6) AS cut
       |FROM g JOIN c USING (lang) WHERE g.avg_logp >= c.cut
       |ORDER BY g.lang, g.doc_id""".stripMargin

  /** q75_dup_span_coverage — exact-SUBSTRING duplication stats, the
    * ExactSubstr decision axis of Lee et al., "Deduplicating Training
    * Data Makes Language Models Better" (the reference corpus carries
    * whole-doc labels only; production dedup also trims REPEATED SPANS
    * inside otherwise-unique docs): every 8-token gram that occurs ≥ 2
    * times corpus-wide marks its span duplicated, and each document
    * reports how many of its tokens sit under at least one such span —
    * overlapping spans count once (interval union, not a sum).
    *
    * 100 TB shape: the gram stream shuffles its 16-byte md5 fingerprint
    * (never the gram text) for the occurrence count — the one inherent
    * corpus-scale shuffle of exact-substring dedup (the suffix-array
    * original is strictly heavier); the duplicated-fingerprint set is
    * duplication-scale and semi-joins back; the interval-union window
    * partitions per doc over DUPLICATED positions only, a small fraction
    * of the corpus. Zero-token docs excluded (q51 convention); docs with
    * < 8 tokens have no grams and report zero coverage.
    */
  def dupSpanCoverage(spark: SparkSession, sfDir: String): DataFrame =
    dupSpanCoverageOf(Tables.documents(spark, sfDir))

  /** Gram length: 8 tokens, inside the 6–13 window the ExactSubstr
    * paper's 50-char threshold lands on for typical English tokens.
    */
  val DupSpanGram = 8

  /** The (doc_id, pos, fp) gram-fingerprint stream shared by q75/q93,
    * materialized ONCE per query (round 18): the stream feeds two plan
    * branches — the duplicated-fp aggregate and the semi-join probe side —
    * and exchange reuse cannot dedup them (the aggregate side's partial
    * agg de-canonicalizes its exchange subtree, the q95-family failure
    * mode), so the tokenize + per-gram concat + md5 executed twice per
    * query. The checkpoint row is 32 bytes of keys/hashes per token
    * position (guide §8: shuffle proxies, not payloads); at 100 TB the
    * production shape is the PERSISTED gram-fingerprint artifact and this
    * in-query materialization is its single-snapshot rendering.
    */
  private def dupSpanGramsMaterialized(toks: DataFrame): DataFrame = {
    val L = DupSpanGram
    toks
      .filter(size(col("toks")) >= L)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(toks) - $L), i -> concat_ws(' ', slice(toks, i + 1, $L)))")))
      .toDF("doc_id", "pos", "gram")
      .select(col("doc_id"), col("pos").cast("long").as("pos"), unhex(md5(col("gram"))).as("fp"))
      .localCheckpoint(true)
  }

  /** Composable core of q75 for ANY (doc_id, text, …) corpus. */
  def dupSpanCoverageOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = DupSpanGram
    val toks = docs
      .select(col("doc_id"), tokenArr(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    val base = toks.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
    val grams = dupSpanGramsMaterialized(toks)
    val dupFps = grams.groupBy(col("fp")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select(col("fp"))
    val marked = grams.join(dupFps, Seq("fp"), "left_semi").select(col("doc_id"), col("pos"))
    // interval union: tokens newly covered by this span = its end minus
    // the furthest end any earlier span reached (clamped to the span)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cov = marked
      .withColumn("prev_end", max(col("pos") + lit(L - 1)).over(w))
      .withColumn("new_cov", greatest(lit(0L),
        col("pos") + lit(L - 1) - greatest(col("pos") - 1, coalesce(col("prev_end"), lit(-1L)))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_grams"), sum(col("new_cov")).as("dup_covered"))
    base.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"),
        coalesce(col("dup_covered"), lit(0L)).as("dup_covered"),
        round(coalesce(col("dup_covered"), lit(0L)) / col("n_tokens").cast("double"), 6).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  val q75OracleSql: String = {
    val L = DupSpanGram
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(text, '(\\w+|[^\\w\\s]+)', 1) AS toks FROM documents
       |), base AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t WHERE len(toks) > 0
       |), g AS (
       |  SELECT doc_id, unnest(range(0, len(toks) - ${L - 1})) AS pos, toks
       |  FROM t WHERE len(toks) >= $L
       |), g2 AS (
       |  SELECT doc_id, pos, md5(array_to_string(toks[pos+1:pos+$L], ' ')) AS fp FROM g
       |), dup AS (
       |  SELECT fp FROM g2 GROUP BY fp HAVING count(*) >= 2
       |), m AS (
       |  SELECT g2.doc_id, g2.pos FROM g2 JOIN dup USING (fp)
       |), cov AS (
       |  SELECT doc_id, pos,
       |         max(pos + ${L - 1}) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |  FROM m
       |), agg AS (
       |  SELECT doc_id, count(*) AS dup_grams,
       |         sum(greatest(0, pos + ${L - 1} - greatest(pos - 1, coalesce(prev_end, -1)))) AS dup_covered
       |  FROM cov GROUP BY doc_id
       |)
       |SELECT b.doc_id, b.n_tokens,
       |       CAST(coalesce(a.dup_grams, 0) AS BIGINT) AS dup_grams,
       |       CAST(coalesce(a.dup_covered, 0) AS BIGINT) AS dup_covered,
       |       round(CAST(coalesce(a.dup_covered, 0) AS DOUBLE) / b.n_tokens, 6) AS dup_frac
       |FROM base b LEFT JOIN agg a USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin
  }

  /** q93_dup_span_remove — the APPLY side of exact-substring dedup: q75
    * reports how much of each document sits under corpus-duplicated
    * 8-token spans; this operator REWRITES the documents with those spans
    * removed — the actual ExactSubstr dedup step of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better" (their
    * tool cuts every duplicated-substring occurrence from the training
    * text; the span definition here is identical to q75's).
    *
    * Emits per tokenizable doc: (doc_id, n_tokens, n_kept, cleaned) —
    * cleaned is the space-joined survivor tokens in original order, empty
    * when every token was covered.
    *
    * 100 TB shape: the gram stream shuffles its 16-byte md5 fingerprint
    * for the occurrence count (the one inherent exact-substring shuffle,
    * shared with q75); covered positions are DUPLICATION-scale and
    * aggregate to one bounded int-set row per affected doc (set size ≤
    * doc length); the rebuild is a doc-scale join of that set back to the
    * token-array row followed by scan-local array filtering — the token
    * stream itself never shuffles and the text rides the scan.
    */
  def dupSpanRemove(spark: SparkSession, sfDir: String): DataFrame =
    dupSpanRemoveOf(Tables.documents(spark, sfDir))

  /** Composable core of q93 for ANY (doc_id, text, …) corpus. */
  def dupSpanRemoveOf(docs: DataFrame): DataFrame = {
    val L = DupSpanGram
    val toks = docs
      .select(col("doc_id"), tokenArr(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    val grams = dupSpanGramsMaterialized(toks)
    val dupFps = grams.groupBy(col("fp")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select(col("fp"))
    // every position under any duplicated span, one set-valued row per doc
    val covered = grams.join(dupFps, Seq("fp"), "left_semi")
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + lit(L - 1))).as("p"))
      .groupBy(col("doc_id")).agg(collect_set(col("p")).as("cov"))
    // Linear rebuild: sort the covered positions once, bracket them with
    // sentinels, and emit the UNCOVERED GAPS as slices — O(L + |cov| log
    // |cov|) per doc instead of the O(L * |cov|) per-token membership
    // scan. Adjacent covered positions yield zero-length slices; a doc
    // with no duplicated spans has cov = [] and one full-array gap.
    toks.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        col("toks"),
        concat(
          array(lit(-1L)),
          array_sort(coalesce(col("cov"), array().cast("array<long>"))),
          array(size(col("toks")).cast("long"))).as("bnd"))
      .select(col("doc_id"), col("n_tokens"),
        flatten(expr(
          "transform(sequence(0, size(bnd) - 2), k -> " +
            "slice(toks, CAST(bnd[k] + 2 AS INT), CAST(bnd[k + 1] - bnd[k] - 1 AS INT)))")).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("kept")).as("cleaned"))
      .orderBy(col("doc_id"))
  }

  val q93OracleSql: String = {
    val L = DupSpanGram
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(text, '(\\w+|[^\\w\\s]+)', 1) AS toks FROM documents
       |), base AS (
       |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens FROM t WHERE len(toks) > 0
       |), g AS (
       |  SELECT doc_id, unnest(range(0, len(toks) - ${L - 1})) AS pos, toks
       |  FROM t WHERE len(toks) >= $L
       |), g2 AS (
       |  SELECT doc_id, pos, md5(array_to_string(toks[pos+1:pos+$L], ' ')) AS fp FROM g
       |), dup AS (
       |  SELECT fp FROM g2 GROUP BY fp HAVING count(*) >= 2
       |), m AS (
       |  SELECT g2.doc_id, g2.pos FROM g2 JOIN dup USING (fp)
       |), covered AS (
       |  SELECT DISTINCT doc_id, unnest(range(pos, pos + $L)) AS p FROM m
       |), tok AS (
       |  SELECT doc_id, unnest(range(0, len(toks))) AS p, toks FROM base
       |), kept AS (
       |  SELECT tk.doc_id, tk.p, tk.toks[tk.p + 1] AS tok
       |  FROM tok tk ANTI JOIN covered c ON tk.doc_id = c.doc_id AND tk.p = c.p
       |), agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |         string_agg(tok, ' ' ORDER BY p) AS cleaned
       |  FROM kept GROUP BY doc_id
       |)
       |SELECT b.doc_id, b.n_tokens,
       |       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
       |       coalesce(a.cleaned, '') AS cleaned
       |FROM base b LEFT JOIN agg a USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin
  }

  /** q94_importance_select — DSIR-style IMPORTANCE-WEIGHTED domain
    * selection (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): score every document by how much more
    * likely its tokens are under a TARGET-domain unigram LM than under
    * the raw-corpus LM, and keep the docs that look more target-like
    * than average. The family's missing member next to the quota (q76),
    * budget (q77) and percentile (q79) selectors: those rank by an
    * absolute quality score; this one matches a target DISTRIBUTION.
    *
    * Target here = the English slice of the corpus; both LMs are add-one
    * smoothed over the raw vocabulary, the per-doc score is the mean
    * per-token log-ratio rounded 6 dp, and selection keeps score >= 0 —
    * all closed-form (ln of exact rationals, no pow), the q88
    * cross-engine-determinism discipline.
    *
    * 100 TB shape: q72's audited LM shape with two frequency tables —
    * both are vocab-scale (Heaps-bounded), joined once token-to-token and
    * broadcast back to the scan; the token stream itself never shuffles
    * (the one exchange carries per-doc partial aggregates), and the final
    * doc-metadata join is id-to-id, text never moves.
    */
  def importanceSelect(spark: SparkSession, sfDir: String): DataFrame =
    importanceSelectOf(Tables.documents(spark, sfDir), col("lang") === "en")

  /** Composable core for ANY (doc_id, lang, source, text, …) corpus and
    * target-domain predicate. The scored-vocab table is Heaps-bounded and
    * broadcast into the token stream.
    */
  def importanceSelectOf(docs: DataFrame, targetPred: Column): DataFrame = {
    val terms = docs
      .select(col("doc_id"), explode(TextPipeline.tokenArr(col("text"))).as("token"))
    val fr = terms.groupBy(col("token")).agg(count(lit(1)).as("fr"))
    val ft = docs.filter(targetPred)
      .select(explode(TextPipeline.tokenArr(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("ft"))
    // one vocab-scale table carrying both LMs; totals ride a 1-row
    // broadcast (q72's pattern — no second corpus pass)
    val vocab = fr.join(ft, Seq("token"), "left")
    val tots = vocab.agg(
      sum(col("fr")).cast("double").as("tr"),
      sum(col("ft")).cast("double").as("tt"),
      count(lit(1)).cast("double").as("v"))
    val scored = vocab.crossJoin(broadcast(tots))
      .select(col("token"),
        (log((coalesce(col("ft"), lit(0L)) + 1) / (col("tt") + col("v"))) -
         log((col("fr") + 1) / (col("tr") + col("v")))).as("s"))
    terms.join(broadcast(scored), Seq("token"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), round(avg(col("s")), 6).as("logratio"))
      .join(docs.select(col("doc_id"), col("lang"), col("source")), Seq("doc_id"))
      .filter(col("logratio") >= 0)
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"), col("logratio"))
      .orderBy(col("doc_id"))
  }

  val q94OracleSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '(\w+|[^\w\s]+)', 1)) AS token FROM documents
      |), tt AS (
      |  SELECT unnest(regexp_extract_all(text, '(\w+|[^\w\s]+)', 1)) AS token
      |  FROM documents WHERE lang = 'en'
      |), fr AS (
      |  SELECT token, COUNT(*) AS fr FROM t GROUP BY token
      |), ft AS (
      |  SELECT token, COUNT(*) AS ft FROM tt GROUP BY token
      |), vocab AS (
      |  SELECT fr.token, fr.fr, ft.ft FROM fr LEFT JOIN ft USING (token)
      |), tots AS (
      |  SELECT CAST(SUM(fr) AS DOUBLE) AS tr,
      |         CAST(COALESCE(SUM(ft), 0) AS DOUBLE) AS tt,
      |         CAST(COUNT(*) AS DOUBLE) AS v
      |  FROM vocab
      |), sv AS (
      |  SELECT token,
      |         ln((COALESCE(ft, 0) + 1) / (tt + v)) - ln((fr + 1) / (tr + v)) AS s
      |  FROM vocab CROSS JOIN tots
      |), d AS (
      |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |         round(avg(sv.s), 6) AS logratio
      |  FROM t JOIN sv USING (token) GROUP BY t.doc_id
      |)
      |SELECT d.doc_id, doc.lang, doc.source, d.n_tokens, d.logratio
      |FROM d JOIN documents doc ON d.doc_id = doc.doc_id
      |WHERE d.logratio >= 0
      |ORDER BY d.doc_id""".stripMargin

  /** q51_repetition_stats — Gopher-style repetition signals per document:
    * the duplicate word-3-gram fraction (1 − distinct/total) and the
    * top-token frequency fraction — the two cheapest high-signal rules a
    * training-data quality filter applies before anything model-based.
    *
    * The 3-gram fraction is SCAN-LOCAL (array expressions on the token
    * array — no explode, no shuffle); only the token-mode needs the
    * per-(doc, token) aggregate. Documents that tokenize to nothing are
    * excluded (no tokens ⇒ no quality signal), identically in the oracle.
    */
  def repetitionStats(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE tokenize pass: the scan-local 3-gram stats are computed on the
    // token array and then RIDE THROUGH the explode into the token-mode
    // aggregation (first() per group), so the corpus is scanned and
    // tokenized once — no second branch re-running the regexp extraction.
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextPipeline.tokenArr(col("text")).as("toks"))
      .withColumn("g3", expr(
        "CASE WHEN size(toks) < 3 THEN array() ELSE " +
          "transform(sequence(0, size(toks) - 3), i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])) END"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        when(size(col("g3")) === 0, lit(0.0))
          .otherwise(round(lit(1.0) - size(array_distinct(col("g3"))) / size(col("g3")).cast("double"), 6))
          .as("dup_3gram_frac"),
        col("toks"))
    toks
      .select(col("doc_id"), col("n_tokens"), col("dup_3gram_frac"), explode(col("toks")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(first(col("n_tokens")).as("n_tokens"), first(col("dup_3gram_frac")).as("dup_3gram_frac"),
        count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(first(col("n_tokens")).as("n_tokens"), first(col("dup_3gram_frac")).as("dup_3gram_frac"),
        round(max(col("c")) / sum(col("c")).cast("double"), 6).as("top_token_frac"))
      .orderBy(col("doc_id"))
  }

  val q51OracleSql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(text, '(\w+|[^\w\s]+)', 1) AS toks FROM documents
      |), g AS (
      |  SELECT doc_id,
      |         CAST(len(toks) AS BIGINT) AS n_tokens,
      |         CASE WHEN len(toks) < 3 THEN []
      |              ELSE list_transform(range(1, len(toks) - 1),
      |                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS g3
      |  FROM t
      |), gf AS (
      |  SELECT doc_id, n_tokens,
      |         CASE WHEN len(g3) = 0 THEN 0.0
      |              ELSE round(1.0 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE), 6) END AS dup_3gram_frac
      |  FROM g
      |), m AS (
      |  SELECT doc_id, round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_token_frac
      |  FROM (SELECT doc_id, COUNT(*) AS c
      |        FROM (SELECT doc_id, unnest(toks) AS token FROM t)
      |        GROUP BY doc_id, token)
      |  GROUP BY doc_id
      |)
      |SELECT gf.doc_id, gf.n_tokens, gf.dup_3gram_frac, m.top_token_frac
      |FROM gf JOIN m USING (doc_id)
      |ORDER BY gf.doc_id""".stripMargin

  /** PII patterns shared by the Spark and DuckDB (RE2) sides — kept to the
    * syntax subset both engines interpret identically.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongDigitsRe = "[0-9]{6,}"

  /** q52_pii_redact — PII flagging + redaction, the scrub stage of a
    * training-data pipeline. The fixture corpus is synthetic and clean, so
    * (exactly like q08 frames its own `[INST]` markers) the query derives
    * a deterministic PII-bearing column first — an email for 2 of every 3
    * docs, a long account number for every 2nd — then counts and redacts
    * it back out with the shared regexes. Pure per-row expressions:
    * scan-local, codegen'd, zero shuffle before the presentation sort.
    */
  def piiRedact(spark: SparkSession, sfDir: String): DataFrame =
    piiScrubOf(
      Tables.documents(spark, sfDir)
        .withColumn("dirty", concat(
          substring(col("text"), 1, 40),
          when(pmod(col("doc_id"), lit(3)) =!= 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(lit(" acct 00"), (col("doc_id") * 7919 + 100000).cast("string"))).otherwise(lit("")))),
      textCol = "dirty")
      .orderBy(col("doc_id"))

  /** Composable core of q52 for ANY corpus: PII counts + redacted text
    * over `textCol` — the scrub stage of a curation pipeline. Pure per-row
    * expressions, zero shuffle.
    */
  def piiScrubOf(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(LongDigitsRe), lit(0))).cast("long").as("n_long_digits"),
      regexp_replace(regexp_replace(col(textCol), EmailRe, "[EMAIL]"), LongDigitsRe, "[NUM]")
        .as("redacted"))

  val q52OracleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         substring(text, 1, 40)
       |         || CASE WHEN doc_id % 3 <> 0
       |                 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
       |         || CASE WHEN doc_id % 2 = 0
       |                 THEN ' acct 00' || CAST(doc_id * 7919 + 100000 AS VARCHAR) ELSE '' END AS dirty
       |  FROM documents
       |)
       |SELECT doc_id,
       |       CAST(len(regexp_extract_all(dirty, '$EmailRe')) AS BIGINT) AS n_emails,
       |       CAST(len(regexp_extract_all(dirty, '$LongDigitsRe')) AS BIGINT) AS n_long_digits,
       |       regexp_replace(regexp_replace(dirty, '$EmailRe', '[EMAIL]', 'g'), '$LongDigitsRe', '[NUM]', 'g') AS redacted
       |FROM d ORDER BY doc_id""".stripMargin

  /** q60_decontaminate — benchmark decontamination, the training-data
    * pipeline pass every LLM corpus runs before training (GPT-3's 13-gram
    * eval-overlap scrub; here word-8-grams): flag every training document
    * sharing ANY n-gram with a held-out benchmark set. The fixture corpus
    * is synthetic and clean, so (exactly like q52 derives its PII column)
    * the query derives deterministic contamination first: docs with
    * `doc_id % 97 == 0` form the benchmark; every training doc with
    * `doc_id % 13 == 2` gets benchmark doc 0's first 8 tokens appended —
    * then the overlap join must find exactly those plants (plus any
    * natural overlap). Output: (doc_id, shared_grams, contaminated 0/1).
    *
    * The plan is the 100 TB shape: the benchmark gram set is SMALL by
    * definition (eval suites, not corpora) and broadcasts; corpus grams
    * join against it BEFORE any distinct, so only matching grams ever
    * shuffle — the corpus-wide gram stream itself never does (at larger
    * benchmark sets the broadcast side becomes a bloom filter, same
    * shape). Short documents (< n tokens) emit no grams and stay clean.
    */
  /** The derived (benchmark, corpus-with-plants) pair shared by
    * [[decontaminate]] and [[decontaminateBloom]] — one definition, so the
    * equivalence test compares the algorithms, not two derivations.
    */
  private def decontamInputs(spark: SparkSession, sfDir: String, n: Int): (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), lower(col("text")).as("text"))
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val snippet = docs.filter(col("doc_id") === 0)
      .select(concat_ws(" ", slice(split(col("text"), "\\s+"), 1, n)).as("snippet"))
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      .crossJoin(broadcast(snippet)) // 1 deterministic row
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 2, concat(col("text"), lit(" "), col("snippet")))
          .otherwise(col("text")).as("text"))
    (bench, corpus)
  }

  /** Per-doc distinct word-n-grams, exploded. array_distinct BEFORE
    * explode: repetitious docs repeat grams, and every duplicate would
    * probe the membership test for nothing — countDistinct downstream
    * already makes duplicates semantically irrelevant, so dropping them
    * map-side is free.
    *
    * Assembly is the zip-with-tails trick (the [[DedupExtras.shingleSetsOf]]
    * discipline, round 17): n shifted slices of ONE projected token array,
    * zipped and joined per element. The former index-probing lambda —
    * `slice(t, i, n)` with `t = split(text)` spliced inline — re-ran the
    * tokenizer PER GRAM once CollapseProject inlined it (plan-verified:
    * `lambdafunction(concat_ws( , slice(split(text…`), the q108 bug class:
    * an L-token doc paid L re-splits of its own text. Docs with < n tokens
    * emit no gram row, exactly as before.
    */
  private def wordGrams(df: DataFrame, n: Int): DataFrame =
    df.select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(array_distinct(transform(
        arrays_zip((0 until n).map(j =>
          slice(col("toks"), lit(j + 1), size(col("toks")) - (n - 1)).as(s"w$j")): _*),
        s => concat_ws(" ", (0 until n).map(j => s.getField(s"w$j")): _*))))
        .as("gram"))

  /** Shared presentation tail: per-doc shared-gram counts left-joined back
    * so clean docs emit their explicit zero row.
    */
  private def decontamTail(corpus: DataFrame, hits: DataFrame): DataFrame =
    corpus.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("shared_grams"), lit(0L)).as("shared_grams"),
        when(coalesce(col("shared_grams"), lit(0L)) > 0, 1L).otherwise(0L).as("contaminated"))
      .orderBy(col("doc_id"))

  def decontaminate(spark: SparkSession, sfDir: String, n: Int = 8): DataFrame = {
    val (bench, corpus) = decontamInputs(spark, sfDir, n)
    decontaminateAgainst(corpus, bench, n)
  }

  /** Composable core of q60 for ANY (corpus, benchmark) pair of
    * (doc_id, text, …) frames: per-corpus-doc shared-n-gram counts against
    * the benchmark's gram set, zero rows for clean docs. Text
    * normalization (lowercasing) is the caller's decision — the declared
    * q60 lowercases both sides.
    */
  def decontaminateAgainst(corpus: DataFrame, bench: DataFrame, n: Int = 8): DataFrame = {
    val benchGrams = wordGrams(bench, n).select("gram").distinct()
    val hits = wordGrams(corpus, n)
      .join(broadcast(benchGrams), Seq("gram"))
      .groupBy(col("doc_id")).agg(countDistinct(col("gram")).as("shared_grams"))
    decontamTail(corpus, hits)
  }

  /** [[decontaminate]] with the bloom-filter pre-cut the q60 docstring
    * names for larger benchmark suites (VERDICT r5 item 6): the benchmark
    * grams aggregate into a bloom filter (~`bitsPerGram` BITS per gram vs
    * the 60+ BYTES a broadcast hash-join row costs — the constant-factor
    * lever), the corpus gram stream drops every non-member scan-side
    * through the codegen'd `might_contain(lit(bloom), xxhash64(gram))`
    * (no UDF), and only the surviving ~fpp fraction plus true matches
    * reach the exact confirm join — which removes the bloom's false
    * positives, so the result EQUALS [[decontaminate]] row-for-row
    * (equivalence-tested in TextAnalysisSpec). The declared q60 keeps the
    * plain broadcast join: at the fixture's benchmark size the bloom's
    * extra aggregate pass costs more than it saves; this is the
    * larger-suite escape hatch, benchmarked in BASELINE.md.
    *
    * Sizing note: Spark clamps BloomFilterAggregate's arguments to the
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits`
    * SQLConf caps (defaults 4M items / 67M bits ≈ 6.7M grams at the
    * default 10 bits/gram). This operator raises those caps to the
    * suite's actual size before aggregating — results are identical
    * either way (the confirm join is exact); the raise preserves the
    * declared bits-per-gram and the pre-cut's selectivity.
    */
  /** q67_decontaminate_bloom — [[decontaminateBloom]] as its own declared
    * row (round 6): the oracle is EXACTLY q60's (the bloom pre-cut +
    * exact confirm provably reproduce the broadcast join — the q57/q66
    * equivalence-oracle pattern), so the driver hash-verifies that the
    * codegen'd bloom path, false positives and all, returns the identical
    * decontamination result. The declared q60 keeps the plain join as the
    * small-suite default; this row is the large-suite path's hard signal.
    */
  def decontaminateBloom(spark: SparkSession, sfDir: String, n: Int = 8,
                         bitsPerGram: Long = 10L): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    import graft.functions.GraftFunctions.{BloomAggName, BloomMightContainName}
    val (bench, corpus) = decontamInputs(spark, sfDir, n)
    val benchGrams = wordGrams(bench, n).select("gram").distinct()
      .localCheckpoint(true) // two consumers: the bloom aggregate + the confirm join
    val items = math.max(benchGrams.count(), 1L)
    val bits  = math.max(items * bitsPerGram, 64L)
    // Spark's BloomFilterAggregate SILENTLY clamps its numItems/numBits
    // arguments to spark.sql.optimizer.runtime.bloomFilter.{maxNumItems,
    // maxNumBits} (defaults 4M items / 67M bits ≈ 6.7M grams at 10
    // bits/gram). A clamped filter stays CORRECT — the exact confirm join
    // kills the extra false positives — but the promised fpp (and the
    // pre-cut's selectivity) quietly degrades, so raise the caps to what
    // this suite actually needs instead of shipping a degraded filter.
    Seq("spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> items,
        "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"  -> bits)
      .foreach { case (key, needed) =>
        if (spark.conf.get(key).toLong < needed) spark.conf.set(key, needed)
      }
    val bloom = benchGrams
      .agg(call_function(BloomAggName, xxhash64(col("gram")),
        lit(items), lit(bits)).as("bf"))
      .head().getAs[Array[Byte]](0)
    val candidates = wordGrams(corpus, n)
      .filter(call_function(BloomMightContainName, lit(bloom), xxhash64(col("gram"))))
    val hits = candidates
      .join(broadcast(benchGrams), Seq("gram")) // exact confirm: kills false positives
      .groupBy(col("doc_id")).agg(countDistinct(col("gram")).as("shared_grams"))
    decontamTail(corpus, hits)
  }

  /** q61_domain_mix — source re-weighting, the mixing step every
    * multi-source training corpus runs (Pile-style domain weights; here
    * the balance-to-smallest policy): per-source keep rates
    * `rate_s = min_count / count_s` bring every source down to the
    * smallest one's size IN EXPECTATION, decided per document by a
    * DETERMINISTIC hash gate — `(doc_id * 2654435761) mod 2^20 < rate·2^20`
    * — not an RNG, so the sample is reproducible, join-stable, and
    * oracle-checkable. The smallest source passes whole (rate 1).
    *
    * The fixture's sources are perfectly balanced (every rate would be 1),
    * so — the q15/q52 pattern — the query derives the imbalance every real
    * corpus has first: a dominant `crawl` source (half the docs re-ingested
    * under one source, the web-crawl shape) is unioned in, and the gate
    * must downsample exactly it while passing every minority source whole.
    *
    * The plan is the 100 TB shape: one tiny per-source count aggregate
    * broadcasts back, then the gate is a pure scan-local predicate — no
    * shuffle of the corpus, no window, no sort (a row_number-based exact
    * balance would sort every source; the hash gate trades exact counts
    * for a shuffle-free plan, the right trade at corpus scale).
    */
  def domainMix(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    // derived-crawl ids offset by max(doc_id)+1, not a fixed literal: a
    // corpus with ids >= the literal would silently collide with the union
    // (ADVICE r5). One tiny max aggregate; the oracle mirrors it.
    val offset = base.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val crawl = base.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") + offset).as("doc_id"), lit("crawl").as("source"))
    domainMixOf(base.unionByName(crawl))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Composable core of q61 for ANY (doc_id, source, …) corpus: the
    * balance-to-smallest hash gate, all caller columns preserved on the
    * kept rows. ONE aggregate job: the per-source counts are
    * source-cardinality (tiny by definition), so they come to the driver
    * once and go back out as a literal broadcast table — leaving the
    * counts as a lazy plan would recompute the corpus aggregate on the
    * join's build side.
    */
  def domainMixOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("ns"))
      .as[(String, Long)].collect()
    val minN = counts.map(_._2).min
    val rates = counts.toSeq
      .map { case (s, ns) => (s, minN.toDouble / ns) }.toDF("source", "rate")
    docs.join(broadcast(rates), Seq("source"))
      .filter(pmod(col("doc_id") * lit(2654435761L), lit(1048576L)) <
        floor(col("rate") * lit(1048576.0)).cast("long"))
      .select(docs.columns.map(col).toSeq: _*)
  }

  /** q68_sentence_dedup — SUB-document exact dedup, the boilerplate-removal
    * pass (round 6): document-level dedup (q15) cannot touch a sentence
    * repeated across distinct documents — the web-boilerplate shape
    * ("subscribe to our newsletter") that document-granularity passes
    * leave in every page. Each document splits into sentences; a sentence
    * survives only at its GLOBAL first occurrence (min (doc_id, pos),
    * deterministic); documents reassemble from their surviving sentences
    * in original order. Emits (doc_id, n_sentences, n_kept, cleaned).
    *
    * The fixture's texts are single sentences, so — the q32/q52 derivation
    * pattern — the query derives multi-sentence documents first (words
    * regrouped into 8-token sentences) and plants the boilerplate on
    * every doc_id % 7 == 3; the pass must strip all but the first plant.
    *
    * 100 TB shape: sentences shuffle by 16-byte fingerprint for the
    * first-occurrence aggregate (map-side combined min), survivors
    * semi-join on (fp, key) — no window over the corpus — and the rebuild
    * regroups by doc_id. Both shuffles carry sentence-scale rows.
    */
  /** The derived multi-sentence corpus text shared by q68/q70: the doc's
    * tokens regrouped 8-per-sentence. Built over a PROJECTED `toks`
    * attribute (round 17): with `split(text)` spliced inline, the
    * transform lambda re-ran the split per 8-token group once
    * CollapseProject inlined it (the q108/wordGrams bug class); over an
    * attribute each group probe is an array slice.
    */
  private def eightTokenSentences(docs: DataFrame): DataFrame = {
    val toks = col("toks")
    val multi = concat_ws(". ",
      transform(sequence(lit(0), floor((size(toks) - 1) / 8).cast("int")),
        i => concat_ws(" ", slice(toks, i * 8 + 1, lit(8)))))
    docs.select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"), multi.as("m"))
  }

  def sentenceDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = eightTokenSentences(Tables.documents(spark, sfDir))
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 3,
          concat(col("m"), lit(". subscribe to our newsletter for updates")))
          .otherwise(col("m")).as("text"))
    sentenceDedupOf(corpus)
  }

  /** Shared sentence-unit derivation of q68/q70: one row per non-empty
    * sentence occurrence, with the raw 16-byte fingerprint and the
    * DECIMAL(38,0) global-order key.
    */
  private[graft] def sentenceUnits(corpus: DataFrame): DataFrame =
    corpus
      .select(col("doc_id"), posexplode(split(col("text"), "\\. ")))
      .toDF("doc_id", "pos", "sentence")
      .filter(length(trim(col("sentence"))) > 0)
      // raw 16-byte fingerprint (not the 32-char hex) — halves the bytes
      // the sentence stream shuffles for the first-occurrence aggregate
      .withColumn("fp", unhex(md5(trim(col("sentence")))))
      // global-order key: (doc_id, pos) packed into DECIMAL(38,0) —
      // fixed-width 16 bytes, so the first-occurrence reduce stays a
      // map-side-combined HashAggregate (a struct/binary key would demote
      // it to SortAggregate, sorting the sentence stream by fp for
      // nothing), while the 10^12 stride makes the packing exact for any
      // doc under a trillion sentences and any doc_id under 10^26
      .withColumn("k",
        col("doc_id").cast("decimal(20,0)") * lit(1000000000000L) + col("pos"))

  /** Shared rebuild tail of q68/q70: surviving sentence occurrences regroup
    * into their documents in original order; every corpus doc emits a row.
    * `corpusIds` carries ONE doc_id row per corpus doc — the only thing
    * the rebuild needs from the corpus (round 18): docs whose every
    * sentence was filtered/removed must still emit their zero row, hence
    * the left joins.
    */
  private def sentenceRebuild(corpusIds: DataFrame, sents: DataFrame,
                              kept: DataFrame): DataFrame = {
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(". ",
          transform(array_sort(collect_list(struct(col("pos"), col("sentence")))),
            s => s.getField("sentence"))).as("cleaned"))
    val totals = sents.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sentences"))
    corpusIds
      .join(totals, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sentences"), lit(0L)).as("n_sentences"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
      .orderBy(col("doc_id"))
  }

  /** Composable core of q68 for ANY (doc_id, text, …) corpus with
    * '. '-separated sentences.
    */
  def sentenceDedupOf(corpus: DataFrame): DataFrame = {
    val sents  = sentenceUnits(corpus)
    val firsts = sents.groupBy(col("fp")).agg(min(col("k")).as("k"))
    val kept   = sents.join(firsts, Seq("fp", "k"), "left_semi")
    sentenceRebuild(corpus.select(col("doc_id")), sents, kept)
  }

  /** q70's core for ANY corpus — [[sentenceDedupOf]]'s exact pass extended
    * with the FUZZY layer real boilerplate removal needs: an exact pass
    * cannot touch "please subscribe to our newsletter for updates today"
    * when the corpus already carries "subscribe to our newsletter for
    * updates". The MinHash/LSH core ([[DedupExtras.minhashVerifiedPairsOf]],
    * q16's machinery corpus-parameterized) runs at SENTENCE granularity
    * over the distinct sentence texts — corpus-scale work stays the exact
    * pass's fingerprint aggregate; the fuzzy layer only sees one row per
    * DISTINCT sentence, each keyed by its first-occurrence k.
    *
    * Removal rule: a distinct sentence is dropped when ANY
    * earlier-first-occurrence sentence verifies as its near-dup (Jaccard ≥
    * `minJaccard` on word 3-shingles) — edge-dominated removal, the
    * deterministic one-pass shape (no connected-components iteration; a
    * dominated text is removed even if its dominator was itself removed,
    * at worst dropping slightly more than a component-rooted pass would).
    * Sentences under 3 tokens cannot shingle and pass through the fuzzy
    * layer untouched (the exact pass still applies).
    *
    * CONTRACT: corpus doc_ids are unique. A sentence's order key is
    * (doc_id, position), so two rows sharing a doc_id come back FUSED —
    * one output row interleaving both texts. Nothing checks it: a check
    * would cost a job on every call.
    */
  def fuzzySentenceDedupOf(corpus: DataFrame,
                           minJaccard: Double = DedupExtras.JaccardThreshold): DataFrame = {
    // The sentence stream feeds four plan branches (first-occurrence agg,
    // both exact semi-join consumers, per-doc totals) — cache it
    // operator-scoped so the split+md5 subtree runs once (q16's pattern),
    // materialize the result while the cache is alive, release in the
    // finally: no cached blocks leak into the caller's session. The
    // localCheckpoint is the same trade the minhash core already makes —
    // a dedup PASS's output is exactly what a pipeline persists before
    // fanning out downstream; at real scale the caller writes it to
    // parquet instead and this materialization is that write's scan.
    // Cache the UNFILTERED exploded units (round 18): the rebuild tail
    // needs one doc_id row per corpus doc (zero rows for all-empty docs),
    // and deriving it from `corpus` re-executed the caller's whole corpus
    // plan a second time — in q92 that was a full re-run of the
    // exact-dedup aggregate just to list ids. posexplode_outer keeps ≥1
    // row per doc (null-text docs included), so BOTH the sentence stream
    // and the id set now come off this one cache: the corpus plan executes
    // exactly once. fp is null exactly where the old filter dropped the
    // row, so `sents` is unchanged.
    val unitsAll = corpus
      .select(col("doc_id"), posexplode_outer(split(col("text"), "\\. ")))
      .toDF("doc_id", "pos", "sentence")
      .withColumn("fp",
        when(length(trim(col("sentence"))) > 0, unhex(md5(trim(col("sentence"))))))
      .withColumn("k",
        col("doc_id").cast("decimal(20,0)") * lit(1000000000000L) + col("pos"))
      .cache()
    val sents = unitsAll.filter(col("fp").isNotNull)
    // the exact-pass survivors feed two consumers (distinct-text minhash
    // build + the final anti-join): cache them too, or the fingerprint
    // shuffle re-runs once per consumer
    val exact = exactSurvivors(sents).cache()
    try fuzzyTail(unitsAll.select(col("doc_id")).distinct(), sents, exact, minJaccard)
      .localCheckpoint(true)
    finally { exact.unpersist(); unitsAll.unpersist() }
  }

  /** The exact pass: sentence occurrences that are the global first of
    * their fingerprint.
    */
  private def exactSurvivors(sents: DataFrame): DataFrame = {
    val firsts = sents.groupBy(col("fp")).agg(min(col("k")).as("k"))
    sents.join(firsts, Seq("fp", "k"), "left_semi")
  }

  /** Lazy plan body of [[fuzzySentenceDedupOf]] — package-private so
    * PlanShapeSpec pins the REAL shape (the public API materializes
    * through a localCheckpoint, which would hide the plan behind an RDD
    * scan). Like the public path, it emits one row per DISTINCT doc_id.
    */
  private[graft] def fuzzySentenceDedupPlan(corpus: DataFrame, sents: DataFrame,
                                            minJaccard: Double): DataFrame =
    fuzzyTail(corpus.select(col("doc_id")).distinct(), sents, exactSurvivors(sents), minJaccard)

  private def fuzzyTail(corpusIds: DataFrame, sents: DataFrame, exact: DataFrame,
                        minJaccard: Double): DataFrame = {
    // one row per DISTINCT sentence text: its first occurrence carries it
    val distinctTexts = exact
      .select(col("k").as("doc_id"), trim(col("sentence")).as("text"))
    val pairs = DedupExtras.minhashVerifiedPairsOf(distinctTexts, minJaccard)
    // a_id < b_id and k orders by (doc_id, pos): b is always the LATER
    // first occurrence — the dominated side
    val dominated = pairs.select(col("b_id").as("k")).distinct()
    val kept = exact.join(dominated, Seq("k"), "left_anti")
    sentenceRebuild(corpusIds, sents, kept)
  }

  val q68OracleSql: String =
    """WITH corpus AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 7 = 3
      |              THEN m || '. subscribe to our newsletter for updates'
      |              ELSE m END AS text
      |  FROM (
      |    SELECT doc_id,
      |           array_to_string(list_transform(range(0, (len(t) - 1) // 8 + 1),
      |             i -> array_to_string(list_slice(t, CAST(i * 8 + 1 AS INT), CAST(i * 8 + 8 AS INT)), ' ')), '. ') AS m
      |    FROM (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents)
      |  )
      |), sp AS (
      |  SELECT doc_id, string_split(text, '. ') AS parts FROM corpus
      |), s0 AS (
      |  SELECT doc_id, generate_subscripts(parts, 1) - 1 AS pos, unnest(parts) AS sentence FROM sp
      |), f AS (
      |  SELECT doc_id, pos, sentence, unhex(md5(trim(sentence))) AS fp,
      |         CAST(doc_id AS HUGEINT) * 1000000000000 + pos AS k
      |  FROM s0 WHERE len(trim(sentence)) > 0
      |), firsts AS (
      |  SELECT fp, MIN(k) AS k FROM f GROUP BY fp
      |), kept AS (
      |  SELECT f.doc_id, f.pos, f.sentence FROM f JOIN firsts USING (fp, k)
      |), rebuilt AS (
      |  SELECT doc_id, COUNT(*) AS n_kept,
      |         string_agg(sentence, '. ' ORDER BY pos) AS cleaned
      |  FROM kept GROUP BY doc_id
      |), totals AS (
      |  SELECT doc_id, COUNT(*) AS n_sentences FROM f GROUP BY doc_id
      |)
      |SELECT c.doc_id,
      |       CAST(COALESCE(t.n_sentences, 0) AS BIGINT) AS n_sentences,
      |       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
      |       COALESCE(r.cleaned, '') AS cleaned
      |FROM corpus c
      |LEFT JOIN totals t USING (doc_id)
      |LEFT JOIN rebuilt r USING (doc_id)
      |ORDER BY c.doc_id""".stripMargin

  /** q70_fuzzy_sentence_dedup — [[fuzzySentenceDedupOf]] as a declared,
    * oracle-checked query (round 7): the q68 derived corpus plus a SECOND
    * planted boilerplate, a near-VARIANT of the first ("please … today" —
    * word-3-shingle Jaccard 4/6 against the base) on every
    * doc_id % 11 == 5. The exact pass alone would keep the variant's first
    * occurrence; the fuzzy layer must remove every copy (dominated by the
    * base boilerplate's earlier first occurrence in doc 3), while the
    * 8-token body sentences dedup exactly as in q68. The oracle recomputes
    * the ENTIRE pipeline — sentence split, fingerprint min, distinct-text
    * MinHash signatures, banding, candidate join, exact Jaccard
    * verification, dominated anti-join, ordered rebuild — in DuckDB, with
    * the SAME NumHashes/Bands/threshold constants as q16's oracle.
    */
  def fuzzySentenceDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = eightTokenSentences(Tables.documents(spark, sfDir))
      .select(col("doc_id"),
        concat(col("m"),
          when(col("doc_id") % 7 === 3,
            lit(". subscribe to our newsletter for updates")).otherwise(lit("")),
          when(col("doc_id") % 11 === 5,
            lit(". please subscribe to our newsletter for updates today")).otherwise(lit("")))
          .as("text"))
    fuzzySentenceDedupOf(corpus)
  }

  val q70OracleSql: String = {
    import DedupExtras.{Bands, JaccardThreshold, NumHashes}
    val sigSelect = (0 until NumHashes).map(i => s"min(md5('$i:' || s)) AS sig$i").mkString(", ")
    val bandSelects = (0 until Bands).map(b =>
      s"SELECT k, $b AS band, md5(sig${2 * b} || sig${2 * b + 1}) AS bkey FROM sigs").mkString("\n  UNION ALL\n  ")
    s"""WITH corpus AS (
       |  SELECT doc_id,
       |         m || CASE WHEN doc_id % 7 = 3 THEN '. subscribe to our newsletter for updates' ELSE '' END
       |           || CASE WHEN doc_id % 11 = 5 THEN '. please subscribe to our newsletter for updates today' ELSE '' END AS text
       |  FROM (
       |    SELECT doc_id,
       |           array_to_string(list_transform(range(0, (len(t) - 1) // 8 + 1),
       |             i -> array_to_string(list_slice(t, CAST(i * 8 + 1 AS INT), CAST(i * 8 + 8 AS INT)), ' ')), '. ') AS m
       |    FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents)
       |  )
       |), sp AS (
       |  SELECT doc_id, string_split(text, '. ') AS parts FROM corpus
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
       |), kept AS (
       |  SELECT doc_id, pos, sentence
       |  FROM f JOIN firsts USING (fp, k)
       |  WHERE k NOT IN (SELECT k FROM dominated)
       |), rebuilt AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |         string_agg(sentence, '. ' ORDER BY pos) AS cleaned
       |  FROM kept GROUP BY doc_id
       |), totals AS (
       |  SELECT doc_id, COUNT(*) AS n_sentences FROM f GROUP BY doc_id
       |)
       |SELECT c.doc_id,
       |       CAST(COALESCE(t.n_sentences, 0) AS BIGINT) AS n_sentences,
       |       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
       |       COALESCE(r.cleaned, '') AS cleaned
       |FROM corpus c
       |LEFT JOIN totals t USING (doc_id)
       |LEFT JOIN rebuilt r USING (doc_id)
       |ORDER BY c.doc_id""".stripMargin
  }

  val q61OracleSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents), 'crawl' AS source
      |  FROM documents WHERE doc_id % 2 = 0
      |), n AS (
      |  SELECT source, COUNT(*) AS ns FROM corpus GROUP BY source
      |), r AS (
      |  SELECT source, (SELECT MIN(ns) FROM n)::DOUBLE / ns AS rate FROM n
      |)
      |SELECT d.doc_id, d.source
      |FROM corpus d JOIN r USING (source)
      |WHERE (d.doc_id * 2654435761) % 1048576 < CAST(floor(rate * 1048576) AS BIGINT)
      |ORDER BY d.doc_id""".stripMargin

  val q60OracleSql: String =
    """WITH snippet AS (
      |  SELECT array_to_string(list_slice(string_split_regex(lower(text), '\s+'), 1, 8), ' ') AS s
      |  FROM documents WHERE doc_id = 0
      |), corpus AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 13 = 2 THEN lower(text) || ' ' || (SELECT s FROM snippet)
      |              ELSE lower(text) END AS text
      |  FROM documents WHERE doc_id % 97 <> 0
      |), cgrams AS (
      |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8
      |           THEN list_transform(range(1, len(t) - 6), i -> array_to_string(list_slice(t, i, i + 7), ' '))
      |           ELSE [] END) AS g
      |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM corpus)
      |), bgrams AS (
      |  SELECT DISTINCT unnest(CASE WHEN len(t) >= 8
      |           THEN list_transform(range(1, len(t) - 6), i -> array_to_string(list_slice(t, i, i + 7), ' '))
      |           ELSE [] END) AS g
      |  FROM (SELECT string_split_regex(lower(text), '\s+') AS t FROM documents WHERE doc_id % 97 = 0)
      |), hits AS (
      |  SELECT doc_id, COUNT(DISTINCT g) AS shared FROM cgrams JOIN bgrams USING (g) GROUP BY doc_id
      |)
      |SELECT c.doc_id,
      |       CAST(COALESCE(h.shared, 0) AS BIGINT) AS shared_grams,
      |       CAST(CASE WHEN COALESCE(h.shared, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
      |FROM corpus c LEFT JOIN hits h USING (doc_id) ORDER BY c.doc_id""".stripMargin

  val q50OracleSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '(\w+|[^\w\s]+)', 1)) AS token
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, token, COUNT(*) AS tf FROM terms GROUP BY doc_id, token
      |), df AS (
      |  SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, token FROM terms) GROUP BY token
      |), n AS (
      |  SELECT COUNT(*)::DOUBLE AS n FROM documents
      |), scored AS (
      |  SELECT tf.doc_id, tf.token,
      |         round(tf.tf * ln(n.n / df.df), 6) AS tfidf,
      |         CAST(row_number() OVER (PARTITION BY tf.doc_id
      |           ORDER BY round(tf.tf * ln(n.n / df.df), 6) DESC, tf.token ASC) AS BIGINT) AS rank
      |  FROM tf JOIN df USING (token) CROSS JOIN n
      |)
      |SELECT doc_id, rank, token, tfidf FROM scored
      |WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin
}
