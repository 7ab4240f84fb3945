package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TextPipeline.tokenArr

/** BPE tokenizer TRAINING on the cluster, architected the way Sennrich
  * et al. (ACL 2016) actually run it: BPE statistics factor through the
  * word-TYPE frequency table. A pair occurs only inside a token, so
  * counting pairs over every token INSTANCE is the same sum as counting
  * them once per distinct type weighted by the type's corpus frequency —
  * and the type table is Heaps-bounded (distinct types grow ~N^β, β≈0.5,
  * while instances grow ~N). The engine therefore exposes:
  *
  *   - [[bpePairCounts]] (q84, oracle-declared): the pair-count
  *     aggregation over character symbols — scan-local pair assembly
  *     (each token's char array zips with its own tail, the q78 trick at
  *     character level; no window, no self-join), map-side-combined count
  *     on a key space bounded by the symbol alphabet², and a
  *     TakeOrderedAndProject top-50.
  *   - [[wordTypesOf]]: the ONE corpus aggregate — (token, freq) via the
  *     q04 vocab-build shape (map-side-combined hash agg; the shuffle is
  *     type-bounded, not corpus-sized).
  *   - [[bpeTrainOf]] (non-declared, spec-verified against an imperative
  *     reference): the full iterative loop — N rounds of weighted
  *     count → argmax → scan-local merge, ALL over the type table. The
  *     corpus is scanned exactly once, ever; each merge round scans only
  *     the checkpointed type table, so per-merge cost is independent of
  *     corpus size (BASELINE.md records the ladder). The argmax is a
  *     1-row driver decision, exactly the artifact-scale driver work the
  *     q54 pattern allows. Symbol merging is a higher-order `aggregate`
  *     over the array — no UDF, no explode-regroup round trip.
  *
  * At 100 TB: the one corpus pass is q04's shape and everything after it
  * costs |types|, not |corpus|. If even the type table is too hot (web
  * noise inflates Heaps' K), a production run feeds [[wordTypesOf]] from
  * q82's deterministic sample — tokenizer training needs frequency
  * RANKS, not exact counts — or drops singleton types (freq ≥ 2) before
  * the loop, which caps the table without touching any pair that could
  * ever win an argmax over a duplicate-bearing corpus.
  */
object Bpe {

  val PairTopK = 50

  /** The ONE corpus aggregate: word-type frequency table (token, freq)
    * over tokens of length ≥ 2 (single-char tokens carry no pair).
    */
  def wordTypesOf(docs: DataFrame): DataFrame =
    docs
      .select(explode(tokenArr(col("text"))).as("token"))
      .filter(length(col("token")) >= 2)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))

  /** Type table → (cs: symbol array, freq) working form for the loop. */
  private[graft] def typeSymbols(types: DataFrame): DataFrame =
    types.select(expr("regexp_extract_all(token, '(.)', 1)").as("cs"), col("freq"))

  /** Frequency-weighted adjacent-pair counts (c1, c2, n) of a
    * (cs, freq) frame. With freq ≡ 1 this is the instance-level count.
    */
  private[graft] def pairCounts(symbols: DataFrame): DataFrame =
    symbols
      .select(explode(arrays_zip(
        slice(col("cs"), lit(1), size(col("cs")) - 1).as("c1"),
        slice(col("cs"), lit(2), size(col("cs")) - 1).as("c2"))).as("p"),
        col("freq"))
      .select(col("p.c1").as("c1"), col("p.c2").as("c2"), col("freq"))
      .groupBy(col("c1"), col("c2"))
      .agg(sum(col("freq")).as("n"))

  /** q84_bpe_pair_counts — top-50 adjacent character pairs by
    * (count desc, c1 asc, c2 asc) over the fixture corpus.
    */
  def bpePairCounts(spark: SparkSession, sfDir: String): DataFrame =
    bpePairCountsOf(Tables.documents(spark, sfDir))

  /** Composable core of q84 for ANY (doc_id, text, …) corpus. Routed
    * through the type table: the char-explode and pair assembly run once
    * per distinct token, not once per instance — strictly less work than
    * the instance-level scan whenever any token repeats (Zipf guarantees
    * most do), at the price of one type-bounded pre-shuffle.
    */
  def bpePairCountsOf(docs: DataFrame): DataFrame =
    pairCounts(typeSymbols(wordTypesOf(docs)))
      .orderBy(col("n").desc, col("c1"), col("c2"))
      .limit(PairTopK)

  val q84OracleSql: String =
    s"""WITH t AS (
       |  SELECT unnest(regexp_extract_all(text, '(\\w+|[^\\w\\s]+)', 1)) AS token FROM documents
       |), c AS (
       |  SELECT regexp_extract_all(token, '(.)', 1) AS cs FROM t WHERE length(token) >= 2
       |), p AS (
       |  SELECT cs[g.i] AS c1, cs[g.i+1] AS c2
       |  FROM c CROSS JOIN UNNEST(generate_series(1, len(cs)-1)) AS g(i)
       |)
       |SELECT c1, c2, CAST(COUNT(*) AS BIGINT) AS n
       |FROM p GROUP BY c1, c2
       |ORDER BY n DESC, c1, c2
       |LIMIT $PairTopK""".stripMargin

  /** Scan-local simultaneous merge of ONE pair (a, b) → ab everywhere in
    * a symbol array, greedy left-to-right on runs ("aaa" under (a,a) →
    * ["aa","a"]): a single `aggregate` HOF folds the array carrying a
    * one-symbol lookahead in `pending`; the finish lambda flushes it.
    * The '' sentinel is safe: symbols are non-empty chars or their
    * concatenations.
    */
  /** Spark-SQL string literal (backslash-escaped). */
  private def sqlLit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  private def mergePairExpr(a: String, b: String): String = {
    val (qa, qb, qab) = (sqlLit(a), sqlLit(b), sqlLit(a + b))
    s"""aggregate(cs,
       |  named_struct('done', cast(array() as array<string>), 'pending', ''),
       |  (acc, x) -> CASE
       |    WHEN acc.pending = '' THEN named_struct('done', acc.done, 'pending', x)
       |    WHEN acc.pending = $qa AND x = $qb
       |      THEN named_struct('done', concat(acc.done, array($qab)), 'pending', '')
       |    ELSE named_struct('done', concat(acc.done, array(acc.pending)), 'pending', x)
       |  END,
       |  acc -> filter(concat(acc.done, array(acc.pending)), s -> s <> ''))""".stripMargin
  }

  /** Full BPE training loop — Sennrich's actual algorithm: ONE corpus
    * aggregate into the word-type frequency table, then `merges` rounds
    * of weighted count → argmax → merge over that Heaps-bounded table.
    * Returns the merge table (rank, c1, c2, n) — the artifact a
    * tokenizer ships (q54's persisted-vocab pattern is the storage
    * side). Each round materializes the merged type table
    * (localCheckpoint) so round k+1 scans packed arrays, not a k-deep
    * expression tree, and the corpus itself is never rescanned — the
    * per-merge cost is |types|, independent of corpus size.
    */
  def bpeTrainOf(docs: DataFrame, merges: Int): Seq[(Int, String, String, Long)] = {
    var types = typeSymbols(wordTypesOf(docs)).localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    try {
      for (rank <- 1 to merges) {
        val top = pairCounts(types)
          .orderBy(col("n").desc, col("c1"), col("c2"))
          .limit(1).collect()
        if (top.isEmpty) return out.toSeq
        val (c1, c2, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += ((rank, c1, c2, n))
        val next = types
          .select(expr(mergePairExpr(c1, c2)).as("cs"), col("freq"))
          .localCheckpoint(true)
        types.unpersist()
        types = next
      }
      out.toSeq
    } finally types.unpersist()
  }

  // ---------------------------------------------------------------------
  // Encode: apply a trained merge table to a corpus (q86)
  // ---------------------------------------------------------------------

  /** Pinned merge table: `bpeTrainOf(documents@sf0.01, 12)`. q86 pins it
    * as a CONSTANT of the query so the declared semantics are
    * corpus-independent — the merge table is an artifact a production
    * pipeline loads from storage (q54 pattern), not something the encode
    * query derives. BpeSpec asserts the engine's own training reproduces
    * exactly this table from the fixture corpus.
    */
  val PinnedMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r", "s" -> "t", "m" -> "er",
    "a" -> "t", "l" -> "u", "a" -> "r", "p" -> "ar", "j" -> "o", "jo" -> "in")

  /** q86_bpe_encode — BPE-segment the fixture corpus with the pinned
    * merge table. Output per doc: token count, piece count, and the
    * space-joined subword pieces in order. Routes through
    * [[bpeEncodeAuto]]: the pinned 12-merge table sits far below the
    * crossover, so the auto rule picks the scan-local path — same plan,
    * same hash as the round-8 declaration (spec-pinned).
    */
  def bpeEncode(spark: SparkSession, sfDir: String): DataFrame =
    bpeEncodeAuto(Tables.documents(spark, sfDir))

  /** Depth at or below which the scan-local path is chosen without even
    * sampling: a chain this shallow can never amortize the type path's
    * reassembly shuffle (the measured depth-12 gap is ×2.9 FOR the
    * scan-local path, BASELINE.md round 8).
    */
  val AutoShallowDepth = 32

  /** The crossover constant K, in merge-step equivalents: the type
    * path's per-token join + reassembly overhead costs about as much as
    * K merge steps on that token. Fitted from the round-8 encode study
    * (BASELINE.md, "Round 8: q86 BPE encode"; sf1: scan ≈ 4.0 s +
    * 0.057 s/depth, types ≈ 12.5 s flat ⇒ crossover ≈ depth 150); the
    * rule is deliberately coarse — the two paths are row-identical, so a
    * mis-pick costs time, never correctness.
    */
  val AutoCrossoverK = 150.0

  /** Docs sampled for the duplication-factor estimate — bounded, so the
    * decision job costs the same at any corpus size.
    */
  val AutoSampleDocs = 1000

  /** ONE encode API (VERDICT r15 item 8): derive the scan-local vs
    * type-factorized choice from the merge-table depth and a CHEAP
    * duplication-factor estimate instead of a caller knob.
    *
    * Cost model (per corpus token): scan-local pays `depth` merge steps
    * on every INSTANCE; the type path pays `depth` once per TYPE plus a
    * join/reassembly overhead of [[AutoCrossoverK]] steps per instance.
    * Scan-local therefore wins iff `depth · (1 − types/instances) <
    * K`. The ratio is estimated from the first [[AutoSampleDocs]] docs
    * (one bounded job — never corpus-scale); Heaps' law makes the
    * sample UNDERestimate the corpus duplication factor, so the rule
    * errs toward the scan-local path, whose worst case is the measured
    * ×4, not a shuffle it cannot afford. Depths ≤ [[AutoShallowDepth]]
    * skip the sample entirely.
    */
  def bpeEncodeAuto(docs: DataFrame,
                    merges: Seq[(String, String)] = PinnedMerges): DataFrame =
    if (autoUseTypes(docs, merges.size)) bpeEncodeViaTypes(docs, merges)
    else bpeEncodeOf(docs, merges)

  /** The auto rule's decision, exposed for the branch-stability spec.
    * The duplication sample is the first [[AutoSampleDocs]] docs in
    * `xxhash64(doc_id)` order (doc_id tie-break) — a DETERMINISTIC
    * bounded stratum (VERDICT r16 item 5: the former bare
    * `limit(AutoSampleDocs)` let the scan's partition order pick WHICH
    * docs decide the path, violating the q61/q82 deterministic-gate
    * discipline even though both paths are row-identical). The hash
    * order makes the sample a pseudo-random cross-section independent
    * of file layout, the TakeOrdered heap keeps it one bounded job, and
    * any partitioning of `docs` yields the same decision.
    */
  private[graft] def autoUseTypes(docs: DataFrame, depth: Int): Boolean =
    depth > AutoShallowDepth && {
      val r = docs.select(col("doc_id"), col("text"))
        .orderBy(xxhash64(col("doc_id")), col("doc_id"))
        .limit(AutoSampleDocs)
        .select(explode(tokenArr(col("text"))).as("t"))
        .agg(count(lit(1)), approx_count_distinct(col("t"))).head()
      val (inst, typ) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
      inst > 0 && typ > 0 && depth.toDouble * (1.0 - typ / inst) > AutoCrossoverK
    }

  /** Composable scan-local encode for ANY (doc_id, text, …) corpus: each
    * doc's token array runs through `transform(tokens, tok ->
    * graft_bpe_encode(tok))` — the whole merge chain is ONE native
    * codegen'd expression ([[graft.functions.BpeEncode]]), so this is
    * pure per-row column work, ZERO shuffle at any corpus size
    * (plan-pinned: no Exchange). Re-encodes duplicate token instances,
    * which is the right trade while the merge chain is shallow; for
    * production-depth vocabs use [[bpeEncodeViaTypes]], which encodes
    * each distinct token once.
    */
  def bpeEncodeOf(docs: DataFrame, merges: Seq[(String, String)] = PinnedMerges): DataFrame = {
    val enc = graft.functions.BpeEncode.encodeCol(docs.sparkSession, merges) _
    docs
      .select(col("doc_id"),
        transform(tokenArr(col("text")), t => enc(t)).as("parr"))
      .select(col("doc_id"),
        size(col("parr")).cast("long").as("n_tokens"),
        size(flatten(col("parr"))).cast("long").as("n_pieces"),
        concat_ws(" ", flatten(col("parr"))).as("pieces"))
  }

  /** Type-factorized encode — the production-vocab path: encode each
    * DISTINCT token once over the Heaps-bounded type table, then join
    * the encoded types back over the positional token stream and
    * reassemble per doc. Equal to [[bpeEncodeOf]] row-for-row
    * (spec-pinned). The trade vs the scan-local path: per-type encode
    * work (|types| × chain depth, not |instances| × depth) in exchange
    * for the reassembly shuffle. The Heaps-bounded type table is
    * broadcast into the positional token stream.
    */
  def bpeEncodeViaTypes(
      docs: DataFrame,
      merges: Seq[(String, String)] = PinnedMerges): DataFrame = {
    val enc = graft.functions.BpeEncode.encodeCol(docs.sparkSession, merges) _
    val types = docs
      .select(explode(tokenArr(col("text"))).as("token")).distinct()
      .select(col("token"), enc(col("token")).as("pcs"))
    val assembled = docs
      .select(col("doc_id"), posexplode(tokenArr(col("text"))).as(Seq("pos", "token")))
      .join(broadcast(types), Seq("token"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("pcs")))).as("sp"))
      .select(col("doc_id"),
        size(col("sp")).cast("long").as("n_tokens"),
        size(flatten(transform(col("sp"), s => s.getField("pcs")))).cast("long").as("n_pieces"),
        concat_ws(" ", flatten(transform(col("sp"), s => s.getField("pcs")))).as("pieces"))
    // posexplode drops zero-token docs; restore them for row parity with
    // the scan-local path
    docs.select(col("doc_id")).join(assembled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        coalesce(col("pieces"), lit("")).as("pieces"))
  }

  /** DuckDB string literal (''-escaped). */
  private def duckLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** DuckDB mirror of one greedy-left merge over list column `cs`:
    * position i starts a merge iff (cs[i],cs[i+1])=(a,b) and — when
    * a=b — i sits at an EVEN offset within its maximal run of a's
    * (greedy-left run semantics; prevNonA finds the run start). A
    * position consumed by the merge at i-1 emits NULL and is filtered.
    * Property-tested against the imperative reference over random
    * run-heavy inputs before being pinned here.
    */
  private def duckStartAt(v: String, a: String, b: String): String = {
    val (qa, qb) = (duckLit(a), duckLit(b))
    s"($v >= 1 AND $v < len(cs) AND cs[$v]=$qa AND cs[$v+1]=$qb" +
      s" AND ($qa <> $qb OR ($v - 1 - coalesce(list_max(list_filter(range(1,$v), j -> cs[j] <> $qa)), 0)) % 2 = 0))"
  }

  private def duckMergeExpr(a: String, b: String): String =
    s"list_filter(list_transform(range(1, len(cs)+1), i -> " +
      s"CASE WHEN ${duckStartAt("i", a, b)} THEN ${duckLit(a + b)} " +
      s"WHEN i > 1 AND ${duckStartAt("i-1", a, b)} THEN NULL " +
      s"ELSE cs[i] END), x -> x IS NOT NULL)"

  /** Shared oracle prefix for q86/q87: tokenize (t), positional stream
    * (s), then the distinct-token encode chain e0→eN. `extraTCols` lets
    * a caller carry extra document columns (q87 needs lang) through t.
    */
  private def duckEncodePrefix(extraTCols: String = ""): (String, String) = {
    val steps = PinnedMerges.zipWithIndex.map { case ((a, b), i) =>
      s", e${i + 1} AS (SELECT token, ${duckMergeExpr(a, b)} AS cs FROM e$i)"
    }.mkString("\n")
    val prefix =
      s"""WITH t AS (
         |  SELECT doc_id,$extraTCols regexp_extract_all(text, '(\\w+|[^\\w\\s]+)', 1) AS toks FROM documents
         |), s AS (
         |  SELECT doc_id, g.i AS pos, toks[g.i] AS token
         |  FROM t CROSS JOIN UNNEST(generate_series(1, len(toks))) AS g(i)
         |), e0 AS (
         |  SELECT token, regexp_extract_all(token, '(.)', 1) AS cs FROM (SELECT DISTINCT token FROM s)
         |)$steps""".stripMargin
    (prefix, s"e${PinnedMerges.size}")
  }

  /** q86 oracle: distinct-token encode through the same merge chain as
    * e0→e12 CTEs, joined back over the positional token stream; LEFT
    * JOIN restores zero-token docs.
    */
  val q86OracleSql: String = {
    val (prefix, eN) = duckEncodePrefix()
    s"""$prefix, agg AS (
       |  SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |         CAST(SUM(len(e.cs)) AS BIGINT) AS n_pieces,
       |         array_to_string(flatten(list(e.cs ORDER BY s.pos)), ' ') AS pieces
       |  FROM s JOIN $eN e USING (token) GROUP BY s.doc_id
       |)
       |SELECT t.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
       |       coalesce(a.n_pieces, 0) AS n_pieces, coalesce(a.pieces, '') AS pieces
       |FROM t LEFT JOIN agg a USING (doc_id)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Fertility: per-language tokenizer quality (q87)
  // ---------------------------------------------------------------------

  /** q87_tokenizer_fertility — per-language FERTILITY of the pinned
    * tokenizer: pieces per token, the metric multilingual tokenizer
    * work tracks per language (a vocab trained on English-heavy data
    * over-segments other languages; fertility is how that bias is
    * measured and reported). Emits per lang: doc/token/piece counts and
    * fertility = n_pieces / n_tokens rounded to 6 dp.
    */
  def tokenizerFertility(spark: SparkSession, sfDir: String): DataFrame =
    tokenizerFertilityOf(Tables.documents(spark, sfDir))

  /** Composable core for ANY (lang, text, …) corpus. The 100 TB shape:
    * the corpus NEVER shuffles — per-doc token/piece counts come off the
    * scan through the same native merge-chain expression as q86 (sizes
    * only; the piece strings are never materialized past the row), and
    * the only exchange carries lang-cardinality partial-agg rows
    * (map-side combined). Depth scaling follows q86's analysis: at
    * production merge-table depth, swap the inline encode for
    * [[bpeEncodeViaTypes]]'s distinct-token factorization upstream.
    */
  def tokenizerFertilityOf(docs: DataFrame, merges: Seq[(String, String)] = PinnedMerges): DataFrame = {
    val enc = graft.functions.BpeEncode.encodeCol(docs.sparkSession, merges) _
    docs
      .select(col("lang"),
        transform(tokenArr(col("text")), t => enc(t)).as("parr"))
      .select(col("lang"),
        size(col("parr")).cast("long").as("nt"),
        size(flatten(col("parr"))).cast("long").as("np"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        sum(col("np")).as("n_pieces"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_pieces"),
        // a lang whose docs are all empty has n_tokens = 0: pin 0/0 to
        // NULL explicitly (matching the oracle's NULLIF) rather than
        // leaning on either engine's div-by-zero convention
        when(col("n_tokens") > 0,
          round(col("n_pieces").cast("double") / col("n_tokens"), 6)).as("fertility"))
      .orderBy(col("lang"))
  }

  /** q87 oracle: the q86 encode chain reduced to per-type piece counts,
    * aggregated doc-then-lang. Sums CAST to BIGINT (DuckDB SUM(BIGINT)
    * is HUGEINT — the q69 lesson); fertility divides as DOUBLE and
    * rounds to 6 dp on both engines.
    */
  val q87OracleSql: String = {
    val (prefix, eN) = duckEncodePrefix(extraTCols = " lang,")
    s"""$prefix, d AS (
       |  SELECT s.doc_id, COUNT(*) AS nt, SUM(len(e.cs)) AS np
       |  FROM s JOIN $eN e USING (token) GROUP BY s.doc_id
       |)
       |SELECT t.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(COALESCE(SUM(d.nt), 0) AS BIGINT) AS n_tokens,
       |       CAST(COALESCE(SUM(d.np), 0) AS BIGINT) AS n_pieces,
       |       ROUND(CAST(COALESCE(SUM(d.np), 0) AS DOUBLE) / NULLIF(CAST(COALESCE(SUM(d.nt), 0) AS BIGINT), 0), 6) AS fertility
       |FROM t LEFT JOIN d USING (doc_id)
       |GROUP BY t.lang ORDER BY t.lang""".stripMargin
  }
}
