package graft.operators

import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Distributed exact top-k by (score desc, id asc).
  *
  * The window-function formulation (`row_number over (partition by qid order
  * by score desc)`) shuffles EVERY scored row into one partition per query —
  * at a 100 TB corpus with q queries that is q reducers each receiving N
  * rows. This Aggregator instead keeps a bounded k-element heap per
  * (partition, query) and merges heaps: the shuffle carries at most
  * q × partitions × k rows, independent of corpus size — the same
  * partial/final split Spark's TakeOrderedAndProject uses for global top-k,
  * generalized to per-group.
  */
object TopK {

  case class Scored(id: Long, score: Double)

  /** compare(a, b) < 0 means a is the BETTER result (higher score, then
    * smaller id).
    */
  private val bestFirst: Ordering[Scored] =
    Ordering.by[Scored, (Double, Long)](s => (-s.score, s.id))

  /** Bounded top-k of `T` rows under `bestFirst` (compare(a, b) < 0 means
    * a ranks first).
    *
    * Buffer = a flat Seq kept ≤ 2k via amortized sort-and-trim: appends are
    * O(1), a trim runs every k overflows, so the amortized cost stays
    * O(log k)-ish per row while the buffer stays expression-encodable —
    * partials serialize as ordinary Spark rows (no Kryo, no closure
    * serialization), which keeps the shuffle payload a plain array of
    * structs.
    */
  class BoundedTopKAggregator[T](k: Int, bestFirst: Ordering[T], encoder: Encoder[Seq[T]])
      extends Aggregator[T, Seq[T], Seq[T]] {
    private def trim(b: Seq[T]): Seq[T] =
      if (b.length <= 2 * k) b else b.sorted(bestFirst).take(k)

    override def zero: Seq[T] = Vector.empty

    override def reduce(b: Seq[T], a: T): Seq[T] = trim(b :+ a)

    override def merge(b1: Seq[T], b2: Seq[T]): Seq[T] = trim(b1 ++ b2)

    /** Best-first — rank = position + 1. */
    override def finish(b: Seq[T]): Seq[T] = b.sorted(bestFirst).take(k)

    override def bufferEncoder: Encoder[Seq[T]] = encoder
    override def outputEncoder: Encoder[Seq[T]] = encoder
  }

  /** [[BoundedTopKAggregator]] over [[Scored]] rows, (score desc, id asc). */
  class TopKAggregator(k: Int) extends BoundedTopKAggregator[Scored](k, bestFirst,
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]())

  /** DataFrame-friendly UDAF: `top_k(struct(id, score))` → array<struct<id,score>>. */
  def topKUdaf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new TopKAggregator(k), org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Scored]())

  /** A probe candidate: a scored id and the inverted list it came from. */
  case class Listed(id: Long, score: Double, list: Long)

  /** compare(a, b) < 0 means a ranks first: higher score (Spark's double
    * order, so +0.0 and -0.0 tie and NaN is highest), then smaller id, then
    * smaller list — a total order, even when one id sits in two lists.
    */
  private val listedBestFirst: Ordering[Listed] = (a: Listed, b: Listed) => {
    val s = if (a.score == b.score) 0 else java.lang.Double.compare(b.score, a.score)
    if (s != 0) s
    else if (a.id != b.id) java.lang.Long.compare(a.id, b.id)
    else java.lang.Long.compare(a.list, b.list)
  }

  /** The probes' whole ranking per query in one aggregate:
    * `graft_ranked_topk<k>(id, score, list)` → array<struct<id,score,list>>,
    * best first, the list id carried through for output. Named as the SQL
    * surface registers it ([[ensureRankedTopK]]), so the DataFrame and SQL
    * probes compile to the same aggregate.
    */
  def rankedTopKUdaf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new BoundedTopKAggregator[Listed](k, listedBestFirst,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Listed]]()),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Listed]())
      .withName(rankedTopKName(k))

  private def rankedTopKName(k: Int): String = s"graft_ranked_topk$k"

  /** Register [[rankedTopKUdaf]] for the SQL surface once per session and
    * k; returns its name.
    */
  def ensureRankedTopK(spark: SparkSession, k: Int): String =
    registeredOnce(spark, rankedTopKName(k), rankedTopKUdaf(k))

  /** Register `agg` as `name` unless the session already has it (the
    * GraftFunctions.registerIfAbsent discipline — re-registering per call
    * would log a `replaced` warning per query); returns `name`.
    */
  private[operators] def registeredOnce(spark: SparkSession, name: String,
                                        agg: => org.apache.spark.sql.expressions.UserDefinedFunction): String = {
    if (!spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
      spark.udf.register(name, agg)
    name
  }
}
