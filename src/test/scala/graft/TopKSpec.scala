package graft

import scala.util.Random

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TopK

class TopKSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bounded-heap aggregator equals the window row_number formulation, ties included") {
    val rnd = new Random(13)
    // Duplicate scores on purpose so tie-breaking (ascending id) is exercised.
    val rows = for {
      qid <- 0 until 8
      id  <- 0 until 200
    } yield (qid.toLong, id.toLong, math.floor(rnd.nextDouble() * 20) / 20.0)
    val df = rows.toDF("qid", "id", "score").repartition(7)

    val k  = 5
    val tk = TopK.topKUdaf(k)
    val viaAgg = df
      .groupBy($"qid")
      .agg(tk($"id", $"score").as("top"))
      .select($"qid", posexplode($"top"))
      .toDF("qid", "pos", "s")
      .select($"qid", $"s.id".as("id"), $"s.score".as("score"), ($"pos" + 1).cast("long").as("rank"))

    val w = Window.partitionBy($"qid").orderBy($"score".desc, $"id".asc)
    val viaWindow = df
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"qid", $"id", $"score", $"rank")

    val a = viaAgg.orderBy("qid", "rank").collect().toSeq
    val b = viaWindow.orderBy("qid", "rank").collect().toSeq
    assert(a == b)
  }

  test("groups smaller than k yield all their rows, ranked") {
    val df = Seq((1L, 10L, 0.5), (1L, 11L, 0.7), (2L, 20L, 0.1)).toDF("qid", "id", "score")
    val tk = TopK.topKUdaf(5)
    val got = df.groupBy($"qid").agg(tk($"id", $"score").as("top"))
      .select($"qid", posexplode($"top")).toDF("qid", "pos", "s")
      .select($"qid", $"s.id", ($"pos" + 1).as("rank"))
      .orderBy("qid", "rank").as[(Long, Long, Int)].collect().toSeq
    assert(got == Seq((1L, 11L, 1), (1L, 10L, 2), (2L, 20L, 1)))
  }

  /** The probe tail before [[graft.operators.IvfIndex.rankTopK]] became
    * one aggregate: a bounded top-k per (qid, probe_list), then a
    * row_number window across each query's survivors.
    */
  private def perListThenWindow(scored: org.apache.spark.sql.DataFrame, k: Int) = {
    val tk = TopK.topKUdaf(k)
    scored.groupBy($"qid", $"probe_list").agg(tk($"vec_id", $"score").as("top"))
      .select($"qid", $"probe_list", explode($"top").as("s"))
      .select($"qid", $"probe_list", $"s.id".as("vec_id"), $"s.score".as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"qid").orderBy($"score".desc, $"vec_id".asc)).cast("long"))
      .filter($"rank" <= k)
      .orderBy($"qid", $"rank")
  }

  test("rankTopK's one aggregate per query equals the per-list top-k plus window it replaced") {
    val rnd = new Random(17)
    val k = 5
    for (trial <- 0 until 4) {
      // scores on a 1/20 grid, so ties at the k-th score are common; ids
      // are distinct per query, so only the planted ids sit in two lists
      val random = for {
        qid <- 0L until 12L
        n = if (qid % 4 == 3) rnd.nextInt(k) else 10 + rnd.nextInt(60) // some queries have < k candidates
        id <- rnd.shuffle((0L until 500L).toList).take(n)
      } yield (qid, rnd.nextInt(4).toLong, id, math.floor(rnd.nextDouble() * 20) / 20.0)
      // one vec_id in two lists: a stale copy in list 8 with a lower score,
      // and for query 0 a copy in lists 6 and 7 with the top score
      val planted = (0L until 12L).flatMap(q => Seq((q, 5L, 900L, 0.95), (q, 8L, 900L, 0.15))) ++
        Seq((0L, 6L, 901L, 1.0), (0L, 7L, 901L, 1.0))
      val scored = (random ++ planted).toDF("qid", "probe_list", "vec_id", "score").repartition(3)
      val got = graft.operators.IvfIndex.rankTopK(scored, k)
      val want = perListThenWindow(scored, k)
      assert(got.columns.toSeq == want.columns.toSeq)
      def ranked(df: org.apache.spark.sql.DataFrame) =
        df.select("qid", "vec_id", "score", "rank").collect().map(_.toSeq).toSeq
      def withLists(df: org.apache.spark.sql.DataFrame) =
        df.select("qid", "probe_list", "vec_id", "score").collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
      // the old window ordered two copies of one (score, vec_id) arbitrarily,
      // so list ids are compared as a multiset; everything else row by row
      assert(ranked(got) == ranked(want), s"trial $trial")
      assert(withLists(got) == withLists(want), s"trial $trial")
      val q0 = got.filter($"qid" === 0L).orderBy("rank").select("vec_id", "probe_list").as[(Long, Long)].collect()
      assert(q0.take(2).toSeq == Seq((901L, 6L), (901L, 7L)), "equal copies rank by list id")
    }
  }
}
