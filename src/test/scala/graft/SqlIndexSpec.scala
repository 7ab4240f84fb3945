package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IvfIndex

/** The SQL-only user path to the PERSISTED index (VERDICT r16 item 8):
  * q184's probe and q185's describe routed through `spark.sql` texts must
  * be row- AND plan-identical to the DataFrame cores — the SQL surface
  * costs exactly the core's plan (partition-pruned scan, broadcast
  * routing, bounded heap), it is not a second implementation.
  */
class SqlIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // the SqlSurfaceSpec normalization: the COMPILE-TIME (Initial Plan)
  // section with expression/plan/codegen-span/query-stage ids scrubbed —
  // AQE's runtime build-side choices are stats-driven and can differ
  // between executions of the same compiled plan (see SqlSurfaceSpec)
  private def normPlan(df: org.apache.spark.sql.DataFrame): String = {
    val full = df.queryExecution.executedPlan.toString
    val marker = "== Initial Plan =="
    val at = full.indexOf(marker)
    (if (at >= 0) full.substring(at + marker.length) else full)
      .replaceAll("#\\d+L?", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("\\[id=#x\\]", "")
      .replaceAll("\\*\\(\\d+\\)", "*(n)")
      .replaceAll("QueryStage \\d+", "QueryStage n")
      // the SQL route's registered ranking aggregate carries the core's
      // name (graft_ranked_topk<k>); the two differ only in the
      // aggregator instance hash — same class, same buffer encoders,
      // same physical aggregate
      .replaceAll("@[0-9a-f]+", "@x")
      .replaceAll("(?m)\\s+$", "")
  }

  /** Plans built and run inside this print their scans' metadata
    * uncut: the cut is made at a fixed length BEFORE [[normPlan]] scrubs
    * the ids, so it would land on different text whenever two plans' ids
    * differ in digit count.
    */
  private def untruncated[A](body: => A): A =
    withConf("spark.sql.maxMetadataStringLength", Int.MaxValue.toString)(body)

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def freshIndex(): (org.apache.spark.sql.DataFrame, String) = {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlidx").toString
    IvfIndex.build(spark, emb, dir)
    (emb, dir)
  }

  test("q184: the SQL probe route is row- and plan-identical to the DataFrame probe") { untruncated {
    val (emb, dir) = freshIndex()
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val sqlDf  = IvfIndex.probeSql(spark, dir, queries, k = 3, nprobe = 1)
    val coreDf = IvfIndex.probe(spark, dir, queries, k = 3, nprobe = 1)
    assert(sqlDf.columns.toSeq == coreDf.columns.toSeq, "column names must match")
    assert(sqlDf.collect().toSeq == coreDf.collect().toSeq,
      "the SQL route must be row-identical to the DataFrame probe")
    val (sp, cp) = (normPlan(sqlDf), normPlan(coreDf))
    assert(sp == cp,
      s"SQL and DataFrame probes must compile to IDENTICAL physical plans;\nSQL:\n$sp\nCORE:\n$cp")
    // the routing decision must reach the scan as a partition filter in
    // BOTH routes (the property that makes the probe read only the
    // routed lists) — plan identity above makes one check cover both
    val scanLine = sp.linesIterator.find(_.contains("PartitionFilters: [l"))
    assert(scanLine.exists(_.contains("list_id")),
      s"the probe scan must carry a non-empty list_id partition filter;\n$sp")
  }}

  test("q184 multiprobe: nprobe=2 through SQL matches the core too") {
    val (emb, dir) = freshIndex()
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val sqlRows  = IvfIndex.probeSql(spark, dir, queries, k = 3, nprobe = 2).collect().toSeq
    val coreRows = IvfIndex.probe(spark, dir, queries, k = 3, nprobe = 2).collect().toSeq
    assert(sqlRows.nonEmpty && sqlRows == coreRows)
  }

  test("q185: the SQL describe route is row- and plan-identical to the declared describe") {
    val (_, dir) = freshIndex()
    val sqlDf  = IvfIndex.describeSql(spark, dir)
    val coreDf = IvfIndex.describe(spark, dir)
      .withColumn("list_id", col("list_id").cast("long"))
      .orderBy(col("list_id"))
    assert(sqlDf.columns.toSeq == coreDf.columns.toSeq, "column names must match")
    assert(sqlDf.collect().toSeq == coreDf.collect().toSeq,
      "the SQL route must be row-identical to describe")
    val (sp, cp) = (normPlan(sqlDf), normPlan(coreDf))
    assert(sp == cp,
      s"SQL and DataFrame describes must compile to IDENTICAL physical plans;\nSQL:\n$sp\nCORE:\n$cp")
  }

  test("probeSql fails fast when a reserved view name already exists, preserving it") {
    val (emb, dir) = freshIndex()
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    spark.range(4).toDF("x").createOrReplaceTempView("graft_ivf_points")
    try {
      val e = intercept[IllegalArgumentException] {
        IvfIndex.probeSql(spark, dir, queries)
      }
      assert(e.getMessage.contains("graft_ivf_points"))
      assert(spark.table("graft_ivf_points").count() == 4,
        "the user's colliding view must survive the failed call unchanged")
    } finally spark.catalog.dropTempView("graft_ivf_points")
  }
}
