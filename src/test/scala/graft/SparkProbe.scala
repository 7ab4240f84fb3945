package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block of work ran on a session, read off listeners once the
  * listener bus has delivered every event: the properties of each Spark
  * job it started (from its own thread and the threads it spawned, such as
  * a stream's), and the final physical plan of each query it executed.
  */
final class Ran(val jobs: Seq[Properties], val plans: Seq[SparkPlan]) {
  lazy val census: Census = new Census(plans)

  /** The census of the last query alone: for a collected frame, its own. */
  lazy val last: Census = new Census(plans.takeRight(1))
}

object SparkProbe {
  private val Key = "graft.spec.probe"

  /** Run `body` on `spark` and return what it ran. Suites share one
    * session but run one at a time, so every query executed meanwhile is
    * the body's; jobs are matched on a span-scoped local property.
    */
  def apply(spark: SparkSession)(body: => Any): Ran = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val jobs = new ConcurrentLinkedQueue[Properties]()
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Key) == id)) jobs.add(e.properties)
    }
    val planListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    GraftTestBus.drain(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    sc.setLocalProperty(Key, id)
    try body
    finally {
      sc.setLocalProperty(Key, null)
      GraftTestBus.drain(sc)
      spark.listenerManager.unregister(planListener)
      sc.removeSparkListener(jobListener)
    }
    new Ran(jobs.asScala.toSeq, plans.asScala.toSeq)
  }

  /** The Spark jobs `body` starts. */
  def jobs(spark: SparkSession)(body: => Any): Int = apply(spark)(body).jobs.size
}

/** A structural census of executed physical plans: every node of the
  * final adaptive plans, their subqueries, and the plans of the caches
  * they read (each cached plan once, as it is built once). A
  * `ReusedExchangeExec` counts as itself; the exchange it reuses was
  * counted where it ran.
  */
final class Census(val plans: Seq[SparkPlan]) {
  private val helper = new AdaptiveSparkPlanHelper {}

  private def ownNodes(p: SparkPlan): Seq[SparkPlan] = helper.collectWithSubqueries(p) { case n => n }

  /** The captured plans and, after them, every distinct cached plan they read. */
  val walked: Seq[SparkPlan] = {
    def cachedUnder(ps: Seq[SparkPlan], seen: Seq[SparkPlan]): Seq[SparkPlan] = {
      val found = ps.flatMap(ownNodes).collect { case s: InMemoryTableScanExec => s.relation.cachedPlan }
        .distinct.filterNot(seen.contains)
      if (found.isEmpty) seen else cachedUnder(found, seen ++ found)
    }
    plans ++ cachedUnder(plans, Nil)
  }

  val nodes: Seq[SparkPlan] = walked.flatMap(ownNodes)

  def all[T <: SparkPlan](implicit ct: ClassTag[T]): Seq[T] =
    nodes.collect { case n if ct.runtimeClass.isInstance(n) => n.asInstanceOf[T] }

  def count[T <: SparkPlan: ClassTag]: Int = all[T].size

  /** Node counts by class, for failure messages. */
  def histogram: String =
    nodes.groupBy(_.getClass.getSimpleName).view.mapValues(_.size).toSeq.sortBy(_._1)
      .map { case (k, n) => s"$k x$n" }.mkString(", ")

  /** The walked plans, printed in full. */
  def shown: String =
    walked.zipWithIndex.map { case (p, i) => s"-- plan ${i + 1} of ${walked.size} --\n${p.treeString}" }
      .mkString(s"census: $histogram\n", "\n", "")
}
