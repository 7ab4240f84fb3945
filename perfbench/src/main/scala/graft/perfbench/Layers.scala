package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import Main.median

/** Per-layer metrics of a traced run, from its spans, job counts and
  * micro-batch progress. Each op's figures are medians over its calls;
  * ops the workload never ran read 0.
  */
object Layers {

  private val MB = 1048576.0

  def of(tracer: Tracer, counts: Counts, progress: Seq[StreamingQueryProgress],
         spark: SparkSession, st: Stats): mutable.LinkedHashMap[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    Metrics.PerLayer.foreach(m => out(m.name) = 0.0)
    def acc(key: String) = counts.bySpan.getOrElse(key, new counts.Acc)

    // self time: a span's wall time minus the part its child spans cover
    val children = tracer.spans.groupBy(_.parent)
    def selfMs(s: Tracer.Span): Double =
      s.wallMs - Tracer.unionLength(children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)).toSeq)

    for ((op, spans) <- tracer.spans.groupBy(_.name) if out.contains(s"$op.wall_s")) {
      val accs = spans.map(s => (s, acc(s.id.toString))).toSeq
      out(s"$op.wall_s") = median(spans.map(selfMs).toSeq) / 1e3
      if (out.contains(s"$op.call_s")) out(s"$op.call_s") = median(spans.map(s => s.callMs - s.startMs).toSeq) / 1e3
      out(s"$op.gap_s") = median(accs.map { case (s, a) =>
        selfMs(s) - Tracer.unionLength(a.jobs.toSeq.map { case (b, e) => (math.max(b, s.startMs), math.min(e, s.endMs)) }
          .filter { case (b, e) => e > b })
      }) / 1e3
      out(s"$op.jobs") = median(accs.map(_._2.jobs.size.toDouble))
      out(s"$op.shuffle_mb") = median(accs.map(_._2.shuffleBytes / MB))
      if (out.contains(s"$op.rows_read")) out(s"$op.rows_read") = median(accs.map(_._2.recordsRead.toDouble))
    }

    if (progress.nonEmpty) {
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val per = progress.map(p => (p, acc(s"batch:${p.id}:${p.batchId}")))
      out("stream.micro_batch.wall_s") = median(per.map(x => dur(x._1, "triggerExecution"))) / 1e3
      out("stream.micro_batch.planning_s") = median(per.map(x => dur(x._1, "queryPlanning"))) / 1e3
      out("stream.micro_batch.add_batch_s") = median(per.map(x => dur(x._1, "addBatch"))) / 1e3
      out("stream.micro_batch.gap_s") = median(per.map { case (p, a) =>
        dur(p, "triggerExecution") - Tracer.unionLength(a.jobs.toSeq) }) / 1e3
      out("stream.micro_batch.jobs") = median(per.map(_._2.jobs.size.toDouble))
      out("stream.micro_batch.shuffle_mb") = median(per.map(_._2.shuffleBytes / MB))
    }

    val sc = spark.sparkContext
    out("spark.persistent_rdds_end") = sc.getPersistentRDDs.size.toDouble
    out("spark.storage_mb_end") = sc.getRDDStorageInfo.map(i => (i.memSize + i.diskSize) / MB).sum
    System.gc(); System.gc()
    out("jvm.heap_retained_mb") =
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
    out("probe.recall_at_10") = if (st.recall.isEmpty) 0.0 else st.recall.sum / st.recall.size
    out("trace.latency_p50_ms") = median(st.latencies.toSeq) * 1e3
    out("trace.listener_ms") = counts.callbackNanos / 1e6
    out
  }

  /** Write the spans as JSON lines. */
  def writeSpans(tracer: Tracer, file: String): Unit = {
    val f = new java.io.File(file)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try tracer.spans.foreach { s =>
      w.println(f"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "request": ${s.request}, """ +
        f""""start_ms": ${s.startMs}%.3f, "call_ms": ${s.callMs}%.3f, "end_ms": ${s.endMs}%.3f}""")
    } finally w.close()
  }
}
