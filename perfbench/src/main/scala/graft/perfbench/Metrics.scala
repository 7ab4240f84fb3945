package graft.perfbench

/** The metric catalogue: every name the benchmark prints, with its unit and
  * direction. BENCHMARK.json lists the same names (a spec keeps them equal).
  */
object Metrics {

  final case class Metric(name: String, unit: String, better: String)

  /** Printed by an untraced run, on every workload. What "the operation"
    * and "an item" are depends on the workload; see the README.
    */
  val EndToEnd: Seq[Metric] = Seq(
    Metric("latency_p50_ms", "ms", "lower"),
    Metric("throughput_per_s", "1/s", "higher"),
    Metric("setup_s", "s", "lower"))

  /** Ops that read index or corpus rows (they get `rows_read`). */
  val ReadOps: Seq[String] = Seq("ivf.probe", "ivf.multiprobe", "ivf.filtered", "ivf.sql", "ivf.bulk",
    "ivf.fresh_read", "pq.probe", "graph.probe", "knn.exact")

  /** Ops whose layer function returns a lazy frame (they get `call_s`). */
  val LazyOps: Seq[String] = ReadOps ++ Seq("curation.pipeline", "text.exact_dedup",
    "text.sentence_dedup", "text.decon", "text.select", "text.pack", "incremental.classify")

  val Ops: Seq[String] = Seq(
    "ivf.build", "ivf.probe", "ivf.multiprobe", "ivf.filtered", "ivf.sql", "ivf.bulk",
    "ivf.append", "ivf.fresh_read", "ivf.maintain",
    "pq.build", "pq.probe", "graph.build", "graph.probe", "knn.exact",
    "curation.pipeline", "text.exact_dedup", "text.sentence_dedup", "text.decon", "text.select", "text.pack",
    "incremental.artifacts", "incremental.classify", "stream.micro_batch")

  /** Printed by a traced run, on every workload (0 for ops it does not run). */
  val PerLayer: Seq[Metric] = Ops.flatMap { op =>
    Seq(Metric(s"$op.wall_s", "s", "lower")) ++
      (if (LazyOps.contains(op)) Seq(Metric(s"$op.call_s", "s", "lower")) else Nil) ++
      Seq(Metric(s"$op.gap_s", "s", "lower"), Metric(s"$op.jobs", "count", "lower"),
        Metric(s"$op.shuffle_mb", "MB", "lower")) ++
      (if (ReadOps.contains(op)) Seq(Metric(s"$op.rows_read", "count", "lower")) else Nil)
  } ++ Seq(
    Metric("stream.micro_batch.planning_s", "s", "lower"),
    Metric("stream.micro_batch.add_batch_s", "s", "lower"),
    Metric("spark.persistent_rdds_end", "count", "lower"),
    Metric("spark.storage_mb_end", "MB", "lower"),
    Metric("jvm.heap_retained_mb", "MB", "lower"),
    Metric("probe.recall_at_10", "ratio", "higher"),
    Metric("trace.latency_p50_ms", "ms", "lower"),
    Metric("trace.listener_ms", "ms", "lower"))

  val NamePattern = "[A-Za-z0-9_.-]+"
}
