package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload ann --seed 1 --seconds 10 --trace 0 --work DIR [--spans FILE]
  * }}}
  *
  * Prints each metric as `name value unit better`, then, as the last line of
  * standard output, one JSON object with `correct`, `attempted`, `failed` and
  * `metrics`. Exits 1 when an output check failed.
  */
object Main {

  val SetupRepeats = 3
  /** Wall-clock cap on the timed phase, whatever `--seconds` says. */
  val MaxTimedWallS = 120.0

  /** Median; 0 for no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => (k.drop(2), v) }.toMap
    def need(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = Workloads(need("workload"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = need("work")
    val cpus = Runtime.getRuntime.availableProcessors.toString

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark.sparkContext, traced)
    val counts = new Counts
    val progress = new Progress
    if (traced) {
      spark.sparkContext.addSparkListener(counts)
      spark.streams.addListener(progress)
    }
    val ctx = new Ctx(spark, seed, work, tracer)
    val st = new Stats
    var crashed: Option[Throwable] = None

    def guarded(what: String)(f: => Unit): Unit =
      if (crashed.isEmpty) try f catch {
        case e: Throwable =>
          crashed = Some(e); st.attempted += 1; st.failed += 1
          st.problems += s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          e.printStackTrace()
      }

    workload.prepare(ctx)
    val setups = mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until SetupRepeats) guarded("setup") {
      val s = System.nanoTime(); workload.setup(ctx); setups += (System.nanoTime() - s) / 1e9
    }
    guarded("warmup")(workload.warmup(ctx, st))
    val progressFrom = progress.events.size
    val loopStart = System.nanoTime()
    var i = 0
    while (crashed.isEmpty && st.timedS < seconds && (System.nanoTime() - loopStart) / 1e9 < MaxTimedWallS) {
      guarded(s"cycle $i")(workload.cycle(ctx, i, st, timed = true))
      i += 1
    }

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    if (!traced) {
      metrics("latency_p50_ms") = median(st.latencies.toSeq) * 1e3
      metrics("throughput_per_s") = if (st.timedS > 0) st.items / st.timedS else 0.0
      metrics("setup_s") = sessionS + median(setups.toSeq)
    } else {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      metrics ++= Layers.of(tracer, counts, progress.synchronized(progress.events.drop(progressFrom).toSeq),
        spark, st)
      opts.get("spans").foreach(f => Layers.writeSpans(tracer, f))
    }
    spark.stop()

    System.err.println(s"[perfbench] ${need("workload")} seed=$seed cycles=$i timed=${"%.2f".format(st.timedS)}s " +
      s"samples=${st.latencies.size} setup=${setups.map("%.2f".format(_)).mkString(",")} session=${"%.2f".format(sessionS)}")
    System.err.println("[perfbench] calls: " + tracer.calls.map { case (n, t) => f"$n=$t%.2f" }.mkString(" "))
    st.problems.foreach(p => System.err.println(s"[perfbench] FAILED $p"))
    val catalogue = (if (traced) Metrics.PerLayer else Metrics.EndToEnd).map(m => (m.name, m)).toMap
    for ((k, v) <- metrics) println(s"$k $v ${catalogue(k).unit} ${catalogue(k).better}")
    val correct = st.failed == 0 && crashed.isEmpty && st.attempted > 0
    val body = metrics.map { case (k, v) => s""""$k": {"value": ${jsonNum(v)}, "unit": "${catalogue(k).unit}"}""" }
    println(s"""{"correct": $correct, "attempted": ${math.max(st.attempted, 1)}, "failed": ${st.failed}, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
