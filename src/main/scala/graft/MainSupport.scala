package graft

import org.apache.spark.sql.SparkSession

/** Shared plumbing for the mains that start a local session (Verify,
  * Bench, GenScale): ONE definition of the local session bootstrap and the
  * wall-clock helper, so a config change (shuffle partitions, UI flag, log
  * level) cannot silently drift across entry points.
  */
object MainSupport {

  /** Worker-thread count: matches the target environment (local[32],
    * shuffle partitions = cpu count — not 200); override via
    * SPARK_GRAFT_CPUS.
    */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** The mains' common local session, plus any per-main extras
    * (e.g. Bench's AQE flag, GenScale's nanos handling).
    */
  def localSession(extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Wall-clock seconds of a forced action. */
  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
}
