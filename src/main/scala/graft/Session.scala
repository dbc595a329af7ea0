package graft

import org.apache.spark.sql.SparkSession

/** The one local session every entry point runs in: the task mains
  * (Main, TaskCli), the query harness (Bench, Verify) and the drills.
  * Callers add only what their own work needs on top
  * ([[Bench.queryPlanSettings]]).
  */
object Session {

  /** Worker threads: `SPARK_GRAFT_CPUS`, else this machine's cores —
    * more threads than cores only oversubscribe the box.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per thread, UTC, no UI. */
  def apply(appName: String): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // a loaded box (or a long GC pause on a busy executor) must not
      // tear the session down: the local heartbeat shares one JVM, so
      // an expiry is always a false positive here — seen once when a
      // concurrent DuckDB sweep starved the driver for >120s
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
