package perfbench

import org.apache.spark.sql.SparkSession

/** The replication-task benchmark: one workload per JVM.
  *
  * {{{
  * perfbench.Bench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   [--cores <n>] [--work <dir>]
  * }}}
  *
  * Builds the Spark session the way `graft.Main` does (timed three
  * times for `setup_s`), generates the workload's inputs from the seed,
  * then makes as many task calls as fit the `--seconds` window at the
  * workload's nominal call time and reports the fastest. Every call must pass the workload's oracle. The last line
  * on stdout is one JSON object with the end-to-end metrics (`--trace
  * 0`) or the per-layer metrics (`--trace 1`). Any failure exits
  * nonzero without that line.
  */
object Bench {

  val EndToEnd: Seq[(String, String)] = Seq(
    "rows_per_s" -> "rows/s", "setup_s" -> "s", "batch_ms_p50" -> "ms",
    "batch_ms_p90" -> "ms", "failed_frac" -> "ratio")

  /** Per-layer metrics: (name, unit). Every traced run reports all of
    * them; a layer a workload does not touch reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "config.snapshot_table_s" -> "s", "config.snapshot.readback_s" -> "s",
    "sources.scan_bytes" -> "bytes",
    "sources.pgoutput.decode_s" -> "s", "sources.pgoutput.events" -> "count",
    "sources.binlog.decode_s" -> "s", "sources.binlog.events" -> "count",
    "sources.resumer.writes" -> "count", "sources.resumer.write_s" -> "s",
    "transport.pump_s" -> "s", "transport.wire_bytes" -> "bytes",
    "transport.segments" -> "count",
    "operators.filter.admit_ratio" -> "ratio",
    "operators.compaction.merge_ratio" -> "ratio",
    "transform.lua_s" -> "s", "transform.lua.keep_ratio" -> "ratio",
    "streaming.cdc_task.batches" -> "count",
    "streaming.cdc_task.unattributed_s" -> "s",
    "streaming.microbatches" -> "count", "streaming.microbatch_s" -> "s",
    "sinks.parquet.bytes_written" -> "bytes", "sinks.parquet.files" -> "count",
    "sinks.stream_load.puts" -> "count", "sinks.stream_load.rows" -> "count",
    "sinks.stream_load.bytes" -> "bytes", "sinks.stream_load.put_s" -> "s",
    "sinks.stream_load.failed_puts" -> "count",
    "sinks.landed.files" -> "count", "sinks.landed.bytes" -> "bytes",
    "spark.jobs" -> "count", "spark.jobs_per_batch" -> "ratio",
    "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "jvm.heap_peak_mb" -> "MB",
    "trace.unattributed_s" -> "s", "trace.overhead_s" -> "s",
    "trace.calls" -> "count")

  val SessionBuilds = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, work: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad argument ${other.mkString(" ")}")
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "cores", "work")
    require(m.keySet.subsetOf(known),
      s"unknown options ${(m.keySet -- known).mkString(", ")}")
    Args(m.getOrElse("workload", sys.error("--workload is required")),
      m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1",
      m.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()),
      m.getOrElse("work", "perfbench-work"))
  }

  /** A session built as `graft.Main` builds one, plus function
    * registration and one job, so it is ready to run a task.
    */
  def session(cores: Int, work: String): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark.range(1).count()
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The result line. Only a run whose every call passed its oracle
    * gets here, and an operation that failed for good ends the run, so
    * `correct` is true and `failed` is 0.
    */
  def metricLine(attempted: Long,
      metrics: Seq[(String, String, Double)]): String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
    val ms = metrics.map { case (n, u, v) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": true, "attempted": $attempted, "failed": 0, """ +
      s""""metrics": {$ms}}"""
  }

  /** Typical seconds per task call, oracle included, on `local[4]`. A
    * run makes `seconds / nominal` calls, so the count depends on the
    * window only, never on how fast the machine is during the run: every
    * run of a workload then reports the same point of the JVM's warm-up,
    * which still speeds calls up over the first half-dozen calls.
    */
  val NominalCallSeconds: Map[String, Double] = Map(
    "snapshot_sbtest" -> 5.0, "cdc_pg_write_only" -> 8.0,
    "cdc_mysql_update_index" -> 11.0)

  /** Task calls in a run: at least two, three when traced. */
  def calls(a: Args): Int = math.max(if (a.trace) 3 else 2,
    (a.seconds / NominalCallSeconds(a.workload)).toInt)

  /** Run the workload's task calls. A traced run alternates untraced
    * and traced calls so that the same run yields the tracing overhead.
    */
  def measure(w: Workload, a: Args): Seq[(Iter, Boolean)] =
    (1 to calls(a)).map { i =>
      val traced = a.trace && i % 2 == 0
      val c0 = System.nanoTime()
      val it = w.run(i, traced)
      System.err.println(
        f"[perfbench] call $i took ${(System.nanoTime() - c0) / 1e9}%.1fs")
      it -> traced
    }

  def report(a: Args, setupS: Seq[Double], runs: Seq[(Iter, Boolean)])
      : String = {
    val iters = runs.map(_._1)
    val attempted = iters.map(_.attempted).sum
    val retried = iters.map(_.retried).sum
    val metrics =
      if (!a.trace) {
        // throughput of the fastest call: on a shared machine
        // interference only slows a call down, so the best of N is the
        // steady estimate; batches pooled over every call after the
        // first, which also pays the JVM's warm-up
        val best = iters.maxBy(x => x.rows / x.wallS)
        val batches = iters.drop(1).flatMap(_.batchMs)
        Seq(
          ("rows_per_s", "rows/s", best.rows / best.wallS),
          ("setup_s", "s", median(setupS)),
          ("batch_ms_p50", "ms", quantile(batches, 0.5)),
          ("batch_ms_p90", "ms", quantile(batches, 0.9)),
          ("failed_frac", "ratio", retried.toDouble / math.max(1L, attempted)))
      } else {
        // the first call warms the JVM and is compared with nothing
        val traced = runs.filter(_._2).map(_._1)
        val plain = runs.drop(1).filterNot(_._2).map(_._1)
        val overhead = median(traced.map(_.wallS)) - median(plain.map(_.wallS))
        PerLayer.map { case (n, u) =>
          val v = n match {
            case "trace.overhead_s" => overhead
            case "trace.calls" => traced.size.toDouble
            case _ => median(traced.flatMap(_.layers.get(n)))
          }
          (n, u, v)
        }
      }
    System.err.println(s"[perfbench] ${a.workload} calls=${iters.size} " +
      s"batch_samples=${iters.map(_.batchMs.size).sum} " +
      s"setup_s=${setupS.map(s => f"$s%.3f").mkString(",")} " +
      s"walls=${iters.map(x => f"${x.wallS}%.2f").mkString(",")}")
    metricLine(attempted, metrics)
  }

  def main(argv: Array[String]): Unit = {
    val code = try {
      val a = parse(argv)
      require(Workloads.Names.contains(a.workload),
        s"unknown workload ${a.workload}")
      Disk.mkdirs(a.work)
      // setup_s: the median of three builds of a ready session; the
      // last one stays up for the workload
      val builds = (1 to SessionBuilds).map { k =>
        val (s, t) = session(a.cores, a.work)
        if (k < SessionBuilds) {
          s.stop()
          SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
        }
        (s, t)
      }
      val spark = builds.last._1
      try {
        val w = Workloads(a.workload, spark, a.seed, a.work, a.cores)
        try {
          val p0 = System.nanoTime()
          w.prepare()
          System.err.println(f"[perfbench] inputs generated in " +
            f"${(System.nanoTime() - p0) / 1e9}%.1fs")
          val runs = measure(w, a)
          println(report(a, builds.map(_._2), runs))
        } finally w.close()
      } finally spark.stop()
      0
    } catch {
      case t: Throwable =>
        System.err.println(s"[perfbench] FAILED: $t")
        t.printStackTrace(System.err)
        1
    }
    System.out.flush()
    sys.exit(code)
  }
}
