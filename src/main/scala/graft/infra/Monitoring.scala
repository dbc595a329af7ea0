package graft.infra

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.collection.mutable

/** Pipeline observability — the reference's monitor module
  * (/root/reference/dt-common/src/monitor/): a typed counter taxonomy
  * (counter_type.rs), sliding-time-window counters with by-second
  * statistics (time_window_counter.rs:26-160), per-task metric
  * derivation (task_monitor.rs:312-648), Prometheus text exposition
  * with an HTTP endpoint (prometheus_metrics.rs:29-326), and the
  * role-tagged monitor bundle a running task counts into.
  *
  * Scale rationale: all state here is DRIVER-side and O(window ×
  * maxSubCount) bounded — executors never see these objects. At 100 TB
  * the counters ingest one observation per micro-batch / per JDBC
  * batch / per chunk (thousands, not billions), exactly like the
  * reference's per-drain counter pushes; the by-second statistics walk
  * is O(entries in window) with entries capped by `maxSubCount`.
  *
  * Clocks are injected (`clock: () => Long`, millis) so every
  * statistic is unit-testable against hand-computed vectors — the same
  * fake-clock discipline as [[RateLimiter]].
  */
object Monitoring {

  // ------------------------------------------------------ counter types
  /** Counter taxonomy mirroring counter_type.rs:4-49: `windowed`
    * counters aggregate over a sliding time window; gauges keep a
    * running (value, count). `aggregates` lists the statistic names
    * rendered by [[Monitor.flushLines]], in the reference's order
    * (counter_type.rs:105-142).
    */
  sealed abstract class CounterType(val label: String,
      val windowed: Boolean, val aggregates: Seq[String])

  private val BySec = Seq("sum", "avg_by_sec", "max_by_sec", "min_by_sec")
  private val ByCount = Seq("sum", "avg", "max", "min")

  case object BatchWriteFailures
    extends CounterType("batch_write_failures", true, BySec)
  case object SerialWrites extends CounterType("serial_writes", true, BySec)
  case object RecordCount extends CounterType("record_count", true, BySec)
  case object DataBytes extends CounterType("data_bytes", true, BySec)
  case object ExtractedRecords
    extends CounterType("extracted_records", true, BySec)
  case object ExtractedBytes
    extends CounterType("extracted_bytes", true, BySec)
  case object CheckerMissCount
    extends CounterType("checker_miss_count", true, BySec)
  case object CheckerDiffCount
    extends CounterType("checker_diff_count", true, BySec)
  case object RecordsPerQuery
    extends CounterType("records_per_query", true, ByCount)
  case object RtPerQuery extends CounterType("rt_per_query", true, ByCount)
  case object BufferSize extends CounterType("buffer_size", true, ByCount)
  case object RecordSize extends CounterType("record_size", true, Seq("avg"))
  /** graft extension (no counter_type.rs analogue): rows a curation
    * gate dropped — quality-gate and dup rejections in the streaming
    * curation topology report through this windowed counter.
    */
  case object FilteredRecords
    extends CounterType("filtered_records", true, BySec)

  /** graft extensions (no counter_type.rs analogue): completeness of
    * a landed CURRENT-STATE face — keys the fold lost track of
    * (tombstones hidden from the flat face) vs total keys in the
    * committed base, refreshed on every cadence merge. The ratio
    * tells an operator whether the honest drops (cross-key
    * movements, unmodelable commands, mid-migration windows) matter
    * for their workload BEFORE anyone trusts the face (round-15
    * verdict Missing #4).
    */
  case object FaceTombstoneKeys
    extends CounterType("face_tombstone_keys", false, Seq("latest"))
  case object FaceTotalKeys
    extends CounterType("face_total_keys", false, Seq("latest"))

  case object PlanRecordTotal
    extends CounterType("plan_records", false, Seq("latest"))
  case object QueuedRecordCurrent
    extends CounterType("queued_records", false, Seq("latest"))
  case object QueuedByteCurrent
    extends CounterType("queued_bytes", false, Seq("latest"))
  case object CheckerPending
    extends CounterType("checker_pending", false, Seq("latest"))
  case object SinkedRecordTotal
    extends CounterType("sinked_records", false, Seq("latest"))
  case object SinkedByteTotal
    extends CounterType("sinked_bytes", false, Seq("latest"))
  case object DdlRecordTotal
    extends CounterType("ddl_records", false, Seq("latest"))
  case object TimestampCounter
    extends CounterType("timestamp", false, Seq("latest"))

  // ------------------------------------------------ time-window counter
  /** Statistics over one window scan — time_window_counter.rs:8-18.
    * All divisions are integral (the reference is u64 throughout).
    */
  final case class WindowStats(sum: Long, max: Long, min: Long,
      avgByCount: Long, maxBySec: Long, minBySec: Long, avgBySec: Long,
      count: Long)

  object WindowStats {
    val empty: WindowStats = WindowStats(0, 0, 0, 0, 0, 0, 0, 0)
  }

  /** Sliding-window counter — time_window_counter.rs:26-160. Each
    * `add` evicts entries older than `windowSecs`, then caps the
    * sub-counter count at `maxSubCount` (oldest dropped first), then
    * appends. `statistics` walks the live entries once, grouping
    * consecutive same-second entries into per-second sums for the
    * by-sec aggregates (the reference groups by elapsed whole seconds;
    * entries are appended in time order so consecutive grouping is the
    * same partition).
    */
  final class TimeWindowCounter(val windowSecs: Long,
      val maxSubCount: Int, clock: () => Long = System.currentTimeMillis) {

    private final case class Entry(sec: Long, value: Long, count: Long)
    private val entries = mutable.ArrayDeque.empty[Entry]

    private def nowSec: Long = clock() / 1000L

    def add(value: Long, count: Long = 1L): this.type = synchronized {
      val now = nowSec
      while (entries.nonEmpty && now - entries.head.sec >= windowSecs)
        entries.removeHead()
      while (entries.size >= maxSubCount) entries.removeHead()
      entries.append(Entry(now, value, count))
      this
    }

    def statistics(): WindowStats = statisticsInWindow(windowSecs)

    def statisticsInWindow(inWindowSecs: Long): WindowStats =
      synchronized {
        if (entries.isEmpty) return WindowStats.empty
        val now = nowSec
        var sum = 0L; var count = 0L
        var max = 0L; var min = Long.MaxValue
        // per-second sums: consecutive entries sharing an elapsed
        // second pool into one sum (LimitedQueue(1000) in the
        // reference: oldest second dropped beyond 1000)
        val secSums = mutable.ArrayDeque.empty[Long]
        var currentSec = Long.MinValue
        var sumInCurrentSec = 0L
        var any = false
        entries.foreach { e =>
          val elapsed = now - e.sec
          if (elapsed < inWindowSecs) {
            sum += e.value; count += e.count
            max = math.max(max, e.value); min = math.min(min, e.value)
            if (!any) { any = true; currentSec = elapsed
              sumInCurrentSec = e.value }
            else if (elapsed == currentSec) sumInCurrentSec += e.value
            else {
              if (secSums.size >= 1000) secSums.removeHead()
              secSums.append(sumInCurrentSec)
              currentSec = elapsed; sumInCurrentSec = e.value
            }
          }
        }
        if (any) {
          if (secSums.size >= 1000) secSums.removeHead()
          secSums.append(sumInCurrentSec)
        }
        var maxBySec = 0L; var minBySec = Long.MaxValue
        secSums.foreach { s =>
          maxBySec = math.max(maxBySec, s); minBySec = math.min(minBySec, s)
        }
        val avgByCount = if (count > 0) sum / count else 0L
        val avgBySec =
          if (count > 0 && secSums.nonEmpty) secSums.sum / secSums.size
          else 0L
        WindowStats(sum, max, if (min == Long.MaxValue) 0L else min,
          avgByCount, maxBySec,
          if (minBySec == Long.MaxValue) 0L else minBySec, avgBySec, count)
      }

    def hasLiveData: Boolean = hasLiveDataInWindow(windowSecs)

    def hasLiveDataInWindow(inWindowSecs: Long): Boolean = synchronized {
      val now = nowSec
      entries.exists(e => now - e.sec < inWindowSecs)
    }
  }

  /** No-window gauge — counter.rs:13-53. */
  final class GaugeCounter {
    private var _value = 0L
    private var _count = 0L
    def add(value: Long, count: Long = 1L): this.type = synchronized {
      _value += value; _count += count; this
    }
    def set(value: Long, count: Long = 1L): this.type = synchronized {
      _value = value; _count = count; this
    }
    def value: Long = synchronized(_value)
    def count: Long = synchronized(_count)
    def avgByCount: Long = synchronized(
      if (_count > 0) _value / _count else 0L)
  }

  // --------------------------------------------------------- monitor
  /** A named bag of counters for one pipeline role — monitor.rs:15-147.
    * `addCounter`/`setCounter` route on the counter's window type the
    * way the reference's add_counter_internal does; `flushLines`
    * renders the reference's per-flush log lines
    * (`name | description | counter | agg=value`).
    */
  final class Monitor(val name: String, val description: String,
      val windowSecs: Long = 10L, val maxSubCount: Int = 1000,
      clock: () => Long = System.currentTimeMillis) {

    private val windowed =
      mutable.LinkedHashMap.empty[CounterType, TimeWindowCounter]
    private val gauges = mutable.LinkedHashMap.empty[CounterType,
      GaugeCounter]

    def addCounter(ct: CounterType, value: Long): this.type =
      addBatchCounter(ct, value, 1L)

    def addBatchCounter(ct: CounterType, value: Long, count: Long)
        : this.type = {
      if (count == 0) return this
      if (ct.windowed) synchronized {
        windowed.getOrElseUpdate(ct,
          new TimeWindowCounter(windowSecs, maxSubCount, clock))
      }.add(value, count)
      else synchronized {
        gauges.getOrElseUpdate(ct, new GaugeCounter)
      }.add(value, count)
      this
    }

    /** Overwrite a gauge (no-op on windowed types, like set_counter). */
    def setCounter(ct: CounterType, value: Long): this.type = {
      if (!ct.windowed) synchronized {
        gauges.getOrElseUpdate(ct, new GaugeCounter)
      }.set(value)
      this
    }

    def windowStats(ct: CounterType): Option[WindowStats] =
      synchronized(windowed.get(ct)).map(_.statistics())

    def gaugeValue(ct: CounterType): Option[Long] =
      synchronized(gauges.get(ct)).map(_.value)

    /** Render the reference's flush log lines (monitor.rs:98-147). */
    def flushLines(): Seq[String] = {
      val (ws, gs) = synchronized((windowed.toSeq, gauges.toSeq))
      val winLines = ws.map { case (ct, counter) =>
        val s = counter.statistics()
        val aggs = ct.aggregates.map { a =>
          val v = a match {
            case "sum" => s.sum
            case "avg_by_sec" => s.avgBySec
            case "max_by_sec" => s.maxBySec
            case "min_by_sec" => s.minBySec
            case "avg" => s.avgByCount
            case "max" => s.max
            case "min" => s.min
            case "count" => s.count
          }
          s"$a=$v"
        }
        s"$name | $description | ${ct.label} | ${aggs.mkString(" | ")}"
      }
      val gaugeLines = gs.map { case (ct, g) =>
        s"$name | $description | ${ct.label} | latest=${g.value}"
      }
      winLines ++ gaugeLines
    }
  }

  /** A fresh monitor for the live landers' face-completeness gauges
    * ([[FaceTombstoneKeys]] / [[FaceTotalKeys]]) — the live lanes'
    * default, so a caller that does not read it costs only an empty
    * monitor.
    */
  def landedFace(): Monitor =
    new Monitor("landed_face", "landed current-state face")

  // ------------------------------------------------------ task metrics
  /** Derive the per-task metric map from role-tagged monitors —
    * task_monitor.rs:312-648. Roles are "extractor" / "pipeline" /
    * "sinker" / "checker"; several monitors may share a role (one per
    * parallel lane), merged with the reference's Min/Max/Avg handlers
    * (min of mins, max of maxes, pairwise-halved avg). Rate metrics
    * come from by-second statistics; totals from gauges (summed across
    * lanes); progress = finished*100/total clamped to 100.
    */
  object TaskMetrics {

    final val Names: Seq[(String, String)] = Seq(
      "extractor_rps_max" -> "the max records per second of extractor",
      "extractor_rps_min" -> "the min records per second of extractor",
      "extractor_rps_avg" -> "the average records per second of extractor",
      "extractor_bps_max" -> "the max bytes per second of extractor",
      "extractor_bps_min" -> "the min bytes per second of extractor",
      "extractor_bps_avg" -> "the average bytes per second of extractor",
      "extractor_pushed_rps_max" ->
        "the max pushed records per second of extractor",
      "extractor_pushed_rps_min" ->
        "the min pushed records per second of extractor",
      "extractor_pushed_rps_avg" ->
        "the average pushed records per second of extractor",
      "extractor_pushed_bps_max" ->
        "the max pushed bytes per second of extractor",
      "extractor_pushed_bps_min" ->
        "the min pushed bytes per second of extractor",
      "extractor_pushed_bps_avg" ->
        "the average pushed bytes per second of extractor",
      "pipeline_queue_size" -> "the records size of pipeline queue",
      "pipeline_queue_bytes" -> "the bytes in pipeline queue",
      "sinker_rt_max" ->
        "the max response time of sinker, the unit is millisecond",
      "sinker_rt_min" ->
        "the min response time of sinker, the unit is millisecond",
      "sinker_rt_avg" ->
        "the average response time of sinker, the unit is millisecond",
      "sinker_rps_max" -> "the max records per second of sinker",
      "sinker_rps_min" -> "the min records per second of sinker",
      "sinker_rps_avg" -> "the average records per second of sinker",
      "sinker_bps_max" -> "the max bytes per second of sinker",
      "sinker_bps_min" -> "the min bytes per second of sinker",
      "sinker_bps_avg" -> "the average bytes per second of sinker",
      "sinker_sinked_records" -> "the number of records sinked",
      "sinker_sinked_bytes" -> "the bytes of records sinked",
      "checker_miss_total" -> "the total miss count detected by checker",
      "checker_diff_total" -> "the total diff count detected by checker",
      "checker_queue_size" ->
        "the unresolved rows currently tracked by checker",
      "checker_rps_min" ->
        "the min checked records per second of checker",
      "checker_rps_max" ->
        "the max checked records per second of checker",
      "checker_rps_avg" ->
        "the average checked records per second of checker")

    final val SnapshotNames: Seq[(String, String)] = Seq(
      "extractor_plan_records" ->
        "the records estimated by extractor plan",
      "progress" -> "the progress of task")

    final val CdcNames: Seq[(String, String)] = Seq(
      "timestamp" -> "the timestamp of task",
      "sinker_ddl_count" -> "the count of DDL operations")

    def calc(monitors: Seq[(String, Monitor)]): Map[String, Long] = {
      val out = mutable.LinkedHashMap.empty[String, Long]
      def merge(key: String, v: Long, how: String): Unit =
        out.get(key) match {
          case None => out(key) = v
          case Some(prev) => out(key) = how match {
            case "min" => math.min(prev, v)
            case "max" => math.max(prev, v)
            case "avg" => (prev + v) / 2
            case "add" => prev + v
            case "latest" => v
          }
        }
      def rate(m: Monitor, ct: CounterType, prefix: String): Unit =
        m.windowStats(ct).foreach { s =>
          merge(s"${prefix}_min", s.minBySec, "min")
          merge(s"${prefix}_max", s.maxBySec, "max")
          merge(s"${prefix}_avg", s.avgBySec, "avg")
        }
      monitors.foreach {
        case ("extractor", m) =>
          rate(m, ExtractedRecords, "extractor_rps")
          rate(m, ExtractedBytes, "extractor_bps")
          rate(m, RecordCount, "extractor_pushed_rps")
          rate(m, DataBytes, "extractor_pushed_bps")
          m.gaugeValue(PlanRecordTotal).foreach(
            merge("extractor_plan_records", _, "add"))
        case ("pipeline", m) =>
          m.gaugeValue(QueuedRecordCurrent).foreach(
            merge("pipeline_queue_size", _, "latest"))
          m.gaugeValue(QueuedByteCurrent).foreach(
            merge("pipeline_queue_bytes", _, "latest"))
          m.gaugeValue(TimestampCounter).foreach(
            merge("timestamp", _, "max"))
        case ("sinker", m) =>
          rate(m, RtPerQuery, "sinker_rt")
          rate(m, RecordCount, "sinker_rps")
          rate(m, DataBytes, "sinker_bps")
          m.gaugeValue(SinkedRecordTotal).foreach(
            merge("sinker_sinked_records", _, "add"))
          m.gaugeValue(SinkedByteTotal).foreach(
            merge("sinker_sinked_bytes", _, "add"))
          m.gaugeValue(DdlRecordTotal).foreach(
            merge("sinker_ddl_count", _, "add"))
        case ("checker", m) =>
          rate(m, RecordCount, "checker_rps")
          m.windowStats(CheckerMissCount).foreach(s =>
            merge("checker_miss_total", s.sum, "add"))
          m.windowStats(CheckerDiffCount).foreach(s =>
            merge("checker_diff_total", s.sum, "add"))
          m.gaugeValue(CheckerPending).foreach(
            merge("checker_queue_size", _, "latest"))
        case (other, _) =>
          throw new IllegalArgumentException(s"unknown role: $other")
      }
      out.toMap
    }

    /** Snapshot progress — task_monitor.rs:636-643. */
    def progress(total: Long, finished: Long): Option[Long] =
      Option.when(total > 0)(math.min(finished * 100 / total, 100L))
  }

  // ----------------------------------------------- prometheus registry
  /** Gauge registry + text-format 0.0.4 exposition —
    * prometheus_metrics.rs:29-271 and the prometheus crate's
    * TextEncoder. Registration order is exposition order; const labels
    * are rendered on every sample, sorted by label name.
    */
  final class PrometheusRegistry(constLabels: Map[String, String] =
      Map.empty) {
    private val order = mutable.ArrayBuffer.empty[String]
    private val help = mutable.HashMap.empty[String, String]
    private val values = mutable.HashMap.empty[String, Double]

    def register(name: String, description: String): this.type =
      synchronized {
        require(!help.contains(name), s"duplicate metric: $name")
        order += name; help(name) = description; this
      }

    def set(name: String, value: Double): this.type = synchronized {
      if (help.contains(name)) values(name) = value
      this
    }

    def setAll(metrics: Map[String, Long]): this.type = {
      metrics.foreach { case (k, v) => set(k, v.toDouble) }
      this
    }

    /** Register the reference's standard gauge set
      * (prometheus_metrics.rs:42-261); `taskKind` adds the
      * snapshot-only (plan records, progress) or cdc-only (timestamp,
      * ddl count) gauges.
      */
    def registerStandard(taskKind: Option[String] = None): this.type = {
      TaskMetrics.Names.foreach { case (n, d) => register(n, d) }
      taskKind match {
        case Some("snapshot") =>
          TaskMetrics.SnapshotNames.foreach { case (n, d) =>
            register(n, d) }
        case Some("cdc") =>
          TaskMetrics.CdcNames.foreach { case (n, d) => register(n, d) }
        case _ => ()
      }
      this
    }

    private def escapeHelp(s: String): String =
      s.replace("\\", "\\\\").replace("\n", "\\n")
    private def escapeLabel(s: String): String =
      escapeHelp(s).replace("\"", "\\\"")

    private val labelSuffix: String =
      if (constLabels.isEmpty) ""
      else constLabels.toSeq.sortBy(_._1).map { case (k, v) =>
        s"""$k="${escapeLabel(v)}"""" }.mkString("{", ",", "}")

    private def renderValue(v: Double): String =
      if (v.isWhole && math.abs(v) < 1e15) v.toLong.toString
      else v.toString

    def exposition: String = synchronized {
      val sb = new StringBuilder
      order.foreach { name =>
        sb.append("# HELP ").append(name).append(' ')
          .append(escapeHelp(help(name))).append('\n')
        sb.append("# TYPE ").append(name).append(" gauge\n")
        sb.append(name).append(labelSuffix).append(' ')
          .append(renderValue(values.getOrElse(name, 0.0))).append('\n')
      }
      sb.result()
    }
  }

  // --------------------------------------------------- loopback server
  /** `/metrics` + `/healthz` over the JDK's built-in HTTP server —
    * prometheus_metrics.rs:273-326 without the actix dependency. Binds
    * loopback by default (zero egress); port 0 picks an ephemeral port
    * (`boundPort` reports it) so tests never collide.
    */
  final class MetricsServer(exposition: () => String,
      host: String = "127.0.0.1", port: Int = 0) {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

    private val server =
      HttpServer.create(new InetSocketAddress(host, port), 0)

    private def respond(ex: HttpExchange, code: Int, contentType: String,
        body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", contentType)
      ex.sendResponseHeaders(code, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }

    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        try ex.getRequestURI.getPath match {
          case "/metrics" =>
            respond(ex, 200,
              "text/plain; charset=utf-8; version=0.0.4", exposition())
          case "/healthz" =>
            respond(ex, 200, "application/json",
              """{"status":"ok","service":"graft"}""")
          case _ =>
            respond(ex, 404, "application/json",
              """{"error":"Not Found",""" +
                """"message":"The requested endpoint does not exist"}""")
        } finally ex.close()
    })
    server.setExecutor(null) // serve on the dispatch thread
    server.start()

    def boundPort: Int = server.getAddress.getPort
    def stop(): Unit = server.stop(0)
  }

  // ---------------------------------------------------- task monitors
  /** Role-tagged monitor bundle for one running task. */
  final case class PipelineMonitors(extractor: Monitor, pipeline: Monitor,
      sinker: Monitor, checker: Monitor) {
    def roles: Seq[(String, Monitor)] = Seq(
      "extractor" -> extractor, "pipeline" -> pipeline,
      "sinker" -> sinker, "checker" -> checker)
    def flushLines(): Seq[String] = roles.flatMap(_._2.flushLines())
  }

  object PipelineMonitors {
    def apply(taskId: String, windowSecs: Long = 10L,
        maxSubCount: Int = 1000,
        clock: () => Long = System.currentTimeMillis): PipelineMonitors =
      PipelineMonitors(
        new Monitor(taskId, "extractor", windowSecs, maxSubCount, clock),
        new Monitor(taskId, "pipeline", windowSecs, maxSubCount, clock),
        new Monitor(taskId, "sinker", windowSecs, maxSubCount, clock),
        new Monitor(taskId, "checker", windowSecs, maxSubCount, clock))
  }
}
