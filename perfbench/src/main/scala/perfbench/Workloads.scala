package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.config.{LiveCdc, TaskConfig, TaskRunner}
import graft.sinks.StreamLoadHttp
import graft.sources.{DbResumer, MysqlBinlog, PgOutput, PgSlotLifecycle,
  SnapshotResumer}
import graft.streaming.CdcTask

/** One timed task call and what it reported. `rows` is the input size
  * (source rows or change events); `attempted`/`retried` count the
  * retryable operations of the call and those that failed first.
  */
final case class Iter(wallS: Double, rows: Long, batchMs: Seq[Double],
    attempted: Long, retried: Long, layers: Map[String, Double])

/** A workload: inputs generated once, then any number of task calls
  * on them, each checked by the workload's oracle before it counts.
  */
trait Workload {
  def prepare(): Unit
  def run(i: Int, traced: Boolean): Iter
  def close(): Unit = ()
}

final class OracleMismatch(msg: String) extends RuntimeException(msg)

object Workloads {
  val Names = Seq("snapshot_sbtest", "cdc_pg_write_only",
    "cdc_mysql_update_index")

  def apply(name: String, spark: SparkSession, seed: Long, work: String,
      cores: Int): Workload = name match {
    case "snapshot_sbtest" => new Snapshot(spark, seed, work, cores)
    case "cdc_pg_write_only" => new PgWriteOnly(spark, seed, work, cores)
    case "cdc_mysql_update_index" =>
      new MysqlUpdateIndex(spark, seed, work)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${Names.mkString(", ")})")
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Spark-side per-layer numbers of one traced call. */
  private def sparkLayers(j: Probe.Jobs, gcMs: Long, batches: Int)
      : Map[String, Double] = Map(
    "spark.jobs" -> j.jobs.toDouble,
    "spark.jobs_per_batch" -> j.jobs.toDouble / math.max(1, batches),
    "spark.stages" -> j.stages.toDouble,
    "spark.tasks" -> j.tasks.toDouble,
    "spark.job_s" -> j.jobMs / 1e3,
    "spark.executor_cpu_s" -> j.cpuNs / 1e9,
    "spark.gc_s" -> gcMs / 1e3,
    "spark.shuffle_write_bytes" -> j.shuffleWrite.toDouble,
    "spark.spill_bytes" -> j.spill.toDouble,
    "jvm.heap_peak_mb" -> Probe.Jvm.peakHeapMb)

  // ---------------------------------------------------------------- snapshot

  /** `snapshot_sbtest`: ten sysbench tables, chunked parquet, each
    * through `TaskRunner.snapshotTable` with a `db_map` router into a
    * parquet sink (write, then the read-back count).
    */
  final class Snapshot(spark: SparkSession, seed: Long, work: String,
      cores: Int, rows: Long = 25000L, chunks: Int = 4) extends Workload {
    private val src = s"$work/source"
    private var expected = Map.empty[String, (Long, Long)]
    private val tables = (1 to Gen.Tables).map(Gen.table)

    private def task(sink: String): TaskConfig.Task = TaskConfig.fromIni(
      s"""[extractor]
         |db_type=mysql
         |extract_type=snapshot
         |url=$src
         |parallel_size=$cores
         |
         |[router]
         |db_map=sbtest:sbtest_replica
         |
         |[sinker]
         |url=$sink
         |""".stripMargin)

    def prepare(): Unit = {
      Gen.writeSnapshot(spark, src, seed, rows, chunks)
      expected = Oracles.digests(spark.read.parquet(tables.map(t =>
          s"$src/$t.parquet"): _*)
        .withColumn("tb", regexp_extract(input_file_name(),
          "(sbtest[0-9]+)\\.parquet/", 1)))
    }

    def run(i: Int, traced: Boolean): Iter = {
      val sink = s"$work/sink"
      Disk.delete(sink)
      // planted transient fault: the first unit of every call meets a
      // sink volume that is not writable yet (a plain file where its
      // directory should be) and is retried, as a task retry would
      val blocked = s"$work/unmounted"
      Disk.write(blocked, Array.emptyByteArray)
      val good = task(sink)
      val bad = task(s"$blocked/sink")
      val countNs = new java.util.concurrent.atomic.AtomicLong(0L)
      val readback = new QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            ns: Long): Unit = if (f == "count") countNs.addAndGet(ns): Unit
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      if (traced) spark.listenerManager.register(readback)
      var retried = 0L
      var attempted = 0L
      val unitMs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val (wall, jobs, gcMs) = try Probe.traced(spark, traced) {
        val t0 = System.nanoTime()
        (1 to Gen.Tables).foreach { t =>
          val u0 = System.nanoTime()
          if (t == 1) {
            attempted += 1
            try {
              TaskRunner.snapshotTable(spark, bad, "sbtest", Gen.table(t))
              throw new IllegalStateException(
                "the planted sink fault did not fail")
            } catch { case _: java.io.IOException |
                _: org.apache.spark.SparkException => retried += 1 }
          }
          attempted += 1
          TaskRunner.snapshotTable(spark, good, "sbtest", Gen.table(t))
          unitMs += (System.nanoTime() - u0) / 1e6
        }
        secs(t0)
      } finally if (traced) {
        Probe.settle(spark)
        spark.listenerManager.unregister(readback)
      }
      Disk.delete(blocked)
      Oracles.checkSnapshot(expected,
        Oracles.sinkDigests(spark, sink, tables))
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          val files = Disk.files(sink).filter(_._1.endsWith(".parquet"))
          sparkLayers(jobs, gcMs, Gen.Tables) ++ Map(
            "config.snapshot_table_s" -> unitMs.sum / 1e3,
            "config.snapshot.readback_s" -> countNs.get / 1e9,
            "sources.scan_bytes" -> Disk.files(src).map(_._2).sum.toDouble,
            "sinks.parquet.bytes_written" -> jobs.outputBytes.toDouble,
            "sinks.parquet.files" -> files.size.toDouble,
            "trace.unattributed_s" -> (wall - jobs.jobMs / 1e3))
        }
      Iter(wall, rows * Gen.Tables, unitMs.toSeq, attempted, retried, layers)
    }
  }

  // ------------------------------------------------------- pg write-only

  val PgLua: String =
    """if tb == "sbtest1" and row_type ~= "delete" then
      |    after["c"] = string.sub(after["c"], 1, 60)
      |end
      |if tb == "sbtest2" and row_type == "delete" then
      |    row_type = ""
      |end
      |""".stripMargin

  /** The admission rules the pg task is configured with, replayed by
    * the oracle: tables 9 and 10 are filtered out, Lua trims `c` on
    * table 1 and drops deletes on table 2, `public` routes to `dw`.
    */
  val PgIgnored: Set[Int] = Set(9, 10)

  /** `cdc_pg_write_only`: sysbench write-only transactions as one
    * pgoutput capture, run through `CdcTask.run` with a filter, a
    * router, a Lua processor, a file position store and the
    * stream-load HTTP sink into a loopback warehouse.
    */
  final class PgWriteOnly(spark: SparkSession, seed: Long, work: String,
      cores: Int, rows: Int = 10000, txns: Int = 10000,
      batchSize: Int = 8000, failEvery: Int = 20) extends Workload {
    private var capture: Gen.PgCapture = _
    private val warehouse = new Warehouse(failEvery)
    private val luaPath = s"$work/etl.lua"

    private def task: TaskConfig.Task = TaskConfig.fromIni(
      s"""[extractor]
         |db_type=pg
         |extract_type=cdc
         |slot_name=perfbench_slot
         |parallel_size=$cores
         |
         |[filter]
         |do_dbs=${Gen.PgNamespace}
         |ignore_tbs=${PgIgnored.toSeq.sorted.map(t =>
        s"${Gen.PgNamespace}.${Gen.table(t)}").mkString(",")}
         |do_events=insert,update,delete
         |
         |[router]
         |db_map=${Gen.PgNamespace}:dw
         |
         |[processor]
         |lua_code_file=$luaPath
         |
         |[sinker]
         |url=http://127.0.0.1:${warehouse.port}
         |batch_size=$batchSize
         |""".stripMargin)

    def ops: Seq[Gen.Op] = capture.ops
    /** What the warehouse accepted during the last call. */
    def lastPuts: Seq[Warehouse.Put] = warehouse.puts

    def prepare(): Unit = {
      Disk.write(luaPath, PgLua.getBytes("UTF-8"))
      capture = Gen.pgWriteOnly(seed, rows, txns)
    }

    def run(i: Int, traced: Boolean): Iter = {
      val dir = s"$work/positions"
      Disk.delete(dir)
      val t = task
      val store = new Probe.TimedStore(
        new DbResumer.FileStore(s"$dir/position.log"))
      val rec = new DbResumer.Recorder("perfbench-pg", store,
        DbResumer.MySqlDialect)
      rec.init(isInit = false)
      val resumer = new DbResumer.Dual(new SnapshotResumer(s"$dir/d"),
        rec, () => new DbResumer.Recovery("perfbench-pg", store))
      warehouse.reset(); Probe.Sink.reset(); store.reset()
      val port = warehouse.port
      val ((report, wall), jobs, gcMs) = Probe.traced(spark, traced) {
        val t0 = System.nanoTime()
        val r = CdcTask.run(spark, t,
          CdcTask.PgAnswers(PgSlotLifecycle.SlotStatus(exists = false),
            pubExists = false, walStream = capture.bytes),
          sinkFor = (db, tb, batchId, op) => new Probe.TimedSink(
            new StreamLoadHttp.HttpPayloadSink(
              StreamLoadHttp.Config("127.0.0.1", port, db, tb),
              batchId, op)),
          resumer = resumer)
        (r, secs(t0))
      }
      val puts = warehouse.puts
      val shipped = Oracles.checkPg(capture.ops, puts)
      val attempted = warehouse.attempts.get
      val retried = warehouse.refused.get
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          // decode, filter and Lua re-run on the same capture, outside
          // the timed call, to split what the task does in one pass
          val d0 = System.nanoTime()
          val events = PgOutput.decodeFile(capture.bytes)
          val decodeS = secs(d0)
          val admitted = events.filter(e => t.filter.allowTable(e.schema,
            e.tb) && t.filter.allowEvent(e.rowType))
          val lua = graft.transform.LuaScript.rowTransform(PgLua)
          val l0 = System.nanoTime()
          val kept = admitted.count(e => lua(e).isDefined)
          val luaS = secs(l0)
          val resumerS = store.writeNs / 1e9
          val unattributed = wall - jobs.jobMs / 1e3 - resumerS
          sparkLayers(jobs, gcMs, report.batches.size) ++ Map(
            "sources.pgoutput.decode_s" -> decodeS,
            "sources.pgoutput.events" -> events.size.toDouble,
            "sources.resumer.writes" -> store.writeEnds.size.toDouble,
            "sources.resumer.write_s" -> resumerS,
            "operators.filter.admit_ratio" ->
              admitted.size.toDouble / math.max(1, events.size),
            "operators.compaction.merge_ratio" ->
              shipped.toDouble / math.max(1L, report.rowsShipped),
            "transform.lua_s" -> luaS,
            "transform.lua.keep_ratio" ->
              kept.toDouble / math.max(1, admitted.size),
            "streaming.cdc_task.batches" -> report.batches.size.toDouble,
            "streaming.cdc_task.unattributed_s" -> unattributed,
            "sinks.stream_load.puts" -> Probe.Sink.puts.get.toDouble,
            "sinks.stream_load.rows" -> Probe.Sink.rows.get.toDouble,
            "sinks.stream_load.bytes" -> Probe.Sink.bytes.get.toDouble,
            "sinks.stream_load.put_s" -> Probe.Sink.putNs.get / 1e9,
            "sinks.stream_load.failed_puts" -> retried.toDouble,
            "trace.unattributed_s" -> unattributed)
        }
      Iter(wall, capture.ops.size.toLong, store.intervalsMs, attempted,
        retried, layers)
    }

    override def close(): Unit = warehouse.stop()
  }

  // --------------------------------------------------- mysql update_index

  /** `cdc_mysql_update_index`: sysbench update_index transactions as a
    * binlog dump, served by [[MysqlServerWire]] to the live `mysql://`
    * lane (`LiveCdc.runMysql`: handshake → pump → capture segments →
    * ChangelogSource micro-batch → compaction → landed tables). The
    * first dial of every call is refused after the greeting; the lane
    * fails before any progress and the call is retried, as the task
    * supervisor retries a drain.
    */
  final class MysqlUpdateIndex(spark: SparkSession, seed: Long,
      work: String, rows: Int = 100000, txns: Int = 48000,
      txnsPerFile: Int = 6000) extends Workload {
    private var binlog: Gen.Binlog = _
    private var server: MysqlServerWire.Server = _
    private val batches = new Probe.MicroBatches
    private val ids =
      (1 to Gen.Tables).map(t => s"${Gen.table(t)}:id").mkString(",")

    private def task(sink: String): TaskConfig.Task = TaskConfig.fromIni(
      s"""[extractor]
         |db_type=mysql
         |extract_type=cdc
         |url=mysql://repl:pw@127.0.0.1:3306
         |binlog_filename=binlog.000001
         |id_cols=$ids
         |
         |[filter]
         |do_dbs=${Gen.MysqlSchema}
         |
         |[router]
         |db_map=${Gen.MysqlSchema}:sbtest_replica
         |
         |[sinker]
         |url=$sink
         |""".stripMargin)

    def ops: Seq[Gen.Op] = binlog.ops
    /** Where the last call landed its tables. */
    def sink: String = s"$work/lane/sink"

    def prepare(): Unit = {
      binlog = Gen.mysqlUpdateIndex(seed, rows, txns, txnsPerFile)
      server = new MysqlServerWire.Server(binlog)
      spark.streams.addListener(batches)
    }

    def run(i: Int, traced: Boolean): Iter = {
      val dir = s"$work/lane"
      Disk.delete(dir)
      val taskDir = s"$dir/task"
      val t = task(sink)
      val wires = scala.collection.mutable.ArrayBuffer.empty[MysqlServerWire]
      val dial = () => {
        val w = new MysqlServerWire(server, refuse = wires.isEmpty)
        wires += w
        w: graft.transport.Wire
      }
      Probe.settle(spark); batches.drain()
      server.wireBytes.set(0L)
      var retried = 0L
      val (wall, jobs, gcMs) = Probe.traced(spark, traced) {
        val t0 = System.nanoTime()
        try LiveCdc.runMysql(spark, t, taskDir, Some(dial))
        catch { case _: java.io.IOException => retried += 1 }
        if (retried > 0) LiveCdc.runMysql(spark, t, taskDir, Some(dial))
        secs(t0)
      }
      Probe.settle(spark)
      val microMs = batches.drain()
      require(retried == 1 && wires.size == 2 && wires.forall(_.closed),
        s"expected one refused and one served session, got ${wires.size}")
      Oracles.checkMysql(spark, binlog.ops, sink)
      val capture = s"$taskDir/capture"
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          val segs = Disk.list(capture).filter(_.endsWith(".log"))
          val d0 = System.nanoTime()
          val events = segs.map { n =>
            MysqlBinlog.toChangeEvents(
              MysqlBinlog.readFile(Disk.read(s"$capture/$n")), n).size
          }.sum
          val decodeS = secs(d0)
          val landed = Disk.files(sink).filter(_._1.endsWith(".parquet"))
          val pumpS = wires.map(_.pumpSeconds).sum
          sparkLayers(jobs, gcMs, microMs.size) ++ Map(
            "sources.binlog.decode_s" -> decodeS,
            "sources.binlog.events" -> events.toDouble,
            "transport.pump_s" -> pumpS,
            "transport.wire_bytes" -> server.wireBytes.get.toDouble,
            "transport.segments" -> segs.size.toDouble,
            "operators.filter.admit_ratio" -> 1.0,
            "operators.compaction.merge_ratio" ->
              jobs.streamingRecordsWritten.toDouble / math.max(1, events),
            "streaming.microbatches" -> microMs.size.toDouble,
            "streaming.microbatch_s" -> microMs.sum / 1e3,
            "sinks.landed.files" -> landed.size.toDouble,
            "sinks.landed.bytes" -> landed.map(_._2).sum.toDouble,
            "trace.unattributed_s" -> (wall - jobs.jobMs / 1e3 - pumpS))
        }
      Iter(wall, binlog.events, microMs, wires.size.toLong, retried, layers)
    }

    override def close(): Unit = spark.streams.removeListener(batches)
  }
}
