package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.config.TaskConfig
import graft.infra.{Heartbeat, Monitoring}
import graft.model.Position
import graft.sinks.{Applier, StreamLoadHttp}
import graft.sources.{DbResumer, PgOutputWriter, SnapshotResumer}
import graft.streaming.CdcTask

/** The composed CDC task end-to-end: one INI config drives slot
  * lifecycle → pgoutput v2 decode → txn-aligned batching → compaction →
  * stream-load HTTP against a loopback warehouse, with positions in the
  * database-table resumer, heartbeats, and monitor counters — then a
  * restart that provably re-ships nothing (the reference's
  * pg→starrocks CDC story, docs/en/cdc/ + task_runner.rs:153-263).
  */
class CdcTaskSpec extends SparkSuite {

  private val mapper = new ObjectMapper()

  /** Loopback warehouse collecting stream-load PUT bodies. Labels
    * dedup the way StarRocks dedups them: a PUT under a label already
    * loaded is answered `Label Already Exists`/`FINISHED` and its rows
    * are dropped.
    */
  private final class Warehouse {
    /** Bodies of the loads the warehouse accepted. */
    val bodies = mutable.ArrayBuffer.empty[String]
    /** The label of every PUT, repeated ones included. */
    val labels = mutable.ArrayBuffer.empty[String]
    /** The `columns` header per accepted load ("" when absent) —
      * hard-delete batches carry `__op='delete'` there.
      */
    val ops = mutable.ArrayBuffer.empty[String]
    private val server =
      HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = try {
        val body = new String(ex.getRequestBody.readAllBytes(),
          StandardCharsets.UTF_8)
        val label =
          Option(ex.getRequestHeaders.getFirst("Label")).getOrElse("")
        val fresh = synchronized {
          val fresh = !labels.contains(label)
          labels += label
          if (fresh) {
            bodies += body
            ops += Option(ex.getRequestHeaders.getFirst("columns"))
              .getOrElse("")
          }
          fresh
        }
        val reply =
          (if (fresh) """{"Status":"Success","NumberLoadedRows":1}"""
          else """{"Status":"Label Already Exists",""" +
            """"ExistingJobStatus":"FINISHED"}""")
            .getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, reply.length.toLong)
        val os = ex.getResponseBody
        try os.write(reply) finally os.close()
      } finally ex.close()
    })
    server.setExecutor(null)
    server.start()
    def port: Int = server.getAddress.getPort
    def stop(): Unit = server.stop(0)

    /** All shipped rows as parsed JSON objects (array-body payloads). */
    def rows: Seq[Map[String, String]] = synchronized {
      bodies.toSeq.flatMap { b =>
        val node = mapper.readTree(b)
        (0 until node.size()).map { i =>
          val row = node.get(i)
          val out = mutable.LinkedHashMap.empty[String, String]
          row.fieldNames().forEachRemaining { f =>
            out(f) =
              if (row.get(f).isNull) null else row.get(f).asText()
          }
          out.toMap
        }
      }
    }
  }

  /** In-memory position store shared across "restarts" (same semantics
    * as DbResumerSpec.MemStore — the table survives; the JVM doesn't).
    */
  private final class MemStore extends DbResumer.SqlExec {
    val rows = mutable.LinkedHashMap[(String, String, String), String]()
    def execute(sql: String, binds: Seq[String]): Unit =
      if (sql.startsWith("INSERT INTO")) {
        val Seq(task, tpe, key, data) = binds
        rows.update((task, tpe, key), data)
      } else if (sql.startsWith("DELETE FROM")) {
        rows.filterInPlace { case ((t, _, _), _) => t != binds.head }: Unit
      }
    def query(sql: String, binds: Seq[String]): Seq[Seq[String]] =
      rows.collect { case ((t, tpe, key), data) if t == binds.head =>
        Seq(tpe, key, data)
      }.toSeq
  }

  private def dual(store: MemStore, dir: String): DbResumer.Dual = {
    val rec =
      new DbResumer.Recorder("cdc-task", store, DbResumer.MySqlDialect)
    rec.init(isInit = false)
    new DbResumer.Dual(new SnapshotResumer(dir), rec,
      () => new DbResumer.Recovery("cdc-task", store))
  }

  private def ini(sinkPort: Int): String =
    s"""[extractor]
       |extract_type=cdc
       |slot_name=graft_slot
       |streaming_txns=true
       |batch_size=3
       |id_cols=orders_cdc:id
       |
       |[filter]
       |do_dbs=public
       |do_events=insert,update,delete
       |
       |[router]
       |db_map=public:dw
       |
       |[sinker]
       |url=http://127.0.0.1:$sinkPort
       |""".stripMargin

  /** Framed pgoutput v2 capture: three plain txns + one streamed txn
    * over `public.orders_cdc(id, amount)`.
    */
  private def wal(): Array[Byte] = {
    val w = new PgOutputWriter()
    w.relation(101L, "public", "orders_cdc", 'd', Seq(
      graft.sources.PgOutput.RelColumn("id", keyPart = true, 20, -1),
      graft.sources.PgOutput.RelColumn("amount", keyPart = false,
        1700, -1)))
    // txn 1: two inserts
    w.begin(0x16000100L, 1000L, 701L)
    w.insert(101L, Array("1", "10.00"))
    w.insert(101L, Array("2", "20.00"))
    w.commit(0x16000100L, 0x16000200L, 1000L)
    // txn 2: update id=1
    w.begin(0x16000300L, 2000L, 702L)
    w.update(101L, None, None, Array("1", "11.50"))
    w.commit(0x16000300L, 0x16000400L, 2000L)
    // txn 3: delete id=2
    w.begin(0x16000500L, 3000L, 703L)
    w.delete(101L, 'K', Array("2", null))
    w.commit(0x16000500L, 0x16000600L, 3000L)
    // txn 4: v2 streamed in-progress txn inserting id=3
    w.streamStart(704L, firstSegment = true)
    w.insert(101L, Array("3", "30.00"))
    w.streamStop()
    w.streamCommit(704L, 0x16000700L, 0x16000800L, 4000L)
    w.bytes()
  }

  test("INI → slot plan → v2 decode → compaction → stream-load HTTP " +
      "with positions, heartbeats, metrics") {
    val wh = new Warehouse
    try {
      val task = TaskConfig.fromIni(ini(wh.port))
      assert(task.extractType == TaskConfig.CdcExtract)
      val store = new MemStore
      val tmp = java.nio.file.Files
        .createTempDirectory("cdc-task").toString
      val resumer = dual(store, tmp)
      val monitors = Monitoring.PipelineMonitors("cdc-task")
      val beats = mutable.ArrayBuffer.empty[Applier.StatementBatch]
      val hbSink = new Applier.StatementSink {
        def execute(b: Applier.StatementBatch): Unit = { beats += b; () }
      }
      val hb = new Heartbeat.Emitter("meta", "hb", 7L, hbSink,
        intervalMs = 0L, clockMs = { var t = 0L; () => { t += 1; t } })

      val port = wh.port
      val report = CdcTask.run(spark, task,
        CdcTask.PgAnswers(
          graft.sources.PgSlotLifecycle.SlotStatus(exists = false),
          pubExists = false, walStream = wal()),
        sinkFor = (db, tb, batchId, op) =>
          new StreamLoadHttp.HttpPayloadSink(
            StreamLoadHttp.Config("127.0.0.1", port, db, tb,
              "root", ""), batchId, op),
        resumer = resumer, heartbeat = Some(hb),
        monitors = monitors)

      // lifecycle: fresh server → create publication + slot, stream
      // from the consistent point with proto v2 streaming on
      assert(report.plan.createsSlot)
      assert(report.plan.statements.exists(_.startsWith(
        "CREATE PUBLICATION")))
      assert(report.plan.statements.exists(_.startsWith(
        "CREATE_REPLICATION_SLOT graft_slot")))
      assert(report.replicationSql.contains("\"proto_version\" '2'"))
      assert(report.startLsn == "0/0")

      // batching: 5 events, batch_size=3, txn-aligned → txns 1+2 fill
      // batch 0 (3 rows), txns 3+4 fill batch 1 (2 rows)
      assert(report.rowsShipped == 5L)
      assert(report.eventsSkipped == 0L)
      assert(report.batches.map(_.rows) == Seq(3L, 2L))
      assert(report.batches.head.commitLsn == "0/16000400")
      assert(report.batches.last.commitLsn == "0/16000800")
      assert(report.batches.forall(_.tables == Seq("dw.orders_cdc")))
      assert(report.endLsn == "0/16000800")

      // warehouse state: compaction collapsed txn1's insert(1)+txn2's
      // update(1) into one row at 11.50; delete(2) carries the sign
      val byId = wh.rows.groupBy(_("id"))
      assert(byId("1").map(_("amount")).distinct == Seq("11.50"))
      assert(byId("1")
        .forall(_(graft.sinks.StreamLoadSink.IsDeletedCol) == "0"))
      assert(byId("2").exists(
        _(graft.sinks.StreamLoadSink.IsDeletedCol) == "1"))
      assert(byId("3").map(_("amount")).distinct == Seq("30.00"))
      // routed db reached the stream-load label
      assert(wh.labels.forall(_.startsWith("graft-dw-orders_cdc-")))

      // positions: the table holds the last commit end under the
      // single-stream CDC key (recovery is a startup scan — reload
      // re-reads the table the way a restart would)
      resumer.reload()
      assert(resumer.resumeCdc == Some(Position.PgCdc("0/16000800")))
      // heartbeats: one beat per batch (interval 0), flushed = commit
      assert(beats.size == 2)
      assert(beats.last.rows.head.contains("0/16000800"))
      // monitors: extractor counted 5 in, sinker counted 5 out
      val lines = monitors.flushLines()
      assert(lines.exists(l => l.contains("extracted_records") &&
        l.contains("sum=5")))
      assert(lines.exists(l => l.contains("sinked_records")))
    } finally wh.stop()
  }

  test("[sinker] hard_delete ships deletes as __op='delete' PUTs and " +
      "drops the sign/version columns everywhere") {
    val wh = new Warehouse
    try {
      val task = TaskConfig.fromIni(
        ini(wh.port) + "hard_delete=true\n")
      assert(task.sink.hardDelete)
      val store = new MemStore
      val tmp = java.nio.file.Files
        .createTempDirectory("cdc-task-hd").toString
      val port = wh.port
      val r = CdcTask.run(spark, task,
        CdcTask.PgAnswers(
          graft.sources.PgSlotLifecycle.SlotStatus(exists = false),
          pubExists = false, walStream = wal()),
        sinkFor = (db, tb, batchId, op) =>
          new StreamLoadHttp.HttpPayloadSink(
            StreamLoadHttp.Config("127.0.0.1", port, db, tb,
              "root", "", hardDelete = true), batchId, op),
        resumer = dual(store, tmp))
      assert(r.rowsShipped == 5L)
      // every PUT carried its own label: batch 1 holds both an upsert
      // (id=3) and a delete (id=2) of the same table and partition
      val labels = wh.synchronized(wh.labels.toSeq)
      assert(labels.distinct == labels, s"colliding labels: $labels")
      assert(labels.exists(_.startsWith("graft-dw-orders_cdc-delete-1-")))
      // the delete of id=2 arrived under the hard-delete op header
      val deleteBodies = wh.synchronized {
        wh.ops.toSeq.zip(wh.bodies.toSeq)
          .filter(_._1.contains("__op='delete'")).map(_._2)
      }
      assert(deleteBodies.nonEmpty)
      assert(deleteBodies.exists(_.contains("\"id\":\"2\"")))
      // no sign/version columns anywhere in hard-delete mode
      assert(wh.synchronized(wh.bodies.toSeq).forall(b =>
        !b.contains(graft.sinks.StreamLoadSink.IsDeletedCol) &&
          !b.contains(graft.sinks.StreamLoadSink.VersionCol)))
      // upsert PUTs carry no op header
      assert(wh.synchronized(wh.ops.toSeq).exists(_.isEmpty))
    } finally wh.stop()
  }

  test("[sinker] batch_memory_mb bounds a chunk by payload bytes, " +
      "not just rows") {
    import graft.sinks.StreamLoadSink
    val wide = "x" * 300
    val df = spark.range(10).selectExpr("cast(id as string) as id",
      s"'$wide' as body").coalesce(1)
    val puts = mutable.ArrayBuffer.empty[Int]
    val sink = new StreamLoadSink.PayloadSink with Serializable {
      override def put(lines: Seq[String]): Unit =
        CdcTaskSpec.bytePuts.add(lines.map(_.length).sum)
    }
    CdcTaskSpec.bytePuts.clear()
    // rows cap would allow all 10 in one chunk; the ~700-byte cap
    // forces flushes every 2 rows (each line is ~320 bytes)
    StreamLoadSink.ship(df, () => sink, batchRows = 1000,
      batchBytes = 700L)
    val sizes = CdcTaskSpec.bytePuts.toArray.toSeq
      .map(_.asInstanceOf[Int])
    assert(sizes.size >= 5, s"expected byte-bounded chunks, got $sizes")
    assert(sizes.forall(_ <= 700),
      s"a chunk exceeded the byte cap: $sizes")
    val _ = puts
  }

  test("[pipeline] max_rps gates batch shipping through the token " +
      "bucket: over-budget batches wait, unlimited tasks never do") {
    val wh = new Warehouse
    try {
      val task = TaskConfig.fromIni(ini(wh.port) +
        "\n[pipeline]\nmax_rps=2\n")
      assert(task.maxRps.contains(2L))
      val store = new MemStore
      val port = wh.port
      // deterministic clock: every sleep advances virtual time and is
      // recorded — the capture has 5 rows at 2 rps, so the bucket
      // (capacity 2) must block at least once
      var now = 0L
      val sleeps = scala.collection.mutable.Buffer.empty[Long]
      val limiter = new graft.infra.RateLimiter(2L,
        nanoTime = () => now,
        sleepNanos = n => { sleeps += n; now += n })
      val rec = new graft.sources.DbResumer.Recorder("rps", store,
        graft.sources.DbResumer.MySqlDialect)
      rec.init(isInit = false)
      val tmp = java.nio.file.Files
        .createTempDirectory("cdc-task-rps").toString
      val resumer = new graft.sources.DbResumer.Dual(
        new graft.sources.SnapshotResumer(s"$tmp/pos"), rec,
        () => new graft.sources.DbResumer.Recovery("rps", store))
      val r = CdcTask.run(spark, task,
        CdcTask.PgAnswers(
          graft.sources.PgSlotLifecycle.SlotStatus(exists = false),
          pubExists = false, walStream = wal()),
        sinkFor = (db, tb, batchId, op) =>
          new StreamLoadHttp.HttpPayloadSink(
            StreamLoadHttp.Config("127.0.0.1", port, db, tb,
              "root", ""), batchId, op),
        resumer = resumer,
        limiter = Some(limiter))
      assert(r.rowsShipped == 5)
      assert(sleeps.nonEmpty) // the governor actually blocked
      // virtual waiting matches the budget: 5 rows at 2 rps from a
      // full 2-token bucket needs >= 1.5 virtual seconds of sleep
      assert(sleeps.sum >= 1500000000L)
    } finally wh.stop()
  }

  test("restart resumes from the recorded table position and re-ships " +
      "nothing") {
    val wh = new Warehouse
    try {
      val task = TaskConfig.fromIni(ini(wh.port))
      val store = new MemStore
      val tmp = java.nio.file.Files
        .createTempDirectory("cdc-task2").toString
      val port = wh.port
      def sinkFor(db: String, tb: String, batchId: Long,
          op: String) =
        new StreamLoadHttp.HttpPayloadSink(
          StreamLoadHttp.Config("127.0.0.1", port, db, tb,
            "root", ""), batchId, op)
      val bytes = wal()

      val r1 = CdcTask.run(spark, task,
        CdcTask.PgAnswers(
          graft.sources.PgSlotLifecycle.SlotStatus(exists = false),
          pubExists = false, walStream = bytes),
        sinkFor, dual(store, tmp))
      assert(r1.rowsShipped == 5L)
      val shippedOnce = wh.rows.size

      // "pod restart": fresh Dual over the SAME store; the slot now
      // exists and replays from its confirmed position — the whole
      // capture arrives again
      val r2 = CdcTask.run(spark, task,
        CdcTask.PgAnswers(
          graft.sources.PgSlotLifecycle.SlotStatus(exists = true,
            confirmedFlushLsn = "0/16000200"),
          pubExists = true, walStream = bytes),
        sinkFor, dual(store, tmp))

      // recovered table position (16/800) wins over confirmed_flush,
      // every already-shipped txn pre-seeks away, nothing re-ships
      assert(r2.startLsn == "0/16000800")
      assert(r2.plan.statements.isEmpty)
      assert(r2.eventsSkipped == 5L)
      assert(r2.rowsShipped == 0L)
      assert(r2.batches.isEmpty)
      assert(wh.rows.size == shippedOnce)
    } finally wh.stop()
  }

  test("ignore_cols drops the column from shipped CDC payloads but " +
      "never a key column") {
    val wh = new Warehouse
    try {
      val withIgnore = ini(wh.port).replace(
        "do_events=insert,update,delete",
        "do_events=insert,update,delete\n" +
          """ignore_cols=json:[{"db":"public","tb":"orders_cdc",""" +
          """"ignore_cols":["amount","id"]}]""")
      val task = TaskConfig.fromIni(withIgnore)
      val store = new MemStore
      val tmp = java.nio.file.Files
        .createTempDirectory("cdc-task3").toString
      val port = wh.port
      val r = CdcTask.run(spark, task,
        CdcTask.PgAnswers(
          graft.sources.PgSlotLifecycle.SlotStatus(exists = false),
          pubExists = false, walStream = wal()),
        (db, tb, batchId, op) => new StreamLoadHttp.HttpPayloadSink(
          StreamLoadHttp.Config("127.0.0.1", port, db, tb,
            "root", ""), batchId, op),
        dual(store, tmp))
      assert(r.rowsShipped == 5L)
      val rows = wh.rows
      assert(rows.nonEmpty)
      // amount dropped everywhere; id kept (it is the key) even though
      // the config listed it
      assert(rows.forall(!_.contains("amount")))
      assert(rows.forall(_.contains("id")))
    } finally wh.stop()
  }

  test("file-backed position store survives a process restart " +
      "(position.log form, recorder/to_file.rs)") {
    val tmp = java.nio.file.Files
      .createTempDirectory("cdc-filestore").toString
    val path = s"$tmp/positions.log"
    val store = new DbResumer.FileStore(path)
    val rec = new DbResumer.Recorder("t-file", store,
      DbResumer.MySqlDialect)
    rec.init(isInit = false)
    rec.recordPosition(Position.PgCdc("0/16000400"))
    rec.recordPosition(Position.PgCdc("0/16000800")) // upsert, same key

    // "new process": a fresh FileStore over the same path
    val rebooted = new DbResumer.Recovery("t-file",
      new DbResumer.FileStore(path))
    assert(rebooted.cdcResumePosition ==
      Some(Position.PgCdc("0/16000800")))
    // other tasks' rows are invisible
    assert(new DbResumer.Recovery("other",
      new DbResumer.FileStore(path)).cdcResumePosition.isEmpty)
  }

  test("[processor] lua_code_file: verbatim Lua rewrites and drops " +
      "CDC rows between filter and compaction") {
    val wh = new Warehouse
    try {
      val luaPath = java.nio.file.Files
        .createTempDirectory("cdc-lua").resolve("etl.lua")
      java.nio.file.Files.write(luaPath,
        """if (schema == "public" and tb == "orders_cdc" and row_type == "insert")
          |then
          |    after["amount"] = "99.99"
          |end
          |if (after.id ~= nil and after.id == 3) then
          |    row_type = ""
          |end""".stripMargin.getBytes("UTF-8"))
      val task = TaskConfig.fromIni(ini(wh.port)
        .replace("[filter]",
          s"[processor]\nlua_code_file=$luaPath\n\n[filter]"))
      assert(task.luaCodeFile.contains(luaPath.toString))
      val store = new MemStore
      val tmp = java.nio.file.Files
        .createTempDirectory("cdc-lua-task").toString
      val port = wh.port
      val report = CdcTask.run(spark, task,
        CdcTask.PgAnswers(
          graft.sources.PgSlotLifecycle.SlotStatus(exists = false),
          pubExists = false, walStream = wal()),
        sinkFor = (db, tb, batchId, op) =>
          new StreamLoadHttp.HttpPayloadSink(
            StreamLoadHttp.Config("127.0.0.1", port, db, tb,
              "root", ""), batchId, op),
        resumer = dual(store, tmp))
      // the streamed txn's lone insert (id=3) was dropped by the
      // script, so only 4 of 5 events ship, and the drop counts as
      // filtered in the report
      assert(report.rowsShipped == 4L)
      assert(report.eventsFiltered == 1L)
      val byId = wh.rows.groupBy(_("id"))
      // insert(1)=99.99 then update(1)=11.50 → compaction keeps 11.50
      assert(byId("1").map(_("amount")).distinct == Seq("11.50"))
      // insert(2) rewritten to 99.99 before its delete; the delete
      // still carries the sign
      assert(byId("2").exists(
        _(graft.sinks.StreamLoadSink.IsDeletedCol) == "1"))
      assert(!byId.contains("3"))
      // the position still covers the dropped txn's commit end
      assert(report.endLsn == "0/16000800")
    } finally wh.stop()
  }
}

/** Executor-visible accumulator for the byte-cap test (the sink's
  * put() runs inside foreachPartition on local executor threads).
  */
object CdcTaskSpec {
  val bytePuts = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
}
