package graft

import graft.config.TaskManager
import graft.sources.MysqlBinlogWriter
import graft.transport.FakeWire

/** The live mysql:// CDC task lane end to end — a task whose
  * `[extractor] url` names a server runs dial→pump→capture→stream→
  * compact→land through the task manager, with the dial seam fed by a
  * scripted FakeWire (the only piece a real deployment swaps: its
  * server answers the same bytes).
  */
class LiveCdcSpec extends SparkSuite {

  private val scramble = Array.tabulate[Byte](20)(_.toByte)

  private def packet(seq: Int, payload: Array[Byte]): Array[Byte] =
    Array[Byte]((payload.length & 0xff).toByte,
      ((payload.length >> 8) & 0xff).toByte,
      ((payload.length >> 16) & 0xff).toByte, seq.toByte) ++ payload

  private def handshakePayload: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(10)
    out.write("8.0.36-fake".getBytes("UTF-8")); out.write(0)
    out.write(Array[Byte](7, 0, 0, 0))
    out.write(scramble.take(8)); out.write(0)
    out.write(Array[Byte](0xff.toByte, 0xff.toByte))
    out.write(45)
    out.write(Array[Byte](2, 0))
    out.write(Array[Byte](0x08, 0x00))
    out.write(21)
    out.write(new Array[Byte](10))
    out.write(scramble.drop(8)); out.write(0)
    out.write("mysql_native_password".getBytes("UTF-8")); out.write(0)
    out.toByteArray
  }

  private def eventsOf(binlog: Array[Byte]): Seq[Array[Byte]] = {
    var p = 4
    val out = Seq.newBuilder[Array[Byte]]
    while (p < binlog.length) {
      val len = (binlog(p + 9) & 0xff) | ((binlog(p + 10) & 0xff) << 8) |
        ((binlog(p + 11) & 0xff) << 16) | ((binlog(p + 12) & 0xff) << 24)
      out += binlog.slice(p, p + len)
      p += len
    }
    out.result()
  }

  /** A pgoutput protocol message. */
  private def msg(tag: Char, body: Array[Byte]): Array[Byte] =
    graft.transport.PgWire.message(tag, body)

  /** A simple-query reply: row description, data rows, completion. */
  private def queryReply(cols: Seq[String],
      rows: Seq[Seq[String]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    if (cols.nonEmpty) {
      val t = new java.io.ByteArrayOutputStream()
      t.write((cols.size >> 8) & 0xff); t.write(cols.size & 0xff)
      cols.foreach { c =>
        t.write(c.getBytes("UTF-8")); t.write(0)
        t.write(new Array[Byte](18))
      }
      out.write(msg('T', t.toByteArray))
    }
    rows.foreach { r =>
      val d = new java.io.ByteArrayOutputStream()
      d.write((r.size >> 8) & 0xff); d.write(r.size & 0xff)
      r.foreach { v =>
        val b = v.getBytes("UTF-8")
        d.write((b.length >> 24) & 0xff); d.write((b.length >> 16) & 0xff)
        d.write((b.length >> 8) & 0xff); d.write(b.length & 0xff)
        d.write(b)
      }
      out.write(msg('D', d.toByteArray))
    }
    out.write(msg('C', "SELECT".getBytes("UTF-8") :+ 0.toByte))
    out.write(msg('Z', Array[Byte]('I'.toByte)))
    out.toByteArray
  }

  /** One `app.t` insert transaction as binlog events. */
  private def rowsSession(rows: Seq[Array[String]],
      txn: Long): Seq[Array[Byte]] = {
    val w = new MysqlBinlogWriter(serverId = 1L)
    w.fde()
    w.begin("app")
    w.tableMap(11L, "app", "t", Seq(8, 15), Seq(0, 40),
      nullable = Seq(false, true), colNames = Seq("id", "v"))
    w.writeRows(11L, rows)
    w.xid(txn)
    eventsOf(w.bytes())
  }

  /** A scripted binlog dump: handshake, session setup, `events`, then
    * the dump's EOF packet (`eof`) or a dropped wire.
    */
  private def dumpWire(events: Seq[Array[Byte]],
      eof: Boolean = true): FakeWire = {
    val wire = new FakeWire
    wire.serve(packet(0, handshakePayload))
    wire.serve(packet(2, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
    wire.serve(packet(1, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
    wire.serve(packet(1, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
    events.zipWithIndex.foreach { case (e, i) =>
      wire.serve(packet(i + 1, Array[Byte](0x00) ++ e))
    }
    if (eof) wire.serve(packet(events.size + 1,
      Array[Byte](0xfe.toByte, 0, 0, 2, 0)))
    wire
  }

  test("a mysql:// cdc task pumps the dump into capture segments and " +
      "lands routed compacted end states under the sink") {
    // the scripted server: inserts, an update, a delete, one ignored
    // table (filter drops it)
    val w = new MysqlBinlogWriter(serverId = 1L)
    w.fde()
    w.begin("app")
    w.tableMap(11L, "app", "t", Seq(8, 15), Seq(0, 40),
      nullable = Seq(false, true), colNames = Seq("id", "v"))
    w.writeRows(11L, Seq(Array("1", "a"), Array("2", "b"),
      Array("3", "c")))
    w.xid(1L)
    w.begin("app")
    w.tableMap(12L, "other", "noise", Seq(8), Seq(0),
      nullable = Seq(false), colNames = Seq("id"))
    w.writeRows(12L, Seq(Array("9")))
    w.xid(2L)
    w.begin("app")
    w.tableMap(11L, "app", "t", Seq(8, 15), Seq(0, 40),
      nullable = Seq(false, true), colNames = Seq("id", "v"))
    w.updateRows(11L, Seq((Array("1", "a"), Array("1", "a2"))))
    w.deleteRows(11L, Seq(Array("2", "b")))
    w.xid(3L)
    val events = eventsOf(w.bytes())

    val wire = new FakeWire
    wire.serve(packet(0, handshakePayload))
    wire.serve(packet(2, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
    wire.serve(packet(1, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
    wire.serve(packet(1, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
    events.zipWithIndex.foreach { case (e, i) =>
      wire.serve(packet(i + 1, Array[Byte](0x00) ++ e))
    }
    wire.serve(packet(events.size + 1,
      Array[Byte](0xfe.toByte, 0, 0, 2, 0)))

    val state = java.nio.file.Files
      .createTempDirectory("live-cdc-state").toString
    val sink = java.nio.file.Files
      .createTempDirectory("live-cdc-sink").toString
    TaskManager.create(state, "live1",
      s"""[extractor]
         |db_type=mysql
         |extract_type=cdc
         |url=mysql://repl:pw@127.0.0.1:3306
         |binlog_filename=binlog.000001
         |id_cols=t:id
         |
         |[filter]
         |do_tbs=app.*
         |
         |[router]
         |db_map=app:app_replica
         |
         |[sinker]
         |url=$sink
         |""".stripMargin)
    val meta = TaskManager.start(spark, state, "live1",
      liveDial = Some(() => wire))
    assert(meta.status == "finished")
    val logs = TaskManager.logs(state, "live1")
    assert(logs.exists(l => l.contains("live_cdc") &&
      l.contains("position=binlog.000001")))

    // routed landing: app -> app_replica; compacted end state
    // (k1=a2, k3=c; k2 deleted); the filtered table never lands
    val landed = spark.read.parquet(s"$sink/app_replica.t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(landed.keySet == Set("1", "3"))
    assert(landed("1").contains("a2"))
    assert(!new java.io.File(s"$sink/other.noise").exists())
    assert(!new java.io.File(s"$sink/app_replica.noise").exists())

    // the capture segments persist under the task dir for replay
    assert(graft.sources.ChangelogSource
      .segments(s"$state/live1/capture").nonEmpty)
  }

  test("a postgres:// cdc task runs the slot lifecycle, captures " +
      "pgoutput frames, and lands compacted end states") {
    import graft.transport.PgWire._

    val w = new graft.sources.PgOutputWriter()
    w.begin(0x16000100L, 0L, 1L)
    w.relation(16385L, "app", "t", 'd', Seq(
      graft.sources.PgOutput.RelColumn("id", keyPart = true, 20, -1),
      graft.sources.PgOutput.RelColumn("v", false, 25, -1)))
    w.insert(16385L, Array("1", "a"))
    w.insert(16385L, Array("2", "b"))
    w.update(16385L, None, None, Array("1", "a2"))
    w.delete(16385L, 'K', Array("2", null))
    w.commit(0x16000100L, 0x16000200L, 0L)

    val wire = new FakeWire
    wire.serve(msg('R', Array[Byte](0, 0, 0, 0))) // AuthenticationOk
    wire.serve(msg('Z', Array[Byte]('I'.toByte)))
    wire.serve(queryReply(Seq("pubname"), Seq(Seq("p"))))
    wire.serve(queryReply(Seq("slot_name", "confirmed_flush_lsn"),
      Seq(Seq("live_slot", "0/16000000"))))
    wire.serve(queryReply(Nil, Nil)) // SET float digits
    wire.serve(queryReply(Nil, Nil)) // SET time zone
    wire.serve(msg('W', Array[Byte](0, 0, 0))) // CopyBoth
    wire.serve(w.bytes())
    wire.serve(msg('c', Array.emptyByteArray)) // CopyDone

    val state = java.nio.file.Files
      .createTempDirectory("live-pg-state").toString
    val sink = java.nio.file.Files
      .createTempDirectory("live-pg-sink").toString
    TaskManager.create(state, "livepg",
      s"""[extractor]
         |db_type=pg
         |extract_type=cdc
         |url=postgres://app:pw@127.0.0.1:5432/orders
         |slot_name=live_slot
         |id_cols=t:id
         |
         |[filter]
         |do_tbs=app.*
         |
         |[sinker]
         |url=$sink
         |""".stripMargin)
    val meta = TaskManager.start(spark, state, "livepg",
      liveDial = Some(() => wire))
    assert(meta.status == "finished")
    val sentStr = new String(wire.sentBytes,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(sentStr.contains(
      "START_REPLICATION SLOT live_slot LOGICAL 0/16000000"))
    val landed = spark.read.parquet(s"$sink/app.t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(landed.keySet == Set("1"))
    assert(landed("1").contains("a2"))
    assert(graft.sources.ChangelogSource
      .segments(s"$state/livepg/capture").nonEmpty)
  }

  test("resident mode: the pump reconnects mid-stream while the " +
      "continuous query consumes; the stop flag winds both down") {
    import graft.config.{LiveCdc, TaskConfig}
    def session(rows: Seq[Array[String]], startTxn: Long)
        : Seq[Array[Byte]] = {
      val w = new MysqlBinlogWriter(serverId = 1L)
      w.fde()
      w.begin("app")
      w.tableMap(11L, "app", "t", Seq(8, 15), Seq(0, 40),
        nullable = Seq(false, true), colNames = Seq("id", "v"))
      w.writeRows(11L, rows)
      w.xid(startTxn)
      eventsOf(w.bytes())
    }
    def serve(wire: FakeWire, events: Seq[Array[Byte]],
        eof: Boolean): Unit = {
      wire.serve(packet(0, handshakePayload))
      wire.serve(packet(2, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
      wire.serve(packet(1, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
      wire.serve(packet(1, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
      events.zipWithIndex.foreach { case (e, i) =>
        wire.serve(packet(i + 1, Array[Byte](0x00) ++ e))
      }
      if (eof) wire.serve(packet(events.size + 1,
        Array[Byte](0xfe.toByte, 0, 0, 2, 0)))
    }
    // session 1 drops mid-stream (no EOF); session 2 serves more rows
    // and then ALSO drops — the pump keeps reconnecting until stopped
    val wire1 = new FakeWire
    serve(wire1, session(Seq(Array("1", "a"), Array("2", "b")), 1L),
      eof = false)
    val wire2 = new FakeWire
    serve(wire2, session(Seq(Array("3", "c")), 2L), eof = false)
    val extraWires = scala.collection.mutable.Queue[FakeWire]()
    val wires = scala.collection.mutable.Queue[FakeWire](wire1, wire2)
    def nextWire(): graft.transport.Wire = synchronized {
      if (wires.nonEmpty) wires.dequeue()
      else { // post-script dials: empty servers (EOF at once)
        val w = new FakeWire
        extraWires += w
        w
      }
    }

    val state = java.nio.file.Files
      .createTempDirectory("live-res-state").toString
    val sink = java.nio.file.Files
      .createTempDirectory("live-res-sink").toString
    val taskDir = java.nio.file.Files
      .createTempDirectory("live-res-task").toString
    val task = TaskConfig.fromIni(
      s"""[extractor]
         |db_type=mysql
         |extract_type=cdc
         |url=mysql://repl:pw@127.0.0.1:3306
         |binlog_filename=binlog.000001
         |id_cols=t:id
         |
         |[filter]
         |do_tbs=app.*
         |
         |[sinker]
         |url=$sink
         |""".stripMargin)
    val _ = state

    val stopFlag = new java.util.concurrent.atomic.AtomicBoolean(false)
    // stop once both sessions' rows are visible at the sink
    val stopper = new Thread(() => {
      val deadline = System.currentTimeMillis() + 60000
      var done = false
      while (!done && System.currentTimeMillis() < deadline) {
        Thread.sleep(250)
        // mid-stream state lives in the LSM layout (deltas + base);
        // the flat parquet face refreshes at finalize
        val landed = try {
          graft.sinks.LandedTable.read(spark, s"$sink/app.t").count()
        } catch { case _: Exception => 0L }
        if (landed >= 3) { stopFlag.set(true); done = true }
      }
      stopFlag.set(true)
    }, "resident-stopper")
    stopper.start()

    val report = LiveCdc.run(spark, task, taskDir,
      stop = Some(() => stopFlag.get()),
      dialOverride = Some(() => nextWire()), triggerMs = 100L)
    stopper.join()

    // both sessions' rows landed despite the mid-stream drop
    val landed = spark.read.parquet(s"$sink/app.t")
      .collect().map(_.getString(0)).toSet
    assert(landed == Set("1", "2", "3"))
    assert(report.events >= 6) // 2 sessions x (fde+begin+map+rows+xid)
    assert(report.segments >= 1)
  }

  test("capture_retention: a resident run sweeps committed segments " +
      "(the capture dir stays bounded) and a restart AFTER the purge " +
      "resumes cleanly with no loss and no duplicates") {
    import graft.config.{LiveCdc, TaskConfig}
    def session(rows: Seq[Array[String]], txn: Long, eof: Boolean)
        : FakeWire = {
      val w = new MysqlBinlogWriter(serverId = 1L)
      w.fde()
      w.begin("app")
      w.tableMap(11L, "app", "t", Seq(8, 15), Seq(0, 40),
        nullable = Seq(false, true), colNames = Seq("id", "v"))
      w.writeRows(11L, rows)
      w.xid(txn)
      val events = eventsOf(w.bytes())
      val wire = new FakeWire
      wire.serve(packet(0, handshakePayload))
      wire.serve(packet(2, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
      wire.serve(packet(1, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
      wire.serve(packet(1, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
      events.zipWithIndex.foreach { case (e, i) =>
        wire.serve(packet(i + 1, Array[Byte](0x00) ++ e))
      }
      if (eof) wire.serve(packet(events.size + 1,
        Array[Byte](0xfe.toByte, 0, 0, 2, 0)))
      wire
    }
    // three sessions, each dropping mid-stream → three capture
    // segments over the residency
    val wires = scala.collection.mutable.Queue[FakeWire](
      session(Seq(Array("1", "a"), Array("2", "b")), 1L, eof = false),
      session(Seq(Array("3", "c")), 2L, eof = false),
      session(Seq(Array("4", "d")), 3L, eof = false))
    def nextWire(): graft.transport.Wire = synchronized {
      if (wires.nonEmpty) wires.dequeue() else new FakeWire
    }
    val sink = java.nio.file.Files
      .createTempDirectory("ret-live-sink").toString
    val taskDir = java.nio.file.Files
      .createTempDirectory("ret-live-task").toString
    val captureDir = s"$taskDir/capture"
    val task = TaskConfig.fromIni(
      s"""[extractor]
         |db_type=mysql
         |extract_type=cdc
         |url=mysql://repl:pw@127.0.0.1:3306
         |binlog_filename=binlog.000001
         |id_cols=t:id
         |capture_retention=true
         |
         |[filter]
         |do_tbs=app.*
         |
         |[sinker]
         |url=$sink
         |""".stripMargin)
    assert(task.source.captureRetention)

    val stopFlag = new java.util.concurrent.atomic.AtomicBoolean(false)
    val stopper = new Thread(() => {
      val deadline = System.currentTimeMillis() + 60000
      var done = false
      while (!done && System.currentTimeMillis() < deadline) {
        Thread.sleep(250)
        val landed = try {
          graft.sinks.LandedTable.read(spark, s"$sink/app.t").count()
        } catch { case _: Exception => 0L }
        if (landed >= 4) { stopFlag.set(true); done = true }
      }
      stopFlag.set(true)
    }, "retention-stopper")
    stopper.start()
    LiveCdc.run(spark, task, taskDir,
      stop = Some(() => stopFlag.get()),
      dialOverride = Some(() => nextWire()), triggerMs = 100L)
    stopper.join()

    // three segments were captured over the residency, but after the
    // wind-down sweep only the monotonicity anchor remains
    val kept = graft.sources.ChangelogSource.segments(captureDir)
    assert(kept == Seq("binlog.000003.log"),
      s"retention left $kept")
    val landed1 = spark.read.parquet(s"$sink/app.t")
      .collect().map(_.getString(0)).toSet
    assert(landed1 == Set("1", "2", "3", "4"))

    // restart AFTER the purge (drain-once): numbering continues past
    // the anchor, the checkpoint resumes past the purged names, and
    // the new session's rows land exactly once
    val report2 = LiveCdc.runMysql(spark, task, taskDir,
      dialOverride = Some(() =>
        session(Seq(Array("5", "e")), 4L, eof = true)))
    assert(report2.events > 0)
    val rows = spark.read.parquet(s"$sink/app.t")
      .collect().map(r => r.getString(0) -> r.getString(1))
    assert(rows.map(_._1).toSet == Set("1", "2", "3", "4", "5"))
    assert(rows.length == 5, s"duplicate landing: ${rows.toSeq}")
  }

  test("single-pass landing: 20 tables in one trigger run a CONSTANT " +
      "number of stream jobs (not one per table) and land correct " +
      "per-table end states") {
    import graft.config.{LiveCdc, TaskConfig}
    val nTables = 20
    val w = new MysqlBinlogWriter(serverId = 1L)
    w.fde()
    w.begin("app")
    (0 until nTables).foreach { i =>
      val tid = 20L + i
      w.tableMap(tid, "app", f"t$i%02d", Seq(8, 15), Seq(0, 40),
        nullable = Seq(false, true), colNames = Seq("id", "v"))
      w.writeRows(tid, Seq(Array("1", s"a$i"), Array("2", s"b$i")))
    }
    w.xid(1L)
    val events = eventsOf(w.bytes())
    val wire = new FakeWire
    wire.serve(packet(0, handshakePayload))
    wire.serve(packet(2, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
    wire.serve(packet(1, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
    wire.serve(packet(1, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
    events.zipWithIndex.foreach { case (e, i) =>
      wire.serve(packet(i + 1, Array[Byte](0x00) ++ e))
    }
    wire.serve(packet(events.size + 1,
      Array[Byte](0xfe.toByte, 0, 0, 2, 0)))

    val sink = java.nio.file.Files
      .createTempDirectory("onepass-sink").toString
    val taskDir = java.nio.file.Files
      .createTempDirectory("onepass-task").toString
    val idCols = (0 until nTables)
      .map(i => f"t$i%02d:id").mkString(",")
    val task = TaskConfig.fromIni(
      s"""[extractor]
         |db_type=mysql
         |extract_type=cdc
         |url=mysql://repl:pw@127.0.0.1:3306
         |binlog_filename=binlog.000001
         |id_cols=$idCols
         |
         |[filter]
         |do_tbs=app.*
         |
         |[sinker]
         |url=$sink
         |""".stripMargin)

    // count jobs carrying the streaming queryId local property — the
    // per-trigger landing work, excluding the drain epilogue's counts
    val streamJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties
            .getProperty("sql.streaming.queryId") != null) {
          streamJobs.incrementAndGet(); ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      LiveCdc.runMysql(spark, task, taskDir,
        dialOverride = Some(() => wire))
      // listener delivery is async: wait for the count to go stable
      var last = -1
      while (streamJobs.get() != last) {
        last = streamJobs.get(); Thread.sleep(300)
      }
    } finally spark.sparkContext.removeSparkListener(listener)

    assert(streamJobs.get() > 0)
    assert(streamJobs.get() <= 10,
      s"landing fanned out ${streamJobs.get()} stream jobs for " +
        s"$nTables tables — the single-pass write regressed")
    // every table landed its own rows, routed and compacted
    (0 until nTables).foreach { i =>
      val rows = spark.read.parquet(f"$sink/app.t$i%02d")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(rows.keySet == Set("1", "2"), f"table t$i%02d: $rows")
      assert(rows("1").contains(s"a$i") && rows("2").contains(s"b$i"),
        f"table t$i%02d landed $rows")
    }
    // the landing staging dir was swept
    assert(graft.infra.Fs.listNames(sink)
      .forall(!_.startsWith("_landing-")))
  }

  test("a redis cluster task ([extractor] is_cluster=true) runs the " +
      "RESIDENT per-master fan-out and lands both shards' snapshots " +
      "and tails with per-node persisted positions") {
    import graft.config.{LiveCdc, TaskConfig}
    def ascii(x: String): Array[Byte] = x.getBytes("ascii")
    def resp(args: String*): Array[Byte] =
      graft.transport.RedisReplicationPump.cmd(args: _*)
    val idA = "a" * 40
    val idB = "b" * 40
    val topology =
      s"""$idA 10.0.0.1:6379@16379 master - 0 0 1 connected 0-8191
         |$idB 10.0.0.2:6379@16379 master - 0 0 2 connected 8192-16383
         |""".stripMargin
    def seedWire(): graft.transport.Wire = {
      val w = new FakeWire
      w.serve(ascii(s"$$${topology.getBytes("UTF-8").length}\r\n"))
      w.serve(ascii(topology))
      w.serve(ascii("\r\n"))
      w
    }
    def rdbOf(key: String, value: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("REDIS0011".getBytes("ascii"))
      out.write(0xfe); out.write(0)
      out.write(0)
      def str(x: String): Unit = {
        out.write(x.length & 0x3f); out.write(x.getBytes("utf-8"))
      }
      str(key); str(value)
      out.write(0xff)
      out.toByteArray
    }
    def nodeWire(replId: String, rdbKey: String,
        tailKey: String): FakeWire = {
      val w = new FakeWire
      w.serve(ascii("+PONG\r\n"))
      w.serve(ascii("+OK\r\n"))
      w.serve(ascii(s"+FULLRESYNC $replId 100\r\n"))
      val rdb = rdbOf(rdbKey, s"$rdbKey-v")
      w.serve(ascii(s"$$${rdb.length}\r\n"))
      w.serve(rdb)
      w.serve(resp("SET", tailKey, "t"))
      w
    }
    val wires = Map(
      "10.0.0.1:6379" -> scala.collection.mutable.Queue(
        nodeWire(idA, "bar", "bar2")),
      "10.0.0.2:6379" -> scala.collection.mutable.Queue(
        nodeWire(idB, "foo", "foo2")))
    def dialNode(addr: String): graft.transport.Wire =
      wires.synchronized {
        val q = wires(addr)
        if (q.nonEmpty) q.dequeue() else new FakeWire
      }

    val sink = java.nio.file.Files
      .createTempDirectory("cluster-lane-sink").toString
    val taskDir = java.nio.file.Files
      .createTempDirectory("cluster-lane-task").toString
    val task = TaskConfig.fromIni(
      s"""[extractor]
         |db_type=redis
         |extract_type=cdc
         |url=redis://127.0.0.1:6379
         |is_cluster=true
         |resident=true
         |
         |[sinker]
         |url=$sink
         |""".stripMargin)
    assert(task.source.isCluster)

    val stopFlag = new java.util.concurrent.atomic.AtomicBoolean(false)
    val stopper = new Thread(() => {
      val deadline = System.currentTimeMillis() + 60000
      var done = false
      while (!done && System.currentTimeMillis() < deadline) {
        Thread.sleep(250)
        val landed = try {
          spark.read.parquet(s"$sink/redis.commands").count()
        } catch { case _: Exception => 0L }
        if (landed >= 2) { stopFlag.set(true); done = true }
      }
      stopFlag.set(true)
    }, "cluster-lane-stopper")
    stopper.start()
    val report = LiveCdc.run(spark, task, taskDir,
      stop = Some(() => stopFlag.get()),
      dialOverride = Some(() => seedWire()), triggerMs = 100L,
      dialNodeOverride = Some(dialNode))
    stopper.join()

    // both shards' RDB entries and tails landed in the shared tables
    val snap = spark.read.parquet(s"$sink/redis.snapshot")
      .collect().map(r => (r.getAs[String]("key"),
        r.getAs[String]("value"))).toSet
    assert(snap == Set(("bar", "bar-v"), ("foo", "foo-v")))
    val cmds = spark.read.parquet(s"$sink/redis.commands")
      .collect().map(_.getAs[String]("argv").split(" ")(1)).toSet
    assert(cmds == Set("bar2", "foo2"))
    // 2 snapshot + 2 command rows + 4 state keys (both shards' RDB
    // keys AND tails — node-scoped resets never cross shards)
    assert(report.tables.toMap.values.sum == 8L)
    // per-node resume positions persisted under repl_id.<nodeId>
    val persisted = graft.transport.PumpPositions.read(taskDir)
    assert(persisted.get(s"repl_id.$idA").contains(idA))
    assert(persisted.get(s"repl_id.$idB").contains(idB))
    assert(persisted(s"repl_offset.$idA").toLong >=
      100L + resp("SET", "bar2", "t").length)
  }

  test("a redis cluster DRAIN-ONCE task (is_cluster=true, no " +
      "resident) drains each master sequentially and persists " +
      "per-node positions for the next start") {
    import graft.config.{LiveCdc, TaskConfig}
    def ascii(x: String): Array[Byte] = x.getBytes("ascii")
    def resp(args: String*): Array[Byte] =
      graft.transport.RedisReplicationPump.cmd(args: _*)
    val idA = "a" * 40
    val idB = "b" * 40
    val topology =
      s"""$idA 10.0.0.1:6379@16379 master - 0 0 1 connected 0-8191
         |$idB 10.0.0.2:6379@16379 master - 0 0 2 connected 8192-16383
         |""".stripMargin
    def seedWire(): graft.transport.Wire = {
      val w = new FakeWire
      w.serve(ascii(s"$$${topology.getBytes("UTF-8").length}\r\n"))
      w.serve(ascii(topology))
      w.serve(ascii("\r\n"))
      w
    }
    def rdbOf(key: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("REDIS0011".getBytes("ascii"))
      out.write(0xfe); out.write(0)
      out.write(0)
      def str(x: String): Unit = {
        out.write(x.length & 0x3f); out.write(x.getBytes("utf-8"))
      }
      str(key); str(s"$key-v")
      out.write(0xff)
      out.toByteArray
    }
    def nodeWire(replId: String, rdbKey: String,
        tailKey: String): FakeWire = {
      val w = new FakeWire
      w.serve(ascii("+PONG\r\n"))
      w.serve(ascii("+OK\r\n"))
      w.serve(ascii(s"+FULLRESYNC $replId 100\r\n"))
      val rdb = rdbOf(rdbKey)
      w.serve(ascii(s"$$${rdb.length}\r\n"))
      w.serve(rdb)
      w.serve(resp("SET", tailKey, "t"))
      w
    }
    val wires = Map(
      "10.0.0.1:6379" -> nodeWire(idA, "bar", "bar2"),
      "10.0.0.2:6379" -> nodeWire(idB, "foo", "foo2"))
    val sink = java.nio.file.Files
      .createTempDirectory("cluster-drain-sink").toString
    val taskDir = java.nio.file.Files
      .createTempDirectory("cluster-drain-task").toString
    val task = TaskConfig.fromIni(
      s"""[extractor]
         |db_type=redis
         |extract_type=cdc
         |url=redis://127.0.0.1:6379
         |is_cluster=true
         |
         |[sinker]
         |url=$sink
         |""".stripMargin)
    val report = LiveCdc.run(spark, task, taskDir,
      dialOverride = Some(() => seedWire()),
      dialNodeOverride = Some(addr => wires(addr)))
    assert(report.position._1 == "cluster")
    // state face: each shard's RDB key + its SET tail key — one
    // shard's full-resync reset must NOT wipe the other shard's keys
    assert(report.tables.toMap ==
      Map("redis.snapshot" -> 2L, "redis.commands" -> 2L,
        "redis.state" -> 4L, "redis.state.tombstoned" -> 0L))
    val snap = spark.read.parquet(s"$sink/redis.snapshot")
      .collect().map(_.getAs[String]("key")).toSet
    assert(snap == Set("bar", "foo"))
    // per-node resume state written for the next start
    val persisted = graft.transport.PumpPositions.read(taskDir)
    assert(persisted.get(s"repl_id.$idA").contains(idA))
    assert(persisted.get(s"repl_id.$idB").contains(idB))
  }

  test("two source tables routed to ONE destination merge their " +
      "batch deltas — the second source no longer replaces the " +
      "first's rows") {
    import graft.config.{LiveCdc, TaskConfig}
    val w = new MysqlBinlogWriter(serverId = 1L)
    w.fde()
    w.begin("app")
    w.tableMap(11L, "app", "t1", Seq(8, 15), Seq(0, 40),
      nullable = Seq(false, true), colNames = Seq("id", "v"))
    w.writeRows(11L, Seq(Array("1", "a"), Array("2", "b")))
    w.tableMap(12L, "app", "t2", Seq(8, 15), Seq(0, 40),
      nullable = Seq(false, true), colNames = Seq("id", "v"))
    w.writeRows(12L, Seq(Array("3", "c"), Array("4", "d")))
    w.xid(1L)
    val events = eventsOf(w.bytes())
    val wire = new FakeWire
    wire.serve(packet(0, handshakePayload))
    wire.serve(packet(2, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
    wire.serve(packet(1, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
    wire.serve(packet(1, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
    events.zipWithIndex.foreach { case (e, i) =>
      wire.serve(packet(i + 1, Array[Byte](0x00) ++ e))
    }
    wire.serve(packet(events.size + 1,
      Array[Byte](0xfe.toByte, 0, 0, 2, 0)))

    val sink = java.nio.file.Files
      .createTempDirectory("route-merge-sink").toString
    val taskDir = java.nio.file.Files
      .createTempDirectory("route-merge-task").toString
    val task = TaskConfig.fromIni(
      s"""[extractor]
         |db_type=mysql
         |extract_type=cdc
         |url=mysql://repl:pw@127.0.0.1:3306
         |binlog_filename=binlog.000001
         |id_cols=t1:id,t2:id
         |
         |[filter]
         |do_tbs=app.*
         |
         |[router]
         |tb_map=app.t1:app.t,app.t2:app.t
         |
         |[sinker]
         |url=$sink
         |""".stripMargin)
    LiveCdc.runMysql(spark, task, taskDir,
      dialOverride = Some(() => wire))
    val merged = spark.read.parquet(s"$sink/app.t")
      .collect().map(_.getString(0)).toSet
    assert(merged == Set("1", "2", "3", "4"),
      s"route-merged table landed $merged")
  }

  test("redis landing marks consumed segments with O(1) marker files " +
      "and honors a pre-round-13 consumed.log") {
    def ascii(x: String): Array[Byte] = x.getBytes("ascii")
    def resp(args: String*): Array[Byte] =
      graft.transport.RedisReplicationPump.cmd(args: _*)
    val rdb = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("REDIS0011".getBytes("ascii"))
      out.write(0xfe); out.write(0)
      out.write(0)
      def str(x: String): Unit = {
        out.write(x.length & 0x3f); out.write(x.getBytes("utf-8"))
      }
      str("k1"); str("v1")
      out.write(0xff)
      out.toByteArray
    }
    def fullWire(): FakeWire = {
      val wire = new FakeWire
      wire.serve(ascii("+PONG\r\n"))
      wire.serve(ascii("+OK\r\n"))
      wire.serve(ascii(s"+FULLRESYNC ${"c" * 40} 500\r\n"))
      wire.serve(ascii(s"$$${rdb.length}\r\n"))
      wire.serve(rdb)
      wire.serve(resp("SET", "k2", "v2"))
      wire
    }
    import graft.config.{LiveCdc, TaskConfig}
    def taskFor(sink: String): graft.config.TaskConfig.Task =
      TaskConfig.fromIni(
        s"""[extractor]
           |db_type=redis
           |extract_type=cdc
           |url=redis://127.0.0.1:6379
           |
           |[sinker]
           |url=$sink
           |""".stripMargin)

    // run 1: the landed segment gets a marker FILE (append-only
    // bookkeeping), not a rewritten log
    val sink1 = java.nio.file.Files
      .createTempDirectory("ret-redis-sink1").toString
    val task1Dir = java.nio.file.Files
      .createTempDirectory("ret-redis-task1").toString
    LiveCdc.run(spark, taskFor(sink1), task1Dir,
      dialOverride = Some(() => fullWire()))
    assert(graft.infra.Fs.listNames(s"$task1Dir/consumed") ==
      Seq("psync.000001.log"))
    assert(!graft.infra.Fs.exists(s"$task1Dir/consumed.log"))
    assert(spark.read.parquet(s"$sink1/redis.commands").count() == 1)

    // a task dir migrated from the old layout: consumed.log names the
    // segment the next session will produce — the landing loop must
    // honor it and skip the segment entirely
    val sink2 = java.nio.file.Files
      .createTempDirectory("ret-redis-sink2").toString
    val task2Dir = java.nio.file.Files
      .createTempDirectory("ret-redis-task2").toString
    graft.infra.Fs.writeString(s"$task2Dir/consumed.log",
      "psync.000001.log\n")
    val report = LiveCdc.run(spark, taskFor(sink2), task2Dir,
      dialOverride = Some(() => fullWire()))
    assert(report.tables.toMap ==
      Map("redis.snapshot" -> 0L, "redis.commands" -> 0L,
        "redis.state" -> 0L, "redis.state.tombstoned" -> 0L))
    assert(!graft.infra.Fs.exists(s"$sink2/redis.commands"))
  }

  test("a redis:// cdc task captures the PSYNC session and lands the " +
      "RDB snapshot + command tail as tables") {
    def ascii(x: String): Array[Byte] = x.getBytes("ascii")
    def resp(args: String*): Array[Byte] =
      graft.transport.RedisReplicationPump.cmd(args: _*)
    val rdb = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("REDIS0011".getBytes("ascii"))
      out.write(0xfe); out.write(0)
      out.write(0)
      def str(x: String): Unit = {
        out.write(x.length & 0x3f); out.write(x.getBytes("utf-8"))
      }
      str("k1"); str("v1")
      out.write(0xff)
      out.toByteArray
    }
    val wire = new FakeWire
    wire.serve(ascii("+OK\r\n")) // AUTH
    wire.serve(ascii("+PONG\r\n"))
    wire.serve(ascii("+OK\r\n")) // REPLCONF
    wire.serve(ascii(s"+FULLRESYNC ${"c" * 40} 500\r\n"))
    wire.serve(ascii(s"$$${rdb.length}\r\n"))
    wire.serve(rdb)
    wire.serve(resp("SET", "k2", "v2"))
    wire.serve(resp("DEL", "k1"))

    val state = java.nio.file.Files
      .createTempDirectory("live-redis-state").toString
    val sink = java.nio.file.Files
      .createTempDirectory("live-redis-sink").toString
    TaskManager.create(state, "liveredis",
      s"""[extractor]
         |db_type=redis
         |extract_type=cdc
         |url=redis://:s3cret@127.0.0.1:6379
         |
         |[sinker]
         |url=$sink
         |""".stripMargin)
    val meta = TaskManager.start(spark, state, "liveredis",
      liveDial = Some(() => wire))
    assert(meta.status == "finished")
    val snap = spark.read.parquet(s"$sink/redis.snapshot")
      .collect().map(r => (r.getAs[String]("key"),
        r.getAs[String]("value"))).toSet
    assert(snap == Set(("k1", "v1")))
    val cmds = spark.read.parquet(s"$sink/redis.commands")
      .collect().map(_.getAs[String]("cmd")).toSet
    assert(cmds == Set("SET", "DEL"))

    // RESTART: the new pump must ask for a PARTIAL resync at the
    // persisted (repl_id, offset) — not a full RDB re-dump — and the
    // previously landed segments must NOT re-land (no duplicates)
    val pos = graft.transport.PumpPositions.read(s"$state/liveredis")
    assert(pos("repl_id") == "c" * 40)
    val off = pos("repl_offset").toLong
    val wire2 = new FakeWire
    wire2.serve(ascii("+OK\r\n")) // AUTH
    wire2.serve(ascii("+PONG\r\n"))
    wire2.serve(ascii("+OK\r\n")) // REPLCONF
    wire2.serve(ascii(s"+CONTINUE ${"c" * 40}\r\n"))
    wire2.serve(resp("SET", "k3", "v3"))
    val m2 = TaskManager.start(spark, state, "liveredis",
      liveDial = Some(() => wire2))
    assert(m2.status == "finished")
    val sent2 = new String(wire2.sentBytes,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    // partial resync asks for the first byte NEEDED: offset + 1
    assert(sent2.contains("PSYNC") && sent2.contains("c" * 40) &&
      sent2.contains((off + 1).toString))
    val snap2 = spark.read.parquet(s"$sink/redis.snapshot")
      .collect().map(_.getAs[String]("key")).toSeq
    assert(snap2 == Seq("k1")) // still exactly once
    val cmds2 = spark.read.parquet(s"$sink/redis.commands")
      .collect().map(_.getAs[String]("argv")).toSeq.sorted
    assert(cmds2 == Seq("DEL k1", "SET k2 v2", "SET k3 v3"))
  }

  test("a restarted mysql:// cdc task resumes from the persisted " +
      "position and lands only the tail — no re-dump, no duplicates") {
    val state = java.nio.file.Files
      .createTempDirectory("live-restart-state").toString
    val sink = java.nio.file.Files
      .createTempDirectory("live-restart-sink").toString
    TaskManager.create(state, "liverestart",
      s"""[extractor]
         |db_type=mysql
         |extract_type=cdc
         |url=mysql://repl:pw@127.0.0.1:3306
         |binlog_filename=binlog.000001
         |id_cols=t:id
         |
         |[sinker]
         |url=$sink
         |""".stripMargin)
    val m1 = TaskManager.start(spark, state, "liverestart",
      liveDial = Some(() => dumpWire(
        rowsSession(Seq(Array("1", "a"), Array("2", "b")), 1L))))
    assert(m1.status == "finished")
    // the durable position advanced past the consumed events
    val pos1 = graft.transport.PumpPositions.read(s"$state/liverestart")
    assert(pos1("file") == "binlog.000001")
    assert(pos1("pos").toLong > 4L)

    // restart: the server appends MORE events to the same binlog file;
    // the new pump must resume at the persisted position and the
    // landing must not duplicate the already-landed keys
    val m2 = TaskManager.start(spark, state, "liverestart",
      liveDial = Some(() => dumpWire(
        rowsSession(Seq(Array("3", "c")), 2L))))
    assert(m2.status == "finished")
    // each start reports the segments it captured, not the capture
    // dir's running total
    val reported = TaskManager.logs(state, "liverestart")
      .flatMap(l => "live_cdc segments=(\\d+)".r.findFirstMatchIn(l))
      .map(_.group(1).toInt)
    assert(reported == Seq(1, 1), reported)
    val landed = spark.read.parquet(s"$sink/app.t")
      .collect().map(_.getString(0)).toSeq.sorted
    assert(landed == Seq("1", "2", "3")) // each exactly once
    // capture segments are monotone across the restart, never reused
    val segs = graft.sources.ChangelogSource
      .segments(s"$state/liverestart/capture")
    assert(segs == segs.sorted && segs.distinct == segs)
    assert(segs.size >= 2)
  }

  /** Keys landed in `app.t` under `sink`. */
  private def landedKeys(sink: String): Set[String] =
    spark.read.parquet(s"$sink/app.t").collect().map(_.getString(0)).toSet

  test("the mysql drain contract through LiveCdc.run: a dial dropped " +
      "before progress throws, leaving no query and no position; a " +
      "retry lands every row; a landing that fails after the pump " +
      "tail published leaves the position persisted, so its retry " +
      "re-pumps nothing") {
    import graft.config.{LiveCdc, TaskConfig}
    import graft.transport.PumpPositions
    def task(sink: String) = TaskConfig.fromIni(
      s"""[extractor]
         |db_type=mysql
         |extract_type=cdc
         |url=mysql://repl:pw@127.0.0.1:3306
         |binlog_filename=binlog.000001
         |id_cols=t:id
         |
         |[sinker]
         |url=$sink
         |""".stripMargin)
    val sink = java.nio.file.Files
      .createTempDirectory("drain-contract-sink").toString
    val taskDir = java.nio.file.Files
      .createTempDirectory("drain-contract-task").toString
    val capture = s"$taskDir/capture"

    // the dial drops before any progress: a config error, not a drain
    intercept[java.io.IOException](LiveCdc.run(spark, task(sink),
      taskDir, dialOverride = Some(() => new FakeWire)))
    assert(spark.streams.active.isEmpty)
    assert(!new java.io.File(PumpPositions.path(taskDir)).exists())

    // the server's position after a session: its last event's
    // next-position header field
    def endPos(events: Seq[Array[Byte]]): Long =
      (0 until 4).map(i => (events.last(13 + i) & 0xffL) << (8 * i)).sum

    // the retry's wire drops after progress: the normal end of a drain
    val s2 = rowsSession(Seq(Array("1", "a"), Array("2", "b")), 1L)
    val r2 = LiveCdc.run(spark, task(sink), taskDir,
      dialOverride = Some(() => dumpWire(s2, eof = false)))
    assert(r2.tables == Seq("app.t" -> 2L))
    assert(landedKeys(sink) == Set("1", "2"))
    assert(PumpPositions.read(taskDir)("pos").toLong == endPos(s2))

    // the next start pumps one more row, then its landing fails (the
    // sink is a plain file) after the pump's tail published
    val blocked = java.nio.file.Files
      .createTempFile("drain-contract-blocked", "").toString
    val s3 = rowsSession(Seq(Array("3", "c")), 2L)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      LiveCdc.run(spark, task(blocked), taskDir,
        dialOverride = Some(() => dumpWire(s3, eof = false))))
    assert(spark.streams.active.isEmpty)
    val pos3 = PumpPositions.read(taskDir)("pos").toLong
    assert(pos3 == endPos(s3), "the position was not persisted before " +
      "the landing ran")
    val segs = graft.sources.ChangelogSource.segments(capture)

    // its retry dumps from the persisted position, pumps nothing, and
    // lands the published row
    val retry = dumpWire(Nil)
    val r4 = LiveCdc.run(spark, task(sink), taskDir,
      dialOverride = Some(() => retry))
    val le = (0 until 4).map(i => ((pos3 >> (8 * i)) & 0xff).toByte)
    assert(retry.sentBytes.toSeq.containsSlice(0x12.toByte +: le))
    assert(r4.events == 0L && r4.segments == 0)
    assert(graft.sources.ChangelogSource.segments(capture) == segs)
    assert(PumpPositions.read(taskDir)("pos").toLong == pos3)
    assert(r4.tables == Seq("app.t" -> 3L))
    assert(landedKeys(sink) == Set("1", "2", "3"))
  }

  test("the pg drain contract through LiveCdc.run: a dial dropped " +
      "before progress throws, leaving no query and no position; a " +
      "retry lands every row; a landing that fails after the pump " +
      "tail published lands on a retry that re-pumps nothing") {
    import graft.config.{LiveCdc, TaskConfig}
    import graft.sources.PgOutput.RelColumn
    def txn(lsn: Long, rows: Seq[Array[String]]): Array[Byte] = {
      val w = new graft.sources.PgOutputWriter()
      w.begin(lsn, 0L, lsn >> 8)
      w.relation(16385L, "app", "t", 'd', Seq(
        RelColumn("id", keyPart = true, 20, -1),
        RelColumn("v", false, 25, -1)))
      rows.foreach(r => w.insert(16385L, r))
      w.commit(lsn, lsn + 0x100L, 0L)
      w.bytes()
    }
    // slot lifecycle, CopyBoth, `frames`, then CopyDone or a drop
    def pgWire(frames: Array[Byte], copyDone: Boolean): FakeWire = {
      val wire = new FakeWire
      wire.serve(msg('R', Array[Byte](0, 0, 0, 0)))
      wire.serve(msg('Z', Array[Byte]('I'.toByte)))
      wire.serve(queryReply(Seq("pubname"), Seq(Seq("p"))))
      wire.serve(queryReply(Seq("slot_name", "confirmed_flush_lsn"),
        Seq(Seq("live_slot", "0/16000000"))))
      wire.serve(queryReply(Nil, Nil)) // SET float digits
      wire.serve(queryReply(Nil, Nil)) // SET time zone
      wire.serve(msg('W', Array[Byte](0, 0, 0)))
      if (frames.nonEmpty) wire.serve(frames)
      if (copyDone) wire.serve(msg('c', Array.emptyByteArray))
      wire
    }
    def task(sink: String) = TaskConfig.fromIni(
      s"""[extractor]
         |db_type=pg
         |extract_type=cdc
         |url=postgres://app:pw@127.0.0.1:5432/orders
         |slot_name=live_slot
         |id_cols=t:id
         |
         |[sinker]
         |url=$sink
         |""".stripMargin)
    val sink = java.nio.file.Files
      .createTempDirectory("pg-contract-sink").toString
    val taskDir = java.nio.file.Files
      .createTempDirectory("pg-contract-task").toString
    val capture = s"$taskDir/capture"

    intercept[java.io.IOException](LiveCdc.run(spark, task(sink),
      taskDir, dialOverride = Some(() => new FakeWire)))
    assert(spark.streams.active.isEmpty)
    assert(!new java.io.File(
      graft.transport.PumpPositions.path(taskDir)).exists())

    val r2 = LiveCdc.run(spark, task(sink), taskDir,
      dialOverride = Some(() => pgWire(txn(0x16000100L,
        Seq(Array("1", "a"), Array("2", "b"))), copyDone = false)))
    assert(r2.tables == Seq("app.t" -> 2L))
    assert(landedKeys(sink) == Set("1", "2"))

    // pg's durable position is the server-side slot, so nothing is
    // persisted locally; the failed landing's segment stays published
    val blocked = java.nio.file.Files
      .createTempFile("pg-contract-blocked", "").toString
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      LiveCdc.run(spark, task(blocked), taskDir,
        dialOverride = Some(() => pgWire(txn(0x16000300L,
          Seq(Array("3", "c"))), copyDone = false))))
    assert(spark.streams.active.isEmpty)
    val segs = graft.sources.ChangelogSource.segments(capture)
    assert(segs.size == 2)

    val r4 = LiveCdc.run(spark, task(sink), taskDir,
      dialOverride = Some(() => pgWire(Array.emptyByteArray,
        copyDone = true)))
    assert(r4.events == 0L && r4.segments == 0)
    assert(graft.sources.ChangelogSource.segments(capture) == segs)
    assert(r4.tables == Seq("app.t" -> 3L))
    assert(landedKeys(sink) == Set("1", "2", "3"))
  }

  test("redis resident mode: the supervised pump partial-resyncs " +
      "across drops while the landing loop consumes published " +
      "segments; stop winds down and lands the tail exactly once") {
    def ascii(x: String): Array[Byte] = x.getBytes("ascii")
    def resp(args: String*): Array[Byte] =
      graft.transport.RedisReplicationPump.cmd(args: _*)
    val rdb = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("REDIS0011".getBytes("ascii"))
      out.write(0xfe); out.write(0)
      out.write(0)
      def str(x: String): Unit = {
        out.write(x.length & 0x3f); out.write(x.getBytes("utf-8"))
      }
      str("k1"); str("v1")
      out.write(0xff)
      out.toByteArray
    }
    val wire1 = new FakeWire
    wire1.serve(ascii("+PONG\r\n"))
    wire1.serve(ascii("+OK\r\n"))
    wire1.serve(ascii(s"+FULLRESYNC ${"d" * 40} 100\r\n"))
    wire1.serve(ascii(s"$$${rdb.length}\r\n"))
    wire1.serve(rdb)
    wire1.serve(resp("SET", "a", "1"))
    val wire2 = new FakeWire
    wire2.serve(ascii("+PONG\r\n"))
    wire2.serve(ascii("+OK\r\n"))
    wire2.serve(ascii(s"+CONTINUE ${"d" * 40}\r\n"))
    wire2.serve(resp("SET", "b", "2"))
    val scripted = scala.collection.mutable.Queue(wire1, wire2)
    def nextWire(): graft.transport.Wire = synchronized {
      if (scripted.nonEmpty) scripted.dequeue() else new FakeWire
    }

    val sink = java.nio.file.Files
      .createTempDirectory("live-redis-res-sink").toString
    val taskDir = java.nio.file.Files
      .createTempDirectory("live-redis-res-task").toString
    val task = graft.config.TaskConfig.fromIni(
      s"""[extractor]
         |db_type=redis
         |extract_type=cdc
         |url=redis://127.0.0.1:6379
         |resident=true
         |
         |[sinker]
         |url=$sink
         |""".stripMargin)
    assert(task.source.resident) // the config knob parses
    import graft.config.LiveCdc

    val stopFlag = new java.util.concurrent.atomic.AtomicBoolean(false)
    val stopper = new Thread(() => {
      val deadline = System.currentTimeMillis() + 60000
      var done = false
      while (!done && System.currentTimeMillis() < deadline) {
        Thread.sleep(250)
        val cmds = try {
          spark.read.parquet(s"$sink/redis.commands")
            .collect().map(_.getAs[String]("argv")).toSet
        } catch { case _: Exception => Set.empty[String] }
        if (cmds.contains("SET a 1") && cmds.contains("SET b 2")) {
          stopFlag.set(true); done = true
        }
      }
      stopFlag.set(true)
    }, "redis-resident-stopper")
    stopper.start()
    val report = LiveCdc.run(spark, task, taskDir,
      stop = Some(() => stopFlag.get()),
      dialOverride = Some(() => nextWire()), triggerMs = 100L)
    stopper.join()

    // both sessions' tails landed exactly once despite the drop
    val argv = spark.read.parquet(s"$sink/redis.commands")
      .collect().map(_.getAs[String]("argv")).toSeq.sorted
    assert(argv == Seq("SET a 1", "SET b 2"))
    assert(spark.read.parquet(s"$sink/redis.snapshot")
      .collect().map(_.getAs[String]("key")).toSeq == Seq("k1"))
    assert(report.segments >= 2)
    // the durable resume position survived for the next start
    val pos = graft.transport.PumpPositions.read(taskDir)
    assert(pos("repl_id") == "d" * 40)
  }

  test("pg two-way: the pgoutput decode runs the same marker state " +
      "machine — A-origin txns drop, marker rows never land") {
    val w = new graft.sources.PgOutputWriter()
    val colsT = Seq(
      graft.sources.PgOutput.RelColumn("id", keyPart = true, 20, -1),
      graft.sources.PgOutput.RelColumn("v", false, 25, -1))
    val colsM = Seq(
      graft.sources.PgOutput.RelColumn("topo", keyPart = true, 25, -1),
      graft.sources.PgOutput.RelColumn("data_origin_node", false, 25, -1))
    // B-local txn: row 3
    w.begin(0x16000100L, 0L, 1L)
    w.relation(16385L, "tw", "t", 'd', colsT)
    w.relation(16386L, "ape_trans", "topo1", 'd', colsM)
    w.insert(16385L, Array("3", "b-local"))
    w.commit(0x16000100L, 0x16000200L, 0L)
    // A-origin txn (what a real applier wrote at B): marker first
    w.begin(0x16000300L, 0L, 2L)
    w.insert(16386L, Array("topo1", "node_a"))
    w.insert(16385L, Array("1", "a"))
    w.insert(16385L, Array("2", "b"))
    w.commit(0x16000300L, 0x16000400L, 0L)

    val wire = new FakeWire
    wire.serve(msg('R', Array[Byte](0, 0, 0, 0)))
    wire.serve(msg('Z', Array[Byte]('I'.toByte)))
    wire.serve(queryReply(Seq("pubname"), Seq(Seq("p"))))
    wire.serve(queryReply(Seq("slot_name", "confirmed_flush_lsn"),
      Seq(Seq("live_slot", "0/16000000"))))
    wire.serve(queryReply(Nil, Nil))
    wire.serve(queryReply(Nil, Nil))
    wire.serve(msg('W', Array[Byte](0, 0, 0)))
    wire.serve(w.bytes())
    wire.serve(msg('c', Array.emptyByteArray))

    val state = java.nio.file.Files
      .createTempDirectory("live-pg2w-state").toString
    val sink = java.nio.file.Files
      .createTempDirectory("live-pg2w-sink").toString
    TaskManager.create(state, "pg2w",
      s"""[extractor]
         |db_type=pg
         |extract_type=cdc
         |url=postgres://app:pw@node-b:5432/orders
         |slot_name=live_slot
         |id_cols=t:id
         |
         |[sinker]
         |url=$sink
         |
         |[data_marker]
         |topo_name=topo1
         |src_node=node_b
         |dst_node=node_a
         |do_nodes=node_b
         |ignore_nodes=node_a
         |marker=ape_trans.topo1
         |""".stripMargin)
    val meta = TaskManager.start(spark, state, "pg2w",
      liveDial = Some(() => wire))
    assert(meta.status == "finished")
    val landed = spark.read.parquet(s"$sink/tw.t").collect()
      .map(_.getString(0)).toSet
    assert(landed == Set("3")) // the A-origin echo never crossed back
  }

  test("two-way live topology: the A→B lander writes data markers " +
      "and the B→A direction drops A-origin echoes — no cycle") {
    val colT = (Seq(8, 15), Seq(0, 40), Seq(false, true),
      Seq("id", "v"))
    val colM = (Seq(15, 15), Seq(40, 40), Seq(false, false),
      Seq("topo", "data_origin_node"))
    def wireFor(events: Seq[Array[Byte]]): FakeWire = {
      val wire = new FakeWire
      wire.serve(packet(0, handshakePayload))
      wire.serve(packet(2, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
      wire.serve(packet(1, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
      wire.serve(packet(1, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
      events.zipWithIndex.foreach { case (e, i) =>
        wire.serve(packet(i + 1, Array[Byte](0x00) ++ e))
      }
      wire.serve(packet(events.size + 1,
        Array[Byte](0xfe.toByte, 0, 0, 2, 0)))
      wire
    }
    def marker(ini: String, src: String, dst: String): String =
      s"""$ini
         |[data_marker]
         |topo_name=topo1
         |topo_nodes=node_a,node_b
         |src_node=$src
         |dst_node=$dst
         |do_nodes=$src
         |ignore_nodes=$dst
         |marker=ape_trans.topo1
         |""".stripMargin

    // A's binlog: one LOCAL txn (rows 1, 2) — no marker
    val wA = new MysqlBinlogWriter(serverId = 1L)
    wA.fde()
    wA.begin("tw")
    wA.tableMap(11L, "tw", "t", colT._1, colT._2,
      nullable = colT._3, colNames = colT._4)
    wA.writeRows(11L, Seq(Array("1", "a"), Array("2", "b")))
    wA.xid(1L)

    val state = java.nio.file.Files
      .createTempDirectory("live-2way-state").toString
    val sinkB = java.nio.file.Files
      .createTempDirectory("live-2way-b").toString
    TaskManager.create(state, "ab", marker(
      s"""[extractor]
         |db_type=mysql
         |extract_type=cdc
         |url=mysql://repl:pw@node-a:3306
         |binlog_filename=binlog.000001
         |id_cols=t:id
         |
         |[sinker]
         |url=$sinkB""".stripMargin, "node_a", "node_b"))
    val mAB = TaskManager.start(spark, state, "ab",
      liveDial = Some(() => wireFor(eventsOf(wA.bytes()))))
    assert(mAB.status == "finished")
    // A's local rows landed at B…
    assert(spark.read.parquet(s"$sinkB/tw.t").collect()
      .map(_.getString(0)).toSet == Set("1", "2"))
    // …and the lander WROTE the in-batch marker naming the origin —
    // what a reverse extractor reads to attribute these rows
    val markers = spark.read.parquet(s"$sinkB/ape_trans.topo1")
    assert(markers.select("data_origin_node").collect()
      .map(_.getString(0)).toSet == Set("node_a"))

    // B's binlog after a REAL apply: the B-local txn (row 3) plus the
    // applied A txn — marker insert first, then A's rows (what
    // mysql_sinker.rs:365-389 writes in-transaction)
    val wB = new MysqlBinlogWriter(serverId = 2L)
    wB.fde()
    wB.begin("tw")
    wB.tableMap(11L, "tw", "t", colT._1, colT._2,
      nullable = colT._3, colNames = colT._4)
    wB.writeRows(11L, Seq(Array("3", "b-local")))
    wB.xid(1L)
    wB.begin("tw")
    wB.tableMap(12L, "ape_trans", "topo1", colM._1, colM._2,
      nullable = colM._3, colNames = colM._4)
    wB.writeRows(12L, Seq(Array("topo1", "node_a")))
    wB.tableMap(11L, "tw", "t", colT._1, colT._2,
      nullable = colT._3, colNames = colT._4)
    wB.writeRows(11L, Seq(Array("1", "a"), Array("2", "b")))
    wB.xid(2L)

    val sinkA = java.nio.file.Files
      .createTempDirectory("live-2way-a").toString
    TaskManager.create(state, "ba", marker(
      s"""[extractor]
         |db_type=mysql
         |extract_type=cdc
         |url=mysql://repl:pw@node-b:3306
         |binlog_filename=binlog.000001
         |id_cols=t:id
         |
         |[sinker]
         |url=$sinkA""".stripMargin, "node_b", "node_a"))
    val mBA = TaskManager.start(spark, state, "ba",
      liveDial = Some(() => wireFor(eventsOf(wB.bytes()))))
    assert(mBA.status == "finished")
    // ONLY the B-local row crossed back: the A-origin txn was dropped
    // by the marker admission (no echo, no cycle), and marker rows
    // themselves never land as data
    val landedA = spark.read.parquet(s"$sinkA/tw.t").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(landedA.map(_._1).toSet == Set("3"))
    assert(landedA.head._2.contains("b-local"))
  }

  test("a mongodb:// cdc task captures the change stream and lands " +
      "mongo.changes") {
    import graft.transport.{Bson, MongoWire}
    def reply(doc: Seq[(String, Any)]): Array[Byte] =
      MongoWire.message(0, doc)
    def change(tok: String, id: String, op: String = "insert",
        v: String = "x"): Bson.Doc = {
      val base = Seq(
        "_id" -> Bson.Doc(Seq("_data" -> tok)),
        "operationType" -> op,
        "ns" -> Bson.Doc(Seq("db" -> "app", "coll" -> "t")),
        "documentKey" -> Bson.Doc(Seq("_id" -> id)))
      Bson.Doc(
        if (op == "delete") base
        else base :+ ("fullDocument" ->
          Bson.Doc(Seq("_id" -> id, "v" -> v))))
    }
    val wire = new FakeWire
    wire.serve(reply(Seq("ok" -> 1.0))) // hello (no auth: empty pw)
    wire.serve(reply(Seq(
      "cursor" -> Bson.Doc(Seq(
        "id" -> 0L, // exhausted after the first batch
        "ns" -> "admin.$cmd.aggregate",
        "firstBatch" -> Bson.Arr(Seq(change("t1", "1"),
          change("t2", "2"),
          change("t3", "1", op = "update", v = "y"),
          change("t4", "2", op = "delete"))))),
      "ok" -> 1.0)))

    val state = java.nio.file.Files
      .createTempDirectory("live-mongo-state").toString
    val sink = java.nio.file.Files
      .createTempDirectory("live-mongo-sink").toString
    TaskManager.create(state, "livemongo",
      s"""[extractor]
         |db_type=mongo
         |extract_type=cdc
         |url=mongodb://127.0.0.1:27017
         |
         |[sinker]
         |url=$sink
         |""".stripMargin)
    val meta = TaskManager.start(spark, state, "livemongo",
      liveDial = Some(() => wire))
    assert(meta.status == "finished")
    val changes = spark.read.parquet(s"$sink/mongo.changes")
    assert(changes.count() == 4)
    // fixed landed schema: envelope columns + JSON-string payloads
    // (schema INFERENCE per segment would drift across segments)
    val ids = changes.selectExpr("get_json_object(key, '$._id')")
      .collect().map(_.getString(0)).toSet
    assert(ids == Set("1", "2"))
    assert(changes.select("op").collect()
      .map(_.getString(0)).toSet ==
      Set("insert", "update", "delete"))
    assert(changes.select("db", "coll").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("app", "t")))
    assert(changes.select("token").collect()
      .map(_.getString(0)).toSet == Set("t1", "t2", "t3", "t4"))
    // the CURRENT-STATE table (documentKey -> fullDocument, deletes
    // folded away): id 1 at its updated image, id 2 gone — the
    // mongo_sinker upsert/delete-by-_id contract as landed parquet
    val stateRows = spark.read.parquet(s"$sink/app.t")
      .collect().map(r => (r.getAs[String]("key"),
        r.getAs[String]("payload"))).toMap
    assert(stateRows.size == 1, s"state: $stateRows")
    val (k1, doc1) = stateRows.head
    assert(k1.contains("\"1\"") || k1.contains(": \"1\"") ||
      k1.contains("\"_id\""))
    assert(doc1.contains("\"y\""), s"doc: $doc1")
  }
}
