package graft.config

import graft.sources.MysqlBinlogWriter
import graft.transport.{FakeWire, FsSegmentStore, MysqlReplicationPump,
  PumpPositions}

/** Regression battery for the round-15 LiveCdc review findings: torn
  * position files self-heal instead of crash-looping, and the cadence
  * merge covers every table touched since the LAST merge, not just
  * the cadence batch's own tables; and a drain that restarts over an
  * uncommitted micro-batch also lands what was published since.
  */
class LiveCdcHardeningSpec extends graft.SparkSuite {

  private def mysqlTask(sink: String): TaskConfig.Task =
    TaskConfig.fromIni(
      s"""[extractor]
         |db_type=mysql
         |extract_type=cdc
         |url=mysql://u:p@127.0.0.1:3306
         |
         |[sinker]
         |url=$sink
         |""".stripMargin)

  test("a TORN pump.position value reads as absent — the documented " +
      "self-healing contract, not a supervised crash-loop") {
    val taskDir = java.nio.file.Files
      .createTempDirectory("torn-pos").toString
    val task = mysqlTask("/tmp/unused-sink")
    // a crash mid-write left `pos=` truncated (and a second variant
    // with garbage) — the resume config must fall back to the base
    // start, never throw
    graft.infra.Fs.writeString(PumpPositions.path(taskDir),
      "file=binlog.000009\npos=\ngtids=\n")
    val c1 = LiveCdc.mysqlResumeConfig(task, taskDir)
    assert(c1.binlogFilename == "binlog.000009")
    assert(c1.binlogPosition == 4L) // the base default
    graft.infra.Fs.writeString(PumpPositions.path(taskDir),
      "pos=12x34\n")
    assert(LiveCdc.mysqlResumeConfig(task, taskDir)
      .binlogPosition == 4L)
  }

  test("the cadence merge publishes every table touched since the " +
      "LAST merge: a table quiet at the cadence batch still gets its " +
      "flat face (not delta dirs hidden until finalize)") {
    val s = spark
    import s.implicits._
    val sink = java.nio.file.Files
      .createTempDirectory("cadence-sink").toString
    val task = mysqlTask(sink)
    val touched = scala.collection.mutable.Set[String]()
    def batchOf(tb: String, key: String): org.apache.spark.sql
        .DataFrame =
      Seq(("app", tb, 1L, "insert", key, s"""{"id":"$key"}"""))
        .toDF("schema", "tb", "seq", "row_type", "key", "payload")
    // batch 5 touches t1; batches 6..7 touch only t2; batch 7 is the
    // cadence (CompactEvery = 8). Pre-fix, only t2 (in the cadence
    // batch itself) merged — t1's rows sat in underscore-hidden
    // _delta dirs with an EMPTY published face for the residency.
    LiveCdc.landBatch(task, sink, touched)(batchOf("t1", "a"), 5L)
    LiveCdc.landBatch(task, sink, touched)(batchOf("t2", "b"), 6L)
    LiveCdc.landBatch(task, sink, touched)(batchOf("t2", "c"), 7L)
    val t1 = spark.read.parquet(s"$sink/app.t1")
      .collect().map(_.getString(0))
    assert(t1.toSeq == Seq("a"),
      s"quiet table t1 unpublished at the cadence: ${t1.toSeq}")
    assert(spark.read.parquet(s"$sink/app.t2").count() == 2)
    // the set drained: the next cadence won't re-copy untouched faces
    assert(touched.isEmpty)
  }

  private def packet(seq: Int, payload: Array[Byte]): Array[Byte] =
    Array[Byte]((payload.length & 0xff).toByte,
      ((payload.length >> 8) & 0xff).toByte,
      ((payload.length >> 16) & 0xff).toByte, seq.toByte) ++ payload

  /** A scripted mysql server: greeting, auth and setup OKs, the binlog
    * events of `w`, then the end-of-dump marker.
    */
  private def dumpWire(w: MysqlBinlogWriter): FakeWire = {
    val scramble = Array.tabulate[Byte](20)(_.toByte)
    val hello = new java.io.ByteArrayOutputStream()
    hello.write(10)
    hello.write("8.0.36-fake".getBytes("UTF-8")); hello.write(0)
    hello.write(Array[Byte](7, 0, 0, 0))
    hello.write(scramble.take(8)); hello.write(0)
    hello.write(Array[Byte](0xff.toByte, 0xff.toByte))
    hello.write(45)
    hello.write(Array[Byte](2, 0))
    hello.write(Array[Byte](0x08, 0x00))
    hello.write(21)
    hello.write(new Array[Byte](10))
    hello.write(scramble.drop(8)); hello.write(0)
    hello.write("mysql_native_password".getBytes("UTF-8")); hello.write(0)
    val binlog = w.bytes()
    val events = Iterator.unfold(4) { p =>
      if (p >= binlog.length) None
      else {
        val len = (binlog(p + 9) & 0xff) | ((binlog(p + 10) & 0xff) << 8) |
          ((binlog(p + 11) & 0xff) << 16) | ((binlog(p + 12) & 0xff) << 24)
        Some((binlog.slice(p, p + len), p + len))
      }
    }.toSeq
    val wire = new FakeWire
    wire.serve(packet(0, hello.toByteArray))
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

  private def session(txn: Long)(
      body: MysqlBinlogWriter => Unit): MysqlBinlogWriter = {
    val w = new MysqlBinlogWriter(serverId = 1L)
    w.fde()
    w.begin("app")
    w.tableMap(11L, "app", "t", Seq(8, 15), Seq(0, 40),
      nullable = Seq(false, true), colNames = Seq("id", "v"))
    body(w)
    w.xid(txn)
    w
  }

  test("a drain restarting over an UNCOMMITTED micro-batch replays it " +
      "AND lands the segments published since, in one drain " +
      "(Trigger.AvailableNow, not the single-batch fallback)") {
    val taskDir = java.nio.file.Files
      .createTempDirectory("avail-now").toString
    val sink = java.nio.file.Files
      .createTempDirectory("avail-now-sink").toString
    val task = TaskConfig.fromIni(
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
    val capture = s"$taskDir/capture"
    // drain 1 pumps and publishes segment A, then dies inside its one
    // micro-batch AFTER landing the delta: the checkpoint holds the
    // planned batch 0 with no commit, and nothing was finalized. The
    // crash runs under the trigger the shipped drain uses
    // (ProcessingTime); the title's AvailableNow names the trigger the
    // drain ran when this test was written
    val store = new FsSegmentStore(capture)
    val pump = new MysqlReplicationPump(
      LiveCdc.mysqlResumeConfig(task, taskDir), store,
      () => dumpWire(session(1L)(_.writeRows(11L,
        Seq(Array("1", "a"), Array("2", "b"))))))
    pump.runSession()
    store.publishAll()
    pump.markAllPublished()
    val (file, pos, gtids) = pump.publishedPosition
    PumpPositions.write(taskDir, Map(
      "file" -> file, "pos" -> pos.toString, "gtids" -> gtids))
    val q = spark.readStream
      .format("graft.sources.ChangelogSource")
      .option("path", capture).option("format", "binlog")
      .option("key_cols", "id").load()
      .writeStream
      .option("checkpointLocation", s"$taskDir/checkpoint")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        LiveCdc.landBatch(task, sink,
          scala.collection.mutable.Set[String]())(b, id)
        throw new IllegalStateException("crash before commit")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(500L))
      .start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q.awaitTermination())
    assert(graft.sinks.LandedTable.deltaIds(s"$sink/app.t") == Seq(0L))

    // drain 2: segment B (an update, a delete, an insert) publishes,
    // then the stream replays batch 0 and must go on to B
    val report = LiveCdc.runMysql(spark, task, taskDir,
      dialOverride = Some(() => dumpWire(session(2L) { w =>
        w.updateRows(11L, Seq((Array("1", "a"), Array("1", "a2"))))
        w.deleteRows(11L, Seq(Array("2", "b")))
        w.writeRows(11L, Seq(Array("3", "c")))
      })))
    val landed = spark.read.parquet(s"$sink/app.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(landed.keySet == Set("1", "3"), landed)
    assert(landed("1").contains("a2"), landed)
    assert(report.tables == Seq("app.t" -> 2L))
    assert(graft.sources.ChangelogSource.segments(capture).size == 2)
  }
}
