package graft

import java.io.ByteArrayOutputStream
import java.net.{HttpURLConnection, URI}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.config.{TaskConfig, TaskRunner}
import graft.sinks.{LakeSink, RedisReshard}

/** The reference's full ExtractType surface driven from INI configs
  * (config_enums.rs:42-61): check_log replay, snapshot_file RDB parse,
  * keyspace scan, reshard planning, foxlake_s3 read-back, and the
  * http_server pipeline swap — each through the TaskConfig →
  * TaskRunner path a user's task file takes. (The struct task drive
  * lives in StructFetcherSpec, which owns the session-catalog fixture.)
  */
class TaskSurfaceSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("ini: the full reference tuning-key surface parses with " +
      "reference defaults and typed values") {
    // defaults (task_config.rs per-key get_with_default values)
    val d = TaskConfig.fromIni(
      """[extractor]
        |extract_type=snapshot
        |url=/tmp/x
        |
        |[sinker]
        |url=/tmp/y
        |""".stripMargin)
    assert(d.source == TaskConfig.SourceTuning())
    assert(d.sink == TaskConfig.SinkTuning())
    assert(d.checker.isEmpty)
    assert(d.counterMaxSubCount == 1000)

    val t = TaskConfig.fromIni(
      """[extractor]
        |extract_type=cdc
        |url=/tmp/x
        |binlog_filename=binlog.000042
        |binlog_position=1234
        |server_id=9
        |gtid_enabled=true
        |gtid_set=3e11fa47-71ca-11e1-9e33-c80aa9429562:1-5
        |max_mbps=12
        |
        |[sinker]
        |url=/tmp/y
        |hard_delete=true
        |batch_memory_mb=64
        |
        |[pipeline]
        |counter_max_sub_count=50
        |
        |[checker]
        |enable=true
        |sample_rate=25
        |output_full_row=true
        |output_revise_sql=true
        |check_log_max_rows=2
        |check_log_file_size=1kb
        |""".stripMargin)
    assert(t.source.binlogFilename.contains("binlog.000042") &&
      t.source.binlogPosition.contains(1234L) &&
      t.source.serverId.contains(9L) && t.source.gtidEnabled &&
      t.source.gtidSet.exists(_.endsWith(":1-5")) &&
      t.source.maxMbps.contains(12L))
    assert(t.sink.hardDelete && t.sink.batchMemoryMb.contains(64))
    assert(t.counterMaxSubCount == 50)
    val ck = t.checker.get
    assert(ck.enable && ck.sampleRate.contains(25) &&
      ck.outputFullRow && ck.outputReviseSql &&
      ck.checkLogMaxRows == 2 && ck.checkLogFileSize == "1kb")
    assert(graft.infra.CheckLogs.parseSize("1kb") == 1024L &&
      graft.infra.CheckLogs.parseSize("100mb") == 100L * 1024 * 1024)

    // [data_marker] / the statistic sinker knobs
    val t2 = TaskConfig.fromIni(
      """[extractor]
        |extract_type=cdc
        |url=/tmp/x
        |
        |[sinker]
        |url=/tmp/y
        |data_size_threshold=1024
        |freq_threshold=5
        |statistic_log_dir=/tmp/stats
        |
        |[data_marker]
        |topo_name=topo1
        |src_node=node1
        |dst_node=node2
        |do_nodes=node1
        |ignore_nodes=node2
        |marker=ape_trans_mysql.topo1
        |""".stripMargin)
    assert(t2.sink.dataSizeThreshold == 1024L &&
      t2.sink.freqThreshold == 5L &&
      t2.sink.statisticLogDir.contains("/tmp/stats"))
    val dm = t2.dataMarker.get
    assert(dm.topoName == "topo1" &&
      dm.srcNode == "node1" && dm.dstNode == "node2" &&
      dm.doNodes == Seq("node1") && dm.ignoreNodes == Seq("node2") &&
      dm.marker == "ape_trans_mysql.topo1")
    assert(dm.toMarker ==
      graft.operators.DataMarker.Marker("topo1", "node1", "node2"))
    assert(d.dataMarker.isEmpty)
    assert(d.resumer == TaskConfig.DummyResumer)
    assert(d.sinkType == "write" && d.partitionColsByTable.isEmpty)

    // [resumer] / sink_type / partition_cols
    val t3 = TaskConfig.fromIni(
      """[extractor]
        |extract_type=snapshot
        |url=/tmp/x
        |partition_cols=json:[{"db":"d1","tb":"t1","partition_col":"id"}]
        |
        |[sinker]
        |url=mysql://dst
        |db_type=mysql
        |sink_type=sql
        |
        |[resumer]
        |resume_type=from_target
        |table_full_name=meta.positions
        |""".stripMargin)
    assert(t3.partitionColsByTable == Map(("d1", "t1") -> "id"))
    assert(t3.sinkType == "sql")
    assert(t3.resumer == TaskConfig.ResumeFromDb("meta.positions"))
    // legacy [resumer] keys are a config error (task_config.rs:1343)
    intercept[IllegalArgumentException](TaskConfig.fromIni(
      """[extractor]
        |extract_type=snapshot
        |url=/tmp/x
        |
        |[resumer]
        |resume_from_log=true
        |""".stripMargin))

    // a [checker] section without enable is a config error
    // (task_config.rs:788-798), as is an out-of-range sample_rate
    intercept[IllegalArgumentException](TaskConfig.fromIni(
      """[extractor]
        |extract_type=snapshot
        |url=/tmp/x
        |
        |[checker]
        |sample_rate=10
        |""".stripMargin))
    intercept[IllegalArgumentException](TaskConfig.fromIni(
      """[extractor]
        |extract_type=snapshot
        |url=/tmp/x
        |
        |[checker]
        |enable=true
        |sample_rate=200
        |""".stripMargin))
  }

  test("ini: reference keys no lane reads parse to the same Task as " +
      "their absence") {
    // each key set to a value other than the reference default; a
    // from_db resumer is the same database-table recorder as from_target
    val ignored = Map(
      "extractor" -> Seq("sample_rate=10", "heartbeat_interval_secs=7",
        "heartbeat_tb=meta.hb", "keepalive_idle_secs=120",
        "keepalive_interval_secs=3", "source=op_log", "app_name=my_app",
        "db_batch_size=25", "ddl_meta_tb=meta.ddl_log", "now_db_id=3",
        "ack_interval_secs=2", "group=g1", "topic=events",
        "partition=3", "offset=42", "repl_id=abc123",
        "repl_offset=777", "repl_port=10009",
        "start_timestamp=1700000000"),
      "sinker" -> Seq("replace=false", "disable_foreign_key_checks=false",
        "transaction_isolation=repeatable_read",
        "mongo_require_shard_key_filter=false", "ack_timeout_secs=9",
        "required_acks=all", "with_field_defs=false", "method=rewrite",
        "is_cluster=true", "stream_load_url=http://fe:8030",
        "app_name=my_app"),
      "pipeline" -> Seq("buffer_size=7", "buffer_memory_mb=256",
        "batch_sink_interval_secs=3", "with_field_defs=false"),
      "parallelizer" -> Seq("parallel_type=table"),
      "runtime" -> Seq("log_level=debug", "log_dir=/tmp/logs",
        "check_result_stdout_only=true"),
      "data_marker" -> Seq("topo_nodes=node1,node2"),
      "checker" -> Seq("db_type=mysql", "url=mysql://chk",
        "batch_size=7", "queue_size=11", "check_log_s3=true",
        "s3_bucket=bkt", "s3_region=us-east-1"),
      "resumer" -> Seq("url=mysql://meta", "db_type=mysql",
        "max_connections=2"))
    def ini(resumeType: String, withIgnored: Boolean): String = Seq(
      "extractor" -> Seq("extract_type=cdc", "url=/tmp/x"),
      "sinker" -> Seq("url=mysql://dst", "db_type=mysql"),
      "pipeline" -> Seq("counter_max_sub_count=50"),
      "parallelizer" -> Nil,
      "runtime" -> Nil,
      "data_marker" -> Seq("topo_name=topo1"),
      "checker" -> Seq("enable=true", "sample_rate=25"),
      "resumer" -> Seq(s"resume_type=$resumeType",
        "table_full_name=meta.positions")
    ).map { case (section, kept) =>
      val keys =
        if (withIgnored) kept ++ ignored(section) else kept
      (s"[$section]" +: keys).mkString("\n")
    }.mkString("\n\n")
    val bare = TaskConfig.fromIni(ini("from_target", withIgnored = false))
    assert(bare.resumer == TaskConfig.ResumeFromDb("meta.positions"))
    assert(bare.dataMarker.nonEmpty && bare.checker.nonEmpty)
    Seq("from_target", "from_db").foreach { r =>
      assert(TaskConfig.fromIni(ini(r, withIgnored = true)) == bare, r)
    }
  }

  test("ini: every reference extract_type token parses to its variant") {
    def parse(t: String) = TaskConfig.fromIni(
      s"[extractor]\nextract_type=$t\n[sinker]\n").extractType
    assert(parse("snapshot") == TaskConfig.SnapshotExtract)
    assert(parse("cdc") == TaskConfig.CdcExtract)
    assert(parse("snapshot_and_cdc") == TaskConfig.SnapshotAndCdcExtract)
    assert(parse("check_log") == TaskConfig.CheckLogExtract)
    assert(parse("struct") == TaskConfig.StructExtract)
    assert(parse("snapshot_file") == TaskConfig.SnapshotFileExtract)
    assert(parse("scan") == TaskConfig.ScanExtract)
    assert(parse("reshard") == TaskConfig.ReshardExtract)
    assert(parse("foxlake_s3") == TaskConfig.FoxlakeS3Extract)
    assert(parse("warc") == TaskConfig.WarcExtract)
    assert(parse("jsonl") == TaskConfig.JsonlExtract)
    val t = TaskConfig.fromIni(
      """[extractor]
        |extract_type=reshard
        |db_type=redis
        |slots_before=a@0-8191,b@8192-16383
        |slots_after=a@0-5460,b@5461-10922,c@10923-16383
        |statistic_type=big_key
        |scan_count=2
        |[sinker]
        |db_type=starrocks
        |[pipeline]
        |pipeline_type=http_server
        |http_port=18080
        |serve_timeout_secs=5
        |""".stripMargin)
    assert(t.dbType == "redis" && t.sinkDbType == "starrocks")
    assert(t.slotsBefore == Seq(RedisReshard.SlotRange(0, 8191, "a"),
      RedisReshard.SlotRange(8192, 16383, "b")))
    assert(t.slotsAfter.size == 3)
    assert(t.statisticType == "big_key" && t.scanCount == 2)
    assert(t.pipelineType == "http_server" && t.httpPort == 18080)
    assert(t.serveTimeoutSecs == 5)
  }

  test("check_log task replays a check's artifacts into revise " +
      "statements") {
    val sink = tmp("graft-checklog")
    val ini =
      s"""[extractor]
         |url=$sf
         |id_cols=region:r_regionkey
         |[filter]
         |do_tbs=region
         |[sinker]
         |url=$sink
         |""".stripMargin
    val task = TaskConfig.fromIni(ini)
    TaskRunner.runSnapshot(spark, task)
    // corrupt the sink copy: drop key 0 (→ MISS), rename key 1 (→ DIFF)
    val rows = spark.read.parquet(s"$sink/app.region")
    val broken = rows.filter(col("r_regionkey") =!= 0)
      .withColumn("r_name", when(col("r_regionkey") === 1, lit("XX"))
        .otherwise(col("r_name")))
      .collect()
    spark.createDataFrame(
        spark.sparkContext.parallelize(broken.toSeq), rows.schema)
      .write.mode("overwrite").parquet(s"$sink/app.region")
    val checked = TaskRunner.runCheck(spark, task).toMap
    assert(checked("region")("MISS") == 1L)
    assert(checked("region")("DIFF") == 1L)

    val replayTask = TaskConfig.fromIni(ini.replace(
      s"url=$sf", s"url=$sf\nextract_type=check_log\n" +
        s"check_log_dir=$sink/checklog"))
    assert(replayTask.extractType == TaskConfig.CheckLogExtract)
    val counts = TaskRunner.runCheckLogReplay(spark, replayTask).toMap
    assert(counts("region") == 2L)
    val revise = spark.read.parquet(s"$sink/revise/app.region")
      .collect().map(r => r.getAs[String]("op") ->
        r.getAs[String]("sql")).toMap
    assert(revise("insert").startsWith("INSERT INTO app.region"))
    assert(revise("update").contains("UPDATE app.region SET"))
    assert(revise("update").contains("r_name=?"))
    assert(revise("update").contains("WHERE r_regionkey="))
  }

  test("[checker] options: full-row lines, revise.sql artifact, " +
      "row-capped log rotation, sample_rate=100 passthrough") {
    val sink = tmp("graft-checkopts")
    val ini =
      s"""[extractor]
         |url=$sf
         |id_cols=region:r_regionkey
         |[filter]
         |do_tbs=region
         |[sinker]
         |url=$sink
         |[checker]
         |enable=true
         |sample_rate=100
         |output_full_row=true
         |output_revise_sql=true
         |check_log_max_rows=1
         |check_log_file_size=1gb
         |""".stripMargin
    val task = TaskConfig.fromIni(ini)
    TaskRunner.runSnapshot(spark, task)
    // drop keys 0,2 (→ 2 MISS, forcing rotation at max_rows=1) and
    // corrupt key 1 (→ DIFF)
    val rows = spark.read.parquet(s"$sink/app.region")
    val broken = rows.filter(!col("r_regionkey").isin(0, 2))
      .withColumn("r_name", when(col("r_regionkey") === 1, lit("XX"))
        .otherwise(col("r_name")))
      .collect()
    spark.createDataFrame(
        spark.sparkContext.parallelize(broken.toSeq), rows.schema)
      .write.mode("overwrite").parquet(s"$sink/app.region")
    val checked = TaskRunner.runCheck(spark, task).toMap
    assert(checked("region")("MISS") == 2L)
    assert(checked("region")("DIFF") == 1L)

    val logDir = Paths.get(s"$sink/checklog/app.region")
    // rotation: 2 MISS lines under max_rows=1 → miss.log + miss.1.log
    assert(Files.exists(logDir.resolve("miss.log")))
    assert(Files.exists(logDir.resolve("miss.1.log")))
    val missLines =
      (Files.readAllLines(logDir.resolve("miss.log")).size() +
        Files.readAllLines(logDir.resolve("miss.1.log")).size())
    assert(missLines == 2)
    // output_full_row: every line carries the full src image; the
    // DIFF line carries the dst image too
    val diffLine =
      Files.readAllLines(logDir.resolve("diff.log")).get(0)
    assert(diffLine.contains("\"src_row\""))
    assert(diffLine.contains("\"dst_row\""))
    assert(diffLine.contains("\"XX\""))
    // the rotated logs still replay through the reader glob
    val parsed = graft.infra.CheckLogs.read(spark,
      logDir.toString).collect()
    assert(parsed.length == 3)
    // output_revise_sql: the statement artifact exists with all shapes
    val revise =
      Files.readAllLines(logDir.resolve("revise.sql"))
    assert(revise.asScala.exists(_.startsWith("INSERT INTO")))
    assert(revise.asScala.exists(_.startsWith("UPDATE")))
  }

  test("partition_cols splits the snapshot output on the configured " +
      "column") {
    val sink = tmp("graft-partcols")
    val task = TaskConfig.fromIni(
      s"""[extractor]
         |url=$sf
         |parallel_size=4
         |partition_cols=json:[{"db":"app","tb":"customer","partition_col":"c_custkey"}]
         |[filter]
         |do_tbs=customer
         |[sinker]
         |url=$sink
         |""".stripMargin)
    val results = TaskRunner.runSnapshot(spark, task)
    assert(results.map(_.rows).sum > 0)
    val out = Paths.get(s"$sink/app.customer")
    val parts = Files.list(out).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("part-")).toSeq
    // repartitionByRange(4, c_custkey): multiple range files, and
    // each file's key range is disjoint (the chunked-extract shape)
    assert(parts.size > 1 && parts.size <= 4, s"parts=$parts")
    val ranges = parts.map { p =>
      val df = spark.read.parquet(s"$out/$p")
      (df.agg(min(col("c_custkey"))).head.getLong(0),
        df.agg(max(col("c_custkey"))).head.getLong(0))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) =>
        assert(hi < lo, s"overlapping ranges: $ranges")
      case _ => ()
    }
    // total content identical to the unpartitioned copy
    assert(spark.read.parquet(out.toString).count() ==
      results.map(_.rows).sum)
  }

  test("sink_type=sql renders the capture as literal statements; " +
      "reverse=true logs the undo stream") {
    // a small pgoutput capture: insert, update, delete on one table
    val w = new graft.sources.PgOutputWriter()
    w.relation(11L, "shop", "orders", 'f', Seq(
      graft.sources.PgOutput.RelColumn("id", keyPart = true, 20, -1),
      graft.sources.PgOutput.RelColumn("note", keyPart = false,
        25, -1)))
    w.begin(0x100L, 0L, 50L)
    w.insert(11L, Array("1", "it's new"))
    w.commit(0x100L, 0x110L, 0L)
    w.begin(0x200L, 0L, 51L)
    w.update(11L, Some('O'), Some(Array("1", "it's new")),
      Array("1", "paid"))
    w.commit(0x200L, 0x210L, 0L)
    w.begin(0x300L, 0L, 52L)
    w.delete(11L, 'O', Array("1", "paid"))
    w.commit(0x300L, 0x310L, 0L)
    val capture = Files.createTempFile("graft-sqlsink", ".wal")
    Files.write(capture, w.bytes())
    val sink = tmp("graft-sqlsink-out")
    def ini(reverse: Boolean): String =
      s"""[extractor]
         |db_type=pg
         |extract_type=cdc
         |url=$capture
         |id_cols=orders:id
         |[filter]
         |do_tbs=shop.*
         |[router]
         |db_map=shop:dw
         |[sinker]
         |db_type=mysql
         |sink_type=sql
         |reverse=$reverse
         |url=$sink
         |""".stripMargin
    val n = TaskRunner.runSqlSink(spark, TaskConfig.fromIni(
      ini(reverse = false)))
    assert(n == 3L)
    val lines = Files.readAllLines(
      Paths.get(s"$sink/sql.log")).asScala.toSeq
    assert(lines(0) ==
      "INSERT INTO `dw`.`orders` (`id`,`note`) " +
        "VALUES ('1','it''s new');")
    assert(lines(1) ==
      "UPDATE `dw`.`orders` SET `note`='paid' WHERE `id`='1';")
    assert(lines(2) == "DELETE FROM `dw`.`orders` WHERE `id`='1';")

    // the undo stream: inverse ops in stream order
    TaskRunner.runSqlSink(spark, TaskConfig.fromIni(
      ini(reverse = true))): Unit
    val undo = Files.readAllLines(
      Paths.get(s"$sink/sql.log")).asScala.toSeq
    assert(undo(0) == "DELETE FROM `dw`.`orders` WHERE `id`='1';")
    assert(undo(1) ==
      "UPDATE `dw`.`orders` SET `note`='it''s new' WHERE `id`='1';")
    assert(undo(2) ==
      "INSERT INTO `dw`.`orders` (`id`,`note`) VALUES ('1','paid');")
  }

  test("snapshot_file task parses an RDB dump into landed rows") {
    // minimal RDB: header, db 0, three plain string keys, EOF
    val out = new ByteArrayOutputStream()
    out.write("REDIS0011".getBytes("ascii"))
    def str(s: String): Unit = {
      out.write(s.length & 0x3f); out.write(s.getBytes("utf-8"))
    }
    out.write(0xfe); out.write(0) // SELECT 0
    Seq("alpha" -> "1", "beta" -> "2", "gamma" -> "3").foreach {
      case (k, v) => out.write(0); str(k); str(v)
    }
    out.write(0xff)
    val dump = Files.createTempFile("graft-rdb", ".rdb")
    Files.write(dump, out.toByteArray)
    val sink = tmp("graft-rdbsink")
    val task = TaskConfig.fromIni(
      s"""[extractor]
         |extract_type=snapshot_file
         |db_type=redis
         |file_path=$dump
         |[sinker]
         |url=$sink
         |""".stripMargin)
    val r = TaskRunner.runSnapshotFile(spark, task)
    assert(r.rows == 3L)
    val landed = spark.read.parquet(s"$sink/redis.snapshot")
      .collect().map(x => x.getAs[String]("key") ->
        x.getAs[String]("value")).toMap
    assert(landed == Map("alpha" -> "1", "beta" -> "2", "gamma" -> "3"))
  }

  test("scan task: hot-key and big-key reports over a captured " +
      "keyspace, with SCAN pagination") {
    val fixture = Files.createTempFile("graft-keyspace", ".jsonl")
    Files.writeString(fixture,
      """{"policy":"allkeys-lfu"}
        |{"db":0,"key":"k1","type":"string","freq":5,"bytes":64}
        |{"db":0,"key":"k2","type":"string","freq":9,"bytes":32}
        |{"db":0,"key":"k3","type":"hash","freq":2,"bytes":100000}
        |{"db":2,"key":"other","type":"string","freq":1,"bytes":16}
        |""".stripMargin)
    val sink = tmp("graft-scansink")
    def task(mode: String) = TaskConfig.fromIni(
      s"""[extractor]
         |extract_type=scan
         |db_type=redis
         |statistic_type=$mode
         |scan_count=2
         |keyspace_fixture=$fixture
         |[sinker]
         |url=$sink
         |""".stripMargin)
    val hot = TaskRunner.runScan(spark, task("hot_key"), topK = 1)
      .collect().map(r => r.getAs[Long]("db") ->
        (r.getAs[String]("key"), r.getAs[Long]("freq"))).toMap
    assert(hot == Map(0L -> (("k2", 9L)), 2L -> (("other", 1L))))
    val big = TaskRunner.runScan(spark, task("big_key"), topK = 1)
    val hashTop = big.filter(col("valueType") === "hash").collect()
    assert(hashTop.length == 1 &&
      hashTop.head.getAs[String]("key") == "k3" &&
      hashTop.head.getAs[Long]("data_size") == 100000L)
  }

  test("reshard task plans slot moves and per-key moves from a dump") {
    val out = new ByteArrayOutputStream()
    out.write("REDIS0011".getBytes("ascii"))
    out.write(0xfe); out.write(0)
    Seq("user:1", "user:2").foreach { k =>
      out.write(0); out.write(k.length & 0x3f)
      out.write(k.getBytes("utf-8"))
      out.write(1); out.write("v".getBytes("utf-8"))
    }
    out.write(0xff)
    val dump = Files.createTempFile("graft-reshard", ".rdb")
    Files.write(dump, out.toByteArray)
    val sink = tmp("graft-reshardsink")
    val task = TaskConfig.fromIni(
      s"""[extractor]
         |extract_type=reshard
         |db_type=redis
         |slots_before=a@0-16383
         |slots_after=a@0-8191,b@8192-16383
         |file_path=$dump
         |[sinker]
         |url=$sink
         |""".stripMargin)
    val plan = TaskRunner.runReshard(spark, task).collect()
    assert(plan.length == 1)
    assert(plan.head.getAs[Int]("from_slot") == 8192 &&
      plan.head.getAs[Int]("to_slot") == 16383 &&
      plan.head.getAs[String]("from_node") == "a" &&
      plan.head.getAs[String]("to_node") == "b")
    val keyMoves = spark.read.parquet(s"$sink/reshard.keys")
    // every dump key is classified; the moves flag matches its slot
    assert(keyMoves.count() == 2L)
    keyMoves.collect().foreach { m =>
      val slot = RedisReshard.slotOf(m.getAs[String]("key"))
      val moved = m.getAs[Boolean]("moves")
      assert(moved == (slot >= 8192), s"slot $slot moved=$moved")
      assert(m.getAs[String]("to_node") ==
        (if (slot >= 8192) "b" else "a"))
    }
  }

  test("foxlake_s3 task reads staged lake batches back through the " +
      "meta protocol") {
    val root = tmp("graft-lakeroot")
    val batch = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    LakeSink.stageWithMeta(batch, root, "app", "region",
      sequencerId = 1L, pushSequence = 0L)
    LakeSink.stageWithMeta(Seq((3L, "z")).toDF("k", "v"), root,
      "app", "region", sequencerId = 1L, pushSequence = 1L)
    val sink = tmp("graft-lakesink")
    val task = TaskConfig.fromIni(
      s"""[extractor]
         |extract_type=foxlake_s3
         |s3_root_dir=$root
         |[filter]
         |do_tbs=region
         |[sinker]
         |url=$sink
         |""".stripMargin)
    val results = TaskRunner.runFoxlakeS3(spark, task)
    assert(results.map(r => (r.tb, r.rows)) == Seq(("region", 3L)))
    val landed = spark.read.parquet(s"$sink/app.region")
    assert(landed.select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // every row carries the meta-file position it arrived under
    assert(landed.filter(col("position").isNull).isEmpty)
  }

  test("http_server pipeline: staged snapshot serves over the " +
      "subscription endpoints") {
    val sink = tmp("graft-httpsnap")
    val task = TaskConfig.fromIni(
      s"""[extractor]
         |url=$sf
         |[filter]
         |do_tbs=region,nation
         |[sinker]
         |url=$sink
         |[pipeline]
         |pipeline_type=http_server
         |""".stripMargin)
    val (sub, results) = TaskRunner.stageSnapshot(spark, task)
    assert(results.map(_.tb).toSet == Set("region", "nation"))
    assert(sub.offsets() == Seq(0L, 1L))
    val srv = new graft.infra.SubscriptionServer(spark, sub)
    try {
      val conn = URI.create(
          s"http://127.0.0.1:${srv.boundPort}/fetch_new?batch_size=100")
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      val body = try new String(conn.getInputStream.readAllBytes(),
        "UTF-8") finally conn.disconnect()
      val tree = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(body)
      assert(tree.get("batch_id").asLong() == 0L)
      val data = tree.get("data")
      assert(data.size() > 0)
      // the demux stamp is on every served row
      assert((0 until data.size()).forall(i =>
        data.get(i).get("dst_table").asText() == "app.region"))
    } finally srv.stop()
  }

  test("extract_type=jsonl: plain + gzipped lines ingest, malformed " +
      "lines quarantine, ids are stable folds") {
    val src = tmp("jsonl_src")
    val sink = tmp("jsonl_sink")
    val lines = Seq(
      """{"id": "doc-a", "url": "http://a/1", "text": "alpha text", "lang": "en"}""",
      """{"text": "no id doc gets a text fold"}""",
      """{"id": "doc-c", "text": null}""",
      """this is not json at all""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(src, "part-0.jsonl"),
      String.join("\n", lines: _*)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // a second, gzipped part — the codec path must be transparent
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$src/part-1.jsonl.gz"))
    gz.write("""{"id": "doc-z", "text": "gzipped doc text"}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    gz.close()
    val task = graft.config.TaskConfig.fromIni(
      s"""[extractor]
         |extract_type=jsonl
         |url=$src
         |
         |[sinker]
         |url=$sink
         |""".stripMargin)
    val s1 = TaskRunner.runJsonl(spark, task)
    assert(s1.nDocs == 3)      // doc-a, no-id, doc-z
    assert(s1.nBadLines == 2)  // null text + unparseable line
    assert(s1.withUrl == 1)
    val docs = spark.read.parquet(s"$sink/documents.parquet")
    assert(docs.columns.toSet ==
      Set("doc_id", "raw_id", "url", "lang", "text"))
    // stable id contract: re-running lands identical doc_ids
    val ids1 = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    TaskRunner.runJsonl(spark, task)
    val ids2 = spark.read.parquet(s"$sink/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2 && ids1.size == 3)
    // the landed frame IS curation-chain input: the precheck passes
    val gates = graft.infra.Precheck.checkCorpusContract(spark, sink)
    assert(gates.forall(_.ok), gates.mkString("; "))
  }
}
