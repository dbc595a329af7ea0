package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.config.TaskManager

/** Both task entry points run every extract type through the one
  * `TaskRunner.run` dispatcher: the kinds that only `Main` used to
  * handle behave the same when started through the task manager, and
  * the task manager's `[resumer]` handling reaches `Main`.
  */
class TaskDispatchSpec extends SparkSuite {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** One committed txn of two inserts into public.t_cdc. */
  private def capture(): String = {
    val w = new graft.sources.PgOutputWriter()
    w.relation(3L, "public", "t_cdc", 'd', Seq(
      graft.sources.PgOutput.RelColumn("id", keyPart = true, 20, -1),
      graft.sources.PgOutput.RelColumn("v", keyPart = false, 25, -1)))
    w.begin(0x30000100L, 1L, 77L)
    w.insert(3L, Array("1", "a"))
    w.insert(3L, Array("2", "b"))
    w.commit(0x30000100L, 0x30000200L, 1L)
    val f = Files.createTempFile("dispatch-cdc", ".wal")
    Files.write(f, w.bytes())
    f.toString
  }

  /** A loopback stream-load endpoint that accepts every PUT and keeps
    * (request path, body).
    */
  private def withWarehouse(
      body: (Int, mutable.Buffer[(String, String)]) => Unit): Unit = {
    val puts = mutable.ArrayBuffer.empty[(String, String)]
    val wh = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    wh.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) =>
      try {
        val text = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        puts.synchronized(puts += ex.getRequestURI.getPath -> text)
        val reply = """{"Status":"Success"}""".getBytes("UTF-8")
        ex.sendResponseHeaders(200, reply.length.toLong)
        val os = ex.getResponseBody
        try os.write(reply) finally os.close()
      } finally ex.close())
    wh.start()
    try body(wh.getAddress.getPort, puts) finally wh.stop(0)
  }

  test("a check-shaped snapshot checks the target instead of copying " +
      "over it, and writes the check logs") {
    val state = tmp("dispatch-chk-state")
    val sink = tmp("dispatch-chk-sink")
    Tables.load(spark, sf, "region").limit(1)
      .write.parquet(s"$sink/app_replica.region")
    TaskManager.create(state, "chk",
      s"""[extractor]
         |extract_type=snapshot
         |url=$sf
         |id_cols=region:r_regionkey
         |
         |[filter]
         |do_tbs=region
         |
         |[router]
         |db_map=app:app_replica
         |
         |[sinker]
         |url=$sink
         |
         |[checker]
         |enable=true
         |""".stripMargin)
    val meta = TaskManager.start(spark, state, "chk")
    assert(meta.status == "finished", meta.error)
    assert(spark.read.parquet(s"$sink/app_replica.region").count() == 1)
    assert(Files.isDirectory(Paths.get(s"$sink/checklog/app_replica.region")))
    val logs = TaskManager.logs(state, "chk")
    assert(logs.exists(l => l.contains("check region") &&
      l.contains("MISS=4") && l.contains("OK=1")), logs)
  }

  test("snapshot_and_cdc copies the admitted tables and drains the " +
      "capture into the warehouse") {
    val state = tmp("dispatch-sc-state")
    val wal = capture()
    withWarehouse { (port, puts) =>
      TaskManager.create(state, "sc",
        s"""[extractor]
           |extract_type=snapshot_and_cdc
           |url=$sf
           |slot_name=sc_slot
           |batch_size=10
           |id_cols=t_cdc:id
           |wal_capture=$wal
           |
           |[filter]
           |do_tbs=app.region,public.t_cdc
           |
           |[sinker]
           |url=http://127.0.0.1:$port
           |""".stripMargin)
      val meta = TaskManager.start(spark, state, "sc")
      assert(meta.status == "finished", meta.error)
      val logs = TaskManager.logs(state, "sc")
      assert(logs.exists(_.contains("snapshot app.region -> app.region " +
        "rows=5")), logs)
      assert(logs.exists(_.contains("shipped=2")), logs)
      // every shipped row carries the soft-delete sign column once
      def rowsTo(tb: String) = puts.synchronized(puts.toSeq)
        .filter(_._1.contains(s"/$tb/"))
        .map(_._2.split("_graft_is_deleted", -1).length - 1).sum
      assert(rowsTo("region") == 5)
      assert(rowsTo("t_cdc") == 2)
      assert(Files.exists(Paths.get(state, "sc", "positions.log")))
    }
  }

  test("snapshot_and_cdc without a capture fails loudly instead of " +
      "finishing with nothing done") {
    val state = tmp("dispatch-sc-bare")
    TaskManager.create(state, "bare",
      s"""[extractor]
         |extract_type=snapshot_and_cdc
         |url=$sf
         |
         |[filter]
         |do_tbs=region
         |
         |[sinker]
         |url=${tmp("dispatch-sc-bare-sink")}
         |""".stripMargin)
    val meta = TaskManager.start(spark, state, "bare")
    assert(meta.status == "failed")
    assert(meta.error.exists(_.contains(
      "snapshot_and_cdc needs [extractor] wal_capture= and slot_name=")),
      meta.error)
  }

  test("a cdc task with [checker] enable=true fails before reading its " +
      "capture instead of shipping unchecked") {
    val state = tmp("dispatch-cdc-chk")
    val wal = capture()
    withWarehouse { (port, puts) =>
      TaskManager.create(state, "cdcchk",
        s"""[extractor]
           |extract_type=cdc
           |slot_name=chk_slot
           |batch_size=10
           |id_cols=t_cdc:id
           |wal_capture=$wal
           |
           |[filter]
           |do_dbs=public
           |
           |[sinker]
           |url=http://127.0.0.1:$port
           |
           |[checker]
           |enable=true
           |""".stripMargin)
      val meta = TaskManager.start(spark, state, "cdcchk")
      assert(meta.status == "failed", meta.error)
      assert(meta.error.exists(_.contains("inline CDC check")), meta.error)
      assert(puts.isEmpty)
      assert(!Files.exists(Paths.get(state, "cdcchk", "positions.log")))
    }
  }

  test("sink_type=sql logs the capture as runnable statements") {
    val state = tmp("dispatch-sql-state")
    val sink = tmp("dispatch-sql-sink")
    TaskManager.create(state, "sql",
      s"""[extractor]
         |extract_type=cdc
         |wal_capture=${capture()}
         |id_cols=t_cdc:id
         |
         |[filter]
         |do_dbs=public
         |
         |[sinker]
         |sink_type=sql
         |db_type=pg
         |url=$sink
         |""".stripMargin)
    val meta = TaskManager.start(spark, state, "sql")
    assert(meta.status == "finished", meta.error)
    val sql = new String(Files.readAllBytes(Paths.get(sink, "sql.log")),
      "UTF-8")
    assert(sql.linesIterator.count(_.startsWith("INSERT INTO")) == 2, sql)
    assert(TaskManager.logs(state, "sql")
      .exists(_.contains("sql.log statements=2")))
  }

  test("pipeline_type=http_server stages the spool, serves it until the " +
      "timeout, and writes no sink table") {
    val state = tmp("dispatch-http-state")
    val sink = tmp("dispatch-http-sink")
    TaskManager.create(state, "http",
      s"""[extractor]
         |extract_type=snapshot
         |url=$sf
         |
         |[filter]
         |do_tbs=region
         |
         |[sinker]
         |url=$sink
         |
         |[pipeline]
         |pipeline_type=http_server
         |http_host=127.0.0.1
         |http_port=0
         |serve_timeout_secs=1
         |""".stripMargin)
    val meta = TaskManager.start(spark, state, "http")
    assert(meta.status == "finished", meta.error)
    assert(spark.read.parquet(s"$sink/spool/batch=0").count() == 5)
    assert(!Files.exists(Paths.get(sink, "app.region")))
    val logs = TaskManager.logs(state, "http")
    assert(logs.exists(_.contains("snapshot app.region staged")), logs)
    assert(logs.exists(_.contains("serve timeout")), logs)
  }

  test("Main runs a jsonl task: the parquet catalog precheck applies " +
      "only to the kinds that read the catalog") {
    val dir = tmp("dispatch-main-jsonl")
    Files.createDirectories(Paths.get(dir, "corpus"))
    Files.writeString(Paths.get(dir, "corpus", "a.jsonl"),
      "{\"id\":\"1\",\"text\":\"hello world\"}\nnot json\n")
    val ini = Paths.get(dir, "jsonl.ini")
    Files.writeString(ini,
      s"""[extractor]
         |extract_type=jsonl
         |url=$dir/corpus
         |
         |[sinker]
         |url=$dir/out
         |""".stripMargin)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Main.run(spark, Array(ini.toString)))
    val printed = out.toString("UTF-8")
    assert(printed.contains("jsonl docs=1 bad_lines=1"), printed)
    assert(!printed.contains("precheck"), printed)
  }

  test("Main honors [resumer] resume_type=from_log: positions land " +
      "under log_dir") {
    val dir = tmp("dispatch-main-resumer")
    val logDir = s"$dir/positions"
    val wal = capture()
    withWarehouse { (port, puts) =>
      val ini = Paths.get(dir, "cdc.ini")
      Files.writeString(ini,
        s"""[extractor]
           |extract_type=cdc
           |slot_name=main_slot
           |batch_size=10
           |id_cols=t_cdc:id
           |wal_capture=$wal
           |
           |[filter]
           |do_dbs=public
           |
           |[sinker]
           |url=http://127.0.0.1:$port
           |
           |[resumer]
           |resume_type=from_log
           |log_dir=$logDir
           |""".stripMargin)
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out)(Main.run(spark, Array(ini.toString)))
      val printed = out.toString("UTF-8")
      assert(printed.contains("shipped=2"), printed)
      assert(printed.contains("task finished"), printed)
      assert(puts.nonEmpty)
      assert(Files.exists(Paths.get(logDir, "cdc.ini.positions.log")))
      assert(!Files.exists(Paths.get(s"$wal.positions")))
    }
  }
}
