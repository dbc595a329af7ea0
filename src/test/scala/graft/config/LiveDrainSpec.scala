package graft.config

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.infra.{Footers, Fs}
import graft.operators.{NameFilter, Router, TableToken}
import graft.sinks.LandedTable

/** The live mysql/pg drain's landing half — `LiveCdc.landBatch` plus
  * `LandedTable.compactAll`/`finalizeAll` — against a naive
  * last-writer-wins replay: routed-key compaction within a batch, one
  * merge plan over every landed table, the single-delta rule, a
  * constant Spark job count whatever the table count, a merge write of
  * at most one task per core, and restart after a crash between any
  * two per-table commits.
  */
class LiveDrainSpec extends graft.SparkSuite {

  /** (seq, schema, tb, row_type, key, payload) — the decoded event. */
  private type Ev = (Long, String, String, String, Option[String], String)

  private def batchDf(evs: Seq[Ev]): DataFrame = {
    val s = spark
    import s.implicits._
    evs.toDF("seq", "schema", "tb", "row_type", "key", "payload")
      .withColumn("origin", lit(null).cast("string"))
  }

  private val sources =
    Seq(("app", "t1"), ("app", "t2"), ("app", "t3"), ("skip", "t4"))

  /** Seeded batches: six hot keys per table, about one null key in
    * twenty, inserts/updates/deletes; seqs grow across batches.
    */
  private def batches(seed: Long, n: Int, size: Int = 40)
      : Seq[Seq[Ev]] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { b =>
      (0 until size).map { i =>
        val (db, tb) = sources(rnd.nextInt(sources.size))
        val key =
          if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(6).toString)
        val rt = Seq("insert", "update", "delete", "update")(rnd.nextInt(4))
        val seq = (seed * 100 + b) * 1000L + i
        (seq, db, tb, rt, key, s"v$seq-$db.$tb")
      }
    }
  }

  private def task(sink: String, events: String): TaskConfig.Task =
    TaskConfig.fromIni(
      s"""[extractor]
         |db_type=mysql
         |extract_type=cdc
         |url=mysql://u:p@127.0.0.1:3306
         |
         |[filter]
         |do_tbs=app.*
         |$events
         |
         |[router]
         |db_map=app:rep
         |tb_map=app.t1:rep.t,app.t2:rep.t
         |
         |[sinker]
         |url=$sink
         |""".stripMargin)

  /** The naive replay: every admitted event in order, last writer wins
    * per routed (table, key); NULL-key rows all land.
    */
  private def replay(t: TaskConfig.Task, evs: Seq[Ev])
      : Map[String, Seq[(Option[String], String)]] =
    evs.filter { case (_, db, tb, rt, _, _) =>
      t.filter.allowEvent(rt) && t.filter.allowTable(db, tb)
    }.sortBy(_._1).groupBy { case (_, db, tb, _, _, _) =>
      val (d, b) = t.router.routeTable(db, tb); s"$d.$b"
    }.map { case (dest, es) =>
      val nulls = es.filter(_._5.isEmpty).map(e => (e._5, e._6))
      val last = es.filter(_._5.nonEmpty).groupBy(_._5).values
        .map(_.last).filter(_._4 != "delete").map(e => (e._5, e._6))
      dest -> (nulls ++ last).sorted
    }

  private def flat(sink: String): Map[String, Seq[(Option[String], String)]] =
    Fs.listNames(sink).filter(_.contains(".")).map { t =>
      t -> spark.read.parquet(s"$sink/$t").collect()
        .map(r => (Option(r.getString(0)), r.getString(1))).toSeq.sorted
    }.toMap

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def land(t: TaskConfig.Task, sink: String,
      bs: Seq[(Seq[Ev], Long)],
      touched: scala.collection.mutable.Set[String]): Unit =
    bs.foreach { case (evs, id) =>
      LiveCdc.landBatch(t, sink, touched)(batchDf(evs), id)
    }

  Seq("" -> "all events", "do_events=insert,delete" -> "updates dropped")
    .foreach { case (events, label) =>
      test(s"drains equal a naive last-writer-wins replay ($label): " +
          "tb_map collision, tombstones, null keys, a filtered table, " +
          "cadence merge, and later drains over the base") {
        val sink = tmp("drain-eq")
        val t = task(sink, events)
        val bs = batches(7L, 14).zipWithIndex.map { case (b, i) =>
          (b, i.toLong) }
        val touched = scala.collection.mutable.Set[String]()
        // drain 1: batches 0..9 (batch 7 is a cadence merge, 8..9
        // leave two outstanding deltas); drain 2: 10..12 over the
        // base; drain 3: one batch over the base
        Seq(bs.take(10), bs.slice(10, 13), bs.drop(13)).foldLeft(
            Seq.empty[Ev]) { (seen, drain) =>
          land(t, sink, drain, touched)
          val tables = LandedTable.finalizeAll(spark, sink)
          val all = seen ++ drain.flatMap(_._1)
          val want = replay(t, all)
          assert(flat(sink) == want)
          assert(tables.sorted == want.keys.toSeq.sorted)
          tables.foreach { tb =>
            assert(Footers.rowCount(s"$sink/$tb") ==
              want(tb).size.toLong, tb)
          }
          all
        }
        assert(!Fs.exists(s"$sink/skip.t4"))
        assert(Fs.listNames(sink).forall(n => n.contains(".")))
      }
    }

  test("two landBatch calls before finalize equal the one-batch " +
      "result (the multi-delta merge)") {
    val Seq(a, b) = batches(11L, 2, size = 60)
    val t = task("/unused", "")
    val two = tmp("drain-two")
    land(task(two, ""), two, Seq((a, 0L), (b, 1L)),
      scala.collection.mutable.Set())
    LandedTable.finalizeAll(spark, two)
    val one = tmp("drain-one")
    land(task(one, ""), one, Seq((a ++ b, 0L)),
      scala.collection.mutable.Set())
    LandedTable.finalizeAll(spark, one)
    assert(flat(two) == flat(one))
    assert(flat(one) == replay(t, a ++ b))
  }

  /** Tables `t00..` under a fresh sink, each with a committed base and
    * `deltas` outstanding deltas over it.
    */
  private def landedTables(n: Int, deltas: Int): String = {
    val sink = tmp("drain-jobs")
    (0 until n).foreach { i =>
      val table = f"$sink/app.t$i%02d"
      val s = spark
      import s.implicits._
      def rows(bseq: Long, from: Int) = (from until from + 20).map(k =>
        (bseq, k.toLong, "insert", k.toString, s"v$bseq-$k"))
        .toDF("bseq", "seq", "row_type", "key", "payload")
      LandedTable.writeDelta(rows(0L, 0), table, 0L)
      LandedTable.compactAll(spark, Seq(table))
      (1 to deltas).foreach(d =>
        LandedTable.writeDelta(rows(d.toLong, 10 * d), table, d.toLong))
    }
    sink
  }

  private def jobsDuring(f: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // listener delivery is async: wait for the count to go stable
    def settle(): Unit = {
      var last = -1
      while (jobs.get() != last) {
        last = jobs.get(); Thread.sleep(300)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      settle() // events of earlier jobs still queued on the bus
      jobs.set(0)
      f
      settle()
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("finalizing 1 table and 12 tables runs the same number of " +
      "Spark jobs (one merge plan, footer-only counts)") {
    Seq(1, 2).foreach { deltas =>
      val counts = Seq(1, 12).map { n =>
        val sink = landedTables(n, deltas)
        val jobs = jobsDuring {
          LandedTable.finalizeAll(spark, sink).foreach(t =>
            Footers.rowCount(s"$sink/$t"))
        }
        assert(Fs.listNames(sink).count(_.contains(".")) == n)
        assert(Footers.rowCount(s"$sink/app.t00") ==
          20L + 10L * deltas)
        jobs
      }
      assert(counts.head > 0)
      assert(counts.head == counts.last,
        s"$deltas outstanding deltas per table: finalize ran " +
          s"${counts.head} jobs for 1 table, ${counts.last} for 12")
    }
  }

  test("compactAll's write runs at most one task per core, not one " +
      "per delta file") {
    val sink = tmp("drain-tasks")
    val s = spark
    import s.implicits._
    val tables = (0 until 12).map { i =>
      val table = f"$sink/app.t$i%02d"
      val src = s"$sink/_src-$i"
      (0 until 20).map(k => (0L, k.toLong, "insert", k.toString, s"v$i-$k"))
        .toDF("bseq", "seq", "row_type", "key", "payload")
        .repartition(4).write.parquet(src)
      LandedTable.adoptDelta(src, table, 0L)
      assert(Fs.listNames(s"$table/_delta/d00000000")
        .count(_.endsWith(".parquet")) == 4)
      table
    }
    val widest = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(st: org.apache.spark.scheduler
          .SparkListenerStageCompleted): Unit = {
        widest.accumulateAndGet(st.stageInfo.numTasks,
          (a, b) => math.max(a, b)); ()
      }
    }
    org.apache.spark.sql.graft.PlanBridge.settleListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try assert(LandedTable.compactAll(spark, tables) == tables)
    finally {
      org.apache.spark.sql.graft.PlanBridge.settleListeners(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(widest.get > 0)
    assert(widest.get <= spark.sparkContext.defaultParallelism,
      s"the compaction write ran ${widest.get} tasks")
    tables.foreach(t => assert(LandedTable.read(spark, t).count() == 20, t))
  }

  test("a crash after k of n per-table commits, for every k, then a " +
      "re-run finalize gives the clean run's flat tables") {
    // four shapes: base + one delta, base + two deltas, no base, and
    // a table whose every key is deleted
    def build(): String = {
      val sink = tmp("drain-crash")
      val t = task(sink, "")
      val touched = scala.collection.mutable.Set[String]()
      def ev(seq: Long, tb: String, rt: String, k: String): Ev =
        (seq, "app", tb, rt, Some(k), s"v$seq")
      land(t, sink, Seq(
        (Seq(ev(1, "t1", "insert", "1"), ev(2, "t1", "insert", "2"),
          ev(3, "t3", "insert", "1")), 0L)), touched)
      LandedTable.finalizeAll(spark, sink)
      land(t, sink, Seq(
        (Seq(ev(11, "t1", "update", "1"), ev(12, "t3", "delete", "1"),
          ev(13, "t3", "insert", "2"), ev(14, "t1", "delete", "2")), 1L),
        (Seq(ev(21, "t3", "update", "2"), ev(22, "t3", "insert", "3")),
          2L)), touched)
      land(task(sink, "").copy(router = Router()), sink, Seq(
        (Seq(ev(31, "t5", "insert", "1"), ev(32, "t6", "insert", "1"),
          ev(33, "t6", "delete", "1")), 3L)), touched)
      sink
    }
    val clean = build()
    LandedTable.finalizeAll(spark, clean)
    val want = flat(clean)
    assert(want.keySet == Set("rep.t", "rep.t3", "app.t5", "app.t6"))
    assert(want("app.t6").isEmpty)
    val n = 4
    (0 to n).foreach { k =>
      val sink = build()
      val tables = Fs.listNames(sink).filter(_.contains(".")).sorted
        .map(t => s"$sink/$t")
      val crash = new RuntimeException(s"crash after $k commits")
      val thrown = intercept[RuntimeException] {
        LandedTable.compactAll(spark, tables,
          afterCommits = done => if (done == k) throw crash)
      }
      assert(thrown eq crash)
      // every table stays readable mid-crash, committed or not
      tables.foreach(t => LandedTable.read(spark, t).count())
      LandedTable.finalizeAll(spark, sink)
      assert(flat(sink) == want, s"k=$k")
      assert(Fs.listNames(sink).forall(n =>
        n.contains(".") && !n.startsWith("_")), s"k=$k leftovers")
    }
  }

  test("the in-plan filter and route columns agree with allowTable " +
      "and routeTable") {
    val names = Seq(("app", "t1"), ("app", "t10"), ("App", "t1"),
      ("ap", "x"), ("logs", "2024_01"), ("logs", "tmp"), ("a.b", "c"),
      ("other", "t1"), ("app", "a?c"), ("app", "abc"))
    val filters = Seq(
      NameFilter(),
      NameFilter(doSchemas = Seq("app", "logs")),
      NameFilter(doTbs = Seq(TableToken("app", "t?"),
        TableToken("r#l.g.#", "r#\\d{4}_\\d+#"))),
      NameFilter(doSchemas = Seq("*"), ignoreTbs =
        Seq(TableToken("app", "`a?c`")), ignoreSchemas = Seq("a*.b")),
      NameFilter(doTbs = Seq(TableToken("*", "t1")),
        ignoreSchemas = Seq("\"App\"")))
    val router = Router(schemaMap = Map("app" -> "rep", "logs" -> "l2"),
      tbMap = Map(("app", "t1") -> (("rep", "t")),
        ("other", "t1") -> (("rep", "t"))))
    val s = spark
    import s.implicits._
    val df = names.toDF("schema", "tb")
    filters.foreach { f =>
      val got = df.filter(f.tableAllowed(col("schema"), col("tb")))
        .as[(String, String)].collect().toSeq.sorted
      assert(got == names.filter { case (d, t) => f.allowTable(d, t) }
        .sorted, f.toString)
    }
    Seq(router, Router()).foreach { r =>
      val got = df.select(col("schema"), col("tb"),
          r.routedName(col("schema"), col("tb")))
        .as[(String, String, String)].collect().toSeq.sorted
      assert(got == names.map { case (d, t) =>
        val (rd, rt) = r.routeTable(d, t); (d, t, s"$rd.$rt")
      }.sorted)
    }
  }
}
