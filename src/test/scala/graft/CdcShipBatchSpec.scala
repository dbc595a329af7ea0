package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  StructField, StructType}

import graft.config.TaskConfig
import graft.model.ChangeEvent
import graft.sinks.StreamLoadSink
import graft.streaming.CdcTask

/** `CdcTask.prepareBatch(...)()` ships a whole multi-table batch as one
  * plan: the lines it ships must equal a naive per-table last-write-wins
  * replay, its job count must not grow with the number of tables, and a
  * batch of ~100 tables (one wide per-table JSON selection) must still
  * ship the right lines.
  */
class CdcShipBatchSpec extends SparkSuite {
  import CdcShipBatchSpec._

  private val ignoreItems =
    """json:[{"db":"public","tb":"items","ignore_cols":["d","a"]}]"""

  private def task(extra: String = ""): TaskConfig.Task =
    TaskConfig.fromIni(
      s"""[extractor]
         |extract_type=cdc
         |slot_name=s
         |parallel_size=3
         |id_cols=items:a+b
         |
         |[filter]
         |ignore_cols=$ignoreItems
         |
         |[router]
         |db_map=public:dw
         |tb_map=public.orders:dw.orders_dw
         |col_map=public.orders.amount:amt
         |
         |[sinker]
         |url=http://127.0.0.1:1
         |batch_size=7
         |$extra
         |""".stripMargin)

  private val wideCols = (1 to 9).map(i => s"c$i")

  private val expects: Map[(String, String), Expect] = Map(
    ("public", "orders") -> Expect(Seq("id", "amount", "note"),
      Seq("id", "amt", "note"), Seq("id"), ("dw", "orders_dw")),
    // d is ignored; a is a key, so it stays although listed
    ("public", "items") -> Expect(Seq("a", "b", "c", "e"),
      Seq("a", "b", "c", "e"), Seq("a", "b"), ("dw", "items")),
    ("public", "nk") -> Expect(Seq("k", "v"), Seq("k", "v"), Seq("k"),
      ("dw", "nk")),
    // no relation message: columns come from the first event's image,
    // sorted, and the key is the first of them
    ("other", "wide") -> Expect(wideCols, wideCols, Seq("c1"),
      ("other", "wide")))

  private val relCols = Map(
    ("public", "orders") -> Seq("id", "amount", "note"),
    ("public", "items") -> Seq("a", "b", "c", "d", "e"),
    ("public", "nk") -> Seq("k", "v"))
  private val relKeys = Map(
    ("public", "orders") -> Seq("id"),
    ("public", "items") -> Seq.empty[String],
    ("public", "nk") -> Seq("k"))

  private def ev(s: String, tb: String, rowType: String,
      before: Map[String, String], after: Map[String, String]) =
    ChangeEvent(s, tb, 0L, rowType, before, after, "pg", "0/0", "")

  /** A seeded multi-table batch: hot keys so compaction merges, some
    * null non-key values, and `public.nk` rows whose key is null.
    */
  private def batch(seed: Long, n: Int): Seq[ChangeEvent] = {
    val rnd = new Random(seed)
    def v(): String =
      if (rnd.nextInt(6) == 0) null else rnd.nextInt(1000).toString
    def op(): String = Seq("insert", "update", "delete")(rnd.nextInt(3))
    def image(cols: Seq[String], keys: Map[String, String]) =
      cols.map(c => c -> keys.getOrElse(c, v())).toMap
    def change(s: String, tb: String, cols: Seq[String],
        keys: Map[String, String]): ChangeEvent = op() match {
      case "insert" => ev(s, tb, "insert", Map.empty, image(cols, keys))
      case "update" =>
        ev(s, tb, "update", image(cols, keys), image(cols, keys))
      case _ => ev(s, tb, "delete", image(cols, keys), Map.empty)
    }
    (0 until n).map { _ =>
      rnd.nextInt(4) match {
        case 0 => change("public", "orders", relCols(("public", "orders")),
          Map("id" -> rnd.nextInt(8).toString))
        case 1 => change("public", "items", relCols(("public", "items")),
          Map("a" -> rnd.nextInt(3).toString, "b" -> rnd.nextInt(3).toString))
        case 2 => change("public", "nk", relCols(("public", "nk")),
          Map("k" -> (if (rnd.nextInt(4) == 0) null
            else rnd.nextInt(5).toString)))
        case _ => change("other", "wide", wideCols,
          Map("c1" -> rnd.nextInt(6).toString))
      }
    }
  }

  /** Prepare and ship through `prepareBatch` into the collecting sinks. */
  private def ship(t: TaskConfig.Task, events: Seq[ChangeEvent],
      rc: Map[(String, String), Seq[String]] = relCols,
      rk: Map[(String, String), Seq[String]] = relKeys)
      : (Seq[Shipped], Map[(String, String), Long]) = {
    shipped.clear(); chunkSizes.clear()
    val counts = CdcTask.prepareBatch(spark, t, 7L, events, rc, rk,
      (db, tb, batchId, op) => new CollectingSink(db, tb, batchId, op))()
    (shipped.asScala.toSeq, counts)
  }

  /** The naive replay: per source table, walk the batch in order, keep
    * the last event per non-null key and every null-keyed event, then
    * render each survivor with `to_json` under its routed names.
    */
  private def replay(events: Seq[ChangeEvent], hardDelete: Boolean,
      expect: ((String, String)) => Expect): Seq[Shipped] =
    events.zipWithIndex.groupBy { case (e, _) => (e.schema, e.tb) }
      .toSeq.flatMap { case (table, evs) =>
        val x = expect(table)
        def img(e: ChangeEvent) =
          if (e.rowType == "delete") e.before else e.after
        val (keyed, serial) = evs.partition { case (e, _) =>
          x.keys.forall(k => img(e).get(k).exists(_ != null))
        }
        val last = keyed.groupBy { case (e, _) => x.keys.map(img(e)) }
          .values.map(_.last)
        val survivors = last.toSeq ++ serial
        val signCols =
          if (hardDelete) Nil
          else Seq(StructField(StreamLoadSink.IsDeletedCol, IntegerType),
            StructField(StreamLoadSink.VersionCol, LongType))
        val schema = StructType(
          x.routed.map(StructField(_, StringType)) ++ signCols :+
            StructField("_op", StringType))
        val rows = survivors.map { case (e, i) =>
          val sign =
            if (hardDelete) Nil
            else Seq[Any](if (e.rowType == "delete") 1 else 0, i.toLong)
          val op = if (hardDelete && e.rowType == "delete") "delete" else ""
          Row.fromSeq(x.cols.map(img(e).get(_).orNull) ++ sign :+ op)
        }
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema)
        df.select(col("_op"), to_json(struct(
          schema.fieldNames.filter(_ != "_op").map(col): _*)))
          .collect().toSeq
          .map(r => Shipped(x.dest._1, x.dest._2, r.getString(0),
            r.getString(1)))
      }

  private def multiset(xs: Seq[Shipped]): Map[Shipped, Int] =
    xs.groupMapReduce(identity)(_ => 1)(_ + _)

  Seq(false, true).foreach { hard =>
    test(s"one plan ships what a per-table replay ships " +
        s"(hard_delete=$hard)") {
      val t = task(if (hard) "hard_delete=true" else "")
      Seq(1L, 2L, 3L).foreach { seed =>
        val events = batch(seed, 300)
        val (got, counts) = ship(t, events)
        val want = replay(events, hard, expects)
        assert(multiset(got) == multiset(want), s"seed $seed")
        // null-keyed rows reached the sink unmerged
        assert(got.count(s => s.tb == "nk" && !s.line.contains("\"k\"")) ==
          events.count(e => e.tb == "nk" && (if (e.rowType == "delete")
            e.before else e.after)("k") == null))
        assert(counts == events.groupMapReduce(e =>
          expects((e.schema, e.tb)).dest)(_ => 1L)(_ + _))
        // chunks respect batch_size per (table, op) sink
        assert(chunkSizes.asScala.forall(_ <= 7))
        if (hard) assert(got.exists(_.op == "delete"))
        else assert(got.forall(_.op.isEmpty))
      }
    }
  }

  /** `n` tables of `public.tN(id, v0..v(N%5))` with one relation each. */
  private def manyTables(n: Int, perTable: Int)
      : (Seq[ChangeEvent], Map[(String, String), Seq[String]]) = {
    val cols = (0 until n).map(i => ("public", s"t$i") ->
      ("id" +: (0 to i % 5).map(j => s"v$j"))).toMap
    val rnd = new Random(n.toLong)
    val events = (0 until n * perTable).map { j =>
      val (s, tb) = ("public", s"t${j % n}")
      val img = cols((s, tb)).map(c => c ->
        (if (c == "id") rnd.nextInt(4).toString else s"$c-$j")).toMap
      if (j % 7 == 0) ev(s, tb, "delete", img, Map.empty)
      else ev(s, tb, "insert", Map.empty, img)
    }
    (events, cols)
  }

  private def manyExpect(cols: Map[(String, String), Seq[String]])
      (table: (String, String)): Expect =
    Expect(cols(table), cols(table), Seq("id"), ("dw", table._2))

  test("a batch's Spark job count does not grow with its table count") {
    val t = task()
    val group = "cdc-ship-batch-jobs"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group) {
          jobs.incrementAndGet(); ()
        }
    }
    def jobsFor(events: Seq[ChangeEvent],
        rc: Map[(String, String), Seq[String]]): Int = {
      jobs.set(0)
      spark.sparkContext.setJobGroup(group, "prepareBatch")
      try ship(t, events, rc, Map.empty)
      finally spark.sparkContext.clearJobGroup()
      // listener delivery is async: wait for the count to go stable
      var last = -1
      while (jobs.get() != last) { last = jobs.get(); Thread.sleep(300) }
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (one, oneCols) = manyTables(1, 60)
      val (twelve, twelveCols) = manyTables(12, 60)
      val oneJobs = jobsFor(one, oneCols)
      val twelveJobs = jobsFor(twelve, twelveCols)
      assert(oneJobs > 0)
      assert(twelveJobs == oneJobs,
        s"1 table ran $oneJobs jobs, 12 tables ran $twelveJobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a batch spanning ~100 tables ships every table's lines") {
    val (events, cols) = manyTables(100, 5)
    val (got, counts) = ship(task(), events, cols, Map.empty)
    assert(counts.size == 100)
    assert(multiset(got) ==
      multiset(replay(events, hardDelete = false, manyExpect(cols))))
  }
}

object CdcShipBatchSpec {
  /** What the test expects of one source table, written out by hand:
    * shipped columns in wire order, their routed names, key columns and
    * the routed destination.
    */
  final case class Expect(cols: Seq[String], routed: Seq[String],
      keys: Seq[String], dest: (String, String))

  final case class Shipped(db: String, tb: String, op: String,
      line: String)

  /** Written by sinks inside `foreachPartition` (local executor threads
    * of the same JVM).
    */
  val shipped = new ConcurrentLinkedQueue[Shipped]()
  val chunkSizes = new ConcurrentLinkedQueue[Int]()

  final class CollectingSink(db: String, tb: String, batchId: Long,
      op: String) extends StreamLoadSink.PayloadSink {
    require(batchId == 7L)
    override def put(lines: Seq[String]): Unit = {
      chunkSizes.add(lines.size)
      lines.foreach(l => shipped.add(Shipped(db, tb, op, l)))
    }
  }
}
