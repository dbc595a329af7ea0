package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The benchmark's own contract: seeded inputs are reproducible, every
  * oracle rejects a planted wrong row, and the metric line names every
  * metric with its unit.
  */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = Disk.mkdirs(s"target/bench-spec-${ProcessHandle.current().pid()}")
  private lazy val spark = Bench.session(2, work)._1

  override def afterAll(): Unit = {
    spark.stop()
    Disk.delete(work)
  }

  private val mapper = new ObjectMapper()

  test("the same seed produces byte-identical captures") {
    val a = Gen.pgWriteOnly(5L, rows = 200, txns = 300)
    val b = Gen.pgWriteOnly(5L, rows = 200, txns = 300)
    assert(java.util.Arrays.equals(a.bytes, b.bytes))
    assert(a.ops.size == 1200)
    assert(!java.util.Arrays.equals(a.bytes,
      Gen.pgWriteOnly(6L, rows = 200, txns = 300).bytes))

    val m1 = Gen.mysqlUpdateIndex(5L, rows = 200, txns = 300, txnsPerFile = 100)
    val m2 = Gen.mysqlUpdateIndex(5L, rows = 200, txns = 300, txnsPerFile = 100)
    assert(m1.files.map(_._1) == Seq("binlog.000001", "binlog.000002",
      "binlog.000003"))
    m1.files.zip(m2.files).foreach { case ((_, x), (_, y)) =>
      assert(java.util.Arrays.equals(x, y))
    }
  }

  test("the same seed produces byte-identical snapshot tables") {
    Gen.writeSnapshot(spark, s"$work/snapA", 9L, rows = 1000, chunks = 2)
    Gen.writeSnapshot(spark, s"$work/snapB", 9L, rows = 1000, chunks = 2)
    val a = Disk.files(s"$work/snapA")
    assert(a.map(_._1) == Disk.files(s"$work/snapB").map(_._1))
    assert(a.size == Gen.Tables * 2)
    a.foreach { case (rel, _) =>
      assert(java.util.Arrays.equals(Disk.read(s"$work/snapA/$rel"),
        Disk.read(s"$work/snapB/$rel")), rel)
    }
    // the sysbench row shape: c is 10 and pad 5 dash-joined digit groups
    val row = spark.read.parquet(s"$work/snapA/sbtest1.parquet").head()
    assert(row.getString(2).length == 119 && row.getString(3).length == 59)
  }

  test("the snapshot oracle rejects a planted wrong row") {
    val frame = Gen.snapshotFrame(spark, 3L, 1, 500L, 2)
    val good = Oracles.digests(frame.withColumn("tb", lit("sbtest1")))
    def sink(df: DataFrame) = {
      val dir = s"$work/oracle-${System.nanoTime()}"
      df.write.parquet(s"$dir/sbtest_replica.sbtest1")
      Oracles.sinkDigests(spark, dir, Seq("sbtest1"))
    }
    Oracles.checkSnapshot(good, sink(frame))
    intercept[OracleMismatch] {
      Oracles.checkSnapshot(good, sink(frame.withColumn("c",
        when(col("id") === 17, lit("wrong")).otherwise(col("c")))))
    }
    intercept[OracleMismatch] {
      Oracles.checkSnapshot(good, sink(frame.filter(col("id") =!= 17)))
    }
  }

  test("the snapshot workload runs and its sink passes the oracle") {
    val w = new Workloads.Snapshot(spark, 4L, s"$work/snap", 2,
      rows = 2000L, chunks = 2)
    w.prepare()
    val it = w.run(1, traced = true)
    assert(it.rows == 20000L && it.batchMs.size == Gen.Tables)
    assert(it.attempted == 11L && it.retried == 1L)
    assert(it.layers("sinks.parquet.files") > 0)
  }

  test("the pg oracle passes the engine's output and rejects a planted " +
      "wrong row") {
    val w = new Workloads.PgWriteOnly(spark, 8L, s"$work/pg", 2,
      rows = 200, txns = 400, batchSize = 300, failEvery = 5)
    try {
      w.prepare()
      val it = w.run(1, traced = true)
      assert(it.retried > 0 && it.attempted > it.retried)
      assert(it.batchMs.nonEmpty)
      assert(it.layers("streaming.cdc_task.batches") > 2)
      val puts = w.lastPuts
      Oracles.checkPg(w.ops, puts)
      // one shipped row with a wrong k, in the last batch so that no
      // later batch overwrites it
      val last = puts.map(_.batchId).max
      val i = puts.indexWhere(p =>
        p.batchId == last && p.body.contains("\"k\":\""))
      val bad = puts(i).copy(body = puts(i).body
        .replaceFirst("\"k\":\"[0-9]+\"", "\"k\":\"-1\""))
      intercept[OracleMismatch] {
        Oracles.checkPg(w.ops, puts.updated(i, bad))
      }
      // a lost PUT
      intercept[OracleMismatch] {
        Oracles.checkPg(w.ops, puts.patch(i, Nil, 1))
      }
    } finally w.close()
  }

  test("the mysql oracle passes the landed tables and rejects a planted " +
      "wrong row") {
    val w = new Workloads.MysqlUpdateIndex(spark, 2L, s"$work/my",
      rows = 200, txns = 600, txnsPerFile = 150)
    try {
      w.prepare()
      val it = w.run(1, traced = true)
      assert(it.attempted == 2L && it.retried == 1L)
      assert(it.batchMs.nonEmpty)
      assert(it.layers("transport.segments") == 4)
      Oracles.checkMysql(spark, w.ops, w.sink)
      // copy the landed tables, changing one row's payload in one table
      val copy = s"$work/my-planted"
      (1 to Gen.Tables).foreach { t =>
        val name = s"sbtest_replica.${Gen.table(t)}"
        val df = spark.read.parquet(s"${w.sink}/$name")
        val key = df.select("key").head().getString(0)
        val out = if (t != 3) df else df.withColumn("payload",
          when(col("key") === key,
            regexp_replace(col("payload"), "k=[0-9]+", "k=-1"))
            .otherwise(col("payload")))
        out.write.parquet(s"$copy/$name")
      }
      intercept[OracleMismatch] {
        Oracles.checkMysql(spark, w.ops, copy)
      }
    } finally w.close()
  }

  test("the metric line names every metric with its unit") {
    val calls = Seq(
      Iter(3.0, 1000L, Seq(40.0), 10L, 1L, Map.empty) -> false,
      Iter(2.5, 1000L, Seq(11.0), 10L, 1L,
        Map("spark.jobs" -> 4.0, "trace.unattributed_s" -> 0.3)) -> true,
      Iter(2.0, 1000L, Seq(10.0, 12.0, 30.0), 10L, 1L, Map.empty) -> false)
    def parse(trace: Boolean) = mapper.readTree(Bench.report(
      Bench.Args("cdc_pg_write_only", 1L, 10.0, trace, 2, work),
      Seq(1.0, 0.5, 0.4), calls))

    val e2e = parse(trace = false)
    assert(e2e.get("correct").asBoolean())
    assert(e2e.get("attempted").asLong() == 30L)
    assert(e2e.get("failed").asLong() == 0L)
    val m = e2e.get("metrics")
    assert(m.fieldNames().asScala.toSeq == Bench.EndToEnd.map(_._1))
    Bench.EndToEnd.foreach { case (n, u) =>
      assert(m.get(n).get("unit").asText() == u, n)
      assert(m.get(n).get("value").asDouble() > 0, n)
    }
    assert(m.get("setup_s").get("value").asDouble() == 0.5)
    // throughput of the fastest call; batches of every call but the first
    assert(m.get("rows_per_s").get("value").asDouble() == 500.0)
    assert(m.get("batch_ms_p50").get("value").asDouble() == 11.5)
    assert(m.get("failed_frac").get("value").asDouble() == 0.1)

    val layers = parse(trace = true).get("metrics")
    assert(layers.fieldNames().asScala.toSeq == Bench.PerLayer.map(_._1))
    Bench.PerLayer.foreach { case (n, u) =>
      assert(layers.get(n).get("unit").asText() == u, n)
    }
    assert(layers.get("trace.overhead_s").get("value").asDouble() == 0.5)

    // BENCHMARK.json declares exactly these metrics and units
    val decl = mapper.readTree(new java.io.File("../BENCHMARK.json"))
    def declared(key: String) = decl.get(key).elements().asScala
      .map(n => n.get("name").asText() -> n.get("unit").asText()).toSeq
    assert(declared("end_to_end") == Bench.EndToEnd)
    assert(declared("per_layer") == Bench.PerLayer)
    assert(decl.get("workloads").elements().asScala
      .map(_.get("name").asText()).toSeq == Workloads.Names)
  }
}
