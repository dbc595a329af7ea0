package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.config.{TaskConfig, TaskRunner}
import graft.infra.{Footers, Fs}
import graft.sinks.StreamLoadSink

/** A snapshot unit is one Spark job — the write. The source schema comes
  * from one parquet footer read on the driver (`Tables.load`), and the
  * written row count from the output's footers (`Footers.rowCount`);
  * both must equal what Spark's own inference and `count()` answer.
  */
class SnapshotUnitSpec extends SparkSuite {
  import SnapshotUnitSpec._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def task(source: String, sink: String,
      filter: String = ""): TaskConfig.Task = TaskConfig.fromIni(
    s"""[extractor]
       |extract_type=snapshot
       |url=$source
       |
       |[filter]
       |$filter
       |
       |[router]
       |db_map=app:app_replica
       |
       |[sinker]
       |url=$sink
       |""".stripMargin)

  /** Spark jobs `body` starts, counted by job group once listener
    * delivery (async) has gone quiet.
    */
  private def jobsIn[A](body: => A): (A, Int) = {
    val group = "snapshot-unit-jobs"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group) {
          jobs.incrementAndGet(); ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "snapshot unit")
      val out = try body finally spark.sparkContext.clearJobGroup()
      var last = -1
      while (jobs.get() != last) { last = jobs.get(); Thread.sleep(300) }
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a snapshot unit without partition_cols runs one Spark job") {
    val sink = tmp("snap-unit-jobs")
    val t = task(sf, sink)
    // warm: the first unit in a session may plan extra one-off work
    TaskRunner.snapshotTable(spark, t, "app", "nation")
    val (r, jobs) = jobsIn(TaskRunner.snapshotTable(spark, t, "app",
      "orders"))
    assert(jobs == 1, s"snapshotTable ran $jobs jobs")
    assert(r.dstTable == "app_replica.orders")
    assert(r.rows == Tables.orders(spark, sf).count())
  }

  test("Tables.load's footer schema equals Spark's inferred schema") {
    val dir = tmp("snap-unit-schema")
    // multi-chunk table: several part files in one dir
    Tables.orders(spark, sf).repartition(3)
      .write.parquet(s"$dir/chunked.parquet")
    // hive layout: the file index adds the k=v partition columns
    Tables.lineitem(spark, sf)
      .write.partitionBy("l_returnflag", "l_linestatus")
      .parquet(s"$dir/hive.parquet")
    def parity(d: String, name: String): Unit = {
      val loaded = Tables.load(spark, d, name).schema
      // Tables.load has set the nanos conf the plain read needs too
      val inferred = spark.read.parquet(s"$d/$name.parquet").schema
      assert(loaded == inferred, s"$d/$name")
    }
    // events as TIMESTAMP(NANOS), the shape Spark only reads through
    // the legacy nanosAsLong mapping
    val nanos = Seq(1700000000123456789L, 1700000000999999999L)
    writeNanosEvents(s"$dir/events.parquet/part-0.parquet", nanos)
    Tables.names.foreach(parity(sf, _))
    parity(dir, "chunked")
    parity(dir, "hive")
    parity(dir, "events")
    assert(Tables.load(spark, dir, "hive").columns
      .endsWith(Seq("l_returnflag", "l_linestatus")))
    assert(Tables.load(spark, dir, "events").schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
    val ts = Tables.events(spark, dir)
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0))
    assert(ts.toSeq.sorted == nanos.map(_ / 1000))
  }

  /** A one-column `ts: int64 TIMESTAMP(NANOS)` parquet file. */
  private def writeNanosEvents(file: String, ts: Seq[Long]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType(
        "message events { required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(file))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try ts.foreach(t => w.write(rows.newGroup().append("ts", t)))
    finally w.close()
  }

  test("the footer row count equals Spark's count of the written table") {
    val dir = tmp("snap-unit-count")
    Tables.orders(spark, sf).limit(0).write.parquet(s"$dir/orders.parquet")
    val sink = tmp("snap-unit-count-sink")
    def written(r: TaskRunner.TableResult): Long =
      spark.read.parquet(s"$sink/${r.dstTable}").count()
    val whole = TaskRunner.snapshotTable(spark, task(sf, sink), "app",
      "orders")
    assert(whole.rows > 0)
    assert(whole.rows == written(whole))
    val none = TaskRunner.snapshotTable(spark, task(sf, sink,
      """where_conditions=json:[{"db":"app","tb":"lineitem","condition":"l_quantity < 0"}]"""),
      "app", "lineitem")
    assert(none.rows == 0 && written(none) == 0)
    val empty = TaskRunner.snapshotTable(spark, task(dir, sink), "app",
      "orders")
    assert(empty.rows == 0 && written(empty) == 0)
    assert(Footers.rowCount(s"$sink/missing") == 0)
  }

  test("a filter predicate in the session's Hadoop conf does not " +
      "change the footer row count") {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.hadoop.{ParquetFileReader, ParquetInputFormat}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val out = s"${tmp("snap-unit-pred")}/orders"
    Tables.orders(spark, sf).repartition(3).write.parquet(out)
    val conf = spark.sparkContext.hadoopConfiguration
    // every order key is positive, so row-group stats drop every group
    ParquetInputFormat.setFilterPredicate(conf, FilterApi.lt(
      FilterApi.longColumn("o_orderkey"), java.lang.Long.valueOf(0L)))
    val (filtered, counted) = try {
      val part = Fs.listNames(out).filter(_.endsWith(".parquet")).head
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(
          s"$out/$part"), conf), HadoopReadOptions.builder(conf).build())
      val f = try reader.getRecordCount finally reader.close()
      (f, Footers.rowCount(out))
    } finally conf.unset(ParquetInputFormat.FILTER_PREDICATE)
    // the predicate bites a reader that takes its filter from the conf
    assert(filtered == 0)
    assert(counted > 0)
    assert(counted == spark.read.parquet(out).count())
  }

  test("a missing or empty source table fails the load") {
    val dir = tmp("snap-unit-missing")
    intercept[AnalysisException](Tables.load(spark, dir, "orders"))
    Files.createDirectory(java.nio.file.Paths.get(s"$dir/orders.parquet"))
    intercept[AnalysisException](Tables.load(spark, dir, "orders"))
    intercept[AnalysisException](TaskRunner.snapshotTable(spark,
      task(dir, tmp("snap-unit-missing-sink")), "app", "orders"))
  }

  test("a stream-load snapshot unit ships and counts its rows in one job") {
    val t = task(sf, tmp("snap-unit-ship"))
    shipped.clear()
    val sinkFor: graft.streaming.CdcTask.SinkFactory =
      (db, tb, batchId, _) => new CollectingSink(s"$db.$tb", batchId)
    TaskRunner.shipSnapshotTable(spark, t, "app", "nation", sinkFor)
    shipped.clear()
    val (r, jobs) = jobsIn(TaskRunner.shipSnapshotTable(spark, t, "app",
      "orders", sinkFor))
    assert(jobs == 1, s"shipSnapshotTable ran $jobs jobs")
    val lines = shipped.toArray(Array.empty[(String, String)]).toSeq
    assert(lines.forall(_._1 == "app_replica.orders"))
    assert(r.rows == lines.size)
    val keys = lines.map { case (_, l) =>
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(l)
        .get("o_orderkey").asLong() }
    val source = Tables.orders(spark, sf)
      .select(col("o_orderkey").cast("long"))
      .collect().map(_.getLong(0)).toSeq
    assert(keys.sorted == source.sorted)
  }
}

object SnapshotUnitSpec {
  /** Written by sinks inside `foreachPartition` (local executor threads
    * of the same JVM): (routed table, line).
    */
  val shipped = new ConcurrentLinkedQueue[(String, String)]()

  final class CollectingSink(table: String, batchId: Long)
      extends StreamLoadSink.PayloadSink {
    require(batchId == -1L)
    override def put(lines: Seq[String]): Unit =
      lines.foreach(l => shipped.add(table -> l))
  }
}
