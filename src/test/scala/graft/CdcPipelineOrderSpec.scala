package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.PlanBridge

import graft.config.TaskConfig
import graft.model.Position
import graft.sinks.StreamLoadSink
import graft.sources.{DbResumer, PgOutput, PgOutputWriter, PgSlotLifecycle,
  SnapshotResumer}
import graft.streaming.CdcTask

/** `CdcTask.run` prepares batch i+1 on its prepare thread while batch i
  * ships. What must not change: batches ship one after another, each
  * position is written between its batch's last PUT and the next
  * batch's first, a failure surfaces at its own batch's turn with every
  * earlier batch recorded, the prepare thread is gone when `run`
  * returns or throws, and preparing starts no Spark job.
  */
class CdcPipelineOrderSpec extends SparkSuite {
  import CdcPipelineOrderSpec._

  private def task(idCols: String = "orders_cdc:id"): TaskConfig.Task =
    TaskConfig.fromIni(
      s"""[extractor]
         |extract_type=cdc
         |slot_name=graft_slot
         |batch_size=2
         |id_cols=$idCols
         |
         |[sinker]
         |url=http://127.0.0.1:1
         |""".stripMargin)

  private def commitEnd(t: Int): Long = 0x17000000L + t * 0x100L + 0x80L

  /** `txns` transactions of two inserts each into `public.orders_cdc`;
    * with `batch_size=2` each is its own batch. Transactions listed in
    * `other` write `public.other(k, v)` instead.
    */
  private def wal(txns: Int, other: Set[Int] = Set.empty): Array[Byte] = {
    val w = new PgOutputWriter()
    w.relation(101L, "public", "orders_cdc", 'd', Seq(
      PgOutput.RelColumn("id", keyPart = true, 20, -1),
      PgOutput.RelColumn("amount", keyPart = false, 1700, -1)))
    w.relation(102L, "public", "other", 'd', Seq(
      PgOutput.RelColumn("k", keyPart = true, 20, -1),
      PgOutput.RelColumn("v", keyPart = false, 25, -1)))
    (0 until txns).foreach { t =>
      val begin = 0x17000000L + t * 0x100L
      w.begin(begin, 1000L + t, 800L + t)
      val rel = if (other(t)) 102L else 101L
      w.insert(rel, Array(s"${2 * t}", s"$t.00"))
      w.insert(rel, Array(s"${2 * t + 1}", s"$t.50"))
      w.commit(begin, commitEnd(t), 1000L + t)
    }
    w.bytes()
  }

  private def lsn(t: Int): String = PgOutput.renderLsn(commitEnd(t))

  /** A position store in a fresh directory, and its resumer. */
  private def resumer(): (TimedStore, DbResumer.Dual) = {
    val dir = java.nio.file.Files.createTempDirectory("cdc-pipeline")
    val store =
      new TimedStore(new DbResumer.FileStore(s"$dir/position.log"))
    val rec = new DbResumer.Recorder("cdc-pipeline", store,
      DbResumer.MySqlDialect)
    rec.init(isInit = false)
    (store, new DbResumer.Dual(new SnapshotResumer(s"$dir/d"), rec,
      () => new DbResumer.Recovery("cdc-pipeline", store)))
  }

  private def run(t: TaskConfig.Task, bytes: Array[Byte],
      res: DbResumer.Dual, failOn: Long = -1L): CdcTask.RunReport = {
    puts.clear()
    CdcTask.run(spark, t,
      CdcTask.PgAnswers(PgSlotLifecycle.SlotStatus(exists = false),
        pubExists = false, walStream = bytes),
      sinkFor = (_, _, batchId, _) => new SleepySink(batchId, failOn),
      resumer = res)
  }

  private def prepareThreadsAlive: Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.getName == CdcTask.PrepareThreadName && t.isAlive)

  private def recorded(res: DbResumer.Dual): Option[Position] = {
    res.reload()
    res.resumeCdc
  }

  test("batches ship in order, each position lands between its batch's " +
      "last PUT and the next batch's first") {
    val (store, res) = resumer()
    val report = run(task(), wal(5), res)
    assert(report.batches.map(_.commitLsn) == (0 until 5).map(lsn))
    val byBatch = puts.asScala.toSeq.groupBy(_.batchId)
    assert(byBatch.keySet == (0L until 5L).toSet)
    val firstStart = byBatch.view.mapValues(_.map(_.start).min).toMap
    val lastEnd = byBatch.view.mapValues(_.map(_.end).max).toMap
    val written = (0 until 5).map { i =>
      store.writes.asScala.collectFirst {
        case (at, data) if data.contains(lsn(i)) => at
      }.getOrElse(fail(s"position of batch $i never written"))
    }
    (0 until 5).foreach { i =>
      assert(written(i) > lastEnd(i.toLong),
        s"batch $i's position was written before its last PUT returned")
      if (i < 4) {
        assert(lastEnd(i.toLong) < firstStart(i + 1L),
          s"batch ${i + 1} started a PUT before batch $i's last returned")
        assert(written(i) < firstStart(i + 1L),
          s"batch ${i + 1} started a PUT before batch $i's position")
      }
    }
    assert(prepareThreadsAlive.isEmpty)
  }

  test("a prepare failure surfaces as itself at its batch's turn, " +
      "after the earlier batches shipped and recorded") {
    val (_, res) = resumer()
    // public.other first appears in batch 2, and its id_cols name a
    // column it does not have
    val e = intercept[IllegalArgumentException] {
      run(task("orders_cdc:id,other:missing"), wal(4, other = Set(2)),
        res)
    }
    assert(e.getMessage.contains("are not among"), e.getMessage)
    assert(puts.asScala.map(_.batchId).toSet == Set(0L, 1L))
    assert(recorded(res) == Some(Position.PgCdc(lsn(1))))
    assert(prepareThreadsAlive.isEmpty)
  }

  test("a ship failure stops the run: later batches never PUT, the " +
      "position stays at the last shipped batch") {
    val (_, res) = resumer()
    val e = intercept[Exception] {
      run(task(), wal(4), res, failOn = 1L)
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(chain.exists(c => Option(c.getMessage)
      .exists(_.contains(SinkFailure))), e)
    val batchIds = puts.asScala.map(_.batchId).toSet
    assert(batchIds == Set(0L), s"PUTs of batches $batchIds")
    assert(recorded(res) == Some(Position.PgCdc(lsn(0))))
    assert(prepareThreadsAlive.isEmpty)
  }

  test("a run of N batches starts exactly 2N Spark jobs: preparing " +
      "starts none") {
    val group = "cdc-pipeline-jobs"
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
      spark.sparkContext.setJobGroup(group, "CdcTask.run")
      val report =
        try run(task(), wal(4), resumer()._2)
        finally spark.sparkContext.clearJobGroup()
      PlanBridge.settleListeners(spark)
      val n = report.batches.size
      assert(n == 4)
      assert(jobs.get() == 2 * n, s"$n batches ran ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object CdcPipelineOrderSpec {
  final case class Put(batchId: Long, start: Long, end: Long)

  final val SinkFailure = "warehouse refused the batch"

  /** Written by sinks inside `foreachPartition` (local executor threads
    * of the same JVM).
    */
  val puts = new ConcurrentLinkedQueue[Put]()

  /** Holds every PUT longer than preparing a batch takes, so that a
    * batch shipped as soon as it is prepared would overlap the one
    * before it, and fails every PUT of batch `failOn`.
    */
  final class SleepySink(batchId: Long, failOn: Long)
      extends StreamLoadSink.PayloadSink {
    override def put(lines: Seq[String]): Unit = {
      if (batchId == failOn) throw new RuntimeException(SinkFailure)
      val start = System.nanoTime()
      Thread.sleep(400)
      puts.add(Put(batchId, start, System.nanoTime()))
      ()
    }
  }

  /** A position store that notes when each position was written. */
  final class TimedStore(inner: DbResumer.SqlExec)
      extends DbResumer.SqlExec {
    val writes = new ConcurrentLinkedQueue[(Long, String)]()

    def execute(sql: String, binds: Seq[String]): Unit = {
      inner.execute(sql, binds)
      if (sql.startsWith("INSERT INTO"))
        writes.add((System.nanoTime(), binds.last)): Unit
    }

    def query(sql: String, binds: Seq[String]): Seq[Seq[String]] =
      inner.query(sql, binds)
  }
}
