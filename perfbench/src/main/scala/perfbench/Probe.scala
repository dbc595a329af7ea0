package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sinks.StreamLoadSink
import graft.sources.DbResumer

/** Measurement seams the benchmark supplies to the engine. Nothing here
  * is inside the engine: the sink wrapper, the position-store wrapper
  * and the listeners all sit on public extension points.
  */
object Probe {

  /** Sink-side counters. A JVM singleton, so executor threads of a
    * `local[n]` session update the same counters the driver reads.
    */
  object Sink {
    val puts = new AtomicLong(0L)
    val rows = new AtomicLong(0L)
    val bytes = new AtomicLong(0L)
    val putNs = new AtomicLong(0L)
    def reset(): Unit = Seq(puts, rows, bytes, putNs).foreach(_.set(0L))
  }

  /** Times every stream-load PUT (retries included) around the
    * engine's own sink.
    */
  final class TimedSink(inner: StreamLoadSink.PayloadSink)
      extends StreamLoadSink.PayloadSink with Serializable {
    override def put(lines: Seq[String]): Unit = {
      val t0 = System.nanoTime()
      inner.put(lines)
      Sink.putNs.addAndGet(System.nanoTime() - t0)
      Sink.puts.incrementAndGet()
      Sink.rows.addAndGet(lines.size.toLong)
      Sink.bytes.addAndGet(lines.iterator.map(_.length.toLong).sum)
    }
  }

  /** Position-store wrapper: counts and times each durable write and
    * keeps the write instants (the CDC task writes one position per
    * shipped batch, so consecutive instants bound a batch).
    */
  final class TimedStore(inner: DbResumer.SqlExec) extends DbResumer.SqlExec {
    val writeEnds = mutable.ArrayBuffer.empty[Long]
    var writeNs = 0L
    def reset(): Unit = { writeEnds.clear(); writeNs = 0L }
    override def execute(sql: String, binds: Seq[String]): Unit = {
      val t0 = System.nanoTime()
      inner.execute(sql, binds)
      val t1 = System.nanoTime()
      writeNs += t1 - t0
      writeEnds += t1
    }
    override def query(sql: String, binds: Seq[String]): Seq[Seq[String]] =
      inner.query(sql, binds)
    /** Milliseconds between consecutive writes. */
    def intervalsMs: Seq[Double] =
      writeEnds.toSeq.sliding(2).collect { case Seq(a, b) => (b - a) / 1e6 }
        .toSeq
  }

  /** Spark job/stage/task totals over a window, from a listener the
    * benchmark registers for traced task calls only.
    */
  final class Jobs extends SparkListener {
    private val starts = mutable.Map.empty[Int, Long]
    private val streamingStages = mutable.Set.empty[Int]
    var jobs = 0L
    var jobMs = 0L
    var stages = 0L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var outputBytes = 0L
    var streamingRecordsWritten = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      starts(e.jobId) = e.time
      if (e.properties != null &&
          e.properties.getProperty("sql.streaming.queryId") != null)
        streamingStages ++= e.stageIds
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      starts.remove(e.jobId).foreach { s => jobs += 1; jobMs += e.time - s }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        cpuNs += m.executorCpuTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        outputBytes += m.outputMetrics.bytesWritten
        if (streamingStages.contains(e.stageId))
          streamingRecordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Micro-batch durations of streaming queries (always registered:
    * the live lane's batch latency is an end-to-end metric).
    */
  final class MicroBatches extends StreamingQueryListener {
    val triggerMs = mutable.ArrayBuffer.empty[Double]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      Option(e.progress.durationMs.get("triggerExecution"))
        .foreach(ms => triggerMs += ms.doubleValue)
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent)
        : Unit = ()
    def drain(): Seq[Double] = synchronized {
      val out = triggerMs.toSeq; triggerMs.clear(); out
    }
  }

  /** Wait until every listener has seen every event posted so far. */
  def settle(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.settle(spark.sparkContext)

  /** Run one task call, traced when `on`: a job listener, the GC time
    * and the peak heap bracket exactly the call. Returns the body's
    * result, the job totals (empty when untraced) and the GC ms.
    */
  def traced[T](spark: SparkSession, on: Boolean)(body: => T)
      : (T, Jobs, Long) = {
    val l = new Jobs
    if (!on) (body, l, 0L)
    else {
      settle(spark)
      Jvm.resetPeak()
      val gc0 = Jvm.gcMs
      spark.sparkContext.addSparkListener(l)
      try {
        val out = body
        settle(spark)
        (out, l, Jvm.gcMs - gc0)
      } finally spark.sparkContext.removeSparkListener(l)
    }
  }

  /** GC seconds and peak heap of this JVM (driver and executors alike
    * under `local[n]`).
    */
  object Jvm {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
    private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
    def peakHeapMb: Double =
      heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
  }
}
