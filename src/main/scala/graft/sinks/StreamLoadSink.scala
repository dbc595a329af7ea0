package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge

/** Analytics-sink write model for StarRocks / Doris / ClickHouse —
  * the reference's stream-load sinkers
  * (/root/reference/dt-connector/src/sinker/starrocks/starrocks_sinker.rs:
  * 28-169, clickhouse_sinker.rs:18-114): soft delete via a sign column
  * plus a monotonically increasing version column, so the target's
  * ReplacingMergeTree / primary-key model resolves the final row state.
  *
  * The Spark-side contract is a pure DataFrame transform (adds the two
  * columns); payload rendering batches rows to JSON per partition. The
  * HTTP PUT itself (Stream Load / INSERT FORMAT JSON) is a per-partition
  * side effect behind `PayloadSink`, injectable for tests — there is no
  * live warehouse in this environment.
  */
object StreamLoadSink {

  final val IsDeletedCol = "_graft_is_deleted"
  final val VersionCol = "_graft_version"

  /** Annotate a change batch with sign + version columns. `version` must
    * be monotone per key across batches; CDC uses the event position —
    * here any strictly increasing per-key column works.
    */
  def withSignColumns(df: DataFrame, rowType: Column,
      version: Column): DataFrame =
    df.withColumn(IsDeletedCol,
        when(rowType === "delete", lit(1)).otherwise(lit(0)))
      .withColumn(VersionCol, version)

  /** Render one partition's rows as a JSON-lines payload (the stream-load
    * body). Uses to_json on a struct of all columns — codegen, no UDF.
    */
  def jsonPayload(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as("payload"))

  trait PayloadSink {
    /** PUT one payload chunk (e.g. HTTP stream load); throw to retry. */
    def put(lines: Seq[String]): Unit
  }

  /** Ship a batch to one destination: render JSON and push it through
    * [[shipTagged]] with every line tagged for the one sink. Returns the
    * lines shipped.
    */
  def ship(df: DataFrame, sinkFactory: () => PayloadSink,
      batchRows: Int = 10000,
      batchBytes: Long = Long.MaxValue): Long =
    shipTagged(jsonPayload(df).select(lit(0), col("payload")),
      _ => sinkFactory(), batchRows, batchBytes)

  /** Ship a destination-tagged payload frame `(dest: int, line: string)`:
    * per partition, one sink per destination, opened by `sinkFor` on
    * its first line, groups that destination's lines into chunks
    * bounded by BOTH row count and payload bytes and pushes each chunk.
    *
    * The byte bound is the reference's `batch_memory_mb`
    * (sinker_config.rs): a row-count cap alone lets a batch of wide
    * rows (long text columns, big JSON) blow the stream-load request
    * body — at 100 TB the row-width distribution is exactly the thing
    * you don't control. A single over-wide row still ships alone (the
    * cap flushes BEFORE adding, never splits a row).
    *
    * Returns the lines shipped, counted in the same job: Spark applies
    * an action's accumulator update once per task, so a retried task
    * does not count twice.
    */
  def shipTagged(payload: DataFrame, sinkFor: Int => PayloadSink,
      batchRows: Int, batchBytes: Long): Long = {
    val lines = payload.sparkSession.sparkContext.longAccumulator
    // runs the frame's own plan: one planned ahead of the ship (see
    // CdcTask.prepareBatch) is not planned again
    PlanBridge.foreachPartition(payload, { it =>
      val open = scala.collection.mutable.TreeMap.empty[Int, Chunks]
      var n = 0L
      it.foreach { r =>
        val d = r.getInt(0)
        open.getOrElseUpdate(d,
          new Chunks(sinkFor(d), batchRows, batchBytes))
          .add(r.getUTF8String(1).toString)
        n += 1
      }
      open.valuesIterator.foreach(_.flush())
      lines.add(n)
    })
    lines.value
  }

  /** One destination's pending chunk within a partition. */
  private final class Chunks(sink: PayloadSink, batchRows: Int,
      batchBytes: Long) {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    private var bytes = 0L

    def add(line: String): Unit = {
      // Cap on the ENCODED size: the request body ships UTF-8, so
      // counting UTF-16 chars undercounts CJK/emoji text by up to
      // ~3-4x and defeats the memory cap.
      val lineBytes = line
        .getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      if (buf.size >= batchRows ||
        (buf.nonEmpty && bytes + lineBytes > batchBytes)) flush()
      buf += line
      bytes += lineBytes
    }

    def flush(): Unit = if (buf.nonEmpty) {
      sink.put(buf.toSeq); buf.clear(); bytes = 0L
    }
  }
}
