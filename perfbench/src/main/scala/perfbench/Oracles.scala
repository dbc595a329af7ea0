package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness oracles. Each recomputes the expected end state from the
  * generator alone and throws [[OracleMismatch]] on any difference, so
  * a wrong result ends the run instead of being timed.
  */
object Oracles {

  /** Per value of the frame's `tb` column, in one job: the row count
    * and an order-independent sum of per-row hashes.
    */
  def digests(df: DataFrame): Map[String, (Long, Long)] =
    df.groupBy("tb").agg(count(lit(1)),
      coalesce(sum(hash(col("id"), col("k"), col("c"), col("pad"))
        .cast("long")), lit(0L)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

  /** Every sink table of a snapshot call, in one scan. */
  def sinkDigests(spark: SparkSession, sink: String,
      tables: Seq[String]): Map[String, (Long, Long)] =
    digests(spark.read.parquet(tables.map(t =>
        s"$sink/sbtest_replica.$t"): _*)
      .withColumn("tb", regexp_extract(input_file_name(),
        "sbtest_replica\\.(sbtest[0-9]+)/", 1)))

  def checkSnapshot(expected: Map[String, (Long, Long)],
      got: Map[String, (Long, Long)]): Unit =
    expected.toSeq.sortBy(_._1).foreach { case (t, e) =>
      val g = got.getOrElse(t, (0L, 0L))
      if (e != g) throw new OracleMismatch(
        s"snapshot $t: expected (rows, hash) $e, sink has $g")
    }

  /** End state per key: `None` is deleted, `Some(k, c, pad)` is a row. */
  type State = Map[(String, Int), Option[(String, String, String)]]

  /** The naive replay of the generated pg operations under the task's
    * filter, Lua and router rules.
    */
  def pgExpected(ops: Seq[Gen.Op]): State = {
    val st = mutable.Map.empty[(String, Int), Option[(String, String, String)]]
    ops.foreach { op =>
      val tb = Gen.table(op.table)
      val dropped = Workloads.PgIgnored(op.table) ||
        (op.table == 2 && op.kind == "delete")
      if (!dropped) {
        st((tb, op.id)) =
          if (op.kind == "delete") None
          else {
            val c = if (op.table == 1) op.image(2).take(60) else op.image(2)
            Some((op.image(1), c, op.image(3)))
          }
      }
    }
    st.toMap
  }

  /** Fold the warehouse's sign/version JSON lines into an end state:
    * batches apply in batch-id order, rows within one batch by version.
    * Returns the state and the number of rows folded.
    */
  def pgFold(puts: Seq[Warehouse.Put]): (State, Long) = {
    val mapper = new ObjectMapper()
    val rows = puts.flatMap { p =>
      require(p.db == "dw", s"unrouted put into ${p.db}.${p.tb}")
      val arr = mapper.readTree(p.body)
      (0 until arr.size()).map { i =>
        val n = arr.get(i)
        def s(f: String) = Option(n.get(f)).filter(!_.isNull)
          .map(_.asText()).orNull
        (p.batchId, n.get("_graft_version").asLong(), p.tb,
          s("id").toInt, s("_graft_is_deleted") == "1",
          (s("k"), s("c"), s("pad")))
      }
    }
    val st = mutable.Map.empty[(String, Int), Option[(String, String, String)]]
    rows.sortBy(r => (r._1, r._2)).foreach {
      case (_, _, tb, id, deleted, img) =>
        st((tb, id)) = if (deleted) None else Some(img)
    }
    (st.toMap, rows.size.toLong)
  }

  def compare(what: String, expected: State, got: State): Unit =
    if (expected != got) {
      val keys = (expected.keySet ++ got.keySet).toSeq
        .filter(k => expected.get(k) != got.get(k)).sortBy(k => (k._1, k._2))
      val k = keys.head
      throw new OracleMismatch(s"$what: ${keys.size} keys differ; first " +
        s"$k expected ${expected.get(k)} got ${got.get(k)}")
    }

  /** Checks the pg end state; returns the rows the warehouse received. */
  def checkPg(ops: Seq[Gen.Op], puts: Seq[Warehouse.Put]): Long = {
    val (got, n) = pgFold(puts)
    compare("cdc_pg_write_only", pgExpected(ops), got)
    n
  }

  /** Last-write-wins replay of the generated update_index operations. */
  def mysqlExpected(ops: Seq[Gen.Op]): State =
    ops.map(op => (Gen.table(op.table), op.id) ->
      Some((op.image(1), op.image(2), op.image(3)))).toMap

  /** Read the landed flat tables (`key`, `payload` of sorted
    * `col=value` pairs) as an end state, in one scan.
    */
  def mysqlLanded(spark: SparkSession, sink: String): State = {
    val dirs = (1 to Gen.Tables).map(t => s"$sink/sbtest_replica.${Gen.table(t)}")
      .filter(d => new java.io.File(d).exists())
    if (dirs.isEmpty) Map.empty
    else spark.read.parquet(dirs: _*)
      .select(regexp_extract(input_file_name(),
        "sbtest_replica\\.(sbtest[0-9]+)/", 1), col("key"), col("payload"))
      .collect().iterator.map { r =>
        val kv = r.getString(2).split(",").map { p =>
          val Array(k, v) = p.split("=", 2); k -> v
        }.toMap
        (r.getString(0), r.getString(1).toInt) ->
          Some((kv("k"), kv("c"), kv("pad")))
      }.toMap
  }

  def checkMysql(spark: SparkSession, ops: Seq[Gen.Op], sink: String): Unit =
    compare("cdc_mysql_update_index", mysqlExpected(ops),
      mysqlLanded(spark, sink))
}
