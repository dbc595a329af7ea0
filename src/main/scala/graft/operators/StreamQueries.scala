package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming-shaped operators exposed as batch queries for the oracle
  * gate.
  */
object StreamQueries {

  /** q60 — partition safety (reference rdb_partitioner.rs:43-82): an
    * update that changes a key value must not be hash-partitioned — two
    * sub-batches could interleave the delete/insert halves. Synthesized
    * key change: the event's payload key (props.k mod 15) vs its current
    * key; changed keys route to the serial lane (-1).
    */
  def partitionSafety(spark: SparkSession, dir: String): DataFrame = {
    val c = Cdc.changes(spark, dir)
      .withColumn("new_key",
        pmod(regexp_extract(col("props"), "[0-9]+", 0).cast("long"),
          lit(15)))
    val keyChanged = col("row_type") === "update" &&
      col("new_key") =!= col("user_id")
    c.withColumn("key_changed", keyChanged)
      .withColumn("lane",
        when(keyChanged, lit(-1L))
          .otherwise(Compaction.sinkPartition(col("user_id"), 8)))
      .select(col("event_id"), col("user_id"), col("new_key"),
        col("key_changed"), col("lane"))
  }

  val partitionSafetySql: String =
    """WITH c AS (SELECT event_id, user_id,
      |    CASE WHEN event_type = 'signup' THEN 'insert'
      |         WHEN event_type = 'error' THEN 'delete'
      |         ELSE 'update' END AS row_type,
      |    CAST(regexp_extract(props, '[0-9]+') AS BIGINT) % 15 AS new_key
      |  FROM events)
      |SELECT event_id, user_id, new_key,
      |  (row_type = 'update' AND new_key <> user_id) AS key_changed,
      |  CASE WHEN row_type = 'update' AND new_key <> user_id THEN -1
      |    ELSE ((user_id * 2654435761) % 1000000007) % 8 END AS lane
      |FROM c""".stripMargin

  /** q61 — watermarked tumbling-window aggregation over the change
    * stream, run on the bounded table: counts and sums per 6-hour
    * window × event type.
    */
  def windowedStats(spark: SparkSession, dir: String): DataFrame =
    Cdc.changes(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // noisy double: floor-quantized micro-units (decimal casts of
        // such values round differently per engine — Relational.fsum)
        (sum(floor(col("value") * lit(1000000.0))).cast(DoubleType) /
          lit(1000000.0)).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))

  val windowedStatsSql: String =
    """SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 21600) * 21600
      |    AS win_start,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS DOUBLE)
      |    / 1000000 AS sum_value
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  /** q63 — native session windows (1-hour inactivity gap), the streaming-
    * capable form of q71's gaps-and-islands sessionization. Boundary
    * semantics: an event exactly `gap` after the previous one starts a
    * NEW session (session_window's window is [start, last+gap)), so the
    * oracle's island flag uses `>=`. Microsecond-exact via unix_micros /
    * epoch_us — second-floored epochs could disagree on membership.
    */
  def sessionWindowStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    graft.Tables.events(spark, dir)
      .groupBy(col("user_id"),
        session_window(col("ts"), "1 hour").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        (sum(floor(col("value") * lit(1000000.0))).cast(DoubleType) /
          lit(1000000.0)).as("session_value"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"),
        col("n_events"), col("session_value"))
  }

  val sessionWindowStatsSql: String =
    """WITH e AS (SELECT user_id, value, epoch_us(ts) AS us FROM events),
      |f AS (SELECT *,
      |    CASE WHEN lag(us) OVER w IS NULL
      |      OR us - lag(us) OVER w >= 3600000000 THEN 1 ELSE 0 END
      |      AS new_session
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
      |s AS (SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
      |    ORDER BY us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS sid
      |  FROM f)
      |SELECT user_id, MIN(us) AS session_start_us,
      |  MAX(us) + 3600000000 AS session_end_us,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS DOUBLE)
      |    / 1000000 AS session_value
      |FROM s GROUP BY user_id, sid""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q60_partition_safety" -> (partitionSafety _),
    "q61_windowed_stats" -> (windowedStats _),
    "q63_session_window" -> (sessionWindowStats _))

  val oracles: Map[String, String] = Map(
    "q60_partition_safety" -> partitionSafetySql,
    "q61_windowed_stats" -> windowedStatsSql,
    "q63_session_window" -> sessionWindowStatsSql)
}
