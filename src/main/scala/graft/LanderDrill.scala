package graft

import org.apache.spark.sql.SparkSession

import graft.sinks.LandedTable

/** Scale drill for the live LANDER — the half of the resident lane
  * the bench queries don't price. Replays the landing loop's per-trigger
  * work (one compacted delta write per micro-batch; every
  * `cadence` triggers a base merge + flat publish) against a landed
  * state seeded at two sizes 10× apart, and prices the resident
  * monitor's poll at both. The O(batch)/O(state) claims in
  * LandedTable's scaladoc are exactly what this measures:
  *
  *  - plain-trigger cost must stay FLAT as landed state grows 10×
  *    (the delta write never touches the base);
  *  - merge cost is O(state) but amortized over the cadence — the
  *    cadence sensitivity (8 vs 64) shows the amortization knob;
  *  - a no-delta poll is a plain base scan; a with-deltas poll adds
  *    only the broadcast anti-join.
  *
  *   sbt "runMain graft.LanderDrill"            # both scales, 8+64
  *   sbt "runMain graft.LanderDrill 200000 8"   # one point
  */
object LanderDrill {

  def main(args: Array[String]): Unit = {
    val spark = Session("graft-lander-drill")
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup
    val batchRows =
      if (args.length >= 3) args(2).toLong else 5000L
    val points: Seq[(Long, Int)] =
      if (args.length >= 2) Seq((args(0).toLong, args(1).toInt))
      else for (keys <- Seq(200000L, 2000000L); cad <- Seq(8, 64))
        yield (keys, cad)
    points.foreach { case (keys, cadence) =>
      drill(spark, keys, cadence, batchRows)
    }
    spark.stop()
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)

  /** One drill point: seed `keys` landed rows, run `2 × cadence`
    * triggers of 5k-row batches (each key-compacted then written as
    * one delta, merges + flat publishes on the cadence), and price
    * the monitor poll before/after. One JSON line out.
    */
  private def drill(spark: SparkSession, keys: Long,
      cadence: Int, batchRows: Long): Unit = {
    val table = java.nio.file.Files
      .createTempDirectory("lander-drill").toString + "/app.t"
    val triggers = 2 * cadence

    def batchDf(bseq: Long, n: Long, keyspace: Long) =
      spark.range(n).selectExpr(
        s"$bseq as bseq", "id as seq", "'insert' as row_type",
        // multiplicative-hash key spread over the landed keyspace:
        // triggers UPDATE existing keys (the steady-state CDC shape)
        s"cast((id * 2654435761) % $keyspace as string) as key",
        "repeat('v', 24) as payload")

    // seed the landed state (one bulk batch, merged + published —
    // the post-initial-dump posture)
    val (_, seedMs) = timed {
      LandedTable.writeDelta(
        spark.range(keys).selectExpr("0L as bseq", "id as seq",
          "'insert' as row_type", "cast(id as string) as key",
          "repeat('v', 24) as payload"), table, 0L)
      LandedTable.compactAll(spark, Seq(table))
      LandedTable.publishFlat(spark, table)
    }
    val (_, pollCleanMs) =
      timed(LandedTable.read(spark, table).count())

    val plain = Seq.newBuilder[Double]
    val merges = Seq.newBuilder[Double]
    (1 to triggers).foreach { i =>
      val bid = i.toLong
      val (_, ms) = timed {
        LandedTable.writeDelta(batchDf(bid, batchRows, keys), table, bid)
      }
      plain += ms
      if (bid % cadence == (cadence - 1)) {
        val (_, mms) = timed {
          LandedTable.compactAll(spark, Seq(table), bid)
          LandedTable.publishFlat(spark, table)
        }
        merges += mms
      }
    }
    // the monitor poll with half a cadence of outstanding deltas
    (1 to cadence / 2).foreach { j =>
      val bid = triggers + j.toLong
      LandedTable.writeDelta(batchDf(bid, batchRows, keys), table, bid)
    }
    val (_, pollDeltasMs) =
      timed(LandedTable.read(spark, table).count())

    val plainMed = median(plain.result())
    val mergeMed = median(merges.result())
    val landedRowsPerSec =
      batchRows * triggers / (plain.result().sum / 1000.0)
    val load1 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    println(f"""{"drill":"lander","state_rows":$keys,""" +
      f""""cadence":$cadence,"triggers":$triggers,""" +
      f""""batch_rows":$batchRows,""" +
      f""""seed_ms":$seedMs%.0f,"trigger_ms_median":$plainMed%.0f,""" +
      f""""merge_ms_median":$mergeMed%.0f,""" +
      f""""poll_clean_ms":$pollCleanMs%.0f,""" +
      f""""poll_deltas_ms":$pollDeltasMs%.0f,""" +
      f""""lander_rows_per_sec":$landedRowsPerSec%.0f,""" +
      f""""load1":$load1%.1f}""")
  }
}
