package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{MysqlBinlogWriter, PgOutput, PgOutputWriter}

/** Seeded input generators. Every input a workload feeds the engine is
  * built here from `--seed` before any timing starts, so the same seed
  * gives byte-identical captures and tables.
  *
  * The shapes follow sysbench's `oltp_*` scripts over `sbtestN(id, k,
  * c char(120), pad char(60))`: `c` is ten dash-joined 11-digit groups
  * and `pad` five, exactly as sysbench renders them.
  */
object Gen {

  val Tables: Int = 10
  def table(i: Int): String = s"sbtest$i"

  /** One row image in column order (id, k, c, pad). */
  type Row = Array[String]

  private def groups(r: SplittableRandom, n: Int): String = {
    val sb = new java.lang.StringBuilder(n * 12)
    var g = 0
    while (g < n) {
      if (g > 0) sb.append('-')
      val v = r.nextLong(100000000000L)
      val s = java.lang.Long.toString(v)
      var pad = 11 - s.length
      while (pad > 0) { sb.append('0'); pad -= 1 }
      sb.append(s)
      g += 1
    }
    sb.toString
  }

  def cValue(r: SplittableRandom): String = groups(r, 10)
  def padValue(r: SplittableRandom): String = groups(r, 5)

  /** The content of every CDC table: `rows` ids per table, k uniform
    * in [1, rows] like sysbench's prepare step. A row's starting image
    * is derived from (seed, table, id) alone, so only changed rows are
    * held in memory.
    */
  final class State(seed: Long, val rows: Int) {
    private val changed = mutable.HashMap.empty[Long, Row]
    private def initial(t: Int, id: Int): Row = {
      val r = new SplittableRandom(seed * 7919L + t * 1000003L + id)
      Array(id.toString, (r.nextInt(rows) + 1).toString, cValue(r),
        padValue(r))
    }
    private def slot(t: Int, id: Int): Long = t.toLong << 32 | id
    def get(t: Int, id: Int): Row =
      changed.getOrElse(slot(t, id), initial(t, id))
    def set(t: Int, id: Int, row: Row): Unit = changed(slot(t, id)) = row
  }

  /** sysbench's default `special` distribution: 1% of the ids take 75%
    * of the operations (rand-spec-pct=1, rand-spec-res=75).
    */
  def specialId(r: SplittableRandom, rows: Int): Int = {
    val hot = math.max(1, rows / 100)
    if (r.nextInt(100) < 75) r.nextInt(hot) + 1 else r.nextInt(rows) + 1
  }

  // ------------------------------------------------------------ snapshot

  /** One sysbench table as a Spark frame computed from (seed, table,
    * id) alone, so the oracle can recompute it without reading any
    * file the engine touched.
    */
  def snapshotFrame(spark: SparkSession, seed: Long, t: Int,
      rows: Long, chunks: Int): DataFrame = {
    def digits(salt: Int) = lpad(
      pmod(xxhash64(lit(seed), lit(t), col("id"), lit(salt)),
        lit(100000000000L)).cast("string"), 11, "0")
    spark.range(1, rows + 1, 1, chunks)
      .select(
        col("id").cast("int").as("id"),
        (pmod(xxhash64(lit(seed), lit(t), col("id")), lit(rows)) + 1)
          .cast("int").as("k"),
        concat_ws("-", (0 until 10).map(digits): _*).as("c"),
        concat_ws("-", (10 until 15).map(digits): _*).as("pad"))
  }

  /** Write the ten source tables as `<dir>/sbtestN.parquet/`, each split
    * into `chunks` files the way a chunked extractor lands them, in one
    * job. File names are stable (`chunk-0000.parquet`) so two
    * generations of one seed compare byte for byte.
    */
  def writeSnapshot(spark: SparkSession, dir: String, seed: Long,
      rows: Long, chunks: Int): Unit = {
    val all = s"$dir/_all"
    (1 to Tables).map(t => snapshotFrame(spark, seed, t, rows, chunks)
        .withColumn("tb", lit(table(t))))
      .reduce(_ union _)
      .write.partitionBy("tb").parquet(all)
    (1 to Tables).foreach { t =>
      val from = s"$all/tb=${table(t)}"
      val out = Disk.mkdirs(s"$dir/${table(t)}.parquet")
      Disk.list(from).filter(_.endsWith(".parquet")).zipWithIndex
        .foreach { case (p, i) =>
          Disk.move(s"$from/$p", f"$out/chunk-$i%04d.parquet")
        }
    }
    Disk.delete(all)
  }

  // ------------------------------------------------------ pg write-only

  /** One generated change in the order the source applied it. */
  final case class Op(table: Int, kind: String, id: Int, image: Row)

  final case class PgCapture(bytes: Array[Byte], ops: Seq[Op])

  val PgNamespace = "public"

  /** sysbench `oltp_write_only` as one pgoutput v2 capture: per
    * transaction, on one table and one `special` id, `UPDATE k=k+1`,
    * `UPDATE c=?`, `DELETE`, and `INSERT` of the same id with fresh
    * values. Replica identity is the default (key columns only in a
    * DELETE's old tuple).
    */
  def pgWriteOnly(seed: Long, rows: Int, txns: Int): PgCapture = {
    val state = new State(seed, rows)
    val r = new SplittableRandom(seed ^ 0x5eed0001L)
    val w = new PgOutputWriter()
    (1 to Tables).foreach { t =>
      w.relation(16000L + t, PgNamespace, table(t), 'd', Seq(
        PgOutput.RelColumn("id", keyPart = true, 23, -1),
        PgOutput.RelColumn("k", keyPart = false, 23, -1),
        PgOutput.RelColumn("c", keyPart = false, 1042, 124),
        PgOutput.RelColumn("pad", keyPart = false, 1042, 64)))
    }
    val ops = Seq.newBuilder[Op]
    var lsn = 0x16000000L
    (0 until txns).foreach { x =>
      val t = r.nextInt(Tables) + 1
      val id = specialId(r, rows)
      val rel = 16000L + t
      val old = state.get(t - 1, id)
      lsn += 0x1000L
      w.begin(lsn, 1000L + x, 700L + x)
      val k1 = old.updated(1, (old(1).toInt + 1).toString)
      w.update(rel, None, None, k1)
      ops += Op(t, "update", id, k1)
      val c1 = k1.updated(2, cValue(r))
      w.update(rel, None, None, c1)
      ops += Op(t, "update", id, c1)
      w.delete(rel, 'K', Array(id.toString, null, null, null))
      ops += Op(t, "delete", id, Array(id.toString, null, null, null))
      val ins = Array(id.toString, (r.nextInt(rows) + 1).toString,
        cValue(r), padValue(r))
      w.insert(rel, ins)
      ops += Op(t, "insert", id, ins)
      state.set(t - 1, id, ins)
      w.commit(lsn, lsn + 0x800L, 1000L + x)
    }
    PgCapture(w.bytes(), ops.result())
  }

  // ------------------------------------------------- mysql update_index

  /** A server's binlog: files in order, each a complete binlog v4 image
    * (magic, FDE, transactions, and a Rotate to the next file).
    */
  final case class Binlog(files: Seq[(String, Array[Byte])],
      ops: Seq[Op], events: Long)

  val MysqlSchema = "sbtest"

  /** sysbench `oltp_update_index`: every transaction is one
    * `UPDATE sbtestN SET k=k+1 WHERE id=?` with ids and tables uniform.
    * Row images are FULL (before and after). The server rotates its
    * binlog every `txnsPerFile` transactions.
    */
  def mysqlUpdateIndex(seed: Long, rows: Int, txns: Int,
      txnsPerFile: Int): Binlog = {
    val state = new State(seed, rows)
    val r = new SplittableRandom(seed ^ 0x5eed0002L)
    val ops = Seq.newBuilder[Op]
    val nFiles = (txns + txnsPerFile - 1) / txnsPerFile
    var xid = 1L
    val files = (1 to nFiles).map { f =>
      val name = f"binlog.$f%06d"
      val w = new MysqlBinlogWriter(serverId = 1L, checksum = false)
      w.fde()
      val from = (f - 1) * txnsPerFile
      (from until math.min(txns, from + txnsPerFile)).foreach { _ =>
        val t = r.nextInt(Tables) + 1
        val id = r.nextInt(rows) + 1
        val before = state.get(t - 1, id)
        val after = before.updated(1, (before(1).toInt + 1).toString)
        state.set(t - 1, id, after)
        w.begin(MysqlSchema)
        w.tableMap(100L + t, MysqlSchema, table(t), Seq(3, 3, 15, 15),
          Seq(0, 0, 480, 240), nullable = Seq(false, false, false, false),
          colNames = Seq("id", "k", "c", "pad"))
        w.updateRows(100L + t, Seq((before, after)))
        w.xid(xid); xid += 1
        ops += Op(t, "update", id, after)
      }
      if (f < nFiles) w.rotate(4L, f"binlog.${f + 1}%06d")
      name -> w.bytes()
    }
    Binlog(files, ops.result(), txns.toLong)
  }
}
