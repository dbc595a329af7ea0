package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types._

import graft.infra.Precheck
import graft.operators.Compaction
import graft.sinks.{Applier, RdbQueryBuilder, StreamLoadSink}
import graft.struct.StructMigrator
import graft.sources.SnapshotChunker

class InfraSpec extends SparkSuite {
  import spark.implicits._

  // ---------------------------------------------------------- chunker
  test("chunker: dense key → step == batchSize") {
    val p = SnapshotChunker.plan(
      SnapshotChunker.TableStats(100000, 1, 100000), 10000)
    assert(p.step == 10000 && p.nChunks == 10)
    assert(p.ranges.head == (1L, 10001L))
    assert(p.predicates("k").head == "k >= 1 AND k < 10001")
  }

  test("chunker: sparse key widens stride; skew clamped") {
    val sparse = SnapshotChunker.plan(
      SnapshotChunker.TableStats(1000, 0, 99999), 100) // factor 100
    assert(sparse.step == 100 * 100)
    val extreme = SnapshotChunker.plan(
      SnapshotChunker.TableStats(10, 0, 10000000), 100) // clamp at 1000
    assert(extreme.step == 100 * 1000)
  }

  test("chunker: keyset statement shapes") {
    val first = SnapshotChunker.keysetStatement("t", Seq("a", "b"), None,
      500)
    assert(first == "SELECT * FROM t ORDER BY a, b LIMIT 500")
    val next = SnapshotChunker.keysetStatement("t", Seq("a", "b"),
      Some(Seq("10", "'x'")), 500, Some("a < 99"))
    assert(next ==
      "SELECT * FROM t WHERE (a,b) > (10,'x') AND a < 99 " +
        "ORDER BY a, b LIMIT 500")
  }

  // ----------------------------------------------------- query builder
  test("query builder statement shapes per dialect") {
    import RdbQueryBuilder._
    assert(batchInsert(MySql, "t", Seq("a", "b"), 2) ==
      "INSERT INTO t (`a`, `b`) VALUES (?,?),(?,?)")
    assert(MySql.upsert("t", Seq("a", "b"), Seq("a"), 1) ==
      "REPLACE INTO t (`a`, `b`) VALUES (?,?)")
    assert(Postgres.upsert("t", Seq("a", "b"), Seq("a"), 1) ==
      "INSERT INTO t (\"a\", \"b\") VALUES (?,?) " +
        "ON CONFLICT (\"a\") DO UPDATE SET \"b\"=EXCLUDED.\"b\"")
    assert(batchDelete(MySql, "t", Seq("k1", "k2"), 2) ==
      "DELETE FROM t WHERE (`k1`,`k2`) IN ((?,?),(?,?))")
    assert(update(MySql, "t", Seq("v"), Seq("k")) ==
      "UPDATE t SET `v`=? WHERE `k`=?")
    assert(literal(Some("o'brien")) == "'o''brien'")
    assert(literal(None) == "NULL")
    assert(literal(Some(42L)) == "42")
  }

  test("connection prelude: FK checks + isolation per dialect, " +
      "pg uses session_replication_role") {
    import RdbQueryBuilder._
    assert(connSettings(MySql, disableForeignKeyChecks = true,
      "repeatable_read") == Seq("SET FOREIGN_KEY_CHECKS=0",
      "SET TRANSACTION ISOLATION LEVEL REPEATABLE READ"))
    assert(connSettings(MySql, disableForeignKeyChecks = false,
      "default") == Nil)
    assert(connSettings(MySql, disableForeignKeyChecks = false,
      "serializable") ==
      Seq("SET TRANSACTION ISOLATION LEVEL SERIALIZABLE"))
    assert(connSettings(Postgres, disableForeignKeyChecks = true) ==
      Seq("SET session_replication_role = 'replica';"))
    assert(connSettings(Postgres, disableForeignKeyChecks = false,
      "serializable") == Nil) // pg path ignores isolation, as upstream
  }

  // ------------------------------------------------------------ applier
  private class BufferSink(failOn: String => Boolean = _ => false)
      extends Applier.StatementSink {
    val executed = ArrayBuffer[Applier.StatementBatch]()
    def execute(b: Applier.StatementBatch): Unit = {
      if (b.rows.size > 1 && b.rows.exists(r => failOn(r.mkString(","))))
        throw new RuntimeException("batch poison")
      if (b.rows.size == 1 && failOn(b.rows.head.mkString(",")))
        throw new RuntimeException("row poison")
      executed += b
    }
  }

  private def compacted = Seq(
    (Some(1L), 1L, "insert", "a", Compaction.Upsert),
    (Some(2L), 2L, "delete", "b", Compaction.Delete),
    (Some(3L), 3L, "update", "c", Compaction.Upsert),
    (None, 4L, "insert", "d", Compaction.Serial),
    (None, 5L, "delete", "e", Compaction.Serial))
    .toDF("k", "seq", "row_type", "v", Compaction.ActionCol)

  test("applier plans deletes before upserts, serial lane full-row") {
    val rows = compacted.filter(col(Compaction.ActionCol) =!= "serial")
      .collect().iterator
    val batches = Applier.planMergeable(RdbQueryBuilder.MySql, "t", rows,
      Seq("k"), Seq("k", "v")).toSeq
    assert(batches.head.sql.startsWith("DELETE"))
    assert(batches(1).sql.startsWith("REPLACE"))
    val serialRows = compacted.filter(col(Compaction.ActionCol) === "serial")
      .orderBy("seq").collect().iterator
    val serial = Applier.planSerial(RdbQueryBuilder.MySql, "t",
      serialRows, Seq("k", "v")).toSeq
    assert(serial.size == 2)
    assert(serial(0).sql.startsWith("INSERT"))
    assert(serial(1).sql == "DELETE FROM t WHERE `k`<=>? AND `v`<=>?")
  }

  test("applier planner streams: bounded buffering over 1M-row partition") {
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType),
      StructField(Compaction.ActionCol, StringType)))
    val n = 1000000
    var consumed = 0
    val rows: Iterator[org.apache.spark.sql.Row] =
      Iterator.range(0, n).map { i =>
        consumed += 1
        new GenericRowWithSchema(Array[Any](i.toLong, s"v$i",
          if (i % 3 == 0) Compaction.Delete else Compaction.Upsert), schema)
      }
    val batchSize = 1000
    val planner = Applier.planMergeable(RdbQueryBuilder.MySql, "t", rows,
      Seq("k"), Seq("k", "v"), batchSize)
    // laziness: producing the first batch must not drain the input —
    // at most one fill pass (≤ 2·batchSize rows) may be consumed
    val first = planner.next()
    assert(first.rows.size == batchSize)
    assert(consumed <= 2 * batchSize,
      s"planner materialized $consumed rows for the first batch")
    // full drive-through: every row lands in exactly one batch
    var dels = first.rows.size.toLong *
      (if (first.sql.startsWith("DELETE")) 1 else 0)
    var ups = first.rows.size.toLong - dels
    planner.foreach { b =>
      if (b.sql.startsWith("DELETE")) dels += b.rows.size
      else ups += b.rows.size
    }
    assert(dels == (n + 2) / 3 && dels + ups == n)
  }

  test("per-table fan-out: tables isolated, within-table order kept") {
    val acc = InfraSpec.sharedSink
    acc.synchronized(acc.clear())
    // 2 tables interleaved in input; order col = seq
    val changes = Seq(
      ("app", "ta", "insert", 1L, "a1"),
      ("app", "tb", "insert", 2L, "b1"),
      ("app", "ta", "update", 3L, "a2"),
      ("app", "tb", "delete", 4L, "b2"),
      ("app", "ta", "delete", 5L, "a3"))
      .toDF("schema", "tb", "row_type", "seq", "v")
    Applier.applyPerTable(RdbQueryBuilder.MySql, changes,
      cols = Seq("seq", "v"), orderCols = Seq("seq"),
      sinkFactory = () => InfraSpec.SharedSink, batchSize = 2)
    val got = acc.synchronized(acc.toSeq)
    // every statement targets a fully-qualified single table
    assert(got.forall(b => b.sql.contains("`app`.`ta`") ||
      b.sql.contains("`app`.`tb`")))
    def lane(t: String) = got.filter(_.sql.contains(s"`app`.`$t`"))
      .flatMap(_.rows.map(_.head.asInstanceOf[Long]))
    // within-table order is the input order, regardless of interleave
    assert(lane("ta") == Seq(1L, 3L, 5L))
    assert(lane("tb") == Seq(2L, 4L))
    // delete statements match full row null-safely (serial-lane shape)
    assert(got.exists(_.sql.startsWith("DELETE FROM `app`.`ta` WHERE")))
  }

  test("applier error isolation: poison row isolated, rest applied") {
    val sink = new BufferSink(failOn = _.contains("poison"))
    val b = Applier.StatementBatch("INSERT", Seq(
      Seq("a", 1), Seq("poison", 2), Seq("c", 3)))
    val stats = Applier.applyAll(sink, Seq(b))
    assert(stats.batched == 0 && stats.isolatedOk == 2 &&
      stats.failedRows == 1)
  }

  test("applier end-to-end over DataFrame partitions") {
    val acc = InfraSpec.sharedSink
    acc.synchronized(acc.clear())
    Applier.applyCompacted(RdbQueryBuilder.MySql, "t", compacted,
      Seq("k"), Seq("k", "v"), Seq("seq"),
      () => InfraSpec.SharedSink)
    val sqls = acc.synchronized(acc.map(_.sql).toSeq)
    assert(sqls.exists(_.startsWith("DELETE FROM t WHERE (`k`)")))
    assert(sqls.exists(_.startsWith("REPLACE INTO")))
    assert(sqls.count(_.startsWith("INSERT INTO")) == 1) // serial insert
    assert(sqls.exists(_.contains("<=>"))) // serial full-row delete
  }

  // -------------------------------------------------------- stream load
  test("stream-load sign/version columns + json payload") {
    val df = Seq((1L, "insert", "x"), (2L, "delete", "y"))
      .toDF("k", "rt", "v")
    val out = StreamLoadSink.withSignColumns(df, col("rt"), col("k"))
    val rows = out.select("k", StreamLoadSink.IsDeletedCol,
      StreamLoadSink.VersionCol).as[(Long, Int, Long)].collect().toSet
    assert(rows == Set((1L, 0, 1L), (2L, 1, 2L)))
    val payload = StreamLoadSink.jsonPayload(out).as[String].collect()
    assert(payload.exists(_.contains("\"_graft_is_deleted\":1")))
  }

  // ------------------------------------------------------------- struct
  test("struct migrator renders dialect DDL with type maps") {
    import StructMigrator._
    val t = TableDef("app", "users", Seq(
      ColumnDef("id", LongType, nullable = false),
      ColumnDef("name", StringType),
      ColumnDef("bal", DecimalType(10, 2)),
      ColumnDef("ts", TimestampNTZType)),
      primaryKey = Seq("id"))
    val my = migrate(t, MySqlDialect)
    assert(my.contains("`id` BIGINT NOT NULL") &&
      my.contains("PRIMARY KEY (`id`)") &&
      my.contains("DECIMAL(10,2)"))
    val pg = migrate(t, PostgresDialect)
    assert(pg.contains("\"bal\" NUMERIC(10,2)") &&
      pg.contains("\"ts\" TIMESTAMP"))
    val sr = migrate(t, StarRocksDialect)
    assert(sr.contains("PRIMARY KEY (`id`)") &&
      sr.contains("`_graft_version` BIGINT"))
    val ch = migrate(t, ClickHouseDialect)
    assert(ch.contains("ReplacingMergeTree(`_graft_version`)") &&
      ch.contains("Nullable(String)") && ch.contains("`id` Int64"))
  }

  test("struct migration honors the do_structures gate per kind") {
    import StructMigrator._
    val t = TableDef("app", "users", Seq(
      ColumnDef("id", LongType, nullable = false),
      ColumnDef("email", StringType)),
      primaryKey = Seq("id"),
      indexes = Seq(IndexDef("ix_email", Seq("email"), unique = true)))
    val all = StructMigrator.migrate(t, MySqlDialect,
      graft.operators.NameFilter(doStructures = Set("*")))
    assert(all.size == 2)
    assert(all(0).startsWith("CREATE TABLE IF NOT EXISTS `app`.`users`"))
    assert(all(1) ==
      "CREATE UNIQUE INDEX `ix_email` ON `app`.`users` (`email`)")
    val tablesOnly = StructMigrator.migrate(t, MySqlDialect,
      graft.operators.NameFilter(doStructures = Set("table")))
    assert(tablesOnly.size == 1 && tablesOnly.head.startsWith("CREATE TABLE"))
    assert(StructMigrator.migrate(t, MySqlDialect,
      graft.operators.NameFilter()).isEmpty)
  }

  test("struct migrator derives TableDef from a Spark schema") {
    val st = StructType(Seq(StructField("a", IntegerType, nullable = false),
      StructField("b", StringType)))
    val t = StructMigrator.TableDef.fromStruct("s", "t", st, Seq("a"))
    assert(t.cols.map(_.name) == Seq("a", "b"))
    assert(!t.cols.head.nullable)
  }

  // ----------------------------------------------------------- precheck
  test("precheck battery over real testdata") {
    val res = Precheck.runAll(spark, sf, Seq("orders", "lineitem"),
      Map("orders" -> Seq("o_orderkey"), "lineitem" -> Nil))
    assert(res.filter(_.item == "source_readable").forall(_.ok))
    val keyChecks = res.filter(_.item == "pk_present")
    assert(keyChecks.find(_.detail == "orders").exists(_.ok))
    assert(keyChecks.exists(r => !r.ok &&
      r.detail.contains("lineitem"))) // no key declared → degrade warning
    assert(res.filter(_.item == "types_supported").forall(_.ok))
  }

  test("precheck flags missing source") {
    val r = Precheck.checkSourceReadable(spark, "/tmp/nope_missing.parquet")
    assert(!r.ok)
  }

  test("precheck reads footers: no Spark job, and a missing dir or a " +
      "non-parquet file is not readable") {
    val group = "precheck-jobs"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group) {
          jobs.incrementAndGet(); ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val res = try {
      spark.sparkContext.setJobGroup(group, "precheck")
      try Precheck.runAll(spark, sf, Seq("orders", "lineitem"),
        Map("orders" -> Seq("o_orderkey")))
      finally spark.sparkContext.clearJobGroup()
    } finally {
      PlanBridge.settleListeners(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get == 0)
    assert(res.filter(_.item == "source_readable").map(_.detail) ==
      Seq("orders", "lineitem"))
    assert(res.forall(r => r.ok || r.item == "pk_present"))

    val dir = Files.createTempDirectory("precheck-unreadable").toString
    Files.writeString(Paths.get(dir, "junk.parquet"), "not parquet")
    val bad = Precheck.runAll(spark, dir, Seq("missing", "junk"), Map.empty)
    assert(bad.map(r => (r.item, r.ok)) ==
      Seq(("source_readable", false), ("source_readable", false)))
    assert(bad(0).detail.startsWith(s"$dir/missing.parquet: "))
    assert(bad(1).detail.startsWith(s"$dir/junk.parquet: "))
    assert(!Precheck.checkSourceReadable(spark, s"$dir/junk.parquet").ok)
    assert(!Precheck.checkSourceReadable(spark, s"$dir/missing.parquet").ok)
  }
}

object InfraSpec {
  // shared across executor threads in local mode for foreachPartition
  val sharedSink = new ArrayBuffer[Applier.StatementBatch]()

  object SharedSink extends Applier.StatementSink with Serializable {
    def execute(b: Applier.StatementBatch): Unit =
      sharedSink.synchronized { sharedSink += b }
  }
}
