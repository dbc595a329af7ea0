package graft.streaming

import java.util.concurrent.{Callable, ExecutionException, Executors,
  Future}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType,
  StringType, StructField, StructType}

import graft.config.TaskConfig
import graft.infra.{Heartbeat, Monitoring}
import graft.model.{ChangeEvent, Position}
import graft.operators.Compaction
import graft.sinks.StreamLoadSink
import graft.sources.{DbResumer, PgOutput, PgSlotLifecycle}

/** The composed PG→warehouse CDC task — the reference's flagship
  * pg→starrocks story (docs/en/cdc/, wired in
  * /root/reference/dt-task/src/task_runner.rs:153-263 as
  * extractor→pipeline→parallelizer→sinker): slot lifecycle plan →
  * pgoutput v2 stream decode → per-transaction batching → compaction →
  * stream-load ship, with resume positions, heartbeats, and monitor
  * counters recorded at every batch boundary.
  *
  * The PG socket answers (slot status, publication existence, the framed
  * COPY-BOTH byte stream) arrive as [[PgAnswers]] — the one transport
  * seam, same pattern as the sink appliers' `StatementSink`. Everything
  * downstream of the bytes is the product: decode, transaction
  * accounting, resume arithmetic, compaction, payload shipping.
  *
  * Batches break only at transaction boundaries (the reference drains
  * whole txns into a batch before sinking — base_pipeline.rs:96-191), so
  * a recorded position is always a commit end and a restart never
  * replays half a transaction. This orchestrator is the captured-stream
  * task form with explicit position bookkeeping; the live lanes land
  * their [[graft.sources.ChangelogSource]] micro-batches through
  * `LiveCdc.landBatch` instead.
  *
  * [[run]] prepares batch i+1 while batch i ships, as the reference's
  * extractor fills a bounded `DtQueue` that the pipeline drains
  * (base_pipeline.rs:96-191, dt_queue.rs:13-117). One daemon thread
  * per run, named [[PrepareThreadName]], runs [[prepareBatch]] —
  * layouts, rows, the batch frame, compaction and the rendered, planned
  * ship — which has no outside effect and starts no Spark job. At most
  * one prepared batch waits. Everything with an outside effect stays on
  * the calling thread, in batch order: the `max_rps`/`max_mbps`
  * drains, the ship, the monitor counters, the recorded position and
  * the heartbeat. So batch i's position is written after batch i's
  * last PUT and before batch i+1's first, as before. A prepare failure
  * surfaces as its own exception at its batch's turn, after every
  * earlier batch has shipped and recorded its position; a ship failure
  * cancels the pending prepare. The thread has ended when [[run]]
  * returns or throws.
  */
object CdcTask {

  /** What a live replication session would answer — injected so the
    * composition is drivable without a server. `consistentPoint` is the
    * LSN a CREATE_REPLICATION_SLOT returned (used when the plan creates
    * the slot and no recorded position exists — the
    * snapshot-then-CDC handoff point, docs/en/tutorial/
    * snapshot_and_cdc_without_data_loss.md).
    */
  final case class PgAnswers(
      slotStatus: PgSlotLifecycle.SlotStatus,
      pubExists: Boolean,
      walStream: Array[Byte],
      consistentPoint: String = "")

  final case class BatchReport(batchId: Long, tables: Seq[String],
      rows: Long, commitLsn: String)

  final case class RunReport(
      plan: PgSlotLifecycle.Plan,
      startLsn: String,
      sessionSql: Seq[String],
      replicationSql: String,
      batches: Seq[BatchReport],
      rowsShipped: Long,
      eventsSkipped: Long,
      eventsFiltered: Long,
      endLsn: String)

  /** The LSN streaming starts from: a recovered task position wins over
    * the lifecycle plan (a restart resumes where it stopped; the plan's
    * answer covers first start / recreated slots — reference
    * resumer-before-config precedence, task_runner.rs fetch of the
    * position store ahead of prepare_slot).
    */
  def resolveStartLsn(plan: PgSlotLifecycle.Plan,
      recovered: Option[Position],
      consistentPoint: String = ""): String =
    recovered.collect { case Position.PgCdc(lsn) => lsn }
      .orElse(plan.startLsn.filter(_.nonEmpty))
      .orElse(Option(consistentPoint).filter(_.nonEmpty))
      .getOrElse("0/0")

  /** Group decoded events into transactions by their COMMIT ORDINAL
    * (the decoder tags each event with the index of the commit that
    * owns it) and attach each transaction's own commit end —
    * `commitEnds(k)` is exactly the k-th commit in stream order.
    * Grouping by the events' position values instead would merge the
    * first replayed transaction into its successor whenever a restart
    * resumes exactly at that transaction's commit end (both then carry
    * the resume LSN as their position).
    */
  private def txnGroups(events: Seq[(Int, ChangeEvent)],
      commitEnds: IndexedSeq[String]): Seq[(String, Seq[ChangeEvent])] =
    events.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, evs) =>
      val end =
        if (k < commitEnds.size) commitEnds(k)
        else evs.last._2.positionValue
      (end, evs.map(_._2))
    }

  /** Fold transactions into ship batches: accumulate whole txns until
    * `batchSize` rows, never splitting one (reference batch drain
    * semantics). Returns (commitLsn, events) per batch.
    */
  private def toBatches(txns: Seq[(String, Seq[ChangeEvent])],
      batchSize: Int): Seq[(String, Seq[ChangeEvent])] = {
    val out = Seq.newBuilder[(String, Seq[ChangeEvent])]
    var acc = Seq.newBuilder[ChangeEvent]
    var n = 0
    var lsn = ""
    txns.foreach { case (end, evs) =>
      acc ++= evs; n += evs.size; lsn = end
      if (n >= batchSize) {
        out += ((lsn, acc.result())); acc = Seq.newBuilder; n = 0
      }
    }
    if (n > 0) out += ((lsn, acc.result()))
    out.result()
  }

  /** Sink factory: (schema, tb, batchId, op) — `op` is "" for
    * upsert/soft-delete batches and "delete" for hard-delete batches
    * (the stream-load `columns: __op='delete'` header,
    * starrocks_sinker.rs:233-277).
    */
  type SinkFactory =
    (String, String, Long, String) => StreamLoadSink.PayloadSink

  /** One source table's share of a batch, resolved on the driver:
    * shipped columns in wire order (ignore_cols applied, keys kept),
    * key columns, and where routing sends them.
    */
  private final case class Layout(cols: Seq[String], keys: Seq[String],
      routedCols: Seq[String], dest: (String, String))

  private def layout(task: TaskConfig.Task, s: String, tb: String,
      first: ChangeEvent,
      relCols: Map[(String, String), Seq[String]],
      relKeys: Map[(String, String), Seq[String]]): Layout = {
    val wireCols = relCols.getOrElse((s, tb),
      first.keyImage.keys.toSeq.sorted)
    val keys = task.keysByTable.get(tb)
      .orElse(relKeys.get((s, tb)).filter(_.nonEmpty))
      .getOrElse(wireCols.take(1))
    require(keys.forall(wireCols.contains),
      s"key columns ${keys.mkString(",")} of $s.$tb are not among its " +
        s"columns ${wireCols.mkString(",")}")
    // ignore_cols applies to the CDC lane too (the same json: filter
    // config as snapshot) — key columns never drop
    val ignored = task.ignoreColsByTable.getOrElse((s, tb), Nil)
    val cols = wireCols.filter(c => keys.contains(c) || !ignored.contains(c))
    Layout(cols, keys, cols.map(c => task.router.routeColumn(s, tb, c)),
      task.router.routeTable(s, tb))
  }

  /** Name of the thread on which [[run]] prepares the next batch. */
  final val PrepareThreadName = "graft-cdc-prepare"

  /** Prepare one batch to ship as ONE plan, whatever the number of
    * tables: every event becomes a row of a single frame `(_t, _k,
    * _c0.._cN, row_type, _seq)` — source-table index, key values,
    * positional column values — compacted in one shuffle on `(_t, _k)`
    * and shipped by one job. `_k` is null when any key value is, so a
    * table's null-keyed rows take compaction's serial lane. Each row
    * renders as JSON with its own table's routed field names (plus the
    * sign and version columns unless `hard_delete`), and goes to the
    * sink of its (routed table, op).
    *
    * Everything here has no outside effect: resolve the layouts, build
    * the rows and the frame, compact, render, and plan the ship. Starts
    * no Spark job. Returns the one remaining action, which ships the
    * batch and returns rows shipped per routed table.
    */
  def prepareBatch(spark: SparkSession, task: TaskConfig.Task,
      batchId: Long, events: Seq[ChangeEvent],
      relCols: Map[(String, String), Seq[String]],
      relKeys: Map[(String, String), Seq[String]],
      sinkFor: SinkFactory)
      : () => Map[(String, String), Long] =
    if (events.isEmpty) () => Map.empty else {
    val byTable = events.groupBy(e => (e.schema, e.tb))
    val tables = byTable.keys.toIndexedSeq.sorted
    val tableIdx = tables.zipWithIndex.toMap
    val layouts = tables.map { case (s, tb) =>
      layout(task, s, tb, byTable((s, tb)).head, relCols, relKeys)
    }
    val width = layouts.map(_.cols.size).max
    val schema = StructType(
      Seq(StructField("_t", IntegerType),
        StructField("_k", ArrayType(StringType))) ++
        (0 until width).map(j => StructField(s"_c$j", StringType)) ++
        Seq(StructField("row_type", StringType),
          StructField("_seq", LongType)))
    val rows = events.zipWithIndex.map { case (e, i) =>
      val t = tableIdx((e.schema, e.tb))
      val l = layouts(t)
      val img = if (e.rowType == "delete") e.before else e.after
      val keyVals = l.keys.map(img.get(_).orNull)
      val values = l.cols.map(img.get(_).orNull)
      Row.fromSeq(Seq(t, if (keyVals.contains(null)) null else keyVals) ++
        values ++ Seq.fill(width - values.size)(null) ++
        Seq(e.rowType, i.toLong))
    }
    // a LocalRelation of the driver rows: the optimizer evaluates the
    // null-key serial leg on the driver, tasks carry encoded rows, and
    // the compaction's map-side slices follow
    // spark.sql.leafNodeDefaultParallelism (default: the session's
    // cores), not [pipeline] parallel_size. PUT parallelism is the
    // number of post-shuffle partitions, each opening its own sinks
    val df = spark.createDataFrame(rows.asJava, schema)
    val compacted = StreamLoadSink.withSignColumns(
      Compaction.compact(df, Seq("_t", "_k"), Seq("_seq"), col("row_type")),
      col("row_type"), col("_seq"))

    // hard delete: deletes ship as their own PUTs under `__op='delete'`,
    // upserts raw — no sign/version columns (the table has no
    // soft-delete sign). Compaction leaves at most one action per key,
    // so the two PUT groups never race on a key.
    val hard = task.sink.hardDelete
    val signCols =
      if (hard) Nil
      else Seq(col(StreamLoadSink.IsDeletedCol),
        col(StreamLoadSink.VersionCol))
    val lines = layouts.zipWithIndex.map { case (l, t) =>
      val fields = l.routedCols.zipWithIndex.map { case (c, j) =>
        col(s"_c$j").as(c)
      } ++ signCols
      (col("_t") === t, to_json(struct(fields: _*)))
    }
    val line = lines.tail.foldLeft(when(lines.head._1, lines.head._2)) {
      case (acc, (isT, json)) => acc.when(isT, json)
    }
    // destination d = routed table index * 2 + (1 for a hard delete)
    val dests = layouts.map(_.dest).distinct
    val destOf = typedLit(layouts.map(l => dests.indexOf(l.dest) * 2))
    val isDelete = if (hard) col("row_type") === "delete" else lit(false)
    val tagged = compacted.select(
      (destOf(col("_t")) + when(isDelete, 1).otherwise(0)).as("_d"),
      line.as("payload"))
    PlanBridge.plan(tagged)
    val batchBytes = task.sink.batchMemoryMb
      .map(_.toLong * 1024 * 1024).getOrElse(Long.MaxValue)
    val shipped = layouts.zip(tables).groupMapReduce(_._1.dest)(
      lt => byTable(lt._2).size.toLong)(_ + _)

    () => {
      StreamLoadSink.shipTagged(tagged, { d =>
        val (s, tb) = dests(d / 2)
        sinkFor(s, tb, batchId, if (d % 2 == 1) "delete" else "")
      }, task.batchSize, batchBytes)
      shipped
    }
  }

  /** `ship` over `xs` in order on the calling thread, with `prepare` of
    * the next element running on one daemon thread meanwhile: a
    * pipeline of depth one. A prepare failure is rethrown unwrapped at
    * its element's turn; a ship failure cancels the pending prepare.
    * The thread has ended when this returns or throws.
    */
  private def pipelined[A, P, B](spark: SparkSession, xs: IndexedSeq[A])
      (prepare: A => P)(ship: (A, P) => B): Seq[B] =
    if (xs.isEmpty) Nil else {
    var worker: Thread = null
    val pool = Executors.newSingleThreadExecutor { r =>
      worker = new Thread(() => {
        SparkSession.setActiveSession(spark) // SQLConf.get reads spark
        r.run()
      }, PrepareThreadName)
      worker.setDaemon(true)
      worker
    }
    def submit(i: Int): Future[P] =
      pool.submit(new Callable[P] { def call(): P = prepare(xs(i)) })
    var next = submit(0)
    try xs.indices.map { i =>
      val p =
        try next.get()
        catch { case e: ExecutionException => throw e.getCause }
      next = if (i + 1 < xs.size) submit(i + 1) else null
      ship(xs(i), p)
    } finally {
      if (next != null) next.cancel(true)
      pool.shutdownNow()
      worker.join()
    }
  }

  /** Run the task end-to-end over one captured stream. */
  def run(spark: SparkSession, task: TaskConfig.Task,
      answers: PgAnswers,
      sinkFor: SinkFactory,
      resumer: DbResumer.Dual,
      heartbeat: Option[Heartbeat.Emitter] = None,
      monitors: Monitoring.PipelineMonitors =
        Monitoring.PipelineMonitors("cdc-task"),
      // [pipeline] max_rps — the reference governor awaited between
      // batch applies; None/unlimited skips the gate entirely
      limiter: Option[graft.infra.RateLimiter] = None,
      // [extractor]/[sinker] max_mbps — the companion BYTE governor
      // (limiter_config.rs RateLimiterConfig carries both); gated on
      // each batch's estimated payload bytes
      byteLimiter: Option[graft.infra.RateLimiter] = None)
      : RunReport = {
    val slotCfg = task.slot.getOrElse(throw new IllegalArgumentException(
      "cdc task needs [extractor] slot_name"))

    // 1. slot lifecycle: what to execute, where the slot says to start
    val plan =
      PgSlotLifecycle.plan(slotCfg, answers.slotStatus, answers.pubExists)
    val startLsn =
      resolveStartLsn(plan, resumer.resumeCdc, answers.consistentPoint)
    val replicationSql = PgSlotLifecycle.startReplicationSql(
      slotCfg.slotName, startLsn,
      PgSlotLifecycle.publicationName(slotCfg), slotCfg.streaming)

    // 2. decode the stream; remember each relation's wire column order
    //    and replica-identity key columns (pgoutput is self-describing)
    val msgs = PgOutput.decodeCopyStream(answers.walStream)
    val relCols = msgs.collect { case (_, r: PgOutput.Relation) =>
      (r.namespace, r.name) -> r.columns.map(_.name)
    }.toMap
    val relKeys = msgs.collect { case (_, r: PgOutput.Relation) =>
      (r.namespace, r.name) -> r.columns.filter(_.keyPart).map(_.name)
    }.toMap
    val commitEnds = msgs.collect {
      case (_, c: PgOutput.Commit) => PgOutput.renderLsn(c.endLsn)
      case (_, sc: PgOutput.StreamCommit) => PgOutput.renderLsn(sc.endLsn)
    }.toIndexedSeq // indexed once per txn by txnGroups
    val all = PgOutput.toChangeEventsIndexed(msgs, startLsn)

    // 3. pre-seek at transaction granularity: a replayed transaction is
    //    already shipped iff its commit end is at or behind the resume
    //    position (positions only ever record commit boundaries)
    val startCmp = PgSlotLifecycle.parseLsn(
      if (startLsn.contains("/")) startLsn else "0/0")
    val (freshTxns, skippedTxns) = txnGroups(all, commitEnds)
      .partition { case (end, _) =>
        PgSlotLifecycle.parseLsn(end) > startCmp
      }
    val skipped = skippedTxns.map(_._2.size.toLong).sum
    monitors.extractor.addBatchCounter(Monitoring.ExtractedRecords,
      freshTxns.map(_._2.size.toLong).sum, 1L)

    // 4. row-level filter (schema/tb admission + event types); a txn
    //    filtered to nothing drops — the next batch's commit end covers
    //    its position
    val filteredTxns = freshTxns.map { case (end, evs) =>
      (end, evs.filter(e =>
        task.filter.allowTable(e.schema, e.tb) &&
          task.filter.allowEvent(e.rowType)))
    }

    // 4b. [processor] lua_code_file: the user's VERBATIM Lua runs per
    //     row between filtering and batching — the reference pipeline
    //     position (lua_processor.rs); a blanked row_type drops the
    //     event, and a txn processed to nothing drops like a filtered
    //     one (the next batch's commit end covers its position)
    val admittedTxns = (task.luaCodeFile match {
      case None => filteredTxns
      case Some(f) =>
        val t = graft.transform.LuaScript.rowTransform(
          graft.infra.Fs.readString(f))
        filteredTxns.map { case (end, evs) =>
          (end, evs.flatMap(t(_)))
        }
    }).filter(_._2.nonEmpty)

    // 5. txn-aligned batches → compact → ship → record position; batch
    //    i+1 is prepared on the prepare thread while batch i ships
    val batches =
      toBatches(admittedTxns, task.batchSize).zipWithIndex.toIndexedSeq
    val reports = pipelined(spark, batches) { case ((_, evs), i) =>
      prepareBatch(spark, task, i.toLong, evs, relCols, relKeys, sinkFor)
    } { case (((lsn, evs), i), ship) =>
      // rate governor: block until this batch's rows fit the budget
      // (reference base_pipeline awaits the limiter before sinking);
      // a batch larger than one second's quota drains the bucket in
      // capacity-sized steps across refill intervals
      def drain(l: graft.infra.RateLimiter, units: Long): Unit = {
        var remaining = units
        while (remaining > 0) {
          val step = math.min(remaining, l.capacity)
          l.acquire(step): Unit
          remaining -= step
        }
      }
      limiter.filterNot(_.unlimited)
        .foreach(drain(_, evs.size.toLong))
      // byte budget: estimated from the row images (the payload the
      // sink will serialize); same capacity-stepped drain
      byteLimiter.filterNot(_.unlimited).foreach { l =>
        val bytes = evs.iterator.map { e =>
          (e.before.iterator ++ e.after.iterator).map { case (k, v) =>
            k.length + (if (v == null) 4 else v.length)
          }.sum.toLong
        }.sum
        drain(l, math.max(1L, bytes))
      }
      val t0 = System.nanoTime()
      val shipped = ship()
      monitors.sinker
        .addCounter(Monitoring.RtPerQuery,
          (System.nanoTime() - t0) / 1000000L)
        .addBatchCounter(Monitoring.RecordCount, evs.size.toLong, 1L)
        .addBatchCounter(Monitoring.SinkedRecordTotal,
          evs.size.toLong, 1L)
      resumer.recordCdc(Position.PgCdc(lsn))
      heartbeat.foreach(_.maybeBeat(Heartbeat.Positions(
        receivedSegment = commitEnds.lastOption.getOrElse(lsn),
        receivedSeq = i.toLong, receivedTs = "",
        flushedSegment = lsn, flushedSeq = i.toLong,
        flushedTs = "")): Unit)
      BatchReport(i.toLong,
        shipped.keys.map { case (s, t) => s"$s.$t" }.toSeq.sorted,
        evs.size.toLong, lsn)
    }

    RunReport(plan, startLsn, PgSlotLifecycle.sessionSetupSql,
      replicationSql, reports,
      rowsShipped = reports.map(_.rows).sum,
      eventsSkipped = skipped,
      eventsFiltered = freshTxns.map(_._2.size.toLong).sum -
        admittedTxns.map(_._2.size.toLong).sum,
      endLsn = commitEnds.lastOption.getOrElse(startLsn))
  }
}
