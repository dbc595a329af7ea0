package graft.streaming

import org.apache.spark.sql.SparkSession

import graft.config.{TaskConfig, TaskRunner}
import graft.infra.Monitoring
import graft.sinks.StreamLoadSink
import graft.sources.{DbResumer, PgSlotLifecycle}

/** The serial snapshot-then-CDC migration without data loss — the
  * reference's flagship onboarding story (docs/en/tutorial/
  * snapshot_and_cdc_without_data_loss.md): the replication slot is
  * prepared BEFORE the snapshot starts, so every change made while the
  * snapshot copies spools into the slot; the CDC stage then drains from
  * the slot's consistent point. Changes that landed both in the
  * snapshot and the spool replay as idempotent upserts (the
  * merge-parallelizer/versioned-sink contract) — at-least-once at the
  * overlap, never lost.
  *
  * The handoff arithmetic is exactly [[CdcTask.resolveStartLsn]]:
  * 1. a recovered CDC position (this task restarted mid-CDC) wins;
  * 2. else the plan's resume answer (slot already existed);
  * 3. else the CREATE_REPLICATION_SLOT consistent point captured here,
  *    before the first table copied.
  */
object FullSyncTask {

  final case class Report(
      slotPlan: PgSlotLifecycle.Plan,
      snapshot: Seq[TaskRunner.TableResult],
      snapshotSkipped: Seq[String],
      cdc: CdcTask.RunReport)

  /** Run both stages. `snapshotTask`/`cdcTask` are the two INI configs
    * of the reference tutorial (or one snapshot_and_cdc config twice);
    * `answers` carries the slot state BEFORE this task ran plus the
    * captured stream. A snapshot sink that is a stream-load warehouse
    * URL gets the copied rows through `sinkFor` too; any other is a
    * parquet directory.
    *
    * The snapshot stage records per-table finish marks into the SAME
    * dual resumer the CDC stage uses, so a restart skips finished
    * tables and resumes the stream — one position store for the whole
    * migration.
    */
  def run(spark: SparkSession,
      snapshotTask: TaskConfig.Task,
      cdcTask: TaskConfig.Task,
      answers: CdcTask.PgAnswers,
      sinkFor: CdcTask.SinkFactory,
      resumer: DbResumer.Dual,
      monitors: Monitoring.PipelineMonitors =
        Monitoring.PipelineMonitors("full-sync-task")): Report = {
    val slotCfg = cdcTask.slot.getOrElse(throw new IllegalArgumentException(
      "cdc stage needs [extractor] slot_name"))

    // 1. prepare the slot FIRST — its consistent point is the fence:
    //    everything the snapshot misses after this instant spools
    val plan = PgSlotLifecycle.plan(slotCfg, answers.slotStatus,
      answers.pubExists)

    // 2. snapshot every admitted, not-yet-finished table, marking
    //    finishes in the shared position store
    val units = TaskRunner.units(snapshotTask)
    val (skip, todo) =
      units.partition { case (s, t) => resumer.isFinished(s, t) }
    val toWarehouse = snapshotTask.sinkDir.startsWith("http://") ||
      snapshotTask.sinkDir.startsWith("https://")
    val results = todo.map { case (schema, tb) =>
      val r =
        if (toWarehouse)
          TaskRunner.shipSnapshotTable(spark, snapshotTask, schema, tb,
            sinkFor)
        else TaskRunner.snapshotTable(spark, snapshotTask, schema, tb)
      resumer.finish(schema, tb)
      monitors.extractor.addBatchCounter(Monitoring.ExtractedRecords,
        r.rows, 1L)
      r
    }

    // 3. drain the spool from the consistent point
    val cdcReport = CdcTask.run(spark, cdcTask, answers, sinkFor,
      resumer, monitors = monitors)

    Report(plan, results, skip.map { case (s, t) => s"$s.$t" },
      cdcReport)
  }
}
