package graft

import org.apache.spark.sql.SparkSession

import graft.config.{TaskConfig, TaskRunner}

/** CLI entry — the reference's dt-main
  * (/root/reference/dt-main/src/main.rs:34-68): precheck the task config,
  * then run it through the same [[TaskRunner.run]] dispatcher the task
  * manager uses. Usage:
  * runMain graft.Main <task_config.ini> [--precheck] [--then <cdc.ini>]
  */
object Main {

  def main(args: Array[String]): Unit = {
    val spark = Session("graft-task")
    try run(spark, args) finally spark.stop()
  }

  private def load(path: String): TaskConfig.Task = {
    val p = java.nio.file.Paths.get(path)
    TaskConfig.fromIni(java.nio.file.Files.readString(p),
      Option(p.toAbsolutePath.getParent))
  }

  /** Run one task config to its end, report lines to stdout. CDC
    * positions default to `<wal_capture>.positions`, live lanes keep
    * their capture and checkpoint under `<task_config.ini>.state`.
    * `--precheck` only prechecks; `--then <cdc.ini>` follows a snapshot
    * task with CDC from the slot fenced before the copy. A run that
    * does not finish throws.
    */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: graft.Main <task_config.ini> [--precheck] [--then <cdc.ini>]")
    val task = load(args(0))
    if (args.contains("--precheck")) {
      TaskRunner.precheckLogged(spark, task, println): Unit
      return
    }
    val thenIdx = args.indexOf("--then")
    val out = TaskRunner.run(spark, task,
      TaskRunner.Caller(args(0), s"${args(0)}.state",
        capture => s"$capture.positions", println),
      Option.when(thenIdx >= 0)(load(args(thenIdx + 1))))
    require(out.status == "finished",
      s"task ${out.status}: ${out.detail.getOrElse("")}")
    println("task finished")
  }
}
