package graft

import graft.config.TaskManager

/** dt-cli analog entry point over [[graft.config.TaskManager]]:
  *
  * {{{
  * runMain graft.TaskCli <stateDir> create <name> <task_config.ini>
  * runMain graft.TaskCli <stateDir> start <name>
  * runMain graft.TaskCli <stateDir> list
  * runMain graft.TaskCli <stateDir> show <name>
  * runMain graft.TaskCli <stateDir> logs <name>
  * runMain graft.TaskCli <stateDir> stop <name>
  * runMain graft.TaskCli <stateDir> delete <name>
  * }}}
  */
object TaskCli {

  private def fmt(m: TaskManager.TaskMeta): String =
    s"${m.name}\t${m.status}\tcreated=${m.createdMs}" +
      m.startedMs.fold("")(t => s"\tstarted=$t") +
      m.endedMs.fold("")(t => s"\tended=$t") +
      m.error.fold("")(e => s"\terror=$e")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.TaskCli <stateDir> <create|start|list|show|logs|" +
        "stop|delete|watch> [name] [config.ini]")
    val stateDir = args(0)
    args(1) match {
      case "create" =>
        val ini = java.nio.file.Files.readString(
          java.nio.file.Paths.get(args(3)))
        println(fmt(TaskManager.create(stateDir, args(2), ini)))
      case "start" =>
        val spark = Main.session("graft-task-cli")
        try println(fmt(TaskManager.start(spark, stateDir, args(2))))
        finally spark.stop()
      case "list" => TaskManager.list(stateDir).foreach(m => println(fmt(m)))
      case "show" =>
        val (meta, task) = TaskManager.show(stateDir, args(2))
        println(fmt(meta))
        println(s"extract_type=${task.extractType} " +
          s"source=${task.sourceDir} sink=${task.sinkDir}")
      case "logs" =>
        TaskManager.logs(stateDir, args(2)).foreach(println)
      case "stop" => TaskManager.requestStop(stateDir, args(2))
      case "delete" => TaskManager.delete(stateDir, args(2))
      // the dt-cli daemon loop: watch all tasks, demote stale runners,
      // restart failed ones with capped backoff, until interrupted.
      // GRAFT_WATCH_PASSES bounds the loop for scripted runs.
      case "watch" =>
        val spark = Main.session("graft-task-watch")
        val passes = sys.env.get("GRAFT_WATCH_PASSES")
          .map(_.toInt).getOrElse(Int.MaxValue)
        val intervalMs = sys.env.get("GRAFT_WATCH_INTERVAL_MS")
          .map(_.toLong).getOrElse(10000L)
        try {
          var i = 0
          while (i < passes) {
            val restarted = TaskManager.superviseAll(spark, stateDir)
            if (restarted.nonEmpty)
              println(s"watch: restarted ${restarted.mkString(",")}")
            i += 1
            if (i < passes) Thread.sleep(intervalMs)
          }
        } finally spark.stop()
      case other => sys.error(s"unknown command $other")
    }
  }
}
