package graft.config

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Local task lifecycle manager — the dt-cli analog
  * (/root/reference/dt-cli/src/main.rs: Create/Start/List/Show/Logs/
  * Stop/Delete over per-task record directories). Each task owns
  * `<stateDir>/<name>/` holding:
  *
  *   - `task.ini` — the task config, verbatim as created
  *   - `meta.ini` — status + millisecond timestamps + last error
  *   - `task.log` — append-only run log (`logs` tails it)
  *   - `stop.requested` — cooperative stop flag (`stop` plants it)
  *
  * The reference forks a child process per task and kills it on stop;
  * on Spark the runner executes inside the driver JVM, so `start` runs
  * the task one TABLE UNIT at a time and consults the stop flag between
  * units — the status lifecycle (created → running → finished | failed
  * | stopped, restartable from any terminal state) is the same.
  */
object TaskManager {

  final case class TaskMeta(name: String, status: String,
      createdMs: Long, startedMs: Option[Long], endedMs: Option[Long],
      error: Option[String], restarts: Int = 0)

  private def taskDir(stateDir: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9_.-]+"), s"invalid task name $name")
    Paths.get(stateDir, name)
  }

  // ------------------------------------------------------------- meta io

  private def writeMeta(dir: Path, m: TaskMeta): Unit = {
    val lines = Seq(
      "[meta]",
      s"name=${m.name}",
      s"status=${m.status}",
      s"created_ms=${m.createdMs}",
      s"started_ms=${m.startedMs.getOrElse(-1L)}",
      s"ended_ms=${m.endedMs.getOrElse(-1L)}",
      s"restarts=${m.restarts}",
      s"error=${m.error.getOrElse("").replaceAll("[\r\n]+", " ")}")
    Files.write(dir.resolve("meta.ini"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def readMeta(dir: Path): TaskMeta = {
    val text = new String(Files.readAllBytes(dir.resolve("meta.ini")),
      StandardCharsets.UTF_8)
    val s = TaskConfig.parseIni(text).section("meta")
    def opt(k: String): Option[Long] =
      s(k).map(_.toLong).filter(_ >= 0)
    TaskMeta(s.get("name", dir.getFileName.toString),
      s.get("status", "created"),
      s.get("created_ms", "0").toLong, opt("started_ms"), opt("ended_ms"),
      s("error").filter(_.nonEmpty),
      s.get("restarts", "0").toInt)
  }

  private def log(dir: Path, line: String): Unit =
    Files.write(dir.resolve("task.log"),
      s"[${System.currentTimeMillis()}] $line\n"
        .getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  // ---------------------------------------------------------- lifecycle

  /** Create a task record; refuses to overwrite an existing one. */
  def create(stateDir: String, name: String, iniText: String): TaskMeta = {
    val dir = taskDir(stateDir, name)
    require(!Files.exists(dir), s"task $name already exists")
    TaskConfig.fromIni(iniText) // validate before recording
    Files.createDirectories(dir)
    Files.write(dir.resolve("task.ini"),
      iniText.getBytes(StandardCharsets.UTF_8))
    val meta = TaskMeta(name, "created", System.currentTimeMillis(),
      None, None, None)
    writeMeta(dir, meta)
    log(dir, "created")
    meta
  }

  def list(stateDir: String): Seq[TaskMeta] = {
    val root = Paths.get(stateDir)
    if (!Files.isDirectory(root)) Nil
    else Files.list(root).iterator().asScala.toSeq
      .filter(p => Files.exists(p.resolve("meta.ini")))
      .map(readMeta).sortBy(_.name)
  }

  def show(stateDir: String, name: String): (TaskMeta, TaskConfig.Task) = {
    val dir = taskDir(stateDir, name)
    val ini = new String(Files.readAllBytes(dir.resolve("task.ini")),
      StandardCharsets.UTF_8)
    (readMeta(dir), TaskConfig.fromIni(ini, Some(dir)))
  }

  def logs(stateDir: String, name: String): Seq[String] = {
    val f = taskDir(stateDir, name).resolve("task.log")
    if (Files.exists(f)) Files.readAllLines(f).asScala.toSeq else Nil
  }

  /** Plant the cooperative stop flag; the runner honors it between
    * table units (a no-op unless the task is running).
    */
  def requestStop(stateDir: String, name: String): Unit = {
    val dir = taskDir(stateDir, name)
    Files.write(dir.resolve("stop.requested"), Array.emptyByteArray)
    log(dir, "stop requested")
  }

  /** Delete a task record; refuses while the task is running. */
  def delete(stateDir: String, name: String): Unit = {
    val dir = taskDir(stateDir, name)
    require(readMeta(dir).status != "running",
      s"task $name is running — stop it first")
    Files.walk(dir).iterator().asScala.toSeq.reverse
      .foreach(Files.delete)
  }

  /** Run the task in-process through [[TaskRunner.run]], lines to
    * `task.log`, CDC positions in `positions.log` of the task dir.
    * Snapshot and check tasks run one table unit at a time and honor
    * the stop flag between units; `afterUnit` fires after each
    * completed unit (test hook for interleaving a stop request). Any
    * terminal-state task restarts from scratch; snapshot unit writes
    * are idempotent overwrites.
    */
  def start(spark: SparkSession, stateDir: String, name: String,
      afterUnit: Int => Unit = _ => (),
      liveDial: Option[() => graft.transport.Wire] = None,
      liveNodeDial: Option[String => graft.transport.Wire] = None)
      : TaskMeta = {
    val dir = taskDir(stateDir, name)
    val meta0 = readMeta(dir)
    require(meta0.status != "running", s"task $name is already running")
    Files.deleteIfExists(dir.resolve("stop.requested"))
    val ini = new String(Files.readAllBytes(dir.resolve("task.ini")),
      StandardCharsets.UTF_8)
    val task = TaskConfig.fromIni(ini, Some(dir))
    val running = meta0.copy(status = "running",
      startedMs = Some(System.currentTimeMillis()), endedMs = None,
      error = None)
    writeMeta(dir, running)
    // beacon at start: a freshly-started task must never look like a
    // crashed runner to a concurrent watch pass (the per-unit touches
    // keep it fresh from here)
    touchAlive(dir)
    log(dir, "started")
    def finish(status: String, error: Option[String]): TaskMeta = {
      val meta = running.copy(status = status,
        endedMs = Some(System.currentTimeMillis()), error = error)
      writeMeta(dir, meta)
      log(dir, status + error.fold("")(e => s": $e"))
      meta
    }
    try {
      val out = TaskRunner.run(spark, task, TaskRunner.Caller(name,
        dir.toString, _ => dir.resolve("positions.log").toString,
        log(dir, _),
        stop = () => Files.exists(dir.resolve("stop.requested")),
        afterUnit = afterUnit, alive = () => touchAlive(dir),
        liveDial = liveDial, liveNodeDial = liveNodeDial))
      finish(out.status, out.detail)
    } catch {
      case e: Exception => finish("failed", Some(e.toString))
    }
  }

  // --------------------------------------------------------- supervision
  // the reference CLI's daemon posture (dt-cli/src/main.rs): persistent
  // task dirs with liveness-checked restart (reject_if_task_running /
  // restart_persistent_task), crash recovery, and log management. Tasks
  // here run in-process (Spark apps), so the supervised unit is a task
  // RUN rather than an OS child — the state machine (liveness probe,
  // capped restart budget, backoff, resume from positions) is the same.

  /** `staleAliveMs` must be comfortably larger than the longest
    * single unit (the beacon only refreshes between units) — the
    * 10-minute default trades slow takeover for never demoting a
    * live runner mid-unit.
    */
  final case class SupervisorConfig(maxRestarts: Int = 5,
      baseBackoffMs: Long = 500L, maxBackoffMs: Long = 60000L,
      staleAliveMs: Long = 600000L, logMaxBytes: Long = 1L << 20,
      logKeep: Int = 3)

  def backoffMs(cfg: SupervisorConfig, attempt: Int): Long =
    math.min(cfg.maxBackoffMs,
      cfg.baseBackoffMs * (1L << math.min(math.max(attempt - 1, 0), 16)))

  /** Liveness beacon: the runner touches this per unit; the watcher
    * treats `running` + a stale beacon as a crashed runner (the
    * in-process analogue of dt-cli's dead-pid check).
    */
  private def touchAlive(dir: Path): Unit = {
    // tmp + atomic move: the beacon is now touched from BOTH the pump
    // thread (BeaconStore) and the landing loop, and a watcher reading
    // a torn truncate-rewrite would mis-demote a healthy runner — the
    // exact double-pump race the beacon exists to prevent
    val tmp = dir.resolve(
      s"runner.alive.${Thread.currentThread().getId}.tmp")
    Files.write(tmp, System.currentTimeMillis().toString
      .getBytes(StandardCharsets.UTF_8))
    try Files.move(tmp, dir.resolve("runner.alive"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.io.IOException =>
      Files.deleteIfExists(tmp): Unit // a concurrent toucher won
    }
  }

  private def aliveAgeMs(dir: Path): Option[Long] = {
    val f = dir.resolve("runner.alive")
    if (!Files.exists(f)) None
    else scala.util.Try(System.currentTimeMillis() -
      new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
        .trim.toLong).toOption
  }

  /** Run a task under supervision: start it, and while it ends
    * `failed` and the restart budget allows, back off and start again.
    * Each restart resumes from the task's own durable state —
    * positions.log for CDC (events before the recorded position skip),
    * idempotent overwrites for snapshot units. Restart count persists
    * in meta.ini so a watcher across process restarts honors the same
    * budget.
    */
  def superviseStart(spark: SparkSession, stateDir: String,
      name: String, cfg: SupervisorConfig = SupervisorConfig(),
      sleep: Long => Unit = Thread.sleep,
      afterUnit: Int => Unit = _ => ()): TaskMeta = {
    val dir = taskDir(stateDir, name)
    var meta = start(spark, stateDir, name, { i =>
      touchAlive(dir); afterUnit(i)
    })
    var attempt = readMeta(dir).restarts
    while (meta.status == "failed" && attempt < cfg.maxRestarts) {
      attempt += 1
      val delay = backoffMs(cfg, attempt)
      log(dir, s"supervised restart #$attempt in ${delay}ms " +
        s"(budget ${cfg.maxRestarts}) after: " +
        meta.error.getOrElse("?"))
      writeMeta(dir, meta.copy(restarts = attempt))
      sleep(delay)
      meta = start(spark, stateDir, name, { i =>
        touchAlive(dir); afterUnit(i)
      }).copy(restarts = attempt)
      writeMeta(dir, meta)
    }
    if (meta.status == "failed" && attempt >= cfg.maxRestarts)
      log(dir, s"restart budget exhausted ($attempt), leaving failed")
    rotateLogs(dir.toString, cfg.logMaxBytes, cfg.logKeep)
    meta
  }

  /** One watch pass over every task dir — the daemon loop body. A
    * `running` task whose liveness beacon is stale is a crashed runner
    * (this JVM or a previous one died mid-task): demote to `failed` so
    * the restart path picks it up; then restart every `failed` task
    * with remaining budget. Returns the names restarted this pass.
    */
  def superviseAll(spark: SparkSession, stateDir: String,
      cfg: SupervisorConfig = SupervisorConfig(),
      sleep: Long => Unit = Thread.sleep): Seq[String] = {
    list(stateDir).flatMap { m =>
      val dir = taskDir(stateDir, m.name)
      // staleness judged by the beacon when present; a beacon-less
      // running task (started by a pre-beacon build) falls back to
      // startedMs age — never "absent means dead"
      def runningAgeMs: Long = aliveAgeMs(dir).getOrElse(
        m.startedMs.map(System.currentTimeMillis() - _)
          .getOrElse(Long.MaxValue))
      val effective =
        if (m.status == "running" && runningAgeMs > cfg.staleAliveMs) {
          log(dir, "liveness beacon stale — demoting crashed runner")
          val demoted = m.copy(status = "failed",
            error = Some("runner crashed (stale liveness beacon)"))
          writeMeta(dir, demoted)
          demoted
        } else m
      if (effective.status == "failed" &&
          effective.restarts < cfg.maxRestarts) {
        superviseStart(spark, stateDir, m.name, cfg, sleep)
        Some(m.name)
      } else None
    }
  }

  /** Rotate `task.log` into `task.log.1 … task.log.<keep>` when it
    * exceeds `maxBytes` (dt-cli's log management for task dirs).
    */
  def rotateLogs(taskDirPath: String, maxBytes: Long,
      keep: Int): Unit = {
    val dir = Paths.get(taskDirPath)
    val live = dir.resolve("task.log")
    if (!Files.exists(live) || Files.size(live) <= maxBytes) return
    // shift task.log.k -> task.log.k+1, oldest beyond `keep` drops
    (keep to 1 by -1).foreach { k =>
      val from = dir.resolve(s"task.log.$k")
      if (Files.exists(from)) {
        if (k == keep) Files.delete(from)
        else Files.move(from, dir.resolve(s"task.log.${k + 1}"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      }
    }
    Files.move(live, dir.resolve("task.log.1"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }
}
