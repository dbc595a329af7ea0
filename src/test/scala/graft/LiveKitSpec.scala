package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.config.{LiveCdc, TaskConfig}

/** The day-one real-server kit under tools/live: this sandbox cannot
  * dial out, so the smoke scripts themselves are environment-bound —
  * but every task_config they would feed the engine must parse and
  * dispatch to the intended live lane TODAY. The spec extracts each
  * script's embedded INI (the CFG heredoc), substitutes its shell
  * variables, and runs it through the production TaskConfig parser.
  */
class LiveKitSpec extends AnyFunSuite {

  private val kitDir = Paths.get("tools/live")

  private def embeddedIni(script: String): String = {
    val text = new String(
      Files.readAllBytes(kitDir.resolve(script)), "UTF-8")
    val body = text.split("<<CFG\n")(1).split("\nCFG")(0)
    body
      .replace("$SINK", "/tmp/kit-sink")
      .replaceAll("\\$\\{GRAFT_SMOKE_STATE[^}]*\\}", "/tmp/kit-state")
  }

  test("the kit is complete: compose file + one smoke per transport, " +
      "all executable") {
    val names = Files.list(kitDir).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(Set("docker-compose.yml", "common.sh", "smoke_mysql.sh",
      "smoke_pg.sh", "smoke_redis.sh", "smoke_mongo.sh")
      .subsetOf(names))
    Seq("smoke_mysql.sh", "smoke_pg.sh", "smoke_redis.sh",
      "smoke_mongo.sh").foreach { s =>
      assert(Files.isExecutable(kitDir.resolve(s)), s"$s not executable")
    }
    val compose = new String(Files.readAllBytes(
      kitDir.resolve("docker-compose.yml")), "UTF-8")
    Seq("mysql:", "postgres:", "redis:", "mongo:").foreach(svc =>
      assert(compose.contains(svc), s"compose missing $svc"))
    // the pump prerequisites are configured server-side
    assert(compose.contains("--binlog-format=ROW"))
    assert(compose.contains("wal_level=logical"))
    assert(compose.contains("--replSet"))
  }

  test("every smoke script's embedded task config parses and routes " +
      "to the intended live lane") {
    val mysql = TaskConfig.fromIni(embeddedIni("smoke_mysql.sh"))
    assert(LiveCdc.isLiveUrl(mysql.sourceDir))
    assert(mysql.sourceDir.startsWith("mysql://"))
    assert(mysql.extractType == TaskConfig.CdcExtract)
    assert(mysql.keysByTable == Map("t" -> Seq("id")))
    assert(mysql.filter.allowTable("smoke", "t"))

    val pg = TaskConfig.fromIni(embeddedIni("smoke_pg.sh"))
    assert(pg.sourceDir.startsWith("postgres://"))
    assert(pg.extractType == TaskConfig.CdcExtract)
    assert(pg.slot.exists(_.slotName == "graft_slot"))

    val redis = TaskConfig.fromIni(embeddedIni("smoke_redis.sh"))
    assert(redis.sourceDir.startsWith("redis://"))
    assert(!redis.source.isCluster)

    val mongo = TaskConfig.fromIni(embeddedIni("smoke_mongo.sh"))
    assert(mongo.sourceDir.startsWith("mongodb://"))
    assert(mongo.source.resident)
    assert(mongo.source.maxSegmentSecs == 2L)
  }

  test("the task CLI verbs the scripts invoke exist with the argument " +
      "shape the scripts use (stateDir verb name [ini])") {
    val scripts = Seq("common.sh", "smoke_mongo.sh").map(s =>
      new String(Files.readAllBytes(kitDir.resolve(s)), "UTF-8"))
    val calls = scripts.flatMap(
      """graft\.TaskCli (\S+) (\w+)""".r.findAllMatchIn(_)
        .map(_.group(2)))
    assert(calls.nonEmpty)
    assert(calls.toSet.subsetOf(Set("create", "start", "stop")))
  }
}
