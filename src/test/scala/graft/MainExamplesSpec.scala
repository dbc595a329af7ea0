package graft

import java.nio.file.{Files, Paths}

/** The CLI entry end to end: every example config that reads the
  * sf0.001 fixtures runs through `Main.run`, in the order
  * `examples/README.md` lists them (the check and revise examples read
  * what the snapshot example wrote), with the example output root
  * moved to a temp dir.
  */
class MainExamplesSpec extends SparkSuite {

  test("the sf0.001 examples run through Main in README order") {
    val readme = Files.readString(Paths.get("examples/README.md"))
    val listed = "(?m)^\\| (\\S+\\.ini) \\|".r
      .findAllMatchIn(readme).map(_.group(1)).toSeq
    val onFixtures = listed.filter(f =>
      Files.readString(Paths.get("examples", f)).contains(s"url=$sf"))
    assert(onFixtures.take(4) == Seq("snapshot.ini",
      "snapshot_http_server.ini", "check.ini", "check_log_revise.ini"),
      onFixtures)
    val out = Files.createTempDirectory("graft-examples").toString
    onFixtures.foreach { f =>
      // no consumer connects here: serve on a free port, time out fast
      val ini = Paths.get(out, f)
      Files.writeString(ini, Files.readString(Paths.get("examples", f))
        .replace("/tmp/graft_example_out", out)
        .replaceAll("http_port=\\d+", "http_port=0")
        .replaceAll("serve_timeout_secs=\\d+", "serve_timeout_secs=1"))
      val printed = new java.io.ByteArrayOutputStream()
      Console.withOut(printed)(Main.run(spark, Array(ini.toString)))
      val text = printed.toString("UTF-8")
      assert(text.linesIterator.contains("task finished"), s"$f:\n$text")
    }
    assert(spark.read.parquet(s"$out/snapshot/app_replica.customer")
      .count() > 0)
    assert(Files.isDirectory(Paths.get(out, "revise")))
  }
}
