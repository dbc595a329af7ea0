package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Arg order is (sfDir, outDir), but detect the data dir by content —
    // writing into the read-only testdata tree on a swapped invocation
    // would be far worse than tolerating either order.
    def isData(d: String) =
      Files.exists(Paths.get(d, "lineitem.parquet"))
    val Array(sfDir, outDir) = args match {
      case Array(a, b) if !isData(a) && isData(b) => Array(b, a)
      case other => other
    }
    require(isData(sfDir), s"no lineitem.parquet under $sfDir")
    require(!isData(outDir), s"refusing to write into data dir $outDir")
    val spark = Session("graft-verify")
    Bench.queryPlanSettings(spark)
    new java.io.File(outDir).mkdirs()
    // GRAFT_VERIFY_SKIP: comma-separated query names to leave out of
    // BOTH the dump and the oracle json — tools/sweep.py uses it to
    // exclude the documented O(n²) oracle fixtures (q36/q41) at big
    // scale factors, where they are quadratic by design
    val skip = sys.env.getOrElse("GRAFT_VERIFY_SKIP", "").split(",")
      .map(_.trim).filter(_.nonEmpty).toSet
    // GRAFT_VERIFY_ONLY: restrict to a comma-separated subset — the
    // fast iteration loop for newly added queries (full-suite semantics
    // are unchanged when unset)
    val only = sys.env.getOrElse("GRAFT_VERIFY_ONLY", "").split(",")
      .map(_.trim).filter(_.nonEmpty).toSet
    def admitted(name: String) =
      !skip(name) && (only.isEmpty || only(name))
    SparkEntry.queries.filter(q => admitted(q._1)).foreach {
      case (name, fn) =>
        try {
          val t0 = System.nanoTime()
          // repartition(1), NOT coalesce(1): coalesce collapses the
          // whole narrow upstream into the single writer task (the
          // q129 sf10 dump ground one thread for >30 min); the
          // repartition exchange keeps compute at full parallelism
          // and only the file write is single-task
          fn(spark, sfDir).repartition(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          // per-query Spark runtime, for scale-sweep evidence tables
          // (the driver reads the parquet, not stdout — this line is
          // for humans and SCALE.md)
          println(f"[verify] $name dumped in " +
            f"${(System.nanoTime() - t0) / 1e9}%.1f s")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        } finally
          // drain merger-pinned caches between queries (the
          // production writer's post-write release; the dump write
          // above consumed the plan)
          operators.RedisStateOps.Merger.release()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => admitted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
