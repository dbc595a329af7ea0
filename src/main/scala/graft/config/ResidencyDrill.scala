package graft.config

import org.apache.spark.sql.SparkSession

import graft.infra.Fs

/** Endurance drill for the redis live lane's LANDING half — the AGE
  * axis LanderDrill doesn't price: LanderDrill fixes a landed state
  * and measures one trigger; this runs THOUSANDS of landing passes
  * (one rotated capture segment each, retention on) and records how
  * per-pass latency, capture-dir size, marker count, and landed-dir
  * counts move as the residency gets old. Flat curves are the proof
  * the round-14 shapes need:
  *
  *  - pass latency must not grow with pass number (single-pass
  *    landing reads only NEW segments; the consumed ledger is an
  *    in-memory set; the compact cadence amortizes the state fold);
  *  - capture + marker counts must stay bounded (retention sweep);
  *  - landed dir counts must stay bounded (state = LSM base + ≤
  *    cadence deltas; log faces tier-fold geometrically).
  *
  * The pump half is bytes-in-files and is NOT the object under test:
  * segments are synthesized directly into the capture dir in the
  * exact PSYNC capture format the pump writes, so the drill prices
  * pure landing work at any age in minutes instead of days.
  *
  *   sbt "runMain graft.config.ResidencyDrill"          # 600 passes
  *   sbt "runMain graft.config.ResidencyDrill 2000 100" # N, report-every
  *   sbt "runMain graft.config.ResidencyDrill 600 50 5 10000 mongo"
  */
object ResidencyDrill {

  private def resp(args: String*): Array[Byte] =
    graft.transport.RedisReplicationPump.cmd(args: _*)

  def main(args: Array[String]): Unit = {
    val passes = if (args.length >= 1) args(0).toInt else 600
    val every = if (args.length >= 2) args(1).toInt else 50
    val perSeg = if (args.length >= 3) args(2).toInt else 5
    val keySpace = if (args.length >= 4) args(3).toInt else 10000
    val lane = if (args.length >= 5) args(4) else "redis"
    // workload shape: "clean" = the r14 steady-state mix (SET/HSET/
    // DEL only — census reads zero by construction); "drops" adds
    // the command families a real keyspace carries so the
    // face-completeness census (round-16 verdict item 6) measures a
    // real rate — exact folds (GEOADD, RESTORE, RENAME, and since
    // r17 the SETBIT/BITOP bit families, GEOSEARCHSTORE, and
    // SORT...STORE) that must NOT tombstone, and sketch surgery
    // (PFADD) that must, over bounded key families
    val mix = if (args.length >= 6) args(5) else "clean"
    val spark = graft.Session("graft-residency-drill")
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup

    val sink = java.nio.file.Files
      .createTempDirectory("residency-sink").toString
    val taskDir = java.nio.file.Files
      .createTempDirectory("residency-task").toString
    val captureDir = s"$taskDir/capture"
    Fs.mkdirs(captureDir)
    val task = TaskConfig.fromIni(
      s"""[extractor]
         |db_type=redis
         |extract_type=cdc
         |url=redis://127.0.0.1:6379
         |resident=true
         |capture_retention=true
         |
         |[sinker]
         |url=$sink
         |""".stripMargin)
    if (lane == "mongo") {
      drillMongo(spark, taskDir, captureDir, passes, every, perSeg,
        keySpace)
      spark.stop()
      return
    }
    val lander = new LiveLanders.RedisLander(spark, task, taskDir,
      captureDir, () => ())

    // one segment per pass: the first is a FULLRESYNC with a seed
    // RDB; the rest are partial-resync tails of a few commands over a
    // rolling 10k-key space (updates dominate, ~10% fresh inserts,
    // ~5% deletes) — the steady-state shape of a live keyspace
    val replId = "d" * 40
    def segment(i: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      if (i == 0) {
        out.write(s"+FULLRESYNC $replId 100\r\n".getBytes("ascii"))
        val rdb = new java.io.ByteArrayOutputStream()
        rdb.write("REDIS0011".getBytes("ascii"))
        rdb.write(0xfe); rdb.write(0)
        def str(x: String): Unit = {
          rdb.write(x.length & 0x3f); rdb.write(x.getBytes("utf-8"))
        }
        (0 until 1000).foreach { k =>
          rdb.write(0) // value type: string
          str(s"seed:$k"); str(s"v$k")
        }
        rdb.write(0xff)
        val r = rdb.toByteArray
        out.write(s"$$${r.length}\r\n".getBytes("ascii"))
        out.write(r)
      } else {
        out.write(s"+CONTINUE $replId\r\n".getBytes("ascii"))
        (0 until perSeg).foreach { j =>
          val n = (i * perSeg + j) % keySpace
          val op = (i * perSeg + j) % (if (mix == "drops") 100 else 20)
          if (mix == "drops") {
            // all payload bytes ≤ 0x7F, so the RESP UTF-8 encode and
            // the landing's latin-1 RESTORE-operand decode agree
            def dumpStr(v: String): String =
              "\u0000" + (v.length & 0x3f).toChar + v +
                "\u000b" + "\u0000" * 9
            if (op < 50) out.write(resp("SET", s"k:$n", s"v$i-$j"))
            else if (op < 65) out.write(resp("HSET", s"h:$n", "f",
              s"v$i"))
            else if (op < 70) out.write(resp("DEL", s"k:$n"))
            else if (op < 75) // exact movement fold: no tombstone
              out.write(resp("RENAME", s"k:$n", s"r:${n % 1000}"))
            else if (op < 80) // exact geohash fold: no tombstone
              out.write(resp("GEOADD", s"geo:${n % 100}",
                s"${n % 180}.25", s"${n % 85}.25", s"m$n"))
            else if (op < 85) // exact dump decode: no tombstone
              out.write(resp("RESTORE", s"rst:${n % 1000}", "0",
                dumpStr(s"v$i"), "REPLACE"))
            else if (op < 90) // exact bit fold since r17: no tomb
              out.write(resp("SETBIT", s"bits:${n % 500}",
                (n % 64).toString, "1"))
            else if (op < 92) // exact geo selection since r17
              out.write(resp("GEOSEARCHSTORE", s"gnear:${n % 100}",
                s"geo:${n % 100}", "FROMLONLAT", s"${n % 180}.25",
                s"${n % 85}.25", "BYRADIUS", "300", "km"))
            else if (op < 93) // list feed for the sort lane
              out.write(resp("RPUSH", s"lst:${n % 200}",
                s"v${i % 50}"))
            else if (op < 95) // exact sort since r17: no tombstone
              out.write(resp("SORT", s"lst:${n % 200}", "ALPHA",
                "STORE", s"sorted:${n % 100}"))
            else if (op < 98) // sketch state: honest tombstone
              out.write(resp("PFADD", s"hll:${n % 100}", s"m$n"))
            else // multi-source byte fold since r17: no tombstone
              out.write(resp("BITOP", "AND", s"dstb:${n % 100}",
                s"bits:${n % 500}"))
          }
          else if (op == 19) out.write(resp("DEL", s"k:$n"))
          else if (op >= 17)
            out.write(resp("HSET", s"h:$n", "f", s"v$i"))
          else out.write(resp("SET", s"k:$n", s"v$i-$j"))
        }
      }
      out.toByteArray
    }

    // fold-dir shape: the tier a dir reached and how many part files
    // its fold wrote — one part per fold task, so max_fold_parts IS
    // the widest fold job's task count (r14 verdict Wrong #2: the
    // old coalesce(1) made every value here 1, meaning a tier-3 fold
    // was one task rewriting fanout^3 segments)
    val FoldDir = """^seg=fold(\d+)-\d+$""".r
    def foldShape(table: String): (Int, Int) = {
      val dirs = Fs.listNames(table).collect {
        case d @ FoldDir(k) => (k.toInt, d)
      }
      if (dirs.isEmpty) (0, 0)
      else (dirs.map(_._1).max,
        dirs.map { case (_, d) =>
          Fs.listNames(s"$table/$d").count(_.startsWith("part-"))
        }.max)
    }

    var tail = Seq.empty[Double]
    println("""{"drill":"residency","lane":"redis","cols":""" +
      """["pass","median_ms","capture_files","markers",""" +
      """"state_entries","cmd_dirs","snap_dirs",""" +
      """"max_fold_tier","max_fold_parts",""" +
      """"face_total_keys","face_tombstone_keys"]}""")
    (0 until passes).foreach { i =>
      val name = f"psync.${i + 1}%06d.log"
      Fs.write(s"$captureDir/$name", segment(i))
      val t0 = System.nanoTime()
      lander.pass(Seq(name))
      // the sweep the resident loop runs on the same cadence
      if (task.source.captureRetention) {
        val gone = graft.transport.CaptureRetention
          .sweepConsumed(captureDir, lander.ledger.all)
        gone.foreach(lander.ledger.sweepMarker)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      tail = (tail :+ ms).takeRight(every)
      if ((i + 1) % every == 0) {
        val med = tail.sorted.apply(tail.size / 2)
        val capture = Fs.listNames(captureDir)
          .count(_.endsWith(".log"))
        val markers = Fs.listNames(s"$taskDir/consumed").size
        val stateEntries = Fs.listNames(s"$sink/redis.state").size
        val cmdDirs = Fs.listNames(s"$sink/redis.commands")
          .count(_.startsWith("seg="))
        val snapDirs = Fs.listNames(s"$sink/redis.snapshot")
          .count(_.startsWith("seg="))
        val (tier, parts) = foldShape(s"$sink/redis.commands")
        println(s"""{"pass":${i + 1},"median_ms":$med,""" +
          s""""capture_files":$capture,"markers":$markers,""" +
          s""""state_entries":$stateEntries,"cmd_dirs":$cmdDirs,""" +
          s""""snap_dirs":$snapDirs,"max_fold_tier":$tier,""" +
          s""""max_fold_parts":$parts,""" +
          s""""face_total_keys":${lander.trackedKeys},""" +
          s""""face_tombstone_keys":${lander.tombstonedKeys}}""")
      }
    }
    lander.finish(Seq.empty)
    val state = spark.read.parquet(s"$sink/redis.state").count()
    println(s"""{"drill":"residency","passes":$passes,""" +
      s""""mix":"$mix","final_state_keys":$state,""" +
      s""""face_total_keys":${lander.trackedKeys},""" +
      s""""face_tombstone_keys":${lander.tombstonedKeys}}""")
    spark.stop()
  }

  /** The mongo twin: change-stream JSON-line segments (inserts/
    * updates/deletes over a rolling id space in one collection),
    * priced on the same aging axes — pass latency, changes-face dir
    * count (tier-folded), and state-table entries (one delta per
    * segment, compacted on the cadence).
    */
  private def drillMongo(spark: SparkSession, taskDir: String,
      captureDir: String, passes: Int, every: Int, perSeg: Int,
      keySpace: Int): Unit = {
    val sink = java.nio.file.Files
      .createTempDirectory("residency-mongo-sink").toString
    val task = TaskConfig.fromIni(
      s"""[extractor]
         |db_type=mongo
         |extract_type=cdc
         |url=mongodb://127.0.0.1:27017
         |resident=true
         |capture_retention=true
         |
         |[sinker]
         |url=$sink
         |""".stripMargin)
    val lander = new LiveLanders.MongoLander(spark, task, taskDir,
      captureDir, () => ())
    def change(tok: Long, id: Long, op: String): String = {
      val base = s"""{"_id":{"_data":"tok$tok%016d"},""" +
        s""""operationType":"$op",""" +
        s""""ns":{"db":"app","coll":"t"},""" +
        s""""documentKey":{"_id":$id}"""
      if (op == "delete") base + "}"
      else base + s""","fullDocument":{"_id":$id,"v":"v$tok"}}"""
    }
    def segment(i: Int): Array[Byte] = {
      val sb = new StringBuilder
      (0 until perSeg).foreach { j =>
        val tok = i.toLong * perSeg + j
        val id = tok % keySpace
        val op = (tok % 20) match {
          case 19 => "delete"
          case n if n >= 10 => "update"
          case _ => "insert"
        }
        sb.append(change(tok, id, op)).append('\n'): Unit
      }
      sb.toString.getBytes("UTF-8")
    }
    var tail = Seq.empty[Double]
    println("""{"drill":"residency","lane":"mongo","cols":""" +
      """["pass","median_ms","capture_files","markers",""" +
      """"state_entries","changes_dirs"]}""")
    (0 until passes).foreach { i =>
      val name = f"changestream.${i + 1}%06d.log"
      Fs.write(s"$captureDir/$name", segment(i))
      val t0 = System.nanoTime()
      lander.pass(Seq(name))
      if (task.source.captureRetention) {
        val gone = graft.transport.CaptureRetention
          .sweepConsumed(captureDir, lander.ledger.all)
        gone.foreach(lander.ledger.sweepMarker)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      tail = (tail :+ ms).takeRight(every)
      if ((i + 1) % every == 0) {
        val med = tail.sorted.apply(tail.size / 2)
        val capture = Fs.listNames(captureDir)
          .count(_.endsWith(".log"))
        val markers = Fs.listNames(s"$taskDir/consumed").size
        val stateEntries = Fs.listNames(s"$sink/app.t").size
        val changesDirs = Fs.listNames(s"$sink/mongo.changes")
          .count(_.startsWith("seg="))
        println(s"""{"pass":${i + 1},"median_ms":$med,""" +
          s""""capture_files":$capture,"markers":$markers,""" +
          s""""state_entries":$stateEntries,""" +
          s""""changes_dirs":$changesDirs}""")
      }
    }
    lander.finish(Seq.empty)
    val state = spark.read.parquet(s"$sink/app.t").count()
    println(s"""{"drill":"residency","lane":"mongo",""" +
      s""""passes":$passes,"final_state_keys":$state}""")
  }
}
