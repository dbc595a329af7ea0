package graft.scenario

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.TaskConfig
import graft.operators.Compaction
import graft.sinks.{Applier, RdbQueryBuilder}

import FixtureSql._

/** Data-driven scenario runner — the repo's answer to the reference's
  * dt-tests corpus (dt-tests/tests/test_runner/rdb_test_runner.rs):
  * each scenario dir holds `task_config.ini` + `src_prepare.sql` +
  * `src_test.sql`; the runner interprets the fixtures as the live
  * source, synthesizes the row-image change stream the binlog would
  * carry, drives it through the REAL pipeline operators the task
  * surface wires (NameFilter → Router → update-split/key-change
  * safety → Compaction → Applier statement planning, honoring the
  * INI's batch_size and dialect), executes the generated SQL against
  * an in-memory destination engine, and compares FULL END-STATE
  * TABLES src vs dst per routed table — the
  * `compare_data_for_tbs` semantics (rdb_test_runner.rs:329-349).
  *
  * Two independent oracles:
  *  - a naive sequential replay of the (filtered, routed) event
  *    stream — per-event upsert/delete with none of the pipeline's
  *    batching, compaction, or lane parallelism;
  *  - the interpreted source's own end state (only when the filter
  *    admits every event — otherwise dst is legitimately a subset).
  */
object ScenarioRunner {

  final case class TableState(cols: Seq[String], keys: Seq[String],
      rows: mutable.ArrayBuffer[Seq[Value]])

  /** In-memory destination engine: interprets the exact statement
    * shapes RdbQueryBuilder/Applier emit. Shared registry because
    * foreachPartition closures run on executor threads of the same
    * local JVM (same pattern as IdempotentApplySpec.TableSink).
    */
  object MemDb {
    val stores = new ConcurrentHashMap[String, TableState]()

    def key(runId: String, quotedTable: String): String =
      s"$runId|$quotedTable"

    def register(runId: String, quotedTable: String, cols: Seq[String],
        keys: Seq[String]): Unit =
      stores.put(key(runId, quotedTable),
        TableState(cols, keys, mutable.ArrayBuffer.empty)): Unit

    final case class Sink(runId: String)
        extends Applier.StatementSink with Serializable {
      private def tableOf(sql: String): TableState = {
        // our builders render "VERB INTO|FROM <quoted> ..." with the
        // quoted name as the third whitespace token
        val tok = sql.split("\\s+")(2)
        val st = stores.get(key(runId, tok))
        require(st != null, s"unregistered dst table: $tok")
        st
      }
      /** Session-init statements a live connection would run
        * (SET FOREIGN_KEY_CHECKS / isolation / replica role) — no
        * table state to touch in the in-memory engine.
        */
      val sessionInit =
        scala.collection.mutable.ArrayBuffer.empty[String]
      override def execute(b: Applier.StatementBatch): Unit = {
        if (b.sql.startsWith("SET ")) {
          sessionInit.synchronized { sessionInit += b.sql }
          return
        }
        val st = tableOf(b.sql)
        st.synchronized {
          val keyIdx = st.keys.map(st.cols.indexOf)
          def keyOf(full: Seq[Any]): Seq[Any] = keyIdx.map(full(_))
          if (b.sql.startsWith("DELETE") && b.sql.contains(" IN (")) {
            // batch delete by key tuples
            val dead = b.rows.map(_.map(v => v: Any)).toSet
            st.rows.filterInPlace(r => !dead.contains(keyOf(r)))
          } else if (b.sql.startsWith("DELETE")) {
            // serial lane: full-row null-safe delete
            val dead = b.rows.map(_.map(v => v: Any)).toSet
            st.rows.filterInPlace(r => !dead.contains(r))
          } else if (b.sql.startsWith("REPLACE") ||
            b.sql.contains("ON CONFLICT") ||
            b.sql.contains("ON DUPLICATE")) {
            b.rows.foreach { r =>
              val k = keyOf(r)
              st.rows.filterInPlace(row => keyOf(row) != k)
              st.rows += r.map(v => v.asInstanceOf[Value])
            }
          } else if (b.sql.startsWith("INSERT")) {
            b.rows.foreach(r =>
              st.rows += r.map(v => v.asInstanceOf[Value]))
          } else sys.error(s"unexpected statement shape: ${b.sql}")
        }
      }
    }

    private def alterState(runId: String, quotedTable: String)(
        f: TableState => TableState): Unit = {
      val k = key(runId, quotedTable)
      val st = stores.get(k)
      require(st != null, s"unregistered dst table: $quotedTable")
      stores.put(k, f(st)): Unit
    }

    /** Destination-side DDL semantics — what a live engine would do
      * to the stored table on the routed statement.
      */
    def addColumn(runId: String, qt: String, name: String): Unit =
      alterState(runId, qt) { st =>
        TableState(st.cols :+ name, st.keys,
          st.rows.map(r => r :+ (null: Value)))
      }
    def dropColumn(runId: String, qt: String, name: String): Unit =
      alterState(runId, qt) { st =>
        val i = st.cols.indexOf(name)
        require(i >= 0, s"$qt has no column $name")
        TableState(st.cols.patch(i, Nil, 1),
          st.keys.filterNot(_ == name),
          st.rows.map(r => r.patch(i, Nil, 1)))
      }
    def truncate(runId: String, qt: String): Unit =
      alterState(runId, qt) { st => st.rows.clear(); st }

    /** Seed a registered table with existing rows (the check lane's
      * diverged destination state).
      */
    def preload(runId: String, quotedTable: String,
        rows: Seq[Seq[Value]]): Unit = {
      val st = stores.get(key(runId, quotedTable))
      require(st != null, s"unregistered dst table: $quotedTable")
      st.rows ++= rows: Unit
    }

    def snapshot(runId: String): Map[String, Seq[Map[String, Value]]] =
      stores.asScala.toMap.collect {
        case (k, st) if k.startsWith(s"$runId|") =>
          k.stripPrefix(s"$runId|") ->
            st.rows.toSeq.map(r => st.cols.zip(r).toMap)
      }

    def clear(runId: String): Unit =
      stores.keySet.asScala.filter(_.startsWith(s"$runId|"))
        .foreach(stores.remove(_): Unit)
  }

  /** In-memory MongoDB stand-in: interprets the EXACT bulk-command
    * JSON [[graft.sinks.MongoSink]] renders (deleteMany/insertMany/
    * replaceOne/updateOne/deleteOne), so the mongo scenario lane
    * drives the same statement strings a live sink would send.
    * insertMany lands as replace-by-`_id` — the reference's CDC
    * mongo sinker upserts on conflict, and a compacted insert lane
    * lawfully re-ships an id that already exists at dst.
    */
  object MemMongo {
    import graft.sources.TinyJson
    val stores = new ConcurrentHashMap[String,
      mutable.LinkedHashMap[String, Map[String, String]]]()

    private def coll(runId: String, c: String)
        : mutable.LinkedHashMap[String, Map[String, String]] =
      stores.computeIfAbsent(s"$runId|$c",
        _ => mutable.LinkedHashMap.empty)

    def register(runId: String, c: String): Unit =
      coll(runId, c): Unit

    private def sdoc(v: Any): Map[String, String] =
      v.asInstanceOf[Map[String, Any]].map { case (k, x) =>
        k -> (if (x == null) null else x.asInstanceOf[String])
      }

    def execute(runId: String, cmd: String): Unit = {
      val root = TinyJson.parse(cmd)
        .getOrElse(sys.error(s"unparseable mongo command: $cmd"))
        .asInstanceOf[Map[String, Any]]
      require(root.size == 1, s"expected one op: $cmd")
      val (op, body0) = root.head
      val body = body0.asInstanceOf[Map[String, Any]]
      val c = coll(runId, body("coll").asInstanceOf[String])
      def filterId: String =
        TinyJson.path(body, "filter", "_id").get.asInstanceOf[String]
      op match {
        case "deleteMany" =>
          TinyJson.path(body, "filter", "_id", "$in").get
            .asInstanceOf[Seq[Any]]
            .foreach(id => c.remove(id.asInstanceOf[String]): Unit)
        case "insertMany" =>
          body("docs").asInstanceOf[Seq[Any]].foreach { d0 =>
            val d = sdoc(d0)
            c(d("_id")) = d
          }
        case "replaceOne" =>
          c(filterId) = sdoc(body("replacement"))
        case "updateOne" =>
          val upd = body("update").asInstanceOf[Map[String, Any]]
          val set = upd.get("$set").map(sdoc).getOrElse(Map.empty)
          val unset = upd.get("$unset")
            .map(_.asInstanceOf[Map[String, Any]].keys.toSeq)
            .getOrElse(Nil)
          val id = filterId
          c(id) = (c.getOrElse(id, Map("_id" -> id)) ++ set) -- unset
        case "deleteOne" => c.remove(filterId): Unit
        case other => sys.error(s"unexpected mongo op $other: $cmd")
      }
    }

    def snapshot(runId: String)
        : Map[String, Seq[Map[String, String]]] =
      stores.asScala.toMap.collect {
        case (k, docs) if k.startsWith(s"$runId|") =>
          k.stripPrefix(s"$runId|") -> docs.values.toSeq
      }

    def clear(runId: String): Unit =
      stores.keySet.asScala.filter(_.startsWith(s"$runId|"))
        .foreach(stores.remove(_): Unit)
  }

  final case class Result(
      tablesCompared: Int,
      rowsAtDst: Long,
      perTable: Map[String, (Seq[Map[String, Value]],
        Seq[Map[String, Value]])])

  /** INI keys only the runner's statement and parallelizer lanes act
    * on (no src/main lane reads them), parsed from the same task file
    * with the reference defaults.
    */
  private final case class LaneKeys(
      parallelType: String,
      bufferSize: Int,
      replace: Boolean,
      disableForeignKeyChecks: Boolean,
      transactionIsolation: Option[String],
      withFieldDefs: Boolean)

  private def laneKeys(ini: String): LaneKeys = {
    val p = TaskConfig.parseIni(ini)
    val sk = p.section("sinker")
    val pl = p.section("pipeline")
    LaneKeys(
      parallelType = p.section("parallelizer")
        .get("parallel_type", "rdb_merge"),
      bufferSize = pl.get("buffer_size", "16000").toInt,
      replace = sk.get("replace", "true").toBoolean,
      disableForeignKeyChecks =
        sk.get("disable_foreign_key_checks", "true").toBoolean,
      transactionIsolation =
        sk("transaction_isolation").filter(_.nonEmpty),
      withFieldDefs = sk.get("with_field_defs",
        pl.get("with_field_defs", "true")).toBoolean)
  }

  private def dialectOf(dbType: String): RdbQueryBuilder.Dialect =
    dbType match {
      case "pg" | "postgres" | "postgresql" => RdbQueryBuilder.Postgres
      case _ => RdbQueryBuilder.MySql
    }

  /** Run one scenario dir end to end; asserts full-state equality and
    * returns the compared states for extra scenario-specific checks.
    */
  def run(spark: SparkSession, dir: Path): Result = {
    val ini = new String(
      Files.readAllBytes(dir.resolve("task_config.ini")), "UTF-8")
    // baseDir = the scenario dir, so the corpus exercises the SAME
    // relative-path resolution production uses (TaskConfig resolves
    // lua_code_file against the INI's directory)
    val task = TaskConfig.fromIni(ini, Some(dir))
    val lane = laneKeys(ini)
    val dialect = dialectOf(task.sinkDbType)
    val runId = s"${dir.getFileName}-${System.nanoTime()}"

    val prepStmts = parseScript(new String(
      Files.readAllBytes(dir.resolve("src_prepare.sql")), "UTF-8"))
    val testStmts = parseScript(new String(
      Files.readAllBytes(dir.resolve("src_test.sql")), "UTF-8"))
    val src = new SourceState
    src.applyAll(prepStmts)
    src.applyAll(testStmts)

    // LIVE-url scenarios ([extractor] url=mysql://…) run the WHOLE
    // task-manager lane — dial, pump, capture, stream, compact, land —
    // over a scripted wire synthesized from the same SQL fixtures
    // (mysql/pg/mongo) or the redis command script
    if (graft.config.LiveCdc.isLiveUrl(task.sourceDir)) {
      val u = task.sourceDir
      return if (u.startsWith("mysql://"))
        runLiveMysql(spark, dir, ini, task, src)
      else if (u.startsWith("postgres")) // postgres:// / postgresql://
        runLivePg(spark, dir, ini, task, src)
      else if (u.startsWith("redis")) // redis:// / rediss://
        runLiveRedis(spark, dir, ini, task)
      else runLiveMongo(spark, dir, ini, task, src)
    }

    // two-way scenarios (task_config_back.ini present) are their own
    // flow: A→B→A with data markers
    if (Files.exists(dir.resolve("task_config_back.ini")))
      return runTwoWay(spark, dir)

    // check tasks are their own flow: classify src vs a diverged dst,
    // revise, re-check
    if (task.extractType == TaskConfig.CheckExtract)
      return runCheck(spark, dir, task, src)

    // ---- event stream the extractor would hand the pipeline:
    // snapshot tasks ship the end state as inserts; cdc ships the
    // per-statement row images — for mysql/pg sources the stream
    // additionally rides the REAL wire (binlog v4 / pgoutput bytes
    // through the production decoders, asserted event-identical) so
    // every scenario covers the byte-level extract path
    val isSnapshot = task.extractType == TaskConfig.SnapshotExtract
    val isFullSync =
      task.extractType == TaskConfig.SnapshotAndCdcExtract
    def wired: Seq[Event] = task.dbType match {
      case "mysql" =>
        // [extractor] gtid_set: transactions the set contains skip at
        // the wire (the server's reconnect auto-skip)
        WireFidelity.mysqlRoundTrip(src,
          task.source.gtidSet.filter(_ => task.source.gtidEnabled))
      case "pg" | "postgres" | "postgresql" =>
        WireFidelity.pgRoundTrip(src)
      case _ => src.events.toSeq
    }
    val rawEvents: Seq[Event] =
      if (isSnapshot)
        src.defs.keys.toSeq.flatMap { case (db, tb) =>
          src.rows((db, tb)).zipWithIndex.map { case (r, i) =>
            Event(db, tb, i + 1L, "insert", Map.empty, r)
          }
        }
      else if (isFullSync) {
        // snapshot-then-CDC (reference full_sync task / the snapshot→
        // cdc position handoff): the post-prepare state ships as the
        // snapshot half, then the src_test tail streams as CDC events
        // picking up AFTER the snapshot's position — the same handoff
        // FullSyncTask makes from the chunked scan to the binlog
        require(task.whereByTable.isEmpty,
          "full-sync scenarios don't take where_conditions")
        val base = new SourceState
        base.applyAll(prepStmts)
        val cut = base.events.size.toLong
        val snapshotHalf = base.defs.keys.toSeq.flatMap {
          case (db, tb) =>
            base.rows((db, tb)).zipWithIndex.map { case (r, i) =>
              Event(db, tb, i + 1L, "insert", Map.empty, r)
            }
        }
        require(snapshotHalf.size <= cut,
          "prepare emitted fewer events than rows")
        snapshotHalf ++ wired.drop(base.events.size)
      } else wired

    // ---- the row-level gates the task surface applies; snapshot
    // tasks additionally apply the source-side where_conditions
    // predicate (config.md [filter] where_conditions — pushed to the
    // extract statement in production, interpreted here)
    val wherePreds: Map[(String, String), Where] =
      task.whereByTable.map { case (k, sql) =>
        k -> parseWhere(Some(sql))
      }
    val gated = rawEvents.filter { e =>
      if (e.rowType == "ddl")
        // table-level gate here; the per-statement do_ddls type gate
        // applies at the barrier (where the statement is parsed)
        task.filter.allowTable(e.db, e.tb)
      else
        task.filter.allowTable(e.db, e.tb) &&
          task.filter.allowEvent(e.rowType) &&
          (!isSnapshot || wherePreds.get((e.db, e.tb))
            .forall(_.matches(e.after)))
    }

    // ---- [processor] lua_code_file: the user's VERBATIM Lua runs per
    // row between extract-side filtering and routing, exactly the
    // reference pipeline position (lua_processor.rs) — blanked
    // row_type drops the event
    val admitted = task.luaCodeFile match {
      case None => gated
      case Some(f) =>
        val chunk = graft.transform.LuaScript.parse(new String(
          Files.readAllBytes(Paths.get(f)), "UTF-8"))
        gated.flatMap { e =>
          // the Lua row-processor sees ROW events only; DDL rides the
          // barrier lane past it (reference pipeline position)
          if (e.rowType == "ddl") Seq(e)
          else graft.transform.LuaScript.processEvent(chunk,
            graft.model.ChangeEvent(e.db, e.tb, 0L, e.rowType,
              e.before.filter(_._2 != null),
              e.after.filter(_._2 != null), "none", "", ""))
            .map(ce => e.copy(db = ce.schema, tb = ce.tb,
              rowType = ce.rowType,
              before = e.before.filter(_._2 == null) ++ ce.before,
              after = e.after.filter(_._2 == null) ++ ce.after))
        }
    }

    // ---- routing + per-table column projection (ignore_cols drops
    // the columns from the sync entirely — config.md [filter])
    final case class Routed(dstDb: String, dstTb: String, seq: Long,
        sub: Int, rowType: String, before: Map[String, Value],
        after: Map[String, Value])
    def project(db: String, tb: String, img: Map[String, Value])
        : Map[String, Value] = {
      val ignored =
        task.ignoreColsByTable.getOrElse((db, tb), Nil).toSet
      img.collect { case (c, v) if !ignored.contains(c) =>
        task.router.routeColumn(db, tb, c) -> v
      }
    }
    // routed table defs for a given (possibly mid-evolution) def set
    def routeDefsOf(ds: Iterable[TableDef])
        : Map[(String, String), TableDef] =
      ds.toSeq
        .filter(d => task.filter.allowTable(d.db, d.tb))
        .map { d =>
          val (rdb, rtb) = task.router.routeTable(d.db, d.tb)
          val ignored =
            task.ignoreColsByTable.getOrElse((d.db, d.tb), Nil).toSet
          val kept = d.cols.zip(d.typesOr)
            .filterNot { case (c, _) => ignored.contains(c) }
          val cols = kept.map { case (c, _) =>
            task.router.routeColumn(d.db, d.tb, c) }
          val mapCols = (cs: Seq[String]) => cs.filterNot(ignored)
            .map(task.router.routeColumn(d.db, d.tb, _))
          (rdb, rtb) -> TableDef(rdb, rtb, cols, mapCols(d.pk),
            d.uks.map(mapCols).filter(_.nonEmpty), kept.map(_._2))
        }.toMap
    // final-shape defs (src.defs already carry any DDL evolution)
    val routedDefs: Map[(String, String), TableDef] =
      routeDefsOf(src.defs.values)

    def routeEvent(e: Event): Routed = {
      val (rdb, rtb) = task.router.routeTable(e.db, e.tb)
      Routed(rdb, rtb, e.seq, 0, e.rowType,
        project(e.db, e.tb, e.before), project(e.db, e.tb, e.after))
    }
    val routedEvents =
      admitted.filter(_.rowType != "ddl").map(routeEvent)

    // ---- update normalization (the extractor/merger's key-change
    // safety, reference rdb_merger id-change handling + update split):
    // an update whose key changed, whose key carries NULL on either
    // side, or that targets a keyless table becomes
    // delete(before)+insert(after)
    def keyOf(d: TableDef, img: Map[String, Value]): Seq[Value] =
      d.keyCols.map(img.getOrElse(_, null))
    def normalize(events: Seq[Routed],
        defs: Map[(String, String), TableDef]): Seq[Routed] =
      events.flatMap { e =>
        val d = defs((e.dstDb, e.dstTb))
        if (e.rowType == "update") {
          val kb = keyOf(d, e.before)
          val ka = keyOf(d, e.after)
          val unmergeable = d.keyCols.isEmpty ||
            kb.contains(null) || ka.contains(null) || kb != ka
          if (unmergeable)
            Seq(e.copy(rowType = "delete", sub = 0, after = Map.empty),
              e.copy(rowType = "insert", sub = 1, before = Map.empty))
          else Seq(e)
        } else Seq(e)
      }
    val normalized = normalize(routedEvents, routedDefs)

    // ---- redis route: rows become hash entries under
    // "<db>.<tb>:<key>"; every image rides the REAL command rewriter
    // (DEL + chunked HSET replace) and the RESP wire codec — encoded
    // to bytes, parsed back byte-exactly, then executed (reference
    // *_to_redis routes)
    if (task.sinkDbType == "redis") {
      require(admitted.forall(_.rowType != "ddl"),
        "redis scenarios carry no DDL")
      import graft.sinks.RedisCommands
      import graft.sources.RedisResp
      def keyAndFields(d: TableDef, img: Map[String, Value])
          : (String, Seq[(String, String)]) = {
        val ks = d.keyCols.map(img.getOrElse(_, null: Value))
        require(d.keyCols.nonEmpty && !ks.contains(null),
          s"redis scenario rows need non-null keys: $img")
        // a redis hash has no NULL fields — absent field IS null
        // (reference redis entry rewrite ships only present values)
        (s"${d.db}.${d.tb}:${ks.mkString(":")}",
          d.cols.map(c => c -> img.getOrElse(c, null: Value))
            .filter(_._2 != null))
      }
      val wire = new java.io.ByteArrayOutputStream()
      normalized.foreach { e =>
        val d = routedDefs((e.dstDb, e.dstTb))
        val cmds =
          if (e.rowType == "delete")
            Seq(Seq("DEL", keyAndFields(d, e.before)._1))
          else {
            val (k, fields) = keyAndFields(d, e.after)
            RedisCommands.replace(RedisCommands.Entry(k,
              RedisCommands.RHash(fields)),
              chunkSize = math.max(1, task.batchSize))
          }
        cmds.foreach(c => wire.write(RedisResp.encodeStrings(c)))
      }
      // decode the whole stream back from the wire and execute
      val store = mutable.LinkedHashMap[String,
        mutable.LinkedHashMap[String, String]]()
      RedisResp.parse(wire.toByteArray).foreach {
        case Seq("DEL", k) => store.remove(k): Unit
        case cmd if cmd.headOption.contains("HSET") =>
          val k = cmd(1)
          val h = store.getOrElseUpdate(k, mutable.LinkedHashMap.empty)
          cmd.drop(2).grouped(2).foreach {
            case Seq(f, v) => h(f) = v
            case other => sys.error(s"odd HSET args: $other")
          }
        case other => sys.error(s"unexpected redis command: $other")
      }
      // naive oracle: per-event key upsert/delete, no chunking/wire
      val naiveR = mutable.LinkedHashMap[String, Map[String, String]]()
      normalized.foreach { e =>
        val d = routedDefs((e.dstDb, e.dstTb))
        if (e.rowType == "delete")
          naiveR.remove(keyAndFields(d, e.before)._1): Unit
        else {
          val (k, fields) = keyAndFields(d, e.after)
          naiveR(k) = fields.toMap
        }
      }
      val perTable = routedDefs.map { case ((rdb, rtb), d) =>
        val prefix = s"$rdb.$rtb:"
        def canonical(m: Iterable[(String, Map[String, String])])
            : Seq[Map[String, Value]] =
          m.collect { case (k, h) if k.startsWith(prefix) =>
            h + ("__key" -> k)
          }.toSeq
        val got = canonical(store.view.mapValues(_.toMap))
        val want = canonical(naiveR)
        compareStates(s"$rdb.$rtb", want, got)
        val fullFidelity = (isSnapshot ||
          task.filter.doEvents == Set("insert", "update", "delete")) &&
          task.source.gtidSet.isEmpty &&
          task.luaCodeFile.isEmpty
        if (fullFidelity) {
          val (db, tb) = src.defs.keys
            .find(k => task.router.routeTable(k._1, k._2) ==
              (rdb, rtb)).get
          val srcState = src.rows((db, tb)).toSeq
            .filter(r => !isSnapshot ||
              wherePreds.get((db, tb)).forall(_.matches(r)))
            .map(project(db, tb, _))
            .map { r =>
              val (k, fields) = keyAndFields(d, r)
              fields.toMap + ("__key" -> k)
            }
          compareStates(s"$rdb.$rtb (vs src)", srcState, got)
        }
        s"$rdb.$rtb" -> (want, got)
      }
      return Result(perTable.size,
        store.size.toLong, perTable)
    }

    // ---- mongo route: doc events through the REAL mongo merger
    // (`_id` lanes + serial demotion) and bulk planner — the command
    // strings a live sink would send, interpreted by MemMongo
    // (reference mongo_to_mongo dt-tests shape)
    if (task.sinkDbType == "mongo") {
      require(admitted.forall(_.rowType != "ddl"),
        "mongo scenarios carry no DDL")
      def idOf(d: TableDef, img: Map[String, Value]): String = {
        val ks = d.keyCols.map(img.getOrElse(_, null: Value))
        if (ks.isEmpty || ks.contains(null)) null else ks.mkString("|")
      }
      def docOf(d: TableDef, img: Map[String, Value], id: String)
          : Map[String, String] = {
        val full = d.cols.map(c =>
          c -> img.getOrElse(c, null: Value)).toMap
        if (id == null) full else full + ("_id" -> id)
      }
      val collOf = (rdb: String, rtb: String) => s"$rdb.$rtb"
      routedDefs.keys.foreach { case (rdb, rtb) =>
        MemMongo.register(runId, collOf(rdb, rtb)) }

      // wire pass: every update's after-image is REBUILT by
      // synthesizing the `$v:2` oplog diff of the image pair and
      // running it through the PRODUCTION decode (oplogUpdateDoc →
      // flatten → apply over the before image) — the
      // mongo_cdc_extractor path; the rebuild must equal the direct
      // image before the pipeline consumes it
      def oplogRebuild(d: TableDef, before: Map[String, Value],
          after: Map[String, Value]): Map[String, Value] = {
        def v(img: Map[String, Value], c: String): Value =
          img.getOrElse(c, null)
        val ins = d.cols.filter(c =>
          v(before, c) == null && v(after, c) != null)
        val upd = d.cols.filter(c => v(before, c) != null &&
          v(after, c) != null && before(c) != after(c))
        val del = d.cols.filter(c =>
          v(before, c) != null && v(after, c) == null)
        val diff = Map.newBuilder[String, Any]
        if (ins.nonEmpty)
          diff += "i" -> ins.map(c => c -> (after(c): Any)).toMap
        if (upd.nonEmpty)
          diff += "u" -> upd.map(c => c -> (after(c): Any)).toMap
        if (del.nonEmpty)
          diff += "d" -> del.map(c => c -> (true: Any)).toMap
        val (set, unset) = graft.operators.MongoOps.oplogUpdateDoc(
          Map("diff" -> diff.result()))
        val applied = (before.filter(_._2 != null) ++
          set.map { case (k, x) => k -> x.asInstanceOf[Value] }) --
          unset
        val rebuilt = d.cols.map(c =>
          c -> applied.getOrElse(c, null: Value)).toMap
        val want = d.cols.map(c => c -> v(after, c)).toMap
        require(rebuilt == want,
          s"$$v:2 oplog rebuild diverged:\n  rebuilt: $rebuilt\n" +
            s"  direct:  $want")
        rebuilt
      }
      val wiredEvents = routedEvents.map { e =>
        if (e.rowType != "update") e
        else e.copy(after = oplogRebuild(
          routedDefs((e.dstDb, e.dstTb)), e.before, e.after))
      }

      // the merger input: one row per routed event
      val schema = StructType(Seq(
        StructField("tb", StringType), StructField("seq", LongType),
        StructField("row_type", StringType),
        StructField("id", StringType),
        StructField("doc", MapType(StringType, StringType))))
      val evRows = wiredEvents.map { e =>
        val d = routedDefs((e.dstDb, e.dstTb))
        val img = if (e.rowType == "delete") e.before else e.after
        val id = idOf(d, img)
        Row(collOf(e.dstDb, e.dstTb), e.seq, e.rowType, id,
          docOf(d, img, id))
      }
      val changes = spark.createDataFrame(evRows.asJava, schema)
      val lanes = graft.operators.MongoOps.mergeLanes(
        changes.select(col("tb"), col("id"), col("row_type"),
          col("seq")))
      // lane rows rejoin their documents; serial rows apply AFTER the
      // merged lanes of their table, in original order (planBulk's
      // serial fence preserves this)
      val planRows = lanes
        .join(changes.select(col("tb"), col("seq"),
          col("row_type").as("ev_rt"), col("doc")), Seq("tb", "seq"))
        .withColumn("serial_rank",
          when(col("lane") === "serial", lit(1)).otherwise(lit(0)))
        .orderBy(col("tb"), col("serial_rank"), col("seq"))
        .select(col("tb"), col("id"), col("lane"), col("doc"),
          col("ev_rt").as("row_type"))
        .collect()
      graft.sinks.MongoSink
        .planBulk(planRows.iterator, batchSize = task.batchSize)
        .foreach(MemMongo.execute(runId, _))

      // naive doc-level oracle: sequential upsert/delete by _id
      val naiveM = mutable.Map[String,
        mutable.LinkedHashMap[String, Map[String, String]]]()
      routedDefs.keys.foreach { case (rdb, rtb) =>
        naiveM(collOf(rdb, rtb)) = mutable.LinkedHashMap.empty }
      routedEvents.foreach { e =>
        val d = routedDefs((e.dstDb, e.dstTb))
        val img = if (e.rowType == "delete") e.before else e.after
        val id = idOf(d, img)
        require(id != null,
          s"mongo scenario events need non-null keys: $e")
        val buf = naiveM(collOf(e.dstDb, e.dstTb))
        if (e.rowType == "delete") buf.remove(id): Unit
        else buf(id) = docOf(d, img, id)
      }
      val dstM = MemMongo.snapshot(runId)
      MemMongo.clear(runId)
      val perColl = routedDefs.map { case ((rdb, rtb), _) =>
        val cname = collOf(rdb, rtb)
        val got = dstM.getOrElse(cname, Nil)
        val want = naiveM(cname).values.toSeq
        compareStates(cname, want, got)
        val fullFidelity =
          task.filter.doEvents == Set("insert", "update", "delete") &&
            task.source.gtidSet.isEmpty
        if (fullFidelity && task.luaCodeFile.isEmpty) {
          val (db, tb) = src.defs.keys
            .find(k => task.router.routeTable(k._1, k._2) ==
              (rdb, rtb)).get
          val d = routedDefs((rdb, rtb))
          val srcState = src.rows((db, tb)).toSeq
            .map(project(db, tb, _))
            .map(r => docOf(d, r, idOf(d, r)))
          compareStates(s"$cname (vs src)", srcState, got)
        }
        cname -> (want, got)
      }
      return Result(perColl.size,
        dstM.values.map(_.size.toLong).sum, perColl)
    }

    // ---- kafka route: every routed event becomes a REAL Avro
    // envelope (the reference wire schema) produced onto its routed
    // topic (exact → schema-`*` → default, rdb_router.rs:96-98); the
    // consumer side decodes the bytes and rebuilds table state, so the
    // compare covers encode∘decode identity and topic placement
    // (reference *_to_kafka routes)
    if (task.sinkDbType == "kafka") {
      require(admitted.forall(_.rowType != "ddl"),
        "kafka scenarios carry no DDL")
      import graft.sinks.AvroEnvelope
      val wire = mutable.LinkedHashMap[String,
        mutable.ArrayBuffer[Array[Byte]]]()
      admitted.filter(_.rowType != "ddl").foreach { e =>
        val r = routeEvent(e)
        val topic = task.router.routeTopic(e.db, e.tb)
        // with_field_defs (default true): the per-field type list
        // rides the envelope unless the config turns it off
        val defs =
          if (lane.withFieldDefs)
            AvroEnvelope.fieldDefsFor(r.before, r.after)
          else null
        wire.getOrElseUpdate(topic, mutable.ArrayBuffer.empty) +=
          AvroEnvelope.encode(r.dstDb, r.dstTb, r.rowType,
            fields = defs,
            before = if (r.before.isEmpty) null else r.before,
            after = if (r.after.isEmpty) null else r.after)
      }
      // consumer: decode each envelope in topic order, replay into
      // keyed table state (key-change updates move the row)
      val states = mutable.LinkedHashMap[(String, String, String),
        mutable.LinkedHashMap[Seq[Value], Map[String, Value]]]()
      wire.foreach { case (topic, msgs) =>
        msgs.foreach { bytes =>
          val env = AvroEnvelope.decode(bytes)
          val d = routedDefs((env.schema, env.tb))
          require(d.keyCols.nonEmpty,
            "kafka scenarios need keyed tables")
          val st = states.getOrElseUpdate((topic, env.schema, env.tb),
            mutable.LinkedHashMap.empty)
          def keyed(img: Map[String, Value]): Seq[Value] =
            d.keyCols.map(img.getOrElse(_, null))
          def full(img: Map[String, Value]): Map[String, Value] =
            d.cols.map(c => c -> img.getOrElse(c, null: Value)).toMap
          val before = Option(env.before).getOrElse(Map.empty)
          val after = Option(env.after).getOrElse(Map.empty)
          env.operation match {
            case "insert" => st(keyed(after)) = full(after)
            case "update" =>
              val kb = keyed(before); val ka = keyed(after)
              if (kb != ka) st.remove(kb): Unit
              st(ka) = full(after)
            case "delete" => st.remove(keyed(before)): Unit
            case other => sys.error(s"unexpected operation $other")
          }
        }
      }
      // naive oracle replays the routed events WITHOUT the wire
      val naiveK = mutable.LinkedHashMap[(String, String, String),
        mutable.LinkedHashMap[Seq[Value], Map[String, Value]]]()
      admitted.filter(_.rowType != "ddl").foreach { e =>
        val r = routeEvent(e)
        val topic = task.router.routeTopic(e.db, e.tb)
        val d = routedDefs((r.dstDb, r.dstTb))
        val st = naiveK.getOrElseUpdate((topic, r.dstDb, r.dstTb),
          mutable.LinkedHashMap.empty)
        def keyed(img: Map[String, Value]): Seq[Value] =
          d.keyCols.map(img.getOrElse(_, null))
        def full(img: Map[String, Value]): Map[String, Value] =
          d.cols.map(c => c -> img.getOrElse(c, null: Value)).toMap
        r.rowType match {
          case "insert" => st(keyed(r.after)) = full(r.after)
          case "update" =>
            val kb = keyed(r.before); val ka = keyed(r.after)
            if (kb != ka) st.remove(kb): Unit
            st(ka) = full(r.after)
          case "delete" => st.remove(keyed(r.before)): Unit
        }
      }
      val perTopicTable = naiveK.map { case (k @ (topic, rdb, rtb),
          wantSt) =>
        val got = states.getOrElse(k, mutable.LinkedHashMap.empty)
          .values.toSeq
        val want = wantSt.values.toSeq
        compareStates(s"$topic/$rdb.$rtb", want, got)
        val fullFidelity =
          task.filter.doEvents == Set("insert", "update", "delete") &&
            task.source.gtidSet.isEmpty &&
            task.luaCodeFile.isEmpty
        if (fullFidelity) {
          val (db, tb) = src.defs.keys
            .find(kk => task.router.routeTable(kk._1, kk._2) ==
              (rdb, rtb)).get
          val d = routedDefs((rdb, rtb))
          val srcState = src.rows((db, tb)).toSeq
            .map(project(db, tb, _))
            .map(r => d.cols.map(c =>
              c -> r.getOrElse(c, null: Value)).toMap)
          compareStates(s"$topic/$rdb.$rtb (vs src)", srcState, got)
        }
        s"$topic/$rdb.$rtb" -> (want, got)
      }
      return Result(perTopicTable.size,
        states.values.map(_.size.toLong).sum, perTopicTable.toMap)
    }

    // ---- starrocks/doris route: the change batch annotates sign +
    // version columns, renders JSON-lines payloads, and PUTs them over
    // REAL loopback HTTP through the production stream-load client
    // (labels, auth, strip_outer_array, response gate); the in-memory
    // warehouse resolves primary-key + max-version + sign semantics and
    // deduplicates by label (reference *_to_starrocks routes,
    // starrocks_sinker.rs:233-318)
    if (task.sinkDbType == "starrocks" || task.sinkDbType == "doris") {
      require(admitted.forall(_.rowType != "ddl"),
        "stream-load scenarios carry no DDL")
      import com.sun.net.httpserver.{HttpExchange, HttpServer}
      import graft.sinks.{StreamLoadHttp, StreamLoadSink}
      val received = java.util.Collections.synchronizedList(
        new java.util.ArrayList[(String, String, String)]())
      val server = HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/", (ex: HttpExchange) => {
        val body = new String(ex.getRequestBody.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        received.add((ex.getRequestURI.getPath,
          ex.getRequestHeaders.getFirst("label"), body)): Unit
        val resp = """{"Status":"Success","NumberLoadedRows":1}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, resp.length)
        ex.getResponseBody.write(resp)
        ex.close()
      })
      server.start()
      try {
        normalized.groupBy(e => (e.dstDb, e.dstTb)).toSeq
          .sortBy(_._1).foreach { case ((rdb, rtb), evs) =>
            val d = routedDefs((rdb, rtb))
            require(d.keyCols.nonEmpty,
              "stream-load scenarios need keyed tables")
            val schema = StructType(
              Seq(StructField("seq", LongType),
                StructField("sub", IntegerType),
                StructField("row_type", StringType)) ++
                d.cols.map(StructField(_, StringType)))
            val rows = evs.map { e =>
              val img = if (e.rowType == "delete") e.before else e.after
              Row.fromSeq(Seq(e.seq, e.sub, e.rowType) ++
                d.cols.map(img.getOrElse(_, null)))
            }
            val df = spark.createDataFrame(rows.asJava, schema)
            val signed = StreamLoadSink.withSignColumns(df,
              col("row_type"), col("seq") * 2 + col("sub"))
              .drop("seq", "sub", "row_type")
            val cfg = StreamLoadHttp.Config("127.0.0.1",
              server.getAddress.getPort, rdb, rtb)
            StreamLoadSink.ship(signed,
              () => new StreamLoadHttp.HttpPayloadSink(cfg, 1L),
              batchRows = math.max(1, task.batchSize))
          }
      } finally server.stop(0)

      // warehouse resolution: per (db,tb), label-deduped rows; key →
      // max-version row; sign 1 = deleted
      import graft.sources.TinyJson
      val seenLabels = mutable.Set[String]()
      val byTableRows = mutable.LinkedHashMap[(String, String),
        mutable.ArrayBuffer[Map[String, Any]]]()
      received.asScala.foreach { case (path, label, body) =>
        val Array(_, _, db, tb, _) = path.split("/")
        if (seenLabels.add(label)) {
          TinyJson.parse(body).get.asInstanceOf[Seq[Any]].foreach { r =>
            byTableRows.getOrElseUpdate((db, tb),
              mutable.ArrayBuffer.empty) +=
              r.asInstanceOf[Map[String, Any]]
          }
        }
      }
      def resolve(d: TableDef, rows: Seq[Map[String, Any]])
          : Seq[Map[String, Value]] =
        rows.groupBy(r => d.keyCols.map(r.getOrElse(_, null)))
          .values.toSeq
          .map(_.maxBy(r => TinyJson.num(r,
            StreamLoadSink.VersionCol).get))
          .filter(r => TinyJson.num(r,
            StreamLoadSink.IsDeletedCol).get == 0.0)
          .map(r => d.cols.map(c => c ->
            r.getOrElse(c, null).asInstanceOf[Value]).toMap)
      val perTable = routedDefs.map { case ((rdb, rtb), d) =>
        val got = resolve(d,
          byTableRows.getOrElse((rdb, rtb), Nil).toSeq)
        // naive oracle: sequential upsert/delete by key
        val naiveW = mutable.LinkedHashMap[Seq[Value],
          Map[String, Value]]()
        normalized.filter(e => (e.dstDb, e.dstTb) == (rdb, rtb))
          .foreach { e =>
            val img = if (e.rowType == "delete") e.before else e.after
            val k = d.keyCols.map(img.getOrElse(_, null: Value))
            if (e.rowType == "delete") naiveW.remove(k): Unit
            else naiveW(k) = d.cols.map(c =>
              c -> img.getOrElse(c, null: Value)).toMap
          }
        compareStates(s"$rdb.$rtb", naiveW.values.toSeq, got)
        val fullFidelity =
          task.filter.doEvents == Set("insert", "update", "delete") &&
            task.source.gtidSet.isEmpty &&
            task.luaCodeFile.isEmpty
        if (fullFidelity) {
          val (db, tb) = src.defs.keys
            .find(k => task.router.routeTable(k._1, k._2) ==
              (rdb, rtb)).get
          val srcState = src.rows((db, tb)).toSeq
            .map(project(db, tb, _))
            .map(r => d.cols.map(c =>
              c -> r.getOrElse(c, null: Value)).toMap)
          compareStates(s"$rdb.$rtb (vs src)", srcState, got)
        }
        s"$rdb.$rtb" -> (naiveW.values.toSeq, got)
      }
      return Result(perTable.size,
        perTable.values.map(_._2.size.toLong).sum, perTable)
    }

    // ---- clickhouse route: sign + version columns over the CH HTTP
    // interface (POST ?query=INSERT INTO db.tb FORMAT JSONEachRow with
    // basic auth, reference clickhouse_sinker.rs:92-113); the
    // in-memory warehouse resolves ReplacingMergeTree(version)
    // collapse — per key the max-version row wins, sign=1 rows drop
    if (task.sinkDbType == "clickhouse") {
      require(admitted.forall(_.rowType != "ddl"),
        "clickhouse scenarios carry no DDL")
      import com.sun.net.httpserver.{HttpExchange, HttpServer}
      import graft.sinks.{ClickhouseHttp, StreamLoadSink}
      val received = java.util.Collections.synchronizedList(
        new java.util.ArrayList[(String, String, String)]())
      val server = HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/", (ex: HttpExchange) => {
        val body = new String(ex.getRequestBody.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        received.add((ex.getRequestURI.getRawQuery,
          ex.getRequestHeaders.getFirst("Authorization"), body)): Unit
        ex.sendResponseHeaders(200, 0L)
        ex.getResponseBody.close()
        ex.close()
      })
      server.start()
      try {
        normalized.groupBy(e => (e.dstDb, e.dstTb)).toSeq
          .sortBy(_._1).foreach { case ((rdb, rtb), evs) =>
            val d = routedDefs((rdb, rtb))
            require(d.keyCols.nonEmpty,
              "clickhouse scenarios need keyed tables")
            val schema = StructType(
              Seq(StructField("seq", LongType),
                StructField("sub", IntegerType),
                StructField("row_type", StringType)) ++
                d.cols.map(StructField(_, StringType)))
            val rows = evs.map { e =>
              val img = if (e.rowType == "delete") e.before else e.after
              Row.fromSeq(Seq(e.seq, e.sub, e.rowType) ++
                d.cols.map(img.getOrElse(_, null)))
            }
            val df = spark.createDataFrame(rows.asJava, schema)
            val signed = StreamLoadSink.withSignColumns(df,
              col("row_type"), col("seq") * 2 + col("sub"))
              .drop("seq", "sub", "row_type")
            val cfg = ClickhouseHttp.Config("127.0.0.1",
              server.getAddress.getPort, rdb, rtb,
              user = "admin", password = "pw")
            StreamLoadSink.ship(signed,
              () => new ClickhouseHttp.HttpPayloadSink(cfg),
              batchRows = math.max(1, task.batchSize))
          }
      } finally server.stop(0)

      // warehouse resolution: INSERT target parsed from the query
      // param, key -> max-version row, sign 1 = deleted
      import graft.sources.TinyJson
      val InsertRe =
        """INSERT INTO `(.+?)`\.`(.+?)` FORMAT JSONEachRow""".r
      val byTableRows = mutable.LinkedHashMap[(String, String),
        mutable.ArrayBuffer[Map[String, Any]]]()
      received.asScala.foreach { case (rawQuery, auth, body) =>
        require(auth != null && auth.startsWith("Basic "),
          "clickhouse POST missing basic auth")
        val query = java.net.URLDecoder.decode(
          rawQuery.stripPrefix("query="),
          java.nio.charset.StandardCharsets.UTF_8)
        val m = InsertRe.findFirstMatchIn(query)
          .getOrElse(sys.error(s"unexpected CH query: $query"))
        val (db, tb) = (m.group(1), m.group(2))
        body.split("\n").filter(_.nonEmpty).foreach { line =>
          byTableRows.getOrElseUpdate((db, tb),
            mutable.ArrayBuffer.empty) +=
            TinyJson.parse(line).get.asInstanceOf[Map[String, Any]]
        }
      }
      def resolveCh(d: TableDef, rows: Seq[Map[String, Any]])
          : Seq[Map[String, Value]] =
        rows.groupBy(r => d.keyCols.map(r.getOrElse(_, null)))
          .values.toSeq
          .map(_.maxBy(r => TinyJson.num(r,
            StreamLoadSink.VersionCol).get))
          .filter(r => TinyJson.num(r,
            StreamLoadSink.IsDeletedCol).get == 0.0)
          .map(r => d.cols.map(c => c ->
            r.getOrElse(c, null).asInstanceOf[Value]).toMap)
      val perTable = routedDefs.map { case ((rdb, rtb), d) =>
        val got = resolveCh(d,
          byTableRows.getOrElse((rdb, rtb), Nil).toSeq)
        val naiveW = mutable.LinkedHashMap[Seq[Value],
          Map[String, Value]]()
        normalized.filter(e => (e.dstDb, e.dstTb) == (rdb, rtb))
          .foreach { e =>
            val img = if (e.rowType == "delete") e.before else e.after
            val k = d.keyCols.map(img.getOrElse(_, null: Value))
            if (e.rowType == "delete") naiveW.remove(k): Unit
            else naiveW(k) = d.cols.map(c =>
              c -> img.getOrElse(c, null: Value)).toMap
          }
        compareStates(s"$rdb.$rtb", naiveW.values.toSeq, got)
        val fullFidelity =
          task.filter.doEvents == Set("insert", "update", "delete") &&
            task.source.gtidSet.isEmpty &&
            task.luaCodeFile.isEmpty
        if (fullFidelity) {
          val (db, tb) = src.defs.keys
            .find(k => task.router.routeTable(k._1, k._2) ==
              (rdb, rtb)).get
          val srcState = src.rows((db, tb)).toSeq
            .map(project(db, tb, _))
            .map(r => d.cols.map(c =>
              c -> r.getOrElse(c, null: Value)).toMap)
          compareStates(s"$rdb.$rtb (vs src)", srcState, got)
        }
        s"$rdb.$rtb" -> (naiveW.values.toSeq, got)
      }
      return Result(perTable.size,
        perTable.values.map(_._2.size.toLong).sum, perTable)
    }

    // ---- http_server pipeline: routed events stage into the durable
    // spool in buffer_size micro-batches and serve over the REAL
    // subscription HTTP server (/info /fetch_new /fetch_old /ack,
    // in-batch paging); a loopback client drains, replays one batch
    // via fetch_old, acks at the end, and rebuilds table state from
    // the served JSON rows (reference http_server_pipeline.rs)
    if (task.pipelineType == "http_server") {
      require(admitted.forall(_.rowType != "ddl"),
        "subscription scenarios carry no DDL")
      import graft.infra.{Subscription, SubscriptionServer}
      import graft.sources.TinyJson
      val allCols = routedDefs.values.map(_.cols).toSeq.distinct
      require(allCols.size == 1,
        "subscription scenarios need same-shaped tables")
      val cols = allCols.head
      val spool = Files.createTempDirectory("graft-scenario-sub")
        .toString
      val sub = new Subscription(spool)
      val schema = StructType(
        Seq(StructField("schema", StringType),
          StructField("tb", StringType),
          StructField("seq", LongType),
          StructField("row_type", StringType)) ++
          cols.map(StructField(_, StringType)))
      normalized.sortBy(e => (e.seq, e.sub))
        .grouped(math.max(1, lane.bufferSize)).zipWithIndex
        .foreach { case (chunk, i) =>
          val rows = chunk.map { e =>
            val img = if (e.rowType == "delete") e.before else e.after
            Row.fromSeq(Seq(e.dstDb, e.dstTb, e.seq * 2 + e.sub,
              e.rowType) ++ cols.map(img.getOrElse(_, null)))
          }
          sub.stage(spark.createDataFrame(rows.asJava, schema),
            i + 1L): Unit
        }

      val server = new SubscriptionServer(spark, sub)
      val states = mutable.LinkedHashMap[(String, String),
        mutable.LinkedHashMap[Seq[Value], Map[String, Value]]]()
      val lastBatchRows = mutable.ArrayBuffer[String]()
      var lastBid = 0L
      try {
        val base = s"http://127.0.0.1:${server.boundPort}"
        def get(path: String): String = {
          val conn = java.net.URI.create(base + path).toURL
            .openConnection()
            .asInstanceOf[java.net.HttpURLConnection]
          try {
            val st = conn.getResponseCode
            val body = new String(conn.getInputStream.readAllBytes(),
              "UTF-8")
            require(st == 200, s"GET $path -> $st: $body")
            body
          } finally conn.disconnect()
        }
        def postAck(id: Long): Unit = {
          val conn = java.net.URI.create(s"$base/ack").toURL
            .openConnection()
            .asInstanceOf[java.net.HttpURLConnection]
          try {
            conn.setRequestMethod("POST")
            conn.setDoOutput(true)
            conn.getOutputStream.write(
              s"""{"ack_batch_id":$id}""".getBytes("UTF-8"))
            require(conn.getResponseCode == 200, s"ack $id failed")
          } finally conn.disconnect()
        }
        // spool reads don't promise row order, so the consumer orders
        // by the envelope's seq (the reason the seq ships at all)
        val drained = mutable.ArrayBuffer[Map[String, Any]]()
        var empties = 0
        while (empties < 2) {
          val resp = TinyJson.parse(
            get(s"/fetch_new?batch_size=${math.max(1, task.batchSize)}"))
            .get.asInstanceOf[Map[String, Any]]
          val bid = TinyJson.num(resp, "batch_id").get.toLong
          val data = resp("data").asInstanceOf[Seq[Any]]
          if (data.nonEmpty) {
            empties = 0
            if (bid != lastBid) { lastBatchRows.clear(); lastBid = bid }
            data.foreach { r =>
              lastBatchRows += r.toString
              drained += r.asInstanceOf[Map[String, Any]]
            }
          } else empties += 1
        }
        drained.sortBy(r => TinyJson.num(r, "seq").get).foreach { r =>
          val rdb = r("schema").asInstanceOf[String]
          val rtb = r("tb").asInstanceOf[String]
          val d = routedDefs((rdb, rtb))
          require(d.keyCols.nonEmpty,
            "subscription scenarios need keyed tables")
          val img = d.cols.map(c => c ->
            r.getOrElse(c, null).asInstanceOf[Value]).toMap
          val st = states.getOrElseUpdate((rdb, rtb),
            mutable.LinkedHashMap.empty)
          val k = d.keyCols.map(img(_))
          r("row_type").asInstanceOf[String] match {
            case "delete" => st.remove(k): Unit
            case _ => st(k) = img
          }
        }
        // replay the final batch via fetch_old BEFORE acking: the
        // re-served rows must equal what fetch_new paged out
        if (lastBid > 0) {
          val old = TinyJson.parse(
            get(s"/fetch_old?old_batch_id=$lastBid"))
            .get.asInstanceOf[Map[String, Any]]
          val oldRows = old("data").asInstanceOf[Seq[Any]]
            .map(_.toString)
          // spool reads don't promise row order across requests —
          // compare as multisets
          require(oldRows.sorted == lastBatchRows.toSeq.sorted,
            s"fetch_old re-serve diverged for batch $lastBid")
          postAck(lastBid)
          val info = TinyJson.parse(get("/info")).get
          require(TinyJson.num(info, "acked_batch_id").get.toLong ==
            lastBid, "ack did not land")
        }
      } finally server.stop()

      val perTable = routedDefs.map { case ((rdb, rtb), d) =>
        val got = states.getOrElse((rdb, rtb),
          mutable.LinkedHashMap.empty).values.toSeq
        val naiveS = mutable.LinkedHashMap[Seq[Value],
          Map[String, Value]]()
        normalized.filter(e => (e.dstDb, e.dstTb) == (rdb, rtb))
          .foreach { e =>
            val img = if (e.rowType == "delete") e.before else e.after
            val full = d.cols.map(c =>
              c -> img.getOrElse(c, null: Value)).toMap
            val k = d.keyCols.map(full(_))
            if (e.rowType == "delete") naiveS.remove(k): Unit
            else naiveS(k) = full
          }
        compareStates(s"$rdb.$rtb", naiveS.values.toSeq, got)
        val fullFidelity =
          task.filter.doEvents == Set("insert", "update", "delete") &&
            task.source.gtidSet.isEmpty &&
            task.luaCodeFile.isEmpty
        if (fullFidelity) {
          val (db, tb) = src.defs.keys
            .find(k => task.router.routeTable(k._1, k._2) ==
              (rdb, rtb)).get
          val srcState = src.rows((db, tb)).toSeq
            .map(project(db, tb, _))
            .map(r => d.cols.map(c =>
              c -> r.getOrElse(c, null: Value)).toMap)
          compareStates(s"$rdb.$rtb (vs src)", srcState, got)
        }
        s"$rdb.$rtb" -> (naiveS.values.toSeq, got)
      }
      return Result(perTable.size,
        states.values.map(_.size.toLong).sum, perTable)
    }

    // ---- sql route (reference to_sql_test / sql_sinker.rs): every
    // admitted event renders as a literal runnable statement through
    // the REAL eventSql; the INDEPENDENT fixture interpreter executes
    // the log and must land on the source end state — and the
    // REVERSED log applied afterwards must undo everything back to
    // the post-prepare state (the undo-stream contract)
    if (task.sinkType == "sql") {
      require(admitted.forall(_.rowType != "ddl"),
        "sql-sink scenarios carry no DDL")
      import graft.sinks.RdbQueryBuilder
      def render(dstDb: String, dstTb: String, rowType: String,
          before: Map[String, Value], after: Map[String, Value])
          : String = {
        val d = routedDefs((dstDb, dstTb))
        RdbQueryBuilder.eventSql(dialect, dstDb, dstTb, d.keyCols,
          rowType, before, after)
      }
      // the sql sinker logs from a CDC position: the src_test TAIL
      // only — prepare state is the baseline the log applies over
      val base = new SourceState
      base.applyAll(prepStmts)
      val cut = base.events.size.toLong
      val tail = routedEvents.filter(_.seq > cut)
      val forward = tail.map(e =>
        render(e.dstDb, e.dstTb, e.rowType, e.before, e.after))
      // the undo stream: reversed order, each event inverted
      // (row_data.rs reverse: insert↔delete, update swaps images)
      val undo = tail.reverse.map { e =>
        e.rowType match {
          case "insert" =>
            render(e.dstDb, e.dstTb, "delete", e.after, Map.empty)
          case "delete" =>
            render(e.dstDb, e.dstTb, "insert", Map.empty, e.before)
          case "update" =>
            render(e.dstDb, e.dstTb, "update", e.after, e.before)
        }
      }
      // seed the independent interpreter with the routed baseline,
      // then execute the forward log verbatim
      val replay = new SourceState
      routedDefs.values.foreach(d => replay.apply(CreateTable(d)))
      base.rows.foreach { case ((db, tb), rows) =>
        if (task.filter.allowTable(db, tb)) {
          val (rdb, rtb) = task.router.routeTable(db, tb)
          val d = routedDefs((rdb, rtb))
          rows.foreach { r =>
            val img = project(db, tb, r)
            replay.apply(Insert(rdb, rtb, Some(d.cols),
              Seq(d.cols.map(c => img.getOrElse(c, null: Value)))))
          }
        }
      }
      forward.foreach(s => replay.apply(parseStatement(s)))
      def stateOf(st: SourceState, rdb: String, rtb: String)
          : Seq[Map[String, Value]] = {
        val d = routedDefs((rdb, rtb))
        st.rows((rdb, rtb)).toSeq.map(r =>
          d.cols.map(c => c -> r.getOrElse(c, null: Value)).toMap)
      }
      val perTable = routedDefs.map { case ((rdb, rtb), d) =>
        val got = stateOf(replay, rdb, rtb)
        val fullFidelity =
          task.filter.doEvents == Set("insert", "update", "delete") &&
            task.source.gtidSet.isEmpty &&
            task.luaCodeFile.isEmpty
        if (fullFidelity) {
          val (db, tb) = src.defs.keys
            .find(k => task.router.routeTable(k._1, k._2) ==
              (rdb, rtb)).get
          val srcState = src.rows((db, tb)).toSeq
            .map(project(db, tb, _))
            .map(r => d.cols.map(c =>
              c -> r.getOrElse(c, null: Value)).toMap)
          compareStates(s"$rdb.$rtb (sql replay vs src)", srcState,
            got)
        }
        s"$rdb.$rtb" -> (got, got)
      }
      // undo: applying the reversed log returns to post-prepare
      undo.foreach(s => replay.apply(parseStatement(s)))
      routedDefs.keys.foreach { case (rdb, rtb) =>
        val (db, tb) = src.defs.keys
          .find(k => task.router.routeTable(k._1, k._2) ==
            (rdb, rtb)).get
        val d = routedDefs((rdb, rtb))
        val want = base.rows((db, tb)).toSeq
          .filter(r => task.filter.allowTable(db, tb))
          .map(project(db, tb, _))
          .map(r => d.cols.map(c =>
            c -> r.getOrElse(c, null: Value)).toMap)
        compareStates(s"$rdb.$rtb (undo vs post-prepare)", want,
          stateOf(replay, rdb, rtb))
      }
      return Result(perTable.size,
        perTable.values.map(_._2.size.toLong).sum, perTable)
    }

    // ---- per routed table: DataFrame -> real compaction -> real
    // apply planning -> statements against the in-memory dst engine
    def applyTableBatch(defs: Map[(String, String), TableDef])(
        rdb: String, rtb: String, events: Seq[Routed]): Unit = {
      val d = defs((rdb, rtb))
      val qt = s"${dialect.quote(rdb)}.${dialect.quote(rtb)}"
      val schema = StructType(
        Seq(StructField("seq", LongType),
          StructField("sub", IntegerType),
          StructField("row_type", StringType)) ++
          d.cols.map(StructField(_, StringType)))
      val rows = events.map { e =>
        val img = if (e.rowType == "delete") e.before else e.after
        Row.fromSeq(Seq(e.seq, e.sub, e.rowType) ++
          d.cols.map(img.getOrElse(_, null)))
      }
      val df = spark.createDataFrame(rows.asJava, schema)
      val compacted: DataFrame =
        if (d.keyCols.isEmpty)
          // keyless table: the whole stream is the serial lane
          df.withColumn(Compaction.ActionCol, lit(Compaction.Serial))
        else
          Compaction.compact(df, d.keyCols, Seq("seq", "sub"),
            col("row_type"))
      // the live connection's session-init (FK checks, isolation)
      // rides the same sink path the statements do
      val mkSink = Applier.withSessionInit(
        { val rid = runId; () => MemDb.Sink(rid) },
        RdbQueryBuilder.connSettings(dialect,
          lane.disableForeignKeyChecks,
          lane.transactionIsolation.getOrElse("default")))
      Applier.applyCompacted(dialect, qt, compacted, d.keyCols,
        d.cols, Seq("seq", "sub"), mkSink,
        batchSize = task.batchSize,
        insertOnly = !lane.replace)
    }

    val ddlPresent = admitted.exists(_.rowType == "ddl")
    val byTable = normalized.groupBy(e => (e.dstDb, e.dstTb))
    // register EVERY admitted table at its CREATE-time shape (dst DDL
    // exists even if no DML); mid-stream DDL evolves the registry —
    // for DDL-free scenarios created == final, same registration
    routeDefsOf(src.createdDefs.values).foreach { case ((rdb, rtb), d) =>
      val qt = s"${dialect.quote(rdb)}.${dialect.quote(rtb)}"
      MemDb.register(runId, qt, d.cols, d.keyCols)
    }
    if (ddlPresent) {
      import graft.meta.{AlterParser, DdlParser}
      require(!isSnapshot, "ddl events only arise in cdc scenarios")
      require(lane.parallelType != "table" &&
        lane.parallelType != "serial",
        "ddl scenarios run the rdb_merge lane")
      // DDL barriers segment the stream (reference base_pipeline.rs
      // barrier semantics): each segment compacts+applies under the
      // defs in effect, THEN the routed DDL lands on the dst engine
      // and the defs evolve
      val liveDefs = mutable.LinkedHashMap[(String, String), TableDef]()
      src.createdDefs.foreach { case (k, d) =>
        if (task.filter.allowTable(d.db, d.tb)) liveDefs(k) = d }
      val buffer = mutable.ArrayBuffer[Event]()
      def flush(): Unit = if (buffer.nonEmpty) {
        val defsNow = routeDefsOf(liveDefs.values)
        normalize(buffer.toSeq.map(routeEvent), defsNow)
          .groupBy(e => (e.dstDb, e.dstTb))
          .foreach { case ((rdb, rtb), evs) =>
            applyTableBatch(defsNow)(rdb, rtb, evs) }
        buffer.clear()
      }
      admitted.foreach { e =>
        if (e.rowType != "ddl") { buffer += e; () }
        else DdlParser.parse(e.ddlText).foreach { stmt =>
          if (task.filter.allowDdl(DdlParser.ddlType(stmt),
              e.db, e.tb)) {
            flush() // the barrier: everything before applies first
            stmt match {
              case a: DdlParser.AlterTable =>
                liveDefs((e.db, e.tb)) = evolveDef(
                  liveDefs((e.db, e.tb)),
                  AlterParser.parse(a.alteration))
              case _: DdlParser.TruncateTable => ()
              case other =>
                sys.error(s"unsupported scenario DDL: $other")
            }
            applyDdlToDst(runId, dialect,
              DdlParser.route(stmt, task.router, e.db))
          }
        }
      }
      flush()
    } else if (lane.parallelType == "table" ||
      lane.parallelType == "serial") {
      // table parallelizer lane (table_parallelizer.rs): DML
      // partitions by full table name, each table's rows apply IN
      // ORDER as per-row statements — updates were already split to
      // delete+insert above only when unmergeable, so split the rest
      // here (the serial planner speaks insert/delete row images)
      val split = normalized.flatMap { e =>
        if (e.rowType == "update")
          Seq(e.copy(rowType = "delete", sub = 0, after = Map.empty),
            e.copy(rowType = "insert", sub = 1, before = Map.empty))
        else Seq(e)
      }
      // applyPerTable streams one homogeneous column set; the corpus
      // keeps table-mode fixtures same-shaped (union of cols asserted)
      val allCols = routedDefs.values.map(_.cols).toSeq.distinct
      require(allCols.size == 1,
        "table-parallel scenarios need same-shaped tables, got: " +
          allCols.mkString(" vs "))
      val cols = allCols.head
      val schema = StructType(
        Seq(StructField("schema", StringType),
          StructField("tb", StringType),
          StructField("seq", LongType),
          StructField("sub", IntegerType),
          StructField("row_type", StringType)) ++
          cols.map(StructField(_, StringType)))
      val rows = split.map { e =>
        val img = if (e.rowType == "delete") e.before else e.after
        Row.fromSeq(Seq(e.dstDb, e.dstTb, e.seq, e.sub, e.rowType) ++
          cols.map(img.getOrElse(_, null)))
      }
      Applier.applyPerTable(dialect,
        spark.createDataFrame(rows.asJava, schema), cols,
        Seq("seq", "sub"), () => MemDb.Sink(runId),
        batchSize = task.batchSize)
    } else byTable.foreach { case ((rdb, rtb), events) =>
      applyTableBatch(routedDefs)(rdb, rtb, events)
    }

    // ---- full end-state compare (rdb_test_runner.rs:329-349)
    // DDL-aware naive oracle: sequential replay with evolving routed
    // defs — DML upserts under the def in effect, DDL evolves it and
    // conforms/clears the replayed state
    def naiveReplayEvolving()
        : Map[(String, String), Seq[Map[String, Value]]] = {
      import graft.meta.{AlterParser, DdlParser}
      val defs = mutable.LinkedHashMap[(String, String), TableDef]()
      src.createdDefs.foreach { case (k, d) =>
        if (task.filter.allowTable(d.db, d.tb)) defs(k) = d }
      val state = mutable.Map[(String, String),
        mutable.ArrayBuffer[Map[String, Value]]]()
      routeDefsOf(defs.values).keys
        .foreach(k => state(k) = mutable.ArrayBuffer.empty)
      admitted.foreach { e =>
        if (e.rowType == "ddl")
          DdlParser.parse(e.ddlText).foreach { stmt =>
            if (task.filter.allowDdl(DdlParser.ddlType(stmt),
                e.db, e.tb)) stmt match {
              case a: DdlParser.AlterTable =>
                defs((e.db, e.tb)) = evolveDef(defs((e.db, e.tb)),
                  AlterParser.parse(a.alteration))
                val ((rdb, rtb), rd) =
                  routeDefsOf(Seq(defs((e.db, e.tb)))).head
                val buf = state((rdb, rtb))
                buf.indices.foreach(i =>
                  buf(i) = conformRow(buf(i), rd))
              case _: DdlParser.TruncateTable =>
                state(task.router.routeTable(e.db, e.tb)).clear()
              case other =>
                sys.error(s"unsupported scenario DDL: $other")
            }
          }
        else {
          val r = routeEvent(e)
          val ((_, _), d) = routeDefsOf(Seq(defs((e.db, e.tb)))).head
          val buf = state((r.dstDb, r.dstTb))
          def kOf(m: Map[String, Value]): Seq[Value] =
            d.keyCols.map(m.getOrElse(_, null: Value))
          // same key-change normalization the pipeline applies
          val steps: Seq[(String, Map[String, Value])] =
            if (r.rowType == "update") {
              val kb = kOf(r.before); val ka = kOf(r.after)
              val unmergeable = d.keyCols.isEmpty ||
                kb.contains(null) || ka.contains(null) || kb != ka
              if (unmergeable)
                Seq("delete" -> r.before, "insert" -> r.after)
              else Seq("update" -> r.after)
            } else if (r.rowType == "delete") Seq("delete" -> r.before)
            else Seq(r.rowType -> r.after)
          steps.foreach { case (rt, rawImg) =>
            val img = d.cols.map(c =>
              c -> rawImg.getOrElse(c, null: Value)).toMap
            val k = kOf(img)
            val keyed = d.keyCols.nonEmpty && !k.contains(null)
            rt match {
              case "delete" =>
                if (keyed) buf.filterInPlace(row => kOf(row) != k)
                else buf.filterInPlace(_ != img)
              case _ =>
                if (keyed) buf.filterInPlace(row => kOf(row) != k)
                buf += img
            }
          }
          ()
        }
      }
      state.view.mapValues(_.toSeq).toMap
    }
    val naive =
      if (ddlPresent) naiveReplayEvolving()
      else naiveReplay(routedDefs, normalized.map(e =>
        (e.dstDb, e.dstTb, e.rowType,
          if (e.rowType == "delete") e.before else e.after)))
    val dst = MemDb.snapshot(runId)
    MemDb.clear(runId)

    val perTable = routedDefs.map { case ((rdb, rtb), _) =>
      val qt = s"${dialect.quote(rdb)}.${dialect.quote(rtb)}"
      val got = dst.getOrElse(qt, Nil)
      val want = naive.getOrElse((rdb, rtb), Nil)
      compareStates(s"$rdb.$rtb", want, got)
      // the source's own end state is a second oracle whenever the
      // event gates admit everything (otherwise dst is a lawful
      // subset of src)
      val fullFidelity = task.source.gtidSet.isEmpty && !isSnapshot &&
        task.filter.doEvents == Set("insert", "update", "delete") &&
            task.source.gtidSet.isEmpty &&
        // a filtered-out DDL lawfully desyncs dst schema from src
        (!ddlPresent || task.filter.doDdls.contains("*"))
      // a Lua processor rewrites rows in flight, so the source state
      // stops being an oracle for the destination — the per-event
      // replay (which saw the processed stream) remains one
      if ((fullFidelity || isSnapshot) && task.luaCodeFile.isEmpty) {
        val (db, tb) = src.defs.keys
          .find(k => task.router.routeTable(k._1, k._2) == (rdb, rtb))
          .get
        val srcState = src.rows((db, tb)).toSeq
          // snapshot where_conditions narrows the src-side oracle too
          .filter(r => !isSnapshot ||
            wherePreds.get((db, tb)).forall(_.matches(r)))
          .map(project(db, tb, _))
        compareStates(s"$rdb.$rtb (vs src)", srcState, got)
      }
      s"$rdb.$rtb" -> (want, got)
    }
    Result(perTable.size, dst.values.map(_.size.toLong).sum, perTable)
  }

  /** Apply a routed DDL statement to the in-memory destination —
    * the live engine's side of the barrier lane.
    */
  private def applyDdlToDst(runId: String,
      dialect: RdbQueryBuilder.Dialect,
      stmt: graft.meta.DdlParser.DdlStatement): Unit = {
    import graft.meta.{AlterParser, DdlParser}
    stmt match {
      case a: DdlParser.AlterTable =>
        val qt = s"${dialect.quote(a.db.get)}.${dialect.quote(a.tb)}"
        AlterParser.parse(a.alteration).foreach {
          case ac: AlterParser.AddColumn =>
            MemDb.addColumn(runId, qt, ac.name)
          case AlterParser.DropColumn(n) =>
            MemDb.dropColumn(runId, qt, n)
          case other =>
            sys.error(s"unsupported dst alter action: $other")
        }
      case t: DdlParser.TruncateTable =>
        MemDb.truncate(runId,
          s"${dialect.quote(t.db.get)}.${dialect.quote(t.tb)}")
      case other => sys.error(s"unsupported dst DDL: $other")
    }
  }

  /** Naive sequential oracle: per-event apply with no batching. */
  private def naiveReplay(
      defs: Map[(String, String), TableDef],
      events: Seq[(String, String, String, Map[String, Value])])
      : Map[(String, String), Seq[Map[String, Value]]] = {
    val state = mutable.Map[(String, String),
      mutable.ArrayBuffer[Map[String, Value]]]()
    defs.keys.foreach(k => state(k) = mutable.ArrayBuffer.empty)
    events.foreach { case (db, tb, rowType, rawImg) =>
      val d = defs((db, tb))
      val buf = state((db, tb))
      // an RDB insert fills unnamed columns with NULL — a processed
      // stream (Lua column drop) ships partial images, and the dst
      // engine lands them as NULL, so the oracle must too
      val img = d.cols.map(c => c -> rawImg.getOrElse(c, null)).toMap
      def keyOf(m: Map[String, Value]): Seq[Value] =
        d.keyCols.map(m.getOrElse(_, null))
      val k = keyOf(img)
      val keyed = d.keyCols.nonEmpty && !k.contains(null)
      rowType match {
        case "delete" =>
          if (keyed) buf.filterInPlace(r => keyOf(r) != k)
          else buf.filterInPlace(r => r != img)
        case _ => // insert/update -> upsert (or append when keyless)
          if (keyed) {
            buf.filterInPlace(r => keyOf(r) != k)
            buf += img
          } else buf += img
      }
    }
    state.view.mapValues(_.toSeq).toMap
  }

  private def canon(rows: Seq[Map[String, Value]]): Seq[String] =
    rows.map(r => r.toSeq.sortBy(_._1)
      .map { case (c, v) => s"$c=${if (v == null) "∅" else v}" }
      .mkString("|")).sorted

  /** Check-task scenarios (reference dt-tests check/revise dirs):
    * `src_prepare.sql` + `src_test.sql` build the source of truth;
    * `dst_test.sql` (applied over the same prepare script) builds a
    * deliberately diverged destination. The REAL [[Checker]] full-outer
    * classification runs src vs dst, its statuses are asserted against
    * a naive map-diff oracle, then the revise flow (MISS→insert,
    * DIFF→update, ORPHAN→delete, base_checker.rs:67-152) applies
    * through the real Compaction+Applier planning to the seeded MemDb —
    * and a RE-CHECK must come back all-OK with the destination
    * row-identical to src (the reference's check_test → revise_test →
    * review_test cycle in one scenario).
    */
  /** Two-way sync (A→B→A with data markers) — the reference cycle
    * dt-tests (mysql_to_mysql/cycle) over the data-marker machinery
    * (data_marker.rs): every transaction a node APPLIES is prefixed
    * with a marker row naming the data's origin node; each direction's
    * extractor tracks the in-flight origin (reset to the local node per
    * txn, refreshed by marker rows) and drops txns whose origin fails
    * the [data_marker] do_nodes/ignore_nodes rule — so A's writes
    * replicate to B, B's local writes replicate to A, and NOTHING
    * echoes back around the loop.
    *
    * Fixture shape: `task_config.ini` = the A→B task (with
    * [data_marker] src_node=node_a), `task_config_back.ini` = B→A,
    * `src_prepare.sql` seeds BOTH nodes (the synced baseline),
    * `src_test.sql` = A-local writes, `dst_test.sql` = B-local writes.
    *
    * Checks: (1) each direction's interpreted marker admission equals
    * the PRODUCTION DataMarker.nodeFilter verdicts; (2) each
    * direction's applied end state equals a real
    * Compaction+Applier run over the admitted events (MemDb); (3) the
    * second direction filters every A-origin event (no echo) and a
    * third pass ships nothing (quiescence); (4) both nodes converge to
    * baseline + A-local + B-local.
    */
  private def runTwoWay(spark: SparkSession, dir: Path): Result = {
    val taskAB = TaskConfig.fromIni(new String(
      Files.readAllBytes(dir.resolve("task_config.ini")), "UTF-8"),
      Some(dir))
    val taskBA = TaskConfig.fromIni(new String(
      Files.readAllBytes(dir.resolve("task_config_back.ini")), "UTF-8"),
      Some(dir))
    val mAB = taskAB.dataMarker.getOrElse(
      sys.error("two-way scenarios need [data_marker] in task_config.ini"))
    val mBA = taskBA.dataMarker.getOrElse(
      sys.error("two-way scenarios need [data_marker] in the back task"))
    val Array(markerDb, markerTb) = mAB.marker.split("\\.", 2)
    require(mBA.marker == mAB.marker, "both directions share the marker")

    val prepStmts = parseScript(new String(
      Files.readAllBytes(dir.resolve("src_prepare.sql")), "UTF-8"))
    val aStmts = parseScript(new String(
      Files.readAllBytes(dir.resolve("src_test.sql")), "UTF-8"))
    val bStmts = parseScript(new String(
      Files.readAllBytes(dir.resolve("dst_test.sql")), "UTF-8"))

    // shared schema + per-node baseline
    val schemaState = new SourceState
    schemaState.applyAll(prepStmts)
    val defs = schemaState.defs.toMap
    defs.values.foreach(d => require(d.keyCols.nonEmpty,
      "two-way scenarios need keyed tables"))

    final case class Txn(events: Seq[Event])
    final class Node(val name: String) {
      // keyed end state per table, seeded with the baseline
      val state = mutable.LinkedHashMap[(String, String),
        mutable.LinkedHashMap[Seq[Value], Map[String, Value]]]()
      defs.foreach { case (k, d) =>
        val buf = mutable.LinkedHashMap[Seq[Value], Map[String, Value]]()
        schemaState.rows(k).foreach { r =>
          val full = d.cols.map(c => c -> r.getOrElse(c, null: Value)).toMap
          buf(d.keyCols.map(full(_))) = full
        }
        state(k) = buf
      }
      val log = mutable.ArrayBuffer[Txn]()
      def applyEvent(e: Event): Unit = {
        val d = defs((e.db, e.tb))
        val img = if (e.rowType == "delete") e.before else e.after
        val full = d.cols.map(c => c -> img.getOrElse(c, null: Value)).toMap
        val k = d.keyCols.map(full(_))
        require(!k.contains(null), s"two-way events need non-null keys: $e")
        // a key-changing update vacates the before-image key (the
        // delete+insert split the production normalize applies)
        if (e.rowType == "update") {
          val kb = d.keyCols.map(e.before.getOrElse(_, null: Value))
          if (!kb.contains(null) && kb != k)
            state((e.db, e.tb)).remove(kb): Unit
        }
        if (e.rowType == "delete") state((e.db, e.tb)).remove(k): Unit
        else state((e.db, e.tb))(k) = full
      }
    }

    // local writes: interpret post-baseline statements; every local
    // DML event is its own autocommit txn (no marker — local origin)
    def localTxns(stmts: Seq[Stmt]): Seq[Txn] = {
      val st = new SourceState
      st.applyAll(prepStmts)
      val cut = st.events.size
      st.applyAll(stmts)
      st.events.drop(cut).toSeq.map(e => Txn(Seq(e)))
    }
    val nodeA = new Node(mAB.srcNode)
    val nodeB = new Node(mAB.dstNode)
    localTxns(aStmts).foreach { t =>
      nodeA.log += t; t.events.foreach(nodeA.applyEvent)
    }
    localTxns(bStmts).foreach { t =>
      nodeB.log += t; t.events.foreach(nodeB.applyEvent)
    }

    var markerSeq = 1000000L
    def markerEvent(origin: String): Event = {
      markerSeq += 1
      Event(markerDb, markerTb, markerSeq, "insert", Map.empty,
        Map("topo" -> mAB.topoName, "data_origin_node" -> origin))
    }

    /** One direction: walk `from.log` FROM the direction's cursor
      * (a real CDC extractor resumes at its position — it never
      * re-reads shipped txns) with the marker state machine, admit per
      * do/ignore nodes, apply at `to` (marker txn written first, like
      * the live sinker's in-transaction marker), and cross-check both
      * the admission (vs the production DataMarker.nodeFilter) and the
      * applied state (vs a REAL Compaction+Applier run over the
      * admitted events). Returns (shipped, filtered) event counts and
      * advances the cursor.
      */
    val cursors = mutable.Map[String, Int]().withDefaultValue(0)
    def syncDirection(label: String, task: TaskConfig.Task,
        from: Node, to: Node): (Int, Int) = {
      val m = task.dataMarker.get
      val newTxns = from.log.drop(cursors(label)).toSeq
      cursors(label) = from.log.size
      val admitted = mutable.ArrayBuffer[(String, Txn)]()
      var filtered = 0
      val verdicts = mutable.ArrayBuffer[(Long, String, Boolean)]()
      newTxns.foreach { txn =>
        var origin = from.name // reset per txn (data_marker.rs reset)
        val dataEvents = txn.events.flatMap { e =>
          if (e.db == markerDb && e.tb == markerTb) {
            origin = e.after("data_origin_node") // refresh
            None
          } else Some(e)
        }
        val admit = !m.ignoreNodes.contains(origin) &&
          (m.doNodes.isEmpty || m.doNodes.contains(origin))
        dataEvents.foreach(e => verdicts += ((e.seq, origin, admit)))
        if (dataEvents.nonEmpty) {
          if (admit) admitted += ((origin, Txn(dataEvents)))
          else filtered += dataEvents.size
        }
      }
      // (1) the interpreted admission must equal the PRODUCTION
      // nodeFilter over the same origin-tagged stream
      if (verdicts.nonEmpty) {
        val s2 = spark
        import s2.implicits._
        val df = verdicts.toSeq.map(v => (v._1, v._2))
          .toDF("seq", "origin_node")
        val kept = graft.operators.DataMarker.nodeFilter(df,
          col("origin_node"), m.doNodes, m.ignoreNodes)
          .select("seq").as[Long].collect().toSet
        val want = verdicts.filter(_._3).map(_._1).toSet
        require(kept == want,
          s"$label: DataMarker.nodeFilter disagrees with the marker " +
            s"replay: want $want got $kept")
      }
      // pre-direction destination state per table (the fidelity seed)
      val pre = defs.map { case (k, d) =>
        k -> to.state(k).values.toSeq.map(r => d.cols.map(r(_)))
      }
      // apply at `to`: marker txn first, then the data
      admitted.foreach { case (origin, txn) =>
        to.log += Txn(markerEvent(origin) +: txn.events)
        txn.events.foreach(to.applyEvent)
      }
      // (2) pipeline fidelity: the admitted events through REAL
      // compaction + applier planning, seeded with the pre state,
      // must land exactly on the keyed-replay end state
      val dataEvents = admitted.flatMap(_._2.events)
      if (dataEvents.nonEmpty) {
        val runId = s"${dir.getFileName}-$label-${System.nanoTime()}"
        dataEvents.groupBy(e => (e.db, e.tb)).foreach {
          case ((db, tb), evs) =>
            val d = defs((db, tb))
            val dl = dialectOf(task.sinkDbType)
            val qt = s"${dl.quote(db)}.${dl.quote(tb)}"
            MemDb.register(runId, qt, d.cols, d.keyCols)
            MemDb.preload(runId, qt, pre((db, tb)))
            val schema = StructType(
              Seq(StructField("seq", LongType),
                StructField("sub", IntegerType),
                StructField("row_type", StringType)) ++
                d.cols.map(StructField(_, StringType)))
            // key-change safety: an update whose key changed (or is
            // NULL on either side) splits to delete+insert before
            // compaction — run()'s normalize, reference rdb_merger
            val rows = evs.flatMap { e =>
              def row(rt: String, img: Map[String, Value], sub: Int) =
                Row.fromSeq(Seq(e.seq, sub, rt) ++
                  d.cols.map(img.getOrElse(_, null)))
              if (e.rowType == "update") {
                val kb = d.keyCols.map(e.before.getOrElse(_, null: Value))
                val ka = d.keyCols.map(e.after.getOrElse(_, null: Value))
                if (kb.contains(null) || ka.contains(null) || kb != ka)
                  Seq(row("delete", e.before, 0), row("insert", e.after, 1))
                else Seq(row("update", e.after, 0))
              } else if (e.rowType == "delete") Seq(row("delete", e.before, 0))
              else Seq(row(e.rowType, e.after, 0))
            }
            val compacted = Compaction.compact(
              spark.createDataFrame(rows.asJava, schema), d.keyCols,
              Seq("seq", "sub"), col("row_type"))
            val rid = runId
            Applier.applyCompacted(dl, qt,
              compacted, d.keyCols, d.cols, Seq("seq", "sub"),
              () => MemDb.Sink(rid), batchSize = task.batchSize)
            val got = MemDb.snapshot(runId)(qt)
            val want = to.state((db, tb)).values.toSeq
            compareStates(s"$label $db.$tb (pipeline vs replay)",
              want, got)
        }
        MemDb.clear(runId)
      }
      (dataEvents.size, filtered)
    }

    // Direction 1: A → B (A-local events, origin node_a, all admitted)
    val (shipped1, filtered1) = syncDirection("ab", taskAB, nodeA, nodeB)
    require(shipped1 > 0, "A→B shipped nothing")
    require(filtered1 == 0, "A→B filtered local events")
    val markersAtB = nodeB.log.flatMap(_.events)
      .count(e => e.db == markerDb && e.tb == markerTb &&
        e.after("data_origin_node") == mAB.srcNode)
    require(markersAtB > 0, "no marker rows landed at B")

    // Direction 2: B → A — B-local ships, every A-origin event filters
    val (shipped2, filtered2) = syncDirection("ba", taskBA, nodeB, nodeA)
    require(shipped2 > 0, "B→A shipped nothing (B-local writes missing)")
    require(filtered2 == shipped1,
      s"echo not fully filtered: $filtered2 of $shipped1 dropped")

    // Direction 3: A → B again — quiescence: the only new txns at A
    // are the B-replicated marker txns, all node_b origin, all dropped
    val (shipped3, filtered3) = syncDirection("ab", taskAB, nodeA, nodeB)
    require(shipped3 == 0,
      s"loop not quiescent: third pass shipped $shipped3")
    require(filtered3 == shipped2,
      s"third pass should filter the B-origin txns: $filtered3")

    // (4) convergence: both nodes = baseline + A-local + B-local
    val oracle = {
      val n = new Node("oracle")
      (localTxns(aStmts) ++ localTxns(bStmts))
        .foreach(_.events.foreach(n.applyEvent))
      n.state
    }
    val perTable = defs.map { case ((db, tb), d) =>
      val a = nodeA.state((db, tb)).values.toSeq
      val b = nodeB.state((db, tb)).values.toSeq
      val want = oracle((db, tb)).values.toSeq
      compareStates(s"$db.$tb (A vs oracle)", want, a)
      compareStates(s"$db.$tb (B vs oracle)", want, b)
      s"$db.$tb" -> (a, b)
    }
    Result(perTable.size,
      perTable.values.map(_._2.size.toLong).sum, perTable)
  }

  /** mongo→mongo check + revise: documents (all non-null fields keyed
    * by `_id`) classify through the DOC-LEVEL map diff the mongo
    * checker uses (Checker.docDiffFields — q18's operator), and the
    * revise statements are the REAL MongoSink single-op shapes
    * (replaceOne upsert for MISS/DIFF, deleteOne for ORPHAN) executed
    * by MemMongo; a re-check after revise must come back clean. The
    * reference shape: mongo_check dt-tests through MongoChecker +
    * mongo revise via the serial sink commands.
    */
  private def runMongoCheck(spark: SparkSession, dir: Path,
      task: TaskConfig.Task, src: SourceState): Result = {
    import graft.operators.Checker
    val runId = s"${dir.getFileName}-mcheck-${System.nanoTime()}"
    val dst = new SourceState
    dst.applyAll(parseScript(new String(
      Files.readAllBytes(dir.resolve("src_prepare.sql")), "UTF-8")))
    dst.applyAll(parseScript(new String(
      Files.readAllBytes(dir.resolve("dst_test.sql")), "UTF-8")))

    val perColl = src.defs.toSeq.collect { case ((db, tb), d)
        if task.filter.allowTable(db, tb) =>
      require(d.keyCols.nonEmpty, "mongo check needs keyed tables")
      def idOf(r: Map[String, Value]): String =
        d.keyCols.map(r.getOrElse(_, null: Value)).mkString("|")
      // a mongo document carries only PRESENT fields — null columns
      // are ABSENT, exactly the doc-diff semantics under test
      def docOf(r: Map[String, Value]): Map[String, String] =
        r.collect { case (c, v) if v != null => c -> v } +
          ("_id" -> idOf(r))
      val srcDocs = src.rows((db, tb)).toSeq.map(docOf)
      val dstDocs = dst.rows((db, tb)).toSeq.map(docOf)
      val srcById = srcDocs.map(m => m("_id") -> m).toMap
      val dstById = dstDocs.map(m => m("_id") -> m).toMap
      require(srcById.size == srcDocs.size &&
        dstById.size == dstDocs.size,
        s"mongo check $db.$tb carries duplicate ids")

      // naive doc-level classification oracle
      val wantStatus: Map[String, String] =
        (srcById.keySet ++ dstById.keySet).map { id =>
          id -> ((srcById.get(id), dstById.get(id)) match {
            case (Some(_), None) => "MISS"
            case (None, Some(_)) => "ORPHAN"
            case (Some(a), Some(b)) if a != b => "DIFF"
            case _ => "OK"
          })
        }.toMap

      // the PRODUCTION doc diff: map columns through docDiffFields
      val s2 = spark
      import s2.implicits._
      val sdf = srcDocs.map(m => (m("_id"), m)).toDF("_id", "sdoc")
      val ddf = dstDocs.map(m => (m("_id"), m)).toDF("_id", "ddoc")
      val joined = sdf.join(ddf, Seq("_id"), "full_outer")
        .select(col("_id"),
          when(col("ddoc").isNull, lit("MISS"))
            .when(col("sdoc").isNull, lit("ORPHAN"))
            .when(size(Checker.docDiffFields(col("sdoc"),
              col("ddoc"))) > 0, lit("DIFF"))
            .otherwise(lit("OK")).as("status"),
          Checker.docDiffFields(
            coalesce(col("sdoc"), map()),
            coalesce(col("ddoc"), map())).as("diff_fields"))
        .collect()
      val gotStatus = joined.map(r =>
        r.getAs[String]("_id") -> r.getAs[String]("status")).toMap
      require(gotStatus == wantStatus,
        s"mongo doc classification mismatch for $db.$tb:\n" +
          s"  want $wantStatus\n  got  $gotStatus")
      // DIFF docs name exactly the differing fields
      joined.filter(_.getAs[String]("status") == "DIFF").foreach { r =>
        val id = r.getAs[String]("_id")
        val want = (srcById(id).keySet ++ dstById(id).keySet)
          .filter(k => srcById(id).get(k) != dstById(id).get(k))
          .toSeq.sorted
        val got = r.getSeq[String](r.fieldIndex("diff_fields")).sorted
        require(got == want,
          s"diff_fields mismatch for $db.$tb $id: want $want got $got")
      }

      // revise: REAL MongoSink single-op shapes against the seeded dst
      val cname = s"$db.$tb"
      MemMongo.register(runId, cname)
      dstDocs.foreach(dd => MemMongo.execute(runId,
        graft.sinks.MongoSink.insertOne(cname, dd("_id"), dd)))
      wantStatus.toSeq.sortBy(_._1).foreach {
        case (id, st) if st == "MISS" || st == "DIFF" =>
          MemMongo.execute(runId, graft.sinks.MongoSink.insertOne(
            cname, id, srcById(id)))
        case (id, st) if st == "ORPHAN" =>
          MemMongo.execute(runId,
            graft.sinks.MongoSink.deleteOne(cname, id))
        case _ => ()
      }
      val revised = MemMongo.snapshot(runId).getOrElse(cname, Nil)
      require(revised.map(d => d("_id") -> d).toMap == srcById,
        s"mongo revise did not converge for $cname")
      cname -> (srcDocs.map(_.map { case (k, v) => k -> (v: Value) }),
        revised.map(_.map { case (k, v) => k -> (v: Value) }))
    }
    MemMongo.clear(runId)
    require(perColl.nonEmpty, "mongo check matched no collections")
    Result(perColl.size, perColl.map(_._2._2.size.toLong).sum,
      perColl.toMap)
  }

  private def runCheck(spark: SparkSession, dir: Path,
      task: TaskConfig.Task, src: SourceState): Result = {
    if (task.dbType == "mongo") return runMongoCheck(spark, dir, task, src)
    import graft.operators.{Checker, Compaction}
    val dialect = dialectOf(task.sinkDbType)
    val runId = s"${dir.getFileName}-check-${System.nanoTime()}"

    val dst = new SourceState
    dst.applyAll(parseScript(new String(
      Files.readAllBytes(dir.resolve("src_prepare.sql")), "UTF-8")))
    dst.applyAll(parseScript(new String(
      Files.readAllBytes(dir.resolve("dst_test.sql")), "UTF-8")))

    // a standalone factory so executor-side closures capture ONLY the
    // run id, not the (non-serializable) interpreter states
    val mkSink: () => Applier.StatementSink = {
      val rid = runId
      () => MemDb.Sink(rid)
    }

    val perTable = src.defs.toSeq.collect { case ((db, tb), d)
        if task.filter.allowTable(db, tb) =>
      require(d.keyCols.nonEmpty, "check scenarios need keyed tables")
      def full(r: Map[String, Value]): Map[String, Value] =
        d.cols.map(c => c -> r.getOrElse(c, null: Value)).toMap
      val srcRows = src.rows((db, tb)).toSeq.map(full)
      val dstRows = dst.rows((db, tb)).toSeq.map(full)
      val schema = StructType(d.cols.map(StructField(_, StringType)))
      def df(rows: Seq[Map[String, Value]]): DataFrame =
        spark.createDataFrame(rows.map(r =>
          Row.fromSeq(d.cols.map(r(_)))).asJava, schema)

      def keyOf(r: Map[String, Value]): Seq[Value] =
        d.keyCols.map(r(_))
      val srcByKey = srcRows.map(r => keyOf(r) -> r).toMap
      val dstByKey = dstRows.map(r => keyOf(r) -> r).toMap
      require(srcByKey.size == srcRows.size &&
        dstByKey.size == dstRows.size,
        s"check scenario $db.$tb carries duplicate keys")

      // naive classification oracle (tolerantEq on canonical strings
      // is null-safe equality)
      val wantStatus: Map[Seq[Value], String] =
        (srcByKey.keySet ++ dstByKey.keySet).map { k =>
          k -> ((srcByKey.get(k), dstByKey.get(k)) match {
            case (Some(_), None) => "MISS"
            case (None, Some(_)) => "ORPHAN"
            case (Some(s), Some(dd)) if s != dd => "DIFF"
            case _ => "OK"
          })
        }.toMap

      val checked = Checker.diff(df(srcRows), df(dstRows), d.keyCols)
        .collect()
      val gotStatus = checked.map { row =>
        d.keyCols.map(k =>
          row.getAs[String](k): Value) -> row.getAs[String](
          Checker.StatusCol)
      }.toMap
      require(gotStatus == wantStatus,
        s"checker classification mismatch for $db.$tb:\n" +
          s"  want $wantStatus\n  got  $gotStatus")
      // DIFF rows name exactly the differing columns
      checked.filter(_.getAs[String](Checker.StatusCol) == "DIFF")
        .foreach { row =>
          val k = d.keyCols.map(c => row.getAs[String](c): Value)
          val want = d.cols.filterNot(d.keyCols.contains)
            .filter(c => srcByKey(k)(c) != dstByKey(k)(c)).sorted
          val got = row.getSeq[String](
            row.fieldIndex(Checker.DiffColsCol)).sorted
          require(got == want,
            s"diff_cols mismatch for $db.$tb key $k: " +
              s"want $want got $got")
        }

      // revise: non-OK rows become change events through the REAL
      // compaction + applier planning against the seeded dst
      val qt = s"${dialect.quote(db)}.${dialect.quote(tb)}"
      MemDb.register(runId, qt, d.cols, d.keyCols)
      MemDb.preload(runId, qt, dstRows.map(r => d.cols.map(r(_))))
      val revise = wantStatus.toSeq.sortBy(_._1.mkString("|"))
        .zipWithIndex.collect {
          case ((k, "MISS"), i) => (i, "insert", Map.empty[String,
            Value], srcByKey(k))
          case ((k, "DIFF"), i) => (i, "update", dstByKey(k),
            srcByKey(k))
          case ((k, "ORPHAN"), i) => (i, "delete", dstByKey(k),
            Map.empty[String, Value])
        }
      if (revise.nonEmpty) {
        val evSchema = StructType(
          Seq(StructField("seq", LongType),
            StructField("sub", IntegerType),
            StructField("row_type", StringType)) ++
            d.cols.map(StructField(_, StringType)))
        val rows = revise.map { case (i, rt, before, after) =>
          val img = if (rt == "delete") before else after
          Row.fromSeq(Seq(i.toLong, 0, rt) ++
            d.cols.map(img.getOrElse(_, null: Value)))
        }
        val compacted = Compaction.compact(
          spark.createDataFrame(rows.asJava, evSchema), d.keyCols,
          Seq("seq", "sub"), col("row_type"))
        Applier.applyCompacted(dialect, qt, compacted, d.keyCols,
          d.cols, Seq("seq", "sub"), mkSink,
          batchSize = task.batchSize)
      }

      val revised = MemDb.snapshot(runId).getOrElse(qt, Nil)
      compareStates(s"$db.$tb (revised vs src)", srcRows, revised)
      val recheck = Checker.diff(df(srcRows), df(revised.map(full)),
        d.keyCols).collect()
      require(recheck.forall(
        _.getAs[String](Checker.StatusCol) == "OK"),
        s"re-check after revise still dirty for $db.$tb")
      s"$db.$tb" -> (srcRows, revised)
    }
    MemDb.clear(runId)
    require(perTable.nonEmpty, "check scenario matched no tables")
    Result(perTable.size,
      perTable.map(_._2._2.size.toLong).sum, perTable.toMap)
  }

  /** A live-mysql scenario: the INI's url names a server, so the run
    * goes through TaskManager → LiveCdc — dial + handshake (including
    * the `?ssl-mode=` state machine against a server whose greeting
    * does NOT advertise CLIENT_SSL), binlog dump pump, capture
    * segments, ChangelogSource micro-batches, single-pass landing,
    * LSM compaction, flat publish. `resident=true` scenarios run the
    * deployment posture with a BOUNDED drain: a watcher requests stop
    * once the landed state reaches the expected row count (the
    * task-manager stop file, the same lever an operator pulls).
    *
    * Oracle: the interpreted source's end state, rendered to the
    * landed (key, payload) contract — key = the task's id_cols values
    * `|`-joined, payload = sorted `col=value` pairs — compared per
    * routed table against the published flat parquet.
    */
  /** Live two-way (task_config_back.ini beside a live-url config):
    * A→B runs first over A's synthesized binlog and must WRITE the
    * data marker at B; then B→A runs over a binlog modeling what a
    * real B emits — B-local transactions plus the APPLIED A
    * transaction with the marker insert first (the reference sinker's
    * in-transaction marker, mysql_sinker.rs:365-389) — and the echo
    * must be dropped by origin admission: no cycle.
    */
  private def runLiveMysqlTwoWay(spark: SparkSession, dir: Path,
      iniAB: String, taskAB: TaskConfig.Task): Result = {
    val iniBA = new String(Files.readAllBytes(
      dir.resolve("task_config_back.ini")), "UTF-8")
    val taskBA = TaskConfig.fromIni(iniBA, Some(dir))
    val mAB = taskAB.dataMarker.getOrElse(sys.error(
      "live two-way scenarios need [data_marker] in task_config.ini"))
    require(taskBA.dataMarker.exists(_.marker == mAB.marker),
      "both directions share the marker table")
    val Array(markerDb, markerTb) = mAB.marker.split("\\.", 2)

    val prepStmts = parseScript(new String(
      Files.readAllBytes(dir.resolve("src_prepare.sql")), "UTF-8"))
    val aStmts = parseScript(new String(
      Files.readAllBytes(dir.resolve("src_test.sql")), "UTF-8"))
    val bStmts = parseScript(new String(
      Files.readAllBytes(dir.resolve("dst_test.sql")), "UTF-8"))

    // A's binlog: baseline + A-local txns (every event A-origin)
    val srcA = new SourceState
    srcA.applyAll(prepStmts)
    srcA.applyAll(aStmts)
    val binlogA = WireFidelity.mysqlBinlogBytes(srcA)

    // B's binlog: B-local txns, then the APPLIED A stream as ONE txn
    // whose first row is the marker insert naming node A
    val srcB = new SourceState
    srcB.applyAll(prepStmts)
    val baseline = srcB.events.size
    srcB.applyAll(bStmts)
    val bLocal = srcB.events.toSeq.drop(baseline)
    val defs = srcB.defs.toMap
    val wB = new graft.sources.MysqlBinlogWriter(serverId = 2L)
    wB.fde()
    def emitRow(d: TableDef, tableId: Long, e: Event): Unit = {
      val specs = d.typesOr.map(WireFidelity.mysqlColSpec)
      wB.tableMap(tableId, d.db, d.tb, specs.map(_._1),
        specs.map(_._2), nullable = d.cols.map(_ => true),
        colNames = d.cols, signed = specs.map(_._3))
      def arr(img: Map[String, Value]): Array[String] =
        d.cols.map(c => img.getOrElse(c, null)).toArray
      e.rowType match {
        case "insert" => wB.writeRows(tableId, Seq(arr(e.after)))
        case "update" =>
          wB.updateRows(tableId, Seq((arr(e.before), arr(e.after))))
        case "delete" => wB.deleteRows(tableId, Seq(arr(e.before)))
        case other => sys.error(s"unexpected two-way row type $other")
      }
    }
    val tableIds = defs.keys.zipWithIndex
      .map { case (k, i) => k -> (40L + i) }.toMap
    wB.begin(markerDb)
    bLocal.foreach(e => emitRow(defs((e.db, e.tb)),
      tableIds((e.db, e.tb)), e))
    wB.xid(1L)
    // the applied-A txn: marker row FIRST, then A's replayed rows
    wB.begin(markerDb)
    val markerCols = Seq(
      ("topo", "varchar(64)"), ("data_origin_node", "varchar(64)"))
    val markerSpecs = markerCols.map(c =>
      WireFidelity.mysqlColSpec(c._2))
    wB.tableMap(99L, markerDb, markerTb, markerSpecs.map(_._1),
      markerSpecs.map(_._2), nullable = Seq(false, false),
      colNames = markerCols.map(_._1),
      signed = markerSpecs.map(_._3))
    wB.writeRows(99L, Seq(Array(mAB.topoName, mAB.srcNode)))
    srcA.events.toSeq.drop(baseline)
      .foreach(e => emitRow(defs((e.db, e.tb)),
        tableIds((e.db, e.tb)), e))
    wB.xid(2L)

    def dumpWireOf(binlog: Array[Byte]): graft.transport.FakeWire =
      liveDumpWire(binlog, eof = true)

    val stateDir = Files.createTempDirectory("live-2w-state").toString
    val sinkB = Files.createTempDirectory("live-2w-sinkb").toString
    val sinkA = Files.createTempDirectory("live-2w-sinka").toString
    val name = dir.getFileName.toString
    graft.config.TaskManager.create(stateDir, s"$name-ab",
      iniAB.replace("url=fixture://dst", s"url=$sinkB"))
    val metaAB = graft.config.TaskManager.start(spark, stateDir,
      s"$name-ab",
      liveDial = Some(() => dumpWireOf(binlogA)))
    require(metaAB.status == "finished",
      s"$name A->B failed: ${metaAB.error}")
    // the lander wrote the origin marker at B (what the reverse
    // extractor attributes applied rows by)
    val markers = spark.read.parquet(s"$sinkB/${mAB.marker}")
      .select("data_origin_node").collect().map(_.getString(0)).toSet
    require(markers == Set(mAB.srcNode),
      s"$name marker at B: $markers")

    graft.config.TaskManager.create(stateDir, s"$name-ba",
      iniBA.replace("url=fixture://dst", s"url=$sinkA"))
    val metaBA = graft.config.TaskManager.start(spark, stateDir,
      s"$name-ba",
      liveDial = Some(() => dumpWireOf(wB.bytes())))
    require(metaBA.status == "finished",
      s"$name B->A failed: ${metaBA.error}")

    // end-state compare: B holds A's stream; A holds ONLY B-local
    // rows (the A-origin echo never crossed back — no cycle)
    val keyColsAB = taskAB.keysByTable.values.flatten.toSeq.distinct
    def landedKeys(dirPath: String): Set[String] =
      if (!graft.infra.Fs.exists(dirPath)) Set.empty
      else spark.read.parquet(dirPath).collect()
        .map(_.getAs[String]("key")).toSet
    val perTable = defs.keys.toSeq.map { case (db, tb) =>
      val atB = landedKeys(s"$sinkB/$db.$tb")
      val atA = landedKeys(s"$sinkA/$db.$tb")
      def keysOf(rows: Iterable[Map[String, Value]]): Set[String] =
        rows.map(r => keyColsAB.map(c =>
          Option(r.getOrElse(c, null)).getOrElse(""))
          .mkString("|")).toSet
      val wantB = keysOf(srcA.rows((db, tb)))
      val bOnly = keysOf(bLocal.filter(e => (e.db, e.tb) == (db, tb))
        .map(_.after))
      compareStates(s"$db.$tb@B",
        wantB.toSeq.map(k => Map[String, Value]("key" -> k)),
        atB.toSeq.map(k => Map[String, Value]("key" -> k)))
      compareStates(s"$db.$tb@A (echo-free)",
        bOnly.toSeq.map(k => Map[String, Value]("key" -> k)),
        atA.toSeq.map(k => Map[String, Value]("key" -> k)))
      s"$db.$tb" -> (wantB.toSeq.map(k =>
        Map[String, Value]("key" -> k)),
        atB.toSeq.map(k => Map[String, Value]("key" -> k)))
    }
    Result(perTable.size * 2,
      perTable.map(_._2._2.size.toLong).sum, perTable.toMap)
  }

  /** The scripted mysql dump session every live scenario serves. */
  private def liveDumpWire(binlog: Array[Byte],
      eof: Boolean): graft.transport.FakeWire = {
    def packet(seq: Int, payload: Array[Byte]): Array[Byte] =
      Array[Byte]((payload.length & 0xff).toByte,
        ((payload.length >> 8) & 0xff).toByte,
        ((payload.length >> 16) & 0xff).toByte, seq.toByte) ++ payload
    val scramble = Array.tabulate[Byte](20)(_.toByte)
    val greeting: Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(10)
      out.write("8.0.36-scenario".getBytes("UTF-8")); out.write(0)
      out.write(Array[Byte](7, 0, 0, 0))
      out.write(scramble.take(8)); out.write(0)
      out.write(Array[Byte](0xff.toByte, 0xf7.toByte)) // no CLIENT_SSL
      out.write(45)
      out.write(Array[Byte](2, 0))
      out.write(Array[Byte](0x08, 0x00))
      out.write(21)
      out.write(new Array[Byte](10))
      out.write(scramble.drop(8)); out.write(0)
      out.write("mysql_native_password".getBytes("UTF-8"))
      out.write(0)
      out.toByteArray
    }
    val events = {
      var p = 4
      val out = Seq.newBuilder[Array[Byte]]
      while (p < binlog.length) {
        val len = (binlog(p + 9) & 0xff) |
          ((binlog(p + 10) & 0xff) << 8) |
          ((binlog(p + 11) & 0xff) << 16) |
          ((binlog(p + 12) & 0xff) << 24)
        out += binlog.slice(p, p + len)
        p += len
      }
      out.result()
    }
    val wire = new graft.transport.FakeWire
    wire.serve(packet(0, greeting))
    wire.serve(packet(2, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
    wire.serve(packet(1, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
    wire.serve(packet(1, Array[Byte](0x00, 0, 0, 2, 0, 0, 0)))
    events.zipWithIndex.foreach { case (e, i) =>
      wire.serve(packet(i + 1, Array[Byte](0x00) ++ e))
    }
    if (eof) wire.serve(packet((events.size + 1) & 0xff,
      Array[Byte](0xfe.toByte, 0, 0, 2, 0)))
    wire
  }

  private def runLiveMysql(spark: SparkSession, dir: Path, ini: String,
      task: TaskConfig.Task, src: SourceState): Result = {
    require(task.sourceDir.startsWith("mysql://"),
      s"live scenarios cover the mysql:// lane: ${task.sourceDir}")
    if (Files.exists(dir.resolve("task_config_back.ini")))
      return runLiveMysqlTwoWay(spark, dir, ini, task)
    val binlog = WireFidelity.mysqlBinlogBytes(src)
    // the scripted server (liveDumpWire): greeting with caps WITHOUT
    // CLIENT_SSL, so ssl-mode=preferred lawfully continues in
    // plaintext and ssl-mode=disabled never asks. A resident session
    // ends in a wire drop (a live tail never EOFs); drain-once ends
    // at the EOF packet.
    val resident = task.source.resident
    val first = scala.collection.mutable.Queue[graft.transport.Wire](
      liveDumpWire(binlog, eof = !resident))
    def nextWire(): graft.transport.Wire = first.synchronized {
      if (first.nonEmpty) first.dequeue()
      else new graft.transport.FakeWire // reconnects: empty server
    }

    // expected landed state + managed run: the SAME helpers the
    // pg/redis/mongo live lanes use (expectedLanded/runManaged) — one
    // rendering of the landed contract, not per-transport copies
    val expected = expectedLanded(task, src)
    val sinkDir = Files.createTempDirectory("live-scn-sink").toString
    val wantRows = expected.values.map(_.size.toLong).sum
    runManaged(spark, dir, ini, resident, sinkDir,
      landedEnough = () => expected.keys.toSeq.map { t0 =>
        graft.sinks.LandedTable.read(spark, s"$sinkDir/$t0").count()
      }.sum >= wantRows,
      dial = () => nextWire())

    // ---- compare the published flat face per routed table
    val perTable = expected.map { case (t0, want) =>
      val got = spark.read.parquet(s"$sinkDir/$t0").collect().toSeq
        .map(r => Map[String, Value](
          "key" -> r.getAs[String]("key"),
          "payload" -> r.getAs[String]("payload")))
      compareStates(t0, want, got)
      t0 -> (want, got)
    }
    Result(perTable.size,
      perTable.values.map(_._2.size.toLong).sum, perTable)
  }

  /** Expected landed (key, payload) rows per routed table from the
    * interpreted source — the contract every live lane shares.
    */
  private def expectedLanded(task: TaskConfig.Task,
      src: SourceState): Map[String, Seq[Map[String, Value]]] = {
    val keyCols = task.keysByTable.values.flatten.toSeq.distinct
    def esc(s: String): String = s.replace("\\", "\\\\")
      .replace("\t", "\\t").replace("\n", "\\n")
    src.defs.keys.toSeq
      .filter { case (db, tb) => task.filter.allowTable(db, tb) }
      .map { case (db, tb) =>
        val (rdb, rtb) = task.router.routeTable(db, tb)
        val d = src.defs((db, tb))
        val rows = src.rows((db, tb)).toSeq.map { r =>
          Map[String, Value](
            "key" -> esc(keyCols.map(c =>
              Option(r.getOrElse(c, null)).getOrElse(""))
              .mkString("|")),
            "payload" -> d.cols.sorted.map(c =>
              s"$c=${Option(r.getOrElse(c, null)).map(esc)
                .getOrElse("")}").mkString(","))
        }
        s"$rdb.$rtb" -> rows
      }.toMap
  }

  /** Start the scenario task through the manager with a stopper that
    * requests stop once `landedEnough` holds (resident lanes) or
    * immediately relies on the drain-once end (non-resident).
    */
  private def runManaged(spark: SparkSession, dir: Path, ini: String,
      resident: Boolean, sinkDir: String,
      landedEnough: () => Boolean,
      dial: () => graft.transport.Wire,
      nodeDial: Option[String => graft.transport.Wire] = None)
      : (String, graft.config.TaskManager.TaskMeta) = {
    val stateDir = Files.createTempDirectory("live-scn-state").toString
    val name = dir.getFileName.toString
    graft.config.TaskManager.create(stateDir, name,
      ini.replace("url=fixture://dst", s"url=$sinkDir"))
    val stopper: Option[Thread] = if (!resident) None else Some {
      val t = new Thread(() => {
        val deadline = System.currentTimeMillis() + 60000
        var done = false
        while (!done && System.currentTimeMillis() < deadline) {
          Thread.sleep(250)
          if (try landedEnough() catch { case _: Exception => false })
            done = true
        }
        Files.writeString(
          Paths.get(stateDir, name, "stop.requested"), "stop"): Unit
      }, s"live-scn-stopper-$name")
      t.start(); t
    }
    val meta = graft.config.TaskManager.start(spark, stateDir, name,
      liveDial = Some(dial), liveNodeDial = nodeDial)
    stopper.foreach(_.join())
    require(meta.status == "finished",
      s"live scenario $name did not finish: ${meta.error}")
    (stateDir, meta)
  }

  /** The live PG lane over a scripted walsender session: auth, slot
    * lifecycle queries, CopyBoth, then the pgoutput frame stream the
    * SQL fixtures synthesize (WireFidelity) — resident sessions end
    * in a wire drop, drain-once in CopyDone.
    */
  private def runLivePg(spark: SparkSession, dir: Path, ini: String,
      task: TaskConfig.Task, src: SourceState): Result = {
    import graft.transport.PgWire
    def msg(tag: Char, body: Array[Byte]): Array[Byte] =
      PgWire.message(tag, body)
    def queryReply(cols: Seq[String],
        rows: Seq[Seq[String]]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      if (cols.nonEmpty) {
        val t = new java.io.ByteArrayOutputStream()
        t.write((cols.size >> 8) & 0xff); t.write(cols.size & 0xff)
        cols.foreach { c =>
          t.write(c.getBytes("UTF-8")); t.write(0)
          t.write(new Array[Byte](18))
        }
        out.write(msg('T', t.toByteArray))
      }
      rows.foreach { r =>
        val d = new java.io.ByteArrayOutputStream()
        d.write((r.size >> 8) & 0xff); d.write(r.size & 0xff)
        r.foreach { v =>
          val b = v.getBytes("UTF-8")
          d.write((b.length >> 24) & 0xff)
          d.write((b.length >> 16) & 0xff)
          d.write((b.length >> 8) & 0xff); d.write(b.length & 0xff)
          d.write(b)
        }
        out.write(msg('D', d.toByteArray))
      }
      out.write(msg('C', "SELECT".getBytes("UTF-8") :+ 0.toByte))
      out.write(msg('Z', Array[Byte]('I'.toByte)))
      out.toByteArray
    }
    val resident = task.source.resident
    val slotName = task.slot.map(_.slotName).getOrElse("graft_slot")
    def sessionWire(): graft.transport.FakeWire = {
      val w = new graft.transport.FakeWire
      w.serve(msg('R', Array[Byte](0, 0, 0, 0)))
      w.serve(msg('Z', Array[Byte]('I'.toByte)))
      w.serve(queryReply(Seq("pubname"), Seq(Seq("p"))))
      w.serve(queryReply(Seq("slot_name", "confirmed_flush_lsn"),
        Seq(Seq(slotName, "0/16000000"))))
      w.serve(queryReply(Nil, Nil)) // SET float digits
      w.serve(queryReply(Nil, Nil)) // SET time zone
      w.serve(msg('W', Array[Byte](0, 0, 0))) // CopyBoth
      w.serve(WireFidelity.pgOutputBytes(src))
      if (!resident) w.serve(msg('c', Array.emptyByteArray))
      w
    }
    // every reconnect session RE-SERVES the full stream: a real
    // walsender re-sends everything after the slot's confirmed_flush
    // (nothing is ever acked here — the fixture's confirmed LSN is
    // fixed), and the pump relies on exactly that to discard a dead
    // session's unpublished spool without loss. An empty reconnect
    // wire would model a server that silently drops WAL.
    def nextWire(): graft.transport.Wire = sessionWire()
    val expected = expectedLanded(task, src)
    val sinkDir = Files.createTempDirectory("live-scn-sink").toString
    val wantRows = expected.values.map(_.size.toLong).sum
    runManaged(spark, dir, ini, resident, sinkDir,
      landedEnough = () => expected.keys.toSeq.map { t0 =>
        graft.sinks.LandedTable.read(spark, s"$sinkDir/$t0").count()
      }.sum >= wantRows,
      dial = () => nextWire())
    val perTable = expected.map { case (t0, want) =>
      val got = spark.read.parquet(s"$sinkDir/$t0").collect().toSeq
        .map(r => Map[String, Value](
          "key" -> r.getAs[String]("key"),
          "payload" -> r.getAs[String]("payload")))
      compareStates(t0, want, got)
      t0 -> (want, got)
    }
    Result(perTable.size,
      perTable.values.map(_._2.size.toLong).sum, perTable)
  }

  /** The live Redis lane(s): the scenario dir carries
    * `redis_commands.txt` (one command per line); the harness serves
    * a PSYNC session — empty RDB + the command tail — and checks the
    * command log face AND the current-state face against an
    * INDEPENDENT mini-interpreter (SET/DEL/APPEND/INCRBY/HSET/HDEL/
    * SADD/SREM — the scenario-scoped oracle, not the production
    * fold). `is_cluster=true` serves a two-master topology and routes
    * each command to its slot-owning master, exactly as a real
    * cluster would.
    */
  private def runLiveRedis(spark: SparkSession, dir: Path,
      ini: String, task: TaskConfig.Task): Result = {
    def ascii(x: String): Array[Byte] = x.getBytes("ascii")
    def resp(args: Seq[String]): Array[Byte] =
      graft.transport.RedisReplicationPump.cmd(args: _*)
    val script = new String(Files.readAllBytes(
      dir.resolve("redis_commands.txt")), "UTF-8")
      .linesIterator.map(_.trim).filter(_.nonEmpty)
      .map(_.split("\\s+").toSeq).toSeq
    val emptyRdb: Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("REDIS0011".getBytes("ascii"))
      out.write(0xff)
      out.toByteArray
    }
    def fullWire(replId: String,
        cmds: Seq[Seq[String]]): graft.transport.FakeWire = {
      val w = new graft.transport.FakeWire
      w.serve(ascii("+PONG\r\n"))
      w.serve(ascii("+OK\r\n"))
      w.serve(ascii(s"+FULLRESYNC $replId 100\r\n"))
      w.serve(ascii(s"$$${emptyRdb.length}\r\n"))
      w.serve(emptyRdb)
      cmds.foreach(c => w.serve(resp(c)))
      w
    }
    val resident = task.source.resident
    val sinkDir = Files.createTempDirectory("live-scn-sink").toString
    val landedEnough = () =>
      spark.read.parquet(s"$sinkDir/redis.commands").count() >=
        script.size.toLong
    if (task.source.isCluster) {
      val idA = "a" * 40
      val idB = "b" * 40
      val topology =
        s"""$idA 10.0.0.1:6379@16379 master - 0 0 1 connected 0-8191
           |$idB 10.0.0.2:6379@16379 master - 0 0 2 connected 8192-16383
           |""".stripMargin
      def seedWire(): graft.transport.Wire = {
        val w = new graft.transport.FakeWire
        w.serve(ascii(s"$$${topology.getBytes("UTF-8").length}\r\n"))
        w.serve(ascii(topology))
        w.serve(ascii("\r\n"))
        w
      }
      // route each command to its key's slot owner — what the real
      // cluster's per-shard replication streams would carry
      def ownerIsA(cmd: Seq[String]): Boolean =
        cmd.size < 2 ||
          graft.sinks.RedisReshard.slotOf(cmd(1)) <= 8191
      val aCmds = script.filter(ownerIsA)
      val bCmds = script.filterNot(ownerIsA)
      val queues = Map(
        "10.0.0.1:6379" -> scala.collection.mutable.Queue(
          fullWire(idA, aCmds)),
        "10.0.0.2:6379" -> scala.collection.mutable.Queue(
          fullWire(idB, bCmds)))
      def nodeDial(addr: String): graft.transport.Wire =
        queues.synchronized {
          val q = queues(addr)
          if (q.nonEmpty) q.dequeue()
          else new graft.transport.FakeWire
        }
      runManaged(spark, dir, ini, resident, sinkDir, landedEnough,
        dial = () => seedWire(), nodeDial = Some(nodeDial))
    } else {
      val queue = scala.collection.mutable.Queue[
        graft.transport.Wire](fullWire("c" * 40, script))
      def nextWire(): graft.transport.Wire = queue.synchronized {
        if (queue.nonEmpty) queue.dequeue()
        else new graft.transport.FakeWire
      }
      runManaged(spark, dir, ini, resident, sinkDir, landedEnough,
        dial = () => nextWire())
    }
    // the command log face carries every scripted command
    val argv = spark.read.parquet(s"$sinkDir/redis.commands")
      .collect().map(_.getAs[String]("argv")).toSeq.sorted
    val wantArgv = script.map(_.mkString(" ")).sorted
    require(argv == wantArgv,
      s"command log mismatch: want $wantArgv got $argv")
    // the current-state face equals the scenario oracle — an
    // independent interpreter over the same script (keys carry their
    // db: SELECT routes subsequent commands)
    val oracle = redisOracle(script)
    val state = spark.read.parquet(s"$sinkDir/redis.state")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    require(state.keySet == oracle.keySet,
      s"state keys: want ${oracle.keySet} got ${state.keySet}")
    oracle.foreach { case (k, values) =>
      val payload = state(k)
      values.foreach(v => require(payload.contains(v),
        s"state[$k] missing $v in $payload"))
    }
    val rows = oracle.keySet.toSeq.sorted.map(k =>
      Map[String, Value]("key" -> k))
    Result(2, script.size.toLong,
      Map("redis.state" -> (rows, rows)))
  }

  /** Scenario-scoped redis oracle: full state key (`db\u0000key`) →
    * value fragments the landed payload must contain. Independent of
    * the production fold; SELECT routes subsequent commands to their
    * db exactly as the replication stream does.
    */
  private def redisOracle(
      script: Seq[Seq[String]]): Map[String, Seq[String]] = {
    var db = 0L
    def sk(k: String) = s"$db\u0000$k"
    val str = mutable.LinkedHashMap[String, String]()
    val fields = mutable.LinkedHashMap[String,
      mutable.LinkedHashMap[String, String]]()
    script.foreach { c =>
      c.head.toUpperCase match {
        case "SELECT" => db = c(1).toLong
        case "SET" => str(sk(c(1))) = c(2); fields.remove(sk(c(1))): Unit
        case "MSET" =>
          c.drop(1).grouped(2).foreach {
            case Seq(k, v) => str(sk(k)) = v; fields.remove(sk(k)): Unit
            case _ => ()
          }
        case "APPEND" =>
          str(sk(c(1))) = str.getOrElse(sk(c(1)), "") + c(2)
        case "INCRBY" =>
          str(sk(c(1))) = (str.getOrElse(sk(c(1)), "0").toLong +
            c(2).toLong).toString
        case "DEL" | "GETDEL" =>
          c.drop(1).foreach { k =>
            str.remove(sk(k)); fields.remove(sk(k)): Unit
          }
        case "HSET" | "SADD" =>
          val m = fields.getOrElseUpdate(sk(c(1)),
            mutable.LinkedHashMap[String, String]())
          if (c.head.equalsIgnoreCase("SADD"))
            c.drop(2).foreach(v => m(v) = "")
          else c.drop(2).grouped(2).foreach {
            case Seq(f, v) => m(f) = v
            case _ => ()
          }
        case "HDEL" | "SREM" =>
          fields.get(sk(c(1))).foreach { m =>
            c.drop(2).foreach(m.remove)
            if (m.isEmpty) fields.remove(sk(c(1))): Unit
          }
        case other =>
          sys.error(s"redis scenario oracle: unsupported $other")
      }
    }
    (str.map { case (k, v) => k -> Seq(v) } ++
      fields.map { case (k, m) =>
        k -> (m.keys.toSeq ++ m.values.filter(_.nonEmpty).toSeq)
      }).toMap
  }

  /** The live Mongo lane: change-stream documents synthesized from
    * the SQL fixtures (insert/update ride fullDocument, delete rides
    * documentKey only), served as one aggregate cursor batch; the
    * landed per-(db, coll) state tables must hold exactly the
    * interpreted end-state keys with their final images.
    */
  private def runLiveMongo(spark: SparkSession, dir: Path,
      ini: String, task: TaskConfig.Task, src: SourceState): Result = {
    import graft.transport.{Bson, MongoWire}
    val keyColOf: Map[String, String] =
      task.keysByTable.map { case (tb, ks) => tb -> ks.head }
    def docOf(img: Map[String, Value]): Bson.Doc =
      Bson.Doc(img.toSeq.sortBy(_._1).map { case (c, v) =>
        c -> (if (v == null) null else v.toString)
      })
    val changes = src.events.toSeq.zipWithIndex.map { case (e, i) =>
      val keyCol = keyColOf.getOrElse(e.tb, "id")
      val img = if (e.rowType == "delete") e.before else e.after
      val id = Option(img.getOrElse(keyCol, null))
        .map(_.toString).getOrElse("")
      val base = Seq(
        "_id" -> Bson.Doc(Seq("_data" -> f"tok$i%06d")),
        "operationType" -> (e.rowType match {
          case "insert" => "insert"
          case "update" => "update"
          case "delete" => "delete"
          case other => sys.error(s"mongo scenario: $other")
        }),
        "ns" -> Bson.Doc(Seq("db" -> e.db, "coll" -> e.tb)),
        "documentKey" -> Bson.Doc(Seq("_id" -> id)))
      Bson.Doc(
        if (e.rowType == "delete") base
        else base :+ ("fullDocument" -> docOf(e.after)))
    }
    def sessionWire(): graft.transport.FakeWire = {
      val w = new graft.transport.FakeWire
      w.serve(MongoWire.message(0, Seq("ok" -> 1.0))) // hello
      w.serve(MongoWire.message(0, Seq(
        "cursor" -> Bson.Doc(Seq(
          "id" -> 0L,
          "ns" -> "admin.$cmd.aggregate",
          "firstBatch" -> Bson.Arr(changes))),
        "ok" -> 1.0)))
      w
    }
    val queue = scala.collection.mutable.Queue[
      graft.transport.Wire](sessionWire())
    def nextWire(): graft.transport.Wire = queue.synchronized {
      if (queue.nonEmpty) queue.dequeue()
      else new graft.transport.FakeWire
    }
    val resident = task.source.resident
    val sinkDir = Files.createTempDirectory("live-scn-sink").toString
    runManaged(spark, dir, ini, resident, sinkDir,
      landedEnough = () =>
        spark.read.parquet(s"$sinkDir/mongo.changes").count() >=
          changes.size.toLong,
      dial = () => nextWire())
    // every change landed in the log face
    require(spark.read.parquet(s"$sinkDir/mongo.changes").count() ==
      changes.size.toLong, "mongo.changes incomplete")
    // per-table state: end-state keys exactly; payloads carry the
    // final column values
    val perTable = src.defs.keys.toSeq.map { case (db, tb) =>
      val keyCol = keyColOf.getOrElse(tb, "id")
      val want = src.rows((db, tb)).toSeq.map { r =>
        Map[String, Value](
          "key" -> Option(r.getOrElse(keyCol, null))
            .map(_.toString).getOrElse(""))
      }
      val got = spark.read.parquet(s"$sinkDir/$db.$tb")
        .selectExpr("get_json_object(key, '$._id') AS k", "payload")
        .collect().toSeq
      val gotKeys = got.map(r =>
        Map[String, Value]("key" -> r.getString(0)))
      compareStates(s"$db.$tb@state", want, gotKeys)
      // final images: each row's non-null values appear in payload
      val byKey = got.map(r => r.getString(0) -> r.getString(1)).toMap
      src.rows((db, tb)).foreach { r =>
        val id = Option(r.getOrElse(keyCol, null))
          .map(_.toString).getOrElse("")
        r.foreach { case (_, v) =>
          if (v != null)
            require(byKey(id).contains(v.toString),
              s"$db.$tb[$id] payload missing $v: ${byKey(id)}")
        }
      }
      s"$db.$tb" -> (want, gotKeys)
    }
    Result(perTable.size,
      perTable.map(_._2._2.size.toLong).sum, perTable.toMap)
  }

  private[scenario] def compareStates(label: String,
      want: Seq[Map[String, Value]], got: Seq[Map[String, Value]])
      : Unit = {
    val w = canon(want)
    val g = canon(got)
    if (w != g) {
      val missing = w.diff(g).take(3)
      val extra = g.diff(w).take(3)
      sys.error(s"scenario state mismatch for $label: " +
        s"want ${w.size} rows, got ${g.size}; " +
        s"missing=${missing.mkString("; ")} " +
        s"extra=${extra.mkString("; ")}")
    }
  }

  /** Scenario corpus root (repo-relative; sbt runs tests from the
    * project base directory).
    */
  def corpusRoot: Path = {
    val p = Paths.get("src/test/resources/scenarios")
    require(Files.isDirectory(p), s"scenario corpus missing at $p")
    p
  }

  def scenarios(): Seq[Path] =
    Files.list(corpusRoot).iterator().asScala.toSeq
      // a dir is a scenario iff it carries the INI — stray build
      // artifacts (an sbt launched from the wrong cwd drops target/)
      // must not enumerate as fixtures
      .filter(d => Files.isDirectory(d) &&
        Files.exists(d.resolve("task_config.ini")))
      .sortBy(_.getFileName.toString)
}
