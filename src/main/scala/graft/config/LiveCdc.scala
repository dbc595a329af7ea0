package graft.config

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.infra.Monitoring
import graft.transport.{FsSegmentStore, LiveDial, MysqlReplicationPump,
  PumpPositions, Wire}

/** The live CDC task lanes (mysql://, postgres://, redis://,
  * mongodb://) — what runs when `[extractor] url` names a real server
  * instead of a fixture: dial, pump the replication stream into
  * capture segments under the task dir, land them through the
  * EXISTING decode → compaction machinery (ChangelogSource for
  * mysql/pg, the [[LiveLanders]] for redis/mongo), and leave
  * per-table compacted end states under the sink. The same
  * produce→consume topology the reference runs in one process
  * (extractor → pipeline → sinker), here split at the segment seam so
  * the pump is a single lightweight thread and everything after it is
  * distributed Spark.
  *
  * `dialOverride` is the test seam: a FakeWire-scripted server drives
  * the WHOLE lane — pump, publish, micro-batch stream, compaction,
  * sink — in-process (LiveCdcSpec); production leaves it None and
  * dials a [[graft.transport.SocketWire]].
  */
object LiveCdc {

  final case class Report(segments: Int, events: Long,
      tables: Seq[(String, Long)], position: (String, Long, String))

  def isLiveUrl(url: String): Boolean =
    url.startsWith("mysql://") || url.startsWith("postgres://") ||
      url.startsWith("postgresql://") || url.startsWith("pg://") ||
      url.startsWith("redis://") ||
      url.startsWith("rediss://") || url.startsWith("mongodb://") ||
      url.startsWith("mongodb+srv://")

  /** The one entry point of every live lane. Each source kind (mysql,
    * pg, redis, mongo) has one body: its pump runs on a [[LanePump]]
    * thread and its landing goes through the shared landing loop.
    * `stop` selects the pump mode:
    *
    *  - `None` is a DRAIN (the task-manager unit): one pump session
    *    under [[drainSession]]'s rule, the tail published and its
    *    position persisted, then everything captured lands in one
    *    pass. The landing starts only after the pump ended: landing
    *    while pumping split each drain into several micro-batches and
    *    paid the per-batch cost several times over.
    *  - `Some(flag)` is RESIDENT (`[extractor] resident=true`): the
    *    pump runs supervised (`pump.run(until = flag)`) while the
    *    landing loop consumes whatever publishes on the `triggerMs`
    *    cadence; the flag (the task manager's stop flag) winds both
    *    down. Returns once both halves have wound down and the landed
    *    tables are finalized.
    *
    * `onProgress` is the liveness-beacon hook: TaskManager passes its
    * `touchAlive` so a long-running live lane never looks like a
    * crashed runner to a concurrent `watch` pass (which would demote
    * it and start a SECOND pump on the same capture dir/checkpoint).
    */
  def run(spark: SparkSession, task: TaskConfig.Task,
      taskDir: String, dialOverride: Option[() => Wire] = None,
      onProgress: () => Unit = () => (),
      dialNodeOverride: Option[String => Wire] = None,
      monitor: Monitoring.Monitor = Monitoring.landedFace(),
      stop: Option[() => Boolean] = None,
      triggerMs: Long = 500L): Report = {
    val lane = new Lane(spark, task, taskDir, stop, triggerMs, onProgress)
    val url = task.sourceDir
    if (url.startsWith("mysql://")) mysql(lane, dialOverride)
    else if (url.startsWith("redis://") || url.startsWith("rediss://")) {
      if (task.source.isCluster)
        redisCluster(lane, dialOverride, dialNodeOverride, monitor)
      else redis(lane, dialOverride, monitor)
    } else if (url.startsWith("mongodb://") ||
        url.startsWith("mongodb+srv://"))
      mongo(lane, dialOverride)
    else pg(lane, dialOverride)
  }

  /** A mysql drain: [[run]] with no stop flag, for callers that pin
    * the mysql lane.
    */
  def runMysql(spark: SparkSession, task: TaskConfig.Task,
      taskDir: String, dialOverride: Option[() => Wire] = None): Report =
    mysql(new Lane(spark, task, taskDir), dialOverride)

  /** Wire-drop tolerance for a drain-once session: a live tail never
    * ends on its own, so a read timeout / peer close mid-stream is the
    * NORMAL end of a drain — land what was captured and let the next
    * start resume from the persisted position. A failure before ANY
    * progress (bad credentials, refused dial) still throws: silently
    * "finishing" an unauthenticated task would hide a config error
    * from the supervisor forever.
    */
  private def drainSession(pump: graft.transport.PumpSupervision,
      progress: () => Long): Long =
    try pump.runSession() catch {
      case _: java.io.IOException if progress() > 0 => progress()
    }

  /** Liveness beacon from INSIDE a pump session: the session is the
    * unbounded phase of a drain (a healthy server streams until ITS
    * idea of done), so beaconing only between phases would let a
    * `watch` pass demote the runner mid-pump and dial a second pump
    * onto the same capture dir. Rate-limited so the beacon write never
    * shows up in the capture hot path.
    */
  private final class BeaconStore(
      inner: graft.transport.SegmentStore, onProgress: () => Unit,
      everyMs: Long = 5000L) extends graft.transport.SegmentStore {
    private var lastMs = 0L
    private def tick(): Unit = {
      val now = System.currentTimeMillis()
      if (now - lastMs >= everyMs) { lastMs = now; onProgress() }
    }
    override def append(name: String, bytes: Array[Byte]): Unit = {
      inner.append(name, bytes); tick()
    }
    override def publish(name: String): Unit = {
      inner.publish(name); tick()
    }
    override def publishAll(): Unit = inner.publishAll()
    override def discard(name: String): Unit = inner.discard(name)
    override def names: Seq[String] = inner.names
    override def bytesOf(name: String): Array[Byte] =
      inner.bytesOf(name)
  }

  /** What every lane body shares: the task and its dirs, the pump
    * mode (`stop`, see [[run]]), the trigger cadence and the beacon.
    */
  private final class Lane(val spark: SparkSession,
      val task: TaskConfig.Task, val taskDir: String,
      val stop: Option[() => Boolean] = None, val triggerMs: Long = 500L,
      val onProgress: () => Unit = () => ()) {
    val captureDir = s"$taskDir/capture"

    def beacon(store: graft.transport.SegmentStore)
        : graft.transport.SegmentStore = new BeaconStore(store, onProgress)

    /** A single-server pump on its own thread in this lane's mode. A
      * drain publishes its tail only after a session that ended by the
      * drain rule; a failed drain publishes nothing (its position is
      * never persisted, so the next start re-pumps that range). A
      * resident pump publishes its tail however it ended.
      */
    def pumpThread(p: graft.transport.PumpSupervision,
        store: FsSegmentStore,
        progress: () => Long, afterPublish: () => Unit,
        name: String): LanePump = {
      val publish = () => { store.publishAll(); afterPublish() }
      stop match {
        case None => new LanePump(name,
          () => { drainSession(p, progress); publish() }, () => ())
        case Some(flag) => new LanePump(name,
          () => p.run(until = flag), publish)
      }
    }

    /** The landing loop's stop flag. A drain waits here for its pump,
      * rethrows the pump's error before any landing starts, and
      * persists the published position BEFORE it lands: a landing
      * failure then never re-pumps what was already captured. A drain's
      * landing loop never loops — its pump has ended, so it lands
      * everything in one pass.
      */
    def landingStop(rp: LanePump, persist: () => Unit): () => Boolean =
      stop.getOrElse {
        rp.await()
        persist()
        onProgress()
        () => true
      }
  }

  /** A lane's pump half on its own daemon thread: `body` pumps (one
    * drain session, or a supervised residency), `tail` publishes what
    * it captured, on a failure too, and the error surfaces on
    * [[rethrow]].
    */
  private final class LanePump(name: String, body: () => Unit,
      tail: () => Unit) {
    private val error =
      new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    private val thread = new Thread(() => {
      try {
        body()
        tail()
      } catch {
        case t: Throwable =>
          // error FIRST: the landing loop keys on it, and the tail
          // publish below can itself throw (a full disk fails the pump
          // AND the publish) — publishing first lost the pump's death
          // and the loop spun forever looking healthy
          error.set(t)
          try tail() catch { case p: Throwable => t.addSuppressed(p) }
      }
    }, name)
    thread.setDaemon(true)
    thread.start()

    def running: Boolean = error.get() == null && thread.isAlive

    /** Wait for wind-down: the pump observes stop() between packets —
      * a blocked read clears at the socket timeout, so wait past it
      * (leaving early would strand the final publishAll unread).
      */
    def join(graceMs: Long): Unit = {
      val deadline = System.currentTimeMillis() + graceMs
      while (thread.isAlive && System.currentTimeMillis() < deadline)
        thread.join(500)
    }

    /** A drain's wait: the whole session and its tail, then its error. */
    def await(): Unit = { thread.join(); rethrow() }

    def rethrow(): Unit = Option(error.get()).foreach(t => throw t)
  }

  private def mysql(lane: Lane, dialOverride: Option[() => Wire])
      : Report = {
    import lane._
    val store = new FsSegmentStore(captureDir)
    val pump = new MysqlReplicationPump(
      mysqlResumeConfig(task, taskDir), beacon(store),
      dialOverride.getOrElse(LiveDial.dialer(task.sourceDir,
        readTimeoutMs = task.source.binlogTimeoutSecs * 1000)))
    val rp = pumpThread(pump, store, () => pump.eventsAppended,
      () => pump.markAllPublished(), "graft-mysql-pump")
    val persist = () => persistMysql(taskDir, pump.publishedPosition)
    landStream(lane, "binlog", rp, persist)
    finalizedReport(spark, task, store.publishedCount,
      pump.eventsAppended, pump.position)
  }

  /** The pump config for this start: the persisted position (what the
    * PREVIOUS run actually published) wins over the task.ini start —
    * a supervised restart must resume, not re-dump from the beginning.
    */
  private[config] def mysqlResumeConfig(task: TaskConfig.Task,
      taskDir: String): MysqlReplicationPump.Config = {
    val base = LiveDial.mysqlConfig(task.sourceDir, task.source)
    val p = PumpPositions.read(taskDir)
    base.copy(
      binlogFilename = p.getOrElse("file", base.binlogFilename),
      // toLongOption: a TORN position write must read as absent (the
      // documented self-healing contract) — a bare .toLong turned it
      // into a supervised crash-loop that only hand-deleting the
      // file could break
      binlogPosition = p.get("pos").flatMap(_.toLongOption)
        .getOrElse(base.binlogPosition),
      gtidSet = p.getOrElse("gtids", base.gtidSet))
  }

  /** Persist a DURABLE position only: `pump.publishedPosition`,
    * never the live position ahead of an unpublished spool.
    */
  private def persistMysql(taskDir: String,
      position: (String, Long, String)): Unit = {
    val (file, pos, gtids) = position
    PumpPositions.write(taskDir, Map(
      "file" -> file, "pos" -> pos.toString, "gtids" -> gtids))
  }

  /** The PG lane: slot lifecycle + COPY-both through the PG pump,
    * capture in the bare-frame pgoutput segment format, same
    * downstream machinery with `format=pgoutput`.
    */
  private def pg(lane: Lane, dialOverride: Option[() => Wire]): Report = {
    import lane._
    val store = new FsSegmentStore(captureDir)
    val slot = task.slot.getOrElse(
      graft.sources.PgSlotLifecycle.SlotConfig("graft_slot"))
    val pump = new graft.transport.PgReplicationPump(
      LiveDial.pgConfig(task.sourceDir, slot)
        .copy(maxSegmentSecs = task.source.maxSegmentSecs),
      beacon(store),
      // the SAME timeout knob the wind-down grace is sized from
      // (landStream waits binlogTimeoutSecs×2 + 5s for the pump to
      // clear a blocked read): leaving the dialer at its 60 s default
      // while the grace followed the knob meant any
      // binlog_timeout_secs < 30 truncated the PG wind-down — the
      // final spool published after join() and was never consumed
      dialOverride.getOrElse(LiveDial.dialer(task.sourceDir,
        readTimeoutMs = task.source.binlogTimeoutSecs * 1000)))
    val rp = pumpThread(pump, store, () => pump.framesAppended,
      () => (), "graft-pg-pump")
    // nothing to persist: PG's durable resume position is the
    // server-side slot, advanced only past published segments by the
    // ack protocol and re-read by the pump per connect
    landStream(lane, "pgoutput", rp, persist = () => ())
    finalizedReport(spark, task, store.publishedCount,
      pump.framesAppended, ("", 0L, pump.position))
  }

  /** The Redis lane: PSYNC sessions into capture segments, then the
    * EXISTING decode (RDB snapshot + command tail) lands two tables
    * under the sink — `redis.snapshot` (the RDB entries) and
    * `redis.commands` (the decoded tail with replication offsets) —
    * the same landing shapes the snapshot_file/check tasks use — and
    * folds the state ops into `redis.state`.
    */
  private def redis(lane: Lane, dialOverride: Option[() => Wire],
      monitor: Monitoring.Monitor): Report = {
    import lane._
    val store = new FsSegmentStore(captureDir)
    val ep = LiveDial.parseUrl(task.sourceDir)
    val persisted = PumpPositions.read(taskDir)
    val pump = new graft.transport.RedisReplicationPump(
      graft.transport.RedisReplicationPump.Config(
        user = ep.user, password = ep.password,
        // partial resync (+CONTINUE) across restarts instead of a
        // full RDB resync per start
        replId = persisted.getOrElse("repl_id", ""),
        replOffset = persisted.get("repl_offset").flatMap(_.toLongOption)
          .getOrElse(0L),
        // the SELECT context at the resume offset: a +CONTINUE
        // resumes mid-stream and the master never re-sends SELECT
        startDb = persisted.get("select_db").flatMap(_.toLongOption)
          .getOrElse(0L),
        maxSegmentSecs = task.source.maxSegmentSecs),
      beacon(store),
      dialOverride.getOrElse(LiveDial.dialer(task.sourceDir)))
    val rp = pumpThread(pump, store, () => pump.bytesCaptured,
      () => pump.markAllPublished(), "graft-redis-pump")
    val persist = () => PumpPositions.write(taskDir, Map(
      "repl_id" -> pump.publishedPosition._1,
      "repl_offset" -> pump.publishedPosition._2.toString,
      "select_db" -> pump.publishedDb.toString))
    val lander = new LiveLanders.RedisLander(spark, task, taskDir,
      captureDir, onProgress, monitor)
    landLoop(lane, rp, persist, () => store.publishedNames, lander)
    redisReport(lander, pump.bytesCaptured,
      (pump.position._1, pump.position._2, ""))
  }

  /** Per-node cluster resume state in the pump.position file:
    * `repl_id.<nodeId>` / `repl_offset.<nodeId>` pairs — the
    * reference's per-shard Position::Redis recovery match
    * (redis_cluster_psync_extractor.rs matched_recovery_positions).
    */
  private def readNodePositions(
      taskDir: String): Map[String, (String, Long)] = {
    val p = PumpPositions.read(taskDir)
    p.keys.collect { case k if k.startsWith("repl_id.") =>
      k.drop("repl_id.".length)
    }.map { id =>
      id -> (p(s"repl_id.$id"),
        p.get(s"repl_offset.$id").flatMap(_.toLongOption)
          .getOrElse(0L))
    }.toMap
  }

  private def writeNodePositions(taskDir: String,
      positions: Map[String, (String, Long)]): Unit =
    PumpPositions.write(taskDir, positions.flatMap {
      case (id, (replId, off)) => Seq(
        s"repl_id.$id" -> replId, s"repl_offset.$id" -> off.toString)
    })

  /** The Redis CLUSTER lane (`[extractor] is_cluster=true`): discover
    * masters over the seed url and pump each into node-prefixed
    * segments, landed by the same redis landing loop. A drain runs
    * [[graft.transport.RedisClusterPump.drainAll]] (one session per
    * master, serially); a residency runs the per-master supervised
    * fan-out ([[graft.transport.RedisClusterPump.runResident]]), each
    * pump thread with its OWN store instance via `newStore` (no
    * cross-thread store-internal state).
    */
  private def redisCluster(lane: Lane, dialOverride: Option[() => Wire],
      dialNodeOverride: Option[String => Wire],
      monitor: Monitoring.Monitor): Report = {
    import lane._
    // listing-only view of the shared capture dir (and the drain's
    // store)
    val listStore = new FsSegmentStore(captureDir)
    val ep = LiveDial.parseUrl(task.sourceDir)
    val positions =
      scala.collection.concurrent.TrieMap[String, (String, Long)](
        readNodePositions(taskDir).toSeq: _*)
    val cluster = new graft.transport.RedisClusterPump(
      graft.transport.RedisClusterPump.Config(
        user = ep.user, password = ep.password,
        resume = positions.toMap,
        maxSegmentSecs = task.source.maxSegmentSecs),
      beacon(listStore),
      dialOverride.getOrElse(LiveDial.dialer(task.sourceDir)),
      dialNodeOverride.getOrElse(addr =>
        LiveDial.nodeDialer(task.sourceDir, addr)()))
    val persist = () => writeNodePositions(taskDir, positions.toMap)
    val rp = stop match {
      // persist PER NODE as each shard's drain publishes: one
      // unreachable master late in the walk must not discard the
      // already-drained shards' advanced offsets (a stale re-PSYNC
      // would re-capture their command ranges into new segment names
      // and double-apply non-idempotent ops in the state fold)
      case None => new LanePump("graft-redis-cluster-drain",
        () => cluster.drainAll(onNode = (n, p) => {
          positions(n.id) = p
          persist()
        }): Unit, () => ())
      case Some(flag) => new LanePump("graft-redis-cluster-supervisor",
        () => cluster.runResident(flag, positions,
          newStore = () => beacon(new FsSegmentStore(captureDir)),
          pollMs = triggerMs), () => ())
    }
    val lander = new LiveLanders.RedisLander(spark, task, taskDir,
      captureDir, onProgress, monitor)
    landLoop(lane, rp, persist, () => listStore.publishedNames, lander)
    redisReport(lander, lander.snapshotRows + lander.commandRows,
      ("cluster", positions.size.toLong, ""))
  }

  private def redisReport(lander: LiveLanders.RedisLander, events: Long,
      position: (String, Long, String)): Report =
    Report(lander.landedSegments.toInt, events,
      Seq("redis.snapshot" -> lander.snapshotRows,
        "redis.commands" -> lander.commandRows,
        "redis.state" -> lander.stateCount(),
        "redis.state.tombstoned" -> lander.tombstonedKeys),
      position)

  /** `capture_retention` sweep for the mysql/pg lanes — delete
    * capture segments ≤ the streaming checkpoint's committed offset
    * (ChangelogSource plans strictly-newer names, documented
    * purge-tolerant). Keeps the newest segment per prefix so restart
    * numbering stays monotone ([[graft.transport.CaptureRetention]]).
    */
  private def sweepCapture(task: TaskConfig.Task, taskDir: String,
      captureDir: String): Unit =
    if (task.source.captureRetention)
      graft.transport.CaptureRetention
        .committedSegment(s"$taskDir/checkpoint")
        .foreach { upto =>
          graft.transport.CaptureRetention
            .sweepUpto(captureDir, upto): Unit
        }

  /** `capture_retention` sweep for the redis/mongo lanes — delete
    * segments the ledger marked consumed (landed idempotently), then
    * their on-disk markers (a crash between the two leaves a marker
    * no listing returns — harmless; the next sweep retries). The
    * consumed set comes from the IN-MEMORY ledger: no per-trigger
    * re-listing of the marker dir.
    */
  private def sweepConsumedCapture(task: TaskConfig.Task,
      captureDir: String,
      ledger: graft.infra.ConsumedLedger): Unit =
    if (task.source.captureRetention) {
      val gone = graft.transport.CaptureRetention
        .sweepConsumed(captureDir, ledger.all)
      gone.foreach(ledger.sweepMarker)
    }

  /** The Mongo lane: change-stream sessions into JSON-line segments,
    * landed as a `mongo.changes` table via spark.read.json — the doc
    * shape the MongoOps change-event machinery consumes.
    */
  private def mongo(lane: Lane, dialOverride: Option[() => Wire])
      : Report = {
    import lane._
    val store = new FsSegmentStore(captureDir)
    val ep = LiveDial.parseUrl(task.sourceDir)
    val persisted = PumpPositions.read(taskDir)
    val pump = new graft.transport.MongoChangeStreamPump(
      graft.transport.MongoChangeStreamPump.Config(
        user = ep.user, password = ep.password,
        // restarts re-watch with resumeAfter at the persisted token
        resumeAfterData = persisted.get("resume_token"),
        maxSegmentSecs = task.source.maxSegmentSecs),
      beacon(store),
      dialOverride.getOrElse(LiveDial.dialer(task.sourceDir)))
    val rp = pumpThread(pump, store, () => pump.docsCaptured,
      () => pump.markAllPublished(), "graft-mongo-pump")
    val persist = () => pump.publishedToken.foreach(tok =>
      PumpPositions.write(taskDir, Map("resume_token" -> tok)))
    val lander = new LiveLanders.MongoLander(spark, task, taskDir,
      captureDir, onProgress)
    landLoop(lane, rp, persist, () => store.publishedNames, lander)
    Report(lander.landedSegments.toInt, pump.docsCaptured,
      lander.landedCounts(), (pump.position.getOrElse(""), 0L, ""))
  }

  /** How many micro-batches of deltas accumulate before a table's
    * base is re-merged. Steady-state trigger cost is O(batch); merge
    * cost O(state) amortizes over the cadence (raise it for bigger
    * deployments — correctness never depends on it, only read fan-in).
    */
  private[config] val CompactEvery = 8

  /** The micro-batch writer both modes share. One plan per batch:
    * filter (event kinds, table patterns) and route IN-PLAN — the
    * routed `db.tb` destination comes from Catalyst map lookups, with
    * no driver-side table list — then compact WITHIN the batch on the
    * routed (destination, key), so two source tables mapped to one
    * destination resolve their colliding keys by `seq` right here,
    * and ONE write partitioned by destination into a staging dir.
    * Each destination's partition dir is then RENAMED into its
    * table's delta slot ([[graft.sinks.LandedTable]]), destinations
    * listed from the staging dir (metadata, not a collect). Every
    * delta therefore holds at most one row per non-null key — the
    * invariant that lets `LandedTable.compactAll` merge a single
    * outstanding delta without compacting it again. Deletes ride as
    * tombstone rows until a merge folds them away; merges commit by
    * dir rename, so a crash at any point leaves the previous
    * committed state readable. Per-trigger work is O(batch).
    *
    * `touched` accumulates destinations adopted since the LAST
    * cadence merge (shared across batches by the caller): merging
    * only the tables in the cadence batch itself left a table quiet
    * on every 8th batch with all its rows in underscore-hidden delta
    * dirs — an EMPTY flat face for the whole residency.
    */
  private[config] def landBatch(task: TaskConfig.Task, outDir: String,
      touched: scala.collection.mutable.Set[String])(
      batch0: DataFrame, batchId: Long): Unit = {
    val spark = batch0.sparkSession
    // [data_marker] admission (do_nodes/ignore_nodes over the decoded
    // origin, data_marker.rs:118-121) — drops peer-origin echoes so a
    // two-way topology never cycles; then the marker WRITE side: one
    // in-batch marker row naming this direction's origin, the live
    // analogue of the reference sinker's in-transaction marker insert
    // (mysql_sinker.rs:365-389), so the REVERSE direction can
    // attribute what this lander applied
    val batch = task.dataMarker match {
      case Some(dm) => batch0.filter(graft.operators.DataMarker
        .admits(col("origin"), dm.doNodes, dm.ignoreNodes))
      case None => batch0
    }
    task.dataMarker.filter(_.marker.contains(".")).foreach { dm =>
      val Array(mdb, mtb) = dm.marker.split("\\.", 2)
      val markerDir = s"$outDir/$mdb.$mtb"
      // the marker row is CONSTANT per direction (topo/src/dst/origin)
      // — write it once and leave it: per-batch writes either leak a
      // dir per 500 ms trigger or, overwritten in place, open a
      // delete-then-commit window where a concurrent reader sees no
      // marker at all
      if (!graft.infra.Fs.exists(markerDir)) {
        import spark.implicits._
        Seq((dm.topoName, dm.srcNode, dm.dstNode, dm.srcNode))
          .toDF("topo", "src_node", "dst_node", "data_origin_node")
          .coalesce(1).write.mode(SaveMode.Overwrite)
          .parquet(markerDir)
      }
    }
    import graft.operators.Compaction
    val admitted = batch
      .filter(col("row_type").isin(task.filter.doEvents.toSeq: _*))
      .filter(task.filter.tableAllowed(col("schema"), col("tb")))
      .select(task.router.routedName(col("schema"), col("tb"))
          .as("dest"),
        col("seq"), col("row_type"), col("key"), col("payload"))
    val delta = Compaction.compact(admitted, Seq("dest", "key"),
        Seq("seq"), col("row_type"))
      .select(col("dest"), lit(batchId).as("bseq"), col("seq"),
        when(col(Compaction.ActionCol) === Compaction.Delete,
          lit("delete")).otherwise(lit("insert")).as("row_type"),
        col("key"), col("payload"))
    val staging = s"$outDir/_landing-$batchId"
    delta.write.mode(SaveMode.Overwrite)
      .partitionBy("dest").parquet(staging)
    val adopted = graft.infra.Fs.listNames(staging)
      .filter(_.startsWith("dest=")).map { d =>
        val out = s"$outDir/" + org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(d.drop(5))
        graft.sinks.LandedTable.adoptDelta(s"$staging/$d", out, batchId)
        out
      }
    graft.infra.Fs.delete(staging)
    touched ++= adopted
    // merge every table touched SINCE the last cadence, not just this
    // batch's, and refresh their plain-parquet faces on the same
    // cadence (a byte copy of the just-committed base — no Spark job),
    // so external flat readers of a RESIDENT lane see state at most
    // CompactEvery triggers old instead of only the finalize snapshot
    if (batchId % CompactEvery == (CompactEvery - 1)) {
      graft.sinks.LandedTable
        .compactAll(spark, touched.toSeq.sorted, batchId)
        .foreach(graft.sinks.LandedTable.publishFlat(spark, _))
      touched.clear()
    }
  }

  private def changeStream(spark: SparkSession, task: TaskConfig.Task,
      captureDir: String, format: String) =
    spark.readStream
      .format("graft.sources.ChangelogSource")
      .option("path", captureDir)
      .option("format", format)
      .option("key_cols",
        task.keysByTable.values.flatten.toSeq.distinct.mkString(","))
      // [data_marker]: decode-side origin tracking (marker rows set
      // the in-flight txn origin; origin resets to src_node per txn)
      .option("marker_table",
        task.dataMarker.map(_.marker).getOrElse(""))
      .option("local_node",
        task.dataMarker.map(_.srcNode).getOrElse(""))
      .load()

  /** The mysql/pg landing loop: a ProcessingTime stream over the
    * capture dir; `persist` runs on the trigger cadence with a DURABLE
    * position only. A drain starts the stream once its pump has ended,
    * so the stream lands everything published in one pass and stops.
    */
  private def landStream(lane: Lane, format: String, rp: LanePump,
      persist: () => Unit): Unit = {
    import lane._
    val landing = landingStop(rp, persist)
    // seed from disk: tables whose deltas landed before a restart
    // must still merge on the next cadence, not wait for finalize
    val touched = scala.collection.mutable.Set[String](
      graft.infra.Fs.listNames(task.sinkDir)
        .filter(t => t.contains(".") &&
          graft.infra.Fs.isDirectory(s"${task.sinkDir}/$t") &&
          graft.sinks.LandedTable
            .deltaIds(s"${task.sinkDir}/$t").nonEmpty)
        .map(t => s"${task.sinkDir}/$t").toSeq: _*)
    val q = changeStream(spark, task, captureDir, format)
      .writeStream
      .option("checkpointLocation", s"$taskDir/checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landBatch(task, task.sinkDir, touched)(batch, batchId)
        onProgress()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(triggerMs))
      .start()
    try {
      while (!landing() && rp.running) {
        Thread.sleep(triggerMs)
        // resident beacon + durable resume position, refreshed on the
        // trigger cadence: a `watch` pass must never demote a healthy
        // resident runner, and a crash resumes from what was captured
        onProgress()
        persist()
        sweepCapture(task, taskDir, captureDir)
      }
      rp.join(task.source.binlogTimeoutSecs * 2000L + 5000L)
      // land what the pump published before stopping the stream
      q.processAllAvailable()
      // wind-down: everything is published, full position durable
      persist()
      sweepCapture(task, taskDir, captureDir)
    } finally q.stop()
    rp.rethrow()
  }

  private def finalizedReport(spark: SparkSession,
      task: TaskConfig.Task, segments: Int, events: Long,
      position: (String, Long, String)): Report = {
    val tables = graft.sinks.LandedTable
      .finalizeAll(spark, task.sinkDir)
    val landed = tables.map { t =>
      t -> graft.infra.Footers.rowCount(s"${task.sinkDir}/$t")
    }
    Report(segments, events, landed, position)
  }

  /** The redis/mongo landing loop: consume PUBLISHED segments on the
    * trigger cadence while the pump runs (an open spool is still being
    * appended — landing it would drop its tail), then wind down: land
    * the tail, persist the position, sweep consumed capture, rethrow
    * the pump's death. A drain starts once its pump has ended, so it
    * lands everything in the one `finish`.
    */
  private def landLoop(lane: Lane, rp: LanePump, persist: () => Unit,
      publishedNames: () => Seq[String],
      lander: LiveLanders.Lander): Unit = {
    import lane._
    val landing = landingStop(rp, persist)
    val sweep = () => sweepConsumedCapture(task, captureDir, lander.ledger)
    while (!landing() && rp.running) {
      Thread.sleep(triggerMs)
      onProgress()
      lander.pass(publishedNames())
      persist()
      sweep()
    }
    // past the cluster fan-out's own 65 s per-pump wind-down join
    rp.join(70000L)
    lander.finish(publishedNames()) // the wound-down tail
    persist()
    sweep()
    rp.rethrow()
  }
}
