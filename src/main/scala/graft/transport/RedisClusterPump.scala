package graft.transport

import graft.sources.RedisClusterPsync

/** The Redis CLUSTER dial: discover the master topology over a seed
  * node (`CLUSTER NODES`), then run one [[RedisReplicationPump]] per
  * master into node-prefixed capture segments — the reference's
  * RedisClusterPsyncExtractor shape
  * (redis_cluster_psync_extractor.rs:49-91: get_cluster_master_nodes,
  * one psync task per master). Slot attribution and cross-shard
  * composition stay in the EXISTING
  * [[graft.sources.RedisClusterPsync]] decode layer; this class only
  * adds the live topology discovery and the per-master pump fan-out.
  *
  * Segments land as `<nodeId>.psync.NNNNNN.log` (the FULL 40-hex run
  * id — a truncated prefix could collide across shards and silently
  * interleave numbering), so one capture dir holds every shard's
  * stream with unambiguous per-node resume (each pump keeps the
  * monotone numbering discipline inside its own prefix namespace).
  */
final class RedisClusterPump(cfg: RedisClusterPump.Config,
    store: SegmentStore, dialSeed: () => Wire,
    dialNode: String => Wire) {
  import RedisReplicationPump.cmd

  /** Connected masters and their owned slot ranges, via the seed. */
  def discoverMasters(): Seq[RedisClusterPsync.Node] = {
    val wire = dialSeed()
    try {
      if (cfg.password.nonEmpty) {
        wire.write(
          if (cfg.user.nonEmpty) cmd("AUTH", cfg.user, cfg.password)
          else cmd("AUTH", cfg.password))
        expectOk(wire)
      }
      wire.write(cmd("CLUSTER", "NODES"))
      RedisClusterPsync.parseClusterNodes(readBulk(wire))
    } finally wire.close()
  }

  /** One drain pass: for every master, one PSYNC session into its
    * prefixed segment namespace (wire drop after progress = normal
    * drain end, same as the single-node lane). Returns each node with
    * its post-drain resume position. Masters drain sequentially —
    * a resident deployment runs one supervised pump thread per master
    * instead; the capture/compose layout is identical.
    */
  /** `onNode` fires after EACH master's drain publishes, with that
    * node's advanced position — callers persist incrementally so one
    * unreachable master late in the walk cannot discard the already-
    * drained shards' resume offsets (re-PSYNCing those from stale
    * offsets would re-capture their command ranges into new segment
    * names, and the non-idempotent state-fold ops would apply twice).
    */
  def drainAll(until: () => Boolean = () => false,
      onNode: (RedisClusterPsync.Node, (String, Long)) => Unit =
        (_, _) => ())
      : Seq[(RedisClusterPsync.Node, (String, Long))] = {
    val masters = discoverMasters()
    require(masters.nonEmpty, "cluster discovery returned no masters")
    masters.map { node =>
      // full node id as the namespace: a truncated prefix collision
      // (two run IDs sharing a head) would interleave numbering and
      // overwrite publishes across shards — silently
      val prefix = node.id
      val resume = cfg.resume.getOrElse(node.id, ("", 0L))
      val pump = new RedisReplicationPump(
        RedisReplicationPump.Config(
          user = cfg.user, password = cfg.password,
          replId = resume._1, replOffset = resume._2,
          replPort = cfg.replPort,
          keepaliveIntervalSecs = cfg.keepaliveIntervalSecs),
        new PrefixedSegmentStore(store, prefix),
        () => dialNode(node.address))
      // drop-after-progress is the normal end of a live drain; a
      // connection that dies with ZERO progress (EOF included) is a
      // config/auth error the supervisor must see — same contract as
      // the single-node lane (LiveCdc.drainSession)
      try pump.runSession() catch {
        case _: java.io.IOException if pump.bytesCaptured > 0 => ()
      }
      store.publishAll()
      onNode(node, pump.position)
      node -> pump.position
    }
  }

  /** RESIDENT topology — the reference's fan-out
    * (redis_cluster_psync_extractor.rs:49-91, one task per master)
    * kept running: one SUPERVISED pump thread per discovered master
    * (each with its own capped-backoff reconnect ladder), with
    * topology RE-DISCOVERY on every poll in which some node has no
    * live pump — a failover or reshard re-fans onto the new master
    * set without disturbing healthy shards; a dead seed just retries
    * next poll.
    *
    * `positions` is the per-node resume state, in/out: seeded from
    * the previous run, refreshed with each pump's PUBLISHED position
    * only (safe to persist mid-stream — a crash never skips an
    * in-flight spool). `newStore` must return a FRESH store per call:
    * each pump thread owns its store instance (the shared capture dir
    * is the only common state), so no store-internal mutability is
    * ever crossed by threads.
    *
    * Error surface: per-shard errors re-fan (that IS the supervision
    * contract), but a residency that ends with an error and ZERO
    * bytes captured across every pump rethrows — an auth/config error
    * must reach the task supervisor, same as the single-node lane.
    */
  def runResident(stop: () => Boolean,
      positions: scala.collection.concurrent.Map[String, (String, Long)],
      newStore: () => SegmentStore = () => store,
      pollMs: Long = 500L, topologyRefreshMs: Long = 30000L): Unit = {
    val pumps = scala.collection.mutable.Map[
      String, (Thread, RedisReplicationPump)]()
    // one store per NODE for the whole residency (not per pump
    // start): a fresh FsSegmentStore per re-fan would leak one spool
    // temp dir per reconnect of a flapping shard. Safe to reuse —
    // a node's pump is re-fanned only after its previous thread
    // fully terminated (isAlive gate below).
    val stores = scala.collection.mutable.Map[String, SegmentStore]()
    val lastError =
      new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val drainedBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    // re-fans of pumps that died having captured NOTHING (their whole
    // per-pump reconnect ladder exhausted), plus failed discoveries
    // with no pump running — the bad-credentials/bad-seed signature
    val zeroRefans = new java.util.concurrent.atomic.AtomicInteger(0)
    def refan(): Unit = {
      val masters = try discoverMasters() catch {
        // seed unreachable: healthy pumps keep running; retry next poll
        case e: java.io.IOException =>
          lastError.set(e)
          if (pumps.isEmpty) zeroRefans.incrementAndGet(): Unit
          Seq.empty
      }
      // drop DEAD entries for masters the topology no longer lists
      // (failover demoted them): a permanently-dead entry would trip
      // the any-pump-dead check on every poll and turn the 30 s
      // topology refresh into a seed dial per poll. Live threads for
      // departed nodes are left to wind down on their own.
      if (masters.nonEmpty) {
        val listed = masters.map(_.id).toSet
        pumps.filterInPlace { case (id, (t, _)) =>
          listed(id) || t.isAlive
        }: Unit
      }
      masters.foreach { node =>
        if (!pumps.get(node.id).exists(_._1.isAlive)) {
          pumps.get(node.id).foreach { case (t, p) =>
            if (!t.isAlive && p.bytesCaptured == 0L)
              zeroRefans.incrementAndGet(): Unit
          }
          val prefix = node.id
          val resume = positions.getOrElse(node.id,
            cfg.resume.getOrElse(node.id, ("", 0L)))
          val pumpStore = stores.getOrElseUpdate(node.id,
            new PrefixedSegmentStore(newStore(), prefix))
          val pump = new RedisReplicationPump(
            RedisReplicationPump.Config(
              user = cfg.user, password = cfg.password,
              replId = resume._1, replOffset = resume._2,
              replPort = cfg.replPort,
              keepaliveIntervalSecs = cfg.keepaliveIntervalSecs,
              maxSegmentSecs = cfg.maxSegmentSecs,
              maxReconnects = cfg.maxReconnects,
              baseBackoffMs = cfg.baseBackoffMs,
              maxBackoffMs = cfg.maxBackoffMs),
            pumpStore, () => dialNode(node.address))
          val t = new Thread(() => {
            try pump.run(until = stop)
            catch { case t: Throwable => lastError.set(t) }
            finally {
              pumpStore.publishAll()
              pump.markAllPublished()
              positions(node.id) = pump.publishedPosition
              drainedBytes.addAndGet(pump.bytesCaptured): Unit
            }
          }, s"graft-redis-cluster-${prefix.take(8)}")
          t.setDaemon(true)
          t.start()
          pumps(node.id) = (t, pump)
        }
      }
    }
    var lastDiscoveryMs = 0L
    while (!stop()) {
      // dial the seed only when something died (immediate re-fan) or
      // the topology-refresh interval elapsed (reshard/new-master
      // pickup) — not one CLUSTER NODES round-trip per poll
      val now = System.currentTimeMillis()
      if (pumps.isEmpty || pumps.values.exists(!_._1.isAlive) ||
          now - lastDiscoveryMs >= topologyRefreshMs) {
        lastDiscoveryMs = now
        refan()
      }
      // a misconfigured residency (bad credentials, wrong seed) must
      // reach the supervisor from INSIDE the loop, not only at
      // wind-down: every dead pump thread already exhausted its OWN
      // maxReconnects ladder, so re-fanning zero-progress deaths past
      // a second full ladder per shard is proof nothing can connect —
      // throw lastError (the single-node lane's rethrow;
      // transient seed blips clear the counter on first progress)
      if (drainedBytes.get() +
            pumps.values.map(_._2.bytesCaptured).sum > 0L)
        zeroRefans.set(0)
      else if (lastError.get() != null &&
          zeroRefans.get() > 2 * math.max(cfg.maxReconnects, pumps.size))
        throw lastError.get()
      pumps.foreach { case (id, (_, p)) =>
        positions(id) = p.publishedPosition
      }
      var waited = 0L
      while (!stop() && waited < pollMs) {
        Thread.sleep(50); waited += 50
      }
    }
    // wind-down: each pump observes stop() between packets (a blocked
    // read clears at its socket timeout), publishes its tail, and
    // records its published position on the way out
    pumps.values.foreach(_._1.join(65000L))
    pumps.foreach { case (id, (_, p)) =>
      positions(id) = p.publishedPosition
    }
    val live = pumps.values.map(_._2.bytesCaptured).sum
    if (lastError.get() != null && drainedBytes.get() + live == 0L)
      throw lastError.get()
  }

  private def expectOk(wire: Wire): Unit = {
    val line = readLine(wire)
    require(line == "+OK", s"AUTH reply is not +OK: $line")
  }

  private def readLine(wire: Wire): String = {
    val out = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done) {
      val b = wire.read(1)(0) & 0xff
      if (b == '\r') {
        val n = wire.read(1)(0) & 0xff
        require(n == '\n', "bare CR in RESP line")
        done = true
      } else out.write(b)
    }
    new String(out.toByteArray, "UTF-8")
  }

  /** RESP bulk string: `$<len>\r\n<payload>\r\n`. */
  private def readBulk(wire: Wire): String = {
    val header = readLine(wire)
    require(header.startsWith("$"), s"expected bulk reply: $header")
    val len = header.drop(1).toInt
    val payload = wire.read(len)
    wire.read(2) // trailing CRLF
    new String(payload, "UTF-8")
  }
}

object RedisClusterPump {
  /** `resume`: per-node (repl_id, repl_offset) from the previous run
    * — Position::Redis per shard, matched by node id
    * (redis_cluster_psync_extractor.rs resume matcher).
    */
  final case class Config(user: String = "", password: String = "",
      replPort: Int = 10007, keepaliveIntervalSecs: Long = 1L,
      resume: Map[String, (String, Long)] = Map.empty,
      maxSegmentSecs: Long = 0L,
      /** Per-node pump supervision knobs (resident mode). */
      maxReconnects: Int = 10, baseBackoffMs: Long = 500L,
      maxBackoffMs: Long = 60000L)
}

/** A namespaced view over a [[SegmentStore]]: every name gains
  * `<prefix>.`, listings are filtered and stripped back — each
  * cluster-shard pump keeps its own monotone numbering without seeing
  * (or clobbering) the other shards' segments.
  */
final class PrefixedSegmentStore(inner: SegmentStore, prefix: String)
    extends SegmentStore {
  private def full(name: String) = s"$prefix.$name"

  override def append(name: String, bytes: Array[Byte]): Unit =
    inner.append(full(name), bytes)

  override def names: Seq[String] =
    inner.names.filter(_.startsWith(prefix + "."))
      .map(_.drop(prefix.length + 1)).sorted

  override def bytesOf(name: String): Array[Byte] =
    inner.bytesOf(full(name))

  override def publish(name: String): Unit = inner.publish(full(name))

  override def discard(name: String): Unit = inner.discard(full(name))

  override def publishAll(): Unit = inner.publishAll()
}
