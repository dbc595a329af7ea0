package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{MysqlBinlog, MysqlBinlogWriter}
import graft.transport._

/** The MySQL dial-and-pump state machine over [[FakeWire]] — every
  * branch the reference's extract_internal loop exercises against a
  * live server (mysql_cdc_extractor.rs:141-192): handshake + native
  * auth, checksum session setup, both dump commands, event streaming
  * into rotating capture segments, GTID tracking, error surfacing, and
  * reconnect-with-resume.
  */
class MysqlTransportSpec extends AnyFunSuite {
  import MysqlWire._

  // --------------------------------------------------- fixture helpers

  private def packet(seq: Int, payload: Array[Byte]): Array[Byte] =
    Array[Byte]((payload.length & 0xff).toByte,
      ((payload.length >> 8) & 0xff).toByte,
      ((payload.length >> 16) & 0xff).toByte, seq.toByte) ++ payload

  /** Minimal protocol-v10 greeting with a known 20-byte scramble.
    * `capsLow` defaults to everything (including CLIENT_SSL 0x0800);
    * pass 0xf7ff for a server WITHOUT TLS support.
    */
  private def handshakePayload(scramble: Array[Byte],
      capsLow: Int = 0xffff): Array[Byte] = {
    require(scramble.length == 20)
    val out = new java.io.ByteArrayOutputStream()
    out.write(10)
    out.write("8.0.36-fake".getBytes("UTF-8")); out.write(0)
    out.write(Array[Byte](7, 0, 0, 0)) // thread id
    out.write(scramble.take(8)); out.write(0) // part 1 + filler
    out.write(capsLow & 0xff); out.write((capsLow >> 8) & 0xff)
    out.write(45) // charset
    out.write(Array[Byte](2, 0)) // status
    out.write(Array[Byte](0x08, 0x00)) // caps high: PLUGIN_AUTH
    out.write(21) // auth data len
    out.write(new Array[Byte](10)) // reserved
    out.write(scramble.drop(8)); out.write(0) // part 2 + NUL
    out.write("mysql_native_password".getBytes("UTF-8")); out.write(0)
    out.toByteArray
  }

  private val okPacket = Array[Byte](0x00, 0, 0, 2, 0, 0, 0)

  /** Split a writer stream (magic + events) into single events. */
  private def eventsOf(binlog: Array[Byte]): Seq[Array[Byte]] = {
    var p = 4
    val out = Seq.newBuilder[Array[Byte]]
    while (p < binlog.length) {
      val len = (binlog(p + 9) & 0xff) | ((binlog(p + 10) & 0xff) << 8) |
        ((binlog(p + 11) & 0xff) << 16) | ((binlog(p + 12) & 0xff) << 24)
      out += binlog.slice(p, p + len)
      p += len
    }
    out.result()
  }

  private val scramble = Array.tabulate[Byte](20)(_.toByte)
  private val Types = Seq(8, 15) // LONGLONG, VARCHAR
  private val Meta = Seq(0, 40)

  /** A served session: greeting, auth OK, checksum OK, then one event
    * packet per writer event, then EOF (unless `eof = false` — the
    * wire-drop scenarios fail the read instead).
    */
  private def serveSession(wire: FakeWire,
      events: Seq[Array[Byte]], eof: Boolean = true): Unit = {
    wire.serve(packet(0, handshakePayload(scramble)))
    wire.serve(packet(2, okPacket)) // auth result
    wire.serve(packet(1, okPacket)) // SET checksum result
    wire.serve(packet(1, okPacket)) // SET heartbeat period result
    events.zipWithIndex.foreach { case (e, i) =>
      wire.serve(packet(i + 1, Array[Byte](0x00) ++ e))
    }
    if (eof) wire.serve(packet(events.size + 1,
      Array[Byte](0xfe.toByte, 0, 0, 2, 0))) // EOF
  }

  test("nativePassword matches the published SHA1 construction") {
    val got = nativePassword("secret_pw", scramble)
      .map(b => f"${b & 0xff}%02x").mkString
    assert(got == "d572a454b17890791c96fb32c179709a94177e44")
    assert(nativePassword("", scramble).isEmpty)
  }

  test("parseHandshake recovers the full 20-byte scramble and plugin") {
    val hs = parseHandshake(handshakePayload(scramble))
    assert(hs.scramble.toSeq == scramble.toSeq)
    assert(hs.authPlugin == "mysql_native_password")
    assert(hs.serverVersion == "8.0.36-fake")
    assert((hs.capabilities & CapPluginAuth) != 0)
  }

  test("happy path: auth, checksum setup, dump from (file, pos), " +
      "events land in per-binlog segments and decode back") {
    val w = new MysqlBinlogWriter(serverId = 1L)
    w.fde()
    w.gtid("12345678-1234-1234-1234-123456789abc", 7L)
    w.begin("tpch")
    w.tableMap(11L, "tpch", "t", Types, Meta,
      nullable = Seq(false, true), colNames = Seq("id", "v"))
    w.writeRows(11L, Seq(Array("1", "a"), Array("2", "b")))
    w.xid(1L)
    val events = eventsOf(w.bytes())

    val wire = new FakeWire
    serveSession(wire, events)
    val store = new MemorySegmentStore
    val pump = new MysqlReplicationPump(
      MysqlReplicationPump.Config("repl", "secret_pw",
        binlogFilename = "binlog.000007", binlogPosition = 4L),
      store, () => wire)
    val n = pump.runSession()
    assert(n == events.size)

    // the client spoke the right bytes, in order
    val sent = wire.sentBytes
    val sentStr = new String(sent, java.nio.charset.StandardCharsets
      .ISO_8859_1)
    assert(sentStr.contains("repl"))
    assert(sentStr.contains("mysql_native_password"))
    assert(sentStr.contains("SET @master_binlog_checksum='NONE'"))
    assert(sentStr.contains("binlog.000007"))
    // auth response bytes embedded verbatim
    val auth = nativePassword("secret_pw", scramble)
    assert(sentStr.contains(
      new String(auth, java.nio.charset.StandardCharsets.ISO_8859_1)))
    // COM_BINLOG_DUMP opcode present at a packet head
    assert(sent.containsSlice(Array[Byte](0x12, 4, 0, 0, 0)))

    // the segment is a self-contained decodable binlog file; names
    // are pump-owned and monotone (NOT the server's file name — that
    // lives in `position`), so a restart can never reuse one
    assert(store.names == Seq("binlog.000001.log"))
    val decoded = MysqlBinlog.decodeFile(
      store.bytesOf("binlog.000001.log"), "binlog.000007")
    assert(decoded.map(e => (e.rowType, e.after.get("id").orNull)) ==
      Seq(("insert", "1"), ("insert", "2")))
    // resume state advanced and the GTID was tracked
    assert(pump.position._1 == "binlog.000007")
    assert(pump.position._2 > 4L)
    assert(pump.position._3 ==
      "12345678-1234-1234-1234-123456789abc:7")
  }

  test("mid-file rotation cuts at TRANSACTION boundaries on size/" +
      "time: a resident lane's events publish without waiting for a " +
      "server file boundary, and each cut segment decodes alone") {
    var now = 0L
    val clock = () => { now += 1100L; now }
    val w = new MysqlBinlogWriter(serverId = 1L)
    w.fde()
    (1 to 2).foreach { i =>
      w.begin("app")
      w.tableMap(11L, "app", "t", Types, Meta,
        nullable = Seq(false, true), colNames = Seq("id", "v"))
      w.writeRows(11L, Seq(Array(i.toString, s"v$i")))
      w.xid(i.toLong)
    }
    val wire = new FakeWire
    serveSession(wire, eventsOf(w.bytes()))
    val store = new MemorySegmentStore
    val pump = new MysqlReplicationPump(
      MysqlReplicationPump.Config("repl", "secret_pw",
        binlogFilename = "binlog.000001",
        maxSegmentSecs = 1L, clockMs = clock),
      store, () => wire)
    pump.runSession()
    // the 1.1 s/step clock crosses the window inside each txn: every
    // Xid cut a segment — both cuts published MID-SESSION (no server
    // Rotate event anywhere in the stream)
    assert(store.names ==
      Seq("binlog.000001.log", "binlog.000002.log"))
    store.names.zipWithIndex.foreach { case (seg, i) =>
      val decoded = MysqlBinlog.decodeFile(store.bytesOf(seg),
        "binlog.000001")
      assert(decoded.map(_.after.get("id").orNull) ==
        Seq((i + 1).toString), s"$seg decoded $decoded")
    }
    assert(pump.publishedPosition._2 > 4L)

    // size arm: a tiny cap cuts at every txn too (never mid-txn)
    val wire2 = new FakeWire
    serveSession(wire2, eventsOf(w.bytes()))
    val store2 = new MemorySegmentStore
    new MysqlReplicationPump(
      MysqlReplicationPump.Config("repl", "secret_pw",
        binlogFilename = "binlog.000001", maxSegmentBytes = 10L),
      store2, () => wire2).runSession()
    assert(store2.names.size == 2)
    store2.names.foreach { seg =>
      assert(MysqlBinlog.decodeFile(store2.bytesOf(seg),
        "binlog.000001").size == 1)
    }
  }

  test("mid-file rotation also cuts after a Query COMMIT: a " +
      "non-transactional (MyISAM-style) workload with NO Xid events " +
      "still publishes on the time cadence") {
    var now = 0L
    val clock = () => { now += 1100L; now }
    val w = new MysqlBinlogWriter(serverId = 1L)
    w.fde()
    (1 to 2).foreach { i =>
      w.begin("app")
      w.tableMap(11L, "app", "t", Types, Meta,
        nullable = Seq(false, true), colNames = Seq("id", "v"))
      w.writeRows(11L, Seq(Array(i.toString, s"v$i")))
      // MyISAM statement groups end in Query(COMMIT), never Xid
      w.query("app", "COMMIT")
    }
    val wire = new FakeWire
    serveSession(wire, eventsOf(w.bytes()))
    val store = new MemorySegmentStore
    val pump = new MysqlReplicationPump(
      MysqlReplicationPump.Config("repl", "secret_pw",
        binlogFilename = "binlog.000001",
        maxSegmentSecs = 1L, clockMs = clock),
      store, () => wire)
    pump.runSession()
    // each COMMIT boundary cut a segment; each decodes alone
    assert(store.names ==
      Seq("binlog.000001.log", "binlog.000002.log"))
    store.names.zipWithIndex.foreach { case (seg, i) =>
      val decoded = MysqlBinlog.decodeFile(store.bytesOf(seg),
        "binlog.000001")
      assert(decoded.map(_.after.get("id").orNull) ==
        Seq((i + 1).toString), s"$seg decoded $decoded")
    }
  }

  test("rotate switches segment files; both decode independently") {
    val w1 = new MysqlBinlogWriter(serverId = 1L)
    w1.fde()
    w1.begin("tpch")
    w1.tableMap(11L, "tpch", "t", Types, Meta,
      nullable = Seq(false, true), colNames = Seq("id", "v"))
    w1.writeRows(11L, Seq(Array("1", "a")))
    w1.xid(1L)
    w1.rotate(4L, "binlog.000008")
    val w2 = new MysqlBinlogWriter(serverId = 1L)
    w2.fde()
    w2.begin("tpch")
    w2.tableMap(11L, "tpch", "t", Types, Meta,
      nullable = Seq(false, true), colNames = Seq("id", "v"))
    w2.writeRows(11L, Seq(Array("2", "b")))
    w2.xid(2L)
    val events = eventsOf(w1.bytes()) ++ eventsOf(w2.bytes())

    val wire = new FakeWire
    serveSession(wire, events)
    val store = new MemorySegmentStore
    val pump = new MysqlReplicationPump(
      MysqlReplicationPump.Config("u", "p",
        binlogFilename = "binlog.000007"), store, () => wire)
    pump.runSession()
    assert(store.names ==
      Seq("binlog.000001.log", "binlog.000002.log"))
    val d1 = MysqlBinlog.decodeFile(
      store.bytesOf("binlog.000001.log"), "binlog.000007")
    val d2 = MysqlBinlog.decodeFile(
      store.bytesOf("binlog.000002.log"), "binlog.000008")
    assert(d1.map(_.after("id")) == Seq("1"))
    assert(d2.map(_.after("id")) == Seq("2"))
    assert(pump.position._1 == "binlog.000008")
  }

  test("gtid start position sends COM_BINLOG_DUMP_GTID with the " +
      "binary set encoding") {
    val wire = new FakeWire
    serveSession(wire, Nil)
    val pump = new MysqlReplicationPump(
      MysqlReplicationPump.Config("u", "p", gtidEnabled = true,
        gtidSet = "12345678-1234-1234-1234-123456789abc:1-5"),
      new MemorySegmentStore, () => wire)
    pump.runSession()
    val sent = wire.sentBytes
    // opcode + flags(4,0) + server id
    assert(sent.containsSlice(Array[Byte](0x1e, 4, 0)))
    // set payload: 1 sid, uuid raw bytes, 1 interval, [1, 6)
    val uuid = MysqlWire.uuidBytes("12345678-1234-1234-1234-123456789abc")
    val expected = Array[Byte](1, 0, 0, 0, 0, 0, 0, 0) ++ uuid ++
      Array[Byte](1, 0, 0, 0, 0, 0, 0, 0) ++
      Array[Byte](1, 0, 0, 0, 0, 0, 0, 0) ++
      Array[Byte](6, 0, 0, 0, 0, 0, 0, 0)
    assert(sent.containsSlice(expected))
  }

  test("server error packets surface with code and message") {
    val wire = new FakeWire
    wire.serve(packet(0, handshakePayload(scramble)))
    val err = Array[Byte](0xff.toByte, 0x15, 0x04) ++
      "#28000Access denied".getBytes("UTF-8")
    wire.serve(packet(2, err))
    val pump = new MysqlReplicationPump(
      MysqlReplicationPump.Config("u", "wrong"),
      new MemorySegmentStore, () => wire)
    val e = intercept[java.io.IOException](pump.runSession())
    assert(e.getMessage.contains("1045"))
    assert(e.getMessage.contains("Access denied"))
  }

  test("reconnect resumes from the tracked position with backoff") {
    val w = new MysqlBinlogWriter(serverId = 1L)
    w.fde()
    w.begin("tpch")
    w.tableMap(11L, "tpch", "t", Types, Meta,
      nullable = Seq(false, true), colNames = Seq("id", "v"))
    w.writeRows(11L, Seq(Array("1", "a")))
    w.xid(1L)
    val events = eventsOf(w.bytes())

    // first wire dies mid-stream, second serves the rest then EOF
    val wire1 = new FakeWire
    wire1.serve(packet(0, handshakePayload(scramble)))
    wire1.serve(packet(2, okPacket))
    wire1.serve(packet(1, okPacket))
    wire1.serve(packet(1, okPacket))
    events.take(2).zipWithIndex.foreach { case (e, i) =>
      wire1.serve(packet(i + 1, Array[Byte](0x00) ++ e)) }
    wire1.failAfter(wire1.remaining) // fail on the read after drain
    val wire2 = new FakeWire
    // a real server opens every dump with a fresh FDE (checksum alg
    // context) before resuming at the requested position
    val fdeOnly = { val f = new MysqlBinlogWriter(serverId = 1L)
      f.fde(); eventsOf(f.bytes()) }
    serveSession(wire2, fdeOnly ++ events.drop(2))

    val wires = scala.collection.mutable.Queue[FakeWire](wire1, wire2)
    val store = new MemorySegmentStore
    val pump = new MysqlReplicationPump(
      MysqlReplicationPump.Config("u", "p",
        binlogFilename = "binlog.000007", maxReconnects = 3),
      store, () => wires.dequeue())
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    pump.run(until = () => pump.eventsAppended >= events.size,
      sleep = sleeps += _)
    assert(pump.reconnects == 1)
    assert(sleeps == Seq(500L)) // first rung of the ladder
    // the second session resumed at the tracked offset, past 4
    val sent2 = wire2.sentBytes
    assert(sent2.containsSlice(Array[Byte](0x12)) &&
      new String(sent2, java.nio.charset.StandardCharsets.ISO_8859_1)
        .contains("binlog.000007"))
    // each session opened a FRESH segment (never appending to a name
    // the checkpoint may have consumed); all events landed exactly once
    assert(store.names == Seq("binlog.000001.log", "binlog.000002.log"))
    val decoded = store.names.flatMap(n =>
      MysqlBinlog.decodeFile(store.bytesOf(n), "binlog.000007"))
    assert(decoded.map(_.after("id")) == Seq("1"))
  }

  test("a RESTARTED pump mid-binlog-file never republishes a consumed " +
      "segment name — the tail events land in a new segment") {
    // session 1: the first half of server file binlog.000007
    val w1 = new MysqlBinlogWriter(serverId = 1L)
    w1.fde()
    w1.begin("tpch")
    w1.tableMap(11L, "tpch", "t", Types, Meta,
      nullable = Seq(false, true), colNames = Seq("id", "v"))
    w1.writeRows(11L, Seq(Array("1", "a"), Array("2", "b")))
    w1.xid(1L)
    val dir = java.nio.file.Files
      .createTempDirectory("pump-restart").toString
    val store1 = new FsSegmentStore(dir)
    val wire1 = new FakeWire
    serveSession(wire1, eventsOf(w1.bytes()))
    val pump1 = new MysqlReplicationPump(
      MysqlReplicationPump.Config("u", "p",
        binlogFilename = "binlog.000007"), store1, () => wire1)
    pump1.runSession()
    store1.publishAll()
    assert(store1.names == Seq("binlog.000001.log"))
    val firstBytes = store1.bytesOf("binlog.000001.log")

    // the task restarts: a NEW pump (fresh store handle on the same
    // capture dir) dials a server that appends MORE events to the SAME
    // binlog file — the round-11 naming overwrote binlog.000007.log
    // here and the name-based checkpoint skipped the tail forever
    val w2 = new MysqlBinlogWriter(serverId = 1L)
    w2.fde()
    w2.begin("tpch")
    w2.tableMap(11L, "tpch", "t", Types, Meta,
      nullable = Seq(false, true), colNames = Seq("id", "v"))
    w2.writeRows(11L, Seq(Array("3", "c")))
    w2.xid(2L)
    val store2 = new FsSegmentStore(dir)
    val wire2 = new FakeWire
    serveSession(wire2, eventsOf(w2.bytes()))
    val pump2 = new MysqlReplicationPump(
      MysqlReplicationPump.Config("u", "p",
        binlogFilename = "binlog.000007",
        binlogPosition = pump1.position._2), store2, () => wire2)
    pump2.runSession()
    store2.publishAll()

    assert(store2.names ==
      Seq("binlog.000001.log", "binlog.000002.log"))
    // the consumed segment is byte-identical (no silent overwrite)…
    assert(store2.bytesOf("binlog.000001.log").toSeq ==
      firstBytes.toSeq)
    // …and the tail events are all in the NEW name, which sorts after
    // the old one (the name-based checkpoint will plan it)
    val tail = MysqlBinlog.decodeFile(
      store2.bytesOf("binlog.000002.log"), "binlog.000007")
    assert(tail.map(_.after("id")) == Seq("3"))
  }

  test("caching_sha2_password: the MySQL-8-default plugin's fast " +
      "path, vector-pinned, fast-success accepted") {
    // independent vector: XOR(SHA256(pw), SHA256(SHA3x(pw) ++ nonce))
    val got = cachingSha2Password("secret_pw", scramble)
      .map(b => f"${b & 0xff}%02x").mkString
    assert(got ==
      "c3688372e9a10346c46a86fda1d188f7a4f5adb84bcc18d7c930c0b03a0abedf")
    assert(cachingSha2Password("", scramble).isEmpty)

    // greeting advertises caching_sha2 → fast success (0x01 0x03) →
    // OK → dump proceeds
    def sha2Greeting: Array[Byte] = {
      val h = handshakePayload(scramble)
      val i = new String(h, java.nio.charset.StandardCharsets
        .ISO_8859_1).indexOf("mysql_native_password")
      h.take(i) ++ "caching_sha2_password".getBytes("UTF-8") :+ 0.toByte
    }
    val wire = new FakeWire
    wire.serve(packet(0, sha2Greeting))
    wire.serve(packet(2, Array[Byte](0x01, 0x03))) // fast_auth_success
    wire.serve(packet(3, okPacket)) // auth OK
    wire.serve(packet(1, okPacket)) // SET checksum
    wire.serve(packet(1, okPacket)) // SET heartbeat period
    wire.serve(packet(1, Array[Byte](0xfe.toByte, 0, 0, 2, 0))) // EOF
    val pump = new MysqlReplicationPump(
      MysqlReplicationPump.Config("u", "secret_pw"),
      new MemorySegmentStore, () => wire)
    pump.runSession()
    val sentStr = new String(wire.sentBytes,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(sentStr.contains("caching_sha2_password"))
    assert(sentStr.contains(new String(
      cachingSha2Password("secret_pw", scramble),
      java.nio.charset.StandardCharsets.ISO_8859_1)))
    // full authentication (0x01 0x04) is covered by the TLS-cleartext
    // and RSA-exchange tests below — no silent downgrade either way
  }

  test("auth switch: the server's preferred-plugin redirect re-runs " +
      "auth with the new scramble") {
    val newScramble = Array.tabulate[Byte](20)(i => (100 + i).toByte)
    val switch = Array[Byte](0xfe.toByte) ++
      "mysql_native_password".getBytes("UTF-8") ++ Array[Byte](0) ++
      newScramble ++ Array[Byte](0)
    val wire = new FakeWire
    wire.serve(packet(0, handshakePayload(scramble)))
    wire.serve(packet(2, switch))
    wire.serve(packet(4, okPacket)) // auth OK after the switch
    wire.serve(packet(1, okPacket)) // SET checksum
    wire.serve(packet(1, okPacket)) // SET heartbeat period
    wire.serve(packet(1, Array[Byte](0xfe.toByte, 0, 0, 2, 0))) // EOF
    val pump = new MysqlReplicationPump(
      MysqlReplicationPump.Config("u", "secret_pw"),
      new MemorySegmentStore, () => wire)
    pump.runSession()
    // the SECOND auth response is salted with the switch's scramble
    val sentStr = new String(wire.sentBytes,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(sentStr.contains(new String(
      nativePassword("secret_pw", newScramble),
      java.nio.charset.StandardCharsets.ISO_8859_1)))
  }

  // ------------------------------------------------------------- TLS

  /** Split the CLIENT's written byte stream into packet payloads. */
  private def clientPackets(sent: Array[Byte]): Seq[Array[Byte]] = {
    var p = 0
    val out = Seq.newBuilder[Array[Byte]]
    while (p + 4 <= sent.length) {
      val len = (sent(p) & 0xff) | ((sent(p + 1) & 0xff) << 8) |
        ((sent(p + 2) & 0xff) << 16)
      out += sent.slice(p + 4, p + 4 + len)
      p += 4 + len
    }
    out.result()
  }

  test("ssl-mode=required against a server without CLIENT_SSL fails " +
      "loudly instead of downgrading to plaintext") {
    val wire = new FakeWire
    wire.serve(packet(0, handshakePayload(scramble, capsLow = 0xf7ff)))
    val pump = new MysqlReplicationPump(
      MysqlReplicationPump.Config("u", "p", sslMode = "required"),
      new MemorySegmentStore, () => wire)
    val e = intercept[java.io.IOException](pump.runSession())
    assert(e.getMessage.contains("CLIENT_SSL"))
    // nothing was written after the greeting — no plaintext auth leak
    assert(wire.sentBytes.isEmpty)
  }

  test("ssl-mode=preferred sends the SSLRequest preamble, upgrades, " +
      "and completes the handshake over the upgraded wire") {
    val w = new MysqlBinlogWriter(serverId = 1L)
    w.fde()
    val wire = new FakeWire
    serveSession(wire, eventsOf(w.bytes()))
    var upgrades = 0
    val pump = new MysqlReplicationPump(
      MysqlReplicationPump.Config("repl", "secret_pw",
        sslMode = "preferred",
        tlsUpgrade = (w0, mode) => {
          upgrades += 1
          assert(mode == "preferred")
          w0 // pass-through: the spec drives bytes, not JSSE
        }),
      new MemorySegmentStore, () => wire)
    pump.runSession()
    assert(upgrades == 1)
    val pkts = clientPackets(wire.sentBytes)
    // packet 0 is the 32-byte SSLRequest with CLIENT_SSL in the caps
    assert(pkts.head.length == 32)
    val caps = (pkts.head(0) & 0xffL) | ((pkts.head(1) & 0xffL) << 8) |
      ((pkts.head(2) & 0xffL) << 16) | ((pkts.head(3) & 0xffL) << 24)
    assert((caps & MysqlWire.CapSsl) != 0)
    // the full HandshakeResponse follows (post-upgrade) with the same
    // CLIENT_SSL bit and the auth bytes
    val hsr = pkts(1)
    val caps2 = (hsr(0) & 0xffL) | ((hsr(1) & 0xffL) << 8) |
      ((hsr(2) & 0xffL) << 16) | ((hsr(3) & 0xffL) << 24)
    assert((caps2 & MysqlWire.CapSsl) != 0)
    assert(new String(hsr, java.nio.charset.StandardCharsets.ISO_8859_1)
      .contains("repl"))
  }

  test("ssl-mode=preferred against a non-TLS server continues in " +
      "plaintext without the preamble") {
    val w = new MysqlBinlogWriter(serverId = 1L)
    w.fde()
    val wire = new FakeWire
    wire.serve(packet(0, handshakePayload(scramble, capsLow = 0xf7ff)))
    wire.serve(packet(2, okPacket))
    wire.serve(packet(1, okPacket))
    wire.serve(packet(1, okPacket))
    eventsOf(w.bytes()).zipWithIndex.foreach { case (e, i) =>
      wire.serve(packet(i + 1, Array[Byte](0x00) ++ e)) }
    wire.serve(packet(1, Array[Byte](0xfe.toByte, 0, 0, 2, 0)))
    val pump = new MysqlReplicationPump(
      MysqlReplicationPump.Config("u", "p", sslMode = "preferred",
        tlsUpgrade = (_, _) => fail("must not upgrade")),
      new MemorySegmentStore, () => wire)
    pump.runSession()
    val pkts = clientPackets(wire.sentBytes)
    assert(pkts.head.length > 32) // straight to HandshakeResponse
  }

  test("caching_sha2 full auth over TLS answers with the cleartext " +
      "password on the encrypted channel") {
    def sha2Greeting: Array[Byte] = {
      val h = handshakePayload(scramble)
      val i = new String(h, java.nio.charset.StandardCharsets
        .ISO_8859_1).indexOf("mysql_native_password")
      h.take(i) ++ "caching_sha2_password".getBytes("UTF-8") :+ 0.toByte
    }
    val wire = new FakeWire
    wire.serve(packet(0, sha2Greeting))
    wire.serve(packet(3, Array[Byte](0x01, 0x04))) // perform_full_auth
    wire.serve(packet(5, okPacket)) // auth OK
    wire.serve(packet(1, okPacket)) // SET checksum
    wire.serve(packet(1, okPacket)) // SET heartbeat
    wire.serve(packet(1, Array[Byte](0xfe.toByte, 0, 0, 2, 0)))
    val pump = new MysqlReplicationPump(
      MysqlReplicationPump.Config("u", "s3cret!",
        sslMode = "required", tlsUpgrade = (w0, _) => w0),
      new MemorySegmentStore, () => wire)
    pump.runSession()
    val pkts = clientPackets(wire.sentBytes)
    // SSLRequest, HandshakeResponse, then the NUL-terminated password
    assert(pkts(2).toSeq ==
      ("s3cret!".getBytes("UTF-8") :+ 0.toByte).toSeq)
  }

  test("caching_sha2 full auth WITHOUT TLS runs the RSA public-key " +
      "exchange: the server can decrypt exactly password XOR scramble") {
    def sha2Greeting: Array[Byte] = {
      val h = handshakePayload(scramble)
      val i = new String(h, java.nio.charset.StandardCharsets
        .ISO_8859_1).indexOf("mysql_native_password")
      h.take(i) ++ "caching_sha2_password".getBytes("UTF-8") :+ 0.toByte
    }
    val kpg = java.security.KeyPairGenerator.getInstance("RSA")
    kpg.initialize(2048)
    val kp = kpg.generateKeyPair()
    val pem = "-----BEGIN PUBLIC KEY-----\n" +
      java.util.Base64.getMimeEncoder(64, "\n".getBytes)
        .encodeToString(kp.getPublic.getEncoded) +
      "\n-----END PUBLIC KEY-----\n"
    val wire = new FakeWire
    wire.serve(packet(0, sha2Greeting))
    wire.serve(packet(3, Array[Byte](0x01, 0x04))) // perform_full_auth
    wire.serve(packet(5, // AuthMoreData: the PEM public key
      Array[Byte](0x01) ++ pem.getBytes("UTF-8")))
    wire.serve(packet(7, okPacket)) // auth OK
    wire.serve(packet(1, okPacket)) // SET checksum
    wire.serve(packet(1, okPacket)) // SET heartbeat
    wire.serve(packet(1, Array[Byte](0xfe.toByte, 0, 0, 2, 0)))
    val pump = new MysqlReplicationPump(
      MysqlReplicationPump.Config("u", "secret_pw"), // ssl disabled
      new MemorySegmentStore, () => wire)
    pump.runSession()
    val pkts = clientPackets(wire.sentBytes)
    // HandshakeResponse, key request (0x02), then the RSA blob
    assert(pkts(1).toSeq == Seq(0x02.toByte))
    val blob = pkts(2)
    assert(blob.length == 256) // 2048-bit RSA
    val cipher = javax.crypto.Cipher
      .getInstance("RSA/ECB/OAEPWithSHA-1AndMGF1Padding")
    cipher.init(javax.crypto.Cipher.DECRYPT_MODE, kp.getPrivate)
    val obfuscated = cipher.doFinal(blob)
    val pw = "secret_pw".getBytes("UTF-8") :+ 0.toByte
    val recovered = obfuscated.indices.map(i =>
      (obfuscated(i) ^ scramble(i % scramble.length)).toByte)
    assert(recovered == pw.toSeq)
  }

  test("backoff ladder doubles and caps") {
    val pump = new MysqlReplicationPump(
      MysqlReplicationPump.Config("u", "p", baseBackoffMs = 100,
        maxBackoffMs = 1000), new MemorySegmentStore,
      () => new FakeWire)
    assert(pump.backoffMs(1) == 100)
    assert(pump.backoffMs(2) == 200)
    assert(pump.backoffMs(4) == 800)
    assert(pump.backoffMs(5) == 1000)
    assert(pump.backoffMs(30) == 1000)
  }

  test("run gives up after maxReconnects consecutive failures") {
    val pump = new MysqlReplicationPump(
      MysqlReplicationPump.Config("u", "p", maxReconnects = 2,
        baseBackoffMs = 1),
      new MemorySegmentStore, () => new FakeWire) // drains instantly
    val e = intercept[java.io.IOException](
      pump.run(until = () => false, sleep = _ => ()))
    assert(e.getMessage.contains("gave up"))
  }

  test("a CLEAN session end with no progress backs off on the " +
      "ladder instead of re-dialing in a tight loop") {
    var sessions = 0
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val sup = new PumpSupervision {
      override def runSession(until: () => Boolean): Long = {
        sessions += 1; 0L // clean end, nothing captured
      }
      override protected def progress: Long = 0L
      override protected def positionLabel: String = "x"
      override protected def maxReconnects: Int = 3
      override protected def baseBackoffMs: Long = 100L
      override protected def maxBackoffMs: Long = 1000L
    }
    val e = intercept[java.io.IOException](
      sup.run(until = () => false, sleep = sleeps += _))
    assert(e.getMessage.contains("gave up"))
    // every quiet clean end slept a ladder rung (the pre-r15 loop
    // re-dialed instantly forever, with neither backoff nor give-up)
    assert(sessions == 4 && sleeps == Seq(100L, 200L, 400L))
  }

  test("a mid-transaction wire drop resumes at the last COMMIT " +
      "boundary (GTID joins the resume set only at its commit; " +
      "file/pos never points past a TableMap)") {
    val w = new MysqlBinlogWriter(serverId = 1L)
    w.fde()
    w.gtid("12345678-1234-1234-1234-123456789abc", 7L)
    w.begin("tpch")
    w.tableMap(11L, "tpch", "t", Types, Meta,
      nullable = Seq(false, true), colNames = Seq("id", "v"))
    w.writeRows(11L, Seq(Array("1", "a")))
    w.xid(1L)
    // transaction 2 streams its gtid + map + rows but NEVER commits
    w.gtid("12345678-1234-1234-1234-123456789abc", 8L)
    w.begin("tpch")
    w.tableMap(11L, "tpch", "t", Types, Meta,
      nullable = Seq(false, true), colNames = Seq("id", "v"))
    w.writeRows(11L, Seq(Array("2", "b")))
    val events = eventsOf(w.bytes())
    // the Xid event's log_pos = the byte after txn 1 — the only
    // position a reconnect may name
    val xidPos = events.find(e => (e(4) & 0xff) == 0x10).map { e =>
      var v = 0L
      (0 until 4).foreach(i => v |= (e(13 + i) & 0xffL) << (8 * i))
      v
    }.get
    val lastPos = {
      val e = events.last
      var v = 0L
      (0 until 4).foreach(i => v |= (e(13 + i) & 0xffL) << (8 * i))
      v
    }
    assert(lastPos > xidPos)

    val wire = new FakeWire
    serveSession(wire, events, eof = false)
    wire.failAfter(wire.remaining) // dies after the un-committed tail
    val store = new MemorySegmentStore
    val pump = new MysqlReplicationPump(
      MysqlReplicationPump.Config("u", "p", gtidEnabled = true,
        binlogFilename = "binlog.000007"),
      store, () => wire)
    intercept[java.io.IOException](pump.runSession())
    // txn 1's gtid is committed and resumable; txn 2's is NOT (its
    // uncaptured tail must re-stream — the pre-r15 tracking skipped
    // the rest of the transaction: silent loss)
    assert(pump.position._3 ==
      "12345678-1234-1234-1234-123456789abc:7")
    // the file/pos resume is the commit boundary, not the live
    // position past txn 2's TableMap (which would strand its row
    // events without a map — a permanent decode wedge)
    assert(pump.position._2 == xidPos)
  }

  test("an aged segment publishes on a server HEARTBEAT: an idle " +
      "stream still bounds landing latency (txn-boundary cuts only)") {
    val w = new MysqlBinlogWriter(serverId = 1L)
    w.fde()
    w.begin("tpch")
    w.tableMap(11L, "tpch", "t", Types, Meta,
      nullable = Seq(false, true), colNames = Seq("id", "v"))
    w.writeRows(11L, Seq(Array("1", "a")))
    w.xid(1L)
    val events = eventsOf(w.bytes())
    // raw heartbeat event (type 0x1b): 19-byte header, no body needed
    val heartbeat = {
      val e = new Array[Byte](19)
      e(4) = 0x1b
      e
    }
    // clock: young while the events stream, aged at the heartbeat
    val ticks = scala.collection.mutable.Queue[Long](
      0L, 100L, 200L, 300L, 400L, 500L)
    val clock = () => if (ticks.nonEmpty) ticks.dequeue() else 5000L

    val wire = new FakeWire
    serveSession(wire, events :+ heartbeat)
    val inner = new MemorySegmentStore
    val published = scala.collection.mutable.ArrayBuffer[String]()
    val store = new SegmentStore {
      override def append(n: String, b: Array[Byte]): Unit =
        inner.append(n, b)
      override def names: Seq[String] = inner.names
      override def bytesOf(n: String): Array[Byte] = inner.bytesOf(n)
      override def publish(n: String): Unit = { published += n; () }
    }
    val pump = new MysqlReplicationPump(
      MysqlReplicationPump.Config("u", "p",
        binlogFilename = "binlog.000007", maxSegmentSecs = 1,
        clockMs = clock),
      store, () => wire)
    pump.runSession()
    // the events were captured young (no rotation at the Xid), so
    // only the aged HEARTBEAT can have published the segment
    assert(published == Seq("binlog.000001.log"), published.toString)
    assert(MysqlBinlog.decodeFile(inner.bytesOf("binlog.000001.log"),
      "binlog.000007").nonEmpty)
  }

  test("FsSegmentStore holds a local spool dir only while a spool is " +
      "open: none after construction, none after publishAll or discard") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def spools(): Set[String] = Option(tmp.list()).toSeq.flatten
      .filter(_.startsWith("graft-segspool")).toSet
    val before = spools()
    def made: Set[String] = spools() -- before
    val dir = java.nio.file.Files
      .createTempDirectory("segstore-spool").toString
    val store = new FsSegmentStore(dir)
    assert(made.isEmpty, "construction created a spool dir")
    store.append("binlog.000001.log", Array[Byte](1, 2))
    store.append("binlog.000002.log", Array[Byte](3))
    assert(made.size == 1)
    store.publish("binlog.000001.log")
    assert(made.size == 1, "an open spool lost its dir")
    store.publishAll()
    assert(made.isEmpty, s"publishAll left $made")
    assert(store.publishedNames ==
      Seq("binlog.000001.log", "binlog.000002.log"))
    assert(store.bytesOf("binlog.000001.log").toSeq == Seq[Byte](1, 2))
    assert(store.publishedCount == 2)
    // the next append opens a fresh spool dir; a discard removes it
    store.append("binlog.000003.log", Array[Byte](4))
    assert(made.size == 1)
    store.discard("binlog.000003.log")
    assert(made.isEmpty, s"discard left $made")
    assert(store.publishedNames.size == 2)
  }
}
