package perfbench

import java.util.concurrent.atomic.AtomicLong

import graft.transport.Wire

/** An in-process MySQL replication server over a generated binlog, seen
  * by the engine through its own `Wire` seam. It answers the greeting,
  * the auth reply, the session `SET`s and `COM_BINLOG_DUMP` from the
  * requested (file, position), then ends the dump with EOF, the
  * non-blocking dump's end.
  *
  * Reads cost O(bytes read): the dump is served out of per-file packet
  * images built once in [[MysqlServerWire.Server]], so a session never
  * copies the whole served stream. (The engine's test double
  * `graft.transport.FakeWire` copies its entire served buffer on every
  * `read`/`readSome`, which makes a long dump quadratic; the benchmark
  * does not use it, so it times the lane and not the double.)
  *
  * `refuse` plants a transient failure: the server closes the
  * connection after its greeting, before the client made any progress,
  * the way a restarting server or a full connection table answers.
  */
final class MysqlServerWire(server: MysqlServerWire.Server,
    refuse: Boolean = false) extends Wire {
  import MysqlServerWire._

  private val queue = scala.collection.mutable.Queue.empty[Chunk]
  private var hungUp = false
  private val pending = new java.io.ByteArrayOutputStream()
  @volatile var closed = false
  private var firstReadNs = 0L
  private var lastReadNs = 0L

  /** Seconds from this session's first read to its last (the end of
    * the dump).
    */
  def pumpSeconds: Double = (lastReadNs - firstReadNs) / 1e9

  enqueue(packet(0, greeting))

  private def enqueue(c: Chunk): Unit = if (c.len > 0) queue += c
  private def enqueue(bytes: Array[Byte]): Unit =
    enqueue(Chunk(bytes, 0, bytes.length))

  override def read(n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var got = 0
    while (got < n) {
      if (hungUp)
        throw new java.io.IOException("connection closed by the server")
      if (queue.isEmpty)
        throw new java.io.EOFException("server has nothing more to send")
      val c = queue.head
      val take = math.min(n - got, c.len)
      System.arraycopy(c.bytes, c.off, out, got, take)
      got += take
      if (take == c.len) queue.dequeue()
      else queue(0) = Chunk(c.bytes, c.off + take, c.len - take)
    }
    server.wireBytes.addAndGet(n.toLong)
    val now = System.nanoTime()
    if (firstReadNs == 0L) firstReadNs = now
    lastReadNs = now
    out
  }

  override def readSome(max: Int): Array[Byte] =
    read(math.max(1, math.min(max, queue.headOption.map(_.len).getOrElse(1))))

  /** Client packets drive the script: handshake reply → OK, COM_QUERY →
    * OK, COM_BINLOG_DUMP → the dump from the requested position.
    */
  override def write(bytes: Array[Byte]): Unit = {
    pending.write(bytes)
    var buf = pending.toByteArray
    while (buf.length >= 4 && {
      val len = (buf(0) & 0xff) | ((buf(1) & 0xff) << 8) |
        ((buf(2) & 0xff) << 16)
      buf.length >= 4 + len
    }) {
      val len = (buf(0) & 0xff) | ((buf(1) & 0xff) << 8) |
        ((buf(2) & 0xff) << 16)
      val seq = buf(3) & 0xff
      val payload = java.util.Arrays.copyOfRange(buf, 4, 4 + len)
      answer(seq, payload)
      buf = java.util.Arrays.copyOfRange(buf, 4 + len, buf.length)
    }
    pending.reset()
    pending.write(buf)
  }

  private def answer(seq: Int, payload: Array[Byte]): Unit =
    if (refuse) hungUp = true
    else payload.headOption.map(_ & 0xff) match {
      case Some(0x12) =>
        val pos = (0 until 4).map(i => (payload(1 + i) & 0xffL) << (8 * i))
          .sum
        val file = new String(payload, 11, payload.length - 11, "UTF-8")
        server.dumpFrom(file, pos).foreach(enqueue)
        enqueue(packet(0, Array[Byte](0xfe.toByte, 0, 0, 2, 0)))
      case _ => enqueue(packet(seq + 1, Ok))
    }

  override def close(): Unit = closed = true
}

object MysqlServerWire {

  final case class Chunk(bytes: Array[Byte], off: Int, len: Int)

  private val Ok = Array[Byte](0x00, 0, 0, 2, 0, 0, 0)

  def packet(seq: Int, payload: Array[Byte]): Array[Byte] =
    Array[Byte]((payload.length & 0xff).toByte,
      ((payload.length >> 8) & 0xff).toByte,
      ((payload.length >> 16) & 0xff).toByte, seq.toByte) ++ payload

  private val greeting: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val scramble = Array.tabulate[Byte](20)(i => (i + 1).toByte)
    out.write(10)
    out.write("8.0.36-perfbench".getBytes("UTF-8")); out.write(0)
    out.write(Array[Byte](7, 0, 0, 0))
    out.write(scramble.take(8)); out.write(0)
    out.write(Array[Byte](0xff.toByte, 0xf7.toByte))
    out.write(45)
    out.write(Array[Byte](2, 0))
    out.write(Array[Byte](0x08, 0x00))
    out.write(21)
    out.write(new Array[Byte](10))
    out.write(scramble.drop(8)); out.write(0)
    out.write("mysql_native_password".getBytes("UTF-8")); out.write(0)
    out.toByteArray
  }

  private def le(b: Array[Byte], off: Int, n: Int): Long = {
    var v = 0L; var i = 0
    while (i < n) { v |= (b(off + i) & 0xffL) << (8 * i); i += 1 }
    v
  }

  /** The server side shared by every session of one task run: binlog
    * files pre-framed as event packets, and the counters the transport
    * layer reports.
    */
  private final case class FileImage(name: String, packets: Array[Byte],
      positions: Array[Long], offsets: Array[Int], fde: Array[Byte])

  final class Server(binlog: Gen.Binlog) {

    private val images: IndexedSeq[FileImage] = binlog.files.map {
      case (name, bytes) =>
        val pk = new java.io.ByteArrayOutputStream(bytes.length * 11 / 10)
        val pos = Array.newBuilder[Long]
        val off = Array.newBuilder[Int]
        var fde: Array[Byte] = null
        var p = 4
        var seq = 1
        while (p < bytes.length) {
          val len = le(bytes, p + 9, 4).toInt
          val ev = java.util.Arrays.copyOfRange(bytes, p, p + len)
          if (fde == null) fde = ev
          pos += p.toLong
          off += pk.size()
          pk.write(packet(seq, Array[Byte](0x00) ++ ev))
          seq = (seq + 1) & 0xff
          p += len
        }
        FileImage(name, pk.toByteArray, pos.result(), off.result(), fde)
    }.toIndexedSeq

    val wireBytes = new AtomicLong(0L)

    /** What a server sends for `COM_BINLOG_DUMP(file, pos)`: an
      * artificial Rotate naming the start file, that file's FDE when
      * the start is past it, then every event from `pos` on through the
      * last file.
      */
    def dumpFrom(file: String, pos: Long): Seq[Chunk] = {
      val start = math.max(0, images.indexWhere(_.name == file))
      val img = images(start)
      val from = math.max(pos, 4L)
      val i = java.util.Arrays.binarySearch(img.positions, from)
      require(i >= 0, s"dump position $from is not an event start in " +
        img.name)
      val name = img.name.getBytes("UTF-8")
      val rot = new java.io.ByteArrayOutputStream()
      def w(v: Long, n: Int): Unit =
        (0 until n).foreach(k => rot.write(((v >> (8 * k)) & 0xff).toInt))
      w(0, 4); rot.write(0x04); w(1, 4); w(19 + 8 + name.length, 4)
      w(0, 4); w(0x20, 2); w(from, 8); rot.write(name)
      val head = Seq(Chunk(packet(1, Array[Byte](0x00) ++ rot.toByteArray),
        0, 0)).map(c => c.copy(len = c.bytes.length))
      val fde =
        if (i == 0) Nil
        else {
          val p = packet(1, Array[Byte](0x00) ++ img.fde)
          Seq(Chunk(p, 0, p.length))
        }
      val rest = Chunk(img.packets, img.offsets(i),
        img.packets.length - img.offsets(i)) +:
        images.drop(start + 1).map(f => Chunk(f.packets, 0, f.packets.length))
      head ++ fde ++ rest
    }
  }
}
