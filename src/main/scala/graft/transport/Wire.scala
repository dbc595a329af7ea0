package graft.transport

/** Byte-stream transport seam for the live dial-and-pump clients
  * ([[MysqlReplicationPump]], [[PgReplicationPump]]). The protocol
  * state machines are written against this trait so every branch —
  * handshake, auth, TLS negotiation, resume, keepalive ack, reconnect
  * — is spec-driven over [[FakeWire]] without a server; [[SocketWire]]
  * is the real TCP face a deployment uses (reference contract:
  * dt-connector/src/extractor/mysql/mysql_cdc_extractor.rs:141-192 and
  * extractor/pg/pg_cdc_client.rs:219-291, which dial through client
  * crates this sandbox cannot exercise).
  */
trait Wire {
  /** Exactly `n` bytes, blocking; throws java.io.EOFException when the
    * peer closes mid-read (the pump's reconnect trigger).
    */
  def read(n: Int): Array[Byte]

  /** At least 1 and at most `max` bytes — the unframed-stream read a
    * RESP replication tail needs (no length prefix to wait for).
    * Blocks for the first byte; throws EOF on close.
    */
  def readSome(max: Int): Array[Byte]

  def write(bytes: Array[Byte]): Unit

  def close(): Unit
}

/** The blocking-stream implementation the socket faces share. */
private[transport] trait StreamingWire extends Wire {
  protected def in: java.io.DataInputStream
  protected def out: java.io.OutputStream
  protected def closeUnderlying(): Unit

  override final def read(n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    in.readFully(buf)
    buf
  }

  override final def readSome(max: Int): Array[Byte] = {
    val buf = new Array[Byte](max)
    val n = in.read(buf, 0, max)
    if (n < 0) throw new java.io.EOFException("peer closed")
    java.util.Arrays.copyOf(buf, n)
  }

  override final def write(bytes: Array[Byte]): Unit = {
    out.write(bytes); out.flush()
  }

  override final def close(): Unit = closeUnderlying()
}

/** Live TCP transport. Compiles and is exercised for construction
  * errors only — no server exists in CI; the protocol logic above it
  * is covered on [[FakeWire]]. Carries its endpoint so a mid-protocol
  * TLS upgrade ([[Tls.upgrade]]) can layer JSSE over the connected
  * socket (MySQL SSLRequest / PG SSLRequest are both STARTTLS-style:
  * the same TCP connection continues under TLS).
  */
final class SocketWire(host: String, port: Int,
    connectTimeoutMs: Int = 10000, readTimeoutMs: Int = 60000)
    extends StreamingWire {
  private val socket = new java.net.Socket()
  socket.setTcpNoDelay(true)
  socket.setKeepAlive(true)
  socket.setSoTimeout(readTimeoutMs)
  try socket.connect(
    new java.net.InetSocketAddress(host, port), connectTimeoutMs)
  catch {
    // a timed-out/refused connect must not leak the half-open fd —
    // the supervision ladder retries dials on a cadence, and every
    // failed attempt would otherwise strand one until finalization
    case e: Throwable => socket.close(); throw e
  }
  override protected val in = new java.io.DataInputStream(
    new java.io.BufferedInputStream(socket.getInputStream))
  override protected val out = new java.io.BufferedOutputStream(
    socket.getOutputStream)
  override protected def closeUnderlying(): Unit = socket.close()

  /** Layer TLS over the connected socket (after the protocol's
    * STARTTLS preamble, or immediately after connect for from-byte-0
    * TLS schemes like rediss://). Returns the wire to use from here.
    */
  private[transport] def upgradeTls(mode: String): Wire =
    new TlsWire(Tls.sslSocket(socket, host, port, mode))
}

/** The post-upgrade TLS face over an established socket. */
final class TlsWire(ssl: javax.net.ssl.SSLSocket)
    extends StreamingWire {
  override protected val in = new java.io.DataInputStream(
    new java.io.BufferedInputStream(ssl.getInputStream))
  override protected val out = new java.io.BufferedOutputStream(
    ssl.getOutputStream)
  override protected def closeUnderlying(): Unit = ssl.close()
}

/** TLS negotiation policy — the `?ssl-mode=` / `?sslmode=` URL surface
  * the reference's connection strings carry
  * (/root/reference/docs/en/config.md:31 shows `ssl-mode=disabled`;
  * its client crates negotiate the rest). Mode names accept both the
  * MySQL (`DISABLED/PREFERRED/REQUIRED/VERIFY_CA/VERIFY_IDENTITY`) and
  * PG (`disable/prefer/require/verify-ca/verify-full`) spellings.
  */
object Tls {

  /** Canonical mode: disabled | preferred | required | verify-ca |
    * verify-identity.
    */
  def normalizeMode(raw: String): String =
    raw.toLowerCase.replace("_", "-") match {
      case "" | "disabled" | "disable" => "disabled"
      case "preferred" | "prefer" | "allow" => "preferred"
      case "required" | "require" => "required"
      case "verify-ca" => "verify-ca"
      case "verify-identity" | "verify-full" => "verify-identity"
      case other =>
        throw new IllegalArgumentException(s"unknown ssl-mode: $other")
    }

  def wanted(mode: String): Boolean = normalizeMode(mode) != "disabled"

  /** Upgrade a dialed wire to TLS. Only the socket face can (the
    * upgrade wraps the live TCP connection); pumps take this as an
    * injectable `(Wire, mode) => Wire` so specs script the preamble
    * state machine on [[FakeWire]] without real TLS.
    */
  def upgrade(wire: Wire, mode: String): Wire = wire match {
    case s: SocketWire => s.upgradeTls(mode)
    case other => throw new java.io.IOException(
      s"ssl-mode=$mode needs a socket transport to upgrade, got " +
        other.getClass.getSimpleName)
  }

  /** JSSE layering. `required`/`preferred` encrypt WITHOUT certificate
    * verification — the standard client semantic for those modes (a
    * MySQL `--ssl-mode=REQUIRED` or PG `sslmode=require` client does
    * the same); `verify-ca` pins to the default trust store and
    * `verify-identity` additionally checks the hostname.
    */
  private[transport] def sslSocket(plain: java.net.Socket,
      host: String, port: Int, mode: String)
      : javax.net.ssl.SSLSocket = {
    import javax.net.ssl._
    val m = normalizeMode(mode)
    val ctx = m match {
      case "verify-ca" | "verify-identity" => SSLContext.getDefault
      case _ =>
        val c = SSLContext.getInstance("TLS")
        c.init(null, Array[TrustManager](new X509TrustManager {
          override def checkClientTrusted(
              chain: Array[java.security.cert.X509Certificate],
              authType: String): Unit = ()
          override def checkServerTrusted(
              chain: Array[java.security.cert.X509Certificate],
              authType: String): Unit = ()
          override def getAcceptedIssuers
              : Array[java.security.cert.X509Certificate] = Array.empty
        }), null)
        c
    }
    val ssl = ctx.getSocketFactory
      .createSocket(plain, host, port, true)
      .asInstanceOf[SSLSocket]
    if (m == "verify-identity") {
      val p = ssl.getSSLParameters
      p.setEndpointIdentificationAlgorithm("HTTPS")
      ssl.setSSLParameters(p)
    }
    ssl.setUseClientMode(true)
    ssl.startHandshake()
    ssl
  }
}

/** Scripted transport for specs: the test enqueues the bytes the
  * "server" will serve (optionally with a planted failure), and
  * inspects everything the client wrote. Serving and failure order is
  * byte-exact, so framing bugs surface as EOF/garbage instead of
  * passing silently.
  */
final class FakeWire extends Wire {
  // served bytes live in one growable array that reads index into, so a
  // read costs what it returns, never a copy of the whole stream;
  // serve and read lock the wire, as a spec may serve from another
  // thread
  private var served = new Array[Byte](256)
  private var size = 0
  private var cursor = 0
  private var failAt: Int = -1 // absolute served-byte offset
  val sent = new java.io.ByteArrayOutputStream()
  var closed = false

  /** Enqueue bytes the next reads will return. */
  def serve(bytes: Array[Byte]): Unit = synchronized {
    if (size + bytes.length > served.length)
      served = java.util.Arrays.copyOf(served,
        math.max(size + bytes.length, served.length * 2))
    System.arraycopy(bytes, 0, served, size, bytes.length)
    size += bytes.length
  }

  /** Plant a connection failure once `read` crosses `atOffset` bytes
    * total — the reconnect-path trigger.
    */
  def failAfter(atOffset: Int): Unit = failAt = atOffset

  override def read(n: Int): Array[Byte] = synchronized {
    if (failAt >= 0 && cursor + n > failAt)
      throw new java.io.IOException("planted connection failure")
    if (cursor + n > size)
      throw new java.io.EOFException(
        s"fake wire drained: want $n at $cursor of $size")
    val out = java.util.Arrays.copyOfRange(served, cursor, cursor + n)
    cursor += n
    out
  }

  override def readSome(max: Int): Array[Byte] = synchronized {
    if (failAt >= 0 && cursor >= failAt)
      throw new java.io.IOException("planted connection failure")
    if (cursor >= size)
      throw new java.io.EOFException("fake wire drained")
    val take = math.min(max, size - cursor)
    val capped = if (failAt >= 0) math.min(take, failAt - cursor)
      else take
    read(math.max(1, capped))
  }

  override def write(bytes: Array[Byte]): Unit = sent.write(bytes)

  override def close(): Unit = closed = true

  def sentBytes: Array[Byte] = sent.toByteArray
  def remaining: Int = synchronized(size - cursor)
}
