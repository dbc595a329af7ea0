package graft.transport

/** MySQL client/server wire protocol — the slice a replication client
  * needs (public protocol, documented at
  * dev.mysql.com/doc/dev/mysql-server/latest/page_protocol_basics.html):
  * packet framing, the v10 initial handshake, HandshakeResponse41 with
  * `mysql_native_password`, COM_QUERY, and the two binlog dump
  * commands. The reference reaches this layer through the
  * mysql_binlog_connector_rust crate
  * (dt-connector/src/extractor/mysql/binlog_util.rs:3); here it is
  * implemented directly so [[MysqlReplicationPump]] owns its protocol
  * state machine and every encode/decode is unit-testable.
  */
object MysqlWire {

  // ------------------------------------------------------------ framing

  /** One protocol packet: 3-byte LE payload length + 1-byte sequence. */
  def readPacket(wire: Wire): (Int, Array[Byte]) = {
    val head = wire.read(4)
    val len = (head(0) & 0xff) | ((head(1) & 0xff) << 8) |
      ((head(2) & 0xff) << 16)
    val seq = head(3) & 0xff
    (seq, if (len == 0) Array.emptyByteArray else wire.read(len))
  }

  def writePacket(wire: Wire, seq: Int, payload: Array[Byte]): Unit = {
    require(payload.length < 0xffffff, "multi-packet writes unsupported")
    val head = Array[Byte](
      (payload.length & 0xff).toByte,
      ((payload.length >> 8) & 0xff).toByte,
      ((payload.length >> 16) & 0xff).toByte,
      (seq & 0xff).toByte)
    wire.write(head ++ payload)
  }

  // --------------------------------------------------------- handshake

  /** Server's initial handshake (protocol version 10). `scramble` is
    * the 20-byte auth-plugin-data (part 1 ++ part 2 minus the trailing
    * NUL) that salts the password hash.
    */
  final case class Handshake(serverVersion: String, threadId: Long,
      scramble: Array[Byte], capabilities: Long, authPlugin: String)

  def parseHandshake(payload: Array[Byte]): Handshake = {
    var p = 0
    def u8(): Int = { val v = payload(p) & 0xff; p += 1; v }
    def leU(n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) { v |= (payload(p + i) & 0xffL) << (8 * i); i += 1 }
      p += n; v
    }
    def cstr(): String = {
      val s = p
      while (payload(p) != 0) p += 1
      val out = new String(payload, s, p - s, "UTF-8"); p += 1; out
    }
    val proto = u8()
    require(proto == 10, s"unsupported handshake protocol $proto")
    val version = cstr()
    val threadId = leU(4)
    val scramble1 = payload.slice(p, p + 8); p += 8
    p += 1 // filler
    val capLow = leU(2)
    var caps = capLow
    var authPlugin = "mysql_native_password"
    var scramble2 = Array.emptyByteArray
    if (p < payload.length) {
      p += 1 // charset
      p += 2 // status flags
      val capHigh = leU(2)
      caps |= capHigh << 16
      val authDataLen = u8()
      p += 10 // reserved
      if ((caps & CapSecureConnection) != 0) {
        val n = math.max(13, authDataLen - 8)
        scramble2 = payload.slice(p, p + n - 1) // drop trailing NUL
        p += n
      }
      if ((caps & CapPluginAuth) != 0) authPlugin = cstr()
    }
    Handshake(version, threadId, scramble1 ++ scramble2, caps,
      authPlugin)
  }

  // client capability flags (public constants)
  val CapLongPassword = 0x00000001L
  val CapProtocol41 = 0x00000200L
  val CapSsl = 0x00000800L
  val CapSecureConnection = 0x00008000L
  val CapPluginAuth = 0x00080000L

  /** `mysql_native_password`: SHA1(pw) XOR SHA1(scramble ++
    * SHA1(SHA1(pw))). Empty password → empty response.
    */
  def nativePassword(password: String, scramble: Array[Byte])
      : Array[Byte] = {
    if (password.isEmpty) return Array.emptyByteArray
    val sha1 = java.security.MessageDigest.getInstance("SHA-1")
    val h1 = sha1.digest(password.getBytes("UTF-8"))
    sha1.reset()
    val h2 = sha1.digest(h1)
    sha1.reset()
    sha1.update(scramble)
    sha1.update(h2)
    val h3 = sha1.digest()
    h1.indices.toArray.map(i => (h1(i) ^ h3(i)).toByte)
  }

  /** `caching_sha2_password` fast-path scramble (MySQL 8's default
    * plugin — `mysql_native_password` is off by default in 8.4):
    * XOR(SHA256(pw), SHA256(SHA256(SHA256(pw)) ++ nonce)). The fast
    * path completes when the server has the password cached
    * (AuthMoreData 0x03); the full path (0x04) requires TLS or RSA
    * key exchange and is refused loudly by the pump.
    */
  def cachingSha2Password(password: String, scramble: Array[Byte])
      : Array[Byte] = {
    if (password.isEmpty) return Array.emptyByteArray
    def sha256(b: Array[Byte]): Array[Byte] =
      java.security.MessageDigest.getInstance("SHA-256").digest(b)
    val h1 = sha256(password.getBytes("UTF-8"))
    val h3 = sha256(sha256(sha256(password.getBytes("UTF-8"))) ++
      scramble)
    h1.indices.toArray.map(i => (h1(i) ^ h3(i)).toByte)
  }

  /** Auth bytes for a plugin name (auth-switch uses the same table). */
  def authResponse(plugin: String, password: String,
      scramble: Array[Byte]): Array[Byte] = plugin match {
    case "mysql_native_password" => nativePassword(password, scramble)
    case "caching_sha2_password" =>
      cachingSha2Password(password, scramble)
    case other => throw new java.io.IOException(
      s"unsupported auth plugin $other (mysql_native_password and " +
        "caching_sha2_password are implemented)")
  }

  /** HandshakeResponse41 (no database, utf8mb4). `extraCaps` adds
    * CLIENT_SSL when the session negotiated TLS — the capability bits
    * in the response must match the SSLRequest preamble.
    */
  def handshakeResponse(user: String, password: String,
      scramble: Array[Byte],
      plugin: String = "mysql_native_password",
      extraCaps: Long = 0L): Array[Byte] = {
    val caps = CapLongPassword | CapProtocol41 | CapSecureConnection |
      CapPluginAuth | extraCaps
    val out = new java.io.ByteArrayOutputStream()
    def le(v: Long, n: Int): Unit =
      (0 until n).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))
    le(caps, 4)
    le(0xffffff, 4) // max packet
    out.write(45) // utf8mb4_general_ci
    out.write(new Array[Byte](23)) // reserved
    out.write(user.getBytes("UTF-8")); out.write(0)
    val auth = authResponse(plugin, password, scramble)
    out.write(auth.length) // length-encoded (always < 251 here)
    out.write(auth)
    out.write(plugin.getBytes("UTF-8")); out.write(0)
    out.toByteArray
  }

  /** SSLRequest — the 32-byte STARTTLS preamble (the first half of a
    * HandshakeResponse41, capability bits including CLIENT_SSL, sent
    * in the clear; the TLS handshake follows on the same connection
    * and the full HandshakeResponse then goes over TLS).
    */
  def sslRequest(): Array[Byte] = {
    val caps = CapLongPassword | CapProtocol41 | CapSecureConnection |
      CapPluginAuth | CapSsl
    val out = new java.io.ByteArrayOutputStream()
    def le(v: Long, n: Int): Unit =
      (0 until n).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))
    le(caps, 4)
    le(0xffffff, 4) // max packet
    out.write(45) // utf8mb4_general_ci
    out.write(new Array[Byte](23)) // reserved
    out.toByteArray
  }

  /** `caching_sha2_password` full-auth over a PLAINTEXT channel: the
    * password (NUL-terminated) XOR the 20-byte scramble (cycled),
    * RSA-OAEP(SHA-1)-encrypted with the server's public key — the
    * sha256_password_public_key exchange (the server sends its PEM in
    * an AuthMoreData packet after the client requests it with 0x02).
    * Over TLS the full-auth answer is simply the NUL-terminated
    * password; this path exists so a TLS-less deployment still
    * authenticates against MySQL 8's default plugin.
    */
  def rsaEncryptedPassword(password: String, scramble: Array[Byte],
      publicKeyPem: String): Array[Byte] = {
    val pw = password.getBytes("UTF-8") :+ 0.toByte
    val obfuscated = pw.indices.toArray.map(i =>
      (pw(i) ^ scramble(i % scramble.length)).toByte)
    val der = java.util.Base64.getMimeDecoder.decode(
      publicKeyPem.linesIterator
        .filterNot(_.startsWith("-----")).mkString("\n"))
    val key = java.security.KeyFactory.getInstance("RSA")
      .generatePublic(new java.security.spec.X509EncodedKeySpec(der))
    val cipher = javax.crypto.Cipher
      .getInstance("RSA/ECB/OAEPWithSHA-1AndMGF1Padding")
    cipher.init(javax.crypto.Cipher.ENCRYPT_MODE, key)
    cipher.doFinal(obfuscated)
  }

  /** AuthSwitchRequest (0xfe + plugin cstring + new scramble). */
  final case class AuthSwitch(plugin: String, scramble: Array[Byte])

  def parseAuthSwitch(payload: Array[Byte]): AuthSwitch = {
    require((payload(0) & 0xff) == 0xfe, "not an auth switch")
    var p = 1
    while (payload(p) != 0) p += 1
    val plugin = new String(payload, 1, p - 1, "UTF-8")
    p += 1
    // trailing NUL on the scramble when present
    val end = if (payload.last == 0) payload.length - 1
      else payload.length
    AuthSwitch(plugin, payload.slice(p, end))
  }

  // ---------------------------------------------------------- replies

  sealed trait Reply
  final case class Ok(info: String) extends Reply
  final case class Err(code: Int, message: String) extends Reply
  final case class Eof() extends Reply
  /** Anything else (result-set packets, binlog event payloads). */
  final case class Data(payload: Array[Byte]) extends Reply

  def classify(payload: Array[Byte]): Reply =
    (payload(0) & 0xff) match {
      case 0x00 => Ok("")
      case 0xff =>
        val code = (payload(1) & 0xff) | ((payload(2) & 0xff) << 8)
        // skip the '#' + 5-byte SQL state marker when present
        val msgStart = if (payload.length > 3 && payload(3) == '#') 9
          else 3
        Err(code, new String(payload, msgStart,
          payload.length - msgStart, "UTF-8"))
      case 0xfe if payload.length < 9 => Eof()
      case _ => Data(payload)
    }

  // --------------------------------------------------------- commands

  def comQuery(sql: String): Array[Byte] =
    Array(0x03.toByte) ++ sql.getBytes("UTF-8")

  /** COM_BINLOG_DUMP (0x12): stream from (filename, pos). */
  def comBinlogDump(serverId: Long, file: String, pos: Long)
      : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x12)
    def le(v: Long, n: Int): Unit =
      (0 until n).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))
    le(pos, 4)
    le(0, 2) // flags: block at EOF (keep streaming)
    le(serverId, 4)
    out.write(file.getBytes("UTF-8"))
    out.toByteArray
  }

  /** COM_BINLOG_DUMP_GTID (0x1e): stream everything NOT in `gtidSet`.
    * The GTID-set payload is the public binary form: n_sids, then per
    * sid 16 raw UUID bytes + interval list [start, end+1).
    */
  def comBinlogDumpGtid(serverId: Long, gtidSet: graft.meta.GtidSet)
      : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def le(v: Long, n: Int): Unit =
      (0 until n).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))
    out.write(0x1e)
    le(4, 2) // flags: BINLOG_THROUGH_GTID
    le(serverId, 4)
    le(0, 4) // binlog filename length (empty: position by GTID)
    le(4, 8) // binlog position (4 = BIN_LOG_HEADER_SIZE)
    val data = encodeGtidSet(gtidSet)
    le(data.length.toLong, 4)
    out.write(data)
    out.toByteArray
  }

  def encodeGtidSet(set: graft.meta.GtidSet): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def le(v: Long, n: Int): Unit =
      (0 until n).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))
    val view = set.intervalView
    val sids = view.keys.toSeq.sorted
    le(sids.size.toLong, 8)
    sids.foreach { sid =>
      out.write(uuidBytes(sid))
      val ivs = view(sid)
      le(ivs.size.toLong, 8)
      ivs.foreach { case (lo, hi) =>
        le(lo, 8)
        le(hi + 1, 8) // wire form is exclusive end
      }
    }
    out.toByteArray
  }

  def uuidBytes(sid: String): Array[Byte] = {
    val hex = sid.replace("-", "")
    require(hex.length == 32, s"bad server uuid: $sid")
    hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  }
}
