package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with a typed metadata struct, decoded/feature-extracted in
  * batch per partition.
  *
  * The real decode (JPEG/PNG/audio codecs) is STUBBED — those libraries
  * are not in this container — behind [[MediaDecoder]], with a
  * deterministic fake implementation. Everything Spark-side is real and
  * tested: the schema contract, binary payload handling, per-partition
  * batched UDF shape (`mapPartitions`, the JVM analog of `mapInPandas`
  * batches), and partitioning discipline (media bytes never shuffle —
  * features are extracted before any wide operation).
  */
object Multimodal {

  /** Decode/feature-extraction contract — the stub boundary. */
  trait MediaDecoder extends Serializable {
    /** Returns (width, height, nFrames) for a payload. */
    def decode(mime: String, payload: Array[Byte]): (Int, Int, Int)
  }

  /** Deterministic fake: "dimensions" derived from payload bytes. A real
    * deployment swaps in an actual codec; the pipeline shape is unchanged.
    */
  object StubDecoder extends MediaDecoder {
    def decode(mime: String, payload: Array[Byte]): (Int, Int, Int) = {
      // ??? — real codec goes here; the fake is stable per payload.
      val n = payload.length
      val checksum = payload.foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) %
        1000003L)
      ((checksum % 640).toInt + 1, (checksum % 480).toInt + 1,
        (n % 30) + 1)
    }
  }

  /** Container-header parser for the common image formats — dimensions
    * live in the (public, stable) container header, not the compressed
    * stream, so width/height extraction needs no codec library: PNG
    * IHDR (big-endian at offset 16/20), JPEG SOF marker walk, GIF
    * logical screen (little-endian at 6/8), BMP DIB header. This is the
    * REAL half of the decode boundary; pixel decoding stays stubbed.
    */
  object ImageHeader {
    /** (mime, width, height), or None when no known signature parses. */
    def parse(p: Array[Byte]): Option[(String, Int, Int)] = {
      def u8(i: Int) = p(i) & 0xff
      def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
      def be32(i: Int) =
        (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
      def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
      def le32(i: Int) =
        u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
      if (p.length >= 24 && u8(0) == 0x89 && u8(1) == 'P' &&
          u8(2) == 'N' && u8(3) == 'G')
        Some(("image/png", be32(16), be32(20)))
      else if (p.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
        // walk FF-marker segments to the first frame header (SOF0-15
        // minus DHT/JPG/DAC); standalone markers have no length field
        var i = 2
        var out: Option[(String, Int, Int)] = None
        var bad = false
        while (out.isEmpty && !bad && i + 9 < p.length) {
          if (u8(i) != 0xff) bad = true
          else {
            val m = u8(i + 1)
            if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2
            else if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 &&
                m != 0xcc)
              out = Some(("image/jpeg", be16(i + 7), be16(i + 5)))
            else i += 2 + be16(i + 2)
          }
        }
        out
      } else if (p.length >= 10 && u8(0) == 'G' && u8(1) == 'I' &&
          u8(2) == 'F')
        Some(("image/gif", le16(6), le16(8)))
      else if (p.length >= 26 && u8(0) == 'B' && u8(1) == 'M')
        Some(("image/bmp", le32(18), le32(22)))
      else None
    }
  }

  /** RIFF/WAVE container parser — like [[ImageHeader]], the audio
    * facts a pipeline needs (channels, sample rate, sample width,
    * duration) live in the PUBLIC container header, not the sample
    * stream: "RIFF" + size + "WAVE", then a chunk walk ("fmt " for
    * PCM layout, "data" for payload size). The walk is generic — any
    * chunk order, unknown chunks skipped by their declared size (odd
    * sizes pad to even, per RIFF) — so a real capture with LIST/INFO
    * chunks parses the same as the synthetic fixture.
    */
  object RiffHeader {
    final case class Wav(channels: Int, sampleRate: Int, bits: Int,
        dataBytes: Int) {
      def nSamples: Long =
        // bits < 8 (e.g. 4-bit ADPCM) would make bits/8 zero; treat any
        // sub-byte sample width as unknown rather than divide by zero
        if (channels <= 0 || bits < 8) 0L
        else dataBytes.toLong / (channels.toLong * (bits / 8))
      def durationMs: Long =
        if (sampleRate <= 0) 0L else nSamples * 1000L / sampleRate
    }

    def parse(p: Array[Byte]): Option[Wav] = {
      def u8(i: Int) = p(i) & 0xff
      def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
      def le32(i: Int) =
        u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
      def tag(i: Int) = new String(p, i, 4, "US-ASCII")
      if (p.length < 12 || tag(0) != "RIFF" || tag(8) != "WAVE")
        return None
      // Long cursor: a chunk declaring a size near Int.MaxValue must
      // walk off the end and stop, not overflow into a negative index
      var i = 12L
      var fmt: Option[(Int, Int, Int)] = None
      var dataBytes = -1
      while (i + 8 <= p.length && (fmt.isEmpty || dataBytes < 0)) {
        val at = i.toInt
        val id = tag(at)
        val size = le32(at + 4)
        if (size < 0) return None
        id match {
          case "fmt " if size >= 16 && i + 8 + size <= p.length =>
            fmt = Some((le16(at + 10), le32(at + 12), le16(at + 22)))
          case "data" =>
            // declared size; the payload itself may be truncated or
            // absent (streamed captures declare ahead of the samples)
            dataBytes = size
          case _ => ()
        }
        i += 8L + size + (size & 1) // RIFF pads odd chunks to even
      }
      fmt.collect { case (ch, rate, bits) if dataBytes >= 0 =>
        Wav(ch, rate, bits, dataBytes)
      }
    }
  }

  /** ISO-BMFF (MP4/MOV) box-tree parser — the video analog of
    * [[ImageHeader]]/[[RiffHeader]]: every fact a curation pipeline
    * needs about a video file (duration, dimensions, track layout,
    * language) lives in the PUBLIC container metadata (`moov` and its
    * children, ISO/IEC 14496-12), not the compressed sample stream, so
    * extraction needs no codec. The walk is a real recursive box scan:
    * 32-bit sizes, the 64-bit `size==1` largesize escape, `size==0`
    * to-end-of-enclosure, unknown boxes skipped by declared size, and
    * version-0/version-1 FullBox layouts for `mvhd`/`tkhd`/`mdhd`.
    * Only sample DATA decoding (the `mdat` payload) stays behind the
    * stub boundary.
    */
  object Mp4Box {
    final case class VideoMeta(brand: String, mvhdVersion: Int,
        timescale: Long, durationMs: Long, trackId: Long,
        mediaTimescale: Long, width: Int, height: Int,
        handler: String, lang: String)

    private final class Malformed extends RuntimeException

    /** Parse the first video (`hdlr == "vide"`) track's metadata, or
      * None when the bytes are not a well-formed MP4 with a video
      * track. Truncations, impossible sizes, and missing boxes all
      * land on None — a corpus scan classifies instead of crashing.
      */
    def parse(p: Array[Byte]): Option[VideoMeta] = {
      def u8(i: Long): Int = p(i.toInt) & 0xff
      def be16(i: Long): Int = (u8(i) << 8) | u8(i + 1)
      def be32(i: Long): Long =
        ((u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) |
          u8(i + 3)) & 0xffffffffL
      def be64(i: Long): Long = (be32(i) << 32) | be32(i + 4)
      def tag(i: Long): String = new String(p, i.toInt, 4, "US-ASCII")

      // Walk the boxes in [start, end), yielding (type, body, boxEnd).
      // Size bookkeeping in Long: a corrupt 32-bit size near 2^32 must
      // walk out of bounds and fail, not wrap into a negative cursor.
      def walk(start: Long, end: Long)(f: (String, Long, Long) => Unit)
          : Unit = {
        var i = start
        while (i + 8 <= end) {
          val size32 = be32(i)
          val typ = tag(i + 4)
          var body = i + 8
          val boxEnd =
            if (size32 == 1L) {
              if (i + 16 > end) throw new Malformed
              body = i + 16
              i + be64(i + 8)
            } else if (size32 == 0L) end
            else i + size32
          if (boxEnd < body || boxEnd > end) throw new Malformed
          f(typ, body, boxEnd)
          i = boxEnd
        }
      }

      def langStr(packed: Int): String = new String(Array(
        (((packed >> 10) & 0x1f) + 0x60).toChar,
        (((packed >> 5) & 0x1f) + 0x60).toChar,
        ((packed & 0x1f) + 0x60).toChar))

      try {
        var brand: Option[String] = None
        var mvhdV = -1
        var ts = 0L
        var dur = 0L
        var video: Option[(Long, Long, Int, Int, String)] = None
        walk(0L, p.length.toLong) { (t, b, e) =>
          t match {
            case "ftyp" if e - b >= 8 => brand = Some(tag(b))
            case "moov" => walk(b, e) { (t2, b2, e2) =>
              t2 match {
                case "mvhd" =>
                  mvhdV = u8(b2)
                  if (mvhdV == 1) { ts = be32(b2 + 20); dur = be64(b2 + 24) }
                  else { ts = be32(b2 + 12); dur = be32(b2 + 16) }
                case "trak" if video.isEmpty =>
                  var tid = -1L
                  var w = 0; var h = 0
                  var mts = 0L
                  var hdl = ""; var lang = ""
                  walk(b2, e2) { (t3, b3, e3) =>
                    t3 match {
                      case "tkhd" =>
                        tid =
                          if (u8(b3) == 1) be32(b3 + 20) else be32(b3 + 12)
                        // width/height close the box: 16.16 fixed point
                        w = (be32(e3 - 8) >> 16).toInt
                        h = (be32(e3 - 4) >> 16).toInt
                      case "mdia" => walk(b3, e3) { (t4, b4, e4) =>
                        t4 match {
                          case "mdhd" =>
                            val v = u8(b4)
                            mts = if (v == 1) be32(b4 + 20) else be32(b4 + 12)
                            lang = langStr(
                              be16(if (v == 1) b4 + 32 else b4 + 20))
                          case "hdlr" if e4 - b4 >= 12 => hdl = tag(b4 + 8)
                          case _ => ()
                        }
                      }
                      case _ => ()
                    }
                  }
                  if (hdl == "vide" && tid >= 0)
                    video = Some((tid, mts, w, h, lang))
                case _ => ()
              }
            }
            case _ => ()
          }
        }
        for {
          br <- brand
          (tid, mts, w, h, lang) <- video
          if mvhdV >= 0 && ts > 0
        } yield VideoMeta(br, mvhdV, ts, dur * 1000L / ts, tid, mts, w, h,
          "vide", lang)
      } catch {
        case _: Malformed | _: ArrayIndexOutOfBoundsException |
            _: StringIndexOutOfBoundsException => None
      }
    }
  }

  /** Real header parse with stub fallback for unrecognized payloads. */
  object HeaderDecoder extends MediaDecoder {
    def decode(mime: String, payload: Array[Byte]): (Int, Int, Int) =
      ImageHeader.parse(payload) match {
        case Some((_, w, h)) => (w, h, 1)
        case None => StubDecoder.decode(mime, payload)
      }
  }

  /** Synthesize a media table from documents (text bytes stand in for an
    * image payload).
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      encode(col("text"), "utf-8").as("media"),
      struct(lit("text/plain").as("mime"),
        col("source").as("source")).as("meta"))

  /** Feature extraction over batches: per-partition decode keeping the
    * iterator lazy (no full-partition materialization), emitting a narrow
    * feature row — media bytes are dropped before any shuffle.
    */
  def extractFeatures(media: DataFrame,
      decoder: MediaDecoder = StubDecoder): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("mime", StringType),
      StructField("n_bytes", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_frames", IntegerType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.mapPartitions { it =>
      it.map { r =>
        val payload = r.getAs[Array[Byte]]("media")
        val mime = r.getAs[Row]("meta").getAs[String]("mime")
        val (w, h, f) = decoder.decode(mime, payload)
        Row(r.getAs[Long]("doc_id"), mime, payload.length, w, h, f)
      }
    }(enc)
  }

  /** Frame sampling: every k-th frame index per media item (the
    * video-pipeline primitive before per-frame feature extraction). The
    * decode yields n_frames (narrow); `sequence` + explode generates the
    * sample plan WITHOUT touching payload bytes again — a downstream
    * per-frame decoder joins back by (doc_id, frame_idx) only for the
    * sampled set, so a 24fps corpus at 100 TB decodes 1/k of its frames.
    */
  def sampleFrames(media: DataFrame, k: Int,
      decoder: MediaDecoder = StubDecoder): DataFrame = {
    require(k >= 1, "sample stride must be >= 1")
    extractFeatures(media, decoder)
      .select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(k)))
          .as("frame_idx"))
  }

  /** q62 — multimodal envelope stats through pure column ops (the
    * non-stub subset: byte length + content digest), oracle-checkable:
    * Spark md5(binary) == DuckDB md5(string bytes).
    */
  def mediaStats(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir).select(
      col("doc_id"),
      col("meta.mime").as("mime"),
      octet_length(col("media")).as("n_bytes"),
      md5(col("media")).as("digest"))

  val mediaStatsSql: String =
    """SELECT doc_id, 'text/plain' AS mime,
      |  octet_length(CAST(text AS BLOB)) AS n_bytes,
      |  md5(text) AS digest
      |FROM documents""".stripMargin

  /** q78 — header-parse round-trip: VALID container bytes (PNG, JPEG
    * with an APP0 segment to skip, GIF) are synthesized per document
    * with dimensions derived from doc_id, then [[ImageHeader]] parses
    * the dims back out of the raw bytes in the per-partition batch
    * path. The oracle computes the same dims arithmetically — so a
    * hash match proves the byte-level parser inverts the encoding
    * exactly. Bytes never shuffle; only (doc_id, mime, dims) rows
    * leave the scan stage.
    */
  /** Shared synthetic-container hex builders (all derive their facts
    * from `doc_id` with the arithmetic the oracles mirror): width
    * `doc_id%640+1`, height `(doc_id*3)%480+1`, the audio facts of
    * [[audioMeta]], the movie facts of [[videoMeta]].
    */
  private[operators] object Synth {
    val w: Column = (pmod(col("doc_id"), lit(640)) + 1).cast("int")
    val h: Column = (pmod(col("doc_id") * 3, lit(480)) + 1).cast("int")

    val pngHex: Column = concat(
      lit("89504E470D0A1A0A0000000D49484452"),
      lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"),
      lit("080200000000000000"))
    val jpgHex: Column = concat(
      lit("FFD8FFE000104A46494600010100000100010000FFC0001108"),
      lpad(hex(h), 4, "0"), lpad(hex(w), 4, "0"),
      lit("03012200021101031101FFD9"))
    val gifHex: Column = concat(
      lit("474946383961"),
      lpad(hex(pmod(w, lit(256))), 2, "0"),
      lpad(hex(shiftright(w, 8)), 2, "0"),
      lpad(hex(pmod(h, lit(256))), 2, "0"),
      lpad(hex(shiftright(h, 8)), 2, "0"),
      lit("F70000"))

    private def le16(c: Column): Column = concat(
      lpad(hex(pmod(c, lit(256))), 2, "0"),
      lpad(hex(pmod(shiftright(c, 8), lit(256))), 2, "0"))
    private def le32(c: Column): Column = concat(
      lpad(hex(pmod(c, lit(256))), 2, "0"),
      lpad(hex(pmod(shiftright(c, 8), lit(256))), 2, "0"),
      lpad(hex(pmod(shiftright(c, 16), lit(256))), 2, "0"),
      lpad(hex(pmod(shiftright(c, 24), lit(256))), 2, "0"))
    val wavChannels: Column = (pmod(col("doc_id"), lit(2)) + 1).cast("int")
    val wavRate: Column = when(pmod(col("doc_id"), lit(3)) === 0, 8000)
      .when(pmod(col("doc_id"), lit(3)) === 1, 16000)
      .otherwise(44100).cast("int")
    val wavSamples: Column =
      (pmod(col("doc_id"), lit(1000)) + 1).cast("int")
    val wavHex: Column = {
      val dataBytes = wavSamples * wavChannels * lit(2)
      val byteRate = wavRate * wavChannels * lit(2)
      val blockAlign = wavChannels * lit(2)
      concat(
        lit("52494646"), le32(dataBytes + 36), lit("57415645"),
        lit("666D7420"), le32(lit(16)), le16(lit(1)), le16(wavChannels),
        le32(wavRate), le32(byteRate), le16(blockAlign), le16(lit(16)),
        lit("64617461"), le32(dataBytes))
    }

    private def be16(c: Column): Column = lpad(hex(c), 4, "0")
    private def be32(c: Column): Column = lpad(hex(c), 8, "0")
    private def be64(c: Column): Column = lpad(hex(c), 16, "0")

    // q137: minimal EXIF/TIFF, byte order alternating by parity so the
    // dual-endian IFD walk exercises both paths; 3 SHORT entries
    val tiffOrient: Column = (pmod(col("doc_id"), lit(8)) + 1).cast("int")
    val tiffHex: Column = {
      def eLe(tag: Int, v: Column) = concat(le16(lit(tag)),
        le16(lit(3)), le32(lit(1)), le16(v), lit("0000"))
      def eBe(tag: Int, v: Column) = concat(be16(lit(tag)),
        be16(lit(3)), be32(lit(1)), be16(v), lit("0000"))
      val ii = concat(lit("49492A00"), lit("08000000"), le16(lit(3)),
        eLe(0x0100, w), eLe(0x0101, h), eLe(0x0112, tiffOrient),
        lit("00000000"))
      val mm = concat(lit("4D4D002A"), lit("00000008"), be16(lit(3)),
        eBe(0x0100, w), eBe(0x0101, h), eBe(0x0112, tiffOrient),
        lit("00000000"))
      when(pmod(col("doc_id"), lit(2)) === 0, ii).otherwise(mm)
    }
    private val zeros = (n: Int) => lit("0" * (2 * n))
    val mp4Hex: Column = {
      val ts = lit(100L) + pmod(col("doc_id"), lit(900L))
      val dur = pmod(col("doc_id") * 7, lit(100000L)) + ts
      val trackId = pmod(col("doc_id"), lit(5L)) + 1
      val v1 = pmod(col("doc_id"), lit(2)) === 1
      val brandHex = when(pmod(col("doc_id"), lit(3)) === 0, "69736F6D")
        .when(pmod(col("doc_id"), lit(3)) === 1, "6D703432")
        .otherwise("61766331")
      val langHex = when(pmod(col("doc_id"), lit(4)) === 0, "55C4") // und
        .when(pmod(col("doc_id"), lit(4)) === 1, "15C7")            // eng
        .when(pmod(col("doc_id"), lit(4)) === 2, "1A41")            // fra
        .otherwise("10B5")                                          // deu
      val matrix = lit("000100000000000000000000" +
        "000000000001000000000000" + "000000000000000040000000")
      val ftyp = concat(lit("0000001066747970"), brandHex,
        lit("00000200"))
      val free = lit("0000000866726565")
      val mvhdTail = concat(lit("000100000100"), zeros(10), matrix,
        zeros(24), lit("00000063"))
      val mvhd = when(v1,
        concat(lit("000000786D766864"), lit("01000000"), zeros(16),
          be32(ts), be64(dur), mvhdTail))
        .otherwise(
          concat(lit("0000006C6D766864"), lit("00000000"), zeros(8),
            be32(ts), be32(dur), mvhdTail))
      val tkhd = concat(lit("0000005C746B6864"), lit("00000007"),
        zeros(8), be32(trackId), zeros(4), be32(dur), zeros(16), matrix,
        be16(w), lit("0000"), be16(h), lit("0000"))
      val mdhd = concat(lit("000000206D646864"), lit("00000000"),
        zeros(8), be32(ts * 2), be32(dur * 2), langHex, lit("0000"))
      val hdlr = concat(lit("0000002168646C72"), lit("00000000"),
        zeros(4), lit("76696465"), zeros(12), lit("00"))
      val trak = concat(lit("000000AD7472616B"), tkhd,
        concat(lit("000000496D646961"), mdhd, hdlr))
      val moov = when(v1, concat(lit("0000012D6D6F6F76"), mvhd, trak))
        .otherwise(concat(lit("000001216D6F6F76"), mvhd, trak))
      concat(ftyp, free, moov)
    }
  }

  /** TIFF/EXIF baseline header walk — the third on-disk byte order
    * family after the RIFF (LE) and ISO-BMFF (BE) parsers: TIFF
    * declares its endianness in the first two bytes (`II` or `MM`,
    * TIFF 6.0 §2), so one parser must decode BOTH. Walks IFD0
    * generically (tag/type/count/value cells, SHORT and LONG value
    * types, offset-sized bounds checks) and extracts the triage tags a
    * media pipeline routes on: ImageWidth (0x0100), ImageLength
    * (0x0101), Orientation (0x0112).
    */
  object TiffHeader {
    final case class Tiff(byteOrder: String, width: Int, height: Int,
        orientation: Int)

    def parse(p: Array[Byte]): Option[Tiff] = {
      if (p.length < 8) return None
      def u8(i: Int) = p(i) & 0xff
      val little = (u8(0), u8(1)) match {
        case (0x49, 0x49) => true
        case (0x4d, 0x4d) => false
        case _ => return None
      }
      def u16(i: Int): Int =
        if (little) u8(i) | (u8(i + 1) << 8)
        else (u8(i) << 8) | u8(i + 1)
      def u32(i: Int): Long =
        if (little)
          u8(i) | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) |
            (u8(i + 3).toLong << 24)
        else
          (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) |
            (u8(i + 2).toLong << 8) | u8(i + 3)
      if (u16(2) != 42) return None
      val ifd = u32(4)
      if (ifd < 8 || ifd + 2 > p.length) return None
      val base = ifd.toInt
      val n = u16(base)
      var w = -1; var h = -1; var o = 1
      var k = 0
      while (k < n) {
        val e = base + 2 + k * 12
        if (e + 12 > p.length) return None
        val tag = u16(e)
        // value is left-justified in the 4-byte cell (TIFF 6.0 §2):
        // SHORT reads 2 bytes, LONG all 4, both per the declared order
        val v = u16(e + 2) match {
          case 3 => u16(e + 8)
          case 4 => u32(e + 8).toInt
          case _ => -1
        }
        tag match {
          case 0x0100 => w = v
          case 0x0101 => h = v
          // an Orientation cell of an unsupported value type keeps the
          // spec default (1) instead of leaking the -1 sentinel
          case 0x0112 if v >= 0 => o = v
          case _ => ()
        }
        k += 1
      }
      if (w < 0 || h < 0) None
      else Some(Tiff(if (little) "II" else "MM", w, h, o))
    }
  }

  def imageDims(spark: SparkSession, dir: String): DataFrame = {
    val kind = pmod(col("doc_id"), lit(3))
    val pngHex = Synth.pngHex
    val jpgHex = Synth.jpgHex
    val gifHex = Synth.gifHex
    val media = Tables.documents(spark, dir).select(
      col("doc_id"),
      unhex(when(kind === 0, pngHex).when(kind === 1, jpgHex)
        .otherwise(gifHex)).as("media"),
      struct(
        when(kind === 0, "image/png").when(kind === 1, "image/jpeg")
          .otherwise("image/gif").as("mime"),
        col("source").as("source")).as("meta"))
    extractFeatures(media, HeaderDecoder)
      .select(col("doc_id"), col("mime"), col("width"), col("height"))
  }

  val imageDimsSql: String =
    """SELECT doc_id,
      |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/png'
      |    WHEN 1 THEN 'image/jpeg' ELSE 'image/gif' END AS mime,
      |  CAST(doc_id % 640 + 1 AS INT) AS width,
      |  CAST((doc_id * 3) % 480 + 1 AS INT) AS height
      |FROM documents""".stripMargin

  /** q103 — audio-metadata round-trip, the [[imageDims]] pattern for
    * sound: VALID RIFF/WAVE header bytes are synthesized from doc_id,
    * [[RiffHeader]] REALLY walks the chunks, and the oracle recomputes
    * the expected facts arithmetically — any parser bug breaks the
    * hash match. Per-row map, no shuffle; at 100 TB this is the
    * metadata-extraction pass that runs before any costly resample.
    */
  def audioMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(Synth.wavHex).as("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val w = RiffHeader.parse(bytes)
            .getOrElse(RiffHeader.Wav(0, 0, 0, 0))
          (id, w.channels, w.sampleRate, w.bits, w.nSamples,
            w.durationMs)
        }
      }
      .toDF("doc_id", "channels", "sample_rate", "bits", "n_samples",
        "duration_ms")
  }

  val audioMetaSql: String =
    """SELECT doc_id,
      |  CAST(doc_id % 2 + 1 AS INT) AS channels,
      |  CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 8000
      |    WHEN 1 THEN 16000 ELSE 44100 END AS INT) AS sample_rate,
      |  CAST(16 AS INT) AS bits,
      |  CAST(doc_id % 1000 + 1 AS BIGINT) AS n_samples,
      |  CAST((doc_id % 1000 + 1) * 1000 //
      |    (CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 8000
      |     WHEN 1 THEN 16000 ELSE 44100 END) AS BIGINT) AS duration_ms
      |FROM documents""".stripMargin

  /** q137 — EXIF/TIFF round-trip, the [[imageDims]] pattern with the
    * endianness axis: the synthesized TIFF alternates `II` and `MM`
    * byte order by doc parity, [[TiffHeader]] REALLY walks IFD0 under
    * the declared order, and the oracle recomputes width/height/
    * orientation (camera rotation — the tag a training pipeline must
    * respect before any resize) arithmetically. Map-only; bytes never
    * shuffle.
    */
  def exifMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(Synth.tiffHex).as("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val t = TiffHeader.parse(bytes)
            .getOrElse(TiffHeader.Tiff("", -1, -1, -1))
          (id, t.byteOrder, t.width, t.height, t.orientation)
        }
      }
      .toDF("doc_id", "byte_order", "width", "height", "orientation")
  }

  val exifMetaSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
      |  CAST(doc_id % 640 + 1 AS INT) AS width,
      |  CAST((doc_id * 3) % 480 + 1 AS INT) AS height,
      |  CAST(doc_id % 8 + 1 AS INT) AS orientation
      |FROM documents""".stripMargin

  /** q110 — video-metadata round-trip, the [[imageDims]]/[[audioMeta]]
    * pattern for MP4: a VALID ISO-BMFF file (ftyp + a `free` box the
    * walk must skip + moov{mvhd, trak{tkhd, mdia{mdhd, hdlr}}}) is
    * synthesized per document with timescale/duration/dimensions/
    * language derived from doc_id — mvhd alternates its version-0 and
    * version-1 FullBox layout by parity so both decode paths are
    * exercised — then [[Mp4Box]] REALLY walks the box tree and the
    * oracle recomputes every fact arithmetically. Map-only; payload
    * bytes never shuffle.
    */
  def videoMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(Synth.mp4Hex).as("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val m = Mp4Box.parse(bytes).getOrElse(
            Mp4Box.VideoMeta("", -1, 0L, 0L, -1L, 0L, 0, 0, "", ""))
          (id, m.brand, m.mvhdVersion, m.timescale, m.durationMs,
            m.trackId, m.mediaTimescale, m.width, m.height, m.handler,
            m.lang)
        }
      }
      .toDF("doc_id", "brand", "mvhd_version", "timescale",
        "duration_ms", "track_id", "media_timescale", "width", "height",
        "handler", "lang")
  }

  val videoMetaSql: String =
    """SELECT doc_id,
      |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'isom'
      |    WHEN 1 THEN 'mp42' ELSE 'avc1' END AS brand,
      |  CAST(doc_id % 2 AS INT) AS mvhd_version,
      |  CAST(100 + doc_id % 900 AS BIGINT) AS timescale,
      |  CAST(((doc_id * 7) % 100000 + 100 + doc_id % 900) * 1000 //
      |    (100 + doc_id % 900) AS BIGINT) AS duration_ms,
      |  CAST(doc_id % 5 + 1 AS BIGINT) AS track_id,
      |  CAST(2 * (100 + doc_id % 900) AS BIGINT) AS media_timescale,
      |  CAST(doc_id % 640 + 1 AS INT) AS width,
      |  CAST((doc_id * 3) % 480 + 1 AS INT) AS height,
      |  'vide' AS handler,
      |  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'und' WHEN 1 THEN 'eng'
      |    WHEN 2 THEN 'fra' ELSE 'deu' END AS lang
      |FROM documents""".stripMargin

  /** Format dispatch for a MIXED binary column: try the container
    * parsers in signature order (image headers → RIFF/WAVE → ISO-BMFF)
    * and emit a unified (format, width, height, duration_ms) row.
    * This is the ingest-time classify-and-extract pass a multimodal
    * crawl needs BEFORE routing payloads to per-modality pipelines —
    * one scan, no per-format pre-split, unknowns classified not
    * crashed.
    */
  def sniff(p: Array[Byte]): (String, Int, Int, Long) =
    ImageHeader.parse(p) match {
      case Some((mime, w, h)) => (mime.stripPrefix("image/"), w, h, 0L)
      case None => RiffHeader.parse(p) match {
        case Some(w) => ("wav", 0, 0, w.durationMs)
        case None => Mp4Box.parse(p) match {
          case Some(m) => ("mp4", m.width, m.height, m.durationMs)
          case None => ("unknown", 0, 0, 0L)
        }
      }
    }

  /** q113 — mixed-container dispatch round-trip: each document carries
    * ONE of the six payload shapes (PNG/JPEG/GIF image, WAVE audio,
    * MP4 video, or non-media text bytes) chosen by doc_id, and
    * [[sniff]] must both classify the format and extract the right
    * facts in a single pass. The oracle recomputes classification and
    * facts arithmetically.
    */
  def mediaSniff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val kind = pmod(col("doc_id"), lit(6))
    val payload = when(kind === 0, unhex(Synth.pngHex))
      .when(kind === 1, unhex(Synth.jpgHex))
      .when(kind === 2, unhex(Synth.gifHex))
      .when(kind === 3, unhex(Synth.wavHex))
      .when(kind === 4, unhex(Synth.mp4Hex))
      // NUL-prefixed so free text can never collide with a container
      // signature at offset 0 ("BM...", "GIF..." are valid text starts)
      .otherwise(encode(concat(lit("\u0000"), col("text")), "utf-8"))
    Tables.fanout(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), payload.as("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val (fmt, w, h, ms) = sniff(bytes)
        (id, fmt, w, h, ms)
      })
      .toDF("doc_id", "format", "width", "height", "duration_ms")
  }

  val mediaSniffSql: String =
    """SELECT doc_id,
      |  CASE CAST(doc_id % 6 AS INT)
      |    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
      |    WHEN 3 THEN 'wav' WHEN 4 THEN 'mp4' ELSE 'unknown' END
      |    AS format,
      |  CAST(CASE WHEN doc_id % 6 IN (0, 1, 2, 4)
      |    THEN doc_id % 640 + 1 ELSE 0 END AS INT) AS width,
      |  CAST(CASE WHEN doc_id % 6 IN (0, 1, 2, 4)
      |    THEN (doc_id * 3) % 480 + 1 ELSE 0 END AS INT) AS height,
      |  CAST(CASE CAST(doc_id % 6 AS INT)
      |    WHEN 3 THEN (doc_id % 1000 + 1) * 1000 //
      |      (CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 8000
      |       WHEN 1 THEN 16000 ELSE 44100 END)
      |    WHEN 4 THEN ((doc_id * 7) % 100000 + 100 + doc_id % 900)
      |      * 1000 // (100 + doc_id % 900)
      |    ELSE 0 END AS BIGINT) AS duration_ms
      |FROM documents""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q62_media_stats" -> (mediaStats _),
    "q78_image_dims" -> (imageDims _),
    "q103_audio_meta" -> (audioMeta _),
    "q137_exif_meta" -> (exifMeta _),
    "q110_video_meta" -> (videoMeta _),
    "q113_media_sniff" -> (mediaSniff _))

  val oracles: Map[String, String] = Map(
    "q62_media_stats" -> mediaStatsSql,
    "q78_image_dims" -> imageDimsSql,
    "q103_audio_meta" -> audioMetaSql,
    "q137_exif_meta" -> exifMetaSql,
    "q110_video_meta" -> videoMetaSql,
    "q113_media_sniff" -> mediaSniffSql)
}
