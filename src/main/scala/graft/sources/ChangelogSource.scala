package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream,
  Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 micro-batch CDC source — the custom extension SURVEY §4
  * flags as genuinely needed ("a custom DataSource V2 is needed for: MySQL
  * binlog source, PG logical-replication source (both MicroBatchStream)").
  *
  * This is the transport-agnostic core of that source: an ordered
  * changelog of append-only SEGMENTS (the binlog-file analog), each
  * holding ordered change records. Offsets are the NAME of the last
  * fully-read segment — exactly the `(binlog_file, position)` resume
  * model (`/root/reference/dt-common/src/meta/position.rs:14-63`) with
  * the protocol client abstracted to "a directory new segments arrive
  * in" (object store, WAL shipping, or a binlog downloader all fit).
  * Spark owns offset persistence: the streaming checkpoint stores
  * `{"segment":"<name>"}`, restart resumes past that name with no
  * reprocessing even if older segments were purged in between
  * (proven in ChangelogSourceSpec).
  *
  * Record format per line (TAB-separated, engine-internal):
  * `seq \t schema \t tb \t row_type \t key \t payload`.
  *
  * Usage: `spark.readStream.format("graft.sources.ChangelogSource")
  * .option("path", dir).load()`.
  */
class ChangelogSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangelogSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ChangelogTable(properties.get("path"),
      Option(properties.get("format")).getOrElse("tab"),
      Option(properties.get("key_cols")).map(_.split(",").toSeq
        .map(_.trim).filter(_.nonEmpty)).getOrElse(Nil),
      Option(properties.get("start_timestamp"))
        .flatMap(_.toLongOption).getOrElse(0L),
      ChangelogSource.BinlogStart(
        Option(properties.get("binlog_filename")).getOrElse(""),
        Option(properties.get("binlog_position"))
          .flatMap(_.toLongOption).getOrElse(0L),
        Option(properties.get("gtid_set")).getOrElse("")),
      ChangelogSource.MarkerCfg(
        Option(properties.get("marker_table")).getOrElse(""),
        Option(properties.get("local_node")).getOrElse("")))
}

object ChangelogSource {

  /** `[extractor]` start-position options for binlog segments
    * (binlog_filename + binlog_position, or gtid_set) — applied as a
    * decode-time gate by [[MysqlBinlog.startFilter]]. Empty = start
    * from the segment range the offsets select (the default; a
    * checkpointed stream never needs these).
    */
  final case class BinlogStart(startFile: String = "",
      startPos: Long = 0L, gtidSet: String = "") {
    def isEmpty: Boolean = startFile.isEmpty && gtidSet.isEmpty
  }

  /** `[data_marker]` decode options: the marker table whose in-txn
    * inserts set the stream's origin, and the local node name origin
    * resets to at txn boundaries (data_marker.rs refresh semantics).
    */
  final case class MarkerCfg(markerTable: String = "",
      localNode: String = "")

  val schema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("schema", StringType, nullable = false),
    StructField("tb", StringType, nullable = false),
    StructField("row_type", StringType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("payload", StringType, nullable = true),
    StructField("origin", StringType, nullable = true)))

  /** Segment files in commit order (lexicographic name = arrival order,
    * like binlog.000001…). Only `.log` files count; in-flight writers
    * should stage under another suffix and rename. The listing stream is
    * closed eagerly — this runs at least twice per trigger in a
    * long-running stream, so leaking it would exhaust file descriptors.
    */
  def segments(dir: String): Seq[String] =
    graft.infra.Fs.listNames(dir).filter(_.endsWith(".log")).sorted

  /** First-event timestamp (epoch seconds) of a binlog segment, read
    * from the 8 header bytes after the 4-byte magic WITHOUT decoding
    * any rows — the event header leads with a 4-byte LE timestamp
    * (binlog v4 layout), and the first event is the segment's FDE.
    * 0 when the file is too short or not a binlog.
    */
  def binlogStartTimestamp(file: String): Long = {
    if (!graft.infra.Fs.exists(file)) return 0L
    val head = graft.infra.Fs.readHead(file, 8)
    if (head.length < 8 || head(0) != 0xfe.toByte || head(1) != 'b' ||
        head(2) != 'i' || head(3) != 'n') 0L
    else (head(4) & 0xffL) | ((head(5) & 0xffL) << 8) |
      ((head(6) & 0xffL) << 16) | ((head(7) & 0xffL) << 24)
  }

  /** Timestamp pre-seek — the reference's
    * find_last_binlog_before_timestamp (mysql_cdc_extractor.rs:81-89,
    * binlog_util.rs): binary-search the segment list for the LAST
    * segment whose first-event timestamp ≤ `startTs` and return its
    * PREDECESSOR's name as the initial offset, so streaming starts at
    * that segment and every earlier segment is skipped without being
    * decoded. Returns "" (skip nothing) for non-binlog formats or when
    * `startTs` precedes the first segment. Per-event time filtering
    * downstream still trims the found segment's leading events —
    * identical output, minus whole-segment decode work.
    */
  def preSeekOffset(dir: String, format: String, startTs: Long): String = {
    if (format != "binlog" || startTs <= 0) return ""
    val names = segments(dir)
    if (names.isEmpty) return ""
    def ts(i: Int): Long =
      binlogStartTimestamp(s"$dir/${names(i)}")
    // binary search: first index whose start ts > startTs
    var lo = 0; var hi = names.size
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (ts(mid) <= startTs) lo = mid + 1 else hi = mid
    }
    // names(lo - 1) is the last segment starting ≤ startTs: stream
    // from it, i.e. the offset is its predecessor
    if (lo <= 1) "" else names(lo - 2)
  }
}

/** Offset = NAME of the last fully-consumed segment ("" before any).
  * Name-based (not count-based) on purpose: retention may delete old
  * segments at any time, and a count would silently remap onto the
  * shifted listing — the same robustness property as the reference's
  * `(binlog_filename, next_event_position)` pair
  * (`/root/reference/dt-common/src/position.rs`), where the filename
  * survives `PURGE BINARY LOGS` of its predecessors.
  */
final case class ChangelogOffset(segment: String) extends Offset {
  override def json(): String =
    s"""{"segment":"${segment}"}"""
}

object ChangelogOffset {
  val Initial: ChangelogOffset = ChangelogOffset("")
  /** The offset-line JSON shape, public for the retention sweep's
    * checkpoint parse ([[graft.transport.CaptureRetention]]).
    */
  val SegmentJson: scala.util.matching.Regex =
    """\{"segment":"([^"]*)"\}""".r
  private val Re = SegmentJson
  private val LegacyRe = """\{"segments":(\d+)\}""".r

  def fromJson(s: String): ChangelogOffset = s match {
    case Re(name) => ChangelogOffset(name)
    case other => throw new IllegalArgumentException(
      s"bad changelog offset: $other")
  }

  /** Resolve an offset, translating the pre-round-2 count-based form
    * against the live listing (only safe if no retention ran under the
    * old scheme — which the old scheme required anyway).
    */
  def fromJson(s: String, dir: String): ChangelogOffset = s match {
    case LegacyRe(n) =>
      val segs = ChangelogSource.segments(dir)
      val k = n.toInt
      require(k <= segs.size,
        s"legacy count-based offset $k exceeds ${segs.size} live segments " +
          s"in $dir — cannot translate; segments were purged")
      ChangelogOffset(if (k == 0) "" else segs(k - 1))
    case other => fromJson(other)
  }
}

class ChangelogTable(path: String, format: String = "tab",
    keyCols: Seq[String] = Nil, startTimestamp: Long = 0L,
    binlogStart: ChangelogSource.BinlogStart =
      ChangelogSource.BinlogStart(),
    marker: ChangelogSource.MarkerCfg = ChangelogSource.MarkerCfg())
    extends Table with SupportsRead {
  require(path != null, "graft changelog source requires .option(\"path\")")
  require(Set("tab", "binlog", "pgoutput").contains(format),
    s"unknown changelog format '$format' (tab | binlog | pgoutput)")
  override def name(): String = s"graft_changelog($path,$format)"
  override def schema(): StructType = ChangelogSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan = new Scan {
      override def readSchema(): StructType = ChangelogSource.schema
      override def toMicroBatchStream(checkpointLocation: String)
          : MicroBatchStream =
        new ChangelogStream(path, format, keyCols, startTimestamp,
          binlogStart, marker)
    }
  }
}

/** Offsets advance to "newest segment currently present"; a batch is the
  * half-open NAME range (start, end]. Planning is per segment — one
  * input partition each, so a backlog catches up in parallel while
  * steady-state ticks read one small segment. Ordering consumers
  * (compaction) order by `seq` within the micro-batch, as with any
  * parallel source. Retention may delete segments ≤ the checkpointed
  * name at any time: name comparison skips nothing and reprocesses
  * nothing (count-based offsets would remap onto the shifted listing).
  */
class ChangelogStream(path: String, format: String = "tab",
    keyCols: Seq[String] = Nil, startTimestamp: Long = 0L,
    binlogStart: ChangelogSource.BinlogStart =
      ChangelogSource.BinlogStart(),
    marker: ChangelogSource.MarkerCfg = ChangelogSource.MarkerCfg())
    extends MicroBatchStream {
  /** Monotonicity guard: if every segment were purged, a fresh listing
    * would be empty and a naive latestOffset would regress below the
    * checkpoint, planning a bogus negative range. Track the high-water
    * name within this stream instance.
    */
  @volatile private var maxSeen: String = ""

  /** First run only (a checkpointed offset bypasses this): pre-seek
    * past whole segments that end before `start_timestamp`, the
    * reference's find_last_binlog_before_timestamp.
    */
  override def initialOffset(): Offset =
    ChangelogOffset(
      ChangelogSource.preSeekOffset(path, format, startTimestamp))

  override def latestOffset(): Offset = {
    val names = ChangelogSource.segments(path)
    if (names.nonEmpty && names.last > maxSeen) maxSeen = names.last
    ChangelogOffset(maxSeen)
  }

  override def deserializeOffset(json: String): Offset = {
    val off = ChangelogOffset.fromJson(json, path)
    if (off.segment > maxSeen) maxSeen = off.segment
    off
  }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[ChangelogOffset].segment
    val e = end.asInstanceOf[ChangelogOffset].segment
    // resolve by name against the live listing: segments in (s, e]
    ChangelogSource.segments(path)
      .filter(n => n > s && n <= e)
      .map(n => ChangelogPartition(s"$path/$n", format,
        keyCols, binlogStart, marker): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ChangelogReaderFactory

  override def commit(end: Offset): Unit = () // retention is external
  override def stop(): Unit = ()
}

final case class ChangelogPartition(file: String, format: String = "tab",
    keyCols: Seq[String] = Nil,
    binlogStart: ChangelogSource.BinlogStart =
      ChangelogSource.BinlogStart(),
    marker: ChangelogSource.MarkerCfg =
      ChangelogSource.MarkerCfg()) extends InputPartition

/** One reader per segment file. `tab` segments hold the engine-internal
  * TAB records; `binlog` segments are MySQL binlog files and `pgoutput`
  * segments are captured logical-replication streams — both decode
  * in-task through [[MysqlBinlog]]/[[PgOutput]] and surface as the SAME
  * record shape, so compaction and sinks downstream don't know which
  * wire format fed them. Cross-segment ordering: `seq` is offset by the
  * segment name's trailing number (binlog.000001-style) so keys
  * spanning files in one micro-batch still order correctly.
  */
object ChangelogReaderFactory extends PartitionReaderFactory {
  private val TrailingNum = """(\d+)\.log$""".r

  private def baseSeq(file: String): Long =
    TrailingNum.findFirstMatchIn(file)
      .map(_.group(1).toLong * 1000000000L).getOrElse(0L)

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ChangelogPartition]
    val lines: Iterator[String] = p.format match {
      case "binlog" =>
        val bytes = graft.infra.Fs.readAllBytes(p.file)
        val name = graft.infra.Fs.fileName(p.file)
        val raw = MysqlBinlog.readFile(bytes)
        // [extractor] binlog_filename/binlog_position/gtid_set: gate
        // the decode at the configured start (startFilter semantics)
        val gated =
          if (p.binlogStart.isEmpty) raw
          else MysqlBinlog.startFilter(raw, name,
            p.binlogStart.startFile, p.binlogStart.startPos,
            Option(p.binlogStart.gtidSet).filter(_.nonEmpty)
              .map(graft.meta.GtidSet.parse))
        val events = MysqlBinlog.toChangeEvents(gated, name,
          markerTable = p.marker.markerTable,
          localNode = p.marker.localNode)
        MysqlBinlog.toSegmentLines(events, p.keyCols,
          baseSeq(p.file)).iterator
      case "pgoutput" =>
        val bytes = graft.infra.Fs.readAllBytes(p.file)
        val events = PgOutput.decodeFile(bytes,
          markerTable = p.marker.markerTable,
          localNode = p.marker.localNode)
        MysqlBinlog.toSegmentLines(events, p.keyCols,
          baseSeq(p.file)).iterator
      case _ =>
        graft.infra.Fs.readLines(p.file).filter(_.nonEmpty).iterator
    }
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _

      override def next(): Boolean =
        if (!lines.hasNext) false
        else {
          val f = lines.next().split("\t", -1)
          // 7 fields since round 12 (trailing data-marker origin);
          // 6-field fixtures read with a null origin
          require(f.length == 6 || f.length == 7,
            s"bad changelog record in ${p.file}")
          current = new GenericInternalRow(Array[Any](
            f(0).toLong,
            UTF8String.fromString(f(1)), UTF8String.fromString(f(2)),
            UTF8String.fromString(f(3)), UTF8String.fromString(f(4)),
            if (f(5).isEmpty) null else UTF8String.fromString(f(5)),
            if (f.length < 7 || f(6).isEmpty) null
            else UTF8String.fromString(f(6))))
          true
        }

      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
