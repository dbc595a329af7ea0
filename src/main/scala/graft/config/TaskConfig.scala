package graft.config

import scala.collection.mutable

import graft.operators.{NameFilter, Router, TableToken}

/** Task configuration — the reference's INI `task_config`
  * (/root/reference/docs/en/config.md; dt-common/src/config/
  * task_config.rs): sections [extractor] [filter] [router] [sinker]
  * [pipeline] [runtime] parsed into a typed config that the TaskRunner
  * wires into the Spark pipeline. The INI dialect (k=v lines, `;`/`#`
  * comments) matches the reference so existing task files carry over.
  */
object TaskConfig {

  final case class Section(entries: Map[String, String]) {
    def apply(k: String): Option[String] = entries.get(k)
    def get(k: String, default: String): String =
      entries.getOrElse(k, default)
    def list(k: String): Seq[String] =
      entries.get(k).map(_.split(",").toSeq.map(_.trim)
        .filter(_.nonEmpty)).getOrElse(Nil)
  }

  final case class Parsed(sections: Map[String, Section]) {
    def section(name: String): Section =
      sections.getOrElse(name, Section(Map.empty))
  }

  /** Minimal INI parse: [section] headers, k=v entries, ; # comments. */
  def parseIni(text: String): Parsed = {
    val sections = mutable.LinkedHashMap[String, mutable.Map[String,
      String]]()
    var current = "global"
    text.linesIterator.foreach { raw =>
      val line = raw.trim
      if (line.nonEmpty && !line.startsWith(";") && !line.startsWith("#")) {
        if (line.startsWith("[") && line.endsWith("]")) {
          current = line.substring(1, line.length - 1).trim
          sections.getOrElseUpdate(current, mutable.LinkedHashMap())
        } else {
          val i = line.indexOf('=')
          if (i > 0) {
            val k = line.substring(0, i).trim
            val v = line.substring(i + 1).trim
            sections.getOrElseUpdate(current,
              mutable.LinkedHashMap())(k) = v
          }
        }
      }
    }
    Parsed(sections.map { case (n, m) => n -> Section(m.toMap) }.toMap)
  }

  sealed trait ExtractType
  case object SnapshotExtract extends ExtractType
  case object CdcExtract extends ExtractType
  case object CheckExtract extends ExtractType
  case object CurationExtract extends ExtractType
  /** Training-loader layout over a (curated) corpus: shard-shuffle
    * manifest + packing-window manifest written under the sink dir —
    * the step after curation that makes a corpus loader-ready.
    */
  case object LoaderExtract extends ExtractType
  /** Continuous curation over an arriving document stream
    * ([[graft.streaming.StreamingCuration]]); `start` drains what has
    * arrived and leaves both stages' checkpoints for the next start.
    */
  case object CurationStreamExtract extends ExtractType

  /** WARC/WET crawl ingestion into curation-ready documents
    * (`extract_type=warc`, north-star extension — the Common Crawl
    * entry point of the training-data chain).
    */
  case object WarcExtract extends ExtractType

  /** JSONL corpus ingestion (`extract_type=jsonl`, north-star
    * extension): the wire format most open datasets ship — one JSON
    * object per line with a `text` field, optionally gzipped.
    */
  case object JsonlExtract extends ExtractType
  /** Single-config serial migration (the reference's
    * `extract_type=snapshot_and_cdc`, config_enums.rs:47-49): snapshot
    * every admitted table, then drain CDC from the consistent point —
    * one INI instead of the two-file `--then` form.
    */
  case object SnapshotAndCdcExtract extends ExtractType
  /** Replay persisted check logs into revise statements
    * (`extract_type=check_log`, the reference's MysqlCheck/PgCheck
    * extractors reading check_log_dir).
    */
  case object CheckLogExtract extends ExtractType
  /** Structure migration from a catalog fixture: synthesize the
    * information_schema/pg_catalog queries, parse TableDefs, render
    * DDL for the sink dialect (`extract_type=struct`).
    */
  case object StructExtract extends ExtractType
  /** Parse a Redis RDB dump file into rows
    * (`extract_type=snapshot_file`, ExtractorConfig::RedisSnapshotFile).
    */
  case object SnapshotFileExtract extends ExtractType
  /** Keyspace statistics scan — hot keys (OBJECT FREQ) or big keys
    * (MEMORY USAGE) over a captured keyspace
    * (`extract_type=scan`, ExtractorConfig::RedisScan).
    */
  case object ScanExtract extends ExtractType
  /** Cluster reshard move plan between two slot layouts
    * (`extract_type=reshard`, ExtractorConfig::RedisReshard).
    */
  case object ReshardExtract extends ExtractType
  /** Lake read-back through the staged meta-file protocol
    * (`extract_type=foxlake_s3`, ExtractorConfig::FoxlakeS3).
    */
  case object FoxlakeS3Extract extends ExtractType

  /** `[metrics]` section — the reference's MetricsConfig
    * (dt-common/src/config/metrics_config.rs, loaded at
    * task_config.rs:1489-1507): exposition host/port plus const labels
    * given as `k1=v1,k2=v2`.
    */
  final case class MetricsConfig(httpHost: String, httpPort: Int,
      labels: Map[String, String])

  final case class Task(
      extractType: ExtractType,
      sourceDir: String,
      sinkDir: String,
      filter: NameFilter,
      router: Router,
      batchSize: Int,
      parallelism: Int,
      keysByTable: Map[String, Seq[String]],
      // the reference's `json:`-format filter configs (config.md
      // [filter] table): per-table column drops and source-side WHERE
      ignoreColsByTable: Map[(String, String), Seq[String]] = Map.empty,
      whereByTable: Map[(String, String), String] = Map.empty,
      // [processor] lua_code_file (docs/en/etl/lua.md): a verbatim
      // user Lua script run per row under the five-global contract —
      // the embedded interpreter executes it; the DSL stays the
      // codegen scale path
      luaCodeFile: Option[String] = None,
      metrics: Option[MetricsConfig] = None,
      slot: Option[graft.sources.PgSlotLifecycle.SlotConfig] = None,
      // CDC task wiring: a captured replication stream to drain (the
      // live-socket stand-in), the position store path, and the
      // warehouse credentials for the stream-load sink
      walCapture: Option[String] = None,
      positionStore: Option[String] = None,
      sinkUser: String = "root",
      sinkPassword: String = "",
      // loader-layout task knobs ([extractor] shard_count /
      // window_tokens)
      loaderShards: Int = 8,
      loaderWindow: Long = 512L,
      // source/sink engine dialects ([extractor]/[sinker] db_type)
      dbType: String = "file",
      sinkDbType: String = "file",
      // check_log replay ([extractor] check_log_dir)
      checkLogDir: Option[String] = None,
      // curation_stream decontamination ([extractor] benchmark_dir):
      // held-out docs whose n-gram Bloom gates the stream
      benchmarkDir: Option[String] = None,
      // snapshot_file / reshard key source ([extractor] file_path)
      filePath: Option[String] = None,
      // scan task ([extractor] statistic_type / scan_count /
      // keyspace_fixture — the captured-keyspace stand-in for the live
      // socket, like wal_capture on the CDC lane)
      statisticType: String = "hot_key",
      scanCount: Int = 1000,
      keyspaceFixture: Option[String] = None,
      // reshard layouts ([extractor] slots_before / slots_after:
      // comma-separated node@from-to runs)
      slotsBefore: Seq[graft.sinks.RedisReshard.SlotRange] = Nil,
      slotsAfter: Seq[graft.sinks.RedisReshard.SlotRange] = Nil,
      // foxlake_s3 staging root ([extractor] s3_root_dir)
      s3RootDir: Option[String] = None,
      // struct task catalog fixture dir ([extractor] catalog_dir)
      catalogDir: Option[String] = None,
      // [pipeline] pipeline_type=basic|http_server (+ http_host/
      // http_port/serve_timeout_secs for the subscription endpoint)
      pipelineType: String = "basic",
      httpHost: String = "127.0.0.1",
      httpPort: Int = 0,
      serveTimeoutSecs: Int = 60,
      // [pipeline] flow-control knobs (config.md:294-298): rate
      // governor, counter window (defaulting to the
      // checkpoint_interval_secs flush cadence, as documented)
      maxRps: Option[Long] = None,
      counterTimeWindowSecs: Int = 10,
      // [sinker] conflict_policy (task_config.rs:863-864, default
      // interrupt) — struct-sink DDL failure handling
      conflictPolicy: graft.struct.StructApplier.ConflictPolicy =
        graft.struct.StructApplier.Interrupt,
      // [meta_center] (meta_center_config.rs): external MySQL-engine
      // meta store with its own DDL conflict policy
      metaCenter: Option[MetaCenter] = None,
      // grouped source/sink/checker tuning (reference defaults)
      source: SourceTuning = SourceTuning(),
      sink: SinkTuning = SinkTuning(),
      checker: Option[CheckerOptions] = None,
      dataMarker: Option[DataMarkerCfg] = None,
      resumer: ResumerCfg = DummyResumer,
      // [sinker] sink_type (config_enums.rs SinkType; write is the
      // data lane, struct/sql/statistic/push/dummy specialize it)
      sinkType: String = "write",
      // [extractor] partition_cols (config.md:20): the per-table
      // column snapshot chunking splits on
      partitionColsByTable: Map[(String, String), String] = Map.empty,
      // [pipeline] counter sub-entry bound
      counterMaxSubCount: Int = 1000)

  /** `MetaCenterConfig::MySqlDbEngine` — the external meta store a
    * CDC task keeps authoritative schema in, with the policy applied
    * when replaying captured DDL into it fails
    * (meta_center_config.rs:10-17).
    */
  final case class MetaCenter(url: String,
      ddlConflictPolicy: graft.struct.StructApplier.ConflictPolicy)

  /** `[extractor]` source-side tuning (task_config.rs:440-530 and the
    * per-engine ExtractorConfig variants), reference defaults. Only
    * keys a lane reads are parsed: the binlog dial and position knobs
    * (binlog file/pos, server id, gtid set), the throughput cap and
    * the live-lane posture. Other reference keys (keepalives,
    * app_name, heartbeat_tb, kafka/psync/mongo resume coordinates)
    * are ignored.
    */
  final case class SourceTuning(
      binlogHeartbeatIntervalSecs: Int = 10,
      binlogTimeoutSecs: Int = 60,
      binlogFilename: Option[String] = None,
      binlogPosition: Option[Long] = None,
      serverId: Option[Long] = None,
      gtidEnabled: Boolean = false,
      gtidSet: Option[String] = None,
      maxMbps: Option[Long] = None,
      /** live CDC posture: `resident=true` keeps the pump + landing
        * running until a stop request (the deployment mode); false =
        * drain-once per start (the supervised-unit mode).
        */
      resident: Boolean = false,
      /** `max_segment_secs`: capture segments also rotate (publish)
        * when this old, not only at 64 MB — bounds a quiet stream's
        * landing latency in resident mode (0 = size-only).
        */
      maxSegmentSecs: Long = 0L,
      /** redis `[extractor] is_cluster=true`: the url is a cluster
        * seed — discover masters over it and run one PSYNC pump per
        * master (extractor_config.rs:157 is_cluster,
        * redis_cluster_psync_extractor.rs fan-out).
        */
      isCluster: Boolean = false,
      /** `capture_retention=true` sweeps consumed/committed capture
        * segments so a resident deployment's capture dir stays
        * bounded instead of holding the full replication history
        * ([[graft.transport.CaptureRetention]]). Off by default:
        * purging is safe (name-based offsets, idempotent landing) but
        * an operator may want the capture as an audit trail.
        */
      captureRetention: Boolean = false)

  /** `[sinker]` sink-side tuning (task_config.rs:838-1060 per-engine
    * SinkerConfig variants), reference defaults. Only keys a lane reads
    * are parsed; the rdb session knobs (replace,
    * disable_foreign_key_checks, transaction_isolation), kafka acks,
    * with_field_defs, redis method/is_cluster, stream_load_url and
    * app_name are ignored.
    */
  final case class SinkTuning(
      /** starrocks hard delete: deletes ship as `__op='delete'`
        * stream-load batches instead of the soft-delete sign column.
        */
      hardDelete: Boolean = false,
      /** byte cap per sink batch (foxlake/starrocks batch_memory_mb)
        * — at scale a row-count cap alone lets wide rows blow the
        * sink request size.
        */
      batchMemoryMb: Option[Int] = None,
      maxMbps: Option[Long] = None,
      /** redis statistic sinker gates (redis_statistic_sinker.rs:
        * 42,55): entries below the thresholds are dropped from the
        * report; statistic_log_dir overrides the artifact location.
        */
      dataSizeThreshold: Long = 0L,
      freqThreshold: Long = 0L,
      statisticLogDir: Option[String] = None,
      /** sink_type=sql: log REVERSED statements (insert↔delete,
        * update swaps images) — the undo stream (sql_sinker.rs:27-33).
        */
      sqlReverse: Boolean = false)

  /** `[data_marker]` two-way-sync topology (data_marker_config.rs) —
    * names this node's position in the topology and which origin
    * nodes' events to apply; feeds [[graft.operators.DataMarker]].
    */
  final case class DataMarkerCfg(
      topoName: String = "",
      srcNode: String = "",
      dstNode: String = "",
      doNodes: Seq[String] = Nil,
      ignoreNodes: Seq[String] = Nil,
      marker: String = "") {
    def toMarker: graft.operators.DataMarker.Marker =
      graft.operators.DataMarker.Marker(topoName, srcNode, dstNode)
  }

  /** `[checker]` options (checker_config.rs defaults; the section
    * requires an explicit `enable` when present —
    * task_config.rs:788-798). A check-shaped snapshot reads them; a
    * `cdc` task refuses `enable=true`, as there is no inline CDC check.
    */
  final case class CheckerOptions(
      enable: Boolean = false,
      sampleRate: Option[Int] = None,
      outputFullRow: Boolean = false,
      outputReviseSql: Boolean = false,
      checkLogDir: String = "",
      checkLogFileSize: String = "100mb",
      checkLogMaxRows: Int = 1000)

  /** `[resumer]` (resumer_config.rs): where recorded positions live.
    * `from_log` = file store under log_dir; `from_target`/`from_db` =
    * the database-table recorder ([[graft.sources.DbResumer]]) at
    * table_full_name, the same for both (the recorder writes beside
    * the task's position store, so the reference's url/db_type/
    * max_connections are not read); `dummy` = the task's own default.
    * Legacy keys (resume_from_log/resume_log_dir/resume_config_file)
    * are a config error, exactly as in the reference
    * (task_config.rs:1343-1352).
    */
  sealed trait ResumerCfg
  case object DummyResumer extends ResumerCfg
  final case class ResumeFromLog(logDir: String) extends ResumerCfg
  final case class ResumeFromDb(tableFullName: String) extends ResumerCfg

  /** `node@from-to[,node@from-to...]` → slot ranges. */
  def parseSlots(spec: String): Seq[graft.sinks.RedisReshard.SlotRange] =
    spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { run =>
      val Array(node, range) = run.split("@", 2)
      val Array(from, to) = range.split("-", 2)
      graft.sinks.RedisReshard.SlotRange(from.toInt, to.toInt, node)
    }

  /** Build the typed task from parsed INI (the reference's
    * TaskConfig::new).
    */
  /** `baseDir`: the directory the INI was loaded from. Relative file
    * references inside the config (lua_code_file) resolve against it,
    * so a config and its script travel together — exactly how the
    * scenario corpus lays fixtures out. Absent (a config from a
    * string), relative paths stay as given (process CWD).
    */
  def fromIni(text: String,
      baseDir: Option[java.nio.file.Path] = None): Task = {
    val p = parseIni(text)
    val ex = p.section("extractor")
    val sk = p.section("sinker")
    val fl = p.section("filter")
    val rt = p.section("router")
    val pl = p.section("pipeline")

    val extractType = ex.get("extract_type", "snapshot") match {
      case "cdc" => CdcExtract
      case "check" => CheckExtract
      case "check_log" => CheckLogExtract
      case "struct" => StructExtract
      case "snapshot_and_cdc" => SnapshotAndCdcExtract
      case "snapshot_file" => SnapshotFileExtract
      case "scan" => ScanExtract
      case "reshard" => ReshardExtract
      case "foxlake_s3" => FoxlakeS3Extract
      case "curation" => CurationExtract
      case "curation_stream" => CurationStreamExtract
      case "loader" => LoaderExtract
      case "warc" => WarcExtract
      case "jsonl" => JsonlExtract
      case _ => SnapshotExtract
    }

    def tbTokens(key: String): Seq[TableToken] =
      fl.list(key).map { t =>
        t.split("\\.") match {
          case Array(s, tb) => TableToken(s, tb)
          case Array(tb) => TableToken("*", tb)
          case _ => TableToken(t, "*")
        }
      }

    val filter = NameFilter(
      doSchemas = fl.list("do_dbs"),
      ignoreSchemas = fl.list("ignore_dbs"),
      doTbs = tbTokens("do_tbs"),
      ignoreTbs = tbTokens("ignore_tbs"),
      doEvents = fl.list("do_events") match {
        case Nil => Set("insert", "update", "delete")
        case xs => xs.toSet
      },
      doDdls = fl.list("do_ddls").toSet,
      doDcls = fl.list("do_dcls").toSet,
      doStructures = fl.list("do_structures").toSet,
      ignoreCmds = fl.list("ignore_cmds").toSet)

    def pairMap(key: String): Map[String, String] =
      rt.list(key).flatMap { kv =>
        kv.split(":") match {
          case Array(a, b) => Some(a.trim -> b.trim)
          case _ => None
        }
      }.toMap

    val tbMap = pairMap("tb_map").map { case (f, t) =>
      val Array(fs, ft) = f.split("\\.", 2)
      val Array(ts, tt) = t.split("\\.", 2)
      (fs, ft) -> ((ts, tt))
    }
    val colMapRaw = rt.list("col_map").flatMap { spec =>
      // form: db.tb.from:to
      spec.split(":") match {
        case Array(from, to) =>
          val parts = from.split("\\.")
          if (parts.length == 3)
            Some(((parts(0), parts(1)), parts(2) -> to.trim))
          else None
        case _ => None
      }
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toMap }

    val router = Router(
      schemaMap = pairMap("db_map"),
      tbMap = tbMap,
      colMap = colMapRaw,
      topicMap = pairMap("topic_map").map { case (k, v) =>
        val parts = k.split("\\.", 2)
        (parts(0), if (parts.length > 1) parts(1) else "*") -> v
      },
      defaultTopic = rt.get("default_topic", ""))

    // `ignore_cols` / `where_conditions` carry JSON after a `json:`
    // prefix (config.md: "it should starts with json:"); a bare value
    // is a config error, matching the reference's parse
    def jsonEntries(section: Section, key: String)
        : Seq[com.fasterxml.jackson.databind.JsonNode] =
      section(key) match {
        case None => Nil
        case Some(raw) =>
          require(raw.startsWith("json:"),
            s"$key must be JSON prefixed with 'json:', got: $raw")
          val node = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(raw.stripPrefix("json:"))
          (0 until node.size()).map(node.get)
      }

    val ignoreCols = jsonEntries(fl, "ignore_cols").map { n =>
      val cols = (0 until n.get("ignore_cols").size())
        .map(i => n.get("ignore_cols").get(i).asText())
      (n.get("db").asText(), n.get("tb").asText()) -> cols.toSeq
    }.toMap

    val whereConds = jsonEntries(fl, "where_conditions").map { n =>
      (n.get("db").asText(), n.get("tb").asText()) ->
        n.get("condition").asText()
    }.toMap

    def colSpec(section: Section, key: String): Map[String, Seq[String]] =
      section.list(key).flatMap { spec =>
        spec.split(":") match {
          case Array(tb, cols) =>
            Some(tb.trim -> cols.split("\\+").toSeq.map(_.trim))
          case _ => None
        }
      }.toMap

    val metrics = p.sections.get("metrics").map { m =>
      val labels = m.entries.getOrElse("labels", "").split(",")
        .flatMap { pair =>
          pair.split("=", 2) match {
            case Array(k, v) if k.trim.nonEmpty =>
              Some(k.trim -> v.trim)
            case _ => None
          }
        }.toMap
      MetricsConfig(
        httpHost = m.get("http_host", "127.0.0.1"),
        httpPort = m.get("http_port", "9090").toInt,
        labels = labels)
    }

    // PG CDC slot lifecycle config (pg_cdc_client.rs fields), present
    // when the extractor names a slot
    val slot = Option.when(ex.get("slot_name", "").nonEmpty)(
      graft.sources.PgSlotLifecycle.SlotConfig(
        slotName = ex.get("slot_name", ""),
        pubName = ex.get("pub_name", ""),
        startLsn = ex.get("start_lsn", ""),
        recreateIfExists =
          ex.get("recreate_slot_if_exists", "false").toBoolean,
        temporary = ex.get("temporary_slot", "false").toBoolean,
        streaming = ex.get("streaming_txns", "false").toBoolean))

    Task(
      extractType = extractType,
      sourceDir = ex.get("url", ""),
      sinkDir = sk.get("url", ""),
      filter = filter,
      router = router,
      // the reference keys sink batching under [sinker] batch_size
      // (sinker_config.rs); extractor batch_size is the snapshot
      // fetch size and doubles as the fallback
      batchSize = sk.get("batch_size",
        ex.get("batch_size", "10000")).toInt,
      // [extractor] parallel_size wins; the legacy [runtime]
      // tb_parallel_size is honored as the reference does
      // (load_snapshot_parallel_size); [pipeline] parallel_size is
      // this repo's historical spelling and stays the fallback
      parallelism = ex("parallel_size")
        .orElse(p.section("runtime")("tb_parallel_size"))
        .getOrElse(pl.get("parallel_size", "4")).toInt,
      keysByTable = colSpec(ex, "id_cols"),
      ignoreColsByTable = ignoreCols,
      whereByTable = whereConds,
      luaCodeFile = p.section("processor")("lua_code_file")
        .filter(_.nonEmpty)
        .map { f =>
          val fp = java.nio.file.Paths.get(f)
          if (fp.isAbsolute) f
          else baseDir.map(_.resolve(fp).toString).getOrElse(f)
        },
      metrics = metrics,
      slot = slot,
      walCapture = ex("wal_capture"),
      positionStore = ex("position_store"),
      sinkUser = sk.get("username", "root"),
      sinkPassword = sk.get("password", ""),
      loaderShards = ex.get("shard_count", "8").toInt,
      loaderWindow = ex.get("window_tokens", "512").toLong,
      dbType = ex.get("db_type", "file"),
      sinkDbType = sk.get("db_type", "file"),
      checkLogDir = ex("check_log_dir"),
      benchmarkDir = ex("benchmark_dir"),
      filePath = ex("file_path"),
      statisticType = ex.get("statistic_type", "hot_key"),
      scanCount = ex.get("scan_count", "1000").toInt,
      keyspaceFixture = ex("keyspace_fixture"),
      slotsBefore = parseSlots(ex.get("slots_before", "")),
      slotsAfter = parseSlots(ex.get("slots_after", "")),
      s3RootDir = ex("s3_root_dir"),
      catalogDir = ex("catalog_dir"),
      pipelineType = pl.get("pipeline_type", "basic"),
      httpHost = pl.get("http_host", "127.0.0.1"),
      httpPort = pl.get("http_port", "0").toInt,
      serveTimeoutSecs = pl.get("serve_timeout_secs", "60").toInt,
      maxRps = pl.get("max_rps", "").toLongOption,
      // absent OR an explicit 0 falls back to checkpoint_interval_secs
      // (task_config.rs:1170-1171) — a zero-width monitor window would
      // evict every counter entry immediately
      counterTimeWindowSecs = Some(pl.get("counter_time_window_secs",
        pl.get("checkpoint_interval_secs", "10")).toInt)
        .filter(_ != 0)
        .getOrElse(pl.get("checkpoint_interval_secs", "10").toInt),
      conflictPolicy = graft.struct.StructApplier.parsePolicy(
        sk.get("conflict_policy", "interrupt")),
      metaCenter = metaCenter(p, ex, sk),
      source = SourceTuning(
        binlogHeartbeatIntervalSecs =
          ex.get("binlog_heartbeat_interval_secs", "10").toInt,
        binlogTimeoutSecs = ex.get("binlog_timeout_secs", "60").toInt,
        binlogFilename = ex("binlog_filename").filter(_.nonEmpty),
        binlogPosition =
          ex("binlog_position").filter(_.nonEmpty).map(_.toLong),
        serverId = ex("server_id").filter(_.nonEmpty).map(_.toLong),
        gtidEnabled = ex.get("gtid_enabled", "false").toBoolean,
        gtidSet = ex("gtid_set").filter(_.nonEmpty),
        maxMbps = ex.get("max_mbps", "").toLongOption,
        resident = ex.get("resident", "false").toBoolean,
        maxSegmentSecs = ex.get("max_segment_secs", "0").toLong,
        isCluster = ex.get("is_cluster", "false").toBoolean,
        // disk-safety default: a RESIDENT task captures the full
        // replication history, so retention defaults ON for it (a
        // weeks-long residency without the sweep fills the disk);
        // drain-once keeps the capture as an audit trail by default.
        // An explicit capture_retention=false still opts out — and
        // trips the Precheck warning gate.
        captureRetention = ex.get("capture_retention",
          ex.get("resident", "false")).toBoolean),
      sink = SinkTuning(
        hardDelete = sk.get("hard_delete", "false").toBoolean,
        batchMemoryMb =
          sk.get("batch_memory_mb", "").toIntOption,
        maxMbps = sk.get("max_mbps", "").toLongOption,
        dataSizeThreshold =
          sk.get("data_size_threshold", "0").toLong,
        freqThreshold = sk.get("freq_threshold", "0").toLong,
        statisticLogDir = sk("statistic_log_dir").filter(_.nonEmpty),
        sqlReverse = sk.get("reverse", "false").toBoolean),
      dataMarker = {
        val dm = p.section("data_marker")
        if (dm.entries.isEmpty) None
        else Some(DataMarkerCfg(
          topoName = dm.get("topo_name", ""),
          srcNode = dm.get("src_node", ""),
          dstNode = dm.get("dst_node", ""),
          doNodes = dm.list("do_nodes"),
          ignoreNodes = dm.list("ignore_nodes"),
          marker = dm.get("marker", "")))
      },
      checker = {
        val ck = p.section("checker")
        if (ck.entries.isEmpty) None
        else {
          // the reference REQUIRES an explicit enable when the
          // section is present (task_config.rs:788-798)
          require(ck("enable").nonEmpty,
            "config [checker].enable is required when [checker] " +
              "section is present")
          val rate = ck.get("sample_rate", "").toIntOption
          rate.foreach(r => require(r >= 1 && r <= 100,
            s"[checker].sample_rate must be between 1 and 100, got $r"))
          Some(CheckerOptions(
            enable = ck.get("enable", "false").toBoolean,
            sampleRate = rate,
            outputFullRow = ck.get("output_full_row", "false").toBoolean,
            outputReviseSql =
              ck.get("output_revise_sql", "false").toBoolean,
            checkLogDir = ck.get("check_log_dir", ""),
            checkLogFileSize = ck.get("check_log_file_size", "100mb"),
            checkLogMaxRows = ck.get("check_log_max_rows", "1000").toInt))
        }
      },
      resumer = {
        val rz = p.section("resumer")
        val legacy = Seq("resume_from_log", "resume_log_dir",
          "resume_config_file").filter(rz(_).nonEmpty)
        require(legacy.isEmpty,
          s"legacy [resumer] configs ${legacy.mkString(", ")} are no " +
            "longer supported; migrate to resume_type=from_log, " +
            "log_dir, and config_file")
        rz.get("resume_type", "dummy") match {
          case "dummy" => DummyResumer
          case "from_log" => ResumeFromLog(rz.get("log_dir", "./logs"))
          case "from_target" | "from_db" =>
            ResumeFromDb(rz.get("table_full_name", ""))
          case other => sys.error(s"unknown resume_type: $other")
        }
      },
      sinkType = sk.get("sink_type", "write"),
      partitionColsByTable =
        jsonEntries(ex, "partition_cols").map { n =>
          (n.get("db").asText(), n.get("tb").asText()) ->
            n.get("partition_col").asText()
        }.toMap,
      counterMaxSubCount =
        pl.get("counter_max_sub_count", "1000").toInt)
  }

  /** `[meta_center] type=dbengine` → MetaCenter (task_config.rs:
    * 1444-1471): requires `url`, defaults `ddl_conflict_policy` to
    * interrupt, and REJECTS a meta-center url equal to the extractor
    * or sinker url — pointing the meta store at a replicated engine
    * would let the replayed DDL race its own capture. `type=basic`
    * (the default) means no external meta center.
    */
  private def metaCenter(p: Parsed, ex: Section,
      sk: Section): Option[MetaCenter] =
    p.sections.get("meta_center")
      .filter(m => m.get("type", "basic") == "dbengine")
      .map { m =>
        val url = m.get("url", "")
        require(url.nonEmpty, "[meta_center] url is required")
        val exUrl = ex.get("url", "")
        val skUrl = sk.get("url", "")
        require(url != exUrl && url != skUrl,
          "[meta_center].url should be different with [extractor].url" +
            " and [sinker].url")
        MetaCenter(url, graft.struct.StructApplier.parsePolicy(
          m.get("ddl_conflict_policy", "interrupt")))
      }
}
