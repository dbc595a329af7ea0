package graft.infra

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  StructField, StructType, TimestampType}

/** Pre-flight checks — the reference's dt-precheck
  * (/root/reference/dt-precheck/src/meta/check_item.rs:4-11): source
  * reachability, struct existence, table identity (pk presence),
  * type support — evaluated driver-side before any task starts.
  */
object Precheck {

  final case class CheckResult(item: String, ok: Boolean, detail: String)

  /** Source connectivity: does the path hold a readable parquet footer?
    * Read on the driver, so the check starts no Spark job.
    */
  def checkSourceReadable(spark: SparkSession, path: String): CheckResult =
    readSchema(spark, path) match {
      case Right(_) => CheckResult("source_readable", ok = true, path)
      case Left(err) =>
        CheckResult("source_readable", ok = false, s"$path: $err")
    }

  /** `path`'s schema from its first data file's footer, or why there is
    * none: no data file, or one that is not parquet.
    */
  private def readSchema(spark: SparkSession,
      path: String): Either[String, StructType] =
    try Footers.schema(spark, path).toRight("no parquet data file")
    catch { case e: Exception =>
      Left(Option(e.getMessage).flatMap(_.linesIterator.nextOption())
        .getOrElse(e.getClass.getName))
    }

  /** Table identity: a declared key must exist in the schema and be
    * non-nullable-able in practice (reference: pk presence check —
    * merge/partition need id_cols).
    */
  def checkKeys(schema: StructType, keys: Seq[String],
      table: String): CheckResult = {
    val missing = keys.filterNot(k => schema.fieldNames.contains(k))
    if (keys.isEmpty)
      CheckResult("pk_present", ok = false,
        s"$table: no key declared — merge/partition degrade to serial")
    else if (missing.nonEmpty)
      CheckResult("pk_present", ok = false,
        s"$table: missing key cols ${missing.mkString(",")}")
    else CheckResult("pk_present", ok = true, table)
  }

  /** Type support: flag columns the applier can't round-trip. */
  def checkTypes(schema: StructType, table: String): CheckResult = {
    import org.apache.spark.sql.types._
    def nested(dt: DataType): Boolean = dt match {
      case _: StructType | _: MapType => true
      case ArrayType(et, _) => nested(et)
      case _ => false
    }
    val bad = schema.fields.filter(f => nested(f.dataType))
    if (bad.isEmpty) CheckResult("types_supported", ok = true, table)
    else CheckResult("types_supported", ok = false,
      s"$table: ${bad.map(f => s"${f.name}:${f.dataType.simpleString}")
        .mkString(",")}")
  }

  // ------------------------------------------------------ engine gates
  // The reference's per-engine precheckers are fetch-then-judge; the
  // judging rules below are pure over the fetched values so every gate
  // is testable without a server. Sources of truth:
  // mysql_prechecker.rs:17,40-140,256-394; pg_prechecker.rs:18,40-165;
  // mongo_prechecker.rs:15,64-116; redis_prechecker.rs:41,83-101.

  /** Version support per engine: MySQL 5.x/8.x (regex), PG
    * server_version_num ≥ 120000, Mongo 4/5.0/6.0/7.0 (regex), Redis
    * ≥ 2.8 (float compare).
    */
  def checkVersion(dbType: String, version: String): CheckResult = {
    // Unanchored find, mirroring the reference's Regex::is_match: a
    // vendor-suffixed "10.5.1-MariaDB" passes the "5\..*" rule by
    // substring there, so it must pass here too.
    def anyMatch(res: String*): Boolean =
      res.exists(_.r.findFirstIn(version).isDefined)
    val ok = dbType match {
      case "mysql" => anyMatch("5\\..*", "8\\..*")
      case "pg" => version.trim.toIntOption.exists(_ >= 120000)
      case "mongo" => anyMatch("4.*", "5\\.0.*", "6\\.0.*", "7\\.0.*")
      case "redis" => version.trim.toFloatOption.exists(_ >= 2.8f)
      case _ => false
    }
    CheckResult("version_supported", ok, s"$dbType $version")
  }

  /** CDC-capability gates over fetched server configuration:
    * MySQL needs log_bin=on, binlog_format=row, binlog_row_image=full;
    * PG needs wal_level=logical, max_wal_senders>0,
    * max_replication_slots>0 and a free slot (usedSlots <
    * max_replication_slots). Target-side databases skip (isSource).
    */
  def checkCdcConfigs(dbType: String, configs: Map[String, String],
      isSource: Boolean = true, usedSlots: Int = 0): CheckResult = {
    if (!isSource) return CheckResult("cdc_supported", ok = true,
      s"$dbType: target side — skipped")
    def low(k: String) = configs.getOrElse(k, "").toLowerCase
    val errs = dbType match {
      case "mysql" =>
        Seq(
          Option.when(low("log_bin") != "on")(
            s"log_bin setting:[${low("log_bin")}] is not 'on'"),
          Option.when(low("binlog_format") != "row")(
            s"binlog_format setting:[${low("binlog_format")}] is not 'row'"),
          Option.when(low("binlog_row_image") != "full")(
            s"binlog_row_image setting:[${low("binlog_row_image")}] " +
              "is not 'full'")).flatten
      case "pg" =>
        val maxSlots = configs.getOrElse("max_replication_slots", "0")
          .trim.toIntOption.getOrElse(0)
        val senders = configs.getOrElse("max_wal_senders", "0")
          .trim.toIntOption.getOrElse(0)
        Seq(
          Option.when(low("wal_level") != "logical")(
            s"wal_level should not be '${low("wal_level")}', " +
              "need to be 'logical'"),
          Option.when(maxSlots < 1)(
            "max_replication_slots needs to be greater than 0. " +
              s"current is '$maxSlots'"),
          Option.when(senders < 1)(
            "max_wal_senders needs to be greater than 0, " +
              s"current is '$senders'"),
          Option.when(maxSlots >= 1 && usedSlots >= maxSlots)(
            s"the current number of slots:[$usedSlots] has reached " +
              "max_replication_slots, and new slots cannot be created"))
          .flatten
      case other => Seq(s"unknown db type $other")
    }
    CheckResult("cdc_supported", errs.isEmpty,
      if (errs.isEmpty) dbType else errs.mkString(";"))
  }

  /** Slot-plan admission gate: a lifecycle plan that creates a NET-NEW
    * slot (not a drop-and-recreate, which frees its own slot first)
    * needs a free slot under max_replication_slots. Complements
    * [[checkCdcConfigs]]'s generic free-slot check with the decided
    * plan from [[graft.sources.PgSlotLifecycle.plan]].
    */
  def checkSlotPlan(plan: graft.sources.PgSlotLifecycle.Plan,
      usedSlots: Int, maxSlots: Int): CheckResult = {
    val needsNew = plan.createsSlot && !plan.dropsSlot
    val ok = !needsNew || usedSlots < maxSlots
    CheckResult("slot_plan_admissible", ok,
      if (ok)
        (if (plan.createsSlot) "will create slot" else "resumes slot") +
          plan.warnings.map(w => s"; $w").mkString
      else s"plan needs a new slot but slots used:[$usedSlots] " +
        s"reached max_replication_slots:[$maxSlots]")
  }

  /** Mongo CDC topology gate over the `db.hello()` document: mongos
    * passes outright; otherwise the node must be a replica-set member
    * AND the primary.
    */
  def checkMongoCdcTopology(ok: Boolean, isMongos: Boolean,
      primary: String, me: String): CheckResult = {
    val err =
      if (!ok) "fetching mongodb instance status with 'db.hello()' failed"
      else if (isMongos) ""
      else if (primary.isEmpty || me.isEmpty)
        "mongodb is not a replicaSet architecture"
      else if (primary != me) "the mongodb instance is not a master"
      else ""
    CheckResult("cdc_supported", err.isEmpty,
      if (err.isEmpty) "mongo" else err)
  }

  /** One table's constraint row, as fetched from the catalog
    * (information_schema.table_constraints shape).
    */
  final case class Constraint(schema: String, tb: String, kind: String,
      relSchema: String = "", relTb: String = "")

  /** Table-structure support: tables without a PRIMARY/UNIQUE key are a
    * WARNING (CDC merge degrades to append-only); a FOREIGN KEY whose
    * referenced table is outside the replication object set is an ERROR
    * (applying child rows without the parent breaks the target).
    * `inScope` is the name filter — a referenced table that IS in scope
    * is fine.
    */
  def checkTableStructs(tables: Seq[(String, String)],
      constraints: Seq[Constraint],
      inScope: (String, String) => Boolean): Seq[CheckResult] = {
    val withPkUk = constraints.collect {
      case c if c.kind == "PRIMARY KEY" || c.kind == "UNIQUE" =>
        (c.schema, c.tb)
    }.toSet
    val fkMissing = constraints.collect {
      case c if c.kind == "FOREIGN KEY" && c.relSchema.nonEmpty &&
          c.relTb.nonEmpty && !inScope(c.relSchema, c.relTb) =>
        s"${c.relSchema}.${c.relTb}"
    }.distinct
    val noKey = tables.filterNot(withPkUk.contains)
      .map { case (s, t) => s"$s.$t" }
    val err = Option.when(fkMissing.nonEmpty)(CheckResult(
      "table_structs", ok = false,
      "the following foreign key dependent tables are not defined in " +
        s"the replication object:[${fkMissing.mkString(";")}]"))
    val warn = Option.when(noKey.nonEmpty)(CheckResult(
      "table_structs_warn", ok = false,
      "primary key or unique key are needed, but these tables don't " +
        s"have any:[${noKey.mkString(";")}]"))
    val results = err.toSeq ++ warn.toSeq
    if (results.isEmpty)
      Seq(CheckResult("table_structs", ok = true,
        s"${tables.size} tables"))
    else results
  }

  /** Disk-safety gate for the live lanes: a RESIDENT task without
    * `capture_retention` accumulates the full replication history
    * under its capture dir until the disk fills. Retention defaults
    * ON for resident tasks (TaskConfig), so this only trips on an
    * explicit opt-out — a legitimate audit-trail posture, surfaced
    * loudly in the task log rather than failed.
    */
  def checkResidentRetention(resident: Boolean,
      captureRetention: Boolean): CheckResult =
    if (resident && !captureRetention)
      CheckResult("capture_retention", ok = true,
        "WARN resident=true with capture_retention=false: the " +
          "capture dir grows with the full replication history — " +
          "explicit opt-out is for audit trails with external purges")
    else CheckResult("capture_retention", ok = true, "")

  /** Precheck battery for the curation-family task kinds (curation /
    * curation_stream / loader / warc) — the struct_existed /
    * table_structs analog for the corpus side: the reference gates
    * every task behind engine prechecks
    * (the dt-precheck checker tree), and a 100 TB curation run wants
    * the same fail-fast before the cluster spins up. Checks: the
    * corpus dir is readable, carries the `(doc_id, text)` contract
    * (plus `ts` for the streaming kind), `doc_id` is an integral type
    * (fingerprint keys hash it), and the optional benchmark dir
    * (decontamination) is itself a readable corpus.
    */
  def checkCorpusContract(spark: SparkSession, dir: String,
      needTs: Boolean = false,
      // the streaming kind legitimately starts against an EXISTING but
      // still-empty spool (between drops): its readStream supplies the
      // schema explicitly, so "no parquet yet" passes with a note
      // instead of failing a previously-working idle drain
      allowEmpty: Boolean = false): Seq[CheckResult] = {
    // the corpus is either a bare parquet dataset or a testdata-style
    // dir with documents.parquet inside — probe the specific one.
    // Probe through the Hadoop FileSystem API, not java.io.File: the
    // corpus may live on hdfs:// or s3a://, where a local-file probe
    // silently misses documents.parquet and an empty remote spool
    // would fail the streaming precheck the allowEmpty branch exists
    // to pass.
    val hconf = spark.sparkContext.hadoopConfiguration
    def hfs(p: String) = {
      val path = new org.apache.hadoop.fs.Path(p)
      (path.getFileSystem(hconf), path)
    }
    val docsPath = {
      val (fs, p) = hfs(s"$dir/documents.parquet")
      if (fs.exists(p)) s"$dir/documents.parquet" else dir
    }
    val schema = readSchema(spark, docsPath) match {
      case Right(sc) => sc
      case Left(err) =>
        val (fs, p) = hfs(dir)
        if (allowEmpty && fs.exists(p) && fs.getFileStatus(p).isDirectory)
          return Seq(CheckResult("source_readable", ok = true,
            s"$dir: empty spool (schema deferred to the stream reader)"))
        return Seq(CheckResult("source_readable", ok = false,
          s"$docsPath: $err"))
    }
    val readable = CheckResult("source_readable", ok = true, docsPath)
    def field(name: String): Option[StructField] =
      schema.fields.find(_.name == name)
    val hasDoc = field("doc_id") match {
      case Some(f) if f.dataType == LongType ||
        f.dataType == IntegerType =>
        CheckResult("corpus_doc_id", ok = true, f.dataType.simpleString)
      case Some(f) => CheckResult("corpus_doc_id", ok = false,
        s"doc_id must be integral, got ${f.dataType.simpleString}")
      case None => CheckResult("corpus_doc_id", ok = false,
        "missing doc_id column")
    }
    val hasText = field("text") match {
      case Some(f) if f.dataType == StringType =>
        CheckResult("corpus_text", ok = true, "string")
      case Some(f) => CheckResult("corpus_text", ok = false,
        s"text must be string, got ${f.dataType.simpleString}")
      case None =>
        CheckResult("corpus_text", ok = false, "missing text column")
    }
    val ts =
      if (!needTs) Nil
      else Seq(field("ts") match {
        case Some(f) if f.dataType == TimestampType =>
          CheckResult("corpus_ts", ok = true, "timestamp")
        case Some(f) => CheckResult("corpus_ts", ok = false,
          s"ts must be timestamp, got ${f.dataType.simpleString}")
        case None => CheckResult("corpus_ts", ok = false,
          "streaming curation needs an event-time ts column")
      })
    Seq(readable, hasDoc, hasText) ++ ts
  }

  /** Run the standard battery for a snapshot task over parquet tables,
    * one footer read per table.
    */
  def runAll(spark: SparkSession, dir: String, tables: Seq[String],
      keysByTable: Map[String, Seq[String]]): Seq[CheckResult] =
    tables.flatMap { t =>
      val path = s"$dir/$t.parquet"
      readSchema(spark, path) match {
        case Left(err) =>
          Seq(CheckResult("source_readable", ok = false, s"$path: $err"))
        case Right(schema) =>
          Seq(CheckResult("source_readable", ok = true, t),
            checkKeys(schema, keysByTable.getOrElse(t, Nil), t),
            checkTypes(schema, t))
      }
    }
}
