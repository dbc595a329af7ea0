package graft.config

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.infra.{CheckLogs, Footers, Monitoring, Precheck}
import graft.operators.{Checker, Compaction}

/** Config → running task — the reference's TaskRunner
  * (/root/reference/dt-task/src/task_runner.rs:153-263): expand the
  * filter against the catalog, wire extractor → route → sink per table,
  * report per-table progress. Here the catalog is the parquet fixture
  * directory. A snapshot unit writes parquet under the sink directory;
  * a captured CDC stream (and the snapshot stage of snapshot_and_cdc)
  * ships to the `[sinker]` warehouse by stream load; `sink_type=sql`
  * renders statements to `sql.log`; a live source url lands tables
  * through [[LiveCdc]]. The wiring, filtering, routing, and check
  * semantics are the product.
  */
object TaskRunner {

  final case class TableResult(schema: String, tb: String, rows: Long,
      dstTable: String)

  private def catalog(dir: String): Seq[(String, String)] =
    Tables.names.map(t => ("app", t))

  /** The tables a task's filter admits — the task's unit list. */
  def units(task: TaskConfig.Task): Seq[(String, String)] =
    task.filter.expand(catalog(task.sourceDir))

  /** One unit's source frame as the snapshot ships it: the table with
    * where_conditions and ignore_cols applied (the filter's `json:`
    * configs — both reach the scan: the WHERE becomes a pushed filter,
    * the drop prunes the parquet read schema), then the `[processor]`
    * Lua, then the column map; with its routed destination.
    */
  private def prepared(spark: SparkSession, task: TaskConfig.Task,
      schema: String, tb: String): (DataFrame, (String, String)) = {
    val loaded = Tables.load(spark, task.sourceDir, tb)
    val conditioned = task.whereByTable.get((schema, tb))
      .map(c => loaded.filter(expr(c))).getOrElse(loaded)
    val dropped = task.ignoreColsByTable.get((schema, tb))
      .map(cols => conditioned.drop(cols: _*)).getOrElse(conditioned)
    // [processor] lua_code_file: the user's VERBATIM Lua between
    // filter and routing, the reference snapshot position
    val df = task.luaCodeFile match {
      case None => dropped
      case Some(f) => graft.transform.LuaScript.snapshotTransform(
        graft.infra.Fs.readString(f), schema, tb)(dropped)
    }
    (task.router.renameColumns(schema, tb, df),
      task.router.routeTable(schema, tb))
  }

  /** One snapshot unit: the [[prepared]] frame written to the routed
    * destination under the sink dir.
    */
  def snapshotTable(spark: SparkSession, task: TaskConfig.Task,
      schema: String, tb: String): TableResult = {
    val (routed, (toSchema, toTb)) = prepared(spark, task, schema, tb)
    val out = s"${task.sinkDir}/$toSchema.$toTb"
    // [extractor] partition_cols: the snapshot splits on the
    // configured column (config.md:20) — ranges of it become the
    // write partitions, the chunked-extract shape at the output
    val partitioned = task.partitionColsByTable.get((schema, tb))
      .map(c => routed.repartitionByRange(
        math.max(1, task.parallelism),
        col(task.router.routeColumn(schema, tb, c))))
      .getOrElse(routed)
    partitioned.write.mode(SaveMode.Overwrite).parquet(out)
    // count the WRITTEN output from its part files' footers: the write
    // is the unit's one Spark job (re-counting `routed` would re-run
    // the source scan, and a parquet read-back plans three more jobs)
    TableResult(schema, tb, Footers.rowCount(out), s"$toSchema.$toTb")
  }

  /** One snapshot unit shipped to a stream-load warehouse instead —
    * the snapshot stage of a single-config snapshot_and_cdc task, whose
    * `[sinker] url` is the warehouse the CDC stage loads into. Rows go
    * as upserts: sign 0 and version 0 unless `hard_delete`. The labels
    * carry batch -1, so a retried copy dedups at the warehouse and
    * never collides with a CDC batch's.
    */
  def shipSnapshotTable(spark: SparkSession, task: TaskConfig.Task,
      schema: String, tb: String,
      sinkFor: graft.streaming.CdcTask.SinkFactory): TableResult = {
    import graft.sinks.StreamLoadSink
    val (routed, (toSchema, toTb)) = prepared(spark, task, schema, tb)
    val rows =
      if (task.sink.hardDelete) routed
      else routed.withColumn(StreamLoadSink.IsDeletedCol, lit(0))
        .withColumn(StreamLoadSink.VersionCol, lit(0L))
    // the ship counts its lines: one job, no second scan to count rows
    val shipped = StreamLoadSink.ship(rows,
      () => sinkFor(toSchema, toTb, -1L, ""), task.batchSize,
      task.sink.batchMemoryMb.map(_.toLong * 1024 * 1024)
        .getOrElse(Long.MaxValue))
    TableResult(schema, tb, shipped, s"$toSchema.$toTb")
  }

  /** Snapshot task: every admitted table through [[snapshotTable]]. */
  def runSnapshot(spark: SparkSession, task: TaskConfig.Task)
      : Seq[TableResult] =
    units(task).map { case (schema, tb) =>
      snapshotTable(spark, task, schema, tb)
    }

  /** `[pipeline] pipeline_type=http_server` producer side: instead of
    * sinking, each admitted table's (filtered, routed) frame is staged
    * as one spool batch under `<sink>/spool` — the reference's
    * HttpServerPipeline swap, where the sinker is replaced by the
    * served subscription. A `dst_table` column stamps each row with
    * its routed destination so a consumer can demultiplex the spool.
    */
  def stageSnapshot(spark: SparkSession, task: TaskConfig.Task)
      : (graft.infra.Subscription, Seq[TableResult]) = {
    val sub = new graft.infra.Subscription(s"${task.sinkDir}/spool")
    var offset = sub.offsets().lastOption.map(_ + 1).getOrElse(0L)
    val results = units(task).map { case (schema, tb) =>
      // same [processor] position as snapshotTable: the staged spool
      // serves PROCESSED rows, like the reference's pipeline swap
      val (routed, (toSchema, toTb)) = prepared(spark, task, schema, tb)
      sub.stage(routed.withColumn("dst_table",
        lit(s"$toSchema.$toTb")), offset)
      val rows = Footers.rowCount(s"${task.sinkDir}/spool/batch=$offset")
      offset += 1
      TableResult(schema, tb, rows, s"$toSchema.$toTb")
    }
    (sub, results)
  }

  /** Curation task: the training-data extension run from the SAME
    * task-config surface as replication — `extract_type=curation` runs
    * [[graft.operators.CurationPipeline]] over the source corpus and
    * materializes verdicts + report under the sink dir. Returns the
    * per-reason counts for the progress report.
    */
  def runCuration(spark: SparkSession, task: TaskConfig.Task)
      : graft.operators.CurationPipeline.Summary =
    graft.operators.CurationPipeline.run(spark, task.sourceDir,
      task.sinkDir)

  /** WARC ingestion result: records framed per type (THIS run),
    * documents in the landed table, and the incremental file
    * accounting.
    */
  final case class WarcSummary(records: Map[String, Long], nDocs: Long,
      filesProcessed: Long = 0L, filesSkipped: Long = 0L)

  /** WARC/WET ingestion task (`extract_type=warc`): frame every
    * record of the crawl files under [extractor] url, land the full
    * record table under `<sink>/warc_records` and the conversion
    * records as a curation-ready `documents` parquet under the sink —
    * the Common Crawl entry point feeding the curation/loader task
    * chain on the same INI surface.
    *
    * INCREMENTAL by file: a manifest under `<sink>/ingested_files`
    * records every segment already framed (the LakeSink meta-file
    * discipline applied to crawls), so a re-run after a new crawl
    * drop parses ONLY the new segments and appends their records —
    * at 100k segments per drop, re-framing the whole history per run
    * would dominate the pipeline. The documents parquet is rebuilt
    * from the full record table each run (a derived view — cheap
    * relative to framing, and keeps ids exactly-once since they are
    * stable folds). Restart-safe ordering: records append BEFORE the
    * manifest, so a crash between the two re-processes a file into
    * duplicate records rather than silently losing one — and the
    * stable doc_ids collapse those duplicates in the derived table.
    */
  def runWarc(spark: SparkSession, task: TaskConfig.Task)
      : WarcSummary = {
    import org.apache.spark.sql.functions.{col, lit}
    val manifestDir = s"${task.sinkDir}/ingested_files"
    // probe through the Hadoop-FS layer, not java.io: a non-local
    // sink (hdfs://, s3a://) must see its manifest or every run would
    // silently re-frame and re-append the whole crawl. Absence is the
    // ONLY condition that yields None — a transient/corrupt manifest
    // read must propagate, not quietly re-frame the entire history
    // into duplicate record rows.
    def readIfExists(path: String) = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // a dir with no committed data files (a crash between mkdir and
      // the first commit leaves only _temporary/) is ABSENCE, not a
      // read error — without this check spark.read.parquet throws
      // "unable to infer schema" on every restart and the ingest can
      // never start again
      def hasData(dir: org.apache.hadoop.fs.Path): Boolean =
        fs.listStatus(dir).exists { st =>
          val n = st.getPath.getName
          if (n.startsWith("_") || n.startsWith(".")) false
          else !st.isDirectory || hasData(st.getPath)
        }
      if (fs.exists(p) && hasData(p)) Some(spark.read.parquet(path))
      else None
    }
    val done: Set[String] = readIfExists(manifestDir)
      .map(_.select("file").collect().map(_.getString(0)).toSet)
      .getOrElse(Set.empty)
    val allFiles = spark.read.format("binaryFile")
      .load(task.sourceDir)
      .select("path").collect().map(_.getString(0)).toSeq.sorted
    val todo = allFiles.filterNot(done)
    val byType: Map[String, Long] =
      if (todo.isEmpty) Map.empty
      else {
        val recs = graft.sources.WarcSource
          .read(spark, todo: _*)
          .localCheckpoint()
        recs.write.mode(SaveMode.Append)
          .parquet(s"${task.sinkDir}/warc_records")
        val counted = recs.groupBy("warc_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        // manifest AFTER the records landed (see Scaladoc)
        import spark.implicits._
        todo.toDF("file").write.mode(SaveMode.Append)
          .parquet(manifestDir)
        counted
      }
    // nothing ever landed (task created before the first crawl drop):
    // report a zero summary instead of failing on the missing table
    val nDocs = readIfExists(s"${task.sinkDir}/warc_records") match {
      case None => 0L
      case Some(stored) =>
        graft.sources.WarcSource.wetDocuments(stored)
          // crash-replayed segments collapse (same doc_id AND raw_id);
          // a fold collision (same doc_id, different raw_id) keeps
          // both rows — detectable downstream rather than silently
          // discarding a legitimate document
          .dropDuplicates("doc_id", "raw_id")
          .write.mode(SaveMode.Overwrite)
          .parquet(s"${task.sinkDir}/documents.parquet")
        spark.read
          .parquet(s"${task.sinkDir}/documents.parquet").count()
    }
    WarcSummary(byType, nDocs, filesProcessed = todo.size.toLong,
      filesSkipped = (allFiles.size - todo.size).toLong)
  }

  /** JSONL ingestion result. */
  final case class JsonlSummary(nDocs: Long, nBadLines: Long,
      withUrl: Long)

  /** JSONL corpus ingestion (`extract_type=jsonl`): one JSON object
    * per line with a required `text` field — the wire format most
    * open datasets ship. Gzip (and any Hadoop-recognized codec) comes
    * free from the line reader; malformed lines land in a quarantine
    * column instead of failing the 100k-file ingest (PERMISSIVE +
    * corrupt-record accounting, the Spark-native analog of a bad-rows
    * lane). `doc_id` is a stable 64-bit fold of the record's own id
    * when present, else of the text — so re-ingestion dedups against
    * itself, same contract as [[graft.sources.WarcSource]].
    */
  def runJsonl(spark: SparkSession, task: TaskConfig.Task)
      : JsonlSummary = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", StringType),
      StructField("url", StringType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("_corrupt", StringType)))
    val raw = spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(task.sourceDir)
    val bad = raw.filter(col("_corrupt").isNotNull ||
      col("text").isNull)
    val idSource = coalesce(col("id"), col("text"))
    val docs = raw.filter(col("_corrupt").isNull &&
        col("text").isNotNull)
      .select(
        graft.functions.GraftFunctions.charFold(idSource).as("doc_id"),
        idSource.as("raw_id"),
        col("url"), col("lang"), col("text"))
      // within-ingest dedup (same contract as the WARC path): repeated
      // lines and shared ids collapse; dedup keys on (doc_id, raw_id)
      // so a 64-bit fold collision keeps both documents (detectable)
      // instead of silently dropping one
      .dropDuplicates("doc_id", "raw_id")
    docs.write.mode(SaveMode.Overwrite)
      .parquet(s"${task.sinkDir}/documents.parquet")
    bad.select(coalesce(col("_corrupt"), lit("missing text"))
        .as("bad_line"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"${task.sinkDir}/quarantine")
    val stored = spark.read
      .parquet(s"${task.sinkDir}/documents.parquet")
    JsonlSummary(stored.count(),
      spark.read.parquet(s"${task.sinkDir}/quarantine").count(),
      stored.filter(col("url").isNotNull).count())
  }

  /** Loader-layout task result: corpus size, the layouts written. */
  final case class LoaderSummary(nDocs: Long, nShards: Int,
      nWindows: Long, totalTokens: Long)

  /** Loader task (`extract_type=loader`): materialize the
    * training-loader layout for a corpus — the q115 shard-shuffle
    * manifest under `<sink>/shards` and the q111 packing-window
    * manifest under `<sink>/pack_windows`. Run it over a curation
    * task's kept output (or a raw corpus dir) to make it loader-ready
    * from the same INI surface as everything else.
    */
  def runLoader(spark: SparkSession, task: TaskConfig.Task)
      : LoaderSummary = {
    val docs = Tables.documents(spark, task.sourceDir)
    graft.operators.LoaderOps
      .shardShuffleOf(spark, docs, task.loaderShards)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"${task.sinkDir}/shards")
    graft.operators.PackingOps
      .packWindowsOf(spark, docs, task.loaderWindow)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"${task.sinkDir}/pack_windows")
    // summarize from the WRITTEN manifest (row-group metadata reads)
    val m = spark.read.parquet(s"${task.sinkDir}/pack_windows")
    val row = m.agg(count(lit(1)).as("n"),
      (max(col("last_win")) + 1).as("w"),
      sum(col("n_tokens")).as("t")).collect()(0)
    LoaderSummary(row.getLong(0), task.loaderShards,
      row.getLong(1), row.getLong(2))
  }

  /** Check task: per admitted table, compare source against the routed
    * sink output (the post-snapshot verification flow) and persist the
    * check-log artifacts (miss.log/diff.log/summary.log under
    * `<sinkDir>/checklog/<schema>.<tb>/`) that the revise task replays.
    *
    * One full-join pass per table: the non-OK subset (bounded by the
    * defect count, not the data size) is cached, artifacts and defect
    * counts both read it, and the OK count is derived as
    * `src_rows - miss - diff` instead of re-scanning the join.
    */
  def runCheck(spark: SparkSession, task: TaskConfig.Task)
      : Seq[(String, Map[String, Long])] =
    units(task).flatMap { case (schema, tb) =>
      checkTable(spark, task, schema, tb)
    }

  /** One check unit (None when the table has no key spec). */
  def checkTable(spark: SparkSession, task: TaskConfig.Task,
      schema: String, tb: String): Option[(String, Map[String, Long])] =
    task.keysByTable.get(tb).map { keys =>
        val ck = task.checker.filter(_.enable)
        val src0 = task.router.renameColumns(schema, tb,
          Tables.load(spark, task.sourceDir, tb))
        val (toSchema, toTb) = task.router.routeTable(schema, tb)
        val dst0 = spark.read.parquet(s"${task.sinkDir}/$toSchema.$toTb")
        // [checker] sample_rate: both sides gate on the same key hash
        // (checker_engine.rs:316-321 id_hash%100 < rate), so a sampled
        // key is either fully present or fully absent on both sides
        def sampled(df: org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame =
          ck.flatMap(_.sampleRate) match {
            case Some(rate) if keys.size >= 2 =>
              df.filter(Checker.sampleFilter(
                Checker.arithKeyHash(col(keys.head), col(keys(1))),
                rate))
            case Some(rate) =>
              df.filter(Checker.sampleFilter(
                Checker.arithKeyHash(col(keys.head), lit(0)), rate))
            case None => df
          }
        val src = sampled(src0)
        val dst = sampled(dst0)
        val compareCols = src.columns.filter(dst.columns.contains)
          .filterNot(keys.contains).toSeq
        val checked = Checker.diff(src, dst, keys)
        val nonOk = checked
          .filter(col(Checker.StatusCol) =!= "OK").persist()
        try {
          val logDir = ck.map(_.checkLogDir).filter(_.nonEmpty)
            .map(d => s"$d/$toSchema.$toTb")
            .getOrElse(s"${task.sinkDir}/checklog/$toSchema.$toTb")
          CheckLogs.write(
            CheckLogs.toLogs(nonOk, schema, tb, keys, compareCols,
              outputFullRow = ck.exists(_.outputFullRow)),
            logDir,
            maxRows = ck.map(_.checkLogMaxRows)
              .getOrElse(Int.MaxValue),
            maxBytes = ck.map(c => CheckLogs.parseSize(
              c.checkLogFileSize)).getOrElse(Long.MaxValue))
          if (ck.exists(_.outputReviseSql))
            CheckLogs.writeReviseSql(nonOk,
              s"$toSchema.$toTb", keys, logDir): Unit
          val defects = nonOk.groupBy(Checker.StatusCol).count()
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          val miss = defects.getOrElse("MISS", 0L)
          val diff = defects.getOrElse("DIFF", 0L)
          val orphan = defects.getOrElse("ORPHAN", 0L)
          val srcRows = src.count()
          val summary = spark.createDataFrame(Seq(
            (schema, tb, srcRows + orphan, miss, diff, orphan,
              miss + diff + orphan == 0)))
            .toDF("schema", "tb", "checked_count", "miss_count",
              "diff_count", "orphan_count", "is_consistent")
          CheckLogs.writeSummary(summary, logDir)
          tb -> (defects + ("OK" -> (srcRows - miss - diff)))
        } finally { nonOk.unpersist(); () }
      }

  /** `sink_type=sql` (sql_sinker.rs): render every admitted CDC event
    * as a literal, runnable SQL statement into `<sink>/sql.log`;
    * `[sinker] reverse=true` logs the UNDO stream instead (insert↔
    * delete, update swaps images). The capture decodes through the
    * production wire decoders (pgoutput or binlog by [extractor]
    * db_type). Returns the statement count.
    */
  def runSqlSink(spark: SparkSession, task: TaskConfig.Task): Long = {
    val capture = task.walCapture.getOrElse(task.sourceDir)
    val bytes = graft.infra.Fs.readAllBytes(capture)
    val events = task.dbType match {
      case "mysql" => graft.sources.MysqlBinlog.decodeFile(bytes,
        graft.infra.Fs.fileName(capture))
      case _ => graft.sources.PgOutput.decodeFile(bytes)
    }
    val dialect = task.sinkDbType match {
      case "pg" | "postgres" | "postgresql" =>
        graft.sinks.RdbQueryBuilder.Postgres
      case _ => graft.sinks.RdbQueryBuilder.MySql
    }
    val lines = events.iterator
      .filter(e => task.filter.allowTable(e.schema, e.tb) &&
        task.filter.allowEvent(e.rowType))
      .map(e => if (task.sink.sqlReverse) e.reverse else e)
      .map { e =>
        val (toSchema, toTb) = task.router.routeTable(e.schema, e.tb)
        def routed(img: Map[String, String]): Map[String, String] =
          img.map { case (c, v) =>
            task.router.routeColumn(e.schema, e.tb, c) -> v }
        // No configured id_cols for the table → key on the FULL
        // before-image (every column), never a single arbitrary
        // column: sql.log is documented as runnable as-is, and a
        // DELETE/UPDATE keyed on one non-unique column could touch
        // the wrong rows.
        val keys = task.keysByTable.getOrElse(e.tb,
          e.keyImage.keys.toSeq.sorted)
          .map(task.router.routeColumn(e.schema, e.tb, _))
        graft.sinks.RdbQueryBuilder.eventSql(dialect, toSchema, toTb,
          keys, e.rowType, routed(e.before), routed(e.after))
      }.toSeq
    graft.infra.Fs.mkdirs(task.sinkDir)
    graft.infra.Fs.writeString(s"${task.sinkDir}/sql.log",
      lines.mkString("", ";\n", if (lines.isEmpty) "" else ";\n"))
    lines.size.toLong
  }

  /** Pre-flight the task (reference dt-precheck before start_task). */
  def precheck(spark: SparkSession, task: TaskConfig.Task)
      : Seq[Precheck.CheckResult] = {
    val tables = task.filter.expand(catalog(task.sourceDir)).map(_._2)
    Precheck.runAll(spark, task.sourceDir, tables, task.keysByTable)
  }

  // ------------------------------------------------------------------
  // the reference's remaining ExtractType variants (config_enums.rs:
  // 42-61), each wired to its already-tested component

  /** `extract_type=check_log`: replay persisted check logs (a prior
    * check task's miss/diff artifacts under [extractor] check_log_dir)
    * into revise statements per table — the reference's
    * MysqlCheck/PgCheck extractors + `replay_diff_as_update`. Returns
    * (table, revise-statement count); statements land under
    * `<sink>/revise/<schema>.<tb>` for the applier.
    */
  def runCheckLogReplay(spark: SparkSession, task: TaskConfig.Task)
      : Seq[(String, Long)] = {
    val logRoot = task.checkLogDir.getOrElse(
      s"${task.sinkDir}/checklog")
    units(task).flatMap { case (schema, tb) =>
      val (toSchema, toTb) = task.router.routeTable(schema, tb)
      val dir = s"$logRoot/$toSchema.$toTb"
      if (!graft.infra.Fs.isDirectory(dir)) None
      else task.keysByTable.get(tb).map { keys =>
        val logs = CheckLogs.read(spark, dir)
        val revise = CheckLogs.reviseFromLogs(logs,
          s"$toSchema.$toTb", keys)
        val out = s"${task.sinkDir}/revise/$toSchema.$toTb"
        revise.write.mode(SaveMode.Overwrite).parquet(out)
        tb -> Footers.rowCount(out)
      }
    }
  }

  /** `extract_type=struct`: drive a structure migration from a catalog
    * fixture — parquet files under [extractor] catalog_dir standing in
    * for the live engine's information_schema/pg_catalog (a file named
    * `<db>.<table>.parquet` registers qualified, `<table>.parquet`
    * as a temp view), through the synthesized catalog SQL
    * ([[graft.struct.StructFetcher]]) into DDL rendered for the sink
    * dialect. Statements are written per table under `<sink>/structs/`.
    */
  def runStruct(spark: SparkSession, task: TaskConfig.Task)
      : Seq[(String, Seq[String])] = {
    import graft.struct.{StructFetcher, StructMigrator}
    val dir = task.catalogDir.getOrElse(task.sourceDir)
    graft.infra.Fs.listNames(dir)
      .filter(_.endsWith(".parquet")).sorted
      .foreach { name =>
        val base = name.stripSuffix(".parquet")
        val df = spark.read.parquet(s"$dir/$name")
        if (base.contains(".")) {
          val Array(db, tb) = base.split("\\.", 2)
          spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
          spark.sql(s"DROP TABLE IF EXISTS $db.$tb")
          df.write.saveAsTable(s"$db.$tb")
        } else df.createOrReplaceTempView(base)
      }
    val exec = new StructFetcher.CatalogExec {
      def query(sql: String): Seq[Map[String, String]] = {
        // the one engine-ism Spark SQL can't parse (PG's cast)
        val df = spark.sql(sql.replace("con.contype::text",
          "con.contype"))
        val cols = df.columns
        df.collect().toSeq.map { row =>
          cols.zipWithIndex.map { case (c, i) =>
            c -> (if (row.isNullAt(i)) "" else row.get(i).toString)
          }.toMap
        }
      }
    }
    val schemas = units(task).map(_._1).toSet ++
      task.filter.doSchemas.toSet
    val dialect = task.sinkDbType match {
      case "mysql" => StructMigrator.MySqlDialect
      case "pg" => StructMigrator.PostgresDialect
      case "starrocks" | "doris" => StructMigrator.StarRocksDialect
      case "clickhouse" => StructMigrator.ClickHouseDialect
      case _ => StructMigrator.MySqlDialect
    }
    val out = units(task).flatMap { case (schema, tb) =>
      val fetched: Option[StructMigrator.TableDef] =
        task.dbType match {
          case "pg" =>
            new StructFetcher.PgFetcher(exec, schemas)
              .fetchTable(schema, tb).map(_._1)
          case _ =>
            new StructFetcher.MySqlFetcher(exec, schemas)
              .fetchTable(schema, tb)
        }
      fetched.map { t =>
        // an unset do_structures means migrate everything (the
        // reference's default), not nothing
        val structFilter =
          if (task.filter.doStructures.isEmpty)
            task.filter.copy(doStructures = Set("*"))
          else task.filter
        val stmts = StructMigrator.migrate(t, dialect, structFilter)
        s"$schema.$tb" -> stmts
      }
    }
    val sqlDir = s"${task.sinkDir}/structs"
    graft.infra.Fs.mkdirs(sqlDir)
    out.foreach { case (name, stmts) =>
      graft.infra.Fs.writeString(s"$sqlDir/$name.sql",
        stmts.mkString(";\n") + ";\n")
    }
    out
  }

  /** `extract_type=snapshot_file`: parse a Redis RDB dump file
    * ([extractor] file_path) into rows and land them under the sink —
    * ExtractorConfig::RedisSnapshotFile. The binary parse is
    * inherently serial (one dump stream), exactly like the reference;
    * everything after the parse is a normal distributed frame.
    */
  def runSnapshotFile(spark: SparkSession, task: TaskConfig.Task)
      : TableResult = {
    val bytes = graft.infra.Fs.readAllBytes(task.filePath.get)
    val entries = graft.sources.RedisRdb.parse(bytes)
    import spark.implicits._
    val df = entries.map(e => (e.db, e.key, e.valueType, e.field,
        e.value, e.expireMs))
      .toDF("db", "key", "value_type", "field", "value", "expire_ms")
    val out = s"${task.sinkDir}/redis.snapshot"
    df.write.mode(SaveMode.Overwrite).parquet(out)
    TableResult("redis", "snapshot", Footers.rowCount(out),
      "redis.snapshot")
  }

  /** `extract_type=scan`: keyspace statistics over a captured keyspace
    * ([extractor] keyspace_fixture; statistic_type hot_key|big_key,
    * scan_count) — ExtractorConfig::RedisScan through the exact
    * command loop, reported as the bounded top-k frame.
    */
  def runScan(spark: SparkSession, task: TaskConfig.Task,
      topK: Int = 100): DataFrame = {
    import graft.sources.RedisScanStats
    val text = graft.infra.Fs.readString(
      task.keyspaceFixture.getOrElse(task.sourceDir))
    val conn = RedisScanStats.fixtureConn(text)
    val mode = task.statisticType match {
      case "big_key" => RedisScanStats.BigKey
      case _ => RedisScanStats.HotKey
    }
    val stats0 = RedisScanStats.drive(conn, mode, task.scanCount)
    // [sinker] data_size_threshold / freq_threshold: entries below
    // the gate never reach the report (redis_statistic_sinker.rs:42,55)
    val stats = mode match {
      case RedisScanStats.BigKey =>
        stats0.filter(_.dataSize >= task.sink.dataSizeThreshold)
      case _ => stats0.filter(_.freq >= task.sink.freqThreshold)
    }
    val report = mode match {
      case RedisScanStats.BigKey =>
        RedisScanStats.bigKeyReport(spark, stats, topK)
      case _ => RedisScanStats.hotKeyReport(spark, stats, topK)
    }
    val outDir = task.sink.statisticLogDir.getOrElse(task.sinkDir)
    report.write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/scan.${task.statisticType}")
    spark.read.parquet(s"$outDir/scan.${task.statisticType}")
  }

  /** `extract_type=reshard`: the slot-move plan between [extractor]
    * slots_before and slots_after — ExtractorConfig::RedisReshard.
    * When file_path names an RDB dump, the plan is joined with the
    * dump's keys into per-key moves.
    */
  def runReshard(spark: SparkSession, task: TaskConfig.Task)
      : DataFrame = {
    import graft.sinks.RedisReshard
    val moves = RedisReshard.plan(task.slotsBefore, task.slotsAfter)
    import spark.implicits._
    val planDf = moves.map(m => (m.fromSlot, m.toSlot, m.fromNode,
      m.toNode)).toDF("from_slot", "to_slot", "from_node", "to_node")
    planDf.write.mode(SaveMode.Overwrite)
      .parquet(s"${task.sinkDir}/reshard.plan")
    task.filePath.foreach { fp =>
      val bytes = graft.infra.Fs.readAllBytes(fp)
      val keys = graft.sources.RedisRdb.parse(bytes)
        .map(_.key).distinct.toDF("key")
      RedisReshard.keyMoves(keys, "key", task.slotsBefore,
          task.slotsAfter)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"${task.sinkDir}/reshard.keys")
    }
    spark.read.parquet(s"${task.sinkDir}/reshard.plan")
  }

  /** `extract_type=foxlake_s3`: read staged lake batches back through
    * the meta-file protocol ([extractor] s3_root_dir as the staging
    * root) and land them under the sink — ExtractorConfig::FoxlakeS3.
    */
  def runFoxlakeS3(spark: SparkSession, task: TaskConfig.Task)
      : Seq[TableResult] = {
    val root = task.s3RootDir.getOrElse(task.sourceDir)
    units(task).flatMap { case (schema, tb) =>
      val (df, _, _) = graft.sources.LakeSource.pollAndRead(spark,
        root, schema, tb, None)
      if (df.isEmpty) None
      else {
        val (toSchema, toTb) = task.router.routeTable(schema, tb)
        val out = s"${task.sinkDir}/$toSchema.$toTb"
        df.write.mode(SaveMode.Overwrite).parquet(out)
        Some(TableResult(schema, tb, Footers.rowCount(out),
          s"$toSchema.$toTb"))
      }
    }
  }

  // ------------------------------------------------------------------
  // the one task dispatcher: `graft.Main` and `TaskManager.start` both
  // run every extract type through [[run]] — the reference's
  // TaskRunner::start_task, which dt-main and dt-cli share

  /** What differs between the callers of [[run]]: the recorder id of
    * the CDC position store, the directory the live lanes keep their
    * capture and checkpoint in, the position store's default path for
    * a capture file, where report lines go, and the lifecycle hooks —
    * the cooperative stop flag and per-unit hook of the table-unit
    * loop, the liveness beacon, and the live lanes' dial seams.
    */
  final case class Caller(id: String, stateDir: String,
      positionsFor: String => String, log: String => Unit,
      stop: () => Boolean = () => false,
      afterUnit: Int => Unit = _ => (),
      alive: () => Unit = () => (),
      liveDial: Option[() => graft.transport.Wire] = None,
      liveNodeDial: Option[String => graft.transport.Wire] = None)

  /** How a run ended: `finished`, `stopped` (the stop flag, honored
    * between table units) or `error` (a precheck gate refused the task
    * before any work; `detail` says why). A failure while running
    * throws.
    */
  final case class Outcome(status: String, detail: Option[String] = None)

  /** The extract types that read `[extractor] url` as the parquet
    * table catalog — the ones the catalog precheck battery applies to.
    */
  private val catalogKinds = Set[TaskConfig.ExtractType](
    TaskConfig.SnapshotExtract, TaskConfig.CheckExtract,
    TaskConfig.SnapshotAndCdcExtract)

  /** The corpus-family kinds, gated by the corpus contract instead. */
  private val corpusKinds = Set[TaskConfig.ExtractType](
    TaskConfig.CurationExtract, TaskConfig.CurationStreamExtract,
    TaskConfig.LoaderExtract)

  /** Run the catalog precheck battery when the task reads the catalog,
    * one `precheck` line per check; empty for every other kind.
    */
  def precheckLogged(spark: SparkSession, task: TaskConfig.Task,
      log: String => Unit): Seq[Precheck.CheckResult] = {
    val checks =
      if (catalogKinds(task.extractType)) precheck(spark, task) else Nil
    checks.foreach(c => log(
      s"precheck ${c.item} ${if (c.ok) "OK" else "FAIL"} ${c.detail}"))
    checks
  }

  /** Run a task to its end. `cdcTask` is the second config of the
    * two-file snapshot-then-CDC form (`Main snapshot.ini --then
    * cdc.ini`); the one-file form is `extract_type=snapshot_and_cdc`.
    * Monitors count every kind, and a `[metrics]` section serves them
    * on `/metrics` for the length of the run.
    */
  def run(spark: SparkSession, task: TaskConfig.Task, caller: Caller,
      cdcTask: Option[TaskConfig.Task] = None): Outcome = {
    val monitors = Monitoring.PipelineMonitors(caller.id,
      windowSecs = task.counterTimeWindowSecs.toLong,
      maxSubCount = task.counterMaxSubCount)
    val kind = task.extractType match {
      case TaskConfig.SnapshotExtract | TaskConfig.CurationExtract |
          TaskConfig.LoaderExtract | TaskConfig.WarcExtract |
          TaskConfig.JsonlExtract => "snapshot"
      case TaskConfig.CdcExtract | TaskConfig.CurationStreamExtract =>
        "cdc"
      case _ => "check"
    }
    val registry = task.metrics.map(mc =>
      new Monitoring.PrometheusRegistry(mc.labels)
        .registerStandard(Some(kind)))
    val server = for (mc <- task.metrics; reg <- registry) yield {
      val s = new Monitoring.MetricsServer(() => reg.exposition,
        mc.httpHost, mc.httpPort)
      caller.log(s"metrics serving /metrics on " +
        s"${mc.httpHost}:${s.boundPort}")
      s
    }
    def publish(extra: Map[String, Long]): Unit =
      registry.foreach(_.setAll(
        Monitoring.TaskMetrics.calc(monitors.roles) ++ extra))
    try {
      val out = dispatch(spark, task, cdcTask, caller, monitors, publish)
      publish(Map.empty)
      monitors.flushLines().foreach(l => caller.log(s"monitor $l"))
      out
    } finally server.foreach(_.stop())
  }

  private def dispatch(spark: SparkSession, task: TaskConfig.Task,
      cdcTask: Option[TaskConfig.Task], caller: Caller,
      monitors: Monitoring.PipelineMonitors,
      publish: Map[String, Long] => Unit): Outcome = {
    import TaskConfig._
    val log = caller.log
    def extracted(n: Long): Unit =
      monitors.extractor.addBatchCounter(Monitoring.ExtractedRecords, n,
        1L): Unit
    def sinked(n: Long): Unit =
      monitors.sinker.addBatchCounter(Monitoring.SinkedRecordTotal, n,
        1L): Unit
    // an enabled [checker] on a cdc task asks for the reference's
    // inline CDC check, which no lane runs: refuse before any capture
    // is read rather than ship unchecked and end `finished`
    require(!(task +: cdcTask.toSeq).exists(t =>
        t.extractType == CdcExtract && t.checker.exists(_.enable)),
      "inline CDC check ([checker] enable=true on a cdc task) is not " +
        "supported")
    val checks = precheckLogged(spark, task, log)
    require(checks.filter(_.item == "source_readable").forall(_.ok),
      "precheck failed: source not readable")
    if (corpusKinds(task.extractType)) {
      val isStream = task.extractType == CurationStreamExtract
      val bad = (Precheck.checkCorpusContract(spark, task.sourceDir,
        needTs = isStream, allowEmpty = isStream) ++
        task.benchmarkDir.toSeq.flatMap(bd =>
          Precheck.checkCorpusContract(spark, bd))).filterNot(_.ok)
      if (bad.nonEmpty) {
        val detail = bad.map(g => s"${g.item}: ${g.detail}")
          .mkString("; ")
        log(s"precheck failed: $detail")
        return Outcome("error", Some(detail))
      }
    }
    if (cdcTask.nonEmpty) {
      require(task.extractType == SnapshotExtract,
        "--then follows a snapshot task")
      return fullSync(spark, task, cdcTask.get, "--then config", caller,
        monitors)
    }
    task.extractType match {
      case CdcExtract if LiveCdc.isLiveUrl(task.sourceDir) =>
        liveCdc(spark, task, caller)
      case CdcExtract if task.sinkType == "sql" =>
        val n = runSqlSink(spark, task)
        log(s"sql ${task.sinkDir}/sql.log statements=$n" +
          (if (task.sink.sqlReverse) " (reversed)" else ""))
        Outcome("finished")
      case CdcExtract =>
        require(task.walCapture.isDefined && task.slot.isDefined,
          "cdc needs [extractor] wal_capture= and slot_name=, or a " +
            "live source url")
        val r = graft.streaming.CdcTask.run(spark, task,
          capturedStream(task), streamLoadSinks(task),
          positions(task, caller), monitors = monitors,
          limiter = task.maxRps.map(new graft.infra.RateLimiter(_)),
          byteLimiter = task.sink.maxMbps.orElse(task.source.maxMbps)
            .map(m => new graft.infra.RateLimiter(m * 1024L * 1024L)))
        log(cdcLine(r))
        Outcome("finished")
      case SnapshotAndCdcExtract =>
        fullSync(spark, task, task, "snapshot_and_cdc", caller,
          monitors)
      case SnapshotExtract if task.pipelineType == "http_server" &&
          !task.checker.exists(_.enable) =>
        serveSnapshot(spark, task, log, monitors, publish)
      case SnapshotExtract | CheckExtract =>
        unitLoop(spark, task, caller, monitors, publish)
      case CurationExtract =>
        val s = runCuration(spark, task)
        log(s"curation docs=${s.nDocs} kept=${s.nKept} " +
          s.reasons.toSeq.sorted.map { case (k, v) => s"$k=$v" }
            .mkString(" "))
        extracted(s.nDocs); sinked(s.nKept)
        Outcome("finished")
      case LoaderExtract =>
        val s = runLoader(spark, task)
        log(s"loader docs=${s.nDocs} shards=${s.nShards} " +
          s"windows=${s.nWindows} tokens=${s.totalTokens}")
        extracted(s.nDocs); sinked(s.nDocs)
        Outcome("finished")
      case WarcExtract =>
        val s = runWarc(spark, task)
        log(s"warc docs=${s.nDocs} " +
          s.records.toSeq.sorted.map { case (k, v) => s"$k=$v" }
            .mkString(" "))
        extracted(s.records.values.sum); sinked(s.nDocs)
        Outcome("finished")
      case JsonlExtract =>
        val s = runJsonl(spark, task)
        log(s"jsonl docs=${s.nDocs} bad_lines=${s.nBadLines} " +
          s"with_url=${s.withUrl}")
        extracted(s.nDocs + s.nBadLines); sinked(s.nDocs)
        monitors.pipeline.addBatchCounter(Monitoring.FilteredRecords,
          s.nBadLines, 1L)
        Outcome("finished")
      case CurationStreamExtract =>
        // [extractor] benchmark_dir: gate the stream against the
        // held-out set's n-gram Bloom (built once here, batch-side);
        // checkpoints under the sink dir make the next start resume
        val bloom = task.benchmarkDir.map(bd =>
          graft.operators.CurationOps.benchmarkBloomFromDir(spark, bd))
        val r = graft.streaming.StreamingCuration.drain(spark,
          task.sourceDir, task.sinkDir, benchmarkBloom = bloom)
        log(s"curation_stream in=${r.docsIn} " +
          s"quality_dropped=${r.qualityDropped} " +
          s"contam_dropped=${r.contamDropped} " +
          s"exact_dropped=${r.exactDropped} " +
          s"neardup_flagged=${r.nearDupFlagged} kept=${r.kept}")
        extracted(r.docsIn); sinked(r.kept)
        monitors.pipeline.addBatchCounter(Monitoring.FilteredRecords,
          r.qualityDropped + r.contamDropped + r.exactDropped +
            r.nearDupFlagged, 1L)
        Outcome("finished")
      case CheckLogExtract =>
        runCheckLogReplay(spark, task).foreach { case (tb, n) =>
          log(s"check_log $tb revise=$n")
          monitors.checker.addBatchCounter(Monitoring.RecordCount, n, 1L)
        }
        Outcome("finished")
      case StructExtract =>
        val results = runStruct(spark, task)
        results.foreach { case (tb, st) =>
          log(s"struct $tb statements=${st.size}")
        }
        extracted(results.size.toLong)
        Outcome("finished")
      case SnapshotFileExtract =>
        val r = runSnapshotFile(spark, task)
        log(s"snapshot_file ${r.dstTable} rows=${r.rows}")
        extracted(r.rows); sinked(r.rows)
        Outcome("finished")
      case ScanExtract =>
        val n = runScan(spark, task).count()
        log(s"scan ${task.statisticType} report_rows=$n")
        extracted(n)
        Outcome("finished")
      case ReshardExtract =>
        log(s"reshard planned_moves=${runReshard(spark, task).count()}")
        Outcome("finished")
      case FoxlakeS3Extract =>
        runFoxlakeS3(spark, task).foreach { r =>
          log(s"foxlake_s3 ${r.schema}.${r.tb} -> ${r.dstTable} " +
            s"rows=${r.rows}")
          extracted(r.rows); sinked(r.rows)
        }
        Outcome("finished")
    }
  }

  /** Snapshot and check tasks, one table unit at a time; the stop flag
    * is honored between units. The reference's check-task shape —
    * `extract_type=snapshot` with an enabled `[checker]` — checks, it
    * does not copy (dt-tests check/basic_test task_config.ini).
    */
  private def unitLoop(spark: SparkSession, task: TaskConfig.Task,
      caller: Caller, monitors: Monitoring.PipelineMonitors,
      publish: Map[String, Long] => Unit): Outcome = {
    val check = task.extractType == TaskConfig.CheckExtract ||
      task.checker.exists(_.enable)
    val all = units(task)
    var i = 0
    while (i < all.length) {
      val (schema, tb) = all(i)
      if (check) checkTable(spark, task, schema, tb) match {
        case Some((t, counts)) =>
          caller.log(s"check $t " + counts.toSeq.sorted
            .map { case (k, v) => s"$k=$v" }.mkString(" "))
          monitors.checker
            .addBatchCounter(Monitoring.RecordCount, counts.values.sum,
              1L)
            .addBatchCounter(Monitoring.CheckerMissCount,
              counts.getOrElse("MISS", 0L), 1L)
            .addBatchCounter(Monitoring.CheckerDiffCount,
              counts.getOrElse("DIFF", 0L), 1L): Unit
        case None => caller.log(s"check $schema.$tb skipped (no keys)")
      }
      else {
        val r = snapshotTable(spark, task, schema, tb)
        caller.log(s"snapshot $schema.$tb -> ${r.dstTable} rows=${r.rows}")
        monitors.extractor
          .addBatchCounter(Monitoring.ExtractedRecords, r.rows, 1L)
          .addBatchCounter(Monitoring.RecordCount, r.rows, 1L)
        monitors.sinker
          .addBatchCounter(Monitoring.RecordCount, r.rows, 1L)
          .addBatchCounter(Monitoring.SinkedRecordTotal, r.rows, 1L): Unit
      }
      publish(Monitoring.TaskMetrics.progress(all.size.toLong, i + 1L)
        .map("progress" -> _).toMap)
      caller.afterUnit(i)
      i += 1
      if (i < all.length && caller.stop()) return Outcome("stopped")
    }
    Outcome("finished")
  }

  /** `[pipeline] pipeline_type=http_server`: stage every admitted
    * table into the spool and serve it over the subscription endpoints
    * until the consumer acks everything or the serve timeout passes;
    * no sink table is written.
    */
  private def serveSnapshot(spark: SparkSession, task: TaskConfig.Task,
      log: String => Unit, monitors: Monitoring.PipelineMonitors,
      publish: Map[String, Long] => Unit): Outcome = {
    val (sub, results) = stageSnapshot(spark, task)
    results.foreach { r =>
      log(s"snapshot ${r.schema}.${r.tb} staged -> ${r.dstTable} " +
        s"rows=${r.rows}")
      monitors.extractor
        .addBatchCounter(Monitoring.ExtractedRecords, r.rows, 1L)
    }
    val srv = new graft.infra.SubscriptionServer(spark, sub,
      task.httpHost, task.httpPort)
    try {
      log(s"pipeline serving subscription on " +
        s"${task.httpHost}:${srv.boundPort}")
      publish(Map.empty)
      val lastOffset = sub.offsets().lastOption.getOrElse(-1L)
      val deadline = System.nanoTime() +
        task.serveTimeoutSecs * 1000000000L
      while (sub.acked() < lastOffset && System.nanoTime() < deadline)
        Thread.sleep(100L)
      log(if (sub.acked() >= lastOffset)
        s"pipeline all ${results.size} batches acked"
      else s"pipeline serve timeout, acked=${sub.acked()} of " +
        s"$lastOffset — spool retained")
    } finally srv.stop()
    Outcome("finished")
  }

  /** Live `mysql://`/`pg://`/`redis://`/`mongodb://` CDC: dial, pump,
    * stream and land through [[LiveCdc]]; drain-once per start, or
    * until the stop flag with `resident=true`. The beacon is touched
    * per pump/landing step, because a live drain can outlast a
    * watcher's staleness limit.
    */
  private def liveCdc(spark: SparkSession, task: TaskConfig.Task,
      caller: Caller): Outcome = {
    // retention defaults on for resident tasks, so this only trips on
    // an explicit opt-out: the capture dir then grows with the full
    // replication history until the disk fills
    val gate = Precheck.checkResidentRetention(task.source.resident,
      task.source.captureRetention)
    if (gate.detail.nonEmpty) caller.log(s"precheck ${gate.detail}")
    // the landers publish their face-completeness gauges here
    val liveMon = Monitoring.landedFace()
    val r = LiveCdc.run(spark, task, caller.stateDir, caller.liveDial,
      onProgress = caller.alive, dialNodeOverride = caller.liveNodeDial,
      monitor = liveMon,
      stop = Option.when(task.source.resident)(caller.stop))
    caller.log(s"live_cdc segments=${r.segments} events=${r.events} " +
      s"position=${r.position._1}:${r.position._2} " +
      r.tables.map { case (t, n) => s"$t=$n" }.mkString(" "))
    liveMon.flushLines().foreach(l => caller.log(s"monitor $l"))
    Outcome("finished")
  }

  /** Serial snapshot-then-CDC through [[graft.streaming.FullSyncTask]]:
    * one position store for both stages, the slot fence before the
    * copy, CDC from the consistent point.
    */
  private def fullSync(spark: SparkSession, snap: TaskConfig.Task,
      cdc: TaskConfig.Task, what: String, caller: Caller,
      monitors: Monitoring.PipelineMonitors): Outcome = {
    require(cdc.walCapture.isDefined && cdc.slot.isDefined,
      s"$what needs [extractor] wal_capture= and slot_name=")
    val r = graft.streaming.FullSyncTask.run(spark, snap, cdc,
      capturedStream(cdc), streamLoadSinks(cdc), positions(cdc, caller),
      monitors)
    r.slotPlan.statements.foreach(s => caller.log(s"slot $s"))
    r.snapshot.foreach(t => caller.log(s"snapshot ${t.schema}.${t.tb} " +
      s"-> ${t.dstTable} rows=${t.rows}"))
    r.snapshotSkipped.foreach(t =>
      caller.log(s"snapshot $t already finished, skipped"))
    caller.log(cdcLine(r.cdc))
    Outcome("finished")
  }

  private def cdcLine(r: graft.streaming.CdcTask.RunReport): String =
    s"cdc start_lsn=${r.startLsn} shipped=${r.rowsShipped} " +
      s"skipped=${r.eventsSkipped} end=${r.endLsn}"

  /** The captured pgoutput stream of `[extractor] wal_capture` (a task
    * path: read through the Hadoop FS layer), with a fresh slot.
    */
  private def capturedStream(task: TaskConfig.Task)
      : graft.streaming.CdcTask.PgAnswers =
    graft.streaming.CdcTask.PgAnswers(
      graft.sources.PgSlotLifecycle.SlotStatus(exists = false),
      pubExists = false,
      walStream = graft.infra.Fs.readAllBytes(task.walCapture.get))

  /** Stream-load PUTs to the `[sinker] url` warehouse. */
  private def streamLoadSinks(task: TaskConfig.Task)
      : graft.streaming.CdcTask.SinkFactory = {
    val uri = java.net.URI.create(task.sinkDir)
    (db, tb, batchId, op) =>
      new graft.sinks.StreamLoadHttp.HttpPayloadSink(
        graft.sinks.StreamLoadHttp.Config(uri.getHost, uri.getPort, db,
          tb, task.sinkUser, task.sinkPassword,
          hardDelete = task.sink.hardDelete), batchId, op)
  }

  /** The task's restart-safe position store: `position_store`, else
    * `[resumer] resume_type=from_log` under its log_dir, else the
    * caller's default for the capture; `from_db`/`from_target` name the
    * recorder's metadata table with table_full_name — the reference's
    * ResumerConfig.
    */
  private def positions(task: TaskConfig.Task, caller: Caller)
      : graft.sources.DbResumer.Dual = {
    import graft.sources.DbResumer
    val posPath = task.positionStore.getOrElse(task.resumer match {
      case TaskConfig.ResumeFromLog(logDir) if logDir.nonEmpty =>
        s"${logDir.stripSuffix("/")}/" +
          s"${graft.infra.Fs.fileName(caller.id)}.positions.log"
      case _ => caller.positionsFor(task.walCapture.get)
    })
    val store = new DbResumer.FileStore(posPath)
    val (schema, table) = task.resumer match {
      case r: TaskConfig.ResumeFromDb if r.tableFullName.contains(".") =>
        val Array(s, t) = r.tableFullName.split("\\.", 2)
        (s, t)
      case _ => (DbResumer.DefaultSchema, DbResumer.DefaultTable)
    }
    val rec = new DbResumer.Recorder(caller.id, store,
      DbResumer.MySqlDialect, schema, table)
    rec.init(isInit = false)
    new DbResumer.Dual(new graft.sources.SnapshotResumer(s"$posPath.d"),
      rec, () => new DbResumer.Recovery(caller.id, store))
  }
}
