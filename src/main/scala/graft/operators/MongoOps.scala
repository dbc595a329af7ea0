package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** MongoDB family — the schemaless side of the engine, re-expressed
  * Spark-first over the envelope model SURVEY §1.2 prescribes for
  * documents: `_id: STRING` + `doc: MAP<STRING,STRING>` (each event
  * carries its own column map; no fixed schema).
  *
  * Reference surface covered here:
  *  - `_id`-paged snapshot scan with keyset resume
  *    (`/root/reference/dt-connector/src/extractor/mongo/mongo_snapshot_extractor.rs:119-160`:
  *    `find` sorted by `_id`, `batch_size` pages, resume filter
  *    `{_id: {$gt: <key>}}`);
  *  - change-stream / oplog `$v:2` diff flattening to `$set`/`$unset`
  *    (`mongo_cdc_extractor.rs:95-166`: `i`/`u`/`d` docs plus recursive
  *    `s<field>` sub-diffs with dotted paths; change-stream
  *    `updatedFields`/`removedFields`/`truncatedArrays` at
  *    `mongo_cdc_extractor.rs:181-233`);
  *  - the `_id` merger lane split
  *    (`/root/reference/dt-parallelizer/src/mongo_merger.rs:44-96`):
  *    inserts/deletes compact per `_id`, but the FIRST update or
  *    NULL-`_id` row demotes itself and every later row in the batch to
  *    the serial lane (Mongo updates are partial `$set`/`$unset` docs
  *    and cannot be compacted);
  *  - `$set`/`$unset` application to a document map (the sinker's
  *    `update_one` semantics, `mongo_sinker.rs:500-540`).
  *
  * Everything is declarative DataFrame/expression work: the merger is
  * one window + one aggregation per micro-batch (shuffles only
  * (tb, id, seq, row_type) — never document bodies), and update
  * application is a per-row map expression with no shuffle at all.
  */
object MongoOps {

  // ------------------------------------------------------------------
  // Oplog / change-stream diff flattening (driver-side parse layer).
  // Pure Scala over nested `Map[String, Any]` — this mirrors the BSON
  // walk the reference does at protocol-parse time, BEFORE rows enter
  // the distributed plan; per-event cost is O(diff size).
  // ------------------------------------------------------------------

  private def joinPath(prefix: String, field: String): String =
    if (prefix.isEmpty) field else s"$prefix.$field"

  /** Flatten a `$v:2` oplog diff doc into (`$set` entries with dotted
    * paths, `$unset` paths) — reference `flatten_oplog_diff`
    * (`mongo_cdc_extractor.rs:95-136`): `i` (inserted) and `u` (updated)
    * sub-docs become sets, `d` becomes unsets, `a` (array marker) is
    * skipped, and any other `s<field>` key holding a doc recurses with
    * `<field>` appended to the dotted path.
    */
  def flattenOplogDiff(diff: Map[String, Any], prefix: String = "")
      : (Map[String, Any], Seq[String]) = {
    var set = Vector.empty[(String, Any)]
    var unset = Vector.empty[String]
    diff.get("i").collect { case m: Map[String @unchecked, Any @unchecked] =>
      m.foreach { case (f, v) => set :+= (joinPath(prefix, f) -> v) }
    }
    diff.get("u").collect { case m: Map[String @unchecked, Any @unchecked] =>
      m.foreach { case (f, v) => set :+= (joinPath(prefix, f) -> v) }
    }
    diff.get("d").collect { case m: Map[String @unchecked, Any @unchecked] =>
      m.foreach { case (f, _) => unset :+= joinPath(prefix, f) }
    }
    diff.foreach {
      case (field, v: Map[String @unchecked, Any @unchecked])
          if field.length > 1 && field.startsWith("s") &&
            !Seq("i", "u", "d", "a").contains(field) =>
        val (s2, u2) = flattenOplogDiff(v, joinPath(prefix, field.drop(1)))
        set ++= s2.toSeq
        unset ++= u2
      case _ => ()
    }
    (scala.collection.immutable.ListMap(set: _*), unset)
  }

  /** Build the update doc for an oplog event — reference
    * `build_oplog_update_doc` (`mongo_cdc_extractor.rs:138-166`): a
    * `diff` key means `$v:2` (flatten it); otherwise the event already
    * carries literal `$set`/`$unset` docs.
    */
  def oplogUpdateDoc(after: Map[String, Any])
      : (Map[String, Any], Seq[String]) =
    after.get("diff") match {
      case Some(d: Map[String @unchecked, Any @unchecked]) =>
        flattenOplogDiff(d)
      case _ =>
        val set = after.get("$set") match {
          case Some(m: Map[String @unchecked, Any @unchecked]) => m
          case _ => Map.empty[String, Any]
        }
        val unset = after.get("$unset") match {
          case Some(m: Map[String @unchecked, Any @unchecked]) =>
            m.keys.toSeq
          case _ => Seq.empty[String]
        }
        (set, unset)
    }

  /** Walk a dotted path through nested docs — reference `get_path_value`
    * (`mongo_cdc_extractor.rs:168-179`).
    */
  def pathValue(doc: Map[String, Any], path: String): Option[Any] = {
    val fields = path.split('.')
    fields.init.foldLeft(Option(doc)) { (cur, f) =>
      cur.flatMap(_.get(f)).collect {
        case m: Map[String @unchecked, Any @unchecked] => m
      }
    }.flatMap(_.get(fields.last))
  }

  /** Build the update doc for a change-stream event — reference
    * `build_change_stream_update_doc` (`mongo_cdc_extractor.rs:181-233`):
    * `updatedFields` → `$set`, `removedFields` → `$unset`, and each
    * `truncatedArrays` entry re-reads the truncated value from the full
    * document by dotted path.
    */
  def changeStreamUpdateDoc(updatedFields: Map[String, Any],
      removedFields: Seq[String],
      truncatedArrays: Seq[String] = Seq.empty,
      fullDocument: Option[Map[String, Any]] = None)
      : (Map[String, Any], Seq[String]) = {
    var set = scala.collection.immutable.ListMap[String, Any]() ++
      updatedFields
    truncatedArrays.foreach { field =>
      fullDocument.flatMap(pathValue(_, field))
        .foreach(v => set += (field -> v))
    }
    (set, removedFields)
  }

  // ------------------------------------------------------------------
  // Distributed operators.
  // ------------------------------------------------------------------

  /** Apply a flattened `$set`/`$unset` pair to a document map — the
    * per-row core of the sinker's `update_one` (`mongo_sinker.rs` upsert
    * path). Pure map expression, codegen-friendly, no shuffle: base
    * entries that are unset or overridden are filtered, then the set
    * entries concatenated (filtering first keeps `map_concat` free of
    * duplicate keys, which ANSI mode rejects).
    */
  def applyUpdate(doc: Column, setDoc: Column, unset: Column): Column = {
    val unsetSafe = coalesce(unset, array().cast("array<string>"))
    val kept = map_filter(doc, (k, _) =>
      !array_contains(unsetSafe, k) && !array_contains(map_keys(setDoc), k))
    map_concat(kept, setDoc)
  }

  /** The synthesized per-collection changelog all Mongo queries share
    * (deterministic over `events`, like [[Cdc.changes]]): 4 collections
    * keyed by zero-padded user id; rare update rows (a purchase whose
    * event_id ≡ 777 mod 1000) and NULL-`_id` rows (event_id ≡ 3899
    * mod 3900) exercise the merger's serial-demotion rule.
    */
  def changes(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      concat(lit("c"), pmod(col("user_id"), lit(4)).cast("string"))
        .as("tb"),
      when(pmod(col("event_id"), lit(3900)) === 3899, lit(null))
        .otherwise(concat(lit("oid"),
          lpad(col("user_id").cast("string"), 6, "0"))).as("id"),
      when(col("event_type") === "signup", "insert")
        .when(col("event_type") === "error", "delete")
        .when(col("event_type") === "purchase" &&
          pmod(col("event_id"), lit(1000)) === 777, "update")
        .otherwise("insert").as("row_type"),
      col("event_id").as("seq"))

  private val changesSql =
    """SELECT concat('c', CAST(user_id % 4 AS VARCHAR)) AS tb,
      |  CASE WHEN event_id % 3900 = 3899 THEN NULL
      |       ELSE concat('oid', lpad(CAST(user_id AS VARCHAR), 6, '0'))
      |  END AS id,
      |  CASE WHEN event_type = 'signup' THEN 'insert'
      |       WHEN event_type = 'error' THEN 'delete'
      |       WHEN event_type = 'purchase' AND event_id % 1000 = 777
      |         THEN 'update'
      |       ELSE 'insert' END AS row_type,
      |  event_id AS seq
      |FROM events""".stripMargin

  /** The `_id` merger lane split (`mongo_merger.rs:44-96`) as one
    * declarative plan. Per collection: the cutoff is the first update or
    * NULL-id row; everything from it onward is the serial lane in
    * original order. The prefix compacts per id — ids whose history
    * holds a delete land in the delete lane (last delete row), ids whose
    * LAST op is an insert land in the insert lane (last insert row); an
    * id deleted then re-inserted lands in BOTH (the sinker applies
    * deletes before inserts, so the net effect is the re-insert —
    * exactly the reference's `insert_map`/`delete_map` interplay).
    *
    * Scale shape: one window over (tb) computing a single min — the
    * changelog is a micro-batch, bounded by the trigger, and only
    * (tb, id, row_type, seq) ever shuffles, never document bodies.
    */
  def mergeLanes(changes: DataFrame): DataFrame = {
    val cut = changes.withColumn("cutoff",
      min(when(col("row_type") === "update" || col("id").isNull,
        col("seq"))).over(Window.partitionBy(col("tb"))))
    val prefix = cut.filter(col("cutoff").isNull ||
      col("seq") < col("cutoff"))
    val suffix = cut.filter(col("cutoff").isNotNull &&
      col("seq") >= col("cutoff"))
    val merged = prefix.groupBy(col("tb"), col("id"))
      .agg(max(when(col("row_type") === "delete", col("seq")))
          .as("last_del"),
        max(col("seq")).as("last_seq"),
        max_by(col("row_type"), col("seq")).as("last_rt"))
    merged.filter(col("last_del").isNotNull)
      .select(col("tb"), col("id"), lit("delete").as("lane"),
        col("last_del").as("seq"))
      .unionByName(merged.filter(col("last_rt") === "insert")
        .select(col("tb"), col("id"), lit("insert").as("lane"),
          col("last_seq").as("seq")))
      .unionByName(suffix.select(col("tb"), col("id"),
        lit("serial").as("lane"), col("seq")))
  }

  /** q17 — the full merger over the synthesized changelog. */
  def mongoCompact(spark: SparkSession, dir: String): DataFrame =
    mergeLanes(changes(spark, dir))

  val mongoCompactSql: String =
    s"""WITH c AS ($changesSql),
       |cut AS (SELECT *, min(CASE WHEN row_type = 'update' OR id IS NULL
       |            THEN seq END) OVER (PARTITION BY tb) AS cutoff FROM c),
       |prefix AS (SELECT * FROM cut WHERE cutoff IS NULL OR seq < cutoff),
       |suffix AS (SELECT * FROM cut
       |           WHERE cutoff IS NOT NULL AND seq >= cutoff),
       |merged AS (SELECT tb, id,
       |    max(CASE WHEN row_type = 'delete' THEN seq END) AS last_del,
       |    max(seq) AS last_seq,
       |    max_by(row_type, seq) AS last_rt
       |  FROM prefix GROUP BY tb, id)
       |SELECT tb, id, 'delete' AS lane, last_del AS seq FROM merged
       |  WHERE last_del IS NOT NULL
       |UNION ALL
       |SELECT tb, id, 'insert' AS lane, last_seq AS seq FROM merged
       |  WHERE last_rt = 'insert'
       |UNION ALL
       |SELECT tb, id, 'serial' AS lane, seq FROM suffix""".stripMargin

  /** q18 — document-level diff over schemaless map images (the Mongo
    * checker path: doc-field expansion instead of typed columns). The
    * source image is built from `documents`; the target is a
    * deterministically perturbed copy (wrong lang every 7th doc, a
    * DROPPED field every 11th — missing-key ≠ null-value is the
    * schemaless subtlety — and a numeric drift every 13th). The diff is
    * the generic MAP diff expression [[Checker.docDiffFields]] — per-row,
    * no shuffle.
    */
  def docDiff(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val src = map(
      lit("head"), substring(col("text"), 1, 16),
      lit("lang"), col("lang"),
      lit("n_chars"), col("n_chars").cast("string"),
      lit("source"), col("source"))
    val dstFull = map(
      lit("head"), substring(col("text"), 1, 16),
      lit("lang"), when(pmod(col("doc_id"), lit(7)) === 0, lit("xx"))
        .otherwise(col("lang")),
      lit("n_chars"),
      when(pmod(col("doc_id"), lit(13)) === 0, col("n_chars") + 1)
        .otherwise(col("n_chars")).cast("string"),
      lit("source"), col("source"))
    val dst = map_filter(dstFull, (k, _) =>
      !(k === "source" && pmod(col("doc_id"), lit(11)) === 0))
    val diff = Checker.docDiffFields(src, dst)
    d.select(col("doc_id"),
      array_join(diff, ",").as("diff_cols"),
      size(diff).as("n_diff"))
  }

  val docDiffSql: String =
    """SELECT doc_id,
      |  concat_ws(',',
      |    CASE WHEN doc_id % 7 = 0 AND lang IS DISTINCT FROM 'xx'
      |      THEN 'lang' END,
      |    CASE WHEN doc_id % 13 = 0 AND n_chars IS NOT NULL
      |      THEN 'n_chars' END,
      |    CASE WHEN doc_id % 11 = 0 AND source IS NOT NULL
      |      THEN 'source' END) AS diff_cols,
      |  CAST((CASE WHEN doc_id % 7 = 0 AND lang IS DISTINCT FROM 'xx'
      |          THEN 1 ELSE 0 END)
      |     + (CASE WHEN doc_id % 13 = 0 AND n_chars IS NOT NULL
      |          THEN 1 ELSE 0 END)
      |     + (CASE WHEN doc_id % 11 = 0 AND source IS NOT NULL
      |          THEN 1 ELSE 0 END) AS INTEGER) AS n_diff
      |FROM documents""".stripMargin

  /** q19 — `$set`/`$unset` application to document maps (the sinker's
    * update path) over a deterministic update stream: every 3rd doc gets
    * a multi-field `$set` (one new field), others a single-field
    * overwrite; every 5th doc `$unset`s a field. The merged doc is
    * serialized as sorted `k=v` pairs so the oracle can state the exact
    * expected document.
    */
  def updateApply(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val base = map_filter(map(
      lit("head"), coalesce(substring(col("text"), 1, 16), lit("")),
      lit("lang"), coalesce(col("lang"), lit("und")),
      lit("n_chars"), coalesce(col("n_chars").cast("string"), lit("0")),
      lit("source"), col("source")), (_, v) => v.isNotNull)
    val setDoc = when(pmod(col("doc_id"), lit(3)) === 0,
      map(lit("lang"), lit("en"),
        lit("score"), pmod(col("doc_id"), lit(5)).cast("string")))
      .otherwise(map(lit("head"), lit("X")))
    val unset = when(pmod(col("doc_id"), lit(5)) === 0,
      array(lit("source"))).otherwise(array().cast("array<string>"))
    val merged = applyUpdate(base, setDoc, unset)
    d.select(col("doc_id"),
      array_join(transform(array_sort(map_entries(merged)),
        e => concat(e("key"), lit("="), e("value"))), ";").as("doc"))
  }

  val updateApplySql: String =
    """SELECT doc_id, concat_ws(';',
      |  'head=' || (CASE WHEN doc_id % 3 = 0
      |    THEN coalesce(substr(text, 1, 16), '') ELSE 'X' END),
      |  'lang=' || (CASE WHEN doc_id % 3 = 0
      |    THEN 'en' ELSE coalesce(lang, 'und') END),
      |  'n_chars=' || coalesce(CAST(n_chars AS VARCHAR), '0'),
      |  CASE WHEN doc_id % 3 = 0
      |    THEN 'score=' || CAST(doc_id % 5 AS VARCHAR) END,
      |  CASE WHEN doc_id % 5 <> 0 AND source IS NOT NULL
      |    THEN 'source=' || source END) AS doc
      |FROM documents""".stripMargin

  /** Snapshot sampling limit — reference `estimated_sample_limit`
    * (`/root/reference/dt-connector/src/extractor/mod.rs:17-28`, shared
    * by the Mongo/MySQL/PG snapshot extractors): a rate of 1-99 percent
    * caps the scan at ceil(count·rate/100) documents (at least 1); an
    * out-of-range rate or unknown count means no cap.
    */
  def sampleLimit(ratePercent: Option[Int],
      estimatedCount: Long): Option[Long] =
    ratePercent.filter(r => r >= 1 && r < 100).flatMap { r =>
      if (estimatedCount <= 0) None
      else Some(math.max(1L, (estimatedCount * r + 99) / 100))
    }

  /** The keyset resume statement the snapshot pager emits per page —
    * reference `build_resume_filter` + find options
    * (`mongo_snapshot_extractor.rs:144-160,219-227`): sorted `_id` scan,
    * strictly-greater resume key, page-sized limit.
    */
  private def findStatementCol(resumeKey: Column, batchSize: Int): Column =
    concat(lit("""{"find":{"_id":{"$gt":""""), resumeKey,
      lit(s""""}},"sort":{"_id":1},"limit":$batchSize}"""))

  /** q25 — `_id`-paged snapshot plan: page membership over the sorted id
    * space plus, per page, the exact resume statement that fetches the
    * NEXT page. The global-order window is the planner computing
    * O(n/batchSize) boundary metadata over the PRUNED id column only
    * (the reference walks the same order serially through a cursor); the
    * data pages themselves are then read in parallel, one find each —
    * the Mongo analog of [[graft.sources.SnapshotChunker]]'s even
    * chunks, keyset-shaped because string `_id`s have no arithmetic
    * midpoints.
    */
  /** Global numbering is two-pass distributed (no single-partition
    * window): range-repartition the pruned id column, number locally
    * per sorted partition, then add broadcast cumulative partition
    * offsets — at 10⁹⁺ ids every executor numbers its own range and
    * only a partition-count-sized offset table moves. The id frame is
    * eagerly localCheckpoint'ed, not persist()'ed: the checkpoint CUTS
    * lineage, so the offset count and the final numbering can only ever
    * see the same materialized (sampled) range boundaries — a lost
    * block fails loudly instead of silently re-sampling and
    * mis-numbering — and the blocks are released when the frame is
    * GC'd rather than pinned in the cache manager per planner call.
    */
  def idPages(spark: SparkSession, dir: String,
      batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir).select(
      concat(lit("oid"), lpad(col("doc_id").cast("string"), 8, "0"))
        .as("_id"))

    val nBuckets = spark.sessionState.conf.numShufflePartitions
    val local = ids.repartitionByRange(nBuckets, col("_id"))
      .sortWithinPartitions(col("_id"))
      .as[String]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var i = 0L
        it.map { id => val out = (pid, i, id); i += 1; out }
      }.toDF("pid", "local_idx", "_id")
      .localCheckpoint(true)

    val counts = local.groupBy(col("pid"))
      .agg(count(lit(1)).as("n")).as[(Int, Long)].collect()
      .sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (pid, n) =>
      val entry = pid -> acc; acc += n; entry
    }.toMap
    val offsetCol = {
      val m = typedLit(offsets)
      element_at(m, col("pid"))
    }

    val paged = local.withColumn("page",
      ((col("local_idx") + offsetCol) / batchSize).cast("long"))
    val result = paged.groupBy(col("page"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("_id")).as("min_id"), max(col("_id")).as("max_id"))
      .withColumn("next_find", findStatementCol(col("max_id"), batchSize))
    result
  }

  val idPagesSql: String =
    """WITH ids AS (SELECT concat('oid', lpad(CAST(doc_id AS VARCHAR), 8,
      |    '0')) AS _id FROM documents),
      |paged AS (SELECT _id,
      |    (row_number() OVER (ORDER BY _id) - 1) // 64 AS page FROM ids)
      |SELECT page, count(*) AS n_docs, min(_id) AS min_id,
      |  max(_id) AS max_id,
      |  '{"find":{"_id":{"$gt":"' || max(_id) ||
      |    '"}},"sort":{"_id":1},"limit":64}' AS next_find
      |FROM paged GROUP BY page""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q17_mongo_compact" -> (mongoCompact _),
    "q18_doc_diff" -> (docDiff _),
    "q19_mongo_update_apply" -> (updateApply _),
    "q25_mongo_pages" -> ((s: SparkSession, d: String) => idPages(s, d)))

  val oracles: Map[String, String] = Map(
    "q17_mongo_compact" -> mongoCompactSql,
    "q18_doc_diff" -> docDiffSql,
    "q19_mongo_update_apply" -> updateApplySql,
    "q25_mongo_pages" -> idPagesSql)
}
