package graft.sinks

/** Batched SQL statement synthesis — the reference's rdb_query_builder
  * (/root/reference/dt-connector/src/rdb_query_builder.rs:144-603):
  * multi-row VALUES inserts, REPLACE/upsert variants per dialect,
  * IN-tuple batch deletes/selects, single-row updates, placeholder vs
  * literal modes.
  *
  * Spark's JDBC writer can only append/overwrite — replication needs
  * upsert/delete, so a `foreachBatch` applier executes these statements
  * over plain JDBC. This module is the statement factory; it is pure
  * string synthesis and fully unit-testable without a database.
  */
object RdbQueryBuilder {

  sealed trait Dialect {
    def quote(id: String): String
    def upsert(table: String, cols: Seq[String], keys: Seq[String],
        rows: Int): String
  }

  case object MySql extends Dialect {
    def quote(id: String): String = s"`${id.replace("`", "``")}`"
    /** REPLACE INTO — the reference's MySQL idempotent write
      * (mysql_sinker.rs:208-265).
      */
    def upsert(table: String, cols: Seq[String], keys: Seq[String],
        rows: Int): String =
      s"REPLACE INTO $table ${colList(this, cols)} VALUES " +
        valuesTuples(cols.size, rows)
  }

  case object Postgres extends Dialect {
    def quote(id: String): String = s""""${id.replace("\"", "\"\"")}""""
    /** INSERT … ON CONFLICT (pk) DO UPDATE SET
      * (rdb_query_builder.rs:235-381).
      */
    def upsert(table: String, cols: Seq[String], keys: Seq[String],
        rows: Int): String = {
      val sets = cols.filterNot(keys.contains)
        .map(c => s"${quote(c)}=EXCLUDED.${quote(c)}").mkString(", ")
      s"INSERT INTO $table ${colList(this, cols)} VALUES " +
        valuesTuples(cols.size, rows) +
        s" ON CONFLICT (${keys.map(quote).mkString(", ")}) " +
        s"DO UPDATE SET $sets"
    }
  }

  private def colList(d: Dialect, cols: Seq[String]): String =
    cols.map(d.quote).mkString("(", ", ", ")")

  private def valuesTuples(nCols: Int, nRows: Int): String = {
    val tuple = Seq.fill(nCols)("?").mkString("(", ",", ")")
    Seq.fill(nRows)(tuple).mkString(",")
  }

  /** Multi-row INSERT (rdb_query_builder.rs:191). */
  def batchInsert(d: Dialect, table: String, cols: Seq[String],
      rows: Int): String =
    s"INSERT INTO $table ${colList(d, cols)} VALUES " +
      valuesTuples(cols.size, rows)

  /** Batch DELETE with IN-tuple keys (rdb_query_builder.rs:144):
    * DELETE FROM t WHERE (k1,k2) IN ((?,?),(?,?),…)
    */
  def batchDelete(d: Dialect, table: String, keys: Seq[String],
      rows: Int): String = {
    val keyTuple = keys.map(d.quote).mkString("(", ",", ")")
    s"DELETE FROM $table WHERE $keyTuple IN " +
      s"(${valuesTuples(keys.size, rows)})"
  }

  /** Single-row UPDATE (updates apply serially in the reference —
    * mysql_sinker.rs:267-363).
    */
  def update(d: Dialect, table: String, setCols: Seq[String],
      keys: Seq[String]): String = {
    val sets = setCols.map(c => s"${d.quote(c)}=?").mkString(", ")
    val preds = keys.map(c => s"${d.quote(c)}=?").mkString(" AND ")
    s"UPDATE $table SET $sets WHERE $preds"
  }

  /** Literal-mode value rendering (rdb_query_builder.rs placeholder vs
    * literal): NULL/number pass through, strings quoted with doubling.
    */
  def literal(v: Option[Any]): String = v match {
    case None | Some(null) => "NULL"
    case Some(n: Number) => n.toString
    case Some(b: Boolean) => if (b) "1" else "0"
    case Some(s) => "'" + s.toString.replace("'", "''") + "'"
  }

  /** Per-connection session prelude — the reference's
    * `build_mysql_conn_settings` / pg `after_connect` hook
    * (/root/reference/dt-task/src/task_util.rs:142-205): FK checks off
    * for out-of-order apply ([sinker] disable_foreign_key_checks) and
    * the configured transaction isolation ([sinker]
    * transaction_isolation, MySQL only — PG instead flips
    * session_replication_role so triggers/FKs sit out replication,
    * exactly the reference's asymmetry).
    */
  /** Literal single-row statement for the sql sinker — the exact SQL a
    * manual replay would run (sql_sinker.rs get_query_sql + log_sql):
    * insert → full-row INSERT, update → SET of the changed columns
    * WHERE the before-image keys, delete → DELETE WHERE keys. Values
    * render as literals ([[literal]]), so the artifact is runnable
    * as-is.
    */
  def eventSql(d: Dialect, schema: String, tb: String,
      keys: Seq[String], rowType: String,
      before: Map[String, String], after: Map[String, String])
      : String = {
    val table = s"${d.quote(schema)}.${d.quote(tb)}"
    def keyPred(img: Map[String, String]): String =
      keys.map { k =>
        val v = img.get(k).flatMap(Option(_))
        if (v.isEmpty) s"${d.quote(k)} IS NULL"
        else s"${d.quote(k)}=${literal(v)}"
      }.mkString(" AND ")
    rowType match {
      case "insert" =>
        val cols = after.keys.toSeq.sorted
        s"INSERT INTO $table (${cols.map(d.quote).mkString(",")}) " +
          s"VALUES (${cols.map(c => literal(Option(after(c))
            .flatMap(Option(_)))).mkString(",")})"
      case "update" =>
        val sets = after.keys.toSeq.sorted
          .filter(c => after.get(c) != before.get(c))
        val nonKey = after.keys.toSeq.sorted.filterNot(keys.contains)
        // All-key table with no changed columns would render an
        // empty SET list (invalid SQL) — re-assign the keys instead.
        val setCols =
          if (sets.nonEmpty) sets
          else if (nonKey.nonEmpty) nonKey
          else after.keys.toSeq.sorted
        s"UPDATE $table SET ${setCols.map(c =>
          s"${d.quote(c)}=${literal(Option(after(c))
            .flatMap(Option(_)))}").mkString(", ")} " +
          s"WHERE ${keyPred(if (before.nonEmpty) before else after)}"
      case "delete" =>
        s"DELETE FROM $table WHERE ${keyPred(before)}"
      case other => sys.error(s"sql sinker: unexpected row type $other")
    }
  }

  def connSettings(d: Dialect, disableForeignKeyChecks: Boolean,
      transactionIsolation: String = "default"): Seq[String] = {
    val iso = transactionIsolation match {
      case "read_uncommitted" => Some("READ UNCOMMITTED")
      case "read_committed" => Some("READ COMMITTED")
      case "repeatable_read" => Some("REPEATABLE READ")
      case "serializable" => Some("SERIALIZABLE")
      case _ => None
    }
    d match {
      case MySql =>
        (if (disableForeignKeyChecks) Seq("SET FOREIGN_KEY_CHECKS=0")
         else Nil) ++
          iso.map(l => s"SET TRANSACTION ISOLATION LEVEL $l").toSeq
      case Postgres =>
        if (disableForeignKeyChecks)
          Seq("SET session_replication_role = 'replica';")
        else Nil
    }
  }
}
