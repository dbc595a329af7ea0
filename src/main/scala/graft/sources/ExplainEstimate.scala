package graft.sources

/** EXPLAIN-estimated snapshot sampling — the reference's
  * `estimate_sample_limit` flow (`/root/reference/dt-connector/src/
  * extractor/mysql/mysql_snapshot_extractor.rs:1200-1292`,
  * `pg/pg_snapshot_extractor.rs:1179-1250`, formula
  * `extractor/mod.rs:17-28`): when a reference task sets `sample_rate`
  * (percent, 1..99), the extractor caps each table's scan at an
  * estimated row budget instead of reading everything — catalog
  * statistics for unfiltered tables, the engine's own EXPLAIN JSON row
  * estimate when a `where_condition` filters the scan. No task lane
  * samples a snapshot yet, so `[extractor] sample_rate` is not parsed.
  *
  * Here the statements and the estimate math are synthesized and
  * parsed as pure functions (the JDBC round-trip stays external, the
  * same boundary as the slot lifecycle): the caller fetches the
  * catalog count or EXPLAIN JSON and feeds it back. The sample limit
  * then bounds [[SnapshotChunker]] page limits exactly as the
  * reference's `sample_limit` bounds its batch loop.
  */
object ExplainEstimate {

  /** ceil(count × rate / 100), floor 1 — rates outside 1..99 disable
    * sampling, a zero estimate yields no limit (scan everything:
    * statistics said empty, trust the scan to be cheap).
    */
  def sampleLimit(sampleRate: Option[Int],
      estimatedCount: Long): Option[Long] =
    sampleRate.filter(r => r >= 1 && r < 100).flatMap { rate =>
      if (estimatedCount <= 0) None
      else Some(math.max(1L, (estimatedCount * rate + 99) / 100))
    }

  /** Catalog row-count statements (unfiltered tables). */
  val mysqlCountSql: String =
    "SELECT TABLE_ROWS FROM information_schema.TABLES " +
      "WHERE table_type = 'BASE TABLE' AND table_schema = ? " +
      "AND table_name = ? LIMIT 1"

  val pgCountSql: String =
    "SELECT c.reltuples::bigint AS row_count FROM pg_class c " +
      "JOIN pg_namespace n ON n.oid = c.relnamespace " +
      "WHERE c.relkind = 'r' AND n.nspname = $1 AND c.relname = $2"

  /** EXPLAIN statements for where-filtered tables. */
  def mysqlExplainSql(schema: String, tb: String,
      where: String): String =
    s"EXPLAIN FORMAT=JSON SELECT 1 FROM `$schema`.`$tb` WHERE $where"

  def pgExplainSql(schema: String, tb: String, where: String): String =
    s"""EXPLAIN (FORMAT JSON) SELECT 1 FROM "$schema"."$tb" """ +
      s"WHERE $where"

  /** MySQL estimate from `EXPLAIN FORMAT=JSON` output:
    * query_block.table.rows_produced_per_join when positive, else
    * rows_examined_per_scan × filtered% (clamped 0..100, ceil) — both
    * fields may arrive as numbers or quoted numbers.
    */
  def mysqlEstimate(planJson: String): Option[Long] =
    for {
      root <- TinyJson.parse(planJson)
      table <- TinyJson.path(root, "query_block", "table")
      rows <- TinyJson.num(table, "rows_produced_per_join")
        .filter(_ > 0)
        .orElse(TinyJson.num(table, "rows_examined_per_scan")
          .flatMap { scanned =>
            val filtered = TinyJson.num(table, "filtered")
              .getOrElse(100.0).max(0.0).min(100.0)
            val est = math.ceil(scanned * filtered / 100.0)
            Option.when(est > 0 && est.isFinite)(est)
          })
    } yield rows.toLong

  /** PG estimate from `EXPLAIN (FORMAT JSON)`:
    * `[ { "Plan": { "Plan Rows": N } } ]`.
    */
  def pgEstimate(planJson: String): Option[Long] =
    for {
      root <- TinyJson.parse(planJson)
      first <- root match {
        case xs: Seq[_] => xs.headOption
        case other => Some(other)
      }
      plan <- TinyJson.path(first, "Plan")
      rows <- TinyJson.num(plan, "Plan Rows")
    } yield rows.toLong
}

/** Minimal recursive-descent JSON reader for driver-side plan
  * documents: objects → Map[String, Any], arrays → Seq[Any], numbers →
  * Double, strings → String, true/false/null. Lossy enough for plan
  * navigation, zero dependencies.
  */
private[graft] object TinyJson {

  def parse(s: String): Option[Any] =
    try {
      val p = new P(s)
      p.ws()
      val v = p.value()
      Some(v)
    } catch { case _: Exception => None }

  /** Navigate nested object keys. */
  def path(root: Any, keys: String*): Option[Any] =
    keys.foldLeft(Option(root)) {
      case (Some(m: Map[_, _]), k) =>
        m.asInstanceOf[Map[String, Any]].get(k)
      case _ => None
    }

  /** A numeric field that may be a number or a quoted number. */
  def num(obj: Any, key: String): Option[Double] =
    path(obj, key).flatMap {
      case d: Double => Some(d)
      case s: String => s.toDoubleOption
      case _ => None
    }

  private final class P(s: String) {
    private var i = 0
    def ws(): Unit =
      while (i < s.length && Character.isWhitespace(s(i))) i += 1
    private def expect(c: Char): Unit = {
      require(i < s.length && s(i) == c, s"expected $c at $i")
      i += 1
    }
    def value(): Any = {
      ws()
      s(i) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case 't' => lit("true", true)
        case 'f' => lit("false", false)
        case 'n' => lit("null", null)
        case _ => number()
      }
    }
    private def lit(word: String, v: Any): Any = {
      require(s.startsWith(word, i), s"bad literal at $i")
      i += word.length; v
    }
    private def obj(): Map[String, Any] = {
      expect('{'); ws()
      val b = Map.newBuilder[String, Any]
      if (s(i) == '}') { i += 1; return b.result() }
      var more = true
      while (more) {
        ws(); val k = str(); ws(); expect(':')
        b += ((k, value())); ws()
        if (s(i) == ',') i += 1 else { expect('}'); more = false }
      }
      b.result()
    }
    private def arr(): Seq[Any] = {
      expect('['); ws()
      val b = Seq.newBuilder[Any]
      if (s(i) == ']') { i += 1; return b.result() }
      var more = true
      while (more) {
        b += value(); ws()
        if (s(i) == ',') i += 1 else { expect(']'); more = false }
      }
      b.result()
    }
    private def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          s(i) match {
            case 'n' => sb += '\n'; case 't' => sb += '\t'
            case 'r' => sb += '\r'; case 'b' => sb += '\b'
            case 'f' => sb += '\f'
            case 'u' =>
              sb += Integer.parseInt(s.substring(i + 1, i + 5), 16)
                .toChar
              i += 4
            case c => sb += c
          }
        } else sb += s(i)
        i += 1
      }
      i += 1
      sb.toString
    }
    private def number(): Double = {
      val start = i
      while (i < s.length &&
        ("+-.eE0123456789".indexOf(s(i)) >= 0)) i += 1
      s.substring(start, i).toDouble
    }
  }
}
