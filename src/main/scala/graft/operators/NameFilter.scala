package graft.operators

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit

/** Schema/table allow-deny filtering with the reference's pattern language
  * (/root/reference/dt-common/src/rdb_filter.rs:30-225): `*` and `?`
  * wildcards, `r#…#`-delimited raw regex, and exact-match escapes via
  * backticks or double quotes. Evaluated driver-side to pick which tables a
  * task reads (table pruning before any scan), and available as a row-level
  * predicate for event streams.
  */
object NamePattern {
  /** Compile one token into a whole-string matcher. */
  def compile(token: String): Pattern = {
    val t = token.trim
    if (t.startsWith("r#") && t.endsWith("#") && t.length >= 3) {
      Pattern.compile(t.substring(2, t.length - 1))
    } else if ((t.startsWith("`") && t.endsWith("`") && t.length >= 2) ||
        (t.startsWith("\"") && t.endsWith("\"") && t.length >= 2)) {
      // escaped exact name: wildcards inside are literal
      Pattern.compile(Pattern.quote(t.substring(1, t.length - 1)))
    } else {
      val sb = new StringBuilder
      t.foreach {
        case '*' => sb.append(".*")
        case '?' => sb.append('.')
        case c => sb.append(Pattern.quote(c.toString))
      }
      Pattern.compile(sb.toString)
    }
  }

  def matches(token: String, name: String): Boolean =
    compile(token).matcher(name).matches()

  /** [[matches]] as a Catalyst predicate: `rlike` finds, so the
    * compiled pattern is anchored to the whole string.
    */
  def matchesCol(token: String, name: Column): Column =
    name.rlike(s"\\A(?:${compile(token).pattern})\\z")
}

/** `schema.tb` token pair. Tokens may individually be wildcards/regex. */
final case class TableToken(schema: String, tb: String) {
  def matches(s: String, t: String): Boolean =
    NamePattern.matches(schema, s) && NamePattern.matches(tb, t)

  def matchesCol(s: Column, t: Column): Column =
    NamePattern.matchesCol(schema, s) && NamePattern.matchesCol(tb, t)
}

/** Allow/deny filter over schemas, tables, and event kinds (reference
  * rdb_filter.rs:65-141). Deny wins over allow; empty allow-list = allow
  * all. Results are cached per (schema, tb) — the reference uses a DashMap,
  * here a ConcurrentHashMap on the driver.
  */
final case class NameFilter(
    doSchemas: Seq[String] = Nil,
    ignoreSchemas: Seq[String] = Nil,
    doTbs: Seq[TableToken] = Nil,
    ignoreTbs: Seq[TableToken] = Nil,
    doEvents: Set[String] = Set("insert", "update", "delete"),
    doDdls: Set[String] = Set.empty,
    doDcls: Set[String] = Set.empty,
    doStructures: Set[String] = Set.empty,
    ignoreCmds: Set[String] = Set.empty) {

  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Boolean]()

  def allowSchema(schema: String): Boolean = {
    val denied = ignoreSchemas.exists(NamePattern.matches(_, schema))
    val allowed = doSchemas.isEmpty ||
      doSchemas.exists(NamePattern.matches(_, schema))
    !denied && allowed
  }

  def allowTable(schema: String, tb: String): Boolean =
    cache.computeIfAbsent((schema, tb), { _ =>
      val denied = ignoreTbs.exists(_.matches(schema, tb)) ||
        ignoreSchemas.exists(NamePattern.matches(_, schema))
      val allowed =
        (doTbs.isEmpty && doSchemas.isEmpty) ||
        doTbs.exists(_.matches(schema, tb)) ||
        doSchemas.exists(NamePattern.matches(_, schema))
      !denied && allowed
    })

  /** [[allowTable]] as a row-level predicate over (schema, tb)
    * columns, so an event batch filters in-plan with no driver-side
    * table list.
    */
  def tableAllowed(schema: Column, tb: Column): Column = {
    def any(ms: Seq[Column]) = ms.foldLeft(lit(false))(_ || _)
    val denied = any(ignoreTbs.map(_.matchesCol(schema, tb)) ++
      ignoreSchemas.map(NamePattern.matchesCol(_, schema)))
    val allowed =
      if (doTbs.isEmpty && doSchemas.isEmpty) lit(true)
      else any(doTbs.map(_.matchesCol(schema, tb)) ++
        doSchemas.map(NamePattern.matchesCol(_, schema)))
    allowed && !denied
  }

  def allowEvent(rowType: String): Boolean = doEvents.contains(rowType)

  /** DDL gate (reference rdb_filter.rs:110-120): DDL replication is
    * opt-in — a statement passes only when its type is listed (or `*`)
    * AND its object's schema/table is admitted. Empty `do_ddls` drops
    * all DDL, the reference's default.
    */
  def allowDdl(ddlType: String, schema: String, tb: String): Boolean =
    (doDdls.contains("*") || doDdls.contains(ddlType)) &&
      (if (tb == null || tb.isEmpty) allowSchema(schema)
       else allowTable(schema, tb))

  /** DCL gate (reference rdb_filter.rs:126-128): like DDL, DCL
    * replication is opt-in by statement type (`create_user`, `grant`,
    * …) or `*`; empty `do_dcls` drops all DCL.
    */
  def allowDcl(dclType: String): Boolean =
    doDcls.contains("*") || doDcls.contains(dclType)

  /** Structure-migration gate (rdb_filter.rs:130-133): which structure
    * kinds (table/index/constraint/…) the struct task migrates.
    */
  def allowStructure(structureType: String): Boolean =
    doStructures.contains("*") || doStructures.contains(structureType)

  /** Command deny-list (rdb_filter.rs:135-137, Redis ignore_cmds). */
  def allowCmd(cmd: String): Boolean = !ignoreCmds.contains(cmd)

  /** Expand against a catalog listing: the driver-side table pruning that
    * decides which tables get scans at all (SURVEY §4 "partition pruning").
    */
  def expand(catalog: Seq[(String, String)]): Seq[(String, String)] =
    catalog.filter { case (s, t) => allowTable(s, t) }
}
