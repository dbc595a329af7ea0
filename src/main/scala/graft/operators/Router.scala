package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, concat, lit,
  try_element_at, typedLit}

/** Rename/addressing maps — the reference's rdb_router
  * (/root/reference/dt-connector/src/rdb_router.rs:24-98,247-330):
  * schema→schema, (schema,tb)→(schema,tb), per-table column maps, and
  * (schema,tb)→Kafka-topic routing with a `*` fallback. Forward maps are
  * config; reverse maps are computed (needed by two-way sync and check).
  */
final case class Router(
    schemaMap: Map[String, String] = Map.empty,
    tbMap: Map[(String, String), (String, String)] = Map.empty,
    colMap: Map[(String, String), Map[String, String]] = Map.empty,
    topicMap: Map[(String, String), String] = Map.empty,
    defaultTopic: String = "") {

  /** Route a table address: tb_map wins over schema_map. */
  def routeTable(schema: String, tb: String): (String, String) =
    tbMap.getOrElse((schema, tb),
      (schemaMap.getOrElse(schema, schema), tb))

  /** [[routeTable]] as a column: the routed `schema.tb` name from
    * Catalyst map lookups, so a batch routes in-plan.
    */
  def routedName(schema: Column, tb: Column): Column = {
    val tbs = typedLit(tbMap.map { case ((s, t), (ts, tt)) =>
      s"$s\u0000$t" -> s"$ts.$tt" })
    coalesce(try_element_at(tbs, concat(schema, lit("\u0000"), tb)),
      concat(coalesce(try_element_at(typedLit(schemaMap), schema), schema),
        lit("."), tb))
  }

  def routeColumn(schema: String, tb: String, colName: String): String =
    colMap.get((schema, tb)).flatMap(_.get(colName)).getOrElse(colName)

  /** Kafka topic for a table; exact (schema,tb) → schema-level `(s,*)` →
    * default (reference rdb_router.rs:96-98).
    */
  def routeTopic(schema: String, tb: String): String =
    topicMap.getOrElse((schema, tb),
      topicMap.getOrElse((schema, "*"), defaultTopic))

  /** Apply a table's column map to a DataFrame (bulk rename). */
  def renameColumns(schema: String, tb: String, df: DataFrame): DataFrame =
    colMap.get((schema, tb)) match {
      case None => df
      case Some(m) =>
        df.withColumnsRenamed(m.filter { case (from, _) =>
          df.columns.contains(from)
        })
    }

  /** Computed reverse router (reference rdb_router.rs:44 `reverse`). */
  def reverse: Router = Router(
    schemaMap = schemaMap.map(_.swap),
    tbMap = tbMap.map(_.swap),
    colMap = colMap.map { case ((s, t), m) =>
      (tbMap.getOrElse((s, t), (schemaMap.getOrElse(s, s), t)), m.map(_.swap))
    },
    topicMap = Map.empty,
    defaultTopic = defaultTopic)
}
