package graft.meta

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.meta.DdlParser.MongoCommand

/** MongoDB DDL events from the change stream (showExpandedEvents,
  * server >= 6.0) — the reference's mongo_ddl.rs: each recognized
  * `operationType` becomes a replayable command document plus the
  * typed (schema, tb, new_schema, new_tb) fields that routing
  * rewrites. The command is stored as JSON text; [[rewriteNamespace]]
  * re-targets it from the routed fields exactly like the sinker's
  * rewrite_ddl_command_namespace (mongo_sinker.rs) before execution.
  */
object MongoDdl {

  private val mapper = new ObjectMapper()

  /** The three sharding DDLs — skipped when the target is not mongos
    * (reference DdlType::is_mongo_shard_ddl, ddl_type.rs:67-75).
    */
  val shardTypes: Set[String] = Set("mongo_shard_collection",
    "mongo_reshard_collection", "mongo_refine_collection_shard_key")

  private def obj(fields: (String, JsonNode)*): ObjectNode = {
    val o = mapper.createObjectNode()
    fields.foreach { case (k, v) => o.set[JsonNode](k, v): Unit }
    o
  }
  private def txt(s: String): JsonNode =
    mapper.getNodeFactory.textNode(s)

  /** Copy operationDescription fields into the command, minus the
    * ignored keys (mongo_ddl.rs copy_description_fields).
    */
  private def copyFields(desc: JsonNode, into: ObjectNode,
      ignored: Set[String]): Unit = {
    val it = desc.fieldNames()
    while (it.hasNext) {
      val k = it.next()
      if (!ignored.contains(k))
        into.set[JsonNode](k, desc.get(k)): Unit
    }
  }

  /** dropIndexes carries either a spec array, a single spec doc, or a
    * bare name — the replay command wants the first index NAME
    * (mongo_ddl.rs first_index_name).
    */
  private def firstIndexName(desc: JsonNode): Option[JsonNode] = {
    def nameOf(n: JsonNode): Option[JsonNode] = n match {
      case t if t.isTextual => Some(t)
      case d if d.isObject => Option(d.get("name"))
      case _ => None
    }
    Option(desc.get("indexes")).flatMap {
      case arr if arr.isArray =>
        if (arr.size() > 0) nameOf(arr.get(0)) else None
      case one => nameOf(one)
    }
  }

  /** Map one change-stream event (extended-JSON text) to a DDL, or
    * None for non-DDL / unrecognized operation types
    * (mongo_ddl.rs change_stream_event_to_ddl).
    */
  def changeStreamEventToDdl(eventJson: String): Option[MongoCommand] = {
    val event = mapper.readTree(eventJson)
    val opType = Option(event.get("operationType"))
      .filter(_.isTextual).map(_.asText()).getOrElse(return None)
    val ns = Option(event.get("ns")).getOrElse(return None)
    val db = Option(ns.get("db")).filter(_.isTextual)
      .map(_.asText()).getOrElse(return None)
    val coll = Option(ns.get("coll")).filter(_.isTextual)
      .map(_.asText()).getOrElse("")
    val desc = Option(event.get("operationDescription"))

    def mk(tpe: String, newDb: String, newTb: String,
        command: ObjectNode): Option[MongoCommand] =
      Some(MongoCommand(tpe, db, coll, newDb, newTb,
        mapper.writeValueAsString(command)))

    opType match {
      case "create" =>
        val cmd = obj("create" -> txt(coll))
        desc.foreach(copyFields(_, cmd, Set("idIndex")))
        mk("mongo_create_collection", "", "", cmd)

      case "drop" =>
        mk("mongo_drop_collection", "", "", obj("drop" -> txt(coll)))

      case "rename" =>
        val to = Option(event.get("to")).getOrElse(return None)
        val newDb = Option(to.get("db")).filter(_.isTextual)
          .map(_.asText()).getOrElse(return None)
        val newColl = Option(to.get("coll")).filter(_.isTextual)
          .map(_.asText()).getOrElse(return None)
        mk("mongo_rename_collection", newDb, newColl,
          obj("renameCollection" -> txt(s"$db.$coll"),
            "to" -> txt(s"$newDb.$newColl")))

      case "dropDatabase" =>
        Some(MongoCommand("mongo_drop_database", db, "", "", "",
          mapper.writeValueAsString(
            obj("dropDatabase" -> mapper.getNodeFactory.numberNode(1)))))

      case "createIndexes" =>
        val d = desc.getOrElse(return None)
        val indexes = Option(d.get("indexes")).getOrElse(return None)
        mk("mongo_create_index", "", "",
          obj("createIndexes" -> txt(coll), "indexes" -> indexes))

      case "dropIndexes" =>
        val d = desc.getOrElse(return None)
        val index = firstIndexName(d).getOrElse(return None)
        mk("mongo_drop_index", "", "",
          obj("dropIndexes" -> txt(coll), "index" -> index))

      case "modify" =>
        val cmd = obj("collMod" -> txt(coll))
        desc.foreach(copyFields(_, cmd, Set.empty))
        mk("mongo_coll_mod", "", "", cmd)

      case "shardCollection" | "reshardCollection"
          | "refineCollectionShardKey" =>
        val d = desc.getOrElse(return None)
        val shardKey = Option(d.get("shardKey")).getOrElse(return None)
        val tpe = opType match {
          case "shardCollection" => "mongo_shard_collection"
          case "reshardCollection" => "mongo_reshard_collection"
          case _ => "mongo_refine_collection_shard_key"
        }
        val cmd = obj(opType -> txt(s"$db.$coll"), "key" -> shardKey)
        copyFields(d, cmd, Set("shardKey", "reshardUUID", "oldShardKey"))
        mk(tpe, "", "", cmd)

      case _ => None
    }
  }

  /** Synthesize a shardCollection DDL from a source collection's shard
    * config (snapshot-side struct migration — mongo_ddl.rs
    * build_shard_collection_ddl).
    */
  def buildShardCollectionDdl(ns: String, keyJson: String,
      unique: Boolean): Option[MongoCommand] = {
    val dot = ns.indexOf('.')
    if (dot <= 0 || dot == ns.length - 1) return None
    val (db, coll) = (ns.substring(0, dot), ns.substring(dot + 1))
    val cmd = obj("shardCollection" -> txt(ns),
      "key" -> mapper.readTree(keyJson))
    cmd.put("unique", unique): Unit
    Some(MongoCommand("mongo_shard_collection", db, coll, "", "",
      mapper.writeValueAsString(cmd)))
  }

  /** Re-target the stored command document from the statement's
    * (routed) namespace fields — the sinker's
    * rewrite_ddl_command_namespace verbatim: collection-scoped
    * commands get the bare collection name, rename gets both
    * db-qualified namespaces, shard commands get the db-qualified
    * source namespace.
    */
  def rewriteNamespace(mc: MongoCommand): String = {
    val cmd = mapper.readTree(mc.command) match {
      case o: ObjectNode => o
      case _ => return mc.command
    }
    val collScoped = Seq("create", "drop", "createIndexes",
      "dropIndexes", "collMod")
    collScoped.find(cmd.has) match {
      case Some(name) if mc.tb.nonEmpty =>
        cmd.put(name, mc.tb): Unit
        return mapper.writeValueAsString(cmd)
      case _ => ()
    }
    if (cmd.has("renameCollection")) {
      cmd.put("renameCollection", s"${mc.schema}.${mc.tb}"): Unit
      cmd.put("to", s"${mc.newSchema}.${mc.newTb}"): Unit
      return mapper.writeValueAsString(cmd)
    }
    Seq("shardCollection", "reshardCollection",
      "refineCollectionShardKey").find(cmd.has) match {
      case Some(name) if mc.tb.nonEmpty =>
        cmd.put(name, s"${mc.schema}.${mc.tb}"): Unit
        return mapper.writeValueAsString(cmd)
      case _ => ()
    }
    mapper.writeValueAsString(cmd)
  }
}
