package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sinks.LandedTable

/** DuckDB-oracle rows for the round-14 landed-state surface
  * (round-14 verdict Missing #3): the redis per-key op fold
  * ([[RedisStateOps.Merger]]) and the mongo change-stream state
  * derivation ([[MongoStateOps]]) were spec-only — the one class of
  * live-lane code outside the hash-match gate. Both are deterministic
  * DataFrame functions of an op/change table, so each folds a fixture
  * derived from the TPC-H tables and is hash-matched against DuckDB
  * computing the same end state independently (set/incr/hash/zset-GT/
  * list folds as SQL aggregations over `orders`; the document face as
  * a projection of `customer`).
  */
object StateFaceQueries {

  // ---------------------------------------------------------------- q153

  /** Deterministic redis op stream derived from `orders`, folded
    * through the production merger:
    *  - `ord:<okey>`: one SET per order (status; expiry hint for 'O'
    *    orders) — orders divisible by 97 then take an UNSUPPORTED
    *    command, so their tombstones must vanish from the flat face;
    *  - `cnt:<ckey>`: one INCR per order, the op set landed TWICE
    *    with identical (sseg, rank) — the replay dedupe must fold
    *    each exactly once (count = orders per customer);
    *  - `st:<ckey>`: HSET field=orderkey value=status;
    *  - `top`: ZADD GT member=custkey score=floor(totalprice) — the
    *    conditional fold must land the per-customer max;
    *  - `lst:<ckey>`: RPUSH orderkey per order, then LREM of every
    *    19-divisible orderkey — the exact list fold (r14 Missing #2).
    * The fold itself is the scale path under test: one shuffle on the
    * key, per-key sequential apply, no driver loop.
    */
  def redisStateFold(spark: SparkSession, dir: String): DataFrame = {
    // fan out the single-file scan under the 8 fixture branches
    // (divided by branch count — they share one reused exchange),
    // so the pack/partial-agg map stage runs at the core count
    // instead of 8 single-task branch scans. No-op at cluster scale.
    val o = Tables.fanout(spark, Tables.orders(spark, dir).select(
      col("o_orderkey").cast("long").as("okey"),
      col("o_custkey").cast("long").as("ckey"),
      col("o_orderstatus").cast("string").as("st"),
      floor(col("o_totalprice")).cast("long").as("price")), over = 8)
    def row(rank: Column, key: Column, op0: String, vt: String,
        field: Column, value: Column, ex: Column): Seq[Column] =
      Seq(lit("psync.000001.log").as("sseg"),
        rank.cast("long").as("rank"), key.as("key"),
        lit(0L).as("db"), lit(op0).as("op"),
        lit(vt).as("value_type"), field.cast("string").as("field"),
        value.cast("string").as("value"),
        ex.cast("long").as("expire_ms"))
    val noEx = lit(null)
    val ordSet = o.select(row(col("okey") * 4,
      concat(lit("ord:"), col("okey")), "set", "string", lit(""),
      col("st"), when(col("st") === "O", lit(9000L))): _*)
    val cnt = o.select(row(col("okey") * 4 + 1,
      concat(lit("cnt:"), col("ckey")), "incr", "string", lit(""),
      lit("1"), noEx): _*)
    val hash = o.select(row(col("okey") * 4 + 2,
      concat(lit("st:"), col("ckey")), "put", "hash", col("okey"),
      col("st"), noEx): _*)
    val top = o.select(row(col("okey") * 4 + 3, lit("top"),
      "zaddgt", "zset", col("ckey"), col("price"), noEx): _*)
    val lst = o.select(row(col("okey") * 4 + 3,
      concat(lit("lst:"), col("ckey")), "rpush", "list", lit(""),
      col("okey"), noEx): _*)
    // LREM ranks sit above every push rank (1<<41 > 4×max orderkey)
    val lrem = o.filter(col("okey") % 19 === 0)
      .select(row(lit(1L << 41) + col("okey"),
        concat(lit("lst:"), col("ckey")), "lrem", "list", lit("0"),
        col("okey"), noEx): _*)
    val poison = o.filter(col("okey") % 97 === 0)
      .select(row(col("okey") * 4 + 1,
        concat(lit("ord:"), col("okey")), "unsupp", "", lit(""),
        lit(""), noEx): _*)
    val deltas = ordSet
      .unionByName(cnt).unionByName(cnt) // exact replay: dedupe once
      .unionByName(hash).unionByName(top).unionByName(lst)
      .unionByName(lrem).unionByName(poison)
    val merged = RedisStateOps.Merger.merge(spark, None, deltas, 0L)
    RedisStateOps.Merger.flatView.get(merged)
      .select(col("key"), col("payload"))
  }

  private val redisStateFoldSql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS okey, o_custkey AS ckey,
      |         o_orderstatus AS st,
      |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price
      |  FROM orders)
      |SELECT 'ord:' || okey AS key,
      |       '{"t":"string"' ||
      |         CASE WHEN st = 'O' THEN ',"x":9000' ELSE '' END ||
      |         ',"e":[["","' || st || '"]]}' AS payload
      |FROM o WHERE okey % 97 <> 0
      |UNION ALL
      |SELECT 'cnt:' || ckey AS key,
      |       '{"t":"string","e":[["","' || COUNT(*) || '"]]}'
      |         AS payload
      |FROM o GROUP BY ckey
      |UNION ALL
      |SELECT 'st:' || ckey AS key,
      |       '{"t":"hash","e":[' ||
      |         string_agg('["' || okey || '","' || st || '"]', ','
      |           ORDER BY CAST(okey AS VARCHAR)) || ']}' AS payload
      |FROM o GROUP BY ckey
      |UNION ALL
      |SELECT 'top' AS key,
      |       '{"t":"zset","e":[' ||
      |         string_agg('["' || ckey || '","' || mx || '"]', ','
      |           ORDER BY CAST(ckey AS VARCHAR)) || ']}' AS payload
      |FROM (SELECT ckey, MAX(price) AS mx FROM o GROUP BY ckey)
      |UNION ALL
      |SELECT 'lst:' || ckey AS key,
      |       '{"t":"list","e":[' ||
      |         string_agg('["' || lpad(CAST(rn AS VARCHAR), 6, '0')
      |             || '","' || okey || '"]', ',' ORDER BY rn) ||
      |         ']}' AS payload
      |FROM (SELECT ckey, okey,
      |        row_number() OVER (PARTITION BY ckey ORDER BY okey)
      |          - 1 AS rn
      |      FROM o WHERE okey % 19 <> 0)
      |GROUP BY ckey""".stripMargin

  // ---------------------------------------------------------------- q155

  /** Deterministic stream-command fixture derived from `orders`,
    * folded through the production merger (round-15 verdict Missing
    * #2 → round-16): one stream `evt:<ckey>` per customer, XADD id
    * `<okey>-0` with a single `st=<status>` field per order (ranks
    * ascend with okey, so ids stay monotonic the way a real
    * replicated tail is), then ONE XTRIM MAXLEN 5 per stream, then
    * XDEL of every 19-divisible orderkey — so the face holds each
    * customer's top-5 orders minus the deleted ones, the last-id
    * survives trims/deletes, and customers whose survivors all
    * delete exercise the empty-but-alive stream render.
    */
  def redisStreamFold(spark: SparkSession, dir: String): DataFrame = {
    // same branch-divided fan-out as q153 (3 fixture branches)
    val o = Tables.fanout(spark, Tables.orders(spark, dir).select(
      col("o_orderkey").cast("long").as("okey"),
      col("o_custkey").cast("long").as("ckey"),
      col("o_orderstatus").cast("string").as("st")), over = 3)
    def row(rank: Column, key: Column, op0: String, field: Column,
        value: Column): Seq[Column] =
      Seq(lit("psync.000001.log").as("sseg"),
        rank.cast("long").as("rank"), key.as("key"),
        lit(0L).as("db"), lit(op0).as("op"),
        lit("stream").as("value_type"),
        field.cast("string").as("field"),
        value.cast("string").as("value"),
        lit(null).cast("long").as("expire_ms"))
    val skey = concat(lit("evt:"), col("ckey"))
    val xadd = o.select(row(
      lit(RedisStateOps.CommandRankBase) + col("okey"), skey, "xadd",
      concat(col("okey"), lit("-0")),
      concat(lit("{\"p\":[[\"st\",\""), col("st"), lit("\"]]}"))): _*)
    val xtrim = o.groupBy("ckey").agg(count(lit(1)))
      .select(row(lit(1L << 41), skey, "xtriml", lit("5"),
        lit("")): _*)
    val xdel = o.filter(col("okey") % 19 === 0)
      .select(row(lit(1L << 41) + col("okey"), skey, "xdel",
        concat(col("okey"), lit("-0")), lit("")): _*)
    val deltas = xadd.unionByName(xtrim).unionByName(xdel)
    val merged = RedisStateOps.Merger.merge(spark, None, deltas, 0L)
    RedisStateOps.Merger.flatView.get(merged)
      .select(col("key"), col("payload"))
  }

  private val redisStreamFoldSql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS okey, o_custkey AS ckey,
      |         o_orderstatus AS st
      |  FROM orders),
      |live AS (
      |  SELECT ckey, okey, st FROM (
      |    SELECT ckey, okey, st,
      |           row_number() OVER (PARTITION BY ckey
      |                              ORDER BY okey DESC) AS rn
      |    FROM o)
      |  WHERE rn <= 5 AND okey % 19 <> 0)
      |SELECT 'evt:' || c.ckey AS key,
      |       '{"t":"stream","l":"' || c.mx || '-0","e":[' ||
      |         COALESCE(e.es, '') || ']}' AS payload
      |FROM (SELECT ckey, MAX(okey) AS mx FROM o GROUP BY ckey) c
      |LEFT JOIN (
      |  SELECT ckey,
      |         string_agg('["' || okey || '-0/st","' || st || '"]',
      |           ',' ORDER BY CAST(okey AS VARCHAR)) AS es
      |  FROM live GROUP BY ckey) e
      |ON c.ckey = e.ckey""".stripMargin

  // ---------------------------------------------------------------- q156

  /** Deterministic cross-key movement fixture derived from `orders`,
    * folded through the production merger's TWO-PHASE movement path
    * (round-15 verdict Missing #3 → round-16):
    *  - every order SETs `tmp:<okey>` then RENAMEs it to
    *    `fin:<okey>` — the rename-on-complete queue pattern whose
    *    destinations the r15 tree tombstoned;
    *  - every order SADDs its okey into `pool:<ckey>`; 7-divisible
    *    okeys then SMOVE into `picked:<ckey>` — the member-moved
    *    flag rides the movement pair;
    *  - 13-divisible okeys SET `cs:<okey>` and COPY it to
    *    `cc:<okey>` (dst absent ⇒ the plain form is effective);
    *  - per customer, ONE ZUNIONSTORE WEIGHTS 1 2 over a price zset
    *    and a 3-divisible-okey SET — the multi-source movement trio
    *    with weighted aggregation, DuckDB recomputing the arithmetic.
    * Ranks ascend in fixture order; each movement group's ranks are
    * consecutive (the landing-layer invariant the emissions target).
    */
  def redisMoveFold(spark: SparkSession, dir: String): DataFrame = {
    // NO fanout here, twice measured (r17, and r18 again after the
    // sorted-group fold rewrite): a shared fanned projection under
    // the 14 movement branches regressed q156 3.8 → 6.1 s min — the
    // movement plan's branch structure defeats exchange reuse, so
    // every branch re-pays the round-robin repartition (and its
    // determinism sort) on top of the scan it was meant to save.
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey").cast("long").as("okey"),
      col("o_custkey").cast("long").as("ckey"),
      col("o_orderstatus").cast("string").as("st"))
    def row(rank: Column, key: Column, op0: String, vt: String,
        field: Column, value: Column): Seq[Column] =
      Seq(lit("psync.000001.log").as("sseg"),
        rank.cast("long").as("rank"), key.as("key"),
        lit(0L).as("db"), lit(op0).as("op"),
        lit(vt).as("value_type"), field.cast("string").as("field"),
        value.cast("string").as("value"),
        lit(null).cast("long").as("expire_ms"))
    val base = lit(RedisStateOps.CommandRankBase)
    val r0 = base + col("okey") * 16
    val tmpKey = concat(lit("tmp:"), col("okey"))
    val finKey = concat(lit("fin:"), col("okey"))
    val setTmp = o.select(row(r0, tmpKey, "set", "string", lit(""),
      col("st")): _*)
    val renOut = o.select(row(r0 + 1, tmpKey, "mvout", "ren", finKey,
      lit("")): _*)
    val renIn = o.select(row(r0 + 2, finKey, "mvin", "ren", tmpKey,
      lit("")): _*)
    val poolKey = concat(lit("pool:"), col("ckey"))
    val pickKey = concat(lit("picked:"), col("ckey"))
    val sadd = o.select(row(r0 + 3, poolKey, "put", "set",
      col("okey"), lit("")): _*)
    val m7 = o.filter(col("okey") % 7 === 0)
    val smvOut = m7.select(row(r0 + 4, poolKey, "mvout", "smv",
      pickKey, col("okey")): _*)
    val smvIn = m7.select(row(r0 + 5, pickKey, "mvin", "smv",
      poolKey, col("okey")): _*)
    val m13 = o.filter(col("okey") % 13 === 0)
    val csKey = concat(lit("cs:"), col("okey"))
    val ccKey = concat(lit("cc:"), col("okey"))
    val setCs = m13.select(row(r0 + 6, csKey, "set", "string",
      lit(""), col("st")): _*)
    val cpyOut = m13.select(row(r0 + 7, csKey, "mvout", "cpy", ccKey,
      lit("")): _*)
    val cpyIn = m13.select(row(r0 + 8, ccKey, "mvin", "cpy", csKey,
      lit("")): _*)
    // weighted zset store: zsa:<ckey> holds every order's price as
    // a score, zsb:<ckey> the 3-divisible okeys as a SET (counted at
    // score 1); ONE per-customer ZUNIONSTORE WEIGHTS 1 2 lands
    // price + 2·membership through the multi-source movement pair
    val o2 = Tables.orders(spark, dir).select(
      col("o_orderkey").cast("long").as("okey"),
      col("o_custkey").cast("long").as("ckey"),
      floor(col("o_totalprice")).cast("long").as("price"))
    val zsaKey = concat(lit("zsa:"), col("ckey"))
    val zsbKey = concat(lit("zsb:"), col("ckey"))
    val r02 = base + col("okey") * 16
    val zsa = o2.select(row(r02 + 9, zsaKey, "put", "zset",
      col("okey"), col("price")): _*)
    val zsb = o2.filter(col("okey") % 3 === 0)
      .select(row(r02 + 10, zsbKey, "put", "set", col("okey"),
        lit("")): _*)
    // one movement trio per customer, ranks past every okey-level op
    val cBase = lit(1L << 42) + col("ckey") * 4
    val custs = o2.select("ckey").distinct()
    val zuOut0 = custs.select(row(cBase, concat(lit("zsa:"),
      col("ckey")), "mvout", "zstu", concat(lit("zu:"), col("ckey")),
      lit("0/2")): _*)
    val zuOut1 = custs.select(row(cBase + 1, concat(lit("zsb:"),
      col("ckey")), "mvout", "zstu", concat(lit("zu:"), col("ckey")),
      lit("1/1")): _*)
    val zuIn = custs.select(row(cBase + 2, concat(lit("zu:"),
      col("ckey")), "mvin", "zstu", lit("2"),
      lit("""{"a":"sum","w":["1","2"]}""")): _*)
    val deltas = setTmp.unionByName(renOut).unionByName(renIn)
      .unionByName(sadd).unionByName(smvOut).unionByName(smvIn)
      .unionByName(setCs).unionByName(cpyOut).unionByName(cpyIn)
      .unionByName(zsa).unionByName(zsb).unionByName(zuOut0)
      .unionByName(zuOut1).unionByName(zuIn)
    val merged = RedisStateOps.Merger.merge(spark, None, deltas, 0L)
    RedisStateOps.Merger.flatView.get(merged)
      .select(col("key"), col("payload"))
  }

  private val redisMoveFoldSql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS okey, o_custkey AS ckey,
      |         o_orderstatus AS st,
      |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price
      |  FROM orders)
      |SELECT 'fin:' || okey AS key,
      |       '{"t":"string","e":[["","' || st || '"]]}' AS payload
      |FROM o
      |UNION ALL
      |SELECT 'cs:' || okey AS key,
      |       '{"t":"string","e":[["","' || st || '"]]}' AS payload
      |FROM o WHERE okey % 13 = 0
      |UNION ALL
      |SELECT 'cc:' || okey AS key,
      |       '{"t":"string","e":[["","' || st || '"]]}' AS payload
      |FROM o WHERE okey % 13 = 0
      |UNION ALL
      |SELECT 'pool:' || ckey AS key,
      |       '{"t":"set","e":[' ||
      |         string_agg('["' || okey || '",""]', ','
      |           ORDER BY CAST(okey AS VARCHAR)) || ']}' AS payload
      |FROM o WHERE okey % 7 <> 0 GROUP BY ckey
      |UNION ALL
      |SELECT 'picked:' || ckey AS key,
      |       '{"t":"set","e":[' ||
      |         string_agg('["' || okey || '",""]', ','
      |           ORDER BY CAST(okey AS VARCHAR)) || ']}' AS payload
      |FROM o WHERE okey % 7 = 0 GROUP BY ckey
      |UNION ALL
      |SELECT 'zsa:' || ckey AS key,
      |       '{"t":"zset","e":[' ||
      |         string_agg('["' || okey || '","' || price || '"]',
      |           ',' ORDER BY CAST(okey AS VARCHAR)) || ']}'
      |         AS payload
      |FROM o GROUP BY ckey
      |UNION ALL
      |SELECT 'zsb:' || ckey AS key,
      |       '{"t":"set","e":[' ||
      |         string_agg('["' || okey || '",""]', ','
      |           ORDER BY CAST(okey AS VARCHAR)) || ']}' AS payload
      |FROM o WHERE okey % 3 = 0 GROUP BY ckey
      |UNION ALL
      |SELECT 'zu:' || ckey AS key,
      |       '{"t":"zset","e":[' ||
      |         string_agg('["' || okey || '","' ||
      |             (price + CASE WHEN okey % 3 = 0 THEN 2 ELSE 0
      |              END) || '"]',
      |           ',' ORDER BY CAST(okey AS VARCHAR)) || ']}'
      |         AS payload
      |FROM o GROUP BY ckey""".stripMargin

  // ---------------------------------------------------------------- q157

  /** Deterministic RESTORE + GEOADD fixture derived from `customer`,
    * driven through the PRODUCTION command path (round-16 verdict
    * Missing #2/#3 → round-17): unlike q153-q156, which construct op
    * rows directly, this fixture builds raw argv per row and runs
    * [[RedisStateOps.commandOps]] ON THE EXECUTORS — the RESTORE
    * payloads are RDB-encoded fixture-side and decoded by the real
    * dump decoder inside the landing map. Per customer k:
    *  - SET `rh:<k>` then RESTORE REPLACE a hash dump {name, seg} —
    *    the full-knowledge replacement; 11-divisible keys are
    *    poisoned (unsupp) in between, so REPLACE must also CLEAR a
    *    tombstone;
    *  - RESTORE (plain) `rk:<k>` with a string dump of the market
    *    segment and ttl (k%7)·1000 — conditional-on-absence landing
    *    with the x hint;
    *  - 3-divisible keys RESTORE a legacy-ASCII zset dump
    *    {name → floor(acctbal)} into `rz:<k>` — score
    *    canonicalization through the decode;
    *  - GEOADD `geo:<segment>` (k%180)+0.25 / (k%85)+0.25 name —
    *    the oracle recomputes the 52-bit geohash in SQL (floor
    *    offsets + Morton spread via the same mask cascade).
    */
  def redisRestoreGeo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // fan out the single-file scan BEFORE the per-row command
    // builder (narrow projection shuffles, commandOps then runs at
    // full parallelism; no-op at cluster scale — Tables.fanout)
    val c = Tables.fanout(spark, Tables.customer(spark, dir).select(
      col("c_custkey").cast("long").as("k"),
      col("c_name").cast("string").as("nm"),
      col("c_mktsegment").cast("string").as("seg"),
      floor(col("c_acctbal")).cast("long").as("bal")))
      .as[(Long, String, String, Long)]
    val rows = c.flatMap { case (k, nm, seg, bal) =>
      def enc6(n: Int) = (n & 0x3f).toChar.toString
      def estr(s: String) = enc6(s.length) + s
      // 2-byte RDB version LE (11) + 8-byte CRC (structural only —
      // the decode trusts a master-verified frame)
      val footer = "\u000b" + "\u0000" * 9
      val strDump = "\u0000" + estr(seg) + footer
      val hashDump = "\u0004" + enc6(2) + estr("name") + estr(nm) +
        estr("seg") + estr(seg) + footer
      val balStr = bal.toString
      val zsetDump = "\u0003" + enc6(1) + estr(nm) +
        balStr.length.toChar + balStr + footer
      val lon = s"${k % 180}.25"
      val lat = s"${k % 85}.25"
      val cmds: Seq[Seq[String]] = Seq(
        Seq("SET", s"rh:$k", "orig"),
        Seq("RESTORE", s"rh:$k", "0", hashDump, "REPLACE"),
        Seq("RESTORE", s"rk:$k", ((k % 7) * 1000).toString,
          strDump)) ++
        (if (k % 3 == 0)
          Seq(Seq("RESTORE", s"rz:$k", "0", zsetDump))
        else Nil) ++
        Seq(Seq("GEOADD", s"geo:$seg", lon, lat, nm))
      val base = RedisStateOps.CommandRankBase + k * 32
      // the poison sits BETWEEN the SET and the RESTORE REPLACE, so
      // the REPLACE must clear a live tombstone
      val poison =
        if (k % 11 == 0)
          Seq(("psync.000001.log", base + 4,
            RedisStateOps.stateKey(0L, s"rh:$k"), 0L, "unsupp", "",
            "", "", Option.empty[Long]))
        else Nil
      poison ++ cmds.zipWithIndex.flatMap { case (argv, i) =>
        RedisStateOps.commandOps(argv, 0L)._2.zipWithIndex.map {
          case (o, j) =>
            ("psync.000001.log", base + i * 5 + j, o.key, 0L,
              o.op, o.vtype, o.field, o.value, o.ex)
        }
      }
    }.toDF("sseg", "rank", "key", "db", "op", "value_type", "field",
      "value", "expire_ms")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the command-built fixture is expensive per row (argv parse +
    // commandOps on the executors); persist it so the merge's
    // bookkeeping pass and packed groupBy read it once — pinned to
    // the merger lifecycle, drained at the next merge/release
    val merged = RedisStateOps.Merger.merge(spark, None, rows, 0L)
    RedisStateOps.Merger.pin(rows)
    // commandOps keys are `db \u0000 rkey`; the oracle compares the
    // bare key (db 0 throughout this fixture)
    RedisStateOps.Merger.flatView.get(merged)
      .select(substring_index(col("key"), "\u0000", -1).as("key"),
        col("payload"))
  }

  private val redisRestoreGeoSql: String =
    """WITH c AS (
      |  SELECT c_custkey AS k, c_name AS nm, c_mktsegment AS seg,
      |         CAST(FLOOR(c_acctbal) AS BIGINT) AS bal
      |  FROM customer),
      |m0 AS (
      |  SELECT k, nm, seg,
      |         CAST(FLOOR(((CAST(k % 85 AS DOUBLE) + 0.25
      |             + 85.05112878)
      |           / (85.05112878 + 85.05112878)) * 67108864.0)
      |           AS BIGINT) AS a,
      |         CAST(FLOOR(((CAST(k % 180 AS DOUBLE) + 0.25 + 180.0)
      |           / 360.0) * 67108864.0) AS BIGINT) AS b
      |  FROM c),
      |m1 AS (SELECT k, nm, seg,
      |         ((a | (a << 16)) & 281470681808895) AS a,
      |         ((b | (b << 16)) & 281470681808895) AS b FROM m0),
      |m2 AS (SELECT k, nm, seg,
      |         ((a | (a << 8)) & 71777214294589695) AS a,
      |         ((b | (b << 8)) & 71777214294589695) AS b FROM m1),
      |m3 AS (SELECT k, nm, seg,
      |         ((a | (a << 4)) & 1085102592571150095) AS a,
      |         ((b | (b << 4)) & 1085102592571150095) AS b FROM m2),
      |m4 AS (SELECT k, nm, seg,
      |         ((a | (a << 2)) & 3689348814741910323) AS a,
      |         ((b | (b << 2)) & 3689348814741910323) AS b FROM m3),
      |m5 AS (SELECT k, nm, seg,
      |         ((a | (a << 1)) & 6148914691236517205) AS a,
      |         ((b | (b << 1)) & 6148914691236517205) AS b FROM m4),
      |geo0 AS (SELECT k, nm, seg, (a | (b << 1)) AS bits FROM m5),
      |-- cloned scale factors repeat customer NAMES (gen_sf offsets
      |-- keys, not names): colliding GEOADD members last-write-win in
      |-- rank order, which ascends with k
      |geo AS (SELECT nm, seg, bits FROM (
      |  SELECT nm, seg, bits,
      |         row_number() OVER (PARTITION BY seg, nm
      |                            ORDER BY k DESC) AS rn
      |  FROM geo0) WHERE rn = 1)
      |SELECT 'rh:' || k AS key,
      |       '{"t":"hash","e":[["name","' || nm || '"],["seg","' ||
      |         seg || '"]]}' AS payload
      |FROM c
      |UNION ALL
      |SELECT 'rk:' || k AS key,
      |       '{"t":"string"' ||
      |         CASE WHEN k % 7 <> 0
      |              THEN ',"x":' || ((k % 7) * 1000) ELSE '' END ||
      |         ',"e":[["","' || seg || '"]]}' AS payload
      |FROM c
      |UNION ALL
      |SELECT 'rz:' || k AS key,
      |       '{"t":"zset","e":[["' || nm || '","' || bal ||
      |         '"]]}' AS payload
      |FROM c WHERE k % 3 = 0
      |UNION ALL
      |SELECT 'geo:' || seg AS key,
      |       '{"t":"zset","e":[' ||
      |         string_agg('["' || nm || '","' || bits || '"]', ','
      |           ORDER BY nm) || ']}' AS payload
      |FROM geo GROUP BY seg""".stripMargin

  // ---------------------------------------------------------------- q154

  /** Deterministic mongo change-stream fixture derived from
    * `customer`, pushed through the PRODUCTION parse + state
    * derivation + two LandedTable merges (segment 1 = inserts →
    * committed base; segment 2 = updates/deletes/post-image-less
    * updates folded OVER that base — the anti-join path):
    *  - every customer inserts in segment 1;
    *  - BUILDING customers (not 11- or 13-divisible) update with a
    *    post-image in segment 2;
    *  - 11-divisible keys delete (tombstones must fold away);
    *  - 13-divisible keys get an update WITHOUT fullDocument (the
    *    post-image lookup raced a delete) — those stay log-face-only
    *    and the landed doc keeps its insert image.
    */
  def mongoStateFace(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(
      col("c_custkey").cast("long").as("k"),
      col("c_name").cast("string").as("nm"),
      col("c_mktsegment").cast("string").as("seg0"))
    def doc(segCol: Column): Column = concat(
      lit("{\"_id\": "), col("k"),
      lit(", \"name\": \""), col("nm"),
      lit("\", \"seg\": \""), segCol, lit("\"}"))
    def line(op: String, withDoc: Option[Column],
        tok: Column): Column = concat(
      lit("{\"_id\": {\"_data\": \""), tok, lit("\"}"),
      lit(", \"operationType\": \"" + op + "\""),
      lit(", \"ns\": {\"db\": \"app\", \"coll\": \"customers\"}"),
      lit(", \"documentKey\": {\"_id\": "), col("k"), lit("}"),
      withDoc.map(d => concat(lit(", \"fullDocument\": "), d))
        .getOrElse(lit("")),
      lit("}"))
    val seg1 = lit("changes.000001.log")
    val seg2 = lit("changes.000002.log")
    val inserts = c.select(
      line("insert", Some(doc(col("seg0"))),
        concat(lit("a"), col("k"))).as("value"), seg1.as("seg"))
    val updates = c
      .filter(col("seg0") === "BUILDING" &&
        col("k") % 11 =!= 0 && col("k") % 13 =!= 0)
      .select(line("update", Some(doc(lit("UPDATED"))),
        concat(lit("b"), col("k"))).as("value"), seg2.as("seg"))
    val deletes = c.filter(col("k") % 11 === 0)
      .select(line("delete", None, concat(lit("c"), col("k")))
        .as("value"), seg2.as("seg"))
    val racedUpdates = c
      .filter(col("k") % 13 === 0 && col("k") % 11 =!= 0)
      .select(line("update", None, concat(lit("d"), col("k")))
        .as("value"), seg2.as("seg"))
    val lines = inserts.unionByName(updates).unionByName(deletes)
      .unionByName(racedUpdates)
      // within-segment seq is irrelevant here (one event per key per
      // segment); real landings stamp MongoStateOps.lineSeq while
      // reading the segment file
      .withColumn("seq", monotonically_increasing_id())
    val state = MongoStateOps
      .deriveState(MongoStateOps.parseChanges(lines))
      .filter(col("db") === "app" && col("coll") === "customers")
      .select("bseq", "seq", "row_type", "key", "payload")
    val base = LandedTable.StandardMerger.merge(spark, None,
      state.filter(col("bseq") === 1), 0L)
    LandedTable.StandardMerger.merge(spark, Some(base),
      state.filter(col("bseq") === 2), 0L)
      .select(col("key"), col("payload"))
  }

  private val mongoStateFaceSql: String =
    """SELECT '{"_id":' || c_custkey || '}' AS key,
      |       '{"_id":' || c_custkey || ',"name":"' || c_name ||
      |         '","seg":"' ||
      |         CASE WHEN c_mktsegment = 'BUILDING'
      |                   AND c_custkey % 13 <> 0
      |              THEN 'UPDATED' ELSE c_mktsegment END ||
      |         '"}' AS payload
      |FROM customer
      |WHERE c_custkey % 11 <> 0""".stripMargin

  // ---------------------------------------------------------------- q158

  /** Deterministic bit-surgery fixture derived from `customer`,
    * driven through the PRODUCTION command path (round-17: the bit
    * families fold exactly). Per customer k:
    *  - `bm:<k>`: SETBIT builds a two-byte bitmap — a fixed bit, a
    *    k-scattered bit, a CLEAR that only lands for k%4==0, and a
    *    second-byte bit (zero-pad extension);
    *  - `bs1/bs2/bs3:<k>`: digit and letter source strings;
    *  - `bx/ba/bo/bn:<k>`: BITOP XOR/AND/OR/NOT over the sources —
    *    the oracle recomputes the byte math with chr/ascii/xor;
    *  - `bf:<k>`: BITFIELD — u8 SET + SAT-clamped INCRBY + a FAIL
    *    increment that must not land, i8 WRAP wrap-around, and two
    *    `#`-typed u4 nibbles packing one byte;
    *  - `be:<k>`: a pre-seeded destination DELETED by an all-absent
    *    BITOP (empty result);
    *  - 13-divisible keys: a PFADD-poisoned source tombstones its
    *    BITOP destination — both stay OFF the face.
    */
  def redisBitFold(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.fanout(spark, Tables.customer(spark, dir).select(
      col("c_custkey").cast("long").as("k"))).as[Long]
    val rows = c.flatMap { k =>
      val d1 = f"${k % 10000}%04d"
      val d3 = f"${(k * 7 + 13) % 10000}%04d"
      val ltr = (0 until 4).map(i =>
        (65 + ((k + 5 * i) % 26)).toChar).mkString
      val bitpos = (k % 4) match {
        case 0 => 3
        case 1 => 4
        case 2 => 5
        case _ => 7
      }
      val cmds: Seq[Seq[String]] = Seq(
        Seq("SETBIT", s"bm:$k", "2", "1"),
        Seq("SETBIT", s"bm:$k", bitpos.toString, "1"),
        Seq("SETBIT", s"bm:$k", "3", "0"),
        Seq("SETBIT", s"bm:$k", "10", "1"),
        Seq("SET", s"bs1:$k", d1),
        Seq("SET", s"bs2:$k", ltr),
        Seq("SET", s"bs3:$k", d3),
        Seq("BITOP", "XOR", s"bx:$k", s"bs1:$k", s"bs2:$k"),
        Seq("BITOP", "AND", s"ba:$k", s"bs1:$k", s"bs3:$k"),
        Seq("BITOP", "OR", s"bo:$k", s"bs1:$k", s"bs3:$k"),
        Seq("BITOP", "NOT", s"bn:$k", s"bs1:$k"),
        Seq("BITFIELD", s"bf:$k", "SET", "u8", "0",
          ((k % 150) + 100).toString),
        Seq("BITFIELD", s"bf:$k", "OVERFLOW", "SAT", "INCRBY", "u8",
          "0", "100", "OVERFLOW", "FAIL", "INCRBY", "u8", "0",
          "200"),
        Seq("BITFIELD", s"bf:$k", "SET", "i8", "8", "100", "INCRBY",
          "i8", "8", ((k % 100) + 28).toString),
        Seq("BITFIELD", s"bf:$k", "SET", "u4", "#4",
          ((k % 13) + 3).toString, "SET", "u4", "#5",
          ((k % 8) + 4).toString),
        Seq("SET", s"be:$k", "x"),
        Seq("BITOP", "AND", s"be:$k", s"no1:$k", s"no2:$k")) ++
        (if (k % 13 == 0) Seq(
          Seq("PFADD", s"pf:$k", "m"),
          Seq("BITOP", "OR", s"bp:$k", s"bs1:$k", s"pf:$k"))
        else Nil)
      val base = RedisStateOps.CommandRankBase + k * 128
      cmds.zipWithIndex.flatMap { case (argv, i) =>
        RedisStateOps.commandOps(argv, 0L)._2.zipWithIndex.map {
          case (o, j) =>
            ("psync.000001.log", base + i * 6 + j, o.key, 0L,
              o.op, o.vtype, o.field, o.value, o.ex)
        }
      }
    }.toDF("sseg", "rank", "key", "db", "op", "value_type", "field",
      "value", "expire_ms")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the command-built fixture is expensive per row (argv parse +
    // commandOps on the executors); persist it so the merge's
    // bookkeeping pass and packed groupBy read it once — pinned to
    // the merger lifecycle, drained at the next merge/release
    val merged = RedisStateOps.Merger.merge(spark, None, rows, 0L)
    RedisStateOps.Merger.pin(rows)
    RedisStateOps.Merger.flatView.get(merged)
      .select(substring_index(col("key"), "\u0000", -1).as("key"),
        col("payload"))
  }

  private val redisBitFoldSql: String =
    """WITH c AS (SELECT c_custkey AS k FROM customer),
      |d AS (
      |  SELECT k,
      |         lpad(CAST(k % 10000 AS VARCHAR), 4, '0') AS d1,
      |         lpad(CAST((k * 7 + 13) % 10000 AS VARCHAR), 4, '0')
      |           AS d3,
      |         chr(CAST(65 + (k % 26) AS INT)) ||
      |         chr(CAST(65 + ((k + 5) % 26) AS INT)) ||
      |         chr(CAST(65 + ((k + 10) % 26) AS INT)) ||
      |         chr(CAST(65 + ((k + 15) % 26) AS INT)) AS ltr
      |  FROM c),
      |sp AS (SELECT '{"t":"string","e":[["","' AS pre,
      |              '"]]}' AS post)
      |SELECT 'bm:' || k AS key,
      |       pre || CASE CAST(k % 4 AS INT)
      |                WHEN 0 THEN ' ' WHEN 1 THEN '('
      |                WHEN 2 THEN '$' ELSE '!' END || ' ' || post
      |         AS payload
      |FROM d, sp
      |UNION ALL
      |SELECT 'bs1:' || k, pre || d1 || post FROM d, sp
      |UNION ALL
      |SELECT 'bs2:' || k, pre || ltr || post FROM d, sp
      |UNION ALL
      |SELECT 'bs3:' || k, pre || d3 || post FROM d, sp
      |UNION ALL
      |SELECT 'bx:' || k,
      |       pre ||
      |       chr(xor(ascii(substr(d1, 1, 1)),
      |               ascii(substr(ltr, 1, 1)))) ||
      |       chr(xor(ascii(substr(d1, 2, 1)),
      |               ascii(substr(ltr, 2, 1)))) ||
      |       chr(xor(ascii(substr(d1, 3, 1)),
      |               ascii(substr(ltr, 3, 1)))) ||
      |       chr(xor(ascii(substr(d1, 4, 1)),
      |               ascii(substr(ltr, 4, 1)))) || post
      |FROM d, sp
      |UNION ALL
      |SELECT 'ba:' || k,
      |       pre ||
      |       chr(ascii(substr(d1, 1, 1)) & ascii(substr(d3, 1, 1)))
      |    || chr(ascii(substr(d1, 2, 1)) & ascii(substr(d3, 2, 1)))
      |    || chr(ascii(substr(d1, 3, 1)) & ascii(substr(d3, 3, 1)))
      |    || chr(ascii(substr(d1, 4, 1)) & ascii(substr(d3, 4, 1)))
      |    || post
      |FROM d, sp
      |UNION ALL
      |SELECT 'bo:' || k,
      |       pre ||
      |       chr(ascii(substr(d1, 1, 1)) | ascii(substr(d3, 1, 1)))
      |    || chr(ascii(substr(d1, 2, 1)) | ascii(substr(d3, 2, 1)))
      |    || chr(ascii(substr(d1, 3, 1)) | ascii(substr(d3, 3, 1)))
      |    || chr(ascii(substr(d1, 4, 1)) | ascii(substr(d3, 4, 1)))
      |    || post
      |FROM d, sp
      |UNION ALL
      |SELECT 'bn:' || k,
      |       pre ||
      |       chr(255 - ascii(substr(d1, 1, 1))) ||
      |       chr(255 - ascii(substr(d1, 2, 1))) ||
      |       chr(255 - ascii(substr(d1, 3, 1))) ||
      |       chr(255 - ascii(substr(d1, 4, 1))) || post
      |FROM d, sp
      |UNION ALL
      |SELECT 'bf:' || k,
      |       pre ||
      |       chr(CAST(LEAST((k % 150) + 200, 255) AS INT)) ||
      |       chr(CAST(128 + (k % 100) AS INT)) ||
      |       chr(CAST(((k % 13) + 3) * 16 + (k % 8) + 4 AS INT)) ||
      |       post
      |FROM d, sp""".stripMargin

  // ---------------------------------------------------------------- q159

  /** Deterministic GEO-STORE fixture derived from `customer`, driven
    * through the PRODUCTION command path (round-17: the GEO-STORE
    * variants fold exactly). Per customer k a GEOADD lands its grid
    * point (3°-spaced, so every shape boundary sits tens of km from
    * any member — libm last-ULP differences cannot flip membership)
    * into `g9:<segment>`; then, at ranks above every add, 100-
    * divisible customers issue `GEOSEARCHSTORE sel:<k> ...
    * BYRADIUS 500 km` and 50-mod-100 customers `box:<k> ... BYBOX
    * 700 700 km`, both FROMLONLAT their own point. The oracle
    * recomputes the 52-bit encode (Morton cascade), the cell-center
    * decode, and the haversine with the same IEEE double steps —
    * selections carry ORIGINAL geohash scores (exact integers), so
    * the hash match is bit-exact. STOREDIST / COUNT semantics are
    * pinned by RedisStateOpsSpec vectors instead (their rendered
    * doubles and qsort tie rules are not cross-engine-stable).
    */
  def redisGeoStore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.fanout(spark, Tables.customer(spark, dir).select(
      col("c_custkey").cast("long").as("k"),
      col("c_name").cast("string").as("nm"),
      col("c_mktsegment").cast("string").as("seg")))
      .as[(Long, String, String)]
    val rows = c.flatMap { case (k, nm, seg) =>
      val lon = s"${(k % 30) * 3}.25"
      val lat = s"${(k % 20) * 3}.25"
      val adds = Seq(
        (RedisStateOps.CommandRankBase + k * 4,
          Seq("GEOADD", s"g9:$seg", lon, lat, nm)))
      val stores =
        if (k % 100 == 0) Seq(((1L << 41) + k * 4,
          Seq("GEOSEARCHSTORE", s"sel:$k", s"g9:$seg", "FROMLONLAT",
            lon, lat, "BYRADIUS", "500", "km")))
        else if (k % 100 == 50) Seq(((1L << 41) + k * 4,
          Seq("GEOSEARCHSTORE", s"box:$k", s"g9:$seg", "FROMLONLAT",
            lon, lat, "BYBOX", "700", "700", "km")))
        else Nil
      (adds ++ stores).flatMap { case (base, argv) =>
        RedisStateOps.commandOps(argv, 0L)._2.zipWithIndex.map {
          case (o, j) =>
            ("psync.000001.log", base + j, o.key, 0L, o.op,
              o.vtype, o.field, o.value, o.ex)
        }
      }
    }.toDF("sseg", "rank", "key", "db", "op", "value_type", "field",
      "value", "expire_ms")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the command-built fixture is expensive per row (argv parse +
    // commandOps on the executors); persist it so the merge's
    // bookkeeping pass and packed groupBy read it once — pinned to
    // the merger lifecycle, drained at the next merge/release
    val merged = RedisStateOps.Merger.merge(spark, None, rows, 0L)
    RedisStateOps.Merger.pin(rows)
    RedisStateOps.Merger.flatView.get(merged)
      .select(substring_index(col("key"), "\u0000", -1).as("key"),
        col("payload"))
  }

  private val redisGeoStoreSql: String =
    """WITH c AS (
      |  SELECT c_custkey AS k, c_name AS nm, c_mktsegment AS seg
      |  FROM customer),
      |p0 AS (
      |  SELECT k, nm, seg,
      |         (k % 30) * 3 + 0.25 AS lon,
      |         (k % 20) * 3 + 0.25 AS lat
      |  FROM c),
      |m0 AS (
      |  SELECT k, nm, seg, lon, lat,
      |         CAST(FLOOR(((lat + 85.05112878)
      |             / (85.05112878 + 85.05112878)) * 67108864.0)
      |           AS BIGINT) AS a,
      |         CAST(FLOOR(((lon + 180.0) / 360.0) * 67108864.0)
      |           AS BIGINT) AS b
      |  FROM p0),
      |m1 AS (SELECT k, nm, seg, lon, lat, a AS a0, b AS b0,
      |         ((a | (a << 16)) & 281470681808895) AS a,
      |         ((b | (b << 16)) & 281470681808895) AS b FROM m0),
      |m2 AS (SELECT k, nm, seg, lon, lat, a0, b0,
      |         ((a | (a << 8)) & 71777214294589695) AS a,
      |         ((b | (b << 8)) & 71777214294589695) AS b FROM m1),
      |m3 AS (SELECT k, nm, seg, lon, lat, a0, b0,
      |         ((a | (a << 4)) & 1085102592571150095) AS a,
      |         ((b | (b << 4)) & 1085102592571150095) AS b FROM m2),
      |m4 AS (SELECT k, nm, seg, lon, lat, a0, b0,
      |         ((a | (a << 2)) & 3689348814741910323) AS a,
      |         ((b | (b << 2)) & 3689348814741910323) AS b FROM m3),
      |m5 AS (SELECT k, nm, seg, lon, lat, a0, b0,
      |         ((a | (a << 1)) & 6148914691236517205) AS a,
      |         ((b | (b << 1)) & 6148914691236517205) AS b FROM m4),
      |geo0 AS (SELECT k, nm, seg, lon, lat, a0, b0,
      |                (a | (b << 1)) AS bits FROM m5),
      |pts AS (
      |  SELECT seg, nm, bits, a0, b0 FROM (
      |    SELECT seg, nm, bits, a0, b0,
      |           row_number() OVER (PARTITION BY seg, nm
      |                              ORDER BY k DESC) AS rn
      |    FROM geo0) WHERE rn = 1),
      |ctr AS (
      |  SELECT seg, nm, bits,
      |         ((-85.05112878 + (CAST(a0 AS DOUBLE) / 67108864.0)
      |             * (85.05112878 - (-85.05112878)))
      |          + (-85.05112878 + (CAST(a0 + 1 AS DOUBLE)
      |              / 67108864.0)
      |             * (85.05112878 - (-85.05112878)))) / 2 AS mlat,
      |         ((-180.0 + (CAST(b0 AS DOUBLE) / 67108864.0)
      |             * (180.0 - (-180.0)))
      |          + (-180.0 + (CAST(b0 + 1 AS DOUBLE) / 67108864.0)
      |             * (180.0 - (-180.0)))) / 2 AS mlon
      |  FROM pts),
      |stores AS (
      |  SELECT k AS k0, seg, lon AS clon, lat AS clat,
      |         CAST(k % 100 AS INT) AS tag
      |  FROM p0 WHERE k % 100 = 0 OR k % 100 = 50),
      |selr AS (
      |  SELECT s.k0, p.nm, p.bits
      |  FROM stores s JOIN ctr p ON p.seg = s.seg
      |  WHERE s.tag = 0 AND
      |    2.0 * 6372797.560856 * asin(sqrt(
      |      sin((p.mlat * (pi() / 180.0)
      |           - s.clat * (pi() / 180.0)) / 2)
      |      * sin((p.mlat * (pi() / 180.0)
      |             - s.clat * (pi() / 180.0)) / 2)
      |      + cos(s.clat * (pi() / 180.0))
      |        * cos(p.mlat * (pi() / 180.0))
      |        * sin((p.mlon * (pi() / 180.0)
      |               - s.clon * (pi() / 180.0)) / 2)
      |        * sin((p.mlon * (pi() / 180.0)
      |               - s.clon * (pi() / 180.0)) / 2)))
      |    <= 500000.0),
      |boxr AS (
      |  SELECT s.k0, p.nm, p.bits
      |  FROM stores s JOIN ctr p ON p.seg = s.seg
      |  WHERE s.tag = 50 AND
      |    2.0 * 6372797.560856 * asin(sqrt(
      |      cos(p.mlat * (pi() / 180.0))
      |      * cos(p.mlat * (pi() / 180.0))
      |      * sin((s.clon * (pi() / 180.0)
      |             - p.mlon * (pi() / 180.0)) / 2)
      |      * sin((s.clon * (pi() / 180.0)
      |             - p.mlon * (pi() / 180.0)) / 2)))
      |    <= 350000.0
      |    AND
      |    2.0 * 6372797.560856 * asin(abs(
      |      sin((s.clat * (pi() / 180.0)
      |           - p.mlat * (pi() / 180.0)) / 2)))
      |    <= 350000.0)
      |SELECT 'g9:' || seg AS key,
      |       '{"t":"zset","e":[' ||
      |         string_agg('["' || nm || '","' || bits || '"]', ','
      |           ORDER BY nm) || ']}' AS payload
      |FROM pts GROUP BY seg
      |UNION ALL
      |SELECT 'sel:' || k0,
      |       '{"t":"zset","e":[' ||
      |         string_agg('["' || nm || '","' || bits || '"]', ','
      |           ORDER BY nm) || ']}'
      |FROM selr GROUP BY k0
      |UNION ALL
      |SELECT 'box:' || k0,
      |       '{"t":"zset","e":[' ||
      |         string_agg('["' || nm || '","' || bits || '"]', ','
      |           ORDER BY nm) || ']}'
      |FROM boxr GROUP BY k0""".stripMargin

  // ---------------------------------------------------------------- q160

  /** Deterministic SORT…STORE fixture derived from `orders`, driven
    * through the PRODUCTION command path (round-17): per order an
    * RPUSH of floor(totalprice) onto `srt:<ckey>`, then — at ranks
    * above every push — three sorts per customer: plain numeric
    * (`ssort:`), DESC LIMIT 0 3 (`stop3:`), and ALPHA (`salpha:`).
    * Duplicate prices tie as IDENTICAL strings (harmless — same
    * content either side of the server's unstable qsort); the
    * oracle re-sorts with CAST(AS DOUBLE) / binary collation.
    */
  def redisSortStore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.fanout(spark, Tables.orders(spark, dir).select(
      col("o_orderkey").cast("long").as("okey"),
      col("o_custkey").cast("long").as("ckey"),
      floor(col("o_totalprice")).cast("long").as("price")))
      .as[(Long, Long, Long)]
    val pushes = o.flatMap { case (okey, ckey, price) =>
      RedisStateOps.commandOps(
        Seq("RPUSH", s"srt:$ckey", price.toString), 0L)._2
        .zipWithIndex.map { case (op2, j) =>
          ("psync.000001.log",
            RedisStateOps.CommandRankBase + okey * 2 + j, op2.key,
            0L, op2.op, op2.vtype, op2.field, op2.value, op2.ex)
        }
    }
    val sorts = o.map(_._2).distinct().flatMap { ckey =>
      val cmds = Seq(
        Seq("SORT", s"srt:$ckey", "STORE", s"ssort:$ckey"),
        Seq("SORT", s"srt:$ckey", "DESC", "LIMIT", "0", "3",
          "STORE", s"stop3:$ckey"),
        Seq("SORT", s"srt:$ckey", "ALPHA", "STORE", s"salpha:$ckey"))
      cmds.zipWithIndex.flatMap { case (argv, i) =>
        RedisStateOps.commandOps(argv, 0L)._2.zipWithIndex.map {
          case (op2, j) =>
            ("psync.000001.log", (1L << 41) + ckey * 8 + i * 2 + j,
              op2.key, 0L, op2.op, op2.vtype, op2.field, op2.value,
              op2.ex)
        }
      }
    }
    val rows = pushes.union(sorts)
      .toDF("sseg", "rank", "key", "db", "op", "value_type", "field",
        "value", "expire_ms")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the command-built fixture is expensive per row (argv parse +
    // commandOps on the executors); persist it so the merge's
    // bookkeeping pass and packed groupBy read it once — pinned to
    // the merger lifecycle, drained at the next merge/release
    val merged = RedisStateOps.Merger.merge(spark, None, rows, 0L)
    RedisStateOps.Merger.pin(rows)
    RedisStateOps.Merger.flatView.get(merged)
      .select(substring_index(col("key"), "\u0000", -1).as("key"),
        col("payload"))
  }

  private val redisSortStoreSql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS okey, o_custkey AS ckey,
      |         CAST(FLOOR(o_totalprice) AS BIGINT) AS price
      |  FROM orders),
      |lp AS (SELECT ckey, okey, CAST(price AS VARCHAR) AS v
      |       FROM o),
      |src AS (
      |  SELECT ckey, v,
      |         row_number() OVER (PARTITION BY ckey ORDER BY okey)
      |           - 1 AS rn
      |  FROM lp),
      |num AS (
      |  SELECT ckey, v,
      |         row_number() OVER (PARTITION BY ckey
      |           ORDER BY CAST(v AS DOUBLE), v) - 1 AS rn
      |  FROM lp),
      |top3 AS (
      |  SELECT ckey, v, rn FROM (
      |    SELECT ckey, v,
      |           row_number() OVER (PARTITION BY ckey
      |             ORDER BY CAST(v AS DOUBLE) DESC, v) - 1 AS rn
      |    FROM lp) WHERE rn < 3),
      |alp AS (
      |  SELECT ckey, v,
      |         row_number() OVER (PARTITION BY ckey ORDER BY v)
      |           - 1 AS rn
      |  FROM lp)
      |SELECT 'srt:' || ckey AS key,
      |       '{"t":"list","e":[' ||
      |         string_agg('["' || lpad(CAST(rn AS VARCHAR), 6, '0')
      |             || '","' || v || '"]', ',' ORDER BY rn) ||
      |         ']}' AS payload
      |FROM src GROUP BY ckey
      |UNION ALL
      |SELECT 'ssort:' || ckey,
      |       '{"t":"list","e":[' ||
      |         string_agg('["' || lpad(CAST(rn AS VARCHAR), 6, '0')
      |             || '","' || v || '"]', ',' ORDER BY rn) || ']}'
      |FROM num GROUP BY ckey
      |UNION ALL
      |SELECT 'stop3:' || ckey,
      |       '{"t":"list","e":[' ||
      |         string_agg('["' || lpad(CAST(rn AS VARCHAR), 6, '0')
      |             || '","' || v || '"]', ',' ORDER BY rn) || ']}'
      |FROM top3 GROUP BY ckey
      |UNION ALL
      |SELECT 'salpha:' || ckey,
      |       '{"t":"list","e":[' ||
      |         string_agg('["' || lpad(CAST(rn AS VARCHAR), 6, '0')
      |             || '","' || v || '"]', ',' ORDER BY rn) || ']}'
      |FROM alp GROUP BY ckey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q153_redis_state_fold" -> (redisStateFold _),
    "q154_mongo_state_face" -> (mongoStateFace _),
    "q155_redis_stream_fold" -> (redisStreamFold _),
    "q156_redis_move_fold" -> (redisMoveFold _),
    "q157_redis_restore_geo" -> (redisRestoreGeo _),
    "q158_redis_bit_fold" -> (redisBitFold _),
    "q159_redis_geo_store" -> (redisGeoStore _),
    "q160_redis_sort_store" -> (redisSortStore _))

  val oracles: Map[String, String] = Map(
    "q153_redis_state_fold" -> redisStateFoldSql,
    "q154_mongo_state_face" -> mongoStateFaceSql,
    "q155_redis_stream_fold" -> redisStreamFoldSql,
    "q156_redis_move_fold" -> redisMoveFoldSql,
    "q157_redis_restore_geo" -> redisRestoreGeoSql,
    "q158_redis_bit_fold" -> redisBitFoldSql,
    "q159_redis_geo_store" -> redisGeoStoreSql,
    "q160_redis_sort_store" -> redisSortStoreSql)
}
