package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ExplainEstimate

class ExplainEstimateSpec extends AnyFunSuite {

  test("sample limit: ceil of rate percent, floored at 1, gated") {
    import ExplainEstimate.sampleLimit
    assert(sampleLimit(Some(10), 1000L) == Some(100L))
    assert(sampleLimit(Some(10), 1001L) == Some(101L)) // ceil
    assert(sampleLimit(Some(1), 5L) == Some(1L))       // floor 1
    assert(sampleLimit(Some(1), 99L) == Some(1L))
    assert(sampleLimit(Some(99), 100L) == Some(99L))
    assert(sampleLimit(None, 1000L) == None)
    assert(sampleLimit(Some(0), 1000L) == None)   // out of 1..99
    assert(sampleLimit(Some(100), 1000L) == None) // 100% = no sampling
    assert(sampleLimit(Some(10), 0L) == None)     // empty stats
  }

  test("mysql estimate: rows_produced_per_join preferred, " +
      "filtered percent fallback, quoted numbers accepted") {
    import ExplainEstimate.mysqlEstimate
    val produced =
      """{"query_block": {"select_id": 1, "table": {
        |  "table_name": "orders",
        |  "rows_examined_per_scan": 15000,
        |  "rows_produced_per_join": 1500,
        |  "filtered": "10.00"}}}""".stripMargin
    assert(mysqlEstimate(produced) == Some(1500L))
    // zero produced -> fall back to examined × filtered
    val fallback =
      """{"query_block": {"table": {
        |  "rows_examined_per_scan": "15000",
        |  "rows_produced_per_join": 0,
        |  "filtered": "10.00"}}}""".stripMargin
    assert(mysqlEstimate(fallback) == Some(1500L))
    // missing filtered defaults to 100%
    val nofilter =
      """{"query_block": {"table": {
        |  "rows_examined_per_scan": 42}}}""".stripMargin
    assert(mysqlEstimate(nofilter) == Some(42L))
    // no table node (e.g. impossible WHERE) -> None
    assert(mysqlEstimate("""{"query_block": {"message": "no row"}}""")
      == None)
    assert(mysqlEstimate("not json") == None)
  }

  test("pg estimate reads Plan Rows from the json array form") {
    val plan =
      """[{"Plan": {"Node Type": "Seq Scan", "Plan Rows": 733,
        |  "Plan Width": 4}}]""".stripMargin
    assert(ExplainEstimate.pgEstimate(plan) == Some(733L))
    assert(ExplainEstimate.pgEstimate("[]") == None)
  }

  test("statement synthesis carries the filter verbatim") {
    assert(ExplainEstimate.mysqlExplainSql("s", "t", "a > 5") ==
      "EXPLAIN FORMAT=JSON SELECT 1 FROM `s`.`t` WHERE a > 5")
    assert(ExplainEstimate.pgExplainSql("s", "t", "a > 5") ==
      """EXPLAIN (FORMAT JSON) SELECT 1 FROM "s"."t" WHERE a > 5""")
    assert(ExplainEstimate.mysqlCountSql.contains("TABLE_ROWS"))
    assert(ExplainEstimate.pgCountSql.contains("reltuples"))
  }
}
