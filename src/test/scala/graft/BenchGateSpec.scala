package graft

/** The bench harness's gates: a loaded box must refuse to record
  * medians unless explicitly forced (the r15 artifact run at load1
  * 2.775 cost a round of comparability), a selector picks exactly the
  * queries it names, and a failing query fails the run.
  */
class BenchGateSpec extends SparkSuite {

  test("gate refuses a loaded box, admits a quiet one, and always " +
      "admits --force and load-unsupported platforms") {
    // quiet box: proceed
    assert(Bench.loadGateOk(0.31, Bench.LoadGateDefault, force = false))
    // exactly at the gate: still proceed (inclusive threshold)
    assert(Bench.loadGateOk(1.0, 1.0, force = false))
    // loaded box: refuse — this is the r15 artifact-run shape
    assert(!Bench.loadGateOk(2.775, Bench.LoadGateDefault,
      force = false))
    // --force overrides (deliberate loaded runs stay possible; the
    // load1_start stamp still records the conditions)
    assert(Bench.loadGateOk(2.775, Bench.LoadGateDefault,
      force = true))
    // getSystemLoadAverage returns a negative value on platforms
    // without load reporting — never refuse there
    assert(Bench.loadGateOk(-1.0, Bench.LoadGateDefault,
      force = false))
    // a raised gate admits what the default refuses
    assert(Bench.loadGateOk(2.775, 4.0, force = false))
  }

  test("a selector picks exactly the queries it names") {
    val names = Seq("q15_a", "q150_b", "q151_c", "q159_d", "q16_e")
    assert(Bench.selected(Seq("q15"), names) == Seq("q15_a"))
    assert(Bench.selected(Seq("q150_b"), names) == Seq("q150_b"))
    assert(Bench.selected(Seq("q16", "q15", "q16_e"), names) ==
      Seq("q16_e", "q15_a"))
    intercept[IllegalArgumentException](Bench.selected(Seq("q17"), names))
    assert(Bench.selected(SparkEntry.queries.keys.toSeq,
      SparkEntry.queries.keys.toSeq).size == SparkEntry.queries.size)
  }

  test("an sf dir whose basename starts with q is not a selector") {
    assert(Bench.parseArgs(Seq("/data/q15_sf", "q15", "--force"),
      "default") == ("/data/q15_sf", Seq("q15")))
    assert(Bench.parseArgs(Seq("q64"), "default") == ("default", Seq("q64")))
    assert(Bench.parseArgs(Nil, "default") == ("default", Nil))
    intercept[IllegalArgumentException](
      Bench.parseArgs(Seq("/a", "/b"), "default"))
  }

  test("a throwing query fails the query loop with its name") {
    val ok: (String, Bench.Query) = "q01_ok" -> ((s, _) => s.range(100).toDF())
    val boom: (String, Bench.Query) = "q02_boom" ->
      ((s, _) => s.range(100).selectExpr("raise_error('boom') AS x"))
    val Seq((_, t)) = Bench.timeQueries(spark, sf, Seq(ok))
    assert(t.secs.size == 3 && t.secs == t.secs.sorted)
    assert(t.stages.nonEmpty) // the warm run's stages reach the record
    val e = intercept[RuntimeException](
      Bench.timeQueries(spark, sf, Seq(ok, boom)))
    assert(e.getMessage.contains("q02_boom"), e.getMessage)
    assert(e.getMessage.contains("boom"))
  }
}
