package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * At cluster scale each of these would be a partitioned table (or a JDBC
  * chunked scan — see [[graft.sources.SnapshotChunker]]); here they are the
  * deterministic parquet fixtures. Parquet scans get column pruning +
  * predicate pushdown from Catalyst for free, so every query below should
  * show `PushedFilters`/`ReadSchema` restricted to what it uses.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts is parquet TIMESTAMP(NANOS); Spark 4 only reads it with
    // the legacy long mapping (see `events` below). Harmless elsewhere.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // every query path flows through here — make the engine's native
    // expressions available in this session
    graft.functions.GraftFunctions.register(spark)
    // the schema comes from one footer read here on the driver, so the
    // read plans no inference job; a missing or empty table has no
    // footer, and Spark's read then raises its own missing-path or
    // cannot-infer-schema error
    val path = s"$dir/$name.parquet"
    val reader = spark.read
    graft.infra.Footers.schema(spark, path).fold(reader)(reader.schema)
      .parquet(path)
  }

  /** Restore scan parallelism over a physically unsplittable local
    * fixture: each sf table is ONE parquet file with ONE row group,
    * so its scan is a single task no matter the core count — every
    * map-heavy consumer (text normalization, minhash, vector math,
    * the command-fixture builders) would run its whole map phase on
    * one core of local[32]. In production these inputs are many
    * files/chunks (the SnapshotChunker / WARC ingestion contracts):
    * there the scan already plans >= default-parallelism partitions,
    * the condition never fires, and NO payload shuffle is added —
    * the fan-out is scale-adaptive, not a local constant. (Same
    * reasoning as BinlogReplay.binlogRoundtrip's explicit
    * repartition and Bench's untimed snapshot re-shard.)
    */
  /** @param over when the fanned frame feeds a UNION of `over`
    *   branches, each branch maps every partition as its own task —
    *   divide the target so the union's total map tasks land at the
    *   core count instead of `over ×` it (the branches share ONE
    *   reused exchange: same frame, same canonical subtree).
    *
    * PRECONDITION: `df` must be a scan(+project/filter) frame. The
    * partition probe reads `df.rdd.getNumPartitions`, and under AQE
    * `.rdd` finalizes the physical plan — for a post-shuffle frame
    * that would EXECUTE the upstream stages at plan-build time.
    * Every in-tree call site is a bare table scan; keep it that way.
    */
  def fanout(spark: SparkSession, df: DataFrame,
      over: Int = 1): DataFrame = {
    val target =
      math.max(1, spark.sparkContext.defaultParallelism / over)
    if (df.rdd.getNumPartitions < target) df.repartition(target)
    else df
  }

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")

  /** events.ts normalized to session-local TimestampType regardless of how
    * the fixture generation wrote it. Two shapes exist in the wild:
    *   - TIMESTAMP(NANOS): Spark 4 refuses it natively; the legacy conf reads
    *     it as a raw epoch-nanos long, which we truncate to microseconds with
    *     integer division — identical to DuckDB's ns→µs truncation, so
    *     cross-engine ordering and filtering agree. (Double division would
    *     lose precision: epoch-nanos ≈ 1.7e18 > 2^53.)
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): reads as TIMESTAMP_NTZ;
    *     cast to TimestampType (sessions pin spark.sql.session.timeZone=UTC,
    *     so the cast is epoch-identity and matches DuckDB's naive epoch()).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
