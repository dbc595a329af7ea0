package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.operators.Skew

/** Tests that assert the SHAPE of plans/results that matter at 100 TB:
  * bucketed co-located joins (no exchange), salted aggregation
  * equivalence, and partition-count discipline.
  */
class ScaleShapeSpec extends SparkSuite {
  import spark.implicits._

  test("bucketed tables co-locate the join: no shuffle exchange") {
    // tables land in ./spark-warehouse (gitignored); dropped in finally
    Tables.orders(spark, sf).write
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("orders_b")
    Tables.customer(spark, sf).write
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("customer_b")
    // disable broadcast so the join would otherwise shuffle both sides
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b").join(spark.table("customer_b"),
        col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == Tables.orders(spark, sf).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  /** Exchange count EXCLUDING the scan fan-out: Tables.fanout adds
    * one `Exchange RoundRobinPartitioning(n), REPARTITION_BY_NUM`
    * directly over an unsplittable single-file local fixture scan
    * (and nothing else in these plans round-robins). Key shuffles —
    * hash/range/single-partition exchanges — still count, so the
    * "payload bytes never shuffle by key" claims keep their teeth.
    */
  private def keyExchanges(plan: String): Int =
    // negative lookbehind: a ReusedExchange re-reads an existing
    // shuffle's output — counting it would double-charge the one
    // exchange it reuses (and the bare substring also matched it).
    // It also leaves out BroadcastExchange on purpose: a broadcast
    // ships a join's small side, not a key shuffle of the payload;
    // claims that cover broadcasts count them with broadcastExchanges
    "(?<![A-Za-z])Exchange ".r.findAllMatchIn(plan).size -
      ("(?<![A-Za-z])Exchange RoundRobinPartitioning\\(\\d+\\), " +
        "REPARTITION_BY_NUM").r.findAllMatchIn(plan).size

  /** BroadcastExchange nodes in the plan text. */
  private def broadcastExchanges(plan: String): Int =
    "(?<![A-Za-z])BroadcastExchange ".r.findAllMatchIn(plan).size

  test("salted aggregation equals direct aggregation on a hot key") {
    // hot key: 90% of rows share key 1
    val df = spark.range(10000)
      .select(when(col("id") % 10 === 0, col("id") % 7 + 2)
        .otherwise(1L).as("k"),
        (col("id") % 100).cast(DoubleType).as("v"))
    val direct = df.groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(DecimalType(18, 2))).as("v_sum"))
      .as[(Long, Long, java.math.BigDecimal)].collect()
      .map(r => (r._1, (r._2, r._3))).toMap
    val salted = Skew.saltedAgg(df, col("k"), saltBuckets = 16,
      Map("v_sum" -> col("v").cast(DecimalType(18, 2))))
      .as[(Long, Long, java.math.BigDecimal)].collect()
      .map(r => (r._1, (r._2, r._3))).toMap
    assert(salted.keySet == direct.keySet)
    salted.foreach { case (k, (n, s)) =>
      assert(direct(k)._1 == n)
      assert(direct(k)._2.compareTo(s) == 0)
    }
  }

  test("small sides broadcast: tfidf dfreq, decontamination benchmark, dims") {
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    assert(planOf(graft.operators.CurationOps.tfidfTopTerms(spark, sf))
      .contains("BroadcastHashJoin"))
    assert(planOf(graft.operators.CurationOps.decontaminate(spark, sf))
      .contains("BroadcastHashJoin"))
    val rev = planOf(graft.operators.Relational.regionRevenue(spark, sf))
    // all three dimension joins must be broadcast, fact side never shuffles
    assert("BroadcastHashJoin".r.findAllIn(rev).size == 3, rev)
  }

  test("curation per-row stages push filters into the parquet scan") {
    val q = graft.operators.TextOps.qualityFilter(spark, sf)
    val scan = q.queryExecution.executedPlan.toString
    // column pruning: text is read, but binary/unused cols are not
    assert(scan.contains("ReadSchema"))
    val pushed = q.queryExecution.sparkPlan.collectLeaves().mkString
    assert(pushed.contains("text"))
  }

  test("round-2 ops: map-only stages have zero exchanges") {
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    // doc diff, $set/$unset apply, avro+script envelopes: per-row only
    assert(!planOf(graft.operators.MongoOps.docDiff(spark, sf))
      .contains("Exchange"))
    assert(!planOf(graft.operators.MongoOps.updateApply(spark, sf))
      .contains("Exchange"))
    // the avro codec fans out the unsplittable single-file scan
    // (Tables.fanout — a no-op on many-file inputs); the load-bearing
    // claim stays: no KEY shuffle anywhere in the per-row plan
    val avro = planOf(graft.operators.Relational2.avroRoundTrip(spark, sf))
    assert(keyExchanges(avro) == 0, avro)
    assert(broadcastExchanges(avro) == 0, avro)
    assert(!planOf(graft.operators.Cdc.scriptTransform(spark, sf))
      .contains("Exchange"))
  }

  test("mongo merger shuffles ids only, one exchange per branch") {
    val plan = graft.operators.MongoOps.mongoCompact(spark, sf)
      .queryExecution.executedPlan.toString
    // no document bodies in any exchange: only tb/id/row_type/seq flow
    assert(!plan.contains("text#") && !plan.contains("doc#"), plan)
    // partial aggregation before the shuffle (map-side combine)
    assert(plan.contains("partial_max"), plan)
  }

  test("q25 id paging numbers rows without a single-partition window") {
    val df = graft.operators.MongoOps.idPages(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the old shape was row_number() over an empty partition spec — a
    // global sort onto ONE task; the two-pass shape has no Window at
    // all. The numbering stage upstream range-repartitions and is
    // pinned behind an eager localCheckpoint, so the downstream plan
    // starts from the checkpointed RDD (lineage cut = the sampled
    // range boundaries can never be recomputed differently).
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("Scan ExistingRDD"), plan)
    // and the numbering still matches the serial oracle
    val pages = df.orderBy("page").collect()
    assert(pages.nonEmpty)
    val total = pages.map(_.getAs[Long]("n_docs")).sum
    assert(pages.init.forall(_.getAs[Long]("n_docs") == 64L))
    assert(total == Tables.documents(spark, sf).count())
  }

  test("shuffle partition count follows session config, not the default") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val parts = Tables.orders(spark, sf).groupBy("o_custkey").count()
      .rdd.getNumPartitions
    assert(parts <= 4) // AQE may coalesce below the configured count
  }

  test("round-7 ops: no cartesian anywhere, top-k aggregates partially") {
    // q81/q82: census + join-back — hash joins only, no pair explosion
    for (q <- Seq(graft.operators.CorpusOps.interdupFraction _,
        graft.operators.CorpusOps.tokenRarity _)) {
      val plan = q(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoop"), plan)
    }
    // q85: the binned interval join stays an equi-join — the naive
    // range-predicate plan would be a BroadcastNestedLoopJoin
    val p85 = graft.operators.ScaleOps.sessionConcurrency(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p85.contains("BroadcastNestedLoop") &&
      !p85.contains("CartesianProduct"), p85)
    // q86: the top-k aggregate runs a partial (map-side) phase, so only
    // k-slot buffers reach the exchange — and no Window/Sort appears
    val p86 = graft.operators.ScaleOps.topOrdersPerPriority(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p86.contains("partial_graft_top_k_by"), p86)
    assert(!p86.contains("Window"), p86)
  }

  test("hygiene ops: quantization is map-only, election has no window, " +
      "containment never goes cartesian") {
    // q91: pure projection — zero exchanges in the whole plan
    val p91 = graft.operators.HygieneOps.quantizeInt8(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p91.contains("Exchange"), p91)
    // q89: canonical election via max(struct) aggregation, not a
    // per-component window sort
    val p89 = graft.operators.HygieneOps.dupCanonical(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p89.contains("Window"), p89)
    // q88: candidate-restricted shingle joins stay equi-joins
    val p88 = graft.operators.HygieneOps.containmentPairs(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p88.contains("CartesianProduct") &&
      !p88.contains("BroadcastNestedLoop"), p88)
    // ...and the corpus tokenize+explode runs ONCE: the exploded
    // shingle frame is pinned (localCheckpoint) before feeding the
    // side-a join, the side-b join and the size aggregate, so the
    // final plan contains no Generate stage at all (it ran when the
    // checkpoint materialized, exactly once)
    assert(!p88.contains("Generate"), p88)
  }

  test("semantic dedup pairs join equi-keyed on cell; adc LUT broadcasts") {
    // q97: the within-cell pair scan must be an equi-join on cell —
    // a cartesian/nested-loop here is the O(n²) scan the operator
    // exists to avoid (the only BNLJ allowed is the tiny seed cross)
    val p97 = graft.operators.VectorOps.semanticDedup(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p97.contains("SortMergeJoin") || p97.contains("ShuffledHashJoin"),
      p97)
    assert(!p97.contains("CartesianProduct"), p97)
    // q98: the per-(query,sub,cell) LUT joins the codes broadcast —
    // the corpus-sized side must never build a hash relation
    val p98 = graft.operators.VectorOps.pqAdcSearch(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p98.contains("BroadcastHashJoin"), p98)
    assert(!p98.contains("CartesianProduct"), p98)
    // r9: q98 joined q101 in being window-free — code assignment via
    // min(struct), the per-query top-5 via the bounded TopKBy
    // aggregate (a per-query window partition is corpus-sized at
    // scale; the aggregate keeps 5 rows per group map-side)
    assert(!p98.contains("Window"), p98)
    assert(p98.contains("partial_graft_top_k_by"), p98)
    // q94: the census join is an equi-join keyed on the passage, and
    // the per-doc chunking window is partitioned (never single-slot)
    val p94 = graft.operators.CurationOps.passageDedup(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p94.contains("CartesianProduct") &&
      !p94.contains("BroadcastNestedLoop"), p94)
    // q101: window-free end to end — code assignment is a min(struct)
    // argmax, probe and final rank are bounded top-k aggregates (r9)
    val p101 = graft.operators.VectorOps.ivfAdcSearch(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p101.contains("Window"), p101)
    assert(p101.contains("partial_graft_top_k_by"), p101)
  }

  test("report and quantile rollups stay equi-joined and partitioned") {
    // q102: three signal joins on doc_id — no cartesian anywhere
    val p102 = graft.operators.CurationOps.corpusReport(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p102.contains("CartesianProduct") &&
      !p102.contains("BroadcastNestedLoop"), p102)
    // q104: the cumulative window is partitioned by event_type (the
    // unpartitioned-window warning is the single-slot sort this
    // operator exists to avoid)
    val p104 = graft.operators.AdvancedOps.quantileHist(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p104.contains("Window"), p104)
    assert(p104.contains("event_type"), p104)
    assert(!p104.contains("CartesianProduct"), p104)
  }

  test("dup spans window partitions by doc_id; bpe pair count is " +
      "explode + one aggregation") {
    // q105: the gaps-and-islands windows must carry a doc_id
    // partitionSpec — a global (empty-partition) window would funnel
    // the corpus through one task
    val p105 = graft.operators.HygieneOps.dupSpans(spark, sf)
      .queryExecution.executedPlan.toString
    // every windowspecdefinition carries the doc_id partition key —
    // no global window anywhere in the plan
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p105).map(_.group(1)).toSeq
    assert(specs.nonEmpty, p105)
    assert(specs.forall(_.contains("doc_id")), p105)
    assert(!p105.contains("CartesianProduct"))
    // q106: map-side explode feeding one aggregation — no window, no
    // join, no cartesian in the whole pair-count plan
    val plan106 = graft.operators.BpeLearn.bpePairCounts(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan106.contains("Window") &&
      !plan106.contains("CartesianProduct") &&
      !plan106.contains("Join"), plan106)
  }

  test("fuzzy-dedup self-joins consume the pinned frame: corpus " +
      "tokenize+hash appears in no final plan") {
    for (q <- Seq(graft.operators.FuzzyDedup.simhashBuckets _,
        graft.operators.FuzzyDedup.ngramJaccardPairs _,
        graft.operators.FuzzyDedup.minhashLsh _)) {
      val p = q(spark, sf).queryExecution.executedPlan.toString
      // the explode/hash stage ran once when the checkpoint
      // materialized — a Generate in the final plan means a join side
      // is re-running the corpus scan
      assert(!p.contains("Generate"), p)
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("q109 dsir: B-bounded censuses broadcast back, windows stay " +
      "per-doc, no cartesian") {
    val p = graft.operators.CorpusOps.dsirWeight(spark, sf)
      .queryExecution.executedPlan.toString
    // the raw/target bucket tables and the totals row join back as
    // broadcasts — a sort-merge join would mean a corpus-sized shuffle
    // of the model side
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only window is the per-doc bigram pairing
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.forall(_.contains("doc_id")), p)
  }

  test("q115 shard shuffle: window-free rank, offsets join back as a " +
      "broadcast") {
    val p = graft.operators.LoaderOps.shardShuffle(spark, sf)
      .queryExecution.executedPlan.toString
    // the per-shard position comes from the grouped two-pass rank, so
    // a Window node here would mean a shard-sized sort task sneaked in
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q118 winnowing: fingerprint selection is map-side — zero " +
      "exchanges, no window, no join (native deque expression)") {
    val p = graft.operators.HygieneOps.winnow(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    // the monotonic-deque expression selects and dedups per document,
    // so nothing KEY-shuffles at all — scan → (fanout) → project →
    // explode; the only admissible exchange is the round-robin scan
    // fan-out over the unsplittable local fixture (no-op at scale)
    assert(keyExchanges(p) == 0, p)
    assert(broadcastExchanges(p) == 0, p)
  }

  test("q123 c4 rules is map-only; q124 boilerplate verdict joins " +
      "broadcast, line text never shuffles") {
    val p123 = graft.operators.TextOps.c4Rules(spark, sf)
      .queryExecution.executedPlan.toString
    // map-only modulo the scan fan-out (see q118 note)
    assert(keyExchanges(p123) == 0, p123)
    assert(broadcastExchanges(p123) == 0, p123)
    assert(!p123.contains("Join"), p123)
    val p124 = graft.operators.CurationOps.lineBoilerplate(spark, sf)
      .queryExecution.executedPlan.toString
    // the 1-row total and the bounded boilerplate set broadcast
    assert(p124.contains("BroadcastHashJoin") ||
      p124.contains("BroadcastNestedLoopJoin"), p124)
    assert(!p124.contains("CartesianProduct"), p124)
    assert(!p124.contains("SortMergeJoin"), p124)
    // shuffles carry the 64-bit lfp / doc_id only — the page/line
    // strings are projected away before every exchange
    assert(!p124.contains("Exchange hashpartitioning(l#"), p124)
  }

  test("q127 outliers: centroid census broadcasts back; the only " +
      "windows run over the bounded (label, bin) histogram") {
    val df = graft.operators.VectorOps.embeddingOutliers(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // windows exist only in the cutoff scan over the histogram census
    // (bounded by bin resolution); the corpus-side distance computation
    // must not sort vectors
    val windowPartitions = "Window.*label".r.findAllMatchIn(p).size
    val anyWindow = "Window".r.findAllMatchIn(p).size
    assert(anyWindow == 0 || windowPartitions > 0, p)
  }

  test("q128 hard negatives: seed assignment broadcasts, pair join is " +
      "equi-keyed on cell — never corpus×corpus") {
    val df = graft.operators.VectorOps.hardNegatives(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("cell"), p)
  }

  test("q131 nfc audit is map-only and codegen; q132 paragraph scrub " +
      "shuffles hashes, never paragraph text") {
    val p131 = graft.operators.TextOps.nfcAudit(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p131.contains("Exchange"), p131)
    assert(!p131.contains("Join"), p131)
    // the native expression stays inside whole-stage codegen (the
    // executedPlan rendering marks codegen stages with "*(n)")
    assert(p131.contains("*(1)"), p131)
    val p132 = graft.operators.CurationOps.paraScrub(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p132.contains("CartesianProduct"), p132)
    assert(!p132.contains("SortMergeJoin"), p132)
    // every exchange keys on doc_id or the 64-bit pfp — the paragraph
    // array stays with its row and is never hash-partitioned
    assert(!p132.contains("Exchange hashpartitioning(paras#"), p132)
    assert(!p132.contains("Exchange hashpartitioning(page#"), p132)
  }

  test("q139 buckets window only the bounded census; q140 matrix " +
      "never shuffles text; q141 is aggregate-only over candidates") {
    val p139 = graft.operators.LoaderOps.lengthBuckets(spark, sf)
      .queryExecution.executedPlan.toString
    // the one window runs over the (length → count) census, after the
    // hash aggregate — the corpus itself is never sorted
    assert(!p139.contains("CartesianProduct"), p139)
    assert("Exchange hashpartitioning\\(len#".r
      .findAllMatchIn(p139).nonEmpty || p139.contains("Exchange"), p139)
    val p140 = graft.operators.CurationOps.crossSourceDups(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p140.contains("CartesianProduct"), p140)
    assert(!p140.contains("Exchange hashpartitioning(text#"), p140)
    val p141 = graft.operators.FuzzyDedup.lshPrecision(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p141.contains("CartesianProduct"), p141)
    assert(!p141.contains("Window"), p141)
  }

  test("q149 star edges: band-key shuffles carry no text, bucket " +
      "min is a hash aggregate + skew-splittable join — NO window, " +
      "no sort, no single-task stage") {
    val p = graft.operators.FuzzyDedup.lshStarEdges(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // the only data that shuffles is (doc_id, band_key) — text stays
    // in the mapper that hashed it
    assert(!p.contains("Exchange hashpartitioning(text#"), p)
    // the 100 TB hazard: min().over(partitionBy(band_key)) buffers a
    // degenerate mega-bucket in ONE task and AQE cannot split windows
    // — the bucket min must be a groupBy (map-side partial min) joined
    // back (AQE skew-splits joins)
    assert(!p.contains("Window"), p)
    // and the join back must not pay |bucket| log |bucket| in sorts
    assert(!p.contains("SortExec"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q133 novelty and q134 contamination shuffle 64-bit grams " +
      "only; the benchmark side of q134 broadcasts") {
    val p133 = graft.operators.CurationOps.ngramNovelty(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p133.contains("CartesianProduct"), p133)
    assert(!p133.contains("Exchange hashpartitioning(text#"), p133)
    val p134 = graft.operators.CurationOps.contamVerdict(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p134.contains("BroadcastHashJoin"), p134)
    assert(!p134.contains("CartesianProduct"), p134)
    assert(!p134.contains("Exchange hashpartitioning(text#"), p134)
  }

  test("q107 bigram surprisal: transitions build map-only (no Window " +
      "— the round-12 sf30 fix), and the pinned transition stream " +
      "keeps tokenization out of the final plan") {
    val p = graft.operators.CorpusOps.bigramSurprisal(spark, sf)
      .queryExecution.executedPlan.toString
    // a Window node would mean the full-corpus token sort is back
    // (the shape the sf10→sf30 sweep measured curving at 5.5×/3×)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the transition stream is persisted (DISK_ONLY), so the census
    // joins read the in-memory-relation scan, not a re-tokenize
    assert(p.contains("InMemoryTableScan") ||
      p.contains("TableCacheQueryStage"), p)
  }
}
