package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-curation operators a training-data pipeline needs beyond
  * find-the-pairs dedup: term weighting, deterministic sampling/splitting,
  * and duplicate-GROUP resolution (candidate pairs → connected components
  * → one canonical doc per cluster).
  *
  * Scale shapes:
  *  - TF-IDF shuffles (doc_id, 64-bit term-ish keys), never text; the
  *    document-frequency side is a tiny broadcast.
  *  - sampling/splitting is per-row integer arithmetic — zero shuffle,
  *    fully pushdown-friendly, and *stable across reruns* (hash of the
  *    key, not `rand()`), which is what makes train/val/test splits
  *    reproducible at 100 TB.
  *  - connected components is the standard iterative min-label
  *    propagation (GraphX-style): O(diameter) rounds of a (node, label)
  *    shuffle, with `localCheckpoint` cutting lineage each round so plans
  *    don't grow exponentially. Near-dup clusters have tiny diameters
  *    (2-3 rounds); each round shuffles two longs per edge.
  */
object CurationOps {

  import TextOps.{normText, normTextSql, tokens, tokensSql}

  /** Deterministic per-row hash for sampling: Knuth multiplicative mod a
    * large prime — explicit integer arithmetic, identical in DuckDB.
    * The key is reduced mod P BEFORE the multiply: (P-1)·A ≈ 2.7e18
    * stays under 2^63, whereas key·A overflows Long for keys ≥ ~3.5e9 —
    * which under Spark 4 ANSI mode (and DuckDB BIGINT) throws at
    * runtime, breaking sampling for realistic 64-bit ids.
    */
  final val SampleA = 2654435761L
  final val SampleP = 1000000007L

  def sampleHash(key: Column): Column =
    pmod(pmod(key, lit(SampleP)) * lit(SampleA), lit(SampleP))

  def sampleHashSql(e: String): String = {
    val r = s"(($e % $SampleP + $SampleP) % $SampleP)"
    s"(($r * $SampleA) % $SampleP + $SampleP) % $SampleP"
  }

  // ---------------------------------------------------------------- q39
  /** Rarity-weighted top terms per document (TF-IDF shaped). The idf is
    * kept rational — score = (tf · N) / df as one IEEE double division —
    * instead of ln(N/df): libm log differs across engines at the ulp
    * level and would break hash-exact comparison; a single division is
    * correctly rounded everywhere.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val terms = docs.select(col("doc_id"),
      explode(tokens(normText(col("text")))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  val tfidfTopTermsSql: String = {
    val toks = tokensSql(normTextSql("text"))
    s"""WITH terms AS (
       |  SELECT doc_id, unnest($toks) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1,2),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, tf.term, tf, df,
       |    CAST(tf * n_docs AS DOUBLE) / df AS score
       |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
       |  FROM scored)
       |SELECT doc_id, term, tf, df, score, rank
       |FROM ranked WHERE rank <= 3""".stripMargin
  }

  // ---------------------------------------------------------------- q23
  /** Stratified deterministic sampling: per-event-type keep rates (in
    * permille), membership decided by a hash of the row key — stable
    * across reruns and engines, no `rand()`.
    */
  final val StrataPermille: Seq[(String, Int)] = Seq(
    "view" -> 20, "click" -> 100, "purchase" -> 1000,
    "signup" -> 50, "error" -> 0)

  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = StrataPermille.foldRight(lit(0)) { case ((t, r), acc) =>
      when(col("event_type") === t, lit(r)).otherwise(acc)
    }
    Tables.events(spark, dir)
      .withColumn("bucket", sampleHash(col("event_id")) % 1000)
      .filter(col("bucket") < rate)
      .select(col("event_id"), col("event_type"), col("user_id"),
        col("bucket"))
  }

  val stratifiedSampleSql: String = {
    val rate = StrataPermille.foldRight("0") { case ((t, r), acc) =>
      s"CASE WHEN event_type = '$t' THEN $r ELSE $acc END"
    }
    s"""SELECT event_id, event_type, user_id,
       |  ${sampleHashSql("event_id")} % 1000 AS bucket
       |FROM events
       |WHERE ${sampleHashSql("event_id")} % 1000 < $rate""".stripMargin
  }

  // ---------------------------------------------------------------- q47
  /** Reproducible train/val/test split (80/10/10 by key hash), reported
    * as per-(split, lang) counts + char volume. The assignment is a
    * per-row map; only the tiny report aggregates.
    */
  def datasetSplit(spark: SparkSession, dir: String): DataFrame = {
    val h = sampleHash(col("doc_id")) % 100
    val split = when(h < 80, "train").when(h < 90, "val").otherwise("test")
    Tables.documents(spark, dir)
      .withColumn("split", split)
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
  }

  val datasetSplitSql: String = {
    val h = s"${sampleHashSql("doc_id")} % 100"
    s"""SELECT CASE WHEN $h < 80 THEN 'train'
       |            WHEN $h < 90 THEN 'val' ELSE 'test' END AS split,
       |  lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM documents GROUP BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- q24
  /** Incremental-ingest dedup: a new batch is admitted only where its
    * content fingerprint is absent from the already-ingested corpus —
    * left-anti join on the 64-bit fingerprint, so the historical corpus
    * contributes one long per document (at 100 TB: a bucketed/bloom-
    * filtered fingerprint table, not the text). Here the corpus is the
    * doc_id % 7 == 0 slice and the batch is the rest.
    */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import TextOps.charFold
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), charFold(normText(col("text"))).as("fp"))
    val corpus = d.filter(col("doc_id") % 7 === 0).select(col("fp"))
    d.filter(col("doc_id") % 7 =!= 0)
      .join(corpus, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"))
  }

  val incrementalDedupSql: String = {
    val fp = TextOps.charFoldSql(normTextSql("text"))
    s"""WITH d AS (SELECT doc_id, $fp AS fp FROM documents),
       |corpus AS (SELECT fp FROM d WHERE doc_id % 7 = 0)
       |SELECT doc_id, fp FROM d
       |WHERE doc_id % 7 <> 0
       |  AND fp NOT IN (SELECT fp FROM corpus)""".stripMargin
  }

  // ---------------------------------------------------------------- q27
  /** Data-mix rebalancing: downsample every language to the rarest
    * language's share — the two-pass shape every mix-targeting pipeline
    * needs. Pass 1 aggregates per-group counts (tiny, broadcast back);
    * pass 2 keeps a row iff hash(key) scaled by its group's population
    * clears the global minimum: `(h % 10^6) · n_lang < min_n · 10^6` —
    * pure integer arithmetic, so membership is reproducible and
    * engine-exact (no floating keep-probability).
    */
  def langRebalance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val minN = counts.agg(min(col("n_lang")).as("min_n"))
    val kept = docs
      .join(broadcast(counts), "lang")
      .crossJoin(broadcast(minN))
      .filter((sampleHash(col("doc_id")) % 1000000L) * col("n_lang") <
        col("min_n") * 1000000L)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    counts.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_lang").as("n_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  val langRebalanceSql: String = {
    val h = sampleHashSql("doc_id")
    s"""WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
       |m AS (SELECT min(n_lang) AS min_n FROM c),
       |k AS (SELECT d.lang FROM documents d
       |  JOIN c USING (lang) CROSS JOIN m
       |  WHERE (($h) % 1000000) * n_lang < min_n * 1000000),
       |kept AS (SELECT lang, count(*) AS n_kept FROM k GROUP BY 1)
       |SELECT c.lang, n_lang AS n_total,
       |  coalesce(n_kept, 0) AS n_kept
       |FROM c LEFT JOIN kept USING (lang)""".stripMargin
  }

  // ---------------------------------------------------------------- q28
  /** Benchmark decontamination: flag training documents sharing any
    * word-5-gram with a (planted) held-out benchmark set — the overlap
    * check run before every serious training job. The benchmark's
    * distinct shingle hashes are a small broadcast; the corpus explodes
    * to (doc, 64-bit hash) and semi-joins it, so contamination detection
    * at 100 TB shuffles nothing and streams the corpus once.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val hashes = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(FuzzyDedup.shingleHashes(col("text"))).as("h"))
    val benchmark = hashes.filter(col("doc_id") % 97 === 0)
      .select(col("h")).distinct()
    hashes.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(benchmark), "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated_ngrams"))
  }

  val decontaminateSql: String = {
    val sh = FuzzyDedup.shingleHashesSql("text")
    s"""WITH hashes AS (
       |  SELECT doc_id, unnest($sh) AS h FROM documents),
       |benchmark AS (
       |  SELECT DISTINCT h FROM hashes WHERE doc_id % 97 = 0)
       |SELECT doc_id, count(*) AS n_contaminated_ngrams
       |FROM hashes JOIN benchmark USING (h)
       |WHERE doc_id % 97 <> 0
       |GROUP BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- q133
  /** N-gram novelty census — the inverse of decontamination: how much
    * of each document is text seen NOWHERE else in the corpus? Low
    * novelty means the document is assembled from corpus-common
    * phrasing (template spam, mirrored content that survived exact
    * dedup); the per-doc unique-gram fraction is the standard
    * memorization-risk / information-density signal used when
    * down-weighting repetitive sources. Per document: distinct 5-gram
    * count, how many of those appear in no other document, and the
    * novelty fraction in permille.
    *
    * Scale shape: documents explode to distinct (doc, 64-bit gram
    * hash) pairs — text never shuffles; the gram census and the
    * count-back join move only longs. Unlike q28 there is no small
    * benchmark side to broadcast (the census IS corpus-wide), so both
    * aggregations partial map-side and shuffle hash-bounded rows.
    */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame =
    ngramNoveltyOf(Tables.documents(spark, dir))

  def ngramNoveltyOf(docs: DataFrame): DataFrame = {
    val grams = docs.select(col("doc_id"),
        explode(FuzzyDedup.shingleHashes(col("text"))).as("h"))
      .distinct().localCheckpoint()
    val census = grams.groupBy("h").agg(count(lit(1)).as("n_docs"))
    val per = grams.join(census, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_docs") === 1, 1L).otherwise(0L)).as("n_unique"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_grams", "n_unique"))
      .select(col("doc_id"), col("n_grams"), col("n_unique"),
        when(col("n_grams") > 0,
          expr("n_unique * 1000 div n_grams")).otherwise(0L)
          .as("novelty_permille"))
  }

  val ngramNoveltySql: String = {
    val sh = FuzzyDedup.shingleHashesSql("text")
    s"""WITH hashes AS (
       |  SELECT DISTINCT doc_id, unnest($sh) AS h FROM documents),
       |census AS (SELECT h, count(*) AS n_docs FROM hashes GROUP BY 1),
       |per AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |    CAST(sum(CASE WHEN n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_unique
       |  FROM hashes JOIN census USING (h) GROUP BY 1)
       |SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
       |  coalesce(n_unique, 0) AS n_unique,
       |  CASE WHEN coalesce(n_grams, 0) > 0
       |    THEN n_unique * 1000 // n_grams ELSE 0 END AS novelty_permille
       |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin
  }

  // ---------------------------------------------------------------- q134
  /** Benchmark-contamination DECISION (the PaLM/GPT-3 protocol): q28
    * counts contaminated n-grams for docs that have any; this operator
    * scores EVERY candidate document — total distinct 5-grams,
    * benchmark-overlapping 5-grams, the overlap fraction in permille,
    * and the drop verdict at the ≥ 70% threshold (PaLM §8 drops a doc
    * when 70% of its 8-grams appear in the eval set; same rule, the
    * corpus' 5-gram shingles). Docs too short to shingle survive with
    * zero overlap.
    *
    * Scale shape: identical to q28's — the benchmark's distinct hashes
    * broadcast, the corpus streams once as (doc, long) pairs, and the
    * per-doc totals partial-aggregate map-side. The verdict adds no
    * extra pass: both counts come from one aggregation.
    */
  def contamVerdict(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // candidate corpus = every non-benchmark doc PLUS a planted
    // near-copy of each benchmark doc (negative id; the re-ingestion
    // fixture pattern) so the ≥ 70% drop branch provably fires
    val planted = docs.filter(col("doc_id") % 97 === 0)
      .select((-col("doc_id") - 1).as("doc_id"),
        concat(col("text"), lit(" freshly appended tail for the audit"))
          .as("text"))
    val cands = docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("text")).unionByName(planted)
    val benchmark = docs.filter(col("doc_id") % 97 === 0)
      .select(explode(FuzzyDedup.shingleHashes(col("text"))).as("h"))
      .distinct()
    val per = cands.select(col("doc_id"),
        explode(FuzzyDedup.shingleHashes(col("text"))).as("h"))
      .distinct()
      .join(broadcast(benchmark.withColumn("hit", lit(1L))),
        Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contam"))
    cands.select("doc_id").join(per, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_grams", "n_contam"))
      .select(col("doc_id"), col("n_grams"), col("n_contam"),
        when(col("n_grams") > 0,
          expr("n_contam * 1000 div n_grams")).otherwise(0L)
          .as("contam_permille"))
      .withColumn("drop_doc",
        col("n_grams") > 0 && col("contam_permille") >= 700)
  }

  val contamVerdictSql: String = {
    val sh = FuzzyDedup.shingleHashesSql("text")
    val shc = FuzzyDedup.shingleHashesSql("c.text")
    s"""WITH cands AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
       |  UNION ALL
       |  SELECT -doc_id - 1 AS doc_id,
       |    text || ' freshly appended tail for the audit' AS text
       |  FROM documents WHERE doc_id % 97 = 0),
       |benchmark AS (
       |  SELECT DISTINCT unnest($sh) AS h FROM documents
       |  WHERE doc_id % 97 = 0),
       |hashes AS (
       |  SELECT DISTINCT c.doc_id, unnest($shc) AS h FROM cands c),
       |per AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |    CAST(sum(CASE WHEN h IN (SELECT h FROM benchmark)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_contam
       |  FROM hashes GROUP BY 1)
       |SELECT c.doc_id, coalesce(n_grams, 0) AS n_grams,
       |  coalesce(n_contam, 0) AS n_contam,
       |  CASE WHEN coalesce(n_grams, 0) > 0
       |    THEN n_contam * 1000 // n_grams ELSE 0 END AS contam_permille,
       |  coalesce(n_grams, 0) > 0 AND
       |    (CASE WHEN coalesce(n_grams, 0) > 0
       |      THEN n_contam * 1000 // n_grams ELSE 0 END) >= 700
       |    AS drop_doc
       |FROM cands c LEFT JOIN per USING (doc_id)""".stripMargin
  }

  // ---------------------------------------------------------------- q79
  /** q79 — decontamination at the scale where the held-out set no longer
    * broadcasts as a hash table: build a Bloom filter over the benchmark
    * n-gram hashes (OR-merge aggregate — deterministic bytes, a few MB
    * regardless of set size), ship it as a 1-row broadcast, prefilter
    * the corpus map-side, and confirm the survivors with the exact join
    * so false positives die. The result is EXACTLY q28's (no false
    * negatives by construction), which keeps the oracle exact; the win
    * is that the expensive join sees only candidates — at kn/m ≈ 0.1
    * that is ~1e-5 of the corpus n-grams instead of all of them.
    */
  final val BloomBits = 1 << 18
  final val BloomHashes = 5

  /** The benchmark's n-gram Bloom filter as raw bytes — the broadcast
    * artifact the STREAMING decontamination gate probes
    * ([[graft.streaming.StreamingCuration.gateQuery]]). Built once
    * batch-side from the held-out set; a few dozen KB regardless of
    * benchmark size.
    */
  def benchmarkBloomBytes(benchmark: DataFrame): Array[Byte] = {
    import graft.functions.GraftFunctions.bloomAgg
    benchmark
      .select(explode(FuzzyDedup.shingleHashes(col("text"))).as("h"))
      .distinct()
      .agg(bloomAgg(col("h"), BloomBits, BloomHashes).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
  }

  /** Load a benchmark corpus dir the same way the precheck probes it:
    * a bare parquet dataset, or the canonical layout with
    * `documents.parquet` inside (what the testdata dirs and the
    * warc/jsonl ingests themselves land) — the gate and the read must
    * agree on what counts as a corpus.
    */
  def benchmarkBloomFromDir(spark: SparkSession,
      dir: String): Array[Byte] = {
    // Hadoop FS probe (not java.io.File) so hdfs://s3a:// corpus dirs
    // resolve the same way the precheck does
    val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val docsPath =
      if (fs.exists(p)) s"$dir/documents.parquet" else dir
    benchmarkBloomBytes(spark.read.parquet(docsPath))
  }

  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.{bloomAgg, bloomContains}
    val hashes = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(FuzzyDedup.shingleHashes(col("text"))).as("h"))
    val benchmark = hashes.filter(col("doc_id") % 97 === 0)
      .select(col("h")).distinct()
    // Materialize the 32 KB filter once and inline it as a literal:
    // joined-in binary columns re-copy the bytes out of the row for
    // EVERY probe (getBinary is a copy — gigabytes of memcpy per pass),
    // while a literal lives once in the codegen references array. Same
    // one-cluster-wide-scalar shape as a broadcast, built eagerly.
    val bfBytes = benchmark.agg(
        bloomAgg(col("h"), BloomBits, BloomHashes).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    hashes.filter(col("doc_id") % 97 =!= 0)
      .filter(bloomContains(lit(bfBytes), col("h")))
      .join(broadcast(benchmark), "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated_ngrams"))
  }

  // ---------------------------------------------------------------- q29
  /** KMV distinct sketch per language — the custom
    * TypedImperativeAggregate ([[graft.functions.KMinValues]]). The k
    * smallest distinct fingerprint hashes are partitioning- and
    * merge-order-independent, so unlike HLL this sketch hash-matches the
    * DuckDB oracle exactly; the estimator (k-1)·D / v_k is one constant-
    * folded multiply and one IEEE division.
    */
  final val KmvK = 16

  def kmvSketch(spark: SparkSession, dir: String): DataFrame = {
    import TextOps.charFold
    val kth = element_at(col("kmins"), size(col("kmins")))
    Tables.documents(spark, dir)
      .select(col("lang"), charFold(normText(col("text"))).as("fp"))
      .groupBy(col("lang"))
      .agg(graft.functions.GraftFunctions.kminValues(col("fp"), KmvK)
        .as("kmins"))
      .select(col("lang"),
        size(col("kmins")).as("k_tracked"),
        kth.as("kth_min"),
        when(size(col("kmins")) === KmvK,
          lit((KmvK - 1).toDouble) * lit(TextOps.FoldP.toDouble) / kth)
          .otherwise(size(col("kmins")).cast("double"))
          .as("distinct_est"))
  }

  val kmvSketchSql: String = {
    val fp = TextOps.charFoldSql(normTextSql("text"))
    s"""WITH d AS (SELECT lang, $fp AS fp FROM documents),
       |km AS (SELECT lang,
       |    list_sort(list_distinct(list(fp)))[1:$KmvK] AS kmins
       |  FROM d GROUP BY 1)
       |SELECT lang, len(kmins) AS k_tracked,
       |  kmins[len(kmins)] AS kth_min,
       |  CASE WHEN len(kmins) = $KmvK
       |    THEN CAST(${KmvK - 1} AS DOUBLE)
       |      * CAST(${TextOps.FoldP} AS DOUBLE) / kmins[len(kmins)]
       |    ELSE CAST(len(kmins) AS DOUBLE) END AS distinct_est
       |FROM km""".stripMargin
  }

  // ---------------------------------------------------------------- q46
  /** Connected components by iterative min-label propagation.
    *
    * `nodes` = (v: long), `edges` = (a: long, b: long) undirected.
    * Each round every node takes the min of its own label and its
    * neighbors' labels; converged when a round changes nothing. Rounds
    * are bounded by component diameter. `localCheckpoint` materializes
    * each round's labels — without it the iterative join lineage grows
    * exponentially and the convergence-check count re-executes the whole
    * history every round. (On a cluster: `checkpoint` to reliable
    * storage instead.)
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 25): DataFrame = {
    val sym = edges.select(col("a"), col("b"))
      .unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .localCheckpoint()
    var labels = nodes.select(col("v"), col("v").as("label"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nmin = sym.join(labels.withColumnRenamed("v", "b2"),
          sym("b") === col("b2"))
        .groupBy(col("a")).agg(min(col("label")).as("nmin"))
      // convergence check rides the checkpoint job itself: a fresh
      // per-round accumulator counts label changes WHILE the eager
      // localCheckpoint materializes the frame — one job per round
      // instead of checkpoint + a separate isEmpty probe job.
      // Retries/speculation can only OVER-count a non-zero round
      // (harmless — only == 0 is read); a converged round adds 0
      // from every attempt. The UDF is non-deterministic so the
      // optimizer can never elide or duplicate the counting
      // projection.
      val acc = nodes.sparkSession.sparkContext
        .longAccumulator(s"ccChanged_$i")
      val bump = udf((old: Long, nw: Long) => {
        if (nw != old) acc.add(1L)
        nw
      }).asNondeterministic()
      val next = labels.join(nmin, labels("v") === nmin("a"), "left")
        .select(col("v"), bump(col("label"),
          least(col("label"), coalesce(col("nmin"), col("label"))))
            .as("label"))
        // eager on purpose: the checkpoint job is what runs `bump`, so
        // acc.value is only this round's count once it has finished —
        // a lazy checkpoint would read 0 and stop after one round
        .localCheckpoint(eager = true)
      converged = acc.value == 0L
      labels = next
      i += 1
    }
    // Returning unconverged labels silently would let downstream dedup
    // treat wrong components as canonical; a high-diameter graph must
    // fail loudly so the caller raises maxIter (or pre-contracts edges).
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — " +
        "component diameter exceeds maxIter; raise it")
    labels
  }

  /** q46 — duplicate-group resolution: MinHash/LSH candidate pairs (q35)
    * become edges; every document lands in a component labeled by the
    * smallest doc_id it transitively near-duplicates; the canonical doc
    * of a cluster is its label. Singletons label themselves.
    */
  def dedupGroups(spark: SparkSession, dir: String): DataFrame = {
    val pairs = FuzzyDedup.minhashLsh(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val nodes = Tables.documents(spark, dir).select(col("doc_id").as("v"))
    connectedComponents(nodes, pairs)
      .select(col("v").as("doc_id"), col("label").as("component"))
  }

  /** The q46 oracle's CTE clause list, shared with the downstream
    * canonical-selection / purge oracles (q89/q92) so the component
    * definition can never drift between them.
    */
  val dedupGroupsCtes: String =
    s"""lsh AS (${FuzzyDedup.minhashLshSql}),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM lsh
       |      UNION SELECT doc_b, doc_a FROM lsh),
       |reach(v, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, reach.r FROM e JOIN reach ON reach.v = e.a),
       |comps AS (SELECT v AS doc_id, min(r) AS component
       |  FROM reach GROUP BY v)""".stripMargin

  val dedupGroupsSql: String =
    s"""WITH RECURSIVE $dedupGroupsCtes
       |SELECT doc_id, component FROM comps""".stripMargin

  // ---------------------------------------------------------------- q48
  /** Content-defined passage chunking: a chunk boundary falls after any
    * token whose rolling hash ≡ 0 (mod 16) — the CDC-chunking trick that
    * keeps passage boundaries stable under edits elsewhere in the doc
    * (fixed-width chunks shift at every insertion; hash-defined ones
    * don't). Emits one row per passage with token extents. Per-row map +
    * one generator — no shuffle.
    */
  final val ChunkMod = 16

  /** Plan shape: posexplode to one row per token, native charFold flags
    * boundaries (codegen), a running boundary count over (doc, pos)
    * assigns chunk ids, and a groupBy collapses to extents. The obvious
    * per-row array form (filter(sequence…) + element_at lambdas) copies
    * the interpreted tokenize subtree into every reference site — 89s at
    * sf0.1 vs ~2s for this shape — and would also hit per-row array
    * limits on book-length docs; token rows have no such cliff.
    */
  def passageChunks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import TextOps.charFold
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(tokens(normText(col("text")))).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
    val flagged = tok.withColumn("is_bound",
      (pmod(charFold(col("tok")), lit(ChunkMod)) === 0).cast("int"))
    // chunk id of a token = boundaries strictly before it
    val before = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    flagged
      .withColumn("chunk_idx",
        coalesce(sum(col("is_bound")).over(before), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(min(col("pos")).as("start_tok"), max(col("pos")).as("end_tok"))
  }

  val passageChunksSql: String = {
    val toks = tokensSql(normTextSql("text"))
    // outer lambda var must NOT be `i`: charFoldSql expands to a nested
    // list_transform whose own `i` would shadow it (the hash would then
    // index tokens by CHARACTER position — silently wrong results).
    val hash = TextOps.charFoldSql("list_extract(toks, p)")
    s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
       |b AS (SELECT doc_id, toks, list_sort(list_distinct(
       |    list_append(list_filter(range(1, len(toks) + 1),
       |      p -> ($hash) % $ChunkMod = 0), len(toks)))) AS bounds
       |  FROM d),
       |c AS (SELECT doc_id,
       |    unnest(list_transform(range(1, len(bounds) + 1), j ->
       |      struct_pack(chunk_idx := j - 1,
       |        start_tok := coalesce(bounds[j - 1], 0) + 1,
       |        end_tok := bounds[j]))) AS c
       |  FROM b)
       |SELECT doc_id, c.chunk_idx AS chunk_idx, c.start_tok AS start_tok,
       |  c.end_tok AS end_tok
       |FROM c WHERE c.end_tok >= c.start_tok""".stripMargin
  }

  // ---------------------------------------------------------------- q102
  /** The dataset card: one report row per (lang, source) cell with the
    * doc/char/token volumes and the three hygiene rates every corpus
    * release ships — exact-duplicate docs (corpus-wide fingerprint
    * census), low-quality docs (q95's keep=false), and one-phrase
    * repetitive docs (q100's flag). This is deliberately a COMPOSITION
    * of the per-doc signal operators, joined on doc_id, so the report
    * can never drift from the signals it summarizes.
    *
    * Scale shape: each signal is its own corpus pass (they already
    * exist as operators; a production pipeline materializes per-doc
    * signal tables once and this report is a cheap re-aggregation);
    * joins are doc_id equi-joins, the final rollup groups on the
    * low-cardinality (lang, source) pair with map-side combine.
    */
  def corpusReport(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val base = d.select(col("doc_id"), col("lang"), col("source"),
      col("n_chars"), size(tokens(col("text"))).cast("long")
        .as("n_tokens"))
    val fp = d.select(col("doc_id"),
      TextOps.charFold(normText(col("text"))).as("fp"))
    val dupFp = fp.groupBy(col("fp"))
      .agg(count(lit(1)).as("n_copies"))
      .filter(col("n_copies") >= 2)
    val isDup = fp.join(dupFp, Seq("fp"))
      .select(col("doc_id"), lit(1L).as("is_dup"))
    val lowQ = TextOps.qualityLogit(spark, dir)
      .filter(!col("keep"))
      .select(col("doc_id"), lit(1L).as("is_low_q"))
    val rep = TextOps.topNgramMass(spark, dir)
      .filter(col("flagged"))
      .select(col("doc_id"), lit(1L).as("is_rep"))
    base.join(isDup, Seq("doc_id"), "left")
      .join(lowQ, Seq("doc_id"), "left")
      .join(rep, Seq("doc_id"), "left")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_exact_dup"),
        sum(coalesce(col("is_low_q"), lit(0L))).as("n_low_quality"),
        sum(coalesce(col("is_rep"), lit(0L))).as("n_repetitive"))
  }

  val corpusReportSql: String = {
    val toks = tokensSql("text")
    val fpExpr = TextOps.charFoldSql(normTextSql("text"))
    s"""WITH base AS (SELECT doc_id, lang, source, n_chars,
       |    CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
       |fp AS (SELECT doc_id, $fpExpr AS fp FROM documents),
       |dup AS (SELECT fp.doc_id, 1 AS is_dup FROM fp
       |  JOIN (SELECT fp FROM fp GROUP BY fp HAVING count(*) >= 2) d
       |  ON fp.fp = d.fp),
       |lowq AS (SELECT doc_id, 1 AS is_low_q FROM
       |  (${TextOps.qualityLogitSql}) ql WHERE NOT keep),
       |rep AS (SELECT doc_id, 1 AS is_rep FROM
       |  (${TextOps.topNgramMassSql}) tm WHERE flagged)
       |SELECT lang, source,
       |  count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(sum(coalesce(is_dup, 0)) AS BIGINT) AS n_exact_dup,
       |  CAST(sum(coalesce(is_low_q, 0)) AS BIGINT) AS n_low_quality,
       |  CAST(sum(coalesce(is_rep, 0)) AS BIGINT) AS n_repetitive
       |FROM base
       |LEFT JOIN dup USING (doc_id)
       |LEFT JOIN lowq USING (doc_id)
       |LEFT JOIN rep USING (doc_id)
       |GROUP BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- q99
  /** Leakage-safe train/val/test split: the unit of assignment is the
    * NEAR-DUP COMPONENT (q46), not the document — two near-duplicate
    * docs can never straddle train and test, which is how eval
    * contamination sneaks past a doc-keyed split (q47). Same
    * deterministic permille-hash gate, applied to the component label;
    * per-row map on top of the component frame, so the only non-q46
    * cost is zero additional shuffles.
    */
  def leakageSplit(spark: SparkSession, dir: String): DataFrame = {
    val h = sampleHash(col("component")) % 100
    val split = when(h < 80, "train").when(h < 90, "val")
      .otherwise("test")
    dedupGroups(spark, dir).withColumn("split", split)
  }

  val leakageSplitSql: String = {
    val h = s"${sampleHashSql("component")} % 100"
    s"""WITH RECURSIVE $dedupGroupsCtes
       |SELECT doc_id, component,
       |  CASE WHEN $h < 80 THEN 'train'
       |       WHEN $h < 90 THEN 'val' ELSE 'test' END AS split
       |FROM comps""".stripMargin
  }

  // ---------------------------------------------------------------- q94
  /** Cross-corpus duplicated-passage census — the C4-style boilerplate
    * signal at PASSAGE granularity: a passage (content-defined chunk,
    * same boundaries as q48) that appears verbatim in ≥2 distinct
    * documents is shared boilerplate (headers, licenses, templated
    * spans); per document we report how many of its passages — and what
    * fraction of its tokens — are shared. Complements q59 (intra-doc
    * repetition) and q88 (containment over shingle sets): this one is
    * exact, cross-doc, and aligned to edit-stable chunk boundaries.
    *
    * Scale shape: token rows → per-(doc, chunk) ordered re-assembly via
    * `array_sort(collect_list(struct(pos, tok)))` (groups are passage-
    * sized, ~ChunkMod tokens, so the per-group buffer is tiny), then a
    * census keyed by passage text with map-side partial aggregation and
    * a shuffle join back. At 100 TB you'd key the census and join on
    * `xxhash64(ptext)` to shuffle 8-byte keys instead of text; the
    * text key is kept here because the oracle must be collision-free.
    */
  def passageDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import TextOps.charFold
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(tokens(normText(col("text")))).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
    val flagged = tok.withColumn("is_bound",
      (pmod(charFold(col("tok")), lit(ChunkMod)) === 0).cast("int"))
    val before = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val passages = flagged
      .withColumn("chunk_idx",
        coalesce(sum(col("is_bound")).over(before), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("ptext"),
        count(lit(1)).as("n_toks"))
    val census = passages.groupBy(col("ptext"))
      .agg(countDistinct(col("doc_id")).as("n_docs_with"))
    passages.join(census, "ptext")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("n_docs_with") >= 2, 1L).otherwise(0L))
          .as("n_shared_passages"),
        sum(col("n_toks")).as("n_tokens"),
        sum(when(col("n_docs_with") >= 2, col("n_toks")).otherwise(0L))
          .as("n_shared_tokens"))
      .withColumn("shared_frac",
        col("n_shared_tokens").cast("double") /
          col("n_tokens").cast("double"))
  }

  val passageDedupSql: String = {
    val toks = tokensSql(normTextSql("text"))
    val hash = TextOps.charFoldSql("list_extract(toks, p)")
    s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
       |b AS (SELECT doc_id, toks, list_sort(list_distinct(
       |    list_append(list_filter(range(1, len(toks) + 1),
       |      p -> ($hash) % $ChunkMod = 0), len(toks)))) AS bounds
       |  FROM d),
       |c AS (SELECT doc_id, toks,
       |    unnest(list_transform(range(1, len(bounds) + 1), j ->
       |      struct_pack(s := coalesce(bounds[j - 1], 0) + 1,
       |        e := bounds[j]))) AS ck
       |  FROM b),
       |p AS (SELECT doc_id,
       |    array_to_string(toks[ck.s:ck.e], ' ') AS ptext,
       |    ck.e - ck.s + 1 AS n_toks
       |  FROM c WHERE ck.e >= ck.s),
       |census AS (SELECT ptext, count(DISTINCT doc_id) AS n_docs_with
       |  FROM p GROUP BY 1)
       |SELECT p.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_passages,
       |  CAST(sum(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_shared_passages,
       |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN n_docs_with >= 2 THEN n_toks ELSE 0 END)
       |    AS BIGINT) AS n_shared_tokens,
       |  CAST(sum(CASE WHEN n_docs_with >= 2 THEN n_toks ELSE 0 END)
       |    AS DOUBLE) / CAST(sum(n_toks) AS DOUBLE) AS shared_frac
       |FROM p JOIN census USING (ptext)
       |GROUP BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- q147
  /** Per-source quality scorecard — the league table behind source
    * pruning decisions: docs, tokens, mean quality logit, duplicate
    * rate (exact fingerprint census), and quality-keep rate per
    * source. A source with high dup rate and low mean quality is the
    * first candidate to drop or down-weight; this is q102's
    * dataset-card rollup re-keyed by provenance. Mean logit uses the
    * pmod floor-division (logit sums can be negative; Spark `div`
    * truncates where DuckDB `//` floors — the q91/q127 trick keeps
    * them identical).
    *
    * Scale shape: per-row signals (map-only), one fingerprint census
    * (64-bit keys), three doc_id-keyed hash joins, then a
    * |sources|-row aggregate with map-side combine.
    */
  def sourceScorecard(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
    // re-ingestion fixture (the q24/q140 pattern): every 10th doc
    // arrives again as source `recrawl`, so the dup column has real
    // mass — recrawl at 1000‰ and the sources it copied from nonzero
    val docs = base.select(col("doc_id"), col("text"), col("source"))
      .unionByName(base.filter(col("doc_id") % 10 === 0)
        .select((-col("doc_id") - 1).as("doc_id"), col("text"),
          lit("recrawl").as("source")))
    val scored = TextOps.withQualitySignals(docs)
      .select(col("doc_id"), col("source"), col("logit_milli"),
        col("keep"),
        size(TextOps.tokens(col("text"))).cast("long").as("n"))
    val fps = docs.select(col("doc_id"),
      TextOps.charFold(normText(col("text"))).as("fp"))
    val census = fps.groupBy("fp").agg(count(lit(1)).as("nfp"))
    val dup = fps.join(census, Seq("fp"))
      .select(col("doc_id"), (col("nfp") > 1).as("is_dup"))
    scored.join(dup, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_tokens"),
        sum(col("logit_milli")).as("logit_sum"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("dup_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept_docs"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        ((col("logit_sum") - pmod(col("logit_sum"), col("n_docs"))) /
          col("n_docs")).cast("long").as("mean_logit_milli"),
        col("dup_docs"),
        expr("dup_docs * 1000 div n_docs").as("dup_permille"),
        expr("kept_docs * 1000 div n_docs").as("keep_permille"))
  }

  val sourceScorecardSql: String = {
    val toks = tokensSql("text")
    val f = TextOps.charFoldSql(normTextSql("text"))
    s"""WITH corpus AS (
       |  SELECT doc_id, text, source FROM documents
       |  UNION ALL
       |  SELECT -doc_id - 1 AS doc_id, text, 'recrawl' AS source
       |  FROM documents WHERE doc_id % 10 = 0),
       |q AS (SELECT doc_id, source,
       |    CAST(len($toks) AS BIGINT) AS n_tokens,
       |    CAST(length(text) AS BIGINT) AS n_chars_txt,
       |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
       |      AS BIGINT) AS n_punct,
       |    CAST(len(list_filter($toks,
       |      t -> t IN ('the','a','of','to','and','in','is')))
       |      AS BIGINT) AS n_stop
       |  FROM corpus),
       |g AS (SELECT doc_id, source, n_tokens,
       |    CASE WHEN n_tokens > 0 THEN n_stop * 1000 // n_tokens
       |      ELSE 0 END AS stop_permille,
       |    CASE WHEN n_chars_txt > 0 THEN n_punct * 1000 // n_chars_txt
       |      ELSE 0 END AS punct_permille,
       |    CASE WHEN n_tokens > 0 THEN n_chars_txt * 100 // n_tokens
       |      ELSE 0 END AS span_centi
       |  FROM q),
       |h AS (SELECT doc_id, source, n_tokens,
       |    800 + 3 * stop_permille - 2 * punct_permille
       |      - abs(span_centi - 550) AS logit_milli,
       |    least(9, greatest(0,
       |      (800 + 3 * stop_permille - 2 * punct_permille
       |        - abs(span_centi - 550)) // 200)) >= 3 AS keep
       |  FROM g),
       |fp AS (SELECT doc_id, $f AS fp FROM corpus),
       |census AS (SELECT fp, count(*) AS nfp FROM fp GROUP BY 1),
       |dup AS (SELECT doc_id, nfp > 1 AS is_dup
       |  FROM fp JOIN census USING (fp))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(logit_milli) // count(*) AS BIGINT)
       |    AS mean_logit_milli,
       |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
       |    AS dup_docs,
       |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) * 1000 //
       |    count(*) AS BIGINT) AS dup_permille,
       |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1000 //
       |    count(*) AS BIGINT) AS keep_permille
       |FROM h JOIN dup USING (doc_id)
       |GROUP BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- q144
  /** Token-budget epoch plan — the UPSAMPLING side of mixture
    * planning: q96 finds the largest corpus servable at exact
    * proportions WITHOUT repeats; this operator answers the other
    * standard recipe question — given a total training-token budget
    * and per-language target shares, how many EPOCHS of each slice
    * will training see (the "Wikipedia ×4, CommonCrawl ×0.8" table
    * every pre-training recipe publishes), with a repeat cap so small
    * high-weight slices don't over-epoch into memorization.
    *
    * epochs_milli = min(cap, budget·share / slice_tokens), served
    * tokens and the cap-bound flag per slice — all exact integers.
    * The fixture budget is 2× the corpus's own token count (so the
    * plan exercises both the capped and uncapped branches at every
    * scale factor — shares are scale-stable); a real run substitutes
    * the recipe's absolute budget.
    *
    * Scale shape: one token census per language (map-side sums), then
    * O(#langs) arithmetic. The corpus is touched once.
    */
  final val EpochBudgetX = 2L // fixture budget = 2 × corpus tokens
  final val EpochCapMilli = 2000L // at most 2 epochs of any slice

  def epochPlan(spark: SparkSession, dir: String): DataFrame = {
    val weight = MixTargetPermille.foldRight(lit(0)) {
      case ((l, w), acc) => when(col("lang") === l, lit(w)).otherwise(acc)
    }
    val census = Tables.documents(spark, dir)
      .select(col("lang"),
        size(TextOps.tokens(col("text"))).cast("long").as("n"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
    val budget = census.agg(
      (sum(col("n_tokens")) * EpochBudgetX).as("budget"))
    census.crossJoin(broadcast(budget))
      .withColumn("share_permille", weight.cast("long"))
      .withColumn("target_tokens",
        expr("budget * share_permille div 1000"))
      .withColumn("epochs_milli",
        when(col("share_permille") > 0,
          least(lit(EpochCapMilli),
            expr("target_tokens * 1000 div n_tokens")))
          .otherwise(lit(0L)))
      .withColumn("served_tokens",
        expr("n_tokens * epochs_milli div 1000"))
      .withColumn("cap_bound",
        col("share_permille") > 0 &&
          expr("target_tokens * 1000 div n_tokens") >
          lit(EpochCapMilli))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        col("share_permille"), col("target_tokens"),
        col("epochs_milli"), col("served_tokens"), col("cap_bound"))
  }

  // lazy: MixTargetPermille is declared with q96 below, after this
  // block in object-initialization order
  lazy val epochPlanSql: String = {
    val toks = TextOps.tokensSql("text")
    val weight = MixTargetPermille.foldRight("0") { case ((l, w), acc) =>
      s"CASE WHEN lang = '$l' THEN $w ELSE $acc END"
    }
    s"""WITH c AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len($toks)) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |b AS (SELECT CAST(sum(n_tokens) * $EpochBudgetX AS BIGINT)
       |    AS budget FROM c),
       |w AS (SELECT lang, n_docs, n_tokens,
       |    CAST($weight AS BIGINT) AS share_permille FROM c),
       |t AS (SELECT lang, n_docs, n_tokens, share_permille,
       |    budget * share_permille // 1000 AS target_tokens
       |  FROM w, b)
       |SELECT lang, n_docs, n_tokens, share_permille, target_tokens,
       |  CASE WHEN share_permille > 0
       |    THEN least($EpochCapMilli, target_tokens * 1000 // n_tokens)
       |    ELSE 0 END AS epochs_milli,
       |  n_tokens * (CASE WHEN share_permille > 0
       |    THEN least($EpochCapMilli, target_tokens * 1000 // n_tokens)
       |    ELSE 0 END) // 1000 AS served_tokens,
       |  share_permille > 0 AND
       |    target_tokens * 1000 // n_tokens > $EpochCapMilli
       |    AS cap_bound
       |FROM t""".stripMargin
  }

  // ---------------------------------------------------------------- q96
  /** Target-weighted dataset mixture planner: given per-language target
    * weights (permille of the final mix), find the LARGEST corpus the
    * observed language counts can serve at exactly those proportions,
    * and the per-language keep counts / sampling rates that realize it.
    * The limiting language (the one whose supply binds) gets rate 1000;
    * over-supplied languages are down-sampled. q27 is the uniform
    * special case; this is the general mix every pre-training data
    * recipe specifies. All arithmetic is exact integers (permille
    * scaling, floor division) so both engines agree bitwise; the
    * selection mechanism for the planned rates is q27's deterministic
    * [[sampleHash]] permille gate.
    *
    * Scale shape: one groupBy(lang) census (5–50 groups), then a
    * driver-free broadcast of the one-row global min — the corpus is
    * touched once; the plan itself is O(#langs).
    */
  final val MixTargetPermille: Seq[(String, Int)] = Seq(
    "en" -> 500, "zh" -> 150, "es" -> 150, "de" -> 100, "fr" -> 100)

  def mixturePlan(spark: SparkSession, dir: String): DataFrame = {
    val weight = MixTargetPermille.foldRight(lit(0)) {
      case ((l, w), acc) => when(col("lang") === l, lit(w)).otherwise(acc)
    }
    val counts = Tables.documents(spark, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("target_permille", weight.cast("long"))
    // feasible corpus size if this language binds: n_docs*1000/weight
    val feas = counts.filter(col("target_permille") > 0)
      .select(expr("n_docs * 1000 div target_permille").as("s"))
      .agg(min(col("s")).as("s_max"))
    counts.crossJoin(broadcast(feas))
      .withColumn("n_keep",
        when(col("target_permille") > 0,
          expr("s_max * target_permille div 1000")).otherwise(lit(0L)))
      .withColumn("rate_permille",
        expr("n_keep * 1000 div n_docs"))
      .withColumn("is_limiting",
        col("target_permille") > 0 &&
          expr("n_docs * 1000 div target_permille") === col("s_max"))
      .select(col("lang"), col("n_docs"), col("target_permille"),
        col("n_keep"), col("rate_permille"), col("is_limiting"))
  }

  val mixturePlanSql: String = {
    val weight = MixTargetPermille.foldRight("0") { case ((l, w), acc) =>
      s"CASE WHEN lang = '$l' THEN $w ELSE $acc END"
    }
    s"""WITH counts AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST($weight AS BIGINT) AS target_permille
       |  FROM documents GROUP BY 1),
       |feas AS (SELECT min(n_docs * 1000 // target_permille) AS s_max
       |  FROM counts WHERE target_permille > 0)
       |SELECT lang, n_docs, target_permille,
       |  CASE WHEN target_permille > 0
       |    THEN s_max * target_permille // 1000 ELSE 0 END AS n_keep,
       |  (CASE WHEN target_permille > 0
       |    THEN s_max * target_permille // 1000 ELSE 0 END) * 1000
       |    // n_docs AS rate_permille,
       |  target_permille > 0 AND
       |    n_docs * 1000 // target_permille = s_max AS is_limiting
       |FROM counts CROSS JOIN feas""".stripMargin
  }

  // ---------------------------------------------------------------- q49
  /** Corpus-wide top-20 bigrams with deterministic tie-break — the n-gram
    * census every data-mix report needs. Explode shuffles (bigram, 1)
    * with map-side partial aggregation; the final top-k is a single-
    * partition sort of the already-aggregated counts.
    */
  def topBigrams(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // posexplode + lead instead of per-row element_at lambdas: the array
    // form re-evaluates the tokenize subtree per reference (10.8s at
    // sf0.1); token rows + a codegen'd window run in a fraction of that.
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(tokens(normText(col("text")))).as(Seq("pos", "tok")))
    val nextTok = lead(col("tok"), 1)
      .over(Window.partitionBy(col("doc_id")).orderBy(col("pos")))
    tok.withColumn("next", nextTok)
      .filter(col("next").isNotNull)
      .select(concat_ws(" ", col("tok"), col("next")).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(20)
  }

  val topBigramsSql: String = {
    val toks = tokensSql(normTextSql("text"))
    s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
       |bg AS (SELECT unnest(list_transform(
       |    range(1, greatest(len(toks) - 1, 0) + 1),
       |    i -> list_extract(toks, i) || ' ' || list_extract(toks, i + 1)))
       |    AS bigram FROM d)
       |SELECT bigram, count(*) AS n FROM bg GROUP BY 1
       |ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------- q57
  /** Per-domain document cap — the web-pipeline guard against a single
    * site dominating the corpus: keep at most `cap` documents per
    * source, chosen DETERMINISTICALLY (by the reproducible sampling
    * hash, doc_id tie-break) so retries and re-runs keep the same
    * documents. One shuffle on `source`; a pathologically hot domain is
    * exactly the [[Skew]] salting case — but a top-k per group never
    * needs the full sort: only `cap` rows per source survive the
    * map-side window when AQE splits skewed partitions.
    */
  def domainCap(spark: SparkSession, dir: String,
      cap: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(sampleHash(col("doc_id")), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= cap)
      .select(col("doc_id"), col("source"), col("rk"))
  }

  val domainCapSql: String = {
    val h = sampleHashSql("doc_id")
    s"""SELECT doc_id, source, rk FROM (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY $h, doc_id) AS rk
       |  FROM documents) WHERE rk <= 10""".stripMargin
  }

  // ---------------------------------------------------------------- q121
  /** Corpus version diff — the incremental-release audit: classify
    * every document across two corpus versions as added / removed /
    * changed / unchanged by comparing 64-bit content fingerprints
    * under a full-outer join on doc_id. This is what a dataset release
    * pipeline publishes next to a new corpus version (and what an
    * incremental re-train consumes to reprocess only the delta).
    *
    * The q121 fixture synthesizes version 2 from version 1 inside the
    * query, identically on both engines (the q110/q116 pattern):
    * doc_id % 17 == 0 removed, % 13 == 0 edited, % 19 == 0 cloned
    * under a shifted id.
    *
    * Scale shape: text collapses map-side to a 64-bit fingerprint
    * before the join; the full-outer join shuffles only (id, fp) pairs
    * on the id — at equal partitioning of both versions this is the
    * co-partitioned merge a 100 TB release audit needs, and AQE
    * broadcasts the small side of an incremental (delta-sized) v2.
    */
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(spark, dir)
    val v2base = v1.filter(col("doc_id") % 17 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    val v2added = v1.filter(col("doc_id") % 19 === 0)
      .select((col("doc_id") + AddedIdShift).as("doc_id"), col("text"))
    corpusDiffOf(v1, v2base.unionByName(v2added))
  }

  /** Fixture id offset for synthesized "added" docs — far above any
    * real doc_id in the test dirs.
    */
  val AddedIdShift = 10000000L

  def corpusDiffOf(v1: DataFrame, v2: DataFrame): DataFrame = {
    def fp(df: DataFrame) = df.select(col("doc_id"),
      TextOps.charFold(col("text")).as("fp"))
    val a = fp(v1).withColumnRenamed("fp", "fp1")
    val b = fp(v2).withColumnRenamed("fp", "fp2")
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("fp1").isNull, "added")
          .when(col("fp2").isNull, "removed")
          .when(col("fp1") =!= col("fp2"), "changed")
          .otherwise("unchanged").as("status"))
  }

  val corpusDiffSql: String =
    s"""WITH v1 AS (
       |  SELECT doc_id, ${TextOps.charFoldSql("text")} AS fp
       |  FROM documents),
       |v2s AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END
       |      AS text
       |  FROM documents WHERE doc_id % 17 <> 0
       |  UNION ALL
       |  SELECT doc_id + ${AddedIdShift}, text
       |  FROM documents WHERE doc_id % 19 = 0),
       |v2 AS (SELECT doc_id, ${TextOps.charFoldSql("text")} AS fp
       |  FROM v2s)
       |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
       |  CASE WHEN v1.doc_id IS NULL THEN 'added'
       |    WHEN v2.doc_id IS NULL THEN 'removed'
       |    WHEN v1.fp <> v2.fp THEN 'changed'
       |    ELSE 'unchanged' END AS status
       |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id""".stripMargin

  // ---------------------------------------------------------------- q124
  /** Boilerplate-line census (the RefinedWeb/CCNet line-dedup step): a
    * line that recurs across ≥ 5% of the corpus is boilerplate (nav
    * chrome, footers, cookie banners), and per-document boilerplate mass
    * is a quality signal — pages that are mostly chrome carry little
    * training value. Runs over the q123 synthesized page (shared
    * fixture: [[TextOps.pageOf]]), whose header/footer pool and defect
    * lines recur corpus-wide while body lines stay essentially unique.
    *
    * The fraction-of-corpus threshold (not an absolute count) is what
    * survives a 1000× scale-up: the census is keyed by the line's 64-bit
    * charFold — line text never shuffles — and the boilerplate set is
    * a few thousand hashes at any corpus size (a line must appear in
    * ≥ 5% of documents), so the verdict join broadcasts.
    */
  def lineBoilerplate(spark: SparkSession, dir: String): DataFrame =
    lineBoilerplateOf(Tables.documents(spark, dir))

  def lineBoilerplateOf(docs: DataFrame): DataFrame = {
    // distinct (doc, line-hash) pairs; consumed three times (census,
    // per-doc totals, verdict join) so pin the one explode
    val lines = TextOps.pageOf(docs)
      .select(col("doc_id"), explode(split(col("page"), "\n")).as("l"))
      .select(col("doc_id"), trim(col("l")).as("l"))
      .filter(col("l") =!= "")
      .select(col("doc_id"), TextOps.charFold(col("l")).as("lfp"))
      .distinct()
      .localCheckpoint()
    val total = docs.agg(count(lit(1)).as("total_docs"))
    val boiler = lines.groupBy("lfp")
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(total))
      .filter(col("n_docs") * 100 >= col("total_docs") * 5)
      .select("lfp")
    val perDoc = lines.join(boiler, Seq("lfp"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_boiler"))
    lines.groupBy("doc_id").agg(count(lit(1)).as("n_lines"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_boiler"))
      .select(col("doc_id"), col("n_lines"), col("n_boiler"),
        expr("n_boiler * 1000 div n_lines").as("boiler_permille"))
  }

  val lineBoilerplateSql: String =
    s"""WITH page AS (${TextOps.pageSql()}),
       |raw AS (
       |  SELECT doc_id, trim(unnest(string_split(page, chr(10)))) AS l
       |  FROM page),
       |ln AS (
       |  SELECT DISTINCT doc_id, ${TextOps.charFoldSql("l")} AS lfp
       |  FROM raw WHERE l <> ''),
       |census AS (SELECT lfp, count(*) AS n_docs FROM ln GROUP BY 1),
       |total AS (SELECT count(*) AS total_docs FROM documents),
       |boiler AS (
       |  SELECT lfp FROM census, total
       |  WHERE n_docs * 100 >= total_docs * 5)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
       |  CAST(sum(CASE WHEN lfp IN (SELECT lfp FROM boiler)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       |  CAST(sum(CASE WHEN lfp IN (SELECT lfp FROM boiler)
       |    THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
       |    AS boiler_permille
       |FROM ln GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q132
  /** Paragraph-level boilerplate SCRUB (RefinedWeb §3.2 / CCNet): q124
    * only *counts* boilerplate lines; this one actually REMOVES the
    * recurring paragraphs (nav chrome, cookie banners, footers) and
    * re-composes the cleaned document — the text that actually goes to
    * training. A paragraph recurring across ≥ 5% of the corpus is
    * chrome; per document we keep the remaining paragraphs in original
    * order and emit the cleaned text's fingerprint (the q33 dedup key
    * downstream). Runs over the blank-line-separated synthesized page
    * ([[TextOps.paraOf]], the shared fixture-in-query pattern).
    *
    * Scale shape: the document's paragraph array NEVER explodes with
    * its text — the census explodes only 64-bit paragraph fingerprints,
    * the boilerplate verdict comes back as a per-doc hash set via a
    * hash-only join, and the removal + recomposition is a map-side
    * higher-order filter over the array the row already holds. Text
    * shuffles nowhere; the fraction-of-corpus threshold keeps the
    * boilerplate set a few thousand hashes at any corpus size.
    */
  def paraScrub(spark: SparkSession, dir: String): DataFrame =
    paraScrubOf(Tables.documents(spark, dir))

  def paraScrubOf(docs: DataFrame): DataFrame = {
    val base = TextOps.paraOf(docs)
      .select(col("doc_id"),
        filter(transform(split(col("page"), "\n\n"), p => trim(p)),
          p => p =!= "").as("paras"))
      .select(col("doc_id"), col("paras"),
        transform(col("paras"), p => TextOps.charFold(p)).as("fps"))
      .localCheckpoint()
    val total = docs.agg(count(lit(1)).as("total_docs"))
    val census = base
      .select(col("doc_id"), explode(col("fps")).as("pfp")).distinct()
    val boiler = census.groupBy("pfp")
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(total))
      .filter(col("n_docs") * 100 >= col("total_docs") * 5)
      .select("pfp")
    val docBoiler = census.join(boiler, Seq("pfp"), "left_semi")
      .groupBy("doc_id").agg(collect_set(col("pfp")).as("bset"))
    base.join(docBoiler, Seq("doc_id"), "left")
      .select(col("doc_id"), col("paras"), col("fps"),
        coalesce(col("bset"), array().cast("array<long>")).as("bset"))
      .select(col("doc_id"), col("paras"),
        filter(
          zip_with(col("paras"), col("fps"), (p, f) =>
            when(array_contains(col("bset"), f), lit(null: String))
              .otherwise(p)),
          p => p.isNotNull).as("kept"))
      .select(col("doc_id"),
        size(col("paras")).cast("long").as("n_paras"),
        (size(col("paras")) - size(col("kept"))).cast("long")
          .as("n_dropped"),
        coalesce(TextOps.charFold(array_join(col("kept"), "\n\n")),
          lit(0L)).as("clean_fp"))
  }

  val paraScrubSql: String = {
    val sep = "chr(10) || chr(10)"
    s"""WITH page AS (${TextOps.paraSql()}),
       |l0 AS (
       |  SELECT doc_id, list_filter(list_transform(
       |      string_split(page, $sep), x -> trim(x)), x -> x <> '')
       |    AS paras
       |  FROM page),
       |l1 AS (
       |  SELECT doc_id, paras,
       |    list_transform(paras, p -> ${TextOps.charFoldSql("p")}) AS fps
       |  FROM l0),
       |census AS (
       |  SELECT DISTINCT doc_id, unnest(fps) AS pfp FROM l1),
       |total AS (SELECT count(*) AS total_docs FROM documents),
       |boiler AS (
       |  SELECT pfp FROM
       |    (SELECT pfp, count(*) AS n_docs FROM census GROUP BY 1), total
       |  WHERE n_docs * 100 >= total_docs * 5),
       |bs AS (
       |  SELECT doc_id, list(pfp) AS bset FROM census
       |  WHERE pfp IN (SELECT pfp FROM boiler) GROUP BY doc_id),
       |j AS (
       |  SELECT l1.doc_id, paras, fps,
       |    coalesce(bset, CAST([] AS BIGINT[])) AS bset
       |  FROM l1 LEFT JOIN bs ON l1.doc_id = bs.doc_id),
       |k AS (
       |  SELECT doc_id, paras,
       |    list_filter(list_transform(range(1, len(paras) + 1),
       |      i -> CASE WHEN list_contains(bset, fps[i]) THEN NULL
       |        ELSE paras[i] END), x -> x IS NOT NULL) AS kept
       |  FROM j)
       |SELECT doc_id, CAST(len(paras) AS BIGINT) AS n_paras,
       |  CAST(len(paras) - len(kept) AS BIGINT) AS n_dropped,
       |  coalesce(${TextOps.charFoldSql(
          s"array_to_string(kept, $sep)")}, 0) AS clean_fp
       |FROM k""".stripMargin
  }

  // ---------------------------------------------------------------- q140
  /** Cross-source duplicate-leakage matrix — the provenance
    * diagnostic run after dedup: which SOURCE PAIRS share identical
    * documents? A heavy (web, books) cell means the book corpus
    * leaked into the crawl (double-counting during mixture planning);
    * a heavy (vX, recrawl) cell quantifies recrawl overlap before
    * paying for ingestion. Re-ingestion fixture: copies of every
    * 10th doc arrive as source `recrawl`, every 15th as `mirror`, so
    * the matrix has original↔recrawl, original↔mirror, and (for
    * doc_id % 30) recrawl↔mirror cells.
    *
    * Scale shape: text collapses to 64-bit fingerprints map-side;
    * the per-fingerprint source set is bounded by the SOURCE COUNT
    * (not corpus size), so the pair explode is |sources|² at worst
    * per group; shuffles carry (fp, source) only.
    */
  def crossSourceDups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = docs.select(col("text"), col("source"))
    val recrawl = docs.filter(col("doc_id") % 10 === 0)
      .select(col("text"), lit("recrawl").as("source"))
    val mirror = docs.filter(col("doc_id") % 15 === 0)
      .select(col("text"), lit("mirror").as("source"))
    val fp = base.unionByName(recrawl).unionByName(mirror)
      .select(TextOps.charFold(normText(col("text"))).as("fp"),
        col("source"))
      .distinct()
    val grouped = fp.groupBy(col("fp"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) > 1)
    grouped
      .select(col("fp"), explode(col("srcs")).as("src_a"), col("srcs"))
      .select(col("fp"), col("src_a"),
        explode(col("srcs")).as("src_b"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_groups"))
  }

  val crossSourceDupsSql: String = {
    val f = TextOps.charFoldSql(normTextSql("text"))
    s"""WITH all_docs AS (
       |  SELECT text, source FROM documents
       |  UNION ALL
       |  SELECT text, 'recrawl' AS source FROM documents
       |  WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT text, 'mirror' AS source FROM documents
       |  WHERE doc_id % 15 = 0),
       |fp AS (SELECT DISTINCT $f AS fp, source FROM all_docs),
       |g AS (
       |  SELECT fp, list_sort(list(source)) AS srcs FROM fp
       |  GROUP BY 1 HAVING count(*) > 1),
       |e1 AS (SELECT fp, unnest(srcs) AS src_a, srcs FROM g),
       |e2 AS (SELECT fp, src_a, unnest(srcs) AS src_b FROM e1)
       |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_groups
       |FROM e2 WHERE src_a < src_b GROUP BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- q130
  /** Competence-based curriculum schedule (Platanios et al. 2019 /
    * Bengio et al. 2009): every document gets the first training epoch
    * at which the curriculum admits it — stage 0 trains on the
    * top-30% quality slice, stage 1 widens to the top 70%, stage 2
    * trains on everything. Thresholds are QUALITY-RANK percentiles of
    * the q95 integer logit, not fixed bucket cut-offs, so the schedule
    * adapts to the corpus' quality distribution; the cutoffs are exact
    * order statistics over the (logit value → count) census — the
    * q104/q127 histogram pattern, never a corpus-wide sort.
    *
    * Scale shape: the census is value-bounded (the integer logit's
    * range), its descending cumulative runs over that bounded frame,
    * and the two cutoffs broadcast back as a 1-row frame; per-doc
    * stage assignment is a map-side comparison.
    */
  def curriculumSchedule(spark: SparkSession, dir: String): DataFrame =
    curriculumScheduleOf(Tables.documents(spark, dir))

  def curriculumScheduleOf(docs: DataFrame): DataFrame = {
    val scored = TextOps.withQualitySignals(docs)
      .select(col("doc_id"), col("logit_milli")).localCheckpoint()
    val census = scored.groupBy(col("logit_milli"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("logit_milli").desc)
    val cum = census.withColumn("cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(scored.agg(count(lit(1)).as("n"))))
    val cuts = cum.agg(
      max(when(col("cum") * 10 >= col("n") * 3, col("logit_milli")))
        .as("c0"),
      max(when(col("cum") * 10 >= col("n") * 7, col("logit_milli")))
        .as("c1"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("logit_milli"),
        when(col("logit_milli") >= col("c0"), 0L)
          .when(col("logit_milli") >= col("c1"), 1L)
          .otherwise(2L).as("first_epoch"))
  }

  val curriculumScheduleSql: String = {
    // the q95 logit, re-derived inline (same arithmetic as
    // qualityLogitSql)
    val toks = tokensSql("text")
    s"""WITH f AS (SELECT doc_id,
       |    CAST(len($toks) AS BIGINT) AS n_tokens,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
       |      AS BIGINT) AS n_punct,
       |    CAST(len(list_filter($toks, t -> t IN ('the', 'a', 'of',
       |      'to', 'and', 'in', 'is'))) AS BIGINT) AS n_stop
       |  FROM documents),
       |s AS (SELECT doc_id,
       |    800 + 3 * (CASE WHEN n_tokens > 0
       |        THEN n_stop * 1000 // n_tokens ELSE 0 END)
       |      - 2 * (CASE WHEN n_chars > 0
       |        THEN n_punct * 1000 // n_chars ELSE 0 END)
       |      - abs((CASE WHEN n_tokens > 0
       |        THEN n_chars * 100 // n_tokens ELSE 0 END) - 550)
       |      AS logit_milli
       |  FROM f),
       |census AS (SELECT logit_milli, count(*) AS cnt FROM s
       |  GROUP BY 1),
       |cum AS (SELECT logit_milli,
       |    sum(cnt) OVER (ORDER BY logit_milli DESC) AS cum
       |  FROM census),
       |n AS (SELECT count(*) AS n FROM s),
       |cuts AS (SELECT
       |    max(CASE WHEN cum * 10 >= n * 3 THEN logit_milli END)
       |      AS c0,
       |    max(CASE WHEN cum * 10 >= n * 7 THEN logit_milli END)
       |      AS c1
       |  FROM cum, n)
       |SELECT s.doc_id, CAST(s.logit_milli AS BIGINT) AS logit_milli,
       |  CAST(CASE WHEN s.logit_milli >= c.c0 THEN 0
       |    WHEN s.logit_milli >= c.c1 THEN 1 ELSE 2 END AS BIGINT)
       |    AS first_epoch
       |FROM s, cuts c""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q130_curriculum" -> (curriculumSchedule _),
    "q124_line_boilerplate" -> (lineBoilerplate _),
    "q132_para_scrub" -> (paraScrub _),
    "q133_ngram_novelty" -> (ngramNovelty _),
    "q134_contam_verdict" -> (contamVerdict _),
    "q140_cross_source_dups" -> (crossSourceDups _),
    "q144_epoch_plan" -> (epochPlan _),
    "q147_source_scorecard" -> (sourceScorecard _),
    "q121_corpus_diff" -> (corpusDiff _),
    "q57_domain_cap" -> ((s: SparkSession, d: String) => domainCap(s, d)),
    "q24_incremental_dedup" -> (incrementalDedup _),
    "q29_kmv_sketch" -> (kmvSketch _),
    "q27_lang_rebalance" -> (langRebalance _),
    "q28_decontaminate" -> (decontaminate _),
    "q79_decontaminate_bloom" -> (decontaminateBloom _),
    "q48_passage_chunks" -> (passageChunks _),
    "q49_top_bigrams" -> (topBigrams _),
    "q39_tfidf_topterms" -> (tfidfTopTerms _),
    "q23_stratified_sample" -> (stratifiedSample _),
    "q47_dataset_split" -> (datasetSplit _),
    "q46_dedup_groups" -> (dedupGroups _),
    "q94_passage_dedup" -> (passageDedup _),
    "q96_mixture_plan" -> (mixturePlan _),
    "q99_leakage_split" -> (leakageSplit _),
    "q102_corpus_report" -> (corpusReport _))

  val oracles: Map[String, String] = Map(
    "q130_curriculum" -> curriculumScheduleSql,
    "q124_line_boilerplate" -> lineBoilerplateSql,
    "q132_para_scrub" -> paraScrubSql,
    "q133_ngram_novelty" -> ngramNoveltySql,
    "q134_contam_verdict" -> contamVerdictSql,
    "q140_cross_source_dups" -> crossSourceDupsSql,
    "q144_epoch_plan" -> epochPlanSql,
    "q147_source_scorecard" -> sourceScorecardSql,
    "q57_domain_cap" -> domainCapSql,
    "q24_incremental_dedup" -> incrementalDedupSql,
    "q29_kmv_sketch" -> kmvSketchSql,
    "q27_lang_rebalance" -> langRebalanceSql,
    "q28_decontaminate" -> decontaminateSql,
    // exact-by-construction: the bloom prefilter's false positives are
    // killed by the confirm join, so q28's oracle is q79's oracle
    "q79_decontaminate_bloom" -> decontaminateSql,
    "q48_passage_chunks" -> passageChunksSql,
    "q49_top_bigrams" -> topBigramsSql,
    "q39_tfidf_topterms" -> tfidfTopTermsSql,
    "q23_stratified_sample" -> stratifiedSampleSql,
    "q47_dataset_split" -> datasetSplitSql,
    "q46_dedup_groups" -> dedupGroupsSql,
    "q94_passage_dedup" -> passageDedupSql,
    "q96_mixture_plan" -> mixturePlanSql,
    "q99_leakage_split" -> leakageSplitSql,
    "q102_corpus_report" -> corpusReportSql,
    "q121_corpus_diff" -> corpusDiffSql)
}
