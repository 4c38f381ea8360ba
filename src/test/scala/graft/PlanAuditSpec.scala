package graft

import graft.operators.{Categories, Embeddings, LlmText, Multimodal, Sessions}

/** Pins the PHYSICAL plan shapes that make these operators scale — the
  * "would I run this at 100 TB" audit as assertions, so a regression that
  * silently degrades a plan (lost broadcast, surprise shuffle, dropped
  * TakeOrdered) fails the build, not just the benchmark.
  */
class PlanAuditSpec extends GraftSuite {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("entry/flagship produces rows at sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("sessionize shuffles exactly once (on user_id)") {
    // the BUILD pipeline's plan — the public sessionized() serves the
    // stored (checkpointed) table, whose plan is just the RDD scan
    val p = plan(Sessions.sessionizedPlan(spark, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1, s"expected 1 exchange:\n$p")
  }

  test("top-10 categories plans TakeOrderedAndProject, not a global sort") {
    val p = plan(Categories.c03Top10(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject:\n$p")
  }

  test("LSH candidate generation never plans a cartesian product") {
    // the lazy form: the public d03 checkpoints its result, so its
    // executed plan is just the RDD scan — the join shape lives here
    val (d03, caches) = LlmText.d03Lazy(spark, sf)
    try {
      val p = plan(d03)
      assert(!p.contains("CartesianProduct"), s"cartesian in LSH plan:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"band joins should broadcast:\n$p")
    } finally caches.foreach(_.unpersist())
  }

  test("bucketed ANN joins on the bucket key via broadcast hash join") {
    val p = plan(Embeddings.e02AnnBucketed(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast hash join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("shuffle strategy plans sort-merge joins with an exchange on the bucket key") {
    spark.conf.set(graft.operators.SelfJoin.StrategyConf, "shuffle")
    try {
      val (d03, caches) = LlmText.d03Lazy(spark, sf)
      val pLsh = try plan(d03) finally caches.foreach(_.unpersist())
      assert(!pLsh.contains("CartesianProduct"), s"cartesian in shuffle LSH plan:\n$pLsh")
      assert(pLsh.contains("SortMergeJoin"), s"band joins should sort-merge:\n$pLsh")
      assert(!pLsh.contains("BroadcastHashJoin"),
        s"shuffle strategy must not broadcast the full signature table:\n$pLsh")
      val pAnn = plan(Embeddings.e02AnnBucketed(spark, sf))
      assert(pAnn.contains("SortMergeJoin"), s"bucket join should sort-merge:\n$pAnn")
      assert("Exchange hashpartitioning\\(bucket".r.findFirstIn(pAnn).nonEmpty,
        s"no exchange on the bucket key:\n$pAnn")
      assert(!pAnn.contains("CartesianProduct"))
      // the composed two-stage ANN: its coarse CELL join must ride the
      // gate too — sort-merge with an exchange on cell, never a
      // hard-coded broadcast of the sketch table (the e08 oracle form's
      // deliberate local-only shortcut must not leak into e10)
      val pE10 = plan(Embeddings.e10IvfSketchRerank(spark, sf))
      assert(pE10.contains("SortMergeJoin"), s"e10 cell join should sort-merge:\n$pE10")
      assert("Exchange hashpartitioning\\(cell".r.findFirstIn(pE10).nonEmpty,
        s"e10: no exchange on the cell key:\n$pE10")
      assert(!pE10.contains("CartesianProduct"))
      // IVF-PQ rides the same gate: the coarse ADC join sort-merges on
      // cell (the codes table never broadcasts at scale); the codebook
      // broadcast (M·K tiny rows) is a legitimate dim join and stays
      val pE12 = plan(Embeddings.e12IvfPqAdc(spark, sf))
      assert(pE12.contains("SortMergeJoin"), s"e12 cell join should sort-merge:\n$pE12")
      assert("Exchange hashpartitioning\\(cell".r.findFirstIn(pE12).nonEmpty,
        s"e12: no exchange on the cell key:\n$pE12")
      assert(!pE12.contains("CartesianProduct"))
      val pE13 = plan(Embeddings.e13ResidualPq(spark, sf))
      assert(pE13.contains("SortMergeJoin"), s"e13 cell join should sort-merge:\n$pE13")
      assert("Exchange hashpartitioning\\(cell".r.findFirstIn(pE13).nonEmpty,
        s"e13: no exchange on the cell key:\n$pE13")
      assert(!pE13.contains("CartesianProduct"))
      // the range join rides the same gate: sort-merge on the interval
      // bucket, no nested loop anywhere in the at-scale shape
      val pRange = plan(graft.operators.Misc.m13RangeJoin(spark, sf))
      assert(pRange.contains("SortMergeJoin"), s"range join should sort-merge:\n$pRange")
      assert("Exchange hashpartitioning\\(__bucket".r.findFirstIn(pRange).nonEmpty,
        s"no exchange on the range-bucket key:\n$pRange")
      assert(!pRange.contains("BroadcastNestedLoop") && !pRange.contains("CartesianProduct"))
    } finally spark.conf.unset(graft.operators.SelfJoin.StrategyConf)
  }

  test("a warm e12 call plans against its stored artifacts' pinned sizes") {
    // each stored artifact's leaf carries the bytes the block manager
    // holds for it, so the planner broadcasts the small ones up front:
    // no sort-merge join for AQE to turn into a broadcast after the
    // shuffle ran, and no runtime Bloom-filter subquery sized for a
    // terabyte-scale side
    Embeddings.e12IvfPqAdc(spark, sf).collect()
    val df = Embeddings.e12IvfPqAdc(spark, sf)
    val initial = df.queryExecution.sparkPlan.toString
    assert(!initial.contains("SortMergeJoin"), s"sort-merge join in e12's initial plan:\n$initial")
    df.collect()
    val executed = plan(df)
    assert(!executed.contains("might_contain"), s"runtime Bloom filter in e12's plan:\n$executed")
    val jobs = SparkTestBase.jobsStartedBy(Embeddings.e12IvfPqAdc(spark, sf).collect())
    assert(jobs < 10, s"a warm e12 call ran $jobs jobs")
  }

  test("fingerprinting and frame sampling are map-only (no keyed shuffle)") {
    // the round-robin repartition (small-file fan-out) is allowed; a
    // hashpartitioning exchange would mean a keyed shuffle crept in
    val pFp = plan(LlmText.d08Fingerprint(spark, sf))
    assert(!pFp.contains("Exchange hashpartitioning"), s"fingerprint plan shuffles:\n$pFp")
    val pFr = plan(Multimodal.mm02FrameSample(spark, sf))
    assert(!pFr.contains("Exchange hashpartitioning"), s"frame sampling shuffles:\n$pFr")
  }

  test("PII scrub is a pure projection (no exchange of any kind, no join)") {
    val p = plan(graft.operators.Misc.m14PiiScrub(spark, sf))
    assert(!p.contains("Exchange"), s"the privacy stage must stream through the scan:\n$p")
    assert(!p.contains("Join"), s"m14 must not join:\n$p")
  }

  test("e11 retrain step assigns via the broadcast centroid dim, never a shuffled product") {
    // the serving plan reads the STORED assignment since r13 (e11 rides
    // the cellRanked memo instead of re-ranking the corpus twice); the
    // broadcast-dim shape is pinned on the assignment BUILD pipeline,
    // which is what the memo materializes
    val v = Embeddings.quantized(spark, sf)
    val pBuild = plan(Embeddings.assignRanked(spark, v, Embeddings.centroidsOf(spark, v)))
    assert(pBuild.contains("BroadcastNestedLoopJoin"),
      s"assignment build should ride the broadcast centroid dim:\n$pBuild")
    assert(!pBuild.contains("CartesianProduct"), s"cartesian in the assignment build:\n$pBuild")
    val p = plan(Embeddings.e11KmeansStep(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in the retrain step:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"e11 should serve the stored assignment table:\n$p")
  }

  test("area-top3 composite broadcasts the city dim") {
    val p = plan(Categories.c07AreaTop3(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"dim join not broadcast:\n$p")
  }

  test("bucketed fact join plans no exchange on the join key") {
    // force the fact⋈fact scenario: at fixture scale Catalyst would
    // broadcast the customer side, hiding the bucketed-join shape
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan(graft.operators.Misc.m09BucketedJoin(spark, sf))
      assert(!"Exchange hashpartitioning\\(o_custkey".r.findFirstIn(p).isDefined,
        s"bucketed join still shuffles on the join key:\n$p")
      assert(p.contains("Bucketed: true"), s"bucketed read not used:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("exact dedup is a single hash-aggregate exchange on the content hash") {
    val p = plan(LlmText.d01ExactDedup(spark, sf))
    // repartition round-robin + the aggregate exchange; no joins, no sorts
    assert(!p.contains("Join"), s"dedup must not join:\n$p")
    assert(p.contains("HashAggregate"), s"dedup should hash-aggregate:\n$p")
  }

  test("spreadIfNarrow adds no round-robin exchange to an already-wide input") {
    val par = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 1000, 1, par).toDF("id")
    // returned unchanged — zero plan impact on a 100 TB-style wide scan
    assert(Tables.spreadIfNarrow(wide) eq wide)
    val narrow = spark.range(0, 1000, 1, 1).toDF("id")
    val spread = Tables.spreadIfNarrow(narrow)
    assert(spread.rdd.getNumPartitions === par)
    assert(spread.queryExecution.executedPlan.toString.contains("RoundRobin"),
      "narrow input must be spread")
  }

  test("s08 session rollup reuses the sessionize partitioning (no extra exchange)") {
    // the lazy form — the public extract checkpoints its result
    val (extract, sess) =
      operators.Sessions.extractLazy(operators.Sessions.sessionized(spark, sf))
    try {
      val p = plan(extract)
      // exchanges: sessionize window (user_id), stratum-rank window
      // (date,hour), plus the tiny quota-side aggregates — the rollup
      // groupBy(user_id, session_id) must NOT add a full-table exchange,
      // which would show as an Exchange hashpartitioning(session_id...)
      assert(!p.contains("hashpartitioning(session_id"),
        s"rollup must reuse the user_id partitioning:\n$p")
    } finally sess.unpersist()
  }

  test("strict-plan guardrail rejects bare cartesians, allows declared broadcasts") {
    import org.apache.spark.sql.functions.broadcast
    val a = spark.range(0, 10).toDF("x")
    val b = spark.range(0, 10).toDF("y")
    // permissive by default — existing behavior untouched
    assert(a.crossJoin(b).count() === 100)
    spark.conf.set(graft.plans.StrictPlanCheck.Conf, "true")
    try {
      val e = intercept[Exception] { a.crossJoin(b).count() }
      assert(e.getMessage.contains("strictPlans"), s"got: ${e.getMessage}")
      // declared-bounded side passes
      assert(a.crossJoin(broadcast(b)).count() === 100)
      // equi joins unaffected
      assert(a.join(b, a("x") === b("y")).count() === 10)
      // the engine's own quota cross joins are declared ⇒ still analyze
      assert(operators.Sessions.s05StratifiedSample(spark, sf).count() > 0)
    } finally spark.conf.unset(graft.plans.StrictPlanCheck.Conf)
  }

  test("d38 consumes the corpus in ONE pass — no parquet re-scan per derivation branch") {
    // the per-(doc, bucket) feature table is eagerly materialized; the
    // weight dim, totals, and final score all derive from it, so the
    // FINAL plan must read the checkpointed feature frame, never the
    // documents parquet again (the corpus was scanned exactly once,
    // inside the materialization)
    val p = operators.LlmText.d38DsirScore(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Scan parquet"),
      s"d38's final plan must not re-scan the corpus:\n$p")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      "d38 must derive from the materialized feature table")
  }

  test("no query in the whole registry plans a CartesianProduct") {
    // building a plan is free for declarative queries; excluded are the
    // entries whose CONSTRUCTION executes work (streaming runs to
    // completion, the iterative CC loops, m09's table writes) — their
    // shapes are pinned individually elsewhere
    val excluded = Set("d14_neardup_clusters", "d17_star_clusters", "m09_bucketed_join")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(n => n.startsWith("st") || excluded(n))
    for (name <- names) {
      val p = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$name must not plan a cartesian product:\n$p")
    }
  }

  test("keyed spreadIfNarrow memoizes the decision and keeps plan behavior") {
    val par = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 1000, 1, par).toDF("id")
    assert(Tables.spreadIfNarrow(wide, "audit-wide") eq wide)
    assert(Tables.spreadIfNarrow(wide, "audit-wide") eq wide) // cached path
    val narrow = spark.range(0, 1000, 1, 1).toDF("id")
    assert(Tables.spreadIfNarrow(narrow, "audit-narrow").rdd.getNumPartitions === par)
    assert(Tables.spreadIfNarrow(narrow, "audit-narrow").rdd.getNumPartitions === par)
  }

  test("ExplainDump dumps m16's range-sorted stage, not its RDD scan") {
    val (df, note) = tools.ExplainDump.frameFor(spark, sf, "m16_global_rank").get
    assert(plan(df).contains("rangepartitioning"), s"no range exchange in the m16 frame:\n${plan(df)}")
    assert(note.contains("pre-zipWithIndex"))
    val dir = java.nio.file.Files.createTempDirectory("graft-explain-")
    try {
      tools.ExplainDump.dumpQueries(spark, sf, dir.toString, Seq("m16_global_rank"))
      val dumped = java.nio.file.Files.readString(dir.resolve("m16_global_rank.txt"))
      assert(dumped.startsWith(s"# m16_global_rank$note\n"), dumped.take(200))
      assert(dumped.contains("rangepartitioning"), dumped)
    } finally graft.streaming.Streams.dropDir(dir.toString)
  }
}
