package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.etl.Upsert
import graft.jobs.IncrementalIndex
import graft.streaming.{AdAnalytics, Streams}

/** Multi-batch streaming behavior that AvailableNow-over-one-file can't
  * exercise: batch-count invariance of the foreachBatch upsert folds and
  * cross-batch state in flatMapGroupsWithState (SURVEY ST4-ST6).
  */
class StreamingSpec extends GraftSuite {

  private def ckpt(): String =
    java.nio.file.Files.createTempDirectory("graft-test-ckpt-").toString

  test("accumulate-upsert over 3 micro-batches equals the batch aggregate") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    var store = Seq.empty[(Long, Long)].toDF("user_id", "n")
    val q = ms.toDF().toDF("user_id", "event_type")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = batch.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        val merged = Upsert.accumulate(store, delta, Seq("user_id"), "n").persist()
        merged.count()
        store = merged
        ()
      }
      .option("checkpointLocation", ckpt()).start()
    ms.addData((1L, "a"), (1L, "b"), (2L, "a"))
    q.processAllAvailable()
    ms.addData((1L, "c"))
    q.processAllAvailable()
    ms.addData((2L, "b"), (3L, "a"))
    q.processAllAvailable()
    q.stop()
    val got = store.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 2L, 3L -> 1L))
  }

  test("st18: streaming KMV sketch is micro-batch-split invariant and equals the batch sketch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.functions.{KmvSketch, Portable}
    val rng = new scala.util.Random(11)
    val rows = Seq.fill(300)(("t" + rng.nextInt(3), rng.nextInt(90).toLong))
    val K = 8
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k"), Portable.h64(col("u")).as("h"))
        .groupBy(col("k")).agg(KmvSketch.kmvValues(K)(col("h")).as("sk"))
    var n = 0
    def run(chunks: Seq[Seq[(String, Long)]]): Map[String, Seq[Long]] = {
      val ms = MemoryStream[(String, Long)]
      n += 1
      val qn = s"st18_split_$n"
      val q = agg(ms.toDF().toDF("k", "u"))
        .writeStream.outputMode("complete").format("memory").queryName(qn)
        .option("checkpointLocation", ckpt()).start()
      chunks.foreach { c => ms.addData(c: _*); q.processAllAvailable() }
      q.stop()
      val out = spark.table(qn).collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
      spark.catalog.dropTempView(qn)
      out
    }
    val oneBatch = run(Seq(rows))
    val manyBatches = run(rows.grouped(17).toSeq)
    assert(oneBatch === manyBatches,
      "streaming KMV state must not depend on the micro-batch split")
    // and the final streamed sketch IS the batch sketch over the same rows
    val batch = agg(rows.toDF("k", "u")).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(oneBatch === batch, "streamed sketch diverged from the batch sketch")
    // the retained set is bounded at K and sorted ascending (the state contract)
    oneBatch.values.foreach { sk =>
      assert(sk.length <= K)
      assert(sk === sk.sorted)
    }
  }

  test("st19: any micro-batch split in ANY order reproduces d44's batch spans") {
    import spark.implicits._
    val arrivals = docRows()
    def run(chunks: Seq[Seq[Doc]]): Seq[String] = {
      val idx = java.nio.file.Files.createTempDirectory("graft-st19-test-").toString
      streamed(chunks, docCols) { (batch, bid) =>
        IncrementalIndex.writeSubstrIndexBatch(spark, batch, idx, bid); Nil
      }
      IncrementalIndex.probeSubstrSpans(spark, idx)
        .collect().map(_.toString).sorted.toSeq
    }
    val expected = graft.operators.LlmText.d44CrossdocSpans(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(expected.nonEmpty, "fixture plants cross-doc spans")
    assert(run(arrivals.grouped(13).toSeq) === expected,
      "ascending multi-batch split diverged from d44")
    // postings appends commute, so even a SHUFFLED arrival order lands
    // the identical span table — stronger than st13's ascending contract
    val shuffled = new scala.util.Random(5).shuffle(arrivals).grouped(7).toSeq
    assert(run(shuffled) === expected, "shuffled split diverged from d44")
  }

  test("multi-metric accumulate fold is batch-split invariant (st12 shape)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(("a", 1.10), ("b", 2.25), ("a", 0.40), ("c", 5.00),
      ("b", 1.01), ("a", 3.33), ("c", 0.07), ("a", 0.99))
    def run(chunks: Seq[Seq[(String, Double)]]): Map[String, (Long, Double)] = {
      val ms = MemoryStream[(String, Double)]
      def rollup(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("k")).agg(
          count(lit(1)).as("n"),
          sum(col("v").cast("decimal(18,2)")).as("s"))
      var store = rollup(Seq.empty[(String, Double)].toDF("k", "v"))
      val q = ms.toDF().toDF("k", "v")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val merged = graft.etl.Upsert
            .accumulateAll(store, rollup(batch), Seq("k"), Seq("n", "s")).persist()
          merged.count()
          store = merged
          ()
        }
        .option("checkpointLocation", ckpt()).start()
      chunks.foreach { c => ms.addData(c: _*); q.processAllAvailable() }
      q.stop()
      store.select(col("k"), col("n"), round(col("s"), 2).cast("double").as("s"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    }
    val oneBatch = run(Seq(rows))
    val manyBatches = run(rows.grouped(2).toSeq)
    assert(oneBatch === manyBatches, "fold must not depend on the batch split")
    assert(oneBatch("a") === ((4L, 5.82)))
  }

  test("flatMapGroupsWithState carries cumulative counts across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Long]
    val updates = ms.toDS()
      .groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Long], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + it.size
          state.update(total)
          Iterator((uid, total))
      }.toDF("user_id", "total")
    var store = Seq.empty[(Long, Long)].toDF("user_id", "total")
    val q = updates.writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val merged = Upsert.overwrite(store, batch, Seq("user_id")).persist()
        merged.count()
        store = merged
        ()
      }
      .option("checkpointLocation", ckpt()).start()
    ms.addData(1L, 1L, 2L)
    q.processAllAvailable()
    ms.addData(1L, 3L)
    q.processAllAvailable()
    q.stop()
    val got = store.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
  }

  test("st suite: AvailableNow final state equals batch aggregates (smoke at sf0.001)") {
    val total = Tables.events(spark, sf).count()
    val st01 = AdAnalytics.st01ParseCount(spark, sf)
    assert(st01.agg(sum("n")).collect()(0).getLong(0) === total)
    val st04 = AdAnalytics.st04CumulativeState(spark, sf)
    assert(st04.agg(sum("total")).collect()(0).getLong(0) === total)
  }

  test("a stateful AvailableNow run forks no Hadoop Shell process (chmod/readlink per file)") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    // Shell's class init probes `setsid` once per JVM: not a per-file spawn
    Class.forName("org.apache.hadoop.util.Shell")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val out = java.nio.file.Files.createTempFile("graft-spawns-", ".jfr")
    val events = try {
      val st04 = AdAnalytics.st04CumulativeState(spark, sf)
      assert(st04.agg(sum("total")).collect()(0).getLong(0) === Tables.events(spark, sf).count())
      // a control spawn outside Hadoop: the recording does see processes
      new ProcessBuilder("true").start().waitFor()
      rec.stop()
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
    } finally { rec.close(); java.nio.file.Files.deleteIfExists(out) }
    def frames(e: jdk.jfr.consumer.RecordedEvent) =
      Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala).map(_.getMethod.getType.getName)
    assert(events.exists(_.getString("command").startsWith("true")), "control spawn not recorded")
    val shell = events.filter(e => frames(e).contains("org.apache.hadoop.util.Shell"))
    assert(shell.isEmpty,
      shell.take(3).map(_.getString("command")).mkString(s"${shell.size} Shell spawns, e.g. ", "; ", ""))
  }

  test("building a table stream starts no job once the input's schema is resolved") {
    Streams.tableStream(spark, sf, "events")
    assert(SparkTestBase.jobsStartedBy(Streams.tableStream(spark, sf, "events")) === 0)
  }

  test("a warm st17 call runs 7 jobs: no schema inference, one checkpoint per batch") {
    // a schema-inference job per fixture, stream and bench-store read,
    // or a second checkpoint of the probe's verdicts, would add to it
    AdAnalytics.st17StreamingDecontamination(spark, sf).collect()
    assert(SparkTestBase.jobsStartedBy(
      AdAnalytics.st17StreamingDecontamination(spark, sf).collect()) === 7)
  }

  test("a warm st23 call runs 9 jobs: the bloom table is memoized and read with its schema in one collect") {
    // st17's 7, the memoized bloom table's parquet write, and one collect
    // of geometry and words per batch; rebuilding the table, a
    // schema-inference job or a separate geometry read would add to it
    AdAnalytics.st23StreamingBloom(spark, sf).collect()
    assert(SparkTestBase.jobsStartedBy(
      AdAnalytics.st23StreamingBloom(spark, sf).collect()) === 9)
  }

  test("st04, st05 and st17 leave no cached store behind: nothing piles up across calls") {
    // the benchmark harness's settle: GC twice, then read the persistent
    // RDDs and the storage memory the block manager holds
    val sc = spark.sparkContext
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // package-private in Scala, a public method in the bytecode
    def cachedEntries(): Int =
      cache.getClass.getMethod("numCachedEntries").invoke(cache).asInstanceOf[Int]
    def settle(): (Int, Long) = {
      System.gc(); Thread.sleep(400); System.gc(); Thread.sleep(400)
      (sc.getPersistentRDDs.size,
        sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum)
    }
    def pass(): Unit = {
      AdAnalytics.st04CumulativeState(spark, sf).collect()
      AdAnalytics.st05ThresholdPromote(spark, sf).collect()
      AdAnalytics.st17StreamingDecontamination(spark, sf).collect()
    }
    val cachedBefore = cachedEntries()
    pass() // the first call fills the stored-artifact memos st17 reads
    val (rddsBase, storageBase) = settle()
    pass(); pass()
    assert(cachedEntries() === cachedBefore,
      "the streaming runs left CacheManager entries (a persisted store)")
    // poll for a bounded time while ContextCleaner drops unreachable checkpoints
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var (rdds, storage) = settle()
    while ((rdds > rddsBase || storage > storageBase) && System.nanoTime() < deadline) {
      val now = settle(); rdds = now._1; storage = now._2
    }
    assert(rdds <= rddsBase, s"${rdds - rddsBase} persistent RDDs piled up over two more calls")
    assert(storage <= storageBase, s"${storage - storageBase} bytes of storage piled up")
  }

  test("st08: session_window boundary semantics — a gap of exactly the duration still merges") {
    import spark.implicits._
    // user 1: two events exactly 1800 s apart -> ONE session (touching
    // windows coalesce: Spark's merge condition is inclusive); user 2:
    // 1801 s apart -> TWO. This pins the `>`-on-the-gap contract
    // st08's oracle encodes — measured, not assumed (the oracle
    // originally said `>=`, which this test refuted) — so a Spark-side
    // semantics change in session_window surfaces as a test failure,
    // not as silent oracle drift.
    val base = 1700000000L
    val ev = Seq(
      (1L, base), (1L, base + 1800L),
      (2L, base), (2L, base + 1801L)).toDF("user_id", "sec")
      .withColumn("t", col("sec").cast("timestamp"))
    val sess = ev.groupBy(col("user_id"), session_window(col("t"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sess === Map(1L -> 1L, 2L -> 2L))
  }

  test("st08: streamed final state equals the batch session_window recompute") {
    val streamed = AdAnalytics.st08SessionWindow(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Tables.events(spark, sf)
      .withColumn("t", expr("timestamp_micros(ts div 1000)"))
      .groupBy(col("user_id"), session_window(col("t"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").cast("long"),
        col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("st11: streaming CMS grid is bounded and conserves every increment") {
    import graft.operators.Misc.{CmsRows, CmsWidth}
    val cells = AdAnalytics.st11CmsCells(spark, sf).collect()
    // state bound: at most d·w cells no matter how many distinct users
    assert(cells.length <= CmsRows * CmsWidth)
    assert(cells.map(r => (r.getLong(0), r.getLong(1))).distinct.length === cells.length)
    // conservation: every event increments exactly one cell in each row
    val total = Tables.events(spark, sf).count()
    val perRow = cells.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    assert(perRow.keySet === (0L until CmsRows).toSet)
    perRow.foreach { case (j, s) => assert(s === total, s"row $j loses increments") }
  }

  test("ST9: watermark drops late data in append-mode windows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Long] // event time as epoch seconds
    val agg = ms.toDF().toDF("sec")
      .withColumn("t", expr("timestamp_seconds(sec)"))
      .withWatermark("t", "5 minutes")
      .groupBy(window(col("t"), "10 minutes"))
      .count()
      .select(col("window.start").cast("long").as("ws"), col("count"))
    val qn = "graft_wm_test"
    val q = agg.writeStream.format("memory").queryName(qn)
      .outputMode("append")
      .option("checkpointLocation", ckpt()).start()
    ms.addData(600L, 1800L)  // watermark advances to 1800s - 5min = 1500s
    q.processAllAvailable()
    ms.addData(0L)           // LATE: window [0,600) closed at watermark 1500
    ms.addData(3600L)        // advances watermark, finalizing earlier windows
    q.processAllAvailable()
    ms.addData(7200L)        // flush finalized windows through append mode
    q.processAllAvailable()
    q.stop()
    val out = spark.table(qn).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.get(600L).contains(1L), s"on-time window missing: $out")
    assert(!out.contains(0L), s"late event's window must be dropped: $out")
  }

  test("sliding window: each event lands in exactly 4 window instances") {
    val total = Tables.events(spark, sf).count()
    val windowed = AdAnalytics.st02SlidingWindow(spark, sf)
    assert(windowed.agg(sum("n")).collect()(0).getLong(0) === total * 4)
  }

  test("ST2 depth: a NEW query resumes cumulative state from the same checkpoint") {
    // the reference's operational story is a restartable checkpointed
    // job (AdverStat.scala:71-73): stop the query, start a fresh one on
    // the SAME checkpoint, and keyed state must RESUME, not restart
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Long]
    val cp = ckpt()
    val latest = scala.collection.concurrent.TrieMap.empty[Long, Long]
    def cumulative = ms.toDS()
      .groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Long], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + it.size
          state.update(total)
          Iterator((uid, total))
      }.toDF("user_id", "total")
    // sink keeps the LATEST total per key — update-mode emissions are
    // cumulative snapshots, so a post-restart batch replay (offsets not
    // yet committed when the first query stopped) lands on the same value
    def start() = cumulative.writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r => latest(r.getLong(0)) = r.getLong(1))
        ()
      }
      .option("checkpointLocation", cp).start()
    val q1 = start()
    ms.addData(1L, 1L, 2L)
    q1.processAllAvailable()
    ms.addData(1L)
    q1.processAllAvailable()
    q1.stop()
    val q2 = start() // NEW query object, same checkpoint
    ms.addData(1L, 2L)
    q2.processAllAvailable()
    ms.addData(3L)
    q2.processAllAvailable()
    q2.stop()
    // u1: 3 before the restart + 1 after = 4 — only if state resumed
    assert(latest.toMap === Map(1L -> 4L, 2L -> 2L, 3L -> 1L))
  }

  test("foreachBatch store lineage stays bounded across ~50 micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Long]
    val empty = Seq.empty[(Long, Long)].toDF("user_id", "n")
    val fold = new Streams.StoreFold(empty, (store, batch, _) => {
      val delta = batch.groupBy(col("value")).agg(count(lit(1)).as("n"))
        .toDF("user_id", "n")
      Upsert.accumulate(store, delta, Seq("user_id"), "n")
    })
    val q = ms.toDF().writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) => fold(batch, id) }
      .option("checkpointLocation", ckpt()).start()
    val plans = (1 to 50).map { i =>
      ms.addData(i.toLong % 7)
      q.processAllAvailable()
      fold.store.queryExecution.analyzed
    }
    q.stop()
    // every merge stacks nodes on the previous store's plan; the fold
    // localCheckpoints each merged store, so after EVERY batch the
    // store's plan is one LogicalRDD leaf — its depth cannot grow
    val notLeaf = plans.zipWithIndex.collect {
      case (p, i) if !p.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD] ||
        p.children.nonEmpty => s"batch ${i + 1}: ${p.nodeName}"
    }
    assert(notLeaf.isEmpty, s"store plan is not a single LogicalRDD leaf: $notLeaf")
    // and the fold still computes the right totals
    val got = fold.store.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (1 to 50).map(_.toLong % 7).groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got === want)
  }

  test("statePartitions lever: identical results at 4 and 32, session conf restored") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    def rows() = AdAnalytics.st09StreamStreamJoin(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val atDefault = rows() // default lever = 4
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before,
      "runner must restore the session shuffle-partition conf")
    spark.conf.set("spark.graft.streaming.statePartitions", "32")
    try assert(rows() === atDefault,
      "stream-stream join rows must not depend on the state-partition count")
    finally spark.conf.unset("spark.graft.streaming.statePartitions")
  }

  private type Doc = (Long, String, String, String, Long)
  private type Vec = (Long, Seq[Float], Int)
  private val docCols = Seq("doc_id", "text", "lang", "source", "n_chars")
  private val vecCols = Seq("vec_id", "embedding", "label")

  /** The fixture's documents as stream rows, ascending by id. */
  private def docRows(): Seq[Doc] = Tables.documents(spark, sf)
    .select(docCols.map(col): _*).collect()
    .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    .toSeq.sortBy(_._1)

  /** The fixture's vectors as stream rows, ascending by id. */
  private def vecRows(): Seq[Vec] = Tables.embeddings(spark, sf)
    .select(vecCols.map(col): _*).collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    .toSeq.sortBy(_._1)

  private def thirds[A](xs: Seq[A]): Seq[Seq[A]] = xs.grouped((xs.length + 2) / 3).toSeq

  private def textVerdict(r: Row) = (r.getLong(0), r.getLong(1), r.getBoolean(2))
  private def cellVerdict(r: Row) = (r.getInt(0), r.getLong(1), r.getLong(2), r.getBoolean(3))
  private def edge(r: Row) = (r.getLong(0), r.getLong(1), r.getInt(3))

  /** Streams `chunks` through one MemoryStream, one micro-batch per
    * chunk, into a query's per-batch `step`; returns every row the step
    * emitted. */
  private def streamed[A: Encoder](chunks: Seq[Seq[A]], names: Seq[String])(
      step: (DataFrame, Long) => Seq[Row]): Seq[Row] = {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    val ms = MemoryStream[A]
    val out = scala.collection.mutable.Buffer.empty[Row]
    val q = ms.toDF().toDF(names: _*).writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, bid: Long) => out ++= step(batch, bid); () }
      .option("checkpointLocation", ckpt()).start()
    chunks.foreach { c => ms.addData(c: _*); q.processAllAvailable() }
    q.stop()
    out.toSeq
  }

  /** Walks the cause chain for the poison marker — the streaming
    * wrapper buries the thrown exception a few levels deep. */
  private def hasPoison(t: Throwable): Boolean =
    t != null && (Option(t.getMessage).exists(_.contains("poison-after-append"))
      || hasPoison(t.getCause))

  /** A stream that outlives its runs: one MemoryStream and one stable
    * checkpoint, so each AvailableNow run resumes after the last
    * committed batch. Every delivery of a batch to the query's `step` is
    * kept as (batch id, emitted rows). A run with `crash` throws after
    * the step returns: its writes have landed, its offsets never
    * commit — the window in which a naive append duplicates. */
  private class Restartable[A: Encoder](names: Seq[String])(
      step: (DataFrame, Long) => Seq[Row]) {
    private implicit val sqlCtx: SQLContext = spark.sqlContext
    private val ms = MemoryStream[A]
    private val cp = ckpt()
    val deliveries = scala.collection.mutable.Buffer.empty[(Long, Seq[Row])]

    def run(chunk: Seq[A], crash: Boolean = false): Unit = {
      if (chunk.nonEmpty) ms.addData(chunk: _*)
      val q = ms.toDF().toDF(names: _*).writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          deliveries += bid -> step(batch, bid)
          if (crash) throw new RuntimeException("poison-after-append")
          ()
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      if (crash) {
        val e = intercept[Exception] { q.awaitTermination() }
        assert(hasPoison(e), s"expected the poison crash, got $e")
      } else q.awaitTermination()
    }
  }

  /** The crash every ingest step must survive: batch 0 commits, batch 1
    * crashes after its step, recovery replays batch 1 under the SAME id
    * (foreachBatch commits offsets after the callback), then the
    * remaining chunks run. `crashed` runs between the crash and the
    * replay. Returns every delivery, in order. */
  private def crashReplay[A: Encoder](chunks: Seq[Seq[A]], names: Seq[String])(
      step: (DataFrame, Long) => Seq[Row],
      crashed: () => Unit = () => ()): Seq[(Long, Seq[Row])] = {
    val stream = new Restartable[A](names)(step)
    stream.run(chunks(0))
    stream.run(chunks(1), crash = true)
    crashed()
    stream.run(Nil)
    chunks.drop(2).foreach(stream.run(_))
    stream.deliveries.toSeq
  }

  /** Batch 1 ran twice, crashed then replayed, and the replay emitted
    * exactly the first run's rows: the probe saw the store as of the
    * last COMMITTED batch, not its own crashed append. */
  private def assertReplayed(deliveries: Seq[(Long, Seq[Row])]): Unit = {
    val b1 = deliveries.collect { case (1L, rows) => rows.toSet }
    assert(b1.size === 2 && b1.head.nonEmpty,
      s"batch 1 must emit rows, crash and replay: ${b1.map(_.size)}")
    assert(b1(1) === b1(0), "the replayed batch's rows diverged from its first run")
  }

  /** `table` in the streamed store equals the one-shot build's, as a
    * bag: no replay duplicates, nothing lost. */
  private def assertSameStore(idx: String, oneShot: String, table: String): Unit = {
    val a = spark.read.parquet(s"$idx/$table").drop("bid")
    val b = spark.read.parquet(s"$oneShot/$table").drop("bid")
    val (na, nb) = (a.count(), b.count())
    assert(na === nb, s"$table holds $na rows, the one-shot build $nb")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$table rows differ from the one-shot build")
  }

  test("st13: every ascending micro-batch split reproduces d30's batch verdicts") {
    import spark.implicits._
    val mod = graft.operators.LlmText.IncrementalBatchMod
    val docs = docRows()
    val corpusDf = docs.filter(_._1 % mod != 0).toDF(docCols: _*)
    val arrivals = docs.filter(_._1 % mod == 0)
    val expected = graft.operators.LlmText.d30IncrementalDedup(spark, sf).collect()
      .map(textVerdict).toSet

    def run(chunks: Seq[Seq[Doc]]): Set[(Long, Long, Boolean)] = {
      val indexDir = java.nio.file.Files.createTempDirectory("st13-spec-idx-").toString
      IncrementalIndex.writeTextIndexBatch(spark, corpusDf, indexDir, batchId = -1L)
      streamed(chunks, docCols) { (batch, bid) =>
        IncrementalIndex.ingestTextBatch(spark, batch, indexDir, bid).collect().toSeq
      }.map(textVerdict).toSet
    }

    assert(run(Seq(arrivals)) === expected, "single-batch stream diverged from d30")
    assert(run(arrivals.grouped(17).toSeq) === expected,
      "3-batch ascending split diverged from d30")
    assert(run(arrivals.grouped(7).toSeq) === expected,
      "8-batch ascending split diverged from d30")
  }

  test("st17: any micro-batch split in any order reproduces d18's batch verdicts") {
    import spark.implicits._
    val mod = graft.operators.LlmText.ContaminationMod
    val docs = docRows()
    val benchDf = docs.filter(_._1 % mod == 0).toDF(docCols: _*)
    val arrivals = docs.filter(_._1 % mod != 0)
    val expected = graft.operators.LlmText.d18Contamination(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected.nonEmpty, "fixture must plant benchmark overlap")

    def run(chunks: Seq[Seq[Doc]]): Set[(Long, Long, Long)] = {
      val indexDir = java.nio.file.Files.createTempDirectory("st17-spec-idx-").toString
      IncrementalIndex.writeBenchIndex(spark, benchDf, indexDir)
      streamed(chunks, docCols) { (batch, _) =>
        IncrementalIndex.probeBench(spark, batch, indexDir).collect().toSeq
      }.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }

    assert(run(Seq(arrivals)) === expected, "single-batch stream diverged from d18")
    assert(run(arrivals.grouped(31).toSeq) === expected,
      "multi-batch ascending split diverged from d18")
    // no cross-batch state ⇒ order must not matter — shuffle the chunks
    val shuffled = new scala.util.Random(7).shuffle(arrivals.grouped(23).toSeq)
    assert(run(shuffled) === expected, "shuffled split diverged from d18")
  }

  test("st23: the bloom-prefiltered probe keeps st17's any-split/any-order equivalence") {
    import spark.implicits._
    import graft.functions.BloomFilter
    val mod = graft.operators.LlmText.ContaminationMod
    val docs = docRows()
    val benchDf = docs.filter(_._1 % mod == 0).toDF(docCols: _*)
    val arrivals = docs.filter(_._1 % mod != 0)
    val expected = graft.operators.LlmText.d18Contamination(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected.nonEmpty, "fixture must plant benchmark overlap")

    def run(chunks: Seq[Seq[Doc]]): Set[(Long, Long, Long)] = {
      val indexDir = java.nio.file.Files.createTempDirectory("st23-spec-idx-").toString
      IncrementalIndex.writeBenchIndex(spark, benchDf, indexDir)
      IncrementalIndex.writeBloomIndex(spark, benchDf, indexDir,
        BloomFilter.DefaultBits, BloomFilter.DefaultK)
      streamed(chunks, docCols) { (batch, _) =>
        IncrementalIndex.probeBenchBloom(spark, batch, indexDir).collect().toSeq
      }.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }

    assert(run(arrivals.grouped(31).toSeq) === expected,
      "multi-batch ascending split diverged from d18")
    val shuffled = new scala.util.Random(11).shuffle(arrivals.grouped(23).toSeq)
    assert(run(shuffled) === expected, "shuffled split diverged from d18")
  }

  /** st16's truth: all-pairs brute force over (history ∪ lower-id)
    * partners — exact because the banding is pigeonhole-complete at the
    * radius. */
  private def phashVerdicts(docs: Seq[Doc], mod: Long): Set[(Long, Long, Boolean)] = {
    def jvmPhash(t: String): Long = {
      val st = math.max(1, t.length / 64)
      var h = 0L
      for (j <- 0 until 64) {
        val pos = j * st
        if (pos < t.length && t.codePointAt(pos) % 2 == 1) h |= 1L << j
      }
      h
    }
    val hashes = docs.map(d => d._1 -> jvmPhash(d._2)).toMap
    docs.filter(_._1 % mod == 0).map { case (id, _, _, _, _) =>
      val n = docs.count { case (o, _, _, _, _) =>
        o != id && (o % mod != 0 || o < id) &&
          java.lang.Long.bitCount(hashes(o) ^ hashes(id)) <=
            graft.operators.Multimodal.PhashMaxHamming
      }
      (id, n.toLong, n > 0)
    }.toSet
  }

  test("st16: every ascending micro-batch split reproduces the all-pairs phash verdicts") {
    import spark.implicits._
    val mod = graft.operators.LlmText.IncrementalBatchMod
    val docs = docRows()
    val corpusDf = docs.filter(_._1 % mod != 0).toDF(docCols: _*)
    val arrivals = docs.filter(_._1 % mod == 0)
    val expected = phashVerdicts(docs, mod)

    def run(chunks: Seq[Seq[Doc]]): Set[(Long, Long, Boolean)] = {
      val indexDir = java.nio.file.Files.createTempDirectory("st16-spec-idx-").toString
      IncrementalIndex.writeMediaIndex(spark, corpusDf, indexDir)
      streamed(chunks, docCols) { (batch, bid) =>
        IncrementalIndex.ingestMediaBatch(spark, batch, indexDir, bid).collect().toSeq
      }.map(textVerdict).toSet
    }

    assert(run(Seq(arrivals)) === expected, "single-batch stream diverged from brute force")
    assert(run(arrivals.grouped(13).toSeq) === expected,
      "4-batch ascending split diverged from brute force")
  }

  /** Non-hidden data files under a store dir → (path, size, mtime).
    * `_SUCCESS` markers are excluded: parquet append jobs rewrite them
    * at the root, which is metadata churn, not data rewrite. */
  private def storeFiles(dir: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    val it = java.nio.file.Files.walk(root)
    try it.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .filterNot(p => p.getFileName.toString.startsWith("_") ||
        p.getFileName.toString.startsWith("."))
      .map(p => p.toString ->
        (java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis))
      .toMap
    finally it.close()
  }

  test("st13: a restart on the same checkpoint + index dir resumes — no refold, no index rewrite") {
    import spark.implicits._
    val mod = graft.operators.LlmText.IncrementalBatchMod
    val docs = docRows()
    val corpusDf = docs.filter(_._1 % mod != 0).toDF(docCols: _*)
    val arrivals = docs.filter(_._1 % mod == 0)
    val expected = graft.operators.LlmText.d30IncrementalDedup(spark, sf).collect()
      .map(textVerdict).toSet
    val indexDir = java.nio.file.Files.createTempDirectory("st13-resume-idx-").toString
    IncrementalIndex.writeTextIndexBatch(spark, corpusDf, indexDir, batchId = -1L)
    // one checkpoint STABLE across both runs — the resume contract
    val stream = new Restartable[Doc](docCols)((batch, bid) =>
      IncrementalIndex.ingestTextBatch(spark, batch, indexDir, bid).collect().toSeq)
    def verdictsFrom(n: Int) = stream.deliveries.drop(n).flatMap(_._2).map(textVerdict).toSet
    // run 1: first chunk of arrivals lands in the store, then STOP
    val (chunkA, chunkB) = arrivals.splitAt(arrivals.length / 2)
    stream.run(chunkA)
    val gotA = verdictsFrom(0)
    assert(gotA.map(_._1) === chunkA.map(_._1).toSet,
      "run 1 must verdict exactly its own arrivals")
    val before = storeFiles(indexDir)
    // run 2: NEW query, same checkpoint + same (already-populated) index
    // dir — must process ONLY the remaining arrivals: nothing refolds,
    // nothing re-probes, and no already-written index file is touched
    val n = stream.deliveries.size
    stream.run(chunkB)
    val gotB = verdictsFrom(n)
    assert(gotB.map(_._1) === chunkB.map(_._1).toSet,
      "resume must probe only the un-processed arrivals")
    assert(gotA ++ gotB === expected,
      "the two runs' verdicts must equal the one-shot d30 recompute")
    val after = storeFiles(indexDir)
    before.foreach { case (path, stamp) =>
      assert(after.get(path).contains(stamp),
        s"resume rewrote an existing index file: $path")
    }
    assert(after.size > before.size, "run 2 must append its own index entries")
  }

  test("st21: any micro-batch split in ANY order reproduces e23's batch answers") {
    // the st17 contract class: the probe is a pure function of (batch,
    // frozen store) — no cross-batch state, no append-back — so any
    // split in any order must land the identical answer table
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("st21-spec-idx-").toString
    val all = Tables.embeddings(spark, sf)
    IncrementalIndex.writeServePair(spark, sf, idx)
    val queries = all.where(col("vec_id") % 5 === 0)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val shuffled = new scala.util.Random(13).shuffle(queries.toSeq)
    val chunks = shuffled.grouped(math.max(1, shuffled.length / 3 + 1)).toSeq
    val got = chunks.flatMap { chunk =>
      val batch = chunk.toDF("vec_id", "embedding", "label")
      IncrementalIndex.probeGraphServe(spark, batch, idx).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    }.toSet
    val expected = graft.operators.Embeddings.e23GraphServe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got === expected,
      "shuffled-split stored-store probes must equal the batch e23 answers")
  }

  test("st19: crash after an uncommitted append replays idempotently — store equals the one-shot build") {
    // the exactly-once-under-recovery property a deployment leans on:
    // foreachBatch commits offsets AFTER the callback, so a crash
    // between append and commit re-delivers the batch with the SAME id;
    // the bid-keyed partition overwrite absorbs the replay
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("st19-crash-idx-").toString
    var crashed = Map.empty[String, (Long, Long)]
    crashReplay(thirds(docRows()), docCols)({ (batch, bid) =>
      IncrementalIndex.writeSubstrIndexBatch(spark, batch, idx, bid); Nil
    }, () => {
      crashed = storeFiles(idx).filter(_._1.contains("bid=1"))
      assert(crashed.nonEmpty, "the crashed run must have appended its partition")
    })
    val replayed = storeFiles(idx).filter(_._1.contains("bid=1"))
    assert(replayed.nonEmpty && replayed != crashed,
      "recovery must rewrite the replayed batch's partition (offsets were uncommitted)")
    // the store equals the one-shot batch build: no duplicated postings
    // (a naive append would double batch 1's), none lost
    val oneShot = java.nio.file.Files.createTempDirectory("st19-crash-oneshot-").toString
    IncrementalIndex.writeSubstrIndexBatch(spark, Tables.documents(spark, sf), oneShot, -1L)
    assertSameStore(idx, oneShot, IncrementalIndex.RhPostings)
    // and the serving readout agrees with the memo-path query
    val spansGot = IncrementalIndex.probeSubstrSpans(spark, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val spansWant = graft.operators.LlmText.d44CrossdocSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(spansGot === spansWant, "span readout diverged after crash recovery")
  }

  test("st13: crash-replayed batch re-probes the pre-crash store (exceptBid) and re-appends idempotently") {
    import spark.implicits._
    val mod = graft.operators.LlmText.IncrementalBatchMod
    val docs = docRows()
    val expected = graft.operators.LlmText.d30IncrementalDedup(spark, sf).collect()
      .map(textVerdict).toSet
    val idx = java.nio.file.Files.createTempDirectory("st13-crash-idx-").toString
    IncrementalIndex.writeTextIndexBatch(spark, docs.filter(_._1 % mod != 0).toDF(docCols: _*),
      idx, batchId = -1L)
    // exceptBid: on a replay the store ALREADY holds this batch's crashed
    // append — the probe must see the store as of the last COMMITTED
    // batch or every doc would self-match
    val deliveries = crashReplay(thirds(docs.filter(_._1 % mod == 0)), docCols)(
      (batch, bid) => IncrementalIndex.ingestTextBatch(spark, batch, idx, bid).collect().toSeq)
    // at-least-once emission with identical values, which set-union
    // absorbs into exactly-once verdicts
    assertReplayed(deliveries)
    assert(deliveries.flatMap(_._2).map(textVerdict).toSet === expected,
      "post-recovery verdicts must equal the one-shot d30 recompute")
    // and the index store equals the one-shot build (bands/shingles are
    // per-doc pure functions, so one write over all docs is the batch-
    // composition-free reference)
    val oneShot = java.nio.file.Files.createTempDirectory("st13-crash-oneshot-").toString
    IncrementalIndex.writeTextIndexBatch(spark, Tables.documents(spark, sf), oneShot, -1L)
    for (t <- Seq(IncrementalIndex.TextBands, IncrementalIndex.TextShingles))
      assertSameStore(idx, oneShot, t)
  }

  test("st22: any ascending split + a crash-replay reproduces the one-shot insert edges") {
    // the online-insert contract: each arrival's edge list is a pure
    // function of (itself, the earlier-id set, the frozen bootstrap
    // graph), so the final edge table must equal the single-batch
    // recompute for ANY ascending split — including a batch that
    // appended, crashed before its offsets committed, and replayed
    // (exceptBid hides its own crashed bucket append)
    import spark.implicits._
    val modE = graft.operators.Embeddings.IncrementalBatchModE
    val vecs = vecRows()
    val corpusDf = vecs.filter(_._1 % modE != 0).toDF(vecCols: _*)
    val arrivals = vecs.filter(_._1 % modE == 0)
    // one-shot reference: a fresh store, all arrivals in ONE probe
    val oneIdx = java.nio.file.Files.createTempDirectory("st22-oneshot-").toString
    IncrementalIndex.writeLshIndexBatch(spark, corpusDf, oneIdx, batchId = -1L)
    IncrementalIndex.writeGraphBootstrapBatch(spark, corpusDf, oneIdx)
    val expected = IncrementalIndex.probeGraphInsert(spark, arrivals.toDF(vecCols: _*), oneIdx)
      .collect().map(edge).toSet
    // streamed: three batches, batch 1 crashes after its appends
    val idx = java.nio.file.Files.createTempDirectory("st22-crash-idx-").toString
    IncrementalIndex.writeLshIndexBatch(spark, corpusDf, idx, batchId = -1L)
    IncrementalIndex.writeGraphBootstrapBatch(spark, corpusDf, idx)
    val deliveries = crashReplay(thirds(arrivals), vecCols)(
      (batch, bid) => IncrementalIndex.ingestGraphBatch(spark, batch, idx, bid).collect().toSeq)
    assertReplayed(deliveries)
    assert(deliveries.flatMap(_._2).map(edge).toSet === expected,
      "streamed insert edges diverged from the one-shot recompute")
    // and the stored edge table equals the emitted union (bootstrap
    // partition aside) — what later serving reads
    val storedEdges = spark.read.parquet(s"$idx/${IncrementalIndex.GraphEdges}")
      .where(col("bid") >= 0)
      .collect().map(edge).toSet
    assert(storedEdges === expected, "stored edges diverged from the emitted union")
  }

  test("st24: any retraction split + a crash-replay reproduces the batch e24 serve") {
    // tombstones are a SET: the union of the bid partitions equals the
    // full retraction set for any split in any order, application is an
    // anti-join duplicates cannot perturb, and a crash-replayed batch
    // overwrites its own bid partition — so the drained readout must be
    // row-identical to the in-JVM batch form (e24) however the stream
    // delivered the deletes
    import spark.implicits._
    import graft.operators.Embeddings
    val expected = Embeddings.e24TombstoneServe(spark, sf)
      .collect().map(edge).toSet
    val idx = java.nio.file.Files.createTempDirectory("st24-crash-idx-").toString
    IncrementalIndex.writeServePair(spark, sf, idx)
    val dels = Tables.embeddings(spark, sf)
      .where(col("vec_id") % Embeddings.VecTombMod === Embeddings.VecTombRem)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    // deliver out of ascending order: retraction order must not matter
    crashReplay(thirds(dels.reverse.toSeq), Seq("vec_id")) { (batch, bid) =>
      IncrementalIndex.writeVecTombstonesBatch(spark, batch, idx, bid); Nil
    }
    // stored retraction set = the delivered set, no replay duplicates
    val stored = spark.read
      .parquet(s"$idx/${IncrementalIndex.VecTombstones}")
    assert(stored.count() === dels.length.toLong,
      "crash-replay duplicated tombstone rows — bid overwrite failed")
    assert(stored.select("vec_id").collect().map(_.getLong(0)).sorted
      .sameElements(dels), "stored retraction ids differ from the delivered set")
    val got = IncrementalIndex.probeGraphServeLive(spark, idx)
      .collect().map(edge).toSet
    assert(got === expected,
      "streamed-retraction serve diverged from the batch e24 form")
  }

  test("st25: bridge + crash-replay reproduce the one-shot clusters") {
    // constructed corpus exercising every path of the union-find-as-log
    // design: P-family docs where arrival E (id 10) BRIDGES the
    // bootstrap component {3,11} with the bootstrap singleton 7 (the
    // merge event that appends a remap row), a second arrival wave
    // where 30 matches the PREVIOUS batch's unmatched arrival 20 (the
    // previously-singleton store-doc labeling path) and 40 re-attaches
    // to the merged component, plus an untouched corpus doc 13 that
    // must stay absent (d14's singleton exclusion)
    import spark.implicits._
    val p = (0 until 18).map(i => s"w$i").mkString(" ")   // 16 word-trigrams
    val bTxt = s"$p bxa bxb bxc"                          // jacc(E,B)=16/19≈.84 ≥ .8
    val dTxt = s"$p dya dyb dyc"                          // jacc(B,D)=16/22≈.73 < .8
    val u2 = (0 until 18).map(i => s"u$i").mkString(" ")
    def row(id: Long, t: String): Doc = (id, t, "en", "t", t.length.toLong)
    val corpus = Seq(row(3, bTxt), row(7, dTxt), row(11, bTxt), row(13,
      (0 until 18).map(i => s"z$i").mkString(" "))).toDF(docCols: _*)
    val arrivals = Seq(row(10, p), row(20, u2), row(30, u2), row(40, p))
    // one-shot reference: bootstrap over everything at once
    val oneIdx = java.nio.file.Files.createTempDirectory("st25-oneshot-").toString
    IncrementalIndex.writeClusterBootstrap(spark,
      corpus.unionByName(arrivals.toDF(docCols: _*)), oneIdx)
    val expected = IncrementalIndex.resolveClusterLabels(spark, oneIdx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected === Set((3L, 3L), (7L, 3L), (10L, 3L), (11L, 3L), (40L, 3L),
      (20L, 20L), (30L, 20L)),
      "the constructed corpus must produce the designed components")
    // streamed: two ascending batches (10 bridges, 20 floats; then 30
    // and 40), batch 1 crashes after its appends and replays
    val idx = java.nio.file.Files.createTempDirectory("st25-crash-idx-").toString
    IncrementalIndex.writeClusterBootstrap(spark, corpus, idx)
    crashReplay(Seq(arrivals.take(2), arrivals.drop(2)), docCols) { (batch, bid) =>
      IncrementalIndex.applyClusterBatch(spark, batch, idx, bid); Nil
    }
    val got = IncrementalIndex.resolveClusterLabels(spark, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected, "streamed labels diverged from the one-shot clustering")
    // the bridge REALLY happened: label 7 lost to 3 via a merge-event row
    val remaps = spark.read.parquet(s"$idx/${IncrementalIndex.LabelRemaps}")
    assert(remaps.where(col("src") === 7 && col("dst") === 3).count() === 1L,
      "expected exactly one 7→3 merge event in the remap log")
  }

  test("st14: a restart on the same checkpoint + index dir resumes — no refold, no index rewrite") {
    import spark.implicits._
    val mod = graft.operators.Embeddings.IncrementalBatchModE
    val vecs = vecRows()
    val corpusDf = vecs.filter(_._1 % mod != 0).toDF(vecCols: _*)
    val arrivals = vecs.filter(_._1 % mod == 0)
    val expected = graft.operators.Embeddings.e09IncrementalSemDedup(spark, sf).collect()
      .map(cellVerdict).toSet
    val indexDir = java.nio.file.Files.createTempDirectory("st14-resume-idx-").toString
    IncrementalIndex.writeCellIndex(spark, corpusDf, indexDir,
      centroidTrain = Some(Tables.embeddings(spark, sf)))
    val stream = new Restartable[Vec](vecCols)((batch, bid) =>
      IncrementalIndex.ingestCellBatch(spark, batch, indexDir, bid).collect().toSeq)
    def verdictsFrom(n: Int) = stream.deliveries.drop(n).flatMap(_._2).map(cellVerdict).toSet
    val (chunkA, chunkB) = arrivals.splitAt(arrivals.length / 2)
    stream.run(chunkA)
    val gotA = verdictsFrom(0)
    assert(gotA.map(_._2) === chunkA.map(_._1).toSet,
      "run 1 must verdict exactly its own arrivals")
    val before = storeFiles(indexDir)
    val n = stream.deliveries.size
    stream.run(chunkB)
    val gotB = verdictsFrom(n)
    assert(gotB.map(_._2) === chunkB.map(_._1).toSet,
      "resume must probe only the un-processed arrivals")
    assert(gotA ++ gotB === expected,
      "the two runs' verdicts must equal the one-shot e09 recompute")
    val after = storeFiles(indexDir)
    before.foreach { case (path, stamp) =>
      assert(after.get(path).contains(stamp),
        s"resume rewrote an existing index file: $path")
    }
    assert(after.size > before.size, "run 2 must append its own member rows")
  }

  test("st15: every micro-batch split lands the same frozen-quantizer codes as the batch encode") {
    import spark.implicits._
    val mod = graft.operators.Embeddings.IncrementalBatchModE
    val vecs = vecRows()
    val histDf = vecs.filter(_._1 % mod != 0).toDF(vecCols: _*)
    val arrivals = vecs.filter(_._1 % mod == 0)
    // every stored code row, duplicates kept: a Map would hide a row
    // landed twice
    def snapshot(indexDir: String): Seq[(Long, Seq[Long])] =
      spark.read.parquet(s"$indexDir/${IncrementalIndex.SqCodes}")
        .select("vec_id", "codes").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toSeq.sortBy(_._1)

    def run(chunks: Seq[Seq[Vec]]): Seq[(Long, Seq[Long])] = {
      val indexDir = java.nio.file.Files.createTempDirectory("st15-spec-idx-").toString
      IncrementalIndex.writeSqIndex(spark, histDf, histDf, indexDir)
      streamed(chunks, vecCols) { (batch, bid) =>
        IncrementalIndex.ingestSqBatch(spark, batch, indexDir, bid); Nil
      }
      snapshot(indexDir)
    }

    val single = run(Seq(arrivals))
    assert(single.size === vecs.length, "store = history + every arrival, each encoded once")
    val split = run(arrivals.grouped(13).toSeq)
    assert(split === single,
      "a 4-batch split must land byte-identical codes (per-row encode, frozen quantizer)")
    // frozen-quantizer contract: history rows keep the codes the build wrote
    val buildDir = java.nio.file.Files.createTempDirectory("st15-spec-build-").toString
    IncrementalIndex.writeSqIndex(spark, histDf, histDf, buildDir)
    val singleCodes = single.toMap
    snapshot(buildDir).foreach { case (id, c) => assert(singleCodes(id) === c,
      s"history vec $id re-coded differently after ingest") }
  }

  test("st14: every ascending micro-batch split reproduces e09's batch verdicts") {
    import spark.implicits._
    val mod = graft.operators.Embeddings.IncrementalBatchModE
    val vecs = vecRows()
    val corpusDf = vecs.filter(_._1 % mod != 0).toDF(vecCols: _*)
    val arrivals = vecs.filter(_._1 % mod == 0)
    val expected = graft.operators.Embeddings.e09IncrementalSemDedup(spark, sf).collect()
      .map(cellVerdict).toSet

    def run(chunks: Seq[Seq[Vec]]): Set[(Int, Long, Long, Boolean)] = {
      val indexDir = java.nio.file.Files.createTempDirectory("st14-spec-idx-").toString
      IncrementalIndex.writeCellIndex(spark, corpusDf, indexDir,
        centroidTrain = Some(Tables.embeddings(spark, sf)))
      streamed(chunks, vecCols) { (batch, bid) =>
        IncrementalIndex.ingestCellBatch(spark, batch, indexDir, bid).collect().toSeq
      }.map(cellVerdict).toSet
    }

    assert(run(Seq(arrivals)) === expected, "single-batch stream diverged from e09")
    assert(run(arrivals.grouped(13).toSeq) === expected,
      "4-batch ascending split diverged from e09")
  }

  test("st14: a crash-replayed batch re-probes the pre-crash store and lands its members once") {
    import spark.implicits._
    val mod = graft.operators.Embeddings.IncrementalBatchModE
    val vecs = vecRows()
    val all = Tables.embeddings(spark, sf)
    val idx = java.nio.file.Files.createTempDirectory("st14-crash-idx-").toString
    IncrementalIndex.writeCellIndex(spark, vecs.filter(_._1 % mod != 0).toDF(vecCols: _*),
      idx, centroidTrain = Some(all))
    val deliveries = crashReplay(thirds(vecs.filter(_._1 % mod == 0)), vecCols)(
      (batch, bid) => IncrementalIndex.ingestCellBatch(spark, batch, idx, bid).collect().toSeq)
    assertReplayed(deliveries)
    val expected = graft.operators.Embeddings.e09IncrementalSemDedup(spark, sf).collect()
      .map(cellVerdict).toSet
    assert(deliveries.flatMap(_._2).map(cellVerdict).toSet === expected,
      "post-recovery verdicts must equal the one-shot e09 recompute")
    val oneShot = java.nio.file.Files.createTempDirectory("st14-crash-oneshot-").toString
    IncrementalIndex.writeCellIndex(spark, all, oneShot, centroidTrain = Some(all))
    assertSameStore(idx, oneShot, IncrementalIndex.CellMembers)
  }

  test("st15: a crash-replayed batch lands its codes once") {
    import spark.implicits._
    val mod = graft.operators.Embeddings.IncrementalBatchModE
    val vecs = vecRows()
    val histDf = vecs.filter(_._1 % mod != 0).toDF(vecCols: _*)
    val idx = java.nio.file.Files.createTempDirectory("st15-crash-idx-").toString
    IncrementalIndex.writeSqIndex(spark, histDf, histDf, idx)
    val deliveries = crashReplay(thirds(vecs.filter(_._1 % mod == 0)), vecCols)(
      (batch, bid) => IncrementalIndex.ingestSqBatch(spark, batch, idx, bid).collect().toSeq)
    assertReplayed(deliveries)
    val oneShot = java.nio.file.Files.createTempDirectory("st15-crash-oneshot-").toString
    IncrementalIndex.writeSqIndex(spark, histDf, Tables.embeddings(spark, sf), oneShot)
    assertSameStore(idx, oneShot, IncrementalIndex.SqCodes)
  }

  test("st16: a crash-replayed batch re-probes the pre-crash store and lands its bands once") {
    import spark.implicits._
    val mod = graft.operators.LlmText.IncrementalBatchMod
    val docs = docRows()
    val idx = java.nio.file.Files.createTempDirectory("st16-crash-idx-").toString
    IncrementalIndex.writeMediaIndex(spark, docs.filter(_._1 % mod != 0).toDF(docCols: _*), idx)
    val deliveries = crashReplay(thirds(docs.filter(_._1 % mod == 0)), docCols)(
      (batch, bid) => IncrementalIndex.ingestMediaBatch(spark, batch, idx, bid).collect().toSeq)
    assertReplayed(deliveries)
    assert(deliveries.flatMap(_._2).map(textVerdict).toSet === phashVerdicts(docs, mod),
      "post-recovery verdicts must equal the all-pairs brute force")
    val oneShot = java.nio.file.Files.createTempDirectory("st16-crash-oneshot-").toString
    IncrementalIndex.writeMediaIndex(spark, Tables.documents(spark, sf), oneShot)
    assertSameStore(idx, oneShot, IncrementalIndex.MediaBands)
  }
}
