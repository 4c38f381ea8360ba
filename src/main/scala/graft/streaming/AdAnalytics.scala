package graft.streaming

import graft.StoredMemo.Pinning
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.etl.Upsert
import Streams.EventRow

/** Streaming analytics suite (SURVEY 需求7–10, ST1–ST9) re-expressed as
  * Structured Streaming over the `events` fixture: raw-line parsing,
  * stream-static blacklist anti-join, per-batch keyed counts with
  * accumulate-upsert + threshold promotion, cumulative state via
  * flatMapGroupsWithState, sliding event-time windows with a watermark,
  * and per-key ranking of the running aggregate — reference:
  * adversStat/src/main/scala/AdverStat.scala:23-326.
  *
  * Determinism/oracle story: every query runs `Trigger.AvailableNow` over
  * a static file, so its final state equals the batch aggregate over the
  * same input — each has a DuckDB oracle. Batch-count invariance (the
  * same final state regardless of micro-batch splits) is pinned by the
  * MemoryStream unit suite.
  *
  * Scale notes: all aggregation state is keyed (user / window / date) and
  * lives in the state store, partitioned by key — nothing driver-side.
  * Threshold promotion happens once per batch on the aggregated store
  * (the reference's per-record JDBC lookup at AdverStat.scala:294 is the
  * anti-pattern this replaces). Sinks fold through `foreachBatch` +
  * [[graft.etl.Upsert]] merges — at scale those become MERGE INTO a
  * transactional table; the row semantics are identical.
  */
object AdAnalytics {

  /** events stream rendered to the reference's space-delimited ad-log
    * line format ("timestamp user field value", SURVEY P5/S6 analog). */
  private def lines(s: SparkSession, dir: String): DataFrame =
    Streams.tableStream(s, dir, "events")
      .select(concat_ws(" ",
        // every field EXPLICITLY cast before entering the delimited
        // format — a non-string column whose implicit rendering contains
        // the delimiter (e.g. a timestamp's "2026-08-01 00:00:00") would
        // silently shift every downstream split() field
        col("ts").cast("string"), col("user_id").cast("string"),
        col("event_type"), col("value").cast("string")).as("value"))

  // ---------------------------------------------------------------- st01
  /** Raw line parse (P5) → typed columns → keyed count, complete mode:
    * the 需求7 per-key count shape, minus sentinels. */
  def st01ParseCount(s: SparkSession, dir: String): DataFrame =
    Streams.runComplete(s) { ss =>
      lines(ss, dir)
        .withColumn("f", split(col("value"), " "))
        .select(
          col("f").getItem(0).cast("long").as("ts"),
          col("f").getItem(1).cast("long").as("user_id"),
          col("f").getItem(2).as("event_type"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    }

  val st01Sql: String =
    "SELECT event_type, count(*) AS n FROM events GROUP BY 1"

  // ---------------------------------------------------------------- st02
  /** 1-hour sliding window per 15 minutes over event time, with a
    * watermark (ST8+ST9: AdverStat.scala:93-109 reduceByKeyAndWindow —
    * which trusted wall-clock and never expired state; the watermark is
    * the documented divergence). Window starts surface as epoch seconds. */
  def st02SlidingWindow(s: SparkSession, dir: String): DataFrame =
    Streams.runComplete(s) { ss =>
      Streams.tableStream(ss, dir, "events")
        .withColumn("t", expr("timestamp_micros(ts div 1000)"))
        .withWatermark("t", "10 minutes")
        .groupBy(window(col("t"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("long").as("ws_sec"), col("event_type"), col("n"))
    }

  val st02Sql: String =
    """WITH ev AS (
      |  SELECT epoch_ns(ts) // 1000000000 AS sec, event_type FROM events
      |)
      |SELECT (sec // 900) * 900 - k * 900 AS ws_sec, event_type, count(*) AS n
      |FROM ev, generate_series(0, 3) g(k)
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- st03
  /** Stream-static blacklist anti-join (ST3/J7: the reference re-read
    * MySQL per batch inside `transform`, AdverStat.scala:54-69; here the
    * static side is a DataFrame that Spark re-resolves each micro-batch).
    * Blacklist = users with > 18 'error' events. */
  val ErrorThreshold = 18L

  def st03BlacklistAnti(s: SparkSession, dir: String): DataFrame =
    Streams.runComplete(s) { ss =>
      // the static side is built on the SAME child session as the
      // stream — it is re-resolved each micro-batch under that
      // session's conf
      val blacklist = graft.Tables.events(ss, dir)
        .where(col("event_type") === "error")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_err"))
        .where(col("n_err") > ErrorThreshold)
        .select(col("user_id"))
      Streams.tableStream(ss, dir, "events")
        .join(blacklist, Seq("user_id"), "left_anti")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    }

  val st03Sql: String =
    s"""SELECT user_id, count(*) AS n FROM events
       |WHERE user_id NOT IN (
       |  SELECT user_id FROM events WHERE event_type = 'error'
       |  GROUP BY 1 HAVING count(*) > $ErrorThreshold)
       |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- st04
  /** Cumulative per-user state via flatMapGroupsWithState (ST6/A11: the
    * updateStateByKey replacement — explicit keyed state, update output),
    * folded through an overwrite-upsert store (update-mode emissions are
    * cumulative snapshots, so same-key rows replace). */
  def st04CumulativeState(s: SparkSession, dir: String): DataFrame = {
    // scoped block: the parent and child sessions' implicits must not
    // coexist in one scope (ambiguous encoders)
    val empty = { import s.implicits._; Seq.empty[(Long, Long)].toDF("user_id", "total") }
    Streams.runForeachBatch(s, "update", empty) { ss =>
      import ss.implicits._
      Streams.tableStream(ss, dir, "events").as[EventRow]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (uid: Long, it: Iterator[EventRow], state: GroupState[Long]) =>
            val total = state.getOption.getOrElse(0L) + it.size
            state.update(total)
            Iterator((uid, total))
        }
        .toDF("user_id", "total")
    }((store, batch, _) => Upsert.overwrite(store, batch, Seq("user_id")))
  }

  val st04Sql: String =
    "SELECT user_id, count(*) AS total FROM events GROUP BY 1"

  // ---------------------------------------------------------------- st05
  /** Per-batch keyed counts + accumulate-upsert + threshold promotion
    * (ST4+ST5+S8-accumulate, 需求7): each batch's delta counts fold into
    * the store with += semantics; promotion to the "blacklist" output
    * happens ONCE per run on the aggregated store — never per record. */
  val PromoteThreshold = 70L

  def st05ThresholdPromote(s: SparkSession, dir: String): DataFrame = {
    val empty = { import s.implicits._; Seq.empty[(Long, Long)].toDF("user_id", "n") }
    val store = Streams.runForeachBatch(s, "append", empty)(
      ss => Streams.tableStream(ss, dir, "events")) { (store, batch, _) =>
      val delta = batch.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      Upsert.accumulate(store, delta, Seq("user_id"), "n")
    }
    store.where(col("n") > PromoteThreshold)
  }

  val st05Sql: String =
    s"""SELECT user_id, count(*) AS n FROM events
       |GROUP BY 1 HAVING count(*) > $PromoteThreshold""".stripMargin

  // ---------------------------------------------------------------- st06
  /** Daily top-3 event types off the running aggregate (ST7/W2, 需求9 —
    * implementing the documented intent, not the reference's broken SQL,
    * AdverStat.scala:134-169): per-batch delta counts accumulate; the
    * rank-and-replace (delete+insert per date) runs on the final store. */
  def st06DailyTop3(s: SparkSession, dir: String): DataFrame = {
    val empty = {
      import s.implicits._
      Seq.empty[(String, String, Long)].toDF("date", "event_type", "n")
    }
    val store = Streams.runForeachBatch(s, "append", empty) { ss =>
      Streams.tableStream(ss, dir, "events")
        .withColumn("date", date_format(expr("timestamp_micros(ts div 1000)"), "yyyy-MM-dd"))
    } { (store, batch, _) =>
      val delta = batch.groupBy(col("date"), col("event_type")).agg(count(lit(1)).as("n"))
      Upsert.accumulate(store, delta, Seq("date", "event_type"), "n")
    }
    val ranked = store.withColumn("rnk",
      row_number().over(Window.partitionBy(col("date")).orderBy(col("n").desc, col("event_type").asc)))
      .where(col("rnk") <= 3)
    // delete+insert of each date's top-3 into the (initially empty) result
    Upsert.deleteInsert(ranked.limit(0), ranked, Seq("date"))
  }

  val st06Sql: String =
    """WITH c AS (
      |  SELECT strftime(make_timestamp(epoch_ns(ts) // 1000), '%Y-%m-%d') AS date,
      |         event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT date, event_type, n, rnk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY date ORDER BY n DESC, event_type ASC) AS rnk
      |  FROM c) t
      |WHERE rnk <= 3""".stripMargin

  // ---------------------------------------------------------------- st07
  /** Streaming deduplication: `dropDuplicates` over the state store. The
    * input is the stream unioned with itself — without dedup every count
    * doubles, so the oracle (plain batch counts) proves the dedup
    * actually fired. The unbounded form mirrors the reference's
    * forever-state semantics (state grows with the key history). */
  def st07StreamDedup(s: SparkSession, dir: String): DataFrame =
    Streams.runComplete(s) { ss =>
      Streams.tableStream(ss, dir, "events")
        .unionByName(Streams.tableStream(ss, dir, "events"))
        .select(col("event_id"), col("event_type"))
        .dropDuplicates("event_id")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    }

  val st07Sql: String =
    "SELECT event_type, count(*) AS n FROM events GROUP BY 1"

  // ---------------------------------------------------------------- st08
  /** STREAMING sessionization via `session_window` — the state-store
    * equivalent of the batch lag+cumsum sessionizer (Sessions.sessionized):
    * per (user, session) event counts with a 30-minute gap. Boundary
    * semantics, measured and spec-pinned (StreamingSpec "boundary"):
    * Spark MERGES an event arriving at EXACTLY `last + gap` into the
    * running session (touching windows coalesce — the merge condition
    * is `start <= end`, inclusive), so a new session needs a gap
    * STRICTLY greater than 1800 s; the oracle mirrors that with `>` on
    * the microsecond gap. This matches the batch sessionizer's
    * reference-style `gap > 1800` rule (at second granularity), so the
    * two sessionizers agree on the boundary; session_window is still
    * finer-grained in comparing full microsecond timestamps. The
    * fixture has no exact-microsecond 1800 s gap, so only the spec pin,
    * not the oracle, tells `>` from `>=`. */
  def st08SessionWindow(s: SparkSession, dir: String): DataFrame =
    Streams.runComplete(s) { ss =>
      Streams.tableStream(ss, dir, "events")
        .withColumn("t", expr("timestamp_micros(ts div 1000)"))
        .withWatermark("t", "1 hour")
        .groupBy(session_window(col("t"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          col("user_id"),
          col("session_window.start").cast("long").as("ws_sec"),
          col("n_events"))
    }

  val st08Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events
      |), lagged AS (
      |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
      |                   OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us)
      |), sess AS (
      |  SELECT user_id, us,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM lagged
      |)
      |SELECT user_id, min(us) // 1000000 AS ws_sec, count(*) AS n_events
      |FROM sess GROUP BY user_id, sid""".stripMargin

  // ---------------------------------------------------------------- st09
  /** STREAM-STREAM event-time interval join — the attribution join
    * (purchase within 10 minutes of a click by the same user) as two
    * live streams, not stream⋈static like st03. Both sides carry
    * watermarks and the join condition bounds event-time distance, which
    * is what lets the state store EVICT: a buffered click can be dropped
    * once the purchase-side watermark passes click_time + 10min — state
    * is proportional to the interval, not the stream history. Output
    * mode must be append (stream-stream inner joins emit exactly-once
    * per matched pair). The oracle is the identical interval join in
    * batch SQL: with AvailableNow over a static input, the final append
    * result equals the batch join. */
  val AttributionWindowMin = 10

  def st09StreamStreamJoin(s: SparkSession, dir: String): DataFrame =
    Streams.runAppend(s) { ss =>
      val clicks = Streams.tableStream(ss, dir, "events")
        .where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          expr("ts div 1000").as("c_us"), expr("timestamp_micros(ts div 1000)").as("ct"))
        .withWatermark("ct", "1 hour")
      val purchases = Streams.tableStream(ss, dir, "events")
        .where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          expr("ts div 1000").as("p_us"), expr("timestamp_micros(ts div 1000)").as("pt"))
        .withWatermark("pt", "1 hour")
      clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("pt") >= col("ct") &&
          col("pt") <= col("ct") + expr(s"INTERVAL $AttributionWindowMin MINUTES"))
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          (col("p_us") - col("c_us")).as("delta_us"))
    }

  // ---------------------------------------------------------------- st10
  /** Stream-stream LEFT OUTER interval join — st09's attribution join
    * with the semantics the inner form can't show: an unmatched click
    * emits a NULL-extended row only once the watermark PROVES no
    * purchase can still arrive (watermark past click_time + interval).
    * This is the operator whose output depends on watermark eviction,
    * not just on matching: clicks younger than (final watermark −
    * interval) stay buffered at end-of-input and are NOT emitted. The
    * oracle reproduces exactly that boundary — including that the
    * global watermark is the MIN across the two sources' (max event
    * time − delay), pinned empirically: using max over all events
    * over-emits by the clicks sitting between the two sides' maxima.
    * State story identical to st09 (evictable, bounded by interval ×
    * rate). */
  val OuterWatermark = "1 hour"

  def st10StreamStreamLeftJoin(s: SparkSession, dir: String): DataFrame =
    Streams.runAppend(s) { ss =>
      val clicks = Streams.tableStream(ss, dir, "events")
        .where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          expr("ts div 1000").as("c_us"), expr("timestamp_micros(ts div 1000)").as("ct"))
        .withWatermark("ct", OuterWatermark)
      val purchases = Streams.tableStream(ss, dir, "events")
        .where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          expr("ts div 1000").as("p_us"), expr("timestamp_micros(ts div 1000)").as("pt"))
        .withWatermark("pt", OuterWatermark)
      clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("pt") >= col("ct") &&
          col("pt") <= col("ct") + expr(s"INTERVAL $AttributionWindowMin MINUTES"),
        "left_outer")
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          (col("p_us") - col("c_us")).as("delta_us"))
    }

  val st10Sql: String =
    s"""WITH wm AS (
       |  -- the GLOBAL watermark is the MIN across the two stream
       |  -- sources (each side's max event time − delay), not the max
       |  -- over all events: the slower side holds the whole join back
       |  SELECT least(
       |    (SELECT max(epoch_ns(ts)) FROM events WHERE event_type = 'click'),
       |    (SELECT max(epoch_ns(ts)) FROM events WHERE event_type = 'purchase')
       |  ) // 1000 - 3600000000 AS w_us
       |), clicks AS (
       |  SELECT user_id, event_id AS click_id, epoch_ns(ts) // 1000 AS c_us
       |  FROM events WHERE event_type = 'click'
       |), purchases AS (
       |  SELECT user_id AS p_user, event_id AS purchase_id, epoch_ns(ts) // 1000 AS p_us
       |  FROM events WHERE event_type = 'purchase'
       |), matched AS (
       |  SELECT c.user_id, c.click_id, p.purchase_id, p.p_us - c.c_us AS delta_us
       |  FROM clicks c JOIN purchases p
       |    ON c.user_id = p.p_user
       |    AND p.p_us >= c.c_us
       |    AND p.p_us <= c.c_us + ${AttributionWindowMin} * 60 * 1000000
       |)
       |SELECT user_id, click_id, purchase_id, delta_us FROM matched
       |UNION ALL
       |SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT) AS purchase_id,
       |  CAST(NULL AS BIGINT) AS delta_us
       |FROM clicks c, wm
       |WHERE c.c_us + ${AttributionWindowMin} * 60 * 1000000 < wm.w_us
       |  AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.click_id = c.click_id)""".stripMargin

  val st09Sql: String =
    s"""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       |  epoch_ns(p.ts) // 1000 - epoch_ns(c.ts) // 1000 AS delta_us
       |FROM events c JOIN events p
       |  ON c.user_id = p.user_id
       |  AND c.event_type = 'click' AND p.event_type = 'purchase'
       |  AND p.ts >= c.ts
       |  AND p.ts <= c.ts + INTERVAL $AttributionWindowMin MINUTE""".stripMargin

  // ---------------------------------------------------------------- st11
  /** Streaming COUNT-MIN sketch maintenance — m11's d×w counter grid
    * kept as a RUNNING streaming aggregation: each event increments its
    * d cells (explode over the rows, bucket by the portable seeded
    * hash), and the stateful agg holds the running cell totals. This is
    * the production deployment shape of a counter sketch: the state
    * store is bounded at d·w keys REGARDLESS of the user-id cardinality
    * (contrast st04, whose state grows with the keyspace) — the whole
    * reason to stream a sketch instead of exact per-key counts. Counter
    * addition is the merge, so the AvailableNow final grid is
    * bit-identical to the batch grid built from per-key subtotals
    * (m11's formulation, the oracle below); the heavy-hitter readout
    * (min over a key's d cells) is a batch lookup against this grid. */
  def st11CmsCells(s: SparkSession, dir: String): DataFrame =
    Streams.runComplete(s) { ss =>
      import graft.operators.Misc.{CmsRows, CmsWidth}
      Streams.tableStream(ss, dir, "events")
        .withColumn("j", explode(array((0 until CmsRows).map(i => lit(i.toLong)): _*)))
        .withColumn("bucket",
          graft.functions.Portable.h64(
            concat(col("user_id").cast("string"), lit("|"), col("j").cast("string")))
            % CmsWidth)
        .groupBy(col("j"), col("bucket")).agg(count(lit(1)).as("cell_n"))
    }

  val st11Sql: String = {
    import graft.operators.Misc.{CmsRows, CmsWidth}
    val h = graft.functions.Portable.h64Sql(
      "CAST(user_id AS VARCHAR) || '|' || CAST(j AS VARCHAR)")
    s"""WITH exact AS (
       |  SELECT user_id, count(*) AS exact_n FROM events GROUP BY 1
       |)
       |SELECT j, $h % $CmsWidth AS bucket, CAST(sum(exact_n) AS BIGINT) AS cell_n
       |FROM exact, generate_series(0, ${CmsRows - 1}) g(j)
       |GROUP BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- st12
  /** Streaming MULTI-METRIC rollup — m12's partition-incremental
    * pattern deployed as a stream: each micro-batch's per-key (count,
    * decimal sum) delta folds into the running store through the
    * multi-column accumulate upsert ([[graft.etl.Upsert.accumulateAll]]
    * — union + ONE re-aggregate on the key). Because both metrics are
    * mergeable aggregates, the final store equals the batch rollup over
    * the whole input EXACTLY regardless of how the stream split into
    * batches (the m12 merge law; batch-split invariance pinned in
    * StreamingSpec) — this is the continuously-updated form of the
    * daily job, same store either way. Store size ∝ |key universe|,
    * merge cost per batch ∝ |store| + |delta|, history never re-read. */
  def st12RunningRollup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Misc.{eventRollup, rollupReadout}
    val empty = eventRollup(graft.Tables.events(s, dir).limit(0))
    val store = Streams.runForeachBatch(s, "append", empty)(
      ss => Streams.tableStream(ss, dir, "events")) { (store, batch, _) =>
      graft.etl.Upsert.accumulateAll(
        store, eventRollup(batch), Seq("event_type"), Seq("n_events", "sum_value"))
    }
    rollupReadout(store)
  }

  val st12Sql: String =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- st13
  /** STREAMING INGEST against the persisted dedup index — the
    * [[graft.jobs.IngestJob]] probe running continuously instead of
    * daily: the corpus's band/shingle tables are bootstrapped once
    * ([[graft.jobs.IncrementalIndex.writeTextIndexFixtureBootstrap]],
    * bid −1), then each
    * micro-batch of arriving documents (1) PROBES the store with the
    * bipartite band join — work ∝ the batch's collisions, the corpus is
    * never re-paired or re-read — and (2) lands its own index entries
    * in its batch partition, so later arrivals dedup against earlier
    * ones ([[graft.jobs.IncrementalIndex.ingestTextBatch]]). Verdicts
    * accumulate append-only (each batch's frame is materialized by the
    * probe, so the running union never re-plans through the store).
    *
    * Equivalence contract (the oracle): arrivals ordered by doc_id make
    * "already ingested" ≡ "lower id", so the final verdict table equals
    * d30's batch recompute EXACTLY — for ANY ascending-id micro-batch
    * split (pinned in StreamingSpec; the gate's one-file stream is the
    * trivial split). Note the FULL batch folds in, not just survivors:
    * d30 counts matches against every earlier arrival regardless of its
    * verdict (the keep-first census form); IngestJob's survivors-only
    * fold is the curation-flavored policy variant of the same append.
    *
    * At scale this is the Kafka→index pipeline (S5's consumer feeding
    * the store): state lives in the lake tables, not the state store,
    * so a restart resumes from the checkpoint's offsets and the
    * already-appended index — nothing refolds. */
  def st13StreamingIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LlmText
    import graft.jobs.IncrementalIndex
    val mod = LlmText.IncrementalBatchMod
    Streams.withTempDir("graft-st13-idx-") { indexDir =>
      // bootstrap rides the in-JVM memoized band/shingle tables (the
      // writeServePair discipline); each batch's step stays the
      // explicit recompute — arriving data is the measured cost
      IncrementalIndex.writeTextIndexFixtureBootstrap(s, dir, indexDir,
        col("doc_id") % mod =!= 0)
      val empty = graft.Tables.documents(s, dir).limit(0)
        .select(col("doc_id"), lit(0L).as("n_matches"), lit(false).as("is_dup"))
      Streams.runForeachBatch(s, "append", empty)(
        ss => Streams.tableStream(ss, dir, "documents")
          .where(col("doc_id") % mod === 0)) { (store, batch, bid) =>
        store.unionByName(IncrementalIndex.ingestTextBatch(s, batch, indexDir, bid))
      }
      // safe to drop the temp index: the fold localCheckpoints the
      // store every batch, so it holds no lineage into these files
    }
  }

  lazy val st13Sql: String = graft.operators.LlmText.d30Sql

  // ---------------------------------------------------------------- st14
  /** st13's embedding twin — e09's SemDeDup ingest running continuously
    * against the persisted cell index: the frozen centroid table and the
    * corpus's member table are bootstrapped once
    * ([[graft.jobs.IncrementalIndex.writeCellIndex]], centroids trained
    * on the full history — e09's oracle formulation), then each
    * micro-batch of arriving vectors assigns against the STORED frozen
    * centroids, compares only within its cells' stored members (plus
    * intra-batch keep-first), and lands its own member rows in its
    * batch partition for later arrivals
    * ([[graft.jobs.IncrementalIndex.ingestCellBatch]]). Same equivalence
    * contract as st13: ascending vec_id arrivals ⇒ final verdicts ≡
    * e09's batch recompute for ANY micro-batch split (pinned in
    * StreamingSpec); the full batch lands, not survivors — e09 counts
    * matches against every earlier arrival. State = the lake tables;
    * per-batch work ∝ batch × cell occupancy at any corpus size. */
  def st14StreamingSemIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Embeddings
    import graft.jobs.IncrementalIndex
    val mod = Embeddings.IncrementalBatchModE
    Streams.withTempDir("graft-st14-idx-") { indexDir =>
      val vecs = graft.Tables.embeddings(s, dir)
      // frozen cell index from the in-JVM memo path (the
      // writeServePair discipline); per-batch probes stay explicit
      IncrementalIndex.writeCellIndexFixture(s, dir, indexDir)
      val empty = vecs.limit(0)
        .select(col("label").as("cell"), col("vec_id"),
          lit(0L).as("n_matches"), lit(true).as("kept"))
      Streams.runForeachBatch(s, "append", empty)(
        ss => Streams.tableStream(ss, dir, "embeddings")
          .where(col("vec_id") % mod === 0)) { (store, batch, bid) =>
        store.unionByName(IncrementalIndex.ingestCellBatch(s, batch, indexDir, bid))
      }
    }
  }

  lazy val st14Sql: String = graft.operators.Embeddings.e09Sql

  // ---------------------------------------------------------------- st15
  /** The SQ-index ingest lifecycle as a continuous query — st14's twin
    * for the quantizer half ([[graft.jobs.IncrementalIndex
    * .writeSqIndex]]): the per-dimension [lo, hi] trains ONCE on the
    * history slice and FREEZES (codes under different spans are not
    * comparable — re-spanning is an explicit rebuild event), history
    * lands its code rows, then each arriving micro-batch encodes
    * against the STORED quantizer and lands its own 64-byte codes in
    * its batch partition ([[graft.jobs.IncrementalIndex.ingestSqBatch]]).
    * Encoding is per-row (no cross-batch state), so the final code set
    * equals the batch encode of the same slice for ANY micro-batch
    * split — and an arrival OUTSIDE
    * the frozen [lo, hi] clamps to the 8-bit range exactly as faiss
    * does (the shared [[graft.operators.Embeddings.sqEncode]]
    * definition; clamp pinned in PqIndexSpec). Output: the streamed
    * batch's code rows; the oracle recomputes the same encode with the
    * history-trained quantizer. */
  def st15StreamingSqIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Embeddings
    import graft.jobs.IncrementalIndex
    val mod = Embeddings.IncrementalBatchModE
    Streams.withTempDir("graft-st15-idx-") { indexDir =>
      val vecs = graft.Tables.embeddings(s, dir)
      val hist = vecs.where(col("vec_id") % mod =!= 0)
      IncrementalIndex.writeSqIndex(s, hist, hist, indexDir)
      val empty = graft.operators.Embeddings.quantizedFrom(s, vecs.limit(0))
        .select(col("vec_id"), array().cast("array<long>").as("codes"))
      val coded = Streams.runForeachBatch(s, "append", empty)(
        ss => Streams.tableStream(ss, dir, "embeddings")
          .where(col("vec_id") % mod === 0)) { (store, batch, bid) =>
        store.unionByName(IncrementalIndex.ingestSqBatch(s, batch, indexDir, bid))
      }
      // Comparator-safe scalar shape: the 64 per-dim codes as one CSV
      // string (array/map/struct output columns break the driver's
      // pandas canonicalization; pinned registry-wide in
      // OutputSchemaSpec).
      coded.select(col("vec_id"),
        concat_ws(",", col("codes").cast("array<string>")).as("codes_csv"))
    }
  }

  lazy val st15Sql: String = {
    import graft.operators.Embeddings.{Dim, IncrementalBatchModE, SqLevels}
    s"""WITH qv AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * 10000) AS BIGINT)) AS q
       |  FROM embeddings
       |), dims15 AS (
       |  SELECT i, min(q[i]) AS lo, max(q[i]) AS hi
       |  FROM qv, generate_series(1, $Dim) g(i)
       |  WHERE vec_id % $IncrementalBatchModE <> 0 GROUP BY 1
       |), lohi15 AS (
       |  SELECT list(lo ORDER BY i) AS los, list(hi ORDER BY i) AS his FROM dims15
       |)
       |SELECT vec_id, array_to_string(list_transform(generate_series(1, $Dim), d ->
       |  CASE WHEN his[d] = los[d] THEN 0
       |       ELSE greatest(0, least($SqLevels,
       |            ((q[d] - los[d]) * ${2 * SqLevels} + (his[d] - los[d]))
       |            // (2 * (his[d] - los[d])))) END), ',') AS codes_csv
       |FROM qv, lohi15 WHERE vec_id % $IncrementalBatchModE = 0""".stripMargin
  }

  // ---------------------------------------------------------------- st16
  /** st13's MEDIA twin — mm06's perceptual-hash dedup running
    * continuously against the persisted media index
    * ([[graft.jobs.IncrementalIndex.writeMediaIndex]]): the history's
    * phash band table is bootstrapped once, then each arriving
    * micro-batch (1) hashes itself map-side (the fused `p_hash64`
    * scan), (2) PROBES the store with the bipartite band join plus
    * intra-batch keep-first — pigeonhole-complete at the radius, so
    * probe verdicts equal the all-pairs recompute against everything
    * that arrived earlier — and (3) lands its own band rows in its batch
    * partition for later arrivals
    * ([[graft.jobs.IncrementalIndex.ingestMediaBatch]]): the full batch,
    * not survivors, as st13/st14.
    *
    * Same equivalence contract: ascending media_id arrivals ⇒ the final
    * verdict table equals the batch recompute for ANY micro-batch split
    * (pinned in StreamingSpec); the oracle is the all-pairs brute force
    * over (history ∪ lower-id) partners, exact because the banding is
    * complete. State = the lake table (8 bytes/row × 4 band rows);
    * per-batch work ∝ batch × band collisions at any corpus size —
    * the media payloads are never re-read after their hash lands. */
  def st16StreamingPhashIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.jobs.IncrementalIndex
    val mod = graft.operators.LlmText.IncrementalBatchMod
    Streams.withTempDir("graft-st16-idx-") { indexDir =>
      IncrementalIndex.writeMediaIndex(s,
        graft.Tables.documents(s, dir).where(col("doc_id") % mod =!= 0), indexDir)
      val empty = graft.Tables.documents(s, dir).limit(0)
        .select(col("doc_id").as("media_id"), lit(0L).as("n_matches"),
          lit(false).as("is_dup"))
      Streams.runForeachBatch(s, "append", empty)(
        ss => Streams.tableStream(ss, dir, "documents")
          .where(col("doc_id") % mod === 0)) { (store, batch, bid) =>
        store.unionByName(IncrementalIndex.ingestMediaBatch(s, batch, indexDir, bid))
      }
    }
  }

  lazy val st16Sql: String = {
    import graft.operators.Multimodal.{PhashBands, PhashMaxHamming}
    val mod = graft.operators.LlmText.IncrementalBatchMod
    def bitSql(j: Int): String =
      s"(CASE WHEN $j*st+1 <= length(text) THEN ascii(substr(text, CAST($j*st+1 AS INT), 1)) % 2 ELSE 0 END)"
    val bandsSql = (0 until PhashBands).map { b =>
      "CAST(" + (0 until 16).map(k => s"${bitSql(16 * b + k)} * ${1L << k}")
        .mkString(" + ") + " AS BIGINT)"
    }.mkString("[", ", ", "]")
    val hamSql = (1 to PhashBands).map(i =>
      s"bit_count(xor(a.bands[$i], b.bands[$i]))").mkString(" + ")
    s"""WITH ph AS (
       |  SELECT media_id, $bandsSql AS bands
       |  FROM (SELECT doc_id AS media_id, text,
       |          greatest(1, length(text) // 64) AS st
       |        FROM documents) t
       |)
       |SELECT a.media_id,
       |  CAST(sum(CASE WHEN $hamSql <= $PhashMaxHamming THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
       |  CAST(sum(CASE WHEN $hamSql <= $PhashMaxHamming THEN 1 ELSE 0 END) AS BIGINT) > 0 AS is_dup
       |FROM ph a JOIN ph b
       |  ON a.media_id % $mod = 0
       |  AND (b.media_id % $mod <> 0 OR b.media_id < a.media_id)
       |  AND b.media_id <> a.media_id
       |GROUP BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- st17
  /** Streaming DECONTAMINATION — d18's benchmark n-gram-overlap check
    * running continuously at ingest (the gate a production corpus
    * pipeline applies as documents ARRIVE, not in a post-hoc sweep):
    * the eval suite's rare-shingle list is frozen once into the
    * persisted index ([[graft.jobs.IncrementalIndex.writeBenchIndex]] —
    * hot-shingle cap applied at build, so boilerplate n-grams never
    * enter the store), then every arriving micro-batch of training docs
    * probes it with a broadcast shingle-keyed join and emits its
    * (doc, bench, n_shared) contamination verdicts.
    *
    * STRONGER equivalence than st13/st14/st16: verdicts depend only on
    * (batch doc, frozen store) — there is no cross-batch state and no
    * append-back at all — so the final verdict table equals batch d18
    * for ANY split in ANY order, not just ascending arrivals (pinned in
    * StreamingSpec with a shuffled split). State = the one frozen
    * broadcast-sized lake table; per-batch work ∝ batch × actual
    * n-gram overlap with the benchmark, at any corpus size. */
  def st17StreamingDecontamination(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LlmText
    import graft.jobs.IncrementalIndex
    val mod = LlmText.ContaminationMod
    Streams.withTempDir("graft-st17-idx-") { indexDir =>
      val docs = graft.Tables.documents(s, dir)
      // frozen bench store from the in-JVM memo path (writeServePair's
      // discipline); the per-batch probes stay the explicit recompute
      IncrementalIndex.writeBenchIndexFixture(s, dir, indexDir)
      val empty = docs.limit(0)
        .select(col("doc_id"), col("doc_id").as("bench_id"),
          lit(0L).as("n_shared"))
      Streams.runForeachBatch(s, "append", empty)(
        ss => Streams.tableStream(ss, dir, "documents")
          .where(col("doc_id") % mod =!= 0)) { (store, batch, _) =>
        store.unionByName(IncrementalIndex.probeBench(s, batch, indexDir))
      }
    }
  }

  lazy val st17Sql: String = graft.operators.LlmText.d18Sql

  // ---------------------------------------------------------------- st18
  /** Streaming KMV cardinality-sketch maintenance — m10's k-minimum-
    * values sketch kept as a RUNNING streaming aggregation, the third
    * sketch deployment beside st11's counter grid and st12's mergeable
    * rollup: each arriving event hashes into its group's sketch and the
    * stateful agg holds the k-element retained set. The state store is
    * bounded at k values per group REGARDLESS of user-id cardinality
    * (contrast st04) — the reason a deployment streams a sketch instead
    * of exact distinct state. The KMV merge is associative, commutative,
    * and idempotent on duplicates, so the AvailableNow final sketch is
    * identical to the batch sketch over the same rows for ANY
    * micro-batch split (the m10 window form remains the oracle; split
    * invariance follows from the merge law pinned in
    * KmvAggregatorSpec). Readout = (retained count, k-th min, the m10
    * estimate) — what a live distinct-users dashboard serves. */
  def st18StreamingKmv(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Misc.KmvK
    val sk = Streams.runComplete(s) { ss =>
      Streams.tableStream(ss, dir, "events")
        .select(col("event_type"),
          graft.functions.Portable.h64(col("user_id")).as("h"))
        .groupBy(col("event_type"))
        .agg(graft.functions.KmvSketch.kmvValues(KmvK)(col("h")).as("sk"))
    }
    sk.select(col("event_type"),
      size(col("sk")).cast("long").as("m"),
      element_at(col("sk"), size(col("sk"))).as("kth"),
      graft.functions.KmvSketch.estDistinct(KmvK)(col("sk")).as("est_distinct"))
  }

  /** Oracle ranks DISTINCT (event_type, h) — the m18Sql convention —
    * not distinct (event_type, user_id): the Spark sketch retains
    * distinct HASH VALUES, so two users colliding on h64 occupy one
    * slot, and an oracle ranking user rows would keep both
    * (unreachable without a 60-bit collision, but the two sides should
    * encode the same semantics, not coincide on fixtures). */
  val st18Sql: String = {
    import graft.operators.Misc.KmvK
    val h = graft.functions.Portable.h64Sql("user_id")
    s"""WITH hs AS (
       |  SELECT DISTINCT event_type, $h AS h FROM events
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |  FROM hs
       |)
       |SELECT event_type, count(*) AS m, max(h) AS kth,
       |  CASE WHEN count(*) < $KmvK THEN CAST(count(*) AS DOUBLE)
       |       ELSE ${(KmvK - 1).toDouble} * 1152921504606846976.0 / CAST(max(h) AS DOUBLE)
       |  END AS est_distinct
       |FROM ranked WHERE rn <= $KmvK GROUP BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- st19
  /** STREAMING SUBSTRING-DEDUP INGEST — the d44 span family's ingest
    * twin (st13/st14/st16's pattern for the rolling-hash postings
    * store): each arriving micro-batch of documents APPENDS its
    * postings to the persisted substring index
    * ([[graft.jobs.IncrementalIndex.writeSubstrIndexBatch]] — the batch is
    * hashed once, the corpus never re-hashed), and the span readout
    * serves from the store once ingest completes.
    *
    * The equivalence contract is STRONGER than st13's: span extraction
    * is a pure function of the final postings store and the postings
    * append is commutative, so the readout equals d44's batch recompute
    * for ANY micro-batch split in ANY arrival order — no ascending-id
    * requirement (shuffled-split invariance pinned in StreamingSpec;
    * the oracle is d44's SQL twin verbatim). Per-batch work ∝ batch
    * bytes at any corpus size; the readout is the one df-aggregate +
    * islands pass every substring probe pays. */
  def st19StreamingSubstrIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.jobs.IncrementalIndex
    Streams.withTempDir("graft-st19-idx-") { indexDir =>
      val empty = graft.Tables.documents(s, dir).limit(0)
      // batch-id-keyed appends: a crash-replayed batch overwrites its
      // own partition (idempotent), so the postings store is exactly-
      // once under recovery (StreamingSpec crash case)
      Streams.runForeachBatch(s, "append", empty)(
        ss => Streams.tableStream(ss, dir, "documents")) { (store, batch, bid) =>
        IncrementalIndex.writeSubstrIndexBatch(s, batch, indexDir, bid)
        store
      }
      // materialize before dropping the temp store (the probe is lazy)
      IncrementalIndex.probeSubstrSpans(s, indexDir).pin("substr-spans")
    }
  }

  lazy val st19Sql: String = graft.operators.LlmText.d44Sql

  // ---------------------------------------------------------------- st20
  /** Streaming QUANTILE-sketch maintenance — m19's mergeable rank
    * sketch kept as a running streaming aggregation per event_type, the
    * quantile analogue of st18's cardinality sketch: each arriving
    * event offers its (h64(event_id), value) pair and the stateful agg
    * holds the k-pair retained sample. State is bounded at k pairs per
    * group REGARDLESS of event volume — the reason a live latency/price
    * dashboard streams a sketch instead of sorting history — and the
    * retained set is a pure function of the event SET (the KMV merge
    * lattice on the hash component, [[graft.functions.KmvSketch
    * .KmvPairsAgg]]), so the AvailableNow final sketch equals the batch
    * sketch for ANY micro-batch split in ANY order (the merge law is
    * pinned in KmvAggregatorSpec; KLL-style compaction would NOT give
    * this — see the aggregator's scaladoc). Readout = m19's
    * percentile_disc over the sample, shared through
    * [[graft.operators.Misc.sketchQuantiles]] so batch and streaming
    * readouts cannot drift. */
  def st20StreamingQuantiles(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Misc
    val sk = Streams.runComplete(s) { ss =>
      Streams.tableStream(ss, dir, "events")
        .select(col("event_type"),
          graft.functions.Portable.h64(col("event_id")).as("h"),
          col("value").as("v"))
        .groupBy(col("event_type"))
        .agg(graft.functions.KmvSketch.kmvPairs(Misc.QsK)(col("h"), col("v")).as("sk"))
    }
    Misc.sketchQuantiles(s, sk, Seq("event_type"))
  }

  val st20Sql: String = {
    import graft.operators.Misc.QsK
    val h = graft.functions.Portable.h64Sql("event_id")
    s"""WITH hv AS (
       |  SELECT event_type, $h AS h, value AS v FROM events
       |), dh AS (
       |  SELECT event_type, h, min(v) AS v FROM hv GROUP BY 1, 2
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |  FROM dh
       |), samp AS (
       |  SELECT event_type, v FROM ranked WHERE rn <= $QsK
       |), sv AS (
       |  SELECT event_type, v,
       |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS vr,
       |    count(*) OVER (PARTITION BY event_type) AS m
       |  FROM samp
       |)
       |SELECT sv.event_type, p.pct AS pct, sv.v AS est_value, CAST(sv.m AS BIGINT) AS m
       |FROM (VALUES (25), (50), (75), (90), (99)) p(pct)
       |JOIN sv ON sv.vr = (sv.m * p.pct + 99) // 100""".stripMargin
  }

  // ---------------------------------------------------------------- st21
  /** STREAMING GRAPH-SERVE — e23 run as an online ANN service (st17's
    * frozen-store class): the (lsh_buckets, graph_edges) index pair is
    * built ONCE from the corpus ([[graft.jobs.IncrementalIndex
    * .writeServePair]] — e23's serving pair), then every arriving micro-batch of query
    * vectors is answered from the frozen store
    * ([[graft.jobs.IncrementalIndex.probeGraphServe]]: hash own
    * buckets, seed from the stored bucket table, one stored-edge hop,
    * exact rescore). No cross-batch state and no append-back — results
    * are a pure function of (batch, frozen store), so the final answer
    * table equals batch e23 for ANY split in ANY order (shuffled-split
    * invariance pinned in StreamingSpec; the oracle is e23's SQL twin
    * verbatim). Per-batch work ∝ |batch|·beam·k at any corpus size —
    * the online vector-search deployment every RAG/retrieval stack
    * runs. */
  def st21StreamingGraphServe(s: SparkSession, dir: String): DataFrame = {
    import graft.jobs.IncrementalIndex
    Streams.withTempDir("graft-st21-idx-") { indexDir =>
      val vecs = graft.Tables.embeddings(s, dir)
      IncrementalIndex.writeServePair(s, dir, indexDir)
      val empty = vecs.limit(0)
        .select(col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
          lit(0.0).as("cos"), lit(0).as("rank"))
      Streams.runForeachBatch(s, "append", empty)(
        ss => Streams.tableStream(ss, dir, "embeddings")
          .where(col("vec_id") % 5 === 0)) { (store, batch, _) =>
        store.unionByName(IncrementalIndex.probeGraphServe(s, batch, indexDir))
      }
    }
  }

  lazy val st21Sql: String = graft.operators.Embeddings.e23Sql

  // ---------------------------------------------------------------- st22
  /** STREAMING GRAPH-INGEST — the ONLINE-MAINTENANCE half st21 defers
    * to (st13's class, not st17's): arriving vectors don't just query
    * the graph, they JOIN it. The corpus bootstraps the batch-keyed
    * (lsh_buckets, graph_edges) pair once (bid −1); each micro-batch
    * then (1) computes its vectors' insert-time edge lists against the
    * store as it stands ([[graft.jobs.IncrementalIndex
    * .probeGraphInsert]]: bucketmate seeds over corpus + every earlier
    * arrival, one localized hop through the FROZEN bootstrap edges,
    * exact rescore — the online NN-Descent insert) and (2) appends its
    * own bucket rows and edge rows under its idempotent bid partition,
    * so LATER batches' seeds retrieve THIS batch's vectors. Readout =
    * every arrival's stored edge list.
    *
    * Equivalence contract: ascending vec_id arrivals make "already
    * inserted" ≡ "lower id", and insert-time expansion reads only the
    * frozen bootstrap graph, so each vector's edges are a pure
    * function of (itself, the earlier-id set, the corpus graph) — the
    * final edge table equals the one-shot recompute for ANY
    * ascending-id split (pinned in StreamingSpec, with the crash-
    * replay exceptBid case). Rebuild-vs-online quality is measured,
    * not assumed: GraphInsertSpec pins the recall gap against the
    * full NN-Descent rebuild. */
  def st22StreamingGraphIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.jobs.IncrementalIndex
    import graft.operators.Embeddings
    val modE = Embeddings.IncrementalBatchModE
    Streams.withTempDir("graft-st22-idx-") { indexDir =>
      val vecs = graft.Tables.embeddings(s, dir)
      // bootstrap pair from the in-JVM memo path (writeServePair's
      // discipline — warm pays the parquet write, cold rebuilds);
      // each batch's step stays the explicit recompute
      IncrementalIndex.writeGraphBootstrapFixture(s, dir, indexDir)
      val empty = vecs.limit(0)
        .select(col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
          lit(0.0).as("cos"), lit(0).as("rank"))
      Streams.runForeachBatch(s, "append", empty)(
        ss => Streams.tableStream(ss, dir, "embeddings")
          .where(col("vec_id") % modE === 0)) { (store, batch, bid) =>
        store.unionByName(IncrementalIndex.ingestGraphBatch(s, batch, indexDir, bid))
      }
    }
  }

  lazy val st22Sql: String = graft.operators.Embeddings.onlineInsertSql

  // ---------------------------------------------------------------- st23
  /** Streaming BLOOM-JOIN decontamination — st17 with d49's broadcast
    * bits prefilter in front of the per-batch exact verify: the frozen
    * serve pair is now (bench_shingles, bloom_words) — the strings for
    * the verify, the BITS for the map-side prefilter — and every
    * arriving micro-batch's shingles probe the filter before any join.
    * Same contract as st17 (stateless probe of a frozen store ⇒ the
    * verdict table equals batch d18 for ANY split in ANY order), and
    * the filter changes no verdict (no false negatives; the verify
    * join removes false positives — BloomFilterSpec), so the oracle is
    * d18's verbatim. What the bits buy in deployment: the per-batch
    * probe ships 64 KiB instead of the benchmark's shingle strings to
    * every task, and only the ε-fraction of batch shingles the filter
    * passes enters the join — the st17 steady-state cost with the
    * broadcast and probe volume decoupled from the benchmark's size. */
  def st23StreamingBloom(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.BloomFilter
    import graft.jobs.IncrementalIndex
    import graft.operators.LlmText
    val mod = LlmText.ContaminationMod
    Streams.withTempDir("graft-st23-idx-") { indexDir =>
      val docs = graft.Tables.documents(s, dir)
      // frozen serve pair (strings + bits) from the in-JVM memo path
      IncrementalIndex.writeBenchIndexFixture(s, dir, indexDir)
      IncrementalIndex.writeBloomIndexFixture(s, dir, indexDir,
        BloomFilter.DefaultBits, BloomFilter.DefaultK)
      val empty = docs.limit(0)
        .select(col("doc_id"), col("doc_id").as("bench_id"),
          lit(0L).as("n_shared"))
      Streams.runForeachBatch(s, "append", empty)(
        ss => Streams.tableStream(ss, dir, "documents")
          .where(col("doc_id") % mod =!= 0)) { (store, batch, _) =>
        store.unionByName(IncrementalIndex.probeBenchBloom(s, batch, indexDir))
      }
    }
  }

  lazy val st23Sql: String = graft.operators.LlmText.d18Sql

  // ---------------------------------------------------------------- st24
  /** STREAMING RETRACTIONS — the DELETE verb of the index lifecycle as
    * a stream (the cell st13-class ingest and e24's batch tombstones
    * leave open: build and append arrive online in st13/st22, but
    * deletions in a real pipeline arrive online too — DMCA takedowns,
    * opt-outs, upstream corrections). The corpus's frozen serve pair
    * (lsh_buckets, graph_edges — e23/e24's store) is built once; each
    * micro-batch of retraction ids then lands in its own idempotent
    * `bid=<id>` partition of the vec_tombstones table
    * ([[graft.jobs.IncrementalIndex.writeVecTombstonesBatch]]); the
    * readout once the stream drains is the tombstoned serve over the
    * persisted pair ([[graft.jobs.IncrementalIndex
    * .probeGraphServeLive]] — every stage anti-joins the tombstone
    * set).
    *
    * Equivalence contract (why the oracle is e24's verbatim):
    * tombstones are a SET — the union of the bid partitions equals the
    * full retraction set for ANY split in ANY order, and application
    * is an anti-join that duplicates cannot perturb — so the drained
    * readout equals batch e24 row-for-row (and a crash-replayed batch
    * simply overwrites its own partition; StreamingSpec pins both).
    * Steady-state deployment cost: per batch, one retraction-sized
    * parquet append — the serve price is paid by READS, each a
    * broadcast anti-join of the accumulated (retraction-sized ≪
    * corpus) id set, until a rebuild over the survivors makes reads
    * free again. */
  def st24StreamingRetraction(s: SparkSession, dir: String): DataFrame = {
    import graft.jobs.IncrementalIndex
    import graft.operators.Embeddings
    Streams.withTempDir("graft-st24-idx-") { indexDir =>
      val vecs = graft.Tables.embeddings(s, dir)
      IncrementalIndex.writeServePair(s, dir, indexDir)
      val empty = vecs.limit(0).select(col("vec_id"))
      Streams.runForeachBatch(s, "append", empty)(
        ss => Streams.tableStream(ss, dir, "embeddings")
          .where(col("vec_id") % Embeddings.VecTombMod === Embeddings.VecTombRem)
          .select(col("vec_id"))) { (store, batch, bid) =>
        IncrementalIndex.writeVecTombstonesBatch(s, batch, indexDir, bid)
        store
      }
      IncrementalIndex.probeGraphServeLive(s, indexDir)
    }
  }

  lazy val st24Sql: String = graft.operators.Embeddings.e24Sql

  // ---------------------------------------------------------------- st25
  /** STREAMING CLUSTER MAINTENANCE — online connected components, the
    * hardest maintenance verb in the dedup lifecycle: d14's cluster
    * label is a GLOBAL property (an arriving document can BRIDGE two
    * existing clusters, changing every member's label), yet a real
    * corpus pipeline needs labels current as documents arrive — for
    * d47's leakage-free splits and d50's quality survivors — without
    * relabeling the corpus per batch. The union-find-as-log design
    * ([[graft.jobs.IncrementalIndex.writeClusterBootstrap]]): the
    * corpus bootstraps (text index + component labels at bid −1); each
    * micro-batch probes its verified near-dup EDGES against the store,
    * contracts the touched components (nodes = batch docs + the
    * distinct labels they reached — never the clusters' members), runs
    * min-label propagation on that batch-sized graph, and appends one
    * label partition + one merge-event partition. The readout resolves
    * the label log through the merge closure — equal to the one-shot
    * d14 clustering over the full corpus for ANY ascending-id split
    * (components of a fixed edge set are split-invariant; the
    * incremental min is the true min by induction), which is why the
    * oracle is d14Sql VERBATIM. Crash-replay: probe-before-append with
    * `exceptBid` across all four partitions, pinned in StreamingSpec.
    *
    * Steady-state deployment cost: per batch, one batch-sized LSH
    * probe + one contraction over the batch's edge count + four
    * batch-sized appends; the merge log grows one row per bridge
    * EVENT (bounded by total cluster count, ≪ corpus). */
  def st25StreamingClusters(s: SparkSession, dir: String): DataFrame = {
    import graft.jobs.IncrementalIndex
    import graft.operators.LlmText
    val mod = LlmText.IncrementalBatchMod
    Streams.withTempDir("graft-st25-idx-") { indexDir =>
      val docs = graft.Tables.documents(s, dir)
      IncrementalIndex.writeClusterBootstrapFixture(s, dir, indexDir)
      val empty = docs.limit(0)
        .select(col("doc_id"), col("doc_id").as("cluster_id"))
      Streams.runForeachBatch(s, "append", empty)(
        ss => Streams.tableStream(ss, dir, "documents")
          .where(col("doc_id") % mod === 0)) { (store, batch, bid) =>
        IncrementalIndex.applyClusterBatch(s, batch, indexDir, bid)
        store
      }
      IncrementalIndex.resolveClusterLabels(s, indexDir)
    }
  }

  lazy val st25Sql: String = graft.operators.LlmText.d14Sql

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st25_streaming_clusters" -> (st25StreamingClusters _),
    "st24_streaming_retraction" -> (st24StreamingRetraction _),
    "st23_streaming_bloom" -> (st23StreamingBloom _),
    "st22_streaming_graph_ingest" -> (st22StreamingGraphIngest _),
    "st21_streaming_graph_serve" -> (st21StreamingGraphServe _),
    "st20_streaming_quantiles" -> (st20StreamingQuantiles _),
    "st19_streaming_substr_ingest" -> (st19StreamingSubstrIngest _),
    "st18_streaming_kmv" -> (st18StreamingKmv _),
    "st17_streaming_decontamination" -> (st17StreamingDecontamination _),
    "st16_streaming_phash_ingest" -> (st16StreamingPhashIngest _),
    "st15_streaming_sq_ingest" -> (st15StreamingSqIngest _),
    "st14_streaming_sem_ingest" -> (st14StreamingSemIngest _),
    "st13_streaming_ingest" -> (st13StreamingIngest _),
    "st12_running_rollup" -> (st12RunningRollup _),
    "st11_cms_cells" -> (st11CmsCells _),
    "st10_stream_left_join" -> (st10StreamStreamLeftJoin _),
    "st09_stream_stream_join" -> (st09StreamStreamJoin _),
    "st08_session_window" -> (st08SessionWindow _),
    "st07_stream_dedup" -> (st07StreamDedup _),
    "st01_parse_count" -> (st01ParseCount _),
    "st02_sliding_window" -> (st02SlidingWindow _),
    "st03_blacklist_anti" -> (st03BlacklistAnti _),
    "st04_cumulative_state" -> (st04CumulativeState _),
    "st05_threshold_promote" -> (st05ThresholdPromote _),
    "st06_daily_top3" -> (st06DailyTop3 _))

  /** LAZY: st13Sql/st14Sql ARE LlmText.d30Sql / Embeddings.e09Sql.
    * Assembling the map during static init would read them mid-cycle
    * if either operator object's init re-entered this one — the
    * cross-object RerankC trap ([[graft.tools.InitOrderCheck]]). */
  lazy val oracleSql: Map[String, String] = Map(
    "st25_streaming_clusters" -> st25Sql,
    "st24_streaming_retraction" -> st24Sql,
    "st22_streaming_graph_ingest" -> st22Sql,
    "st23_streaming_bloom" -> st23Sql,
    "st21_streaming_graph_serve" -> st21Sql,
    "st20_streaming_quantiles" -> st20Sql,
    "st19_streaming_substr_ingest" -> st19Sql,
    "st18_streaming_kmv" -> st18Sql,
    "st17_streaming_decontamination" -> st17Sql,
    "st16_streaming_phash_ingest" -> st16Sql,
    "st15_streaming_sq_ingest" -> st15Sql,
    "st14_streaming_sem_ingest" -> st14Sql,
    "st13_streaming_ingest" -> st13Sql,
    "st12_running_rollup" -> st12Sql,
    "st11_cms_cells" -> st11Sql,
    "st10_stream_left_join" -> st10Sql,
    "st09_stream_stream_join" -> st09Sql,
    "st08_session_window" -> st08Sql,
    "st07_stream_dedup" -> st07Sql,
    "st01_parse_count" -> st01Sql,
    "st02_sliding_window" -> st02Sql,
    "st03_blacklist_anti" -> st03Sql,
    "st04_cumulative_state" -> st04Sql,
    "st05_threshold_promote" -> st05Sql,
    "st06_daily_top3" -> st06Sql)
}
