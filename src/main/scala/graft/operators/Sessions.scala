package graft.operators

import graft.StoredMemo.Pinning
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{Predicates, TaskParams}

/** Session-analytics suite (SURVEY 需求1–2): sessionization, per-session
  * composite aggregation, bucketized stats in ONE aggregation pass, and the
  * null-tolerant parameterized filter with same-pass counters — the
  * reference hand-rolls all of this with groupByKey + a custom accumulator
  * (session/src/main/scala/SessionStat.scala:519-673,
  * SessionAccumulator.scala:5-38); here each is a single declarative plan.
  *
  * Scale notes (100 TB):
  *  - Sessionization is one shuffle on user_id (the window partition key);
  *    user_id is high-cardinality and unskewed, so partitions stay small.
  *  - The bucket stats are ONE hash aggregate over the session table — no
  *    accumulator, no second pass, no driver-side state.
  *  - All stats aggregates are partial-aggregated map-side before the
  *    single exchange; output cardinality is tiny (1 row / per-stratum).
  */
object Sessions {

  /** 30-minute inactivity gap, per the classic sessionization convention
    * (the reference's data arrives pre-sessioned; the gap rule is the
    * capability its session_id column implies). */
  val GapSeconds = 1800L

  /** events + derived columns: ns (event time, epoch nanos), sec, date,
    * hour, k (the JSON props field). */
  def enriched(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("sec", expr("ts div 1000000000"))
      .withColumn("t", expr("timestamp_micros(ts div 1000)"))
      .withColumn("date", date_format(col("t"), "yyyy-MM-dd"))
      .withColumn("hour", hour(col("t")))
      .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))

  /** Gap-based sessionization: lag + new-session flag + running sum of
    * flags within the user's timeline. Exactly one shuffle (on user_id)
    * — the plan shape pinned by PlanAuditSpec against [[sessionizedPlan]].
    *
    * Memoized per (JVM, dir) as a localCheckpoint: the session-assigned
    * event table is the stored artifact of the nightly sessionize job —
    * the reference itself materializes `user_visit_action` WITH session
    * ids into Hive and every 需求 query reads the stored table
    * (SessionStat.scala's input contract); re-deriving sessions per
    * query is the thing no deployment does. Stored-index discipline,
    * docs/SCALE.md. */
  def sessionized(s: SparkSession, dir: String): DataFrame =
    graft.StoredMemo.stored(s, "sessionized-events", dir)(
      // layout note (r13): deliberately NOT repartitioned — the s-suite
      // consumers aggregate immediately, and the measured A/B favored
      // the compact AQE layout over a 32-way spread
      sessionizedPlan(s, dir).pin("sessionized-events"))

  /** The un-materialized build pipeline — the form whose physical plan
    * (one user_id exchange) PlanAuditSpec pins. */
  private[graft] def sessionizedPlan(s: SparkSession, dir: String): DataFrame =
    sessionizedFrom(enriched(s, dir))

  /** [[sessionized]] over an arbitrary (possibly param-filtered) enriched
    * event frame — the composition point the job mains use. */
  def sessionizedFrom(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    ev
      .withColumn("prev_sec", lag(col("sec"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_sec").isNull || col("sec") - col("prev_sec") > GapSeconds, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("session_id", concat(col("user_id"), lit("_"), col("session_idx")))
      .drop("prev_sec", "new_sess")
  }

  /** Shared DuckDB CTE mirroring [[enriched]] + [[sessionized]]. */
  private[operators] val sessSql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, value,
      |    epoch_ns(ts) AS ns,
      |    epoch_ns(ts) // 1000000000 AS sec,
      |    strftime(make_timestamp(epoch_ns(ts) // 1000), '%Y-%m-%d') AS date,
      |    hour(make_timestamp(epoch_ns(ts) // 1000)) AS hour,
      |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events
      |), lagged AS (
      |  SELECT *, CASE WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY ns, event_id) IS NULL
      |                   OR sec - lag(sec) OVER (PARTITION BY user_id ORDER BY ns, event_id) > 1800
      |            THEN 1 ELSE 0 END AS new_sess
      |  FROM ev
      |), sess AS (
      |  SELECT *, CAST(user_id AS VARCHAR) || '_' || CAST(
      |      sum(new_sess) OVER (PARTITION BY user_id ORDER BY ns, event_id
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS session_id
      |  FROM lagged
      |)""".stripMargin

  // ---------------------------------------------------------------- s01
  /** Event → session assignment (the sessionize operator itself). */
  def s01Sessionize(s: SparkSession, dir: String): DataFrame =
    sessionized(s, dir).select(col("event_id"), col("user_id"), col("session_id"))

  val s01Sql: String =
    s"""$sessSql
       |SELECT event_id, user_id, session_id FROM sess""".stripMargin

  // ---------------------------------------------------------------- s02
  /** Per-session composite aggregate in one pass: min/max time, step
    * count, sorted-distinct event types and k values — the reference's
    * hand loop at SessionStat.scala:618-673 building a packed string;
    * here real columns out of one hash aggregate. */
  def s02SessionAgg(s: SparkSession, dir: String): DataFrame =
    sessionAggFrom(sessionized(s, dir))

  def sessionAggFrom(sess: DataFrame): DataFrame =
    sess
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("sec")).as("start_sec"),
        max(col("sec")).as("end_sec"),
        (max(col("sec")) - min(col("sec"))).as("visit_length"),
        count(lit(1)).as("step_length"),
        concat_ws(",", sort_array(collect_set(col("event_type")))).as("event_types"),
        concat_ws(",", sort_array(collect_set(col("k").cast("string")))).as("ks"))

  val s02Sql: String =
    s"""$sessSql
       |SELECT user_id, session_id,
       |  min(sec) AS start_sec, max(sec) AS end_sec,
       |  max(sec) - min(sec) AS visit_length,
       |  count(*) AS step_length,
       |  coalesce(string_agg(DISTINCT event_type, ',' ORDER BY event_type), '') AS event_types,
       |  coalesce(string_agg(DISTINCT CAST(k AS VARCHAR), ',' ORDER BY CAST(k AS VARCHAR)), '') AS ks
       |FROM sess GROUP BY user_id, session_id""".stripMargin

  // ---------------------------------------------------------------- s03
  /** All bucketized visit/step stats in ONE aggregation (SURVEY A6) —
    * bucket boundaries exactly mirror the reference's if-chains
    * (SessionStat.scala:581-617: calculateVisitLength/calculateStepLength;
    * note visit_length 0 falls in NO bucket there, preserved here).
    * Ratios use round(n*100/total)/100 — identical HALF-away-from-zero
    * rounding in Spark and DuckDB for positive values. */
  def s03BucketStats(s: SparkSession, dir: String): DataFrame =
    bucketStatsFrom(s02SessionAgg(s, dir))

  def bucketStatsFrom(sess: DataFrame): DataFrame = {
    def bucket(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val v = col("visit_length")
    val p = col("step_length")
    val agg = sess.agg(
      count(lit(1)).as("session_count"),
      bucket(v.between(1, 3)).as("visit_1s_3s"),
      bucket(v.between(4, 6)).as("visit_4s_6s"),
      bucket(v.between(7, 9)).as("visit_7s_9s"),
      bucket(v.between(10, 30)).as("visit_10s_30s"),
      bucket(v > 30 && v <= 60).as("visit_30s_60s"),
      bucket(v > 60 && v <= 180).as("visit_1m_3m"),
      bucket(v > 180 && v <= 600).as("visit_3m_10m"),
      bucket(v > 600 && v <= 1800).as("visit_10m_30m"),
      bucket(v > 1800).as("visit_30m"),
      bucket(p.between(1, 3)).as("step_1_3"),
      bucket(p.between(4, 6)).as("step_4_6"),
      bucket(p.between(7, 9)).as("step_7_9"),
      bucket(p.between(10, 30)).as("step_10_30"),
      bucket(p > 30 && p <= 60).as("step_30_60"),
      bucket(p > 60).as("step_60"))
    agg.select(
      col("session_count") +:
        agg.columns.filter(_ != "session_count").map { c =>
          (round(col(c) * 100.0 / col("session_count")) / 100.0).as(s"ratio_$c")
        }.toSeq: _*)
  }

  val s03Sql: String = {
    val buckets = Seq(
      "visit_1s_3s" -> "visit_length BETWEEN 1 AND 3",
      "visit_4s_6s" -> "visit_length BETWEEN 4 AND 6",
      "visit_7s_9s" -> "visit_length BETWEEN 7 AND 9",
      "visit_10s_30s" -> "visit_length BETWEEN 10 AND 30",
      "visit_30s_60s" -> "visit_length > 30 AND visit_length <= 60",
      "visit_1m_3m" -> "visit_length > 60 AND visit_length <= 180",
      "visit_3m_10m" -> "visit_length > 180 AND visit_length <= 600",
      "visit_10m_30m" -> "visit_length > 600 AND visit_length <= 1800",
      "visit_30m" -> "visit_length > 1800",
      "step_1_3" -> "step_length BETWEEN 1 AND 3",
      "step_4_6" -> "step_length BETWEEN 4 AND 6",
      "step_7_9" -> "step_length BETWEEN 7 AND 9",
      "step_10_30" -> "step_length BETWEEN 10 AND 30",
      "step_30_60" -> "step_length > 30 AND step_length <= 60",
      "step_60" -> "step_length > 60")
    val cols = buckets.map { case (n, cond) =>
      s"round(sum(CASE WHEN $cond THEN 1 ELSE 0 END) * 100.0 / count(*)) / 100.0 AS ratio_$n"
    }.mkString(",\n  ")
    s"""$sessSql, sa AS (
       |  SELECT session_id, max(sec) - min(sec) AS visit_length, count(*) AS step_length
       |  FROM sess GROUP BY session_id
       |)
       |SELECT count(*) AS session_count,
       |  $cols
       |FROM sa""".stripMargin
  }

  // ---------------------------------------------------------------- s04
  /** Parameterized filter via the null-tolerant predicate builder (F9) +
    * all counters in the SAME pass (SURVEY P3/A6: the reference filters
    * row-by-row updating a custom accumulator, SessionStat.scala:519-578;
    * here the filter is one `where` — with absent params constant-folded
    * away — and the counters one aggregation). */
  val s04Params: TaskParams = TaskParams(Map(
    "startDate" -> "2024-01-08", // the reference's PRIMARY task params —
    "endDate" -> "2024-01-22",   // whole-day ts bounds, pushed to the scan
    "eventTypes" -> "click,purchase,view",
    "minValue" -> "5.0",
    "maxValue" -> "80.0",
    "minK" -> "10",
    "keyword" -> "")) // empty ⇒ no constraint ⇒ folded out of the plan

  def s04FilteredStats(s: SparkSession, dir: String): DataFrame =
    counterStats(filteredEvents(s, dir, s04Params))

  /** The F9 filter stage on its own: enriched events gated by whatever
    * constraints the task params carry (absent ⇒ folded out). The job
    * mains feed THIS through the whole downstream suite, mirroring the
    * reference lifecycle where one filter governs every 需求 output.
    *
    * The date range (startDate/endDate, the reference's primary task
    * params — ParamUtils.getParam(START_DATE/END_DATE)) is translated to
    * a RAW `ts` bound, not a predicate on the derived date string: `ts`
    * is a parquet column, so the range reaches the scan as PushedFilters
    * and prunes row groups by min/max stats — at 100 TB the difference
    * between scanning a day and scanning the corpus. Both bounds are
    * whole-day inclusive (end date covers through 23:59:59.999999999). */
  def filteredEvents(s: SparkSession, dir: String, p: TaskParams): DataFrame = {
    def dayStartNs(d: String): Long =
      java.time.LocalDate.parse(d).atStartOfDay(java.time.ZoneOffset.UTC)
        .toInstant.getEpochSecond * 1000000000L
    val tsLo = p.get("startDate").map(dayStartNs)
    val tsHi = p.get("endDate").map(d => dayStartNs(d) + 86400L * 1000000000L - 1L)
    enriched(s, dir).where(Predicates.all(
      Predicates.between(col("ts"), tsLo, tsHi),
      Predicates.in(col("event_type"), p.getSeq("eventTypes")),
      Predicates.betweenD(col("value"), p.getDouble("minValue"), p.getDouble("maxValue")),
      Predicates.between(col("k"), p.getLong("minK"), p.getLong("maxK")),
      Predicates.equalTo(col("event_type"), p.get("keyword"))))
  }

  /** Same-pass counters over a filtered frame (P3). */
  def counterStats(filtered: DataFrame): DataFrame =
    filtered.agg(
      count(lit(1)).as("n_events"),
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"),
      sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
      round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("sum_value"),
      countDistinct(col("user_id")).as("n_users"))

  val s04Sql: String =
    """SELECT count(*) AS n_events,
      |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
      |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value,
      |  count(DISTINCT user_id) AS n_users
      |FROM events
      |WHERE epoch_ns(ts) >= 1704672000000000000
      |  AND epoch_ns(ts) <= 1705967999999999999
      |  AND event_type IN ('click','purchase','view')
      |  AND value >= 5.0 AND value <= 80.0
      |  AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) >= 10""".stripMargin

  // ---------------------------------------------------------------- s05
  /** Stratified seeded sampling (SURVEY M2: SessionStat.scala:314-454):
    * per-(date,hour) quota proportional to stratum size, sampled with
    * row_number over rand(seed). No driver-side index maps (the
    * reference's countByKey + broadcast HashMap): the total is a 1-row
    * broadcast cross join and the quota table a broadcast join — both
    * scale-free. Output is the per-stratum sampled count, which the
    * oracle reproduces from the quota formula alone (the sample identity
    * is Spark-PRNG-specific; the invariant is engine-independent). */
  val SampleTarget = 200L

  def s05StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val (result, counts) = s05PlanWithCache(s, dir)
    // materialize the (one-row-per-stratum) result eagerly so the shared
    // counts cache can be released here — a terminal persist without
    // unpersist leaks one CacheManager entry per invocation for the
    // session lifetime (bench sweeps and repeated job runs share a JVM).
    // localCheckpoint blocks are RDD-level: freed by the ContextCleaner
    // once the result is unreferenced, unlike the SQL cache.
    val out = result.pin("stratified-sample")
    counts.unpersist()
    out
  }

  /** The un-checkpointed s05 plan + its counts cache (callers own the
    * unpersist) — the form the plan specs inspect (the public entry
    * checkpoints, which erases lineage). */
  private[graft] def s05PlanWithCache(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // narrow integer stratum keys: day/hour are integer-nanos arithmetic
    // (UTC session), so neither event pass pays per-row timestamp
    // formatting; the yyyy-MM-dd string is produced ONCE on the final
    // per-stratum frame (~|strata| rows, never |events|)
    val ev = Tables.events(s, dir).select(
      expr("ts div 86400000000000").as("day"),
      expr("(ts % 86400000000000) div 3600000000000").cast("int").as("hour"),
      col("event_id"))
    // counts reused twice (total + quota) → persist (SURVEY M3)
    val counts = ev.groupBy(col("day"), col("hour")).agg(count(lit(1)).as("cnt")).persist()
    val total = counts.agg(sum(col("cnt")).as("total"))
    val quota = counts.crossJoin(broadcast(total))
      .withColumn("quota", greatest(lit(1L), expr(s"cnt * $SampleTarget div total")))
      .select(col("day"), col("hour"), col("quota"))
    // the draw is a BOUNDED aggregate, not a window: quotaSample keeps
    // the quota smallest (rnd, event_id) per stratum with map-side
    // combine — same rows as row_number over (rnd, event_id) (pinned in
    // StratifiedSampleSpec) but the exchange carries only the per-
    // partition candidate caps, never the full event table through a
    // per-stratum sort (round-13: the r12 sweep's one ≥2× read)
    val result = ev.join(broadcast(quota), Seq("day", "hour"))
      .withColumn("rnd", rand(42))
      .groupBy(col("day"), col("hour"))
      .agg(graft.functions.Aggregators.quotaSample(
        col("quota"), col("rnd"), col("event_id")).as("sample"))
      .select(
        date_format(timestamp_micros(col("day") * 86400000000L), "yyyy-MM-dd").as("date"),
        col("hour"),
        size(col("sample")).cast("long").as("n_sampled"))
    (result, counts)
  }

  val s05Sql: String =
    s"""WITH ev AS (
       |  SELECT strftime(make_timestamp(epoch_ns(ts) // 1000), '%Y-%m-%d') AS date,
       |         hour(make_timestamp(epoch_ns(ts) // 1000)) AS hour
       |  FROM events
       |), counts AS (
       |  SELECT date, hour, count(*) AS cnt FROM ev GROUP BY date, hour
       |), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts)
       |SELECT date, hour,
       |  CAST(least(greatest(1, cnt * $SampleTarget // total), cnt) AS BIGINT) AS n_sampled
       |FROM counts, tot""".stripMargin

  // ---------------------------------------------------------------- s06
  /** Per-(session, event_type) counts (SURVEY A9: the reference builds a
    * per-session HashMap of category counts inside flatMap,
    * SessionStat.scala:112-130 — here it IS the group key). */
  def s06SessionTypeCounts(s: SparkSession, dir: String): DataFrame =
    sessionized(s, dir)
      .groupBy(col("session_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  val s06Sql: String =
    s"""$sessSql
       |SELECT session_id, event_type, count(*) AS n
       |FROM sess GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- s07
  /** AS-OF join — the time-series operator Spark has no native join type
    * for: each purchase matched to the user's most recent click at or
    * before it (NULL when none). Implemented as the scale-correct
    * composition: union-tag both sides, then a last-non-null
    * carry-forward window over (ts, side) per user — ONE shuffle on
    * user_id total. The naive alternative (inequality join + per-pair
    * max) shuffles twice and inflates to every (purchase, earlier-click)
    * pair before re-filtering; the carry-forward never materializes a
    * pair. Clicks are pre-reduced per (user, ts) so tie semantics are
    * explicit: a click AT the purchase timestamp matches (<=, clicks
    * sort before purchases via the side tag), and equal-time clicks
    * collapse to max(value). The oracle is DuckDB's NATIVE ASOF LEFT
    * JOIN — an independent implementation of the same semantics. */
  def s07AsofJoin(s: SparkSession, dir: String): DataFrame = {
    // µs granularity: the oracle engine reads the parquet timestamps at
    // microsecond precision, so the comparable key is ts div 1000
    val ev = Tables.events(s, dir).withColumn("us", expr("ts div 1000"))
    val clicks = ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("us"))
      .agg(max(col("value")).as("cv"))
      .select(col("user_id"), col("us"), lit(0L).as("side"),
        lit(null).cast("long").as("event_id"), lit(null).cast("double").as("value"),
        col("us").as("ct0"), col("cv").as("cv0"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("us"), lit(1L).as("side"),
        col("event_id"), col("value"),
        lit(null).cast("long").as("ct0"), lit(null).cast("double").as("cv0"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("click_ts", last(col("ct0"), ignoreNulls = true).over(w))
      .withColumn("click_val", last(col("cv0"), ignoreNulls = true).over(w))
      .where(col("side") === 1)
      .select(col("user_id"), col("event_id"), col("us"), col("value"),
        col("click_ts"), col("click_val"))
  }

  val s07Sql: String =
    """WITH clicks AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS cts, max(value) AS click_val
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
      |), purchases AS (
      |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, value
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT p.user_id, p.event_id, p.us, p.value,
      |  c.cts AS click_ts, c.click_val
      |FROM purchases p ASOF LEFT JOIN clicks c
      |  ON p.user_id = c.user_id AND p.us >= c.cts""".stripMargin

  // ---------------------------------------------------------------- s08
  /** Deterministic stratified EXTRACTION (SURVEY M2, second half: the
    * reference doesn't stop at per-stratum counts — it emits the sampled
    * sessions themselves into `session_random_extract`,
    * SessionStat.scala:352-454). s05 verifies the quota arithmetic; this
    * query emits the actual sampled session rows. The reference (and
    * s05) order candidates by a PRNG, whose row identity is
    * engine-private; here the sample key is the portable 60-bit hash of
    * the session id — a seeded-PRNG-quality spread that BOTH engines can
    * compute, so the oracle reproduces the exact sample, row for row.
    * At scale this is also the better design: h64(session_id) is stable
    * under re-runs and partition counts (rand(seed) is neither, its
    * value depends on row-to-partition assignment), so the extract is
    * idempotent across retries — what a 100 TB pipeline actually wants
    * from "random" sampling. One shuffle for the session rollup, one for
    * the per-stratum rank; quota side is broadcast. */
  def s08DeterministicExtract(s: SparkSession, dir: String): DataFrame =
    extractFrom(sessionized(s, dir))

  def extractFrom(sessionizedEv: DataFrame): DataFrame = {
    val (extract, sess) = extractLazy(sessionizedEv)
    // the extract is bounded by construction (Σ quotas ≈ SampleTarget +
    // #strata rows): materialize it eagerly, then release the session
    // rollup's cache instead of leaking one MEMORY_AND_DISK entry per
    // invocation (s05 has the same lifecycle; SessionJob owns its own
    // frame's persist/unpersist in try/finally)
    val out = extract.pin("session-extract")
    sess.unpersist()
    out
  }

  /** The un-materialized extract plan + the session-rollup cache it
    * rides on — the form PlanAuditSpec inspects (the public entry
    * checkpoints the result, so its executed plan is just the RDD
    * scan). Callers own the unpersist. */
  private[graft] def extractLazy(sessionizedEv: DataFrame): (DataFrame, DataFrame) = {
    import graft.functions.Portable
    // user_id in the GROUP KEY (it's session_id's prefix, so no grain
    // change): the sessionize window already hash-partitioned on
    // user_id, and a grouping whose keys are a superset of the incoming
    // partitioning reuses it — NO second full-table exchange.
    val sess = sessionizedEv
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("ts0"),
        count(lit(1)).as("n_events"))
      .withColumn("t0", expr("timestamp_micros(ts0 div 1000)"))
      .withColumn("date", date_format(col("t0"), "yyyy-MM-dd"))
      .withColumn("hour", hour(col("t0")))
      .withColumn("start_us", expr("ts0 div 1000"))
      .persist() // reused: stratum counts + the sample scan (SURVEY M3)
    val counts = sess.groupBy(col("date"), col("hour")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    val quota = counts.crossJoin(broadcast(total))
      .withColumn("quota", greatest(lit(1L), expr(s"cnt * $SampleTarget div total")))
      .select(col("date"), col("hour"), col("quota"))
    val w = Window.partitionBy(col("date"), col("hour"))
      .orderBy(col("h"), col("session_id"))
    val extract = sess.join(broadcast(quota), Seq("date", "hour"))
      .withColumn("h", Portable.h64(col("session_id")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= col("quota"))
      .select(col("date"), col("hour"), col("session_id"), col("user_id"),
        col("start_us"), col("n_events"))
    (extract, sess)
  }

  val s08Sql: String = {
    val h = graft.functions.Portable.h64Sql("session_id")
    s"""$sessSql, sessions AS (
       |  SELECT session_id, user_id, min(ns) AS ns0, count(*) AS n_events
       |  FROM sess GROUP BY session_id, user_id
       |), rolled AS (
       |  SELECT session_id, user_id,
       |    ns0 // 1000 AS start_us,
       |    strftime(make_timestamp(ns0 // 1000), '%Y-%m-%d') AS date,
       |    hour(make_timestamp(ns0 // 1000)) AS hour,
       |    CAST(n_events AS BIGINT) AS n_events,
       |    $h AS h
       |  FROM sessions
       |), counts AS (
       |  SELECT date, hour, count(*) AS cnt FROM rolled GROUP BY 1, 2
       |), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts
       |), quota AS (
       |  SELECT date, hour, greatest(1, cnt * $SampleTarget // total) AS quota
       |  FROM counts, tot
       |), ranked AS (
       |  SELECT r.*, q.quota,
       |    row_number() OVER (PARTITION BY r.date, r.hour ORDER BY r.h, r.session_id) AS rn
       |  FROM rolled r JOIN quota q USING (date, hour)
       |)
       |SELECT date, hour, session_id, user_id, start_us, n_events
       |FROM ranked WHERE rn <= quota""".stripMargin
  }

  // ---------------------------------------------------------------- s09
  /** ORDERED, TIME-BOUNDED funnel analysis — the step-conversion
    * operator behind every product-analytics dashboard: users whose
    * first view is followed by a click within the attribution window,
    * then a purchase within the window of that click. Ordering AND
    * recency both matter (a purchase preceding the click, or a click a
    * week later, does not convert) — c04's adjacent-pair rates can't
    * express either. First-occurrence anchors make the definition
    * deterministic; the window is [[FunnelWindowHours]] (the fixture's
    * inter-event cadence is hours, so a day-scale window exercises
    * partial conversion at every step).
    *
    * Shape: three user-keyed aggregates chained by joins on the same
    * key — the exchanges after the first reuse the partitioning (the
    * subset rule s08 leans on); output is one row of step counts plus
    * conversion rates (exact-integer divisions). */
  val FunnelWindowHours = 24L

  def s09Funnel(s: SparkSession, dir: String): DataFrame = {
    val winNs = FunnelWindowHours * 3600L * 1000000000L
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    val t1 = ev.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val t2 = ev.join(t1, Seq("user_id"))
      .where(col("event_type") === "click" &&
        col("ts") >= col("t1") && col("ts") <= col("t1") + lit(winNs))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val t3 = ev.join(t2, Seq("user_id"))
      .where(col("event_type") === "purchase" &&
        col("ts") >= col("t2") && col("ts") <= col("t2") + lit(winNs))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    ev.agg(countDistinct(col("user_id")).as("n_users"))
      .crossJoin(broadcast(t1.agg(count(lit(1)).as("n_view"))))
      .crossJoin(broadcast(t2.agg(count(lit(1)).as("n_view_click"))))
      .crossJoin(broadcast(t3.agg(count(lit(1)).as("n_full_funnel"))))
      .select(
        col("n_users"),
        col("n_view"), col("n_view_click"), col("n_full_funnel"),
        (col("n_view_click").cast("double") / col("n_view").cast("double")).as("rate_click"),
        (col("n_full_funnel").cast("double") / col("n_view_click").cast("double")).as("rate_purchase"))
  }

  val s09Sql: String = {
    val w = FunnelWindowHours * 3600L * 1000000000L
    s"""WITH t1 AS (
       |  SELECT user_id, min(epoch_ns(ts)) AS t1 FROM events
       |  WHERE event_type = 'view' GROUP BY 1
       |), t2 AS (
       |  SELECT e.user_id, min(epoch_ns(e.ts)) AS t2
       |  FROM events e JOIN t1 USING (user_id)
       |  WHERE e.event_type = 'click'
       |    AND epoch_ns(e.ts) >= t1.t1 AND epoch_ns(e.ts) <= t1.t1 + $w
       |  GROUP BY 1
       |), t3 AS (
       |  SELECT e.user_id, min(epoch_ns(e.ts)) AS t3
       |  FROM events e JOIN t2 USING (user_id)
       |  WHERE e.event_type = 'purchase'
       |    AND epoch_ns(e.ts) >= t2.t2 AND epoch_ns(e.ts) <= t2.t2 + $w
       |  GROUP BY 1
       |)
       |SELECT
       |  (SELECT count(DISTINCT user_id) FROM events) AS n_users,
       |  (SELECT count(*) FROM t1) AS n_view,
       |  (SELECT count(*) FROM t2) AS n_view_click,
       |  (SELECT count(*) FROM t3) AS n_full_funnel,
       |  CAST((SELECT count(*) FROM t2) AS DOUBLE) /
       |    CAST((SELECT count(*) FROM t1) AS DOUBLE) AS rate_click,
       |  CAST((SELECT count(*) FROM t3) AS DOUBLE) /
       |    CAST((SELECT count(*) FROM t2) AS DOUBLE) AS rate_purchase""".stripMargin
  }

  // ---------------------------------------------------------------- s10
  /** COHORT RETENTION — the other half of the product-analytics pair
    * with s09: bucket users by their first-seen day (the cohort), then
    * for each (cohort, day-offset) count how many of that cohort were
    * active again offset days later. Day arithmetic runs on integer
    * epoch-days (sec div 86400) so both engines agree exactly and the
    * matrix keys are plain ints.
    *
    * Shape: one aggregate for cohorts (user-keyed), one distinct over
    * (user, day) — both reuse the user partitioning for the join
    * between them — then ONE count-distinct exchange keyed by the
    * (cohort_day, offset) matrix cell. Output is the full retention
    * triangle; offset 0 is each cohort's size. */
  def s10CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
    val cohorts = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val active = ev.distinct()
    active.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
  }

  val s10Sql: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id, epoch_ns(ts) // 1000000000 // 86400 AS day FROM events
      |), cohorts AS (
      |  SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1
      |)
      |SELECT c.cohort_day, e.day - c.cohort_day AS day_offset,
      |  count(DISTINCT e.user_id) AS n_active
      |FROM ev e JOIN cohorts c USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s10_cohort_retention" -> (s10CohortRetention _),
    "s09_funnel" -> (s09Funnel _),
    "s08_deterministic_extract" -> (s08DeterministicExtract _),
    "s07_asof_join" -> (s07AsofJoin _),
    "s01_sessionize" -> (s01Sessionize _),
    "s02_session_agg" -> (s02SessionAgg _),
    "s03_bucket_stats" -> (s03BucketStats _),
    "s04_filtered_stats" -> (s04FilteredStats _),
    "s05_stratified_sample" -> (s05StratifiedSample _),
    "s06_session_type_counts" -> (s06SessionTypeCounts _))

  val oracleSql: Map[String, String] = Map(
    "s10_cohort_retention" -> s10Sql,
    "s09_funnel" -> s09Sql,
    "s08_deterministic_extract" -> s08Sql,
    "s07_asof_join" -> s07Sql,
    "s01_sessionize" -> s01Sql,
    "s02_session_agg" -> s02Sql,
    "s03_bucket_stats" -> s03Sql,
    "s04_filtered_stats" -> s04Sql,
    "s05_stratified_sample" -> s05Sql,
    "s06_session_type_counts" -> s06Sql)
}
