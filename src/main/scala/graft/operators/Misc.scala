package graft.operators

import graft.StoredMemo.Pinning
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Remaining small operator families from SURVEY §2: the SQL-string entry
  * surface (S10), local collection sources (S4), the string kit (F7) and
  * the date/time kit (F5) — each a first-class oracle-checked query.
  */
object Misc {

  // ---------------------------------------------------------------- m01
  /** SQL-text entry over temp views (S10: the AreaTop3 style,
    * areaStat/src/main/scala/AreaTop3Stat.scala:127-152 — views stitch
    * lazy plans, Catalyst fuses the whole tree at the action). */
  def m01SqlEntry(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer_v")
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
    s.sql("""
      SELECT c_mktsegment,
             count(*) AS n_orders,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
      FROM orders_v JOIN customer_v ON o_custkey = c_custkey
      WHERE o_orderstatus <> 'F'
      GROUP BY c_mktsegment
    """)
  }

  val m01Sql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderstatus <> 'F'
      |GROUP BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- m02
  /** Local collection source (S4: sparkContext.makeRDD of the city dim,
    * AreaTop3Stat.scala:166-174) — a driver-side Seq becomes a DataFrame
    * and broadcast-joins the distributed side; the dim rides to every
    * executor, no shuffle of the fact side. */
  private val regionAreas: Seq[(Int, String, String)] = Seq(
    (0, "AMER", "A Level"), (1, "EMEA", "B Level"), (2, "APAC", "A Level"),
    (3, "EMEA", "B Level"), (4, "MEA", "C Level"))

  def m02LocalCollection(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = regionAreas.toDF("r_key", "area_code", "area_level")
    Tables.nation(s, dir)
      .join(broadcast(dim), col("n_regionkey") === col("r_key"))
      .groupBy(col("area_code"), col("area_level"))
      .agg(count(lit(1)).as("n_nations"))
  }

  val m02Sql: String = {
    val values = regionAreas.map { case (k, c, l) => s"($k, '$c', '$l')" }.mkString(", ")
    s"""SELECT area_code, area_level, count(*) AS n_nations
       |FROM nation JOIN (VALUES $values) dim(r_key, area_code, area_level)
       |  ON n_regionkey = r_key
       |GROUP BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- m03
  /** String kit (F7: commons/.../Utils.scala:194-290 — zero-pad
    * `fulfuill`, id:name packing, trim/case, substring). */
  def m03StringKit(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey"),
      lpad(col("c_custkey").cast("string"), 9, "0").as("padded_key"),
      concat(col("c_custkey"), lit(":"), col("c_name")).as("packed"),
      upper(col("c_mktsegment")).as("seg_upper"),
      substring(col("c_name"), 1, 8).as("name_prefix"),
      length(trim(col("c_name"))).as("name_len"))

  val m03Sql: String =
    """SELECT c_custkey,
      |  lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS padded_key,
      |  CAST(c_custkey AS VARCHAR) || ':' || c_name AS packed,
      |  upper(c_mktsegment) AS seg_upper,
      |  substring(c_name, 1, 8) AS name_prefix,
      |  length(trim(c_name)) AS name_len
      |FROM customer""".stripMargin

  // ---------------------------------------------------------------- m04
  /** Date/time kit (F5: the reference's joda string formats —
    * yyyyMMdd date keys, yyyy-MM-dd_HH date-hour keys, yyyyMMddHHmm
    * minute keys, day arithmetic — via built-in date_format/datediff). */
  def m04DatetimeKit(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("t", expr("timestamp_micros(ts div 1000)"))
      .select(
        col("event_id"),
        date_format(col("t"), "yyyyMMdd").as("date_key"),
        date_format(col("t"), "yyyy-MM-dd_HH").as("date_hour"),
        date_format(col("t"), "yyyyMMddHHmm").as("minute_key"),
        datediff(to_date(col("t")), lit("2024-01-01").cast("date")).as("days_since"),
        (expr("ts div 1000000000") % 86400).as("second_of_day"))

  val m04Sql: String =
    """SELECT event_id,
      |  strftime(t, '%Y%m%d') AS date_key,
      |  strftime(t, '%Y-%m-%d_%H') AS date_hour,
      |  strftime(t, '%Y%m%d%H%M') AS minute_key,
      |  date_diff('day', DATE '2024-01-01', CAST(t AS DATE)) AS days_since,
      |  (epoch_ns(ts) // 1000000000) % 86400 AS second_of_day
      |FROM (SELECT event_id, ts, make_timestamp(epoch_ns(ts) // 1000) AS t FROM events)""".stripMargin

  // ---------------------------------------------------------------- m05
  /** Sentinel semantics (P2: the reference's `-1`-means-NULL click ids and
    * NULL-vs-CSV order/pay lists, DataModel.scala:26-39 /
    * SessionStat.scala:170,270-285): encode a sentinel column from the
    * fixture, then consume it both ways — filter-out and nullif-to-NULL —
    * plus the CSV-list NULL convention via a nullable split. */
  def m05Sentinels(s: SparkSession, dir: String): DataFrame =
    Sessions.enriched(s, dir)
      .withColumn("k_sent", when(col("k") < 5, lit(-1L)).otherwise(col("k")))
      .withColumn("k_null", nullif(col("k_sent"), lit(-1L)))
      .withColumn("csv", when(col("event_type") === "purchase",
        concat(col("k"), lit(","), col("k") + 100)).otherwise(lit(null).cast("string")))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("k_sent") === -1L, 1L).otherwise(0L)).as("n_sentinel"),
        count(col("k_null")).as("n_valid"),
        count(col("csv")).as("n_with_csv"),
        sum(size(split(col("csv"), ","))).as("n_csv_ids"))

  val m05Sql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events
      |), enc AS (
      |  SELECT event_type,
      |    CASE WHEN k < 5 THEN -1 ELSE k END AS k_sent,
      |    nullif(CASE WHEN k < 5 THEN -1 ELSE k END, -1) AS k_null,
      |    CASE WHEN event_type = 'purchase'
      |         THEN CAST(k AS VARCHAR) || ',' || CAST(k + 100 AS VARCHAR)
      |         ELSE NULL END AS csv
      |  FROM ev
      |)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(CASE WHEN k_sent = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sentinel,
      |  count(k_null) AS n_valid,
      |  count(csv) AS n_with_csv,
      |  CAST(sum(len(string_split(csv, ','))) AS BIGINT) AS n_csv_ids
      |FROM enc GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- m06
  /** Two-phase salted aggregation — the hot-key spreading pattern for
    * skewed group-bys at scale: phase 1 aggregates on (key, salt) so a
    * hot key's rows land on `Salts` reducers instead of one; phase 2
    * recombines per key. For algebraic aggregates over a LOW-cardinality
    * key, map-side partial aggregation already does this (q01); salting
    * is the tool when the keyspace is large but skewed, or when the
    * aggregate is not partial-friendly (e.g. exact distinct counting —
    * demonstrated here: distinct users per category, phase 1 dedups
    * (k, salt-by-user) shards, phase 2 sums disjoint shard counts).
    * Salting by a DETERMINISTIC hash of the dedup column keeps shards
    * disjoint, so the recombined result is exact. */
  val Salts = 16

  def m06SaltedAgg(s: SparkSession, dir: String): DataFrame =
    Sessions.enriched(s, dir)
      .where(col("k").isNotNull)
      .withColumn("salt", pmod(col("user_id"), lit(Salts)))
      .groupBy(col("k"), col("salt"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("u"))
      .groupBy(col("k"))
      .agg(sum(col("n")).as("n_events"), sum(col("u")).as("n_users"))

  val m06Sql: String =
    """SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |  count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users
      |FROM events
      |WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- m07
  /** Date-range filtering on STRING dates (SURVEY §7.4.4 / S1: the
    * reference compares zero-padded ISO date strings lexically —
    * `where date >= '…' and date <= '…'` spliced into SQL; its default
    * params even contain the invalid '2020-11-31', which only works
    * BECAUSE of string comparison). The convention is preserved at the
    * boundary: lexical order == chronological order for this format, and
    * the predicate pushes to the scan like any other. */
  def m07DateRangeStrings(s: SparkSession, dir: String): DataFrame =
    Sessions.enriched(s, dir)
      .where(col("date") >= "2024-01-05" && col("date") <= "2024-01-15")
      .groupBy(col("date"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))

  val m07Sql: String =
    """WITH ev AS (
      |  SELECT user_id,
      |    strftime(make_timestamp(epoch_ns(ts) // 1000), '%Y-%m-%d') AS date
      |  FROM events
      |)
      |SELECT date, count(*) AS n_events, count(DISTINCT user_id) AS n_users
      |FROM ev WHERE date >= '2024-01-05' AND date <= '2024-01-15'
      |GROUP BY date""".stripMargin

  // ---------------------------------------------------------------- m08
  /** Catalog-table scan + date-range predicate (S1 through the catalog:
    * the reference's input path is a Hive-managed table,
    * SessionStat.scala:701-710 — here [[Tables.catalogTable]] registers
    * the parquet fixture as an external table and the query reads it
    * back via `spark.table`). Same PushedFilters as the path-based q02
    * scan — CatalogSpec pins that the catalog hop costs nothing. The
    * timestamp column is rendered as a yyyy-MM-dd string at the boundary
    * (timestamp cell-hash conventions differ across engines; the string
    * form is the reference's own date convention, see m07). */
  def m08CatalogScan(s: SparkSession, dir: String): DataFrame =
    Tables.catalogTable(s, dir, "orders")
      .where(col("o_orderdate") >= lit("1995-06-01").cast("timestamp")
        && col("o_orderdate") < lit("1995-09-01").cast("timestamp")
        && col("o_orderstatus") === "O")
      .select(
        col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("o_totalprice"))

  val m08Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS o_date,
      |  o_totalprice
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-06-01'
      |  AND o_orderdate < TIMESTAMP '1995-09-01'
      |  AND o_orderstatus = 'O'""".stripMargin

  // ---------------------------------------------------------------- m09
  /** Fact⋈fact join through the BUCKETED-table layout
    * ([[graft.etl.Sinks.writeBucketed]]): both sides are hash-bucketed
    * and sorted by the join key at write time, so the join itself needs
    * no Exchange and no Sort at read time — pay the partitioning once at
    * ingest, never per query. This is the 100 TB answer for a daily
    * orders⋈customer run where NEITHER side broadcasts; the only
    * shuffle left in the plan is the final group-by on c_mktsegment
    * (PlanAuditSpec pins no Exchange on o_custkey; SinksSpec pins the
    * fully exchange-free join shape). The oracle reads the same rows
    * from the plain parquet — bucketing is a physical layout, not a
    * semantic change. */
  /** Bucketed tables are the ingest-once layout by definition (the
    * operator's whole point); write them once per (JVM, dir) and serve
    * the join from the stored tables. */
  def m09BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (ordersT, customerT) = graft.StoredMemo.stored(s, "m09-bucketed-tables", dir) {
      val sfx = graft.StoredMemo.dirTag(dir)
      val (o, c) = (s"graft_m09_orders_$sfx", s"graft_m09_customer_$sfx")
      graft.etl.Sinks.writeBucketed(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        o, "o_custkey", 8)
      graft.etl.Sinks.writeBucketed(
        Tables.customer(s, dir)
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        c, "o_custkey", 8)
      (o, c)
    }
    s.table(ordersT)
      .join(s.table(customerT), Seq("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")), 2).cast("double").as("revenue"))
  }

  val m09Sql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  count(DISTINCT o_custkey) AS n_customers,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- m10
  /** KMV (k-minimum-values) APPROXIMATE DISTINCT — a distributed
    * cardinality sketch whose estimate is nonetheless bit-exact
    * reproducible, because the "randomness" is the portable 60-bit
    * hash both engines compute identically: per group, keep the k
    * smallest distinct hash values; the k-th smallest m_k estimates
    * distinct ≈ (k−1)·2^60 / m_k (the classic KMV estimator — uniform
    * hashes of n distinct keys have their k-th min near k/n of the
    * range). Exact count emitted alongside for error inspection.
    *
    * Why a sketch when countDistinct exists: KMV is MERGEABLE — the
    * union of two sketches is the k smallest of their values — so at
    * 100 TB per-partition sketches combine map-side into a k-row state
    * per group, never shuffling the key universe. The query computes
    * the sketch with the typed [[graft.functions.KmvSketch]] Aggregator
    * (bounded k-element buffer; the plan shows a PARTIAL
    * ObjectHashAggregate — each partition reduces to ≤ k values per
    * group before the exchange). (k−1)·2^60 is exact in a double
    * (63·2^60 has a 6-bit significand), and m_k < 2^60 casts exactly,
    * so the final division is one correctly-rounded op — identical in
    * both engines. Groups with fewer than k distinct keys report their
    * exact count (the sketch isn't full). The exact count rides along
    * for error inspection — it is the readout a deployment monitors,
    * not part of the sketch's cost story. */
  val KmvK = 64

  def m10KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{KmvSketch, Portable}
    val kmv = KmvSketch.kmv(KmvK)
    Tables.events(s, dir)
      .select(col("event_type"), col("user_id"), Portable.h64(col("user_id")).as("h"))
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_exact"),
        kmv(col("h")).as("sk"))
      .select(col("event_type"), col("n_exact"),
        when(col("sk.m") < KmvK, col("sk.m").cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) * lit(1152921504606846976.0) /
            col("sk.kth").cast("double"))
          .as("est_distinct"))
  }

  /** The window-form derivation of the SAME sketch — kept as the oracle
    * twin (it is literally [[m10Sql]]'s plan) and the comparison target
    * KmvAggregatorSpec pins row-for-row against the Aggregator form.
    * NOT the scale path: row_number over (event_type) shuffles the
    * entire distinct (event_type, user) universe and sorts each group's
    * full key set on one task. The one observable divergence would be a
    * 60-bit hash collision between distinct users (the window form
    * counts both rows, the sketch keeps distinct VALUES) — probability
    * ~2^-60 per pair, absent from any fixture. */
  private[graft] def m10KmvWindowForm(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable
    val du = Tables.events(s, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("h", Portable.h64(col("user_id")))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"), col("user_id"))
    val sketch = du.withColumn("rn", row_number().over(w))
      .where(col("rn") <= KmvK)
      .groupBy(col("event_type"))
      .agg(max(col("h")).as("kth"), count(lit(1)).as("m"))
    val exact = du.groupBy(col("event_type")).agg(count(lit(1)).as("n_exact"))
    exact.join(sketch, Seq("event_type"))
      .select(col("event_type"), col("n_exact"),
        when(col("m") < KmvK, col("m").cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) * lit(1152921504606846976.0) /
            col("kth").cast("double"))
          .as("est_distinct"))
  }

  val m10Sql: String = {
    val h = graft.functions.Portable.h64Sql("user_id")
    s"""WITH du AS (
       |  SELECT DISTINCT event_type, user_id FROM events
       |), hashed AS (
       |  SELECT event_type, user_id, $h AS h FROM du
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY h, user_id) AS rn
       |  FROM hashed
       |), sk AS (
       |  SELECT event_type, max(h) AS kth, count(*) AS m
       |  FROM ranked WHERE rn <= $KmvK GROUP BY 1
       |), ex AS (
       |  SELECT event_type, count(*) AS n_exact FROM du GROUP BY 1
       |)
       |SELECT ex.event_type, n_exact,
       |  CASE WHEN m < $KmvK THEN CAST(m AS DOUBLE)
       |       ELSE ${(KmvK - 1).toDouble} * 1152921504606846976.0 / CAST(kth AS DOUBLE)
       |  END AS est_distinct
       |FROM ex JOIN sk ON ex.event_type = sk.event_type""".stripMargin
  }

  // ---------------------------------------------------------------- m11
  /** COUNT-MIN heavy hitters — the counter sketch beside m10's
    * cardinality sketch: a d×w grid of counters, each row keyed by an
    * independent portable hash; a key's estimate is the MIN of its d
    * cells and can only OVER-estimate (collisions add, never subtract —
    * pinned in the spec). Seeding the rows with h64(key || '|' || row)
    * instead of engine PRNG state makes the estimates bit-exact
    * reproducible, so the oracle hash-compares them.
    *
    * Why a sketch when groupBy-count exists: the grid is d·w integers
    * REGARDLESS of key cardinality, and counter addition is the merge —
    * partial aggregation reduces every partition to the fixed-size grid
    * before the exchange, where an exact per-key count shuffles the key
    * universe. The query builds cells from per-key subtotals (sum is
    * associative, so the arithmetic is identical to per-occurrence
    * increments) and reports the true top-10 keys' exact vs estimated
    * counts — the error readout a production deployment monitors. */
  val CmsRows = 3
  val CmsWidth = 256L
  val CmsTopK = 10

  def m11CmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable
    def bucket(user: Column, j: Column): Column =
      Portable.h64(concat(user.cast("string"), lit("|"), j.cast("string"))) % CmsWidth
    val exact = Tables.events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
    val rows = exact.withColumn("j", explode(array((0 until CmsRows).map(lit): _*)))
      .withColumn("bucket", bucket(col("user_id"), col("j")))
    val cells = rows.groupBy(col("j"), col("bucket"))
      .agg(sum(col("exact_n")).as("cell_n"))
    val top = exact
      .orderBy(col("exact_n").desc, col("user_id").asc).limit(CmsTopK)
      .withColumn("j", explode(array((0 until CmsRows).map(lit): _*)))
      .withColumn("bucket", bucket(col("user_id"), col("j")))
    top.join(cells, Seq("j", "bucket"))
      .groupBy(col("user_id"), col("exact_n"))
      .agg(min(col("cell_n")).as("est_n"))
  }

  val m11Sql: String = {
    def h(jRef: String) = graft.functions.Portable.h64Sql(
      s"CAST(user_id AS VARCHAR) || '|' || CAST($jRef AS VARCHAR)")
    s"""WITH exact AS (
       |  SELECT user_id, count(*) AS exact_n FROM events GROUP BY 1
       |), cells AS (
       |  SELECT j, ${h("j")} % $CmsWidth AS bucket,
       |    CAST(sum(exact_n) AS BIGINT) AS cell_n
       |  FROM exact, generate_series(0, ${CmsRows - 1}) g(j)
       |  GROUP BY 1, 2
       |), top AS (
       |  SELECT * FROM exact ORDER BY exact_n DESC, user_id ASC LIMIT $CmsTopK
       |)
       |SELECT t.user_id, t.exact_n, min(c.cell_n) AS est_n
       |FROM top t, generate_series(0, ${CmsRows - 1}) g(j)
       |JOIN cells c ON c.j = g.j AND c.bucket = ${h("g.j")} % $CmsWidth
       |GROUP BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- m12
  /** PARTITION-INCREMENTAL rollup — the operational pattern every daily
    * 100 TB job lives by (SURVEY §7.4.5): the cumulative per-key rollup
    * through yesterday is a persisted store that is NEVER recomputed;
    * today's delta aggregates over today's date partition ONLY (with
    * date-partitioned layout — `Sinks.writePartitioned`, pruning pinned
    * in SinksSpec — that read touches one partition, not the history);
    * the merge is [[graft.etl.Upsert.accumulateAll]] — union + one
    * re-aggregate on the key, cost ∝ |key universe| + |delta|,
    * independent of history size. Counts and decimal sums are mergeable
    * aggregates, so incremental ≡ full recompute EXACTLY — the oracle IS
    * the full recompute, and MiscSpec pins the day-by-day fold too. The
    * date boundary ("today") arrives as a 1-row broadcast frame, not a
    * driver collect — in production it is the job parameter. */
  /** The (count, decimal sum) per-event_type rollup m12 and st12 BOTH
    * maintain — one definition, so the "daily job and stream keep the
    * same store" equivalence can't drift between the two operators. */
  private[graft] def eventRollup(df: DataFrame): DataFrame =
    df.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_events"),
      sum(col("value").cast("decimal(18,2)")).as("sum_value"))

  /** Readout of the rollup store (exact decimal → displayed double). */
  private[graft] def rollupReadout(df: DataFrame): DataFrame =
    df.select(col("event_type"), col("n_events"),
      round(col("sum_value"), 2).cast("double").as("sum_value"))

  def m12IncrementalRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("date", date_format(expr("timestamp_micros(ts div 1000)"), "yyyy-MM-dd"))
    val today = ev.agg(max(col("date")).as("today"))
    val store = eventRollup(ev.join(broadcast(today), col("date") < col("today")))
    val delta = eventRollup(ev.join(broadcast(today), col("date") === col("today")))
    rollupReadout(graft.etl.Upsert.accumulateAll(
      store, delta, Seq("event_type"), Seq("n_events", "sum_value")))
  }

  val m12Sql: String =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- m13
  /** RANGE JOIN via interval bucketing ([[RangeJoin.bucketed]]) — clicks
    * within ±[[M13ToleranceUs]] of any error event. Spark plans a bare
    * inequality join as BroadcastNestedLoop (quadratic, and impossible
    * when neither side fits in memory); the bucket rewrite makes it an
    * EQUI-join both engines shuffle-partition — the published range-join
    * optimization. delta_us is signed (click − error). */
  val M13ToleranceUs = 60L * 1000000
  val M13BucketUs = 60L * 1000000

  def m13RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("us", expr("ts div 1000"))
    val errors = ev.where(col("event_type") === "error")
      .select(col("event_id").as("error_id"),
        (col("us") - M13ToleranceUs).as("lo"), (col("us") + M13ToleranceUs).as("hi"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("us").as("click_us"))
    RangeJoin.bucketed(clicks, errors, "click_us", "lo", "hi", M13BucketUs)
      .select(col("error_id"), col("click_id"),
        (col("click_us") - (col("lo") + M13ToleranceUs)).as("delta_us"))
  }

  val m13Sql: String =
    s"""WITH e AS (
       |  SELECT event_id AS error_id, epoch_ns(ts) // 1000 AS eus
       |  FROM events WHERE event_type = 'error'
       |), c AS (
       |  SELECT event_id AS click_id, epoch_ns(ts) // 1000 AS cus
       |  FROM events WHERE event_type = 'click'
       |)
       |SELECT error_id, click_id, cus - eus AS delta_us
       |FROM e JOIN c ON c.cus BETWEEN e.eus - $M13ToleranceUs AND e.eus + $M13ToleranceUs""".stripMargin

  // ---------------------------------------------------------------- m14
  /** PII scrub + pseudonymization — the privacy stage a training-data
    * pipeline runs over user-derived tables before anything is logged,
    * joined, or exported (the pattern in every published curation stack;
    * the fixture's `customer` table carries the repo's only PII-shaped
    * values — ID-bearing account names). Three moves, all map-only:
    *
    *  - DETECT: count identifier runs (6+ consecutive digits — the
    *    account/phone/SSN shape) via `regexp_count`;
    *  - MASK: replace each run with a fixed `[ID]` token via
    *    `regexp_replace` — crucially the pattern stays inside the
    *    RE2 ∩ Java-regex common subset (no lookahead/backreferences,
    *    both engines are greedy), so the oracle masks bit-identically;
    *  - PSEUDONYMIZE: a stable 60-bit [[graft.functions.Portable.h64]]
    *    key of the raw name, so scrubbed rows still join/dedup/count
    *    across tables without carrying the identifier.
    *
    * Scale: pure projection — no shuffle, no UDF (regexp + md5 are
    * codegen'd builtins), streams through any corpus size; the pseudo
    * key keeps downstream joins on a 64-bit long instead of a string. */
  def m14PiiScrub(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable
    Tables.customer(s, dir).select(
      col("c_custkey"),
      regexp_replace(col("c_name"), "[0-9]{6,}", "[ID]").as("masked_name"),
      regexp_count(col("c_name"), lit("[0-9]{6,}")).as("id_runs"),
      Portable.h64(col("c_name")).as("pseudo_key"))
      .withColumn("has_pii", col("id_runs") > 0)
  }

  val m14Sql: String =
    s"""SELECT c_custkey,
       |  regexp_replace(c_name, '[0-9]{6,}', '[ID]', 'g') AS masked_name,
       |  CAST(len(regexp_extract_all(c_name, '[0-9]{6,}')) AS INT) AS id_runs,
       |  ${graft.functions.Portable.h64Sql("c_name")} AS pseudo_key,
       |  len(regexp_extract_all(c_name, '[0-9]{6,}')) > 0 AS has_pii
       |FROM customer""".stripMargin

  // ---------------------------------------------------------------- m15
  /** Z-ORDER clustered layout + file-level min/max skipping — the
    * data-skipping stack (Delta `OPTIMIZE ZORDER BY`, Iceberg sort
    * orders) re-expressed with nothing but builtins. Three stages:
    *
    *  - CLUSTER: interleave the bits of the two filter dims
    *    (ship-day, part key) into one Morton key — a pure
    *    shiftleft/OR/AND chain of codegen'd builtins
    *    ([[zorderKey]], the classic bit-spread with magic masks) —
    *    and `repartitionByRange` + `sortWithinPartitions` on it at
    *    write time, so every output FILE covers a small RECTANGLE of
    *    (day, part) space instead of a stripe of one dim;
    *  - INDEX: one pass computes per-file min/max of both dims —
    *    the file-stats table a lakehouse maintains at ingest (it
    *    summarizes exactly what the parquet footers already store);
    *    at 100 TB this is written once by the ingest job, not per
    *    query;
    *  - SKIP: a 2-D box predicate consults the index and reads ONLY
    *    the files whose rectangle intersects the box. The collected
    *    file list is metadata-scale (one row per FILE, not per row).
    *
    * Why not just sort by day: a single-dim sort gives tight file
    * ranges on day and the FULL range of part in every file, so a
    * part-constrained query reads the whole table. The z-curve bounds
    * BOTH dims per file — the 2-D box here reads ~3/32 files at every
    * fixture SF, and a part-only box still skips most files where the
    * linear layout skips none (both pinned in ZorderSpec, plus
    * bit-equality of the skipped result vs the plain scan). The part
    * bounds are FRACTIONS of max(l_partkey) (the key range grows with
    * SF); the 1-row bounds lookup is a scalar-aggregate collect. */
  val M15Files = 32
  val M15Epoch = "1992-01-01"
  /** Day offsets of 1995-01-01 / 1995-07-01 from [[M15Epoch]]. */
  val M15DayLo = 1096
  val M15DayHi = 1277

  /** Morton bit-spread: the low 31 bits of `c` moved to the even bit
    * positions of a long (x | x<<16 .. masked — five steps, all
    * codegen'd builtins, no UDF). 31 bits per dim, not 32: spread bits
    * land on positions 0..60, so after [[zorderKey]] shifts y's spread
    * left by 1 the top bit is 61 — the key can never reach the long
    * sign bit, keeping the Morton ORDER monotone at any input.
    * Degradation mode above 2^31 per dim: the high bits are masked
    * off, so keys ALIAS across 2^31-wide stripes — clustering quality
    * (and therefore pruning selectivity) degrades, but never
    * correctness: skipping is decided by the per-file min/max STATS of
    * the real columns, not the key. At 100 TB, dims wider than 31 bits
    * should be bucketed/rescaled into the 31-bit range first (day
    * offsets and part keys are far inside it). */
  private[graft] def zspread(c: Column): Column = {
    val steps = Seq(
      16 -> 0x0000FFFF0000FFFFL, 8 -> 0x00FF00FF00FF00FFL,
      4 -> 0x0F0F0F0F0F0F0F0FL, 2 -> 0x3333333333333333L,
      1 -> 0x5555555555555555L)
    steps.foldLeft(c.cast("long").bitwiseAND(lit(0x7FFFFFFFL))) {
      case (x, (sh, m)) => x.bitwiseOR(shiftleft(x, sh)).bitwiseAND(lit(m))
    }
  }

  /** 2-D Morton (z-order) key: bits of `x` on even positions, `y` on
    * odd — locality-preserving in both dims, non-negative by the
    * 31-bit-per-dim contract above. */
  private[graft] def zorderKey(x: Column, y: Column): Column =
    zspread(x).bitwiseOR(shiftleft(zspread(y), 1))

  /** Part-key box bounds as fractions of the key range:
    * [ (max+1)/8, (max+1)/4 ) — a 12.5%-wide slab at any SF. */
  private[graft] def m15PartBounds(s: SparkSession, dir: String): (Long, Long) = {
    // integer `div`, not double `/`+cast: the oracle uses DuckDB's
    // floor-div `//` — these agree at ANY magnitude, where the double
    // round-trip only agrees below 2^53 (the cross-engine
    // floor-div-exact discipline, graft.functions.Portable)
    val r = Tables.lineitem(s, dir).agg(max(col("l_partkey")).as("mx"))
      .select(
        expr("(mx + 1) div 8").as("lo"),
        expr("(mx + 1) div 4").as("hi"))
      .first()
    (r.getLong(0), r.getLong(1))
  }

  /** Write lineitem clustered by `key` into the session warehouse as
    * `name` (overwrite — reruns are idempotent); returns the path.
    * `ship_day` (days since [[M15Epoch]]) is materialized so the file
    * index and the box predicate share one integer column. */
  private[graft] def m15WriteClustered(
      s: SparkSession, dir: String, name: String, key: Column): String = {
    val path = s"${s.conf.get("spark.sql.warehouse.dir")}/$name"
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_shipdate"),
        col("l_quantity"), col("l_extendedprice"))
      .withColumn("ship_day",
        datediff(col("l_shipdate").cast("date"), lit(M15Epoch).cast("date")))
      .withColumn("ckey", key)
      .repartitionByRange(M15Files, col("ckey"))
      .sortWithinPartitions(col("ckey"))
      .drop("ckey")
      .write.mode("overwrite").parquet(path)
    path
  }

  /** The per-file min/max stats index (what Delta keeps in its log /
    * Iceberg in manifest files). One row per FILE. */
  private[graft] def m15FileIndex(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(
        min("ship_day").as("d_lo"), max("ship_day").as("d_hi"),
        min("l_partkey").as("p_lo"), max("l_partkey").as("p_hi"))

  /** Files whose stats rectangle intersects the (optional) day / part
    * boxes. Metadata-scale collect: one string per surviving file. */
  private[graft] def m15PruneFiles(
      idx: DataFrame,
      day: Option[(Int, Int)], part: Option[(Long, Long)]): Array[String] = {
    val dayPred = day.map { case (lo, hi) =>
      col("d_hi") >= lo && col("d_lo") < hi }.getOrElse(lit(true))
    val partPred = part.map { case (lo, hi) =>
      col("p_hi") >= lo && col("p_lo") < hi }.getOrElse(lit(true))
    idx.where(dayPred && partPred).select("file")
      .collect().map(_.getString(0)).sorted
  }

  /** The z-clustered layout is an INGEST artifact — "pay the
    * partitioning once at ingest, never per query" is the operator's
    * own design note — so the rewrite runs once per (JVM, dir) and
    * every query serves from the stored files (the stored-index
    * discipline; the dir-suffixed name keeps multi-dir JVMs apart).
    * The bounds lookup, file-stats index, and prune stay per-query:
    * they ARE the skipping work being priced. */
  def m15ZorderSkip(s: SparkSession, dir: String): DataFrame = {
    val (pLo, pHi) = m15PartBounds(s, dir)
    val path = graft.StoredMemo.stored(s, "m15-zclustered-files", dir)(
      m15WriteClustered(s, dir,
        s"graft_m15_lineitem_z_${graft.StoredMemo.dirTag(dir)}",
        zorderKey(col("ship_day"), col("l_partkey"))))
    val files = m15PruneFiles(m15FileIndex(s, path),
      Some((M15DayLo, M15DayHi)), Some((pLo, pHi)))
    val pruned =
      if (files.isEmpty) s.read.parquet(path).where(lit(false))
      else s.read.parquet(files.toIndexedSeq: _*)
    pruned
      .where(col("ship_day") >= M15DayLo && col("ship_day") < M15DayHi
        && col("l_partkey") >= pLo && col("l_partkey") < pHi)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2)
          .cast("double").as("revenue"))
  }

  /** Oracle reads the ORIGINAL table — skipping is a physical layout
    * move, value-neutral by construction. Box boundaries are midnight
    * timestamps, so day-granularity and timestamp comparisons agree. */
  val m15Sql: String =
    """SELECT strftime(l_shipdate, '%Y-%m') AS month, count(*) AS n_items,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-07-01'
      |  AND l_partkey >= (SELECT (max(l_partkey)+1)//8 FROM lineitem)
      |  AND l_partkey <  (SELECT (max(l_partkey)+1)//4 FROM lineitem)
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- m16
  /** DRIVER-FREE GLOBAL ROW-NUMBER — the scalable rewrite of
    * `row_number() OVER (ORDER BY …)` with no PARTITION BY, which
    * Catalyst plans as `Exchange SinglePartition` + one Window: every
    * row of the corpus funnels through ONE task — the canonical 100 TB
    * choke (it "works" at any fixture SF and dies on the first real
    * table). The rewrite is the terasort shape plus an index attach:
    *
    *  1. `repartitionByRange` on the full sort key — partition i holds
    *     a contiguous key range, all ranges ordered (one shuffle, the
    *     same one any global sort pays);
    *  2. `sortWithinPartitions` — now the corpus is totally ordered
    *     across partition boundaries;
    *  3. `zipWithIndex` — a COUNT of each partition (cheap metadata
    *     job, skipped when one partition remains) gives each partition
    *     its rank offset; attaching
    *     offset+position is narrow, per-partition, driver-free.
    *
    * Step 3 is the repo's one deliberate RDD drop-down (SURVEY §7.3
    * case d): the offsets+position attach is genuine per-partition
    * imperative logic with no declarative equivalent that doesn't pay
    * a SECOND full shuffle (a window over `spark_partition_id()`
    * re-exchanges every row; zipWithIndex's count job reads cached
    * partition sizes). The sort key is made UNIQUE by the
    * (l_orderkey, l_linenumber) tie-break, so the total order — and
    * therefore every rank — is deterministic and engine-independent.
    * GlobalRankSpec pins rank density, agreement with the
    * single-partition window form, and that the plan contains no
    * SinglePartition exchange. */
  def m16GlobalRank(s: SparkSession, dir: String): DataFrame =
    m16GlobalRankP(s, dir)

  /** The range sort m16 and m17 rank over: `repartitionByRange` on the
    * unique `keys`, then `sortWithinPartitions`. With `parts` empty the
    * range count is SIZED TO THE DATA: the exchange starts at
    * `spark.sql.shuffle.partitions` and AQE's CoalesceShufflePartitions
    * merges only ADJACENT ranges, so the partitions stay in key order
    * (a fixture-scale input runs as one task, and `zipWithIndex` then
    * needs no count job). A fixed `parts` is a plan AQE may not resize.
    * Either way the count is a tuning knob, not a semantic one: the
    * total order is unique (tie-broken), so every rank is identical for
    * any count — a cluster re-size or AQE re-plan cannot change answers
    * (pinned in GlobalRankSpec and QuantilesSpec). */
  private def rangeSorted(df: DataFrame, keys: Seq[Column],
                          parts: Option[Int]): DataFrame =
    parts.fold(df.repartitionByRange(keys: _*))(n => df.repartitionByRange(n, keys: _*))
      .sortWithinPartitions(keys: _*)

  /** The sorted pre-zipWithIndex stage of m16 — the DataFrame whose
    * PHYSICAL plan carries the whole distributed pipeline (range
    * exchange + in-partition sort, no SinglePartition). Exposed so
    * GlobalRankSpec asserts on the OPERATOR's actual plan instead of a
    * hand-rebuilt twin that could drift from it. */
  private[graft] def m16Sorted(s: SparkSession, dir: String,
                               parts: Option[Int] = None): DataFrame = {
    val keys = Seq(
      col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
    rangeSorted(Tables.lineitem(s, dir)
      .where(col("l_shipdate") >= lit("2001-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
      keys, parts)
  }

  private[graft] def m16GlobalRankP(s: SparkSession, dir: String,
                                    parts: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val sorted = m16Sorted(s, dir, parts)
    val schema = sorted.schema.add("global_rank", LongType, nullable = false)
    val ranked = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    s.createDataFrame(ranked, schema)
  }

  val m16Sql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice,
      |  row_number() OVER (ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS global_rank
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '2001-01-01'""".stripMargin

  // ---------------------------------------------------------------- m17
  /** DISTRIBUTED EXACT QUANTILES by rank selection — the scalable form
    * of `percentile_disc` over a 100 TB column. Spark's exact
    * percentile aggregates (`percentile`, `percentile_disc`,
    * `PERCENTILE_DISC ... WITHIN GROUP`) buffer every value of the
    * group in ONE aggregation buffer — for a global quantile that is
    * the whole column in one task's memory, the same choke m16 retires
    * for row_number. The selection algorithm instead:
    *
    *  1. range-partition + in-partition sort on the value (the m16
    *     terasort shape — one shuffle, the same one any global sort
    *     pays; ties broken by (l_orderkey, l_linenumber) for a unique
    *     total order);
    *  2. count each partition (one metadata-scale collect: a long per
    *     partition) and prefix-sum into global offsets;
    *  3. map each target rank ceil(p·n/100) — EXACT integer math,
    *     (n·p + 99) div 100, the cross-engine floor-div discipline —
    *     to its (partition, local offset), and a second narrow pass
    *     emits ONLY those rows (5 rows out, nothing else moves).
    *
    * The RDD drop-down is justified exactly as m16's (SURVEY §7.3 case
    * d): per-partition positional selection has no declarative
    * equivalent that doesn't re-shuffle or single-task the corpus.
    * Oracle: row_number over the same total order joined on the same
    * integer rank formula. */
  val M17Percents: Seq[Int] = Seq(25, 50, 75, 90, 99)

  def m17GlobalQuantiles(s: SparkSession, dir: String): DataFrame =
    m17GlobalQuantilesP(s, dir)

  /** `parts` as in [[rangeSorted]]: empty sizes the range sort to the
    * data; any count selects the same values. */
  private[graft] def m17GlobalQuantilesP(s: SparkSession, dir: String,
                                         parts: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
    val keys = Seq(
      col("l_extendedprice").asc, col("l_orderkey").asc, col("l_linenumber").asc)
    val sorted = rangeSorted(Tables.lineitem(s, dir)
      .select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
      keys, parts)
      .select(col("l_extendedprice"))
    val rdd = sorted.rdd.map(_.getDouble(0))
    // two passes (sizes, then the positional pick): MEMORY_AND_DISK_SER,
    // not MEMORY_ONLY — at the 100 TB scope this operator targets, an
    // on-heap-only cache of the sorted column silently drops partitions
    // and re-sorts them in pass 2; serialized-with-spill keeps both
    // passes reading materialized data at any scale
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val sizes = rdd
        .mapPartitionsWithIndex((i, it) =>
          Iterator((i, it.foldLeft(0L)((c, _) => c + 1))))
        .collect().sortBy(_._1).map(_._2)
      val n = sizes.sum
      val offsets = sizes.scanLeft(0L)(_ + _) // offsets(i) = rows before partition i
      // (partition -> local 1-based rank -> percentiles landing there);
      // two percentiles can share a rank at tiny n
      val wanted: Map[Int, Map[Long, Seq[Int]]] = M17Percents
        .map(p => (p, (n * p + 99) / 100))
        .filter(_._2 >= 1)
        .map { case (p, r) =>
          val part = offsets.lastIndexWhere(_ < r)
          (p, part, r - offsets(part))
        }
        .groupBy(_._2)
        .map { case (part, ts) =>
          part -> ts.groupBy(_._3).map { case (lr, g) => lr -> g.map(_._1) }
        }
      val bc = s.sparkContext.broadcast(wanted)
      val rows = rdd.mapPartitionsWithIndex { (i, it) =>
        bc.value.get(i) match {
          case None => Iterator.empty[Row]
          case Some(m) =>
            var k = 0L
            it.flatMap { v => k += 1
              m.getOrElse(k, Nil).map(p => Row(p, v)) }
        }
      }
      val schema = StructType(Seq(
        StructField("pct", IntegerType, nullable = false),
        StructField("value", DoubleType, nullable = false)))
      // materialize before unpersisting the 2-pass cache
      s.createDataFrame(rows, schema).pin("m17-quantiles")
    } finally rdd.unpersist()
  }

  val m17Sql: String =
    """WITH s AS (
      |  SELECT l_extendedprice AS v,
      |    row_number() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
      |    count(*) OVER () AS n
      |  FROM lineitem
      |)
      |SELECT p.pct AS pct, s.v AS value
      |FROM (VALUES (25), (50), (75), (90), (99)) p(pct)
      |JOIN s ON s.rn = (s.n * p.pct + 99) // 100""".stripMargin

  // ---------------------------------------------------------------- m18
  /** KMV sketch SET ALGEBRA — theta-sketch-style intersection / union /
    * Jaccard estimates between audience sketches (Bar-Yossef et al.
    * 2002; the Apache DataSketches theta-sketch operation set), the
    * capability that makes cardinality sketches composable: "how many
    * distinct users did BOTH X and Y" answered from two k-row sketches,
    * never re-scanning either side. m10 builds the cardinality sketch;
    * m18 operates on sketches as SETS.
    *
    * Method: per event_type, retain the k smallest distinct h64(user)
    * values ([[graft.functions.KmvSketch.kmvValues]] — bounded k-element
    * buffer, map-side partial). For a pair (A, B), theta = min over both
    * sketches of (k-th min if full else 2^60); every retained value
    * below theta is a uniform sample of the hash space at rate
    * theta/2^60, so |retained(A) ∩ retained(B) below theta| / rate
    * estimates |A ∩ B|, and the k-min of the merged sketches re-reads
    * as the union estimate. When NEITHER sketch is full, theta = 2^60
    * and every estimate degenerates to the exact count — the formulas
    * below need no special-casing (64·2^60 is exact in a double, the
    * one division is one correctly-rounded op, identical in DuckDB).
    *
    * Scale shape: ONE pass over events (partial agg bounded at k rows
    * per group per partition), then all pair arithmetic happens on the
    * aggregated sketch table — |event_types|² struct rows, metadata
    * scale, joined via a broadcast nested loop on the tiny side. The
    * exact pair counts ride along as the audit readout (m10/m11
    * precedent) — they are NOT part of the serving cost story; the
    * error bound (RSE ≈ 1/√(k−1)) is pinned in KmvAggregatorSpec. */
  def m18SketchSetOps(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{KmvSketch, Portable}
    val kmvV = KmvSketch.kmvValues(KmvK)
    val two60d = 1152921504606846976.0
    val two60 = 1152921504606846976L
    val ev = Tables.events(s, dir).select(col("event_type"), col("user_id"))
    val sk = ev.select(col("event_type"), Portable.h64(col("user_id")).as("h"))
      .groupBy(col("event_type")).agg(kmvV(col("h")).as("sk"))
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("sa"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("sb"))
    def thetaOf(arr: Column): Column =
      when(size(arr) === KmvK, element_at(arr, KmvK)).otherwise(lit(two60))
    val estOf = KmvSketch.estDistinct(KmvK) _
    val du = ev.distinct()
    val exact = du.toDF("type_a", "u")
      .join(du.toDF("type_b", "u2"),
        col("u") === col("u2") && col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_exact_common"))
    a.join(broadcast(b), col("type_a") < col("type_b"))
      .withColumn("theta", least(thetaOf(col("sa")), thetaOf(col("sb"))))
      .withColumn("n_common",
        size(filter(array_intersect(col("sa"), col("sb")),
          h => h < col("theta"))).cast("long"))
      .withColumn("ku", slice(array_sort(array_union(col("sa"), col("sb"))), 1, KmvK))
      .join(exact, Seq("type_a", "type_b"), "left")
      .select(
        col("type_a"), col("type_b"), col("n_common"), col("theta"),
        estOf(col("sa")).as("est_a"),
        estOf(col("sb")).as("est_b"),
        (col("n_common").cast("double") * lit(two60d) /
          col("theta").cast("double")).as("est_intersection"),
        estOf(col("ku")).as("est_union"),
        (col("n_common").cast("double") * lit(two60d) /
          col("theta").cast("double") / estOf(col("ku"))).as("est_jaccard"),
        coalesce(col("n_exact_common"), lit(0L)).as("n_exact_common"))
  }

  val m18Sql: String = {
    val h = graft.functions.Portable.h64Sql("user_id")
    val K = KmvK
    val estA = s"CASE WHEN len(sa) < $K THEN CAST(len(sa) AS DOUBLE) " +
      s"ELSE ${(K - 1).toDouble} * 1152921504606846976.0 / CAST(sa[$K] AS DOUBLE) END"
    val estB = s"CASE WHEN len(sb) < $K THEN CAST(len(sb) AS DOUBLE) " +
      s"ELSE ${(K - 1).toDouble} * 1152921504606846976.0 / CAST(sb[$K] AS DOUBLE) END"
    val estU = s"CASE WHEN len(ku) < $K THEN CAST(len(ku) AS DOUBLE) " +
      s"ELSE ${(K - 1).toDouble} * 1152921504606846976.0 / CAST(ku[$K] AS DOUBLE) END"
    s"""WITH hs AS (
       |  SELECT DISTINCT event_type, $h AS h FROM events
       |), sk AS (
       |  SELECT event_type, (list_sort(list(h)))[1:$K] AS sk FROM hs GROUP BY 1
       |), du AS (
       |  SELECT DISTINCT event_type, user_id FROM events
       |), exact AS (
       |  SELECT x.event_type AS type_a, y.event_type AS type_b, count(*) AS n
       |  FROM du x JOIN du y ON x.user_id = y.user_id AND x.event_type < y.event_type
       |  GROUP BY 1, 2
       |), pairs AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b, a.sk AS sa, b.sk AS sb,
       |    least(CASE WHEN len(a.sk) = $K THEN a.sk[$K] ELSE 1152921504606846976 END,
       |          CASE WHEN len(b.sk) = $K THEN b.sk[$K] ELSE 1152921504606846976 END) AS theta
       |  FROM sk a JOIN sk b ON a.event_type < b.event_type
       |), calc AS (
       |  SELECT type_a, type_b, sa, sb, theta,
       |    CAST(len(list_filter(list_intersect(sa, sb), x -> x < theta)) AS BIGINT) AS n_common,
       |    (list_sort(list_distinct(list_concat(sa, sb))))[1:$K] AS ku
       |  FROM pairs
       |)
       |SELECT c.type_a, c.type_b, n_common, theta,
       |  $estA AS est_a, $estB AS est_b,
       |  CAST(n_common AS DOUBLE) * 1152921504606846976.0 / CAST(theta AS DOUBLE)
       |    AS est_intersection,
       |  $estU AS est_union,
       |  CAST(n_common AS DOUBLE) * 1152921504606846976.0 / CAST(theta AS DOUBLE)
       |    / ($estU) AS est_jaccard,
       |  coalesce(e.n, 0) AS n_exact_common
       |FROM calc c LEFT JOIN exact e
       |  ON c.type_a = e.type_a AND c.type_b = e.type_b""".stripMargin
  }

  // ---------------------------------------------------------------- m19
  /** MERGEABLE APPROXIMATE QUANTILES — the sketch form beside m17's
    * exact rank selection, completing the m10/m18 pattern for order
    * statistics: per-partition bounded sketch → k-min merge → serve,
    * the DataSketches deployment shape. The sketch is the KMV bottom-k
    * ROW SAMPLE ([[graft.functions.KmvSketch.kmvPairs]]): retain the
    * (h64(unique row key), value) pairs of the k smallest hashes — a
    * deterministic uniform sample whose membership is a pure function
    * of the input set, so the estimate is bit-exact reproducible at any
    * partitioning (see the aggregator's scaladoc for why KLL/GK's
    * randomized / merge-tree-dependent compaction is the wrong member
    * of the family under this repo's oracle and invariance gates).
    * Readout: `percentile_disc` over the retained sample at m17's exact
    * integer rank formula. Rank error obeys the DKW sampling bound
    * sup|F̂−F| ≤ sqrt(ln(2/δ)/(2k)) (≈ 0.102 at k=256, δ=1%) — pinned
    * against m17's exact answers in QuantilesSpec.
    *
    * Scale shape: ONE pass over lineitem with map-side partial
    * aggregation bounding every partition's state at k pairs (the m10
    * plan contract — a PARTIAL ObjectHashAggregate before the
    * exchange); the readout is arithmetic on one k-row array. Contrast
    * m17: exact, but pays a full range-partition sort; the sketch
    * answers the same question at any scale for one narrow scan —
    * which is why a 100 TB pipeline keeps BOTH (exact for audits,
    * sketch for serving). */
  val QsK = 256

  /** Quantile readout over a pair-sketch column `sk` (the
    * [[graft.functions.KmvSketch.kmvPairs]] output): one row per
    * (keep-columns, pct) with the sample's percentile_disc value and
    * the retained count m. Shared with st20 so batch and streaming
    * readouts cannot drift. */
  private[graft] def sketchQuantiles(s: SparkSession, sk: DataFrame,
                                     keep: Seq[String]): DataFrame = {
    val percents = s.createDataFrame(M17Percents.map(Tuple1.apply)).toDF("pct")
    // drop empty sketches BEFORE the rank lookup: m=0 would make the
    // percentile rank 0 and element_at is 1-based (a runtime error) —
    // and the oracle's rank join emits no row for an empty group, so
    // dropping is also the parity-correct behavior. Empty rows cannot
    // arise from a groupBy (a group implies >= 1 row) but CAN arrive
    // from a corrupted stored partial (the store-probe path).
    val base = sk.where(size(col("sk")) > 0)
      .select(keep.map(col) ++ Seq(
        array_sort(col("sk._2")).as("vs"),
        size(col("sk")).cast("long").as("m")): _*)
    // broadcast the 5-row percent spine onto the sketch row(s) — the
    // declared-broadcast crossJoin shape StrictPlanCheck admits
    base.crossJoin(broadcast(percents))
      .select(keep.map(col) ++ Seq(
        col("pct"),
        element_at(col("vs"),
          floor((col("m") * col("pct") + lit(99)) / lit(100)).cast("int"))
          .as("est_value"),
        col("m")): _*)
  }

  def m19QuantileSketch(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{KmvSketch, Portable}
    val kp = KmvSketch.kmvPairs(QsK)
    val sk = Tables.lineitem(s, dir)
      .select(
        Portable.h64(concat_ws("|", col("l_orderkey"), col("l_linenumber"))).as("h"),
        col("l_extendedprice").as("v"))
      .agg(kp(col("h"), col("v")).as("sk"))
    sketchQuantiles(s, sk, Nil)
  }

  val m19Sql: String = {
    val h = graft.functions.Portable.h64Sql("concat(l_orderkey, '|', l_linenumber)")
    s"""WITH hv AS (
       |  SELECT $h AS h, l_extendedprice AS v FROM lineitem
       |), dh AS (
       |  SELECT h, min(v) AS v FROM hv GROUP BY h
       |), ranked AS (
       |  SELECT h, v, row_number() OVER (ORDER BY h) AS rn FROM dh
       |), samp AS (
       |  SELECT v FROM ranked WHERE rn <= $QsK
       |), sv AS (
       |  SELECT v, row_number() OVER (ORDER BY v) AS vr, count(*) OVER () AS m
       |  FROM samp
       |)
       |SELECT p.pct AS pct, sv.v AS est_value, CAST(sv.m AS BIGINT) AS m
       |FROM (VALUES (25), (50), (75), (90), (99)) p(pct)
       |JOIN sv ON sv.vr = (sv.m * p.pct + 99) // 100""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m19_quantile_sketch" -> (m19QuantileSketch _),
    "m18_sketch_set_ops" -> (m18SketchSetOps _),
    "m17_global_quantiles" -> (m17GlobalQuantiles _),
    "m16_global_rank" -> (m16GlobalRank _),
    "m15_zorder_skip" -> (m15ZorderSkip _),
    "m14_pii_scrub" -> (m14PiiScrub _),
    "m13_range_join" -> (m13RangeJoin _),
    "m12_incremental_rollup" -> (m12IncrementalRollup _),
    "m11_cms_heavy_hitters" -> (m11CmsHeavyHitters _),
    "m10_kmv_distinct" -> (m10KmvDistinct _),
    "m09_bucketed_join" -> (m09BucketedJoin _),
    "m08_catalog_scan" -> (m08CatalogScan _),
    "m07_date_range_strings" -> (m07DateRangeStrings _),
    "m01_sql_entry" -> (m01SqlEntry _),
    "m02_local_collection" -> (m02LocalCollection _),
    "m03_string_kit" -> (m03StringKit _),
    "m04_datetime_kit" -> (m04DatetimeKit _),
    "m05_sentinels" -> (m05Sentinels _),
    "m06_salted_agg" -> (m06SaltedAgg _))

  val oracleSql: Map[String, String] = Map(
    "m19_quantile_sketch" -> m19Sql,
    "m18_sketch_set_ops" -> m18Sql,
    "m17_global_quantiles" -> m17Sql,
    "m16_global_rank" -> m16Sql,
    "m15_zorder_skip" -> m15Sql,
    "m14_pii_scrub" -> m14Sql,
    "m13_range_join" -> m13Sql,
    "m12_incremental_rollup" -> m12Sql,
    "m11_cms_heavy_hitters" -> m11Sql,
    "m10_kmv_distinct" -> m10Sql,
    "m09_bucketed_join" -> m09Sql,
    "m08_catalog_scan" -> m08Sql,
    "m07_date_range_strings" -> m07Sql,
    "m01_sql_entry" -> m01Sql,
    "m02_local_collection" -> m02Sql,
    "m03_string_kit" -> m03Sql,
    "m04_datetime_kit" -> m04Sql,
    "m05_sentinels" -> m05Sql,
    "m06_salted_agg" -> m06Sql)
}
