package graft.jobs

import java.util.{Properties, UUID}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.etl.Sinks
import graft.functions.TaskParams
import graft.operators.{Categories, Sessions}

/** End-to-end job mains — the reference's unit of use is a JOB, not a
  * query: params JSON → one filter governing every output → each result
  * appended to a JDBC store keyed by a per-run task UUID
  * (session/src/main/scala/SessionStat.scala:23-92,
  * areaStat/src/main/scala/AreaTop3Stat.scala:15-58). A user porting off
  * the reference launches THESE, not individual queries.
  *
  * Lifecycle differences from the reference, deliberate:
  *  - The filter params thread through the DataFrame-core operator
  *    variants (`*From`) — one filtered frame feeds every output, where
  *    the reference re-derives RDD chains per 需求.
  *  - The filtered frame is persisted ONCE and shared by all outputs
  *    (SURVEY M3); each output is a declarative plan over it.
  *  - The sink is [[Sinks.jdbcAppend]] against any JDBC url (the
  *    reference hardcodes MySQL; tests use embedded Derby — same code).
  *
  * Scale notes: nothing here collects to the driver — every output goes
  * executor→JDBC partition-parallel, and the shared filtered frame is
  * the only shared state. At 100 TB pass SessionJob a `stagingDir`: the
  * filtered frame is then written once as date-partitioned parquet and
  * every output re-reads a pruned columnar copy instead of pinning
  * executor memory (byte-identical outputs, pinned in JobsSpec).
  */
object Jobs {
  /** Runtime confs every graft entry point needs — THE single source for
    * the trio. [[buildSession]] applies them for Bench, Verify, the job
    * mains, the tools (all but SmokeCheck), SparkTestBase and perfbench;
    * `SparkEntry.entry` applies them to the caller's own session:
    *  - `nanosAsLong`: a TIMESTAMP(NANOS) events fixture (driver
    *    generations through round 7) must read as LongType, not error;
    *  - `inferTimestampNTZ=false`: a TIMESTAMP(MICROS) fixture with
    *    isAdjustedToUTC=false (round-8+ generations) must read as plain
    *    TIMESTAMP, not NTZ, so `unix_micros` applies directly;
    *  - UTC: all date math, and it makes Timestamp↔NTZ casts identity.
    * Whatever variant is on disk, [[graft.Tables.normalizeTs]] maps ts
    * back to the internal epoch-nanos-Long contract. Runtime-settable,
    * so they apply to a caller-provided or fresh session alike. */
  val RuntimeConf: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC")

  def configure(s: SparkSession): SparkSession = {
    RuntimeConf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Build-time confs every graft session starts from; a caller's
    * `conf` and then `SPARK_GRAFT_CONF` ([[graft.ExtraConf]]) override
    * them. The two `fs` entries serve `file:` paths through
    * [[graft.etl.GraftLocalFileSystem]] (FileSystem API) and
    * [[graft.etl.GraftLocalFs]] (FileContext API, stream checkpoints),
    * which fork no `chmod`/`readlink` process per file.
    *
    * The three codegen entries make a generated class compile once
    * per JVM. Spark caches compiled classes under (the task thread's
    * context class loader, the source):
    *  - artifact isolation off: with it on, every session, and so every
    *    streaming query's `newSession()` child, gets its own executor
    *    class loader and compiles every class again. graft adds no
    *    per-session artifact, so all sessions share one loader;
    *  - a cache bound sized to the registry: one pass over all 168
    *    queries compiles 1,964 to 2,004 distinct classes in one JVM
    *    (sf0.001 and sf0.01, under the default, 7 shuffle partitions
    *    and the shuffle self-join), against the default bound of 100;
    *    4096 holds that twice over;
    *  - no stage id in generated class names: AQE numbers a query's
    *    codegen stages in the order it creates them, which varies from
    *    run to run, and with the id in the name each numbering is a new
    *    source for the same pipeline.
    * The cache bound is static and the isolation flag is read when a
    * session is created, so they are build-time confs here, and a
    * child session inherits all three through the SparkContext. */
  val SessionConf: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.ui.enabled" -> "false",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.hadoop.fs.file.impl" -> classOf[graft.etl.GraftLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.etl.GraftLocalFs].getName)

  val MasterEnv = "SPARK_GRAFT_MASTER"
  val CpusEnv = "SPARK_GRAFT_CPUS"

  /** `SPARK_GRAFT_CPUS` as a core count, validated whenever it is set. */
  def cpus(env: Map[String, String] = sys.env): Option[Int] =
    env.get(CpusEnv).map { v =>
      val n = v.trim.toIntOption.getOrElse(0)
      require(n > 0, s"$CpusEnv must be a positive integer, got '$v'")
      n
    }

  /** `SPARK_GRAFT_MASTER`, else `local[$SPARK_GRAFT_CPUS]`, else `local[*]`. */
  def master(env: Map[String, String] = sys.env): String = {
    val n = cpus(env) // validated even when SPARK_GRAFT_MASTER wins
    env.getOrElse(MasterEnv, n.fold("local[*]")(c => s"local[$c]"))
  }

  /** The one session factory: every graft main, the test base and the
    * benchmark build their session here. `conf` carries only what a
    * caller really needs beyond [[SessionConf]]. */
  def buildSession(name: String, conf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder().appName(name).master(master())
    (SessionConf ++ conf).foreach { case (k, v) => b.config(k, v) }
    val s = configure(graft.ExtraConf.applyTo(b).getOrCreate())
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private[jobs] def keyed(taskUUID: String, df: DataFrame): DataFrame =
    df.select(lit(taskUUID).as("task_id") +: df.columns.map(col).toSeq: _*)

  /** Append `df` under the task UUID, declaring string columns VARCHAR
    * at table creation. Spark's default JDBC mapping turns StringType
    * into an LOB on several dialects (CLOB on Derby, TEXT on MySQL) —
    * not comparable, not indexable, useless for a table KEYED by a
    * string task id (the reference's MySQL DDL declares VARCHAR too).
    * Only affects CREATE; appends to an existing table are untouched. */
  private[jobs] def appendKeyed(taskUUID: String, df: DataFrame,
                                url: String, table: String, props: Properties): Unit = {
    val out = keyed(taskUUID, df)
    val p2 = new Properties()
    p2.putAll(props)
    val varchars = out.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(f => s"${f.name} VARCHAR(1024)").mkString(", ")
    if (varchars.nonEmpty) p2.setProperty("createTableColumnTypes", varchars)
    Sinks.jdbcAppend(out, url, table, p2)
  }
}

/** 需求1–4 as one lifecycle: filter → ratio stats, deterministic
  * extraction, top-10 categories, top-10 sessions per category — four
  * JDBC appends sharing one task UUID. */
object SessionJob {
  val RatioTable = "session_stat_ratio"
  val StatsTable = "session_filtered_stats"
  val ExtractTable = "session_random_extract"
  val Top10CategoryTable = "top10_category"
  val Top10SessionTable = "top10_session"
  val FlowTable = "page_flow_convert"

  /** Default params mirror the reference's task.params.json shape; every
    * key is optional (absent ⇒ unconstrained, folded out of the plan). */
  val DefaultParamsJson: String =
    """{"eventTypes":"click,purchase,view","minValue":"0.0","maxValue":"1000.0"}"""

  /** `stagingDir` is the 100 TB mode: instead of pinning the filtered
    * frame in executor memory, write it ONCE as date-partitioned
    * parquet and let every downstream output re-read a pruned columnar
    * copy — staging cost is one extra write, and any date-scoped
    * downstream read prunes whole partition directories. `None` (the
    * default) keeps the in-memory persist, right for interactive runs.
    * The `date` partition column is cast back to string on re-read
    * (partition-column type inference would otherwise surface it as
    * DATE and change downstream grouping keys). */
  def run(s: SparkSession, dir: String, url: String, props: Properties,
          p: TaskParams, taskUUID: String,
          stagingDir: Option[String] = None): Unit = {
    val filtered = Sessions.filteredEvents(s, dir, p)
    val ev = stagingDir match {
      case Some(path) =>
        Sinks.writePartitioned(filtered, path, Seq("date"))
        s.read.parquet(path).withColumn("date", col("date").cast("string"))
      case None => filtered.persist()
    }
    try {
      val sess = Sessions.sessionizedFrom(ev)
      def write(df: DataFrame, table: String): Unit =
        Jobs.appendKeyed(taskUUID, df, url, table, props)
      write(Sessions.counterStats(ev), StatsTable)
      write(Sessions.bucketStatsFrom(Sessions.sessionAggFrom(sess)), RatioTable)
      write(Sessions.extractFrom(sess), ExtractTable)
      write(Categories.top10From(ev), Top10CategoryTable)
      write(Categories.top10SessionsFrom(ev, sess), Top10SessionTable)
      // 需求5's parameterized route: only produced when the task params
      // carry a targetPageFlow (the reference ships it as its own 需求;
      // here it is one more output of the same filtered lifecycle)
      p.get(Categories.FlowParam).foreach { _ =>
        write(Categories.flowConvertFrom(s, sess, p), FlowTable)
      }
    } finally { if (stagingDir.isEmpty) { ev.unpersist(); () } }
  }

  /** args: [sfDir] [jdbcUrl] [paramsJson]. */
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val url = args.lift(1).getOrElse("jdbc:derby:memory:graftjobs;create=true")
    val p = TaskParams.fromJson(args.lift(2).getOrElse(DefaultParamsJson))
    val s = Jobs.buildSession("graft-session-job")
    val taskUUID = UUID.randomUUID().toString
    run(s, dir, url, new Properties(), p, taskUUID)
    println(s"[job] session job $taskUUID done")
  }
}

/** 需求7–10 as one lifecycle — the reference's third main
  * (adversStat/src/main/scala/AdverStat.scala): the ad-event stream
  * drives four outputs, each appended under one task UUID. The
  * reference fans one DStream into four DStream chains writing MySQL
  * tables (ad_blacklist, ad_stat, ad_province_top3, ad_click_trend);
  * here each output is a Structured Streaming query run to completion
  * (AvailableNow over the same source — swap the source for Kafka and
  * the queries run continuously, writing through the same sinks per
  * micro-batch). */
object AdverStatJob {
  val TrendTable = "ad_click_trend"     // 需求10: sliding-window counts
  val StatTable = "ad_stat"             // 需求8: cumulative per-day/user counts
  val Top3Table = "ad_daily_top3"       // 需求9: per-day top-3 off the running agg
  val BlacklistTable = "ad_blacklist"   // 需求7: threshold-promoted users

  def run(s: SparkSession, dir: String, url: String, props: Properties,
          taskUUID: String): Unit = {
    import graft.streaming.AdAnalytics
    def write(df: DataFrame, table: String): Unit =
      Jobs.appendKeyed(taskUUID, df, url, table, props)
    write(AdAnalytics.st02SlidingWindow(s, dir), TrendTable)
    write(AdAnalytics.st04CumulativeState(s, dir), StatTable)
    write(AdAnalytics.st06DailyTop3(s, dir), Top3Table)
    write(AdAnalytics.st05ThresholdPromote(s, dir), BlacklistTable)
  }

  /** args: [sfDir] [jdbcUrl]. */
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val url = args.lift(1).getOrElse("jdbc:derby:memory:graftjobs;create=true")
    val s = Jobs.buildSession("graft-adver-stat-job")
    val taskUUID = UUID.randomUUID().toString
    run(s, dir, url, new Properties(), taskUUID)
    println(s"[job] adver stat job $taskUUID done")
  }
}

/** The LLM-data extension as one lifecycle — the training-data
  * counterpart of the reference-shaped jobs: one run writes the
  * per-source curation decisions (d24), the training-ready packed
  * manifest (d25 — the composed keep-source ∩ near-dup-survivor ∩
  * temperature-sample pipeline), and the two recall audits a curation
  * deployment monitors (d22 banded-LSH vs exhaustive truth, e07 ANN vs
  * brute force), all JDBC-appended under one task UUID. A production
  * run would swap the audit cadence down and the manifest write to a
  * partitioned table; the lifecycle is the same. */
object CurationJob {
  val SourceTable = "curation_source_decisions"
  val ManifestTable = "curation_manifest"
  val LshAuditTable = "curation_lsh_audit"
  val AnnAuditTable = "curation_ann_audit"
  val RulesTable = "curation_rule_verdicts"

  def run(s: SparkSession, dir: String, url: String, props: Properties,
          taskUUID: String): Unit = {
    import graft.operators.{Embeddings, LlmText}
    def write(df: DataFrame, table: String): Unit =
      Jobs.appendKeyed(taskUUID, df, url, table, props)
    write(LlmText.d27GopherRules(s, dir), RulesTable)
    write(LlmText.d24SourceCuration(s, dir), SourceTable)
    write(LlmText.d25CurationManifest(s, dir), ManifestTable)
    write(LlmText.d22LshRecallAudit(s, dir), LshAuditTable)
    write(Embeddings.e07RecallAudit(s, dir), AnnAuditTable)
  }

  /** args: [sfDir] [jdbcUrl]. */
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val url = args.lift(1).getOrElse("jdbc:derby:memory:graftjobs;create=true")
    val s = Jobs.buildSession("graft-curation-job")
    val taskUUID = UUID.randomUUID().toString
    run(s, dir, url, new Properties(), taskUUID)
    println(s"[job] curation job $taskUUID done")
  }
}

/** The DAILY-INGEST job the incremental operators exist for: today's
  * batch dedups against the existing corpus (d30 text LSH probe, e09
  * embedding cell probe) and both verdict tables land under one task
  * UUID — the rows a deployment's next step anti-joins to keep only the
  * SURVIVORS. Batch membership is the deterministic id slice and the
  * index side is recomputed in-query, the form the DuckDB gate checks.
  * The persisted-store form of the same probes is the streaming ingest
  * (st13/st14 over [[IncrementalIndex]]), where each micro-batch probes
  * the stored index and appends its own entries. */
object IngestJob {
  val TextTable = "ingest_text_verdicts"
  val EmbeddingTable = "ingest_embedding_verdicts"

  def run(s: SparkSession, dir: String, url: String, props: Properties,
          taskUUID: String): Unit = {
    import graft.operators.{Embeddings, LlmText}
    Jobs.appendKeyed(taskUUID, LlmText.d30IncrementalDedup(s, dir), url, TextTable, props)
    Jobs.appendKeyed(taskUUID, Embeddings.e09IncrementalSemDedup(s, dir), url, EmbeddingTable, props)
  }

  /** args: [sfDir] [jdbcUrl]. */
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val url = args.lift(1).getOrElse("jdbc:derby:memory:graftjobs;create=true")
    val s = Jobs.buildSession("graft-ingest-job")
    val taskUUID = UUID.randomUUID().toString
    run(s, dir, url, new Properties(), taskUUID)
    println(s"[job] ingest job $taskUUID done")
  }
}

/** 需求6 as one lifecycle: filter → area top-3 products → one JDBC
  * append keyed by the task UUID. */
object AreaTop3Job {
  val Table = "area_top3_product"

  def run(s: SparkSession, dir: String, url: String, props: Properties,
          p: TaskParams, taskUUID: String): Unit =
    Jobs.appendKeyed(taskUUID,
      Categories.areaTop3From(s, Sessions.filteredEvents(s, dir, p)),
      url, Table, props)

  /** args: [sfDir] [jdbcUrl] [paramsJson]. */
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val url = args.lift(1).getOrElse("jdbc:derby:memory:graftjobs;create=true")
    val p = TaskParams.fromJson(args.lift(2).getOrElse("{}"))
    val s = Jobs.buildSession("graft-area-top3-job")
    val taskUUID = UUID.randomUUID().toString
    run(s, dir, url, new Properties(), p, taskUUID)
    println(s"[job] area top3 job $taskUUID done")
  }
}
