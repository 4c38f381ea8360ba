package graft

import java.util.Properties

import org.apache.spark.sql.functions._
import graft.etl.Sinks

/** Exercises the four output surfaces against embedded stores: Derby for
  * JDBC (S7 append semantics — appends accrete, the reference's
  * SaveMode.Append behavior), the session catalog for saveAsTable (S9),
  * and the streaming parquet/console sinks (S6/S11).
  */
class SinksSpec extends GraftSuite {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("S7: JDBC append accretes rows; read-back round-trips") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graftdb;create=true"
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Sinks.jdbcAppend(df, url, "t_append")
    Sinks.jdbcAppend(df, url, "t_append") // second append = 4 rows
    val back = spark.read.jdbc(url, "t_append", new Properties())
    assert(back.count() === 4)
    assert(back.select(sum("id")).collect()(0).getLong(0) === 6L)
  }

  test("S9: saveAsTable overwrite + catalog read-back") {
    val src = Tables.nation(spark, sf).select(col("n_nationkey"), col("n_name"))
    Sinks.saveTable(src, "graft_nations")
    Sinks.saveTable(src, "graft_nations") // overwrite is idempotent
    assert(spark.table("graft_nations").count() === 25)
    spark.sql("DROP TABLE graft_nations")
  }

  test("S6: streaming parquet sink writes exactly the input rows") {
    val out = tmp("graft-sink-out-")
    val q = Sinks.streamToParquet(
      graft.streaming.Streams.tableStream(spark, sf, "events")
        .select(col("event_id"), col("event_type")),
      out, tmp("graft-sink-ckpt-"))
    q.awaitTermination()
    val written = spark.read.parquet(out)
    assert(written.count() === Tables.events(spark, sf).count())
    assert(written.columns.toSeq === Seq("event_id", "event_type"))
  }

  test("partitioned write: date filter prunes partitions at the scan") {
    val out = tmp("graft-part-out-")
    val ev = graft.operators.Sessions.enriched(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("date"))
    Sinks.writePartitioned(ev, out, Seq("date"))
    val oneDay = spark.read.parquet(out).where(col("date") === "2024-01-02")
    val plan = oneDay.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(date"), s"no partition pruning:\n$plan")
    val expected = ev.where(col("date") === "2024-01-02").count()
    assert(oneDay.count() === expected && expected > 0)
  }

  test("compaction collapses a small-file directory, preserving rows exactly") {
    val out = tmp("graft-compact-") + "/t"
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "event_type")
    ev.repartition(40).write.parquet(out)
    def files(): Seq[java.io.File] =
      new java.io.File(out).listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
    val expected = ev.collect().map(_.toString).sorted.toSeq
    assert(files().length === 40, "fixture should start fragmented")
    Sinks.compact(spark, out) // default 128 MB target >> data: one file
    assert(files().length === 1, s"expected one compacted file, got ${files().length}")
    assert(spark.read.parquet(out).collect().map(_.toString).sorted.toSeq === expected)
  }

  test("partitioned compaction: one file per directory, pruning survives") {
    val out = tmp("graft-compact-part-") + "/t"
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "event_type")
    ev.repartition(10).write.partitionBy("event_type").parquet(out)
    def dirFiles(d: String): Seq[java.io.File] =
      new java.io.File(s"$out/event_type=$d").listFiles().toSeq
        .filter(_.getName.endsWith(".parquet"))
    val expected = ev.collect().map(_.toString).sorted.toSeq
    assert(dirFiles("click").length > 1, "fixture should start fragmented per dir")
    Sinks.compact(spark, out, partitionCols = Seq("event_type"))
    assert(dirFiles("click").length === 1,
      s"expected one file per partition dir, got ${dirFiles("click").length}")
    val back = spark.read.parquet(out)
    assert(back.select("event_id", "user_id", "event_type")
      .collect().map(_.toString).sorted.toSeq === expected)
    val plan = back.where(col("event_type") === "click")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"pruning lost after compaction:\n$plan")
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    Sinks.writeBucketed(Tables.orders(spark, sf), "graft_orders_b", "o_custkey", 8)
    Sinks.writeBucketed(
      Tables.customer(spark, sf).withColumnRenamed("c_custkey", "o_custkey"),
      "graft_customer_b", "o_custkey", 8)
    // the scenario bucketing exists for is fact⋈fact where NEITHER side
    // broadcasts — the tiny fixture would auto-broadcast, so disable it
    // to surface the co-located sort-merge join
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_orders_b")
        .join(spark.table("graft_customer_b"), "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketed read not used:\n$plan")
      assert(joined.count() === Tables.orders(spark, sf).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sql("DROP TABLE graft_orders_b")
      spark.sql("DROP TABLE graft_customer_b")
    }
  }

  test("S9 hive-metastore variant: saveTable persists across contexts (forked JVM)") {
    // spark.sql.catalogImplementation is a static conf baked into the
    // first SharedState of a SparkContext — the shared test session
    // owns this JVM's in-memory catalog, so the hive-catalog round-trip
    // (graft.tools.HiveCatalogCheck: saveTable → stop the context →
    // fresh context over the same Derby metastore → table still there)
    // runs in a forked JVM, like the driver's SmokeCheck.
    val (code, out) = SparkTestBase.forkMain("graft.tools.HiveCatalogCheck", sf)
    assert(code === 0, s"HiveCatalogCheck exited $code:\n${out.takeRight(4000)}")
    assert(out.contains("hive-catalog OK rows=25"), out.takeRight(2000))
  }

  test("S11: console sink runs to completion (dev surface)") {
    val q = Sinks.streamToConsole(
      graft.streaming.Streams.tableStream(spark, sf, "events")
        .where(col("event_id") < 0).select(col("event_id")), // empty: dev-only smoke
      tmp("graft-console-ckpt-"))
    q.awaitTermination()
    assert(!q.isActive)
  }
}
