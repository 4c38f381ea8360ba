package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.etl.Sinks
import graft.jobs.IncrementalIndex
import graft.operators.{Embeddings, LlmText}

/** The two-day persisted-index probe — the test that gives the
  * incremental operators (d30/e09) their day 2. Day 1 writes the
  * band-key/shingle tables (the `bid=-1` bootstrap partition st13
  * writes) and the centroid/member tables to a parquet store from its
  * own partition; day 2 reads ONLY its partition, probes the STORED
  * index, and must (a) reproduce the oracle-pinned recompute forms
  * row-for-row and (b) never read a day-1 text/vector file.
  */
class IncrementalIndexSpec extends GraftSuite {

  private val mod = LlmText.IncrementalBatchMod

  /** Two-day partitioned corpus layout + day-1 index, built once. The
    * day split mirrors the operators' deterministic batch slice, so the
    * stored-index probes are comparable to d30/e09 verbatim. */
  private lazy val env: (String, String, String) = {
    val tmp = Files.createTempDirectory("graft-incr-").toString
    val docsDir = s"$tmp/docs"; val vecsDir = s"$tmp/vecs"
    val indexDir = s"$tmp/index"
    Sinks.writePartitioned(
      Tables.documents(spark, sf).withColumn("ingest_day",
        when(col("doc_id") % mod === 0, 2).otherwise(1)),
      docsDir, Seq("ingest_day"))
    Sinks.writePartitioned(
      Tables.embeddings(spark, sf).withColumn("ingest_day",
        when(col("vec_id") % mod === 0, 2).otherwise(1)),
      vecsDir, Seq("ingest_day"))
    val day1Docs = spark.read.parquet(docsDir)
      .where(col("ingest_day") === 1).drop("ingest_day")
    val day1Vecs = spark.read.parquet(vecsDir)
      .where(col("ingest_day") === 1).drop("ingest_day")
    // the frozen centroid table is trained on the full history — e09's
    // oracle formulation — so the stored probe must reproduce e09
    // verbatim; members stored are day-1's only
    IncrementalIndex.writeTextIndexBatch(spark, day1Docs, indexDir, batchId = -1L)
    IncrementalIndex.writeCellIndex(spark, day1Vecs, indexDir,
      centroidTrain = Some(Tables.embeddings(spark, sf)))
    (docsDir, vecsDir, indexDir)
  }

  private def day2Docs = spark.read.parquet(env._1)
    .where(col("ingest_day") === 2).drop("ingest_day")
  private def day2Vecs = spark.read.parquet(env._2)
    .where(col("ingest_day") === 2).drop("ingest_day")

  /** The files a plan's scans actually SELECT after partition pruning
    * (`inputFiles` lists the whole relation, pruned or not). Built with
    * AQE off so every FileSourceScanExec is visible in the physical
    * tree; the df must be constructed inside the window (by-name). */
  private def scannedFiles(mk: => org.apache.spark.sql.DataFrame): Seq[String] = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try mk.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.toPartitionArray.map(_.filePath.toString).toSeq
    }.flatten
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("day-2 batch read prunes to its partition directory") {
    val files = scannedFiles(day2Docs)
    assert(files.nonEmpty && files.forall(_.contains("ingest_day=2")),
      s"batch scan must touch only its partition: ${files.take(3).mkString(", ")}")
    val plan = day2Docs.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"expected partition filters:\n$plan")
  }

  test("stored-index text probe is row-identical to the d30 recompute form") {
    val got = IncrementalIndex.probeText(spark, day2Docs, env._3)
      .collect().map(_.toString).sorted.toSeq
    val expect = LlmText.d30IncrementalDedup(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got === expect)
  }

  test("stored-index cell probe is row-identical to the e09 recompute form") {
    val got = IncrementalIndex.probeCells(spark, day2Vecs, env._3)
      .collect().map(_.toString).sorted.toSeq
    val expect = Embeddings.e09IncrementalSemDedup(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got === expect)
  }

  test("day-2 probes read only the batch partition and the stored index") {
    var caches: Seq[org.apache.spark.sql.DataFrame] = Nil
    try {
      val files = scannedFiles {
        val (df, c) = IncrementalIndex.probeTextLazy(spark, day2Docs, env._3)
        caches = c
        df
      }
      assert(files.nonEmpty)
      val off = files.filterNot(f => f.contains("ingest_day=2") || f.contains("/index/"))
      assert(off.isEmpty, s"text probe reads day-1 data: ${off.take(3).mkString(", ")}")
    } finally caches.foreach(_.unpersist())
    val vFiles = scannedFiles(IncrementalIndex.probeCellsLazy(spark, day2Vecs, env._3))
    assert(vFiles.nonEmpty)
    val vOff = vFiles.filterNot(f => f.contains("ingest_day=2") || f.contains("/index/"))
    assert(vOff.isEmpty, s"cell probe reads day-1 vectors: ${vOff.take(3).mkString(", ")}")
  }
}
