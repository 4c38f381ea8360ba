package graft

import java.nio.file.Files
import java.util.Properties

import org.apache.spark.sql.functions._

import graft.etl.Sinks
import graft.jobs.{IncrementalIndex, IngestJob}
import graft.operators.{Embeddings, LlmText}

/** The two-day persisted-index lifecycle — the test that gives the
  * incremental operators (d30/e09) their day 2. Day 1 writes the
  * band-key/shingle and centroid/member tables to a parquet store from
  * its own partition; day 2 reads ONLY its partition, probes the STORED
  * index, and must (a) reproduce the oracle-pinned recompute forms
  * row-for-row, (b) never read a day-1 text/vector file, and (c) fold
  * its survivors into the store. Tests run in declaration order; the
  * ingestBatch tests mutate the store and therefore come last.
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
    IngestJob.buildIndex(spark, day1Docs, day1Vecs, indexDir,
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

  test("ingestBatch writes keyed verdicts and folds exactly the survivors into the store") {
    val url = "jdbc:derby:memory:graftincr;create=true"
    val props = new Properties()
    IngestJob.ingestBatch(spark, day2Docs, day2Vecs, env._3, url, props, "day-2")
    // verdict tables are the library queries, keyed by the task UUID
    val textViaJob = spark.read.jdbc(url, IngestJob.TextTable, props)
      .where(col("task_id") === "day-2").drop("task_id")
      .collect().map(_.toString).sorted.toSeq
    val textRows = LlmText.d30IncrementalDedup(spark, sf).collect()
    assert(textViaJob === textRows.map(_.toString).sorted.toSeq)
    val cellViaJob = spark.read.jdbc(url, IngestJob.EmbeddingTable, props)
      .where(col("task_id") === "day-2").drop("task_id")
      .collect().map(_.toString).sorted.toSeq
    val cellRows = Embeddings.e09IncrementalSemDedup(spark, sf).collect()
    assert(cellViaJob === cellRows.map(_.toString).sorted.toSeq)
    // store now holds day-1 entries ∪ exactly the day-2 survivors —
    // day 3 would see today's kept docs as corpus
    val day1DocIds = Tables.documents(spark, sf)
      .where(col("doc_id") % mod =!= 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val textSurvivors = textRows.filterNot(_.getAs[Boolean]("is_dup"))
      .map(_.getAs[Long]("doc_id")).toSet
    val storedDocIds = spark.read
      .parquet(s"${env._3}/${IncrementalIndex.TextShingles}")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(storedDocIds === day1DocIds ++ textSurvivors)
    val day1VecIds = Tables.embeddings(spark, sf)
      .where(col("vec_id") % mod =!= 0).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val keptVecIds = cellRows.filter(_.getAs[Boolean]("kept"))
      .map(_.getAs[Long]("vec_id")).toSet
    val storedVecIds = spark.read
      .parquet(s"${env._3}/${IncrementalIndex.CellMembers}")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(storedVecIds === day1VecIds ++ keptVecIds)
  }

  test("ingestBatch lands the batch postings: substr probe serves full-corpus spans") {
    // runs after the ingestBatch test (declaration order, like the rest
    // of this lifecycle file): the store now holds day-1's bootstrap
    // postings plus day-2's appended ones, so the persisted probe must
    // equal d44's spans over the WHOLE corpus — cross-day duplicated
    // spans surface exactly like in-corpus ones
    val persisted = IncrementalIndex.probeSubstrSpans(spark, env._3)
      .collect().map(_.toString).sorted.toSeq
    val direct = LlmText.d44CrossdocSpans(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(persisted === direct, "two-day substr store diverged from the batch spans")
  }
}
