package graft.etl

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Output surfaces (SURVEY S6/S7/S9/S11): JDBC append, managed-table
  * write, streaming file sink, console sink. The reference appends every
  * result to MySQL (6 call sites, e.g. SessionStat.scala:508-514) and
  * overwrites Hive tables from the mock loader (MockDataGenerate.scala:
  * 147-150); tests exercise these against embedded Derby / a temp
  * warehouse — the sink code is identical against any JDBC url or
  * catalog. Upsert-flavored sinks live in [[Upsert]] (composed inside
  * `foreachBatch`).
  */
object Sinks {

  /** Append rows to a JDBC table (S7). Partition-parallel: each task
    * opens one connection and writes its partition — the driver never
    * materializes the result. */
  def jdbcAppend(df: DataFrame, url: String, table: String,
                 props: Properties = new Properties()): Unit =
    df.write.mode(SaveMode.Append).jdbc(url, table, props)

  /** Drop `name` AND its managed-table location. Overwrite-mode
    * saveAsTable replaces a TABLE but refuses an orphaned LOCATION
    * (LOCATION_ALREADY_EXISTS) — with the in-memory catalog, a previous
    * JVM's warehouse directory survives while its catalog entry doesn't,
    * so a fresh session must clear both before re-creating. */
  private def dropTableAndLocation(df: DataFrame, name: String): Unit = {
    val s = df.sparkSession
    s.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Overwrite a managed catalog table (S9: DROP + saveAsTable). */
  def saveTable(df: DataFrame, name: String): Unit = {
    dropTableAndLocation(df, name)
    df.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(name)
  }

  /** Streaming parquet file sink (S6 producer analog): append-mode
    * exactly-once file output with checkpointed offsets. */
  def streamToParquet(df: DataFrame, path: String, checkpoint: String): StreamingQuery =
    df.writeStream.format("parquet")
      .outputMode("append")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Date-partitioned parquet write — the 100 TB layout: every batch
    * table partitioned by its date key so date-range queries get
    * dynamic partition pruning for free (scans touch only matching
    * directories; `PartitionFilters` in the read plan, pinned by
    * SinksSpec). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed managed table (the co-located-join layout): rows are
    * hash-bucketed AND sorted by the join key at write time, so a join
    * of two tables bucketed the same way needs NO shuffle and NO sort at
    * read time — the 100 TB answer for a fact⋈fact join that runs every
    * day: pay the partitioning once at ingest, never per query
    * (SinksSpec pins the exchange-free join plan). */
  def writeBucketed(df: DataFrame, name: String, bucketCol: String, buckets: Int): Unit = {
    dropTableAndLocation(df, name)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(name)
  }

  /** Console sink (S11 — dev only, like the reference's foreachRDD
    * println at AdverStat.scala:88). */
  def streamToConsole(df: DataFrame, checkpoint: String): StreamingQuery =
    df.writeStream.format("console")
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
