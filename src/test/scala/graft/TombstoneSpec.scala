package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.jobs.IncrementalIndex
import graft.operators.Embeddings

/** DELETION support for the persisted indexes — the third lifecycle
  * verb beside probe and append: upstream-retracted ids must vanish
  * from every frozen artifact without rebuilding any of them, through
  * the tombstone table + probe-side anti-join
  * ([[IncrementalIndex.liveTable]]). Laws pinned here:
  *
  *  - the ranked artifact (graph edges) is filtered on BOTH
  *    endpoints — sound (no retracted id survives anywhere) but
  *    lossy (completeness returns only with the explicit rebuild);
  *  - st24's bid-partitioned tombstone table reads as one set, and the
  *    persisted live serve over it ≡ e24's in-JVM form (the stored and
  *    memo paths cannot drift under deletion).
  */
class TombstoneSpec extends GraftSuite {

  private def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    val cols = a.columns.sorted.toIndexedSeq.map(col)
    val (x, y) = (a.select(cols: _*), b.select(cols: _*))
    assert(x.count() === y.count(), s"$what: row counts differ")
    assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty,
      s"$what: rows differ")
  }

  private def delIds = Tables.embeddings(spark, sf)
    .select(col("vec_id"))
    .where(col("vec_id") % Embeddings.VecTombMod === Embeddings.VecTombRem)

  private lazy val vecEnv: (String, Set[Long]) = {
    val idx = Files.createTempDirectory("graft-tomb-vec-").toString
    val all = Tables.embeddings(spark, sf)
    IncrementalIndex.writeServePair(spark, sf, idx)
    IncrementalIndex.writeCellIndex(spark, all, idx, centroidTrain = Some(all))
    IncrementalIndex.writeVecTombstonesBatch(spark, delIds, idx, 0L)
    (idx, delIds.collect().map(_.getLong(0)).toSet)
  }

  test("liveTable: probe-side anti-join drops retracted ids; ranked artifacts check both endpoints") {
    val (idx, dels) = vecEnv
    assert(dels.nonEmpty, "fixture must retract something")
    val buckets = IncrementalIndex.liveTable(spark, idx, IncrementalIndex.LshBuckets)
    assert(buckets.where(col("vec_id").isin(dels.toSeq: _*)).isEmpty,
      "a retracted vector survived the bucket probe")
    val edges = IncrementalIndex.liveTable(spark, idx, IncrementalIndex.GraphEdges)
    assert(edges.where(col("query_id").isin(dels.toSeq: _*) ||
        col("neighbor_id").isin(dels.toSeq: _*)).isEmpty,
      "an edge touching a retracted endpoint survived")
    // an unmapped table (the centroids are corpus statistics, not
    // per-id rows) reads plain
    assert(IncrementalIndex.liveTable(spark, idx, IncrementalIndex.CellCentroids)
      .count() ===
      spark.read.parquet(s"$idx/${IncrementalIndex.CellCentroids}").count())
  }

  test("bid-partitioned tombstone table (st24's layout): liveTable reads it as a set") {
    // st24 accrues the retraction set as one bid=<batchId> partition
    // per micro-batch; liveTable must read the UNION of partitions
    import spark.implicits._
    val idx = Files.createTempDirectory("graft-tomb-bidset-").toString
    IncrementalIndex.writeServePair(spark, sf, idx)
    val ids = delIds.collect().map(_.getLong(0)).sorted
    val (h1, h2) = ids.splitAt(ids.length / 2)
    IncrementalIndex.writeVecTombstonesBatch(spark, h1.toSeq.toDF("vec_id"), idx, 0L)
    IncrementalIndex.writeVecTombstonesBatch(spark, h2.toSeq.toDF("vec_id"), idx, 1L)
    val memo = Embeddings.e24TombstoneServe(spark, sf)
      .select("query_id", "neighbor_id", "rank")
    assertSameRows(
      IncrementalIndex.probeGraphServeLive(spark, idx)
        .select("query_id", "neighbor_id", "rank"),
      memo, "bid-partitioned tombstones: live serve vs in-JVM e24")
  }
}
