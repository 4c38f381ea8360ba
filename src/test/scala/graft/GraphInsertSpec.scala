package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.jobs.IncrementalIndex
import graft.operators.Embeddings

/** Laws for the ONLINE graph insert (st22's per-batch step): arrivals
  * join the index (later ones retrieve earlier ones), the census
  * contract holds (an arrival's edges reach only EARLIER ids), and the
  * quality gap against the full NN-Descent rebuild is MEASURED, not
  * assumed — insertion order costs recall (an early arrival never sees
  * later vectors, and expansion reads only the frozen bootstrap
  * graph), which is exactly why the periodic rebuild event exists.
  */
class GraphInsertSpec extends GraftSuite {

  private val modE = Embeddings.IncrementalBatchModE

  test("online insert: cross-arrival reach, census ordering, and a bounded recall gap vs rebuild") {
    val all = Tables.embeddings(spark, sf)
    val corpus = all.where(col("vec_id") % modE =!= 0)
    val arrivals = all.where(col("vec_id") % modE === 0)
    val arrivalIds = arrivals.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(arrivalIds.size >= 10, "fixture needs enough arrivals")

    val idx = Files.createTempDirectory("graft-insert-").toString
    IncrementalIndex.writeLshIndexBatch(spark, corpus, idx, batchId = -1L)
    IncrementalIndex.writeGraphBootstrapBatch(spark, corpus, idx)
    // two ascending batches so the second can retrieve the first
    val ids = arrivalIds.toSeq.sorted
    val (loIds, hiIds) = ids.splitAt(ids.length / 2)
    val b0 = arrivals.where(col("vec_id").isin(loIds: _*))
    val b1 = arrivals.where(col("vec_id").isin(hiIds: _*))
    val e0 = IncrementalIndex.ingestGraphBatch(spark, b0, idx, batchId = 0L)
    val e1 = IncrementalIndex.probeGraphInsert(spark, b1, idx)
    val online = e0.unionByName(e1)

    // later batches retrieve earlier arrivals: some batch-1 edge must
    // point at a batch-0 vector (the whole point of appending buckets)
    assert(e1.where(col("neighbor_id").isin(loIds: _*)).count() > 0,
      "no second-batch edge reaches a first-batch arrival")
    // census ordering: an arrival's edges reach only EARLIER ids
    // (corpus members, or arrivals with a lower id)
    val violations = online
      .where(col("neighbor_id").isin(ids: _*) &&
        col("neighbor_id") >= col("query_id")).count()
    assert(violations === 0L, "an edge reached a non-earlier arrival")

    // recall gap vs the full rebuild (both judged against brute top-3
    // over the WHOLE corpus — the rebuild may link to later arrivals,
    // the online form cannot; that ordering handicap IS the measured
    // gap)
    val truth = Embeddings
      .bruteRankedFrom(spark, Embeddings.quantizedFrom(spark, all))
      .where(col("rank") <= 3 && col("query_id").isin(ids: _*))
      .select(col("query_id"), col("neighbor_id"))
    val v = Embeddings.quantizedFrom(spark, all)
    val rebuild = Embeddings
      .nnDescentOver(spark, Embeddings.bucketedFrom(spark, v), v,
        rounds = 1, revCap = Embeddings.DefaultNndRevCap)
      .where(col("rank") <= 3 && col("query_id").isin(ids: _*))
      .select(col("query_id"), col("neighbor_id"))
    def recall(got: org.apache.spark.sql.DataFrame): Double = {
      val hit = got.select("query_id", "neighbor_id")
        .intersect(truth).count().toDouble
      hit / truth.count().toDouble
    }
    val (rOnline, rRebuild) = (recall(online.select("query_id", "neighbor_id")),
      recall(rebuild))
    info(f"recall@3 online=$rOnline%.4f rebuild=$rRebuild%.4f")
    assert(rOnline > 0.0, "online insert found nothing")
    // stated bound: insertion order may cost recall, but the online
    // form must stay within 0.25 absolute of the rebuild (measured
    // headroom on the fixture; a regression below this means the
    // insert rule broke, not that the corpus drifted)
    assert(rOnline >= rRebuild - 0.25,
      f"online recall $rOnline%.4f fell more than 0.25 below rebuild $rRebuild%.4f")
  }
}
