package graft.tools

import org.apache.spark.sql.functions._

/** Measured read for st25's union-find-as-log cluster store — the
  * GraphRoundsCheck discipline applied to online clustering: build the
  * store exactly as st25 does (bootstrap over the %10≠0 corpus, then
  * the arrivals in K ascending batches through `applyClusterBatch`),
  * then report the sizes and prices the design's claims rest on:
  * label-log rows, merge-event rows (the log whose growth
  * `rebaseClusterLabels` bounds), the resolve price before and after a
  * rebase, and the recompute check (resolved readout ≡ the one-shot
  * d14 clustering). BASELINE.md records the line so the "merge log is
  * merge-event-sized, readout is one closure join" story is measured,
  * not claimed. */
object ClusterLogCheck {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batches = args.lift(1).map(_.toInt).getOrElse(4)
    val s = graft.jobs.Jobs.buildSession("graft-cluster-log-check")
    import graft.jobs.IncrementalIndex
    val mod = graft.operators.LlmText.IncrementalBatchMod
    graft.streaming.Streams.withTempDir("graft-clc-") { idx =>
      val docs = graft.Tables.documents(s, dir)
      def timed[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
      }
      val (_, tBoot) = timed {
        IncrementalIndex.writeClusterBootstrapFixture(s, dir, idx)
      }
      val arrivals = docs.where(col("doc_id") % mod === 0)
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted
      val per = (arrivals.length + batches - 1) / batches
      val (_, tApply) = timed {
        arrivals.grouped(per).zipWithIndex.foreach { case (ids, b) =>
          IncrementalIndex.applyClusterBatch(s,
            docs.where(col("doc_id").isin(ids: _*)), idx, b.toLong)
        }
      }
      val labelRows = s.read.parquet(s"$idx/${IncrementalIndex.ClusterLabels}").count()
      val mergeRows = s.read.parquet(s"$idx/${IncrementalIndex.LabelRemaps}").count()
      val (before, tResolve) = timed {
        IncrementalIndex.resolveClusterLabels(s, idx)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val (_, tRebase) = timed {
        IncrementalIndex.rebaseClusterLabels(s, idx, upToBid = batches.toLong)
      }
      val (after, tResolve2) = timed {
        IncrementalIndex.resolveClusterLabels(s, idx)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val oneShot = graft.operators.LlmText.d14NeardupClusters(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      println(f"[cluster-log] corpus=${docs.count()} arrivals=${arrivals.length} batches=$batches  " +
        f"bootstrap ${tBoot}%.1f s  apply ${tApply}%.1f s")
      println(f"[cluster-log] label rows=$labelRows merge events=$mergeRows  " +
        f"resolve ${tResolve}%.2f s  rebase ${tRebase}%.2f s  resolve-after ${tResolve2}%.2f s")
      println(s"[cluster-log] readout==one-shot d14: ${before == oneShot}  " +
        s"rebase-parity: ${after == before}")
    }
    s.stop()
  }
}
