package graft.tools

import org.apache.spark.sql.functions._

/** Engaged-lever read for the graph SERVE side (`spark.graft.graph
  * .hops`) — [[GraphRoundsCheck]]'s twin for e23: recall@3 of the
  * beam serve against the e01 brute-force truth (restricted to the %5
  * query sample e23 answers), for hops = 1, 2, 3, plus each serve's
  * wall time. The BUILD lever (rounds) prices deeper graphs;
  * THIS lever prices wider navigation of the same stored graph —
  * BASELINE.md records both so the serve-quality story is measured,
  * not claimed (per-query monotonicity in hops is spec-pinned in
  * LlmTextSpec; this read puts numbers on it). The stored inputs
  * (quantized column, bucket table, 1-round graph) are warmed OUTSIDE
  * the timers so each line prices exactly one serve at that depth. */
object GraphHopsCheck {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val s = graft.jobs.Jobs.buildSession("graft-graph-hops-check")
    val truth = graft.operators.Embeddings.e01KnnBrute(s, dir)
      .where(col("rank") <= 3 && col("query_id") % 5 === 0)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val denom = truth.values.map(_.size).sum
    // warm the shared stored inputs (and the 1-round graph memo the
    // serve reads) outside the timers
    graft.operators.Embeddings.graphServe(s, dir, 1).count()
    for (hops <- 1 to 3) {
      val t0 = System.nanoTime()
      val served = graft.operators.Embeddings.graphServe(s, dir, hops)
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val secs = (System.nanoTime() - t0) / 1e9
      val by = served.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val hits = truth.toSeq.map { case (q, t) =>
        by.get(q).map(n => (n & t).size).getOrElse(0)
      }.sum
      println(f"[graph-hops] hops=$hops recall@3 = $hits/$denom = ${hits.toDouble / denom}%.4f  serve ${secs}%.1f s")
    }
    s.stop()
  }
}
