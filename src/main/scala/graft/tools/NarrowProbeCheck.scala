package graft.tools

import org.apache.spark.sql.functions._

/** Measures the stored-tokenized-corpus trade-off documented on
  * [[graft.operators.LlmText.base]]: the stored table is a
  * localCheckpoint (ExistingRDD scan — no column pruning), so a probe
  * that wants only (lang, n_chars) still deserializes the norm/toks
  * payload, where a parquet scan would prune to the two columns.
  *
  * Prints the serve-side min-of-5 for the SAME aggregate through both
  * paths plus their ratio; docs/SCALE.md records the verdict (whether
  * the gap at sf0.1 justifies storing a second narrow projection).
  * The stored table is pre-built before timing — the build price is
  * the separately-recorded ingest cost, not the probe's.
  */
object NarrowProbeCheck {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.jobs.Jobs.buildSession("graft-narrow-probe-check")

    def probeStored(): Long = graft.operators.LlmText.base(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars")).count()
    def probePruned(): Long = graft.Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars")).count()

    graft.operators.LlmText.base(spark, dir).count() // build the stored table
    probePruned(); probeStored() // JIT warm-up
    def minOf(f: () => Long): Double =
      (1 to 5).map { _ =>
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
      }.min
    val stored = minOf(() => probeStored())
    val pruned = minOf(() => probePruned())
    println(f"[narrow-probe] dir=$dir stored=$stored%.3f s pruned=$pruned%.3f s " +
      f"ratio=${stored / pruned}%.2f")
    spark.stop()
  }
}
