package graft

import graft.SparkTestBase.compilesBy

/** A generated class compiles once per JVM: every session shares one
  * executor class loader, the codegen cache holds the whole registry and
  * a pipeline's source does not depend on AQE's stage numbering
  * ([[graft.jobs.Jobs.SessionConf]]), so a warm call compiles nothing.
  * Compiles are counted by Spark's codegen compile-time histogram.
  */
class CodegenCacheSpec extends GraftSuite {

  // the benchmark's two workloads
  private val batch = Seq("s04_filtered_stats", "c07_area_top3", "q01_agg", "m16_global_rank",
    "d33_sparse_cosine", "e12_ivf_pq_adc", "mm06_phash_neardup")
  private val streaming = Seq("st01_parse_count", "st02_sliding_window", "st04_cumulative_state",
    "st05_threshold_promote", "st17_streaming_decontamination")

  private def run(name: String): Unit = SparkEntry.queries(name)(spark, sf).collect()

  test("after a warm pass over the benchmark's batch queries, a second pass compiles no class") {
    batch.foreach(run)
    assert(compilesBy(batch.foreach(run)) === 0)
  }

  test("a second warm call of each streaming query, st04 included, compiles no class") {
    streaming.foreach(run)
    val compiles = streaming.map(name => name -> compilesBy(run(name)))
    assert(compiles.forall(_._2 == 0), compiles.mkString(", "))
  }
}
