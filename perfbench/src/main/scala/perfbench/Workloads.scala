package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Categories, Embeddings, LlmText, Misc, Multimodal, Relational, Sessions}
import graft.streaming.AdAnalytics

/** The program's public query registries, by module, and the query lists
  * the benchmark's workloads run.
  *
  * A workload is a fixed list of queries rather than whole modules: one
  * run has to fit JVM start, a set-up pass and five measured passes into
  * about a minute, and one pass over all 168 queries takes about two
  * minutes on four cores.
  */
object Workloads {
  type Query = (SparkSession, String) => DataFrame

  val modules: Seq[(String, Map[String, Query])] = Seq(
    "Relational" -> Relational.queries,
    "Sessions" -> Sessions.queries,
    "Categories" -> Categories.queries,
    "Misc" -> Misc.queries,
    "AdAnalytics" -> AdAnalytics.queries,
    "LlmText" -> LlmText.queries,
    "Embeddings" -> Embeddings.queries,
    "Multimodal" -> Multimodal.queries)

  /** query name -> (module name, query function), over every registry */
  lazy val registry: Map[String, (String, Query)] =
    modules.flatMap { case (m, qs) => qs.map { case (n, f) => n -> (m -> f) } }.toMap

  /** One query from each batch module. The commerce ones (需求1 session
    * stats, 需求6 area top-3, a relational and a misc operator) spend most
    * of their time on the fixed per-query floor: planning, job scheduling
    * and shuffle partitions. The corpus ones do the heaviest task execution
    * and shuffle: d33 and e12 are served from stored in-JVM artifacts
    * (postings, PQ codes) that the set-up pass builds, mm06 is a pairwise
    * perceptual-hash self-join. */
  val batch: Seq[String] = Seq(
    "s04_filtered_stats", "c07_area_top3", "q01_agg", "m16_global_rank",
    "d33_sparse_cosine", "e12_ivf_pq_adc", "mm06_phash_neardup")

  /** The real-time ad reports (需求7/8/10) and a continuous index ingest.
    * Every query starts a child session and an AvailableNow stream with its
    * own checkpoint; st17 also writes a persisted IncrementalIndex store. */
  val streaming: Seq[String] = Seq(
    "st01_parse_count", "st02_sliding_window", "st04_cumulative_state",
    "st05_threshold_promote", "st17_streaming_decontamination")

  val all: Map[String, Seq[String]] = Map(
    "batch" -> batch,
    "streaming" -> streaming)
}
