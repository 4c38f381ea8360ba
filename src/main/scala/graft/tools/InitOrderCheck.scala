package graft.tools

/** Regression guard for the CROSS-OBJECT init-order trap (the RerankC
  * trap's two-object form): a JVM whose entry point touches
  * [[graft.operators.Embeddings]] FIRST used to re-enter a
  * partially-initialized [[graft.operators.LlmText]] (via the
  * IncrementalBatchModE mirror read) whose oracleSql val then
  * interpolated the still-null `e10Sql` — silently baking
  * `FROM (null) t` into the d34 oracle. Scala string interpolation of
  * null does not throw, and the standard Verify/Bench path initializes
  * LlmText first, so the green gate could not see it.
  *
  * This main reproduces the Embeddings-first order and asserts every
  * registered oracle is clean; it needs a FRESH JVM, so SessionSpec
  * forks it. Fix pinned: the
  * shared batch-mod constant is a compile-time `final val` (no runtime
  * cross-object read during Embeddings' init) and every cross-module
  * SQL val/map is lazy (assembled after all objects initialize). */
object InitOrderCheck {
  def main(args: Array[String]): Unit = {
    // touch Embeddings FIRST — the order the main gate never exercises
    require(graft.operators.Embeddings.IncrementalBatchModE ==
      graft.operators.LlmText.IncrementalBatchMod, "batch-mod mirror drifted")
    val bad = graft.SparkEntry.oracleSql.filter(_._2.contains("(null)"))
    require(bad.isEmpty,
      s"null-corrupted oracle SQL (init-order trap): ${bad.keys.mkString(", ")}")
    println(s"[init-order] ${graft.SparkEntry.oracleSql.size} oracles clean under Embeddings-first init")
  }
}
