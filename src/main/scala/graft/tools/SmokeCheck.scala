package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Simulates the round driver's smoke test: a BARE session (none of the
  * engine's build-time confs) calling `SparkEntry.entry` — proves the
  * entry point is self-sufficient. Exits non-zero on empty results.
  * SessionSpec runs it in a forked JVM; its session stays bare on
  * purpose, outside [[graft.jobs.Jobs.buildSession]]. */
object SmokeCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows = $n")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
