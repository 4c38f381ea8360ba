package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** Writes one `<outDir>/<query>.txt` per named query: the formatted
  * physical plan, the "is this the plan I'd run at 100 TB" audit
  * (broadcast choices, pushed filters, exchange counts, whole-stage
  * codegen spans) and the before/after plan evidence for an
  * optimization claim. Usage:
  * `sbt "runMain graft.tools.ExplainDump <sfDir> <outDir> <q1,q2,...>"`.
  * The session is the benchmark's ([[graft.jobs.Jobs.buildSession]]),
  * so the dumped plan is the one the benchmark executes.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: ExplainDump <sfDir> <outDir> <q1,q2,...>")
      sys.exit(2)
    }
    val spark = graft.jobs.Jobs.buildSession("graft-explain-dump")
    try dumpQueries(spark, args(0), args(1),
      args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    finally spark.stop()
  }

  /** The frame dumped for `name`, with a note for the plan's heading.
    * Three queries need a dump-specific frame: m16's public builder
    * returns an RDD-backed frame (its executed plan is just an
    * ExistingRDD scan, none of the pipeline the operator showcases), so
    * dump its sorted pre-zipWithIndex stage instead; m15's builder
    * performs the clustered rewrite + two metadata collects as part of
    * constructing the frame (the pre-written-path ingest), and the
    * frame it returns IS the pruned-scan query, dumped with a note;
    * s01's entry serves the stored session table, so dump its build
    * pipeline. */
  private[graft] def frameFor(spark: SparkSession, sfDir: String,
                              name: String): Option[(DataFrame, String)] =
    name match {
      case "m16_global_rank" => Some((
        graft.operators.Misc.m16Sorted(spark, sfDir),
        " (sorted pre-zipWithIndex stage — the ranked frame itself is RDD-backed)"))
      case "m15_zorder_skip" => Some((
        graft.operators.Misc.m15ZorderSkip(spark, sfDir),
        " (pruned scan over the pre-written z-clustered layout; the dump " +
          "run performs that idempotent ingest rewrite first)"))
      case "s01_sessionize" => Some((
        graft.operators.Sessions.sessionizedPlan(spark, sfDir)
          .select("event_id", "user_id", "session_id"),
        " (build pipeline — the public entry serves the stored session table)"))
      case _ => SparkEntry.queries.get(name).map(fn => (fn(spark, sfDir), ""))
    }

  /** One `<outDir>/<name>.txt` per query: a `# name note` heading, then the plan. */
  private[graft] def dumpQueries(spark: SparkSession, sfDir: String, outDir: String,
                                 names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      frameFor(spark, sfDir, name) match {
        case Some((df, note)) =>
          val f = Paths.get(outDir, s"$name.txt")
          Files.writeString(f, s"# $name$note\n\n${planOf(df)}")
          println(s"[explain] wrote $f")
        case None => System.err.println(s"[explain] unknown query: $name")
      }
    }
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
}
