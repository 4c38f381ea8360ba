package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name/prefix filter (builder-side
    // fast iteration on a few queries; the driver always passes 2 args)
    val only: String => Boolean = args.lift(2) match {
      case Some(f) => val ps = f.split(",").toSeq; n => ps.exists(n.startsWith)
      case None => _ => true
    }
    // one shuffle partition per core; SPARK_GRAFT_CONF ([[ExtraConf]])
    // can still run the whole gate under another configuration (e.g.
    // spark.graft.selfJoin.strategy=shuffle, the 100 TB plan shapes)
    val cores = jobs.Jobs.cpus().getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = jobs.Jobs.buildSession("graft-verify",
      Map("spark.sql.shuffle.partitions" -> cores.toString))
    new java.io.File(outDir).mkdirs()
    val errored = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      // No coalesce(1): it would plan the whole query into one output task.
      // The oracle reads a glob, so multi-file output is fine.
      try fn(spark, sfDir).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errored += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // LOUD terminal summary (round-8 verdict: 28 queries died silently as
    // per-line stderr noise) — a dark third of the registry must be
    // unmissable in any log tail.
    if (errored.nonEmpty)
      System.err.println(
        s"[verify] ERRORED: ${errored.size} of ${SparkEntry.queries.size} queries threw: ${errored.sorted.mkString(", ")}")
    else
      System.err.println(s"[verify] all ${SparkEntry.queries.count(kv => only(kv._1))} queries wrote OK")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // __SF_DIR__ lets a static oracle string reference the data dir the
    // queries actually ran on (mm05's read_blob glob) — templated here,
    // at dump time, from the same argument the queries received.
    val json = SparkEntry.oracleSql.filter(kv => only(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__SF_DIR__", sfDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
