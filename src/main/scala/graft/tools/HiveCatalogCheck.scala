package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Hive-metastore-backed catalog check (S9/M-catalog through
  * `enableHiveSupport`, the reference's session shape —
  * sessionStat/src/main/scala/SessionStat.scala:35-38): the repo's S9
  * and m08 run against Spark's in-memory catalog, whose entries die
  * with the JVM; the reference persists its tables in an embedded
  * Derby metastore. This main proves the SAME [[graft.etl.Sinks
  * .saveTable]] / catalog-scan code path works against the hive
  * catalog AND that the metastore actually persists: it saves a
  * managed table, stops the whole SparkContext, builds a second
  * context over the same metastore, and reads the table back.
  *
  * A separate JVM (forked by SinksSpec, invoked like SmokeCheck)
  * because `spark.sql.catalogImplementation` is a static conf baked
  * into the first SharedState of a context — the shared test session
  * already owns the JVM's in-memory catalog.
  */
object HiveCatalogCheck {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val wh = java.nio.file.Files.createTempDirectory("graft-hive-wh-").toString
    val ms = java.nio.file.Files.createTempDirectory("graft-hive-ms-").toString
    try run(sf, wh, ms)
    finally Seq(wh, ms).foreach { d =>
      val root = java.nio.file.Paths.get(d)
      if (java.nio.file.Files.exists(root)) {
        val it = java.nio.file.Files.walk(root)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        try it.forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        finally it.close()
      }
    }
  }

  private def run(sf: String, wh: String, ms: String): Unit = {

    // catalogImplementation=hive is exactly what enableHiveSupport() sets
    def session(): SparkSession = graft.jobs.Jobs.buildSession("graft-hive-check", Map(
      "spark.sql.catalogImplementation" -> "hive",
      "spark.sql.warehouse.dir" -> wh,
      "javax.jdo.option.ConnectionURL" ->
        s"jdbc:derby:;databaseName=$ms/metastore_db;create=true"))

    val s1 = session()
    require(s1.conf.get("spark.sql.catalogImplementation") == "hive",
      "session did not come up with the hive catalog")
    val src = graft.Tables.nation(s1, sf).select(col("n_nationkey"), col("n_name"))
    graft.etl.Sinks.saveTable(src, "graft_hive_nations")
    graft.etl.Sinks.saveTable(src, "graft_hive_nations") // overwrite idempotent
    val n1 = s1.table("graft_hive_nations").count()
    require(n1 == 25, s"hive-catalog save round-trip: expected 25 rows, got $n1")
    s1.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()

    // metastore persistence: a FRESH SparkContext over the same Derby
    // metastore must still see the managed table (the in-memory
    // catalog, by contrast, starts empty here)
    val s2 = session()
    val n2 = s2.table("graft_hive_nations").count()
    require(n2 == 25, s"metastore persistence: expected 25 rows, got $n2")
    val names = s2.table("graft_hive_nations")
      .orderBy(col("n_nationkey")).limit(1)
      .collect().map(_.getString(1)).toSeq
    require(names == Seq("NATION_0"), s"unexpected first nation: $names")
    s2.stop()
    println(s"hive-catalog OK rows=$n2")
  }
}
