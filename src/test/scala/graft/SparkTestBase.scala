package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (object-held so sbt's
  * single test JVM creates it once), built by the mains' own factory.
  */
object SparkTestBase {
  lazy val spark: SparkSession = jobs.Jobs.buildSession("graft-test", Map(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse-").toString))
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `mainClass` in a fresh JVM on the test classpath and returns
    * (exit code, merged stdout+stderr). The `--add-opens` flags are the
    * running JVM's own (build.sbt's list), so there is one copy of them. */
  def forkMain(mainClass: String, args: String*): (Int, String) = {
    import scala.jdk.CollectionConverters._
    val addOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ addOpens ++
      Seq("-Xmx2g", "-cp", sys.props("java.class.path"), mainClass) ++ args
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes())
    (proc.waitFor(), out)
  }
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  def sf: String = SparkTestBase.sf
}
