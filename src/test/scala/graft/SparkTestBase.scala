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

  /** The number of classes codegen compiles while `body` runs; a class
    * served from the codegen cache is not counted. */
  def compilesBy(body: => Any): Long = {
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    body
    compiles.getCount - before
  }

  /** The number of Spark jobs `body` starts. */
  def jobsStartedBy(body: => Any): Int = scheduledBy(body)._1

  /** The number of Spark jobs `body` starts, and the task count of each
    * stage it runs, in submission order. Listener events arrive in
    * order, so once a marker job run after `body` has been seen, every
    * job and stage `body` started has been counted. Suites run one at a
    * time, so no other test's jobs are counted. */
  def scheduledBy(body: => Any): (Int, Seq[Int]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
    val sc = spark.sparkContext
    val marker = s"graft-job-count-${System.nanoTime()}"
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    // written on the listener thread only; read after the latch opens
    var jobs = 0
    val stages = Seq.newBuilder[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markerSeen.countDown()
        else if (markerSeen.getCount > 0) jobs += 1
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (markerSeen.getCount > 0) stages += e.stageInfo.numTasks
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job not seen")
      (jobs, stages.result())
    } finally sc.removeSparkListener(listener)
  }
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  def sf: String = SparkTestBase.sf
}
