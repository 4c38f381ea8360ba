package graft

import graft.jobs.Jobs

/** The one session factory ([[Jobs.buildSession]]) and the fresh-JVM
  * mains: the conf every graft session (and so the benchmark's) starts
  * from, the master rule, and SmokeCheck/InitOrderCheck run forked —
  * each needs a JVM the shared test session has not touched.
  */
class SessionSpec extends GraftSuite {

  test("buildSession applies the pinned session and runtime conf") {
    assert(Jobs.SessionConf === Map(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false",
      "spark.sql.artifact.isolation.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.sql.codegen.useIdInClassName" -> "false",
      "spark.hadoop.fs.file.impl" -> "graft.etl.GraftLocalFileSystem",
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.etl.GraftLocalFs"))
    assert(Jobs.RuntimeConf === Map(
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC"))
    // the shared test session comes from the same factory: every pinned
    // entry is live on it, except the partition count (the base asks
    // for 4; JobsSpec's job mains reapply the factory's 32)
    val live = (Jobs.SessionConf ++ Jobs.RuntimeConf) - "spark.sql.shuffle.partitions"
    live.foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }
  }

  test("a newSession() child runs its tasks under its parent's context class loader") {
    // the codegen cache is keyed on this loader: one loader for every
    // session means a class compiled for the parent serves the child
    def taskLoader(s: org.apache.spark.sql.SparkSession): String = {
      import s.implicits._
      s.range(0, 1, 1, 1).map(_ => Thread.currentThread.getContextClassLoader.toString).head()
    }
    val child = spark.newSession()
    assert(child.conf.get("spark.sql.artifact.isolation.enabled") === "false")
    assert(child.conf.get("spark.sql.codegen.cache.maxEntries") === "4096")
    assert(child.conf.get("spark.sql.codegen.useIdInClassName") === "false")
    assert(taskLoader(child) === taskLoader(spark))
  }

  test("master rule: SPARK_GRAFT_MASTER, else local[SPARK_GRAFT_CPUS], else local[*]") {
    assert(Jobs.master(Map.empty) === "local[*]")
    assert(Jobs.master(Map(Jobs.CpusEnv -> " 6 ")) === "local[6]")
    assert(Jobs.master(Map(Jobs.CpusEnv -> "6", Jobs.MasterEnv -> "local[2]")) === "local[2]")
    assert(Jobs.cpus(Map.empty) === None)
  }

  test("a bad SPARK_GRAFT_CPUS fails with an error naming the variable") {
    for (bad <- Seq("abc", "0", "-2", "", "4.5")) {
      val e = intercept[IllegalArgumentException](Jobs.master(Map(Jobs.CpusEnv -> bad)))
      assert(e.getMessage.contains(s"SPARK_GRAFT_CPUS must be a positive integer, got '$bad'"))
    }
    // validated even when SPARK_GRAFT_MASTER picks the master
    intercept[IllegalArgumentException](
      Jobs.master(Map(Jobs.CpusEnv -> "abc", Jobs.MasterEnv -> "local[2]")))
  }

  test("a bad integer lever fails with an error naming the key and the value") {
    import graft.operators.{Embeddings, LlmText}
    import graft.streaming.AdAnalytics
    // each row: a lever, a value it must refuse, and a query that reads it;
    // an out-of-range value must not silently empty the result
    val rows: Seq[(String, String, () => org.apache.spark.sql.DataFrame)] = Seq(
      (Embeddings.NprobeConf, "0", () => Embeddings.e05IvfAnn(spark, sf)),
      (Embeddings.NprobeConf, "abc", () => Embeddings.e05IvfAnn(spark, sf)),
      (Embeddings.RerankCConf, "0", () => Embeddings.e08SketchRerank(spark, sf)),
      (Embeddings.MultiProbeConf, "-1", () => Embeddings.e02AnnBucketed(spark, sf)),
      (Embeddings.NndRoundsConf, "two", () => Embeddings.e22NnDescent(spark, sf)),
      (LlmText.BandRowsConf, "2.5", () => LlmText.d03LshNeardup(spark, sf)),
      (LlmText.MaxBucketConf, "-1", () => LlmText.d03LshNeardup(spark, sf)),
      (LlmText.AuditSampleConf, "0", () => LlmText.d22LshRecallAudit(spark, sf)),
      (LlmText.PackShardsConf, "x", () => LlmText.d23SequencePack(spark, sf)),
      (LlmText.SparseMaxDfConf, "-5", () => LlmText.d33SparseCosine(spark, sf)),
      ("spark.graft.streaming.statePartitions", "abc",
        () => AdAnalytics.st01ParseCount(spark, sf)))
    for ((key, bad, query) <- rows) {
      spark.conf.set(key, bad)
      val e = try intercept[IllegalArgumentException](query().collect())
        finally spark.conf.unset(key)
      assert(e.getMessage.contains(s"$key must be an integer >= ") &&
        e.getMessage.contains(s"got '$bad'"), s"$key=$bad: ${e.getMessage}")
    }
  }

  test("SmokeCheck: entry on a bare session returns rows (forked JVM)") {
    val (code, out) = SparkTestBase.forkMain("graft.tools.SmokeCheck")
    assert(code === 0, s"SmokeCheck exited $code:\n${out.takeRight(4000)}")
    val rows = """\[smoke] entry rows = (\d+)""".r.findFirstMatchIn(out).map(_.group(1).toLong)
    assert(rows.exists(_ > 0), out.takeRight(2000))
  }

  test("InitOrderCheck: Embeddings-first init leaves every oracle clean (forked JVM)") {
    val (code, out) = SparkTestBase.forkMain("graft.tools.InitOrderCheck")
    assert(code === 0, s"InitOrderCheck exited $code:\n${out.takeRight(4000)}")
    assert("""\[init-order] \d+ oracles clean""".r.findFirstIn(out).isDefined, out.takeRight(2000))
  }
}
