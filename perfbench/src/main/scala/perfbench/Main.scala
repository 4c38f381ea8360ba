package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, shiftright, sum, xxhash64}

/** Benchmark JVM. Modes:
  *
  *  - `run --workload W --seed N --seconds S --trace 0|1 --data DIR
  *     --expected FILE --work DIR [--passes P]`: one closed-loop run of a
  *     workload, printing its result as the last stdout line (bare JSON);
  *     `--passes` fixes the number of measured passes (self-test);
  *  - `record --data DIR --out FILE`: writes the digest of every
  *     registered query;
  *  - `confirm --verify-out DIR --expected FILE`: recomputes the digests
  *     of the result parquet that `graft.Verify` wrote (and that
  *     `tools/local_verify.py` checked against the DuckDB oracle) and
  *     compares them with the expected file.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    // exit explicitly, also on failure: Spark's non-daemon threads would
    // otherwise keep the JVM alive
    val code = try args.headOption match {
      case Some("run") => new Runner(opts).run()
      case Some("record") => record(opts("data"), opts("out"))
      case Some("confirm") => confirm(opts("verify-out"), opts("expected"))
      case other =>
        System.err.println(s"[perfbench] unknown mode $other"); 2
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def session(): SparkSession = {
    val s = graft.jobs.Jobs.buildSession("perfbench")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def record(data: String, out: String): Int = {
    val spark = session()
    val digests = Workloads.registry.toSeq.sortBy(_._1).map { case (name, (_, fn)) =>
      val d = Digest.of(fn(spark, data))
      println(s"[perfbench] $name\t$d")
      name -> d
    }
    Digest.write(out, s"name rows hi lo; ${digests.size} queries over ${new java.io.File(data).getName}", digests)
    0
  }

  private def confirm(verifyOut: String, expectedFile: String): Int = {
    val spark = session()
    val expected = Digest.read(expectedFile)
    val bad = expected.toSeq.sortBy(_._1).flatMap { case (name, want) =>
      val got = Digest.of(spark.read.parquet(s"$verifyOut/$name"))
      if (got == want) None else Some(s"$name: expected $want, verify output has $got")
    }
    bad.foreach(b => println(s"[perfbench] MISMATCH $b"))
    println(s"[perfbench] confirm: ${expected.size - bad.size} of ${expected.size} digests match the oracle-checked output")
    if (bad.isEmpty) 0 else 1
  }
}

/** `hostNs` is the part of a timed interval that the virtual machine's
  * host took: see [[Runner.hostNs]]. */
final case class QueryRun(pass: Int, name: String, module: String, start: Long, buildEnd: Long,
                          end: Long, buildNs: Long, actionNs: Long, hostNs: Long, ok: Boolean) {
  def wallNs: Long = buildNs + actionNs
  def netNs: Long = wallNs - hostNs
}
final case class PassRun(index: Int, traced: Boolean, start: Long, end: Long, wallNs: Long, hostNs: Long) {
  def netNs: Long = wallNs - hostNs
}
final case class Span(id: Int, parent: Int, layer: String, name: String, start: Long, end: Long)

object Runner {
  /** The JIT is still compiling through the first two or three passes
    * after the set-up pass, which run 10-30 % slower than later ones; the
    * median of five passes leaves the first out. */
  val MinPasses = 5
  val MinSamples = 21

  /** Process CPU time and the host's steal time (Linux `/proc/stat`, all
    * CPUs, in ns) at one instant. */
  final case class Usage(cpuNs: Long, stealNs: Long)

  def usage(): Usage = Usage(processCpuNs, stealNs)

  private def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** CPU time the hypervisor withheld from this machine's CPUs while they
    * had work to run; 0 where `/proc/stat` has no steal column. */
  private def stealNs: Long = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    // the column counts USER_HZ ticks, 100 a second on Linux
    try f.getLines().next().trim.split("\\s+").lift(8).map(_.toLong * 10000000L).getOrElse(0L) finally f.close()
  } catch { case _: Exception => 0L }

  /** The part of an interval of `wallNs` that waited for the host. On a
    * shared virtual machine the host withholds CPU time from the guest
    * when its other guests are busy (steal time), and every timing slows
    * with it: by up to 80 % for whole runs of this benchmark on a shared
    * 4-vCPU virtual machine. Over the interval the process ran at an
    * average demand of (cpu + steal) / wall CPUs and got cpu of it; given
    * the withheld time as well, it would have done the same work in
    * wall * cpu / (cpu + steal). The rest is what this returns. Steal is
    * counted for the whole machine, so time withheld from other processes
    * counts too; the benchmark is the only busy one. */
  def hostNs(wallNs: Long, from: Usage, to: Usage): Long = {
    val cpu = math.max(0L, to.cpuNs - from.cpuNs).toDouble
    val steal = math.max(0L, to.stealNs - from.stealNs).toDouble
    if (cpu + steal <= 0) 0L else (wallNs * steal / (cpu + steal)).toLong
  }
}

/** One run of one workload. */
final class Runner(opts: Map[String, String]) {
  private val workload = opts("workload")
  private val seed = opts("seed").toLong
  private val seconds = opts("seconds").toDouble
  private val traced = opts("trace") == "1"
  private val data = opts("data")
  private val work = opts("work")
  private val names = Workloads.all.getOrElse(workload,
    throw new IllegalArgumentException(s"unknown workload $workload; known: ${Workloads.all.keys.toSeq.sorted.mkString(", ")}"))
  private val expected = Digest.read(opts("expected"))

  private def nowMs = System.currentTimeMillis()
  private def secs(ns: Long) = ns / 1e9

  private val queryRuns = mutable.ArrayBuffer[QueryRun]()
  private val passRuns = mutable.ArrayBuffer[PassRun]()
  private var attempted = 0
  private var failed = 0

  private def runQuery(spark: SparkSession, pass: Int, name: String): Unit = {
    val (module, fn) = Workloads.registry(name)
    attempted += 1
    val start = nowMs
    val u0 = Runner.usage()
    val t0 = System.nanoTime()
    var t1 = t0
    var buildEnd = start
    val ok = try {
      val df = fn(spark, data)
      t1 = System.nanoTime(); buildEnd = nowMs
      val got = Digest.of(df)
      val want = expected.get(name)
      if (!want.contains(got))
        println(s"[perfbench] MISMATCH $name: expected ${want.getOrElse("(no digest)")}, got $got")
      want.contains(got)
    } catch {
      case e: Exception =>
        println(s"[perfbench] FAILED $name: ${e.getClass.getName}: ${e.getMessage}")
        false
    }
    val t2 = System.nanoTime()
    val u1 = Runner.usage()
    if (t1 == t0) { t1 = t2; buildEnd = nowMs } // failed while building: all of it is build
    if (!ok) failed += 1
    val q = QueryRun(pass, name, module, start, buildEnd, nowMs, t1 - t0, t2 - t1, Runner.hostNs(t2 - t0, u0, u1), ok)
    queryRuns += q
    System.err.println(f"[perfbench] pass$pass $name build_s=${secs(q.buildNs)}%.3f action_s=${secs(q.actionNs)}%.3f " +
      f"host_s=${secs(q.hostNs)}%.3f ok=$ok")
  }

  /** A pass runs every query of the workload once. Measured passes run
    * in an order shuffled by the seed, each pass its own; the set-up pass
    * runs in the listed order, so the JIT warms up on the same profile in
    * every run. */
  private def runPass(spark: SparkSession, index: Int, tracedPass: Boolean): PassRun = {
    Trace.on = tracedPass
    val order = if (index == 0) names else new scala.util.Random(seed * 7919 + index).shuffle(names)
    val start = nowMs
    val u0 = Runner.usage()
    val t0 = System.nanoTime()
    order.foreach(runQuery(spark, index, _))
    val wall = System.nanoTime() - t0
    val u1 = Runner.usage()
    val p = PassRun(index, tracedPass, start, nowMs, wall, Runner.hostNs(wall, u0, u1))
    System.err.println(f"[perfbench] pass$index wall_s=${secs(p.wallNs)}%.3f cpu_s=${secs(u1.cpuNs - u0.cpuNs)}%.3f " +
      f"steal_s=${secs(u1.stealNs - u0.stealNs)}%.2f net_s=${secs(p.netNs)}%.3f")
    if (tracedPass) Trace.drain() // the bus delivers late; keep the pass's tail
    Trace.on = false
    passRuns += p
    p
  }

  /** `graft.Bench`'s fixed calibration probe: a 200M-row `xxhash64` sum
    * with no I/O. Recorded as run metadata only. */
  private def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 200000000L, 1, spark.sparkContext.defaultParallelism)
      .select(sum(shiftright(xxhash64(col("id")), 32))).write.format("noop").mode("overwrite").save()
    secs(System.nanoTime() - t0)
  }

  private def mb(bytes: Double) = bytes / (1024.0 * 1024.0)

  /** Storage memory the block manager holds, and the RDDs pinned in it,
    * after a full GC has let the ContextCleaner drop unreferenced ones. */
  private def settle(spark: SparkSession): (Double, Int, Double) = {
    System.gc(); Thread.sleep(400); System.gc(); Thread.sleep(400)
    val sc = spark.sparkContext
    val storage = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    val pinned = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    (mb(storage.toDouble), sc.getPersistentRDDs.size, mb(pinned.toDouble))
  }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def run(): Int = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    // CPU time counts from the process's start; steal from here, which is
    // a fraction of a second after it
    val atStart = Runner.usage().copy(cpuNs = 0L)
    if (traced) System.setProperty("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
    val spark = graft.jobs.Jobs.buildSession(s"perfbench-$workload")
    spark.sparkContext.setLogLevel("WARN")
    if (traced) spark.sparkContext.addSparkListener(new Trace.BusListener)

    // set-up: the session and one discarded pass (JIT warm-up, memo fills)
    val setupPass = runPass(spark, 0, tracedPass = false)
    val setupWallNs = (nowMs - jvmStart) * 1000000L
    val setupS = secs(setupWallNs - Runner.hostNs(setupWallNs, atStart, Runner.usage()))
    val calStart = calibrate(spark)

    // measurement: whole passes until the time is up, at least MinPasses
    // have run and the pooled latencies hold MinSamples, so that the tail
    // percentile (ten samples beyond it) is at or above the median. A
    // traced run traces passes in the order traced, untraced, untraced,
    // traced (repeated), so the medians of both kinds see the same
    // warm-up, and it prices its own tracing as their difference.
    val gc0 = gcMs
    val t0 = System.nanoTime()
    var pinnedFirst = 0.0
    var n = 0
    def more = opts.get("passes") match {
      case Some(p) => n < (if (traced) math.max(p.toInt, 4) else p.toInt)
      case None => secs(System.nanoTime() - t0) < seconds ||
        n < Runner.MinPasses || (!traced && n * names.size < Runner.MinSamples)
    }
    while (more) {
      runPass(spark, n + 1, tracedPass = traced && (n % 4 == 0 || n % 4 == 3))
      if (traced && n == 0) pinnedFirst = settle(spark)._3
      n += 1
    }
    val measured = passRuns.filter(_.index > 0).toSeq
    val gcS = (gcMs - gc0) / 1000.0
    val calEnd = calibrate(spark)
    val (storageMb, pinnedRdds, pinnedMb) = settle(spark)
    val heapMb = mb(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble)

    // every timing is net of the host's steal (Runner.hostNs); the
    // raw wall times go to the run log
    val untracedPasses = measured.filterNot(_.traced)
    val untracedRuns = queryRuns.filter(q => q.ok && untracedPasses.exists(_.index == q.pass)).toSeq
    // one pass of the workload at each query's median latency: a slow
    // moment of the host delays some queries of a pass, rarely the same
    // query in most passes, so this is steadier than the median pass
    val passS = untracedRuns.groupBy(_.name).values.map(rs => median(rs.map(q => secs(q.netNs)))).sum
    val passNetS = median(untracedPasses.map(p => secs(p.netNs)))
    val lat = untracedRuns.map(q => secs(q.netNs)).sorted
    val wallLat = untracedRuns.map(q => secs(q.wallNs)).sorted
    // the highest percentile with at least ten samples beyond it
    val tailIdx = math.max(0, lat.size - 11)
    val tailPct = if (lat.isEmpty) 0.0 else 100.0 * (tailIdx + 1) / lat.size

    val meta = Seq(
      "workload" -> s""""$workload"""", "seed" -> seed.toString, "measured_passes" -> measured.size.toString,
      "latency_samples" -> lat.size.toString, "query_tail_percentile" -> f"$tailPct%.1f",
      "calibration_start_s" -> calStart.toString, "calibration_end_s" -> calEnd.toString,
      "setup_wall_s" -> secs(setupWallNs).toString, "setup_pass_wall_s" -> secs(setupPass.wallNs).toString,
      "pass_wall_s_each" -> measured.map(p => secs(p.wallNs)).mkString("[", ",", "]"),
      "pass_host_s_each" -> measured.map(p => secs(p.hostNs)).mkString("[", ",", "]"),
      "pass_wall_median_s" -> median(untracedPasses.map(p => secs(p.wallNs))).toString,
      "query_p50_wall_s" -> median(wallLat).toString,
      "query_tail_wall_s" -> (if (wallLat.isEmpty) 0.0 else wallLat(tailIdx)).toString,
      "pinned_rdds" -> pinnedRdds.toString, "pinned_mb" -> pinnedMb.toString, "heap_used_mb" -> heapMb.toString)

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", passS, "s"),
        ("query_p50_s", median(lat), "s"),
        ("query_tail_s", if (lat.isEmpty) 0.0 else lat(tailIdx), "s"),
        ("retained_storage_mb", storageMb, "MB"))
      else {
        val layers = new Layers(queryRuns.toSeq, measured, spark.sparkContext.defaultParallelism)
        layers.writeSpans(s"$work/trace-$workload-seed$seed.jsonl")
        layers.printSelfTime()
        val firstPassS = secs(setupPass.netNs)
        layers.metrics ++ Seq(
          ("StoredMemo.build_s", firstPassS - median(measured.map(p => secs(p.netNs))), "s"),
          ("StoredMemo.pinned_rdds", pinnedRdds.toDouble, "count"),
          ("StoredMemo.pinned_mb", pinnedMb, "MB"),
          ("StoredMemo.pin_growth_mb", pinnedMb - pinnedFirst, "MB"),
          ("jvm.heap_used_mb", heapMb, "MB"),
          ("jvm.gc_s", gcS / measured.size, "s"),
          ("trace.overhead_s", median(measured.filter(_.traced).map(p => secs(p.netNs))) - passNetS, "s"))
      }
    spark.stop()

    val metricsJson = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }.mkString("{", ", ", "}")
    System.err.println("[perfbench] meta " + meta.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}"))
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $metricsJson}""")
    0
  }

  /** Per-layer numbers and spans of the traced passes, from the
    * benchmark's own call timings and the events in [[Trace]]. */
  final class Layers(queries: Seq[QueryRun], passes: Seq[PassRun], cores: Int) {
    private val tp = passes.filter(_.traced)
    private val n = tp.size.toDouble
    private def inPass(t: Long) = tp.exists(p => t >= p.start && t <= p.end)
    private val tq = queries.filter(q => tp.exists(_.index == q.pass))

    private val jobs = Trace.jobs.asScala.toSeq.filter(j => inPass(j.start))
    private val jobEnd = Trace.jobEnds.asScala
    private val stages = Trace.stages.asScala.toSeq.filter(s => inPass(s.start))
    private val tasks = Trace.tasks.asScala.toSeq.filter(t => inPass(t.end))
    private val phases = Trace.phases.asScala.toSeq.filter(p => inPass(p.start))
    private val batches = Trace.batches.asScala.toSeq.filter(b => inPass(b.start))
    private val sqls = Trace.sqlStarts.asScala.toSeq.filter(e => inPass(e._2._1)).sortBy(_._1)

    /** Total length of the union of intervals, clipped to [lo, hi]. */
    private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
      var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1).sortBy(_._1).foreach {
        case (s, e) =>
          if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
          else curE = math.max(curE, e)
      }
      if (curE > curS) total += curE - curS
      total
    }

    private def jobInterval(j: Trace.Job) = (j.start, jobEnd.getOrElse(j.id, j.start))
    private val busyMs = tp.map(p => covered(jobs.map(jobInterval), p.start, p.end)).sum
    private val passMs = tp.map(p => secs(p.wallNs) * 1000).sum
    private def per(x: Double) = if (n == 0) 0.0 else x / n

    def metrics: Seq[(String, Double, String)] = {
      val mods = Workloads.modules.map(_._1).flatMap { m =>
        val qs = tq.filter(_.module == m)
        Seq((s"$m.s", per(qs.map(q => secs(q.buildNs + q.actionNs)).sum), "s"),
          (s"$m.build_s", per(qs.map(q => secs(q.buildNs)).sum), "s"),
          (s"$m.action_s", per(qs.map(q => secs(q.actionNs)).sum), "s"))
      }
      val ms = 1000.0
      def d(k: String) = batches.map(_.durations.getOrElse(k, 0L)).sum / ms
      val lastOfRun = batches.groupBy(_.run).values.map(_.maxBy(_.start)).toSeq
      val runS = tasks.map(_.runMs).sum / ms
      mods ++ Seq(
        ("catalyst.analysis_s", per(phases.map(_.analysisMs).sum / ms), "s"),
        ("catalyst.optimization_s", per(phases.map(_.optimizationMs).sum / ms), "s"),
        ("catalyst.planning_s", per(phases.map(_.planningMs).sum / ms), "s"),
        ("catalyst.executions", per(sqls.size.toDouble), "count"),
        ("scheduler.jobs", per(jobs.size.toDouble), "count"),
        ("scheduler.stages", per(stages.size.toDouble), "count"),
        ("scheduler.tasks", per(tasks.size.toDouble), "count"),
        ("scheduler.tasks_per_stage", if (stages.isEmpty) 0.0 else tasks.size.toDouble / stages.size, "count"),
        ("scheduler.job_busy_s", per(busyMs / ms), "s"),
        ("scheduler.driver_gap_s", per((passMs - busyMs) / ms), "s"),
        ("scheduler.failed_tasks", per(tasks.count(_.failed).toDouble), "count"),
        ("scheduler.resubmitted_stages", per(stages.count(_.attempt > 0).toDouble), "count"),
        ("executor.run_s", per(runS), "s"),
        ("executor.cpu_s", per(tasks.map(_.cpuNs).sum / 1e9), "s"),
        ("executor.gc_s", per(tasks.map(_.gcMs).sum / ms), "s"),
        ("executor.deserialize_s", per(tasks.map(_.deserMs).sum / ms), "s"),
        ("executor.core_util", if (busyMs == 0) 0.0 else runS / (busyMs / ms * cores), "ratio"),
        ("shuffle.write_mb", per(mb(tasks.map(_.shuffleWrite).sum.toDouble)), "MB"),
        ("shuffle.read_mb", per(mb(tasks.map(_.shuffleRead).sum.toDouble)), "MB"),
        ("shuffle.fetch_wait_s", per(tasks.map(_.fetchWaitMs).sum / ms), "s"),
        ("shuffle.spill_mb", per(mb(tasks.map(_.spill).sum.toDouble)), "MB"),
        ("Tables.input_mb", per(mb(tasks.map(_.inBytes).sum.toDouble)), "MB"),
        ("Tables.input_records", per(tasks.map(_.inRecords).sum.toDouble), "count"),
        ("Streams.queries", per(Trace.streamStarts.asScala.count(inPass).toDouble), "count"),
        ("Streams.batches", per(batches.size.toDouble), "count"),
        ("Streams.trigger_s", per(d("triggerExecution")), "s"),
        ("Streams.add_batch_s", per(d("addBatch")), "s"),
        ("Streams.overhead_s", per(d("triggerExecution") - d("addBatch")), "s"),
        ("Streams.query_planning_s", per(d("queryPlanning")), "s"),
        ("Streams.latest_offset_s", per(d("latestOffset")), "s"),
        ("Streams.wal_commit_s", per(d("walCommit")), "s"),
        ("Streams.commit_offsets_s", per(d("commitOffsets")), "s"),
        ("Streams.state_rows", per(lastOfRun.map(_.stateRows).sum.toDouble), "count"),
        ("Streams.state_mb", per(mb(lastOfRun.map(_.stateBytes).sum.toDouble)), "MB"),
        ("Streams.state_commit_s", per(batches.map(_.stateCommitMs).sum / ms), "s"),
        ("IncrementalIndex.written_mb", per(mb(tasks.map(_.outBytes).sum.toDouble)), "MB"),
        ("IncrementalIndex.written_records", per(tasks.map(_.outRecords).sum.toDouble), "count"))
    }

    /** pass → query → build/action → sql_execution → job → stage, with
      * stream_batch under the build or action it ran in; parents by time
      * containment (one query at a time) or, for jobs and stages, by id. */
    lazy val spans: Seq[Span] = {
      val out = mutable.ArrayBuffer[Span]()
      def add(parent: Int, layer: String, name: String, s: Long, e: Long): Int = {
        out += Span(out.size + 1, parent, layer, name, s, math.max(s, e)); out.size
      }
      val containers = mutable.ArrayBuffer[Span]() // build, action, stream_batch
      val querySpans = mutable.ArrayBuffer[Span]()
      tp.foreach { p =>
        val pid = add(0, "pass", s"pass${p.index}", p.start, p.end)
        tq.filter(_.pass == p.index).foreach { q =>
          val qid = add(pid, "query", s"${q.module}.${q.name}", q.start, q.end)
          querySpans += out.last
          add(qid, "build", q.name, q.start, q.buildEnd); containers += out.last
          add(qid, "action", q.name, q.buildEnd, q.end); containers += out.last
        }
      }
      def innermost(cands: Seq[Span], t: Long): Option[Span] =
        cands.filter(c => t >= c.start && t <= c.end).sortBy(c => (-c.start, c.end)).headOption
      batches.foreach { b =>
        innermost(containers.toSeq, b.start).orElse(innermost(querySpans.toSeq, b.start)).foreach { c =>
          add(c.id, "stream_batch", b.run.take(8), b.start, b.start + b.durations.getOrElse("triggerExecution", 0L))
          containers += out.last
        }
      }
      // a nested execution sits under its root execution
      val sqlIds = mutable.Map[Long, Int]()
      sqls.foreach { case (id, (s, root)) =>
        val e = Option(Trace.sqlEnds.get(id)).map(_.longValue).getOrElse(s)
        sqlIds.get(root).filter(_ => root != id).orElse(innermost(containers.toSeq, s).map(_.id))
          .foreach(pid => sqlIds(id) = add(pid, "sql_execution", s"sql$id", s, e))
      }
      val stageJob = mutable.Map[Int, Int]()
      jobs.foreach { j =>
        val (s, e) = jobInterval(j)
        val parent = j.execId.flatMap(sqlIds.get).orElse(innermost(containers.toSeq, s).map(_.id))
        parent.foreach { pid =>
          val jid = add(pid, "job", s"job${j.id}", s, e)
          j.stages.foreach(st => stageJob.getOrElseUpdate(st, jid))
        }
      }
      stages.foreach(s => stageJob.get(s.id).foreach(pid => add(pid, "stage", s"stage${s.id}.${s.attempt}", s.start, s.end)))
      out.toSeq
    }

    def writeSpans(path: String): Unit = {
      val lines = spans.map(s =>
        s"""{"id": ${s.id}, "parent": ${s.parent}, "layer": "${s.layer}", "name": "${s.name}", "start_ms": ${s.start}, "end_ms": ${s.end}}""")
      java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
    }

    /** Self time of a span: its duration minus the part of it that its
      * children cover. Printed per layer, per traced pass. */
    def printSelfTime(): Unit = {
      val kids = spans.groupBy(_.parent)
      val rows = spans.groupBy(_.layer).map { case (layer, ss) =>
        val total = ss.map(s => s.end - s.start).sum
        val self = ss.map(s => (s.end - s.start) - covered(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)), s.start, s.end)).sum
        (layer, ss.size, total, self)
      }
      val order = Seq("pass", "query", "build", "action", "stream_batch", "sql_execution", "job", "stage")
      println(f"[perfbench] self time per traced pass ($workload, ${tp.size} traced passes)")
      println(f"[perfbench] ${"layer"}%-14s ${"spans"}%8s ${"total_s"}%9s ${"self_s"}%9s")
      rows.toSeq.sortBy(r => order.indexOf(r._1)).foreach { case (l, c, t, s) =>
        println(f"[perfbench] $l%-14s ${per(c.toDouble)}%8.1f ${per(t / 1000.0)}%9.3f ${per(s / 1000.0)}%9.3f")
      }
    }
  }
}
