package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, shiftright, sum, xxhash64}

/** Benchmark main. Prints one JSON line the driver records as BENCH_r{N},
  * and writes the same (full-precision, per-sweep) record to
  * `BENCH_SELF.json` so a truncated stdout capture loses nothing.
  *
  * Measurement rules (round-1 + round-3 verdicts):
  *  - Full evaluation is forced with a `noop`-format write, so every
  *    projection/window actually executes — a bare `count()` would let
  *    Catalyst prune all unused columns and benchmark a parquet row count.
  *  - One whole warm-up sweep (discarded) absorbs JVM/codegen/broadcast
  *    warm-up, then N measured sweeps (default 3, `SPARK_GRAFT_BENCH_SWEEPS`)
  *    run and each query reports its MIN across sweeps. Sweeps are
  *    interleaved whole-sweep — a transient external load spike lands on
  *    one sweep and is discarded by the min, instead of poisoning every
  *    run of whichever query was executing.
  *
  * Calibration (round-2 verdict): the machine the driver benches on is
  * shared, and a concurrent compile has inflated whole runs 2-8× before.
  * The probe times the SAME fixed, data-independent in-memory aggregate
  * (200M-row xxhash64 sum, zero I/O) before the first measured sweep,
  * after each sweep, and at the end. Any consumer can normalize against a
  * known-idle calibration value (0.08-0.25 s anchor, BASELINE.md) or
  * reject a sweep whose surrounding probes disagree — query numbers from
  * a loaded run are machine artifacts, not code regressions.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sweeps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_SWEEPS", "3").toInt)
    // COLD mode (SPARK_GRAFT_BENCH_COLD=1): disable every stored-index
    // memo so each query pays its index BUILD + serve — the measured
    // counterpart of the warm serve-only record, so the stored-index
    // discipline's build price is re-measured each round instead of
    // inferred from superseded records (round-10 verdict item 1).
    // Writes its own BENCH_SELF_COLD.json; never clobbers the canonical.
    val cold = sys.env.get("SPARK_GRAFT_BENCH_COLD").exists(v => v == "1" || v == "true")
    // a non-default SPARK_GRAFT_CONF ([[ExtraConf]], e.g. bench the
    // at-scale selfJoin.strategy=shuffle configuration) is a forensics
    // run — recorded to the filtered sibling file, never the canonical
    val spark = jobs.Jobs.buildSession("graft-bench",
      if (cold) Map(StoredMemo.DisableConf -> "true") else Map.empty)

    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // Fixed-cost probe: 200M synthetic rows, hash + sum, no I/O, no shuffle
    // beyond the final 1-row reduce. Constant work regardless of sfDir.
    def calibrate(): Double = {
      def one() = once("calibration", (s, _) =>
        // shift keeps per-row magnitude < 2^31 so the 200M-row ANSI sum
        // cannot overflow long
        s.range(0, 200000000L, 1, s.sparkContext.defaultParallelism)
          .select(sum(shiftright(xxhash64(col("id")), 32)).as("h")))
      // min-of-3 strips scheduler jitter; an idle machine's floor is
      // stable, a loaded one can't fake a low floor
      Seq.fill(3)(one()).min
    }

    // optional isolation filter (exact names or prefixes, comma-sep):
    // lets a forensics run bench ONE suite or query in its own JVM
    val filter = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val all = SparkEntry.queries.keys.toSeq.sorted
    val names = filter match {
      case Some(fs) => all.filter(n => fs.exists(f => n == f || n.startsWith(f)))
      case None => all
    }
    if (names.isEmpty) { System.err.println("[bench] filter matched no queries"); return }

    def sweep(tag: String, order: Seq[String]): Map[String, Double] =
      order.map { name =>
        val sec = once(name, SparkEntry.queries(name))
        System.err.println(s"[bench] $tag $name=$sec")
        name -> sec
      }.toMap

    // Each measured sweep runs in a DIFFERENT deterministic order
    // (seeded shuffle): with a fixed alphabetical order, any slow
    // suite's side effects (GC pressure, page-cache state) land on the
    // SAME successor queries every sweep and survive the per-query min
    // — randomizing the order turns that adjacency bias into per-sweep
    // noise the min discards.
    def shuffled(seed: Int): Seq[String] =
      new scala.util.Random(seed).shuffle(names)

    calibrate() // probe warm-up, discarded
    sweep("warmup", names) // JVM/codegen/broadcast warm-up, discarded
    val calStart = calibrate()
    val measured = (1 to sweeps).map { i =>
      val m = sweep(s"sweep$i", shuffled(i))
      val cal = calibrate()
      System.err.println(s"[bench] sweep$i done, calibration=$cal")
      (m, cal)
    }
    val calEnd = measured.last._2

    // Per-query min across sweeps; a query that failed in one sweep but
    // succeeded in another reports its successful floor.
    def minOf(name: String): Double = {
      val ok = measured.map(_._1(name)).filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.min
    }
    val best = names.map(n => n -> minOf(n))
    val total = best.map(_._2).filter(_ >= 0).sum
    // LOUD error accounting (round-8 verdict: a third of the registry
    // reported -1 while the headline total still printed with rc 0) —
    // the errored list rides in BOTH JSON records and a terminal stderr
    // line so no log tail can miss it.
    val erroredNames = best.collect { case (n, v) if v < 0 => n }
    if (erroredNames.nonEmpty)
      System.err.println(
        s"[bench] ERRORED: ${erroredNames.size} of ${names.size} queries never succeeded in any sweep: ${erroredNames.mkString(", ")}")
    val erroredJson = erroredNames.map("\"" + _ + "\"").mkString("[", ",", "]")

    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    def qjson(kv: Seq[(String, Double)], f: Double => String) =
      kv.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")

    // Full-precision record — survives any stdout truncation.
    val sweepJson = measured.zipWithIndex.map { case ((m, cal), i) =>
      s"""{"sweep":${i + 1},"calibration_after":$cal,"queries":${qjson(names.map(n => n -> m(n)), _.toString)}}"""
    }.mkString("[", ",", "]")
    val mode = if (cold) "cold" else "warm"
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","mode":"$mode","sweeps":$sweeps,"agg":"min","calibration":$calStart,"calibration_end":$calEnd,"errored":$erroredJson,"queries":${qjson(best, _.toString)},"sweep_detail":$sweepJson,"sf":"$sfDir"}"""
    // a filtered (isolation-probe) run records to a sibling file so it
    // can never clobber the canonical full-run record; cold mode has its
    // own canonical sibling
    val selfFile =
      if (filter.isDefined || ExtraConf.isSet) "BENCH_SELF_FILTERED.json"
      else if (cold) "BENCH_SELF_COLD.json"
      else "BENCH_SELF.json"
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(selfFile),
        full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] wrote ${java.nio.file.Paths.get(selfFile).toAbsolutePath}")
    } catch { case e: Throwable => System.err.println(s"[bench] $selfFile write failed: ${e.getMessage}") }

    // Compact single line on stdout (3-decimal values, no sweep
    // detail) — the full per-query record in one parseable JSON line.
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","mode":"$mode","sweeps":$sweeps,"agg":"min","calibration":${fmt(calStart)},"calibration_end":${fmt(calEnd)},"errored":$erroredJson,"queries":${qjson(best, fmt)},"sf":"$sfDir"}""")
    // SHORT summary line printed LAST (r13 verdict item 2): the full
    // line above is ~6 KB at 168 queries and a bounded stdout tail
    // (the driver keeps 2000 chars) truncates it mid-object, which is
    // why BENCH_r09–r13 all parsed null. This line carries no
    // per-query map, so it fits ANY tail bound; the per-query record
    // lives in the full line above and in BENCH_SELF.json.
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","mode":"$mode","sweeps":$sweeps,"agg":"min","calibration":${fmt(calStart)},"calibration_end":${fmt(calEnd)},"n":${names.size},"errored":$erroredJson,"queries_file":"$selfFile","sf":"$sfDir"}""")
    spark.stop()
  }
}
