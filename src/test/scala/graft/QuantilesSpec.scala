package graft

import org.apache.spark.sql.functions._
import graft.operators.Misc

/** m17 — distributed exact quantiles by rank selection. */
class QuantilesSpec extends GraftSuite {

  test("m17: selected values equal the naive global-sort quantiles") {
    val got = Misc.m17GlobalQuantiles(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got.keySet === Misc.M17Percents.toSet)
    val sorted = Tables.lineitem(spark, sf)
      .select(col("l_extendedprice")).orderBy(col("l_extendedprice"))
      .collect().map(_.getDouble(0))
    val n = sorted.length.toLong
    Misc.M17Percents.foreach { p =>
      val rank = (n * p + 99) / 100 // ceil(n*p/100), exact integer math
      assert(got(p) === sorted((rank - 1).toInt),
        s"pct $p: expected rank-$rank value of $n rows")
    }
  }

  test("m19: sketch quantiles hold the DKW rank-error bound against m17's exact answers") {
    // the bound the sketch ships with: a uniform k-sample's empirical
    // CDF is within sqrt(ln(2/δ)/(2k)) of the true CDF uniformly over
    // all ranks w.p. 1-δ (Dvoretzky-Kiefer-Wolfowitz); at k=256, δ=1%
    // that is 0.1018. The sample here is FIXED (hash-deterministic), so
    // this asserts the realized error, which must sit inside the bound.
    val eps = math.sqrt(math.log(2.0 / 0.01) / (2.0 * Misc.QsK))
    val sorted = Tables.lineitem(spark, sf)
      .select(col("l_extendedprice")).orderBy(col("l_extendedprice"))
      .collect().map(_.getDouble(0))
    val n = sorted.length
    val got = Misc.m19QuantileSketch(spark, sf).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
    assert(got.map(_._1).toSet === Misc.M17Percents.toSet)
    assert(got.map(_._3).distinct.toSeq === Seq(Misc.QsK.toLong),
      s"sketch must be full at sf=$sf (n=$n rows)")
    got.foreach { case (p, est, _) =>
      // realized rank of the estimate in the full data (upper rank of
      // its value class — ties make a rank interval; take the closest)
      val lo = sorted.count(_ < est)
      val hi = sorted.count(_ <= est)
      val target = n.toDouble * p / 100.0
      val dist = if (target < lo) (lo - target) / n
                 else if (target > hi) (target - hi) / n
                 else 0.0
      assert(dist <= eps,
        s"pct $p: est $est has rank error $dist > DKW bound $eps (k=${Misc.QsK})")
    }
  }

  test("m19: estimates are partitioning-invariant and the state is a bounded partial aggregate") {
    // membership is a pure function of the input SET (the KMV lattice),
    // so any repartitioning merges to the identical sketch
    val base = Misc.m19QuantileSketch(spark, sf).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).sortBy(_._1).toSeq
    val shuffled = {
      import graft.functions.{KmvSketch, Portable}
      val sk = Tables.lineitem(spark, sf).repartition(7)
        .select(Portable.h64(concat_ws("|", col("l_orderkey"), col("l_linenumber"))).as("h"),
          col("l_extendedprice").as("v"))
        .agg(KmvSketch.kmvPairs(Misc.QsK)(col("h"), col("v")).as("sk"))
      Misc.sketchQuantiles(spark, sk, Nil).collect()
        .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).sortBy(_._1).toSeq
    }
    assert(shuffled === base, "sketch must not depend on the partitioning")
    // the m10 plan contract: a PARTIAL ObjectHashAggregate bounds every
    // partition's state at k pairs before the exchange
    import graft.functions.{KmvSketch, Portable}
    val agg = Tables.lineitem(spark, sf)
      .select(Portable.h64(concat_ws("|", col("l_orderkey"), col("l_linenumber"))).as("h"),
        col("l_extendedprice").as("v"))
      .agg(KmvSketch.kmvPairs(Misc.QsK)(col("h"), col("v")).as("sk"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"expected an ObjectHashAggregate pair: $plan")
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2,
      "expected partial + final aggregate stages (map-side state bound)")
  }

  test("m17: selected values are invariant to the partition count (re-size safe)") {
    // partition count only changes WHERE each rank lives, never which
    // value it selects — the total order is unique (tie-broken)
    def at(parts: Option[Int]) = Misc.m17GlobalQuantilesP(spark, sf, parts).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val at32 = at(Some(32))
    assert(at(Some(3)) === at32)
    assert(at(Some(7)) === at32)
    assert(at(None) === at32, "the sized range sort selects different values")
  }

  test("m17: the selection pass emits only the target rows (no ranked materialization)") {
    val df = Misc.m17GlobalQuantiles(spark, sf)
    assert(df.count() === Misc.M17Percents.size.toLong)
    // the result frame is checkpoint-backed (the two-pass cache is
    // released eagerly) — scanning it must not re-run the selection
    assert(df.queryExecution.executedPlan.toString.contains("Scan ExistingRDD"))
  }
}
