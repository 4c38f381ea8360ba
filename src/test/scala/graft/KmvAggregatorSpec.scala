package graft

import org.apache.spark.sql.functions._
import graft.functions.KmvSketch
import graft.operators.Misc

/** Pins the round-4 verdict's m10 fix: the KMV sketch is a MERGEABLE
  * typed Aggregator (bounded k-element buffer, partial aggregation
  * before the exchange), and it is value-identical to the window-form
  * derivation that remains the DuckDB oracle.
  */
class KmvAggregatorSpec extends GraftSuite {

  test("m10: aggregator form equals the window form row-for-row") {
    val agg = Misc.m10KmvDistinct(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val win = Misc.m10KmvWindowForm(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(agg.nonEmpty)
    assert(agg === win)
  }

  test("m10: plan is a partial aggregate, not a per-group window sort") {
    val p = Misc.m10KmvDistinct(spark, sf).queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"window sort crept back into m10:\n$p")
    // the typed-aggregator path plans ObjectHashAggregate with a
    // partial_kmvagg mode — each partition reduces to ≤ k values per
    // group before any exchange
    assert(p.contains("ObjectHashAggregate"), s"no object hash aggregate:\n$p")
    assert(p.toLowerCase.contains("partial_kmvagg"),
      s"kmv must aggregate partially (map-side):\n$p")
  }

  test("kmv reduce: keeps the k smallest distinct values, sorted") {
    val a = KmvSketch.agg(4)
    val buf = Seq(9L, 3L, 7L, 3L, 1L, 8L, 2L, 5L).foldLeft(a.zero)(a.reduce)
    assert(buf.toSeq === Seq(1L, 2L, 3L, 5L))
    // a value above the current k-th min of a full sketch is a no-op
    assert(a.reduce(buf, 100L).toSeq === Seq(1L, 2L, 3L, 5L))
    // a smaller value displaces the max
    assert(a.reduce(buf, 4L).toSeq === Seq(1L, 2L, 3L, 4L))
  }

  test("kmv merge law: merging partition sketches equals the global sketch") {
    // the property PropertyChecks pins on the model; here on the real
    // Aggregator, including duplicate collapse across partitions
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 50) {
      val k = 1 + rng.nextInt(16)
      val a = KmvSketch.agg(k)
      val xs = Seq.fill(rng.nextInt(60))(rng.nextInt(40).toLong)
      val ys = Seq.fill(rng.nextInt(60))(rng.nextInt(40).toLong)
      val merged = a.merge(xs.foldLeft(a.zero)(a.reduce), ys.foldLeft(a.zero)(a.reduce))
      val global = (xs ++ ys).foldLeft(a.zero)(a.reduce)
      assert(merged.toSeq === global.toSeq, s"k=$k xs=$xs ys=$ys")
    }
  }

  test("pair sketch: insert keeps k smallest by hash, min value on a hash tie") {
    val a = KmvSketch.pairsAgg(3)
    val buf = Seq((9L, 9.0), (3L, 3.0), (7L, 7.0), (1L, 1.0), (8L, 8.0))
      .foldLeft(a.zero)(a.reduce)
    assert(buf.toSeq === Seq((1L, 1.0), (3L, 3.0), (7L, 7.0)))
    // hash tie: min value wins regardless of arrival order
    assert(a.reduce(buf, (3L, 0.5)).toSeq === Seq((1L, 1.0), (3L, 0.5), (7L, 7.0)))
    assert(a.reduce(buf, (3L, 9.9)).toSeq === buf.toSeq)
    // above the k-th min of a full sketch: no-op; below: displaces max
    assert(a.reduce(buf, (100L, 0.0)).toSeq === buf.toSeq)
    assert(a.reduce(buf, (2L, 2.0)).toSeq === Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
  }

  test("pair sketch merge law: any merge tree equals the global sketch (incl. value ties)") {
    // the lattice property KLL does not have — membership AND payloads
    // are a pure function of the input set, so partial aggregation may
    // combine in any tree shape
    val rng = new scala.util.Random(11)
    for (_ <- 1 to 50) {
      val k = 1 + rng.nextInt(12)
      val a = KmvSketch.pairsAgg(k)
      def gen(n: Int) = Seq.fill(n)((rng.nextInt(20).toLong, rng.nextInt(5).toDouble))
      val (xs, ys, zs) = (gen(rng.nextInt(40)), gen(rng.nextInt(40)), gen(rng.nextInt(40)))
      def sk(s: Seq[(Long, Double)]) = s.foldLeft(a.zero)(a.reduce)
      val global = sk(xs ++ ys ++ zs)
      val leftTree = a.merge(a.merge(sk(xs), sk(ys)), sk(zs))
      val rightTree = a.merge(sk(xs), a.merge(sk(ys), sk(zs)))
      assert(leftTree.toSeq === global.toSeq, s"k=$k left tree diverged")
      assert(rightTree.toSeq === global.toSeq, s"k=$k right tree diverged")
      // idempotence: re-merging a sketch with itself changes nothing
      assert(a.merge(global, global).toSeq === global.toSeq)
    }
  }

  test("pair sketch: NaN and signed-zero payloads keep the merge lattice (total-order tie-break)") {
    // IEEE < is false for every NaN comparison, so a naive tie-break
    // keeps the incumbent on the insert path while math.min keeps NaN
    // on the merge path — same input set, different sketches. The
    // total-order tie-break (Double.compare) must make both paths agree.
    val a = KmvSketch.pairsAgg(2)
    val xs = Seq((5L, java.lang.Double.NaN), (3L, 1.0))
    val ys = Seq((5L, 2.0), (3L, -0.0))
    def sk(s: Seq[(Long, Double)]) = s.foldLeft(a.zero)(a.reduce)
    val viaReduce = sk(xs ++ ys)
    val viaMerge = a.merge(sk(xs), sk(ys))
    def bits(p: (Long, Double)) = (p._1, java.lang.Double.doubleToLongBits(p._2))
    assert(viaReduce.map(bits).toSeq === viaMerge.map(bits).toSeq,
      s"reduce path ${viaReduce.toSeq} != merge path ${viaMerge.toSeq}")
    // total order: 2.0 beats NaN on hash 5; -0.0 beats 1.0 on hash 3
    assert(viaMerge.map(bits).toSeq === Seq(
      (3L, java.lang.Double.doubleToLongBits(-0.0)),
      (5L, java.lang.Double.doubleToLongBits(2.0))))
  }

  test("kmv finish: readout matches (m, kth) semantics") {
    val a = KmvSketch.agg(3)
    assert(a.finish(a.zero) === KmvSketch.Kmv(0L, 0L))
    val part = Seq(5L, 9L).foldLeft(a.zero)(a.reduce)
    assert(a.finish(part) === KmvSketch.Kmv(2L, 9L)) // not full: exact count
    val full = Seq(5L, 9L, 1L, 7L).foldLeft(a.zero)(a.reduce)
    assert(a.finish(full) === KmvSketch.Kmv(3L, 7L)) // full: kth = 3rd min
  }

  test("kmv estimator sanity: estimate tracks true cardinality on uniform hashes") {
    import graft.functions.Portable
    // 10k distinct keys through the portable hash, k = 64: the KMV
    // estimate should land within ~3/sqrt(k) (≈ 37%) of truth — loose
    // bound, this guards the arithmetic, not the theory
    val df = spark.range(0, 10000).toDF("id")
      .select(Portable.h64(col("id").cast("string")).as("h"))
      .agg(KmvSketch.kmv(64)(col("h")).as("sk"))
      .select(col("sk.m"), col("sk.kth"))
    val r = df.collect()(0)
    val (m, kth) = (r.getLong(0), r.getLong(1))
    assert(m === 64L)
    val est = 63.0 * 1152921504606846976.0 / kth.toDouble
    assert(est > 6300 && est < 13700, s"estimate $est too far from 10000")
  }

  test("m18: sketch set ops — pair grid complete, exact degeneracy, estimator accuracy") {
    val rows = Misc.m18SketchSetOps(spark, sf).collect().map { r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7),
        r.getDouble(8), r.getLong(9))
    }
    val types = Tables.events(spark, sf).select("event_type").distinct().count().toInt
    assert(rows.length === types * (types - 1) / 2, "one row per unordered type pair")
    rows.foreach { case (ta, tb, nCommon, theta, estA, estB, estI, estU, estJ, exact) =>
      assert(ta < tb, "pairs are canonically ordered")
      assert(nCommon >= 0 && nCommon <= Misc.KmvK)
      assert(theta > 0)
      assert(estI >= 0.0 && estU > 0.0)
      assert(estJ >= 0.0 && estJ <= 1.0 + 1e-9, s"jaccard estimate $estJ out of range")
      // inclusion-exclusion sanity on the estimates themselves
      assert(estU <= estA + estB + 1e-6, s"union estimate above est_a+est_b")
      // theta = 2^60 means neither retained set was truncated below the
      // threshold: the intersection estimate degenerates to the exact count
      if (theta == 1152921504606846976L)
        assert(estI === exact.toDouble, "untruncated sketches must read exact")
      // accuracy: KMV RSE is 1/sqrt(k-1) ≈ 12.6%; allow 5 sigma on
      // intersections large enough for the bound to be meaningful
      if (exact >= 200)
        assert(math.abs(estI - exact) / exact < 0.63,
          s"pair ($ta,$tb): est $estI vs exact $exact beyond 5x RSE")
    }
  }

  test("m18: plan — one bounded partial aggregate over events, pair math on sketches") {
    val p = Misc.m18SketchSetOps(spark, sf).queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("partial_kmvvaluesagg"),
      s"sketch build must partially aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct"), s"bare cartesian in m18:\n$p")
  }
}
