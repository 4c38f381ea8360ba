package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import graft.functions.{Predicates, TaskParams}

/** Property-based checks (scalacheck) for the session-free pure surfaces:
  * parameter parsing, predicate folding and integer formulas.
  * Spark-bound invariants live in the scalatest suites.
  */
object PropertyChecks extends Properties("graft") {

  private val key: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaChar).map(_.mkString).suchThat(_.nonEmpty)
  private val value: Gen[String] =
    Gen.listOf(Gen.alphaNumChar).map(_.mkString)
  private val flatMap: Gen[Map[String, String]] =
    Gen.mapOf(Gen.zip(key, value))

  private def render(m: Map[String, String]): String =
    m.map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")

  property("taskparams: flat-json parse round-trips alphanumeric maps") =
    forAll(flatMap) { m =>
      TaskParams.fromJson(render(m)).params == m
    }

  property("taskparams: empty values are absent, longs parse back") =
    forAll(key, Gen.long) { (k, n) =>
      val p = TaskParams(Map(k -> n.toString, "empty" -> ""))
      p.getLong(k).contains(n) && p.get("empty").isEmpty
    }

  property("predicates: all-absent params fold to literal true") = {
    val c = col("x")
    Prop(
      Predicates.between(c, None, None).toString == lit(true).toString &&
        Predicates.in(c, None).toString == lit(true).toString &&
        Predicates.in(c, Some(Seq.empty)).toString == lit(true).toString &&
        Predicates.equalTo(c, None).toString == lit(true).toString &&
        Predicates.all().toString == lit(true).toString)
  }

  property("predicates: any present bound produces a non-trivial column") =
    forAll(Gen.long, Gen.long) { (lo, hi) =>
      val c = col("x")
      Predicates.between(c, Some(lo), Some(hi)).toString != lit(true).toString &&
      Predicates.between(c, Some(lo), None).toString != lit(true).toString &&
      Predicates.between(c, None, Some(hi)).toString != lit(true).toString
    }

  // the mergeability law m10's scale story rests on: combining per-
  // partition k-min sketches loses nothing vs sketching the whole input
  private def kmv(xs: Seq[Long], k: Int): Vector[Long] =
    xs.distinct.sorted.take(k).toVector

  property("kmv sketch: merge of partition sketches equals the global sketch") =
    forAll(Gen.listOf(Gen.long), Gen.listOf(Gen.long), Gen.chooseNum(1, 64)) {
      (a, b, k) => kmv(kmv(a, k) ++ kmv(b, k), k) == kmv(a ++ b, k)
    }

  // the merge law m12's incremental rollup rests on: folding per-batch
  // partial sums key-wise loses nothing vs aggregating the whole input
  private def sums(xs: Seq[(Int, Long)]): Map[Int, Long] =
    xs.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap

  property("accumulate merge: any batch split folds to the global per-key sums") =
    forAll(Gen.listOf(Gen.zip(Gen.chooseNum(0, 5), Gen.chooseNum(-1000L, 1000L))),
      Gen.chooseNum(0, 100)) { (rows, cutPct) =>
      val cut = rows.length * cutPct / 100
      val (a, b) = rows.splitAt(cut)
      sums(sums(a).toSeq ++ sums(b).toSeq) == sums(rows)
    }

  // the completeness law RangeJoin's bucketing rests on: a contained
  // point's bucket always lies within the interval's replicated span,
  // for the FULL long domain (exact floor division, no double rounding)
  property("range bucketing: contained point's bucket is inside the interval's bucket span") =
    forAll(Gen.long, Gen.chooseNum(0L, 1L << 20), Gen.chooseNum(0.0, 1.0),
      Gen.chooseNum(1L, 1L << 40)) { (lo0, span, frac, w) =>
      val lo = math.min(lo0, Long.MaxValue - span)
      val hi = lo + span
      val p = lo + (span * frac).toLong
      val (bl, bp, bh) =
        (Math.floorDiv(lo, w), Math.floorDiv(p, w), Math.floorDiv(hi, w))
      bl <= bp && bp <= bh
    }

  // the algebraic identity d43's span coverage rests on: for EQUAL-length
  // intervals [p, p+L-1], splitting islands on gap >= L and summing
  // (last - first + L) per island equals the exact boolean union size —
  // for arbitrary start sets, not just the fixture's
  property("span coverage: equal-length island sum equals the boolean interval union") =
    forAll(Gen.chooseNum(1, 12),
      Gen.listOf(Gen.chooseNum(0, 200))) { (l, starts0) =>
      val starts = starts0.distinct.sorted
      val union = starts.flatMap(p => p until p + l).distinct.size
      val islandSum =
        if (starts.isEmpty) 0
        else {
          val breaks = starts.zip(starts.tail).map { case (a, b) => b - a >= l }
          val bounds = (0 +: breaks.zipWithIndex.collect { case (true, i) => i + 1 }) :+ starts.length
          bounds.zip(bounds.tail).map { case (s, e) => starts(e - 1) - starts(s) + l }.sum
        }
      islandSum == union
    }

  property("m17 rank formula: (n*p+99) div 100 is exactly ceil(n*p/100)") =
    forAll(Gen.chooseNum(1L, 1000000000000L), Gen.oneOf(25, 50, 75, 90, 99)) {
      (n, p) =>
        val got = (n * p + 99) / 100
        val expect = BigInt(n) * p / 100 + (if ((BigInt(n) * p) % 100 == 0) 0 else 1)
        BigInt(got) == expect && got >= 1 && got <= n
    }
}
