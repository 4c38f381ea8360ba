package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Misc

/** Pins m16's three claims: the distributed global row-number is
  * exactly the single-partition window's ranking, ranks are dense and
  * unique, and the plan that produces them contains NO SinglePartition
  * exchange (the choke the operator exists to remove).
  */
class GlobalRankSpec extends GraftSuite {

  private def naive() =
    Tables.lineitem(spark, sf)
      .where(col("l_shipdate") >= lit("2001-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .withColumn("global_rank", row_number().over(Window.orderBy(
        col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc)).cast("long"))

  test("m16: distributed ranks equal the single-partition window form") {
    val got = Misc.m16GlobalRank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3))).sortBy(_._4)
    val exp = naive().collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3))).sortBy(_._4)
    assert(got.length > 0)
    assert(got.toSeq === exp.toSeq)
  }

  test("m16: ranks are dense 1..n and the order is total on the sort key") {
    val rows = Misc.m16GlobalRank(spark, sf).collect()
      .map(r => (r.getDouble(2), r.getLong(0), r.getInt(1), r.getLong(3)))
      .sortBy(_._4)
    assert(rows.map(_._4).toSeq === (1L to rows.length).toSeq, "ranks not dense")
    rows.sliding(2).foreach {
      case Array((p1, o1, l1, _), (p2, o2, l2, _)) =>
        assert(p1 > p2 || (p1 == p2 && (o1 < o2 || (o1 == o2 && l1 < l2))),
          s"rank order violates the sort key at ($p1,$o1,$l1) -> ($p2,$o2,$l2)")
      case _ =>
    }
  }

  test("m16: ranks are invariant to the partition count (re-size/re-plan safe)") {
    def ranks(parts: Option[Int]) = Misc.m16GlobalRankP(spark, sf, parts).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(3)).toMap
    val at32 = ranks(Some(32))
    assert(ranks(Some(3)) === at32)
    assert(ranks(Some(7)) === at32)
    assert(ranks(None) === at32, "the sized range sort ranks differently")
  }

  test("m16: a warm call runs no stage wider than the session's shuffle partitions") {
    // the range count starts at spark.sql.shuffle.partitions and AQE
    // merges adjacent ranges down to the data; a fixed count above it
    // would run that many tasks whatever the input size
    Misc.m16GlobalRank(spark, sf).collect()
    val limit = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val (jobs, stages) = SparkTestBase.scheduledBy(Misc.m16GlobalRank(spark, sf).collect())
    assert(stages.nonEmpty && stages.max <= limit,
      s"stage task counts ${stages.mkString("/")} exceed $limit ($jobs jobs)")
  }

  test("m16: no SinglePartition exchange in the distributed plan (naive form has one)") {
    // the ranked frame is RDD-backed; the plan that must stay clean is
    // the sorted input the ranks are attached to — taken from the
    // OPERATOR's own pre-zipWithIndex stage (Misc.m16Sorted, the frame
    // m16GlobalRankP actually ranks), so an edit to the operator's
    // plan shape is caught here rather than asserted on a hand-built twin
    val sortedPlan = Misc.m16Sorted(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!sortedPlan.contains("SinglePartition"),
      "distributed form unexpectedly plans a SinglePartition exchange")
    assert(sortedPlan.contains("rangepartitioning") || sortedPlan.contains("RangePartitioning"),
      "expected a range exchange in the distributed form")
    val naivePlan = naive().queryExecution.executedPlan.toString
    assert(naivePlan.contains("SinglePartition"),
      "the naive window form should funnel through SinglePartition — " +
        "if Spark stopped doing that, m16's premise needs re-checking")
  }
}
