package graft

import graft.operators.Misc

/** The catalog-table input surface (S1 via `spark.table`, m08) must cost
  * nothing over the direct path read: same parquet relation, same
  * PushedFilters, same pruned ReadSchema.
  */
class CatalogSpec extends GraftSuite {

  test("m08 catalog scan pushes the date-range + status predicates to parquet") {
    val df = Misc.m08CatalogScan(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the plan's PushedFilters list prints truncated; the date-range
    // lower bound is first and always visible
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      s"expected o_orderdate in PushedFilters:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(o_orderdate,1995-06-01"),
      s"expected date range pushed:\n$plan")
    // column pruning survives the catalog hop: unreferenced wide columns
    // (o_comment, o_orderpriority) must not be read
    assert(!plan.contains("o_comment"), s"ReadSchema not pruned:\n$plan")
  }

  test("catalog registration is idempotent and re-points across fixture dirs") {
    Tables.catalogTable(spark, sf, "region")
    val again = Tables.catalogTable(spark, sf, "region")
    assert(again.count() === 5)
    assert(spark.catalog.tableExists("region_cat"))
  }

  test("a warm m08 call starts one job, the scan: the table is neither re-created nor re-inferred") {
    Misc.m08CatalogScan(spark, sf).collect()
    assert(SparkTestBase.jobsStartedBy(Misc.m08CatalogScan(spark, sf).collect()) === 1)
  }

  test("m08 keeps its catalog entry at one dir and re-points it when the dir switches") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import java.nio.file.{Files, Paths}
    def relation(dir: String) = Misc.m08CatalogScan(spark, dir).queryExecution.analyzed
      .collectFirst { case l: LogicalRelation => l.relation }.get
    def rows(dir: String) = Misc.m08CatalogScan(spark, dir).collect().map(_.toString).sorted.toSeq
    val before = rows(sf)
    assert(relation(sf) eq relation(sf), "a second call at the same dir re-created the table")
    val copy = Files.createTempDirectory("graft-catalog-copy-")
    try {
      Files.copy(Paths.get(sf, "orders.parquet"), copy.resolve("orders.parquet"))
      val inputs = Misc.m08CatalogScan(spark, copy.toString).inputFiles
      assert(inputs.nonEmpty && inputs.forall(_.contains(copy.toString)),
        s"the table still points at the old dir: ${inputs.mkString(", ")}")
      assert(rows(copy.toString) === before)
      assert(Misc.m08CatalogScan(spark, sf).inputFiles.forall(_.contains(sf)))
      assert(rows(sf) === before)
    } finally graft.streaming.Streams.dropDir(copy.toString)
  }

  test("m08 rows match the direct path read") {
    import org.apache.spark.sql.functions._
    val viaCatalog = Misc.m08CatalogScan(spark, sf).collect().map(_.toString).sorted
    // identical predicate + projection over the direct path read: the
    // catalog hop must change NOTHING about the rows
    val direct = Tables.orders(spark, sf)
      .where(col("o_orderdate") >= lit("1995-06-01").cast("timestamp")
        && col("o_orderdate") < lit("1995-09-01").cast("timestamp")
        && col("o_orderstatus") === "O")
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("o_totalprice"))
      .collect().map(_.toString).sorted
    assert(viaCatalog.nonEmpty)
    assert(viaCatalog.toSeq === direct.toSeq)
  }
}
