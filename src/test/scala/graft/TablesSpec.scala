package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the events `ts` physical-schema contract (round-8 regression: the
  * driver regenerated the fixture from TIMESTAMP(NANOS) to
  * TIMESTAMP(MICROS) and every `ts div 1000000000` expression went dark).
  * [[Tables.events]] / [[Tables.normalizeTs]] must map EVERY physical
  * variant the driver has shipped back to LongType epoch nanos:
  *
  *  - int64 (what a NANOS column reads as under `nanosAsLong=true`) →
  *    pass-through;
  *  - TIMESTAMP(MICROS) isAdjustedToUTC=false (round-8+ fixture, read as
  *    TimestampType under `inferTimestampNTZ=false` + UTC) → ×1000;
  *  - TIMESTAMP_NTZ (what the same file reads as if a caller session
  *    forgot the infer conf) → same values via the UTC cast.
  *
  * Each variant is written as a REAL parquet file and read back through
  * the production reader path, so the next fixture regeneration flips a
  * failing test here instead of silently killing 28 queries.
  */
class TablesSpec extends GraftSuite {
  private val micros = Seq(0L, 1L, 1700000000123456L, -123456789L)

  private def schemaWithTs(ts: DataType) = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", ts),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def instant(us: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  private def writeFixture(asTimestamp: Boolean): String = {
    val dir = Files.createTempDirectory("graft-tsfix-").toString
    val rows = micros.zipWithIndex.map { case (us, i) =>
      Row(i.toLong, if (asTimestamp) instant(us) else us * 1000L, i.toLong, "t", 1.0, "{}")
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      schemaWithTs(if (asTimestamp) TimestampType else LongType))
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("normalizeTs: int64 ts (nanos-as-long variant) passes through unchanged") {
    val out = Tables.events(spark, writeFixture(asTimestamp = false))
    assert(out.schema("ts").dataType == LongType)
    val got = out.orderBy("event_id").select("ts").collect().map(_.getLong(0)).toSeq
    assert(got == micros.map(_ * 1000L))
  }

  test("normalizeTs: TIMESTAMP(MICROS) ts normalizes to epoch-nanos long") {
    // written by Spark as TIMESTAMP(MICROS); read back through the
    // production reader under the production conf trio
    val out = Tables.events(spark, writeFixture(asTimestamp = true))
    assert(out.schema("ts").dataType == LongType)
    val got = out.orderBy("event_id").select("ts").collect().map(_.getLong(0)).toSeq
    assert(got == micros.map(_ * 1000L))
  }

  test("normalizeTs: TIMESTAMP_NTZ reads give the same epoch nanos (conf-drift guard)") {
    val raw = spark.read.parquet(s"${writeFixture(asTimestamp = true)}/events.parquet")
      .withColumn("ts", col("ts").cast(TimestampNTZType))
    val out = Tables.normalizeTs(raw)
    assert(out.schema("ts").dataType == LongType)
    val got = out.orderBy("event_id").select("ts").collect().map(_.getLong(0)).toSeq
    assert(got == micros.map(_ * 1000L))
  }

  test("normalizeTs: no ts column is a no-op") {
    val df = spark.range(3).toDF("id")
    assert(Tables.normalizeTs(df) eq df)
  }

  test("the DRIVER fixture itself round-trips through the contract") {
    // whatever variant the current generation shipped, the production
    // reader must yield LongType nanos that agree with the raw file's
    // own micros (the DuckDB oracle's epoch_ns on the same bytes)
    val out = Tables.events(spark, sf)
    assert(out.schema("ts").dataType == LongType)
    // second-granularity sum: micros-level sums overflow Long over a
    // whole fixture under ANSI arithmetic
    val viaReader = out.agg(sum(expr("ts div 1000000000")).as("s")).collect()(0).getLong(0)
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val viaRaw = raw.schema("ts").dataType match {
      case LongType => raw.agg(sum(expr("ts div 1000000000"))).collect()(0).getLong(0)
      case _ => raw.agg(sum(expr("unix_micros(cast(ts as timestamp)) div 1000000"))).collect()(0).getLong(0)
    }
    assert(viaReader == viaRaw)
  }

  test("a warm read resolves its schema without starting a job") {
    Tables.events(spark, sf).schema
    assert(SparkTestBase.jobsStartedBy(Tables.events(spark, sf).schema) === 0)
  }

  test("a file rewritten at the same path with a different schema is resolved again") {
    import spark.implicits._
    val path = s"${Files.createTempDirectory("graft-rewrite-")}/t.parquet"
    Seq((1L, "a")).toDF("id", "name").write.parquet(path)
    assert(Tables.parquet(spark, path).schema.fieldNames.toSeq === Seq("id", "name"))
    Seq((2.5, 7)).toDF("score", "rank").write.mode("overwrite").parquet(path)
    val again = Tables.parquet(spark, path)
    assert(again.schema === spark.read.parquet(path).schema)
    assert(again.collect().toSeq === Seq(Row(2.5, 7)))
  }

  test("flipping nanosAsLong or inferTimestampNTZ resolves as a plain read does") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    // a NANOS column and a UTC-unadjusted MICROS column, without the
    // Spark schema a Spark writer would put in the footer
    val path = s"${Files.createTempDirectory("graft-tsconf-")}/t.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 ns (TIMESTAMP(NANOS,true)); required int64 us (TIMESTAMP(MICROS,false)); }")
    val conf = new Configuration()
    val w = ExampleParquetWriter.builder(
      HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ns", 5L).append("us", 7L))
    finally w.close()

    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val saved = Seq(nanos, ntz).map(k => k -> spark.conf.getOption(k))
    def under(n: Boolean, z: Boolean) = {
      spark.conf.set(nanos, n.toString); spark.conf.set(ntz, z.toString)
    }
    try {
      under(n = true, z = false)
      val plain = Tables.parquet(spark, path).schema
      assert(plain === spark.read.parquet(path).schema)
      assert(plain.map(_.dataType) === Seq(LongType, TimestampType))
      under(n = true, z = true)
      assert(Tables.parquet(spark, path).schema === spark.read.parquet(path).schema)
      assert(Tables.parquet(spark, path).schema("us").dataType === TimestampNTZType)
      under(n = false, z = false)
      intercept[Exception](spark.read.parquet(path))
      intercept[Exception](Tables.parquet(spark, path))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
