package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.jobs.IncrementalIndex
import graft.operators.Embeddings

/** The quantized halves of the vector index: the persisted SQ8 store
  * (st15's quantizer + 64-byte code rows) must be byte-identical to the
  * in-query e14 machinery (one shared definition), or a served ADC scan
  * and the oracle-pinned query could rank differently; and the trained
  * PQ codebook e12 serves must not lose recall to the seed codebook.
  */
class PqIndexSpec extends GraftSuite {

  test("stored SQ quantizer and codes equal the in-query e14 encode") {
    val tmp = Files.createTempDirectory("graft-sq-").toString
    val all = Tables.embeddings(spark, sf)
    IncrementalIndex.writeSqIndex(spark, all, all, tmp)
    val v = Embeddings.quantizedFrom(spark, all)
    val expectLohi = Embeddings.sqLohiOf(v)
      .collect().map(_.toString).toSeq
    val gotLohi = spark.read.parquet(s"$tmp/${IncrementalIndex.SqQuantizer}")
      .collect().map(_.toString).toSeq
    assert(gotLohi.length === 1 && gotLohi === expectLohi)
    val expectCodes = Embeddings.sqEncode(v.select(col("vec_id"), col("q")),
        spark.read.parquet(s"$tmp/${IncrementalIndex.SqQuantizer}"))
      .select(col("vec_id"), col("codes"))
      .collect().map(_.toString).sorted.toSeq
    val gotCodes = spark.read.parquet(s"$tmp/${IncrementalIndex.SqCodes}")
      .select(col("vec_id"), col("codes"))
      .collect().map(_.toString).sorted.toSeq
    assert(gotCodes.length === all.count() && gotCodes === expectCodes)
    // every stored code is an 8-bit level — the byte-packable contract
    val levels = spark.read.parquet(s"$tmp/${IncrementalIndex.SqCodes}")
      .select(explode(col("codes")).as("c"))
      .agg(min(col("c")), max(col("c"))).collect()(0)
    assert(levels.getLong(0) >= 0L && levels.getLong(1) <= 255L)
    // st15's ingest step lands a new batch's codes beside the bootstrap
    val day2 = all.where(col("vec_id") % 7 === 0)
    IncrementalIndex.ingestSqBatch(spark, day2, tmp, 0L)
    val n = spark.read.parquet(s"$tmp/${IncrementalIndex.SqCodes}").count()
    assert(n === all.count() + day2.count())
  }

  test("ADC recall with the trained codebook is non-decreasing vs the r7 seed codebook") {
    // r7's untrained (PqK-smallest-id) codebook recorded 69/300 for
    // ivf_pq_adc and 70/300 for residual_pq on this fixture; training
    // must never pay recall for compression (the whole point of Lloyd)
    val hits = Embeddings.e07bRecallQuantized(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(hits("ivf_pq_adc") >= 69L,
      s"trained PQ ADC recall regressed below the r7 seed record: ${hits("ivf_pq_adc")}")
    assert(hits("residual_pq") >= 70L,
      s"trained residual PQ recall regressed below the r7 seed record: ${hits("residual_pq")}")
  }
}
