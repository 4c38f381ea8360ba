package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.jobs.IncrementalIndex
import graft.operators.{Embeddings, LlmText}

/** Stored-vs-persisted PARITY — the test the stored-index discipline's
  * rule 3 leans on (docs/SCALE.md): the in-JVM memoized artifact and
  * the persisted-parquet form of the SAME index must be value-identical
  * for the same corpus, and a memo-served result must equal a fresh
  * recompute. Diffed by frames here: IVF cell members, substring
  * postings, the SQ tables, cluster bootstrap labels and the d03
  * verified-pair table.
  */
class StoredParitySpec extends GraftSuite {

  /** Bag-semantics frame diff over a canonical column order. */
  private def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    val cols = a.columns.sorted.toIndexedSeq.map(col)
    val (x, y) = (a.select(cols: _*), b.select(cols: _*))
    val (nx, ny) = (x.count(), y.count())
    assert(nx === ny, s"$what: row counts differ ($nx stored vs $ny persisted)")
    assert(x.exceptAll(y).isEmpty, s"$what: stored rows missing from persisted form")
    assert(y.exceptAll(x).isEmpty, s"$what: persisted rows missing from stored form")
  }

  private lazy val indexDir: String = {
    val tmp = Files.createTempDirectory("graft-parity-").toString
    IncrementalIndex.writeCellIndex(spark, Tables.embeddings(spark, sf), tmp)
    IncrementalIndex.writeSubstrIndexBatch(spark, Tables.documents(spark, sf), tmp, batchId = -1L)
    IncrementalIndex.writeSqIndex(spark, Tables.embeddings(spark, sf),
      Tables.embeddings(spark, sf), tmp)
    tmp
  }

  test("IVF cell assignment: in-JVM memo ≡ persisted cell_members") {
    val stored = Embeddings.cellRanked(spark, sf)
      .where(col("rn") === 1)
      .select(col("cell"), col("vec_id"), col("q"), col("nq"))
    val persisted = spark.read.parquet(s"$indexDir/${IncrementalIndex.CellMembers}")
    assertSameRows(stored, persisted, "cell members")
  }

  test("d44 spans: persisted-postings probe ≡ the recomputing query ≡ the worklist memo, and appends compose") {
    // the query recomputes its aggregation from the stored postings per
    // invocation (r14 — the r13 verdict's accounting fix); the persisted
    // store, the in-JVM worklist memo (d45's input), and the query must
    // all serve identical rows
    val stored = LlmText.d44CrossdocSpans(spark, sf)
    val persisted = IncrementalIndex.probeSubstrSpans(spark, indexDir)
    assertSameRows(stored, persisted, "d44 spans")
    assertSameRows(stored, LlmText.spansWorklist(spark, sf), "d44 spans vs worklist memo")
    // two batch partitions: splitting the corpus into two writes serves
    // the same spans as the one-shot build (the df filter recomputes
    // over the store as it stands — cross-batch duplicates surface)
    val docs = Tables.documents(spark, sf)
    val tmp2 = Files.createTempDirectory("graft-parity-substr-").toString
    IncrementalIndex.writeSubstrIndexBatch(spark, docs.where(col("doc_id") % 2 === 0), tmp2, 0L)
    IncrementalIndex.writeSubstrIndexBatch(spark, docs.where(col("doc_id") % 2 =!= 0), tmp2, 1L)
    assertSameRows(stored, IncrementalIndex.probeSubstrSpans(spark, tmp2),
      "d44 spans after split append")
  }

  test("SQ code table: in-JVM codes memo ≡ persisted sq_codes") {
    // r14: the encoded code table joined the quantizer behind the
    // stored-index memo discipline — the memo-served rows must equal
    // the persisted sq_codes the store writer lands
    val v = Embeddings.quantized(spark, sf)
    val memoSq = Embeddings.sqCodesOf(spark, v, Embeddings.sqLohiOf(v))
      .select(col("vec_id"), col("codes"))
    val persistedSq = spark.read.parquet(s"$indexDir/${IncrementalIndex.SqCodes}")
      .select(col("vec_id"), col("codes"))
    assertSameRows(memoSq, persistedSq, "sq codes")
  }

  test("SQ quantizer: serving memo ≡ persisted sq_quantizer") {
    val stored = Embeddings.sqLohiOf(Embeddings.quantized(spark, sf))
    val persisted = spark.read.parquet(s"$indexDir/${IncrementalIndex.SqQuantizer}")
    assertSameRows(stored, persisted, "sq quantizer")
  }

  test("cluster bootstrap: memoized-d03 fixture path ≡ subset self-join path") {
    // writeClusterBootstrapFixture derives the corpus-internal edges by
    // restricting the memoized d03 pair store to corpus-side endpoints;
    // writeClusterBootstrap re-derives them with a band self-join over
    // the written subset index. Same corpus partition ⇒ identical
    // bootstrap labels — the claim that lets st25's warm runs skip the
    // candidate self-join without changing a single row.
    val mod = graft.operators.LlmText.IncrementalBatchMod
    val viaMemo = Files.createTempDirectory("graft-cboot-memo-").toString
    val viaSelf = Files.createTempDirectory("graft-cboot-self-").toString
    IncrementalIndex.writeClusterBootstrapFixture(spark, sf, viaMemo)
    IncrementalIndex.writeClusterBootstrap(spark,
      Tables.documents(spark, sf).where(col("doc_id") % mod =!= 0), viaSelf)
    val a = spark.read.parquet(s"$viaMemo/${IncrementalIndex.ClusterLabels}")
      .select(col("doc_id"), col("label"))
    val b = spark.read.parquet(s"$viaSelf/${IncrementalIndex.ClusterLabels}")
      .select(col("doc_id"), col("label"))
    assertSameRows(a, b, "bootstrap labels")
  }

  test("d03 verified pairs: memo-served ≡ fresh recompute (cold conf)") {
    val warm = LlmText.d03LshNeardup(spark, sf)
    spark.conf.set(StoredMemo.DisableConf, "true")
    try {
      val cold = LlmText.d03LshNeardup(spark, sf)
      assert(!(cold eq warm), "cold conf must force a fresh build")
      assertSameRows(warm, cold, "d03 pairs")
    } finally spark.conf.unset(StoredMemo.DisableConf)
  }
}
