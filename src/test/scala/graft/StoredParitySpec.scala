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
  * postings, PQ/SQ tables, the kNN graph, LSH buckets, ground truth,
  * cluster bootstrap labels and the d03 verified-pair table.
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
    IncrementalIndex.writeSubstrIndex(spark, Tables.documents(spark, sf), tmp)
    IncrementalIndex.writeGraphIndex(spark, Tables.embeddings(spark, sf), tmp)
    IncrementalIndex.writePqIndex(spark, Tables.embeddings(spark, sf),
      Tables.embeddings(spark, sf), tmp)
    IncrementalIndex.writeSqIndex(spark, Tables.embeddings(spark, sf),
      Tables.embeddings(spark, sf), tmp)
    IncrementalIndex.writeLshIndex(spark, Tables.embeddings(spark, sf), tmp)
    IncrementalIndex.writeTruthIndex(spark, Tables.embeddings(spark, sf), tmp)
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
    // day-N append: splitting the corpus into two writes serves the
    // same spans as the one-shot build (the df filter recomputes over
    // the store as it stands — cross-batch duplicates surface)
    val docs = Tables.documents(spark, sf)
    val tmp2 = Files.createTempDirectory("graft-parity-substr-").toString
    IncrementalIndex.writeSubstrIndex(spark, docs.where(col("doc_id") % 2 === 0), tmp2)
    IncrementalIndex.writeSubstrIndex(spark, docs.where(col("doc_id") % 2 =!= 0), tmp2,
      org.apache.spark.sql.SaveMode.Append)
    assertSameRows(stored, IncrementalIndex.probeSubstrSpans(spark, tmp2),
      "d44 spans after split append")
  }

  test("PQ/SQ code tables: in-JVM codes memo ≡ persisted codes store") {
    // r14: the encoded code tables joined the codebook/quantizer behind
    // the stored-index memo discipline — the memo-served rows must
    // equal the persisted pq_codes / sq_codes the store writers land
    val v = Embeddings.quantized(spark, sf)
    val ranked = Embeddings.cellRanked(spark, sf)
    val memoPq = Embeddings.pqCodesOf(spark,
        ranked.where(col("rn") === 1)
          .select(col("cell"), col("vec_id"), col("q")),
        "q", Embeddings.pqCodebookOf(spark, v, "q"))
      .withColumnRenamed("neighbor_id", "vec_id")
    val persistedPq = spark.read.parquet(s"$indexDir/${IncrementalIndex.PqCodes}")
    assertSameRows(memoPq, persistedPq, "pq codes")
    val memoSq = Embeddings.sqCodesOf(spark, v, Embeddings.sqLohiOf(v))
      .select(col("vec_id"), col("codes"))
    val persistedSq = spark.read.parquet(s"$indexDir/${IncrementalIndex.SqCodes}")
      .select(col("vec_id"), col("codes"))
    assertSameRows(memoSq, persistedSq, "sq codes")
  }

  test("kNN graph: in-JVM memo ≡ persisted graph_edges, and the rounds lever composes") {
    // e22's default levers (rounds=1, revCap=8) serve the memoized
    // graph; the persisted writer iterates the same core over the same
    // corpus — THE graph, not a rebuilt twin
    val stored = Embeddings.e22NnDescent(spark, sf)
    val persisted = IncrementalIndex.probeGraph(spark, indexDir)
    assertSameRows(stored, persisted, "graph edges")
    // a deeper build (the deployment's iterate-to-R-rounds event)
    // persists exactly the fresh R-round iterate
    val tmp2 = Files.createTempDirectory("graft-parity-graph-").toString
    IncrementalIndex.writeGraphIndex(spark, Tables.embeddings(spark, sf), tmp2,
      rounds = 2)
    assertSameRows(
      Embeddings.nnDescentRounds(spark, sf, 2, Embeddings.DefaultNndRevCap),
      IncrementalIndex.probeGraph(spark, tmp2), "graph edges rounds=2")
  }

  test("PQ codebook: serving memo ≡ persisted pq_codebook (same training input)") {
    val stored = Embeddings.pqCodebookOf(spark,
      Embeddings.quantized(spark, sf), "q")
    val persisted = spark.read.parquet(s"$indexDir/${IncrementalIndex.PqCodebook}")
    assertSameRows(stored, persisted, "pq codebook")
  }

  test("SQ quantizer: serving memo ≡ persisted sq_quantizer") {
    val stored = Embeddings.sqLohiOf(Embeddings.quantized(spark, sf))
    val persisted = spark.read.parquet(s"$indexDir/${IncrementalIndex.SqQuantizer}")
    assertSameRows(stored, persisted, "sq quantizer")
  }

  test("LSH bucket table: in-JVM memo ≡ persisted lsh_buckets") {
    val stored = Embeddings.bucketedOf(spark, sf)
    val persisted = IncrementalIndex.probeLshBuckets(spark, indexDir)
    assertSameRows(stored, persisted, "lsh buckets")
  }

  test("ground-truth table: in-JVM memo ≡ persisted truth_topk") {
    val stored = Embeddings.bruteRankedOf(spark, sf)
    val persisted = IncrementalIndex.probeTruth(spark, indexDir)
    assertSameRows(stored, persisted, "ground truth")
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
