package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.BloomFilter
import graft.jobs.IncrementalIndex
import graft.operators.LlmText

/** The Bloom-join laws d49/st23 stand on (functions/BloomFilter.scala):
  * no false negatives (so the prefiltered exact join IS the exact
  * join), bounded measured FPR, the OR merge lattice, the persisted
  * store round-trip, and the candidate-volume reduction the filter is
  * deployed for.
  */
class BloomFilterSpec extends GraftSuite {

  private def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    val cols = a.columns.sorted.toIndexedSeq.map(col)
    val (x, y) = (a.select(cols: _*), b.select(cols: _*))
    assert(x.count() === y.count(), s"$what: row counts differ")
    assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty,
      s"$what: row sets differ")
  }

  /** The benchmark's capped rare-shingle set — the filter's build keys
    * (d18/d49's `rare`). */
  private lazy val rareShingles: DataFrame = {
    val ex = LlmText.shingleSetsFrom(spark, Tables.documents(spark, sf))
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
    ex.where(col("doc_id") % LlmText.ContaminationMod === 0)
      .groupBy(col("shingle"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .where(col("df") <= LlmText.BenchHotShingleCap)
      .select(col("shingle"))
      .localCheckpoint()
  }

  /** Train-side distinct shingles NOT in the build set — pure
    * false-positive probes. */
  private lazy val probeOnly: DataFrame = {
    val ex = LlmText.shingleSetsFrom(spark, Tables.documents(spark, sf))
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
    ex.where(col("doc_id") % LlmText.ContaminationMod =!= 0)
      .select(col("shingle")).distinct()
      .join(rareShingles, Seq("shingle"), "left_anti")
      .localCheckpoint()
  }

  test("d49 bloom-prefiltered decontamination is row-identical to exact d18") {
    assertSameRows(
      LlmText.d18Contamination(spark, sf),
      LlmText.d49BloomDecontamination(spark, sf),
      "d49 vs d18")
  }

  test("no false negatives: every inserted key probes true") {
    val bits = BloomFilter.DefaultBits
    val k = BloomFilter.DefaultK
    val words = BloomFilter.buildWords(rareShingles, "shingle", bits, k)
    val misses = rareShingles
      .where(!BloomFilter.mightContain(words, col("shingle"), bits, k))
      .count()
    assert(misses === 0L, s"$misses inserted keys probed false")
  }

  test("native bloom_probe expression is verdict-identical to the composable chain") {
    // the hash-identity contract of BloomProbeExpr: the native probe
    // must reproduce the SQL-built filter's bit arithmetic exactly —
    // probe the FULL corpus shingle stream (hits, misses, both hash
    // tails) both ways at two geometries and diff the verdict columns
    val all = LlmText.shingleSetsFrom(spark, Tables.documents(spark, sf))
      .select(explode(col("sh")).as("shingle"))
    for ((bits, k) <- Seq((BloomFilter.DefaultBits, BloomFilter.DefaultK), (4096, 3))) {
      val words = BloomFilter.buildWords(rareShingles, "shingle", bits, k)
      val disagree = all
        .withColumn("slow", BloomFilter.mightContain(words, col("shingle"), bits, k))
        .withColumn("fast", BloomFilter.mightContainFast(spark, words, col("shingle"), bits, k))
        .where(col("slow") =!= col("fast"))
        .count()
      assert(disagree === 0L,
        s"bits=$bits k=$k: $disagree shingles probe differently native vs composable")
      // and the native path must actually be in play under the test
      // session (the extension registers it)
      assert(spark.catalog.functionExists(graft.functions.BloomProbeExpr.Name))
    }
  }

  test("measured FPR on disjoint probes stays within the theoretical bound") {
    // deliberately tight geometry so the theoretical FPR is ~0.1 and the
    // measurement is a real read, not a zero-vs-zero triviality
    val bits = 8192
    val k = 4
    val n = rareShingles.count()
    val words = BloomFilter.buildWords(rareShingles, "shingle", bits, k)
    val probes = probeOnly.count()
    val fps = probeOnly
      .where(BloomFilter.mightContain(words, col("shingle"), bits, k))
      .count()
    val observed = fps.toDouble / probes
    val theory = BloomFilter.theoreticalFpr(n, bits, k)
    assert(theory > 0.01 && theory < 0.6,
      s"fixture drifted out of the informative band: theory=$theory (n=$n)")
    assert(observed <= 2.5 * theory,
      s"observed FPR $observed exceeds 2.5x theoretical $theory (n=$n, probes=$probes)")
  }

  test("candidate-volume reduction: the prefilter passes a small fraction of train shingles") {
    val bits = BloomFilter.DefaultBits
    val k = BloomFilter.DefaultK
    val words = BloomFilter.buildWords(rareShingles, "shingle", bits, k)
    val ex = LlmText.shingleSetsFrom(spark, Tables.documents(spark, sf))
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .where(col("doc_id") % LlmText.ContaminationMod =!= 0)
    val total = ex.count()
    val passed = ex
      .where(BloomFilter.mightContain(words, col("shingle"), bits, k))
      .count()
    // at the default geometry FPR is ~1e-4, so what passes is essentially
    // the true overlap — the join's probe volume drops by > 2x on the
    // fixture and by the corpus/benchmark ratio at scale
    assert(passed * 2 < total,
      s"prefilter passed $passed of $total train shingles — no reduction")
  }

  test("merge law: union of partial filters equals the filter of the union") {
    val bits = 4096
    val k = 3
    val a = rareShingles.where(xxhash64(col("shingle")) % 2 === 0)
    val b = rareShingles.where(xxhash64(col("shingle")) % 2 =!= 0)
    val merged = BloomFilter.union(
      BloomFilter.buildWords(a, "shingle", bits, k),
      BloomFilter.buildWords(b, "shingle", bits, k))
    val oneShot = BloomFilter.buildWords(rareShingles, "shingle", bits, k)
    assert(merged.sameElements(oneShot),
      "word-wise OR of partial filters differs from the one-shot filter")
  }

  test("persisted bloom store round-trips: stored words equal a fresh build, probe equals exact") {
    val bits = BloomFilter.DefaultBits
    val k = BloomFilter.DefaultK
    val dir = Files.createTempDirectory("graft-bloom-store-").toString
    val docs = Tables.documents(spark, sf)
    val bench = docs.where(col("doc_id") % LlmText.ContaminationMod === 0)
    IncrementalIndex.writeBenchIndex(spark, bench, dir)
    IncrementalIndex.writeBloomIndex(spark, bench, dir, bits, k)
    import spark.implicits._
    val stored = spark.read.parquet(s"$dir/${IncrementalIndex.BloomWords}")
    assert(stored.schema.map(f => f.name -> f.dataType) ===
      IncrementalIndex.BloomSchema.map(f => f.name -> f.dataType),
      "the probe reads the store with a schema other than its writer's")
    val (sb, sk) = stored.select(col("bits"), col("k")).as[(Int, Int)].head()
    assert(sb === bits && sk === k, "stored geometry differs from the build call")
    val roundTrip = BloomFilter.dense(
      stored.select(col("widx"), col("word")).as[(Long, Long)].collect().toSeq, bits)
    val fresh = BloomFilter.buildWords(rareShingles, "shingle", bits, k)
    assert(roundTrip.sameElements(fresh),
      "persisted words differ from an in-memory build over the same keys")
    val train = docs.where(col("doc_id") % LlmText.ContaminationMod =!= 0)
    assertSameRows(
      IncrementalIndex.probeBench(spark, train, dir),
      IncrementalIndex.probeBenchBloom(spark, train, dir),
      "stored bloom probe vs stored exact probe")
  }

  test("geometry guard: probing with mismatched words length throws") {
    intercept[IllegalArgumentException] {
      BloomFilter.mightContain(new Array[Long](10), lit("x"), 4096, 3)
    }
    intercept[IllegalArgumentException] {
      BloomFilter.wordsDF(rareShingles, "shingle", 100, 3) // not a multiple of 64
    }
  }
}
