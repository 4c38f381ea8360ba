package graft

import org.apache.spark.sql.functions._
import graft.operators.{Embeddings, LlmText}

class LlmTextSpec extends GraftSuite {

  test("d01: dedup groups partition the corpus") {
    val df = LlmText.d01ExactDedup(spark, sf)
    val total = Tables.documents(spark, sf).count()
    assert(df.agg(sum("n_dups")).collect()(0).getLong(0) === total)
    assert(df.select("content_hash").distinct().count() === df.count())
  }

  test("d03: LSH candidates are valid ordered pairs with jaccard in [0,1]") {
    val rows = LlmText.d03LshNeardup(spark, sf).collect()
    assert(rows.nonEmpty, "banded LSH found no candidates on the fixture")
    rows.foreach { r =>
      assert(r.getLong(1) < r.getLong(0) || r.getLong(0) < r.getLong(1))
      val j = r.getDouble(2)
      assert(j >= 0.0 && j <= 1.0)
    }
    // the fixture plants near-duplicates: LSH must surface at least one
    assert(rows.exists(_.getDouble(2) > 0.8), "no near-dup pair found by LSH")
  }

  test("d04: blocked jaccard pairs all meet the threshold; near-dup pair agrees with LSH") {
    val rows = LlmText.d04JaccardNeardup(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(3) >= LlmText.JaccardThreshold))
  }

  test("d14: cluster assignment is a valid connected-component labeling") {
    val rows = LlmText.d14NeardupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.nonEmpty, "fixture's planted near-dups should form clusters")
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      // the label is the minimum member and is itself a member
      assert(members.map(_._1).min === cid, s"cluster $cid labels: $members")
    }
    // transitivity: every edge endpoint pair shares a cluster
    val label = rows.toMap
    LlmText.d03LshNeardup(spark, sf)
      .where(col("jaccard") >= LlmText.NeardupThreshold)
      .collect().foreach { r =>
        val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
        assert(label(a) === label(b), s"edge ($a,$b) split across clusters")
      }
  }

  test("d03: hot-bucket cap drops oversized band buckets, off by default") {
    val uncapped = LlmText.d03LshNeardup(spark, sf).collect()
      .map(_.toString).sorted.toSeq
    // cap of 1: no bucket can hold a pair → zero candidates
    spark.conf.set(LlmText.MaxBucketConf, "1")
    try {
      assert(LlmText.d03LshNeardup(spark, sf).isEmpty,
        "cap=1 must eliminate every candidate pair")
    } finally spark.conf.unset(LlmText.MaxBucketConf)
    // a cap far above any fixture bucket size: identical to uncapped
    spark.conf.set(LlmText.MaxBucketConf, "1000000")
    try {
      val capped = LlmText.d03LshNeardup(spark, sf).collect()
        .map(_.toString).sorted.toSeq
      assert(capped === uncapped)
    } finally spark.conf.unset(LlmText.MaxBucketConf)
  }

  test("d03: r=2 banding yields a subset of the r=1 candidate pairs") {
    def pairs(): Set[(Long, Long)] = LlmText.d03LshNeardup(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val r1 = pairs()
    spark.conf.set(LlmText.BandRowsConf, "2")
    try {
      val r2 = pairs()
      assert(r2.nonEmpty, "fixture's planted near-dups should survive r=2 banding")
      assert(r2.subsetOf(r1), s"r=2 produced pairs absent at r=1: ${r2 -- r1}")
      assert(r2.size < r1.size, "r=2 should prune some lower-similarity candidates")
    } finally spark.conf.unset(LlmText.BandRowsConf)
  }

  test("e05: raising nprobe never worsens a query's best match") {
    def best(): Map[Long, Double] = Embeddings.e05IvfAnn(spark, sf).collect()
      .filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("cos")).toMap
    val np1 = best()
    spark.conf.set(Embeddings.NprobeConf, "3")
    try {
      val np3 = best()
      assert(np3.keySet.size >= np1.keySet.size,
        "probing more cells must not lose queries")
      np1.foreach { case (q, cos1) =>
        assert(np3(q) >= cos1, s"query $q best match degraded: ${np3(q)} < $cos1")
      }
      assert(np1.exists { case (q, cos1) => np3(q) > cos1 },
        "nprobe=3 should improve at least one best match on this fixture")
    } finally spark.conf.unset(Embeddings.NprobeConf)
  }

  test("e05: raising nprobe raises AUDITED recall (the e07 loop sees the lever)") {
    import graft.operators.Embeddings
    def ivfHits(): Long = Embeddings.e07RecallAudit(spark, sf).collect()
      .find(_.getString(0) == "ivf_nprobe").get.getLong(2)
    val base = ivfHits()
    spark.conf.set(Embeddings.NprobeConf, "3")
    try assert(ivfHits() > base,
      s"nprobe=3 did not raise audited recall past $base")
    finally spark.conf.unset(Embeddings.NprobeConf)
  }

  test("d05: simhash fits the configured bit width and is deterministic") {
    val a = LlmText.d05Simhash(spark, sf).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = LlmText.d05Simhash(spark, sf).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
    a.values.foreach(v => assert(v >= 0L && v < (1L << LlmText.SimhashBits)))
  }

  test("d05: fused native simhash equals the aggregate-pipeline fallback") {
    assert(spark.catalog.functionExists(graft.functions.SimHashExpr.Name))
    val native = LlmText.d05Simhash(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = LlmText.d05SimhashAgg(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native === agg)
  }

  test("d06: stats are internally consistent") {
    LlmText.d06TextStats(spark, sf).collect().foreach { r =>
      val nTokens = r.getInt(r.fieldIndex("n_tokens"))
      val nDistinct = r.getInt(r.fieldIndex("n_distinct"))
      assert(nDistinct <= nTokens && nDistinct > 0)
      val sr = r.getDouble(r.fieldIndex("stopword_ratio"))
      assert(sr >= 0.0 && sr <= 1.0)
    }
  }

  test("d07: predicted language is a known code") {
    val langs = Set("en", "es", "de", "fr", "und")
    LlmText.d07LangId(spark, sf).collect()
      .foreach(r => assert(langs.contains(r.getString(2))))
  }

  test("e01/e02: ranking contract — dense ranks, cosine in [-1,1], bucketed ⊆ brute force top quality") {
    val brute = Embeddings.e01KnnBrute(spark, sf).collect()
    val byQuery = brute.groupBy(_.getLong(0))
    byQuery.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq === (1 to sorted.length))
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a.getDouble(2) >= b.getDouble(2)
        case _ => true
      })
      sorted.foreach(r => assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
    }
    val bucketed = Embeddings.e02AnnBucketed(spark, sf).collect()
    assert(bucketed.nonEmpty)
    bucketed.groupBy(_.getLong(1)).foreach { case (_, rows) =>
      assert(rows.length <= 3)
    }
  }

  test("e03: label centroid stats cover all vectors") {
    val df = Embeddings.e03LabelCentroids(spark, sf)
    val total = Tables.embeddings(spark, sf).count()
    assert(df.agg(sum("n_vecs")).collect()(0).getLong(0) === total)
    df.collect().foreach(r => assert(r.getLong(2) >= 0L))
  }

  test("d05: native path agrees with the fallback when text is NULL (both drop the doc)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-nulldoc-").toString
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en", "web", 43L),
      (2L, null.asInstanceOf[String], "en", "web", 0L),
      (3L, "pack my box with five dozen liquor jugs", "en", "web", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val native = LlmText.d05Simhash(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = LlmText.d05SimhashAgg(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native === agg)
    assert(native.keySet === Set(1L, 3L), s"NULL doc must yield no row: $native")
  }

  private def chainPairs(n: Long) = {
    import spark.implicits._
    (0L until n).sliding(2).map(w => (w(0), w(1))).toSeq.toDF("doc_a", "doc_b")
  }

  test("d14 guard: min-label propagation throws when the round cap is hit") {
    intercept[IllegalStateException] {
      LlmText.minLabelComponents(chainPairs(30), maxRounds = 3)
    }
  }

  test("d17: star alternation converges in O(log n) rounds on a chain min-label can't finish") {
    val n = 64L
    val (labels, rounds) =
      LlmText.starComponentsWithRounds(chainPairs(n), LlmText.MaxStarRounds)
    // diameter 63: min-label propagation needs 63 rounds; the star
    // alternation must land in O(log n)
    assert(rounds <= 12, s"expected O(log n) rounds on a 64-chain, got $rounds")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L until n).map(_ -> 0L).toMap)
  }

  test("d17 equals d14 on the fixture corpus") {
    val star = LlmText.d17StarClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop = LlmText.d14NeardupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === prop)
  }

  test("d18: contamination pairs split train/bench correctly, thresholded, no cartesian") {
    val df = LlmText.d18Contamination(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"shingle join must be an equi-join:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getLong(0) % LlmText.ContaminationMod !== 0L, "train side must exclude benchmark docs")
      assert(r.getLong(1) % LlmText.ContaminationMod === 0L, "bench side must be benchmark docs")
      assert(r.getLong(2) >= LlmText.ContaminationMinShared)
    }
    // deterministic across runs
    val again = LlmText.d18Contamination(spark, sf).collect()
    assert(rows.map(_.toString).sorted.toSeq === again.map(_.toString).sorted.toSeq)
  }

  test("d19: every doc profiled, shares bounded, clones detected") {
    val rows = LlmText.d19LineDedup(spark, sf).collect()
    assert(rows.length === Tables.documents(spark, sf).count())
    for (r <- rows) {
      val (n, dup, share) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(n > 0 && dup >= 0 && dup <= n)
      assert(share >= 0.0 && share <= 1.0 && share === dup.toDouble / n)
    }
    // the fixture's near-dup clones share whole segments
    assert(rows.exists(_.getDouble(3) > 0.5), "clone-heavy docs must surface")
  }

  test("d20: unigram scores are probabilities, cover the corpus, and rank common-token docs higher") {
    val rows = LlmText.d20UnigramScore(spark, sf).collect()
    assert(rows.length === Tables.documents(spark, sf).count(), "every doc scored")
    rows.foreach { r =>
      val p = r.getDouble(2)
      assert(p > 0.0 && p <= 1.0, s"mean_prob out of range: $p")
    }
    // the signal must separate the fixture: common-vocabulary docs score
    // strictly above the corpus's rare-vocabulary tail
    val scores = rows.map(_.getDouble(2)).sorted
    assert(scores.head < scores.last, "degenerate constant score")
  }

  test("d21: temperature sampling keeps the hash-selected subset at the √(C/n) rate") {
    val docs = Tables.documents(spark, sf)
    val perLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = LlmText.d21TemperatureSample(spark, sf).collect()
    assert(rows.nonEmpty)
    val byLang = rows.groupBy(_.getString(1))
    for ((lang, kept) <- byLang) {
      val n = perLang(lang)
      val expectRate = math.min(1.0, math.sqrt(LlmText.TempBudget.toDouble / n))
      // every row carries the lang's true count and rate
      kept.foreach { r =>
        assert(r.getLong(2) === n)
        assert(r.getDouble(3) === expectRate, s"$lang keep_rate")
      }
      // kept fraction within a loose binomial bound of the rate (the
      // hash is uniform; 3σ over n trials)
      val frac = kept.length.toDouble / n
      val sigma = math.sqrt(expectRate * (1 - expectRate) / n)
      assert(math.abs(frac - expectRate) <= math.max(3 * sigma, 0.05),
        s"$lang kept $frac of $n vs rate $expectRate")
    }
    // the flattening property: the dominant language is sampled hardest
    val enRate = math.sqrt(LlmText.TempBudget.toDouble / perLang("en"))
    assert(perLang.keys.forall(l => l == "en" ||
      math.min(1.0, math.sqrt(LlmText.TempBudget.toDouble / perLang(l))) >= enRate),
      "largest language must have the lowest keep rate")
    // determinism: a second run selects the identical subset
    val again = LlmText.d21TemperatureSample(spark, sf).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(again === rows.map(_.getLong(0)).sorted.toSeq)
  }

  test("d22: LSH recall audit — found ⊆ truth, counts tie to d03, sampling bounds the slice") {
    val Seq(row) = LlmText.d22LshRecallAudit(spark, sf).collect().toSeq
    val (nTruth, nFound, recall) = (row.getLong(0), row.getLong(1), row.getDouble(2))
    assert(nTruth > 0, "fixture's planted near-dups must appear in the truth set")
    assert(nFound >= 0 && nFound <= nTruth, "verification makes found ⊆ truth")
    assert(recall === nFound.toDouble / nTruth.toDouble)
    // the found side IS d03 at the threshold
    val d03AtT = LlmText.d03LshNeardup(spark, sf)
      .where(col("jaccard") >= LlmText.NeardupThreshold).count()
    assert(nFound === d03AtT)
    // 8 r=1 bands at this shingle overlap: the planted dups collide
    assert(recall > 0.5, s"default banding should catch most planted dups, got $recall")
    // sampled audit: both sides restricted to the doc_id % 2 slice
    spark.conf.set(LlmText.AuditSampleConf, "2")
    try {
      val Seq(s2) = LlmText.d22LshRecallAudit(spark, sf).collect().toSeq
      assert(s2.getLong(0) <= nTruth, "sampling cannot grow the truth set")
      assert(s2.getLong(1) <= s2.getLong(0))
    } finally spark.conf.unset(LlmText.AuditSampleConf)
  }

  test("d23: packing is a gapless head-to-tail layout within every shard") {
    val rows = LlmText.d23SequencePack(spark, sf).collect()
    assert(rows.length === Tables.documents(spark, sf).count(), "every doc packed")
    val byShard = rows.groupBy(_.getLong(1))
    assert(byShard.size > 1, "hash sharding should spread the fixture")
    for ((shard, docs) <- byShard) {
      // reconstruct the layout: start offsets are cumulative token
      // counts, so sorted by (seq, offset) the docs must tile the
      // shard's token stream without gaps or overlaps
      val laid = docs.map(r => (r.getLong(3), r.getLong(4), r.getInt(2))) // seq, offset, n
        .sortBy(t => (t._1, t._2))
      var pos = 0L
      for ((seq, off, n) <- laid) {
        assert(seq === pos / LlmText.PackBudget, s"shard $shard: seq breaks at pos $pos")
        assert(off === pos % LlmText.PackBudget, s"shard $shard: offset breaks at pos $pos")
        pos += n
      }
    }
    // determinism across invocations (hash order, not rand/PRNG)
    val again = LlmText.d23SequencePack(spark, sf).collect()
      .map(_.toString).sorted.toSeq
    assert(again === rows.map(_.toString).sorted.toSeq)
    // the shard-count lever: same corpus, 4 shards — every doc still
    // packed and the tiling contract holds per shard
    spark.conf.set(LlmText.PackShardsConf, "4")
    try {
      val at4 = LlmText.d23SequencePack(spark, sf).collect()
      assert(at4.length === rows.length)
      val shards4 = at4.map(_.getLong(1)).distinct.sorted.toSeq
      assert(shards4.forall(s => s >= 0 && s < 4) && shards4.length <= 4)
      for ((shard, docs) <- at4.groupBy(_.getLong(1))) {
        val laid = docs.map(r => (r.getLong(3), r.getLong(4), r.getInt(2)))
          .sortBy(t => (t._1, t._2))
        var pos = 0L
        for ((seq, off, n) <- laid) {
          assert(seq === pos / LlmText.PackBudget && off === pos % LlmText.PackBudget,
            s"4-shard packing breaks in shard $shard at pos $pos")
          pos += n
        }
      }
    } finally spark.conf.unset(LlmText.PackShardsConf)
  }

  test("d24: source rollup ties to d06 quality flags and d01 dup groups") {
    val rows = LlmText.d24SourceCuration(spark, sf).collect()
    val srcOf = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.map(_.getString(0)).toSet === srcOf.values.toSet, "every source rolled up")
    // quality count per source must equal d06's flag aggregated by source
    val qBySrc = LlmText.d06TextStats(spark, sf).select("doc_id", "is_quality").collect()
      .map(r => srcOf(r.getLong(0)) -> (if (r.getBoolean(1)) 1L else 0L))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    // dup docs = members of d01 groups with n_dups > 1
    val nDupTotal = LlmText.d01ExactDedup(spark, sf)
      .where(col("n_dups") > 1)
      .agg(coalesce(sum("n_dups"), lit(0L))).collect()(0).getLong(0)
    var dupSum = 0L
    rows.foreach { r =>
      val (src, nDocs, nQ) = (r.getString(0), r.getLong(1), r.getDouble(4) * r.getLong(1))
      assert(math.round(nQ) === qBySrc(src), s"$src quality share")
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
      dupSum += math.round(r.getDouble(5) * nDocs)
      assert(r.getBoolean(6) === (r.getDouble(4) >= 0.5 && r.getDouble(5) <= 0.25))
    }
    assert(dupSum === nDupTotal, "per-source dup counts must partition d01's dup members")
  }

  test("d25: manifest is exactly kept-source ∩ survivor ∩ sampled, packed gaplessly") {
    val man = LlmText.d25CurationManifest(spark, sf).collect()
    val keptSrc = LlmText.d24SourceCuration(spark, sf).collect()
      .filter(_.getBoolean(6)).map(_.getString(0)).toSet
    val surv = LlmText.d09NeardupSurvivors(spark, sf).collect().map(_.getLong(0)).toSet
    val samp = LlmText.d21TemperatureSample(spark, sf).collect().map(_.getLong(0)).toSet
    val expected = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .filter(r => keptSrc(r.getString(1)) && surv(r.getLong(0)) && samp(r.getLong(0)))
      .map(_.getLong(0)).toSet
    assert(man.map(_.getLong(0)).toSet === expected, "manifest membership")
    assert(man.nonEmpty && man.length < Tables.documents(spark, sf).count(),
      "the pipeline must actually curate")
    // the packing kernel tiles the SUBSET gaplessly (same contract d23
    // pins corpus-wide — the window runs over survivors only)
    for ((shard, docs) <- man.groupBy(_.getLong(4))) {
      val laid = docs.map(r => (r.getLong(5), r.getLong(6), r.getInt(3)))
        .sortBy(t => (t._1, t._2))
      var pos = 0L
      for ((seq, off, n) <- laid) {
        assert(seq === pos / LlmText.PackBudget && off === pos % LlmText.PackBudget,
          s"shard $shard not gapless at pos $pos")
        pos += n
      }
    }
  }

  test("e02: multi-probe widens the candidate set, never worsens a best match, and raises audited recall") {
    import graft.operators.Embeddings
    def best(rows: Array[org.apache.spark.sql.Row]): Map[Long, Double] =
      rows.filter(_.getInt(4) == 1).map(r => r.getLong(1) -> r.getDouble(3)).toMap
    val base = Embeddings.e02AnnBucketed(spark, sf).collect()
    val baseHits = Embeddings.e07RecallAudit(spark, sf).collect()
      .find(_.getString(0) == "lsh_bucketed").get.getLong(2)
    spark.conf.set(Embeddings.MultiProbeConf, "2")
    try {
      val probed = Embeddings.e02AnnBucketed(spark, sf).collect()
      // probe buckets are extra distinct buckets → candidate growth
      assert(probed.length >= base.length)
      // per-query candidates are a superset → the best match only improves
      val (b0, b2) = (best(base), best(probed))
      b0.foreach { case (q, cos) => assert(b2(q) >= cos, s"query $q best match worsened") }
      // and the e07 audit must SEE the lever: strictly more truth hits
      // (2 extra probed buckets on a 16-bucket/500-vector fixture)
      val probedHits = Embeddings.e07RecallAudit(spark, sf).collect()
        .find(_.getString(0) == "lsh_bucketed").get.getLong(2)
      assert(probedHits > baseHits,
        s"multi-probe did not raise audited recall: $baseHits -> $probedHits")
    } finally spark.conf.unset(Embeddings.MultiProbeConf)
  }

  test("d21/d23/d25: hash-deterministic ops are shuffle-partitioning invariant") {
    // the determinism claim is that membership/order come from the
    // portable content hash, never from physical layout — so the same
    // corpus must produce BYTE-identical results at any partitioning
    def snap(): Seq[Seq[String]] = Seq(
      LlmText.d21TemperatureSample(spark, sf),
      LlmText.d23SequencePack(spark, sf),
      LlmText.d25CurationManifest(spark, sf)
    ).map(_.collect().map(_.toString).sorted.toSeq)
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    val Seq(base21, base23, base25) = snap()
    try {
      for (parts <- Seq("2", "13")) {
        spark.conf.set(key, parts)
        val Seq(p21, p23, p25) = snap()
        assert(p21 === base21, s"d21 diverges at $parts partitions")
        assert(p23 === base23, s"d23 diverges at $parts partitions")
        assert(p25 === base25, s"d25 diverges at $parts partitions")
      }
    } finally spark.conf.set(key, saved)
  }

  test("d26: banded simhash pairs are EXACTLY the brute-force hamming set (pigeonhole completeness)") {
    val sigs = LlmText.d05Simhash(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ida, sa) <- sigs
      (idb, sb) <- sigs
      if ida < idb && java.lang.Long.bitCount(sa ^ sb) <= LlmText.HammingK
    } yield (ida, idb, java.lang.Long.bitCount(sa ^ sb))).toSet
    val banded = LlmText.d26SimhashNeardup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded === brute,
      "k+1-band candidate generation must be COMPLETE for hamming <= k")
    assert(banded.nonEmpty, "fixture's planted near-dups should land within the radius")
  }

  test("e07/e07b/e07c: recall audits are consistent and every path audits somewhere") {
    import graft.operators.Embeddings
    // the round-13 governance split: core four / quantized four /
    // graph two — ten paths total, none dropped, no family pricing as
    // the whole suite
    val core = Embeddings.e07RecallAudit(spark, sf).collect()
    val quant = Embeddings.e07bRecallQuantized(spark, sf).collect()
    val graph = Embeddings.e07cRecallGraph(spark, sf).collect()
    assert(core.length === 4 && quant.length === 4 && graph.length === 2)
    val rows = core ++ quant ++ graph
    val truthPairs = Embeddings.e01KnnBrute(spark, sf)
      .where(col("rank") <= Embeddings.RecallK).count()
    rows.foreach { r =>
      assert(r.getLong(1) === truthPairs, "n_truth must be the brute-force pair count")
      assert(r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1))
      val recall = r.getDouble(3)
      assert(recall >= 0.0 && recall <= 1.0)
      assert(recall === r.getLong(2).toDouble / r.getLong(1).toDouble)
    }
    assert(rows.map(_.getLong(2)).sum > 0, "no ANN path found any truth pair")
    assert(rows.map(_.getString(0)).toSet ===
      Set("lsh_bucketed", "ivf_nprobe", "sketch_rerank", "ivf_sketch_rerank",
        "ivf_pq_adc", "residual_pq", "sq8_rerank", "ivf_sq_rerank",
        "nn_descent", "graph_serve"),
      "the split families must still audit all ten paths")
    // cross-family quality laws survive the split (n_truth equal above
    // makes the recalls directly comparable)
    val byM = rows.map(r => r.getString(0) -> r.getDouble(3)).toMap
    // the 255-level SQ grid must not audit below the 1-bit sketch path
    assert(byM("sq8_rerank") >= byM("sketch_rerank"),
      s"SQ8 recall ${byM("sq8_rerank")} below 1-bit sketch ${byM("sketch_rerank")}")
    // the graph round keeps every table-A seed as a candidate, so it can
    // never audit below the single-table LSH path it refines
    assert(byM("nn_descent") >= byM("lsh_bucketed"),
      s"NN-Descent ${byM("nn_descent")} below its LSH seed ${byM("lsh_bucketed")}")
    // the serve beam's seed contains the bucket path's top-3, so the
    // stored-graph navigation can never audit below the bucket path
    assert(byM("graph_serve") >= byM("lsh_bucketed"),
      s"graph serve ${byM("graph_serve")} below its bucket seed ${byM("lsh_bucketed")}")
  }

  test("d27: rule verdicts recompute, keep is the exact conjunction, stopword rule ties to the text") {
    val docs = Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val rows = LlmText.d27GopherRules(spark, sf).collect()
    assert(rows.length === docs.size, "every document gets a verdict row")
    rows.foreach { r =>
      val conj = Seq("words_ok", "mean_len_ok", "symbol_ok", "alpha_ok",
        "bullet_ok", "ellipsis_ok", "stop_ok").forall(c => r.getAs[Boolean](c))
      assert(r.getAs[Boolean]("keep") === conj, s"keep != AND(rules) for ${r}")
      val nWords = r.getAs[Int]("n_words")
      assert(r.getAs[Boolean]("words_ok") ===
        (nWords >= LlmText.GopherMinWords && nWords <= LlmText.GopherMaxWords))
      // fixture vocabulary holds exactly one Gopher stopword ("the")
      val hasThe = docs(r.getAs[Long]("doc_id"))
        .toLowerCase.split("\\s+").contains("the")
      assert(r.getAs[Boolean]("stop_ok") === hasThe)
    }
  }

  test("d28: strip conserves d19's segments and reassembles untouched docs to their norm text") {
    val clean = LlmText.d28StripDupLines(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_stripped"), r.getAs[Long]("n_kept"), r.getAs[String]("clean_text"))).toMap
    // conservation: kept + stripped == d19's per-doc segment count
    LlmText.d19LineDedup(spark, sf).collect().foreach { r =>
      val (s, k, _) = clean(r.getAs[Long]("doc_id"))
      assert(s + k === r.getAs[Long]("n_lines"), "segments lost or double-counted")
    }
    // identity: a doc with nothing stripped reassembles to its exact norm text
    val norm = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.functions.Portable.normText(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val untouched = clean.filter(_._2._1 == 0L)
    assert(untouched.nonEmpty, "fixture should have docs with no boilerplate segments")
    untouched.foreach { case (id, (_, _, text)) =>
      assert(text === norm(id), s"reassembly of untouched doc $id must be the identity")
    }
    // the planted exact clones share every segment → stripped to empty
    val fullyStripped = clean.count(_._2._2 == 0L)
    assert(fullyStripped > 0, "planted clone docs must strip to empty")
  }

  test("e08: sketch-rerank returns exact top-k per query with high recall vs brute force") {
    val got = Embeddings.e08SketchRerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val byQuery = got.groupBy(_._1)
    byQuery.values.foreach(rows =>
      assert(rows.map(_._4).sorted.toSeq === (1 to Embeddings.TopK), "dense ranks 1..k"))
    val truth = Embeddings.e01KnnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(byQuery.keySet === truth.map(_._1).toSet, "same query subsample as e01")
    // exact stage: any pair surviving to the output carries the SAME
    // exact cosine the brute-force path computed
    val truthCos = truth.map(t => (t._1, t._2) -> t._3).toMap
    got.foreach { case (q, n, c, _) =>
      truthCos.get((q, n)).foreach(tc => assert(c === tc, s"cos mismatch for ($q,$n)"))
    }
    // recall@k: the coarse sketch keeps a usable share of the true
    // neighborhood on structureless gaussian vectors (the same honest
    // regime as the e07 audit) ...
    val truthSet = truth.map(t => (t._1, t._2)).toSet
    val hits = got.count(g => truthSet.contains((g._1, g._2)))
    val recall = hits.toDouble / truthSet.size
    assert(recall >= 0.4,
      s"sign-sketch rerank recall collapsed: $hits/${truthSet.size} = $recall")
    // ... and the rerank-depth lever buys recall monotonically: a larger
    // C reranks a SUPERSET of candidates, so recall can only rise
    spark.conf.set(Embeddings.RerankCConf, "100")
    try {
      val deeper = Embeddings.e08SketchRerank(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val deepHits = deeper.count(truthSet.contains)
      assert(deepHits > hits,
        s"C=100 should beat C=default on this fixture: $deepHits vs $hits")
    } finally spark.conf.unset(Embeddings.RerankCConf)
  }

  test("e10: composed two-stage keeps exact cosines and rerank depth buys recall") {
    val got = Embeddings.e10IvfSketchRerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val byQuery = got.groupBy(_._1)
    byQuery.values.foreach(rows =>
      assert(rows.map(_._4).sorted.toSeq === (1 to rows.length), "dense ranks"))
    val truth = Embeddings.e01KnnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(byQuery.keySet === truth.map(_._1).toSet, "same query subsample as e01")
    // exact stage: surviving pairs carry the brute-force cosine verbatim
    val truthCos = truth.map(t => (t._1, t._2) -> t._3).toMap
    got.foreach { case (q, n, c, _) =>
      truthCos.get((q, n)).foreach(tc => assert(c === tc, s"cos mismatch for ($q,$n)"))
    }
    val truthSet = truth.map(t => (t._1, t._2)).toSet
    val hits = got.count(g => truthSet.contains((g._1, g._2)))
    // deeper exact stage reranks a SUPERSET of sketch survivors within
    // the same cells: per-query the final top-k can only improve, so
    // truth hits are monotone non-decreasing in C
    spark.conf.set(Embeddings.RerankCConf, "100")
    try {
      val deeper = Embeddings.e10IvfSketchRerank(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val deepHits = deeper.count(truthSet.contains)
      assert(deepHits >= hits,
        s"C=100 must not lose truth hits vs C=default: $deepHits vs $hits")
    } finally spark.conf.unset(Embeddings.RerankCConf)
  }

  test("e12: ADC is an estimate, the rerank is exact, and a vacuous C cut equals e10's") {
    val got = Embeddings.e12IvfPqAdc(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val byQuery = got.groupBy(_._1)
    byQuery.values.foreach(rows =>
      assert(rows.map(_._4).sorted.toSeq === (1 to rows.length), "dense ranks"))
    val truth = Embeddings.e01KnnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(byQuery.keySet === truth.map(_._1).toSet, "same query subsample as e01")
    // exact stage: surviving pairs carry the brute-force cosine verbatim
    // (PQ approximates only WHICH candidates reach the rerank, never the
    // score they are finally ranked by)
    val truthCos = truth.map(t => (t._1, t._2) -> t._3).toMap
    got.foreach { case (q, n, c, _) =>
      truthCos.get((q, n)).foreach(tc => assert(c === tc, s"cos mismatch for ($q,$n)"))
    }
    // rerank-depth law (the e08/e10 monotonicity): deeper C reranks a
    // SUPERSET of ADC survivors, so truth hits cannot drop
    val truthSet = truth.map(t => (t._1, t._2)).toSet
    val hits = got.count(g => truthSet.contains((g._1, g._2)))
    spark.conf.set(Embeddings.RerankCConf, "100")
    try {
      val deeper = Embeddings.e12IvfPqAdc(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val deepHits = deeper.count(truthSet.contains)
      assert(deepHits >= hits,
        s"C=100 must not lose truth hits vs C=default: $deepHits vs $hits")
      // with C past every cell's size BOTH compressed coarse stages (e10
      // sketch hamming, e12 PQ-ADC) pass every cell member through, so
      // the two paths collapse to the same exact within-cell top-k —
      // pinning that the PQ plumbing changes candidate SELECTION only
      spark.conf.set(Embeddings.RerankCConf, "100000")
      val allPq = Embeddings.e12IvfPqAdc(spark, sf).collect().map(_.toString).sorted.toSeq
      val allSk = Embeddings.e10IvfSketchRerank(spark, sf).collect().map(_.toString).sorted.toSeq
      assert(allPq === allSk, "vacuous coarse cuts must agree exactly")
    } finally spark.conf.unset(Embeddings.RerankCConf)
  }

  test("e13: residual encoding keeps exact rerank scores and collapses to e10/e12 at vacuous C") {
    val got = Embeddings.e13ResidualPq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val byQuery = got.groupBy(_._1)
    byQuery.values.foreach(rows =>
      assert(rows.map(_._4).sorted.toSeq === (1 to rows.length), "dense ranks"))
    val truth = Embeddings.e01KnnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(byQuery.keySet === truth.map(_._1).toSet, "same query subsample as e01")
    val truthCos = truth.map(t => (t._1, t._2) -> t._3).toMap
    got.foreach { case (q, n, c, _) =>
      truthCos.get((q, n)).foreach(tc => assert(c === tc, s"cos mismatch for ($q,$n)"))
    }
    val truthSet = truth.map(t => (t._1, t._2)).toSet
    val hits = got.count(g => truthSet.contains((g._1, g._2)))
    spark.conf.set(Embeddings.RerankCConf, "100")
    try {
      val deeper = Embeddings.e13ResidualPq(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(deeper.count(truthSet.contains) >= hits,
        "C=100 must not lose truth hits vs C=default")
      // with C past every cell's size all three compressed coarse stages
      // (e10 sketches, e12 raw PQ, e13 residual PQ) pass every cell
      // member through and collapse to the same exact within-cell top-k
      spark.conf.set(Embeddings.RerankCConf, "100000")
      val allRes = Embeddings.e13ResidualPq(spark, sf).collect().map(_.toString).sorted.toSeq
      val allSk = Embeddings.e10IvfSketchRerank(spark, sf).collect().map(_.toString).sorted.toSeq
      assert(allRes === allSk, "vacuous coarse cuts must agree exactly")
    } finally spark.conf.unset(Embeddings.RerankCConf)
  }

  test("e10: raising nprobe raises AUDITED recall (both levers reach the e07 loop)") {
    def hits(): Long = Embeddings.e07RecallAudit(spark, sf).collect()
      .find(_.getString(0) == "ivf_sketch_rerank").get.getLong(2)
    val base = hits()
    spark.conf.set(Embeddings.NprobeConf, "3")
    try assert(hits() > base,
      s"nprobe=3 did not raise e10's audited recall past $base")
    finally spark.conf.unset(Embeddings.NprobeConf)
  }

  test("e11: one Lloyd round conserves membership and cannot lower the spherical objective") {
    val rows = Embeddings.e11KmeansStep(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val total = Tables.embeddings(spark, sf).count()
    assert(rows.map(_._2).sum === total, "every vector is assigned to exactly one cell")
    rows.foreach { case (cell, _, drift) =>
      assert(drift > 0.0 && drift <= 1.0 + 1e-12,
        s"cell $cell drift_cos $drift outside (0, 1]")
    }
    // spherical k-means: reassigning against the RETRAINED centroids can
    // only raise the summed assigned-cosine objective (assignment step is
    // an argmax; the recomputed centroid is the in-cell maximizer)
    val v = Embeddings.quantizedFrom(spark,
      Tables.spreadIfNarrow(Tables.embeddings(spark, sf), s"$sf/embeddings"))
    val oldCents = Embeddings.centroidsOf(spark, v)
    def objective(cents: org.apache.spark.sql.DataFrame): Double =
      Embeddings.assignRanked(spark, v, cents).where(col("rn") === 1)
        .agg(sum(col("cos_c"))).collect()(0).getDouble(0)
    val j0 = objective(oldCents)
    val asg = Embeddings.assignRanked(spark, v, oldCents).where(col("rn") === 1)
      .select(col("cell").as("label"), col("q"))
    val newCents = Embeddings.centroidsOf(spark, asg)
    val j1 = objective(newCents)
    assert(j1 >= j0 - 1e-9, s"Lloyd step lowered the objective: $j0 -> $j1")
  }

  test("d31: per-signal verdicts agree with d09 and e04; kept is their conjunction") {
    val rows = LlmText.d31CrossmodalDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))
    val all = Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows.map(_._1).toSet === all, "one verdict per document")
    val d09Survivors = LlmText.d09NeardupSurvivors(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows.filter(_._2).map(_._1).toSet === all -- d09Survivors,
      "text_dup must be exactly the docs d09 drops")
    val e04Doomed = Embeddings.e04CosineNeardup(spark, sf)
      .select("vec_b").collect().map(_.getLong(0)).toSet
    assert(rows.filter(_._3).map(_._1).toSet === e04Doomed,
      "sem_dup must be exactly e04's later-id pair members")
    rows.foreach { case (id, t, m, k) =>
      assert(k === (!t && !m), s"kept must be the conjunction for doc $id")
    }
    assert(rows.exists(_._4) && rows.exists(!_._4), "fixture exercises both outcomes")
  }

  test("d32: split assignment is content-keyed, exhaustive, and bucket-consistent") {
    import graft.functions.Portable
    val rows = LlmText.d32SplitAssign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val n = Tables.documents(spark, sf).count()
    assert(rows.length.toLong === n, "one assignment per document")
    rows.foreach { case (id, b, s) =>
      assert(b >= 0 && b < 100, s"bucket out of range for doc $id")
      val expect = if (b < 90) "train" else if (b < 95) "val" else "test"
      assert(s === expect, s"split inconsistent with bucket for doc $id")
    }
    val bySplit = rows.groupBy(_._3).view.mapValues(_.length).toMap
    assert(bySplit.keySet === Set("train", "val", "test"),
      "fixture must exercise all three splits")
    assert(bySplit("train") > bySplit("val") + bySplit("test"),
      "train must dominate under the 90/5/5 buckets")
    // content-keyed: the bucket must be a pure function of the
    // normalized TEXT (same norm ⇒ same split, regardless of id, row
    // order, or partition layout) — recompute it from norm alone
    val bucketOf = rows.map(r => r._1 -> r._2).toMap
    Tables.documents(spark, sf)
      .select(col("doc_id"),
        (Portable.h64(concat(lit(LlmText.SplitSalt), lit("|"),
          Portable.normText(col("text")))) % 100).as("b"))
      .collect().foreach { r =>
        assert(bucketOf(r.getLong(0)) === r.getLong(1),
          s"bucket not derivable from content for doc ${r.getLong(0)}")
      }
  }

  /** Brute-force sparse tf-idf ranking from the raw text with the same
    * integer arithmetic (tf · (QuantIdf floor-div df) weights, exact
    * long dots), with terms restricted to `keepDf` — the recomputation
    * both the default and df-pruned d33 paths must reproduce verbatim. */
  private def sparseBrute(keepDf: (Long, Long) => Boolean): Set[(Long, Long, Double, Int)] = {
    import graft.functions.Portable
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), Portable.normText(col("text")).as("norm")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val nDocs = toks.size.toLong
    val tf = toks.view.mapValues(_.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }).toMap
    val df = tf.values.flatMap(_.keys).groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val w = tf.map { case (id, m) =>
      id -> m.flatMap { case (t, f) =>
        val widf = LlmText.QuantIdf / df(t)
        if (widf > 0 && keepDf(df(t), nDocs)) Some(t -> f * widf) else None
      }
    }
    val nw = w.map { case (id, m) => id -> m.values.map(x => x * x).sum }
    (for {
      q <- toks.keys.toSeq if q % LlmText.SparseQMod == 0 && nw(q) > 0
      scored = toks.keys.toSeq
        .filter(c => c != q && nw(c) > 0 && w(q).keySet.exists(w(c).keySet))
        .map { c =>
          val dot = w(q).map { case (t, wq) => wq * w(c).getOrElse(t, 0L) }.sum
          (c, dot.toDouble / (math.sqrt(nw(q).toDouble) * math.sqrt(nw(c).toDouble)))
        }
        .sortBy { case (c, cos) => (-cos, c) }
        .take(LlmText.SparseTopK)
      ((c, cos), i) <- scored.zipWithIndex
    } yield (q, c, cos, i + 1)).toSet
  }

  private def d33Rows(): Set[(Long, Long, Double, Int)] =
    LlmText.d33SparseCosine(spark, sf).collect()
      .map(r => (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("cand_id")),
        r.getDouble(r.fieldIndex("cos")), r.getInt(r.fieldIndex("rnk")))).toSet

  test("d33: inverted-index sparse cosine equals the brute-force tf-idf ranking") {
    val got = d33Rows()
    assert(got === sparseBrute((_, _) => true),
      "postings-join ranking diverged from brute force")
  }

  test("d33: the static-pruning lever is vacuous at 1000 and exact when engaged") {
    val base = d33Rows()
    spark.conf.set(LlmText.SparseMaxDfConf, "1000")
    try assert(d33Rows() === base, "permille=1000 must be the identity")
    finally spark.conf.unset(LlmText.SparseMaxDfConf)
    // engaged: results must equal the brute-force ranking restricted to
    // the surviving terms — pruning changes WHICH terms index, never the
    // arithmetic of those that do
    spark.conf.set(LlmText.SparseMaxDfConf, "600")
    try {
      val pruned = d33Rows()
      assert(pruned === sparseBrute((df, n) => df * 1000 <= 600 * n),
        "pruned ranking diverged from the restricted brute force")
      assert(pruned !== base,
        "the 600-permille cut must bite on this stopword-dense fixture")
    } finally spark.conf.unset(LlmText.SparseMaxDfConf)
  }

  test("d34: RRF fusion is exactly the recomputation from its two source lists") {
    val got = LlmText.d34HybridRrf(spark, sf).collect()
      .map(r => (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("cand_id")),
        r.getDouble(r.fieldIndex("rrf")), r.getInt(r.fieldIndex("fused_rank"))))
    assert(got.nonEmpty, "fusion panel empty — the %65 query intersection missed the fixture")
    val lex = LlmText.d33SparseCosine(spark, sf).collect()
      .filter(_.getLong(0) % LlmText.HybridQMod == 0)
      .map(r => (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("cand_id"))) ->
        r.getInt(r.fieldIndex("rnk"))).toMap
    val den = Embeddings.e10IvfSketchRerank(spark, sf).collect()
      .filter(_.getLong(0) % LlmText.HybridQMod == 0)
      .map(r => (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("neighbor_id")))
        -> r.getInt(r.fieldIndex("rank"))).toMap
    val expected = (lex.keySet ++ den.keySet).groupBy(_._1).flatMap { case (q, pairs) =>
      pairs.toSeq
        .map { p =>
          val score = lex.get(p).map(r => 1.0 / (LlmText.RrfK + r)).getOrElse(0.0) +
            den.get(p).map(r => 1.0 / (LlmText.RrfK + r)).getOrElse(0.0)
          (p._2, score)
        }
        .sortBy { case (c, s) => (-s, c) }
        .take(LlmText.SparseTopK)
        .zipWithIndex
        .map { case ((c, s), i) => (q, c, s, i + 1) }
    }.toSet
    assert(got.toSet === expected, "fused ranking diverged from the list recomputation")
    // both lists genuinely contribute on the fixture (the panel is not
    // degenerate — a hit carried by only one retriever exists each way)
    assert(got.exists(g => lex.contains((g._1, g._2)) && !den.contains((g._1, g._2))),
      "no lexical-only hit survived fusion")
    assert(got.exists(g => den.contains((g._1, g._2)) && !lex.contains((g._1, g._2))),
      "no dense-only hit survived fusion")
  }

  test("d30: incremental verdicts agree with d03's full pair set restricted to batch links") {
    val mod = LlmText.IncrementalBatchMod
    val rows = LlmText.d30IncrementalDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val batch = Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getLong(0)).filter(_ % mod == 0).toSet
    assert(rows.map(_._1).toSet === batch, "one verdict per batch doc")
    // ground truth from the FULL d03 pairing: a batch doc is a dup iff a
    // verified pair links it to a corpus doc (either direction) or to an
    // EARLIER batch doc (keep-first)
    val pairs = LlmText.d03LshNeardup(spark, sf)
      .where(col("jaccard") >= LlmText.NeardupThreshold)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    def links(n: Long): Int = pairs.count { case (a, b) =>
      (b == n && (a % mod != 0 || a < n)) || (a == n && b % mod != 0)
    }
    rows.foreach { case (id, nMatches, isDup) =>
      assert(nMatches === links(id).toLong, s"match count mismatch for batch doc $id")
      assert(isDup === (nMatches > 0))
    }
    assert(rows.exists(_._3), "fixture's planted near-dups should flag some batch doc")
  }

  test("d29: cleaned pack budgets post-strip sizes, drops empty docs, stays gapless per shard") {
    val clean = LlmText.d28StripDupLines(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text")).toMap
    val rows = LlmText.d29CleanPack(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("seq"), r.getAs[Long]("offset")))
    // membership: exactly the docs whose cleaned text is non-empty
    assert(rows.map(_._1).toSet === clean.filter(_._2.nonEmpty).keySet)
    // sizes are the POST-strip token counts
    rows.foreach { case (id, _, n, _, _) =>
      assert(n === clean(id).split(" ").length.toLong, s"doc $id packed with a stale size")
    }
    // gapless head-to-tail layout: within a shard, absolute positions
    // (seq·budget + offset) ordered are exactly the prefix sums of sizes
    rows.groupBy(_._2).foreach { case (shard, rs) =>
      val ordered = rs.sortBy(r => r._4 * LlmText.PackBudget + r._5)
      val prefix = ordered.scanLeft(0L)(_ + _._3).init
      ordered.zip(prefix).foreach { case ((id, _, _, seq, off), pos) =>
        assert(seq * LlmText.PackBudget + off === pos,
          s"hole or overlap at doc $id in shard $shard")
      }
    }
  }

  test("e09: incremental verdicts match an exact in-test recomputation over cell-mates") {
    import graft.operators.Embeddings
    val mod = Embeddings.IncrementalBatchModE
    // cell assignment from e06 (same cellRanked stage), exact quantized
    // vectors recomputed from the raw embeddings
    val cells = Embeddings.e06SemDedup(spark, sf).collect()
      .map(r => r.getLong(1) -> r.getInt(0)).toMap
    val vecs = Tables.embeddings(spark, sf).collect().map { r =>
      r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding")
          // HALF_UP like Spark's round() (math.round would diverge on
          // negative exact halves: -2.5 → -2 vs Spark's -3)
          .map(x => BigDecimal(x.toDouble * 10000)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray
    }.toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      dot.toDouble / (math.sqrt(a.indices.map(i => a(i) * a(i)).sum.toDouble) *
        math.sqrt(b.indices.map(i => b(i) * b(i)).sum.toDouble))
    }
    val rows = Embeddings.e09IncrementalSemDedup(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.map(_._2).toSet === vecs.keySet.filter(_ % mod == 0),
      "one verdict per batch vector")
    rows.foreach { case (cell, id, nMatches, kept) =>
      assert(cell === cells(id), s"cell assignment must match e06's for $id")
      val expected = cells.count { case (other, c) =>
        c == cell && other != id && (other % mod != 0 || other < id) &&
          cos(vecs(other), vecs(id)) >= Embeddings.CosineThreshold
      }
      assert(nMatches === expected.toLong, s"match count mismatch for vector $id")
      assert(kept === (nMatches == 0L))
    }
  }

  test("d35: per-(epoch,shard) orders are contiguous, epochs permute independently") {
    val rows = LlmText.d35EpochShuffle(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.length === (nDocs * LlmText.Epochs).toInt, "every doc appears once per epoch")
    // within each (epoch, shard): ord is exactly 1..count (a valid order)
    rows.groupBy(r => (r._1, r._2)).foreach { case ((e, sh), grp) =>
      assert(grp.map(_._3).sorted.toSeq === (1L to grp.length).toSeq,
        s"ord must be contiguous in epoch=$e shard=$sh")
      assert(sh >= 0 && sh < 8)
    }
    // the two epochs are DIFFERENT permutations (the salt works): the
    // doc sequence read in (shard, ord) order must not coincide
    def orderOf(epoch: Long): Seq[Long] =
      rows.filter(_._1 == epoch).sortBy(r => (r._2, r._3)).map(_._4).toSeq
    assert(orderOf(1) !== orderOf(2), "epochs must permute independently")
    assert(orderOf(1).sorted === orderOf(2).sorted, "same corpus each epoch")
    // deterministic: a second run reproduces the permutation exactly
    val again = LlmText.d35EpochShuffle(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.sortBy(identity).toSeq === rows.sortBy(identity).toSeq)
  }

  test("d36: copy counts follow the permille weights exactly, copies contiguous") {
    val rows = LlmText.d36MixtureExpand(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byDoc = rows.groupBy(_._1)
    byDoc.foreach { case (_, grp) =>
      assert(grp.map(_._4).sorted.toSeq === (1L to grp.length).toSeq, "copies 1..n")
      assert(grp.map(_._3).distinct.length === 1, "one weight per doc")
      val wpm = grp.head._3
      assert(wpm === 500L + (grp.head._2.replaceAll("\\D", "").toLong % 4) * 700L)
      // n_copies is floor or ceil of the permille weight — never outside
      assert(grp.length >= (wpm / 1000L).toInt && grp.length <= ((wpm + 999L) / 1000L).toInt)
    }
    // a sub-1000-permille source (wpm=500) DOWN-samples: strictly fewer
    // expanded docs than source docs for at least one such source
    val srcDocs = Tables.documents(spark, sf).groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val halfSources = srcDocs.keys.filter(s => s.replaceAll("\\D", "").toLong % 4 == 0)
    assert(halfSources.nonEmpty)
    val expandedDocs = byDoc.map { case (d, g) => g.head._2 -> d }
      .groupBy(_._1).view.mapValues(_.size).toMap
    assert(halfSources.exists(s => expandedDocs.getOrElse(s, 0) < srcDocs(s)),
      "a 500-permille source must drop documents")
  }

  // JVM twin of Portable.normText/tokens for brute-force recomputation:
  // Spark trim() strips the ' ' char from both ends; split keeps
  // trailing empties (limit -1 semantics)
  private def jvmToks(text: String): Array[String] =
    text.replaceAll("^ +| +$", "").toLowerCase(java.util.Locale.ROOT)
      .replaceAll("\\s+", " ").split(" ", -1)

  test("d37: BPE pair counts equal a brute-force recomputation; ranks dense, counts non-increasing") {
    val got = LlmText.d37BpePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.map(_._1).sorted.toSeq === (1L to LlmText.BpeTopK), "dense ranks 1..K")
    val byRank = got.sortBy(_._1)
    assert(byRank.sliding(2).forall(p => p(0)._3 >= p(1)._3), "counts non-increasing in rank")
    assert(got.forall(_._2.length == 2), "every merge candidate is an adjacent char pair")
    // brute force: word frequencies over the corpus, weighted pair counts
    val texts = Tables.documents(spark, sf).select("text").collect().map(_.getString(0))
    val wf = scala.collection.mutable.Map.empty[String, Long]
    for (t <- texts; w <- jvmToks(t) if w.length >= 2)
      wf(w) = wf.getOrElse(w, 0L) + 1L
    val pc = scala.collection.mutable.Map.empty[String, Long]
    for ((w, f) <- wf; i <- 0 until w.length - 1) {
      val p = w.substring(i, i + 2)
      pc(p) = pc.getOrElse(p, 0L) + f
    }
    val want = pc.toSeq.sortBy { case (p, c) => (-c, p) }.take(LlmText.BpeTopK)
      .zipWithIndex.map { case ((p, c), i) => (i + 1L, p, c) }
    assert(byRank.toSeq === want, "top merge candidates must match the brute-force count")
  }

  test("d38: DSIR scores equal a brute-force recomputation; target slice separates upward") {
    val got = LlmText.d38DsirScore(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.length === docs.length, "every document scored once")
    // JVM twin of Portable.h64: first 15 hex digits of md5, base-16
    def h64(sv: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(sv.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val B = LlmText.DsirBuckets
    def isTgt(src: String): Boolean = src.replaceAll("\\D", "").toLong % 4 == 0
    val perDoc = docs.map { case (id, src, text) =>
      (id, isTgt(src), jvmToks(text).map(t => h64(t) % B))
    }
    val rcnt = scala.collection.mutable.Map.empty[Long, Long]
    val tcnt = scala.collection.mutable.Map.empty[Long, Long]
    for ((_, tgt, bs) <- perDoc; b <- bs) {
      rcnt(b) = rcnt.getOrElse(b, 0L) + 1L
      if (tgt) tcnt(b) = tcnt.getOrElse(b, 0L) + 1L
    }
    val rawTotal = rcnt.values.sum
    val tgtTotal = tcnt.values.sum
    val want = perDoc.map { case (id, _, bs) =>
      val score = bs.groupBy(identity).map { case (b, n) =>
        n.length * (tcnt.getOrElse(b, 0L) * rawTotal - rcnt(b) * tgtTotal)
      }.sum
      id -> ((bs.length.toLong, score, score > 0))
    }.toMap
    got.foreach { case (id, n, sc, tl) =>
      assert((n, sc, tl) === want(id), s"doc $id score mismatch")
    }
    // the importance direction: target-slice docs average above the rest
    val (tgtScores, rawScores) = got.partition(g => isTgt(docs.find(_._1 == g._1).get._2))
    assert(tgtScores.map(_._3).sum / tgtScores.length.max(1) >
      rawScores.map(_._3).sum / rawScores.length.max(1),
      "target-source documents must score higher on average")
  }

  test("d39: anneal phases are exact per-source quality slices consistent with d20") {
    val rows = LlmText.d39AnnealSchedule(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5), r.getBoolean(6)))
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.length === nDocs, "every document gets a phase row")
    // the quality signal IS d20's score, verbatim
    val d20 = LlmText.d20UnigramScore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    rows.foreach { case (id, _, p, _, _, _, _) => assert(p === d20(id)) }
    rows.groupBy(_._2).foreach { case (src, grp) =>
      val n = grp.length
      assert(grp.forall(_._5 == n), s"n_src must equal the stratum size for $src")
      assert(grp.map(_._4).sorted.toSeq === (1L to n), "ranks dense within source")
      // ranks order by score desc (ties impossible to assert generally;
      // the oracle hash pins the exact order) — spot the top rank
      val top = grp.minBy(_._4)
      assert(grp.forall(r => r._3 <= top._3), "rank 1 carries the stratum's best score")
      // phase sizes are the exact half / decile cuts, and nested
      assert(grp.count(_._6) === n / 2, s"phase-2 must be the best half of $src")
      assert(grp.count(_._7) === n / 10, s"phase-3 must be the best decile of $src")
      assert(grp.filter(_._7).forall(_._6), "phase-3 members must also be phase-2")
    }
  }

  test("d40: gaps-and-islands encode equals the sequential greedy scan on every document") {
    val got = LlmText.d40BpeEncode(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // brute-force vocab: d37's weighted pair counts, top-K by (cnt desc, pair asc)
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val wf = scala.collection.mutable.Map.empty[String, Long]
    for ((_, t) <- texts; w <- jvmToks(t) if w.length >= 2)
      wf(w) = wf.getOrElse(w, 0L) + 1L
    val pc = scala.collection.mutable.Map.empty[String, Long]
    for ((w, f) <- wf; i <- 0 until w.length - 1) {
      val p = w.substring(i, i + 2)
      pc(p) = pc.getOrElse(p, 0L) + f
    }
    val vocab = pc.toSeq.sortBy { case (p, c) => (-c, p) }
      .take(LlmText.BpeTopK).map(_._1).toSet
    // sequential greedy reference: scan each word once, left to right
    val want = texts.map { case (id, t) =>
      var words = 0L; var chars = 0L; var merges = 0L
      for (w <- jvmToks(t)) {
        if (w.nonEmpty) words += 1
        chars += w.length
        var i = 0
        while (i < w.length - 1) {
          if (vocab.contains(w.substring(i, i + 2))) { merges += 1; i += 2 }
          else i += 1
        }
      }
      id -> ((words, chars, merges, chars - merges))
    }.toMap
    assert(got.length === texts.length, "every document encoded once")
    got.foreach { case (id, nw, nc, nm, nt) =>
      assert((nw, nc, nm, nt) === want(id), s"doc $id encode mismatch")
      assert(nt >= nw, "each word is at least one token")
    }
  }

  test("d41: bigram scores equal a brute-force recomputation") {
    val got = LlmText.d41BigramLm(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val docBigrams = texts.map { case (id, t) =>
      id -> jvmToks(t).sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
    }.filter(_._2.nonEmpty)
    val cf = scala.collection.mutable.Map.empty[String, Long]
    for ((_, bgs) <- docBigrams; b <- bgs) cf(b) = cf.getOrElse(b, 0L) + 1L
    val nTotal = cf.values.sum
    assert(got.length === docBigrams.length, "one row per doc with >= 2 tokens")
    val want = docBigrams.map { case (id, bgs) =>
      val rare = bgs.count(b => cf(b) <= LlmText.RareBigramMax).toLong
      val cfSum = bgs.map(cf).sum
      id -> ((bgs.length.toLong, rare,
        cfSum.toDouble / (bgs.length.toLong * nTotal).toDouble, rare * 2 <= bgs.length))
    }.toMap
    got.foreach { case (id, nb, nr, mp, keep) =>
      assert((nb, nr, mp, keep) === want(id), s"doc $id bigram score mismatch")
    }
  }

  test("d42: self-repeat strip equals the per-doc keep-first reference; clean docs round-trip") {
    val got = LlmText.d42StripSelfRepeats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.length === texts.length, "every document transformed once")
    val L = LlmText.LineTokens
    val want = texts.map { case (id, t) =>
      val toks = jvmToks(t)
      val blocks = toks.grouped(L).map(_.mkString(" ")).toSeq
      val seen = scala.collection.mutable.Set.empty[String]
      val kept = blocks.filter(seen.add)
      id -> ((kept.length.toLong, (blocks.length - kept.length).toLong,
        kept.mkString(" "), toks.mkString(" ")))
    }.toMap
    got.foreach { case (id, nk, nd, clean) =>
      val (wk, wd, wClean, norm) = want(id)
      assert((nk, nd, clean) === ((wk, wd, wClean)), s"doc $id strip mismatch")
      if (nd == 0L) assert(clean === norm, "repeat-free docs must round-trip verbatim")
    }
  }

  test("d43: span coverage equals the boolean-array union reference; alignment beats d19 on straddlers") {
    val got = LlmText.d43SpanCoverage(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), jvmToks(r.getString(1))))
    assert(got.length === texts.length, "every document profiled once")
    val L = LlmText.SpanTokens
    // independent reference: shingle -> distinct docs, then a PER-TOKEN
    // boolean union (a different method than the operator's island
    // arithmetic, so an off-by-one in either side can't self-confirm)
    val docsOf = scala.collection.mutable.Map.empty[String, Set[Long]]
    texts.foreach { case (id, toks) =>
      toks.sliding(L).filter(_.length == L)
        .foreach(w => { val k = w.mkString(" "); docsOf(k) = docsOf.getOrElse(k, Set()) + id })
    }
    val want = texts.map { case (id, toks) =>
      val starts = toks.sliding(L).filter(_.length == L).zipWithIndex.collect {
        case (w, p) if docsOf(w.mkString(" ")).size >= 2 => p
      }.toArray
      val covered = new Array[Boolean](toks.length)
      starts.foreach(p => (p until p + L).foreach(covered(_) = true))
      // islands under the operator's rule: break when the gap >= L
      val nSpans = if (starts.isEmpty) 0L
        else 1L + starts.sliding(2).count(a => a.length == 2 && a(1) - a(0) >= L)
      id -> ((toks.length.toLong, nSpans, covered.count(identity).toLong))
    }.toMap
    var anyCovered = false
    got.foreach { case (id, nt, ns, cov, frac) =>
      val (wn, ws, wc) = want(id)
      assert((nt, ns, cov) === ((wn, ws, wc)), s"doc $id span coverage mismatch")
      assert(frac === cov.toDouble / nt.toDouble)
      if (cov > 0) anyCovered = true
    }
    assert(anyCovered, "fixture's planted duplicates must produce nonzero coverage")
  }

  test("e18: range search equals the exact cell-mate recomputation; nprobe grows it monotonically") {
    import graft.operators.Embeddings
    // cell assignment from e06 (same cellRanked stage), exact quantized
    // vectors recomputed from the raw embeddings — the e09 reference recipe
    val cells = Embeddings.e06SemDedup(spark, sf).collect()
      .map(r => r.getLong(1) -> r.getInt(0)).toMap
    val vecs = Tables.embeddings(spark, sf).collect().map { r =>
      r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(x => BigDecimal(x.toDouble * 10000)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray
    }.toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      dot.toDouble / (math.sqrt(a.indices.map(i => a(i) * a(i)).sum.toDouble) *
        math.sqrt(b.indices.map(i => b(i) * b(i)).sum.toDouble))
    }
    val want = (for {
      q <- vecs.keys if q % 5 == 0
      n <- vecs.keys if n != q && cells(n) == cells(q)
      c = cos(vecs(q), vecs(n)) if c >= Embeddings.CosineThreshold
    } yield (q, n, c)).toSet
    val got = Embeddings.e18RangeSearch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === want, "range results diverged from the exact cell-mate recomputation")
    assert(got.nonEmpty, "fixture must produce at least one in-range pair")
    // variable result size is the point of range search: not all queries
    // return the same count (a top-k surface can't express this)
    val counts = got.groupBy(_._1).map(_._2.size).toSet
    assert(counts.size > 1 || got.map(_._1).size < vecs.keys.count(_ % 5 == 0),
      "fixture should exercise variable-size result lists")
    spark.conf.set(Embeddings.NprobeConf, "3")
    try {
      val wide = Embeddings.e18RangeSearch(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got.subsetOf(wide), "raising nprobe must never lose a match")
      assert(wide.size > got.size,
        "nprobe=3 should surface cross-cell matches on this fixture")
    } finally spark.conf.unset(Embeddings.NprobeConf)
  }

  test("e19: quant-error audit covers every vector per rung; sq8 matches JVM; residual beats plain PQ") {
    import graft.operators.Embeddings
    val got = Embeddings.e19QuantError(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val vecs = Tables.embeddings(spark, sf).collect().map { r =>
      r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(x => BigDecimal(x.toDouble * 10000)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray
    }.toMap
    val byMethod = got.groupBy(_._1)
    assert(byMethod.keySet === Set("sq8", "pq", "residual_pq"))
    byMethod.values.foreach { rows =>
      assert(rows.map(_._2).toSet === vecs.keySet, "every vector audited once per rung")
      rows.foreach { case (_, _, sse, _) => assert(sse >= 0L, "squared error is nonnegative") }
    }
    // sq8 pinned against an independent JVM re-encode (same clamp formula)
    val dim = Embeddings.Dim
    val lo = (0 until dim).map(d => vecs.values.map(_(d)).min).toArray
    val hi = (0 until dim).map(d => vecs.values.map(_(d)).max).toArray
    val wantSq = vecs.map { case (id, q) =>
      id -> (0 until dim).map { d =>
        val span = hi(d) - lo(d)
        val code = if (span == 0L) 0L
          else math.max(0L, math.min(255L,
            math.floor(((q(d) - lo(d)) * 510.0 + span) / (2.0 * span)).toLong))
        val r = lo(d) * 255L + code * span
        val e = 255L * q(d) - r
        e * e
      }.sum
    }
    byMethod("sq8").foreach { case (_, id, sse, mse) =>
      assert(sse === wantSq(id), s"vec $id sq8 sse mismatch")
      assert(mse === sse.toDouble / (dim.toLong * 255 * 255).toDouble)
    }
    // the measured reason faiss defaults IVFPQ to residual encoding:
    // centering against the cell centroid shrinks what the codebook
    // must express, so reconstruction error drops at equal bytes
    def mean(m: String): Double = {
      val rows = byMethod(m); rows.map(_._4).sum / rows.length
    }
    assert(mean("residual_pq") < mean("pq"),
      s"residual encoding should reduce error: ${mean("residual_pq")} vs ${mean("pq")}")
    // 8 bits per DIMENSION is a far finer grid than 4 bits per 8-dim
    // subspace — the rung ordering the byte budget predicts
    assert(mean("sq8") < mean("residual_pq"),
      s"sq8 should sit far below any PQ rung: ${mean("sq8")}")
  }

  test("e20: cell-balance audit matches the e06 assignment; imbalance factor exact and >= 1") {
    import graft.operators.Embeddings
    val got = Embeddings.e20CellStats(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // reference assignment from e06 (the same cellRanked stage)
    val cells = Embeddings.e06SemDedup(spark, sf).collect()
      .map(r => r.getLong(1) -> r.getInt(0))
    val wantCounts = cells.groupBy(_._2).map { case (c, m) => c -> m.length.toLong }
    assert(got.map(g => g._1 -> g._2).toMap === wantCounts, "per-cell member counts")
    val n = cells.length.toLong
    val c = wantCounts.size.toLong
    val sumSq = wantCounts.values.map(m => m * m).sum
    val wantImb = (c * sumSq).toDouble / (n * n).toDouble
    got.foreach { case (cell, members, share, imb) =>
      assert(share === members.toDouble / n.toDouble, s"cell $cell share")
      assert(imb === wantImb, s"cell $cell imbalance constant")
    }
    assert(wantImb >= 1.0, "imbalance factor is bounded below by perfect balance")
    assert(math.abs(got.map(_._3).sum - 1.0) < 1e-9, "shares partition the corpus")
  }

  test("e14: SQ8 rerank keeps exact cosines, dense ranks, and high recall vs brute force") {
    val got = Embeddings.e14SqRerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val byQuery = got.groupBy(_._1)
    byQuery.values.foreach(rows =>
      assert(rows.map(_._4).sorted.toSeq === (1 to Embeddings.TopK), "dense ranks 1..k"))
    val truth = Embeddings.e01KnnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(byQuery.keySet === truth.map(_._1).toSet, "same query subsample as e01")
    val truthCos = truth.map(t => (t._1, t._2) -> t._3).toMap
    got.foreach { case (q, n, c, _) =>
      truthCos.get((q, n)).foreach(tc => assert(c === tc, s"cos mismatch for ($q,$n)"))
    }
    // an 8-bit-per-dimension grid is far finer than e08's 1-bit sketch:
    // the 255-level reconstruction keeps nearly the whole neighborhood
    val truthSet = truth.map(t => (t._1, t._2)).toSet
    val hits = got.count(g => truthSet.contains((g._1, g._2)))
    val recall = hits.toDouble / truthSet.size
    assert(recall >= 0.8, s"SQ8 recall collapsed: $hits/${truthSet.size} = $recall")
  }

  test("e15: composed IVF×SQ8 keeps exact cosines; vacuous C collapses to e10's within-cell answer") {
    import graft.operators.Embeddings
    val got = Embeddings.e15IvfSqRerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val byQuery = got.groupBy(_._1)
    byQuery.values.foreach(rows =>
      assert(rows.map(_._4).sorted.toSeq === (1 to rows.length), "dense ranks"))
    val truth = Embeddings.e01KnnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(byQuery.keySet === truth.map(_._1).toSet, "same query subsample as e01")
    // exact stage: surviving pairs carry the brute-force cosine verbatim
    val truthCos = truth.map(t => (t._1, t._2) -> t._3).toMap
    got.foreach { case (q, n, c, _) =>
      truthCos.get((q, n)).foreach(tc => assert(c === tc, s"cos mismatch for ($q,$n)"))
    }
    // ADC selection changes candidate ORDER, never the exact final
    // scores: with C past every cell's size both compressed cell paths
    // rerank the whole cell and must agree exactly
    spark.conf.set(Embeddings.RerankCConf, "100000")
    try {
      val sq = Embeddings.e15IvfSqRerank(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sortBy(x => (x._1, x._4))
      val sk = Embeddings.e10IvfSketchRerank(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sortBy(x => (x._1, x._4))
      assert(sq.toSeq === sk.toSeq,
        "vacuous-C IVF×SQ8 must equal vacuous-C IVF×sketch (both = exact within-cell)")
    } finally spark.conf.unset(Embeddings.RerankCConf)
  }

  test("e16: round-based MMR equals the sequential greedy reference; rank 1 is e01's top hit") {
    import graft.operators.Embeddings
    val got = Embeddings.e16MmrDiversify(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getInt(4)))
    val byQuery = got.groupBy(_._1)
    byQuery.values.foreach(rows =>
      assert(rows.map(_._5).sorted.toSeq === (1 to Embeddings.MmrK), "dense mmr ranks"))
    // JVM reference: greedy MMR over the collected exact-cosine pool
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.round(x.toDouble * 10000).toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val e01Top = Embeddings.e01KnnBrute(spark, sf).collect()
      .filter(_.getInt(3) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    byQuery.foreach { case (qid, rows) =>
      val qv = vecs(qid)
      val pool = vecs.keys.filter(_ != qid).toSeq
        .map(n => n -> cos(qv, vecs(n)))
        .sortBy { case (n, c) => (-c, n) }.take(Embeddings.MmrPoolN)
      val rel = pool.toMap
      var sel = List(pool.head._1)
      assert(rows.find(_._5 == 1).get._2 === pool.head._1, s"rank 1 must be pure relevance for $qid")
      assert(e01Top(qid) === pool.head._1, "rank 1 agrees with e01's top hit")
      for (r <- 2 to Embeddings.MmrK) {
        val pick = pool.filterNot(p => sel.contains(p._1)).map { case (n, c) =>
          (n, c - sel.map(s0 => cos(vecs(n), vecs(s0))).max)
        }.minBy { case (n, sc) => (-sc, n) }
        val gotR = rows.find(_._5 == r).get
        assert(gotR._2 === pick._1, s"greedy pick $r for query $qid")
        sel = sel :+ pick._1
      }
    }
  }

  test("e17: pre-filtered ANN is exhaustive within (cell ∩ tenant); post-filtering e05 is not") {
    import graft.operators.Embeddings
    val got = Embeddings.e17FilteredAnn(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getInt(5)))
    // every emitted pair shares the tenant; ranks dense per query
    got.foreach { case (_, tenant, q, n, _, _) =>
      assert(q % Embeddings.FilterTenants === tenant)
      assert(n % Embeddings.FilterTenants === tenant, s"cross-tenant leak: $q -> $n")
    }
    got.groupBy(_._3).foreach { case (_, rows) =>
      assert(rows.map(_._6).sorted.toSeq === (1 to rows.length), "dense ranks")
      assert(rows.length <= 3)
    }
    // exhaustiveness: per query, the result count is min(3, |cell ∩ tenant| − 1)
    val cells = Embeddings.e06SemDedup(spark, sf).collect()
      .map(r => (r.getLong(1), r.getInt(0))).toMap // vec_id -> cell
    val byQuery = got.groupBy(_._3)
    cells.keys.foreach { q =>
      val mates = cells.count { case (v, c) =>
        v != q && c == cells(q) && v % Embeddings.FilterTenants == q % Embeddings.FilterTenants }
      val emitted = byQuery.get(q).map(_.length).getOrElse(0)
      assert(emitted === math.min(3, mates),
        s"query $q: emitted $emitted of $mates same-tenant cell-mates")
    }
    // the recall property pre-filtering buys: post-filtering e05's
    // unfiltered top-3 by tenant must lose results somewhere
    val e05Post = Embeddings.e05IvfAnn(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
      .filter { case (q, n) => q % Embeddings.FilterTenants == n % Embeddings.FilterTenants }
    assert(e05Post.length < got.length,
      "post-filtering the unfiltered top-3 must return fewer filtered results")
    // and nothing post-filter finds is missing from the keyed form
    val gotPairs = got.map(r => (r._3, r._4)).toSet
    e05Post.foreach(p => assert(gotPairs.contains(p),
      s"pair $p survived post-filtering but is absent from the pre-filtered form"))
  }

  test("e06: every vector flagged once; dropped ⊆ cell-mates of an earlier near-dup") {
    import graft.operators.Embeddings
    val rows = Embeddings.e06SemDedup(spark, sf).collect()
    assert(rows.length === Tables.embeddings(spark, sf).count())
    assert(rows.map(_.getLong(1)).distinct.length === rows.length, "one row per vector")
    val dropped = rows.filter(!_.getBoolean(2))
    // keep-first: the LOWEST id in any cell can never be dropped
    val minByCell = rows.groupBy(_.getInt(0)).view.mapValues(_.map(_.getLong(1)).min).toMap
    for (r <- dropped)
      assert(r.getLong(1) > minByCell(r.getInt(0)), "cell minimum must survive")
  }

  test("e22: NN-Descent round dominates the LSH seed graph query-by-query") {
    val e02 = Embeddings.e02AnnBucketed(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    val e22 = Embeddings.e22NnDescent(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(e22.nonEmpty)
    // same query universe (every bucketed vector queries in both)
    assert(e22.map(_._1).toSet === e02.map(_._1).toSet)
    val sum02 = e02.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val sum22 = e22.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    // every seed edge stays a candidate, so per-query top-3 quality is
    // monotone non-decreasing after the refinement round
    sum22.foreach { case (q, s22) =>
      assert(s22 >= sum02(q) - 1e-9, s"query $q regressed: $s22 < ${sum02(q)}")
    }
    // and the round finds something the buckets alone missed
    assert(sum22.exists { case (q, s22) => s22 > sum02(q) + 1e-9 },
      "refinement round improved no query — expansion is dead code on this fixture")
    // recall against the brute-force truth can only improve
    val truth = Embeddings.e01KnnBrute(spark, sf).where(col("rank") <= 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    def recall(edges: Array[(Long, Long, Double)]): Double = {
      val by = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val hits = truth.toSeq.map { case (q, t) =>
        by.get(q).map(n => (n & t).size).getOrElse(0)
      }.sum
      hits.toDouble / truth.values.map(_.size).sum
    }
    val r02 = recall(e02.map(t => (t._1, t._2, t._3)))
    val r22 = recall(e22)
    assert(r22 >= r02 - 1e-12, s"recall regressed: $r22 < $r02")
  }

  test("e22: extra descent rounds are monotone non-decreasing (nnd.rounds lever)") {
    def sums(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => (r.getLong(0), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val r1 = sums(Embeddings.e22NnDescent(spark, sf))
    spark.conf.set(Embeddings.NndRoundsConf, "2")
    val r2 = try sums(Embeddings.e22NnDescent(spark, sf))
      finally spark.conf.unset(Embeddings.NndRoundsConf)
    assert(r2.keySet === r1.keySet, "rounds must not change the query universe")
    // round 2's candidates include every round-1 edge, so per-query
    // top-3 quality can only improve
    r2.foreach { case (q, s2) =>
      assert(s2 >= r1(q) - 1e-9, s"query $q regressed with a second round")
    }
  }

  test("e23: graph serve dominates the bucket path per query; quality monotone in hops") {
    def sums(rows: Array[(Long, Long, Double)]): Map[Long, Double] =
      rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val e02 = Embeddings.e02AnnBucketed(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .filter(_._1 % 5 == 0)
    val e23 = Embeddings.e23GraphServe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(e23.nonEmpty)
    assert(e23.map(_._1).toSet === e02.map(_._1).toSet,
      "same query universe (the %5 sample)")
    val s02 = sums(e02)
    val s23 = sums(e23)
    // the seed beam contains e02's top-3 (same bucket, same exact
    // cosine, beam 8 > 3), so the final top-3 can only improve
    s23.foreach { case (q, v) =>
      assert(v >= s02(q) - 1e-9, s"query $q regressed vs the bucket path")
    }
    // and the stored graph's edges reach something the bucket missed
    assert(s23.exists { case (q, v) => v > s02(q) + 1e-9 },
      "graph expansion improved no query — the serve path is dead code here")
    // hop lever: each hop's beam is the top-B of a superset of the
    // previous beam, so per-query top-3 quality is monotone
    val h2rows = Embeddings.graphServe(spark, sf, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val h2 = sums(h2rows)
    assert(h2.keySet === s23.keySet)
    h2.foreach { case (q, v) =>
      assert(v >= s23(q) - 1e-9, s"query $q regressed with a second hop")
    }
    // and the AGGREGATE recall@3 vs the brute truth is monotone too —
    // the measured form of the claim
    val truth = Embeddings
      .bruteRankedFrom(spark, Embeddings.quantizedFrom(spark, Tables.embeddings(spark, sf)))
      .where(org.apache.spark.sql.functions.col("rank") <= 3 &&
        org.apache.spark.sql.functions.col("query_id") % 5 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(rows: Array[(Long, Long, Double)]): Double = {
      val by = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      truth.toSeq.map { case (q, t) =>
        by.get(q).map(n => (n & t).size).getOrElse(0)
      }.sum.toDouble / truth.values.map(_.size).sum
    }
    val (rec1, rec2) = (recall(e23), recall(h2rows))
    info(f"recall@3 hops=1 $rec1%.4f hops=2 $rec2%.4f")
    assert(rec2 >= rec1 - 1e-12,
      f"hop-2 recall $rec2%.4f fell below hop-1 $rec1%.4f")
    assert(rec1 > 0.0)
  }

  test("e22: reverse-sample cap bounds the local join's candidate volume under hub skew") {
    import spark.implicits._
    val R = Embeddings.DefaultNndRevCap
    // fixture adjacency: forward out-degree ≤ 2·3 (two hash tables,
    // deduped), reverse admitted ≤ R — so no node's join degree exceeds
    // 2k + R and candidate volume is ≤ N·(2k+R)², the Dong et al.
    // ρ-sampling bound the 100 TB plan leans on
    val seeds = Embeddings.nndSeeds(spark, sf).distinct().localCheckpoint()
    val und = Embeddings.nndAdjacency(seeds, R)
    val deg = und.groupBy(col("query_id")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val maxDeg = deg.map(_._2).max
    assert(maxDeg <= 6 + R, s"join degree $maxDeg exceeds 2k+R = ${6 + R}")
    val volume = deg.map { case (_, d) => d * d }.sum
    val n = seeds.select(col("query_id")).union(seeds.select(col("neighbor_id")))
      .distinct().count()
    assert(volume <= n * (6L + R) * (6L + R),
      s"candidate volume $volume exceeds N·(2k+R)² = ${n * (6L + R) * (6L + R)}")
    // adversarial hub: every query points at node 0 — without the cap
    // its adjacency would be the whole corpus; with it, exactly R
    // sampled partners (plus node 0's own forward edges: none here)
    val hub = (1L to 100L).map(q => (q, 0L)).toDF("query_id", "neighbor_id")
    val hubAdj = Embeddings.nndAdjacency(hub, R)
    assert(hubAdj.where(col("query_id") === 0L).count() === R.toLong,
      "hub node must admit exactly R sampled reverse partners")
    // the sample choice is the portable pseudo-random order, not
    // first-R-by-id: with 100 reverse partners and R=8, id-ascending
    // would keep 1..8 — the hash order must differ (collision-free on
    // this range, so a match would mean the order is id-ascending)
    val kept = hubAdj.where(col("query_id") === 0L)
      .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
    assert(kept !== (1L to R.toLong).toSet,
      "reverse sample must follow the portable hash order, not id order")
    // and the fixture actually exercises the cap (a vacuous bound
    // would pin nothing): some node's raw reverse in-degree exceeds R
    val rawRev = seeds.groupBy(col("neighbor_id")).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    assert(rawRev > R,
      s"fixture's max reverse in-degree $rawRev never engages the cap R=$R")
  }

  test("d50: exactly one survivor per cluster, and it is the quality argmax") {
    val rows = LlmText.d50QualitySurvivors(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.length.toLong === nDocs, "every doc must be assigned exactly once")
    assert(rows.map(_._1).distinct.length === rows.length, "duplicate assignments")
    rows.groupBy(_._2).foreach { case (c, g) =>
      val kept = g.filter(_._4)
      assert(kept.length === 1, s"cluster $c kept ${kept.length} members, want 1")
      // the survivor is the exact-integer argmax: max distinct-token
      // count, ties to the smaller doc_id
      val best = g.minBy(x => (-x._3, x._1))
      assert(kept.head._1 === best._1,
        s"cluster $c kept ${kept.head} but the quality argmax is $best")
    }
    // the rule must actually DIFFER from keep-first on this corpus:
    // some multi-doc cluster's best member is not its min id (otherwise
    // the quality key is vacuous here and the test proves nothing)
    val multi = rows.groupBy(_._2).filter(_._2.length > 1)
    assert(multi.nonEmpty, "fixture must have multi-doc clusters")
    assert(multi.values.exists(g => g.filter(_._4).head._1 != g.map(_._1).min),
      "quality argmax always coincided with min-id — the negative control is vacuous")
    // cluster ids must agree with d14's labeling (singletons are their
    // own cluster)
    val d14 = LlmText.d14NeardupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, c, _, _) =>
      assert(c === d14.getOrElse(id, id), s"doc $id cluster $c != d14 ${d14.getOrElse(id, id)}")
    }
  }

  test("d47: split is cluster-atomic (no leakage), covers every doc once; doc-keyed hashing would leak") {
    val rows = LlmText.d47LeakageSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.length.toLong === nDocs, "every doc must be assigned exactly once")
    assert(rows.map(_._1).distinct.length === rows.length, "duplicate assignments")
    // the no-leakage property is STRUCTURAL: split is a function of
    // cluster_id, so no cluster may span two splits
    rows.groupBy(_._2).foreach { case (c, g) =>
      assert(g.map(_._3).distinct.length === 1, s"cluster $c spans splits: $g")
    }
    // the corpus is large enough that all three splits materialize and
    // the train share sits near its 90% cut (cluster-level hashing is
    // uniform; loose bounds absorb cluster-size variance)
    assert(rows.map(_._3).distinct.toSet === Set("train", "val", "test"))
    val trainFrac = rows.count(_._3 == "train").toDouble / rows.length
    assert(trainFrac > 0.8 && trainFrac < 0.97, s"train fraction $trainFrac")
    // negative control: the naive doc-keyed hash split DOES separate
    // members of a multi-doc near-dup cluster on this very corpus —
    // the memorization leak d47 exists to prevent
    def h64mod(id: Long): Long = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md5.map(b => f"$b%02x").mkString.substring(0, 15), 16) % 100
    }
    def bucket(m: Long): String =
      if (m < LlmText.D47TrainPct) "train"
      else if (m < LlmText.D47TrainPct + LlmText.D47ValPct) "val" else "test"
    val multi = rows.groupBy(_._2).filter(_._2.length > 1)
    assert(multi.nonEmpty, "fixture must have multi-doc clusters")
    val docKeyedLeaks = multi.values.exists(g =>
      g.map(x => bucket(h64mod(x._1))).distinct.length > 1)
    assert(docKeyedLeaks,
      "doc-keyed hashing never split a cluster here — the negative control is vacuous")
  }

  test("d46: keep-first marking matches an independent model; keepers are never cut-marked") {
    val W = LlmText.D44Window
    val P = graft.functions.RollingHash.P
    val B = graft.functions.RollingHash.B
    def norm(t: String): String = t.trim.toLowerCase.replaceAll("\\s+", " ")
    def hashes(a: String): Array[Long] = {
      val bs = a.getBytes("UTF-8")
      if (bs.length < W) Array.emptyLongArray
      else (0 to bs.length - W).map { i =>
        var h = 0L
        var j = i
        while (j < i + W) { h = (h * B + (bs(j) & 0xff)) % P; j += 1 }
        h
      }.toArray
    }
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), norm(r.getString(1))))
    val hs = texts.map { case (id, a) => id -> hashes(a) }.toMap
    val docsOf = scala.collection.mutable.Map.empty[Long, Set[Long]]
    hs.foreach { case (id, arr) =>
      arr.foreach(h => docsOf(h) = docsOf.getOrElse(h, Set()) + id)
    }
    val keeper = docsOf.collect { case (h, ds) if ds.size >= 2 => h -> ds.min }.toMap
    // model: positions cut = dup windows whose doc is not the keeper,
    // merged gaps-and-islands exactly like the operator's rule
    val want = texts.map { case (id, a) =>
      val marked = hs(id).zipWithIndex.collect {
        case (h, p) if keeper.get(h).exists(_ != id) => p
      }
      var nSpans = 0L
      var removed = 0L
      if (marked.nonEmpty) {
        nSpans = 1L + marked.sliding(2).count(x => x.length == 2 && x(1) - x(0) >= W)
        // islands: chars = per island (last - first + W)
        var start = marked.head
        var prev = marked.head
        marked.tail.foreach { p =>
          if (p - prev >= W) { removed += prev + W - start; start = p }
          prev = p
        }
        removed += prev + W - start
      }
      id -> ((nSpans, removed, a.length.toLong))
    }.toMap
    val got = LlmText.d46KeepFirstSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(got.length === texts.length)
    got.foreach { case (id, nSpans, removed, kept, clean) =>
      val (wn, wr, len) = want(id)
      assert((nSpans, removed) === ((wn, wr)), s"doc $id: keep-first marking mismatch")
      assert(kept === len - removed, s"doc $id: cut accounting")
      assert(clean.length.toLong === kept)
    }
    // the semantic d45 cannot give: never cut MORE than d45, and the
    // keeper's copy of every duplicated window survives in the corpus
    val d45removed = LlmText.d45RemoveDupSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    got.foreach { case (id, _, removed, _, _) =>
      assert(removed <= d45removed(id), s"doc $id: d46 cut more than d45")
    }
    assert(got.map(_._3).sum < got.map(d => d45removed(d._1)).sum,
      "keep-first must retain strictly more text than cut-all on a fixture with duplicates")
  }

  test("d44: maximal spans are pairwise disjoint, window-valid, and cross-doc duplicated") {
    val spans = LlmText.d44CrossdocSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(spans.nonEmpty, "fixture plants cross-doc duplicate text; d44 must find spans")
    val W = LlmText.D44Window
    spans.foreach { case (_, s0, e0, chars, nWin) =>
      assert(chars === e0 - s0)
      assert(chars >= W, "a span covers at least one full window")
      // n windows with consecutive gaps < W merged: chars <= nWin*W exactly
      // when windows tile without overlap; always chars <= nWin - 1 + W
      assert(chars <= nWin - 1 + W, "span longer than its windows can cover")
    }
    // disjointness: islands split when the start gap >= W, so span_end(i) <= span_start(i+1)
    spans.groupBy(_._1).foreach { case (doc, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, e1, _, _), (_, s2, _, _, _)) =>
          assert(e1 <= s2, s"doc $doc: overlapping maximal spans")
        case _ =>
      }
    }
  }

  test("d45: rewrite arithmetic — clean_text length == kept_chars; span-free docs round-trip") {
    val got = LlmText.d45RemoveDupSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val norm = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.functions.Portable.normText(col("text")).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.length === norm.size, "every document rewritten exactly once")
    val spanDocs = LlmText.d44CrossdocSpans(spark, sf).select("doc_id")
      .distinct().collect().map(_.getLong(0)).toSet
    got.foreach { case (id, nSpans, removed, kept, clean) =>
      assert(clean.length.toLong === kept, s"doc $id: clean_text length != kept_chars")
      assert(kept + removed === norm(id).length.toLong, s"doc $id: cut accounting")
      if (nSpans == 0L) {
        assert(clean === norm(id), s"doc $id: span-free doc must round-trip verbatim")
        assert(!spanDocs.contains(id))
      } else {
        assert(spanDocs.contains(id))
        // the kept text is a subsequence of the original formed by cutting
        // whole ranges: every kept char appears in order in the original
        assert(clean.length < norm(id).length)
      }
    }
    // cut totals agree with d44's span inventory
    val wantRemoved = LlmText.d44CrossdocSpans(spark, sf)
      .agg(sum(col("span_chars"))).collect()(0).getLong(0)
    assert(got.map(_._3).sum === wantRemoved, "total removed == total span chars")
  }
}
