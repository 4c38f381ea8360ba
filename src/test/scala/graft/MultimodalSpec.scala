package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal

class MultimodalSpec extends GraftSuite {

  test("mm01: metadata typed by media kind — images sized, av timed") {
    Multimodal.mm01MediaMeta(spark, sf).collect().foreach { r =>
      val tpe = r.getString(r.fieldIndex("media_type"))
      val width = r.fieldIndex("width")
      val dur = r.fieldIndex("duration_ms")
      if (tpe == "image") {
        assert(!r.isNullAt(width) && r.isNullAt(dur))
        assert(r.getLong(width) >= 16)
      } else {
        assert(r.isNullAt(width) && !r.isNullAt(dur))
        assert(r.getLong(dur) >= 1000)
      }
    }
  }

  test("mm02: frame counts match the stride arithmetic") {
    val frames = Multimodal.mm02FrameSample(spark, sf)
      .groupBy("media_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1) - 1) / Multimodal.FrameStride + 1)).toMap
    assert(frames === expected)
  }

  test("mm06: banded phash join is COMPLETE at its radius — equals the all-pairs brute force") {
    val got = Multimodal.mm06PhashNeardup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.forall(p => p._1 < p._2), "ordered pairs")
    assert(got.distinct.length === got.length, "no duplicate pairs")
    // JVM twin of the 64-bit sampled-parity hash
    val hashes = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map { r =>
        val id = r.getLong(0); val t = r.getString(1)
        val st = math.max(1, t.length / 64)
        var h = 0L
        for (j <- 0 until 64) {
          val pos = j * st
          val bit = if (pos < t.length) t.charAt(pos).toInt % 2 else 0
          h |= bit.toLong << j
        }
        id -> h
      }
    // all-pairs brute force at the pigeonhole-complete radius
    val want = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= Multimodal.PhashMaxHamming
    } yield (ia, ib, d.toLong)).toSet
    assert(got.toSet === want,
      "banding must find EXACTLY the all-pairs Hamming neighborhood at radius bands-1")
    assert(got.nonEmpty, "fixture near-duplicates must surface")
  }

  test("mm06: native p_hash64 equals the composed-expression fallback row-for-row") {
    assert(spark.catalog.functionExists(graft.functions.PHash64Expr.Name),
      "test session must register the graft extensions")
    val native = Multimodal.mm06PhashNeardup(spark, sf) // native path via functionExists
    val nat = native.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val fb = Multimodal.phashFallback(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the fallback hash feeds the same downstream algebra; comparing the
    // hashes themselves is the strongest pin
    val natHash = Multimodal.withPhashForTest(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(natHash === fb, "native and composed 64-bit hashes must be identical")
    assert(nat.nonEmpty)
  }

  test("mm05: binaryFile ingestion reads real files with correct sizes and magic") {
    val rows = Multimodal.mm05BinaryIngest(spark, sf).collect()
    assert(rows.length === 10) // the ten fixture tables
    val sizes = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.keySet.contains("lineitem.parquet"))
    for ((name, n) <- sizes)
      assert(n === new java.io.File(s"$sf/$name").length(), s"size mismatch for $name")
    // content really is the file bytes: parquet magic + full length
    val withContent = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.parquet").load(sf)
      .select(col("path"), col("length"), col("content")).collect()
    for (r <- withContent) {
      val content = r.getAs[Array[Byte]]("content")
      assert(content.length.toLong === r.getLong(1))
      assert(new String(content.take(4), "US-ASCII") === "PAR1", s"magic for ${r.getString(0)}")
    }
  }

  test("m10: KMV estimate lands near the exact distinct count and is deterministic") {
    val rows = graft.operators.Misc.m10KmvDistinct(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (exact, est) = (r.getLong(1), r.getDouble(2))
      if (exact < graft.operators.Misc.KmvK)
        assert(est === exact.toDouble, s"${r.getString(0)}: under-full sketch must be exact")
      else {
        // k=64 ⇒ stderr ≈ 1/sqrt(k-2) ≈ 12.7%; 3σ bound
        val err = math.abs(est - exact) / exact
        assert(err < 0.4, s"${r.getString(0)}: est $est vs exact $exact (err $err)")
      }
    }
    val again = graft.operators.Misc.m10KmvDistinct(spark, sf).collect()
    assert(rows.map(_.toString).sorted.toSeq === again.map(_.toString).sorted.toSeq)
  }

  test("m11: count-min never underestimates and finds the true heavy hitters") {
    val rows = graft.operators.Misc.m11CmsHeavyHitters(spark, sf).collect()
    assert(rows.length === graft.operators.Misc.CmsTopK)
    for (r <- rows)
      assert(r.getLong(2) >= r.getLong(1),
        s"CMS must overestimate: user ${r.getLong(0)} est ${r.getLong(2)} < exact ${r.getLong(1)}")
    // with 150 users in 3x256 cells, collisions are rare: most top-10
    // estimates should be exact
    assert(rows.count(r => r.getLong(2) === r.getLong(1)) >= rows.length / 2)
  }

  test("m-suite: sql entry + local collection agree with direct plans") {
    val viaSql = graft.operators.Misc.m01SqlEntry(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = Tables.orders(spark, sf).where(col("o_orderstatus") =!= "F")
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaSql === direct)
    assert(graft.operators.Misc.m02LocalCollection(spark, sf)
      .agg(sum("n_nations")).collect()(0).getLong(0) === 25L)
  }
}
