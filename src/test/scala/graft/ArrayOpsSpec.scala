package graft

import org.apache.spark.sql.functions._
import graft.functions.ArrayOps

class ArrayOpsSpec extends GraftSuite {

  test("long_dot registers via GraftExtensions and matches the interpreted fold") {
    import spark.implicits._
    assert(spark.catalog.functionExists(ArrayOps.LongDotName),
      "GraftExtensions did not register long_dot")
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      (Seq(-7L, 0L, 9L), Seq(2L, 100L, -3L)),
      (Seq.empty[Long], Seq.empty[Long])).toDF("a", "b")
    val got = df.select(ArrayOps.longDot(spark, col("a"), col("b"))).collect().map(_.getLong(0))
    val ref = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0L), (acc, x) => acc + x))
      .collect().map(_.getLong(0))
    assert(got.toSeq === ref.toSeq)
    assert(got.toSeq === Seq(32L, -41L, 0L))
  }

  test("rolling_hash and word_shingles resolve by name to their native expressions") {
    // no other spec calls these two by name: their wrappers would fall
    // back to the composable chain silently if GraftExtensions lost them
    val plan = spark.sql("SELECT rolling_hash('abcdefgh', 4) AS r, word_shingles('a b c', 2) AS w")
      .queryExecution.analyzed
    Seq(classOf[graft.functions.RollingHash], classOf[graft.functions.WordShinglesExpr])
      .foreach(cls => assert(plan.expressions.exists(_.exists(cls.isInstance)), cls.getSimpleName))
  }

  test("rolling_hash: native expression matches the per-window fold fallback") {
    import spark.implicits._
    // the non-ASCII inputs pin the ASCII projection: the native path
    // hashes UTF-8 bytes, so without the projection "héllo…" would
    // silently diverge from the code-point fallback and oracle
    val df = Seq("the quick brown fox jumps", "abcdefghijklmnop", "short", "",
        "héllo wörld — the quick brown fox", "日本語テキスト plus ascii tail text")
      .toDF("s")
      .withColumn("s", lower(col("s")))
    val native = df.select(ArrayOps.rollingHash(spark, col("s"), 16).as("h"))
      .collect().map(_.getSeq[Long](0).toVector)
    // force the fallback path by asking for a name that is registered:
    // recompute with the interpreted per-window fold directly
    val P = graft.functions.RollingHash.P
    val B = graft.functions.RollingHash.B
    val expected = df.collect().map(_.getString(0))
      .map(_.filter(c => c >= ' ' && c <= '~')) // the wrapper's ASCII projection
      .map { s =>
        if (s.length < 16) Vector.empty[Long]
        else (0 to s.length - 16).map { i =>
          s.substring(i, i + 16).foldLeft(0L)((a, c) => (a * B + c.toLong) % P)
        }.toVector
      }
    assert(native.toSeq === expected.toSeq)
    // window longer than string and empty string → empty arrays, no throw
    assert(native(2).isEmpty && native(3).isEmpty)
  }

  test("sim_hash: native expression matches an independent reference on random inputs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.call_function
    val rnd = new scala.util.Random(12345)
    val alphabet = "abc def GH éé世 .,!"
    val strs = Seq.fill(200)(
      (0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    ) ++ Seq("", " ", "a", "same same same")
    val got = strs.toDF("s")
      .select(call_function(graft.functions.SimHashExpr.Name, col("s")))
      .collect().map(_.getLong(0))
    def ref(s: String): Long = {
      val bits = graft.functions.SimHashExpr.Bits
      val votes = new Array[Long](bits)
      for ((t, grp) <- s.split(" ", -1).groupBy(identity)) {
        val w = grp.length.toLong
        val md = java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
        var v = 0L
        for (b <- 0 until 8) v = (v << 8) | (md(b) & 0xffL)
        val th = v >>> 4
        for (b <- 0 until bits) votes(b) += (if (((th >> b) & 1L) == 1L) w else -w)
      }
      (0 until bits).foldLeft(0L)((acc, b) => if (votes(b) > 0) acc | (1L << b) else acc)
    }
    assert(got.toSeq === strs.map(ref))
  }

  test("min_hash_sig: fused native expression matches the composable chain") {
    import org.apache.spark.sql.functions.{col, lower, trim, regexp_replace}
    import spark.implicits._
    assert(spark.catalog.functionExists(ArrayOps.MinHashSigName))
    val df = Seq(
      "the quick brown fox jumps over the lazy dog",
      "one two",            // fewer tokens than the shingle width -> all -1
      "a b c",              // exactly one shingle
      "x y z x y z x y z"   // repeated shingles (min unaffected)
    ).toDF("raw").select(regexp_replace(lower(trim(col("raw"))), "\\s+", " ").as("norm"))
    val native = df.select(ArrayOps.minHashSig(spark, col("norm")).as("mh"))
      .collect().map(_.getSeq[Long](0).toVector)
    // force the fallback chain by computing against a throwaway check of
    // the same helper semantics: drop the registered function via a plain
    // recompute of the chain (the helper's else-branch, inlined here)
    val chain = {
      import graft.functions.MinHashParams._
      import org.apache.spark.sql.functions._
      val toks = split(col("norm"), " ")
      val sh = graft.functions.Portable.shingles(toks, ShingleN)
      val hq = transform(sh, x => graft.functions.Portable.h64(x).bitwiseAND(lit(0x3FFFFFFFL)))
      array((0 until NumHashes).map { i =>
        coalesce(array_min(transform(hq, h => (lit(A(i)) * h + lit(B(i))) % lit(P))), lit(-1L))
      }: _*)
    }
    val fallback = df.select(chain.as("mh")).collect().map(_.getSeq[Long](0).toVector)
    assert(native.toSeq === fallback.toSeq)
    assert(native(1).forall(_ == -1L))
  }

  test("long_dot is null-safe and participates in whole-stage codegen") {
    import spark.implicits._
    val df = Seq((Some(Seq(1L, 2L)), Option.empty[Seq[Long]])).toDF("a", "b")
    val row = df.select(ArrayOps.longDot(spark, col("a"), col("b"))).collect()(0)
    assert(row.isNullAt(0))
    // the expression must NOT force the plan out of whole-stage codegen
    // (a local Seq would be constant-folded to LocalTableScan, so use a
    // parquet-backed plan)
    val q = Tables.embeddings(spark, sf)
      .select(transform(col("embedding"), x => x.cast("long")).as("q"))
    val plan = q.select(ArrayOps.longDot(spark, col("q"), col("q")).as("d"))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix marks operators inside a WholeStageCodegen span;
    // the long_dot Project must carry it (interpreted higher-order
    // functions, by contrast, strip it — visible on the transform Project)
    val dotLine = plan.linesIterator.find(_.contains("long_dot")).getOrElse("")
    assert(dotLine.trim.startsWith("*("), s"long_dot project not codegen'd:\n$plan")
  }
}
