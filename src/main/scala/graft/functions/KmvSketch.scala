package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions

/** KMV (k-minimum-values) distinct-count sketch as a MERGEABLE typed
  * `Aggregator` — the form that scales: the buffer is the k smallest
  * DISTINCT hash values, bounded at k elements, so map-side partial
  * aggregation reduces every partition to ≤ k values per group BEFORE
  * the exchange. The window-form derivation
  * (row_number ≤ k, [[graft.operators.Misc.m10KmvWindowForm]]) computes
  * the same sketch but shuffles the whole distinct key universe into one
  * sort per group — at 100 TB that is a single-reducer sort per group,
  * the exact thing a mergeable sketch exists to avoid. The two forms are
  * pinned row-identical in KmvAggregatorSpec; the window form stays as
  * the DuckDB oracle derivation.
  *
  * The merge is the textbook KMV union (Bar-Yossef et al. 2002; see also
  * the theta-sketch family): k smallest of the distinct union of two
  * sorted k-min sets — associative, commutative, idempotent, which is
  * what lets Spark combine partials in any tree shape.
  */
object KmvSketch {

  /** Sketch readout: `m` = number of retained values (< k means the
    * group's whole distinct set fit — the estimate is exact), `kth` =
    * the largest retained value (the k-th minimum when full). */
  final case class Kmv(m: Long, kth: Long)

  /** Sorted-insert keeping the array ascending, distinct, ≤ k long. */
  private[functions] def kInsert(k: Int, b: Array[Long], h: Long): Array[Long] = {
    val pos = java.util.Arrays.binarySearch(b, h)
    if (pos >= 0) b // already present — distinct semantics
    else {
      val ins = -pos - 1
      if (b.length < k) {
        val out = new Array[Long](b.length + 1)
        System.arraycopy(b, 0, out, 0, ins)
        out(ins) = h
        System.arraycopy(b, ins, out, ins + 1, b.length - ins)
        out
      } else if (ins < k) { // displaces the current max
        val out = new Array[Long](k)
        System.arraycopy(b, 0, out, 0, ins)
        out(ins) = h
        System.arraycopy(b, ins, out, ins + 1, k - ins - 1)
        out
      } else b // larger than the k-th min of a full sketch
    }
  }

  /** k smallest of the distinct union of two sorted distinct arrays. */
  private[functions] def kUnion(k: Int, b1: Array[Long], b2: Array[Long]): Array[Long] = {
    val bound = math.min(k, b1.length + b2.length)
    val out = new Array[Long](bound)
    var i = 0
    var j = 0
    var n = 0
    while (n < bound && (i < b1.length || j < b2.length)) {
      val v =
        if (j >= b2.length) { i += 1; b1(i - 1) }
        else if (i >= b1.length) { j += 1; b2(j - 1) }
        else if (b1(i) < b2(j)) { i += 1; b1(i - 1) }
        else if (b1(i) > b2(j)) { j += 1; b2(j - 1) }
        else { i += 1; j += 1; b1(i - 1) } // equal: consume both once
      out(n) = v
      n += 1
    }
    if (n == bound) out else java.util.Arrays.copyOf(out, n)
  }

  private[graft] final class KmvAgg(k: Int) extends Aggregator[Long, Array[Long], Kmv] {
    require(k >= 1, s"kmv sketch size must be >= 1, got $k")
    override def zero: Array[Long] = Array.emptyLongArray
    override def reduce(b: Array[Long], h: Long): Array[Long] = kInsert(k, b, h)
    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = kUnion(k, b1, b2)

    override def finish(b: Array[Long]): Kmv =
      Kmv(b.length.toLong, if (b.isEmpty) 0L else b(b.length - 1))

    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Kmv] = Encoders.product[Kmv]
  }

  /** Same sketch, but the readout is the retained k-min VALUE SET itself
    * (ascending array) — the form sketch SET ALGEBRA needs (m18):
    * theta-style intersection/union estimates work on the retained
    * values below the pair's common threshold, not just (m, kth). */
  private[graft] final class KmvValuesAgg(k: Int)
      extends Aggregator[Long, Array[Long], Array[Long]] {
    require(k >= 1, s"kmv sketch size must be >= 1, got $k")
    override def zero: Array[Long] = Array.emptyLongArray
    override def reduce(b: Array[Long], h: Long): Array[Long] = kInsert(k, b, h)
    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = kUnion(k, b1, b2)
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  // ------------------------------------------------------- rank sketch
  /** Sorted-insert of a (hash, value) pair: ascending and distinct by
    * hash, ≤ k long, MIN value on a hash tie — the structural
    * determinism that makes the pair sketch a pure function of the
    * input SET (which pair survives a 60-bit collision must not depend
    * on arrival or merge order; min is commutative and idempotent, and
    * the oracle's `min(v) GROUP BY h` mirrors it exactly). */
  /** Total-order "smaller" on doubles (java.lang.Double.compare: -0.0
    * < 0.0 < NaN-greatest) — the tie-break MUST be a total order or the
    * sketch stops being a pure function of the input set: IEEE `<` is
    * false for every NaN comparison, so insert-path ties would keep the
    * incumbent while math.min on the merge path would keep the NaN —
    * same input set, different sketches depending on which path the
    * pair travelled. */
  private def pairLt(a: Double, b: Double): Boolean =
    java.lang.Double.compare(a, b) < 0

  private[functions] def kInsertPair(k: Int, b: Array[(Long, Double)],
                                     h: Long, v: Double): Array[(Long, Double)] = {
    var lo = 0
    var hi = b.length
    while (lo < hi) { // binary search on the hash component
      val mid = (lo + hi) >>> 1
      if (b(mid)._1 < h) lo = mid + 1 else hi = mid
    }
    if (lo < b.length && b(lo)._1 == h) {
      if (pairLt(v, b(lo)._2)) { val out = b.clone(); out(lo) = (h, v); out } else b
    } else if (b.length < k) {
      val out = new Array[(Long, Double)](b.length + 1)
      System.arraycopy(b, 0, out, 0, lo)
      out(lo) = (h, v)
      System.arraycopy(b, lo, out, lo + 1, b.length - lo)
      out
    } else if (lo < k) { // displaces the current max hash
      val out = new Array[(Long, Double)](k)
      System.arraycopy(b, 0, out, 0, lo)
      out(lo) = (h, v)
      System.arraycopy(b, lo, out, lo + 1, k - lo - 1)
      out
    } else b
  }

  /** k smallest-by-hash of the union of two sorted pair arrays; equal
    * hashes keep the MIN value (see [[kInsertPair]]). */
  private[functions] def kUnionPair(k: Int, b1: Array[(Long, Double)],
                                    b2: Array[(Long, Double)]): Array[(Long, Double)] = {
    val bound = math.min(k, b1.length + b2.length)
    val out = new Array[(Long, Double)](bound)
    var i = 0
    var j = 0
    var n = 0
    while (n < bound && (i < b1.length || j < b2.length)) {
      val p =
        if (j >= b2.length) { i += 1; b1(i - 1) }
        else if (i >= b1.length) { j += 1; b2(j - 1) }
        else if (b1(i)._1 < b2(j)._1) { i += 1; b1(i - 1) }
        else if (b1(i)._1 > b2(j)._1) { j += 1; b2(j - 1) }
        else { // equal hash: consume both once, keep the total-order min
          val m = (b1(i)._1,
            if (pairLt(b2(j)._2, b1(i)._2)) b2(j)._2 else b1(i)._2)
          i += 1; j += 1; m
        }
      out(n) = p
      n += 1
    }
    if (n == bound) out else java.util.Arrays.copyOf(out, n)
  }

  /** MERGEABLE RANK/QUANTILE SKETCH — the KMV bottom-k sample carrying
    * value payloads: retain the (hash, value) pairs of the k smallest
    * distinct hashes of a UNIQUE ROW KEY, i.e. a deterministic uniform
    * row sample whose membership is a pure function of the input set.
    * Quantile readout = `percentile_disc` over the retained values
    * (rank error is the uniform-sampling bound, ~sqrt(ln(2/δ)/(2k))
    * uniformly over all ranks by DKW — pinned against m17's exact
    * selection in the spec).
    *
    * Why not KLL (Karnin-Lang-Liberty) or GK, the names usually reached
    * for: KLL's compactors discard odd- or even-indexed survivors by
    * coin flip, and even the deterministic MRL variant keeps a
    * different set depending on the MERGE TREE SHAPE, which Spark's
    * partial aggregation deliberately does not fix — the sketch would
    * change across partitionings and runs, breaking both the bit-exact
    * DuckDB oracle and this repo's partition/strategy invariance gates.
    * The bottom-k row sample is the member of the mergeable-quantile
    * family with a full merge LATTICE (associative, commutative,
    * idempotent — the KMV union law on the hash component), trading a
    * log(1/ε) factor of space for order-independence; the readout cost
    * and deployment shape (per-partition sketch → merge → serve) are
    * the DataSketches ones. Bar-Yossef et al. 2002's KMV with payloads;
    * cf. Manku et al. SIGMOD'98/'99 sampling-based quantiles. */
  private[graft] final class KmvPairsAgg(k: Int)
      extends Aggregator[(Long, Double), Array[(Long, Double)], Array[(Long, Double)]] {
    require(k >= 1, s"kmv sketch size must be >= 1, got $k")
    override def zero: Array[(Long, Double)] = Array.empty[(Long, Double)]
    override def reduce(b: Array[(Long, Double)], p: (Long, Double)): Array[(Long, Double)] =
      kInsertPair(k, b, p._1, p._2)
    override def merge(b1: Array[(Long, Double)],
                       b2: Array[(Long, Double)]): Array[(Long, Double)] =
      kUnionPair(k, b1, b2)
    override def finish(b: Array[(Long, Double)]): Array[(Long, Double)] = b
    override def bufferEncoder: Encoder[Array[(Long, Double)]] =
      ExpressionEncoder[Array[(Long, Double)]]()
    override def outputEncoder: Encoder[Array[(Long, Double)]] =
      ExpressionEncoder[Array[(Long, Double)]]()
  }

  /** Column-API handle: `kmvPairs(256)(col("h"), col("v"))` → array of
    * struct(_1 = hash, _2 = value), ascending by hash. The caller owns
    * the hash (a portable h64 of a unique row key) so the DuckDB oracle
    * reproduces membership exactly. */
  def kmvPairs(k: Int): UserDefinedFunction = functions.udaf(new KmvPairsAgg(k))

  /** Test handle for the pair-sketch law checks. */
  private[graft] def pairsAgg(k: Int): KmvPairsAgg = new KmvPairsAgg(k)

  /** Column-API handle: `df.agg(KmvSketch.kmv(64)(col("h")))` → struct
    * (m, kth). Input must already be the portable hash (the caller owns
    * the hash so the DuckDB oracle can reproduce it). */
  def kmv(k: Int): UserDefinedFunction = functions.udaf(new KmvAgg(k))

  /** The KMV readout estimate over a retained k-min VALUE array column:
    * exact count while the sketch isn't full, else (k−1)·2^60 / k-th
    * min — (k−1)·2^60 is exact in a double and the division is one
    * correctly-rounded op, identical in DuckDB. ONE definition for
    * every array-form readout site (m18, st18) so the estimator can
    * never drift between them. */
  def estDistinct(k: Int)(sk: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    when(size(sk) < k, size(sk).cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(1152921504606846976.0) /
        element_at(sk, k).cast("double"))
  }

  /** Column-API handle returning the retained k-min values (ascending). */
  def kmvValues(k: Int): UserDefinedFunction = functions.udaf(new KmvValuesAgg(k))

  /** Test handle for the law checks (reduce/merge as pure functions). */
  private[graft] def agg(k: Int): KmvAgg = new KmvAgg(k)
}
