package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Similarity search over the `embeddings` table (vec_id, embedding
  * FLOAT[64], label): brute-force cosine top-k as the correctness
  * baseline, and a hyperplane-LSH-bucketed variant as the scale path.
  *
  * Cross-engine determinism: embeddings are quantized to integers
  * (round(x*10000)) before any arithmetic. Dot products and squared norms
  * are then EXACT (sums < 2^53, order-independent), and cosine =
  * dot / (sqrt(na)*sqrt(nb)) is a fixed sequence of correctly-rounded
  * IEEE ops — bit-identical in Spark and DuckDB, so rankings can't
  * diverge at rounding boundaries. Ties break on neighbor id.
  *
  * Scale design: brute force is O(Q·N) and exists as the oracle/recall
  * baseline — the query side is explicitly subsampled, never all-pairs.
  * The production path (e02) buckets by deterministic random-hyperplane
  * signs (classic SimHash-for-cosine LSH): candidate generation is an
  * equi-join on the bucket key, so the pair count is Σ bucket², bounded
  * by the signature width — add planes to split hot buckets. An IVF
  * variant would swap the sign-signature for a learned-centroid
  * assignment; the join shape is identical.
  */
object Embeddings {

  private val Quant = 10000

  /** vec_id, label, q = integer-quantized embedding, nq = its squared
    * norm. Spread to the session's parallelism ONLY when the scan is
    * narrower than it (the single-file fixture otherwise yields one
    * input split and serializes every pairwise stage; a wide scan skips
    * the shuffle — [[graft.Tables.spreadIfNarrow]]).
    *
    * nq is computed ONCE PER VECTOR here, not per candidate pair: every
    * cosine downstream is dot(a,b)/(√na·√nb), and evaluating the self-
    * norms inside the pair stage repeats two 64-element dot products
    * per pair — at Σ bucket² pairs that is the dominant redundant work
    * of the whole e-suite. Factoring it out changes no value (the same
    * exact-integer dot, just evaluated earlier), so oracle hashes are
    * untouched; Catalyst prunes the column where unused (e03). */
  /** Memoized per (JVM, dir) as a localCheckpoint: the quantized
    * column IS the stored vector table of every index in this suite
    * (the `q` the persisted lifecycle derives its artifacts from), so
    * serving queries read the stored column instead of re-scanning and
    * re-quantizing parquet per query — the stored-index discipline
    * (docs/SCALE.md). Within a JVM every caller then shares ONE
    * canonical plan, which also keys the codebook/quantizer memos
    * consistently. */
  private[graft] def quantized(s: SparkSession, dir: String): DataFrame =
    graft.StoredMemo.stored(s, "quantized-vectors", dir) {
      quantizedFrom(s, Tables.spreadIfNarrow(Tables.embeddings(s, dir), s"$dir/embeddings"))
        .localCheckpoint()
    }

  /** The quantization core over an arbitrary embeddings-shaped frame —
    * shared with the persisted-index lifecycle
    * ([[graft.jobs.IncrementalIndex]]) so a stored index and a recompute
    * quantize identically. */
  private[graft] def quantizedFrom(s: SparkSession, vecs: DataFrame): DataFrame =
    vecs.select(
        col("vec_id"), col("label"),
        transform(col("embedding"), x => round(x.cast("double") * Quant).cast("long")).as("q"))
      .withColumn("nq", graft.functions.ArrayOps.longDot(s, col("q"), col("q")))

  private val quantSql: String =
    s"""WITH qv AS (
       |  SELECT vec_id, label,
       |    list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * $Quant) AS BIGINT)) AS q
       |  FROM embeddings
       |)""".stripMargin

  /** Exact integer dot product of two quantized vectors — the native
    * codegen'd [[graft.functions.LongDot]] expression: the interpreted
    * `aggregate(zip_with(...))` fold was the hot path of every pairwise
    * stage (it also blocked whole-stage codegen for the join operator). */
  private def dotQ(s: SparkSession)(a: Column, b: Column): Column =
    graft.functions.ArrayOps.longDot(s, a, b)

  // ---------------------------------------------------------------- e01
  /** Brute-force cosine top-k for a deterministic query subsample
    * (vec_id % 5 == 0): the recall baseline every ANN variant is judged
    * against. Ranking via row_number over (cos desc, neighbor asc). */
  val TopK = 5

  /** The stored GROUND-TRUTH table: brute-force cosine ranks ≤
    * [[MmrPoolN]] per benchmark query, with the neighbor payload (qb,
    * nb) riding along — computed once per (JVM, dir) and checkpointed
    * (recall-audit practice: the exhaustive truth table is the most
    * expensive artifact in an ANN eval and is always precomputed and
    * stored, faiss-bench style). e01 projects its top-[[TopK]] slice,
    * e07's truth leg reads through e01, and e16's MMR pool is the
    * rank ≤ MmrPoolN slice — one nested-loop scoring pass serves all
    * three. Column pruning drops the payload where unused. */
  private[graft] def bruteRankedOf(s: SparkSession, dir: String): DataFrame =
    graft.StoredMemo.stored(s, "brute-truth", dir) {
      // layout note (r13): deliberately NOT repartitioned — consumers
      // either aggregate or broadcast this table, and the measured A/B
      // showed the compact AQE layout faster for e16's iterative rounds
      bruteRankedFrom(s, quantized(s, dir)).localCheckpoint()
    }

  /** The truth-table core over an arbitrary quantized frame: the
    * body of [[bruteRankedOf]]'s memo, and the brute-force reference
    * the graph specs score a subset against. */
  private[graft] def bruteRankedFrom(s: SparkSession, v: DataFrame): DataFrame = {
      val queries = v.where(col("vec_id") % 5 === 0)
        .select(col("vec_id").as("query_id"), col("q").as("qa"), col("nq").as("na"))
      val cands = v.select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("nq").as("nb"))
      val dot = dotQ(s) _
      // broadcast the candidate side: brute force IS a nested loop; with the
      // broadcast it parallelizes over query partitions instead of pinning
      // the whole product on one task
      val scored = queries.join(broadcast(cands), col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("qb"), col("nb"),
          (dot(col("qa"), col("qb")).cast("double") /
            (sqrt(col("na").cast("double")) *
              sqrt(col("nb").cast("double")))).as("cos"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= MmrPoolN)
  }

  def e01KnnBrute(s: SparkSession, dir: String): DataFrame =
    bruteRankedOf(s, dir).where(col("rank") <= TopK)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))

  val e01Sql: String =
    s"""$quantSql, scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
       |      (sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE)) *
       |       sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE))) AS cos
       |  FROM qv a JOIN qv b ON a.vec_id % 5 = 0 AND a.vec_id <> b.vec_id
       |)
       |SELECT query_id, neighbor_id, cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored) t
       |WHERE rank <= $TopK""".stripMargin

  // ---------------------------------------------------------------- e02
  /** Hyperplane-LSH bucketed ANN: 4 deterministic ±1 hyperplanes → 16
    * buckets; candidates are an equi-join on the bucket key; exact
    * cosine + top-3 within the bucket. */
  val NumPlanes = 4
  val Dim = 64

  /** Deterministic ±1 hyperplanes (Knuth-multiplicative bit spread) —
    * the same literals are embedded in the oracle SQL. `table` selects
    * an INDEPENDENT hash table (multi-table LSH): table t's plane p
    * draws its bits from generator index t·NumPlanes + p, so distinct
    * tables partition the corpus along unrelated hyperplane sets. */
  private[operators] def planesFor(table: Int): IndexedSeq[IndexedSeq[Int]] =
    (0 until NumPlanes).map { p =>
      val g = table * NumPlanes + p
      (0 until Dim).map { d =>
        if ((((g * Dim + d) * 2654435761L) >>> 16 & 1L) == 1L) 1 else -1
      }
    }

  private[operators] val planes: IndexedSeq[IndexedSeq[Int]] = planesFor(0)

  private def bucketCol(s: SparkSession, q: Column, table: Int = 0): Column = {
    val ps = planesFor(table)
    (0 until NumPlanes).map { p =>
      val plane = array(ps(p).map(v => lit(v.toLong)): _*)
      when(dotQ(s)(q, plane) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Multi-probe lever (Lv et al., VLDB'07): besides its own bucket,
    * the QUERY side probes the buckets reached by flipping its t
    * smallest-|margin| hyperplanes — the planes the vector sits closest
    * to, i.e. the flips most likely to recover a lost near neighbor.
    * Candidate volume grows linearly in (1 + t) while the index side
    * stays put — LSH's answer to IVF's nprobe, with the same
    * monotone-recall contract (spec-pinned via the e07 audit). Default
    * 0 probes = the oracle's formulation. */
  val MultiProbeConf = "spark.graft.lsh.multiProbe"

  /** The query's probe-bucket list: own bucket first, then t one-bit
    * flips in ascending |dot(q, plane)| order (ties break on plane
    * index via the struct sort). Probe buckets are pairwise distinct,
    * and a neighbor lives in exactly one bucket, so no (query,
    * neighbor) pair can arise twice — no dedup stage needed. */
  /** Probe-bucket list over an already-materialized base bucket (the
    * stored LSH index column from [[bucketedOf]]) — only the flip
    * margins recompute from q; the 16-plane base hash reads stored. */
  private def probeBucketsFrom(s: SparkSession, q: Column, base: Column,
      probes: Int): Column = {
    val dot = dotQ(s) _
    if (probes <= 0) array(base)
    else {
      val ranked = array_sort(array((0 until NumPlanes).map { p =>
        val plane = array(planes(p).map(v => lit(v.toLong)): _*)
        struct(abs(dot(q, plane)).as("m"), lit(p).as("p"))
      }: _*))
      val masks = array((0 until NumPlanes).map(p => lit(1L << p)): _*)
      concat(
        array(base),
        transform(slice(ranked, 1, math.min(probes, NumPlanes)),
          x => base.bitwiseXOR(element_at(masks, x.getField("p") + 1))))
    }
  }

  /** The LSH index TABLE: quantized vectors with their stored 16-plane
    * bucket hash, materialized once per (JVM, dir) — e02/e04 (and e07's
    * lsh leg through them) serve from the SAME stored bucket table
    * instead of each re-hashing the corpus, exactly as a persisted LSH
    * index would at scale ([[graft.jobs.IncrementalIndex]]'s
    * store-and-freeze discipline; localCheckpoint is its single-JVM
    * analogue). Sound for the same reason as [[graft.Tables
    * .spreadIfNarrow]]'s cache: fixture inputs are immutable within a
    * JVM, and the bucket hash is a pure function of q. */
  private[graft] def bucketedOf(s: SparkSession, dir: String): DataFrame =
    graft.StoredMemo.stored(s, "lsh-bucketed", dir) {
      bucketedFrom(s, quantized(s, dir)).localCheckpoint()
    }

  /** The two-table bucket projection over an arbitrary quantized frame
    * — shared with the persisted stores ([[graft.jobs.IncrementalIndex
    * .writeLshIndexBatch]] and the st21/st22 probes) so a stored index
    * and a recompute hash identically. */
  private[graft] def bucketedFrom(s: SparkSession, v: DataFrame): DataFrame =
    v.withColumn("bucket", bucketCol(s, col("q")))
      .withColumn("bucket_b", bucketCol(s, col("q"), table = 1))

  def e02AnnBucketed(s: SparkSession, dir: String): DataFrame = {
    val dot = dotQ(s) _
    val probes = graft.ExtraConf.intLever(s, MultiProbeConf, 0, min = 0)
    val v = bucketedOf(s, dir)
    val a = v.withColumn("pbucket",
        explode(probeBucketsFrom(s, col("q"), col("bucket"), probes)))
      .select(col("pbucket").as("bucket"), col("vec_id").as("query_id"),
        col("q").as("qa"), col("nq").as("na"))
    val b = v
      .select(col("bucket"), col("vec_id").as("neighbor_id"),
        col("q").as("qb"), col("nq").as("nb"))
    // strategy-gated ([[SelfJoin]]): broadcast locally (bucket keys are
    // few — 2^planes — so broadcasting keeps parallelism on the left
    // side's partitioning); shuffle on bucket + AQE skew-split at 100 TB
    val scored = SelfJoin.on(a, b, Seq("bucket")).where(col("query_id") =!= col("neighbor_id"))
      .select(col("bucket"), col("query_id"), col("neighbor_id"),
        (dot(col("qa"), col("qb")).cast("double") /
          (sqrt(col("na").cast("double")) *
            sqrt(col("nb").cast("double")))).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
  }

  val e02Sql: String = {
    val planeLits = (0 until NumPlanes).map { p =>
      s"[${planes(p).mkString(", ")}]"
    }
    val bucketExpr = (0 until NumPlanes).map { p =>
      s"CASE WHEN list_dot_product(q, ${planeLits(p)}) > 0 THEN ${1L << p} ELSE 0 END"
    }.mkString(" + ")
    s"""$quantSql, bv AS (
       |  SELECT vec_id, q, $bucketExpr AS bucket FROM qv
       |), scored AS (
       |  SELECT a.bucket, a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
       |      (sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE)) *
       |       sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE))) AS cos
       |  FROM bv a JOIN bv b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |)
       |SELECT bucket, query_id, neighbor_id, cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored) t
       |WHERE rank <= 3""".stripMargin
  }

  // ---------------------------------------------------------------- e03
  /** Per-label centroid stats (the IVF building block): per-dimension
    * integer component sums, reduced to (count, squared-norm of the
    * centroid-sum vector) per label — all exact integer arithmetic. At
    * scale this is the assignment table an IVF index trains from: one
    * shuffle on (label, dim), one on label. */
  def e03LabelCentroids(s: SparkSession, dir: String): DataFrame = {
    val v = quantized(s, dir)
    val comps = v
      .select(col("label"), col("q"), explode(sequence(lit(1), lit(Dim))).as("i"))
      .select(col("label"), col("i"), element_at(col("q"), col("i")).as("comp"))
    val cents = comps.groupBy(col("label"), col("i")).agg(sum(col("comp")).as("csum"))
    val norms = cents.groupBy(col("label")).agg(sum(col("csum") * col("csum")).as("c_norm2"))
    v.groupBy(col("label")).agg(count(lit(1)).as("n_vecs")).join(norms, Seq("label"))
  }

  val e03Sql: String =
    s"""$quantSql, comps AS (
       |  SELECT label, i, q[i] AS comp FROM qv, generate_series(1, $Dim) g(i)
       |), cents AS (
       |  SELECT label, i, sum(comp) AS csum FROM comps GROUP BY 1, 2
       |), norms AS (
       |  SELECT label, CAST(sum(csum * csum) AS BIGINT) AS c_norm2 FROM cents GROUP BY 1
       |)
       |SELECT counts.label, n_vecs, c_norm2
       |FROM (SELECT label, count(*) AS n_vecs FROM qv GROUP BY 1) counts
       |JOIN norms ON counts.label = norms.label""".stripMargin

  // ---------------------------------------------------------------- e04
  /** Embedding-cosine near-duplicate detection: pairs above a cosine
    * threshold, bucketed by the same hyperplane LSH as e02 (candidate
    * generation is the bucket equi-join; the threshold filter replaces
    * the top-k window). The dedup-family combinator: content survives if
    * no EARLIER (lower-id) vector sits within the threshold.
    *
    * Threshold note: production near-dup uses ~0.95; the fixture's
    * embeddings are independent gaussians (max pairwise cosine ≈ 0.51),
    * so the operator is exercised at 0.4 — the top tail of the
    * distribution — to keep a non-trivial, deterministic result. */
  val CosineThreshold = 0.4

  def e04CosineNeardup(s: SparkSession, dir: String): DataFrame = {
    val dot = dotQ(s) _
    val v = bucketedOf(s, dir)
    val a = v.select(col("bucket"), col("vec_id").as("vec_a"),
      col("q").as("qa"), col("nq").as("na"))
    val b = v.select(col("bucket"), col("vec_id").as("vec_b"),
      col("q").as("qb"), col("nq").as("nb"))
    SelfJoin.on(a, b, Seq("bucket")).where(col("vec_a") < col("vec_b"))
      .withColumn("cos",
        dot(col("qa"), col("qb")).cast("double") /
          (sqrt(col("na").cast("double")) *
            sqrt(col("nb").cast("double"))))
      .where(col("cos") >= CosineThreshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  val e04Sql: String = {
    val planeLits = (0 until NumPlanes).map(p => s"[${planes(p).mkString(", ")}]")
    val bucketExpr = (0 until NumPlanes).map { p =>
      s"CASE WHEN list_dot_product(q, ${planeLits(p)}) > 0 THEN ${1L << p} ELSE 0 END"
    }.mkString(" + ")
    s"""$quantSql, bv AS (
       |  SELECT vec_id, q, $bucketExpr AS bucket FROM qv
       |)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
       |    (sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE)) *
       |     sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE))) AS cos
       |FROM bv a JOIN bv b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
       |    (sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE)) *
       |     sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE))) >= $CosineThreshold""".stripMargin
  }

  /** qv/bv/sdoomed CTE block for composition into ANOTHER engine's WITH
    * chain (d31's cross-modal oracle): e04's bucketed cosine pairs
    * reduced to the semantically-doomed id set (keep-first: a doc is
    * doomed if an EARLIER vector sits within the threshold). A `def`
    * whose references (Quant, planes, CosineThreshold) are all declared
    * above — object-init-order safe from either side of the
    * LlmText ↔ Embeddings reference cycle. */
  private[graft] def semDoomedSqlCtes: String = {
    val planeLits = (0 until NumPlanes).map(p => s"[${planes(p).mkString(", ")}]")
    val bucketExpr = (0 until NumPlanes).map { p =>
      s"CASE WHEN list_dot_product(q, ${planeLits(p)}) > 0 THEN ${1L << p} ELSE 0 END"
    }.mkString(" + ")
    s""", qv2 AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * $Quant) AS BIGINT)) AS q
       |  FROM embeddings
       |), bv2 AS (
       |  SELECT vec_id, q, $bucketExpr AS bucket FROM qv2
       |), sdoomed AS (
       |  SELECT DISTINCT b.vec_id AS doc_id
       |  FROM bv2 a JOIN bv2 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
       |      (sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE)) *
       |       sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE))) >= $CosineThreshold
       |)""".stripMargin
  }

  // ---------------------------------------------------------------- e05
  /** IVF-style ANN: vectors assign to their nearest coarse centroid
    * (argmax cosine against per-label centroid-sum directions — e03's
    * table turned into an index), then top-3 probes run within the
    * query's `nprobe` nearest cells (`spark.graft.ivf.nprobe`, default
    * 1 — the oracle's formulation). nprobe is THE standard IVF recall
    * lever: the index side stays in its one primary cell, the query
    * side fans out to its top-n cells, so each (query, neighbor) pair
    * still appears at most once (no dedup) and candidate volume grows
    * linearly in nprobe, never quadratically. LlmTextSpec pins that
    * raising nprobe never worsens any query's best match. The label
    * starts the centroids (as a trained IVF would use k-means cells);
    * assignment is by geometry, not by the label column. All arithmetic
    * exact-integer / fixed-sequence doubles; ties break on cell id then
    * neighbor id. */
  val NprobeConf = "spark.graft.ivf.nprobe"

  private def ivfNprobe(s: SparkSession): Int =
    graft.ExtraConf.intLever(s, NprobeConf, 1, min = 1)

  /** Vectors ranked by centroid-cosine against every cell: the shared
    * IVF assignment stage (rn = 1 is the primary cell; rn <= nprobe is
    * the query-side fan-out). Centroid directions are the per-label
    * component sums — a trained index would swap k-means centroids in
    * at the same shape. */
  /** In-JVM memo of the assignment table — the IVF index's STORED
    * artifact ([[graft.jobs.IncrementalIndex.writeCellIndex]] persists
    * exactly this as `cell_members`): built once per (JVM, dir),
    * localCheckpoint as the single-JVM analogue of the persisted
    * index, and every serving path reads the stored table instead of
    * re-running quantize + centroid + rank per query (the
    * [[bucketedOf]] / d03 pair-table discipline). A welcome
    * second-order effect: frames derived from this ONE checkpoint have
    * stable canonicalized plans, so the codebook/quantizer memos keyed
    * on them re-hit across queries instead of retraining. */
  private[graft] def cellRanked(s: SparkSession, dir: String): DataFrame =
    graft.StoredMemo.stored(s, "ivf-assignment", dir) {
      val v = quantized(s, dir)
      // layout note (r13): deliberately NOT repartitioned — the e05/
      // e12-e15 consumers join it broadcast-side or aggregate it, and
      // the measured A/B favored the compact AQE layout
      assignRanked(s, v, centroidsOf(s, v)).localCheckpoint()
    }

  /** (cell, cvec, ncv) centroid-sum directions per label over a
    * quantized frame — the table an IVF index TRAINS once and then
    * freezes; the persisted-index lifecycle stores it and assigns every
    * later batch against the stored copy. */
  private[graft] def centroidsOf(s: SparkSession, v: DataFrame): DataFrame = {
    val dot = dotQ(s) _
    // centroid-sum vector per label, dim-ordered (collect_list carries
    // no order guarantee → sort the (i, csum) pairs then project)
    v.select(col("label"), col("q"), explode(sequence(lit(1), lit(Dim))).as("i"))
      .withColumn("comp", element_at(col("q"), col("i")))
      .groupBy(col("label"), col("i")).agg(sum(col("comp")).as("csum"))
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("i"), col("csum")))),
        p => p.getField("csum")).as("cvec"))
      // centroid self-norm once per CELL, not per (vector, cell) pair
      .select(col("label").as("cell"), col("cvec"),
        dot(col("cvec"), col("cvec")).as("ncv"))
  }

  /** Every vector of `v` ranked by centroid-cosine against every cell of
    * `cents` (rn = 1 is the primary-cell assignment). The assignment
    * core shared by [[cellRanked]] and the persisted-index probe — the
    * centroid table is a broadcast dim (#cells rows), so assignment is
    * map-shaped at any corpus size. */
  private[graft] def assignRanked(s: SparkSession, v: DataFrame, cents: DataFrame): DataFrame = {
    val dot = dotQ(s) _
    v.crossJoin(broadcast(cents))
      .withColumn("cos_c",
        dot(col("q"), col("cvec")).cast("double") /
          (sqrt(col("nq").cast("double")) *
            sqrt(col("ncv").cast("double"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cos_c").desc, col("cell").asc)))
  }

  /** comps/csums/cents/assigned oracle CTE block — the IVF
    * cell-assignment stage in SQL, shared by e05Sql/e06Sql/e07Sql/
    * e09Sql so the four oracles cannot drift. A `def` for
    * object-initialization-order safety (the RerankC trap). */
  private def assignedSqlCtes: String =
    s""", comps AS (
       |  SELECT label, i, q[i] AS comp FROM qv, generate_series(1, $Dim) g(i)
       |), csums AS (
       |  SELECT label, i, sum(comp) AS csum FROM comps GROUP BY 1, 2
       |), cents AS (
       |  SELECT label AS cell, list(CAST(csum AS BIGINT) ORDER BY i) AS cvec
       |  FROM csums GROUP BY label
       |), assigned AS (
       |  SELECT cell, vec_id, q FROM (
       |    SELECT cents.cell, qv.vec_id, qv.q,
       |      row_number() OVER (PARTITION BY qv.vec_id ORDER BY
       |        CAST(list_dot_product(qv.q, cents.cvec) AS DOUBLE) /
       |          (sqrt(CAST(list_dot_product(qv.q, qv.q) AS DOUBLE)) *
       |           sqrt(CAST(list_dot_product(cents.cvec, cents.cvec) AS DOUBLE))) DESC,
       |        cents.cell ASC) AS rn
       |    FROM qv, cents) t
       |  WHERE rn = 1
       |)""".stripMargin

  def e05IvfAnn(s: SparkSession, dir: String): DataFrame =
    e05From(s, cellRanked(s, dir))

  /** e05's body over a caller-supplied assignment table — the audit
    * (e07) materializes ONE `assignRanked` and feeds every IVF path;
    * the standalone query builds its own. Same plan either way. */
  private def e05From(s: SparkSession, ranked: DataFrame): DataFrame = {
    val nprobe = ivfNprobe(s)
    val dot = dotQ(s) _
    // index side: primary cell only; query side: nprobe nearest cells
    val a = ranked.where(col("rn") <= nprobe)
      .select(col("cell"), col("vec_id").as("query_id"),
        col("q").as("qa"), col("nq").as("na"))
    val b = ranked.where(col("rn") === 1)
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        col("q").as("qb"), col("nq").as("nb"))
    SelfJoin.on(a, b, Seq("cell")).where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        dot(col("qa"), col("qb")).cast("double") /
          (sqrt(col("na").cast("double")) *
            sqrt(col("nb").cast("double"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)))
      .where(col("rank") <= 3)
      .select(col("cell"), col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  val e05Sql: String =
    s"""$quantSql$assignedSqlCtes, scored AS (
       |  SELECT a.cell, a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
       |      (sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE)) *
       |       sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE))) AS cos
       |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |)
       |SELECT cell, query_id, neighbor_id, cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored) t
       |WHERE rank <= 3""".stripMargin

  // ---------------------------------------------------------------- e06
  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023): assign
    * every vector to its nearest coarse cell, compare pairs only WITHIN
    * a cell, and keep the earliest (lowest-id) member of each near-dup
    * neighborhood — the embedding-space analogue of d09's keep-first
    * survivor rule. The cell scoping is what makes it a 100 TB
    * operator: the quadratic stage is bounded per cell (cells are the
    * k-means partition an IVF index already maintains), never corpus-
    * wide; the pair join is the same strategy-gated cell equi-join as
    * e05. Output is every vector with its cell and kept/dropped flag —
    * the table a curation pipeline anti-joins the corpus against.
    * Threshold note: as in e04, the fixture's gaussian embeddings cap
    * pairwise cosine near 0.51, so the production ~0.95 threshold is
    * exercised at 0.4. */
  def e06SemDedup(s: SparkSession, dir: String): DataFrame = {
    val dot = dotQ(s) _
    val asg = cellRanked(s, dir).where(col("rn") === 1)
      .select(col("cell"), col("vec_id"), col("q"), col("nq"))
    val a = asg.select(col("cell"), col("vec_id").as("vec_a"),
      col("q").as("qa"), col("nq").as("na"))
    val b = asg.select(col("cell"), col("vec_id").as("vec_b"),
      col("q").as("qb"), col("nq").as("nb"))
    val dropped = SelfJoin.on(a, b, Seq("cell"))
      .where(col("vec_a") < col("vec_b"))
      .withColumn("cos",
        dot(col("qa"), col("qb")).cast("double") /
          (sqrt(col("na").cast("double")) *
            sqrt(col("nb").cast("double"))))
      .where(col("cos") >= CosineThreshold)
      .select(col("vec_b").as("vec_id")).distinct()
      .withColumn("hit", lit(true))
    asg.join(dropped, Seq("vec_id"), "left")
      .select(col("cell"), col("vec_id"), col("hit").isNull.as("kept"))
  }

  val e06Sql: String =
    s"""$quantSql$assignedSqlCtes, dups AS (
       |  SELECT DISTINCT b.vec_id FROM assigned a JOIN assigned b
       |  ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
       |      (sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE)) *
       |       sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE))) >= $CosineThreshold
       |)
       |SELECT cell, vec_id, vec_id NOT IN (SELECT vec_id FROM dups) AS kept
       |FROM assigned""".stripMargin

  // ---------------------------------------------------------------- e07
  /** Recall audit: recall@k of the ten ANN serving paths (e02
    * hyperplane-LSH, e05 IVF at its oracle formulation nprobe = 1, e08
    * sketch-then-rerank at its default depth, e10 composed
    * IVF-cells × sketch-rerank, e12 IVF-PQ with ADC scoring, e13
    * residual IVF-PQ, e14 SQ8 scalar-quantized rerank, e15 composed
    * IVF-cells × SQ8-ADC, e22 NN-Descent graph round, e23 graph-serve
    * beam over the stored graph) against
    * the e01 brute-force ground truth, over the deterministic query
    * subsample.
    * This is the evaluation loop every production ANN deployment runs
    * before trusting an index — the number that tells you whether to add
    * hyperplanes or raise nprobe. One row per method:
    * (method, n_truth, n_hits, recall); recall is one division of two
    * exact integer counts, so it is bit-identical cross-engine.
    *
    * Cost note: this intentionally embeds ALL the search paths (it IS
    * the comparison), so it prices as their sum — an audit query, not a
    * serving path. At 100 TB the truth side runs on a fixed small query
    * sample (here vec_id % 5, the e01 contract) — brute force over the
    * sample stays bounded while the ANN sides use their index joins. */
  val RecallK = 3

  /** The shared audit frame: legs are (method, top-K candidate pairs);
    * a LEFT join from the fixed method spine makes a zero-hit path
    * report recall 0.0 instead of vanishing — the failing path is the
    * one the audit exists to flag. |truth| = K·|queries| exactly
    * (every query has ≥ K candidates by construction), so the
    * denominator is a cheap count over the query subsample, not a
    * second brute-force traversal; the oracle counts the truth CTE
    * directly and the spec pins the two forms equal. */
  private def recallAuditOver(s: SparkSession, dir: String,
                              legs: Seq[(String, DataFrame)]): DataFrame = {
    val truth = e01KnnBrute(s, dir).where(col("rank") <= RecallK)
      .select(col("query_id"), col("neighbor_id"))
    val spine = s.createDataFrame(legs.map(l => Tuple1(l._1))).toDF("method")
    val ann = legs.map { case (m, df) =>
      df.select(lit(m).as("method"), col("query_id"), col("neighbor_id"))
    }.reduce(_ unionByName _)
    val hits = spine.join(
      ann.join(truth, Seq("query_id", "neighbor_id"))
        .groupBy(col("method")).agg(count(lit(1)).as("raw_hits")),
      Seq("method"), "left")
      .select(col("method"), coalesce(col("raw_hits"), lit(0L)).as("n_hits"))
    val total = quantized(s, dir).where(col("vec_id") % 5 === 0)
      .agg((count(lit(1)) * RecallK).as("n_truth"))
    hits.crossJoin(broadcast(total))
      .select(col("method"), col("n_truth"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_truth").cast("double")).as("recall"))
  }

  /** The CORE audit family — four serving paths (LSH, IVF, sketch-
    * rerank, composed IVF×sketch). Round-13 governance split: the
    * audit had grown to ten embedded paths whose COLD price rose ~1 s
    * per new path; e07 now audits the core four, [[e07bRecallQuantized]]
    * the quantized four, [[e07cRecallGraph]] the graph two — every
    * path still audited somewhere green, no single query pricing as
    * the whole suite. */
  def e07RecallAudit(s: SparkSession, dir: String): DataFrame = {
    // the IVF paths share ONE materialized assignment stage (the d33
    // postings discipline) — the STORED artifacts ([[quantized]]'s
    // vector column and [[cellRanked]]'s assignment table), shared with
    // every standalone entry, so the audit audits THE index rather
    // than a rebuilt twin.
    val v = quantized(s, dir)
    val ranked = cellRanked(s, dir)
    recallAuditOver(s, dir, Seq(
      "lsh_bucketed" -> e02AnnBucketed(s, dir)
        .where(col("query_id") % 5 === 0)
        .select(col("query_id"), col("neighbor_id")),
      "ivf_nprobe" -> e05From(s, ranked).where(col("query_id") % 5 === 0)
        .select(col("query_id"), col("neighbor_id")),
      "sketch_rerank" -> e08SketchRerank(s, dir).where(col("rank") <= RecallK)
        .select(col("query_id"), col("neighbor_id")),
      "ivf_sketch_rerank" -> e10From(s, v, ranked).where(col("rank") <= RecallK)
        .select(col("query_id"), col("neighbor_id"))))
  }

  /** The QUANTIZED audit family (e07's split sibling): PQ-ADC,
    * residual PQ, SQ8, composed IVF×SQ8 — the codebook memo keys
    * derive from the same shared frames the standalone e12–e15
    * defaults train from, so the audit reuses the index's trained
    * codebooks (cvec rides along for e13's residual re-centering). */
  def e07bRecallQuantized(s: SparkSession, dir: String): DataFrame = {
    val v = quantized(s, dir)
    val ranked = cellRanked(s, dir)
    val cb12 = pqCodebookOf(s, v, "q")
    val cb13 = pqCodebookOf(s,
      residualIndexOf(ranked, cellMembersOf(ranked)), "r")
    recallAuditOver(s, dir, Seq(
      "ivf_pq_adc" -> e12From(s, v, ranked, Some(cb12))
        .where(col("rank") <= RecallK)
        .select(col("query_id"), col("neighbor_id")),
      "residual_pq" -> e13From(s, v, ranked, Some(cb13))
        .where(col("rank") <= RecallK)
        .select(col("query_id"), col("neighbor_id")),
      // e14 trains from the stable quantized plan internally, so its
      // lohi memo is shared with the standalone e14 entry
      "sq8_rerank" -> e14SqRerank(s, dir).where(col("rank") <= RecallK)
        .select(col("query_id"), col("neighbor_id")),
      "ivf_sq_rerank" -> e15From(s, v, ranked, Some(sqLohiOf(v)))
        .where(col("rank") <= RecallK)
        .select(col("query_id"), col("neighbor_id"))))
  }

  /** The GRAPH audit family (e07's split sibling): the NN-Descent
    * round and the graph-serve beam — both served from the same stored
    * graph index the standalone e22/e23 defaults read, at the PINNED
    * one-round/default-cap/one-hop keys, NOT the conf-read entries: an
    * engaged lever must not desynchronize the audit from its oracle
    * legs (round-11 advisory). */
  def e07cRecallGraph(s: SparkSession, dir: String): DataFrame =
    recallAuditOver(s, dir, Seq(
      "nn_descent" -> graphOf(s, dir, 1, DefaultNndRevCap)
        .where(col("query_id") % 5 === 0 && col("rank") <= RecallK)
        .select(col("query_id"), col("neighbor_id")),
      "graph_serve" -> graphServe(s, dir, 1).where(col("rank") <= RecallK)
        .select(col("query_id"), col("neighbor_id"))))

  /** Exact-cosine text over two qv-shaped aliases — shared by the
    * audit fragments. A `def` for init-order safety. */
  private def recallCosSql(a: String, b: String): String =
    s"""CAST(list_dot_product($a.q, $b.q) AS DOUBLE) /
       |      (sqrt(CAST(list_dot_product($a.q, $a.q) AS DOUBLE)) *
       |       sqrt(CAST(list_dot_product($b.q, $b.q) AS DOUBLE)))""".stripMargin

  /** The brute-force truth CTE every audit family shares. */
  private def recallTruthCte: String =
    s""", truth AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY ${recallCosSql("a", "b")} DESC, b.vec_id ASC) AS rank
       |    FROM qv a JOIN qv b ON a.vec_id % 5 = 0 AND a.vec_id <> b.vec_id) t
       |  WHERE rank <= $RecallK
       |)""".stripMargin

  /** Coarse-candidates → exact-reranked top-K leg, emitted as CTE
    * `$out` from candidate CTE `$cands` (query_id, neighbor_id). */
  private def recallRerankLegSql(out: String, cands: String,
                                 queryFilter: String = ""): String =
    s""", $out AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT c.query_id, c.neighbor_id,
       |      row_number() OVER (PARTITION BY c.query_id ORDER BY
       |        ${recallCosSql("a", "b")} DESC, c.neighbor_id ASC) AS rank
       |    FROM $cands c JOIN qv a ON c.query_id = a.vec_id
       |                 JOIN qv b ON c.neighbor_id = b.vec_id) t
       |  WHERE rank <= $RecallK$queryFilter
       |)""".stripMargin

  /** The audit tail shared by the three families: method-tagged union,
    * truth join, fixed VALUES spine (zero-hit paths report 0.0), exact
    * integer recall. */
  private def recallTailSql(legs: Seq[(String, String)]): String = {
    val union = legs.map { case (m, cte) =>
      s"  SELECT '$m' AS method, query_id, neighbor_id FROM $cte"
    }.mkString("\n  UNION ALL\n")
    val values = legs.map { case (m, _) => s"('$m')" }.mkString(", ")
    s""", ann AS (
       |$union
       |), raw AS (
       |  SELECT method, count(*) AS raw_hits
       |  FROM ann JOIN truth USING (query_id, neighbor_id) GROUP BY 1
       |), hits AS (
       |  SELECT m.method, CAST(coalesce(r.raw_hits, 0) AS BIGINT) AS n_hits
       |  FROM (VALUES $values) m(method)
       |  LEFT JOIN raw r ON m.method = r.method
       |), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth)
       |SELECT method, n_truth, n_hits,
       |  CAST(n_hits AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall
       |FROM hits, tot""".stripMargin
  }

  val e07Sql: String =
    s"""$quantSql$recallTruthCte, bv AS (
       |  SELECT vec_id, q, ${bucketExprSqlFor(0)} AS bucket, ${bucketExprSqlFor(1)} AS bucket_b FROM qv
       |), lsh AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY ${recallCosSql("a", "b")} DESC, b.vec_id ASC) AS rank
       |    FROM bv a JOIN bv b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id) t
       |  WHERE rank <= $RecallK AND query_id % 5 = 0
       |)$assignedSqlCtes, ivf AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY ${recallCosSql("a", "b")} DESC, b.vec_id ASC) AS rank
       |    FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id <> b.vec_id) t
       |  WHERE rank <= $RecallK AND query_id % 5 = 0
       |)$svCoarseSqlCtes${recallRerankLegSql("sketch", "coarse")}$ivfSketchSqlCtes${recallRerankLegSql("ivfsk", "coarse10")}${recallTailSql(Seq(
             "lsh_bucketed" -> "lsh", "ivf_nprobe" -> "ivf",
             "sketch_rerank" -> "sketch", "ivf_sketch_rerank" -> "ivfsk"))}""".stripMargin

  val e07bSql: String =
    s"""$quantSql$recallTruthCte$assignedSqlCtes$pqSqlCtes${recallRerankLegSql("ivfpq", "coarse12")}$residualPqSqlCtes${recallRerankLegSql("respq", "coarse13")}$sqSqlCtes${recallRerankLegSql("sq14", "coarse14")}$ivfSqSqlCtes${recallRerankLegSql("sq15", "coarse15")}${recallTailSql(Seq(
             "ivf_pq_adc" -> "ivfpq", "residual_pq" -> "respq",
             "sq8_rerank" -> "sq14", "ivf_sq_rerank" -> "sq15"))}""".stripMargin

  val e07cSql: String =
    s"""$quantSql$recallTruthCte, bv AS (
       |  SELECT vec_id, q, ${bucketExprSqlFor(0)} AS bucket, ${bucketExprSqlFor(1)} AS bucket_b FROM qv
       |)${nndCandsCteSql("nd")}${recallRerankLegSql("nnd", "ndcands", queryFilter = " AND query_id % 5 = 0")}${graphFromCandsSql("nd")}${serveFromGraphSql("gs", "ndgraph")}, gserve AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |    FROM gsserve) t
       |  WHERE rank <= $RecallK
       |)${recallTailSql(Seq("nn_descent" -> "nnd", "graph_serve" -> "gserve"))}""".stripMargin

  // ---------------------------------------------------------------- e08
  /** TWO-STAGE retrieval: coarse scan on 64-bit SIGN SKETCHES, exact
    * re-rank of the top-[[RerankC]] candidates — the
    * compress-then-rerank serving pattern (binary/product quantization:
    * Jégou et al.'s PQ, faiss's default deployment) the e-suite's other
    * paths don't show. Stage 1 scores every (query, candidate) pair on
    * an 8-BYTE sketch (two packed 32-bit halves; hamming distance = 2×
    * bit_count — no overflow care at bit 63) instead of 64 floats: at
    * 100 TB the coarse pass streams a 64×-smaller column through
    * codegen'd integer ops. The coarse join below is DELIBERATELY the
    * LOCAL-ONLY oracle formulation: an all-pairs broadcast sketch scan
    * over the e01 query subsample, so the spec can measure sketch
    * recall against the same truth with no index in the way — it is
    * NOT the at-scale path and intentionally bypasses the [[SelfJoin]]
    * strategy gate (there is no equi-key to gate). The at-scale
    * composition — IVF cells bound the candidate set, sketches rank
    * within the probed cells, top-C gets the exact rerank — is
    * [[e10IvfSketchRerank]], a first-class query whose coarse join IS
    * strategy-gated. Stage 2 re-fetches FULL vectors for only
    * C candidates per query (a join on the candidate ids — the "fetch
    * from the vector store" of a real deployment) and re-ranks by exact
    * cosine. Sign sketches, hamming ranks, and the final cosine are all
    * exact integer / fixed-sequence arithmetic — bit-identical
    * cross-engine; ties break (hamming asc, id asc) / (cos desc, id
    * asc). */
  // final + literal = compile-time constant: e07Sql (declared earlier in
  // the object) interpolates it, and a plain val would still be 0 there
  // at initialization time
  final val RerankC = 25

  /** Rerank-depth lever: how many coarse-stage survivors get the exact
    * re-rank. THE recall knob of every compress-then-rerank system (the
    * faiss `k_factor`): candidates are ranked by sketch hamming, so a
    * larger C is a SUPERSET of a smaller one and recall is monotone
    * non-decreasing in C (spec-pinned), reaching 1.0 at C = N−1 — at
    * the cost of C full-vector fetches per query. Default = the
    * oracle's formulation. */
  val RerankCConf = "spark.graft.rerank.c"

  private def rerankDepth(s: SparkSession): Int =
    graft.ExtraConf.intLever(s, RerankCConf, RerankC, min = 1)

  private def signSketch(q: Column, lo: Int): Column =
    aggregate(sequence(lit(lo), lit(lo + 31)), lit(0L),
      (acc, i) => acc + when(element_at(q, i) > 0,
        call_function("shiftleft", lit(1L), i - lo)).otherwise(lit(0L)))

  def e08SketchRerank(s: SparkSession, dir: String): DataFrame = {
    val dot = dotQ(s) _
    val rerankC = rerankDepth(s)
    val v = quantized(s, dir)
      .withColumn("s_lo", signSketch(col("q"), 1))
      .withColumn("s_hi", signSketch(col("q"), 33))
    // stage 1: sketch-only coarse scan (ids + two longs per side)
    val qs = v.where(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("query_id"), col("s_lo").as("qlo"), col("s_hi").as("qhi"))
    val cs = v.select(col("vec_id").as("neighbor_id"),
      col("s_lo").as("clo"), col("s_hi").as("chi"))
    val coarse = qs.join(broadcast(cs), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (bit_count(col("qlo").bitwiseXOR(col("clo"))) +
          bit_count(col("qhi").bitwiseXOR(col("chi")))).as("hamming"))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("hamming").asc, col("neighbor_id").asc)))
      .where(col("crank") <= rerankC)
    // stage 2: fetch full vectors for the C survivors, exact re-rank
    val qa = v.select(col("vec_id").as("query_id"), col("q").as("qa"), col("nq").as("na"))
    val qb = v.select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("nq").as("nb"))
    coarse.join(qa, Seq("query_id")).join(qb, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qa"), col("qb")).cast("double") /
          (sqrt(col("na").cast("double")) *
            sqrt(col("nb").cast("double")))).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)))
      .where(col("rank") <= TopK)
  }

  /** DuckDB twin of [[signSketch]] (shared by e08Sql and e07Sql). */
  private def sk(lo: Int): String =
    s"CAST(list_sum(list_transform(generate_series($lo, ${lo + 31}), " +
      s"i -> CASE WHEN q[i] > 0 THEN (CAST(1 AS BIGINT) << (i - $lo)) ELSE 0 END)) AS BIGINT)"

  /** sv + coarse CTE text shared by e08Sql and e07Sql — one definition
    * of the sketch packing, hamming ranking, and C cut, so the audit's
    * sketch path can never drift from the e08 oracle it audits.
    * A `def`, not a `val`: e07Sql initializes EARLIER in this object
    * and would read null from a later val (the RerankC trap). */
  private def svCoarseSqlCtes: String =
    s""", sv AS (
       |  SELECT vec_id, q, ${sk(1)} AS s_lo, ${sk(33)} AS s_hi FROM qv
       |), coarse AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        bit_count(xor(a.s_lo, b.s_lo)) + bit_count(xor(a.s_hi, b.s_hi)) ASC,
       |        b.vec_id ASC) AS crank
       |    FROM sv a JOIN sv b ON a.vec_id % 5 = 0 AND a.vec_id <> b.vec_id) t
       |  WHERE crank <= $RerankC
       |)""".stripMargin

  val e08Sql: String = {
    s"""$quantSql$svCoarseSqlCtes, rr AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
       |      (sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE)) *
       |       sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE))) AS cos
       |  FROM coarse c JOIN qv a ON c.query_id = a.vec_id
       |               JOIN qv b ON c.neighbor_id = b.vec_id
       |)
       |SELECT query_id, neighbor_id, cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM rr) t
       |WHERE rank <= $TopK""".stripMargin
  }

  // ---------------------------------------------------------------- e09
  /** INCREMENTAL SemDeDup — d30's ingestion story in embedding space:
    * a NEW batch of vectors (vec_id % [[IncrementalBatchModE]], in
    * production: today's ingest) dedups against the EXISTING corpus
    * without re-pairing the corpus with itself. The corpus side's cell
    * assignment is the IVF index a deployment already maintains
    * (recomputed in THIS oracle-twinned form so DuckDB can check it;
    * the PERSISTED form is [[graft.jobs.IncrementalIndex]], pinned
    * row-identical to this query by IncrementalIndexSpec); the batch
    * assigns to
    * its cells and compares ONLY against that cell's existing members
    * plus its own earlier batch members (keep-first) — per-day work
    * scales with |batch| × cell occupancy, never corpus². Same
    * strategy-gated cell join as e05/e06. Output: every batch vector
    * with its cell, verified near-dup match count, and the kept flag a
    * pipeline uses to append survivors to the index. */
  /** Same slice constant as the text side ([[LlmText.IncrementalBatchMod]])
    * — IngestJob writes both verdict tables as ONE ingest lifecycle, so
    * "today's batch" must be a single definition. */
  val IncrementalBatchModE: Int = LlmText.IncrementalBatchMod

  def e09IncrementalSemDedup(s: SparkSession, dir: String): DataFrame = {
    val dot = dotQ(s) _
    val asg = cellRanked(s, dir).where(col("rn") === 1)
      .select(col("cell"), col("vec_id"), col("q"), col("nq"))
    val isBatch = col("vec_id") % IncrementalBatchModE === 0
    val probe = asg.where(isBatch)
      .select(col("cell"), col("vec_id").as("new_id"),
        col("q").as("qn"), col("nq").as("nn"))
    val index = asg.select(col("cell"), col("vec_id").as("old_id"),
      col("q").as("qo"), col("nq").as("no"))
    val matches = SelfJoin.on(probe, index, Seq("cell"))
      .where(col("old_id") % IncrementalBatchModE =!= 0 || col("old_id") < col("new_id"))
      .where(dot(col("qn"), col("qo")).cast("double") /
        (sqrt(col("nn").cast("double")) * sqrt(col("no").cast("double"))) >= CosineThreshold)
      .groupBy(col("new_id")).agg(count(lit(1)).as("n_matches"))
    asg.where(isBatch).select(col("cell"), col("vec_id"))
      .join(matches.withColumnRenamed("new_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("cell"), col("vec_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
      .withColumn("kept", col("n_matches") === 0)
  }

  val e09Sql: String =
    s"""$quantSql$assignedSqlCtes, matches AS (
       |  SELECT b.vec_id AS new_id, count(*) AS n_matches
       |  FROM assigned b JOIN assigned a
       |    ON a.cell = b.cell AND b.vec_id % $IncrementalBatchModE = 0
       |    AND (a.vec_id % $IncrementalBatchModE <> 0 OR a.vec_id < b.vec_id)
       |  WHERE CAST(list_dot_product(b.q, a.q) AS DOUBLE) /
       |      (sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE)) *
       |       sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE))) >= $CosineThreshold
       |  GROUP BY 1
       |)
       |SELECT b.cell, b.vec_id,
       |  CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_matches,
       |  coalesce(m.n_matches, 0) = 0 AS kept
       |FROM assigned b LEFT JOIN matches m ON m.new_id = b.vec_id
       |WHERE b.vec_id % $IncrementalBatchModE = 0""".stripMargin

  // ---------------------------------------------------------------- e10
  /** The COMPOSED two-stage ANN — e05's IVF cells × e08's sign
    * sketches, i.e. the faiss deployment shape (IVF + binary
    * quantization + exact rerank) as one first-class query:
    *
    *  1. cell stage: queries fan out to their `nprobe` nearest cells
    *     (e05's lever), the index side sits in its one primary cell —
    *     candidate volume is bounded by cell occupancy, never corpus².
    *  2. sketch stage: candidates WITHIN the probed cells are ranked by
    *     8-byte sign-sketch hamming distance (e08's compression) — the
    *     coarse scan streams two longs per row, not 64 floats, and the
    *     cell join is the same strategy-gated equi-join as e05/e06
    *     ([[SelfJoin]]: broadcast locally, sort-merge on `cell` at
    *     100 TB — unlike e08's deliberately-local oracle scan, NOTHING
    *     here hard-codes a broadcast of the sketch table).
    *  3. rerank stage: only the top-[[RerankC]] sketch survivors per
    *     query fetch their full vectors (two id-keyed joins — the
    *     "vector store fetch") and re-rank by exact cosine.
    *
    * Levers compose: `spark.graft.ivf.nprobe` widens the cell fan-out,
    * `spark.graft.rerank.c` deepens the exact stage; e07 audits this
    * path's recall against the e01 truth alongside the single-stage
    * paths. A neighbor lives in exactly one primary cell, so no
    * (query, neighbor) pair arises twice — no dedup stage. All
    * arithmetic is the suite's exact-integer / fixed-sequence kind;
    * ties break (hamming asc, id asc) / (cos desc, id asc). */
  def e10IvfSketchRerank(s: SparkSession, dir: String): DataFrame =
    e10From(s, quantized(s, dir), cellRanked(s, dir))

  /** e10's body over caller-supplied quantized + assignment frames (the
    * e07 shared-stage form; [[e05From]]'s convention). */
  private def e10From(s: SparkSession, v0: DataFrame, ranked0: DataFrame): DataFrame = {
    val dot = dotQ(s) _
    val nprobe = ivfNprobe(s)
    val rerankC = rerankDepth(s)
    val ranked = ranked0
      .withColumn("s_lo", signSketch(col("q"), 1))
      .withColumn("s_hi", signSketch(col("q"), 33))
    // stage 1+2: ids + sketches only through the cell join (narrow)
    val qs = ranked.where(col("rn") <= nprobe && col("vec_id") % 5 === 0)
      .select(col("cell"), col("vec_id").as("query_id"),
        col("s_lo").as("qlo"), col("s_hi").as("qhi"))
    val cs = ranked.where(col("rn") === 1)
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        col("s_lo").as("clo"), col("s_hi").as("chi"))
    val coarse = SelfJoin.on(qs, cs, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (bit_count(col("qlo").bitwiseXOR(col("clo"))) +
          bit_count(col("qhi").bitwiseXOR(col("chi")))).as("hamming"))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("hamming").asc, col("neighbor_id").asc)))
      .where(col("crank") <= rerankC)
    // stage 3: fetch full vectors for the C survivors, exact re-rank
    val qa = v0.select(col("vec_id").as("query_id"), col("q").as("qa"), col("nq").as("na"))
    val qb = v0.select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("nq").as("nb"))
    coarse.join(qa, Seq("query_id")).join(qb, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qa"), col("qb")).cast("double") /
          (sqrt(col("na").cast("double")) *
            sqrt(col("nb").cast("double")))).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)))
      .where(col("rank") <= TopK)
  }

  /** sketched-assigned + cell-scoped coarse CTEs shared by e10Sql and
    * e07Sql (one definition of the cell scoping + sketch ranking + C
    * cut, so the audit can't drift from the e10 oracle it audits). A
    * `def` for object-init-order safety (the RerankC trap). Requires
    * $assignedSqlCtes upstream. */
  private def ivfSketchSqlCtes: String =
    s""", sva AS (
       |  SELECT cell, vec_id, q, ${sk(1)} AS s_lo, ${sk(33)} AS s_hi FROM assigned
       |), coarse10 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        bit_count(xor(a.s_lo, b.s_lo)) + bit_count(xor(a.s_hi, b.s_hi)) ASC,
       |        b.vec_id ASC) AS crank
       |    FROM sva a JOIN sva b
       |      ON a.cell = b.cell AND a.vec_id % 5 = 0 AND a.vec_id <> b.vec_id) t
       |  WHERE crank <= $RerankC
       |)""".stripMargin

  val e10Sql: String =
    s"""$quantSql$assignedSqlCtes$ivfSketchSqlCtes, rr10 AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
       |      (sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE)) *
       |       sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE))) AS cos
       |  FROM coarse10 c JOIN qv a ON c.query_id = a.vec_id
       |                 JOIN qv b ON c.neighbor_id = b.vec_id
       |)
       |SELECT query_id, neighbor_id, cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM rr10) t
       |WHERE rank <= $TopK""".stripMargin

  // ---------------------------------------------------------------- e11
  /** One Lloyd retrain round — the RETRAINING EVENT the persisted-index
    * lifecycle treats as separate-and-rare ([[graft.jobs.IncrementalIndex]]
    * freezes its centroid table between retrains; this query is what a
    * retrain runs): every vector reassigns to its nearest current
    * centroid BY GEOMETRY, each cell's new centroid is the per-dimension
    * integer sum over its reassigned members, and the output reports per
    * cell its membership and the cosine between old and new centroid
    * directions (`drift_cos` — the convergence signal k-means iterates
    * on; sums-not-means keep every value exact integer, and cosine is
    * scale-invariant so the direction drift is the same either way).
    *
    * Scale shape: assignment is map-only (centroid table is a broadcast
    * dim, #cells rows); the recompute is one shuffle on (cell, dim) and
    * one on cell — e03's aggregation pattern, cost linear in corpus ×
    * Dim regardless of cell count. A cell that attracts no members drops
    * out (inner join — both engines agree); a production retrain would
    * reseed it. */
  def e11KmeansStep(s: SparkSession, dir: String): DataFrame = {
    val dot = dotQ(s) _
    val v = quantized(s, dir)
    val cents = centroidsOf(s, v)
    // the primary-cell assignment IS the stored IVF table ([[cellRanked]]
    // — same assignRanked(v, centroidsOf(v)) definition, memoized): read
    // it instead of re-ranking the corpus twice (asg feeds BOTH the
    // centroid-sum and the member count below; r13 optimization round)
    val asg = cellRanked(s, dir).where(col("rn") === 1)
      .select(col("cell"), col("vec_id"), col("q"))
    val newc = asg
      .select(col("cell"), col("q"), explode(sequence(lit(1), lit(Dim))).as("i"))
      .select(col("cell"), col("i"), element_at(col("q"), col("i")).as("comp"))
      .groupBy(col("cell"), col("i")).agg(sum(col("comp")).as("csum"))
      .groupBy(col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("i"), col("csum")))),
        p => p.getField("csum")).as("nvec"))
    asg.groupBy(col("cell")).agg(count(lit(1)).as("members"))
      .join(newc, Seq("cell"))
      .join(cents, Seq("cell"))
      .select(col("cell"), col("members"),
        (dot(col("cvec"), col("nvec")).cast("double") /
          (sqrt(col("ncv").cast("double")) *
            sqrt(dot(col("nvec"), col("nvec")).cast("double")))).as("drift_cos"))
  }

  val e11Sql: String =
    s"""$quantSql$assignedSqlCtes, ncomps AS (
       |  SELECT cell, i, q[i] AS comp FROM assigned, generate_series(1, $Dim) g(i)
       |), nsums AS (
       |  SELECT cell, i, sum(comp) AS csum FROM ncomps GROUP BY 1, 2
       |), newc AS (
       |  SELECT cell, list(CAST(csum AS BIGINT) ORDER BY i) AS nvec FROM nsums GROUP BY cell
       |), mem AS (
       |  SELECT cell, count(*) AS members FROM assigned GROUP BY cell
       |)
       |SELECT m.cell, m.members,
       |  CAST(list_dot_product(c.cvec, n.nvec) AS DOUBLE) /
       |    (sqrt(CAST(list_dot_product(c.cvec, c.cvec) AS DOUBLE)) *
       |     sqrt(CAST(list_dot_product(n.nvec, n.nvec) AS DOUBLE))) AS drift_cos
       |FROM mem m JOIN newc n ON m.cell = n.cell JOIN cents c ON m.cell = c.cell""".stripMargin

  // ---------------------------------------------------------------- e12
  /** IVF-PQ with ASYMMETRIC DISTANCE COMPUTATION — the canonical faiss
    * `IVFPQ` index (Jégou, Douze, Schmid, "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011) as one first-class query,
    * completing the e-suite's compression family: e08/e10 compress to
    * 1-bit-per-dimension sign sketches; PQ compresses to [[PqM]] coded
    * subspaces ([[PqK]] codewords each — [[PqM]]×log2([[PqK]]) = 32
    * bits ≈ 4 bytes per vector vs 512 for the raw quantized array) while
    * keeping a DISTANCE ESTIMATE, not just a rank heuristic:
    *
    *  1. codebook: each vector splits into [[PqM]] contiguous
    *     [[PqSubDim]]-dim subvectors; subspace m's codewords are the
    *     m-th subvectors of a deterministic [[PqK]]-vector training
    *     sample (the [[PqK]] smallest vec_ids — standing in for the
    *     per-subspace k-means a production PQ trains; [[e11KmeansStep]]
    *     is the retrain event that would refresh it). The codebook is
    *     [[PqM]]·[[PqK]] tiny rows — a broadcast dim at any corpus size.
    *  2. encode (index side, once per corpus): every cell member stores
    *     its per-subspace nearest codeword (exact integer
    *     ‖sub−cw‖² = nsub − 2·sub·cw + ncw; nsub is constant within a
    *     (vector, subspace) group, so argmin(ncw − 2·sub·cw) suffices —
    *     ties on code id) plus the reconstructed self-norm
    *     Σₘ ncw[m, code_m] — the 4-byte-per-vector table an IVFPQ index
    *     persists.
    *  3. ADC scan (query side): a query precomputes its LOOKUP TABLE —
    *     the [[PqM]]×[[PqK]] exact integer dot products of its own
    *     subvectors against every codeword — then scoring a candidate is
    *     [[PqM]] table gathers and adds (codegen'd static sum, no
    *     higher-order fold), never a 64-dim dot:
    *     dot(q, x) ≈ Σₘ lut[m, code_m(x)], cos ≈ that over
    *     √nq·√nrecon. Candidates come from the query's nprobe IVF cells
    *     (e05's lever) through the strategy-gated [[SelfJoin]] — sketch
    *     table never broadcasts at scale, candidate volume bounded by
    *     cell occupancy.
    *  4. rerank: the top-[[RerankC]] ADC survivors per query fetch full
    *     vectors (two id-keyed joins — the vector-store fetch) and
    *     re-rank by exact cosine; `spark.graft.rerank.c` deepens it,
    *     recall monotone (the e08/e10 law, spec-pinned).
    *
    * All arithmetic is the suite's exact-integer / fixed-sequence kind —
    * LUT entries, ADC sums, and reconstructed norms are exact BIGINTs in
    * both engines, so the ADC ranking (ties: score desc, neighbor asc)
    * cannot diverge cross-engine. Output shape = e10's
    * (query_id, neighbor_id, cos, rank). */
  final val PqM = 8
  final val PqK = 16
  final val PqSubDim = 8 // = Dim / PqM

  /** Lloyd rounds the codebook training runs — fixed (not
    * to-convergence) so the oracle can unroll the same rounds as CTEs;
    * 2 rounds already moves every codeword off its seed on the
    * fixture and the marginal ADC-recall gain of further rounds is
    * the retrain event's call, not the query's. */
  final val PqTrainRounds = 2

  /** Deterministic training-set bound: the codebook trains on the
    * `vec_id % mod == 0` slice, not the whole corpus (round-8 verdict:
    * full-corpus in-query training regressed e12/e13 2.6×/2.1× — faiss
    * trains on a sample, and at 100 TB "train on everything" is not a
    * plan). A modulus, not `sample()`: reproducible cross-engine, so
    * the oracle CTEs filter the identical slice and the trained
    * codebook stays bit-equal. Seeds keep ≥[[PqK]] vectors at every
    * fixture SF (500 vectors / mod 4 = 125). */
  final val PqTrainSampleMod = 4

  /** (vec_id, m, sub) — every vector of `frame` split into its [[PqM]]
    * contiguous [[PqSubDim]]-dim subvectors: the training set AND the
    * encode input, one slicing definition. */
  private def pqSubvectors(frame: DataFrame, vecCol: String): DataFrame =
    frame
      .select(col("vec_id"), explode(sequence(lit(1), lit(PqM))).as("m"), col(vecCol))
      .withColumn("sub", slice(col(vecCol), (col("m") - 1) * lit(PqSubDim) + 1, lit(PqSubDim)))
      .select(col("vec_id"), col("m"), col("sub"))

  /** One per-subspace Lloyd round: assign every subvector to its
    * nearest codeword (exact integer L2 penalty ncw − 2·sub·cw — nsub
    * is constant within the (vector, subspace) group; ties on code id),
    * then move each codeword to the TRUNCATING integer mean of its
    * members (`div`, ≡ DuckDB `//` — the e13 residual convention, so
    * the oracle's unrolled rounds cannot drift). A codeword attracting
    * no members keeps its position (faiss's empty-list convention at
    * fixed K). The codebook is
    * [[PqM]]·[[PqK]] rows — broadcast at any corpus size; the round is
    * one pass over the subvector table. */
  private def pqLloydRound(s: SparkSession, subs: DataFrame, cb: DataFrame): DataFrame = {
    val dot = dotQ(s) _
    val trained = subs.join(broadcast(cb), Seq("m"))
      .withColumn("penalty",
        dot(col("cw"), col("cw")) - lit(2L) * dot(col("sub"), col("cw")))
      .withColumn("rnL", row_number().over(
        Window.partitionBy(col("vec_id"), col("m"))
          .orderBy(col("penalty").asc, col("code").asc)))
      .where(col("rnL") === 1)
      .select(col("m"), col("code"), explode(sequence(lit(1), lit(PqSubDim))).as("i"),
        element_at(col("sub"), col("i")).as("comp"))
      .groupBy(col("m"), col("code"), col("i"))
      .agg(expr("sum(comp) div count(1)").as("cmean"))
      .groupBy(col("m"), col("code"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("cmean")))),
        p => p.getField("cmean")).as("cw_new"))
    cb.select(col("m"), col("code"), col("cw").as("cw_seed"))
      .join(trained, Seq("m", "code"), "left")
      .select(col("m"), col("code"),
        coalesce(col("cw_new"), col("cw_seed")).as("cw"))
  }

  /** (m, code, cw, ncw) TRAINED PQ codebook: per-subspace k-means —
    * [[PqTrainRounds]] Lloyd rounds over every subvector of `frame`,
    * seeded deterministically from the [[PqK]] smallest-vec_id rows
    * (r7's codebook, now the Lloyd init instead of the product). ONE
    * definition of seeding, rounds, code numbering, and subvector
    * slicing, shared by the raw (e12) and residual (e13) quantizers and
    * the persisted index ([[graft.jobs.IncrementalIndex]]) so none can
    * drift. Each round's output is materialized (128 tiny rows) so
    * round r+1 never re-runs round r's assignment pass; the subvector
    * table is materialized once and feeds every round.
    *
    * Training input is the [[PqTrainSampleMod]] slice of `frame`, and
    * the trained result is MEMOIZED per (canonical input plan, vecCol):
    * codebook training is an index-BUILD step, not per-query work —
    * faiss trains once and stores, and the memo is this engine's in-JVM
    * store-and-freeze form (sound because the fixture inputs are
    * immutable within a JVM, the same contract as
    * [[graft.Tables.spreadIfNarrow]]'s cache; the canonical-plan key
    * distinguishes dirs/frames). */
  private[graft] def pqCodebookOf(s: SparkSession, frame: DataFrame, vecCol: String): DataFrame =
    // canonicalized-plan key: structural equality, so two frames compare
    // equal iff they compute the same relation (no hash-collision risk).
    // Only SERVING paths (e12/e13/e19 over the stable fixture plans) go
    // through this memo, so it holds a handful of hot keys. The bound is a pure
    // safety valve — in round 9 it actually tripped (incremental-index
    // temp frames flooded the map) and the clear() evicted the hot
    // codebooks mid-sweep, which was e19's first-sweep 3.5× spike.
    graft.StoredMemo.stored(s, "pq-codebooks",
        frame.queryExecution.analyzed.canonicalized, vecCol)(
      pqTrain(s, frame, vecCol))

  /** In-JVM memo of the ENCODED code table — the other half of the PQ
    * index next to the codebook (faiss stores exactly this pair).
    * r13 measured each consumer re-running the per-vector nearest-
    * codeword encode (~0.7 s at sf0.1) per invocation: standalone e12,
    * e13 (residual column), and the e07b audit legs all encode the
    * SAME corpus against the SAME memoized codebook. Keyed like
    * [[pqCodebookOf]] (canonicalized input plan — only the stable
    * fixture frames reach here) plus the codebook's plan. Cold runs
    * rebuild through the same definition. */
  private[graft] def pqCodesOf(s: SparkSession, frame: DataFrame, vecCol: String,
      codebook: DataFrame): DataFrame =
    graft.StoredMemo.stored(s, "pq-codes",
        frame.queryExecution.analyzed.canonicalized,
        codebook.queryExecution.analyzed.canonicalized, vecCol)(
      pqEncode(s, frame, vecCol, codebook).localCheckpoint())

  /** The codebook trainer behind [[pqCodebookOf]]. */
  private[graft] def pqTrain(s: SparkSession, frame: DataFrame, vecCol: String): DataFrame = {
    val dot = dotQ(s) _
    val train = frame.where(col("vec_id") % lit(PqTrainSampleMod) === 0)
    val subs = pqSubvectors(train, vecCol).localCheckpoint()
    val seed = train.orderBy(col("vec_id").asc).limit(PqK)
      .select(col("vec_id"), col(vecCol))
      .withColumn("code", row_number().over(Window.orderBy(col("vec_id").asc)) - 1)
      .select(col("code"), explode(sequence(lit(1), lit(PqM))).as("m"), col(vecCol))
      .withColumn("cw", slice(col(vecCol), (col("m") - 1) * lit(PqSubDim) + 1, lit(PqSubDim)))
      .select(col("m"), col("code"), col("cw"))
    var cb = seed.localCheckpoint()
    (1 to PqTrainRounds).foreach { _ => cb = pqLloydRound(s, subs, cb).localCheckpoint() }
    cb.withColumn("ncw", dot(col("cw"), col("cw")))
      .select(col("m"), col("code"), col("cw"), col("ncw"))
      .localCheckpoint()
  }

  /** (cell, neighbor_id, codes[PqM] 0-based, nrecon) per-subspace
    * nearest-codeword encoding of `frame` (cell, vec_id, vecCol)
    * against `codebook` — exact integer argmin(ncw − 2·sub·cw), ties
    * on code id; nrecon = Σₘ ncw of the chosen codewords. */
  private[graft] def pqEncode(s: SparkSession, frame: DataFrame, vecCol: String,
      codebook: DataFrame): DataFrame = {
    val dot = dotQ(s) _
    frame
      .select(col("cell"), col("vec_id"),
        explode(sequence(lit(1), lit(PqM))).as("m"), col(vecCol))
      .withColumn("sub", slice(col(vecCol), (col("m") - 1) * lit(PqSubDim) + 1, lit(PqSubDim)))
      .join(broadcast(codebook), Seq("m"))
      .withColumn("penalty", col("ncw") - lit(2L) * dot(col("sub"), col("cw")))
      .withColumn("rn2", row_number().over(
        Window.partitionBy(col("vec_id"), col("m"))
          .orderBy(col("penalty").asc, col("code").asc)))
      .where(col("rn2") === 1)
      .groupBy(col("cell"), col("vec_id"))
      .agg(
        transform(array_sort(collect_list(struct(col("m"), col("code")))),
          p => p.getField("code")).as("codes"),
        sum(col("ncw")).as("nrecon"))
      .select(col("cell"), col("vec_id").as("neighbor_id"), col("codes"), col("nrecon"))
  }

  /** Per-`keys` LUT: the M·K exact subvector·codeword dots of `frame`'s
    * vecCol, (m, code)-ordered into one gatherable array. */
  private def pqLut(s: SparkSession, frame: DataFrame, vecCol: String,
      codebook: DataFrame, keys: Seq[String]): DataFrame = {
    val dot = dotQ(s) _
    frame
      .select(keys.map(col) ++ Seq(
        explode(sequence(lit(1), lit(PqM))).as("m"), col(vecCol)): _*)
      .withColumn("sub", slice(col(vecCol), (col("m") - 1) * lit(PqSubDim) + 1, lit(PqSubDim)))
      .join(broadcast(codebook), Seq("m"))
      .withColumn("pdot", dot(col("sub"), col("cw")))
      .groupBy(keys.map(col): _*)
      .agg(transform(
        array_sort(collect_list(struct(col("m"), col("code"), col("pdot")))),
        p => p.getField("pdot")).as("lut"))
  }

  /** The ADC gather Σₘ lut[(m−1)·K + codeₘ + 1] — PqM codegen'd
    * element_at adds, never a higher-order fold. */
  private def pqAdcGather: Column =
    (1 to PqM).map { m =>
      element_at(col("lut"), element_at(col("codes"), m) + lit((m - 1) * PqK + 1))
    }.reduce(_ + _)

  /** Exact-cosine top-[[TopK]] rerank of `coarse` (query_id,
    * neighbor_id) — the full-vector "store fetch" tail shared by the
    * compressed paths. */
  private def exactRerank(s: SparkSession, v: DataFrame, coarse: DataFrame): DataFrame = {
    val dot = dotQ(s) _
    val qa = v.select(col("vec_id").as("query_id"), col("q").as("qa"), col("nq").as("na2"))
    val qb = v.select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("nq").as("nb"))
    coarse.join(qa, Seq("query_id")).join(qb, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qa"), col("qb")).cast("double") /
          (sqrt(col("na2").cast("double")) *
            sqrt(col("nb").cast("double")))).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)))
      .where(col("rank") <= TopK)
  }

  /** Raw-vector IVF-PQ: [[pqCodebookOf]] over the corpus, [[pqEncode]]
    * of the cell members, per-QUERY [[pqLut]], cosine-estimate ADC
    * ranking in the strategy-gated cell join, exact rerank. */
  def e12IvfPqAdc(s: SparkSession, dir: String): DataFrame =
    e12From(s, quantized(s, dir), cellRanked(s, dir))

  /** e12's body over caller-supplied quantized + assignment frames (the
    * e07 shared-stage form; [[e05From]]'s convention). `codebook` lets a
    * caller supply an already-trained codebook (e07 passes the one
    * trained from the STABLE input plan, so the memo shares it with
    * standalone e12 instead of retraining against the audit's
    * checkpoint-fresh plans); default = train/look up from `v`. */
  private def e12From(s: SparkSession, v: DataFrame, ranked: DataFrame,
      codebookIn: Option[DataFrame] = None): DataFrame = {
    val nprobe = ivfNprobe(s)
    val rerankC = rerankDepth(s)
    val codebook = codebookIn.getOrElse(pqCodebookOf(s, v, "q"))
    val cs = pqCodesOf(s, ranked.where(col("rn") === 1)
      .select(col("cell"), col("vec_id"), col("q")), "q", codebook)
    val lut = pqLut(s, v.where(col("vec_id") % 5 === 0), "q", codebook, Seq("vec_id"))
    val qs = ranked.where(col("rn") <= nprobe && col("vec_id") % 5 === 0)
      .select(col("cell"), col("vec_id").as("query_id"), col("nq").as("na"))
      .join(lut.withColumnRenamed("vec_id", "query_id"), Seq("query_id"))
    val coarse = SelfJoin.on(qs, cs, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("ascore",
        pqAdcGather.cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nrecon").cast("double"))))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("ascore").desc, col("neighbor_id").asc)))
      .where(col("crank") <= rerankC)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(s, v, coarse)
  }

  /** The SQL PQ quantizer — subvector/seed/Lloyd-round/encode CTEs
    * (suffix `sfx`) over training CTE `trainSrc` and encoding CTE
    * `encSrc` (both exposing cell, vec_id, and vector column `vc`) —
    * ONE definition instantiated for the raw ("12", qv/assigned, q) and
    * residual ("13", res13/res13, r) paths, mirroring the shared Spark
    * helpers so the oracles cannot drift either. The [[PqTrainRounds]]
    * per-subspace Lloyd rounds unroll as one CTE pair per round:
    * assignment by the exact integer L2 penalty (ties on code id), new
    * codeword = truncating integer mean (`//` ≡ Spark `div`), empty
    * codewords keep their position via the LEFT JOIN coalesce. A `def`
    * for object-init-order safety (the RerankC trap). */
  private def pqQuantizerSqlCtes(sfx: String, trainSrc: String,
      encSrc: String, vc: String): String = {
    val subsAndSeed =
      s""", train$sfx AS (
         |  SELECT * FROM $trainSrc WHERE vec_id % $PqTrainSampleMod = 0
         |), subs$sfx AS (
         |  SELECT vec_id, m, $vc[(m-1)*$PqSubDim+1:m*$PqSubDim] AS sub
         |  FROM train$sfx, generate_series(1, $PqM) g(m)
         |), cb0$sfx AS (
         |  SELECT m, code, $vc[(m-1)*$PqSubDim+1:m*$PqSubDim] AS cw
         |  FROM (
         |    SELECT vec_id, $vc, row_number() OVER (ORDER BY vec_id ASC) - 1 AS code
         |    FROM train$sfx) t, generate_series(1, $PqM) g(m)
         |  WHERE code < $PqK
         |)""".stripMargin
    val rounds = (1 to PqTrainRounds).map { r =>
      s""", asg$r$sfx AS (
         |  SELECT m, code, sub FROM (
         |    SELECT s.m, c.code, s.sub,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
         |        CAST(list_dot_product(c.cw, c.cw) AS BIGINT)
         |          - 2 * CAST(list_dot_product(s.sub, c.cw) AS BIGINT) ASC,
         |        c.code ASC) AS rnL
         |    FROM subs$sfx s JOIN cb${r - 1}$sfx c ON c.m = s.m) t
         |  WHERE rnL = 1
         |), cbm$r$sfx AS (
         |  SELECT m, code, list(cmean ORDER BY i) AS cw FROM (
         |    SELECT m, code, i, CAST(sum(sub[i]) AS BIGINT) // count(*) AS cmean
         |    FROM asg$r$sfx, generate_series(1, $PqSubDim) g(i)
         |    GROUP BY 1, 2, 3) t
         |  GROUP BY 1, 2
         |), cb$r$sfx AS (
         |  SELECT o.m, o.code, coalesce(n.cw, o.cw) AS cw
         |  FROM cb${r - 1}$sfx o LEFT JOIN cbm$r$sfx n ON n.m = o.m AND n.code = o.code
         |)""".stripMargin
    }.mkString
    subsAndSeed + rounds +
    s""", cbn$sfx AS (
       |  SELECT m, code, cw, CAST(list_dot_product(cw, cw) AS BIGINT) AS ncw
       |  FROM cb$PqTrainRounds$sfx
       |), enc$sfx AS (
       |  SELECT cell, vec_id, m, code, ncw FROM (
       |    SELECT a.cell, a.vec_id, c.m, c.code, c.ncw,
       |      row_number() OVER (PARTITION BY a.vec_id, c.m ORDER BY
       |        c.ncw - 2 * CAST(list_dot_product(
       |          a.$vc[(c.m-1)*$PqSubDim+1:c.m*$PqSubDim], c.cw) AS BIGINT) ASC,
       |        c.code ASC) AS rn2
       |    FROM $encSrc a, cbn$sfx c) t
       |  WHERE rn2 = 1
       |), codes$sfx AS (
       |  SELECT cell, vec_id, list(code ORDER BY m) AS codes,
       |    CAST(sum(ncw) AS BIGINT) AS nrecon
       |  FROM enc$sfx GROUP BY cell, vec_id
       |)""".stripMargin
  }

  /** DuckDB twin of e12 — the shared quantizer CTEs plus the per-query
    * LUT and the cosine-estimate ADC coarse cut. */
  private def pqSqlCtes: String =
    pqQuantizerSqlCtes("12", "qv", "assigned", "q") +
    s""", lut12 AS (
       |  SELECT a.vec_id AS query_id,
       |    list(CAST(list_dot_product(
       |      a.q[(c.m-1)*$PqSubDim+1:c.m*$PqSubDim], c.cw) AS BIGINT)
       |      ORDER BY c.m, c.code) AS lut
       |  FROM qv a, cbn12 c WHERE a.vec_id % 5 = 0 GROUP BY a.vec_id
       |), coarse12 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT l.query_id, n.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY l.query_id ORDER BY
       |        CAST(list_sum(list_transform(generate_series(1, $PqM),
       |          m -> l.lut[(m-1)*$PqK + n.codes[m] + 1])) AS DOUBLE) /
       |          (sqrt(CAST(list_dot_product(qa.q, qa.q) AS DOUBLE)) *
       |           sqrt(CAST(n.nrecon AS DOUBLE))) DESC,
       |        n.vec_id ASC) AS crank
       |    FROM assigned qa
       |      JOIN lut12 l ON l.query_id = qa.vec_id
       |      JOIN codes12 n ON n.cell = qa.cell AND n.vec_id <> qa.vec_id) t
       |  WHERE crank <= $RerankC
       |)""".stripMargin

  val e12Sql: String =
    s"""$quantSql$assignedSqlCtes$pqSqlCtes, rr12 AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
       |      (sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE)) *
       |       sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE))) AS cos
       |  FROM coarse12 c JOIN qv a ON c.query_id = a.vec_id
       |                 JOIN qv b ON c.neighbor_id = b.vec_id
       |)
       |SELECT query_id, neighbor_id, cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM rr12) t
       |WHERE rank <= $TopK""".stripMargin

  // ---------------------------------------------------------------- e13
  /** RESIDUAL IVF-PQ — the faiss `IVFPQ` default in full: e12 quantizes
    * RAW vectors, but faiss encodes each vector's RESIDUAL against its
    * coarse cell centroid (x − c), because residuals concentrate near
    * the origin where a small codebook spends its codewords best
    * (Jégou et al. 2011 §IV.B). Differences from e12, each exact:
    *
    *  - residual: r_i = (x_i·m − cvec_i) div m, where cvec is the
    *    cell's integer SUM vector and m its member count — the
    *    mean-centered residual under TRUNCATING integer division,
    *    which Spark's `div` and DuckDB's integer `//` agree on over
    *    the whole long domain (both truncate toward zero).
    *  - coarse metric: estimated L2 DISTANCE in residual space —
    *    ‖rq − recon(rc)‖² = nrq − 2·Σₘ lut[m, codeₘ] + nrecon, the
    *    actual IVFPQ ADC formula; every term is an exact integer
    *    (residuals preserve within-cell distances up to the div
    *    rounding). Rank asc, ties on neighbor id.
    *  - the LUT is per (query, probed cell): a residual is
    *    centroid-relative, so the query re-centers against EACH cell
    *    it probes (at nprobe = 1, its own primary cell — the oracle
    *    formulation).
    *
    * Codebook, encode, gather-sum ADC, strategy-gated cell join, and
    * the exact-cosine top-C rerank all reuse e12's machinery and
    * levers. With C past every cell's size the coarse cut is vacuous
    * and e13 collapses to exactly e10's and e12's answer (spec-pinned):
    * all three compressions change candidate SELECTION, never the
    * final exact scores. */
  def e13ResidualPq(s: SparkSession, dir: String): DataFrame =
    e13From(s, quantized(s, dir), cellRanked(s, dir))

  /** e13's body over caller-supplied quantized + assignment frames —
    * `ranked` must carry `cvec` (the residual re-centers against it);
    * the e07 shared-stage form ([[e05From]]'s convention). */
  /** Cell member counts of an assignment frame (rn = 1 rows). */
  private def cellMembersOf(ranked: DataFrame): DataFrame =
    ranked.where(col("rn") === 1)
      .groupBy(col("cell")).agg(count(lit(1)).as("members"))

  /** (cell, vec_id, r) residual index rows: each member's residual
    * against its own cell centroid — mean-centered under TRUNCATING
    * integer division. ONE construction shared by e13's default path
    * and e07's stable-plan codebook training. */
  private def residualIndexOf(ranked: DataFrame, mem: DataFrame): DataFrame =
    ranked.where(col("rn") === 1)
      .join(broadcast(mem), Seq("cell"))
      .select(col("cell"), col("vec_id"),
        expr("zip_with(q, cvec, (x, c) -> (x * members - c) div members)").as("r"))

  private def e13From(s: SparkSession, v: DataFrame, ranked: DataFrame,
      codebookIn: Option[DataFrame] = None): DataFrame = {
    val dot = dotQ(s) _
    val nprobe = ivfNprobe(s)
    val rerankC = rerankDepth(s)
    val mem = cellMembersOf(ranked)
    val resExpr = expr("zip_with(q, cvec, (x, c) -> (x * members - c) div members)")
    // index side: members' residuals vs their own cell centroid
    // `ranked` carries cvec from the assignment cross-join already
    val resIdx = residualIndexOf(ranked, mem)
    // shared PQ machinery over the RESIDUAL column (one quantizer
    // definition with e12 — the spec-pinned vacuous-C equivalence
    // depends on the two paths never drifting)
    val codebook = codebookIn.getOrElse(pqCodebookOf(s, resIdx, "r"))
    val cs = pqCodesOf(s, resIdx, "r", codebook)
    // query side: residual vs EACH probed cell's centroid, LUT per (query, cell)
    val resQ = ranked.where(col("rn") <= nprobe && col("vec_id") % 5 === 0)
      .join(broadcast(mem), Seq("cell"))
      .select(col("cell"), col("vec_id").as("query_id"), resExpr.as("rq"))
      .withColumn("nrq", dot(col("rq"), col("rq")))
    val lut = pqLut(s, resQ, "rq", codebook, Seq("cell", "query_id", "nrq"))
    val coarse = SelfJoin.on(lut, cs, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("dist2", col("nrq") - lit(2L) * pqAdcGather + col("nrecon"))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("dist2").asc, col("neighbor_id").asc)))
      .where(col("crank") <= rerankC)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(s, v, coarse)
  }

  /** DuckDB twin of e13 — residual CTEs (integer `//` ≡ Spark `div`,
    * both truncating), the SAME shared quantizer CTEs over the residual
    * column, the per-(query, cell) LUT, and the L2 ADC coarse cut.
    * A `def` for init-order safety. Requires $assignedSqlCtes upstream. */
  private def residualPqSqlCtes: String =
    s""", mem13 AS (
       |  SELECT cell, count(*) AS m FROM assigned GROUP BY 1
       |), res13 AS (
       |  SELECT a.cell, a.vec_id,
       |    list_transform(generate_series(1, $Dim),
       |      i -> (a.q[i] * mem13.m - cents.cvec[i]) // mem13.m) AS r
       |  FROM assigned a JOIN cents ON a.cell = cents.cell
       |                 JOIN mem13 ON a.cell = mem13.cell
       |)""".stripMargin +
    pqQuantizerSqlCtes("13", "res13", "res13", "r") +
    s""", lut13 AS (
       |  SELECT a.cell, a.vec_id AS query_id,
       |    CAST(list_dot_product(a.r, a.r) AS BIGINT) AS nrq,
       |    list(CAST(list_dot_product(
       |      a.r[(c.m-1)*$PqSubDim+1:c.m*$PqSubDim], c.cw) AS BIGINT)
       |      ORDER BY c.m, c.code) AS lut
       |  FROM res13 a, cbn13 c WHERE a.vec_id % 5 = 0
       |  GROUP BY a.cell, a.vec_id, a.r
       |), coarse13 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT l.query_id, n.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY l.query_id ORDER BY
       |        l.nrq - 2 * CAST(list_sum(list_transform(generate_series(1, $PqM),
       |          m -> l.lut[(m-1)*$PqK + n.codes[m] + 1])) AS BIGINT) + n.nrecon ASC,
       |        n.vec_id ASC) AS crank
       |    FROM lut13 l JOIN codes13 n ON n.cell = l.cell AND n.vec_id <> l.query_id) t
       |  WHERE crank <= $RerankC
       |)""".stripMargin

  val e13Sql: String =
    s"""$quantSql$assignedSqlCtes$residualPqSqlCtes, rr13 AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
       |      (sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE)) *
       |       sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE))) AS cos
       |  FROM coarse13 c JOIN qv a ON c.query_id = a.vec_id
       |                 JOIN qv b ON c.neighbor_id = b.vec_id
       |)
       |SELECT query_id, neighbor_id, cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM rr13) t
       |WHERE rank <= $TopK""".stripMargin

  // ---------------------------------------------------------------- e14
  /** SQ8 SCALAR-QUANTIZED rerank — the remaining classic quantization
    * family next to sign sketches (e08) and product quantization
    * (e12/e13): faiss's `ScalarQuantizer QT_8bit`. TRAIN: per-dimension
    * [lo, hi] over the corpus (64 grouped min/max rows — a shuffle on 64
    * keys, then one broadcast-size row). ENCODE: each dimension to an
    * 8-bit level `code = round((x−lo)·255/(hi−lo))` — the stored index
    * is 64 BYTES per vector (8× smaller than the raw floats; PQ's 8
    * bytes is the next rung down, traded against SQ's much finer grid).
    * SEARCH is asymmetric (ADC): the query keeps full precision and
    * scores against the candidate's RECONSTRUCTION, here carried
    * ×255-scaled so it stays integer-exact: `r_d = lo_d·255 +
    * code_d·(hi_d−lo_d)`; coarse score = q·r / √(r·r) (the query's own
    * norm is constant per query — dropped from the ranking). Top-C
    * survivors get the shared full-vector [[exactRerank]].
    *
    * Like e08, the coarse join is DELIBERATELY the local-only oracle
    * formulation (all-pairs broadcast over the e01 query subsample) so
    * recall is measurable against the same truth with no index in the
    * way; the at-scale composition is the e10 shape — IVF cells bound
    * the candidate set, SQ codes rank within the probed cells — and at
    * 100 TB the coarse pass streams a 64-byte column, not 256 bytes of
    * floats.
    *
    * Exactness: code uses integer HALF_UP `((x−lo)·510 + (hi−lo)) div
    * (2(hi−lo))` — all operands exact nonneg integers (floor-div via
    * double is exact here: numerator < 2^53 and the quotient is > 1/b
    * away from the next integer). r, q·r, r·r are exact-integer sums
    * (< 2^53 at |x| ≤ 0.6, Quant = 1e4); the one double division +
    * sqrt is a fixed IEEE sequence — bit-identical cross-engine. */
  final val SqLevels = 255

  /** Trained SQ quantizer (one row: los[Dim], his[Dim]) — an
    * index-BUILD artifact exactly like the PQ codebook, so it gets the
    * same in-JVM memo per canonical input plan ([[pqCodebookOf]]'s
    * contract: immutable fixture inputs, structural plan key, bounded
    * cache). The training pass (a Dim-way fan-out aggregate) runs once
    * per corpus, not once per query; operationally it would
    * store-and-freeze beside the PQ halves in
    * [[graft.jobs.IncrementalIndex]]. */
  private[graft] def sqLohiOf(v: DataFrame): DataFrame =
    graft.StoredMemo.stored(v.sparkSession, "sq-lohi",
        v.queryExecution.analyzed.canonicalized)(sqLohiTrain(v))

  /** The quantizer trainer behind [[sqLohiOf]]; the store builder
    * ([[graft.jobs.IncrementalIndex.writeSqIndex]]) calls it directly —
    * its persisted parquet is the memo, and a one-shot temp-frame key
    * would only flood the serving memo toward its bound. */
  private[graft] def sqLohiTrain(v: DataFrame): DataFrame =
    v.select(posexplode(col("q")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .agg(
        transform(array_sort(collect_list(struct(col("d"), col("lo")))),
          p => p.getField("lo")).as("los"),
        transform(array_sort(collect_list(struct(col("d"), col("hi")))),
          p => p.getField("hi")).as("his"))
      .localCheckpoint()

  /** In-JVM memo of the SQ8-ENCODED corpus — the stored code table of
    * the scalar-quantized index ([[graft.jobs.IncrementalIndex
    * .writeSqIndex]] persists the same rows; one [[sqEncode]]
    * definition). e14's all-pairs coarse scan, e15's cell-scoped ADC,
    * e19's sq-error rung, and the e07b audit legs all encode the same
    * corpus against the same memoized [lo, hi] row — r14 moves the
    * shared encode behind the memo so each consumer pays the scan, not
    * the re-encode. Adds `rnb` (= r·r, the reconstruction norm every
    * ADC consumer divides by) so the stored artifact carries its norm
    * column like the persisted form. Cold runs rebuild through the
    * same definition. */
  private[graft] def sqCodesOf(s: SparkSession, frame: DataFrame,
      lohi: DataFrame): DataFrame =
    graft.StoredMemo.stored(s, "sq-codes",
        frame.queryExecution.analyzed.canonicalized,
        lohi.queryExecution.analyzed.canonicalized)(
      sqEncode(frame, lohi)
        .withColumn("rnb", dotQ(s)(col("r"), col("r")))
        .localCheckpoint())

  /** SQ8 encode of `frame` (any frame carrying `q`) against quantizer
    * `lohi`: appends `codes` (the 8-bit levels — the 64-byte stored
    * index column) and `r` (the ×255-scaled integer reconstruction).
    * ONE definition shared by e14, e15, and the persisted index
    * ([[graft.jobs.IncrementalIndex.writeSqIndex]]) so a stored code
    * table and an in-query encode can never disagree. */
  private[graft] def sqEncode(frame: DataFrame, lohi: DataFrame): DataFrame = {
    def loD(d: Column) = element_at(col("los"), d)
    def hiD(d: Column) = element_at(col("his"), d)
    frame.crossJoin(broadcast(lohi))
      .withColumn("codes", transform(sequence(lit(1), lit(Dim)), d => {
        val x = element_at(col("q"), d)
        val span = hiD(d) - loD(d)
        // clamp to the 8-bit range: a no-op when the quantizer trained
        // on this corpus (min/max bound every x), but the encode must
        // stay total when a FROZEN quantizer meets out-of-range later
        // arrivals (the st15 ingest case — faiss clamps identically)
        when(span === 0, lit(0L)).otherwise(
          greatest(lit(0L), least(lit(SqLevels.toLong),
            floor(((x - loD(d)) * lit(2L * SqLevels) + span).cast("double") /
              (span * 2L).cast("double")).cast("long"))))
      }))
      .withColumn("r", transform(sequence(lit(1), lit(Dim)), d =>
        loD(d) * lit(SqLevels.toLong) + element_at(col("codes"), d) * (hiD(d) - loD(d))))
      .drop("los", "his")
  }

  def e14SqRerank(s: SparkSession, dir: String): DataFrame = {
    val dot = dotQ(s) _
    val v = quantized(s, dir)
    // train: per-dimension corpus [lo, hi], folded to ONE broadcast row
    val lohi = sqLohiOf(v)
    // candidate side carries only the ×255-scaled reconstruction,
    // served from the stored code table ([[sqCodesOf]])
    val cand = sqCodesOf(s, v, lohi)
      .select(col("vec_id").as("neighbor_id"), col("r"), col("rnb"))
    val qs = v.where(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("query_id"), col("q").as("qa"))
    val coarse = qs.join(broadcast(cand), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qa"), col("r")).cast("double") /
          sqrt(col("rnb").cast("double"))).as("ascore"))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("ascore").desc, col("neighbor_id").asc)))
      .where(col("crank") <= RerankC)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(s, v, coarse)
  }

  /** SQ8 CTE text shared by e14Sql and e07Sql — one definition of the
    * per-dimension training, the HALF_UP encode, the ×255-scaled
    * reconstruction, and the asymmetric coarse cut, so the audit's SQ
    * path can never drift from the e14 oracle it audits. A `def` (the
    * svCoarseSqlCtes init-order convention). */
  private def sqSqlCtes: String =
    s""", dims14 AS (
       |  SELECT i, min(q[i]) AS lo, max(q[i]) AS hi
       |  FROM qv, generate_series(1, $Dim) g(i) GROUP BY 1
       |), lohi14 AS (
       |  SELECT list(lo ORDER BY i) AS los, list(hi ORDER BY i) AS his FROM dims14
       |), enc14 AS (
       |  SELECT vec_id, list_transform(generate_series(1, $Dim), d ->
       |    CASE WHEN his[d] = los[d] THEN 0
       |         ELSE greatest(0, least($SqLevels,
       |              ((q[d] - los[d]) * ${2 * SqLevels} + (his[d] - los[d]))
       |              // (2 * (his[d] - los[d])))) END) AS codes
       |  FROM qv, lohi14
       |), rec14 AS (
       |  SELECT vec_id, list_transform(generate_series(1, $Dim), d ->
       |    los[d] * $SqLevels + codes[d] * (his[d] - los[d])) AS r
       |  FROM enc14, lohi14
       |), coarse14 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        CAST(list_dot_product(a.q, c.r) AS DOUBLE) /
       |          sqrt(CAST(list_dot_product(c.r, c.r) AS DOUBLE)) DESC,
       |        c.vec_id ASC) AS crank
       |    FROM qv a JOIN rec14 c ON a.vec_id % 5 = 0 AND a.vec_id <> c.vec_id) t
       |  WHERE crank <= $RerankC
       |)""".stripMargin

  val e14Sql: String =
    s"""$quantSql$sqSqlCtes, rr14 AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
       |      (sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE)) *
       |       sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE))) AS cos
       |  FROM coarse14 c JOIN qv a ON c.query_id = a.vec_id
       |                 JOIN qv b ON c.neighbor_id = b.vec_id
       |)
       |SELECT query_id, neighbor_id, cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM rr14) t
       |WHERE rank <= $TopK""".stripMargin

  // ---------------------------------------------------------------- e15
  /** The AT-SCALE SQ8 deployment — e05's IVF cells × e14's scalar
    * quantizer, composed exactly as e10 composes the sign sketches
    * (faiss `IndexIVFScalarQuantizer`):
    *
    *  1. cell stage: queries fan to their `nprobe` nearest cells, the
    *     index side sits in its primary cell — candidate volume bounded
    *     by cell occupancy, and the cell join rides the [[SelfJoin]]
    *     strategy gate (sort-merge on `cell` at 100 TB, nothing
    *     broadcasts the code table).
    *  2. SQ-ADC stage: candidates within the probed cells are ranked by
    *     the asymmetric estimate WITHOUT reconstructing: each query
    *     precomputes map-side its weight vector `w_d = q_d·span_d` and
    *     scalar `qlo = 255·q·los`, so scoring a candidate is
    *     `qlo + codes·w` — the candidate side streams only its CODES
    *     (8-bit values; byte-packed at rest — the 64-byte index column)
    *     plus one precomputed norm, never floats. Algebraically
    *     identical to e14's `q·r` (exact integers; spec-pinned).
    *  3. rerank stage: top-[[RerankC]] survivors fetch full vectors for
    *     the exact-cosine [[exactRerank]].
    *
    * Levers compose (`ivf.nprobe` × `rerank.c`), and the e07 audit
    * reads this path beside the others. Same tie-breaks and
    * fixed-sequence arithmetic as the rest of the suite. */
  def e15IvfSqRerank(s: SparkSession, dir: String): DataFrame =
    e15From(s, quantized(s, dir), cellRanked(s, dir))

  /** e15's body over caller-supplied quantized + assignment frames (the
    * e07 shared-stage form). The quantizer trains from `v0` — callers
    * passing a STABLE plan share the lohi memo with standalone e14/e15. */
  private def e15From(s: SparkSession, v0: DataFrame, ranked0: DataFrame,
      lohiOpt: Option[DataFrame] = None): DataFrame = {
    val dot = dotQ(s) _
    val nprobe = ivfNprobe(s)
    val rerankC = rerankDepth(s)
    val lohi = lohiOpt.getOrElse(sqLohiOf(v0))
    // index side: cells + SQ codes + reconstruction norm, served from
    // the stored code table ([[sqCodesOf]])
    val cs = sqCodesOf(s, ranked0.where(col("rn") === 1), lohi)
      .select(col("cell"), col("vec_id").as("neighbor_id"), col("codes"),
        col("rnb"))
    // query side: per-query ADC weights, precomputed map-side
    def loD(d: Column) = element_at(col("los"), d)
    def hiD(d: Column) = element_at(col("his"), d)
    val qs = ranked0.where(col("rn") <= nprobe && col("vec_id") % 5 === 0)
      .crossJoin(broadcast(lohi))
      .withColumn("w", transform(sequence(lit(1), lit(Dim)), d =>
        element_at(col("q"), d) * (hiD(d) - loD(d))))
      .withColumn("qlo", dot(col("q"), col("los")) * lit(SqLevels.toLong))
      .select(col("cell"), col("vec_id").as("query_id"), col("w"), col("qlo"))
    val coarse = SelfJoin.on(qs, cs, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        ((col("qlo") + dot(col("codes"), col("w"))).cast("double") /
          sqrt(col("rnb").cast("double"))).as("ascore"))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("ascore").desc, col("neighbor_id").asc)))
      .where(col("crank") <= rerankC)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(s, v0, coarse)
  }

  /** cell-scoped SQ-ADC coarse CTEs shared by e15Sql and e07Sql (one
    * definition of the encode + ADC scoring + C cut). A `def` for
    * init-order safety. Requires $assignedSqlCtes and $sqSqlCtes
    * (dims14/lohi14/enc14/rec14) upstream. */
  private def ivfSqSqlCtes: String =
    s""", csq15 AS (
       |  SELECT a.cell, a.vec_id AS neighbor_id, e.codes,
       |    CAST(list_dot_product(r.r, r.r) AS BIGINT) AS rnb
       |  FROM assigned a JOIN enc14 e ON a.vec_id = e.vec_id
       |                 JOIN rec14 r ON a.vec_id = r.vec_id
       |), qsq15 AS (
       |  SELECT a.cell, a.vec_id AS query_id,
       |    list_transform(generate_series(1, $Dim), d ->
       |      a.q[d] * (lohi14.his[d] - lohi14.los[d])) AS w,
       |    CAST(list_dot_product(a.q, lohi14.los) AS BIGINT) * $SqLevels AS qlo
       |  FROM assigned a, lohi14 WHERE a.vec_id % 5 = 0
       |), coarse15 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, c.neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        CAST(q.qlo + list_dot_product(c.codes, q.w) AS DOUBLE) /
       |          sqrt(CAST(c.rnb AS DOUBLE)) DESC,
       |        c.neighbor_id ASC) AS crank
       |    FROM qsq15 q JOIN csq15 c
       |      ON q.cell = c.cell AND q.query_id <> c.neighbor_id) t
       |  WHERE crank <= $RerankC
       |)""".stripMargin

  val e15Sql: String =
    s"""$quantSql$assignedSqlCtes$sqSqlCtes$ivfSqSqlCtes, rr15 AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
       |      (sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE)) *
       |       sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE))) AS cos
       |  FROM coarse15 c JOIN qv a ON c.query_id = a.vec_id
       |                 JOIN qv b ON c.neighbor_id = b.vec_id
       |)
       |SELECT query_id, neighbor_id, cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM rr15) t
       |WHERE rank <= $TopK""".stripMargin

  // ---------------------------------------------------------------- e17
  /** FILTERED ANN — metadata-constrained similarity search (the
    * faiss-IDSelector / vector-DB "filtered search" capability): each
    * query retrieves its top-3 only among candidates satisfying a
    * metadata predicate, here the multi-tenant equi-filter
    * tenant(candidate) = tenant(query) with tenant = vec_id mod
    * [[FilterTenants]]. The at-scale decision this operator
    * demonstrates is PRE-filtering: the predicate joins INTO the index
    * key — the cell equi-join becomes a (cell, tenant) equi-join, so
    * filtered-out candidates never reach the scorer and per-bucket
    * candidate volume SHRINKS with filter selectivity. Post-filtering
    * (rank first, filter the top-k after) returns short or empty lists
    * whenever the unfiltered top-k is dominated by other tenants —
    * recall loss the keyed form cannot have: within the probed cells
    * the keyed join is exhaustive over the tenant's members.
    *
    * Same IVF machinery as e05 (primary-cell index side, nprobe
    * query-side fan-out, exact cosine, ties on neighbor id); the
    * tenant column is derived map-side on both sides. At 100 TB a
    * high-cardinality filter key is exactly a partitioned index
    * (per-tenant IVF lists); a low-selectivity predicate instead rides
    * the candidate stream as a cheap residual filter — both shapes are
    * this join with the key set chosen by selectivity. */
  final val FilterTenants = 3L

  def e17FilteredAnn(s: SparkSession, dir: String): DataFrame = {
    val nprobe = ivfNprobe(s)
    val dot = dotQ(s) _
    val ranked = cellRanked(s, dir)
      .withColumn("tenant", col("vec_id") % FilterTenants)
    val a = ranked.where(col("rn") <= nprobe)
      .select(col("cell"), col("tenant"), col("vec_id").as("query_id"),
        col("q").as("qa"), col("nq").as("na"))
    val b = ranked.where(col("rn") === 1)
      .select(col("cell"), col("tenant"), col("vec_id").as("neighbor_id"),
        col("q").as("qb"), col("nq").as("nb"))
    SelfJoin.on(a, b, Seq("cell", "tenant"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        dot(col("qa"), col("qb")).cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id").asc)))
      .where(col("rank") <= 3)
      .select(col("cell"), col("tenant"), col("query_id"),
        col("neighbor_id"), col("cos"), col("rank"))
  }

  val e17Sql: String =
    s"""$quantSql$assignedSqlCtes, scored17 AS (
       |  SELECT a.cell, a.vec_id % $FilterTenants AS tenant,
       |    a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
       |      (sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE)) *
       |       sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE))) AS cos
       |  FROM assigned a JOIN assigned b
       |    ON a.cell = b.cell
       |    AND a.vec_id % $FilterTenants = b.vec_id % $FilterTenants
       |    AND a.vec_id <> b.vec_id
       |)
       |SELECT cell, tenant, query_id, neighbor_id, cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored17) t
       |WHERE rank <= 3""".stripMargin

  // ---------------------------------------------------------------- e16
  /** MMR-DIVERSIFIED top-k (Carbonell & Goldstein 1998, maximal marginal
    * relevance): retrieval for training-data sampling wants k results
    * that are relevant AND mutually diverse — near-duplicate neighbors
    * waste the slot budget. From each query's top-[[MmrPoolN]] relevance
    * pool, greedily select [[MmrK]]: the first pick is the most relevant;
    * each later pick maximizes `rel − max_sim_to_selected` (MMR at
    * λ = 1/2, the score scaled by 2 — the λ-weighted difference with
    * both weights equal). Ties break on neighbor_id. All inputs to every
    * comparison are the suite's bit-exact cosines, so the greedy
    * trajectory is engine-independent.
    *
    * Scale shape: the relevance pool is an e01-style scored window cut
    * (at production scale the pool comes from an ANN path — any of
    * e02/e05/e10/e15 drops in; brute keeps the oracle exact); the
    * candidate-pair sims are pool×pool per query, bounded by
    * [[MmrPoolN]]² — never corpus-pairs. The greedy loop is [[MmrK]]−1
    * BOUNDED rounds, each one join + one per-query window over ≤ Q·N
    * rows (both frames localCheckpointed once, so each round's plan is
    * flat); per-query state never exceeds the pool. A mapGroups form
    * (one shuffle, per-query in-memory greedy) is the imperative
    * alternative; the round form stays declarative and the rounds are
    * O(k), not O(corpus). */
  final val MmrPoolN = 20
  final val MmrK = 5

  def e16MmrDiversify(s: SparkSession, dir: String): DataFrame = {
    val dot = dotQ(s) _
    val wRel = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("neighbor_id").asc)
    // the relevance pool IS the stored ground-truth table's top-
    // MmrPoolN slice (identical ordering: cos desc, neighbor asc) —
    // read it instead of re-running the nested-loop scoring
    val cand = bruteRankedOf(s, dir)
      .select(col("query_id"), col("neighbor_id"), col("qb"), col("nb"),
        col("cos").as("rel"))
    // pool-internal pairwise cosines: N² per query, bounded by the pool
    val ps = cand.select(col("query_id"), col("neighbor_id").as("pa"),
        col("qb").as("va"), col("nb").as("wa"))
      .join(cand.select(col("query_id"), col("neighbor_id").as("pb"),
        col("qb").as("vb"), col("nb").as("wb")), Seq("query_id"))
      .where(col("pa") =!= col("pb"))
      .select(col("query_id"), col("pa"), col("pb"),
        (dot(col("va"), col("vb")).cast("double") /
          (sqrt(col("wa").cast("double")) * sqrt(col("wb").cast("double")))).as("sim"))
      .localCheckpoint()
    val pool = cand.select(col("query_id"), col("neighbor_id"), col("rel"))
    var selected = pool
      .withColumn("rn", row_number().over(wRel)).where(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id"), col("rel"),
        col("rel").as("score"), lit(1).as("mmr_rank"))
    for (r <- 2 to MmrK) {
      val selIds = selected.select(col("query_id"), col("neighbor_id"))
      val pick = pool
        .join(selIds, Seq("query_id", "neighbor_id"), "left_anti")
        .join(ps.join(selIds.withColumnRenamed("neighbor_id", "pb"),
            Seq("query_id", "pb"))
          .groupBy(col("query_id"), col("pa").as("neighbor_id"))
          .agg(max(col("sim")).as("maxsim")),
          Seq("query_id", "neighbor_id"))
        .withColumn("score", col("rel") - col("maxsim"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("score").desc, col("neighbor_id").asc)))
        .where(col("rn") === 1)
        .select(col("query_id"), col("neighbor_id"), col("rel"),
          col("score"), lit(r).as("mmr_rank"))
        // one row per query; without this, round r's anti-join re-derives
        // every earlier round's pick (O(k²) recompute of the same plans)
        .localCheckpoint()
      selected = selected.unionByName(pick)
    }
    selected
  }

  /** One greedy round as SQL — round r picks the argmax of
    * rel − max(sim to sel{r−1}) among unselected pool members. */
  /** Every per-round CTE is AS MATERIALIZED (a DuckDB hint; the oracle
    * runs only there): round r references sel(r−1) twice and s(r)
    * references p(r)'s whole upstream — left to the inliner, the
    * expansion is ~2^r copies of the pool/similarity stages, which at
    * sf0.1 exhausted memory AND an 80 GB spill disk. Materialization
    * makes each round read the previous round's (tiny) result once,
    * the same shape the Spark side gets from its per-round
    * localCheckpoint. */
  private def mmrRoundSql(r: Int): String =
    s""", p$r AS MATERIALIZED (
       |  SELECT c.query_id, c.neighbor_id, c.rel, max(p.sim) AS maxsim
       |  FROM pool16 c
       |  JOIN sel${r - 1} s ON s.query_id = c.query_id
       |  JOIN ps16 p ON p.query_id = c.query_id
       |    AND p.pa = c.neighbor_id AND p.pb = s.neighbor_id
       |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s2
       |    WHERE s2.query_id = c.query_id AND s2.neighbor_id = c.neighbor_id)
       |  GROUP BY 1, 2, 3
       |), s$r AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, rel, rel - maxsim AS score, $r AS mmr_rank
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |          ORDER BY rel - maxsim DESC, neighbor_id ASC) AS rn
       |        FROM p$r) t
       |  WHERE rn = 1
       |), sel$r AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM sel${r - 1}
       |  UNION ALL SELECT query_id, neighbor_id FROM s$r
       |)""".stripMargin

  val e16Sql: String =
    s"""$quantSql, cand0 AS (
       |  -- payload-free ranking pass: carrying the 64-element vectors
       |  -- through the all-pairs window made DuckDB materialize the
       |  -- whole product with list payloads (an out-of-disk at sf0.1);
       |  -- rank on scalars, re-join payloads for the top-N pool only
       |  SELECT query_id, neighbor_id, rel FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
       |        (sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE)) *
       |         sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE))) AS rel,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
       |          (sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE)) *
       |           sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE))) DESC,
       |        b.vec_id ASC) AS rn
       |    FROM qv a JOIN qv b ON a.vec_id % 5 = 0 AND a.vec_id <> b.vec_id) t
       |  WHERE rn <= $MmrPoolN
       |), cand16 AS MATERIALIZED (
       |  SELECT c.query_id, c.neighbor_id, v.q AS qb,
       |    list_dot_product(v.q, v.q) AS nb, c.rel
       |  FROM cand0 c JOIN qv v ON c.neighbor_id = v.vec_id
       |), pool16 AS MATERIALIZED (SELECT query_id, neighbor_id, rel FROM cand16
       |), ps16 AS MATERIALIZED (
       |  SELECT x.query_id, x.neighbor_id AS pa, y.neighbor_id AS pb,
       |    CAST(list_dot_product(x.qb, y.qb) AS DOUBLE) /
       |      (sqrt(CAST(x.nb AS DOUBLE)) * sqrt(CAST(y.nb AS DOUBLE))) AS sim
       |  FROM cand16 x JOIN cand16 y
       |    ON x.query_id = y.query_id AND x.neighbor_id <> y.neighbor_id
       |), s1 AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, rel, rel AS score, 1 AS mmr_rank
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |          ORDER BY rel DESC, neighbor_id ASC) AS rn FROM pool16) t
       |  WHERE rn = 1
       |), sel1 AS MATERIALIZED (SELECT query_id, neighbor_id FROM s1)
       |${(2 to MmrK).map(mmrRoundSql).mkString}
       |${(1 to MmrK).map(r => s"SELECT * FROM s$r").mkString("\n UNION ALL ")}""".stripMargin

  // ---------------------------------------------------------------- e18
  /** RANGE search — faiss's `range_search` surface beside the top-k
    * family: return EVERY neighbor whose cosine clears
    * [[CosineThreshold]], not a fixed-k list. This is the retrieval
    * form dedup thresholding and near-duplicate auditing actually
    * consume (a query may legitimately have 0 or 40 matches; a top-k
    * cut either truncates or pads). Same IVF machinery as e05: the
    * query subsample fans out to its `nprobe` nearest cells, candidates
    * come from the strategy-gated cell equi-join against primary-cell
    * members, exact integer-quantized cosine on candidates only — but
    * NO ranking window at all, so the per-query state is zero (the
    * filter is a map-side predicate on the join output; top-k's
    * row_number is the only part of e05 that needed per-query memory).
    * Exhaustive within the probed cells by construction; `nprobe` is
    * the recall lever (results grow monotonically with it, pinned).
    * A pair can appear only once: the index side is primary-cell only,
    * so even a multi-probed query meets each neighbor in exactly one
    * cell. */
  def e18RangeSearch(s: SparkSession, dir: String): DataFrame = {
    val nprobe = ivfNprobe(s)
    val dot = dotQ(s) _
    val ranked = cellRanked(s, dir)
    val a = ranked.where(col("rn") <= nprobe && col("vec_id") % 5 === 0)
      .select(col("cell"), col("vec_id").as("query_id"),
        col("q").as("qa"), col("nq").as("na"))
    val b = ranked.where(col("rn") === 1)
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        col("q").as("qb"), col("nq").as("nb"))
    SelfJoin.on(a, b, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        dot(col("qa"), col("qb")).cast("double") /
          (sqrt(col("na").cast("double")) *
            sqrt(col("nb").cast("double"))))
      .where(col("cos") >= CosineThreshold)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
  }

  val e18Sql: String =
    s"""$quantSql$assignedSqlCtes
       |SELECT query_id, neighbor_id, cos FROM (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
       |      (sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE)) *
       |       sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE))) AS cos
       |  FROM assigned a JOIN assigned b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id % 5 = 0) t
       |WHERE cos >= $CosineThreshold""".stripMargin

  // ---------------------------------------------------------------- e19
  /** Quantization reconstruction-error audit — the second index-health
    * loop beside e07's recall audit: per vector and per compression
    * rung, the exact squared error between the stored code's
    * reconstruction and the true (quantized) vector. faiss reports
    * exactly this diagnostic when choosing a quantizer; recall tells
    * you whether the SERVING path finds the neighbors, reconstruction
    * error tells you how much GEOMETRY the stored bytes destroyed —
    * the signal that says "move from PQ to SQ8" or "switch to residual
    * encoding" before recall ever degrades.
    *
    * Three audited rungs, every error an exact integer identity
    * ‖a−b‖² = ‖a‖² − 2a·b + ‖b‖² (no element-wise subtraction column):
    *  - `sq8` (e14/e15's quantizer): error of the ×[[SqLevels]]-scaled
    *    reconstruction against [[SqLevels]]·q, reported in q-units via
    *    the exact /(Dim·255²) division;
    *  - `pq` (e12's M=8×K=16 codebook over absolute vectors): per-
    *    subspace chosen-codeword error summed, /(Dim);
    *  - `residual_pq` (e13's codebook over cell-centered residuals):
    *    same form over the residual column — the centroid part of the
    *    reconstruction is exact, so this IS the vector's error. The
    *    mean sitting BELOW `pq`'s is the measured reason faiss defaults
    *    IVFPQ to residual encoding (spec-pinned on this fixture).
    *
    * Per-VECTOR rows (not one corpus aggregate): the per-vector sse
    * stays inside exact-long range at any corpus size, where a corpus-
    * wide integer sum would overflow (engines disagree on overflow);
    * the corpus mean/histogram derives downstream. Map-shaped per rung
    * (encode + join-back on the broadcast codebook); the codebooks come
    * from the same memoized trainers the serving paths use, so the
    * audit audits THE index, not a retrained twin. */
  def e19QuantError(s: SparkSession, dir: String): DataFrame = {
    val dot = dotQ(s) _
    val v = quantized(s, dir)
    val ranked = cellRanked(s, dir)
    val absIdx = ranked.where(col("rn") === 1)
      .select(col("cell"), col("vec_id"), col("q"))
    val resIdx = residualIndexOf(ranked, cellMembersOf(ranked))
    def pqErr(frame: DataFrame, vecCol: String, codebook: DataFrame,
              method: String): DataFrame =
      frame
        .select(col("vec_id"), explode(sequence(lit(1), lit(PqM))).as("m"), col(vecCol))
        .withColumn("sub", slice(col(vecCol), (col("m") - 1) * lit(PqSubDim) + 1, lit(PqSubDim)))
        .withColumn("nsub", dot(col("sub"), col("sub")))
        .join(broadcast(codebook), Seq("m"))
        .withColumn("penalty", col("ncw") - lit(2L) * dot(col("sub"), col("cw")))
        .withColumn("rn2", row_number().over(
          Window.partitionBy(col("vec_id"), col("m"))
            .orderBy(col("penalty").asc, col("code").asc)))
        .where(col("rn2") === 1)
        .groupBy(col("vec_id"))
        .agg(sum(col("nsub") + col("penalty")).as("sse"))
        .select(lit(method).as("method"), col("vec_id"), col("sse"),
          (col("sse").cast("double") / lit(Dim.toDouble)).as("mse"))
    val sq = sqCodesOf(s, v, sqLohiOf(v))
      .select(col("vec_id"),
        (lit(SqLevels.toLong * SqLevels) * dot(col("q"), col("q"))
          - lit(2L * SqLevels) * dot(col("q"), col("r"))
          + dot(col("r"), col("r"))).as("sse"))
      .select(lit("sq8").as("method"), col("vec_id"), col("sse"),
        (col("sse").cast("double") /
          lit((Dim.toLong * SqLevels * SqLevels).toDouble)).as("mse"))
    sq.unionByName(pqErr(absIdx, "q", pqCodebookOf(s, v, "q"), "pq"))
      .unionByName(pqErr(resIdx, "r", pqCodebookOf(s, resIdx, "r"), "residual_pq"))
  }

  /** DuckDB twin of e19 — the SAME shared quantizer CTE generators as
    * e12/e13/e14 (fresh suffixes so both PQ paths coexist in one
    * statement), plus the ‖a−b‖² integer identity per rung. A `def`
    * for init-order safety. */
  private def e19SqlBuild: String = {
    val resBlock =
      s""", mem19 AS (
         |  SELECT cell, count(*) AS m FROM assigned GROUP BY 1
         |), res19 AS (
         |  SELECT a.cell, a.vec_id,
         |    list_transform(generate_series(1, $Dim),
         |      i -> (a.q[i] * mem19.m - cents.cvec[i]) // mem19.m) AS r
         |  FROM assigned a JOIN cents ON a.cell = cents.cell
         |                 JOIN mem19 ON a.cell = mem19.cell
         |)""".stripMargin
    def errBlock(sfx: String, src: String, vc: String): String =
      s""", sub$sfx AS (
         |  SELECT vec_id, m, $vc[(m-1)*$PqSubDim+1:m*$PqSubDim] AS sub
         |  FROM $src, generate_series(1, $PqM) g(m)
         |), err$sfx AS (
         |  SELECT e.vec_id,
         |    CAST(sum(CAST(list_dot_product(s.sub, s.sub) AS BIGINT)
         |      - 2 * CAST(list_dot_product(s.sub, c.cw) AS BIGINT) + c.ncw)
         |      AS BIGINT) AS sse
         |  FROM enc$sfx e
         |  JOIN cbn$sfx c ON c.m = e.m AND c.code = e.code
         |  JOIN sub$sfx s ON s.vec_id = e.vec_id AND s.m = e.m
         |  GROUP BY 1
         |)""".stripMargin
    quantSql + assignedSqlCtes + sqSqlCtes + resBlock +
      pqQuantizerSqlCtes("19a", "qv", "assigned", "q") +
      pqQuantizerSqlCtes("19r", "res19", "res19", "r") +
      errBlock("19a", "assigned", "q") +
      errBlock("19r", "res19", "r") +
      s""", errsq AS (
         |  SELECT v.vec_id,
         |    CAST($SqLevels AS BIGINT) * $SqLevels * CAST(list_dot_product(v.q, v.q) AS BIGINT)
         |      - 2 * $SqLevels * CAST(list_dot_product(v.q, r.r) AS BIGINT)
         |      + CAST(list_dot_product(r.r, r.r) AS BIGINT) AS sse
         |  FROM qv v JOIN rec14 r USING (vec_id)
         |)
         |SELECT 'sq8' AS method, vec_id, sse,
         |  CAST(sse AS DOUBLE) / ${Dim.toLong * SqLevels * SqLevels} AS mse FROM errsq
         |UNION ALL SELECT 'pq', vec_id, sse, CAST(sse AS DOUBLE) / $Dim FROM err19a
         |UNION ALL SELECT 'residual_pq', vec_id, sse, CAST(sse AS DOUBLE) / $Dim FROM err19r""".stripMargin
  }

  // ---------------------------------------------------------------- e20
  /** IVF cell-BALANCE audit — faiss's `imbalance_factor` diagnostic as
    * the third index-health loop (e07 = does the serving path FIND the
    * neighbors, e19 = what did the stored bytes DESTROY, e20 = is the
    * partition SKEWED): per cell its member count and corpus share,
    * plus the scalar C·Σn²/N² (1.0 = perfectly balanced; k = all mass
    * in 1/k of the cells). This is the number that decides whether to
    * retrain ([[e11KmeansStep]]), raise
    * nprobe, or re-seed empty cells — a skewed cell list is ALSO the
    * query-time skew surface of every cell equi-join in the e-suite,
    * so the audit doubles as the AQE-skew early warning.
    *
    * All exact: counts are integers, share and the imbalance factor
    * are single divisions of exact integer products. One count
    * exchange on the cell key + a 3-field 1-row broadcast — scale-free
    * (output is #cells rows, a driver-scale table by construction). */
  def e20CellStats(s: SparkSession, dir: String): DataFrame = {
    val counts = cellRanked(s, dir).where(col("rn") === 1)
      .groupBy(col("cell")).agg(count(lit(1)).as("members"))
    val tot = counts.agg(
      sum(col("members")).as("n_total"),
      count(lit(1)).as("n_cells"),
      sum(col("members") * col("members")).as("sum_sq"))
    counts.crossJoin(broadcast(tot))
      .select(col("cell"), col("members"),
        (col("members").cast("double") / col("n_total").cast("double")).as("share"),
        ((col("n_cells") * col("sum_sq")).cast("double") /
          (col("n_total") * col("n_total")).cast("double")).as("imbalance"))
  }

  val e20Sql: String =
    s"""$quantSql$assignedSqlCtes, counts20 AS (
       |  SELECT cell, count(*) AS members FROM assigned GROUP BY 1
       |), tot20 AS (
       |  SELECT CAST(sum(members) AS BIGINT) AS n_total,
       |    count(*) AS n_cells,
       |    CAST(sum(members * members) AS BIGINT) AS sum_sq
       |  FROM counts20
       |)
       |SELECT cell, members,
       |  CAST(members AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
       |  CAST(n_cells * sum_sq AS DOUBLE) / CAST(n_total * n_total AS DOUBLE) AS imbalance
       |FROM counts20, tot20""".stripMargin

  // ---------------------------------------------------------------- e21
  /** K-MEANS|| SCALABLE SEEDING (Bahmani, Moseley, Vattani, Kumar,
    * Vassilvitskii — "Scalable K-Means++", VLDB 2012): the piece of the
    * index lifecycle the suite still assumed away. e11/IncrementalIndex
    * RETRAIN from existing centroids and e20 tells you WHEN to reseed —
    * this is the reseed itself. Classic k-means++ is inherently
    * sequential (k passes, each conditioned on the last pick — a
    * non-starter when one corpus pass is hours); k-means|| replaces it
    * with [[KmppRounds]] passes that each sample an EXPECTED
    * [[KmppOversample]] points with probability ∝ d²(x, C) (distance to
    * the current center set), then weights the ~ℓ·R+1 candidates by how
    * many points they'd absorb and keeps the top [[KmppSeeds]].
    *
    * Determinism (the paper samples randomly; a rerun must not reseed
    * differently): the coin for (x, round r) is the portable 60-bit
    * hash of "kmpp:r:vec_id" — x is selected iff
    * h·φ < d²(x)·ℓ·2^60, i.e. P[select] = min(1, ℓ·d²/φ) with h as the
    * uniform draw. Both sides are exact integer products (≤ 2^108),
    * compared as decimal(38,0) in Spark and HUGEINT in DuckDB — the
    * oracle unrolls the same [[KmppRounds]] rounds as CTEs and cannot
    * diverge at a rounding boundary. A point already chosen has d² = 0
    * and can never be re-drawn. Squared distance is the exact-integer
    * ‖x−c‖² = nq + nc − 2·dot (the e-suite quantization).
    *
    * Scale shape, per round: one broadcast of the center set (≤ ℓ·R+1
    * rows by construction), one map-shaped min-distance pass, one
    * scalar φ aggregate (1-row broadcast), one filter. No driver loop
    * over the corpus, no k sequential passes, no shuffle beyond the
    * per-vec_id min. The final weighting is one more broadcast-assign
    * pass; the closing top-[[KmppSeeds]] window runs over ≤ ℓ·R+1
    * candidate rows (bounded, not corpus-scale — the m16 caveat does
    * not apply). Output: (seed_rank, cid, weight). */
  final val KmppRounds = 2
  final val KmppOversample = 8
  final val KmppSeeds = 8
  private val Two60 = "1152921504606846976" // 2^60, the h64 range

  /** Exact squared distance ‖q−cvec‖² over the quantized ints. */
  private def sqDist(s: SparkSession): Column =
    col("nq") + col("ncv") - lit(2L) * dotQ(s)(col("q"), col("cvec"))

  /** One k-means|| round: min-distance to `centers`, scalar φ, and the
    * hash-coin selection — returns `centers` grown by this round's
    * picks. */
  private def kmppRound(s: SparkSession, v: DataFrame, centers: DataFrame,
                        round: Int): DataFrame = {
    // materialized once per round: d2 feeds BOTH the phi broadcast and
    // the selection filter, and without the checkpoint each of those
    // re-evaluates the cross-join subtree — which itself embeds every
    // PREVIOUS round's unmaterialized selection, so total evaluation
    // count grew geometrically in rounds (r13 measurement: e21 3.4 s,
    // almost all tiny re-planned jobs; ~1.8 s with the per-round cut).
    // Corpus-sized (one row per vector), same as the oracle's CTE.
    val d2 = v.crossJoin(broadcast(centers))
      .select(col("vec_id"), sqDist(s).as("dist"))
      .groupBy(col("vec_id")).agg(min(col("dist")).as("d2"))
      .localCheckpoint()
    val phi = d2.agg(sum(col("d2")).as("phi"))
    val coin = graft.functions.Portable.h64(
      concat(lit(s"kmpp:$round:"), col("vec_id").cast("string")))
    val sel = d2.crossJoin(broadcast(phi))
      .where(coin.cast("decimal(38,0)") * col("phi").cast("decimal(38,0)") <
        col("d2").cast("decimal(38,0)") *
          lit(KmppOversample).cast("decimal(38,0)") *
          lit(Two60).cast("decimal(38,0)"))
      .select(col("vec_id"))
    // the round's center table is broadcast by the NEXT round's cross
    // join AND by the final assignment — materialize it (≤ 1 +
    // rounds·oversample rows) so those broadcasts serve a built table
    // instead of re-running the round
    val grown = centers.unionByName(v.join(sel, Seq("vec_id"))
      .select(col("vec_id").as("cid"), col("q").as("cvec"), col("nq").as("ncv")))
      .localCheckpoint()
    // the checkpoint above is eager, so the round's corpus-sized d2
    // blocks are consumed — release them now instead of leaking one
    // per round to GC/ContextCleaner. `StoredMemo.release` drops the
    // checkpointed RDD's blocks (a bare `unpersist()` on a checkpointed
    // frame leaves them pinned). At 100 TB the per-round pin is thereby
    // bounded to the one in-flight round, and CONFIG.md documents the
    // reliable-checkpoint lever for clusters where executor-local
    // blocks of even one round are too hot to hold.
    graft.StoredMemo.release(d2)
    grown
  }

  def e21KmppSeed(s: SparkSession, dir: String): DataFrame = {
    // materialized once (the d33/s08 discipline): the corpus frame is
    // probed by every round plus the final weighting pass
    val v = quantized(s, dir).select(col("vec_id"), col("q"), col("nq"))
      .localCheckpoint()
    val minId = v.agg(min(col("vec_id")).as("mid"))
    val c0 = v.join(broadcast(minId), col("vec_id") === col("mid"))
      .select(col("vec_id").as("cid"), col("q").as("cvec"), col("nq").as("ncv"))
    // each fold step's checkpoint is eager, so the PREVIOUS round's
    // (bounded) center table is consumed the moment the next one
    // exists — release it as we go (c0 is lazy, nothing to release)
    val cands = (1 to KmppRounds).foldLeft(c0) { (c, r) =>
      val next = kmppRound(s, v, c, r)
      if (r > 1) graft.StoredMemo.release(c)
      next
    }
    val asg = v.crossJoin(broadcast(cands))
      .withColumn("dist", sqDist(s))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("dist").asc, col("cid").asc)))
      .where(col("rn") === 1)
    // materialize the (≤ KmppSeeds-row) result eagerly so every
    // per-invocation checkpoint this query pinned — the corpus frame
    // and the final center table — is released HERE instead of
    // accumulating one set per invocation until GC; only the result's
    // own checkpoint stays pinned.
    val out = asg.groupBy(col("cid")).agg(count(lit(1)).as("weight"))
      .withColumn("seed_rank", row_number().over(
        Window.orderBy(col("weight").desc, col("cid").asc)))
      .where(col("seed_rank") <= KmppSeeds)
      .select(col("seed_rank"), col("cid"), col("weight"))
      .localCheckpoint(eager = true)
    graft.StoredMemo.release(cands)
    graft.StoredMemo.release(v)
    out
  }

  /** The oracle unrolls the same [[KmppRounds]] rounds as CTEs. */
  val e21Sql: String = {
    val h = (r: Int) => graft.functions.Portable.h64Sql(
      s"concat('kmpp:$r:', CAST(vec_id AS VARCHAR))")
    def d2Cte(name: String, from: String) =
      s"""$name AS (
         |  SELECT v.vec_id, min(CAST(list_dot_product(v.q, v.q)
         |      + list_dot_product(c.cvec, c.cvec)
         |      - 2 * list_dot_product(v.q, c.cvec) AS BIGINT)) AS d2
         |  FROM qv v, $from c GROUP BY 1
         |)""".stripMargin
    s"""$quantSql, c21_0 AS (
       |  SELECT vec_id AS cid, q AS cvec FROM qv
       |  WHERE vec_id = (SELECT min(vec_id) FROM qv)
       |), ${d2Cte("d21_1", "c21_0")}, phi21_1 AS (
       |  SELECT CAST(sum(d2) AS BIGINT) AS phi FROM d21_1
       |), sel21_1 AS (
       |  SELECT vec_id FROM d21_1, phi21_1
       |  WHERE CAST(${h(1)} AS HUGEINT) * phi
       |      < CAST(d2 AS HUGEINT) * $KmppOversample * $Two60
       |), c21_1 AS (
       |  SELECT cid, cvec FROM c21_0
       |  UNION ALL SELECT v.vec_id, v.q FROM qv v JOIN sel21_1 s USING (vec_id)
       |), ${d2Cte("d21_2", "c21_1")}, phi21_2 AS (
       |  SELECT CAST(sum(d2) AS BIGINT) AS phi FROM d21_2
       |), sel21_2 AS (
       |  SELECT vec_id FROM d21_2, phi21_2
       |  WHERE CAST(${h(2)} AS HUGEINT) * phi
       |      < CAST(d2 AS HUGEINT) * $KmppOversample * $Two60
       |), cands21 AS (
       |  SELECT cid, cvec FROM c21_1
       |  UNION ALL SELECT v.vec_id, v.q FROM qv v JOIN sel21_2 s USING (vec_id)
       |), asg21 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT v.vec_id, c.cid, row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |      CAST(list_dot_product(v.q, v.q) + list_dot_product(c.cvec, c.cvec)
       |        - 2 * list_dot_product(v.q, c.cvec) AS BIGINT) ASC, c.cid ASC) AS rn
       |    FROM qv v, cands21 c) t
       |  WHERE rn = 1
       |), w21 AS (SELECT cid, count(*) AS weight FROM asg21 GROUP BY 1)
       |SELECT seed_rank, cid, weight FROM (
       |  SELECT *, row_number() OVER (ORDER BY weight DESC, cid ASC) AS seed_rank
       |  FROM w21) t
       |WHERE seed_rank <= $KmppSeeds""".stripMargin
  }

  // ---------------------------------------------------------------- e22
  /** One NN-DESCENT refinement round (Dong et al., WWW'11 — the
    * graph-ANN family's construction primitive: HNSW/NSG base layers
    * start from exactly this iterate) over the LSH-seeded kNN graph:
    * "a neighbor of my neighbor is probably my neighbor". Seeds come
    * from TWO independent hyperplane tables (the stored index carries
    * both keys) — a single table's intra-bucket edges can never leave
    * their bucket, so the union graph is what gives the local join
    * cross-bucket reach. Candidates = the seed edges, their REVERSE
    * edges, and the local join (pairs sharing an adjacent node in the
    * undirected seed graph); rescore exactly, keep top-3 per query.
    * Table A's seeds are exactly e02's top-3, and every seed edge stays
    * a candidate, so e22 dominates e02 query-by-query and recall
    * against the e01 truth can only improve (pinned in the spec).
    *
    * Scale shape: the local join is an equi-join of the EDGE LIST with
    * itself on the shared node. Forward out-degree is ≤ k per hash
    * table by construction, but reverse IN-degree is data-dependent
    * (hub vectors), so the adjacency admitted into the join caps the
    * reverse side at [[DefaultNndRevCap]] sampled partners per node —
    * every node's join degree is then ≤ 2k + R and candidate volume is
    * ≤ N·(2k+R)² (spec-pinned), with no corpus-pairs stage anywhere;
    * it rides the [[SelfJoin]] strategy gate like every bucket join. Rescoring joins the stored quantized vector
    * table twice on vec_id (the index-serving shape). A production
    * build iterates this round to a fixpoint; one round is the honest
    * unit — the iterate is stateless (edges in, edges out), so rounds
    * compose by feeding the output back as seeds. */
  /** Top-3 neighbors within the given hash-table key of the stored LSH
    * index — the per-table seed graph (table A's edges are exactly
    * e02's probes=0 result). */
  private def bucketTop3(s: SparkSession, v: DataFrame, key: String): DataFrame = {
    val dot = dotQ(s) _
    val a = v.select(col(key).as("bk"), col("vec_id").as("query_id"),
      col("q").as("qa"), col("nq").as("na"))
    val b = v.select(col(key).as("bk"), col("vec_id").as("neighbor_id"),
      col("q").as("qb"), col("nq").as("nb"))
    val scored = SelfJoin.on(a, b, Seq("bk"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qa"), col("qb")).cast("double") /
          (sqrt(col("na").cast("double")) *
            sqrt(col("nb").cast("double")))).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Iteration lever (the multiProbe/nprobe/rerank-depth house
    * pattern): the descent iterate is stateless — edges in, refined
    * edges out — so rounds compose by feeding the output back as the
    * next round's seeds. Default 1 round = the oracle's formulation;
    * each extra round widens reach by another graph hop (NN-Descent's
    * convergence mechanism), with per-query quality monotone
    * non-decreasing round over round (every current edge stays a
    * candidate; pinned in the spec). Per-round localCheckpoint is the
    * d14/e16 iteration discipline — bounded lineage, one plan per
    * round, never a 2^rounds lineage tree. */
  val NndRoundsConf = "spark.graft.nnd.rounds"

  /** Reverse-neighbor sample bound (Dong et al. WWW'11's ρ-sampling,
    * there a sampled fraction; here a deterministic per-node cap so the
    * oracle can mirror it): the local join shares candidates through a
    * node's UNDIRECTED adjacency, and while forward out-degree is ≤ 3
    * per hash table by construction, REVERSE in-degree is unbounded — a
    * hub vector sitting in thousands of queries' top-3 concentrates
    * O(indeg²) candidate pairs onto one join key at scale. Capping the
    * reverse edges admitted into the join at R per node bounds every
    * node's join degree at 2·3 + R, so candidate volume is
    * ≤ N·(2k+R)² with no data-dependent blowup (pinned in the spec).
    * Which R reverse partners survive is decided by a PORTABLE
    * pseudo-random order — ((id mod 1000003)·2654435761) mod 1000000007,
    * exact int64 arithmetic in both engines (the inner mod keeps the
    * product far from overflow, which DuckDB raises on and Spark wraps)
    * — the deterministic stand-in for the paper's uniform sample.
    * Forward edges and ALL reverse edges remain candidates themselves
    * (they are linear in |edges|); the cap bounds only the quadratic
    * local-join stage, so e22's dominance over the e02 seeds is
    * unaffected. R = 8 is the oracle's formulation. */
  // final + literal = compile-time constant (the RecallK discipline):
  // e07Sql, declared EARLIER in this object, interpolates this through
  // [[nndCandsCteSql]] during static init — a plain val would still be
  // 0 at that point, silently baking `rr <= 0` (reverse leg dead) into
  // the audit's oracle only. Caught by the oracle gate.
  final val DefaultNndRevCap = 8

  /** Portable pseudo-random tie-break order for reverse-sample
    * selection — see [[DefaultNndRevCap]]. */
  private def revSampleOrder(n: Column): Column =
    (n % lit(1000003L)) * lit(2654435761L) % lit(1000000007L)

  /** The undirected adjacency admitted into the descent's local join:
    * full forward edges (out-degree bounded by construction) + at most
    * `revCap` sampled reverse edges per node — the degree cap that
    * bounds the join's candidate volume under hub skew (see
    * [[DefaultNndRevCap]]; bound pinned in the spec). Input must be a
    * DISTINCT edge list (the oracle's UNION-deduped e0): duplicate
    * edges would occupy multiple sample slots and skew both the bound
    * and the oracle parity. */
  private[graft] def nndAdjacency(edgesD: DataFrame, revCap: Int): DataFrame = {
    val rev = edgesD.select(col("neighbor_id").as("query_id"),
      col("query_id").as("neighbor_id"))
    val wRev = Window.partitionBy(col("query_id"))
      .orderBy(revSampleOrder(col("neighbor_id")).asc, col("neighbor_id").asc)
    val revSampled = rev.withColumn("rr", row_number().over(wRev))
      .where(col("rr") <= revCap).drop("rr")
    // DEDUPED union (the oracle's `e0 UNION revs`): a mutual edge whose
    // reverse survives the sample would otherwise sit in the adjacency
    // twice and double its pairs through the quadratic local join —
    // the dedup is one exchange over N·(2k+R) rows, the join fan-out
    // it prevents is the stage the cap exists to bound
    edgesD.union(revSampled).distinct()
  }

  /** The two-table LSH seed edge list (NOT deduped — callers own the
    * distinct; exposed for the spec's degree-bound pin). */
  private[graft] def nndSeeds(s: SparkSession, dir: String): DataFrame =
    nndSeedsOver(s, bucketedOf(s, dir))

  private[graft] def nndSeedsOver(s: SparkSession, vb: DataFrame): DataFrame =
    bucketTop3(s, vb, "bucket").union(bucketTop3(s, vb, "bucket_b"))

  def e22NnDescent(s: SparkSession, dir: String): DataFrame = {
    val rounds = graft.ExtraConf.intLever(s, NndRoundsConf, 1, min = 1)
    graphOf(s, dir, rounds, DefaultNndRevCap)
  }

  /** The stored kNN-GRAPH index (the HNSW/NSG base layer a deployment
    * builds once and serves many): the round-`rounds` descent graph
    * materialized once per (JVM, dir, rounds, revCap, join strategy)
    * and served to every later query — e22 and e07's nn_descent leg
    * read THE graph, not a rebuilt twin, and st21/st24's
    * [[graft.jobs.IncrementalIndex.writeServePair]] persists it. Keyed on the SelfJoin strategy like d03's
    * pair memo — strategy is not result-changing, but the
    * strategy-invariance gate must exercise a REBUILD under the
    * alternate plan, not re-serve the broadcast-built frame. */
  private[graft] def graphOf(s: SparkSession, dir: String,
                             rounds: Int, revCap: Int): DataFrame =
    graft.StoredMemo.stored(s, "nnd-graph", dir, rounds, revCap,
        s.conf.get(SelfJoin.StrategyConf, "broadcast")) {
      // layout note (r13): deliberately NOT repartitioned — the serve
      // paths broadcast this edge table, so a compact layout is cheaper
      nnDescentRounds(s, dir, rounds, revCap).localCheckpoint()
    }

  /** The st22 INGEST-BOOTSTRAP graph: the descent iterate at pinned
    * levers over the fixture's ingest-corpus subset
    * (vec_id % [[IncrementalBatchModE]] ≠ 0 — the rows that exist
    * before the stream starts). Same memo discipline as [[graphOf]]
    * ([[graft.jobs.IncrementalIndex.writeServePair]]'s precedent): a
    * warm process derives the persisted bootstrap from the one
    * materialized build; cold (memo-disabled) runs recompute through
    * the same definitions, so the build price stays measured. The
    * subset graph is NOT a filter of the full-corpus graph (descent
    * edges depend on the candidate pool), hence its own memo. */
  private[graft] def ingestGraphOf(s: SparkSession, dir: String): DataFrame =
    graft.StoredMemo.stored(s, "ingest-bootstrap-graph", dir,
        IncrementalBatchModE, s.conf.get(SelfJoin.StrategyConf, "broadcast")) {
      val v = quantizedFrom(s, Tables.spreadIfNarrow(
          Tables.embeddings(s, dir), s"$dir/embeddings")
        .where(col("vec_id") % IncrementalBatchModE =!= 0))
      nnDescentOver(s, bucketedFrom(s, v), v, 1, DefaultNndRevCap)
        .localCheckpoint()
    }

  /** The descent iterate at PINNED levers over the stored fixture
    * index — the FRESH builder ([[graphOf]] is its memo; st22's
    * bootstrap runs the same iterate over a subset via
    * [[nnDescentOver]]). */
  private[graft] def nnDescentRounds(s: SparkSession, dir: String,
                                     rounds: Int, revCap: Int): DataFrame =
    nnDescentOver(s, bucketedOf(s, dir), quantized(s, dir), rounds, revCap)

  // ---------------------------------------------------------------- e23
  /** GRAPH-SERVE — the reason a deployment PERSISTS the kNN graph
    * (e22, st21's stored pair): answer queries by NAVIGATING the stored
    * edge list instead of scanning buckets wider, the HNSW/NSG/DiskANN
    * serving shape reduced to its set-based core. Seed each query with
    * its own LSH bucket's exact top-[[GraphBeam]] (the stored bucket
    * table — e02's candidate generation, beam-wide), then each HOP
    * expands the beam through the stored graph (candidates' top-3
    * neighbors — "a neighbor of my candidate is probably closer"),
    * exact-rescores, and keeps the best [[GraphBeam]]; readout is the
    * final top-3. One hop = the oracle's formulation; each further
    * hop ([[graphServe]]) widens reach one stored edge at a time.
    *
    * Why it beats buckets: the graph edge (x → y) was found by the
    * DESCENT (possibly through the second hash table or an earlier
    * local join), so following it from a query whose bucket contains x
    * reaches neighbors the query's own bucket never held — at the
    * price of |beam|·k edge lookups instead of a wider bucket scan.
    * Dominance over e02 is structural (the seed beam contains e02's
    * top-3; rescoring a superset can only improve the final top-3) and
    * per-query quality is monotone in hops (each hop's beam is the
    * top-B of a superset of the previous beam) — both spec-pinned.
    *
    * Scale shape: every stage is a keyed equi-join — seeds ride the
    * [[SelfJoin]] gate on the bucket key, expansion joins the beam
    * (|queries|·B rows) against the graph on the candidate id (≤ k
    * matches per key, a broadcast-able edge list at top-3 density),
    * rescoring joins the stored vector table twice. No corpus-pairs
    * stage, no data-dependent key concentration (the graph's
    * out-degree is EXACTLY ≤ 3 by construction). */
  // final + literal: e23Sql and e07Sql interpolate this during static
  // init (the DefaultNndRevCap discipline)
  final val GraphBeam = 8

  def e23GraphServe(s: SparkSession, dir: String): DataFrame = graphServe(s, dir, 1)

  /** The serve path at a given hop count — e23 and e07's graph_serve
    * leg serve one hop; the hop-monotonicity spec calls deeper ones. */
  private[graft] def graphServe(s: SparkSession, dir: String, hops: Int): DataFrame = {
    val vb = bucketedOf(s, dir)
    graphServeOver(s,
      vb.where(col("vec_id") % 5 === 0), vb,
      graphOf(s, dir, 1, DefaultNndRevCap), hops)
  }

  /** The serve core over an arbitrary (queries, index) pair — shared
    * by e23's in-JVM form and the persisted-store probe ([[graft.jobs
    * .IncrementalIndex.probeGraphServe]], st21's per-batch serve), so
    * a stored index and the memo path navigate identically. `queries`
    * must carry (vec_id, q, nq, bucket) — the [[bucketedFrom]] shape;
    * `index` is the corpus bucket table in the same shape; `graph` the
    * (query_id, neighbor_id) edge list. */
  private[graft] def graphServeOver(s: SparkSession, queries: DataFrame,
                                    index: DataFrame, graph: DataFrame,
                                    hops: Int): DataFrame = {
    val dot = dotQ(s) _
    val qv = queries.select(col("vec_id").as("query_id"), col("q").as("qa"),
      col("nq").as("na"), col("bucket"))
    val cv = index.select(col("vec_id").as("cand"), col("q").as("qb"),
      col("nq").as("nb"))
    val edges = graph.select(col("query_id").as("cand"),
      col("neighbor_id").as("gn"))
    def rescoreTop(cands: DataFrame, b: Int): DataFrame = {
      val scored = cands
        .join(qv.select(col("query_id"), col("qa"), col("na")), Seq("query_id"))
        .join(cv, Seq("cand"))
        .select(col("query_id"), col("cand"),
          (dot(col("qa"), col("qb")).cast("double") /
            (sqrt(col("na").cast("double")) *
              sqrt(col("nb").cast("double")))).as("cos"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("cand").asc)
      scored.withColumn("rank", row_number().over(w)).where(col("rank") <= b)
    }
    // seed: the query's own stored bucket, exact top-B (e02's candidate
    // generation at beam width)
    val seedCands = SelfJoin.on(
        qv.select(col("bucket"), col("query_id")),
        index.select(col("bucket"), col("vec_id").as("cand")), Seq("bucket"))
      .where(col("query_id") =!= col("cand"))
      .select(col("query_id"), col("cand"))
    var scored = rescoreTop(seedCands, GraphBeam)
    for (h <- 1 to hops) {
      val beam = scored.select(col("query_id"), col("cand"), col("cos"))
      // score ONLY the newly reached candidates — the carried beam
      // already holds its exact cosines (same arithmetic, so ranks are
      // unchanged vs rescoring the union; round-12 review finding) —
      // then re-rank carried ∪ new to the beam width
      val expand = SelfJoin.on(beam.select(col("query_id"), col("cand")),
          edges, Seq("cand"))
        .select(col("query_id"), col("gn").as("cand"))
        .where(col("query_id") =!= col("cand")).distinct()
        .join(beam.select(col("query_id"), col("cand")),
          Seq("query_id", "cand"), "left_anti")
      val union = beam.unionByName(
        rescoreTop(expand, GraphBeam).select(col("query_id"), col("cand"), col("cos")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("cand").asc)
      scored = union.withColumn("rank", row_number().over(w))
        .where(col("rank") <= GraphBeam)
      if (h < hops) scored = scored.localCheckpoint()
    }
    scored.where(col("rank") <= 3)
      .select(col("query_id"), col("cand").as("neighbor_id"),
        col("cos"), col("rank"))
  }

  /** The descent core over an arbitrary (bucketed, quantized) pair —
    * shared by the in-JVM memo path and the persisted-index writer so
    * a stored graph and a recompute iterate identically. */
  private[graft] def nnDescentOver(s: SparkSession, vb: DataFrame,
                                   v: DataFrame,
                                   rounds: Int, revCap: Int): DataFrame = {
    val dot = dotQ(s) _
    // seeds from TWO independent hash tables ([[nndSeedsOver]]): intra-
    // bucket edges alone can never leave their bucket (the whole
    // candidate set would stay inside e02's), so the descent round
    // needs a second table whose buckets cut across the first's — the
    // multi-table LSH init
    var edges = nndSeedsOver(s, vb)
    var result: DataFrame = null
    for (r <- 1 to rounds) {
      // distinct BEFORE the reverse-sample rank: an edge found by both
      // hash tables must occupy one sample slot, not two (the oracle's
      // e0 is UNION-deduped) — and the join degree bound counts edges,
      // not multiplicities. Only the round-1 seed union needs it: later
      // rounds feed back a rank<=3 window output, which cannot hold
      // duplicate (query_id, neighbor_id) pairs (round-12 review)
      val edgesD = if (r == 1) edges.distinct() else edges
      val rev = edgesD.select(col("neighbor_id").as("query_id"),
        col("query_id").as("neighbor_id"))
      val und = nndAdjacency(edgesD, revCap)
      val localJoin = SelfJoin.on(
          und.toDF("b", "qi"), und.toDF("b", "ni"), Seq("b"))
        .select(col("qi").as("query_id"), col("ni").as("neighbor_id"))
        .where(col("query_id") =!= col("neighbor_id"))
      // candidates: every edge, every reverse edge (both linear — the
      // cap applies only to the quadratic join stage), the join pairs
      val cands = edgesD.union(rev).union(localJoin).distinct()
      val scored = cands
        .join(v.select(col("vec_id").as("query_id"), col("q").as("qa"),
          col("nq").as("na")), Seq("query_id"))
        .join(v.select(col("vec_id").as("neighbor_id"), col("q").as("qb"),
          col("nq").as("nb")), Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          (dot(col("qa"), col("qb")).cast("double") /
            (sqrt(col("na").cast("double")) *
              sqrt(col("nb").cast("double")))).as("cos"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      result = scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
      if (r < rounds) {
        result = result.localCheckpoint()
        edges = result.select(col("query_id"), col("neighbor_id"))
      }
    }
    result
  }

  /** Hyperplane bucket expression for hash table `table` — shared by
    * e22Sql and e07's nn_descent leg. */
  private def bucketExprSqlFor(table: Int): String = {
    val ps = planesFor(table)
    (0 until NumPlanes).map { p =>
      s"CASE WHEN list_dot_product(q, [${ps(p).mkString(", ")}]) > 0 THEN ${1L << p} ELSE 0 END"
    }.mkString(" + ")
  }

  /** DEF, not val: e07Sql (declared earlier in this object) assembles
    * during static init and interpolates this through
    * [[nndCandsCteSql]] — a val declared later would still be null at
    * that point, baking "null AS cos" into the audit's oracle (the
    * intra-object form of the RerankC init-order trap; caught by the
    * oracle gate, not InitOrderCheck, which only covers cross-object
    * cycles). */
  private def nndCosSql: String =
    "CAST(list_dot_product(a.q, b.q) AS DOUBLE) / " +
      "(sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE)) * " +
      "sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE)))"

  /** e22's candidate-generation CTE chain (two-table seeds + reverse +
    * local join), parameterized by a name prefix so e22Sql and e07's
    * nn_descent leg interpolate the SAME text — the audit's oracle
    * cannot desynchronize from the audited operator's. Expects a `bv`
    * CTE with (vec_id, q, bucket, bucket_b) in scope; emits
    * `${p}cands`. */
  private def nndCandsCteSql(p: String): String =
    s""", ${p}sca AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $nndCosSql AS cos
       |  FROM bv a JOIN bv b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |), ${p}scb AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $nndCosSql AS cos
       |  FROM bv a JOIN bv b ON a.bucket_b = b.bucket_b AND a.vec_id <> b.vec_id
       |), ${p}e0 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
       |    FROM ${p}sca) t
       |  WHERE rnk <= 3
       |  UNION
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
       |    FROM ${p}scb) t
       |  WHERE rnk <= 3
       |), ${p}revs AS (
       |  SELECT b, n FROM (
       |    SELECT neighbor_id AS b, query_id AS n,
       |      row_number() OVER (PARTITION BY neighbor_id
       |        ORDER BY (query_id % 1000003) * 2654435761 % 1000000007 ASC,
       |                 query_id ASC) AS rr
       |    FROM ${p}e0) t
       |  WHERE rr <= $DefaultNndRevCap
       |), ${p}und AS (
       |  SELECT query_id AS b, neighbor_id AS n FROM ${p}e0
       |  UNION
       |  SELECT b, n FROM ${p}revs
       |), ${p}cands AS (
       |  SELECT query_id, neighbor_id FROM ${p}e0
       |  UNION
       |  SELECT neighbor_id AS query_id, query_id AS neighbor_id FROM ${p}e0
       |  UNION
       |  SELECT x.n AS query_id, y.n AS neighbor_id
       |  FROM ${p}und x JOIN ${p}und y ON x.b = y.b AND x.n <> y.n
       |)""".stripMargin

  val e22Sql: String =
    s"""$quantSql, bv AS (
       |  SELECT vec_id, q, ${bucketExprSqlFor(0)} AS bucket,
       |    ${bucketExprSqlFor(1)} AS bucket_b
       |  FROM qv
       |)${nndCandsCteSql("")}, resc AS (
       |  SELECT c.query_id, c.neighbor_id, $nndCosSql AS cos
       |  FROM cands c
       |  JOIN qv a ON c.query_id = a.vec_id
       |  JOIN qv b ON c.neighbor_id = b.vec_id
       |)
       |SELECT query_id, neighbor_id, cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM resc) t
       |WHERE rank <= 3""".stripMargin

  /** Graph readout from `${p}cands` (the stored graph's content — the
    * e22 top-3 without the readout columns); emits `${p}graph`. */
  private def graphFromCandsSql(p: String): String =
    s""", ${p}gsc AS (
       |  SELECT c.query_id, c.neighbor_id, $nndCosSql AS cos
       |  FROM ${p}cands c
       |  JOIN qv a ON c.query_id = a.vec_id
       |  JOIN qv b ON c.neighbor_id = b.vec_id
       |), ${p}graph AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
       |    FROM ${p}gsc) t
       |  WHERE rnk <= 3
       |)""".stripMargin

  /** One-hop beam serve over a graph CTE named `$graphCte` (seed =
    * own-bucket exact top-[[GraphBeam]], expand through the graph,
    * exact rescore); emits `${p}serve` (query_id, neighbor_id, cos) —
    * e23Sql, e24Sql, and e07's graph_serve leg interpolate the SAME
    * text. `aliveCte` (e24) names a 1-column (vec_id) CTE restricting
    * BOTH seed sides to non-retracted vectors; the expansion stage
    * needs no filter of its own when `graphCte` is already
    * endpoint-filtered (every reached candidate is alive by
    * construction). */
  private def serveFromGraphSql(p: String, graphCte: String,
                                aliveCte: Option[String] = None): String = {
    val aliveJoin = aliveCte
      .map(a => s"\n  JOIN $a ax ON a.vec_id = ax.vec_id" +
        s"\n  JOIN $a bx ON b.vec_id = bx.vec_id")
      .getOrElse("")
    s""", ${p}sc0 AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS cand, $nndCosSql AS cos
       |  FROM bv a JOIN bv b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id$aliveJoin
       |  WHERE a.vec_id % 5 = 0
       |), ${p}beam0 AS (
       |  SELECT query_id, cand FROM (
       |    SELECT query_id, cand,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand ASC) AS rn
       |    FROM ${p}sc0) t
       |  WHERE rn <= $GraphBeam
       |), ${p}cands1 AS (
       |  SELECT query_id, cand FROM ${p}beam0
       |  UNION
       |  SELECT b0.query_id, g.neighbor_id AS cand
       |  FROM ${p}beam0 b0 JOIN $graphCte g ON b0.cand = g.query_id
       |), ${p}serve AS (
       |  SELECT c.query_id, c.cand AS neighbor_id, $nndCosSql AS cos
       |  FROM ${p}cands1 c
       |  JOIN qv a ON c.query_id = a.vec_id
       |  JOIN qv b ON c.cand = b.vec_id
       |  WHERE c.query_id <> c.cand
       |)""".stripMargin
  }

  val e23Sql: String =
    s"""$quantSql, bv AS (
       |  SELECT vec_id, q, ${bucketExprSqlFor(0)} AS bucket,
       |    ${bucketExprSqlFor(1)} AS bucket_b
       |  FROM qv
       |)${nndCandsCteSql("")}${graphFromCandsSql("")}${serveFromGraphSql("", "graph")}
       |SELECT query_id, neighbor_id, cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM serve) t
       |WHERE rank <= 3""".stripMargin

  // ---------------------------------------------------------------- e24
  // final + literal: e24Sql interpolates these during static init (the
  // DefaultNndRevCap compile-time-constant discipline)
  final val VecTombMod = 11
  final val VecTombRem = 4

  /** TOMBSTONED graph serve — e23 with a retraction set applied, the
    * DELETION path a real corpus pipeline needs (upstream-retracted
    * vectors must vanish from serving without rebuilding the frozen
    * artifacts). The delete set rides as a TABLE and every stage
    * applies it as a broadcast anti-join — the probe-side tombstone
    * form ([[graft.jobs.IncrementalIndex.liveTable]] is the persisted
    * twin): seeds exclude retracted vectors on both bucket sides, the
    * stored graph drops every edge touching a retracted ENDPOINT
    * (either side — a beam may neither return a deleted vector nor
    * route THROUGH one), queries that were themselves retracted ask
    * nothing, and the rescore reads only live vectors. The graph stays
    * the FROZEN pre-deletion build: filtering is O(|edges|) probe-side
    * work, while re-running the descent is the explicit rebuild event
    * — the ranked-artifact trade-off (a filtered graph loses
    * the deleted nodes' routing, so recall can only be restored, never
    * improved, by the rebuild; TombstoneSpec measures the gap).
    *
    * Scale shape: e23's joins plus one broadcast anti-join per stage —
    * the tombstone set is retraction-sized (≪ corpus), exactly the
    * broadcast-dim discipline. */
  def e24TombstoneServe(s: SparkSession, dir: String): DataFrame = {
    val vb = bucketedOf(s, dir)
    val dels = vb.select(col("vec_id"))
      .where(col("vec_id") % VecTombMod === VecTombRem)
    val alive = vb.join(broadcast(dels), Seq("vec_id"), "left_anti")
    val liveGraph = graphOf(s, dir, 1, DefaultNndRevCap)
      .join(broadcast(dels.select(col("vec_id").as("query_id"))),
        Seq("query_id"), "left_anti")
      .join(broadcast(dels.select(col("vec_id").as("neighbor_id"))),
        Seq("neighbor_id"), "left_anti")
    graphServeOver(s, alive.where(col("vec_id") % 5 === 0), alive,
      liveGraph, hops = 1)
  }

  val e24Sql: String =
    s"""$quantSql, bv AS (
       |  SELECT vec_id, q, ${bucketExprSqlFor(0)} AS bucket,
       |    ${bucketExprSqlFor(1)} AS bucket_b
       |  FROM qv
       |)${nndCandsCteSql("")}${graphFromCandsSql("")}, alive AS (
       |  SELECT vec_id FROM qv WHERE vec_id % $VecTombMod <> $VecTombRem
       |), fgraph AS (
       |  SELECT g.query_id, g.neighbor_id FROM graph g
       |  JOIN alive gx ON g.query_id = gx.vec_id
       |  JOIN alive gy ON g.neighbor_id = gy.vec_id
       |)${serveFromGraphSql("t", "fgraph", aliveCte = Some("alive"))}
       |SELECT query_id, neighbor_id, cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM tserve) t
       |WHERE rank <= 3""".stripMargin

  // --------------------------------------------------- online insert
  /** ONLINE GRAPH INSERT — the maintenance half e23/st21 defer to: an
    * arriving vector doesn't just QUERY the frozen graph, it JOINS it.
    * Its edge list is computed against the store as of arrival (the
    * HNSW/NSG online-insert shape reduced to its set-based core):
    * seed candidates from BOTH stored hash tables' bucketmates
    * (corpus + every earlier arrival — so later arrivals retrieve
    * earlier ones) plus intra-batch keep-earlier partners; the seed
    * top-[[GraphBeam]] expands ONE hop through the BOOTSTRAP graph
    * (the localized-descent round, Dong et al.'s neighbors-of-
    * neighbors); exact rescore of the union; top-3 becomes the
    * vector's stored edge row.
    *
    * Expansion reads the FROZEN bootstrap edges, never the
    * dynamically-appended ones: that makes a vector's edges a pure
    * function of (itself, the earlier-id set, the frozen corpus graph)
    * — split-invariant for ANY ascending-id micro-batch split, which
    * is what gives st22 an exact one-shot oracle (the st13 census-form
    * lever). The trade-off is real and documented: a production
    * insert that expands through fresh edges routes better as the
    * graph grows, but its result depends on batch boundaries — a
    * periodic descent rebuild over the corpus so far is the event that
    * folds arrivals into the navigable structure.
    *
    * Scale shape: per batch, two bucket-keyed [[SelfJoin]]s against
    * the stored bucket table (collision-width work, the d30 probe
    * class), one edge join bounded by beam×3 rows, rescore joins on
    * vector ids. No corpus-pairs stage; the corpus is never re-read
    * beyond the collided buckets. */
  private[graft] def graphInsertOver(s: SparkSession, arrivals: DataFrame,
                                     index: DataFrame, graph: DataFrame): DataFrame = {
    val dot = dotQ(s) _
    val qv = arrivals.select(col("vec_id").as("query_id"), col("q").as("qa"),
      col("nq").as("na"), col("bucket"), col("bucket_b"))
    val cv = index.select(col("vec_id").as("cand"), col("q").as("qb"),
        col("nq").as("nb"))
      .unionByName(arrivals.select(col("vec_id").as("cand"),
        col("q").as("qb"), col("nq").as("nb")))
    def seedsOn(key: String): DataFrame = {
      val stored = SelfJoin.on(
        qv.select(col(key), col("query_id")),
        index.select(col(key), col("vec_id").as("cand")), Seq(key))
      val intra = SelfJoin.on(
        qv.select(col(key), col("query_id")),
        arrivals.select(col(key), col("vec_id").as("cand")), Seq(key))
        .where(col("cand") < col("query_id"))
      stored.select(col("query_id"), col("cand"))
        .unionByName(intra.select(col("query_id"), col("cand")))
    }
    val seeds = seedsOn("bucket").unionByName(seedsOn("bucket_b"))
      .where(col("query_id") =!= col("cand")).distinct()
    def rescore(cands: DataFrame): DataFrame =
      cands
        .join(qv.select(col("query_id"), col("qa"), col("na")), Seq("query_id"))
        .join(cv, Seq("cand"))
        .select(col("query_id"), col("cand"),
          (dot(col("qa"), col("qb")).cast("double") /
            (sqrt(col("na").cast("double")) *
              sqrt(col("nb").cast("double")))).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand").asc)
    val beam = rescore(seeds).withColumn("rn", row_number().over(w))
      .where(col("rn") <= GraphBeam)
      .select(col("query_id"), col("cand"))
    val expand = SelfJoin.on(beam,
        graph.select(col("query_id").as("cand"), col("neighbor_id").as("gn")),
        Seq("cand"))
      .select(col("query_id"), col("gn").as("cand"))
      .where(col("query_id") =!= col("cand"))
    val cands = seeds.unionByName(expand).distinct()
    rescore(cands).withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("cand").as("neighbor_id"),
        col("cos"), col("rank"))
  }

  /** st22's one-shot oracle: every arrival's insert-time edge list
    * under the ascending-id arrival order ("earlier" ≡ corpus member
    * or lower arrival id — d30's census convention). LAZY: it
    * interpolates [[IncrementalBatchModE]], which reads LlmText
    * (cross-object — the RerankC init-order trap). */
  private[graft] lazy val onlineInsertSql: String =
    s"""$quantSql, bva AS (
       |  SELECT vec_id, q, ${bucketExprSqlFor(0)} AS bucket,
       |    ${bucketExprSqlFor(1)} AS bucket_b
       |  FROM qv
       |), bv AS (
       |  SELECT * FROM bva WHERE vec_id % $IncrementalBatchModE <> 0
       |)${nndCandsCteSql("")}${graphFromCandsSql("")}, seeds AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS cand
       |  FROM bva a JOIN bva b ON a.bucket = b.bucket
       |  WHERE a.vec_id % $IncrementalBatchModE = 0 AND b.vec_id <> a.vec_id
       |    AND (b.vec_id % $IncrementalBatchModE <> 0 OR b.vec_id < a.vec_id)
       |  UNION
       |  SELECT a.vec_id AS query_id, b.vec_id AS cand
       |  FROM bva a JOIN bva b ON a.bucket_b = b.bucket_b
       |  WHERE a.vec_id % $IncrementalBatchModE = 0 AND b.vec_id <> a.vec_id
       |    AND (b.vec_id % $IncrementalBatchModE <> 0 OR b.vec_id < a.vec_id)
       |), sscore AS (
       |  SELECT s.query_id, s.cand, $nndCosSql AS cos
       |  FROM seeds s JOIN qv a ON s.query_id = a.vec_id
       |               JOIN qv b ON s.cand = b.vec_id
       |), sbeam AS (
       |  SELECT query_id, cand FROM (
       |    SELECT query_id, cand,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand ASC) AS rn
       |    FROM sscore) t
       |  WHERE rn <= $GraphBeam
       |), icands AS (
       |  SELECT query_id, cand FROM seeds
       |  UNION
       |  SELECT sb.query_id, g.neighbor_id AS cand
       |  FROM sbeam sb JOIN graph g ON sb.cand = g.query_id
       |  WHERE g.neighbor_id <> sb.query_id
       |), iscored AS (
       |  SELECT c.query_id, c.cand AS neighbor_id, $nndCosSql AS cos
       |  FROM icands c JOIN qv a ON c.query_id = a.vec_id
       |                JOIN qv b ON c.cand = b.vec_id
       |)
       |SELECT query_id, neighbor_id, cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM iscored) t
       |WHERE rank <= 3""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e24_tombstone_serve" -> (e24TombstoneServe _),
    "e23_graph_serve" -> (e23GraphServe _),
    "e22_nn_descent" -> (e22NnDescent _),
    "e21_kmpp_seed" -> (e21KmppSeed _),
    "e20_cell_stats" -> (e20CellStats _),
    "e19_quant_error" -> (e19QuantError _),
    "e18_range_search" -> (e18RangeSearch _),
    "e17_filtered_ann" -> (e17FilteredAnn _),
    "e16_mmr_diversify" -> (e16MmrDiversify _),
    "e15_ivf_sq_rerank" -> (e15IvfSqRerank _),
    "e14_sq8_rerank" -> (e14SqRerank _),
    "e13_residual_pq" -> (e13ResidualPq _),
    "e12_ivf_pq_adc" -> (e12IvfPqAdc _),
    "e11_kmeans_step" -> (e11KmeansStep _),
    "e10_ivf_sketch_rerank" -> (e10IvfSketchRerank _),
    "e09_incremental_semdedup" -> (e09IncrementalSemDedup _),
    "e08_sketch_rerank" -> (e08SketchRerank _),
    "e07_recall_audit" -> (e07RecallAudit _),
    "e07b_recall_quantized" -> (e07bRecallQuantized _),
    "e07c_recall_graph" -> (e07cRecallGraph _),
    "e06_sem_dedup" -> (e06SemDedup _),
    "e05_ivf_ann" -> (e05IvfAnn _),
    "e01_knn_brute" -> (e01KnnBrute _),
    "e02_ann_bucketed" -> (e02AnnBucketed _),
    "e03_label_centroids" -> (e03LabelCentroids _),
    "e04_cosine_neardup" -> (e04CosineNeardup _))

  /** LAZY for symmetry with LlmText/AdAnalytics: no e-suite oracle
    * interpolates another object today, but the LlmText <-> Embeddings
    * init cycle is real (d31/d34 read this object's vals) and a lazy
    * map keeps any future cross-reference out of static init — the
    * cross-object RerankC trap ([[graft.tools.InitOrderCheck]]). */
  lazy val oracleSql: Map[String, String] = Map(
    "e24_tombstone_serve" -> e24Sql,
    "e23_graph_serve" -> e23Sql,
    "e22_nn_descent" -> e22Sql,
    "e21_kmpp_seed" -> e21Sql,
    "e20_cell_stats" -> e20Sql,
    "e19_quant_error" -> e19SqlBuild,
    "e18_range_search" -> e18Sql,
    "e17_filtered_ann" -> e17Sql,
    "e16_mmr_diversify" -> e16Sql,
    "e15_ivf_sq_rerank" -> e15Sql,
    "e14_sq8_rerank" -> e14Sql,
    "e13_residual_pq" -> e13Sql,
    "e12_ivf_pq_adc" -> e12Sql,
    "e11_kmeans_step" -> e11Sql,
    "e10_ivf_sketch_rerank" -> e10Sql,
    "e09_incremental_semdedup" -> e09Sql,
    "e08_sketch_rerank" -> e08Sql,
    "e07_recall_audit" -> e07Sql,
    "e07b_recall_quantized" -> e07bSql,
    "e07c_recall_graph" -> e07cSql,
    "e06_sem_dedup" -> e06Sql,
    "e05_ivf_ann" -> e05Sql,
    "e01_knn_brute" -> e01Sql,
    "e02_ann_bucketed" -> e02Sql,
    "e03_label_centroids" -> e03Sql,
    "e04_cosine_neardup" -> e04Sql)
}
