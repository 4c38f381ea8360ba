package graft.jobs

import graft.StoredMemo.Pinning
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.operators.{Embeddings, LlmText, SelfJoin}

/** The PERSISTED incremental-dedup index — the store that turns d30/e09
  * from operators into a streaming ingest with a day 2.
  *
  * d30 and e09 prove the bipartite probe shape (batch × index, never
  * corpus²) but recompute their index side in-query because the oracle
  * fixture has no store. The reference's analogous capability is its
  * accumulate-upsert store (adversStat/src/main/scala/JdbcHelper.scala:
  * 80-172 — state survives across runs and new data folds in); here the
  * index is a set of parquet tables, the layout a 100 TB deployment
  * would keep in its lake, each written by the st-query that serves it:
  *
  *  - `text_bands`    (band, band_key, doc_id) and `text_shingles`
  *    (doc_id, sh) — d30's banded-LSH entries and the shingle sets
  *    Jaccard verification needs (st13, st25), so day-2 verification
  *    NEVER re-reads day-1 text.
  *  - `rh_postings`   (doc_id, p, h) — d44's rolling-hash window
  *    postings (st19).
  *  - `cell_centroids` (cell, cvec, ncv) and `cell_members` (cell,
  *    vec_id, q, nq) — the trained IVF directions, computed ONCE and
  *    frozen (the faiss convention), and each vector's primary-cell
  *    assignment (st14).
  *  - `sq_quantizer` / `sq_codes`, `media_bands`, `bench_shingles` /
  *    `bloom_words`, `lsh_buckets` / `graph_edges`, `vec_tombstones`,
  *    `cluster_labels` / `label_remaps` — st15, st16, st17/st23,
  *    st21/st22/st24 and st25's stores.
  *
  * A store that is appended to is batch-keyed: every write lands in
  * its own `bid=<id>` partition through `land`, bootstrap rows at
  * bid −1. A frozen store, written once and never appended, is flat.
  *
  * Daily cost ∝ |batch| × collision width: the probe joins are the same
  * strategy-gated equi-joins as d30/e09 ([[SelfJoin]]: broadcast
  * locally, sort-merge + AQE skew split at scale), the index side
  * arrives via a parquet scan of exactly the columns needed, and each
  * append is a batch-sized partition — the corpus is never rewritten,
  * never re-paired, never re-scanned.
  *
  * Contract: the store pins the signature scheme its entries were built
  * with — probes must run under the same `spark.graft.lsh.bandRows`
  * lever the build used (band keys would otherwise never collide), and
  * `cell_centroids` must be the SAME frozen table every batch assigns
  * against (that is what makes assignments comparable across days).
  */
object IncrementalIndex {
  val TextBands = "text_bands"
  val TextShingles = "text_shingles"
  val CellCentroids = "cell_centroids"
  val CellMembers = "cell_members"
  val SqQuantizer = "sq_quantizer"
  val SqCodes = "sq_codes"
  val MediaBands = "media_bands"
  val BenchShingles = "bench_shingles"
  val RhPostings = "rh_postings"
  val GraphEdges = "graph_edges"
  val LshBuckets = "lsh_buckets"
  val VecTombstones = "vec_tombstones"
  val BloomWords = "bloom_words"
  val ClusterLabels = "cluster_labels"
  val LabelRemaps = "label_remaps"

  private def p(indexDir: String, table: String): String = s"$indexDir/$table"

  /** Spread a narrow input across cores before a per-row-HEAVY
    * derivation (shingling — ~100 µs/row of string splitting and
    * hashing). Batch frames from a one-file stream source and the
    * fixture's one-file parquet scans arrive as a SINGLE partition, so
    * such a probe/build ran its map stage one-core regardless of
    * cluster size (st23's bloom probe measured 3.7 s narrow vs 2.2 s
    * spread at sf0.1; input skew — repartition immediately after a
    * narrow read). Conditional, so an already-parallel input pays
    * nothing. Applied ONLY on the text/
    * shingle paths: the vector-side derivations (quantize, phash) are
    * ~1–10 µs/row, where the measured A/B showed the batch-sized
    * exchange costs more than it parallelizes. */
  private def spread(df: DataFrame): DataFrame = graft.Tables.spreadIfNarrow(df)

  // ------------------------------------------------------- tombstones
  /** Which store tables the vec-id tombstones filter, on which id
    * columns. Row-LOCAL tables (one row belongs to one id) filter
    * exactly; the ranked artifact (`graph_edges`) names BOTH endpoint
    * columns — an edge dies when EITHER side
    * is retracted (a serve may neither return a deleted id nor route
    * through one) — and filtering them is sound but lossy: a rebuild
    * over the survivors is the completeness-restoring event. */
  private val tombKeys: Map[String, Seq[String]] = Map(
    LshBuckets -> Seq("vec_id"),
    GraphEdges -> Seq("query_id", "neighbor_id"))

  private def tableExists(s: SparkSession, path: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(path)
    hp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(hp)
  }

  /** st24's step: land a micro-batch of upstream RETRACTIONS (`ids`
    * is a 1-column frame of vec ids) in [[VecTombstones]]. Tombstone
    * application is a SET anti-join ([[liveTable]]), so even a
    * duplicate id could not perturb a read. */
  def writeVecTombstonesBatch(s: SparkSession, ids: DataFrame, indexDir: String,
                              batchId: Long): Unit =
    land(ids.select(col(ids.columns.head).cast("long").as("vec_id")),
      indexDir, VecTombstones, batchId)

  /** A store table with its tombstone set applied PROBE-SIDE: one
    * broadcast anti-join per id column (the ranked artifacts pass both
    * endpoints). The tombstone set is retraction-sized — ≪ corpus, the
    * broadcast-dim discipline — so the filter costs one map-side
    * probe per row. Absent tombstone table (or a table with no id
    * mapping) reads plain. */
  def liveTable(s: SparkSession, indexDir: String, table: String): DataFrame = {
    val df = s.read.parquet(p(indexDir, table))
    tombKeys.get(table) match {
      case Some(keys) if tableExists(s, p(indexDir, VecTombstones)) =>
        val ids = s.read.parquet(p(indexDir, VecTombstones))
        val idCol = ids.columns.head
        keys.foldLeft(df)((d, k) =>
          d.join(broadcast(ids.select(col(idCol).as(k))), Seq(k), "left_anti"))
      case _ => df
    }
  }

  // ------------------------------------------------------------ build
  /** FIXTURE-path bootstrap writer for the batch-keyed text index: the
    * `bid=-1` corpus partition derived from the in-JVM memoized band/
    * shingle tables ([[graft.operators.LlmText.bandsOf]]/[[graft
    * .operators.LlmText.shinglesOf]]) filtered by `pred` — row-identical
    * to [[writeTextIndexBatch]] over the same docs because both
    * derivations are per-doc pure functions (parity pinned in
    * FixtureParitySpec), but a warm process pays the parquet write,
    * not a tokenize→shingle→minhash recompute ([[writeServePair]]'s
    * discipline; cold runs rebuild through the same definitions).
    * st13/st25 bootstrap through this; the per-batch APPENDS keep the
    * explicit [[writeTextIndexBatch]] — arriving data is computed when
    * it arrives, that cost is the measured steady state. */
  def writeTextIndexFixtureBootstrap(s: SparkSession, dir: String,
                                     indexDir: String,
                                     pred: org.apache.spark.sql.Column): Unit = {
    // coalesce the write: the memo tables carry the corpus-wide spread
    // layout, which would land ~32 tiny files per bootstrap partition —
    // the small-files cost every later probe re-pays at open time
    // (guide §6); these tables are a few MB, so a handful of files is
    // the right landing size
    land(LlmText.bandsOf(s, dir).where(pred).coalesce(4), indexDir, TextBands, -1L)
    land(LlmText.shinglesOf(s, dir).where(pred).coalesce(4), indexDir, TextShingles, -1L)
  }

  /** The text index rows (bands and shingle sets) of `docs`, landed at
    * `batchId`: st13's and st25's per-batch write, and a bootstrap at
    * bid −1. */
  def writeTextIndexBatch(s: SparkSession, docs: DataFrame, indexDir: String,
                          batchId: Long): Unit = {
    val baseDf = LlmText.baseFrom(spread(docs)).persist()
    try {
      land(LlmText.bandEntriesOf(s, LlmText.sigOf(s, baseDf)), indexDir, TextBands, batchId)
      land(LlmText.shingleSetsOf(s, baseDf), indexDir, TextShingles, batchId)
    } finally { baseDf.unpersist(); () }
  }

  /** st13's step: d30's verdicts for `batch` against the store as of
    * the last committed batch, then the batch's own text index rows. */
  def ingestTextBatch(s: SparkSession, batch: DataFrame, indexDir: String,
                      batchId: Long): DataFrame = {
    val verdicts = probeText(s, batch, indexDir, exceptBid = Some(batchId))
    writeTextIndexBatch(s, batch, indexDir, batchId)
    verdicts
  }

  /** st19's step: the batch's substring postings. */
  def writeSubstrIndexBatch(s: SparkSession, docs: DataFrame, indexDir: String,
                            batchId: Long): Unit =
    land(LlmText.rhPostingsFrom(s, spread(docs)), indexDir, RhPostings, batchId)

  /** The one writer of every batch-keyed store: `df` lands in `table`'s
    * `bid=<bid>` partition with Overwrite. foreachBatch commits source
    * offsets AFTER the callback returns, so a batch replayed after a
    * crash arrives with the SAME id and overwrites its own partition
    * instead of duplicating it: the Structured Streaming idempotent
    * sink. Flat files and bid dirs never mix under one root. */
  private def land(df: DataFrame, indexDir: String, table: String, bid: Long): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"${p(indexDir, table)}/bid=$bid")

  /** A batch-keyed table's bootstrap (bid −1) rows; partition pruning
    * reads only that directory. */
  private def bootstrapRows(s: SparkSession, indexDir: String, table: String): DataFrame =
    s.read.parquet(p(indexDir, table)).where(col("bid") === -1).drop("bid")

  /** Store-table read honoring the batch-keyed layout: optionally
    * EXCLUDES one batch id — a crash-replayed batch must probe the
    * store as of the last COMMITTED batch, not see its own crashed
    * append (probe-before-append under recovery). Partition pruning
    * drops the excluded directory at planning time. */
  private def storeTable(s: SparkSession, indexDir: String, table: String,
                         exceptBid: Option[Long]): DataFrame = {
    val df = s.read.parquet(p(indexDir, table))
    exceptBid match {
      case None => df
      case Some(b) =>
        require(df.columns.contains("bid"),
          s"store table '$table' is not batch-keyed; cannot exclude batch $b")
        df.where(col("bid") =!= b)
    }
  }

  /** Write the embedding half: train (or adopt) the centroid table and
    * store every vector's primary-cell assignment. `centroidTrain`
    * defaults to `vecs` — pass a wider history to train the frozen
    * index on more data than day 1's slice (the e09 oracle form trains
    * on the full fixture; a production deployment trains on the corpus
    * so far and REUSES the stored table for every later batch). */
  def writeCellIndex(s: SparkSession, vecs: DataFrame, indexDir: String,
                     centroidTrain: Option[DataFrame] = None): Unit = {
    val cents = Embeddings.centroidsOf(s,
      Embeddings.quantizedFrom(s, centroidTrain.getOrElse(vecs)))
    cents.write.mode(SaveMode.Overwrite).parquet(p(indexDir, CellCentroids))
    land(cellMembersFrom(s, vecs, indexDir), indexDir, CellMembers, -1L)
  }

  /** Fixture-path twin of [[writeCellIndex]] at st14's standing shape
    * (members = the `vec_id % modE != 0` ingest corpus, centroids
    * trained on the FULL fixture — e09's oracle formulation): both
    * halves derive from the in-JVM memo path ([[graft.operators
    * .Embeddings.cellRanked]] is assignRanked(v, centroidsOf(v)) over
    * the same training set, and assignment is per-row pure given the
    * centroids, so the vec_id filter of the stored table is
    * row-identical to re-assigning the subset — the
    * writeTextIndexFixtureBootstrap discipline; parity pinned in
    * FixtureParitySpec). Warm pays the parquet writes; cold rebuilds
    * through the same definitions. */
  def writeCellIndexFixture(s: SparkSession, dir: String, indexDir: String): Unit = {
    val modE = Embeddings.IncrementalBatchModE
    Embeddings.centroidsOf(s, Embeddings.quantized(s, dir))
      .write.mode(SaveMode.Overwrite).parquet(p(indexDir, CellCentroids))
    land(Embeddings.cellRanked(s, dir)
      .where(col("rn") === 1 && col("vec_id") % modE =!= 0)
      .select(col("cell"), col("vec_id"), col("q"), col("nq"))
      .coalesce(4), indexDir, CellMembers, -1L)
  }

  /** The member rows of `vecs`, assigned against the STORED centroids. */
  private def cellMembersFrom(s: SparkSession, vecs: DataFrame, indexDir: String): DataFrame =
    Embeddings.assignRanked(s, Embeddings.quantizedFrom(s, vecs),
        s.read.parquet(p(indexDir, CellCentroids)))
      .where(col("rn") === 1)
      .select(col("cell"), col("vec_id"), col("q"), col("nq"))

  /** st14's step: e09's verdicts for `batch` against the store as of the
    * last committed batch, then the batch's own member rows. The FULL
    * batch lands (e09 counts matches against every earlier arrival). */
  def ingestCellBatch(s: SparkSession, batch: DataFrame, indexDir: String,
                      batchId: Long): DataFrame = {
    val verdicts = probeCells(s, batch, indexDir, exceptBid = Some(batchId))
    land(cellMembersFrom(s, batch, indexDir), indexDir, CellMembers, batchId)
    verdicts
  }

  /** Persist the SQ8 half of the index (e14/e15's quantizer): the
    * trained per-dimension [lo, hi] row over `trainVecs` (frozen like
    * the centroids; a sample at scale) and the 64-byte code row for
    * every vector of `allVecs` — the column an SQ-ADC scan streams
    * instead of raw floats. One shared encode definition
    * ([[graft.operators.Embeddings.sqEncode]]) keeps the stored table
    * bit-identical to the in-query quantizer. */
  def writeSqIndex(s: SparkSession, trainVecs: DataFrame, allVecs: DataFrame,
                   indexDir: String): Unit = {
    Embeddings.sqLohiTrain(Embeddings.quantizedFrom(s, trainVecs))
      .write.mode(SaveMode.Overwrite).parquet(p(indexDir, SqQuantizer))
    land(sqCodesFrom(s, allVecs, indexDir), indexDir, SqCodes, -1L)
  }

  /** The code rows of `vecs`, encoded against the STORED quantizer
    * (codes under different [lo, hi] tables are NOT comparable, so a
    * retrain re-encodes wholesale). */
  private def sqCodesFrom(s: SparkSession, vecs: DataFrame, indexDir: String): DataFrame = {
    val v = Embeddings.quantizedFrom(s, vecs).select(col("vec_id"), col("q"))
    Embeddings.sqEncode(v, s.read.parquet(p(indexDir, SqQuantizer)))
      .select(col("vec_id"), col("codes"))
  }

  /** st15's step: land the batch's code rows and return them. */
  def ingestSqBatch(s: SparkSession, batch: DataFrame, indexDir: String,
                    batchId: Long): DataFrame = {
    val codes = sqCodesFrom(s, batch, indexDir)
    land(codes, indexDir, SqCodes, batchId)
    codes
  }

  /** Serve d44's maximal duplicated spans from the PERSISTED postings
    * store — the deployment twin of the in-JVM memo (frame parity
    * pinned in StoredParitySpec). */
  def probeSubstrSpans(s: SparkSession, indexDir: String): DataFrame =
    LlmText.spansFromPostings(s.read.parquet(p(indexDir, RhPostings)))

  /** The LSH bucket rows of `vecs`, landed at `batchId` (st22's
    * [[LshBuckets]]; a bootstrap at bid −1): arrivals become
    * retrievable by every later batch. */
  def writeLshIndexBatch(s: SparkSession, vecs: DataFrame, indexDir: String,
                         batchId: Long): Unit =
    land(Embeddings.bucketedFrom(s, Embeddings.quantizedFrom(s, vecs)),
      indexDir, LshBuckets, batchId)

  /** The BOOTSTRAP graph for the online-insert lifecycle: the corpus's
    * NN-Descent edges in the `bid=-1` partition of a batch-keyed
    * [[GraphEdges]] store. Insert-time expansion reads EXACTLY this
    * partition ([[probeGraphInsert]] — partition pruning drops every
    * appended batch), the freeze that makes st22's arrivals
    * split-invariant. */
  def writeGraphBootstrapBatch(s: SparkSession, vecs: DataFrame, indexDir: String,
                               rounds: Int = 1,
                               revCap: Int = Embeddings.DefaultNndRevCap): Unit = {
    val v = Embeddings.quantizedFrom(s, vecs)
    land(Embeddings.nnDescentOver(s, Embeddings.bucketedFrom(s, v), v, rounds, revCap),
      indexDir, GraphEdges, -1L)
  }

  /** FIXTURE-path bootstrap for st22's (lsh_buckets, graph_edges)
    * ingest pair: the `bid=-1` corpus partitions derived from the
    * in-JVM memo path — the bucket rows are a vec_id filter of the
    * corpus bucket memo (per-row pure hash), the bootstrap graph is
    * its own memoized descent over the subset ([[graft.operators
    * .Embeddings.ingestGraphOf]]) — row-identical to
    * [[writeLshIndexBatch]] + [[writeGraphBootstrapBatch]] over the
    * same subset (parity pinned in FixtureParitySpec), but a warm
    * process pays the parquet writes ([[writeServePair]]'s
    * discipline); cold runs rebuild through the same definitions. */
  def writeGraphBootstrapFixture(s: SparkSession, dir: String,
                                 indexDir: String): Unit = {
    val modE = Embeddings.IncrementalBatchModE
    // coalesced like the text bootstrap: small store, few files
    land(Embeddings.bucketedOf(s, dir).where(col("vec_id") % modE =!= 0).coalesce(4),
      indexDir, LshBuckets, -1L)
    land(Embeddings.ingestGraphOf(s, dir).coalesce(4), indexDir, GraphEdges, -1L)
  }

  /** st22's step: the batch's insert edges against the store as of the
    * last committed batch, then its bucket rows and those edges. */
  def ingestGraphBatch(s: SparkSession, batch: DataFrame, indexDir: String,
                       batchId: Long): DataFrame = {
    val edges = probeGraphInsert(s, batch, indexDir, exceptBid = Some(batchId))
    writeLshIndexBatch(s, batch, indexDir, batchId)
    land(edges, indexDir, GraphEdges, batchId)
    edges
  }

  /** ONLINE INSERT probe — compute a batch of arriving vectors' edge
    * lists against the store as it stands ([[graft.operators.Embeddings
    * .graphInsertOver]]): seeds from the stored bucket table (corpus +
    * every earlier arrival; `exceptBid` hides a crash-replayed batch's
    * own append), expansion through the FROZEN bootstrap edges only.
    * Returns the materialized batch-sized edge frame
    * [[ingestGraphBatch]] lands. */
  def probeGraphInsert(s: SparkSession, batchVecs: DataFrame, indexDir: String,
                       exceptBid: Option[Long] = None): DataFrame =
    Embeddings.graphInsertOver(s,
      Embeddings.bucketedFrom(s, Embeddings.quantizedFrom(s, batchVecs)),
      storeTable(s, indexDir, LshBuckets, exceptBid),
      bootstrapRows(s, indexDir, GraphEdges))
      .pin("graph-insert-probe")

  /** Write the (lsh_buckets, graph_edges) serve pair for the FIXTURE
    * corpus through the in-JVM memo path ([[graft.operators.Embeddings
    * .bucketedOf]] / [[graft.operators.Embeddings.graphOf]] at the
    * pinned build levers). The build is SHARED with every other memo
    * consumer in the JVM: a warm process pays the parquet write, not a
    * recompute, which is exactly how a deployment derives its store
    * from an already-materialized build artifact. Memo-disabled (cold)
    * runs recompute through the same definitions, so both prices stay
    * honest. st21/st24 use this; st22 builds over a corpus SUBSET and
    * keeps the explicit writers. */
  def writeServePair(s: SparkSession, dir: String, indexDir: String): Unit = {
    // coalesced writes: the bucket memo carries the corpus-wide spread
    // layout (~32 partitions), which would land 32 tiny files every
    // later probe re-pays at open time (guide §6)
    Embeddings.bucketedOf(s, dir).coalesce(4)
      .write.mode(SaveMode.Overwrite).parquet(p(indexDir, LshBuckets))
    Embeddings.graphOf(s, dir, 1, Embeddings.DefaultNndRevCap).coalesce(4)
      .write.mode(SaveMode.Overwrite).parquet(p(indexDir, GraphEdges))
  }

  /** e23's graph-serve beam for a BATCH of query vectors against the
    * PERSISTED (lsh_buckets, graph_edges) pair — the online-ANN-serving
    * probe (st21's per-batch form): the batch hashes its own buckets
    * ([[graft.operators.Embeddings.bucketedFrom]] — identical to the
    * build-side hash), seeds from the stored bucket table, expands one
    * hop through the stored edges, exact-rescores. No cross-batch
    * state; verdicts are a pure function of (batch, frozen store).
    * Returns the lazy answer frame, as [[probeBench]] does. */
  def probeGraphServe(s: SparkSession, batchVecs: DataFrame,
                      indexDir: String): DataFrame =
    Embeddings.graphServeOver(s,
      Embeddings.bucketedFrom(s, Embeddings.quantizedFrom(s, batchVecs)),
      s.read.parquet(p(indexDir, LshBuckets)),
      s.read.parquet(p(indexDir, GraphEdges)), hops = 1)

  /** e24's tombstoned serve over the PERSISTED pair — [[probeGraphServe]]
    * with every stage reading through [[liveTable]]: seeds come from
    * live bucket rows only, the stored graph drops every edge touching
    * a retracted ENDPOINT (either side — a beam may neither return a
    * deleted vector nor route through one), retracted queries ask
    * nothing, and the rescore reads only live vectors. The graph stays
    * the frozen pre-deletion build; st24 folds a retraction STREAM into
    * the tombstone table and reads this probe once the stream drains —
    * tombstones are a set, so the readout is split/order invariant and
    * equals the in-JVM batch form ([[graft.operators.Embeddings
    * .e24TombstoneServe]]) by construction. The standing e-suite query
    * sample (vec_id % 5 = 0) keeps the two forms row-identical. */
  def probeGraphServeLive(s: SparkSession, indexDir: String): DataFrame = {
    val alive = liveTable(s, indexDir, LshBuckets)
    Embeddings.graphServeOver(s, alive.where(col("vec_id") % 5 === 0), alive,
      liveTable(s, indexDir, GraphEdges), hops = 1)
      .pin("graph-serve-live")
  }

  // ------------------------------------------------------------ probe
  /** d30's verdicts against the STORED index: every batch doc with its
    * verified near-dup match count against the indexed corpus plus its
    * own earlier batch members (keep-first, d09's convention). The
    * corpus side is the two stored tables — no day-1 text is re-read,
    * no corpus signature recomputed. Returns the materialized verdict
    * frame (batch-sized). */
  def probeText(s: SparkSession, batchDocs: DataFrame, indexDir: String,
                exceptBid: Option[Long] = None): DataFrame = {
    val (out, caches) = probeTextLazy(s, batchDocs, indexDir, exceptBid)
    val materialized = out.pin("text-probe")
    caches.foreach(_.unpersist())
    materialized
  }

  /** The un-materialized probe plan + its caches — the form the
    * lifecycle spec inspects for input files (the public entry
    * checkpoints, which erases lineage). Callers own the unpersist.
    * `exceptBid` serves the crash-replay contract ([[storeTable]]). */
  private[graft] def probeTextLazy(s: SparkSession, batchDocs: DataFrame,
                                   indexDir: String,
                                   exceptBid: Option[Long] = None): (DataFrame, Seq[DataFrame]) = {
    val (pairs, baseB) = probeTextPairsStage(s, batchDocs, indexDir, exceptBid)
    val matches = pairs.groupBy(col("new_id")).agg(count(lit(1)).as("n_matches"))
    val out = baseB.select(col("doc_id"))
      .join(matches.withColumnRenamed("new_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
      .withColumn("is_dup", col("n_matches") > 0)
    (out, Seq(baseB))
  }

  /** The VERIFIED-PAIR stage shared by [[probeTextLazy]] (which counts
    * the pairs per batch doc — d30's verdict readout) and
    * [[probeTextPairs]] (which keeps them — the EDGES st25's online
    * clustering folds into its label store). Returns the un-
    * materialized `(new_id, old_id)` frame plus the batch base cache
    * the caller must unpersist. */
  private def probeTextPairsStage(s: SparkSession, batchDocs: DataFrame,
                                  indexDir: String,
                                  exceptBid: Option[Long]): (DataFrame, DataFrame) = {
    val baseB = LlmText.baseFrom(spread(batchDocs)).persist()
    val bandsB = LlmText.bandEntriesOf(s, LlmText.sigOf(s, baseB))
    val shB = LlmText.shingleSetsOf(s, baseB)
    val probe = bandsB
      .select(col("band"), col("band_key"), col("doc_id").as("new_id"))
    // stored entries are all PRE-batch ⇒ every collision is eligible;
    // intra-batch collisions add the keep-first (old < new) half —
    // together exactly d30's (not-batch OR earlier) candidate set
    val candStored = SelfJoin.on(probe,
      storeTable(s, indexDir, TextBands, exceptBid)
        .select(col("band"), col("band_key"), col("doc_id").as("old_id")),
      Seq("band", "band_key"))
    val candIntra = SelfJoin.on(probe,
      bandsB.select(col("band"), col("band_key"), col("doc_id").as("old_id")),
      Seq("band", "band_key"))
      .where(col("old_id") < col("new_id"))
    val cand = candStored.select(col("new_id"), col("old_id"))
      .union(candIntra.select(col("new_id"), col("old_id")))
      .distinct()
    // shingle lookups: batch docs resolve from the batch pass, index
    // docs from the store — keyed joins, so the union is never scanned
    // wider than the candidate list
    // explicit projection: a batch-keyed store carries the bid
    // partition column, which must not reach the unionByName
    val shAll = storeTable(s, indexDir, TextShingles, exceptBid)
      .select(col("doc_id"), col("sh"))
      .unionByName(shB.select(col("doc_id"), col("sh")))
    val ver = SelfJoin.on(
      cand, shB.select(col("doc_id").as("new_id"), col("sh").as("sh_n")), Seq("new_id"))
    val pairs = SelfJoin.on(
      ver, shAll.select(col("doc_id").as("old_id"), col("sh").as("sh_o")), Seq("old_id"))
      .where(size(array_intersect(col("sh_n"), col("sh_o"))).cast("double") /
        size(array_union(col("sh_n"), col("sh_o"))).cast("double") >= LlmText.NeardupThreshold)
      .select(col("new_id"), col("old_id"))
    (pairs, baseB)
  }

  /** A batch's verified near-dup EDGES against the stored index (plus
    * its own earlier members) — the pair form of [[probeText]]'s
    * verdicts, materialized batch-sized. These are exactly the edges
    * the one-shot d14 clustering would derive for (batch doc, earlier
    * doc) pairs, which is what makes st25's incremental labeling
    * oracle-equal to the full recompute. */
  def probeTextPairs(s: SparkSession, batchDocs: DataFrame, indexDir: String,
                     exceptBid: Option[Long] = None): DataFrame = {
    val (pairs, baseB) = probeTextPairsStage(s, batchDocs, indexDir, exceptBid)
    val materialized = pairs.pin("text-probe-pairs")
    baseB.unpersist()
    materialized
  }

  // ------------------------------------------ online cluster labels
  /** ONLINE CONNECTED-COMPONENT MAINTENANCE (st25's store) — the
    * union-find-as-log design: near-dup cluster labels must stay
    * current as documents arrive, but a label is a GLOBAL property (a
    * new doc can BRIDGE two existing clusters, relabeling every member
    * of the losing one), so naive maintenance rewrites the full label
    * table per batch. Instead the store is two append-only,
    * batch-keyed tables:
    *
    *  - `cluster_labels` (doc_id, label) — one row per doc that has
    *    ever appeared in a verified near-dup edge, stamped with the
    *    component min AS OF its batch (singletons have no row — d14's
    *    exclusion, so the readout matches the one-shot oracle shape).
    *  - `label_remaps`  (src, dst) — one row per MERGE event: when a
    *    batch bridges components, the losing labels point at the new
    *    min. Rows only ever point DOWNWARD (dst < src), so the remap
    *    graph is a forest of chains toward each component's final min.
    *
    * A batch's work ([[applyClusterBatch]]) touches only batch-sized
    * frames: probe edges, resolve the matched endpoints' CURRENT
    * labels through the (merge-event-sized) remap closure, run
    * min-label propagation on the CONTRACTED graph — nodes are the
    * batch's docs plus the distinct labels they touched, never the
    * clusters' members — and append one label partition + one remap
    * partition. Member relabeling is DEFERRED to the readout
    * ([[resolveClusterLabels]]): one remap-closure build (tiny) plus
    * one broadcast join against the label log. The full corpus is
    * never re-paired and the label table never rewritten in place.
    *
    * Why the readout equals the one-shot d14 for ANY ascending-id
    * split: the edge SET accumulated by bootstrap + probes is exactly
    * the one-shot candidate-verify edge set (stored bands hold every
    * earlier doc; intra-batch adds the keep-earlier half), components
    * of a fixed edge set are split-invariant, and the incremental min
    * is the true min by induction — a bridge's contracted component
    * {new ids} ∪ {touched label mins} contains the merged component's
    * global min. Pinned in StreamingSpec (any split + crash-replay ≡
    * d14) and by st25's oracle row (d14Sql verbatim). */
  def writeClusterBootstrap(s: SparkSession, corpusDocs: DataFrame,
                            indexDir: String): Unit = {
    writeTextIndexBatch(s, corpusDocs, indexDir, batchId = -1L)
    writeBootstrapLabels(labelsOf(selfTextEdges(s, indexDir)
      .select(col("new_id").as("doc_a"), col("old_id").as("doc_b"))), indexDir)
  }

  /** [[writeClusterBootstrap]] for the FIXTURE corpus (st25's form —
    * the [[writeServePair]] discipline): the corpus-internal edge set
    * equals the memoized d03 verified-pair store restricted to
    * corpus-side endpoints (a band collision between two corpus docs
    * does not care which other docs exist), so a warm process derives
    * the bootstrap labels from the already-materialized pair table
    * instead of re-running the candidate self-join + verify; cold runs
    * recompute through the same definitions. The band/shingle index
    * write is the honest per-corpus ingest cost either way (st13's
    * bootstrap class). */
  def writeClusterBootstrapFixture(s: SparkSession, dir: String,
                                   indexDir: String): Unit = {
    val mod = LlmText.IncrementalBatchMod
    writeTextIndexFixtureBootstrap(s, dir, indexDir,
      col("doc_id") % mod =!= 0)
    writeBootstrapLabels(bootstrapLabelsOf(s, dir), indexDir)
  }

  /** In-JVM memo of the fixture bootstrap LABELS (the corpus-subset
    * min-label components over the memoized d03 edge table) — the third
    * artifact [[writeClusterBootstrapFixture]] persists, derived once
    * per (session, dir, result levers) like the pair store it rides.
    * Keyed on the same levers as the d03 memo (they change the edges)
    * plus the batch mod. Cold runs recompute through the same
    * definitions. */
  private def bootstrapLabelsOf(s: SparkSession, dir: String): DataFrame = {
    val mod = LlmText.IncrementalBatchMod
    graft.StoredMemo.stored(s, "cluster-bootstrap-labels", dir, mod, LlmText.d03Levers(s)) {
      val edges = LlmText.d03LshNeardup(s, dir)
        .where(col("jaccard") >= LlmText.NeardupThreshold &&
          col("doc_a") % mod =!= 0 && col("doc_b") % mod =!= 0)
        .select(col("doc_a"), col("doc_b"))
      labelsOf(edges).pin("cluster-bootstrap-labels")
    }
  }

  /** Component labels (doc_id, label = component min) of an undirected
    * (doc_a, doc_b) edge set; an empty frame when there are no edges. */
  private def labelsOf(edges: DataFrame): DataFrame =
    if (edges.isEmpty)
      edges.limit(0).select(col("doc_a").cast("long").as("doc_id"),
        col("doc_a").cast("long").as("label"))
    else LlmText.minLabelComponents(edges, LlmText.MaxClusterRounds)
      .select(col("doc_id"), col("cluster_id").as("label"))

  /** The bootstrap (bid -1) partitions of the cluster store: the labels
    * and an empty remap table. */
  private def writeBootstrapLabels(labels: DataFrame, indexDir: String): Unit = {
    land(labels, indexDir, ClusterLabels, -1L)
    // an explicitly-empty remap partition so every later storeTable
    // read finds the table (merge events may only come much later)
    land(labels.limit(0).select(col("doc_id").as("src"), col("label").as("dst")),
      indexDir, LabelRemaps, -1L)
  }

  /** Corpus-INTERNAL verified near-dup pairs, derived from the stored
    * bootstrap partition itself (one band self-join + shingle verify —
    * d03's one-join form over the store instead of the fixture). */
  private def selfTextEdges(s: SparkSession, indexDir: String): DataFrame = {
    val bands = bootstrapRows(s, indexDir, TextBands)
    val sh = bootstrapRows(s, indexDir, TextShingles)
    val cand = SelfJoin.on(
        bands.select(col("band"), col("band_key"), col("doc_id").as("new_id")),
        bands.select(col("band"), col("band_key"), col("doc_id").as("old_id")),
        Seq("band", "band_key"))
      .where(col("old_id") < col("new_id"))
      .select(col("new_id"), col("old_id")).distinct()
    val ver = SelfJoin.on(
      cand, sh.select(col("doc_id").as("new_id"), col("sh").as("sh_n")), Seq("new_id"))
    SelfJoin.on(
      ver, sh.select(col("doc_id").as("old_id"), col("sh").as("sh_o")), Seq("old_id"))
      .where(size(array_intersect(col("sh_n"), col("sh_o"))).cast("double") /
        size(array_union(col("sh_n"), col("sh_o"))).cast("double") >= LlmText.NeardupThreshold)
      .select(col("new_id"), col("old_id"))
      .pin("self-text-edges")
  }

  /** The remap CLOSURE as a lookup: (src → final label), following
    * merge chains across batches to each component's current min.
    * Chains only point downward, so the closure is the component-min
    * labeling of the (tiny) remap graph. Empty-remap guard: an empty
    * frame, so `resolve` joins are no-ops. */
  private def remapClosure(s: SparkSession, indexDir: String,
                           exceptBid: Option[Long]): DataFrame = {
    val rem = storeTable(s, indexDir, LabelRemaps, exceptBid)
      .select(col("src"), col("dst"))
    if (rem.isEmpty) rem.limit(0).select(col("src"), col("dst").as("final"))
    else LlmText.minLabelComponents(
        rem.select(col("src").as("doc_a"), col("dst").as("doc_b")),
        LlmText.MaxClusterRounds)
      .select(col("doc_id").as("src"), col("cluster_id").as("final"))
  }

  /** Resolve a 1-column label frame through the remap closure. */
  private def resolveThrough(labels: DataFrame, closure: DataFrame,
                             labelCol: String): DataFrame =
    labels.join(broadcast(closure.withColumnRenamed("src", labelCol)),
        Seq(labelCol), "left")
      .withColumn(labelCol, coalesce(col("final"), col(labelCol)))
      .drop("final")

  /** Fold ONE batch of arriving documents into the cluster store:
    * probe → contract → append (see [[writeClusterBootstrap]] for the
    * design). Probe-before-append with `exceptBid` throughout, so a
    * crash-replayed batch recomputes identically and its four
    * partition overwrites (bands, shingles, labels, remaps) are
    * idempotent. */
  def applyClusterBatch(s: SparkSession, batchDocs: DataFrame, indexDir: String,
                        batchId: Long): Unit = {
    val pairs = probeTextPairs(s, batchDocs, indexDir, exceptBid = Some(batchId))
    writeTextIndexBatch(s, batchDocs, indexDir, batchId)
    if (pairs.isEmpty) {
      // nothing matched: explicit empty partitions keep the replay
      // overwrite idempotent even across a crash that wrote them
      val emptyLab = pairs.select(col("new_id").as("doc_id"), col("new_id").as("label"))
      land(emptyLab, indexDir, ClusterLabels, batchId)
      land(emptyLab.select(col("doc_id").as("src"), col("label").as("dst")),
        indexDir, LabelRemaps, batchId)
      return
    }
    val labStore = storeTable(s, indexDir, ClusterLabels, Some(batchId))
      .select(col("doc_id"), col("label"))
    val closure = remapClosure(s, indexDir, Some(batchId))
    // contract: each matched endpoint enters as its CURRENT resolved
    // label (batch members and previously-singleton store docs enter
    // as themselves — a store lookup miss resolves to the id)
    val contracted = resolveThrough(
      pairs.join(labStore.withColumnRenamed("doc_id", "old_id"), Seq("old_id"), "left")
        .select(col("new_id"), coalesce(col("label"), col("old_id")).as("node")),
      closure, "node")
      .select(col("new_id").as("doc_a"), col("node").as("doc_b"))
    val comps = LlmText.minLabelComponents(contracted, LlmText.MaxClusterRounds)
      .select(col("doc_id").as("node"), col("cluster_id").as("comp"))
    val batchIds = batchDocs.select(col("doc_id").cast("long").as("doc_id"))
    val batchNodes = comps.join(batchIds.withColumnRenamed("doc_id", "node"),
      Seq("node"), "left_semi")
    val oldNodes = comps.join(batchIds.withColumnRenamed("doc_id", "node"),
      Seq("node"), "left_anti")
    // label rows: every batch doc in an edge, plus store docs that had
    // never been labeled (previous singletons matched for the first
    // time — their node entered the contraction as their own id)
    val prevSingletons = oldNodes.join(
      labStore.withColumnRenamed("doc_id", "node"), Seq("node"), "left_anti")
    land(batchNodes.unionByName(prevSingletons)
      .select(col("node").as("doc_id"), col("comp").as("label")),
      indexDir, ClusterLabels, batchId)
    // merge events: a non-batch node whose component found a smaller
    // min was a losing label — point it at the winner
    land(oldNodes.where(col("comp") =!= col("node"))
      .select(col("node").as("src"), col("comp").as("dst")),
      indexDir, LabelRemaps, batchId)
  }

  /** The label READOUT: every labeled doc with its label resolved
    * through the accumulated merge log — st25's final answer, equal to
    * the one-shot d14 clustering over everything ingested so far. */
  def resolveClusterLabels(s: SparkSession, indexDir: String): DataFrame = {
    val closure = remapClosure(s, indexDir, None)
    resolveThrough(
      storeTable(s, indexDir, ClusterLabels, None)
        .select(col("doc_id"), col("label")),
      closure, "label")
      .select(col("doc_id"), col("label").as("cluster_id"))
      .pin("cluster-labels-resolved")
  }

  /** e09's verdicts against the STORED index: the batch assigns to the
    * stored (frozen) centroids and compares only against that cell's
    * stored members plus its own earlier batch members. No day-1 vector
    * is re-read, no centroid retrained. `exceptBid` serves the
    * crash-replay contract ([[storeTable]]). */
  def probeCells(s: SparkSession, batchVecs: DataFrame, indexDir: String,
                 exceptBid: Option[Long] = None): DataFrame =
    probeCellsLazy(s, batchVecs, indexDir, exceptBid).pin("cell-probe")

  private[graft] def probeCellsLazy(s: SparkSession, batchVecs: DataFrame,
                                    indexDir: String,
                                    exceptBid: Option[Long] = None): DataFrame = {
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.ArrayOps.longDot(s, a, b)
    val asgB = Embeddings.assignRanked(s, Embeddings.quantizedFrom(s, batchVecs),
        s.read.parquet(p(indexDir, CellCentroids)))
      .where(col("rn") === 1)
      .select(col("cell"), col("vec_id"), col("q"), col("nq"))
    val probe = asgB.select(col("cell"), col("vec_id").as("new_id"),
      col("q").as("qn"), col("nq").as("nn"))
    val stored = storeTable(s, indexDir, CellMembers, exceptBid)
      .select(col("cell"), col("vec_id").as("old_id"),
        col("q").as("qo"), col("nq").as("no"))
    val intra = asgB.select(col("cell"), col("vec_id").as("old_id"),
      col("q").as("qo"), col("nq").as("no"))
    val candStored = SelfJoin.on(probe, stored, Seq("cell"))
    val candIntra = SelfJoin.on(probe, intra, Seq("cell"))
      .where(col("old_id") < col("new_id"))
    val matches = candStored.unionByName(candIntra)
      .where(dot(col("qn"), col("qo")).cast("double") /
        (sqrt(col("nn").cast("double")) * sqrt(col("no").cast("double"))) >=
        Embeddings.CosineThreshold)
      .groupBy(col("new_id")).agg(count(lit(1)).as("n_matches"))
    asgB.select(col("cell"), col("vec_id"))
      .join(matches.withColumnRenamed("new_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("cell"), col("vec_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
      .withColumn("kept", col("n_matches") === 0)
  }

  /** Bootstrap the MEDIA half of the index at bid −1: every row's
    * 64-bit perceptual hash with its band keys — (band, band_key,
    * media_id, phash), mm06's banding verbatim
    * ([[graft.operators.Multimodal.phashBandKeys]]), so stored entries
    * and a recompute can never band differently. The phash is 8
    * bytes/row × [[graft.operators.Multimodal.PhashBands]] band rows —
    * the media payloads are never re-read after their hash lands. */
  def writeMediaIndex(s: SparkSession, docs: DataFrame, indexDir: String): Unit =
    land(mediaBandsFrom(s, docs), indexDir, MediaBands, -1L)

  private def mediaBandsFrom(s: SparkSession, docs: DataFrame): DataFrame =
    graft.operators.Multimodal.phashBandKeys(graft.operators.Multimodal.withPhash(s, docs))

  /** st16's step: mm06's verdicts for `batch` against the store as of
    * the last committed batch, then the batch's own band rows (the full
    * batch, as st13/st14). */
  def ingestMediaBatch(s: SparkSession, batch: DataFrame, indexDir: String,
                       batchId: Long): DataFrame = {
    val verdicts = probeMedia(s, batch, indexDir, exceptBid = Some(batchId))
    land(mediaBandsFrom(s, batch), indexDir, MediaBands, batchId)
    verdicts
  }

  /** mm06's near-dup verdicts for a batch against the STORED media
    * index: batch rows hash + band map-side, candidates come from the
    * bipartite band join against the store plus intra-batch keep-first
    * (old < new), the popcount verify runs on candidates only, and the
    * banding is pigeonhole-COMPLETE at the emitted radius — so verdicts
    * equal the all-pairs recompute restricted to (stored ∪ earlier
    * batch) partners. Returns the materialized batch-sized frame. */
  private def probeMedia(s: SparkSession, batchDocs: DataFrame, indexDir: String,
                         exceptBid: Option[Long]): DataFrame = {
    import graft.operators.Multimodal
    val ph = Multimodal.withPhash(s, batchDocs)
    val bandsB = Multimodal.phashBandKeys(ph)
    val probe = bandsB.select(col("band"), col("band_key"),
      col("media_id").as("new_id"), col("phash").as("ph_n"))
    val stored = storeTable(s, indexDir, MediaBands, exceptBid)
      .select(col("band"), col("band_key"),
        col("media_id").as("old_id"), col("phash").as("ph_o"))
    val intra = bandsB.select(col("band"), col("band_key"),
      col("media_id").as("old_id"), col("phash").as("ph_o"))
    val candStored = SelfJoin.on(probe, stored, Seq("band", "band_key"))
    val candIntra = SelfJoin.on(probe, intra, Seq("band", "band_key"))
      .where(col("old_id") < col("new_id"))
    val matches = candStored.unionByName(candIntra)
      .select(col("new_id"), col("old_id"), col("ph_n"), col("ph_o"))
      .distinct() // a pair may agree on several bands — count it once
      .where(bit_count(col("ph_n").bitwiseXOR(col("ph_o"))) <=
        Multimodal.PhashMaxHamming)
      .groupBy(col("new_id")).agg(count(lit(1)).as("n_matches"))
    ph.select(col("media_id"))
      .join(matches.withColumnRenamed("new_id", "media_id"), Seq("media_id"), "left")
      .select(col("media_id"), coalesce(col("n_matches"), lit(0L)).as("n_matches"))
      .withColumn("is_dup", col("n_matches") > 0)
      .pin("media-probe")
  }

  /** Freeze the DECONTAMINATION half: the benchmark suite's rare-shingle
    * list (d18's bench side — exploded (bench_id, shingle) rows with the
    * hot-shingle cap already applied, so boilerplate n-grams common
    * across many benchmark docs never enter the store and can never fan
    * a probe out). Built ONCE when the eval suite is frozen; a changed
    * benchmark is the explicit rebuild event. Eval suites are bounded by
    * construction (thousands of docs), so the stored table is
    * broadcast-sized at any corpus scale. */
  def writeBenchIndex(s: SparkSession, benchDocs: DataFrame, indexDir: String): Unit =
    benchRowsFrom(s, LlmText.shingleSetsFrom(s, spread(benchDocs)))
      .write.mode(SaveMode.Overwrite).parquet(p(indexDir, BenchShingles))

  /** The capped rare-shingle rows for a bench shingle-set frame — the
    * shared derivation of [[writeBenchIndex]] and its fixture-memo
    * twin, of schema [[BenchSchema]]. */
  private def benchRowsFrom(s: SparkSession, shingleSets: DataFrame): DataFrame = {
    val ex = shingleSets
      .select(col("doc_id").cast(LongType).as("bench_id"), explode(col("sh")).as("shingle"))
    val rare = ex.groupBy(col("shingle"))
      .agg(countDistinct(col("bench_id")).as("df"))
      .where(col("df") <= LlmText.BenchHotShingleCap)
      .select(col("shingle"))
    ex.join(broadcast(rare), Seq("shingle"))
      .select(col("bench_id"), col("shingle"))
  }

  /** The stored bench table's schema: the probes read it without a
    * schema-inference job. */
  private val BenchSchema = StructType(Seq(
    StructField("bench_id", LongType), StructField("shingle", StringType)))

  /** In-JVM memo of the fixture benchmark-shingle store (the d18 bench
    * half at the standing `doc_id % ContaminationMod = 0` sample) —
    * derived from the memoized shingle table; st17/st23's bootstraps
    * pay the parquet write warm, the recompute cold ([[writeServePair]]
    * discipline). */
  private def benchRowsOf(s: SparkSession, dir: String): DataFrame = {
    val mod = LlmText.ContaminationMod
    graft.StoredMemo.stored(s, "bench-shingle-rows", dir, mod) {
      benchRowsFrom(s,
        LlmText.shinglesOf(s, dir).where(col("doc_id") % mod === 0))
        .pin("bench-shingle-rows")
    }
  }

  /** Fixture-path twin of [[writeBenchIndex]] at the standing bench
    * sample — one memo-served parquet write warm. */
  def writeBenchIndexFixture(s: SparkSession, dir: String, indexDir: String): Unit =
    benchRowsOf(s, dir)
      .write.mode(SaveMode.Overwrite).parquet(p(indexDir, BenchShingles))

  /** d18's contamination verdicts for a batch of training docs against
    * the STORED benchmark list: batch shingles explode map-side, the
    * broadcast bench join keys on the shingle, and the per-(doc, bench)
    * distinct-shingle count applies d18's threshold. Verdicts depend
    * only on (batch doc, frozen store) — no cross-batch state — so ANY
    * micro-batch split of the training side reproduces the batch d18
    * exactly (st17's contract). Returns the lazy verdict frame: a
    * `foreachBatch` fold materializes it once, with the store it joins. */
  def probeBench(s: SparkSession, batchDocs: DataFrame, indexDir: String): DataFrame =
    verifyBench(s, batchDocs, indexDir, lit(true))

  /** The broadcast verify join of [[probeBench]] and [[probeBenchBloom]]
    * over the batch shingles that pass `prefilter`. */
  private def verifyBench(s: SparkSession, batchDocs: DataFrame, indexDir: String,
                          prefilter: Column): DataFrame = {
    val ex = LlmText.shingleSetsFrom(s, spread(batchDocs))
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .where(prefilter)
    val bench = s.read.schema(BenchSchema).parquet(p(indexDir, BenchShingles))
    ex.join(broadcast(bench), Seq("shingle"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(countDistinct(col("shingle")).as("n_shared"))
      .where(col("n_shared") >= LlmText.ContaminationMinShared)
  }

  /** Freeze the benchmark's Bloom filter beside its shingle store: the
    * sparse (widx, word, bits, k) table of
    * [[graft.functions.BloomFilter.wordsDF]] over the SAME capped rare-
    * shingle set [[writeBenchIndex]] persists — the two halves of the
    * decontamination serve pair (the bits prefilter + the exact verify
    * list). Geometry (bits, k) rides IN the store, so a probe under any
    * session conf applies the hashing the filter was built with. */
  def writeBloomIndex(s: SparkSession, benchDocs: DataFrame, indexDir: String,
                      bits: Int, k: Int): Unit =
    graft.functions.BloomFilter.wordsDF(
        benchRowsFrom(s, LlmText.shingleSetsFrom(s, spread(benchDocs)))
          .select(col("shingle")).distinct(), "shingle", bits, k)
      .write.mode(SaveMode.Overwrite).parquet(p(indexDir, BloomWords))

  /** Fixture-path twin of [[writeBloomIndex]]: the bits table of the
    * memoized bench-shingle rows (the distinct shingles of the capped
    * store ARE the filter's key set — same rows either way), itself
    * memoized per geometry, so a warm call pays only the parquet write
    * ([[benchRowsOf]]'s discipline). */
  def writeBloomIndexFixture(s: SparkSession, dir: String, indexDir: String,
                             bits: Int, k: Int): Unit =
    graft.StoredMemo.stored(s, "bloom-words", dir, LlmText.ContaminationMod, bits, k) {
      graft.functions.BloomFilter.wordsDF(
          benchRowsOf(s, dir).select(col("shingle")).distinct(), "shingle", bits, k)
        .pin("bloom-words")
    }.write.mode(SaveMode.Overwrite).parquet(p(indexDir, BloomWords))

  /** The stored Bloom table's schema, the (widx, word, bits, k) columns
    * of [[graft.functions.BloomFilter.wordsDF]]: the probe reads it
    * without a schema-inference job. */
  private[graft] val BloomSchema = StructType(Seq(
    StructField("widx", LongType), StructField("word", LongType),
    StructField("bits", IntegerType), StructField("k", IntegerType)))

  /** [[probeBench]] with the STORED Bloom filter probed map-side before
    * the exact verify join — the Bloom-join serve path (d49's streaming
    * deployment). Reading the filter is one bounded collect (≤ bits/64
    * rows — the filter, never the data); the verdicts are EXACTLY
    * [[probeBench]]'s (no false negatives; the verify join removes the
    * false positives), so st23 shares st17's oracle and its any-split
    * equivalence contract (stateless per-batch probe of a frozen store). */
  def probeBenchBloom(s: SparkSession, batchDocs: DataFrame, indexDir: String): DataFrame = {
    import graft.functions.BloomFilter
    import s.implicits._
    // geometry and words in one collect: every row carries (bits, k)
    val stored = s.read.schema(BloomSchema).parquet(p(indexDir, BloomWords))
      .as[(Long, Long, Int, Int)].collect()
    require(stored.nonEmpty, s"no bloom filter stored under $indexDir")
    val (_, _, bits, k) = stored.head
    val words = BloomFilter.dense(stored.toSeq.map(r => (r._1, r._2)), bits)
    verifyBench(s, batchDocs, indexDir,
      BloomFilter.mightContainFast(s, words, col("shingle"), bits, k))
  }
}
