package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Portable._

/** Multimodal-column plumbing: media as opaque `binary` content with
  * typed metadata, chunk/frame sampling, and feature extraction. The
  * image/audio codecs are NOT in this library, so header parsing,
  * feature extraction and resizing are clearly-marked deterministic
  * STUBs (mm01, mm03, mm04) — what is real and tested is everything
  * Spark-side: the binary column representation, the schema, and the
  * frame/feature plumbing. Content is derived from `documents.text`
  * bytes so every stage is reproducible and oracle-checkable.
  *
  * Scale notes: media blobs stay opaque binary all the way through the
  * scan (no decode before the filter); frame sampling is a map-side
  * generator (sequence + explode), so a 100 TB media table fans out
  * without a shuffle.
  */
object Multimodal {

  /** media_id + media_type + binary content + deterministic metadata. */
  def media(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
      encode(col("text"), "UTF-8").as("content"),
      col("n_chars").as("byte_len"))

  // ---------------------------------------------------------------- mm01
  /** Typed metadata per media row: dimensions/duration derived
    * deterministically from the content hash (the STUB for header
    * parsing — a real decoder reads these from the container format). */
  def mm01MediaMeta(s: SparkSession, dir: String): DataFrame =
    media(s, dir)
      .withColumn("h", h64(col("media_id")))
      .select(
        col("media_id"), col("media_type"), col("byte_len"),
        octet_length(col("content")).as("content_bytes"),
        when(col("media_type") === "image", lit(16) + (col("h") % 64) * 16).otherwise(lit(null).cast("bigint")).as("width"),
        when(col("media_type") === "image", lit(16) + (col("h") % 48) * 16).otherwise(lit(null).cast("bigint")).as("height"),
        when(col("media_type") =!= "image", (col("h") % 300000) + 1000).otherwise(lit(null).cast("bigint")).as("duration_ms"))

  val mm01Sql: String = {
    val h = h64Sql("doc_id")
    s"""SELECT doc_id AS media_id,
       |  (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
       |  n_chars AS byte_len,
       |  octet_length(encode(text)) AS content_bytes,
       |  CASE WHEN doc_id % 3 = 0 THEN 16 + ($h % 64) * 16 ELSE NULL END AS width,
       |  CASE WHEN doc_id % 3 = 0 THEN 16 + ($h % 48) * 16 ELSE NULL END AS height,
       |  CASE WHEN doc_id % 3 <> 0 THEN ($h % 300000) + 1000 ELSE NULL END AS duration_ms
       |FROM documents""".stripMargin
  }

  // ---------------------------------------------------------------- mm02
  /** Frame/chunk sampling: fixed-stride chunks of the content with a
    * per-frame content hash — the video-frame-extraction shape (generator
    * fan-out, no shuffle; each frame row carries provenance). Chunking
    * runs on the text (DuckDB cannot substring blobs), which carries the
    * identical byte content for this corpus. */
  val FrameStride = 64

  def mm02FrameSample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id").as("media_id"), col("text"), col("n_chars"))
      // greatest(...,0): for n_chars=0 Spark's `div` truncates (-1 div 64
      // = 0) while DuckDB's `//` floors (= -1, emitting nothing) — the
      // floor makes empty media emit ONE empty frame on both engines
      .withColumn("frame_idx",
        explode(sequence(lit(0), expr(s"greatest((n_chars - 1) div $FrameStride, 0)"))))
      .select(
        col("media_id"), col("frame_idx"),
        // substring with a column start position needs the SQL form
        expr(s"md5(substring(text, CAST(frame_idx * $FrameStride + 1 AS INT), $FrameStride))")
          .as("frame_hash"))

  val mm02Sql: String =
    s"""WITH fr AS (
       |  SELECT doc_id, text, unnest(generate_series(0, greatest((n_chars - 1) // $FrameStride, 0))) AS i
       |  FROM documents
       |)
       |SELECT doc_id AS media_id, i AS frame_idx,
       |  md5(substring(text, CAST(i * $FrameStride + 1 AS INT), $FrameStride)) AS frame_hash
       |FROM fr""".stripMargin

  // ---------------------------------------------------------------- mm03
  /** Feature-extraction STUB: 8 deterministic pseudo-features per media
    * row derived from the content hash — stands in for an embedding
    * model; the schema/batch shape is what production swaps onto. */
  val NumFeatures = 8

  def mm03FeatureStub(s: SparkSession, dir: String): DataFrame = {
    val withMd5 = media(s, dir).withColumn("m", md5(col("content")))
    val feats = (0 until NumFeatures).map { j =>
      ((h64(concat(col("m"), lit(s"|$j"))) % 1000).cast("double") / 1000.0).as(s"f$j")
    }
    withMd5.select(col("media_id") +: feats: _*)
  }

  val mm03Sql: String = {
    // DuckDB's md5 takes VARCHAR; hashing the text hashes the same UTF-8
    // bytes Spark's md5(binary content) sees
    val feats = (0 until NumFeatures).map { j =>
      s"CAST(${h64Sql(s"md5(text) || '|$j'")} % 1000 AS DOUBLE) / 1000.0 AS f$j"
    }.mkString(",\n  ")
    s"""SELECT doc_id AS media_id,
       |  $feats
       |FROM documents""".stripMargin
  }

  // ---------------------------------------------------------------- mm04
  /** Resize/thumbnail STUB: target dimensions scale down proportionally
    * (capped at 64px on the long edge) and the "resized payload" is a
    * deterministic content reduction — a real image library would swap in
    * at the marked expression; the schema (orig/new dims + resized-bytes
    * hash) and the map-only plumbing are the real part. */
  def mm04ResizeStub(s: SparkSession, dir: String): DataFrame =
    mm01MediaMeta(s, dir)
      .where(col("media_type") === "image")
      .join(Tables.documents(s, dir).select(col("doc_id").as("media_id"), col("text")), Seq("media_id"))
      .select(
        col("media_id"), col("width"), col("height"),
        least(col("width"), lit(64L)).as("new_width"),
        // Spark's `/` on longs yields DOUBLE; integer div keeps both
        // engines in exact integer arithmetic
        expr("greatest(CAST(1 AS BIGINT), (height * least(width, CAST(64 AS BIGINT))) div width)")
          .as("new_height"),
        // STUB: stands in for the decoded-resized-reencoded payload
        md5(substring(col("text"), 1, 64)).as("resized_hash"))

  val mm04Sql: String = {
    val h = h64Sql("doc_id")
    s"""WITH meta AS (
       |  SELECT doc_id AS media_id, text,
       |    16 + ($h % 64) * 16 AS width,
       |    16 + ($h % 48) * 16 AS height
       |  FROM documents WHERE doc_id % 3 = 0
       |)
       |SELECT media_id, width, height,
       |  least(width, 64) AS new_width,
       |  greatest(1, (height * least(width, 64)) // width) AS new_height,
       |  md5(substring(text, 1, 64)) AS resized_hash
       |FROM meta""".stripMargin
  }

  // ---------------------------------------------------------------- mm05
  /** REAL-file media ingestion via the `binaryFile` source: every file
    * of the dataset directory arrives as one row of (path, length,
    * binary content) — the ingestion path a media corpus takes before
    * any of the mm01–mm04 processing, exercised here on the fixture's
    * own parquet files (the only real files guaranteed present). The
    * oracle reads the same files with DuckDB's `read_blob`; blob
    * hashing differs across engines, so the oracle-compared projection
    * is (file_name, n_bytes) and the content bytes are pinned by
    * MultimodalSpec (PAR1 magic + length == content size).
    *
    * Scale notes: binary files are non-splittable — one row per file,
    * partition packing governed by `spark.sql.files.maxPartitionBytes`;
    * the blob stays opaque through the scan, and a `pathGlobFilter` /
    * partition-dir layout prunes at the listing, not after read.
    *
    * The oracle must read the SAME directory the query is handed, but
    * oracle SQL is a static string — so the path is a `__SF_DIR__`
    * placeholder that [[graft.Verify]] templates with its sfDir argument
    * at dump time (a hardcoded fixture path would silently compare
    * against the wrong files at any other scale factor). */
  def mm05BinaryIngest(s: SparkSession, dir: String): DataFrame =
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.parquet")
      .load(dir)
      .select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("file_name"),
        col("length").as("n_bytes"))

  val mm05Sql: String =
    """SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
      |  CAST(size AS BIGINT) AS n_bytes
      |FROM read_blob('__SF_DIR__/*.parquet')""".stripMargin

  // ---------------------------------------------------------------- mm06
  /** Perceptual-hash media NEAR-dedup — the aHash recipe (sample a fixed
    * grid of the decoded payload, threshold each sample to a bit, compare
    * hashes by Hamming distance) applied to the media content: 64 bits,
    * each sampled at a length-proportional stride so re-encodes that
    * shift absolute offsets but preserve relative structure still
    * collide. The SAMPLING step stands in for decode-then-downscale
    * (codecs aren't in this environment — the mm01–mm04 stub discipline;
    * sampling runs on the text, which carries the identical byte content
    * for this corpus, because DuckDB cannot substring blobs); the hash /
    * band / candidate-join / verify machinery is the real, scale-ready
    * part.
    *
    * Candidate generation is d26's COMPLETE banding: [[PhashBands]]
    * bands of 16 bits — any pair within Hamming ≤ [[PhashBands]]−1 must
    * agree on a whole band (pigeonhole), so the band equi-join loses no
    * recall at the emitted threshold. Same scale shape as d26/d03:
    * map-only hash, posexplode ×4, ONE strategy-gated band self-join,
    * popcount verify on candidates only — never all-pairs. */
  final val PhashBands = 4
  /** Pigeonhole-complete radius for 4×16-bit bands. */
  final val PhashMaxHamming: Int = PhashBands - 1
  private final val PhashStrideDiv = 64

  /** The 64-bit hash column: the fused native
    * [[graft.functions.PHash64Expr]] (one compiled scan per row) when the
    * graft extensions are registered, else the composed-expression twin —
    * the 64 sampled-parity bits materialized ONCE as an array column,
    * folded into the packed long bitwise (shift-or, overflow-free under
    * ANSI). Bit j = parity of the code point at 0-based character
    * position j·stride — the stand-in for "pixel j brighter than the
    * block mean". An earlier cut unrolled all 64 samples into inline
    * per-band sums: the generated Java grew past Janino's 64 KB method
    * limit (every run paid a failed codegen compile, then interpreted
    * evaluation), and a HOF re-slicing `bits` per band re-evaluated the
    * 64 dynamic substrs 4× per row — ~19 s at sf0.1 for a map-only
    * projection. The native loop prices it like the d05 fuse. */
  private[graft] def withPhash(s: SparkSession, docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id").as("media_id"), col("text"),
      greatest(lit(1L), expr(s"length(text) div $PhashStrideDiv")).as("st"))
    if (s.catalog.functionExists(graft.functions.PHash64Expr.Name))
      src.select(col("media_id"),
        call_function(graft.functions.PHash64Expr.Name,
          coalesce(col("text"), lit("")), col("st")).as("phash"))
    else phashComposed(src)
  }

  private def phashComposed(src: DataFrame): DataFrame = {
    val bits = transform(sequence(lit(0), lit(PhashBands * 16 - 1)),
      j => when(j * col("st") + 1 <= length(col("text")),
        ascii(call_function("substr", col("text"),
          (j * col("st") + 1).cast("int"), lit(1))) % 2)
        .otherwise(lit(0)).cast("long"))
    src.select(col("media_id"), bits.as("bits"))
      .select(col("media_id"),
        aggregate(reverse(col("bits")), lit(0L),
          (acc, x) => shiftleft(acc, 1).bitwiseOR(x)).as("phash"))
  }

  /** (band, band_key, media_id, phash) rows — d26's shift-mask band
    * derivation off the packed long; shared with the persisted media
    * index ([[graft.jobs.IncrementalIndex]]) so a stored index and a
    * recompute can never disagree on the banding. */
  private[graft] def phashBandKeys(ph: DataFrame): DataFrame = {
    val bandWidth = 64 / PhashBands
    val mask = (1L << bandWidth) - 1
    ph.select(col("media_id"), col("phash"),
      posexplode(array((0 until PhashBands).map(i =>
        shiftright(col("phash"), i * bandWidth).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "band_key")))
  }

  def mm06PhashNeardup(s: SparkSession, dir: String): DataFrame = {
    val bandKeys = phashBandKeys(withPhash(s, Tables.documents(s, dir)))
    val a = bandKeys.select(col("band"), col("band_key"),
      col("media_id").as("id_a"), col("phash").as("ph_a"))
    val bSide = bandKeys.select(col("band"), col("band_key"),
      col("media_id").as("id_b"), col("phash").as("ph_b"))
    SelfJoin.on(a, bSide, Seq("band", "band_key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("long").as("hamming"))
      .where(col("hamming") <= PhashMaxHamming)
      .distinct()
  }

  /** The hash exactly as [[mm06PhashNeardup]] computes it (native when
    * registered) — exposed for the native-vs-composed pin. */
  private[graft] def withPhashForTest(s: SparkSession, dir: String): DataFrame =
    withPhash(s, Tables.documents(s, dir))

  /** Extension-less twin of [[mm06PhashNeardup]]'s hash for the
    * native-vs-composed pin in MultimodalSpec. */
  private[graft] def phashFallback(s: SparkSession, dir: String): DataFrame =
    phashComposed(Tables.documents(s, dir)
      .select(col("doc_id").as("media_id"), col("text"),
        greatest(lit(1L), expr(s"length(text) div $PhashStrideDiv")).as("st")))

  val mm06Sql: String = {
    def bitSql(j: Int): String =
      s"(CASE WHEN $j*st+1 <= length(text) THEN ascii(substr(text, CAST($j*st+1 AS INT), 1)) % 2 ELSE 0 END)"
    val bandsSql = (0 until PhashBands).map { b =>
      "CAST(" + (0 until 16).map(k => s"${bitSql(16 * b + k)} * ${1L << k}")
        .mkString(" + ") + " AS BIGINT)"
    }.mkString("[", ", ", "]")
    s"""WITH ph AS (
       |  SELECT media_id, $bandsSql AS bands
       |  FROM (SELECT doc_id AS media_id, text,
       |          greatest(1, length(text) // $PhashStrideDiv) AS st
       |        FROM documents) t
       |), bx AS (
       |  SELECT media_id, bands, unnest(generate_series(1, $PhashBands)) AS b FROM ph
       |), cnd AS (
       |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
       |    a.bands AS ab, b.bands AS bb
       |  FROM bx a JOIN bx b
       |    ON a.b = b.b AND a.bands[a.b] = b.bands[b.b] AND a.media_id < b.media_id
       |)
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT id_a, id_b, CAST(${(1 to PhashBands).map(i =>
            s"bit_count(xor(ab[$i], bb[$i]))").mkString(" + ")} AS BIGINT) AS hamming
       |  FROM cnd) h
       |WHERE hamming <= $PhashMaxHamming""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm01_media_meta" -> (mm01MediaMeta _),
    "mm02_frame_sample" -> (mm02FrameSample _),
    "mm03_feature_stub" -> (mm03FeatureStub _),
    "mm04_resize_stub" -> (mm04ResizeStub _),
    "mm05_binary_ingest" -> (mm05BinaryIngest _),
    "mm06_phash_neardup" -> (mm06PhashNeardup _))

  val oracleSql: Map[String, String] = Map(
    "mm01_media_meta" -> mm01Sql,
    "mm02_frame_sample" -> mm02Sql,
    "mm03_feature_stub" -> mm03Sql,
    "mm04_resize_stub" -> mm04Sql,
    "mm05_binary_ingest" -> mm05Sql,
    "mm06_phash_neardup" -> mm06Sql)
}
