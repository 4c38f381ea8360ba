package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Readers for the driver-provided parquet tables (TESTDATA.md).
  *
  * Every reader is a plain parquet scan, so predicate pushdown and
  * column pruning apply to whatever the caller chains on top, and
  * nothing assumes single-file inputs. Each input's schema is resolved
  * once per file identity ([[parquet]]).
  */
object Tables {
  private def p(dir: String, name: String): String = s"$dir/$name.parquet"

  def region(s: SparkSession, dir: String): DataFrame     = parquet(s, p(dir, "region"))
  def nation(s: SparkSession, dir: String): DataFrame     = parquet(s, p(dir, "nation"))
  def customer(s: SparkSession, dir: String): DataFrame   = parquet(s, p(dir, "customer"))
  def supplier(s: SparkSession, dir: String): DataFrame   = parquet(s, p(dir, "supplier"))
  def part(s: SparkSession, dir: String): DataFrame       = parquet(s, p(dir, "part"))
  def orders(s: SparkSession, dir: String): DataFrame     = parquet(s, p(dir, "orders"))
  def lineitem(s: SparkSession, dir: String): DataFrame   = parquet(s, p(dir, "lineitem"))
  def documents(s: SparkSession, dir: String): DataFrame  = parquet(s, p(dir, "documents"))
  def embeddings(s: SparkSession, dir: String): DataFrame = parquet(s, p(dir, "embeddings"))

  /** A parquet input read with its remembered schema: Spark infers a
    * schema for a read without one by running a job over the footers,
    * so only the first read of an input pays that. */
  def parquet(s: SparkSession, path: String): DataFrame =
    s.read.schema(schemaOf(s, path)).parquet(path)

  /** Session confs that change the schema Spark infers from the same
    * files. */
  private val InferConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  /** path -> (identity, schema); one entry per path. */
  private val schemas = new ConcurrentHashMap[String, (AnyRef, StructType)]()

  /** The schema Spark infers for `path` under `s`'s confs, inferred
    * again only when the identity changes: the (path, length,
    * modification time) of every file under `path`, from one listing,
    * plus the values of [[InferConfs]]. A rewritten file is therefore
    * resolved again. */
  private[graft] def schemaOf(s: SparkSession, path: String): StructType = {
    val id = identityOf(s, path)
    schemas.get(path) match {
      case (`id`, schema) => schema
      case _ =>
        val schema = s.read.parquet(path).schema
        schemas.put(path, (id, schema))
        schema
    }
  }

  private def identityOf(s: SparkSession, path: String): AnyRef = {
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    // listStatus, not listFiles: a located status reads the permissions,
    // which the local file system gets by forking `ls` per file
    def files(p: Path): Seq[(String, Long, Long)] = fs.listStatus(p).toSeq.flatMap { f =>
      if (f.isDirectory) files(f.getPath)
      else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    (files(root), InferConfs.map(s.conf.getOption))
  }

  /** `events` with `ts` as LongType epoch nanos, whatever the file's
    * physical timestamp type ([[normalizeTs]]). Reading INT64/NANOS as a
    * long needs `spark.sql.legacy.parquet.nanosAsLong=true`, and a
    * MICROS column reads as TimestampType under
    * `inferTimestampNTZ.enabled=false`: entry points set both through
    * [[jobs.Jobs.configure]], never this reader. Pinned for both
    * physical variants in TablesSpec. */
  def events(s: SparkSession, dir: String): DataFrame =
    normalizeTs(parquet(s, p(dir, "events")))

  /** Normalize a `ts` column to LongType epoch nanos, bit-exact with
    * the oracle's `epoch_ns(ts)`. A pure projection, so it applies to
    * streaming frames too; a no-op when `ts` is absent or already Long. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case None | Some(LongType) => df
      case Some(TimestampType) =>
        df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case Some(TimestampNTZType) =>
        // NTZ→TZ cast applies the session time zone; graft sessions pin
        // UTC, making the cast a micros-identity (the same wall-clock
        // DuckDB reads via epoch_ns on the tz-less file).
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case Some(other) =>
        throw new IllegalStateException(
          s"ts: unsupported physical type $other — expected LongType (nanos) or Timestamp(NTZ)Type")
    }
  }

  /** The same input as an EXTERNAL parquet table in the session catalog,
    * read back through `spark.table`: the scan resolves to the same
    * parquet relation as the path read (pinned in CatalogSpec), and the
    * catalog holds the schema, created from [[schemaOf]] so no footer is
    * read again. The table is dropped and created again only when it is
    * missing or points elsewhere (one session switching fixture dirs);
    * otherwise the catalog entry and its resolved relation are reused,
    * so a file rewritten in place needs `REFRESH TABLE`, as for any
    * catalog table. */
  def catalogTable(s: SparkSession, dir: String, name: String): DataFrame = {
    val tbl = s"${name}_cat"
    val path = p(dir, name)
    val catalog = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.catalog
    val id = org.apache.spark.sql.catalyst.TableIdentifier(tbl)
    val location = new Path(path)
    val current = catalog.tableExists(id) && catalog.getTableMetadata(id).location ==
      location.getFileSystem(s.sparkContext.hadoopConfiguration).makeQualified(location).toUri
    if (!current) {
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.catalog.createTable(tbl, "parquet", schemaOf(s, path), Map("path" -> path))
    }
    s.table(tbl)
  }

  /** Round-robin repartition only when the input yields fewer partitions
    * than the session parallelism: a single-file input would otherwise
    * serialize every map stage, while a wide scan needs no extra shuffle.
    * Planning the scan to count its partitions costs 0.2-0.5 s, so the
    * keyed overload remembers the decision per (key, parallelism); the
    * key must name an input that does not change within the JVM. */
  private val narrowCache = new ConcurrentHashMap[String, java.lang.Boolean]()

  def spreadIfNarrow(df: DataFrame): DataFrame = spread(df, None)

  def spreadIfNarrow(df: DataFrame, cacheKey: String): DataFrame =
    spread(df, Some(cacheKey))

  private def spread(df: DataFrame, key: Option[String]): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    def probe: java.lang.Boolean = df.queryExecution.toRdd.getNumPartitions < target
    val narrow = key match {
      case Some(k) => narrowCache.computeIfAbsent(s"$k@$target", _ => probe)
      case None    => probe
    }
    if (narrow) df.repartition(target) else df
  }
}
