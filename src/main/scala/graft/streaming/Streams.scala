package graft.streaming

import graft.StoredMemo.Pinning
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Structured-Streaming plumbing shared by the ad-analytics suite
  * (SURVEY ST1–ST9). Streams are file-source reads over the driver
  * parquet fixtures run with `Trigger.AvailableNow` — deterministic and
  * offline, which is what makes streaming results oracle-checkable: the
  * final state of an AvailableNow run over a static input equals the
  * batch aggregate over the same input. Kafka would swap in via
  * `readStream.format("kafka")` with the identical downstream plan
  * (SURVEY S5); unit tests use MemoryStream for multi-batch behavior.
  *
  * Every query runs through ONE runner ([[drain]]): a `foreachBatch`
  * fold into a running store, materialized per batch by
  * `localCheckpoint` ([[StoreFold]]). The complete/append runners are
  * that fold with "the batch replaces the store" / "union" merges —
  * `foreachBatch` as the general sink (Structured Streaming, SIGMOD
  * 2018) — so no temp view or cached store outlives a query. A merge
  * with a side effect (an index append) returns the store unchanged.
  */
object Streams {

  case class EventRow(event_id: Long, ts: Long, user_id: Long,
                      event_type: String, value: Double, props: String)

  /** Kafka source surface (SURVEY S5: AdverStat.scala:33-49 — the
    * reference's `commerce-consumer-group` direct stream of ad-log text
    * lines). Downstream plans are identical to the file-source path:
    * parse with `split` (st01) and aggregate. NOT exercisable in this
    * environment (no Kafka jars / broker, zero egress) — calling start()
    * would fail to load the provider; the method documents the swap-in. */
  def kafkaLines(s: SparkSession, brokers: String, topic: String): DataFrame =
    s.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .load()
      .selectExpr("CAST(value AS STRING) AS value")

  /** Streaming read of a fixture parquet table, with the batch reader's
    * schema ([[graft.Tables.schemaOf]]) and `ts` contract. The file
    * source only accepts directories, so a single-file input is exposed
    * through a symlink in a temp directory, made once per (dir, name)
    * and kept for the JVM's life. */
  private val streamDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  def tableStream(s: SparkSession, dir: String, name: String): DataFrame = {
    val src = s"$dir/$name.parquet"
    val d = streamDirs.computeIfAbsent(s"$dir/$name", _ => {
      val t = Files.createTempDirectory(s"graft-stream-$name-")
      Files.createSymbolicLink(t.resolve(s"$name.parquet"), java.nio.file.Paths.get(src))
      t
    })
    graft.Tables.normalizeTs(
      s.readStream.schema(graft.Tables.schemaOf(s, src)).parquet(d.toString))
  }

  /** Best-effort recursive delete of a finished query's checkpoint —
    * session-lifetime accumulation otherwise (one dir per run) — or of
    * a streaming query's temp index store. */
  private[graft] def dropDir(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (Files.exists(root)) {
      val it = Files.walk(root).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      try it.forEach(p => { Files.deleteIfExists(p); () })
      finally it.close()
    }
  }

  /** Run `body` against a fresh temp directory and drop the directory
    * afterwards — a query's checkpoint, or a streaming ingest's index
    * store. Whatever `body` returns must not read lazily from the dir. */
  private[graft] def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix).toString
    try body(dir) finally dropDir(dir)
  }

  /** The per-query child session every streaming runner builds its
    * frame on (`newSession`: same SparkContext and shared state, its
    * own SQL conf and catalog). It carries the parent's runtime conf,
    * except that its shuffle partitions, and so the state stores per
    * stateful operator, are `spark.graft.streaming.statePartitions`
    * (default 4): each store pays a delta-file commit per micro-batch
    * however few rows it holds, so on a real cluster set it to a small
    * multiple of the executor count. Results do not depend on it.
    *
    * A child rather than a set/restore window on the caller's conf, so
    * a concurrent query on the shared session cannot plan with, or
    * restore to, the wrong count; runners therefore build the frame
    * against the child (a query reads the conf of the session its
    * frame was resolved on). The child runs its tasks under the
    * parent's executor class loader ([[graft.jobs.Jobs.SessionConf]]),
    * so it reuses every class already compiled for the parent. */
  private def streamSession(s: SparkSession): SparkSession = {
    val child = s.newSession()
    // newSession inherits builder-time options but NOT runtime-set conf
    // (tests and jobs set graft levers at runtime) — copy those over.
    // Static confs throw on set and are already shared via the context.
    s.conf.getAll.foreach { case (k, v) =>
      try child.conf.set(k, v) catch { case _: Exception => () }
    }
    child.conf.set("spark.sql.shuffle.partitions", graft.ExtraConf.intLever(s,
      "spark.graft.streaming.statePartitions", 4, min = 1).toString)
    child
  }

  /** The one runner every streaming query drains through: build the
    * frame on a per-query child session ([[streamSession]]) — `build`
    * must construct the WHOLE streaming frame, sources and any static
    * join sides, against the session it is given — run it with
    * `Trigger.AvailableNow` (ST1) and a checkpoint (ST2), fold each
    * micro-batch into a running store in the one `foreachBatch`
    * callback ([[StoreFold]]), and return the final store.
    * `initialStore` receives the built frame, so a runner can start
    * from an empty frame of the stream's own schema. The checkpoint
    * is a temp directory, dropped when the query finishes. */
  private def drain(s: SparkSession, outputMode: String)(
      build: SparkSession => DataFrame)(
      initialStore: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame, Long) => DataFrame): DataFrame =
    withTempDir("graft-ckpt-") { cp =>
      val stream = build(streamSession(s))
      val fold = new StoreFold(initialStore(stream), merge)
      stream.writeStream
        .outputMode(outputMode)
        .foreachBatch { (batch: DataFrame, id: Long) => fold(batch, id) }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", cp)
        .start()
        .awaitTermination()
      fold.store
    }

  private def emptyOf(stream: DataFrame): DataFrame =
    stream.sparkSession.createDataFrame(java.util.Collections.emptyList[Row](), stream.schema)

  /** Run an AvailableNow streaming aggregation in complete mode and
    * return its final table: every batch of a complete-mode query is
    * the whole result, so it replaces the store. */
  def runComplete(s: SparkSession)(build: SparkSession => DataFrame): DataFrame =
    drain(s, "complete")(build)(emptyOf, (_, batch, _) => batch)

  /** Append-mode twin of [[runComplete]] — for operators that only
    * support append output (stream-stream joins, watermark-finalized
    * aggregations): the batches' rows accumulate by union. */
  def runAppend(s: SparkSession)(build: SparkSession => DataFrame): DataFrame =
    drain(s, "append")(build)(emptyOf, (store, batch, _) => store.union(batch))

  /** Run an AvailableNow stream through `foreachBatch`, folding each
    * micro-batch into a running store via `merge(store, batch, batchId)`
    * (one of the [[graft.etl.Upsert]] semantics, or one of
    * [[graft.jobs.IncrementalIndex]]'s per-batch index steps). The batch
    * id keys the step's `bid=<id>` partition: offsets commit AFTER the
    * callback, so a replayed batch arrives with the SAME id and
    * overwrites its own partition (crash-replay pinned in
    * StreamingSpec). Returns the final store. */
  def runForeachBatch(
      s: SparkSession,
      outputMode: String,
      initialStore: DataFrame)(
      build: SparkSession => DataFrame)(
      merge: (DataFrame, DataFrame, Long) => DataFrame): DataFrame =
    drain(s, outputMode)(build)(_ => initialStore, merge)

  /** The running store of a [[drain]] and its one materialization rule:
    * each merged store is `localCheckpoint`-ed before the callback
    * returns (a batch frame must not escape its `foreachBatch`
    * invocation unmaterialized), which also cuts the union/anti-join
    * lineage the merges build up — the store's plan is one leaf however
    * many batches a 24/7 deployment folds (pinned in StreamingSpec over
    * ~50 batches; a cluster deployment would use reliable checkpoints).
    * The previous store's blocks are released
    * ([[graft.StoredMemo.release]]) and nothing enters the CacheManager.
    * A merge that returns the store unchanged costs nothing. */
  private[graft] final class StoreFold(
      initialStore: DataFrame,
      merge: (DataFrame, DataFrame, Long) => DataFrame) {
    @volatile private[graft] var store: DataFrame = initialStore

    def apply(batch: DataFrame, id: Long): Unit = synchronized {
      val merged = merge(store, batch, id)
      if (merged ne store) {
        val cut = merged.pin("stream-store")
        // safe to release the previous store: the new one is
        // materialized above, so nothing recomputes through the old one
        if (store ne initialStore) graft.StoredMemo.release(store)
        store = cut
      }
    }
  }
}
