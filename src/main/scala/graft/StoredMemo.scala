package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one in-JVM memo for stored-index artifacts (docs/SCALE.md,
  * round-10 section): each build/serve family materializes its index
  * artifact once per (session, name, result-changing levers) and serves
  * queries from the stored table — the single-JVM analogue of a
  * deployment persisting an index per corpus snapshot.
  *
  * Every artifact lives in ONE map keyed by `Key(app, name, parts)`:
  *
  *  1. '''Cold bypass''' ([[DisableConf]]): with
  *     `spark.graft.storedMemo.disable=true` every [[stored]] call runs
  *     its build thunk fresh — the bench's `--cold` mode, which prices
  *     build+serve per query instead of the warm serve-only path, so the
  *     stored-index discipline's build cost is MEASURED each round, not
  *     inferred (round-10 verdict item 1).
  *  2. '''Session-scoped keys''': memo values (DataFrames from
  *     `localCheckpoint`, catalog table names) are bound to the
  *     SparkSession that built them; `Key.app` is the applicationId, so
  *     a restarted or second context in the same JVM rebuilds instead of
  *     being served frames from a stopped one.
  *  3. '''Bounded memory''' ([[guard]]): each artifact name holds at
  *     most [[boundOf]] entries. A flooded name means some caller keys
  *     the memo on one-shot frames — the class of bug behind the r9 e19
  *     cold-sweep regression (store builders training THROUGH a
  *     plan-keyed memo; they call the trainers directly). The guard
  *     warns loudly and evicts only the OVERFLOW, foreign-app entries
  *     first, so hot serving keys survive a flood instead of all being
  *     rebuilt mid-sweep. The check-then-evict is deliberately
  *     non-atomic — the bound is a memory safety valve, not an
  *     invariant; dropping the strong references lets ContextCleaner
  *     free the checkpointed blocks once GC'd.
  *
  * Builds nest (the shingle table is built over the tokenized corpus,
  * the truth table over the quantized vectors), so a build never runs
  * inside `computeIfAbsent`, which forbids updating the map from its
  * own mapping function. The map holds a [[Slot]] whose lazy value is
  * built outside the map lock: one build per key under concurrency, a
  * retry after a build that throws, and the same (`eq`) value on every
  * later call.
  */
private[graft] object StoredMemo {
  /** When `true`, [[stored]] bypasses every memo and builds fresh per
    * call — the measured-cold-bench switch. */
  val DisableConf = "spark.graft.storedMemo.disable"

  def disabled(s: SparkSession): Boolean =
    s.conf.getOption(DisableConf).exists(_.trim.equalsIgnoreCase("true"))

  /** Collision-proof identifier tag for a dir, safe inside table names
    * and paths: the sanitized path keeps names readable, the MD5 prefix
    * disambiguates dirs that sanitize identically (`a/b` vs `a_b`) —
    * unlike `math.abs(dir.hashCode)`, which is still negative at
    * Int.MinValue and silently aliases two dirs on a 32-bit collision
    * (the second dir's table overwrites the first's and the stale memo
    * then serves wrong data). */
  def dirTag(dir: String): String = {
    val sane = dir.replaceAll("[^A-Za-z0-9]+", "_")
      .replaceAll("^_+|_+$", "").takeRight(40)
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = md5.take(4).map(b => f"$b%02x").mkString
    s"${sane}_$hex"
  }

  /** `parts` are the artifact's inputs: its dir (or the canonicalized
    * plans it was built from) and every result-changing lever. */
  private final case class Key(app: String, name: String, parts: Seq[Any])

  private final class Slot(build: => Any) {
    lazy val value: Any = build
  }

  private val memo = new java.util.concurrent.ConcurrentHashMap[Key, Slot]()

  /** The four canonical-plan-keyed PQ/SQ families: every distinct
    * derived frame that reaches them is a key, so they get more room. */
  private val PlanKeyed = Set("pq-codebooks", "pq-codes", "sq-lohi", "sq-codes")

  private[graft] def boundOf(name: String): Int = if (PlanKeyed(name)) 64 else 16

  /** Memoize-or-bypass: the one entry point every stored-index family
    * routes through. Store builders (persisted-parquet trainers) must
    * NOT call this — their store is their memo. */
  def stored[V](s: SparkSession, name: String, parts: Any*)(build: => V): V =
    if (disabled(s)) build
    else {
      val key = Key(s.sparkContext.applicationId, name, parts)
      val slot = memo.computeIfAbsent(key, _ => new Slot(build))
      // guard AFTER the insert so the name steady-states at its bound,
      // not bound+1; the just-inserted key is a live-session key, so the
      // victim preference below never picks it while foreign keys exist
      guard(name, key.app)
      try slot.value.asInstanceOf[V]
      catch { case e: Throwable => memo.remove(key, slot); throw e }
    }

  /** Evict `name`'s entries down to its bound. Victim preference makes
    * the "hot keys survive a flood" property hold instead of relying on
    * hash-iteration luck: entries of another application (dead-context
    * leftovers) go first; only if the overflow is entirely live-session
    * keys does eviction fall back to arbitrary victims (at that point
    * nothing distinguishes hot from flood, and the safety valve still
    * bounds memory). */
  private[graft] def guard(name: String, liveApp: String): Unit = {
    val bound = boundOf(name)
    def count: Int = { var n = 0; memo.keySet().forEach(k => if (k.name == name) n += 1); n }
    if (count > bound) {
      System.err.println(
        s"[graft] stored-index memo '$name' exceeded $bound entries — " +
          "evicting overflow; a flood here means some caller keys the memo " +
          "on one-shot frames (store builds must call the trainers directly)")
      var excess = count - bound
      def evictWhere(victim: Key => Boolean): Unit = {
        val it = memo.keySet().iterator()
        while (excess > 0 && it.hasNext) {
          val k = it.next()
          if (k.name == name && victim(k)) { it.remove(); excess -= 1 }
        }
      }
      evictWhere(_.app != liveApp)
      evictWhere(_ => true)
    }
  }

  /** Test hook: the entries held for `name`, as (app, parts). */
  private[graft] def entries(name: String): Seq[(String, Seq[Any])] = {
    import scala.jdk.CollectionConverters._
    memo.keySet().asScala.toSeq.filter(_.name == name).map(k => (k.app, k.parts))
  }

  /** Test hook: plant an already-built entry, e.g. one left behind by
    * another application. */
  private[graft] def seed(app: String, name: String, parts: Seq[Any], value: Any): Unit =
    memo.put(Key(app, name, parts), new Slot(value))

  /** Release a frame's stored blocks now. `Dataset.unpersist()` only
    * drops a CacheManager entry; a `localCheckpoint`ed frame's blocks
    * belong to the checkpointed RDD that `checkpoint` wraps in a
    * `LogicalRDD` leaf, so that RDD is unpersisted too. Only for frames
    * nothing will read again: a later read of a released checkpoint
    * fails with a missing checkpoint block. */
  def release(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist()
      case _ =>
    }
  }
}
