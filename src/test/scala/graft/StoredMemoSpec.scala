package graft

import org.scalatest.funsuite.AnyFunSuite

/** The stored-index memo machinery: the one memo map (session-scoped
  * keys, per-name overflow guard with partial eviction so hot serving
  * keys survive a one-shot-key flood — the r9 e19 regression class),
  * cold bypass ([[StoredMemo.DisableConf]] — the measured-cold-bench
  * switch), builds that nest or race, collision-proof dir tags, and
  * [[StoredMemo.release]] actually dropping checkpointed blocks.
  */
class StoredMemoSpec extends AnyFunSuite {

  private def spark = SparkTestBase.spark
  private def app = spark.sparkContext.applicationId

  /** Plant `n` built entries under `name` for `owner` (parts = i). */
  private def seedN(name: String, owner: String, range: Range): Unit =
    range.foreach(i => StoredMemo.seed(owner, name, Seq(i), s"v$i"))

  test("guard leaves a within-bound memo untouched") {
    seedN("spec-within", app, 1 to 16)
    StoredMemo.guard("spec-within", app)
    assert(StoredMemo.entries("spec-within").size === 16)
  }

  test("guard evicts only the overflow, not the whole memo") {
    seedN("spec-overflow", app, 1 to 20)
    StoredMemo.guard("spec-overflow", app)
    assert(StoredMemo.entries("spec-overflow").size === 16,
      "guard must evict down to the bound, not clear every hot key")
    // and the next call simply rebuilds an evicted entry
    assert(StoredMemo.stored(spark, "spec-overflow", 999)("rebuilt") === "rebuilt")
  }

  test("eviction prefers foreign-app entries, and bounds each name on its own") {
    seedN("spec-foreign", app, 1 to 16)
    seedN("spec-foreign", "app-dead", 1 to 4)
    seedN("spec-other", "app-dead", 1 to 4)
    assert(StoredMemo.entries("spec-foreign").size === 20)
    StoredMemo.guard("spec-foreign", app)
    val kept = StoredMemo.entries("spec-foreign")
    assert(kept.size === 16)
    assert(kept.forall(_._1 == app),
      s"foreign entries must be the preferred victims, kept: $kept")
    assert(StoredMemo.entries("spec-other").size === 4,
      "another name's entries are not counted against this name's bound")
  }

  test("the PQ/SQ plan-keyed families get the wider bound") {
    Seq("pq-codebooks", "pq-codes", "sq-lohi", "sq-codes")
      .foreach(n => assert(StoredMemo.boundOf(n) === 64, n))
    assert(StoredMemo.boundOf("tokenized-docs") === 16)
  }

  test("stored() guards AFTER the insert: the cache steady-states at the bound") {
    (1 to 20).foreach(i => StoredMemo.stored(spark, "spec-steady", i)(s"v$i"))
    val n = StoredMemo.entries("spec-steady").size
    assert(n <= 16, s"cache must steady-state at the bound, got $n")
  }

  test("dirTag is filesystem/table-safe and collision-resistant") {
    val a = StoredMemo.dirTag("/root/testdata/sf0.01")
    val b = StoredMemo.dirTag("/root/testdata/sf0.1")
    assert(a.matches("[A-Za-z0-9_]+"), s"tag must be identifier-safe: $a")
    assert(a !== b)
    // dirs that sanitize identically still get distinct tags (the MD5
    // suffix disambiguates — the math.abs(hashCode) scheme could not)
    assert(StoredMemo.dirTag("a/b") !== StoredMemo.dirTag("a_b"))
  }

  test("stored() bypasses the memo when the cold conf is set") {
    var builds = 0
    def build(): String = { builds += 1; s"b$builds" }
    assert(StoredMemo.stored(spark, "spec-cold", "k")(build()) === "b1")
    assert(StoredMemo.stored(spark, "spec-cold", "k")(build()) === "b1", "warm: memo hit")
    spark.conf.set(StoredMemo.DisableConf, "true")
    try {
      assert(StoredMemo.stored(spark, "spec-cold", "k")(build()) === "b2", "cold: fresh build")
      assert(StoredMemo.stored(spark, "spec-cold", "k")(build()) === "b3", "cold: every call builds")
      assert(StoredMemo.entries("spec-cold").size === 1, "cold builds must not pollute the memo")
    } finally spark.conf.unset(StoredMemo.DisableConf)
    assert(StoredMemo.stored(spark, "spec-cold", "k")(build()) === "b1", "warm again: memo intact")
  }

  test("stored keys are session-scoped (applicationId rides in the key)") {
    StoredMemo.stored(spark, "spec-session", "/some/dir")("v")
    assert(StoredMemo.entries("spec-session") === Seq((app, Seq("/some/dir"))))
    // an entry another context built is never served to this one
    StoredMemo.seed("app-dead", "spec-session-stale", Seq("/d"), "stale")
    assert(StoredMemo.stored(spark, "spec-session-stale", "/d")("fresh") === "fresh")
  }

  test("a stored() build may call stored() on the one map") {
    // real builds nest (benchRowsOf → shinglesOf → base, bruteRankedOf
    // → quantized). Keys with equal hashes share a map bin, where a
    // build run inside computeIfAbsent fails with "Recursive update"
    final case class Colliding(i: Int) { override def hashCode: Int = 42 }
    val outer = StoredMemo.stored(spark, "spec-nested", Colliding(1)) {
      StoredMemo.stored(spark, "spec-nested", Colliding(2))("in") + "-out"
    }
    assert(outer === "in-out")
    assert(StoredMemo.stored(spark, "spec-nested", Colliding(2))("rebuilt") === "in",
      "the nested build is memoized too")
  }

  test("8 threads asking for one key build it exactly once, and a failed build retries") {
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map(_ => pool.submit(new java.util.concurrent.Callable[AnyRef] {
        def call(): AnyRef = {
          start.await()
          StoredMemo.stored(spark, "spec-race", "k") {
            builds.incrementAndGet(); Thread.sleep(200); new Object
          }
        }
      }))
      start.countDown()
      val got = futures.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(builds.get === 1, "one build per key under concurrency")
      assert(got.forall(_ eq got.head), "every caller gets the same artifact")
    } finally pool.shutdown()
    intercept[IllegalStateException] {
      StoredMemo.stored[String](spark, "spec-retry", "k")(throw new IllegalStateException("boom"))
    }
    assert(StoredMemo.stored(spark, "spec-retry", "k")("ok") === "ok",
      "a build that threw must not leave a poisoned entry")
  }

  test("stored-index serving paths return the SAME artifact across calls") {
    // identity (eq), not equality: a regression that silently rebuilds
    // the stored table per call is value-neutral and invisible to the
    // oracle gate — only the memo identity catches it
    val sf = SparkTestBase.sf
    assert(graft.operators.LlmText.d03LshNeardup(spark, sf)
      eq graft.operators.LlmText.d03LshNeardup(spark, sf))
    assert(graft.operators.Embeddings.bucketedOf(spark, sf)
      eq graft.operators.Embeddings.bucketedOf(spark, sf))
  }

  test("d03 memo keys on the result-changing levers (A/B recomputes)") {
    val sf = SparkTestBase.sf
    val base = graft.operators.LlmText.d03LshNeardup(spark, sf)
    spark.conf.set(graft.operators.LlmText.BandRowsConf, "2")
    try {
      val r2 = graft.operators.LlmText.d03LshNeardup(spark, sf)
      assert(!(r2 eq base), "a changed lever must not serve the stale artifact")
    } finally spark.conf.unset(graft.operators.LlmText.BandRowsConf)
  }

  test("cold conf makes a serving path rebuild (and warm serves the stored one)") {
    val sf = SparkTestBase.sf
    val warm = graft.operators.Embeddings.bucketedOf(spark, sf)
    spark.conf.set(StoredMemo.DisableConf, "true")
    try {
      val cold = graft.operators.Embeddings.bucketedOf(spark, sf)
      assert(!(cold eq warm), "cold mode must build fresh")
    } finally spark.conf.unset(StoredMemo.DisableConf)
    assert(graft.operators.Embeddings.bucketedOf(spark, sf) eq warm,
      "warm path must still serve the stored artifact after a cold probe")
  }

  test("e21 releases every checkpoint it pins except its own result") {
    // GC would unregister an unreachable RDD on its own, so a listener
    // keeps a strong reference to every RDD persisted during the call:
    // only an explicit release can then take one off the persistent list
    val sc = spark.sparkContext
    val sf = SparkTestBase.sf
    graft.operators.Embeddings.e21KmppSeed(spark, sf).collect() // warm the corpus memo
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[org.apache.spark.rdd.RDD[_]]()
    val holder = new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        sc.getPersistentRDDs.values.foreach(seen.add)
    }
    val firstId = sc.emptyRDD[Int].id
    sc.addSparkListener(holder)
    try graft.operators.Embeddings.e21KmppSeed(spark, sf).collect()
    finally sc.removeSparkListener(holder)
    import scala.jdk.CollectionConverters._
    val created = seen.asScala.filter(_.id > firstId)
    val stillPinned = created.count(r => sc.getPersistentRDDs.contains(r.id))
    assert(created.size > 1, s"the call must checkpoint its intermediates, saw ${created.size}")
    assert(stillPinned <= 1,
      s"e21 left $stillPinned of its ${created.size} checkpoints pinned (its result is 1)")
  }

  test("cold mode does not pile up pins: e12 and e14 twice return to the baseline") {
    // the benchmark harness's settle: GC, then read; after the run, poll
    // for a bounded time while ContextCleaner drops unreachable checkpoints
    def settle(): Int = {
      System.gc(); Thread.sleep(400); System.gc(); Thread.sleep(400)
      spark.sparkContext.getPersistentRDDs.size
    }
    val sf = SparkTestBase.sf
    val before = settle()
    spark.conf.set(StoredMemo.DisableConf, "true")
    try (1 to 2).foreach { _ =>
      graft.operators.Embeddings.e12IvfPqAdc(spark, sf).collect()
      graft.operators.Embeddings.e14SqRerank(spark, sf).collect()
    } finally spark.conf.unset(StoredMemo.DisableConf)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var after = settle()
    while (after > before && System.nanoTime() < deadline) after = settle()
    assert(after <= before, s"cold e12/e14 left ${after - before} persistent RDDs pinned")
  }

  test("main code keeps no memo map outside StoredMemo") {
    // Tables' narrow/wide decision cache and Streams' stream dirs are not
    // session-bound artifacts; every stored artifact goes through StoredMemo
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val allowed = Set("graft/StoredMemo.scala", "graft/Tables.scala", "graft/streaming/Streams.scala")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .matches("(?s).*new (java\\.util\\.concurrent\\.)?ConcurrentHashMap\\b.*"))
      .map(p => root.relativize(p).toString).toSet -- allowed
    assert(offenders.isEmpty, s"memo maps outside StoredMemo: $offenders")
  }

  test("index stores land only through IncrementalIndex.land: no flat append, no hand-built bid path") {
    // a flat SaveMode.Append lands a batch replayed after a crash twice;
    // every appended store takes its batch partition from the one writer
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val sources = Seq("graft/jobs", "graft/streaming").flatMap { d =>
      java.nio.file.Files.walk(root.resolve(d)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
        .map(p => root.relativize(p).toString ->
          stripComments(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")))
    }
    val appends = sources.collect { case (path, src) if src.contains("SaveMode.Append") => path }
    assert(appends.isEmpty, s"flat SaveMode.Append writes: $appends")
    val landBody = "(?s)def land\\(.*?\n\\s*\n".r
    assert(sources.exists { case (_, src) => landBody.findFirstIn(src).isDefined },
      "IncrementalIndex.land is gone")
    val handBuilt = sources.collect {
      case (path, src) if landBody.replaceAllIn(src, "").contains("bid=") => path
    }
    assert(handBuilt.isEmpty, s"bid= paths built outside IncrementalIndex.land: $handBuilt")
  }

  /** `src` with its comments blanked. String and char literals are kept
    * whole, so a comment opener inside one is not read as a comment. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def keep(end: Int): Unit = { out.append(src.substring(i, end)); i = end }
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        val e = src.indexOf('\n', i); i = if (e < 0) src.length else e
      } else if (src.startsWith("/*", i)) {
        val e = src.indexOf("*/", i + 2); i = if (e < 0) src.length else e + 2
        out.append(' ')
      } else if (src.startsWith("\"\"\"", i)) {
        val e = src.indexOf("\"\"\"", i + 3); keep(if (e < 0) src.length else e + 3)
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < src.length && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        keep(math.min(j + 1, src.length))
      } else if (src.startsWith("'\\", i) && src.startsWith("'", i + 3)) keep(i + 4)
      else if (src.startsWith("'", i) && src.startsWith("'", i + 2)) keep(i + 3)
      else keep(i + 1)
    }
    out.toString
  }

  test("every member of the query, job, streaming, sink and function objects has a caller in main") {
    // a def or val that no registered query, job main, Bench/Verify or
    // tool reaches is deleted rather than kept for its spec; the names
    // below are kept on purpose, each for its reason
    val allowed = Map(
      "writeCellIndex" -> "reference writer st14's fixture bootstrap is compared against (FixtureParitySpec, TombstoneSpec, StreamingSpec)",
      "writeGraphBootstrapBatch" -> "split-spec writer of st22's bootstrap (FixtureParitySpec, GraphInsertSpec, StreamingSpec)",
      "writeClusterBootstrap" -> "split-spec writer of st25's bootstrap (StoredParitySpec, StreamingSpec)",
      "writeBenchIndex" -> "split-spec writer of st17's store (BloomFilterSpec, StreamingSpec)",
      "writeBloomIndex" -> "split-spec writer of st23's store (BloomFilterSpec, StreamingSpec)",
      "nndSeeds" -> "test hook of e22's seed stage (LlmTextSpec)",
      "m10KmvWindowForm" -> "window-form reference of m10's aggregator (KmvAggregatorSpec)",
      "withPhashForTest" -> "test hook of mm06's native phash (MultimodalSpec)",
      "phashFallback" -> "composed-expression reference of mm06's native phash (MultimodalSpec)",
      "pairsAgg" -> "test handle of the pair-sketch merge laws (KmvAggregatorSpec)",
      "theoreticalFpr" -> "analytic bound the measured Bloom FPR is checked against (BloomFilterSpec)",
      "kafkaLines" -> "Kafka source surface (SURVEY S5)",
      "streamToParquet" -> "streaming file sink surface (SURVEY S6)",
      "streamToConsole" -> "console sink surface (SURVEY S11)",
      "groupConcatDistinct" -> "typed Aggregator surface (SURVEY A7; CompositeSpec)")
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val sources = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => root.relativize(p).toString ->
        stripComments(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")))
    val areas = Seq("graft/operators/", "graft/jobs/", "graft/streaming/",
      "graft/etl/", "graft/functions/", "graft/Tables.scala")
    val topLevelObject = """(?:private(?:\[\w+\])?\s+)?(?:case\s+)?object\s.*""".r
    val member =
      """  (?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|lazy\s+|implicit\s+)*(?:def|val)\s+(\w+).*""".r
    val members = for {
      (path, src) <- sources if areas.exists(path.startsWith)
      inObject = src.split("\n").scanLeft((false, "")) { case ((in, _), line) =>
        if (line.nonEmpty && !line.head.isWhitespace) (topLevelObject.matches(line), "")
        else (in, line)
      }
      (true, member(name)) <- inObject
    } yield name
    val all = sources.map(_._2).mkString("\n")
    def mentions(name: String): Int =
      ("(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(name) + "(?![A-Za-z0-9_])")
        .r.findAllMatchIn(all).size
    val unreached = members.filter(mentions(_) < 2).toSet
    assert((unreached -- allowed.keySet).isEmpty,
      s"members with no caller in src/main (delete them, or allow with a reason): ${(unreached -- allowed.keySet).toSeq.sorted}")
    assert((allowed.keySet -- unreached).isEmpty,
      s"allowlist entries that are gone or now have a caller: ${(allowed.keySet -- unreached).toSeq.sorted}")
  }

  test("every tool main is run by a spec") {
    // a main no spec forks or calls is run by hand or not at all, and
    // the members only it reaches look live to the caller scan above
    import scala.jdk.CollectionConverters._
    val tools = java.nio.file.Paths.get("src/main/scala/graft/tools")
    val specs = java.nio.file.Paths.get("src/test")
    assert(java.nio.file.Files.isDirectory(tools), s"run from the repo root: $tools")
    def read(p: java.nio.file.Path) = stripComments(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    // each object's text runs to the next object; the ones holding a main
    val mains = java.nio.file.Files.list(tools).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(p => read(p).split("(?=\\bobject\\s)").toSeq)
      .flatMap(obj => "^object\\s+(\\w+)".r.findFirstMatchIn(obj)
        .filter(_ => "\\bdef\\s+main\\b".r.findFirstIn(obj).isDefined).map(_.group(1)))
    assert(mains.nonEmpty, "no tool mains found")
    val testSrc = java.nio.file.Files.walk(specs).iterator().asScala
      .filter(_.toString.endsWith(".scala")).map(read).mkString("\n")
    val unrun = mains.filterNot(m => ("\\b" + m + "\\b").r.findFirstIn(testSrc).isDefined)
    assert(unrun.isEmpty, s"tool mains no spec names (run them from a spec or delete them): ${unrun.sorted}")
  }

  test("Streams keeps one streaming runner and persists no store") {
    // a second writeStream is a second runner to keep in step; a
    // persist() in the fold is the cached store the CacheManager held
    // on to, one entry per call
    val path = java.nio.file.Paths.get("src/main/scala/graft/streaming/Streams.scala")
    assert(java.nio.file.Files.exists(path), s"run from the repo root: $path")
    val src = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    val runners = "writeStream".r.findAllMatchIn(src).size
    assert(runners === 1, s"Streams.scala holds $runners writeStream sites, expected one")
    assert(!src.contains(".persist("), "Streams.scala persists a store")
  }
}
