package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{CacheProbe, Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.Kernels
import graft.pipeline.{ConnectedComponents, Dedup, DedupConfig, ExactSubstring, ResumableDedupJob}
import graft.queries.Serving
import graft.streaming.IncrementalIngest

/** Resource hygiene of the materializing operators: every cache, every
  * persisted RDD and every broadcast an operator makes for its own use is
  * released before it returns — on success and when one of its jobs
  * throws. Only the checkpoints the operator's result reads stay
  * persisted: `pipeline.checkpointed` releases its own blocks when the
  * job that fills it fails, and connected components releases every
  * round it supersedes. The lazy `Dedup.pairs` holds nothing at all.
  */
class CacheHygieneSpec extends SparkSpecBase {
  private val cfg = DedupConfig()

  private def cachedEntries: Int = CacheProbe.cachedEntries(spark)
  private def persistedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def frequencyTables: Set[Long] = CacheProbe.broadcastsHolding(classOf[Kernels.DfTable])

  /** Runs `op`, forces its result, and asserts that the session holds
    * exactly the cache entries it held before.
    */
  private def assertNoLeak(name: String)(op: => Unit): Unit = {
    val before = cachedEntries
    op
    assert(cachedEntries == before, s"$name left a persisted table behind")
  }

  /** Runs `op` and returns its outcome with the ids of the RDDs it left
    * persisted. The context registers persisted RDDs weakly: one that
    * nothing references drops out of `getPersistentRDDs` at the next
    * garbage collection, while its blocks stay until a cleaner reaches
    * them. So every RDD persisted when one of `op`'s jobs starts is held
    * here, and judged by its own storage level.
    */
  private def persistedBy[T](op: => T): (Try[T], Set[Int]) = {
    val (out, left) = rddsPersistedBy(op)
    (out, left.map(_.id))
  }

  /** [[persistedBy]], returning the RDDs themselves. */
  private def rddsPersistedBy[T](op: => T): (Try[T], Set[RDD[_]]) = {
    val sc = spark.sparkContext
    val before = persistedRdds
    val held = new java.util.concurrent.ConcurrentHashMap[Int, RDD[_]]()
    def hold(): Unit = sc.getPersistentRDDs.foreach { case (id, r) => held.put(id, r) }
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = hold()
    }
    sc.addSparkListener(listener)
    val out = try Try(op) finally {
      CacheProbe.drainListeners(spark)
      sc.removeSparkListener(listener)
    }
    hold()
    (out, held.values.asScala.filter(r => r.getStorageLevel != StorageLevel.NONE &&
      !before.contains(r.id)).toSet)
  }

  /** [[assertNoLeak]] for an operator returning a frame, which must be
    * non-empty: besides the cache entries, the only RDDs it leaves
    * persisted are its result's own checkpoints, and no frequency-table
    * broadcast is left.
    */
  private def assertReleased(name: String)(op: => DataFrame): Unit = {
    assertNoLeak(name) {
      val (out, left) = persistedBy { val r = op; assert(r.count() > 0); r }
      val own = out.get.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet
      assert(left == own, s"$name left a persisted RDD behind")
    }
    assert(frequencyTables.isEmpty, s"$name left its frequency table broadcast")
  }

  /** Runs `op`, which must fail with a job's `boom`, and asserts that it
    * left no cache entry, persisted RDD or frequency-table broadcast.
    */
  private def assertReleasedOnFailure(name: String)(op: => DataFrame): Unit = {
    val before = cachedEntries
    val (out, left) = persistedBy(op.count())
    val e = out.failed.getOrElse(fail(s"$name did not fail"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("boom")), s"$name: $e")
    assert(cachedEntries == before, s"$name: a persisted table leaked on the failure path")
    assert(left.isEmpty, s"$name: a persisted RDD leaked on the failure path")
    assert(frequencyTables.isEmpty, s"$name: the frequency table broadcast leaked on the failure path")
  }

  /** Near-duplicate docs over a multi-partition range scan (not a local
    * relation, so no projection over it is evaluated at planning time).
    */
  private def docs(text: Column => Column): DataFrame =
    spark.range(0, 60, 1, 4).select(col("id"),
      text(concat_ws(" ", lit("the quick brown fox jumps over the lazy dog"),
        (col("id") % 10).cast("string"), lit("and then some more words"),
        (col("id") % 7).cast("string"))).as("text"))

  private val plainText = (t: Column) => t

  /** `boom` for row 17 of a range scan, `otherwise` for every other row. */
  private def boomAt17(otherwise: Column): Column =
    when(col("id") === 17, raise_error(lit("boom"))).otherwise(otherwise)

  test("containmentPairs releases its caches when a job throws") {
    val failing = docs(boomAt17)
    assertReleasedOnFailure("containmentPairs")(Dedup.containmentPairs(failing, cfg, tau = 0.6))
    assertReleasedOnFailure("exactJaccardPairsPrefix")(Dedup.exactJaccardPairsPrefix(failing, cfg))
  }

  private def boomEdges: DataFrame =
    spark.range(0, 50, 1, 2).select(col("id").as("src"), boomAt17(col("id") + 1).as("dst"))

  /** Runs `body` with `conf` set, and without adaptive execution and
    * broadcast joins: then every stage of a checkpoint, shuffles
    * included, runs inside the job that fills it (adaptive execution
    * would run a shuffle stage ahead of that job).
    */
  private def withoutAdaptive[T](conf: (String, String)*)(body: => T): T = {
    val all = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") ++ conf
    val prev = all.map { case (k, _) => k -> spark.conf.get(k) }
    all.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  // each `boom` below fires inside the operator's first checkpoint job
  for ((name, op) <- Seq[(String, () => DataFrame)](
      "ResumableDedupJob.pairsStage (band table)" -> (() => ResumableDedupJob.pairsStage(
        Dedup.signatures(Dedup.shingleSets(docs(plainText), cfg), cfg)
          .withColumn("sig", boomAt17(col("sig"))), cfg)),
      "Dedup.keepList" -> (() => Dedup.keepList(docs(plainText),
        spark.range(0, 60, 1, 4).select(col("id"), (col("id") % 10).as("cluster_id")),
        boomAt17(length(col("text"))))),
      "ExactSubstring.containmentPairs" -> (() => ExactSubstring.containmentPairs(
        spark.range(0, 59, 1, 4).select(col("id").as("id_a"), (col("id") + 1).as("id_b")),
        docs(boomAt17))),
      "Serving.nHopCluster" -> (() => Serving.nHopCluster(boomEdges.select(col("src").as("id_a"),
        col("dst").as("id_b"), lit(0.9).as("similarity")), 0L, hops = 2)),
      "ConnectedComponents.run (distributed)" -> (() =>
        ConnectedComponents.run(boomEdges, localThreshold = 0))))
    test(s"$name releases its checkpoint when the job filling it throws") {
      withoutAdaptive()(assertReleasedOnFailure(name)(op()))
    }

  // Here a later job of the call fails after earlier checkpoints were
  // filled. Those jobs read only checkpointed data, so no `boom` in the
  // input reaches them: a listener cancels the operator's `nth`
  // checkpoint job (`pipeline.checkpointed` fills a checkpoint without
  // aggregates with `count at package.scala`) when it starts.
  for ((name, nth, op) <- Seq[(String, Int, () => DataFrame)](
      ("ExactSubstring.containmentPairs", 2, () => ExactSubstring.containmentPairs(
        spark.range(0, 59, 1, 4).select(col("id").as("id_a"), (col("id") + 1).as("id_b")),
        docs(plainText))),
      // the edges, hop 1's frontier, then hop 2's
      ("Serving.nHopCluster", 3, () => Serving.nHopCluster(spark.range(0, 50, 1, 2).select(
        col("id").as("id_a"), (col("id") + 1).as("id_b"), lit(0.9).as("similarity")), 0L, hops = 3))))
    test(s"$name releases the checkpoints it filled when a later job of the call fails") {
      val sc = spark.sparkContext
      val started = new java.util.concurrent.atomic.AtomicInteger
      val canceller = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.stageInfos.maxBy(_.stageId).name.startsWith("count at package.scala") &&
              started.incrementAndGet() == nth) sc.cancelJob(e.jobId)
      }
      // more shuffle tasks keep the cancelled job running until the
      // listener reaches it
      withoutAdaptive("spark.sql.shuffle.partitions" -> "16") {
        val before = cachedEntries
        sc.addSparkListener(canceller)
        val (out, left) = try persistedBy(op().count()) finally sc.removeSparkListener(canceller)
        val e = out.failed.getOrElse(fail(s"$name did not fail"))
        assert(String.valueOf(e.getMessage).contains("cancelled"), e)
        assert(started.get == nth, s"$name: the failure came before its checkpoint job $nth")
        assert(cachedEntries == before, s"$name: a persisted table leaked on the failure path")
        assert(left.isEmpty, s"$name: a filled checkpoint leaked when a later job failed")
      }
    }

  /** A 200-edge chain (several rounds) plus a 50-edge star. */
  private def chainAndStar: DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    ((0L until 200L).map(i => (i, i + 1)) ++ (1L to 50L).map(j => (1000L, 1000L + j)))
      .toDF("src", "dst")
  }

  test("connected components keeps only its result's checkpoint") {
    assertReleased("ConnectedComponents.run")(
      ConnectedComponents.run(chainAndStar, localThreshold = 0))
  }

  test("connected components cut short releases the round it holds") {
    val (out, left) = persistedBy(
      ConnectedComponents.run(chainAndStar, maxIterations = 1, localThreshold = 0))
    assert(out.failed.get.getMessage.contains("did not converge"), out)
    assert(left.isEmpty, "a round's checkpoint leaked on the failure path")
  }

  test("prefix joins release their broadcast table when a job fails while it is live") {
    val d = docs(plainText)
    val sc = spark.sparkContext
    // cancel every job that starts while a frequency table is broadcast
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (frequencyTables.nonEmpty) sc.cancelJob(e.jobId)
    }
    for ((name, op) <- Seq[(String, () => DataFrame)](
        "exactJaccardPairsPrefix" -> (() => Dedup.exactJaccardPairsPrefix(d, cfg)),
        "containmentPairs" -> (() => Dedup.containmentPairs(d, cfg, tau = 0.6)))) {
      val before = cachedEntries
      val rddsBefore = persistedRdds
      sc.addSparkListener(listener)
      val e = try intercept[Exception](op().count()) finally sc.removeSparkListener(listener)
      assert(String.valueOf(e.getMessage).contains("cancelled"), e)
      assert(cachedEntries == before, s"$name: a persisted table leaked")
      assert(persistedRdds == rddsBefore, s"$name: a persisted RDD leaked")
      assert(frequencyTables.isEmpty, s"$name: the frequency table broadcast leaked")
    }
  }

  test("materializing pair operators release their caches") {
    val d = docs(plainText)
    // the probe sees the ranking's broadcast table while it is live
    Dedup.withRankedIndex(Dedup.shingleSets(d, cfg)) { r =>
      assert(frequencyTables.size == 1)
    }
    assert(frequencyTables.isEmpty)
    assertReleased("pairsMaterialized")(Dedup.pairsMaterialized(d, cfg))
    assertReleased("exactJaccardPairsPrefix")(Dedup.exactJaccardPairsPrefix(d, cfg))
    assertReleased("containmentPairs")(Dedup.containmentPairs(d, cfg, tau = 0.6))
    // and on the join-back path, whose ranked index is checkpointed
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assertReleased("exactJaccardPairsPrefix (join-back)")(Dedup.exactJaccardPairsPrefix(d, cfg))
      assertReleased("containmentPairs (join-back)")(Dedup.containmentPairs(d, cfg, tau = 0.6))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("Dedup.pairs leaves no cache entry behind") {
    assertNoLeak("Dedup.pairs") {
      assert(Dedup.pairs(docs(plainText), cfg).count() > 0)
    }
  }

  test("IncrementalIngest.processBatch releases its caches") {
    val workDir = Files.createTempDirectory("graft-hygiene").toString
    def batch(upTo: Long) = docs(plainText).where(col("id") < upTo)
      .select(col("id").cast("string").as("id"), col("text"))
    assertNoLeak("IncrementalIngest.processBatch") {
      // two batches: the second runs the seen check against the stores
      IncrementalIngest.processBatch(batch(40L), 0L, cfg, workDir)
      IncrementalIngest.processBatch(batch(60L), 1L, cfg, workDir)
    }
    assert(IncrementalIngest.signatures(spark, workDir, cfg).count() == 60)
  }

  /** Rows of a slice of the near-duplicate docs, ids as strings. */
  private def ingestBatch(from: Long, until: Long): DataFrame =
    docs(plainText).where(col("id") >= from && col("id") < until)
      .select(col("id").cast("string").as("id"), col("text"))

  /** Every row of the signature and pair stores under `workDir`. */
  private def ingestStores(workDir: String): Seq[Seq[String]] =
    Seq(IncrementalIngest.signatures _, IncrementalIngest.pairs _)
      .map(read => read(spark, workDir, cfg).collect().map(_.toString).toSeq.sorted)

  /** Names of the live threads that `pipeline.concurrently` started. */
  private def concurrentThreads: Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq.map(_.getName)
      .filter(_.startsWith("graft-concurrently-"))

  test("IncrementalIngest.processBatch failing after the signature commit leaks nothing, and its retry is exact") {
    val clean = Files.createTempDirectory("graft-ingest-clean").toString
    val workDir = Files.createTempDirectory("graft-ingest-fail").toString
    // a plain file where the pair store's log directory belongs: the
    // signature flush commits, then the pair flush writes its data and
    // fails to commit it
    val obstacle = new java.io.File(IncrementalIngest.pairLog(workDir, cfg).root, "_log")
    assert(obstacle.getParentFile.mkdirs() && obstacle.createNewFile())
    val before = cachedEntries
    val (out, left) = persistedBy(IncrementalIngest.processBatch(ingestBatch(0, 40), 0L, cfg, workDir))
    val e = out.failed.getOrElse(fail("processBatch did not fail"))
    assert(e.isInstanceOf[java.nio.file.FileSystemException] &&
      e.getMessage.contains(obstacle.getPath), e)
    assert(IncrementalIngest.sigLog(workDir, cfg).snapshot().version == 0,
      "the signature flush did not commit")
    assert(cachedEntries == before, "a persisted table leaked on the failure path")
    assert(left.isEmpty, "a persisted RDD leaked on the failure path")
    assert(obstacle.delete())
    IncrementalIngest.processBatch(ingestBatch(0, 40), 0L, cfg, workDir)
    IncrementalIngest.processBatch(ingestBatch(0, 40), 0L, cfg, clean)
    Seq(workDir, clean).foreach(IncrementalIngest.processBatch(ingestBatch(30, 60), 1L, cfg, _))
    assert(ingestStores(workDir) == ingestStores(clean))
  }

  test("IncrementalIngest.compactStores throws a failed rewrite once the others have ended, and its retry is exact") {
    val clean = Files.createTempDirectory("graft-compact-clean").toString
    val workDir = Files.createTempDirectory("graft-compact-fail").toString
    for (dir <- Seq(clean, workDir); (from, i) <- Seq(0L, 30L).zipWithIndex)
      IncrementalIngest.processBatch(ingestBatch(from, from + 30), i.toLong, cfg, dir)
    IncrementalIngest.compactStores(spark, clean, cfg, vacuumGraceMs = 0L)
    val logs = Seq(IncrementalIngest.sigLog _, IncrementalIngest.pairLog _).map(_(workDir, cfg))
    assert(logs.forall(_.snapshot().entries.size == 2))
    // one of the pair store's data directories moved away: its rewrite
    // cannot read the store
    val pl = logs.last
    val moved = new java.io.File(pl.root, pl.snapshot().entries.head.path)
    val aside = new java.io.File(pl.root, "aside")
    assert(moved.renameTo(aside))
    val before = cachedEntries
    val (out, left) = persistedBy(IncrementalIngest.compactStores(spark, workDir, cfg, vacuumGraceMs = 0L))
    val e = out.failed.getOrElse(fail("compactStores did not fail"))
    assert(String.valueOf(e.getMessage).contains(moved.getName), e)
    assert(concurrentThreads.isEmpty, "compactStores threw while a rewrite was still running")
    assert(logs.map(_.snapshot().entries.size) == Seq(1, 2), "the signature rewrite did not commit")
    assert(cachedEntries == before, "a persisted table leaked on the failure path")
    assert(left.isEmpty, "a persisted RDD leaked on the failure path")
    assert(aside.renameTo(moved))
    assert(IncrementalIngest.compactStores(spark, workDir, cfg, vacuumGraceMs = 0L).isEmpty,
      "the signature store was rewritten twice")
    assert(logs.forall(_.snapshot().entries.size == 1))
    assert(ingestStores(workDir) == ingestStores(clean))
  }

  /** The creation stacks of the persisted RDDs `op` leaves whose
    * creating stack enters the engine (its first `graft.` frame outside
    * pipeline/package.scala) in one of `files`.
    */
  private def leftIn[T](files: String*)(op: => T): (Try[T], Seq[String]) = {
    val (out, left) = rddsPersistedBy(op)
    (out, left.toSeq.map(CacheProbe.creationStack).filter(_.linesIterator
      .find(l => l.startsWith("graft.") && !l.contains("(package.scala"))
      .exists(l => files.exists(f => l.contains(s"($f")))))
  }

  test("ResumableDedupJob.run and keepStage release their checkpoints once each stage is written") {
    val docsPath = Files.createTempDirectory("graft-resumable-docs").resolve("docs").toString
    docs(plainText).write.parquet(docsPath)
    val work = Files.createTempDirectory("graft-resumable-hygiene").toString
    // the band table, the clustering's edges and the keep list's scored rows
    val (out, left) = leftIn("Dedup.scala", "ConnectedComponents.scala", "Checkpoints.scala") {
      val d = spark.read.parquet(docsPath)
      val clusters = ResumableDedupJob.run(d, cfg, work)
      ResumableDedupJob.keepStage(d, clusters, cfg, work).where(col("kept")).count()
    }
    assert(out.get > 0 && out.get < 60, out)
    assert(left.isEmpty, s"stage checkpoints left persisted:\n${left.mkString("\n\n")}")
  }

  test("CurationJob.run releases its stage checkpoints when it returns and when it throws") {
    val docsPath = Files.createTempDirectory("graft-curation-docs").resolve("docs").toString
    docs(plainText).select(col("id").as("doc_id"), col("text")).write.parquet(docsPath)
    // the stage checkpoints CurationJob fills itself; the near-dup
    // stages it calls have checkpoints of their own
    def leftByRun(op: => String) = leftIn("CurationJob.scala")(op)
    def work() = Files.createTempDirectory("graft-curation-hygiene").toString
    val (ok, leftOk) = leftByRun(CurationJob.run(spark, docsPath, work(), None, 8192))
    assert(ok.get.contains("\"after_quality\":"))
    assert(leftOk.isEmpty, s"stage checkpoints left persisted:\n${leftOk.mkString("\n\n")}")
    // the benchmark table is missing: the call throws at the
    // decontamination stage, after four stage checkpoints were filled
    val (failed, leftFailed) = leftByRun(
      CurationJob.run(spark, docsPath, work(), Some(s"$docsPath-missing-bench"), 8192))
    assert(failed.failed.map(_.getMessage).getOrElse("").contains("missing-bench"), failed)
    assert(leftFailed.isEmpty, s"stage checkpoints leaked on the failure path:\n${leftFailed.mkString("\n\n")}")
  }
}
