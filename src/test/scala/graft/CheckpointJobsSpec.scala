package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.corpus.SynthCorpus
import graft.pipeline.{Dedup, DedupConfig, ExactSubstring, concurrently}
import graft.queries.Serving
import graft.streaming.IncrementalIngest

/** Operators that read a count off the checkpoint they just filled (the
  * row count `pipeline.checkpointed` observes in its own job) instead of
  * running a second job for it, on the boilerplate skew fixture. Their
  * rows are checked against driver-side references. Also the jobs of an
  * ingest micro-batch, whose store writes run on threads of their own.
  */
class CheckpointJobsSpec extends SparkSpecBase {
  private val cfg = DedupConfig()

  private lazy val docs: DataFrame = {
    val (pages, _) = SynthCorpus.generate(spark, seed = 31L, nBase = 120,
      dupRate = 0.25, skewBoilerplate = true)
    Dedup.fromPages(pages).localCheckpoint(true)
  }
  /** Low-threshold pairs (id_a, id_b, jaccard): the candidates the
    * substring-containment query takes (0.3), and a pair graph whose
    * expansions run several hops (0.1; at 0.3 every component is one hop
    * across).
    */
  private def pairsAt(tau: Double): DataFrame = Dedup.exactJaccardPairsPrefix(docs, cfg.copy(threshold = tau))
  private def pairsOf(df: DataFrame): Seq[(String, String)] =
    df.collect().toSeq.map(r => (r.getString(0), r.getString(1)))

  test("ExactSubstring.containmentPairs runs no isEmpty job, with hot hays and without them") {
    val texts = docs.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val cands = pairsAt(0.3)
    val want = pairsOf(cands).map { case (a, b) =>
      val (hay, needle) =
        if (texts(a).length >= texts(b).length) (texts(a), texts(b)) else (texts(b), texts(a))
      (a, b, hay.contains(needle))
    }.toSet
    assert(want.exists(_._3) && want.exists(!_._3))
    for ((hotCap, hot) <- Seq(2 -> true, 128 -> false)) {
      val (out, names) = jobNamesDuring(ExactSubstring.containmentPairs(cands, docs, hotCap))
      assert(!names.exists(_.startsWith("isEmpty")), s"hotCap=$hotCap: ${names.mkString(" | ")}")
      assert(out.queryExecution.executedPlan.toString.contains("CoGroup") == hot, s"hotCap=$hotCap")
      assert(out.collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet == want,
        s"hotCap=$hotCap")
    }
  }

  test("Serving.nHopCluster runs no count job per hop") {
    val edges = pairsAt(0.1).withColumnRenamed("jaccard", "similarity")
    val nbrs = pairsOf(edges).flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    // breadth-first expansion on the driver: (doc, min hops from source)
    def bfs(source: String, hops: Int): Set[(String, Int)] = {
      var seen = Map(source -> 0)
      var frontier = Set(source)
      for (h <- 1 to hops) {
        frontier = frontier.flatMap(nbrs.getOrElse(_, Nil)).filterNot(seen.contains)
        seen ++= frontier.map(_ -> h)
      }
      seen.toSet
    }
    // a source whose expansion still grows at the second hop, so a
    // three-hop call runs all three hops
    val source = nbrs.keys.toSeq.sorted.find(s => bfs(s, 2).size > bfs(s, 1).size)
      .getOrElse(fail("the fixture must reach a second hop"))
    val Seq(oneHop, threeHops) = Seq(1, 3).map { hops =>
      val (out, names) = jobNamesDuring(Serving.nHopCluster(edges, source, hops))
      assert(out.collect().map(r => (r.getString(0), r.getInt(1))).toSet == bfs(source, hops), s"hops=$hops")
      names
    }
    // the edge checkpoint, then per hop the two stages of its joins and
    // the checkpoint job. A count of each hop's checkpoint ran two more
    // jobs per hop here (6 and 24 jobs)
    assert(oneHop.size <= 4, oneHop.mkString(" | "))
    assert(threeHops.size - oneHop.size <= 2 * 7, threeHops.mkString(" | "))
  }

  test("pipeline.concurrently ends every body before it returns or rethrows the first failure") {
    val sc = spark.sparkContext
    val slowEnded = new java.util.concurrent.atomic.AtomicBoolean(false)
    def slow(): Int = {
      // ignores interrupts, as a body blocked in a file-system call does
      val until = System.nanoTime() + 300L * 1000000L
      while (System.nanoTime() < until) Thread.onSpinWait()
      slowEnded.set(true); 1
    }
    val e = intercept[IllegalStateException](concurrently(
      () => throw new IllegalStateException("first"), () => slow(),
      () => throw new IllegalArgumentException("second")))
    assert(e.getMessage == "first" && slowEnded.get)
    assert(e.getSuppressed.toSeq.map(_.getMessage) == Seq("second"))
    sc.setLocalProperty("graft.test.caller", "set")
    try assert(concurrently(() => sc.getLocalProperty("graft.test.caller"), () => "x") == Seq("set", "x"))
    finally sc.setLocalProperty("graft.test.caller", null)
    // an interrupted caller still waits for its bodies, and keeps its interrupt
    slowEnded.set(false)
    val seen = new java.util.concurrent.atomic.AtomicReference[(Boolean, Boolean)]()
    val caller = new Thread(() => {
      concurrently(() => slow())
      seen.set((slowEnded.get, Thread.currentThread().isInterrupted))
    })
    caller.start(); Thread.sleep(50); caller.interrupt(); caller.join()
    assert(seen.get == ((true, true)))
  }

  test("IncrementalIngest.processBatch: a regular batch runs at most 8 jobs, all carrying the caller's properties") {
    val workDir = java.nio.file.Files.createTempDirectory("graft-ingest-jobs").toString
    val half = pmod(xxhash64(col("id")), lit(2L))
    IncrementalIngest.processBatch(docs.where(half === 0), 0L, cfg, workDir)
    val sc = spark.sparkContext
    val (key, tag) = ("graft.test.ingestJobs", "graft-test-ingest")
    // (property, job tags, name and long call site of the result stage) per job
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        e.properties.getProperty(key) match {
          case "end" => markerSeen.countDown()
          case p =>
            val st = e.stageInfos.maxBy(_.stageId)
            jobs.add((p, String.valueOf(e.properties.getProperty("spark.job.tags")), s"${st.name}\n${st.details}"))
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "batch")
      sc.addJobTag(tag)
      try IncrementalIngest.processBatch(docs.where(half === 1), 1L, cfg, workDir)
      finally { sc.removeJobTag(tag); sc.setLocalProperty(key, "end") }
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val all = jobs.asScala.toSeq
    val sites = all.map(_._3.linesIterator.next()).mkString(" | ")
    // the signature flush (the batch's window shuffle, the store side of
    // its anti-join, the write), then matching's joins and the pair flush
    assert(all.size <= 8, sites)
    assert(all.forall { case (p, tags, _) => p == "batch" && tags.split(",").contains(tag) }, all)
    // matching reads the new signatures with the store's schema
    assert(!all.exists(_._3.contains("TxLog.readEntries(")), sites)
    // every doc of both batches reached the signature store
    val sigIds = IncrementalIngest.signatures(spark, workDir, cfg).select("id").distinct().count()
    assert(sigIds == docs.count())
  }
}
