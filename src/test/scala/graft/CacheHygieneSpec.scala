package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import org.apache.spark.sql.execution.LogicalRDD

import graft.functions.Kernels
import graft.pipeline.{Dedup, DedupConfig}
import graft.streaming.IncrementalIngest

/** Resource hygiene of the materializing operators: every cache, every
  * persisted RDD and every broadcast an operator makes for its own use is
  * released before it returns — on success and when one of its jobs
  * throws. Only the operator's own result stays persisted (its
  * `localCheckpoint`). The lazy `Dedup.pairs` holds nothing at all.
  */
class CacheHygieneSpec extends SparkSpecBase {
  private val cfg = DedupConfig()

  private def cachedEntries: Int = org.apache.spark.sql.CacheProbe.cachedEntries(spark)
  private def persistedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def frequencyTables: Set[Long] =
    org.apache.spark.sql.CacheProbe.broadcastsHolding(classOf[Kernels.DfTable])

  /** Runs `op`, forces its result, and asserts that the session holds
    * exactly the cache entries it held before.
    */
  private def assertNoLeak(name: String)(op: => Unit): Unit = {
    val before = cachedEntries
    op
    assert(cachedEntries == before, s"$name left a persisted table behind")
  }

  /** [[assertNoLeak]] for an operator returning a frame, which must be
    * non-empty: besides the cache entries, the RDDs persisted after the
    * call are those before it plus the result's own checkpoint, and no
    * frequency-table broadcast is left.
    */
  private def assertReleased(name: String)(op: => DataFrame): Unit = {
    val rddsBefore = persistedRdds
    assertNoLeak(name) {
      val result = op
      assert(result.count() > 0)
      val own = result.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet
      assert(persistedRdds -- rddsBefore == own, s"$name left a persisted RDD behind")
    }
    assert(frequencyTables.isEmpty, s"$name left its frequency table broadcast")
  }

  /** Near-duplicate docs over a multi-partition range scan (not a local
    * relation, so no projection over it is evaluated at planning time).
    */
  private def docs(text: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame =
    spark.range(0, 60, 1, 4).select(col("id"),
      text(concat_ws(" ", lit("the quick brown fox jumps over the lazy dog"),
        (col("id") % 10).cast("string"), lit("and then some more words"),
        (col("id") % 7).cast("string"))).as("text"))

  private val plainText = (t: org.apache.spark.sql.Column) => t

  test("containmentPairs releases its caches when a job throws") {
    val failing = docs(t => when(col("id") === 17, raise_error(lit("boom"))).otherwise(t))
    val before = cachedEntries
    val rddsBefore = persistedRdds
    for (op <- Seq(() => Dedup.containmentPairs(failing, cfg, tau = 0.6),
                   () => Dedup.exactJaccardPairsPrefix(failing, cfg))) {
      val e = intercept[Exception](op().count())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("boom")), e)
    }
    assert(cachedEntries == before, "a persisted table leaked on the failure path")
    assert(persistedRdds == rddsBefore, "a persisted RDD leaked on the failure path")
    assert(frequencyTables.isEmpty, "the frequency table broadcast leaked on the failure path")
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
}
