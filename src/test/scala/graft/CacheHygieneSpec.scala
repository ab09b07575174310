package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, DedupConfig}
import graft.store.SeenFilter
import graft.streaming.IncrementalIngest

/** Resource hygiene of the materializing operators: every cache an
  * operator persists for its own use is released before it returns —
  * on success and when one of its jobs throws. `Dedup.pairs` is out of
  * scope: its shingle cache is documented to live for the session.
  */
class CacheHygieneSpec extends SparkSpecBase {
  private val cfg = DedupConfig()

  private def cachedEntries: Int = org.apache.spark.sql.CacheProbe.cachedEntries(spark)

  /** Runs `op`, forces its result, and asserts that the session holds
    * exactly the cache entries it held before.
    */
  private def assertNoLeak(name: String)(op: => Unit): Unit = {
    val before = cachedEntries
    op
    assert(cachedEntries == before, s"$name left a persisted table behind")
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
    val e = intercept[Exception] {
      Dedup.containmentPairs(failing, cfg, tau = 0.6).count()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("boom")), e)
    assert(cachedEntries == before, "a persisted table leaked on the failure path")
  }

  test("materializing pair operators release their caches") {
    val d = docs(plainText)
    assertNoLeak("pairsMaterialized") {
      assert(Dedup.pairsMaterialized(d, cfg).count() > 0)
    }
    assertNoLeak("exactJaccardPairsPrefix") {
      assert(Dedup.exactJaccardPairsPrefix(d, cfg).count() > 0)
    }
    assertNoLeak("containmentPairs") {
      assert(Dedup.containmentPairs(d, cfg, tau = 0.6).count() > 0)
    }
  }

  test("SeenFilter.notSeen and IncrementalIngest.processBatch release their caches") {
    val spark2 = spark
    import spark2.implicits._
    val store = (0L until 300L).filter(_ % 3 == 0).toDF("id")
    val fresh = (0L until 100L).toDF("id")
    val bloom = SeenFilter.build(store, col("id"), expectedKeys = 100L, fpp = 0.2)
    assertNoLeak("SeenFilter.notSeen") {
      assert(SeenFilter.notSeen(fresh, col("id"), bloom, store, col("id")).count() == 66)
    }
    val workDir = Files.createTempDirectory("graft-hygiene").toString
    def batch(upTo: Long) = docs(plainText).where(col("id") < upTo)
      .select(col("id").cast("string").as("id"), col("text"))
    val state = new IncrementalIngest.IngestState
    assertNoLeak("IncrementalIngest.processBatch") {
      // two batches: the second runs the seen filter against the store
      IncrementalIngest.processBatch(batch(40L), 0L, cfg, workDir, state = state)
      IncrementalIngest.processBatch(batch(60L), 1L, cfg, workDir, state = state)
    }
    assert(IncrementalIngest.signatures(spark, workDir, cfg).count() == 60)
  }
}
