package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, DedupConfig}
import graft.streaming.IncrementalIngest

/** Resource hygiene of the materializing operators: every cache an
  * operator persists for its own use is released before it returns —
  * on success and when one of its jobs throws. The lazy `Dedup.pairs`
  * caches nothing at all.
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
