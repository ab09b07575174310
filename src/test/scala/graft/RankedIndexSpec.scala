package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.corpus.SynthCorpus
import graft.functions.Kernels
import graft.pipeline.{Dedup, DedupConfig}

/** The ranked inverted index behind the prefix-filter joins has two
  * paths, picked by `spark.sql.autoBroadcastJoinThreshold`: a narrow
  * ranking against a broadcast frequency table, and the join-back plus
  * per-doc window. Both must give the same rows and the same pairs; the
  * broadcast path must also run fewer Spark jobs.
  */
class RankedIndexSpec extends SparkSpecBase {
  private val cfg = DedupConfig()
  private val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
  private val broadcastBytes = 64L << 20

  private def withThreshold[T](bytes: Long)(body: => T): T = {
    val prev = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, bytes.toString)
    try body finally spark.conf.set(thresholdKey, prev)
  }

  /** The ranked rows sorted, and whether they came from the broadcast
    * path (a frequency table is broadcast while they are read).
    */
  private def rankedRows(docs: DataFrame): (Seq[(Any, Int, Long, Long, Int)], Boolean) =
    Dedup.withRankedIndex(Dedup.shingleSets(docs, cfg)) { r =>
      assert(r.rows.columns.toSeq == Seq("id", "c", "h", "df", "rn"))
      val rows = r.rows.collect().toSeq
        .map(x => (x.get(0), x.getInt(1), x.getLong(2), x.getLong(3), x.getInt(4)))
        .sortBy(x => (x._1.toString, x._5))
      assert(r.maxDf == (0L +: rows.map(_._4)).max)
      (rows, org.apache.spark.sql.CacheProbe.broadcastsHolding(classOf[Kernels.DfTable]).nonEmpty)
    }

  private def pairs(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** Every output of the prefix family on `docs` by name — ranked rows,
    * Jaccard pairs at two thresholds, containment pairs plain and with
    * every shared shingle salted — under both paths; asserts they agree
    * and returns the broadcast path's.
    */
  private def assertPathsAgree(name: String, docs: DataFrame): Map[String, Iterable[Any]] = {
    def outputs(threshold: Long, broadcastPath: Boolean) = withThreshold(threshold) {
      val (rows, tookBroadcast) = rankedRows(docs)
      assert(tookBroadcast == broadcastPath, s"$name: threshold $threshold took the wrong path")
      Map[String, Iterable[Any]](
        "ranked rows" -> rows,
        "jaccard 0.5" -> pairs(Dedup.exactJaccardPairsPrefix(docs, cfg)),
        "jaccard 0.3" -> pairs(Dedup.exactJaccardPairsPrefix(docs, cfg.copy(threshold = 0.3))),
        "containment" -> pairs(Dedup.containmentPairs(docs, cfg, tau = 0.6)),
        "salted containment" -> pairs(Dedup.containmentPairs(docs, cfg, tau = 0.6,
          hotCap = 1, saltBuckets = 3)))
    }
    val joinBack = outputs(-1L, broadcastPath = false)
    val broadcast = outputs(broadcastBytes, broadcastPath = true)
    for ((what, rows) <- broadcast)
      assert(rows == joinBack(what), s"$name: $what differ between the paths")
    broadcast
  }

  test("ranked index: broadcast and join-back paths agree on the boilerplate skew fixture") {
    val (pages, _) = SynthCorpus.generate(spark, seed = 31L, nBase = 120,
      dupRate = 0.25, skewBoilerplate = true)
    val out = assertPathsAgree("skew fixture", Dedup.fromPages(pages).localCheckpoint(true))
    assert(out.values.forall(_.nonEmpty), out.map { case (k, v) => s"$k: ${v.size}" })
  }

  test("ranked index: broadcast and join-back paths agree on small-vocabulary random corpora") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(fuzzSeed(9090L))
    // six words: heavy df ties, so the hash tie-break decides most ranks;
    // lengths from 0 tokens, so docs below minTokens drop on both paths
    val vocab = Array("a", "b", "c", "d", "e", "f")
    for (trial <- 0 until 3) {
      val docs = (1 to 15 + rnd.nextInt(15)).map { i =>
        (i.toLong, Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }.toDF("id", "text")
      assert(assertPathsAgree(s"trial $trial", docs)("ranked rows").nonEmpty)
    }
    // every doc below minTokens: no shingle at all
    val empty = Seq((1L, ""), (2L, "a b"), (3L, "c")).toDF("id", "text")
    assert(assertPathsAgree("all-empty corpus", empty).values.forall(_.isEmpty))
  }

  test("ranked index: the broadcast budget holds a table sized for every shingle occurrence") {
    val spark2 = spark
    import spark2.implicits._
    // 16 docs x 2 shingles: 32 occurrences need 64 slots, the 2 distinct
    // shingles only 16, so the two sizes would flip the path at different
    // budgets
    val docs = (1 to 16).map(i => (i.toLong, "a b c d")).toDF("id", "text")
    val occurrences = Dedup.shingleSets(docs, cfg).select(sum(size(col("shingles")))).head.getLong(0)
    assert(occurrences == 32)
    val bytes = Kernels.DfTable.bytes(occurrences)
    assert(bytes == 12 * 64 && Kernels.DfTable.bytes(2) < bytes)
    assert(withThreshold(bytes)(rankedRows(docs)._2))
    assert(!withThreshold(bytes - 1)(rankedRows(docs)._2))
    assert(Kernels.DfTable.bytes(1L << 29) == 12L << 30)
    assert(Kernels.DfTable.bytes((1L << 29) + 1) == Long.MaxValue)
  }

  test("prefix joins: the broadcast path runs fewer jobs and no eager head; the join-back path no more") {
    val (pages, _) = SynthCorpus.generate(spark, seed = 31L, nBase = 120,
      dupRate = 0.25, skewBoilerplate = true)
    val docs = Dedup.fromPages(pages).localCheckpoint(true)
    def jobs(threshold: Long) = withThreshold(threshold) {
      Seq(
        jobNamesDuring(Dedup.exactJaccardPairsPrefix(docs, cfg))._2,
        jobNamesDuring(Dedup.containmentPairs(docs, cfg, 0.6, hotCap = 8, saltBuckets = 4))._2,
        jobNamesDuring(Dedup.containmentPairs(docs, cfg, 0.6))._2)
    }
    val names = Seq("exactJaccardPairsPrefix", "containmentPairs (hot)", "containmentPairs (cold)")
    // the former design (frequency join-back and window on both paths,
    // cached shingle/prefix/ranked tables, containmentPairs' eager
    // max(df) head) ran 11, 13 and 12 jobs here at the session's
    // threshold, and 15, 18 and 16 at -1
    for ((got, (name, most)) <- jobs(10L << 20).zip(names.zip(Seq(7, 8, 7)))) {
      assert(got.size <= most, s"$name: ${got.size} jobs: ${got.mkString(" | ")}")
      assert(!got.exists(_.startsWith("head at Dedup.scala")), s"$name: ${got.mkString(" | ")}")
    }
    for ((got, (name, most)) <- jobs(-1L).zip(names.zip(Seq(11, 14, 12)))) {
      assert(got.size <= most, s"$name at -1: ${got.size} jobs: ${got.mkString(" | ")}")
      assert(!got.exists(_.startsWith("head at Dedup.scala")), s"$name: ${got.mkString(" | ")}")
    }
  }
}
