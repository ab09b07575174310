package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.corpus.SynthCorpus
import graft.pipeline.{Dedup, DedupConfig, ExactSubstring}
import graft.queries.Serving

/** Operators that read a count off the checkpoint they just filled (the
  * row count `pipeline.checkpointed` observes in its own job) instead of
  * running a second job for it, on the boilerplate skew fixture. Their
  * rows are checked against driver-side references.
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
}
