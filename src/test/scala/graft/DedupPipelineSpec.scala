package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{ConnectedComponents, Dedup, DedupConfig}

/** End-to-end pipeline checks against the driver's deterministic corpus
  * plus an in-test brute-force oracle (the reference's test style:
  * stage-cardinality + exact-set oracles, `tests/general_tests.py:40-150`).
  */
class DedupPipelineSpec extends SparkSpecBase {
  private lazy val docs =
    Dedup.fromDocuments(spark.read.parquet(s"$sfDir/documents.parquet")).cache()
  private val cfg = DedupConfig()

  /** Brute-force exact word-k-gram Jaccard pairs (trusted oracle). */
  private def bruteForcePairs(threshold: Double): Set[(Long, Long, Double)] = {
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val sets = rows.map { case (id, text) =>
      val w = text.split(" ")
      id -> w.sliding(cfg.shingleK).filter(_.length == cfg.shingleK)
        .map(_.mkString(" ")).toSet
    }.toMap
    (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a < b
      inter = (sa & sb).size.toDouble
      j = inter / (sa.size + sb.size - inter) if j >= threshold
    } yield (a, b, j)).toSet
  }

  test("LSH pipeline pair set == brute-force exact-jaccard pairs (recall and precision 1.0 at threshold 0.5)") {
    val got = Dedup.pairsMaterialized(docs, cfg).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = bruteForcePairs(cfg.threshold)
    assert(want.nonEmpty, "corpus should contain planted near-duplicates")
    val gotKeys = got.map(t => (t._1, t._2))
    val wantKeys = want.map(t => (t._1, t._2))
    val recall = (gotKeys & wantKeys).size.toDouble / wantKeys.size
    assert(recall >= 0.99, s"recall $recall < 0.99; missing ${wantKeys -- gotKeys}")
    assert(gotKeys == wantKeys, s"extra pairs: ${gotKeys -- wantKeys}")
    // exact jaccard values agree
    val wantMap = want.map(t => (t._1, t._2) -> t._3).toMap
    got.foreach { case (a, b, j) =>
      assert(math.abs(j - wantMap((a, b))) < 1e-12)
    }
  }

  test("salted candidate join produces the identical pair set") {
    val plain = Dedup.pairsMaterialized(docs, cfg).select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // hotCap = 1: every band shared by two or more docs takes the salted
    // hot branch, so every candidate pair comes out of the salted join
    val shingled = Dedup.shingleSets(docs, cfg)
    val bands = Dedup.bandTable(Dedup.validSignatures(Dedup.signatures(shingled, cfg)), cfg)
    val salted = Dedup.verifiedPairs(
        Dedup.candidatePairsSkewAware(bands, hotCap = 1, saltBuckets = 5), shingled, cfg)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.nonEmpty)
    assert(plain == salted)
  }

  test("clusters = connected components of pair graph, id = min member (sequential union-find oracle)") {
    val pairEdges = Dedup.pairsMaterialized(docs, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // sequential union-find oracle
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairEdges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    val got = Dedup.clusters(Dedup.pairsMaterialized(docs, cfg))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
  }

  test("cluster assignment invariant across shuffle-partition settings") {
    val p = Dedup.pairsMaterialized(docs, cfg)
    val base = Dedup.clusters(p).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val re = Dedup.clusters(p.repartition(17)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(base == re)
  }

  test("exact duplicates: hash-groupBy agrees with text equality") {
    val d = Dedup.exactDuplicates(docs)
    assert(d.agg(sum("n_docs")).head.getLong(0) == docs.count())
  }

  test("simhash block-join pairs are complete for hamming <= blocks-1") {
    val sigs = Dedup.signatures(Dedup.shingleSets(docs, cfg), cfg).cache()
    val got = Dedup.simhashPairs(sigs, hammingMax = 3, blocks = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force oracle over collected simhashes
    val fps = sigs.select("id", "simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      if java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (a, b)).toSet
    assert(got == want)
  }

  test("kernelParallel plans its parallelism floor without running a job") {
    val p = spark.sparkContext.defaultParallelism
    // a shuffled frame: `.rdd.getNumPartitions` would run the shuffle
    // under adaptive execution, which coalesces it to fewer partitions
    val grouped = spark.range(0, 1000).groupBy((col("id") % 10).as("k")).count()
    val (g, groupedJobs) = jobsDuring(Dedup.kernelParallel(grouped))
    assert(groupedJobs == 0, s"kernelParallel ran $groupedJobs job(s)")
    assert(g.rdd.getNumPartitions == p, "the shuffled frame must be floored")
    assert(g.collect().toSet == grouped.collect().toSet)
    // a one-split input is raised to the floor; a wide one is kept
    val (narrow, narrowJobs) = jobsDuring(Dedup.kernelParallel(spark.range(0, 100, 1, 1).toDF()))
    assert(narrowJobs == 0 && narrow.rdd.getNumPartitions == p)
    val wide = spark.range(0, 100, 1, p).toDF()
    assert(jobsDuring(Dedup.kernelParallel(wide)) == ((wide, 0)))
    val scan = spark.read.parquet(s"$sfDir/documents.parquet")
    val (floored, scanJobs) = jobsDuring(Dedup.kernelParallel(scan))
    assert(scanJobs == 0 && floored.rdd.getNumPartitions >= p)
  }
}
