package graft

import org.apache.spark.sql.functions._
import graft.pipeline.ConnectedComponents
import graft.queries.Serving

/** Graph-query tests with hand-crafted fixtures — copies the reference's
  * DAO test topologies (`server/tests/db/access/test_matches_dao.py:67-214`):
  * chain hops, distance bands, a long double chain with a shortcut
  * (cycle safety), and edge-set extraction.
  */
class ServingAndGraphSpec extends SparkSpecBase {
  import org.apache.spark.sql.{DataFrame}

  private def edgeDf(edges: Seq[(Long, Long, Double)]): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    edges.toDF("id_a", "id_b", "similarity")
  }
  private def docDf(ids: Seq[Long]): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    ids.toDF("id")
  }

  // two 4-node chains hanging off a source (reference fixture shape)
  private val chains = Seq[(Long, Long, Double)](
    (0L, 1L, 0.9), (1L, 2L, 0.9), (2L, 3L, 0.9), (3L, 4L, 0.9),
    (0L, 11L, 0.9), (11L, 12L, 0.9), (12L, 13L, 0.9), (13L, 14L, 0.9))

  test("n-hop frontiers hop by hop (reference matches_dao chain fixture)") {
    val e = edgeDf(chains)
    def hopsAt(k: Int): Map[Long, Int] =
      Serving.nHopCluster(e, 0L, k).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(hopsAt(0) == Map(0L -> 0))
    assert(hopsAt(1) == Map(0L -> 0, 1L -> 1, 11L -> 1))
    assert(hopsAt(2) == Map(0L -> 0, 1L -> 1, 11L -> 1, 2L -> 2, 12L -> 2))
    assert(hopsAt(4).keySet == Set(0L, 1L, 2L, 3L, 4L, 11L, 12L, 13L, 14L))
  }

  test("distance band filters edges before expansion (short vs long band)") {
    val e = edgeDf(Seq((0L, 1L, 0.1), (1L, 2L, 0.9)))
    val close = Serving.nHopCluster(e, 0L, 3, minSim = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(close == Set(0L)) // 0-1 edge excluded by band
    val all = Serving.nHopCluster(e, 0L, 3)
      .collect().map(_.getLong(0)).toSet
    assert(all == Set(0L, 1L, 2L))
  }

  test("cycle safety: 100-hop double chain with shortcut terminates with min hops") {
    val chain = (0L until 100L).map(i => (i, i + 1, 0.9))
    val shortcut = Seq((0L, 100L, 0.9))
    val e = edgeDf(chain ++ shortcut)
    val res = Serving.nHopCluster(e, 0L, 5).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(res(100L) == 1) // via shortcut, not 100 hops
    assert(res(5L) == 5)
    assert(res(99L) == 2) // 0 -> 100 -> 99
  }

  test("counts pass: total/related/duplicates/unique with thresholds") {
    val docs = docDf(Seq(1L, 2L, 3L, 4L, 5L))
    val e = edgeDf(Seq((1L, 2L, 0.95), (2L, 3L, 0.6)))
    val r = Serving.counts(docs, e, relatedMin = 0.5, dupMin = 0.8).head
    assert(r.getLong(0) == 5)  // total
    assert(r.getLong(1) == 3)  // related: 1,2,3
    assert(r.getLong(2) == 2)  // duplicates: 1,2
    assert(r.getLong(3) == 2)  // unique: 4,5
  }

  test("listByMatchCount: deterministic ordering + offset/limit") {
    val docs = docDf(Seq(1L, 2L, 3L, 4L))
    val e = edgeDf(Seq((1L, 2L, 0.9), (1L, 3L, 0.9), (2L, 3L, 0.9)))
    val page1 = Serving.listByMatchCount(docs, e, limit = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(page1.toSeq == Seq((1L, 2L), (2L, 2L)))
    val page2 = Serving.listByMatchCount(docs, e, limit = 2, offset = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(page2.toSeq == Seq((3L, 2L), (4L, 0L)))
    // DUPLICATES-sort threshold (files.py:141-147): only close matches
    // count — edge (1,2) at 0.95 survives minSim=0.92, the 0.9s drop
    val e2 = edgeDf(Seq((1L, 2L, 0.95), (1L, 3L, 0.9), (2L, 3L, 0.9)))
    val dup = Serving.listByMatchCount(docs, e2, limit = 4, minSim = 0.92)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dup.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 0L), (4L, 0L)))
  }

  test("connected components on disjoint unions, chains, cliques (local AND distributed paths)") {
    def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val spark2 = spark
      import spark2.implicits._
      val local = ConnectedComponents.run(edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = ConnectedComponents.run(edges.toDF("src", "dst"), localThreshold = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == dist, "local fast path must equal distributed path")
      local
    }
    // two components: {1,2,3} chain and {10,11} edge
    assert(cc(Seq((1L, 2L), (2L, 3L), (10L, 11L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // clique + reversed edge directions + duplicates
    assert(cc(Seq((5L, 4L), (4L, 3L), (3L, 5L), (5L, 4L))) ==
      Map(3L -> 3L, 4L -> 3L, 5L -> 3L))
    // long path (log^2 convergence exercised)
    val path = (0L until 50L).map(i => (i, i + 1))
    val got = cc(path)
    assert(got.values.toSet == Set(0L) && got.size == 51)
  }

  test("connected components: the edge count observed in the checkpoint job equals count() and picks the path") {
    val spark2 = spark
    import spark2.implicits._
    // reversed duplicates and self-loops, which the canonical edges drop
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 3L), (10L, 11L), (11L, 10L), (5L, 5L))
      .toDF("src", "dst")
    val (e, (n, h)) = ConnectedComponents.canonicalEdges(edges)
    assert(n == 3 && n == e.count())
    assert((n, h) == graft.store.TxLog.contentFingerprint(e, Seq(col("u"), col("v"))))
    def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectFirst {
        case m: org.apache.spark.sql.catalyst.plans.logical.MapPartitions => m
      }.nonEmpty
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    for ((threshold, local) <- Seq(ConnectedComponents.LocalThreshold -> true,
        n -> true, (n - 1) -> false, 0L -> false)) {
      val out = ConnectedComponents.run(edges, localThreshold = threshold)
      assert(isLocal(out) == local, s"localThreshold=$threshold")
      assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == want)
    }
    // no edge at all: the empty checkpoint job still reports its count
    val (none, (n0, h0)) = ConnectedComponents.canonicalEdges(edges.where(lit(false)))
    assert(n0 == 0 && h0 == 0L && none.isEmpty)
  }

  test("connected components (property): random sparse-id graphs match a local union-find") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(fuzzSeed(20260819L))
    for (trial <- 0 until 5) {
      val n = 30 + rnd.nextInt(50)
      // sparse, shuffled ids — the label-by-min convention must hold on
      // arbitrary Long domains, not just dense 0..n
      val ids = rnd.shuffle((0 until 4 * n).toVector).take(n)
        .map(_.toLong * 1000003L + 7L)
      // ~n random edges (mixed density: isolated nodes, trees, cycles)
      // plus deliberate self-loops and duplicates, which run() must drop
      val m = n / 2 + rnd.nextInt(n)
      val raw = Vector.fill(m)((ids(rnd.nextInt(n)), ids(rnd.nextInt(n)))) ++
        Vector((ids(0), ids(0)), (ids(1), ids(1))) // self-loops
      val edges = (raw ++ raw.take(3)).toDF("src", "dst") // duplicates

      // model: union-find over non-self-loop edges, label = min member
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      raw.filter(e => e._1 != e._2).foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(x => x -> find(x)).toMap

      val dist = ConnectedComponents.run(edges, localThreshold = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val local = ConnectedComponents.run(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist == expected,
        s"trial=$trial n=$n m=$m: distributed CC diverges from union-find " +
          s"(only-in-cc=${dist.toSet -- expected.toSet} only-in-model=${expected.toSet -- dist.toSet})")
      assert(local == expected, s"trial=$trial: local fast path diverges from union-find")
    }
  }
}
