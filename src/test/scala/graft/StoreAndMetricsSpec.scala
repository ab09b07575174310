package graft

import graft.queries.Metrics
import graft.store.{TxEntry, TxLog}

/** The store's batch-fold model over the raw transaction log (reference
  * `tests/winnow/storage/test_db_result_storage.py:66-93`: write->check,
  * update->check, no entity duplication) and metric-harness checks.
  */
class StoreAndMetricsSpec extends SparkSpecBase {

  test("randomized op sequence matches a batch-fold model (upsert/redeliver/compact/vacuum/time-travel)") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(java.nio.file.Files.createTempDirectory("graft-log-rand").toString)
    val rnd = new scala.util.Random(fuzzSeed(20260819L))
    val keySpace = (0 until 12).map(i => f"k$i%02d")

    // exact model: the store's rows are the multiset union of the live
    // batches' rows. A batch commit replaces the live entries of its
    // batch id (`replaceBatch`), so a redelivered batch replaces itself.
    // A rewrite (one `commitReplace` of the whole snapshot, as the
    // ingest stores compact) keeps the rows and tags them -1, after
    // which redelivering an older batch id would add its rows again —
    // so redelivery is restricted to ids committed since the last
    // rewrite. (The streaming writer obeys the same discipline: batch
    // ids are monotone and a replay carries the same content.)
    val batches = scala.collection.mutable.SortedMap.empty[Long, Seq[(String, Int)]]
    val redeliverable = scala.collection.mutable.Set.empty[Long]
    def view: Seq[(String, Int)] = batches.values.flatten.toSeq.sorted
    def randomContent(): Seq[(String, Int)] =
      rnd.shuffle(keySpace).take(1 + rnd.nextInt(5))
        .map(k => k -> rnd.nextInt(1000))
    def upsert(b: Long, content: Seq[(String, Int)]): Long = {
      val dir = log.newDataDir()
      content.toDF("k", "v").write.parquet(dir.getPath)
      log.commitAppend(Seq(TxEntry(log.relativize(dir), b,
        rows = TxLog.footerRowCount(dir))), replaceBatch = Some(b))
    }
    def rewrite(): Boolean = {
      val snap = log.snapshot()
      val dir = log.newDataDir()
      log.readSnapshot(spark, snap).write.parquet(dir.getPath)
      log.commitReplace(Seq(TxEntry(log.relativize(dir), -1L,
        rows = TxLog.footerRowCount(dir))), snap.version)
    }
    def check(df: org.apache.spark.sql.DataFrame, expect: Seq[(String, Int)],
              what: String): Unit = {
      val got = df.collect().map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
      assert(got == expect, s"$what: got $got want $expect")
    }

    // pinned versions recorded as we go; all manifests retained below
    // (keepVersions far above the op count), so every recorded version
    // must reconstruct exactly at the end
    val pinned = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[(String, Int)])]

    upsert(0L, { val c = randomContent(); batches(0L) = c; redeliverable += 0L; c })
    var step = 1L
    (1 to 21).foreach { _ =>
      rnd.nextInt(10) match {
        case n if n <= 5 => // fresh batch, monotone batch id
          val c = randomContent()
          val v = upsert(step, c)
          batches(step) = c; redeliverable += step
          if (rnd.nextInt(3) == 0) pinned += ((v, view))
          step += 1
        case 6 | 7 if redeliverable.nonEmpty => // redeliver with new content
          val b = rnd.shuffle(redeliverable.toSeq).head
          val c = randomContent()
          upsert(b, c)
          batches(b) = c
        case 8 => // rewrite: row-preserving, collapses the batch history
          assert(rewrite(), "an uncontended rewrite lost its CAS")
          val v = view
          batches.clear(); batches(-1L) = v
          redeliverable.clear()
        case _ => // vacuum with everything retained: must change nothing
          log.vacuum(keepVersions = 1000)
      }
      check(log.read(spark).get, view, s"after step $step")
      assert(log.snapshot().rowCount.contains(view.size.toLong),
        s"manifest row count after step $step")
    }
    // time travel: every pinned pre/post-rewrite version reconstructs
    pinned.foreach { case (v, expect) =>
      check(log.readSnapshot(spark, log.snapshotAt(v)), expect, s"snapshotAt($v)")
    }
    // and a final rewrite + vacuum leaves exactly the live view
    assert(rewrite())
    log.vacuum(keepVersions = 1, orphanGraceMs = 0L)
    assert(log.snapshot().entries.size == 1 && log.versionCount() == 1)
    check(log.read(spark).get, view, "after final rewrite")
  }

  test("mAP: perfect ranking = 1.0; worst ranking < 1; no-truth queries excluded") {
    val spark2 = spark
    import spark2.implicits._
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("query_id", "neighbor_id")
    val perfect = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 99L, 3),
      (2L, 20L, 1), (2L, 98L, 2),
      (3L, 97L, 1) // no truth for query 3 -> excluded from the mean
    ).toDF("query_id", "neighbor_id", "rank")
    assert(math.abs(Metrics.meanAveragePrecision(perfect, truth) - 1.0) < 1e-12)

    val bad = Seq(
      (1L, 99L, 1), (1L, 10L, 2), (1L, 11L, 3),
      (2L, 98L, 1), (2L, 20L, 2)
    ).toDF("query_id", "neighbor_id", "rank")
    val m = Metrics.meanAveragePrecision(bad, truth)
    // AP(q1) = (1/2 + 2/3)/2 = 0.5833..; AP(q2) = 0.5; mean = 0.5417
    assert(math.abs(m - ((0.5 + 2.0 / 3) / 2 + 0.5) / 2) < 1e-9)
  }

  test("mAP: unretrieved truth pairs lower the score; zero-recall query scores 0") {
    val spark2 = spark
    import spark2.implicits._
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("query_id", "neighbor_id")
    // q1 retrieves only one of its two relevants (at rank 1); q2
    // retrieves nothing relevant at all
    val partial = Seq(
      (1L, 10L, 1), (1L, 99L, 2),
      (2L, 98L, 1)
    ).toDF("query_id", "neighbor_id", "rank")
    val m = Metrics.meanAveragePrecision(partial, truth)
    // AP(q1) = (1/1) / 2 relevants = 0.5; AP(q2) = 0 -> mean 0.25
    assert(math.abs(m - 0.25) < 1e-12,
      s"missed relevants must be penalized, got $m")
  }

  test("PR curve: 21-point interpolated precision, zero-recall queries count, exact grid boundaries hit") {
    val spark2 = spark
    import spark2.implicits._
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 20L), (3L, 30L))
      .toDF("query_id", "neighbor_id")
    val ranked = Seq(
      // q1: hits at ranks 1 and 3 -> prec 1.0 @ recall 0.5 (EXACTLY the
      // i=10 grid point: 20*1 >= 10*2), prec 2/3 @ recall 1.0
      (1L, 10L, 1), (1L, 99L, 2), (1L, 11L, 3),
      // q2: hit at rank 2 -> prec 0.5 @ recall 1.0
      (2L, 98L, 1), (2L, 20L, 2),
      // q3: zero recall -> contributes 0 at every level
      (3L, 97L, 1)
    ).toDF("query_id", "neighbor_id", "rank")
    val curve = Metrics.prCurve(ranked, truth)
    assert(curve.size == 21)
    assert(curve.head == 1.0, "recall-0 point is pinned at 1.0")
    // levels 0.05..0.50: mean(1.0, 0.5, 0) = 0.5 — the boundary level
    // 0.50 must still see q1's rank-1 cut (integer grid comparison)
    (1 to 10).foreach(i => assert(math.abs(curve(i) - 0.5) < 1e-12,
      s"level ${i * 0.05}: ${curve(i)}"))
    // levels 0.55..1.00: mean(2/3, 0.5, 0) = 7/18
    (11 to 20).foreach(i => assert(math.abs(curve(i) - 7.0 / 18) < 1e-12,
      s"level ${i * 0.05}: ${curve(i)}"))
    // protocol shape: bounded and non-increasing along the recall grid
    curve.foreach(p => assert(p >= 0.0 && p <= 1.0))
    curve.sliding(2).foreach {
      case Seq(a, b) => assert(a >= b - 1e-12)
      case _         => ()
    }
  }

  test("pair precision/recall") {
    val spark2 = spark
    import spark2.implicits._
    val truth = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val pred = Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val (p, r) = Metrics.pairPrecisionRecall(pred, truth)
    assert(p == 0.5 && r == 0.5)
  }

  test("randomized PR curve matches an in-memory reference model") {
    val spark2 = spark
    import spark2.implicits._

    // straight-line restatement of the protocol: per query with truth,
    // interpolated max precision over cuts reaching each grid recall
    // (0 when never reached), mean over queries, recall-0 pinned at 1
    def refCurve(ranked: Seq[(Long, Long, Int)],
                 truth: Set[(Long, Long)]): Seq[Double] = {
      val queries = truth.map(_._1).toSeq.sorted
      val perQ = queries.map { q =>
        val nTrue = truth.count(_._1 == q)
        var cum = 0
        val cuts = ranked.filter(_._1 == q).sortBy(_._3).map {
          case (_, n, rank) =>
            if (truth((q, n))) cum += 1
            (cum, rank)
        }
        (1 to 20).map { i =>
          val reaching = cuts.filter { case (c, _) => 20 * c >= i * nTrue }
          if (reaching.isEmpty) 0.0
          else reaching.map { case (c, r) => c.toDouble / r }.max
        }
      }
      1.0 +: (1 to 20).map(i => perQ.map(_(i - 1)).sum / perQ.size)
    }

    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val nQ = 1 + rnd.nextInt(7)
      val pool = (0L until 25L).toVector
      val truth = (1L to nQ).flatMap { q =>
        rnd.shuffle(pool).take(rnd.nextInt(6)).map(n => (q, n))
      }.toSet
      val ranked = (1L to nQ).flatMap { q =>
        rnd.shuffle(pool).take(rnd.nextInt(12))
          .zipWithIndex.map { case (n, i) => (q, n, i + 1) }
      }
      if (truth.nonEmpty) {
        val curve = Metrics.prCurve(
          ranked.toDF("query_id", "neighbor_id", "rank"),
          truth.toSeq.toDF("query_id", "neighbor_id"))
        val expect = refCurve(ranked, truth)
        assert(curve.size == 21 && expect.size == 21)
        curve.zip(expect).zipWithIndex.foreach { case ((got, exp), i) =>
          assert(math.abs(got - exp) < 1e-12,
            s"seed $seed level ${i * 0.05}: got $got expected $exp")
        }
      }
    }
  }
}
