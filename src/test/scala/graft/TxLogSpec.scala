package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.store.{TxEntry, TxLog}
import org.apache.spark.sql.DataFrame

/** Transaction-log table format: atomicity, optimistic concurrency
  * (concurrent writers never lose updates), crash-safety (orphans and
  * torn commits never corrupt reads), replace-commit conflict handling,
  * and the loud-failure contract for corrupt stores (round-2 verdict
  * items #1 and #2).
  */
class TxLogSpec extends SparkSpecBase {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Stages `df` and commits it as batch `batch`, dropping the live
    * entries of that batch id first: the log's batch-level upsert, so a
    * re-delivered batch replaces itself (the IVF centroid store commits
    * this way). Returns the committed version.
    */
  private def upsert(log: TxLog, df: DataFrame, batch: Long): Long = {
    val dir = log.newDataDir()
    df.write.parquet(dir.getPath)
    log.commitAppend(Seq(TxEntry(log.relativize(dir), batch,
      rows = TxLog.footerRowCount(dir))), replaceBatch = Some(batch),
      schemaJson = Some(df.schema.json))
  }

  /** The table as of a retained version (snapshot-isolation read). */
  private def readAsOf(log: TxLog, version: Long): DataFrame =
    log.readSnapshot(spark, log.snapshotAt(version))

  private def pairs(df: DataFrame): Set[(String, Int)] =
    df.collect().map(r => (r.getString(0), r.getInt(1))).toSet

  test("concurrent upserts from multiple threads: no lost updates, every version distinct") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-conc"))
    val nThreads = 4
    val perThread = 5
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val versions = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = (0 until nThreads).map { t =>
      new Thread(() => {
        try {
          (0 until perThread).foreach { i =>
            val batch = t * perThread + i + 1
            versions.add(upsert(log, Seq((s"k$t-$i", batch)).toDF("k", "v"), batch.toLong))
          }
        } catch { case e: Throwable => errors.add(e); () }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, s"writer errors: ${errors.toArray.mkString(", ")}")
    // every commit landed at its own version: one entry per batch, one
    // row per key
    val n = nThreads * perThread
    assert(versions.toArray.toSet == (0L until n).toSet)
    val snap = log.snapshot()
    assert(snap.entries.size == n, s"lost commits: ${snap.entries.size} of $n")
    assert(snap.entries.map(_.batch).toSet == (1L to n).toSet)
    assert(snap.version == n - 1L)
    assert(log.read(spark).get.count() == n)
  }

  test("compaction races a concurrent writer safely (replace commit aborts on conflict)") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-race"))
    def write(b: Int): Unit =
      log.writePartitionedAppend(Seq((s"k$b", b)).toDF("k", "v"),
        (col("v") % 2).cast("string"), statsCols = Nil, batch = b.toLong): Unit
    (1 to 4).foreach(write)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writer = new Thread(() => {
      try (5 to 10).foreach(write)
      catch { case e: Throwable => errors.add(e); () }
    })
    val compactor = new Thread(() => {
      try (0 until 3).foreach { _ =>
        if (log.compact(spark).nonEmpty) log.vacuum(orphanGraceMs = 60000L)
      }
      catch { case e: Throwable => errors.add(e); () }
    })
    writer.start(); compactor.start()
    writer.join(); compactor.join()
    assert(errors.isEmpty, s"errors: ${errors.toArray.mkString(", ")}")
    // no write was lost regardless of which compactions won their CAS
    assert(pairs(log.read(spark).get) == (1 to 10).map(b => (s"k$b", b)).toSet)
  }

  test("crash artifacts are invisible: orphan data dir + torn manifest tmp never corrupt reads") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmp("txlog-crash")
    val log = new TxLog(dir)
    log.writeAppend(Seq(("a", 1)).toDF("k", "v"), batch = 1L)
    val before = pairs(log.read(spark).get)

    // crash between data write and commit: orphan data directory
    val orphan = log.newDataDir()
    Seq(("ghost", 99)).toDF("k", "v").write.parquet(orphan.getPath)
    // crash mid-manifest-write: torn temp file in the log dir
    val torn = new File(s"$dir/_log/.tmp-torn")
    Files.write(torn.toPath, """{"version":7,"op":"appe""".getBytes("UTF-8"))

    assert(pairs(log.read(spark).get) == before, "uncommitted data must be invisible")
    // vacuum with zero grace reclaims both artifacts
    log.vacuum(keepVersions = 1, orphanGraceMs = 0L)
    assert(!orphan.exists(), "orphan data dir survives vacuum")
    assert(!torn.exists(), "torn manifest tmp survives vacuum")
    assert(pairs(log.read(spark).get) == before)
  }

  test("vacuum orphan age is the tree's newest mtime: an in-flight staged write past the grace window survives") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-stagedage"))
    log.writeAppend(Seq(("a", 1)).toDF("k", "v"), batch = 1L)

    // simulate a long-running Spark stage: the job writes only under
    // _temporary/ until job commit, so every path the OS timestamps at
    // write time is DEEP in the tree — the top-level dir mtime froze at
    // job start, which here is backdated past the grace window
    val staged = log.newDataDir()
    val taskDir = new File(staged, "_temporary/0/_temporary/attempt_1/")
    assert(taskDir.mkdirs())
    Files.write(new File(taskDir, "part-00000.parquet").toPath,
      Array[Byte](1, 2, 3)) // fresh mtime: the stage is actively writing
    val old = System.currentTimeMillis() - 3600L * 1000
    assert(staged.setLastModified(old))
    assert(new File(staged, "_temporary").setLastModified(old))
    assert(new File(staged, "_temporary/0").setLastModified(old))

    log.vacuum(keepVersions = 1, orphanGraceMs = 60000L)
    assert(staged.exists(),
      "vacuum deleted a staged directory whose stage is still writing " +
        "(top-level mtime is stale during a long Spark write)")

    // the converse: once the WHOLE tree is older than the grace window
    // it is a genuine crash orphan and is reclaimed
    def backdate(f: File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(backdate)
      f.setLastModified(old): Unit
    }
    backdate(staged)
    log.vacuum(keepVersions = 1, orphanGraceMs = 60000L)
    assert(!staged.exists(), "all-old crash orphan survived vacuum")
  }

  test("replace commit with a stale expected version fails and changes nothing") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-stale"))
    log.writeAppend(Seq(("a", 1)).toDF("k", "v"), batch = 1L)
    val staleVersion = log.currentVersion()
    log.writeAppend(Seq(("b", 2)).toDF("k", "v"), batch = 2L)
    val d = log.newDataDir()
    Seq(("x", 0)).toDF("k", "v").write.parquet(d.getPath)
    assert(!log.commitReplace(Seq(TxEntry(log.relativize(d), 9L)), staleVersion),
      "stale replace must lose the CAS")
    assert(pairs(log.read(spark).get) == Set(("a", 1), ("b", 2)))
  }

  test("vacuum retention: keepVersions=2 preserves the previous snapshot's files") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmp("txlog-retain")
    val log = new TxLog(dir)
    log.writeAppend(Seq(("a", 1)).toDF("k", "v"), batch = 1L)
    val oldSnap = log.snapshot()
    // a rewrite supersedes the first data directory
    val d = log.newDataDir()
    Seq(("b", 2)).toDF("k", "v").write.parquet(d.getPath)
    assert(log.commitReplace(Seq(TxEntry(log.relativize(d), 2L)), oldSnap.version))
    log.vacuum(keepVersions = 2, orphanGraceMs = 0L)
    // the previous version's manifest AND data remain readable (snapshot
    // isolation for a long-running reader)
    assert(readAsOf(log, oldSnap.version).select("k").as[String].collect().toSet == Set("a"))
    // but keepVersions=1 expires it
    log.vacuum(keepVersions = 1, orphanGraceMs = 0L)
    assert(!new File(s"$dir/_log/v${"%012d".format(oldSnap.version)}.json").exists())
    assert(!new File(dir, oldSnap.entries.head.path).exists())
    assert(pairs(log.read(spark).get) == Set(("b", 2)))
  }

  test("time travel: readAsOf reconstructs every retained version exactly") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-travel"))
    val v0 = upsert(log, Seq(("a", 1), ("b", 2)).toDF("k", "v"), batch = 1L)
    val v1 = upsert(log, Seq(("b", 3), ("c", 4)).toDF("k", "v"), batch = 2L)
    // batch 2 re-delivered with other rows replaces itself; v1 keeps it
    upsert(log, Seq(("a", 9)).toDF("k", "v"), batch = 2L)
    assert(pairs(readAsOf(log, v0)) == Set(("a", 1), ("b", 2)))
    assert(pairs(readAsOf(log, v1)) == Set(("a", 1), ("b", 2), ("b", 3), ("c", 4)))
    assert(pairs(log.read(spark).get) == Set(("a", 1), ("b", 2), ("a", 9)))
    // a vacuumed-past version fails loudly, current state unaffected
    log.vacuum(keepVersions = 1, orphanGraceMs = 0L)
    intercept[Exception] { readAsOf(log, v0).collect() }
    assert(pairs(log.read(spark).get) == Set(("a", 1), ("b", 2), ("a", 9)))
  }

  test("corrupt data file FAILS the read loudly (never classified as empty store)") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmp("txlog-corrupt")
    val log = new TxLog(dir)
    log.writeAppend(Seq(("a", 1), ("b", 2)).toDF("k", "v"), batch = 1L)
    // truncate every parquet part file in the live data dir (torn disk)
    val snap = log.snapshot()
    val live = new File(dir, snap.entries.head.path)
    val parts = live.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach(p => Files.write(p.toPath, Array[Byte](1, 2, 3)))
    // read() reports Some(corrupt) -> throws, not None
    intercept[Exception] { log.read(spark).get.collect() }
    intercept[Exception] { readAsOf(log, snap.version).collect() }
  }

  test("CheckpointStore: corrupt checkpoint table fails loudly instead of reading empty") {
    val dir = tmp("ckpt-corrupt")
    val store = new graft.pipeline.CheckpointStore(spark, dir)
    assert(store.read().count() == 0) // never-written table IS empty
    store.record("stage", "tag", Seq((0, 10L)), 1L, "d")
    assert(store.completedBuckets("stage", "tag") == Set(0))
    // corrupt the single committed data file
    val log = new TxLog(s"$dir/checkpoints")
    val live = new File(s"$dir/checkpoints", log.snapshot().entries.head.path)
    live.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(p => Files.write(p.toPath, Array[Byte](0)))
    intercept[Exception] { store.read().collect() }
    intercept[Exception] { store.completedBuckets("stage", "tag") }
  }

  test("randomized probes: manifest skipping is never lossy (range stats + point blooms)") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-rand-prune"))
    val rnd = new scala.util.Random(fuzzSeed(20260820L))
    // 10 commits × 20 rows over overlapping random id sub-ranges and a
    // small string alphabet (so probes hit some commits and miss others,
    // and bloom false positives are actually possible) — the property
    // under test is one-sided: pruning may KEEP extra entries, but every
    // entry holding a matching row must survive, and the pruned read
    // filtered row-level must equal the full read filtered row-level
    val byCommit = (0 until 10).map { c =>
      val base = rnd.nextInt(500).toLong
      val rows = Seq.fill(20)((base + rnd.nextInt(60),
        "" + ('a' + rnd.nextInt(8)).toChar + ('a' + rnd.nextInt(8)).toChar))
      log.writePartitionedAppend(rows.toDF("id", "s"), lit("p"),
        statsCols = Seq("id", "s"), batch = c, bloomCols = Seq("s"))
      c.toLong -> rows
    }.toMap
    val allRows = byCommit.values.flatten.toSeq
    val snap = log.snapshot()

    def sortedMultiset(rows: Seq[(Long, String)]): Seq[(Long, String)] =
      rows.sortBy(r => (r._1, r._2))

    (0 until 12).foreach { _ =>
      val lo = if (rnd.nextBoolean()) Some(rnd.nextInt(600).toLong) else None
      val hi = if (rnd.nextBoolean()) Some(rnd.nextInt(600).toLong) else None
      if (lo.nonEmpty || hi.nonEmpty) {
        def matches(id: Long) =
          lo.forall(id >= _) && hi.forall(id <= _)
        // entry-level: every commit holding a match is kept
        val kept = log.pruneRange(snap, "id", lo, hi).map(_.batch).toSet
        val mustKeep = byCommit.filter(_._2.exists(r => matches(r._1))).keySet
        assert(mustKeep.subsetOf(kept),
          s"range [$lo,$hi] pruned a commit holding matches: want $mustKeep kept $kept")
        // row-level: pruned read + exact predicate == full filter
        var df = log.readRange(spark, "id", lo, hi).get
        lo.foreach(v => df = df.where(col("id") >= v))
        hi.foreach(v => df = df.where(col("id") <= v))
        val got = df.select("id", "s").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
        assert(sortedMultiset(got) ==
          sortedMultiset(allRows.filter(r => matches(r._1))),
          s"range [$lo,$hi] read mismatch")
      }
    }

    (0 until 8).foreach { _ =>
      val probes = Seq.fill(1 + rnd.nextInt(3))(
        "" + ('a' + rnd.nextInt(8)).toChar + ('a' + rnd.nextInt(8)).toChar)
      val kept = log.prunePoint(snap, "s", probes).map(_.batch).toSet
      val mustKeep = byCommit.filter(_._2.exists(r => probes.contains(r._2))).keySet
      assert(mustKeep.subsetOf(kept),
        s"point IN $probes pruned a commit holding matches: want $mustKeep kept $kept")
      val got = log.readPoint(spark, "s", probes).get
        .where(col("s").isin(probes: _*)).select("id", "s").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(sortedMultiset(got) ==
        sortedMultiset(allRows.filter(r => probes.contains(r._2))),
        s"point IN $probes read mismatch")
    }
  }

  test("column stats: writePartitionedAppend stamps min/max; pruneRange skips disjoint commits, keeps stats-less ones") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-stats"))
    // three commits with disjoint id ranges + one legacy commit without stats
    def write(rows: Seq[(Long, String)]): Unit =
      log.writePartitionedAppend(rows.toDF("id", "s"), lit("p"), statsCols = Seq("id")): Unit
    write(Seq((1L, "a"), (9L, "b")))
    write(Seq((10L, "c"), (19L, "d")))
    write(Seq((20L, "e"), (29L, "f")))
    val legacyDir = log.newDataDir()
    Seq((100L, "z")).toDF("id", "s").write.parquet(legacyDir.getPath)
    log.commitAppend(Seq(TxEntry(log.relativize(legacyDir), -1L)))

    val snap = log.snapshot()
    assert(snap.entries.count(_.stats.contains("id")) == 3)
    assert(snap.entries.exists(_.stats.isEmpty)) // legacy entry round-trips

    // [12, 15] intersects only commit 2 — plus the stats-less legacy entry
    val kept = log.pruneRange(snap, "id", Some(12L), Some(15L))
    assert(kept.size == 2)
    // unknown column prunes nothing
    assert(log.pruneRange(snap, "nope", Some(0L), Some(1L)).size == 4)
    // boundary inclusivity: hi == a commit's min keeps it
    assert(log.pruneRange(snap, "id", Some(0L), Some(10L)).size == 3)

    // readRange + row filter == full read + row filter, both directions
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.where(col("id") >= 12 && col("id") <= 15)
        .collect().map(_.getLong(0)).toSet
    val pruned = log.readRange(spark, "id", Some(12L), Some(15L)).get
    assert(rows(pruned) == rows(log.read(spark).get))
    // the skip is real: fewer parquet files enter the pruned scan
    assert(pruned.inputFiles.length < log.read(spark).get.inputFiles.length)
    // fully-disjoint probe: schema survives, result is empty
    val empty = log.readRange(spark, "id", Some(500L), Some(600L)).get
    assert(empty.columns.toSeq == Seq("id", "s"))
    assert(empty.where(col("id") >= 500).count() == 0)
  }

  test("hidden-partitioned append: one entry per week, _part invisible, prune + vacuum respect subdirs") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-part"))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // Mon 2026-01-05 and Tue 2026-01-06 share a week; 01-12 and 01-19
    // are the two following Mondays -> exactly three weekly partitions
    val df = Seq((1L, ts("2026-01-05 00:00:00")), (2L, ts("2026-01-06 12:00:00")),
      (3L, ts("2026-01-12 00:00:00")), (4L, ts("2026-01-19 00:00:00"))).toDF("id", "ts")
    log.writePartitionedAppend(df,
      date_format(date_trunc("week", col("ts")), "yyyyMMdd"), statsCols = Seq("ts"))

    val snap = log.snapshot()
    assert(snap.entries.size == 3) // one manifest entry per week
    assert(snap.entries.forall(e => e.path.contains("/_part=") &&
      e.stats.contains("ts")))

    // the partition key is HIDDEN: derived at write, never a data column
    val back = log.read(spark).get
    assert(back.columns.toSeq == Seq("id", "ts"))
    assert(back.count() == 4)

    // per-week stats make range reads skip whole partitions
    val kept = log.pruneRange(snap, "ts",
      Some(ts("2026-01-11 00:00:00")), Some(ts("2026-01-13 00:00:00")))
    assert(kept.size == 1)
    val pruned = log.readRange(spark, "ts",
      Some(ts("2026-01-12 00:00:00")), Some(ts("2026-01-13 00:00:00"))).get
    assert(pruned.collect().map(_.getLong(0)).toSet == Set(3L))
    assert(pruned.inputFiles.length < back.inputFiles.length)

    // vacuum must treat the shared parent data dir as live when only
    // its _part subdirs are referenced (regression: startsWith check)
    log.writeAppend(Seq((9L, ts("2026-02-02 00:00:00"))).toDF("id", "ts"))
    log.vacuum(keepVersions = 1, orphanGraceMs = 0L)
    assert(log.read(spark).get.count() == 5)

    // non-filesystem-safe partition values fail loudly, pre-commit
    intercept[IllegalArgumentException] {
      log.writePartitionedAppend(Seq((7L, "a b/c")).toDF("id", "p"),
        col("p"), statsCols = Nil): Unit
    }
  }

  test("vacuum reclaims superseded partition subdirs inside a parent kept live by a sibling partition") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-part-reclaim"))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val weekExpr = date_format(date_trunc("week", col("ts")), "yyyyMMdd")
    // ONE write carrying two weeks -> both _part subdirs share a uuid
    // parent; a second write adds a second week-1 entry
    log.writePartitionedAppend(Seq((1L, ts("2026-01-05 00:00:00")),
      (2L, ts("2026-01-12 00:00:00"))).toDF("id", "ts"), weekExpr, Seq("ts"))
    log.writePartitionedAppend(Seq((3L, ts("2026-01-06 00:00:00"))).toDF("id", "ts"),
      weekExpr, Seq("ts"))
    val snap = log.snapshot()
    val (week1, week2) = snap.entries.partition(_.path.endsWith("_part=20260105"))
    val sharedParent = new File(log.root, week2.head.path.split("/").init.mkString("/"))
    assert(new File(sharedParent, "_part=20260105").exists())

    // a replace commit that rewrites week 1 into one new partition
    // directory supersedes sharedParent/_part=20260105, but the parent
    // stays live via _part=20260112 — the stale subdir must be
    // reclaimed, not leaked
    val staged = new File(log.newDataDir(), "_part=20260105")
    log.readEntries(spark, week1, snap.schemaJson).write.parquet(staged.getPath)
    assert(log.commitReplace(week2 :+ TxEntry(log.relativize(staged), -1L), snap.version))
    log.vacuum(orphanGraceMs = 0L)
    assert(new File(sharedParent, "_part=20260112").exists(),
      "live sibling partition must survive vacuum")
    assert(!new File(sharedParent, "_part=20260105").exists(),
      "superseded partition subdir must be reclaimed")
    assert(log.read(spark).get.collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
  }

  test("column stats: timestamp and string domains prune; escaped string bounds round-trip the manifest") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-stats-ts"))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    log.writePartitionedAppend(
      Seq((ts("2024-01-01 00:00:00"), """he said "hi"\path"""),
        (ts("2024-01-07 23:59:59"), "bbb")).toDF("ts", "s"),
      lit("p"), statsCols = Seq("ts", "s"))
    log.writePartitionedAppend(
      Seq((ts("2024-02-01 00:00:00"), "x1"),
        (ts("2024-02-07 23:59:59"), "x2")).toDF("ts", "s"),
      lit("p"), statsCols = Seq("ts", "s"))

    val snap = log.snapshot() // re-parsed from disk: escaping round-trip
    assert(snap.entries.forall(_.stats.contains("s")))
    // 'b' < 'h': commit 1's string max is the quote/backslash-laden value,
    // which must survive JSON render -> parse byte-identically
    assert(snap.entries.flatMap(_.stats.get("s"))
      .exists(_.max == """he said "hi"\path"""))
    // probe January only (timestamps encode as epoch micros)
    val jan = log.pruneRange(snap, "ts",
      Some(ts("2024-01-03 00:00:00")), Some(ts("2024-01-05 00:00:00")))
    assert(jan.size == 1)
    // string-domain probe: only commit 2's ["x1","x2"] intersects [w, z]
    // (commit 1's range ["bbb", "he said..."] ends before 'w')
    val sOnly = log.pruneRange(snap, "s", Some("w"), Some("z"))
    assert(sOnly.size == 1)
    // incomparable probe domain (long vs timestamp stats) keeps everything
    assert(log.pruneRange(snap, "ts", Some(5L), Some(6L)).size == 2)
  }

  test("column stats: non-finite double bounds are skipped at write and tolerated at read") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-stats-nan"))
    // NaN poisons max() (NaN sorts greatest): the column gets NO stats
    // rather than an unparseable "NaN" bound
    log.writePartitionedAppend(Seq((1L, Double.NaN), (2L, 0.5)).toDF("id", "v"),
      lit("p"), statsCols = Seq("id", "v"))
    val e = log.snapshot().entries.head
    assert(e.stats.contains("id"))
    assert(!e.stats.contains("v"))
    // a FOREIGN manifest carrying "NaN" bounds must degrade to
    // reading the entry, never crash the pruning pass
    val alien = log.newDataDir()
    Seq((3L, 1.0)).toDF("id", "v").write.parquet(alien.getPath)
    log.commitAppend(Seq(TxEntry(log.relativize(alien), -1L,
      Map("v" -> graft.store.ColStats("double", "NaN", "NaN")))))
    val snap = log.snapshot()
    val kept = log.pruneRange(snap, "v", Some(100.0), Some(200.0))
    assert(kept.size == 2) // both unprunable on v: no stats / NaN bounds
  }

  test("column stats: TIMESTAMP_NTZ prunes in its own wall-clock domain, zoned probes keep everything") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-stats-ntz"))
    def ntz(src: org.apache.spark.sql.DataFrame) =
      src.select(col("ts").cast("timestamp_ntz").as("ts"), col("v"))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    log.writePartitionedAppend(ntz(Seq((ts("2024-01-01 00:00:00"), 1),
      (ts("2024-01-07 00:00:00"), 2)).toDF("ts", "v")), lit("p"), statsCols = Seq("ts"))
    log.writePartitionedAppend(ntz(Seq((ts("2024-02-01 00:00:00"), 3),
      (ts("2024-02-07 00:00:00"), 4)).toDF("ts", "v")), lit("p"), statsCols = Seq("ts"))
    val snap = log.snapshot()
    assert(snap.entries.forall(_.stats.get("ts").exists(_.typ == "timestamp_ntz")))
    // wall-clock probe (LocalDateTime) prunes to the January commit
    val jan = log.pruneRange(snap, "ts",
      Some(java.time.LocalDateTime.parse("2024-01-02T00:00:00")),
      Some(java.time.LocalDateTime.parse("2024-01-05T00:00:00")))
    assert(jan.size == 1)
    // a zoned Instant probe is a DIFFERENT order — incomparable, no pruning
    val zoned = log.pruneRange(snap, "ts",
      Some(java.time.Instant.parse("2024-01-02T00:00:00Z")),
      Some(java.time.Instant.parse("2024-01-05T00:00:00Z")))
    assert(zoned.size == 2)
  }

  test("no-hardlink filesystems: commit fails loudly unless the unsafe fallback is opted into") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-nolink"))
    TxLog.simulateNoHardLinks = true
    try {
      val ex = intercept[IllegalStateException] {
        log.writeAppend(Seq(("a", 1)).toDF("k", "v"), batch = 1L)
      }
      assert(ex.getMessage.contains(TxLog.UnsafePublishFallbackProp))
      assert(!log.exists, "failed publish must not leave a manifest")
      // explicit opt-in: the single-JVM atomic-move fallback engages
      System.setProperty(TxLog.UnsafePublishFallbackProp, "true")
      try {
        log.writeAppend(Seq(("a", 1)).toDF("k", "v"), batch = 1L)
        assert(pairs(log.read(spark).get) == Set(("a", 1)))
      } finally {
        System.clearProperty(TxLog.UnsafePublishFallbackProp); ()
      }
    } finally {
      TxLog.simulateNoHardLinks = false
    }
  }

  test("schema evolution: added column null on old files, drop hides it, raw commits carry schema forward") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmp("txlog-evolve")
    val log = new TxLog(dir)
    log.writeAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    // ADD a column: old files must read it as null, not footer-roulette
    log.writeAppend(Seq((3L, "c", 0.5)).toDF("id", "s", "q"))
    val added = log.read(spark).get
    assert(added.columns.toSeq == Seq("id", "s", "q"))
    assert(added.where(col("q").isNull).count() == 2)
    assert(added.where(col("q") === 0.5).count() == 1)
    // a RAW entry commit (no schema declared) carries the evolved
    // schema forward — infra commits never erase evolution
    val legacy = log.newDataDir()
    Seq((4L, "d")).toDF("id", "s").write.parquet(legacy.getPath)
    log.commitAppend(Seq(TxEntry(log.relativize(legacy), -1L)))
    val carried = log.read(spark).get
    assert(carried.columns.toSeq == Seq("id", "s", "q"))
    assert(carried.count() == 4 && carried.where(col("q").isNull).count() == 3)
    // DROP a column: a write declaring the narrower schema hides it
    log.writeAppend(Seq((5L, 0.9)).toDF("id", "q"))
    val dropped = log.read(spark).get
    assert(dropped.columns.toSeq == Seq("id", "q"))
    assert(dropped.count() == 5)
    // time travel reads each version under ITS schema
    assert(log.readSnapshot(spark, log.snapshotAt(0L)).columns.toSeq ==
      Seq("id", "s"))
  }

  test("schema evolution: a column type change fails loudly at commit, naming the column") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmp("txlog-evolve-bad")
    val log = new TxLog(dir)
    log.writeAppend(Seq((1L, "a")).toDF("id", "s"))
    val before = log.currentVersion()
    val ex = intercept[IllegalArgumentException] {
      log.writeAppend(Seq(("oops", "b")).toDF("id", "s"))
    }
    assert(ex.getMessage.contains("'id'"))
    assert(log.currentVersion() == before, "rejected commit must not publish")
  }

  test("schema evolution: drop-then-re-add must keep the original type (column lineage)") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-lineage"))
    log.writeAppend(Seq((1L, "a")).toDF("id", "s"))
    log.writeAppend(Seq(Tuple1(2L)).toDF("id")) // drop s
    // re-adding s at a DIFFERENT type must fail at commit — the v0
    // files still carry s as a string and a pinned read would explode
    // at scan time instead
    val ex = intercept[IllegalArgumentException] {
      log.writeAppend(Seq((3L, 0.5)).toDF("id", "s"))
    }
    assert(ex.getMessage.contains("'s'"))
    // re-adding at the ORIGINAL type is fine
    log.writeAppend(Seq((3L, "c")).toDF("id", "s"))
    val back = log.read(spark).get
    assert(back.columns.toSeq == Seq("id", "s") && back.count() == 3)
    assert(back.where(col("s").isNull).count() == 1) // the dropped-era row
  }

  test("manifest robustness: string stats bounds with control characters round-trip; stale-version replace returns false") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-ctrl"))
    // a newline inside a string bound must not brick the manifest
    log.writePartitionedAppend(Seq(("a\nb\tc", 1L), ("zz", 2L)).toDF("s", "id"),
      lit("p"), statsCols = Seq("s", "id"))
    val snap = log.snapshot() // parses the manifest — must not throw
    assert(snap.entries.head.stats("s").min == "a\nb\tc")
    assert(log.pruneRange(snap, "s", Some("a"), Some("a\nz")).size == 1)
    // a replace computed against a vacuumed-away version loses the CAS
    // gracefully (false), never crashes on the missing manifest
    log.writeAppend(Seq(("q", 3L)).toDF("s", "id"))
    log.vacuum(keepVersions = 1, orphanGraceMs = 0L)
    assert(!log.commitReplace(Vector.empty, expectedVersion = 0L))
  }

  test("reserved _part guard is case-insensitive; legacy first declaration checked against footers") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-guards"))
    intercept[IllegalArgumentException] {
      log.writePartitionedAppend(Seq((1L, "x")).toDF("id", "_PART"),
        col("id").cast("string"), statsCols = Nil): Unit
    }
    // legacy store (raw commit, no schema) whose files say id:string —
    // a first declaration of id:long must be rejected, not pinned
    val legacy = new TxLog(tmp("txlog-legacy"))
    val dir = legacy.newDataDir()
    Seq(("1", "a")).toDF("id", "s").write.parquet(dir.getPath)
    legacy.commitAppend(Seq(TxEntry(legacy.relativize(dir), -1L)))
    val ex = intercept[IllegalArgumentException] {
      legacy.writeAppend(Seq((2L, "b")).toDF("id", "s"))
    }
    assert(ex.getMessage.contains("'id'"))
    // matching declaration over the same legacy store is accepted
    legacy.writeAppend(Seq(("2", "b")).toDF("id", "s"))
    assert(legacy.read(spark).get.count() == 2)
  }

  test("schema declarations: each write adds or drops columns; a re-added column keeps its first type (column lineage)") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-declare"))
    log.writeAppend(Seq((1L, "a")).toDF("id", "s"))
    // a wider frame adds a column: earlier files read it as null
    log.writeAppend(Seq((2L, "b", 0.5)).toDF("id", "s", "score"))
    val df = log.read(spark).get
    assert(df.columns.toSeq == Seq("id", "s", "score"))
    assert(df.where(col("score").isNull).count() == 1)
    // a narrower frame drops one, and the lineage survives the drop
    log.writeAppend(Seq((3L, 0.7)).toDF("id", "score"))
    assert(log.read(spark).get.columns.toSeq == Seq("id", "score"))
    val before = log.currentVersion()
    intercept[IllegalArgumentException] { // s was committed as string
      log.writeAppend(Seq((4L, 0.1, 7L)).toDF("id", "score", "s"))
    }
    assert(log.currentVersion() == before, "rejected commit must not publish")
    log.writeAppend(Seq((4L, 0.1, "d")).toDF("id", "score", "s")) // original type: fine
    val back = log.read(spark).get
    assert(back.columns.toSeq == Seq("id", "score", "s"))
    assert(back.collect().map(r => (r.getLong(0), Option(r.getString(2)))).toSet ==
      Set((1L, Some("a")), (2L, Some("b")), (3L, None), (4L, Some("d"))))
  }

  test("schema evolution through compaction: evolved table reads old entries with nulls; snapshotAt keeps the old shape") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-evolve-compact"))
    log.writePartitionedAppend(Seq(("a", 1), ("b", 2)).toDF("k", "v"),
      lit("p"), statsCols = Nil)
    val v0 = log.currentVersion()
    log.writePartitionedAppend(Seq(("b", 3, 0.7)).toDF("k", "v", "score"),
      lit("p"), statsCols = Nil)
    val now = log.read(spark).get.collect().map(r =>
      (r.getString(0), r.getInt(1), Option(r.get(2)))).toSet
    assert(now == Set(("a", 1, None), ("b", 2, None), ("b", 3, Some(0.7))))
    // time travel: the pre-evolution version keeps its own schema
    assert(readAsOf(log, v0).columns.toSeq == Seq("k", "v"))
    // compaction carries the evolved schema through the replace commit
    assert(log.compact(spark).nonEmpty)
    log.vacuum(orphanGraceMs = 60000L)
    assert(log.snapshot().entries.size == 1)
    assert(log.read(spark).get.columns.toSeq == Seq("k", "v", "score"))
    assert(log.read(spark).get.where(col("score").isNull).count() == 2)
  }

  test("vacuum age-based retention: young manifests survive count-only expiry; retainMs=0 is count-only") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-retain"))
    // retained versions, ascending (manifest files are _log/v%012d.json)
    def retained(l: TxLog): Seq[Long] =
      new File(l.root, "_log").listFiles().map(_.getName)
        .collect { case n if n.matches("""v\d{12}\.json""") => n.drop(1).take(12).toLong }
        .sorted.toSeq
    (1 to 3).foreach(i => log.writeAppend(Seq((i, s"v$i")).toDF("id", "v")): Unit)
    assert(log.versionCount() == 3)
    // all three manifests are seconds old: a 1h age guard keeps every
    // one of them even though keepVersions=1 would drop two
    log.vacuum(keepVersions = 1, orphanGraceMs = 0L, retainMs = 3600000L)
    assert(log.versionCount() == 3, "age guard must override count expiry")
    assert(log.readSnapshot(spark, log.snapshotAt(0)).count() == 1) // still readable
    // age the first two manifests artificially past the cut
    (0 to 1).foreach { v =>
      val f = new File(new File(log.root, "_log"), f"v$v%012d.json")
      assert(f.setLastModified(System.currentTimeMillis() - 7200000L))
    }
    log.vacuum(keepVersions = 1, orphanGraceMs = 0L, retainMs = 3600000L)
    assert(retained(log) == Seq(2L), "aged manifests expire")
    assert(log.read(spark).get.count() == 3)
    // retainMs = 0 behaves exactly as before (count-only)
    val log2 = new TxLog(tmp("txlog-retain0"))
    (1 to 3).foreach(i => log2.writeAppend(Seq((i, s"v$i")).toDF("id", "v")): Unit)
    log2.vacuum(keepVersions = 1, orphanGraceMs = 0L)
    assert(retained(log2) == Seq(2L))
  }

  test("schema evolution guards are case-insensitive: a case-variant re-add at another type fails at commit") {
    val spark2 = spark
    import spark2.implicits._
    // Spark resolves parquet columns case-insensitively, so a
    // case-variant re-add at a new type is a TYPE CHANGE and must fail
    // at commit, not at some later pinned scan
    val log = new TxLog(tmp("txlog-case"))
    log.writeAppend(Seq((1L, 2L)).toDF("id", "Count"))
    log.writeAppend(Seq(Tuple1(2L)).toDF("id")) // drops Count
    intercept[IllegalArgumentException] {
      log.writeAppend(Seq((3L, "s")).toDF("id", "count"))
    }
    log.writeAppend(Seq((3L, 4L)).toDF("id", "count")) // original type: fine
    intercept[IllegalArgumentException] { // case-variant of a live column
      log.writeAppend(Seq((4L, "s")).toDF("id", "COUNT"))
    }
    assert(log.read(spark).get.count() == 3)
  }

  test("Bloom point-skip: high-cardinality keys prune to the right directory where min/max cannot") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-bloom"))
    // three appends with fully INTERLEAVED key ranges: every dir's
    // min/max spans ~the whole key space, so stats alone prune nothing
    // — exactly the high-cardinality-key regime blooms exist for
    (0 until 3).foreach { r =>
      val keys = (0 until 300 by 3).map(i => f"u${i + r}%03d": String)
      val rows = keys.map(k => (k, s"payload-$k")) :+ (null, "null-key-row")
      log.writePartitionedAppend(rows.toDF("k", "v"), lit("p"),
        statsCols = Seq("k"), batch = r.toLong, bloomCols = Seq("k")): Unit
    }
    val snap = log.snapshot()
    assert(snap.entries.size == 3)
    assert(snap.entries.forall(_.blooms.contains("k")))
    // the grouped bloom build must PARTIAL-aggregate (map-side combine:
    // the exchange carries bit arrays, never the key column)
    val probe = Seq(("a", Option("k1")), ("b", Option("k2")))
      .toDS().groupByKey(_._1)
      .agg(new TxLog.BloomAgg(Map("a" -> 8192, "b" -> 8192)).toColumn)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("partial_"), s"no map-side partial in:\n$plan")
    // stats overlap on every entry: a range probe keeps all three
    assert(log.pruneRange(snap, "k", Some("u004"), Some("u004")).size == 3)
    // the bloom prunes to the single directory holding the key
    val kept = log.prunePoint(snap, "k", Seq("u004"))
    assert(kept.map(_.batch) == Vector(1L), s"kept ${kept.map(_.path)}")
    // IN-list across two dirs keeps exactly those two
    assert(log.prunePoint(snap, "k", Seq("u004", "u006"))
      .map(_.batch).toSet == Set(1L, 0L))
    // an absent key prunes everything; readPoint still yields a
    // correctly-typed empty result through its row filter
    assert(log.prunePoint(snap, "k", Seq("zzz-not-there")).isEmpty)
    val viaPoint = log.readPoint(spark, "k", Seq("zzz-not-there")).get
      .where(col("k") === "zzz-not-there")
    assert(viaPoint.columns.toSeq == Seq("k", "v") && viaPoint.count() == 0)
    // point read + row filter ≡ full-scan filter (pruning is invisible)
    val ids = Seq("u004", "u152", "u299")
    val got = log.readPoint(spark, "k", ids).get
      .where(col("k").isin(ids: _*)).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val want = log.read(spark).get
      .where(col("k").isin(ids: _*)).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == want && got.map(_._1) == ids.toSet)
  }

  test("prunePoint: entries without blooms kept; non-bloomable probe domains fall back to stats; bad keys fail loudly") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-bloom-fallback"))
    log.writePartitionedAppend(Seq((10L, "a")).toDF("id", "v"), lit("p"),
      statsCols = Seq("id"), bloomCols = Seq("id")): Unit
    log.writeAppend(Seq((20L, "b")).toDF("id", "v")): Unit // no stats/bloom
    val snap = log.snapshot()
    // bloom-less entry always kept; bloomed entry pruned for a key it
    // cannot contain (stats already exclude 99; bloom excludes 15)
    assert(log.prunePoint(snap, "id", Seq(15L)).map(_.path) ==
      snap.entries.filter(_.blooms.isEmpty).map(_.path))
    // integral probe classes share the bloom's canonical rendering
    assert(log.prunePoint(snap, "id", Seq(10)).size == 2)
    // a double probe is not a bloom domain: falls back to stats-only
    // (10.5 is outside no entry's [10,10] ∪ no-stats, so only the
    // stats-less entry survives)
    assert(log.prunePoint(snap, "id", Seq(10.5)).map(_.path) ==
      snap.entries.filter(_.stats.isEmpty).map(_.path))
    intercept[RuntimeException] {
      log.prunePoint(snap, "id", Seq(new Object))
    }
    intercept[IllegalArgumentException] { // non-integral bloom key type
      log.writePartitionedAppend(Seq((0.5, "x")).toDF("d", "v"), lit("p"),
        statsCols = Nil, bloomCols = Seq("d"))
    }
  }

  test("legacy columns absent from the first declaration still seed the lineage") {
    val spark2 = spark
    import spark2.implicits._
    // legacy (pre-evolution) table whose live files carry `extra:string`
    val log = new TxLog(tmp("txlog-legacy-lineage"))
    val dir = log.newDataDir()
    Seq((1L, "keep-me")).toDF("id", "extra").write.parquet(dir.getPath)
    log.commitAppend(Seq(TxEntry(log.relativize(dir), -1L)))
    // first declaration does NOT mention `extra` — a legitimate narrow
    // declaration (evolution treats it as a drop). The legacy footer
    // union must still enter the lineage, or `extra` could later be
    // re-added at a different type and pinned reads over the legacy
    // file would fail at scan time.
    log.writeAppend(Seq(2L).toDF("id"))
    assert(log.read(spark).get.columns.toSeq == Seq("id"))
    val ex = intercept[IllegalArgumentException] {
      log.writeAppend(Seq((3L, 7L)).toDF("id", "extra"))
    }
    assert(ex.getMessage.contains("extra"))
    log.writeAppend(Seq((3L, "back")).toDF("id", "extra")) // original type: fine
    val rows = log.read(spark).get.collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(rows == Set((1L, Some("keep-me")), (2L, None), (3L, Some("back"))))
  }

  test("compaction honors vacuum retention: pinned pre-compact snapshots survive keepVersions>1") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-compact-retain"))
    log.writeAppend(Seq(1L).toDF("id"))
    val pinned = log.currentVersion()
    log.writeAppend(Seq(2L).toDF("id"))
    assert(log.compact(spark).nonEmpty)
    log.vacuum(keepVersions = 3, orphanGraceMs = 0L)
    // the pre-compact snapshot is still fully readable: neither its
    // manifest nor its data files were reclaimed
    assert(readAsOf(log, pinned).count() == 1)
    // compact alone vacuums nothing (the caller owns retention)
    val log2 = new TxLog(tmp("txlog-compact-novac"))
    (1L to 2L).foreach(i => log2.writeAppend(Seq(i).toDF("id")): Unit)
    val preVersions = log2.versionCount()
    val preDirs = new File(log2.root, "data").list().toSet
    assert(log2.compact(spark).nonEmpty)
    assert(log2.versionCount() == preVersions + 1,
      "compact must leave every manifest in place")
    assert(preDirs.subsetOf(new File(log2.root, "data").list().toSet),
      "compact must leave every superseded data directory in place")
    assert(log2.read(spark).get.select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("crash-injection matrix: table readable + correct at every kill point; vacuum + next writer heal") {
    val spark2 = spark
    import spark2.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val weekExpr = date_format(date_trunc("week", col("ts")), "yyyyMMdd")

    // Every scenario kills a writer protocol at a named step. Each
    // simulated crash state is built from PUBLIC-API prefixes of the
    // real protocol (stage = the writer's own parquet write into
    // newDataDir, replace-no-vacuum = the real compaction, whose vacuum
    // is a separate call), so the injected state is exactly what a kill
    // at that step leaves on disk. Invariants checked at every point:
    // (1) reads serve the last committed snapshot, (2) vacuum heals the
    // debris without disturbing it, (3) the next writer lands normally.
    def freshLog(name: String): TxLog = {
      val log = new TxLog(tmp(s"txlog-kill-$name"))
      log.writePartitionedAppend(
        Seq((1L, ts("2026-01-05 00:00:00")), (2L, ts("2026-01-12 00:00:00")))
          .toDF("id", "ts"), weekExpr, Seq("id"))
      log.writePartitionedAppend(
        Seq((3L, ts("2026-01-06 00:00:00"))).toDF("id", "ts"),
        weekExpr, Seq("id"))
      log
    }
    def liveIds(log: TxLog): Set[Long] =
      log.read(spark).get.select("id").collect().map(_.getLong(0)).toSet

    val scenarios: Seq[(String, TxLog => Set[Long])] = Seq(
      "append killed between stage and publish (orphan dir)" -> { log =>
        val d = log.newDataDir()
        Seq((9L, ts("2026-02-02 00:00:00"))).toDF("id", "ts")
          .write.parquet(d.getPath)
        Set.empty
      },
      "append killed mid-stage (torn parquet file + _temporary dir)" -> { log =>
        val d = log.newDataDir()
        Seq((9L, ts("2026-02-02 00:00:00"))).toDF("id", "ts")
          .write.parquet(d.getPath)
        val f = d.listFiles().filter(_.getName.endsWith(".parquet")).head
        val bytes = Files.readAllBytes(f.toPath)
        Files.write(f.toPath, bytes.take(bytes.length / 2))
        Files.createDirectories(new File(d, "_temporary/0").toPath)
        Set.empty
      },
      "partitioned append killed before publish (subdirs + sidecar staged)" -> { log =>
        val d = log.newDataDir()
        Seq((9L, ts("2026-02-02 00:00:00"))).toDF("id", "ts")
          .withColumn("_part", weekExpr.cast("string"))
          .write.partitionBy("_part").parquet(d.getPath)
        val part = d.listFiles().filter(_.getName.startsWith("_part=")).head
        Files.write(new File(part, "_bloom_id.bin").toPath,
          Array[Byte](1, 2, 3)) // half-staged sidecar
        Set.empty
      },
      "publisher killed mid-manifest-write (torn tmp in _log)" -> { log =>
        Files.write(new File(log.root, "_log/.tmp-torn").toPath,
          """{"version":7,"op":"appe""".getBytes("UTF-8"))
        Set.empty
      },
      "compaction killed between publish and vacuum (superseded files linger)" -> { log =>
        assert(log.compact(spark).nonEmpty)
        Set.empty
      },
      "replace loser killed before staged cleanup (compact CAS retry)" -> { log =>
        val v = log.currentVersion()
        log.writeAppend( // the competing writer that wins the CAS
          Seq((50L, ts("2026-02-09 00:00:00"))).toDF("id", "ts"))
        val d = log.newDataDir()
        Seq((99L, ts("2026-02-02 00:00:00"))).toDF("id", "ts")
          .write.parquet(d.getPath)
        assert(!log.commitReplace(Seq(TxEntry(log.relativize(d), -1L)), v),
          "stale replace must lose the CAS")
        Set(50L) // staged dir 99 is debris; the competing append is live
      },
      "vacuum killed mid-sweep (some superseded files gone, some left)" -> { log =>
        assert(log.compact(spark).nonEmpty)
        val live = log.snapshot().entries.map(_.path).toSet
        val dataRoot = new File(log.root, "data")
        val superseded = dataRoot.listFiles().filter(d =>
          !live.exists(_.startsWith(s"data/${d.getName}")))
        assert(superseded.nonEmpty, "compaction must supersede a directory")
        TxLog.deleteRecursively(superseded.head) // partial data sweep
        val manifests = new File(log.root, "_log").listFiles()
          .filter(_.getName.matches("""v\d{12}\.json""")).sortBy(_.getName)
        assert(manifests.length > 1)
        manifests.head.delete(): Unit // partial manifest sweep
        Set.empty
      })

    scenarios.foreach { case (name, inject) =>
      val log = freshLog(name.takeWhile(_ != ' '))
      val extra = inject(log)
      val expected = Set(1L, 2L, 3L) ++ extra
      assert(liveIds(log) == expected, s"[$name] post-crash read")
      log.vacuum(keepVersions = 1, orphanGraceMs = 0L)
      assert(liveIds(log) == expected, s"[$name] post-vacuum read")
      log.writeAppend(
        Seq((100L, ts("2026-03-02 00:00:00"))).toDF("id", "ts"))
      assert(liveIds(log) == expected + 100L, s"[$name] next writer")
    }
  }

  test("manifest row counts: every writer stamps them, compaction sum-merges, legacy degrades to None") {
    val spark2 = spark
    import spark2.implicits._
    // plain append: rows == written count, snapshot total follows
    val log = new TxLog(tmp("txlog-rows"))
    log.writeAppend((1L to 7L).toDF("id"))
    log.writeAppend((8L to 10L).toDF("id"))
    val snap = log.snapshot()
    assert(snap.entries.map(_.rows).sorted == Vector(3L, 7L))
    assert(snap.rowCount.contains(10L))
    // hidden-partitioned append: one count per partition entry
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val weekExpr = date_format(date_trunc("week", col("ts")), "yyyyMMdd")
    val plog = new TxLog(tmp("txlog-rows-part"))
    plog.writePartitionedAppend(
      Seq((1L, ts("2026-01-05 00:00:00")), (2L, ts("2026-01-06 00:00:00")),
        (3L, ts("2026-01-12 00:00:00"))).toDF("id", "ts"),
      weekExpr, Seq("ts"))
    plog.writePartitionedAppend(
      Seq((4L, ts("2026-01-07 00:00:00"))).toDF("id", "ts"),
      weekExpr, Seq("ts"))
    assert(plog.snapshot().rowCount.contains(4L))
    // compaction is row-preserving: its one entry carries the sum of the
    // replaced entries' counts, and the total is unchanged
    assert(plog.compact(spark).nonEmpty)
    val merged = plog.snapshot()
    assert(merged.entries.map(_.rows) == Vector(4L))
    assert(merged.rowCount.contains(4L))
    // a LEGACY entry (committed before row counts existed) poisons the
    // total to None — a partial sum must never under-report
    val legacy = new TxLog(tmp("txlog-rows-legacy"))
    val dir = legacy.newDataDir()
    Seq(1L, 2L).toDF("id").write.parquet(dir.getPath)
    legacy.commitAppend(Seq(TxEntry(legacy.relativize(dir), -1L)))
    assert(legacy.snapshot().entries.head.rows == -1L)
    assert(legacy.snapshot().rowCount.isEmpty)
    legacy.writeAppend(Seq(3L).toDF("id"))
    assert(legacy.snapshot().rowCount.isEmpty, "one legacy entry taints the sum")
    // a re-delivered batch replaces its entry, and so its count
    val up = new TxLog(tmp("txlog-rows-redeliver"))
    upsert(up, Seq(("a", 1), ("b", 1)).toDF("k", "v"), batch = 1L)
    upsert(up, Seq(("c", 2)).toDF("k", "v"), batch = 2L)
    assert(up.snapshot().rowCount.contains(3L))
    upsert(up, Seq(("c", 3), ("d", 3), ("e", 3)).toDF("k", "v"), batch = 2L)
    assert(up.snapshot().rowCount.contains(5L))
  }

  test("string stats pruning compares in UTF-8 byte order (supplementary plane)") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-utf8"))
    // one entry holding both U+FFFD (BMP, UTF-8 EF BF BD) and U+10000
    // (supplementary, UTF-8 F0 90 80 80): Spark computes the stats max
    // in UTF8String byte order, so max = U+10000. Java's UTF-16
    // compareTo would call that max SMALLER than a U+FFFD probe (its
    // first code unit is the surrogate 0xD800 < 0xFFFD) and wrongly
    // prune the entry that contains the matching U+FFFD row.
    val supp = new String(Character.toChars(0x10000))
    log.writePartitionedAppend(Seq(("�", 1), (supp, 2)).toDF("s", "v"),
      lit("p"), statsCols = Seq("s"))
    val snap = log.snapshot()
    assert(snap.entries.head.stats("s").max == supp,
      "precondition: Spark's max must be the supplementary-plane string")
    assert(log.pruneRange(snap, "s", Some("�"), None).size == 1,
      "UTF-16 comparison would lossily prune this entry")
    val got = log.readRange(spark, "s", Some("�"), None).get
      .where(col("s") === "�").count()
    assert(got == 1L)
    // symmetric direction: a probe UPPER bound below the UTF-8 min
    // must still prune (ordering fix must not disable pruning)
    assert(log.pruneRange(snap, "s", None, Some("A")).isEmpty)
  }

  test("vacuum survives concurrent vacuums retiring its listed manifests") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-vacuum-race"))
    def commit(n: Long): Unit = {
      val dir = log.newDataDir()
      Seq(n).toDF("id").write.parquet(dir.getPath)
      log.commitAppend(Seq(TxEntry(log.relativize(dir), n)))
    }
    (0L until 6L).foreach(commit)
    // two vacuums with different retention race against a writer: the
    // looser one can list a manifest the stricter one deletes before it
    // reads — the prelude must re-list (progress is guaranteed: a
    // vanished manifest means the other vacuum already retired it),
    // never crash the caller (IvfCentroidStore.loadOrTrain first-caller
    // races and a vacuum next to a store compaction are this shape)
    @volatile var failure: Option[Throwable] = None
    val racer = new Thread(() => {
      try (0 until 40).foreach { i =>
        commit(100L + i)
        log.vacuum(keepVersions = 1, orphanGraceMs = 60000L)
      } catch { case t: Throwable => failure = Some(t) }
    })
    racer.start()
    try (0 until 40).foreach { _ =>
      log.vacuum(keepVersions = 3, orphanGraceMs = 60000L)
    } finally racer.join()
    failure.foreach(t => fail(s"concurrent vacuum crashed: $t"))
    // the table stayed readable and the newest commit survived
    assert(log.snapshot().version >= 0)
    assert(log.read(spark).get.agg(org.apache.spark.sql.functions.max(
      col("id"))).head.getLong(0) == 139L)
  }

  test("manifest op tag is JSON-escaped; versionCount is listing-based") {
    val spark2 = spark
    import spark2.implicits._
    val log = new TxLog(tmp("txlog-op-escape"))
    val dir = log.newDataDir()
    Seq(1L).toDF("id").write.parquet(dir.getPath)
    log.commitAppend(Seq(TxEntry(log.relativize(dir), -1L)),
      op = "load \"v2\"\\nightly")
    // an op carrying quotes/backslashes must round-trip, not brick
    // every later parse of the manifest
    assert(log.snapshot().entries.size == 1)
    val manifest = new File(log.root, "_log/v000000000000.json")
    val op = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(manifest.toPath), "UTF-8")) \ "op"
    assert(op == org.json4s.JString("load \"v2\"\\nightly"))
    assert(log.versionCount() == 1)
  }
}
