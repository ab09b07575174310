package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.corpus.SynthCorpus
import graft.functions.Embeddings
import graft.pipeline.{CheckpointStore, Dedup, DedupConfig, ResumableDedupJob}
import graft.streaming.IncrementalIngest

/** Resume-from-checkpoint, incremental streaming parity, ANN recall,
  * and multimodal plumbing tests.
  */
class ResumeStreamingAnnSpec extends SparkSpecBase {
  private val cfg = DedupConfig()

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("resumable job: interrupted run skips completed buckets, final tables identical") {
    val docs = Dedup.fromDocuments(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    val cleanDir = tmpDir("graft-clean")
    val resumeDir = tmpDir("graft-resume")
    val buckets = 8

    // clean run end-to-end
    val clean = ResumableDedupJob.run(docs, cfg, cleanDir, buckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // interrupted run: sign only buckets {0..3} (simulate kill by running
    // the signature stage against a doc subset covering those buckets)
    val withBucket = docs.withColumn("b",
      pmod(xxhash64(col("id")), lit(buckets)).cast("int"))
    ResumableDedupJob.signaturesStage(
      withBucket.where(col("b") < 4).drop("b"), cfg, resumeDir, buckets)
    val store = new CheckpointStore(spark, resumeDir)
    val doneAfterKill = store.completedBuckets("signatures", s"${cfg.configTag}-b$buckets")
    assert(doneAfterKill == (0 until buckets).toSet,
      "subset run records all buckets it attempted")
    // drop checkpoint rows for buckets >= 4 to model a crash mid-stage:
    // rewrite the checkpoint table keeping only buckets 0..3
    val kept = store.read().where(col("bucket") < 4)
    val rows = kept.collect()
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$resumeDir/checkpoints"))
    store.record("signatures", s"${cfg.configTag}-b$buckets",
      rows.map(r => (r.getInt(1), r.getLong(3))).toSeq, 0L)
    // ALSO remove the parquet rows of un-checkpointed buckets (a crash
    // before commit leaves nothing durable for them)
    val sigDir = s"$resumeDir/signatures/tag=${cfg.configTag}-b$buckets"
    (4 until buckets).foreach { b =>
      val d = new java.io.File(s"$sigDir/bucket=$b")
      if (d.exists()) org.apache.commons.io.FileUtils.deleteDirectory(d)
    }

    // resume: full input; must recompute exactly buckets 4..7
    val before = store.completedBuckets("signatures", s"${cfg.configTag}-b$buckets")
    assert(before == Set(0, 1, 2, 3))
    val resumed = ResumableDedupJob.run(docs, cfg, resumeDir, buckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(resumed == clean)
    val after = store.completedBuckets("signatures", s"${cfg.configTag}-b$buckets")
    assert(after == (0 until buckets).toSet)
  }

  test("config-tag change invalidates checkpoints (recompute everything)") {
    val docs = Dedup.fromDocuments(
      spark.read.parquet(s"$sfDir/documents.parquet")).limit(50)
    val dir = tmpDir("graft-tag")
    ResumableDedupJob.signaturesStage(docs, cfg, dir, buckets = 4)
    val store = new CheckpointStore(spark, dir)
    assert(store.completedBuckets("signatures", s"${cfg.configTag}-b4").size == 4)
    val cfg2 = cfg.copy(shingleK = 4)
    assert(store.completedBuckets("signatures", s"${cfg2.configTag}-b4").isEmpty)
    ResumableDedupJob.signaturesStage(docs, cfg2, dir, buckets = 4)
    assert(store.completedBuckets("signatures", s"${cfg2.configTag}-b4").size == 4)
    // both signature tables coexist, partitioned by tag
    assert(spark.read.parquet(s"$dir/signatures/tag=${cfg.configTag}-b4").count() > 0)
    assert(spark.read.parquet(s"$dir/signatures/tag=${cfg2.configTag}-b4").count() > 0)
  }

  test("bucket-count change is a checkpoint-identity change: resume recomputes, no duplicate signatures") {
    val docs = Dedup.fromDocuments(
      spark.read.parquet(s"$sfDir/documents.parquet")).limit(60)
    val dir = tmpDir("graft-buckets")
    val n = docs.count()
    val s4 = ResumableDedupJob.signaturesStage(docs, cfg, dir, buckets = 4)
    assert(s4.count() == n)
    // same workDir, different bucket count: pmod-4 checkpoints say
    // nothing about pmod-8 buckets — the run must land in a FRESH
    // bucket-count-qualified table with exactly one row per doc, not
    // mix moduli inside one table (which would duplicate every doc
    // whose old partition also survives)
    val s8 = ResumableDedupJob.signaturesStage(docs, cfg, dir, buckets = 8)
    assert(s8.count() == n, "mixed-moduli resume must not duplicate signatures")
    assert(s8.select("id").distinct().count() == n)
  }

  test("wave-granular signatures stage: one durable checkpoint commit per wave, table identical to single-pass") {
    val docs = Dedup.fromDocuments(
      spark.read.parquet(s"$sfDir/documents.parquet")).limit(60)
    val waveDir = tmpDir("graft-wave")
    val oneDir = tmpDir("graft-onepass")
    val buckets = 4

    val sWave = ResumableDedupJob.signaturesStage(
      docs, cfg, waveDir, buckets, waveBuckets = 1)
    val sOne = ResumableDedupJob.signaturesStage(docs, cfg, oneDir, buckets)

    // intra-run durability: each wave committed separately — a crash
    // between waves loses at most one wave (4 buckets / wave size 1 =
    // 4 append commits in the checkpoint log, vs 1 for the single pass)
    val waveCommits = new graft.store.TxLog(s"$waveDir/checkpoints").history()
    val oneCommits = new graft.store.TxLog(s"$oneDir/checkpoints").history()
    assert(waveCommits.size == buckets,
      s"expected one checkpoint commit per wave, got ${waveCommits.size}")
    assert(oneCommits.size == 1)
    val store = new CheckpointStore(spark, waveDir)
    assert(store.completedBuckets("signatures", s"${cfg.configTag}-b$buckets")
      == (0 until buckets).toSet)

    // the produced signature table is identical to the single-pass one
    assert(sWave.count() == docs.count() && sOne.count() == docs.count())
    val mismatches = sWave.as("a").join(sOne.as("b"), "id")
      .where(!(col("a.sig") === col("b.sig")) ||
        !(col("a.simhash") === col("b.simhash")))
      .count()
    assert(mismatches == 0, "wave-computed signatures must be bit-identical")

    // re-entry is a no-op: nothing missing, no new commits
    ResumableDedupJob.signaturesStage(docs, cfg, waveDir, buckets, waveBuckets = 1)
    assert(new graft.store.TxLog(s"$waveDir/checkpoints").history().size == buckets)
  }

  test("signatures stage is total on an empty corpus and resume does not wedge") {
    val docs = Dedup.fromDocuments(
      spark.read.parquet(s"$sfDir/documents.parquet")).where(lit(false))
    val dir = tmpDir("graft-empty-stage")
    val buckets = 4
    // every bucket of the only wave is empty: zero data files land, the
    // read-back must see an empty table under the declared schema (not
    // fail footer inference), and the buckets still checkpoint complete
    val s1 = ResumableDedupJob.signaturesStage(docs, cfg, dir, buckets)
    assert(s1.count() == 0)
    val store = new CheckpointStore(spark, dir)
    assert(store.completedBuckets("signatures", s"${cfg.configTag}-b$buckets")
      == (0 until buckets).toSet)
    // resume on the completed checkpoint: nothing recomputes and the
    // final read still succeeds — regression for the swallowed read
    // error that recorded completion and then failed here on EVERY
    // resume (wedged until the operator deleted the checkpoint)
    val s2 = ResumableDedupJob.signaturesStage(docs, cfg, dir, buckets)
    assert(s2.count() == 0)
    assert(s2.columns.sameElements(s1.columns))
  }

  // --- stage-level resume: clusters and keep are skipped while their
  // input files and committed output are unchanged ---

  /** A fresh frame over the file-backed docs (as a restarted job builds it). */
  private def fileDocs() =
    Dedup.fromDocuments(spark.read.parquet(s"$sfDir/documents.parquet"))

  /** Relative name -> mtime of every file under a stage output directory. */
  private def stageFiles(dir: String): Map[String, Long] = {
    val root = new java.io.File(dir)
    org.apache.commons.io.FileUtils.listFiles(root, null, true).toArray
      .map(_.asInstanceOf[java.io.File])
      .map(f => root.toPath.relativize(f.toPath).toString -> f.lastModified).toMap
  }

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def clustersDir(dir: String, c: DedupConfig = cfg) = s"$dir/clusters/tag=${c.configTag}"
  private def keepDir(dir: String, c: DedupConfig = cfg) = s"$dir/keep/tag=${c.configTag}"

  private def deletePart(dir: String): Unit = {
    val part = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .minBy(_.getName)
    assert(part.delete())
  }

  test("stage resume: a second run + keepStage rewrites no clusters/keep file and returns identical rows") {
    val dir = tmpDir("graft-stage-skip")
    val c1 = ResumableDedupJob.run(fileDocs(), cfg, dir, buckets = 4)
    val k1 = ResumableDedupJob.keepStage(fileDocs(), c1, cfg, dir)
    val (cRows, kRows) = (rowSet(c1), rowSet(k1))
    val (cFiles, kFiles) = (stageFiles(clustersDir(dir)), stageFiles(keepDir(dir)))
    assert(cFiles.keys.exists(_.startsWith("part-")) && kFiles.keys.exists(_.startsWith("part-")))
    val c2 = ResumableDedupJob.run(fileDocs(), cfg, dir, buckets = 4)
    val k2 = ResumableDedupJob.keepStage(fileDocs(), c2, cfg, dir)
    assert(stageFiles(clustersDir(dir)) == cFiles, "restart rewrote clusters/")
    assert(stageFiles(keepDir(dir)) == kFiles, "restart rewrote keep/")
    assert(rowSet(c2) == cRows && rowSet(k2) == kRows)
  }

  test("stage resume: a recomputed signature bucket makes run rewrite clusters/ with equal content") {
    val dir = tmpDir("graft-stage-bucket")
    val buckets = 4
    val before = rowSet(ResumableDedupJob.run(fileDocs(), cfg, dir, buckets))
    val cFiles = stageFiles(clustersDir(dir))
    ResumableDedupJob.run(fileDocs(), cfg, dir, buckets)
    assert(stageFiles(clustersDir(dir)) == cFiles, "unchanged signatures must skip clusters")
    // crash model of the interrupted-run test: bucket 3 loses its
    // checkpoint row and its partition
    val stageTag = s"${cfg.configTag}-b$buckets"
    val store = new CheckpointStore(spark, dir)
    val rows = store.read().where(col("bucket") =!= 3).collect()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/checkpoints"))
    store.record("signatures", stageTag, rows.map(r => (r.getInt(1), r.getLong(3))).toSeq, 0L)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$dir/signatures/tag=$stageTag/bucket=3"))
    val after = rowSet(ResumableDedupJob.run(fileDocs(), cfg, dir, buckets))
    assert(stageFiles(clustersDir(dir)).keySet.intersect(cFiles.keySet)
      .forall(!_.startsWith("part-")), "a recomputed bucket must rewrite clusters/")
    assert(after == before)
  }

  test("stage resume: a deleted clusters/keep part file or stage marker forces a full recompute") {
    val dir = tmpDir("graft-stage-damage")
    def flow() = {
      val c = ResumableDedupJob.run(fileDocs(), cfg, dir, buckets = 4)
      (c, ResumableDedupJob.keepStage(fileDocs(), c, cfg, dir))
    }
    val (c0, k0) = flow()
    val (cRows, kRows) = (rowSet(c0), rowSet(k0))
    val kFiles = stageFiles(keepDir(dir))
    flow()
    assert(stageFiles(keepDir(dir)) == kFiles, "undamaged stages must skip")

    deletePart(clustersDir(dir))
    val (c1, k1) = flow()
    assert(rowSet(c1) == cRows && rowSet(k1) == kRows)
    // keep read the rewritten clusters files, so it recomputed too
    assert(stageFiles(keepDir(dir)) != kFiles)

    val k1Files = stageFiles(keepDir(dir))
    deletePart(keepDir(dir))
    val (_, k2) = flow()
    assert(rowSet(k2) == kRows && stageFiles(keepDir(dir)) != k1Files)

    val cFiles = stageFiles(clustersDir(dir))
    val marker = new java.io.File(s"$dir/stages/clusters/tag=${cfg.configTag}")
    assert(marker.delete())
    val (c3, _) = flow()
    assert(rowSet(c3) == cRows && stageFiles(clustersDir(dir)) != cFiles)
    assert(marker.exists(), "the recompute must stamp a new marker")
  }

  test("stage resume: keepStage over other clusters files, other docs or non-file-backed docs recomputes") {
    val dir = tmpDir("graft-stage-keep")
    val clusters = ResumableDedupJob.run(fileDocs(), cfg, dir, buckets = 4)
    val kRows = rowSet(ResumableDedupJob.keepStage(fileDocs(), clusters, cfg, dir))
    var kFiles = stageFiles(keepDir(dir))
    def keepRewritten(): Boolean = {
      val now = stageFiles(keepDir(dir))
      try now != kFiles finally kFiles = now
    }
    ResumableDedupJob.keepStage(fileDocs(), clusters, cfg, dir)
    assert(!keepRewritten(), "same docs + clusters files must skip keep")

    // the same rows behind other files: a different input identity
    val copy = tmpDir("graft-stage-copy")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(clustersDir(dir)), new java.io.File(copy))
    val k1 = ResumableDedupJob.keepStage(fileDocs(), spark.read.parquet(copy), cfg, dir)
    assert(keepRewritten() && rowSet(k1) == kRows)
    ResumableDedupJob.keepStage(fileDocs(), clusters, cfg, dir)
    assert(keepRewritten(), "back on the original clusters files")

    // the same docs files under another plan must not serve the old list
    val dropped = fileDocs().select("id").head().get(0)
    val k2 = ResumableDedupJob.keepStage(
      fileDocs().where(col("id") =!= lit(dropped)), clusters, cfg, dir)
    assert(keepRewritten() && k2.where(col("id") === lit(dropped)).isEmpty)

    // localCheckpoint'ed docs have no file identity: every call recomputes
    val marker = new java.io.File(s"$dir/stages/keep/tag=${cfg.configTag}")
    (1 to 2).foreach { _ =>
      val k = ResumableDedupJob.keepStage(fileDocs().localCheckpoint(true), clusters, cfg, dir)
      assert(keepRewritten() && rowSet(k) == kRows)
      assert(!marker.exists(), "a non-file-backed input must leave no marker")
    }
  }

  test("stage resume: a config-tag change recomputes; the old tag's stages still skip") {
    val dir = tmpDir("graft-stage-tag")
    val cfg2 = cfg.copy(shingleK = 4)
    ResumableDedupJob.run(fileDocs(), cfg, dir, buckets = 4)
    val cFiles = stageFiles(clustersDir(dir))
    val other = ResumableDedupJob.run(fileDocs(), cfg2, dir, buckets = 4)
    assert(new java.io.File(clustersDir(dir, cfg2)).exists())
    assert(rowSet(other) == rowSet(Dedup.clusters(Dedup.pairs(fileDocs(), cfg2))))
    ResumableDedupJob.run(fileDocs(), cfg, dir, buckets = 4)
    assert(stageFiles(clustersDir(dir)) == cFiles)
  }

  test("intra-batch duplicate/null ids are hygienized before any store write; matchEvery guard") {
    val spark2 = spark
    import spark2.implicits._
    val workDir = tmpDir("graft-batchdup")
    val batch = Seq(
      ("u1", "alpha beta gamma delta epsilon zeta eta theta"),
      ("u1", "alpha beta gamma delta epsilon zeta eta theta"), // exact revisit
      ("u2", "one two three four five six seven eight nine ten"),
      (null.asInstanceOf[String], "a null id has no dedup identity at all")
    ).toDF("id", "text")
    IncrementalIngest.processBatch(batch, 0L, cfg, workDir)
    val sigs = IncrementalIngest.signatures(spark, workDir, cfg)
    assert(sigs.where(col("id").isNull).count() == 0, "null ids must not land")
    assert(sigs.count() == 2, "intra-batch revisit must keep one row")
    // a differing-text revisit within one batch keeps ONE deterministic
    // winner (lowest text hash)
    val batch2 = Seq(
      ("u3", "aa bb cc dd ee ff gg hh ii jj"),
      ("u3", "aa bb cc dd ee ff gg hh ii kk")).toDF("id", "text")
    IncrementalIngest.processBatch(batch2, 1L, cfg, workDir)
    assert(IncrementalIngest.signatures(spark, workDir, cfg)
      .where(col("id") === "u3").count() == 1)
    intercept[IllegalArgumentException] { // fails fast, before any write
      IncrementalIngest.processBatch(batch2, 2L, cfg, workDir, matchEvery = 0)
    }
  }

  test("streaming incremental ingest converges to the batch pipeline's pair set") {
    val spark2 = spark
    import spark2.implicits._
    val (pages, _) = SynthCorpus.generate(spark, seed = 11L, nBase = 150, dupRate = 0.3)
    val rows = pages.select("url", "text").as[(String, String)].collect().toSeq
    val workDir = tmpDir("graft-stream")
    val ckDir = tmpDir("graft-stream-ck")

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    // three micro-batches (the fork's 600 s ingest windows)
    val batches = rows.grouped(math.max(1, rows.size / 3 + 1)).toSeq
    batches.foreach { b =>
      mem.addData(b)
      val q = IncrementalIngest.start(
        mem.toDF().toDF("url", "text"), cfg, workDir, ckDir)
      q.awaitTermination()
    }

    val streamed = IncrementalIngest.pairs(spark, workDir, cfg)
      .select("id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val batch = Dedup.pairs(Dedup.fromPages(pages), cfg)
      .select("id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(streamed == batch)
    // idempotent signature flush: one row per doc
    val sigs = IncrementalIngest.signatures(spark, workDir, cfg)
    assert(sigs.select("id").distinct().count() == sigs.count())
    // incremental band store: the persisted all-side band table equals a
    // full re-band of the signature store (row-count + set evidence that
    // matching reads bands from storage instead of recomputing them) and
    // holds exactly one band set per doc (append-once across batches)
    val bandStore = IncrementalIngest.bands(spark, workDir, cfg)
    val rebanded = Dedup.bandTable(Dedup.validSignatures(sigs), cfg)
    assert(bandStore.count() == rebanded.count())
    assert(bandStore.select("id", "band_key")
      .except(rebanded.select("id", "band_key")).count() == 0)
    assert(bandStore.groupBy("id").count()
      .where(col("count") =!= cfg.bands).count() == 0)
    // small-files compaction: identical content, one live commit with
    // fewer data dirs afterwards (replace commit + vacuum)
    val sigCommitsBefore =
      IncrementalIngest.sigLog(workDir, cfg).snapshot().entries.size
    assert(sigCommitsBefore >= 2, "expected one commit per micro-batch")
    val bandRowsBefore = bandStore.count() // materialize before the swap
    // grace 0: this test is quiescent and asserts immediate reclamation
    // (the production default keeps a 10-min orphan grace)
    IncrementalIngest.compactStores(spark, workDir, cfg, vacuumGraceMs = 0L)
    assert(IncrementalIngest.sigLog(workDir, cfg).snapshot().entries.size == 1)
    assert(IncrementalIngest.pairLog(workDir, cfg).snapshot().entries.size == 1)
    def nDataDirs(log: graft.store.TxLog): Int =
      Option(new java.io.File(log.root, "data").listFiles())
        .getOrElse(Array.empty).length
    assert(nDataDirs(IncrementalIngest.sigLog(workDir, cfg)) == 1,
      "vacuum must reclaim superseded signature commits")
    val streamedAfter = IncrementalIngest.pairs(spark, workDir, cfg)
      .select("id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(streamedAfter == batch)
    assert(IncrementalIngest.bands(spark, workDir, cfg).count() == bandRowsBefore)
  }

  test("decoupled cadences: matchEvery=3 + compactEvery=2 converge to the batch pair set") {
    val spark2 = spark
    import spark2.implicits._
    val (pages, _) = SynthCorpus.generate(spark, seed = 12L, nBase = 120, dupRate = 0.3)
    val rows = pages.select("url", "text").as[(String, String)].collect().toSeq
    val workDir = tmpDir("graft-cadence")
    val ckDir = tmpDir("graft-cadence-ck")

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val batches = rows.grouped(math.max(1, rows.size / 4 + 1)).toSeq
    batches.foreach { b =>
      mem.addData(b)
      val q = IncrementalIngest.start(
        mem.toDF().toDF("url", "text"), cfg, workDir, ckDir,
        matchEvery = 3, compactEvery = 2)
      q.awaitTermination()
    }
    // the tail of batches since the last cadence hit is matched on demand
    IncrementalIngest.matchPending(spark, workDir, cfg)

    val streamed = IncrementalIngest.pairs(spark, workDir, cfg)
      .select("id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val batch = Dedup.pairs(Dedup.fromPages(pages), cfg)
      .select("id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(streamed == batch, "mixed-cadence pairs diverge from batch pipeline")
    // compaction ran inside start(): the signature store cannot have one
    // commit per batch left (4 batches, compacted at batch 2 and 4)
    assert(IncrementalIngest.sigLog(workDir, cfg).snapshot().entries.size < batches.size,
      "scheduled in-stream compaction never ran")
    // and signatures are still exactly one per doc
    val sigs = IncrementalIngest.signatures(spark, workDir, cfg)
    assert(sigs.select("id").distinct().count() == sigs.count())
  }

  test("seen check: re-delivered rows are skipped") {
    val spark2 = spark
    import spark2.implicits._
    val (pages, _) = SynthCorpus.generate(spark, seed = 13L, nBase = 60, dupRate = 0.2)
    val rows = pages.select("url", "text").as[(String, String)].collect().toSeq
    val workDir = tmpDir("graft-seen")
    val ckDir = tmpDir("graft-seen-ck")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    mem.addData(rows)
    IncrementalIngest.start(mem.toDF().toDF("url", "text"), cfg, workDir, ckDir)
      .awaitTermination()
    val n1 = IncrementalIngest.signatures(spark, workDir, cfg).count()
    // re-deliver every row as a new micro-batch: all seen -> nothing new
    mem.addData(rows)
    IncrementalIngest.start(mem.toDF().toDF("url", "text"), cfg, workDir, ckDir)
      .awaitTermination()
    val sigs = IncrementalIngest.signatures(spark, workDir, cfg)
    assert(sigs.count() == n1, "re-delivered rows were appended again")
    assert(sigs.select("id").distinct().count() == n1)
  }

  test("continuous ProcessingTime trigger: same stores, same pair set as AvailableNow") {
    val spark2 = spark
    import spark2.implicits._
    val (pages, _) = SynthCorpus.generate(spark, seed = 16L, nBase = 60, dupRate = 0.3)
    val rows = pages.select("url", "text").as[(String, String)].collect().toSeq
    val workDir = tmpDir("graft-cont")
    val ckDir = tmpDir("graft-cont-ck")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val q = IncrementalIngest.start(
      mem.toDF().toDF("url", "text"), cfg, workDir, ckDir,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
    try {
      val (b1, b2) = rows.splitAt(rows.size / 2)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streamed = IncrementalIngest.pairs(spark, workDir, cfg)
      .select("id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val batch = Dedup.pairs(Dedup.fromPages(pages), cfg)
      .select("id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(streamed == batch, "continuous-trigger pairs diverge from batch pipeline")
    val sigs = IncrementalIngest.signatures(spark, workDir, cfg)
    assert(sigs.select("id").distinct().count() == sigs.count())
  }

  test("micro-batch RETRY (same batchId re-run) loses no signatures, bands or pairs") {
    val spark2 = spark
    import spark2.implicits._
    val (pages, _) = SynthCorpus.generate(spark, seed = 15L, nBase = 80, dupRate = 0.3)
    val rows = pages.select("url", "text").as[(String, String)].collect().toSeq
    val workDir = tmpDir("graft-retry")
    val (b1, b2) = rows.splitAt(rows.size / 2)
    def asDf(b: Seq[(String, String)]) = b.toDF("url", "text")
      .select(col("url").as("id"), col("text"))
    IncrementalIngest.processBatch(asDf(b1), 0L, cfg, workDir)
    IncrementalIngest.processBatch(asDf(b2), 1L, cfg, workDir)
    val sigsBefore = IncrementalIngest.signatures(spark, workDir, cfg).count()
    val pairsBefore = IncrementalIngest.pairs(spark, workDir, cfg)
      .select("id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // foreachBatch contract: batch 1 may be RE-DELIVERED after a crash
    // before the checkpoint commit — re-running it must change nothing
    // (in particular it must NOT replace batch 1's commit with the
    // now-empty already-seen set)
    IncrementalIngest.processBatch(asDf(b2), 1L, cfg, workDir)
    val sigs = IncrementalIngest.signatures(spark, workDir, cfg)
    assert(sigs.count() == sigsBefore, "retry changed the signature store")
    assert(sigs.select("id").distinct().count() == sigsBefore)
    val bands = IncrementalIngest.bands(spark, workDir, cfg)
    assert(bands.groupBy("id").count()
      .where(col("count") =!= cfg.bands).count() == 0,
      "retry duplicated or dropped band rows")
    val pairsAfter = IncrementalIngest.pairs(spark, workDir, cfg)
      .select("id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairsAfter == pairsBefore, "retry changed the pair store")
    // and the retried batch equals the batch pipeline over all rows
    val batchPairs = Dedup.pairs(Dedup.fromPages(pages), cfg)
      .select("id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairsAfter == batchPairs)
  }

  test("corrupt signature store FAILS the batch loudly (no duplicate re-append)") {
    val spark2 = spark
    import spark2.implicits._
    val (pages, _) = SynthCorpus.generate(spark, seed = 14L, nBase = 40, dupRate = 0.2)
    val rows = pages.select("url", "text").as[(String, String)].collect().toSeq
    val workDir = tmpDir("graft-corrupt")
    val ckDir = tmpDir("graft-corrupt-ck")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val (b1, b2) = rows.splitAt(rows.size / 2)
    mem.addData(b1)
    IncrementalIngest.start(mem.toDF().toDF("url", "text"), cfg, workDir, ckDir)
      .awaitTermination()
    val sl = IncrementalIngest.sigLog(workDir, cfg)
    val commitsBefore = sl.snapshot().entries.size
    // torn disk: truncate every parquet part of the live signature commit
    val live = new java.io.File(sl.root, sl.snapshot().entries.head.path)
    live.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(p => java.nio.file.Files.write(p.toPath, Array[Byte](7)))
    mem.addData(b2)
    val q = IncrementalIngest.start(
      mem.toDF().toDF("url", "text"), cfg, workDir, ckDir)
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(failed != null)
    // the batch failed BEFORE committing: a transient read error must
    // never classify the store as empty and append every row as new
    assert(sl.snapshot().entries.size == commitsBefore,
      "corrupt store read appended a duplicate signature commit")
  }

  test("ANN: SRP-LSH recall vs brute force on labeled embeddings") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val exact = Embeddings.bruteForceTopK(e, e, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // this corpus has only weak neighbors (top-5 cosine median ~0.32,
    // collision prob per hyperplane ~0.6) -> short codes, many tables:
    // est. recall 1-(1-0.6^4)^16 ~ 0.89
    val approx = Embeddings.srpTopK(e, k = 5, bits = 4, tables = 16)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"SRP recall $recall too low") // approximate path
    // exact result is a valid top-k table: 5 ranked rows per query
    assert(exact.size == e.count() * 5)
  }

  test("ANN: IVF multi-probe recall vs brute force; deterministic training") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val exact = Embeddings.bruteForceTopK(e, e, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Embeddings.ivfTopK(e, k = 5, nCells = 8, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    info(s"IVF recall = $recall")
    assert(recall >= 0.5, s"IVF recall $recall too low")
    // training is bit-reproducible (driver-sequential Lloyd)
    val c1 = Embeddings.trainIvfCentroids(e, nCells = 8)
    val c2 = Embeddings.trainIvfCentroids(e, nCells = 8)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    // every query gets at most k ranked rows with rank 1..k
    val ranks = Embeddings.ivfTopK(e, k = 5, nCells = 8, nProbe = 4)
      .groupBy("query_id").agg(max(col("rank")).as("m"), count(lit(1)).as("n"))
    assert(ranks.where(col("n") > 5 || col("m") > 5).count() == 0)
  }

  test("IVF auto-sizing: nCells ≈ √n rule, bounded; recall green under the rule") {
    import graft.functions.Embeddings.ivfCellCount
    assert(ivfCellCount(100) == 10)
    assert(ivfCellCount(10000) == 100)
    assert(ivfCellCount(10000000L) == 1250, "sampleCap/8 bound ignored")
    assert(ivfCellCount(4) == 4, "floor ignored")
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val n = e.count()
    val cells = ivfCellCount(n)
    assert(cells != 16 && cells > 4, s"rule must differ from the old fixed default at n=$n")
    val exact = Embeddings.bruteForceTopK(e, e, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = Embeddings.ivfTopK(e, k = 5, nProbe = math.max(2, cells / 3))
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & auto).size.toDouble / exact.size
    info(s"auto-IVF: n=$n cells=$cells recall=$recall")
    assert(recall >= 0.5, s"auto-sized IVF recall $recall too low")
  }

  test("collect-shaped baselines enforce their corpus-size contract loudly") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val ex1 = intercept[IllegalArgumentException] {
      Embeddings.bruteForceTopK(e, e, k = 5, maxCorpus = 10)
    }
    assert(ex1.getMessage.contains("srpTopK"), "guard must name the scale swap")
    val ex2 = intercept[IllegalArgumentException] {
      Embeddings.bruteForceThresholdPairs(e, 0.9, maxCorpus = 10)
    }
    assert(ex2.getMessage.contains("srpThresholdPairs"))
    val ex3 = intercept[IllegalArgumentException] {
      Embeddings.broadcastThresholdJoin(e, e, 0.9, maxSmall = 10)
    }
    assert(ex3.getMessage.contains("srpThresholdPairs"))
  }

  test("tie-heavy exact-dup group: topK stays exact and bounded; overlap threshold join emits each pair once") {
    val spark2 = spark
    import spark2.implicits._
    // 200 bit-identical embeddings: every pairwise cosine ties at 1.0 —
    // the regime where keeping boundary ties would grow the partial
    // buffer O(group) instead of O(k)
    val m = 200
    val dup = (0 until m).map(i => (f"d$i%03d", Seq(1f, 2f, 3f, 4f)))
      .toDF("id", "embedding")
    val got = Embeddings.bruteForceTopK(dup, dup, k = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(3)))
    assert(got.length == m * 3)
    // the final (cosine desc, neighbor_id asc) order: every query's
    // neighbors are the 3 smallest OTHER ids
    val byQ = got.groupBy(_._1)
    (0 until m).foreach { i =>
      val q = f"d$i%03d"
      val want = (0 until m).map(j => f"d$j%03d").filterNot(_ == q).take(3)
      val ns = byQ(q).sortBy(_._3).map(_._2).toSeq
      assert(ns == want, s"query $q: $ns != $want")
    }
    // overlapping sides (retry shape: new rows already in the store):
    // a pair with both endpoints in the overlap must emit ONCE
    val over = Embeddings.broadcastThresholdJoin(dup, dup, 0.99,
      maxSmall = 1000)
    assert(over.count() == m.toLong * (m - 1) / 2,
      "overlap pairs must be canonical-deduped")
  }

  test("multimodal plumbing: schema, determinism, partition-preserving batch execution") {
    val spark2 = spark
    import spark2.implicits._
    val media = (0 until 64).map(i =>
      (s"m$i", Array.tabulate[Byte](100 + i)(j => ((i * 31 + j) % 127).toByte)))
      .toDF("id", "bytes").repartition(8)
    val meta = graft.multimodal.BinaryPipeline.decode(media)
    assert(meta.columns.toSeq ==
      Seq("id", "format", "width", "height", "n_frames"))
    assert(meta.count() == 64)
    val frames = graft.multimodal.BinaryPipeline.sampleAndFeaturize(media, stride = 2, dim = 8)
    assert(frames.rdd.getNumPartitions == 8) // no shuffle introduced
    val f1 = frames.collect().map(f => (f.id, f.frameIdx, f.feature.toSeq)).toSet
    val f2 = graft.multimodal.BinaryPipeline.sampleAndFeaturize(media, stride = 2, dim = 8)
      .collect().map(f => (f.id, f.frameIdx, f.feature.toSeq)).toSet
    assert(f1 == f2)
    val emb = graft.multimodal.BinaryPipeline.itemEmbedding(frames)
    assert(emb.columns.toSeq == Seq("id", "n_frames", "embedding"))
    assert(emb.count() == 64)
  }

  test("IVF centroid store: train-once tag-stamped persist; cache hits skip training, bit-identical") {
    val spark2 = spark
    import spark2.implicits._
    import graft.functions.IvfCentroidStore
    val emb = (0 until 200).map { i =>
      (i.toLong, (0 until 16).map(d => math.sin(i * 31 + d).toFloat))
    }.toDF("id", "embedding")
    val store = tmpDir("graft-ivf-store")
    IvfCentroidStore.clearMemo()
    def same(a: Array[Array[Float]], b: Array[Array[Float]]): Boolean =
      a.length == b.length && a.zip(b).forall { case (x, y) => x.sameElements(y) }
    val fresh = Embeddings.trainIvfCentroids(emb, nCells = 8)
    val c1 = IvfCentroidStore.loadOrTrain(emb, store, "t1", nCells = 8)
    assert(same(c1, fresh), "stored centroids must equal a fresh train")
    // memo hit: a schema-less bogus frame would explode if training
    // (or even the fingerprint) ran
    val bogus = Seq(Tuple1("x")).toDF("wrong")
    assert(same(IvfCentroidStore.loadOrTrain(bogus, store, "t1"), fresh))
    // disk hit across "sessions" (memo wiped): content-fingerprint
    // validated, no retraining — proof: no nCells passed, so a retrain
    // would size cells by the √n rule (≈14 for 200 rows) and differ
    // from the stored 8-cell train
    IvfCentroidStore.clearMemo()
    assert(same(IvfCentroidStore.loadOrTrain(emb, store, "t1"), fresh))
    // stale-corpus guard: same tag, DIFFERENT corpus ids -> loud failure
    // instead of silently probing stale centroids
    IvfCentroidStore.clearMemo()
    val otherCorpus = emb.withColumn("id", col("id") + 1000000L)
    val ex = intercept[IllegalStateException] {
      IvfCentroidStore.loadOrTrain(otherCorpus, store, "t1")
    }
    assert(ex.getMessage.contains("different corpus"))
    // CONTENT staleness: ids and count unchanged, vectors redrawn ->
    // still a loud failure (the v1 ids-only fingerprint missed this)
    IvfCentroidStore.clearMemo()
    val redrawn = emb.withColumn("embedding",
      expr("transform(embedding, x -> cast(x + 1.0 as float))"))
    val ex2 = intercept[IllegalStateException] {
      IvfCentroidStore.loadOrTrain(redrawn, store, "t1")
    }
    assert(ex2.getMessage.contains("different corpus"))
    // a v1-FORMAT store (ids-only fp, no fp_ver) cannot be validated
    // by the v2 formula: it must self-heal by retraining, not
    // false-fail against a corpus it actually matches
    val v1Log = new graft.store.TxLog(s"$store/tag=v1fmt")
    val v1Dir = v1Log.newDataDir()
    Seq((0, Seq(1f, 0f), 200L, 123L), (1, Seq(0f, 1f), 200L, 123L))
      .toDF("cell", "vec", "fp_n", "fp_hash")
      .coalesce(1).write.parquet(v1Dir.getPath)
    v1Log.commitAppend(Seq(graft.store.TxEntry(
      v1Log.relativize(v1Dir), 0L)), op = "centroids")
    IvfCentroidStore.clearMemo()
    assert(same(IvfCentroidStore.loadOrTrain(emb, store, "v1fmt", nCells = 8),
      fresh), "v1-format store must retrain to fresh centroids")
    // legacy pre-fingerprint store (cell/vec only): unvalidatable ->
    // self-heals by retraining + replace commit, not an unresolved-
    // column error
    val legacyLog = new graft.store.TxLog(s"$store/tag=legacy")
    val legacyDir = legacyLog.newDataDir()
    Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f))).toDF("cell", "vec")
      .coalesce(1).write.parquet(legacyDir.getPath)
    legacyLog.commitAppend(Seq(graft.store.TxEntry(
      legacyLog.relativize(legacyDir), 0L)), op = "centroids")
    IvfCentroidStore.clearMemo()
    val healed = IvfCentroidStore.loadOrTrain(emb, store, "legacy", nCells = 8)
    assert(same(healed, fresh), "legacy store must retrain to fresh centroids")
    // and the store is now upgraded: a second cold load validates
    // (proof of no-retrain: default nCells would give ≈14 cells ≠ 8)
    IvfCentroidStore.clearMemo()
    assert(same(IvfCentroidStore.loadOrTrain(emb, store, "legacy"), fresh))
    // end-to-end: cached query == fresh-quantizer query, bit for bit
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(rows(Embeddings.ivfTopKCached(emb, k = 3, store, "t1", nCells = 8)) ==
      rows(Embeddings.ivfTopKWith(emb, k = 3, fresh)))
  }

  test("fingerprint fold is duplicate-sensitive: an even-multiset swap fails validation") {
    val spark2 = spark
    import spark2.implicits._
    import graft.functions.IvfCentroidStore
    // {A,A,B,B} and {C,C,D,D}: every row appears an EVEN number of
    // times, so a bit_xor fold of the row hashes collapses BOTH
    // corpora to 0 with identical counts — the v2 formula validated a
    // stale store across exactly this swap. The sum fold must not.
    def corpus(base: Int) = (0 until 4).map { i =>
      val id = (base + i / 2).toLong // two copies of each row
      (id, (0 until 8).map(d => math.sin(id * 17 + d).toFloat))
    }.toDF("id", "embedding")
    val c1 = corpus(0)
    val c2 = corpus(100)
    val fp = (df: org.apache.spark.sql.DataFrame) =>
      graft.store.TxLog.contentFingerprint(df,
        Seq(col("id"), col("embedding")))
    assert(fp(c1)._1 == fp(c2)._1, "counts tie by construction")
    assert(fp(c1)._2 != fp(c2)._2, "sum fold must distinguish the multisets")
    val store = tmpDir("graft-ivf-xor")
    IvfCentroidStore.clearMemo()
    IvfCentroidStore.loadOrTrain(c1, store, "swap", nCells = 2): Unit
    IvfCentroidStore.clearMemo()
    val ex = intercept[IllegalStateException] {
      IvfCentroidStore.loadOrTrain(c2, store, "swap", nCells = 2)
    }
    assert(ex.getMessage.contains("different corpus"))
  }

  test("map-side top-k compaction is NaN-safe and matches the window's NaN-greatest order") {
    val spark2 = spark
    import spark2.implicits._
    // one query with enough rows to force compaction (>= 4k) including
    // NaN cosines: primitive-comparison sorting made NaN intransitive
    // (TimSort contract risk) and could drop the rows the final window
    // ranks FIRST (Spark sorts NaN greatest, so desc puts NaN on top)
    val k = 3
    val rows = (0 until 40).map(i => (1L, i.toLong, i / 100.0)) ++
      Seq((1L, 900L, Double.NaN), (1L, 901L, Double.NaN))
    val scored = rows.toDF("query_id", "neighbor_id", "cosine")
      .repartition(1) // one partition => one buffer => compaction fires
    val got = Embeddings.topKRanked(scored, k).collect()
      .map(r => (r.getLong(1), r.getInt(3))).sortBy(_._2)
    // NaN rows outrank every finite cosine; id asc breaks the NaN tie
    assert(got.toSeq == Seq((900L, 1), (901L, 2), (39L, 3)))
  }
}
