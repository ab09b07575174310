package graft.streaming

import java.io.File

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.{Dedup, DedupConfig, withCached}
import graft.store.{MarkerFile, TxEntry, TxLog}

/** Incremental ingestion — the chenhai1030 fork's Ray micro-batch loop
  * (`ray_extract_features.py:85-162`: 600 s ingest windows, periodic
  * signature flush, periodic new-vs-all match regeneration) re-expressed
  * as Structured Streaming over [[TxLog]] tables:
  *
  *   pages stream -> stateless shingle+sign -> foreachBatch:
  *     (1) idempotent signature flush: skip-if-done (reference
  *         `exists()`, `winnow/storage/db_result_storage.py:46-58`) as
  *         one left-anti join of the batch against the signature store
  *     (2) band-table append for never-banded ids (the same anti-join
  *         against the band store)
  *     (3) incremental matching every `matchEvery` batches (the fork
  *         runs ingest/flush/match at 600/1200/3600 s — decoupled
  *         cadences, `ray_extract_features.py:100-112`): NEW ids since
  *         the last match run × the FULL persisted band store, never
  *         all × all
  *     (4) store compaction every `compactEvery` batches (small-files
  *         control, crash-safe replace commits)
  *
  * Store reads go through the commit log: a transient read failure
  * PROPAGATES and fails the batch (never classified as "store empty" —
  * that would re-append every row as new), and a retried micro-batch
  * is exact by CONTENT dedup (its rows are already seen, so the retry
  * appends an empty commit — see [[processBatch]]).
  *
  * No watermark is needed: the pipeline is insensitive to late rows
  * because the flush is idempotent (SURVEY.md §2.9).
  */
object IncrementalIngest {

  def sigLog(workDir: String, cfg: DedupConfig): TxLog =
    new TxLog(s"$workDir/signatures_stream/tag=${cfg.configTag}")
  def bandLog(workDir: String, cfg: DedupConfig): TxLog =
    new TxLog(bandsDir(workDir, cfg))
  def pairLog(workDir: String, cfg: DedupConfig): TxLog =
    new TxLog(s"$workDir/pairs_stream/tag=${cfg.configTag}")

  /** Start the streaming signature+match job.
    *
    * @param pagesStream streaming DataFrame with (url, text) at least
    * @param workDir     output root: signatures/bands/pairs tables under it
    * @param matchEvery  run match regeneration every Nth batch (1 = every
    *                    batch; unmatched tail after drain → [[matchPending]])
    * @param compactEvery compact the stores every Nth batch (0 = never;
    *                    matching is forced first so the path-diff match
    *                    state survives the rewrite)
    * @param trigger     AvailableNow (default — drain what exists and
    *                    stop, the testable batch-ish mode) or
    *                    `Trigger.ProcessingTime("600 seconds")` for the
    *                    fork's continuous time-cadence deployment
    *                    (ingest window = trigger interval; flush/match
    *                    cadences then multiply it via
    *                    matchEvery/compactEvery)
    */
  def start(pagesStream: DataFrame, cfg: DedupConfig, workDir: String,
            checkpointDir: String, matchEvery: Int = 1, compactEvery: Int = 0,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(matchEvery >= 1, "matchEvery must be >= 1")
    pagesStream
      .select(col("url").as("id"), col("text"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, cfg, workDir, matchEvery, compactEvery)
      }
      .start()
  }

  /** Carries nothing: every batch reads what it needs from the stores.
    * It exists only because the perfbench ingest workload constructs one
    * and passes it to [[processBatch]] as `state`.
    */
  final class IngestState

  /** One micro-batch of the ingest loop (exposed for direct testing —
    * in production [[start]]'s foreachBatch drives it). IDEMPOTENT
    * under micro-batch re-delivery: every store write is dedupled by
    * CONTENT (store anti-joins, [[absentFrom]]) and committed as an
    * APPEND — never as a batch-replace, which on a retry would
    * substitute the first attempt's rows with the (now empty,
    * already-seen) re-run. `state` is unused (see [[IngestState]]).
    */
  def processBatch(batch: DataFrame, batchId: Long, cfg: DedupConfig,
                   workDir: String, matchEvery: Int = 1, compactEvery: Int = 0,
                   state: IngestState = new IngestState): Unit = {
    require(matchEvery >= 1, s"matchEvery must be >= 1, got $matchEvery")
    val spark = batch.sparkSession
    val sl = sigLog(workDir, cfg)
    val bl = bandLog(workDir, cfg)
    // identity hygiene BEFORE anything is written: a crawl revisit can
    // repeat an id WITHIN one micro-batch — the store anti-joins
    // compare only against the STORE, so intra-batch duplicates
    // would land twice and duplicate every downstream pair.
    // One deterministic winner per id (lowest text hash); null ids
    // have no dedup identity at all and are dropped here, loudly
    // documented, because a null key can never join/match later.
    val uniqueBatch = batch.where(col("id").isNotNull)
      .withColumn("__ingest_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(xxhash64(col("text")).asc_nulls_last)))
      .where(col("__ingest_rn") === 1).drop("__ingest_rn")
    withCached(Dedup.signatures(Dedup.shingleSets(uniqueBatch, cfg), cfg)) { newSigs =>
      // (1) idempotent signature flush (append only: see absentFrom)
      sl.writeAppend(absentFrom(sl, "id")(newSigs), batchId)

      // (2) incremental BAND store: append band keys for ids the
      // store has never banded (anti-join vs the band store itself,
      // so a crash between the sig and band commits self-heals on
      // retry). The all-side of every later match run is READ from
      // here — never recomputed from the full signature store.
      val bandPending = absentFrom(bl, "id")(Dedup.validSignatures(newSigs))
      bl.writeAppend(
        Dedup.bandTable(bandPending, cfg).select(col("id"), col("band_key")),
        batchId)

      // (3) match cadence (fork: 3600 s regeneration vs 600 s ingest)
      if ((batchId + 1) % matchEvery == 0)
        matchPending(spark, workDir, cfg)

      // (4) compaction cadence: match first so the path-based match
      // state can be fast-forwarded across the rewrite
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
        matchPending(spark, workDir, cfg)
        val sigRewrite = compactStores(spark, workDir, cfg)
        // fast-forward the match state across the rewrite — but ONLY
        // the compacted paths, and only when every compacted SOURCE
        // path was actually matched: an entry appended by a concurrent
        // out-of-band writer between matchPending and the compaction
        // snapshot gets folded into the rewrite UNMATCHED, and marking
        // a fresh snapshot wholesale would silently exclude its ids
        // from every future match run. When the guard fails we keep
        // the old marker; the next matchPending re-matches the
        // compacted entry and the pair-store anti-join keeps it exact.
        sigRewrite.foreach { case (src, dst) =>
          val matched = readMatchedPaths(workDir, cfg)
          if (src.subsetOf(matched))
            writeMatchedPaths(workDir, cfg, (matched -- src) ++ dst)
        }
      }
    }
  }

  /** Match every signature-store id not yet covered by a match run
    * against the full persisted band store (new × all), append the
    * fresh pairs (deduped vs the pair store — MERGE "when not
    * matched"), and advance the match state. Idempotent and safe to
    * call any time (e.g. after drain when `matchEvery` left a tail);
    * crash before the state write merely re-matches, and the pair-store
    * anti-join keeps that exact.
    */
  def matchPending(spark: SparkSession, workDir: String, cfg: DedupConfig): Unit = {
    val sl = sigLog(workDir, cfg)
    val pl = pairLog(workDir, cfg)
    val snap = sl.snapshot()
    if (snap.entries.isEmpty) return
    val matched = readMatchedPaths(workDir, cfg)
    val newEntries = snap.entries.filterNot(e => matched.contains(e.path))
    if (newEntries.isEmpty) return
    val newIds = sl.readEntries(spark, newEntries).select("id")
    val allSigs = sl.readSnapshot(spark, snap)
    val bandStore = bandLog(workDir, cfg).read(spark)
      .getOrElse(sys.error(s"band store missing under $workDir"))
    val newPairs = Dedup.incrementalPairsBanded(newIds, bandStore, allSigs, cfg)
    pl.writeAppend(absentFrom(pl, "id_a", "id_b")(newPairs))
    writeMatchedPaths(workDir, cfg, snap.entries.map(_.path).toSet)
  }

  /** The rows of `df` whose `keys` the table behind `log` does not hold
    * yet (all of `df` while the table has no commit): the one skip-if-done
    * rule of the signature, band and pair flushes. Its result is always
    * written with `writeAppend`, never with the TxLog's batch-replace
    * mode: a retried micro-batch legitimately leaves nothing absent, and
    * a replace commit would swap the first attempt's rows for that empty
    * set and lose data. Content dedup alone makes the retry exact. A
    * store read failure propagates and fails the batch.
    */
  private def absentFrom(log: TxLog, keys: String*)(df: DataFrame): DataFrame =
    log.read(df.sparkSession) match {
      case Some(stored) => df.join(stored.select(keys.map(col): _*), keys, "left_anti")
      case None => df
    }

  // --- match-state marker (which store paths a match run has covered) ---

  private def matchStateFile(workDir: String, cfg: DedupConfig): File =
    new File(s"$workDir/match_state", s"tag=${cfg.configTag}.json")

  private def readMatchedPaths(workDir: String, cfg: DedupConfig): Set[String] =
    MarkerFile.read(matchStateFile(workDir, cfg)).fold(Set.empty[String]) { text =>
      import org.json4s._
      org.json4s.jackson.JsonMethods.parse(text) match {
        case JArray(items) => items.collect { case JString(s) => s }.toSet
        case other => sys.error(s"bad match state: $other")
      }
    }

  /** Atomic single-writer marker update. Losing it (crash between pair
    * commit and this write) only causes a re-match, which the pair-store
    * anti-join makes exact.
    */
  private def writeMatchedPaths(workDir: String, cfg: DedupConfig,
                                paths: Set[String]): Unit =
    MarkerFile.write(matchStateFile(workDir, cfg), paths.toSeq.sorted
      .map(p => "\"" + p.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]"))

  /** The persisted incremental LSH band table (id, band_key). */
  def bandsDir(workDir: String, cfg: DedupConfig): String =
    s"$workDir/bands_stream/tag=${cfg.configTag}"

  /** Compact the append-per-batch stores (signatures, bands, pairs):
    * each accumulates one commit per micro-batch, which at streaming
    * cadence becomes the classic small-files problem. Content is
    * already deduplicated at write time (store anti-joins), so
    * compaction is a pure rewrite: read the snapshot, coalesce toward
    * spark.sql.shuffle.partitions, commit a REPLACE manifest (atomic —
    * a crash at any point leaves either the old or the new snapshot
    * fully readable), then vacuum superseded files. A concurrent
    * append that wins the commit race aborts the rewrite for that
    * store (compaction is an optimization; inside `start()` it runs
    * serially with the writes, so the race only matters for manual
    * out-of-band calls).
    *
    * `vacuumGraceMs` defaults to the same protective 10-minute grace as
    * [[graft.store.TxLog.vacuum]]: an out-of-band invocation must not
    * delete a concurrent writer's staged-but-uncommitted data dir (its
    * later commitAppend would publish a manifest referencing deleted
    * files — silent corruption instead of a clean CAS abort) nor yank
    * files from a reader holding a pre-compact snapshot. Pass 0 only in
    * tests / known-quiescent maintenance windows.
    * `keepVersions`/`retainMs` pass straight to
    * [[graft.store.TxLog.vacuum]] so pinned snapshot readers within the
    * retention window keep their files; `keepVersions = 0` skips the
    * vacuum (caller owns retention).
    */
  def compactStores(spark: SparkSession, workDir: String, cfg: DedupConfig,
                    vacuumGraceMs: Long = 600000L,
                    keepVersions: Int = 1, retainMs: Long = 0L)
      : Option[(Set[String], Set[String])] = {
    val targetParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    var sigRewrite: Option[(Set[String], Set[String])] = None
    Seq((sigLog(workDir, cfg), true), (bandLog(workDir, cfg), false),
      (pairLog(workDir, cfg), false))
      .foreach { case (log, isSig) =>
        val snap = log.snapshot()
        if (snap.entries.size > 1) {
          val maxBatch = snap.entries.map(_.batch).max
          val dir = log.newDataDir()
          log.readSnapshot(spark, snap).coalesce(targetParts)
            .write.mode(SaveMode.Overwrite).parquet(dir.getPath)
          val entry = TxEntry(log.relativize(dir), maxBatch,
            rows = TxLog.footerRowCount(dir))
          if (log.commitReplace(Seq(entry), snap.version)) {
            if (keepVersions >= 1)
              log.vacuum(keepVersions, orphanGraceMs = vacuumGraceMs,
                retainMs = retainMs)
            if (isSig)
              sigRewrite =
                Some((snap.entries.map(_.path).toSet, Set(entry.path)))
          } else
            TxLog.deleteRecursively(dir)
        }
      }
    // (source paths, replacement paths) of the SIGNATURE store rewrite
    // when it committed — processBatch's match-state fast-forward input
    sigRewrite
  }

  def bands(spark: SparkSession, workDir: String, cfg: DedupConfig): DataFrame =
    bandLog(workDir, cfg).read(spark)
      .getOrElse(sys.error(s"band store missing under $workDir"))

  def signatures(spark: SparkSession, workDir: String, cfg: DedupConfig): DataFrame =
    sigLog(workDir, cfg).read(spark)
      .getOrElse(sys.error(s"signature store missing under $workDir"))

  def pairs(spark: SparkSession, workDir: String, cfg: DedupConfig): DataFrame =
    pairLog(workDir, cfg).read(spark)
      .getOrElse(sys.error(s"pair store missing under $workDir"))

  /** Tumbling-window aggregation over an event-time column — the
    * streaming-semantics analog of the fork's fixed 600 s ingestion
    * windows (`ray_extract_features.py:107-124`), usable both on batch
    * and streaming frames (same plan).
    */
  def windowedCounts(events: DataFrame, tsCol: String, width: String): DataFrame =
    events
      .withWatermark(tsCol, width)
      .groupBy(window(col(tsCol), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))
}
