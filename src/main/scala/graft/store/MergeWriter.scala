package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Generic keyed upsert writer — the reference's chunked DB merge
  * pattern (`winnow/storage/db_result_storage.py:73-107` for signatures,
  * `270-317` for matches, one shape per satellite table `133-268`)
  * generalized to one writer parameterized by key columns, exactly as
  * SURVEY.md S10 prescribes.
  *
  * Storage is a [[TxLog]] table (atomic commit log, immutable data
  * files): each upsert batch lands as one committed data directory
  * carrying a `_batch` column, and `read()` resolves MERGE semantics
  * (matched → last writer wins by batch id, unmatched → insert) with a
  * key-partitioned window. The transactional properties — atomic
  * commits, optimistic concurrency for concurrent writers, crash-safe
  * compaction, snapshot-isolation reads — come from the log protocol,
  * not from directory-rename discipline.
  */
final class MergeWriter(spark: SparkSession, path: String, keys: Seq[String]) {
  import MergeWriter.CompactedEntryTag

  private val log = new TxLog(s"$path/table")

  /** Expose the underlying log for tests / maintenance (vacuum). */
  def txLog: TxLog = log

  /** Upsert a batch: matched keys take the new values, unmatched insert.
    * batchId must increase monotonically across logical writes (the
    * reference uses txn chunks; streaming callers pass the micro-batch
    * id, `ray_extract_features.py:165-206` semantics). A RETRIED batch
    * replaces itself: the commit drops any live entry with the same
    * batch id, so re-delivery cannot leave two row sets with an
    * undefined last-writer-wins tiebreak. Concurrent upserts with
    * distinct batch ids both land (optimistic append commit).
    */
  def upsert(batch: DataFrame, batchId: Long): Long = {
    require(batchId != CompactedEntryTag,
      s"batchId $batchId is reserved for compacted entries")
    // the read path synthesizes these and would silently overwrite and
    // then drop a user column of the same name (writePartitionedAppend
    // guards its reserved _part the same way)
    Seq("_batch", "_seq", "_dir", "_entry_seq", "_rn").foreach { r =>
      require(!batch.columns.exists(_.equalsIgnoreCase(r)),
        s"column name '$r' is reserved by MergeWriter; rename the input column")
    }
    // a typo'd key would COMMIT fine and then break every subsequent
    // read (last-writer-wins partitions by the key, unresolved column)
    // far from the mistake — this is the boundary where user-typed key
    // names first meet a schema (e.g. SQL `MERGE INTO TXLOG ... KEYS`),
    // so fail here, before anything durable happens
    keys.foreach { k =>
      require(batch.columns.exists(_.equalsIgnoreCase(k)),
        s"key column '$k' not in the batch (columns: " +
          s"${batch.columns.mkString(", ")})")
    }
    val dir = log.newDataDir()
    val stamped = batch.withColumn("_batch", lit(batchId))
    val seed = log.requireLegacyCompatible(spark, stamped.schema.json)
    stamped
      .write.mode(SaveMode.Overwrite)
      .parquet(dir.getPath)
    // declaring the written schema pins reads to it (TxLog schema
    // evolution): a store whose batches GAIN a column reads the old
    // batches with that column null, instead of whichever footer wins.
    // widenSchema: a batch NARROWER than the table must not hide the
    // table's other columns (its rows read them as null) — dropping a
    // column is a deliberate DDL (txLog.alterDropColumn), never the
    // side effect of one narrow batch
    // returns the committed version so SQL/API callers can immediately
    // pin the snapshot this upsert produced ([[TxLogSql.pinView]])
    log.commitAppend(Seq(TxEntry(log.relativize(dir), batchId,
        rows = TxLog.footerRowCount(dir))),
      replaceBatch = Some(batchId), op = "upsert",
      schemaJson = Some(stamped.schema.json), widenSchema = true,
      seedLineage = seed)
  }

  /** Snapshot read with a read-time `_seq` column = the entry's index
    * in the manifest (commit order: appends land after kept entries, a
    * replace resets to index 0). `_seq` is the DETERMINISTIC tiebreak
    * for equal `_batch` values — the one way that happens is a
    * compaction (which stamps rows with maxBatch) followed by a retried
    * upsert of batchId == maxBatch: the retry's entry sits later in the
    * manifest and must win, whatever values it carries.
    *
    * ONE multi-path parquet scan (same as a plain snapshot read — a
    * per-entry read + union chain would cost O(entries) driver-side
    * footer resolutions and a hundreds-deep plan on an un-compacted
    * streaming store); each row's entry index comes from mapping
    * `input_file_name()`'s `data/<uuid>` segment through a broadcast
    * lookup. Left join + -1 default so an unmappable file (impossible
    * under the newDataDir layout) degrades to lowest tiebreak priority
    * rather than silently dropping rows.
    */
  private def readWithSeq(snap: TxSnapshot): DataFrame = {
    import spark.implicits._
    val raw = log.readSnapshot(spark, snap)
    val lookup = snap.entries.zipWithIndex
      .map { case (e, i) => (e.path.split("/")(1), i.toLong) }
      .toDF("_dir", "_entry_seq")
    raw
      // anchored to the path TAIL: an unanchored "/data/([^/]+)/" would
      // capture the wrong segment for a store ROOTED under a path that
      // itself contains /data/ (e.g. /data/graft/sigs), zeroing every
      // _seq and reopening the nondeterministic equal-batch tiebreak
      .withColumn("_dir",
        regexp_extract(input_file_name(), "/data/([^/]+)/[^/]*$", 1))
      .join(broadcast(lookup), Seq("_dir"), "left")
      .withColumn("_seq", coalesce(col("_entry_seq"), lit(-1L)))
      .drop("_dir", "_entry_seq")
  }

  private def resolveLastWriter(snap: TxSnapshot): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_batch").desc, col("_seq").desc)
    readWithSeq(snap)
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn", "_batch", "_seq")
  }

  /** Current state: last writer per key wins (highest batch id, ties
    * broken by commit order — see [[readWithSeq]]). Reads one immutable
    * snapshot — concurrent upserts/compactions never disturb an
    * in-flight read.
    */
  def read(): DataFrame = {
    val snap = log.snapshot()
    require(snap.entries.nonEmpty, s"empty store at $path")
    resolveLastWriter(snap)
  }

  def exists(): Boolean = log.snapshot().entries.nonEmpty

  /** Time travel: the table state as of a committed log version
    * (Iceberg snapshot-read semantics — every manifest is a full
    * snapshot, so any retained version reconstructs exactly). Fails
    * loudly if the version was vacuumed past.
    */
  def readAsOf(version: Long): DataFrame = {
    val snap = log.snapshotAt(version)
    require(snap.entries.nonEmpty, s"version $version of $path is empty")
    resolveLastWriter(snap)
  }

  /** Compact the batch history to current state: materializes read()
    * (last-writer-wins) into ONE data directory and commits a replace
    * manifest (Iceberg `rewrite_data_files` semantics), so read() stops
    * paying a window over the full history. Crash-safe by construction:
    * the compacted directory is committed atomically or not at all —
    * there is no moment where the table is empty or half-swapped, and a
    * reader holding the pre-compact snapshot keeps its files until
    * `vacuum`. A concurrent upsert that wins the CAS race aborts this
    * compaction (retried up to `maxRetries`, then skipped — compaction
    * is an optimization, never worth clobbering a live write).
    * `keepVersions`/`retainMs` pass straight to [[TxLog.vacuum]] so
    * pinned snapshot readers within the retention window keep their
    * files; `keepVersions = 0` skips the vacuum (caller owns retention).
    * `minEntries` is the batching threshold: histories with fewer
    * manifest entries are left alone (the SQL `MIN n ENTRIES` clause).
    */
  def compact(maxRetries: Int = 3, vacuumGraceMs: Long = 600000L,
              keepVersions: Int = 1, retainMs: Long = 0L,
              minEntries: Int = 2): Unit = {
    var attempt = 0
    while (attempt < maxRetries) {
      val snap = log.snapshot()
      // below the caller's batching threshold (and never a single
      // entry) there is nothing worth collapsing
      if (snap.entries.size < math.max(2, minEntries)) return
      val maxBatch = snap.entries.map(_.batch).max
      val dir = log.newDataDir()
      // the ONE last-writer-wins resolution (same code path read()
      // serves), re-tagged with maxBatch so post-compaction upserts
      // still order correctly against the collapsed history
      resolveLastWriter(snap)
        .withColumn("_batch", lit(maxBatch))
        .write.mode(SaveMode.Overwrite).parquet(dir.getPath)
      // the manifest ENTRY is tagged with a reserved sentinel, not
      // maxBatch: a retried upsert of batch id == maxBatch would
      // otherwise replaceBatch-drop the compacted all-history entry and
      // silently wipe every other key (the _batch COLUMN inside the
      // data keeps maxBatch for last-writer-wins ordering)
      if (log.commitReplace(Seq(TxEntry(log.relativize(dir), CompactedEntryTag,
          rows = TxLog.footerRowCount(dir))),
          snap.version)) {
        if (keepVersions >= 1)
          log.vacuum(keepVersions, orphanGraceMs = vacuumGraceMs,
            retainMs = retainMs)
        return
      }
      // a concurrent commit won the version — drop the staged rewrite
      // and recompute against the new snapshot
      TxLog.deleteRecursively(dir)
      attempt += 1
    }
  }
}

object MergeWriter {
  /** Manifest-entry batch tag for compacted entries — outside the
    * caller batch-id space so a retried upsert can never
    * replaceBatch-drop the compacted history.
    */
  val CompactedEntryTag: Long = Long.MinValue
}
