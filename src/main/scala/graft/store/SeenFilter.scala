package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.pipeline.withCached

/** Bloom-prefiltered membership against a huge "seen" store — the
  * skip-if-done / already-ingested check (reference `exists()`
  * semantics, `winnow/storage/db_result_storage.py:46-58`) at the
  * scale where BOTH sides are large.
  *
  * A plain left-anti join of a large new batch against a 10^12-row
  * store shuffles the store every cadence. The bloom split avoids
  * that: a compact sketch of the store's keys (built once per
  * compaction cadence with one distributed aggregate, reusable across
  * many batches) classifies each new row map-side —
  *
  *  - "definitely unseen" (bloom miss): passes with NO join at all;
  *    for mostly-new corpora this is almost every row;
  *  - "maybe seen" (bloom hit, includes false positives at `fpp`):
  *    only this residue anti-joins the store.
  *
  * The union of the two is EXACTLY the anti-join result (blooms have
  * no false negatives), so correctness never depends on `fpp` — only
  * the residue size does. Keys are compared as strings on both sides
  * so id types can't diverge between build and probe.
  */
object SeenFilter {

  /** One distributed aggregate over the store -> compact sketch.
    * Size the sketch from the store's key count; fpp trades sketch
    * bytes for residue volume (1% fpp ≈ 9.6 bits/key).
    */
  def build(store: DataFrame, key: Column,
            expectedKeys: Long, fpp: Double = 0.01): BloomFilter =
    store.stat.bloomFilter(key.cast("string"), expectedKeys, fpp)

  /** Rows of `fresh` whose key is NOT in the store: bloom-miss rows
    * flow straight through; bloom-hit rows are verified with an
    * anti-join restricted to that residue. Returns an eagerly
    * materialized result (localCheckpoint): the two branches read the
    * flagged batch from ONE persisted scan instead of recomputing the
    * upstream `fresh` lineage (and the bloom probe) twice, and the
    * cache is released before returning.
    */
  def notSeen(fresh: DataFrame, key: Column, bloom: BloomFilter,
              store: DataFrame, storeKey: Column): DataFrame = {
    // synthesized below; a same-named input column would be silently
    // overwritten (withColumn resolves case-insensitively) or make the
    // join condition ambiguous — fail loudly instead
    Seq("_maybe_seen", "_seen_key").foreach { r =>
      require(!fresh.columns.exists(_.equalsIgnoreCase(r)),
        s"column name '$r' is reserved by SeenFilter.notSeen; rename it")
    }
    // NULL keys have no identity: they pass as unseen here AND can
    // never match a store key later, so retry idempotency for them is
    // impossible — callers needing it must reject nulls upstream
    // (IncrementalIngest.processBatch does)
    val spark = fresh.sparkSession
    val bcast = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((s: String) => s != null && bcast.value.mightContainString(s))
    withCached(fresh.withColumn("_maybe_seen", mightContain(key.cast("string")))) { flagged =>
      val definite = flagged.where(!col("_maybe_seen")).drop("_maybe_seen")
      val residue = flagged.where(col("_maybe_seen")).drop("_maybe_seen")
      // NO distinct() on the store side: a left-anti join is
      // insensitive to right-side duplicates, and a store-wide dedup
      // aggregate per cadence is the very shuffle this operator exists
      // to avoid
      val verified = residue.join(
        store.select(storeKey.cast("string").as("_seen_key")),
        key.cast("string") === col("_seen_key"), "left_anti")
      definite.unionByName(verified).localCheckpoint(true)
    }
  }
}
