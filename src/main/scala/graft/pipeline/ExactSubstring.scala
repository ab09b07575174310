package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Suffix-array-based exact-substring verification pass (north-star
  * component). Catches containment duplicates that set-based Jaccard
  * under-scores (truncation/boilerplate-wrap mutations — the reference's
  * crop/offset augmentations, `benchmarks/augmented_dataset/labels.csv`).
  *
  * Runs AFTER candidate generation, so each task sees a bounded pair
  * group (reference analog: template matching runs per-file against a
  * small template set, `winnow/search_engine/template_matching.py:122-166`).
  * Pure Scala per-pair kernel inside one `mapPartitions`-equivalent typed
  * map — no shuffle beyond the candidate join itself.
  */
object ExactSubstring {

  /** Suffix array of `s` (indices of sorted suffixes). Counting-sort
    * (radix) prefix doubling — O(n log n), all-primitive loops: each
    * round is two stable LSD passes (bucket by second-key order, then
    * counting sort by first-key rank) instead of the round-5 shape's
    * comparison sort through a boxing `Ordering[Int]` (O(n log^2 n)
    * with per-compare allocation). The suffix array of a string is
    * unique, so the output is bit-identical to the old builder; the
    * randomized SA property in FunctionsSpec pins it. n here is a
    * single document (~KBs), built per hay doc inside a task.
    */
  def suffixArray(s: String): Array[Int] = {
    val n = s.length
    val sa = new Array[Int](n)
    if (n == 0) return sa
    if (n == 1) return sa // sa(0) = 0 already
    var rank = new Array[Int](n)
    var tmp = new Array[Int](n)
    val order2 = new Array[Int](n)
    var i = 0
    while (i < n) { rank(i) = s.charAt(i).toInt; i += 1 }
    val cnt = new Array[Int](math.max(65536, n) + 1)
    // stable counting sort of src by rank(.) into dst (ranks <= bound)
    def sortByRank(src: Array[Int], dst: Array[Int], bound: Int): Unit = {
      java.util.Arrays.fill(cnt, 0, bound + 1, 0)
      var j = 0
      while (j < n) { cnt(rank(j)) += 1; j += 1 }
      var sum = 0
      var v = 0
      while (v <= bound) { val c = cnt(v); cnt(v) = sum; sum += c; v += 1 }
      j = 0
      while (j < n) { val x = src(j); dst(cnt(rank(x))) = x; cnt(rank(x)) += 1; j += 1 }
    }
    // round 0: sort by first char, compact ranks
    i = 0
    while (i < n) { order2(i) = i; i += 1 }
    sortByRank(order2, sa, 65535)
    var r = 0
    tmp(sa(0)) = 0
    i = 1
    while (i < n) {
      if (rank(sa(i)) != rank(sa(i - 1))) r += 1
      tmp(sa(i)) = r
      i += 1
    }
    locally { val t = rank; rank = tmp; tmp = t }
    if (r == n - 1) return sa
    var bound = r
    var k = 1
    while (k < n) {
      // order by second key rank(i+k): suffixes with no second key
      // (i >= n-k) sort first; the rest follow in sa's current order
      // shifted by k (any consistent order among exact ties is fine —
      // tied suffixes receive the same rank below)
      var p = 0
      i = n - k
      while (i < n) { order2(p) = i; p += 1; i += 1 }
      i = 0
      while (i < n) {
        val x = sa(i); if (x >= k) { order2(p) = x - k; p += 1 }
        i += 1
      }
      sortByRank(order2, sa, bound) // stable: preserves second-key order
      // compact ranks by (rank, rank at +k) pair equality along sa
      tmp(sa(0)) = 0
      r = 0
      i = 1
      while (i < n) {
        val a = sa(i - 1); val b = sa(i)
        val ra = if (a + k < n) rank(a + k) else -1
        val rb = if (b + k < n) rank(b + k) else -1
        if (rank(a) != rank(b) || ra != rb) r += 1
        tmp(sa(i)) = r
        i += 1
      }
      locally { val t = rank; rank = tmp; tmp = t }
      // all suffixes have distinct lengths, so ranks always separate
      // fully once 2k >= n — the loop exits through here
      if (r == n - 1) return sa
      bound = r
      k <<= 1
    }
    sa
  }

  /** Binary search: does `needle` occur in `hay` (whose suffix array is
    * `sa`)? Standard lower-bound over suffixes.
    */
  def containsVia(hay: String, sa: Array[Int], needle: String): Boolean = {
    var lo = 0
    var hi = sa.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val suf = sa(mid)
      val cmp = compareSuffix(hay, suf, needle)
      if (cmp == 0) return true
      else if (cmp < 0) lo = mid + 1
      else hi = mid - 1
    }
    false
  }

  /** Compare hay[suf..] against needle, prefix-wise: 0 if needle is a
    * prefix of the suffix.
    */
  private def compareSuffix(hay: String, suf: Int, needle: String): Int = {
    var i = 0
    val nH = hay.length
    val nN = needle.length
    while (i < nN) {
      if (suf + i >= nH) return -1 // suffix shorter: suffix < needle
      val c = hay.charAt(suf + i) - needle.charAt(i)
      if (c != 0) return c
      i += 1
    }
    0
  }

  /** For candidate pairs(id_a, id_b) over docs(id, text): emit pairs
    * where the shorter text occurs verbatim inside the longer
    * (contained = true/false). Deterministic; text is compared as-is —
    * normalize upstream if desired.
    *
    * Pairs are grouped by their HAY document (the longer side) so the
    * O(n log^2 n) suffix array is built ONCE per hay doc per batch, and
    * the hay group is bounded by a MEASURED hot split (the same pattern
    * as the hot-shingle salting in `Dedup.containmentPairs`):
    *
    *  - hays in at most `hotCap` candidate pairs take the compact
    *    `collect_list` path — one bounded row per hay (≤ hotCap needle
    *    texts), the fast shape for the overwhelmingly common case
    *    (measured ~2x faster than cogroup at sf0.1);
    *  - hays past the cap — boilerplate matched by thousands of needles,
    *    exactly the skew band-salting exists for — are CO-GROUPED with
    *    their needles instead: the needle side is a STREAMED iterator
    *    off the sorted shuffle, so per-task memory is one suffix array
    *    plus the needle in flight, independent of group size. No giant
    *    row is ever materialized (the round-3 hazard).
    *
    * Per-hay candidate counts come from the ids-only oriented pair set
    * (one cheap aggregation); the hot-hay id set is tiny by
    * construction (≤ |pairs| / hotCap) and broadcast to split both
    * sides without a shuffle. The hot set is EVALUATED up front: when
    * no hay is hot — the normal case — the single-consumer cold plan is
    * returned directly, so the benign path pays exactly one extra
    * ids-only aggregation over the round-3 shape, none of the
    * two-branch machinery.
    */
  def containmentPairs(candidates: DataFrame, docs: DataFrame,
                       hotCap: Int = 128): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // 1. orientation from a LENGTH-only projection — full texts never
    //    join the candidate table row-per-pair. MATERIALIZED (ids only,
    //    tiny): it feeds the hot-count agg AND both branch splits —
    //    lazy, the orientation joins would re-execute once per consumer.
    val lens = docs.select(col("id").cast("string").as("id"),
      length(col("text")).as("len"))
    val withLen = candidates
      .select(col("id_a").cast("string").as("id_a"),
        col("id_b").cast("string").as("id_b"))
      .join(lens.select(col("id").as("id_a"), col("len").as("len_a")), "id_a")
      .join(lens.select(col("id").as("id_b"), col("len").as("len_b")), "id_b")
    val (oriented, _) = checkpointed(withLen.select(
      when(col("len_a") >= col("len_b"), col("id_a")).otherwise(col("id_b"))
        .as("hay_id"),
      when(col("len_a") >= col("len_b"), col("id_b")).otherwise(col("id_a"))
        .as("needle_id"),
      col("id_a"), col("id_b")))
    // 2. needle text attaches per pair (each needle ships once per pair,
    //    bounded); the hay text never rides the pair rows
    val needleTexts = docs.select(col("id").cast("string").as("needle_id"),
      col("text").as("needle_text"))
    def pairRowsOf(orientedSide: DataFrame): DataFrame =
      orientedSide.join(needleTexts, "needle_id")
        .select(col("hay_id"), col("id_a"), col("id_b"), col("needle_text"))
    // 3. measured hot split: ids-only count per hay, hot set broadcast.
    //    Checkpointed with its row count observed: it feeds three
    //    broadcast consumers (anti/semi/semi) — lazy, the aggregation
    //    would re-run once per consumer. `oriented` is the result's;
    //    when this job fails it is released before the error propagates.
    val (hotHays, hot) =
      try checkpointed(oriented.groupBy("hay_id")
        .agg(count(lit(1)).as("n")).where(col("n") > hotCap).select("hay_id"))
      catch { case t: Throwable => release(oriented); throw t }
    val hayTexts = docs.select(col("id").cast("string").as("hay_id"),
      col("text").as("hay_text"))
    // 4a. cold hays (bounded groups): collect_list + one join per group
    def coldPath(pairs: DataFrame): DataFrame = pairs
      .groupBy("hay_id")
      .agg(collect_list(struct(col("id_a"), col("id_b"), col("needle_text")))
        .as("items"))
      .join(hayTexts, "hay_id")
      .select(col("hay_text"), col("items"))
      .as[(String, Seq[(String, String, String)])]
      .flatMap { case (hay0, items) =>
        val hay = Option(hay0).getOrElse("")
        val sa = if (hay.nonEmpty) suffixArray(hay) else null
        items.iterator.map { case (ia, ib, needle0) =>
          (ia, ib, containedIn(hay, sa, Option(needle0).getOrElse("")))
        }
      }.toDF("id_a", "id_b", "contained")
    if (hot("rows") == 0L) {
      // no hot hay anywhere (the normal case): single-consumer cold
      // plan, no split joins, no second branch — round-3 shape + one
      // ids-only aggregation
      release(hotHays)
      return coldPath(pairRowsOf(oriented))
    }
    // 4b. hot hays exist: split on the broadcast hot set; hot needles
    // stream through a cogroup — nothing materializes per group
    val coldOut = coldPath(
      pairRowsOf(oriented.join(broadcast(hotHays), Seq("hay_id"), "left_anti")))
    val hotPairs = pairRowsOf(
      oriented.join(broadcast(hotHays), Seq("hay_id"), "left_semi"))
      .as[(String, String, String, String)]
    val hotHayRows = hayTexts
      .join(broadcast(hotHays), Seq("hay_id"), "left_semi")
      .as[(String, String)]
    val hotOut = hotPairs.groupByKey(_._1).cogroup(hotHayRows.groupByKey(_._1)) {
      (_, pairs, hays) =>
        if (!hays.hasNext) Iterator.empty // hay id absent from docs
        else {
          val hay = Option(hays.next()._2).getOrElse("")
          val sa = if (hay.nonEmpty) suffixArray(hay) else null
          pairs.map { case (_, ia, ib, needle0) =>
            (ia, ib, containedIn(hay, sa, Option(needle0).getOrElse("")))
          }
        }
    }.toDF("id_a", "id_b", "contained")
    coldOut.union(hotOut)
  }

  private def containedIn(hay: String, sa: Array[Int], needle: String): Boolean =
    if (needle.isEmpty) true
    else if (hay.isEmpty) false
    else containsVia(hay, sa, needle)
}
