package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Training-data curation operators beyond the reference's own surface:
  * intra-document repetition signals, benchmark decontamination, and
  * deterministic content-hash sampling. These are the standard
  * web-corpus curation passes (Gopher/MassiveText repetition rules,
  * GPT-3-style n-gram decontamination, hash-bucket held-out splits)
  * re-expressed as declarative Spark plans.
  *
  * Scale notes (see SCALE.md): repetition stats are a narrow map plus
  * one doc_id-keyed aggregation (uniform key, no skew exposure);
  * decontamination joins exploded doc k-gram hashes against the
  * benchmark gram set — benchmark suites are tiny by construction, so
  * the gram side is broadcast and the scan side never shuffles;
  * hash sampling is a pure filter (predicate-pushdown friendly, no
  * shuffle at all).
  */
object Curation {

  /** Gopher-style intra-document repetition statistics per doc:
    *
    *  - `dup_token_frac`: fraction of token positions occupied by a
    *    token that already appeared in the document
    *    (1 - distinct/total);
    *  - `top_bigram_frac`: fraction of adjacent bigram slots taken by
    *    the document's single most frequent bigram.
    *
    * Documents with fewer than 2 tokens are excluded (no bigram slots
    * — the denominator is undefined, matching the curation rule that
    * such docs are length-filtered earlier anyway).
    *
    * The statistics are strictly per-document, so the production plan
    * is ONE codegen'd kernel call per row — a pure narrow map with
    * ZERO exchanges (measured 23x faster than the explode/groupBy
    * formulation at sf0.1, and at 100 TB the difference is a
    * corpus-sized shuffle avoided entirely). [[repetitionStatsExploded]]
    * keeps the declarative formulation as the bit-equality oracle.
    */
  def repetitionStats(docs: DataFrame,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    docs
      // cheap token-count predicate BEFORE the kernel (same convention
      // as Dedup.shingleSets): filtering on the kernel's own output
      // would make Catalyst evaluate the kernel in the Filter AND the
      // Project; the two element_at projections below share one kernel
      // call via per-operator subexpression elimination
      .where(size(split(col(textCol), " ")) >= 2)
      .select(col(idCol),
        graft.functions.Expressions.repetitionStats(col(textCol)).as("_rs"))
      .select(col(idCol),
        round(element_at(col("_rs"), 2), 6).as("dup_token_frac"),
        round(element_at(col("_rs"), 3), 6).as("top_bigram_frac"))

  /** Built-in-only formulation of [[repetitionStats]] — the semantic
    * oracle the kernel is bit-equality-tested against: bigram
    * decomposition is a per-row array transform (narrow), the
    * exchanges are doc_id-keyed aggregations (uniform, map-side
    * combined).
    */
  def repetitionStatsExploded(docs: DataFrame,
                              idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame = {
    val toks = split(col(textCol), " ")
    val base = docs
      .select(col(idCol), size(toks).as("n_tok"),
        size(array_distinct(toks)).as("n_distinct"),
        TextFunctions.wordShingles(col(textCol), 2).as("bigrams"))
      .where(col("n_tok") >= 2)
    val topBigram = base
      .select(col(idCol), explode(col("bigrams")).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(max(col("c")).as("top_c"))
    base.join(topBigram, Seq(idCol))
      .select(col(idCol),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_tok"), 6)
          .as("dup_token_frac"),
        round(col("top_c").cast("double") / (col("n_tok") - 1), 6)
          .as("top_bigram_frac"))
  }

  /** Benchmark decontamination: training docs sharing at least one
    * word k-gram with the benchmark set, with the count of distinct
    * shared grams (the GPT-3 appendix-C contamination rule at
    * configurable k; 13 in the paper, smaller here for synthetic
    * text). Join keys are xxhash64(gram) — 8-byte keys instead of
    * strings through the exchange; the benchmark side (per-doc-distinct
    * grams) is broadcast as-is (benchmark suites are ≪ executor memory
    * by definition). Returns (id, matched_grams); docs with zero overlap
    * are absent (filter with an anti-join downstream to keep clean
    * docs).
    */
  def contaminatedDocs(docs: DataFrame, bench: DataFrame, k: Int,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    // codegen'd kernel == array_distinct(transform(word k-grams,
    // xxhash64)) bit-for-bit (FunctionsSpec) at one call per row
    def grams(df: DataFrame, cols: Column*): DataFrame =
      df.select(cols :+
        explode(graft.functions.Expressions.shingleHashes(col(textCol), k))
          .as("gram_h"): _*)
    // no distinct() before the broadcast: a semi-join is insensitive to
    // build-side duplicates, grams are already per-doc distinct, and the
    // distinct would add the plan's only non-doc_id exchange (PlanSpec
    // asserts corpus grams never shuffle)
    val benchGrams = grams(bench)
    grams(docs, col(idCol))
      .join(broadcast(benchGrams), Seq("gram_h"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("matched_grams"))
  }

  /** Deterministic hash sampling: keep rows whose md5(key) falls below
    * `numerator`/65536 of the hash space (first 4 hex digits compared
    * lexicographically — md5 hex is uniform, so this is an unbiased
    * sample that is stable across runs, engines and cluster layouts;
    * the standard held-out-split / subsampling primitive). Pure
    * narrow filter: no shuffle, no RNG state.
    */
  def deterministicSample(df: DataFrame, key: Column, numerator: Int): DataFrame =
    df.where(substring(md5(key.cast("string").cast("binary")), 1, 4)
      < lit(hexThreshold(numerator)))

  /** Stratified variant — the training-mix rebalancer (e.g. keep 100%
    * of a low-resource language, 10% of English): a per-stratum
    * numerator out of 65536, strata missing from the map keep
    * `defaultNumerator`. Still one narrow filter — the threshold is a
    * CASE expression on the stratum column; the same key always lands
    * on the same side within its stratum, so budgets can be re-tuned
    * between runs while already-selected rows stay maximally stable
    * (a lower budget selects a subset of a higher one).
    */
  def stratifiedSample(df: DataFrame, strata: Column, key: Column,
                       numerators: Map[String, Int],
                       defaultNumerator: Int = 0): DataFrame = {
    val thr = numerators.toSeq.sortBy(_._1).foldLeft(
      lit(hexThreshold(defaultNumerator))) { case (acc, (stratum, num)) =>
      when(strata === stratum, lit(hexThreshold(num))).otherwise(acc)
    }
    df.where(substring(md5(key.cast("string").cast("binary")), 1, 4) < thr)
  }

  /** Chunk-level duplication statistics (the FineWeb/RefinedWeb window
    * dedup signal): split each doc into non-overlapping `chunkTokens`-
    * token windows (trailing partial window kept), count how often each
    * chunk text occurs across the corpus, and report per doc the
    * fraction of its chunks that occur more than once globally
    * (including repeats within the same doc). Docs whose chunks are all
    * unique score 0; a doc fully assembled from boilerplate scores 1.
    *
    * Plan shape: chunking is a narrow per-row transform; occurrences
    * aggregate on xxhash64(chunk) — ONE keyed exchange carrying 8-byte
    * keys (the same shape as the LSH band join, AQE/salting applies);
    * the per-doc fraction is a doc_id-keyed aggregation.
    */
  def chunkDupStats(docs: DataFrame, chunkTokens: Int,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val chunks = docs
      .select(col(idCol), explode(spanArray(textCol, chunkTokens)).as("chunk"))
      .select(col(idCol), xxhash64(col("chunk")).as("chunk_h"))
    val occ = chunks.groupBy("chunk_h").agg(count(lit(1)).as("n_occ"))
    chunks.join(occ, "chunk_h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        round(sum(when(col("n_occ") >= 2, 1).otherwise(0)).cast("double")
          / count(lit(1)), 6).as("dup_chunk_frac"))
  }

  /** Leakage-free train/heldout split: the sampling key is the
    * DUP-CLUSTER id, not the doc id, so a document and its near
    * duplicates always land on the same side — held-out evaluation
    * never sees a paraphrase of a training doc. Singletons (docs in no
    * cluster) key by their own id, which IS their cluster id under the
    * min-member convention. Composes [[deterministicSample]]'s
    * md5-bucket rule with the dedup `clusters` output; one broadcast-
    * size-agnostic left join + a narrow filter expression.
    */
  def leakageFreeSplit(docs: DataFrame, clusters: DataFrame,
                       heldOutNumerator: Int,
                       idCol: String = "doc_id"): DataFrame = {
    val assigned = docs.select(col(idCol))
      .join(clusters.select(col("id").as(idCol), col("cluster_id")),
        Seq(idCol), "left_outer")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
    assigned.withColumn("split",
      when(substring(md5(col("cluster_id").cast("string").cast("binary")), 1, 4)
        < lit(hexThreshold(heldOutNumerator)), "heldout").otherwise("train"))
  }

  private def hexThreshold(numerator: Int): String = {
    require(numerator >= 0 && numerator <= 65536, "numerator in [0, 65536]")
    // 65536/65536 must keep everything: 'g' sorts above every hex digit
    if (numerator == 65536) "g" else f"$numerator%04x"
  }

  /** Fixed-width token spans of `textCol` as one array expression —
    * the shared windowing core of [[chunkDupStats]] (scoring) and
    * [[removeDuplicateSpans]] (removal), so the two can never diverge.
    * Null text coalesces to the empty string, which spans to exactly
    * one empty span (Spark's split always returns >= 1 element), so
    * every input doc yields at least one span row on BOTH engines of
    * the oracle pair.
    */
  private def spanArray(textCol: String, spanTokens: Int): org.apache.spark.sql.Column = {
    val toks = split(coalesce(col(textCol), lit("")), " ")
    val n = ceil(size(toks).cast("double") / spanTokens).cast("int")
    transform(sequence(lit(0), n - 1),
      i => concat_ws(" ", slice(toks, i * spanTokens + 1, lit(spanTokens))))
  }

  /** C4/RefinedWeb-style duplicate-SPAN removal: fixed-width token
    * spans that occur >= minOcc times corpus-wide are REMOVED from
    * every document except their first occurrence (ordered by
    * (id, span index) — the keeper convention), and each document's
    * text is reconstructed from its surviving spans in order. This is
    * the removal counterpart of [[chunkDupStats]] (which only scores):
    * the C4 pipeline drops repeated three-sentence spans the same way.
    *
    * Returns (id, n_spans, n_removed, kept_text) for EVERY input doc —
    * a document whose spans were all removed keeps an empty string.
    *
    * Scale shape: span chunking is narrow; the occurrence count + first
    * occurrence run in ONE aggregate keyed on the 8-byte span hash
    * (map-side combine collapses hot boilerplate spans before the
    * wire); the keeper filter is a semi-join-shaped join back on the
    * same key; reconstruction is one groupBy(id) with a bounded
    * per-doc array sort. Grouping on the hash admits 2^-64 collisions
    * (same documented trade as chunkDupStats).
    */
  def removeDuplicateSpans(docs: DataFrame, spanTokens: Int = 20,
                           minOcc: Int = 2,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val spans = docs.select(col(idCol),
        posexplode(spanArray(textCol, spanTokens)))
      .toDF(idCol, "span_idx", "span")
      .withColumn("h", xxhash64(col("span")))
    val occ = spans.groupBy("h").agg(
      count(lit(1)).as("n_occ"),
      min(struct(col(idCol).as("kid"), col("span_idx").as("kidx"))).as("first"))
    val kept = spans.join(occ, "h")
      .where(col("n_occ") < minOcc ||
        (col(idCol) === col("first.kid") && col("span_idx") === col("first.kidx")))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("span_idx"), col("span")))),
          s => s("span"))).as("kept_text"))
    docs.select(col(idCol),
        size(spanArray(textCol, spanTokens)).cast("long").as("n_spans"))
      .join(kept, Seq(idCol), "left_outer")
      .select(col(idCol),
        col("n_spans"),
        (col("n_spans") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** SemDeDup-style semantic deduplication over an embedding table
    * (id, embedding float[]): pairs with cosine >= threshold via the
    * SRP-LSH bucket join (collect-free — recall at dedup-grade
    * thresholds is ~1 and identical vectors ALWAYS collide), resolved
    * into duplicate groups by the same connected-components operator as
    * the text pipeline, then one keeper per group ranked by `quality`
    * (ties -> min id; SemDeDup keeps one representative per semantic
    * cluster — quality plays its centroid-distance role). Singletons
    * are their own group and trivially kept. Returns
    * (id, cluster_id, quality, kept) with id/cluster_id as strings
    * (the pair join's canonical id type).
    *
    * Scale shape: explode-by-table bucket join (stage-2 skew treatment
    * applies), sparse above-threshold pair exchange, log-rounds CC, one
    * window partitioned by bounded group id — no stage touches n².
    */
  def semanticDedup(emb: DataFrame, threshold: Double,
                    quality: org.apache.spark.sql.Column = lit(0.0),
                    bits: Int = 12, tables: Int = 4): DataFrame = {
    val pairs = graft.functions.Embeddings
      .srpThresholdPairs(emb, threshold, bits, tables)
    val clusters = graft.pipeline.Dedup.clusters(pairs)
    // only the id is canonicalized — the frame keeps ALL its columns so
    // a `quality` expression over any of them (score, length, …) still
    // resolves; keepList projects what it needs
    graft.pipeline.Dedup.keepList(
      emb.withColumn("id", col("id").cast("string")), clusters, quality)
      .select(col("id"), col("cluster_id"), col("quality"), col("kept"))
  }
}
