package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Expressions, SimHash, TextFunctions}

/** Configuration of the fingerprint cascade. Mirrors the reference's
  * representation-affecting config subset (`winnow/config/config.py:31,37`;
  * tag derivation `winnow/utils/utils.py:186-200`): changing any field
  * changes `configTag` and therefore invalidates cached stages.
  *
  * @param shingleK   word k-gram size (analog of frame_sampling)
  * @param numHashes  MinHash signature width (analog of signature dim 500)
  * @param bands      LSH band count; rows per band = numHashes / bands
  * @param threshold  exact-Jaccard match threshold (analog of
  *                   match_distance = 0.75, strict-< preserved as >=
  *                   on similarity — see Dedup.verifiedPairs)
  */
final case class DedupConfig(
    shingleK: Int = 3,
    numHashes: Int = 128,
    bands: Int = 40,
    rowsPerBand: Int = 3,
    threshold: Double = 0.5,
    minTokens: Int = 3) {
  require(bands * rowsPerBand <= numHashes,
    "bands*rowsPerBand must fit in the signature")
  // the degenerate-signature sentinel check (validSignatures) reads the
  // first three signature slots; below 3 hashes MinHash is meaningless
  // anyway, so reject the config here rather than throw per-row under
  // ANSI at band time
  require(numHashes >= 3, "numHashes must be >= 3")
  // S-curve: P(candidate | jaccard=j) = 1-(1-j^r)^b. At the default
  // (r=3, b=40): j=0.5 -> 0.995, j=0.7 -> 1-1e-7, j=0.9 -> 1-5e-24;
  // noise j=0.05 -> 5e-3 (false-candidate rate per pair). r=3 rejects
  // word-salad noise ~j/r-th power faster than r=2 while keeping
  // P(miss | j >= threshold) under 0.5% at the threshold itself and
  // ~0 for true near-dups — verification is exact, so banding only
  // affects recall, never precision (SURVEY.md §7.4(6)).

  /** 40-hex config tag (reference `utils.py:186-200`). */
  lazy val configTag: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val json =
      s"""{"shingleK":$shingleK,"numHashes":$numHashes,"bands":$bands,""" +
        s""""rowsPerBand":$rowsPerBand,""" +
        s""""threshold":$threshold,"minTokens":$minTokens}"""
    md.digest(json.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(40)
  }
}

/** The near-duplicate detection pipeline, stage by stage. Every stage is a
  * pure DataFrame -> DataFrame function so Catalyst sees one declarative
  * plan end-to-end (scan -> pruning/pushdown -> shuffle on doc key ->
  * shuffle on band key -> shuffle on pair key), mirroring the reference
  * lifecycle extract_features -> generate_matches (SURVEY.md §3.1-3.2).
  *
  * Input contract: a docs DataFrame with columns (id: any orderable type,
  * text: string). Use `fromPages` / `fromDocuments` adapters.
  */
object Dedup {

  /** Stage 1 — per-doc distinct shingle-hash sets. One narrow projection;
    * no shuffle. Rows shorter than k shingle to an empty set and are
    * dropped (reference min-duration filter analog,
    * `scene_detection.py:132-134`).
    */
  def shingleSets(docs: DataFrame, cfg: DedupConfig): DataFrame =
    docs
      // filter on the cheap token-count predicate BEFORE hashing: a
      // filter on the shingle array would make Catalyst evaluate the
      // hashing kernel twice per row (once in Filter, once in Project).
      // minTokens (F7, reference min-duration analog) is enforced here
      // — it can only raise the floor above the shingleK minimum
      .where(size(split(col("text"), " ")) >= math.max(cfg.shingleK, cfg.minTokens))
      .select(col("id"), Expressions.shingleHashes(col("text"), cfg.shingleK).as("shingles"))

  /** Scale-adaptive parallelism floor for the CPU-heavy narrow kernel
    * stage that follows: a tiny input (sub-openCost parquet at bench
    * scale) plans as ONE scan split, pinning the whole shingle +
    * MinHash pass to a single core of the cluster. Derived from the
    * input, never a constant (round-6 rule): a no-op whenever the scan
    * already carries >= defaultParallelism splits — the at-scale case —
    * so no exchange is ever added where it would move real data.
    * Downstream consumers are partition-independent by construction
    * (per-row kernels, set joins, integer-ratio scores, content-derived
    * CC labels), so the result bits cannot change. The one floor rule
    * of the engine: applied by the materializing pair operators, the
    * synthetic-audio generator and the brute-force ANN query side, NOT
    * inside [[shingleSets]] itself: the bare shingle+signature
    * projection must stay a single narrow codegen stage (PlanSpec pins
    * that shape).
    */
  private[graft] def kernelParallel(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df else df.repartition(p)
  }

  /** Stage 2 — MinHash signatures + SimHash fingerprint per doc.
    * Computed directly from the shingle array by the custom codegen'd
    * expressions in graft.functions.Expressions (no explode, no shuffle,
    * no interpreted HOF tree): the signature stage is a single narrow
    * whole-stage-codegen map over the scan.
    */
  def signatures(shingled: DataFrame, cfg: DedupConfig): DataFrame =
    shingled.select(col("id"), col("shingles"),
      Expressions.minhashSig(col("shingles"), cfg.numHashes).as("sig"),
      Expressions.simhash64(col("shingles")).as("simhash"),
      size(col("shingles")).as("n_shingles"))

  /** Stage 3 — LSH band keys: one row per (doc, band), key = xxhash64 of
    * (band index, the band's signature slice). Reference analog: the
    * kd-tree candidate search (`generate_matches.py:57-62`) re-expressed
    * as a group-by-able key (SURVEY.md J1).
    */
  def bandTable(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    sigs.select(col("id"),
      explode(Expressions.bandKeys(col("sig"), cfg.bands, cfg.rowsPerBand))
        .as("band_key"))

  /** Stage 4 — candidate pairs: within-band self-join, canonicalized
    * (id_a < id_b — reference self-match drop + sorted-pair dedup,
    * `generate_matches.py:88-94`), distinct across bands. Hot-band skew
    * (bands shared by f docs produce f^2/2 pairs in one task) is the
    * job of [[candidatePairsSkewAware]], the production join.
    */
  def candidatePairs(bands: DataFrame): DataFrame = {
    // both join legs are the IDENTICAL subtree (no per-side alias
    // projection): under a shuffle join Catalyst's ReuseExchange
    // collapses them to one exchange, and under a broadcast join the
    // per-side canonical plans still match — the round-5 shape
    // (id->id_a vs id->id_b projections) planned two distinct legs
    // and re-executed the band lineage per side (guide §2.4)
    val base = bands.select(col("band_key"), col("id"))
    base.as("a").join(base.as("b"),
        col("a.band_key") === col("b.band_key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Skew-aware candidate pairs (north rule: "explicit salted
    * repartitioning for skewed hot bands"): bands are split by measured
    * frequency — cold keys take the plain self-join; hot keys (freq >
    * hotCap, e.g. boilerplate-dominated buckets) are salted so no join
    * task materializes a full f^2 bucket. Replication cost is paid ONLY
    * on hot rows. The hot-key set is tiny by construction (skew = few
    * heavy keys) and is broadcast. Pair-set equality with the plain
    * join is tested on the skew fixture.
    */
  def candidatePairsSkewAware(bands: DataFrame, hotCap: Int = 1024,
                              saltBuckets: Int = 16): DataFrame = {
    // the band table feeds THREE consumers (hot-key aggregate, hot
    // semi-join probe, cold anti-join probe) — materialized once, or
    // the upstream lineage (parquet scan + minhash slicing + band
    // hashing) executes three times per run
    val b = bands.localCheckpoint(true)
    val hotKeys = b.groupBy("band_key").count()
      .where(col("count") > hotCap).select("band_key")
    val hot = b.join(broadcast(hotKeys), Seq("band_key"), "left_semi")
    val cold = b.join(broadcast(hotKeys), Seq("band_key"), "left_anti")
    val coldPairs = {
      val l = cold.select(col("band_key"), col("id").as("id_a"))
      val r = cold.select(col("band_key"), col("id").as("id_b"))
      l.join(r, "band_key").where(col("id_a") < col("id_b"))
    }
    val hotPairs = {
      val l = hot.select(col("band_key"),
        pmod(xxhash64(col("id")), lit(saltBuckets)).as("salt"), col("id").as("id_a"))
      val r = hot.select(col("band_key"), col("id").as("id_b"),
        explode(sequence(lit(0), lit(saltBuckets - 1))).as("salt"))
      l.join(r, Seq("band_key", "salt")).where(col("id_a") < col("id_b"))
    }
    coldPairs.select("id_a", "id_b")
      .union(hotPairs.select("id_a", "id_b"))
      .distinct()
  }

  /** Stage 5 — exact verification: join candidate pairs back to the
    * shingle sets and compute exact Jaccard; keep pairs with
    * jaccard >= threshold. The reference thresholds estimated distance
    * only (`utils.py:76-83`); we verify exactly so banding parameters
    * control recall, never precision.
    */
  def verifiedPairs(
      candidates: DataFrame,
      shingled: DataFrame,
      cfg: DedupConfig): DataFrame = {
    val a = shingled.select(col("id").as("id_a"), col("shingles").as("sh_a"))
    val b = shingled.select(col("id").as("id_b"), col("shingles").as("sh_b"))
    candidates
      .join(a, "id_a")
      .join(b, "id_b")
      .withColumn("jaccard", Expressions.jaccardSets(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= cfg.threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Full pipeline: docs(id, text) -> verified canonical pairs
    * (id_a < id_b, jaccard >= threshold), as a lazy plan that caches
    * nothing. Each action over it recomputes the shingle table for both
    * the signature path and the verify joins; callers that materialize
    * the pair set use [[pairsMaterialized]], which caches it for the
    * call only.
    */
  def pairs(docs: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame = {
    val shingled = shingleSets(kernelParallel(docs), cfg)
    val sigs = signatures(shingled, cfg)
    verifiedPairs(candidatePairs(bandTable(validSignatures(sigs), cfg)), shingled, cfg)
  }

  /** Eagerly-materialized pairs: computes the verified pair set once
    * (localCheckpoint) with the intermediate caches scoped to the call,
    * so repeated invocations (bench warmup+timed run, per-dir serving
    * caches) don't accumulate cached blocks for the life of the session.
    */
  def pairsMaterialized(docs: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame =
    withCached(shingleSets(kernelParallel(docs), cfg)) { shingled =>
      // the band table feeds BOTH legs of the candidate self-join; when
      // the planner picks a broadcast join the legs cannot share an
      // exchange, so without this cache the signature kernel + banding
      // would execute once per leg (guide §2.4 — the skew-aware variant
      // materializes for the same reason). Narrow rows (~40 bands/doc).
      withCached(bandTable(validSignatures(signatures(shingled, cfg)), cfg)) { bands =>
        verifiedPairs(candidatePairs(bands), shingled, cfg).localCheckpoint(true)
      }
    }

  /** Exact n-gram Jaccard pairs via inverted-index self-join: any pair
    * with jaccard > 0 shares a shingle, so joining the exploded shingle
    * table with itself and counting shared shingles per pair is COMPLETE
    * — the correctness anchor for the LSH path (which must reproduce it
    * above threshold). At web scale the LSH path is the production one;
    * this operator's shingle join degenerates on hot shingles.
    */
  def exactJaccardPairs(docs: DataFrame, cfg: DedupConfig): DataFrame = {
    val shingled = shingleSets(kernelParallel(docs), cfg)
    val sh = shingled.select(col("id"), explode(col("shingles")).as("h"))
    val card = shingled.select(col("id"), size(col("shingles")).as("c"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(card.select(col("id").as("id_a"), col("c").as("ca")), "id_a")
      .join(card.select(col("id").as("id_b"), col("c").as("cb")), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("ca") + col("cb") - col("inter")))
      .where(col("jaccard") >= cfg.threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact n-gram Jaccard pairs with a positional prefix filter
    * (PPJoin-family): identical pair set to [[exactJaccardPairs]] — this
    * IS the production shape for exact-threshold joins at scale.
    *
    * Completeness: order every doc's shingle set by a global total order
    * (ascending document frequency, ties by hash). If
    * jaccard(A,B) >= tau then |A∩B| >= ceil(tau·|A|), so A and B must
    * share an element inside each one's first
    * `|X| - ceil(tau·|X|) + 1` elements — indexing ONLY those prefix
    * elements loses no pair. Length pruning (`tau·|B| <= |A|` both ways)
    * is likewise implied by the threshold. Verification stays exact, so
    * precision is 1 by construction.
    *
    * Hot-shingle behavior (the reason this variant exists): boilerplate
    * shingles shared by f docs explode the plain inverted-index join into
    * f²/2 rows. Under the frequency-ascending order, hot shingles sort
    * LAST inside every doc and fall outside the prefix unless a doc is
    * nearly all boilerplate — the join key distribution is bounded by the
    * rare end of the vocabulary instead of the hot end. Costs one extra
    * aggregation (doc frequency) + a per-doc window; both shuffle on keys
    * that stay bounded at corpus scale (shingle, doc id).
    */
  def exactJaccardPairsPrefix(docs: DataFrame, cfg: DedupConfig): DataFrame =
    withCached(shingleSets(kernelParallel(docs), cfg)) { shingled =>
      // the prefix table feeds BOTH legs of the candidate self-join:
      // cached so a broadcast-planned join cannot re-run the freq-join
      // + window lineage per leg (guide §2.4). A lazy cache is enough
      // here (unlike containmentPairs' eagerly filled ranked index): a
      // broadcast-planned self-join builds its broadcast side BEFORE the
      // probe stage runs, so the first leg populates the cache and the
      // second reads it — no concurrent cold-cache scans, and an eager
      // count would be one extra job
      withCached(prefixTable(rankedIndex(shingled), cfg.threshold)) { prefix =>
        verifiedPairs(pairCandidatesFromPrefix(prefix, cfg.threshold), shingled, cfg)
          .localCheckpoint(true)
      }
    }

  /** Ranked inverted index behind every prefix-filter operator: one row
    * per (doc, shingle) with the doc's cardinality `c`, the shingle's
    * corpus document frequency `df`, and `rn` = the shingle's 1-based
    * position in the doc's rarest-first (df asc, hash asc) order. ONE
    * freq aggregation + ONE window; consumers slice it with plain
    * filters (prefix bound, hot/cold df split) instead of re-joining.
    */
  private[graft] def rankedIndex(shingled: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingled.select(col("id"), size(col("shingles")).as("c"),
      explode(col("shingles")).as("h"))
    val freq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    sh.join(freq, "h")
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("h"))))
  }

  /** Prefix slice of [[rankedIndex]] for symmetric Jaccard at `tau`.
    * +2 not +1: verification compares the DOUBLE quotient against tau,
    * which can round up across tau while ceil(c*tau) lands one above
    * the achievable overlap — one element of window slack makes the
    * prefix bound robust to that boundary (extra candidates are
    * removed by the exact verify, so the pair set is unchanged).
    */
  private def prefixTable(ranked: DataFrame, tau: Double): DataFrame =
    ranked.where(col("rn") <= col("c") - ceil(col("c") * tau) + 2)
      .select("id", "h", "c", "rn")

  private def pairCandidatesFromPrefix(prefix: DataFrame, tau: Double): DataFrame =
    prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          // length pruning with the same one-unit boundary slack
          col("b.c") * tau <= col("a.c") + 1 &&
          col("a.c") * tau <= col("b.c") + 1 &&
          // POSITIONAL filter (PPJoin): a true pair's FIRST shared
          // element (rarest-first order) sits inside both prefixes and
          // bounds the overlap by 1 + min(remaining elements per side);
          // join rows that cannot reach the required tau*max(|A|,|B|)
          // overlap (one element of double slack, as above) are pruned.
          // The first-shared-element row always survives, so candidate
          // completeness is unchanged — exact verify removes extras.
          lit(1) + least(col("a.c") - col("a.rn"), col("b.c") - col("b.rn")) >=
            greatest(col("a.c"), col("b.c")) * tau - 1)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

  /** Prefix-filtered candidate pairs (see [[exactJaccardPairsPrefix]]).
    * Exposed for the pruning-evidence test comparing candidate volume
    * against the complete inverted-index join.
    */
  private[graft] def prefixCandidates(shingled: DataFrame, cfg: DedupConfig): DataFrame =
    pairCandidatesFromPrefix(
      prefixTable(rankedIndex(shingled), cfg.threshold), cfg.threshold)

  /** Fuzzy set-containment pairs: |A∩B| / min(|A|,|B|) >= tau over the
    * word-k-gram shingle sets — the edit-robust complement of the exact
    * suffix-array substring pass (`ExactSubstring`): a slightly-edited
    * quote of a small doc inside a big doc has LOW jaccard
    * (≈|A|/|B|) and no exact substring match, but HIGH containment.
    *
    * Candidate generation is an ASYMMETRIC prefix filter: the contained
    * side must share >= ceil(tau·|A|) elements with its container, so A
    * collides inside its first `|A| - ceil(tau·|A|) + 1` rarest-first
    * elements (same argument as [[exactJaccardPairsPrefix]]); the
    * containing side B indexes ALL its elements (B's shared part can be
    * an arbitrarily small fraction of B — no prefix bound exists).
    * Pairing condition `(|A|,idA) < (|B|,idB)` generates each unordered
    * pair exactly once with A the min-cardinality side. Verification is
    * the exact kernel intersection count, so precision is 1.
    *
    * Scale: containment semantics force the containing side to index
    * ALL its elements (its shared part can be an arbitrarily small
    * fraction — no prefix bound exists), which reintroduces hot-shingle
    * fan-out: boilerplate shared by f docs puts f index rows under ONE
    * join key. That skew is handled the same way as the hot LSH bands
    * ([[candidatePairsSkewAware]]): shingle frequencies are already
    * measured for the prefix order, so keys with df > `hotCap` are
    * split out and SALTED — the containing index takes a deterministic
    * salt in [0, saltBuckets), the (bounded) prefix side replicates
    * across the salts, and no join task ever materializes a full f-row
    * bucket. Cold keys pay nothing; the pair set is unchanged
    * (equality-tested on the boilerplate skew fixture).
    */
  def containmentPairs(docs: DataFrame, cfg: DedupConfig, tau: Double,
                       hotCap: Int = 1024, saltBuckets: Int = 16): DataFrame =
    withCached(shingleSets(kernelParallel(docs), cfg)) { shingled =>
      // ONE ranked inverted index (id, c, h, df, rn) feeds every slice
      // of the plan; cached because up to four join legs consume it
      withCached(rankedIndex(shingled)) { ranked =>
        // populate the cache EAGERLY: the join legs run as concurrent
        // stages of one job, and concurrent scans of a cold cache each
        // recompute the freq-join + window lineage (block store is
        // compute-then-publish, not compute-once) — measured 2x slower
        // than a single eager pass at sf0.1. The same pass returns
        // max(df), deciding up front whether a hot branch is needed at
        // all (the ExactSubstring.hotHays pattern).
        val maxDf = ranked.agg(max(col("df"))).head
        val hot = !maxDf.isNullAt(0) && maxDf.getLong(0) > hotCap
        containmentPlan(shingled, ranked, tau, hotCap, saltBuckets, hot)
          .localCheckpoint(true)
      }
    }

  /** The lazy plan behind [[containmentPairs]] over its shingle table
    * and [[rankedIndex]]: candidates from the asymmetric prefix join
    * (split into a cold join and a salted hot join when `hot`), then
    * the exact containment verify. Exposed for plan dumps, where the
    * checkpointed result would collapse to Scan ExistingRDD.
    */
  private[graft] def containmentPlan(shingled: DataFrame, ranked: DataFrame,
                                     tau: Double, hotCap: Int, saltBuckets: Int,
                                     hot: Boolean): DataFrame = {
    // df and rn ride each row of the ranked index, so hot/cold
    // membership and the prefix bound are plain filters — no extra
    // joins, no broadcasts (guide §2.4).
    // +2 not +1: the verify predicate is the DOUBLE quotient i/|A| >=
    // tau, which can round up across tau while ceil(c*tau) = i+1 in
    // exact arithmetic — one element of slack keeps the window
    // complete at such boundaries (exact verify removes the extras)
    val prefix = ranked
      .where(col("rn") <= col("c") - ceil(col("c") * tau) + 2)
    // pairing condition: each unordered pair generated exactly once
    // with A the min-cardinality (contained) side. The POSITIONAL
    // clause (PPJoin): a true pair's FIRST shared element bounds the
    // overlap by 1 + min(remaining per side) and always survives the
    // filter itself (one element of double slack, like the prefix
    // bound), so completeness is unchanged while late-position-only
    // collisions stop becoming candidates.
    def pairCond = col("a.h") === col("b.h") &&
      (col("a.c") < col("b.c") ||
        (col("a.c") === col("b.c") && col("a.id") < col("b.id"))) &&
      lit(1) + least(col("a.c") - col("a.rn"), col("b.c") - col("b.rn")) >=
        col("a.c") * tau - 1
    // measured hot-key split, a df filter per side: cold keys take the
    // plain asymmetric join; hot keys (df > hotCap) are salted so no
    // join task materializes a full f-row bucket. When NO key is hot —
    // the normal case — the split collapses to one unfiltered join: the
    // df filters would keep every row and the empty hot branch would
    // still cost a join, a union leg and wider distinct input.
    val cands = (if (!hot) {
      prefix.as("a").join(ranked.as("b"), pairCond)
        .select(col("a.id").as("small_id"), col("b.id").as("big_id"))
    } else {
      val coldCands = prefix.where(col("df") <= hotCap).as("a")
        .join(ranked.where(col("df") <= hotCap).as("b"), pairCond)
        .select(col("a.id").as("small_id"), col("b.id").as("big_id"))
      val hotCands = prefix.where(col("df") > hotCap)
        .withColumn("salt", explode(sequence(lit(0), lit(saltBuckets - 1)))).as("a")
        .join(ranked.where(col("df") > hotCap).withColumn("salt",
          pmod(xxhash64(col("id")), lit(saltBuckets))).as("b"),
          pairCond && col("a.salt") === col("b.salt"))
        .select(col("a.id").as("small_id"), col("b.id").as("big_id"))
      coldCands.union(hotCands)
    }).distinct()
    val sa = shingled.select(col("id").as("small_id"), col("shingles").as("sh_a"))
    val sb = shingled.select(col("id").as("big_id"), col("shingles").as("sh_b"))
    cands.join(sa, "small_id").join(sb, "big_id")
      .withColumn("containment",
        Expressions.intersectCount(col("sh_a"), col("sh_b")).cast("double") /
          size(col("sh_a")))
      .where(col("containment") >= tau)
      .select(least(col("small_id"), col("big_id")).as("id_a"),
        greatest(col("small_id"), col("big_id")).as("id_b"),
        col("containment"))
  }

  /** Pairs -> cluster assignments via distributed connected components
    * (the reference's DBSCAN(min_samples=1) semantics,
    * `winnow/duplicate_detection/duplicate_detector.py:22-26`);
    * cluster id = min member id.
    */
  def clusters(pairs: DataFrame): DataFrame =
    ConnectedComponents.run(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      .select(col("id"), col("component").as("cluster_id"))

  /** Dedup decision: per-cluster canonical-document selection — the
    * pipeline's actual OUTPUT for training-data curation (reference
    * keeps one representative per duplicate group, keeper = min id,
    * `winnow/duplicate_detection/duplicate_detector.py:28-34`; here the
    * keeper is the highest-quality member, ties by min id). Docs outside
    * any pair are singleton clusters and trivially kept.
    *
    * Scale shape: one left join on doc id (uniform), then a TWO-PHASE
    * argmax instead of a cluster-partitioned window (round-3 verdict
    * #8): the winner per cluster is `min(struct(-quality, id))` — a
    * partial-aggregatable agg, so a pathological mega-cluster (all-docs
    * boilerplate, a data bug) is reduced MAP-SIDE to one row per
    * partition before the exchange; the flag-back join is a join, which
    * AQE's skew handling can split across tasks. A WindowExec can never
    * be split and buffers the whole mega-group per task — that hazard
    * class is structurally gone. NULL and NaN quality both sort LAST:
    * the negated sort key coalesces null to +Inf (the old window's
    * desc-nulls-last contract), and NaN orders above every number. For
    * NaN this is an INTENTIONAL semantic change vs the round-3 window
    * (Spark's `desc` ranks NaN above all numbers, so a NaN-quality doc
    * used to WIN its cluster): an unscorable document — null text, or
    * a NaN score such as cosine on a zero-norm vector — must never
    * beat a scored sibling for keeper. Pinned by test.
    *
    * @param docs     (id, text, ...) document table
    * @param clusters (id, cluster_id) from [[clusters]]
    * @param quality  scoring column evaluated over `docs` (numeric)
    */
  def keepList(docs: DataFrame, clusters: DataFrame, quality: Column): DataFrame = {
    // the scored frame feeds TWO consumers (the winner aggregate and the
    // flag-back join): left lazy, the docs scan + quality expression +
    // cluster join execute once per consumer — for an expensive quality
    // (text scoring, media decode via mediaKeepList) that doubles the
    // dominant cost. Materialized narrow (id, quality, cluster_id) rows.
    val scored = docs.select(col("id"), quality.as("quality"))
      .join(clusters.select(col("id"), col("cluster_id")), Seq("id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("id")))
      .localCheckpoint(true)
    // min over (-quality, id) == (max quality, ties by min id): the
    // exact ordering the old window used, as one partial-aggregatable
    // struct-min; null quality -> +Inf so it sorts LAST like the
    // window's desc-nulls-last (a null field would otherwise sort
    // FIRST in struct comparison and win the cluster)
    val winner = scored.groupBy("cluster_id")
      .agg(min(struct(
        coalesce(-col("quality").cast("double"),
          lit(Double.PositiveInfinity)).as("nq"),
        col("id").as("id"))).as("w"))
      .select(col("cluster_id"), col("w.id").as("keep_id"))
    scored.join(winner, "cluster_id")
      .withColumn("kept", col("id") === col("keep_id"))
      .select(col("id"), col("quality"), col("cluster_id"), col("kept"))
  }

  /** Exact duplicate detection: group by fingerprint of normalized text
    * (hash-groupBy exact dedup; reference sha256 identity
    * `winnow/utils/utils.py:163-173`).
    */
  def exactDuplicates(docs: DataFrame): DataFrame =
    docs
      .select(col("id"), md5(TextFunctions.normalizeText(col("text"))).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("keeper_id"))

  /** SimHash near-dup pairs: pigeonhole block join + hamming verify.
    * Guaranteed complete for hammingMax <= blocks-1.
    */
  def simhashPairs(sigs: DataFrame, hammingMax: Int, blocks: Int = 4): DataFrame = {
    val keyed = sigs.select(col("id"), col("simhash"),
      explode(SimHash.blockKeys(col("simhash"), blocks)).as("bk"))
    val l = keyed.select(col("bk"), col("id").as("id_a"), col("simhash").as("sh_a"))
    val r = keyed.select(col("bk"), col("id").as("id_b"), col("simhash").as("sh_b"))
    l.join(r, "bk")
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        SimHash.hamming(col("sh_a"), col("sh_b")).as("hamming"))
      .distinct()
      .where(col("hamming") <= hammingMax)
  }

  /** Incremental matching: candidate pairs between a NEW batch and the
    * FULL accumulated corpus — new x all, never all x all (the fork's
    * periodic match regeneration, `ray_extract_features.py:241-367`, at
    * per-batch cadence) — against a PERSISTED band store (id, band_key):
    * the all-side band keys are read back, never recomputed, so
    * per-batch work is O(new) banding + the keyed join, not O(corpus)
    * re-banding. `newIds` selects the new-side rows out of the store;
    * pairs are canonicalized (least/greatest) and verified exactly
    * against the full shingle table.
    */
  def incrementalPairsBanded(newIds: DataFrame, bandStore: DataFrame,
                             shingled: DataFrame, cfg: DedupConfig): DataFrame = {
    val newBands = bandStore
      .join(newIds.select("id"), Seq("id"), "left_semi")
      .select(col("band_key"), col("id").as("id_x"))
    val allBands = bandStore.select(col("band_key"), col("id").as("id_y"))
    val cands = newBands.join(allBands, "band_key")
      .where(col("id_x") =!= col("id_y"))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
      .distinct()
    verifiedPairs(cands, shingled.select(col("id"), col("shingles")), cfg)
  }

  /** F8 signature-validity filter: drop degenerate signatures whose
    * first three components are identical (reference
    * `ray_extract_features.py:578-582`); with MinHash this happens
    * exactly when the shingle set is empty (every slot keeps the kernel's
    * init sentinel) — a forged/empty signature would otherwise share
    * every band key with every other degenerate row and join them all.
    * Applied before banding in pairs, the streaming band store
    * (incrementalPairsBanded's input) and ResumableDedupJob.
    */
  def validSignatures(sigs: DataFrame): DataFrame =
    sigs.where(!(element_at(col("sig"), 1) === element_at(col("sig"), 2) &&
      element_at(col("sig"), 2) === element_at(col("sig"), 3)))

  /** Adapter: pages(url, warc_ts, html, text, lang) -> docs(id, text). */
  def fromPages(pages: DataFrame): DataFrame =
    pages.select(col("url").as("id"), col("text"))

  /** Adapter: testdata documents(doc_id, text, ...) -> docs(id, text). */
  def fromDocuments(documents: DataFrame): DataFrame =
    documents.select(col("doc_id").as("id"), col("text"))
}
