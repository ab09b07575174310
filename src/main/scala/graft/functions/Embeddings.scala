package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]) — the
  * training-data-pipeline ANN operators. Brute-force cosine top-k is the
  * exactness baseline (reference kd-tree k-NN role,
  * `generate_matches.py:57-62`); the SRP-LSH bucketed variant is the
  * scale path (bucket join instead of cross join).
  */
object Embeddings {

  /** Deterministic cosine similarity between two float-array columns,
    * accumulated left-to-right in double precision (kernel-backed,
    * codegen'd).
    */
  def cosine(a: Column, b: Column): Column = Expressions.cosineSim(a, b)

  /** Signed-random-projection signature: `bits` sign bits of dot
    * products with deterministic pseudo-random hyperplanes (kernel).
    */
  def srpSignature(v: Column, bits: Int, table: Int): Column =
    Expressions.srpSig(v, bits, table)

  /** Brute-force exact top-k cosine neighbors for each query row —
    * the exactness BASELINE, mirroring the reference's in-memory k-NN
    * over all signatures (`generate_matches.py:57-62` builds one
    * kd-tree from the full signature matrix): the corpus side is
    * collected and BROADCAST, queries stream through a per-partition
    * kernel loop that emits only each query's top-k (plus cosine
    * boundary ties), and a final window assigns exact ranks. No n²-row
    * join output ever materializes and nothing but the k-sliver crosses
    * an exchange. Contract: the corpus must fit in executor memory
    * (identical to the reference's kd-tree); the contract is ENFORCED —
    * a corpus past `maxCorpus` fails loudly before any collect instead
    * of silently OOM-ing the driver. Beyond the cap use the scale paths
    * (`srpTopK` / `ivfTopK`).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     maxCorpus: Int = 2000000): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val spark = queries.sparkSession
    val corpusRows = boundedCollect(corpus.select(col("id"), col("embedding")),
      maxCorpus, "bruteForceTopK", "srpTopK / ivfTopK")
    val cIds = corpusRows.map(_.get(0))
    val cVecs = corpusRows.map(_.getSeq[Float](1).toArray)
    val bc = spark.sparkContext.broadcast((cIds, cVecs))
    // parallelism floor for the O(|queries| * |corpus| * dim) scan loop
    // (a sub-openCost parquet plans as ONE split); per-query results are
    // partition-independent, and the final rank window orders totally,
    // so the output is unchanged
    val qdf = graft.pipeline.Dedup.kernelParallel(
      queries.select(col("id").as("query_id"), col("embedding")))
    val outSchema = StructType(Seq(
      StructField("query_id", qdf.schema("query_id").dataType),
      StructField("neighbor_id", corpus.schema("id").dataType),
      StructField("cosine", DoubleType)))
    val partial = qdf.mapPartitions { it =>
      val (ids, vecs) = bc.value
      // corpus norms once per task, not once per (query, vec) pair
      // (cosPre is bit-identical to cosArr — oracle parity)
      val norms = vecs.map(norm)
      it.flatMap { r =>
        val qid = r.get(0)
        val q = r.getSeq[Float](1).toArray
        val n = vecs.length
        val qn = norm(q)
        if (n == 0) Iterator.empty
        else {
          val sims = new Array[Double](n)
          var i = 0
          while (i < n) {
            sims(i) =
              if (qid == ids(i)) Double.NegativeInfinity // self
              else cosPre(q, qn, vecs(i), norms(i))
            i += 1
          }
          // k-th largest via a primitive sorted-k buffer (no boxed
          // sort over all n candidates per query — that was O(n log n)
          // boxed per query, the dominant cost at n in the thousands);
          // emitted set = top-k PLUS boundary ties, identical to a
          // full sort + takeWhile(>= cut)
          val top = new Array[Double](k) // ascending; top(0) = running min
          var filled = 0
          i = 0
          while (i < n) {
            val s = sims(i)
            if (s != Double.NegativeInfinity) {
              if (filled < k) {
                top(filled) = s; filled += 1
                if (filled == k) java.util.Arrays.sort(top)
              } else if (s > top(0)) {
                var j = 1
                while (j < k && top(j) < s) { top(j - 1) = top(j); j += 1 }
                top(j - 1) = s
              }
            }
            i += 1
          }
          val cut = if (filled < k) Double.NegativeInfinity else top(0)
          (0 until n).iterator
            .filter(i => sims(i) != Double.NegativeInfinity && sims(i) >= cut)
            .map(i => Row(qid, ids(i), sims(i)))
        }
      }
    }(Encoders.row(outSchema))
    topKRanked(partial, k)
  }

  /** ALL canonical pairs (id_a < id_b, string order) with cosine >=
    * threshold — COMPLETE at the threshold, unlike a k-NN cut which
    * silently drops qualifying pairs inside duplicate groups larger
    * than ~k. Same broadcast-corpus shape (and the same ENFORCED
    * `maxCorpus` contract) as [[bruteForceTopK]]; each
    * task emits only its queries' above-threshold matches, so the
    * exchange carries the (sparse) result, never the n² scan. The
    * corpus-scale swap is [[srpThresholdPairs]].
    */
  def bruteForceThresholdPairs(emb: DataFrame, threshold: Double,
                               maxCorpus: Int = 2000000): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val spark = emb.sparkSession
    val e = emb.select(col("id").cast("string"), col("embedding"))
    val corpusRows = boundedCollect(e, maxCorpus,
      "bruteForceThresholdPairs", "srpThresholdPairs")
    val cIds = corpusRows.map(_.getString(0))
    val cVecs = corpusRows.map(_.getSeq[Float](1).toArray)
    val bc = spark.sparkContext.broadcast((cIds, cVecs))
    val outSchema = StructType(Seq(
      StructField("id_a", StringType), StructField("id_b", StringType),
      StructField("cosine", DoubleType)))
    e.mapPartitions { it =>
      val (ids, vecs) = bc.value
      val norms = vecs.map(norm)
      it.flatMap { r =>
        val qid = r.getString(0)
        val q = r.getSeq[Float](1).toArray
        val qNorm = norm(q)
        ids.indices.iterator.flatMap { i =>
          // canonical orientation only: each unordered pair scanned once
          if (qid >= ids(i)) Iterator.empty
          else {
            val cos = cosPre(q, qNorm, vecs(i), norms(i))
            if (cos >= threshold) Iterator.single(Row(qid, ids(i), cos))
            else Iterator.empty
          }
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Threshold join with the SMALL side broadcast and the LARGE side
    * scanned: the incremental-matching shape (bounded new batch ×
    * unbounded store — [[bruteForceThresholdPairs]] would collect the
    * store). Emits canonical (id_a < id_b, string order) pairs with
    * cosine >= threshold; identical small/large ids are skipped (a row
    * present on both sides never pairs with itself). Only the SMALL
    * side is collected, and its bound is enforced like the brute-force
    * baselines'.
    */
  def broadcastThresholdJoin(small: DataFrame, large: DataFrame,
                             threshold: Double,
                             maxSmall: Int = 2000000): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val spark = small.sparkSession
    val smallRows = boundedCollect(
      small.select(col("id").cast("string"), col("embedding")), maxSmall,
      "broadcastThresholdJoin(small side)", "srpThresholdPairs")
    val sIds = smallRows.map(_.getString(0))
    val sVecs = smallRows.map(_.getSeq[Float](1).toArray)
    val bc = spark.sparkContext.broadcast((sIds, sVecs))
    val outSchema = StructType(Seq(
      StructField("id_a", StringType), StructField("id_b", StringType),
      StructField("cosine", DoubleType)))
    large.select(col("id").cast("string"), col("embedding")).mapPartitions { it =>
      val (ids, vecs) = bc.value
      val norms = vecs.map(norm)
      it.flatMap { r =>
        val lid = r.getString(0)
        val lv = r.getSeq[Float](1).toArray
        val lNorm = norm(lv)
        ids.indices.iterator.flatMap { i =>
          if (lid == ids(i)) Iterator.empty
          else {
            val cos = cosPre(lv, lNorm, vecs(i), norms(i))
            if (cos >= threshold) {
              val (a, b) = if (lid < ids(i)) (lid, ids(i)) else (ids(i), lid)
              Iterator.single(Row(a, b, cos))
            } else Iterator.empty
          }
        }
      }
    }(Encoders.row(outSchema))
      // when the two sides OVERLAP in >= 2 ids (e.g. an incremental
      // retry where the new rows already sit in the store), a pair with
      // both endpoints in the overlap is scanned from each direction
      // and would emit twice; the per-row cosine is bit-identical in
      // both orientations, so a canonical-pair dedup over the sparse
      // above-threshold output is exact and cheap
      .dropDuplicates("id_a", "id_b")
  }

  /** Loud contract check for the collect-shaped baselines, fused into
    * the collect itself (ONE job — a separate count probe would
    * re-execute the upstream lineage, doubling e.g. a media-decode
    * pipeline): collect at most maxRows+1 rows, fail naming the
    * bucketed swap if the cap is crossed.
    */
  private def boundedCollect(df: DataFrame, maxRows: Int, op: String,
                             swap: String): Array[org.apache.spark.sql.Row] = {
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"$op is the corpus-in-memory BASELINE (reference kd-tree analog, " +
        s"corpus collected + broadcast): corpus exceeds maxCorpus=$maxRows. " +
        s"Use the bucketed scale path ($swap) or raise the cap explicitly.")
    rows
  }

  /** Euclidean norm of a float vector (double accumulation). */
  private def norm(v: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    math.sqrt(s)
  }

  /** Cosine with pre-computed norms — SAME float expression (and hence
    * bit-identical result) as [[cosArr]] when dims match; cosArr
    * fallback keeps min-length semantics for ragged dims.
    */
  private def cosPre(q: Array[Float], qn: Double,
                     v: Array[Float], vn: Double): Double =
    if (v.length == q.length) {
      if (qn == 0.0 || vn == 0.0) 0.0
      else {
        var dot = 0.0; var j = 0
        while (j < q.length) { dot += q(j).toDouble * v(j); j += 1 }
        dot / (qn * vn)
      }
    } else cosArr(q, v)

  private def cosArr(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    // same operation order as Kernels.cosineSim — results must be
    // bit-identical to the expression path (oracle parity)
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact per-query top-k rank over scored(query_id, neighbor_id,
    * cosine): map-side partial top-k (with boundary ties) then a final
    * window over the surviving sliver.
    */
  private[graft] def topKRanked(scored0: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.{Encoders, Row}
    val scored = scored0.select("query_id", "neighbor_id", "cosine")
    val partial = scored.mapPartitions { it =>
      // bounded per-query buffer of extracted values (never retained
      // Rows — the input iterator may reuse its row object), compacted
      // to the top-k-plus-ties whenever it reaches 4k entries: memory is
      // O(queries_in_partition * k), not O(rows)
      val byQ = scala.collection.mutable.HashMap
        .empty[Any, scala.collection.mutable.ArrayBuffer[(Any, Double)]]
      // neighbor-id order matching the final window's `asc` (same-class
      // Comparable — the id column is one type); 0 = "cannot order"
      def cmpId(a: Any, b: Any): Int = a match {
        case x: java.lang.Comparable[_]
            if b != null && b.getClass == x.getClass =>
          x.asInstanceOf[java.lang.Comparable[Any]].compareTo(b)
        case _ => 0
      }
      // compact to EXACTLY k under the final (cosine desc, id asc)
      // total order — keeping every boundary tie instead would grow the
      // buffer O(group) on duplicate-heavy data (a 50k-member exact-dup
      // group has 50k pairwise-identical cosines), degrading to
      // quadratic sort work and breaking the O(queries*k) memory bound.
      // Only ids the order genuinely cannot compare stay as ties.
      // Double.compare, not primitive >: primitive NaN comparisons are
      // all-false, which makes NaN compare "equal" to everything —
      // intransitive (TimSort contract violation on mixed buffers) and
      // diverging from the final window's total order. Double.compare
      // ranks NaN greatest, exactly Spark's DoubleType sort order, so
      // the map-side compaction keeps the same rows the window ranks.
      def cmpCos(a: Double, b: Double): Int = java.lang.Double.compare(a, b)
      def compacted(buf: scala.collection.mutable.ArrayBuffer[(Any, Double)]) = {
        val sorted = buf.sortWith { (p, q) =>
          val c = cmpCos(p._2, q._2)
          if (c != 0) c > 0 else cmpId(p._1, q._1) < 0
        }
        val cut = sorted(k - 1)
        sorted.iterator.zipWithIndex.takeWhile { case (e, i) =>
          i < k || (cmpCos(e._2, cut._2) == 0 && cmpId(e._1, cut._1) == 0)
        }.map(_._1).to(scala.collection.mutable.ArrayBuffer)
      }
      it.foreach { r =>
        val buf = byQ.getOrElseUpdate(r.get(0),
          new scala.collection.mutable.ArrayBuffer[(Any, Double)](2 * k))
        buf += ((r.get(1), r.getDouble(2)))
        if (buf.length >= 4 * k) {
          val kept = compacted(buf)
          buf.clear()
          buf ++= kept
        }
      }
      byQ.iterator.flatMap { case (q, buf) =>
        val kept = if (buf.length <= k) buf else compacted(buf)
        kept.iterator.map { case (n, c) => Row(q, n, c) }
      }
    }(Encoders.row(scored.schema))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    partial.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Train an IVF coarse quantizer: deterministic bounded sample (first
    * `sampleCap` rows by xxhash64(id) order — stable under any
    * partitioning) collected to the driver, Lloyd iterations run
    * SEQUENTIALLY there so centroids are bit-reproducible (a distributed
    * float mean is partition-order-dependent in its last ulp, which
    * would make cell assignments of boundary vectors nondeterministic).
    * Driver memory is sampleCap*dim floats — the same bounded-broadcast
    * pattern as the hot-band key set. Empty cells respawn on the point
    * farthest from its centroid.
    */
  def trainIvfCentroids(emb: DataFrame, nCells: Int, iters: Int = 5,
                        sampleCap: Int = 10000): Array[Array[Float]] = {
    val sample = emb.select(col("id"), col("embedding"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(sampleCap)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "IVF training needs a non-empty corpus")
    val dim = sample.head.length
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    var cents = Array.tabulate(math.min(nCells, sample.length))(i =>
      sample(i).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Int](cents.length)
      val simOf = new Array[Double](sample.length) // best sim per point
      sample.zipWithIndex.foreach { case (v, si) =>
        var best = 0; var bestSim = -2.0
        var c = 0
        while (c < cents.length) {
          val s = cos(v, cents(c))
          if (s > bestSim) { bestSim = s; best = c }
          c += 1
        }
        simOf(si) = bestSim
        counts(best) += 1
        var d = 0
        while (d < dim) { sums(best)(d) += v(d); d += 1 }
      }
      // respawn EVERY empty cell to a DISTINCT farthest point (w-th
      // empty cell takes the w-th farthest): respawning them all to the
      // one globally-farthest point would leave permanently duplicated
      // centroids (the duplicates win no points on later iterations and
      // respawn identically again), silently shrinking the effective
      // cell count and wasting multi-probe slots
      val farthest = simOf.indices.sortBy(simOf(_)).iterator
      cents = cents.indices.map { c =>
        if (counts(c) == 0)
          sample(if (farthest.hasNext) farthest.next() else 0).clone()
        else Array.tabulate(dim)(d => (sums(c)(d) / counts(c)).toFloat)
      }.toArray
      it += 1
    }
    cents
  }

  /** IVF ANN: coarse-quantize every vector to its nearest cell, probe
    * the `nProbe` nearest cells per query (multi-probe recovers
    * cell-boundary neighbors), exact cosine + top-k within the probed
    * cells. The cell join is the same keyed-bucket shape as the LSH
    * paths; candidate volume scales with n²/nCells instead of n².
    *
    * `nCells <= 0` (the default) sizes cells from the corpus: SCALE.md
    * §5's rule nCells ≈ √n balances probe cost against cell width — a
    * fixed cell count means join-key cardinality (= parallelism AND
    * per-cell candidate volume) stops scaling with the corpus. Bounded
    * by sampleCap/8 so driver Lloyd still sees ≥8 training points per
    * cell, floored at 4 so tiny corpora keep a real bucket join.
    */
  def ivfTopK(emb: DataFrame, k: Int, nCells: Int = 0, nProbe: Int = 2,
              iters: Int = 5, sampleCap: Int = 10000): DataFrame = {
    val cells = if (nCells > 0) nCells else ivfCellCount(emb.count(), sampleCap)
    ivfTopKWith(emb, k, trainIvfCentroids(emb, cells, iters, sampleCap), nProbe)
  }

  /** IVF probe phase against an already-trained quantizer — the shape
    * [[ivfTopK]] compiles to after training; exposed so a persisted
    * centroid set ([[IvfCentroidStore]]) skips the per-invocation
    * `count()` + driver Lloyd entirely.
    */
  def ivfTopKWith(emb: DataFrame, k: Int, cents: Array[Array[Float]],
                  nProbe: Int = 2): DataFrame = {
    // queries probe nProbe cells; corpus vectors live in their single
    // nearest cell — candidates = pairs sharing a probed cell
    val q = emb.select(col("id").as("query_id"), col("embedding").as("qe"),
      explode(Expressions.nearestCentroids(col("embedding"), cents, nProbe))
        .as("cell"))
    val c = emb.select(col("id").as("neighbor_id"), col("embedding").as("ne"),
      Expressions.nearestCentroids(col("embedding"), cents, 1)(0).as("cell"))
    // every corpus vector lives in exactly ONE cell, so a (query,
    // neighbor) pair matches at most once — no dedup exchange needed;
    // the scored stream goes straight into the map-side partial top-k
    val cands = q.join(c, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qe"), col("ne")))
    topKRanked(cands, k)
  }

  /** [[ivfTopK]] with a train-once quantizer: centroids come from
    * [[IvfCentroidStore.loadOrTrain]] under `(storeDir, tag)` — the
    * first invocation trains and persists, every later one (same JVM or
    * a new one) reuses. The TAG names the corpus version + training
    * params (same contract as the tensor-store config tag): reusing a
    * tag across different corpora is a caller error.
    */
  def ivfTopKCached(emb: DataFrame, k: Int, storeDir: String, tag: String,
                    nCells: Int = 0, nProbe: Int = 2, iters: Int = 5,
                    sampleCap: Int = 10000): DataFrame =
    ivfTopKWith(emb, k,
      IvfCentroidStore.loadOrTrain(emb, storeDir, tag, nCells, iters, sampleCap),
      nProbe)

  /** SCALE.md §5 cell-sizing rule: nCells ≈ √n (candidate volume per
    * query is (nProbe/nCells)·n, so √n balances probe cost against cell
    * width), bounded to [4, sampleCap/8] so the driver-trained
    * quantizer keeps ≥8 sample points per cell.
    */
  def ivfCellCount(corpusRows: Long, sampleCap: Int = 10000): Int =
    math.max(4, math.min(sampleCap / 8,
      math.round(math.sqrt(corpusRows.toDouble)).toInt))

  /** SRP-LSH approximate top-k: hash embeddings into `tables`
    * independent sign-bit buckets; candidates = rows sharing any bucket;
    * exact cosine + window top-k within candidates. Recall grows with
    * tables and shrinks with bits; property-tested in AnnSpec.
    */
  def srpTopK(emb: DataFrame, k: Int, bits: Int = 12, tables: Int = 4): DataFrame = {
    val keyed = emb.select(col("id"), col("embedding"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), srpSignature(col("embedding"), bits, t).as("sig"))): _*))
        .as("bucket"))
    val l = keyed.select(col("bucket"), col("id").as("query_id"), col("embedding").as("qe"))
    val r = keyed.select(col("bucket"), col("id").as("neighbor_id"), col("embedding").as("ne"))
    // dedup (a pair shares up to `tables` buckets) AFTER computing the
    // cosine and dropping the embeddings: the exchange carries 24-byte
    // rows, not two embedding vectors per row (duplicates have identical
    // cosine, so keep-any is exact)
    val cands = l.join(r, "bucket")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qe"), col("ne")))
      .select("query_id", "neighbor_id", "cosine")
      .dropDuplicates("query_id", "neighbor_id")
    topKRanked(cands, k)
  }

  /** ALL canonical pairs with cosine >= threshold via the SRP-LSH bucket
    * join — the production-scale swap for [[bruteForceThresholdPairs]]
    * (which is exact but collects the corpus): no per-item k cap, no
    * driver-side collect, candidate volume governed by bucket width
    * (2^bits per table). Recall is probabilistic and rises steeply with
    * cosine — near-dup pairs (cos -> 1) collide in some table with
    * probability ~1 (recall-tested vs the exact scan). Filter BEFORE
    * the pair-dedup exchange: only above-threshold (sparse) pairs are
    * shuffled.
    */
  def srpThresholdPairs(emb: DataFrame, threshold: Double,
                        bits: Int = 12, tables: Int = 4): DataFrame = {
    val keyed = emb.select(col("id").cast("string").as("id"), col("embedding"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), srpSignature(col("embedding"), bits, t).as("sig"))): _*))
        .as("bucket"))
    val l = keyed.select(col("bucket"), col("id").as("id_a"), col("embedding").as("qe"))
    val r = keyed.select(col("bucket"), col("id").as("id_b"), col("embedding").as("ne"))
    l.join(r, "bucket")
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("qe"), col("ne")))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
      .dropDuplicates("id_a", "id_b")
  }
}

/** Tag-stamped persisted IVF quantizer (the reference's train-once
  * model-asset pattern: features are extracted once and reused,
  * `ray_extract_features.py` skip-if-done semantics, applied to the ANN
  * index). Backed by a [[graft.store.TxLog]] table for atomic publish —
  * a crashed training run never leaves a half-written centroid set —
  * plus an in-JVM memo so repeated queries in one session skip even the
  * parquet read. Training is deterministic
  * ([[Embeddings.trainIvfCentroids]]), so a cache hit is bit-identical
  * to a fresh train.
  *
  * Staleness guard: the store carries a corpus FINGERPRINT (row count +
  * order-independent xxhash64 fold of id AND embedding content), and a
  * DISK hit revalidates it against the live corpus — a regenerated
  * corpus under a reused tag FAILS LOUDLY instead of silently probing
  * stale centroids, even when only the vectors changed and the id set
  * did not. The fingerprint is one two-column aggregate, far cheaper
  * than the sample-collect + Lloyd it replaces; in-JVM memo hits trust
  * the session and skip even that.
  */
object IvfCentroidStore {
  import graft.store.{TxEntry, TxLog}

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Float]]]()

  /** Fingerprint FORMULA version stored with the centroids: a store
    * stamped by a different formula cannot be validated and takes the
    * legacy retrain path. v3 = wrap-around SUM fold of the content hash
    * (duplicate-sensitive); v2 folded with bit_xor, where identical
    * rows cancel — an even-multiset swap (two copies of row A replaced
    * by two copies of row B) kept both count and hash unchanged, so a
    * stale store silently passed validation; v1 hashed ids only.
    */
  private val FpVersion = 3

  /** (row count, order-independent CONTENT-hash fold) of the corpus.
    * The hash covers the embedding vectors, not just the ids — a
    * regenerated corpus that keeps sequential ids but redraws the
    * vectors (same count, same id set) must still invalidate the
    * store, or it would silently probe centroids trained on different
    * data. xxhash64 folds the full array value.
    */
  private def fingerprint(emb: DataFrame): (Long, Long) =
    TxLog.contentFingerprint(emb, Seq(col("id"), col("embedding")))

  /** Centroids for `(storeDir, tag)`: memo hit, else committed store
    * read (fingerprint-validated), else train + atomic publish.
    * Concurrent first-callers may both train (deterministic, so both
    * commits carry identical bytes; the TxLog append keeps exactly one
    * readable winner per entry set — we read our own result either
    * way).
    */
  def loadOrTrain(emb: DataFrame, storeDir: String, tag: String,
                  nCells: Int = 0, iters: Int = 5,
                  sampleCap: Int = 10000): Array[Array[Float]] = {
    val key = s"$storeDir|$tag"
    val hit = memo.get(key)
    if (hit != null) return hit
    val spark = emb.sparkSession
    val log = new TxLog(s"$storeDir/tag=$tag")
    def train(): Array[Array[Float]] = {
      val cells =
        if (nCells > 0) nCells
        else Embeddings.ivfCellCount(emb.count(), sampleCap)
      val trained = Embeddings.trainIvfCentroids(emb, cells, iters, sampleCap)
      val (fpN, fpHash) = fingerprint(emb)
      val dir = log.newDataDir()
      import spark.implicits._
      trained.toSeq.zipWithIndex
        .map { case (v, i) => (i, v.toSeq, fpN, fpHash, FpVersion) }
        .toDF("cell", "vec", "fp_n", "fp_hash", "fp_ver")
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(dir.getPath)
      // replaceBatch: a concurrent first-caller's identical commit (or
      // a superseded legacy-format entry) is replaced, not duplicated —
      // the table always holds ONE entry
      log.commitAppend(Seq(TxEntry(log.relativize(dir), 0L,
          rows = trained.length.toLong)),
        replaceBatch = Some(0L), op = "centroids"): Unit
      // a concurrent first-caller who lost the CAS race leaves a data
      // directory the manifest no longer references — reclaim it here
      // like every other CAS path does (the default orphan grace window
      // protects a committer still staging)
      log.vacuum()
      trained
    }
    val cents = log.read(spark) match {
      case Some(df) if df.columns.contains("fp_ver") &&
          df.select(col("fp_ver")).head.getInt(0) == FpVersion =>
        val rows = df.select(col("cell"), col("vec"), col("fp_n"), col("fp_hash"))
          .collect().sortBy(_.getInt(0))
        val (liveN, liveHash) = fingerprint(emb)
        val (storedN, storedHash) = (rows.head.getLong(2), rows.head.getLong(3))
        if (storedN != liveN || storedHash != liveHash)
          throw new IllegalStateException(
            s"IVF centroid store '$tag' at $storeDir was trained on a " +
              s"different corpus (stored n=$storedN hash=$storedHash, live " +
              s"n=$liveN hash=$liveHash). Tags name ONE corpus version — " +
              "use a fresh tag for the regenerated corpus, or delete the " +
              "stale store to retrain.")
        rows.map(_.getSeq[Float](1).toArray)
      case Some(_) =>
        // legacy store: pre-fingerprint, or an older fingerprint
        // FORMULA (fp_ver mismatch — e.g. the v1 ids-only hash, which
        // could not see vector-content changes) — no way to validate
        // it against the live corpus, so retrain (deterministic) and
        // replace
        train()
      case None =>
        train()
    }
    memo.put(key, cents)
    cents
  }

  /** Drop the in-JVM memo (tests / forced retrain after store wipe). */
  def clearMemo(): Unit = memo.clear()
}
