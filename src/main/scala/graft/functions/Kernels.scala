package graft.functions

import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Tight primitive kernels shared by the interpreted `eval` and the
  * generated code of the custom expressions in [[Expressions]]. Static
  * (object) methods so whole-stage codegen can call them directly —
  * the per-row cost is one JVM call + a primitive loop, versus an
  * interpreted expression tree per array element for the equivalent
  * higher-order-function formulation.
  */
object Kernels {

  /** Seeds identical to SQL `xxhash64(cast(i as bigint), h)`:
    * seed_i = hashLong(i, 42), perm_i(h) = hashLong(h, seed_i).
    */
  def seeds(numHashes: Int): Array[Long] =
    Array.tabulate(numHashes)(i => XXH64.hashLong(i.toLong, 42L))

  private val seedCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  def cachedSeeds(numHashes: Int): Array[Long] =
    seedCache.computeIfAbsent(numHashes, n => seeds(n))

  /** MinHash signature: per permutation the unsigned-min of perm_i(h). */
  def minhashSig(shingles: ArrayData, numHashes: Int): ArrayData = {
    val s = cachedSeeds(numHashes)
    val out = Array.fill[Long](numHashes)(-1L) // unsigned max
    val n = shingles.numElements()
    var j = 0
    while (j < n) {
      val h = shingles.getLong(j)
      var i = 0
      while (i < numHashes) {
        val v = XXH64.hashLong(h, s(i))
        if (java.lang.Long.compareUnsigned(v, out(i)) < 0) out(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash: sign-of-sum over the bits of each shingle hash. */
  def simhash64(shingles: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = shingles.numElements()
    var j = 0
    while (j < n) {
      val h = shingles.getLong(j)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
      j += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) {
      if (counts(i) > 0) out |= (1L << i)
      i += 1
    }
    out
  }

  /** LSH band keys: key_i = xxhash64 over (i, sig[i*r .. i*r+r-1]),
    * chained exactly like the SQL multi-arg xxhash64 (seed 42).
    */
  def bandKeys(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val out = new Array[Long](bands)
    var i = 0
    while (i < bands) {
      var acc = XXH64.hashLong(i.toLong, 42L)
      var j = 0
      while (j < rowsPerBand) {
        acc = XXH64.hashLong(sig.getLong(i * rowsPerBand + j), acc)
        j += 1
      }
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct word-k-gram shingle hashes straight from the text bytes.
    * Semantics identical to
    * `array_distinct(transform(wordShingles(text,k), s => xxhash64(s)))`
    * (TextFunctions.shingleHashes): words are single-space splits; a
    * k-gram's hash is xxhash64 (seed 42) of the exact byte span covering
    * k adjacent words (equal to the ' '-joined string, since the span
    * includes the separating spaces). One pass, no string allocation.
    */
  def shingleHashSet(text: org.apache.spark.unsafe.types.UTF8String, k: Int): ArrayData = {
    val bytes = text.getBytes // may copy; single allocation per row
    val n = bytes.length
    // word start offsets (split(" ") semantics: empty tokens between
    // consecutive spaces count as words, matching Spark's split)
    val starts = new scala.collection.mutable.ArrayBuffer[Int](64)
    starts += 0
    var i = 0
    while (i < n) {
      if (bytes(i) == ' '.toByte) starts += (i + 1)
      i += 1
    }
    val nWords = starts.length
    if (nWords < k) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var w = 0
    while (w + k <= nWords) {
      val from = starts(w)
      val to = if (w + k < nWords) starts(w + k) - 1 else n // exclude trailing space
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from, to - from, 42L)
      seen.add(h)
      w += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  /** Cosine similarity of two float arrays, accumulated left-to-right
    * in double precision — deterministic across partitionings.
    */
  def cosineSim(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Signed-random-projection signature: `bits` sign bits of dot products
    * with pseudo-random ±1 hyperplanes derived from XXH64 — hyperplane t,b
    * has component j = +1 iff hash(j, seed(t,b)) has low bit set.
    * Deterministic; no stored model.
    */
  def srpSig(v: ArrayData, bits: Int, table: Int): Long = {
    val n = v.numElements()
    var sig = 0L
    var b = 0
    while (b < bits) {
      val seed = XXH64.hashLong((table.toLong << 32) | b.toLong, 4242L)
      var dot = 0.0
      var j = 0
      while (j < n) {
        val sign = if ((XXH64.hashLong(j.toLong, seed) & 1L) == 1L) 1.0 else -1.0
        dot += sign * v.getFloat(j)
        j += 1
      }
      if (dot > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Winnowing fingerprints straight from the text bytes — semantics
    * identical to the HOF formulation
    * `array_distinct(filter(transform(sequence(1, len-w+1),
    * i => xxhash64(substr(text, i, w))), h => pmod(h, p) == 0))`
    * but one kernel call per row instead of an interpreted expression
    * tree per CHARACTER (the HOF path measured ~30x slower). w-grams are
    * measured in characters (UTF-8 aware, zero-copy byte spans); hashes
    * are xxhash64 seed 42 of the exact substring bytes, sampled where
    * pmod(h, p) == 0, distinct in first-occurrence order.
    */
  def winnowHashes(text: org.apache.spark.unsafe.types.UTF8String,
                   w: Int, p: Int): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    // char start offsets (UTF-8 step), terminated by n
    val offs = new scala.collection.mutable.ArrayBuffer[Int](math.min(n + 1, 4096))
    var i = 0
    while (i < n) {
      offs += i
      i += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(bytes(i))
    }
    offs += n
    val nChars = offs.length - 1
    if (nChars < w) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var c = 0
    while (c + w <= nChars) {
      val from = offs(c)
      val h = XXH64.hashUnsafeBytes(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from,
        offs(c + w) - from, 42L)
      if (java.lang.Math.floorMod(h, p.toLong) == 0L) seen.add(h)
      c += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  /** Indices of the `nProbe` nearest centroids (cosine, descending; tie
    * -> lower index) for a float-array embedding. Centroids arrive as a
    * codegen reference object. Used by the IVF coarse quantizer.
    */
  def nearestCentroids(v: ArrayData, centroids: Array[Array[Float]],
                       nProbe: Int): ArrayData = {
    val n = centroids.length
    val sims = new Array[Double](n)
    var c = 0
    while (c < n) { sims(c) = cosineFloatArr(v, centroids(c)); c += 1 }
    val order = (0 until n).sortBy(i => (-sims(i), i)).take(math.min(nProbe, n))
    new GenericArrayData(order.map(_.toLong).toArray)
  }

  private def cosineFloatArr(a: ArrayData, b: Array[Float]): Double = {
    val n = math.min(a.numElements(), b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Intra-document repetition statistics in ONE pass over the text:
    * returns [n_tokens, dup_token_frac, top_bigram_frac] as doubles.
    * Tokenization = split on single space keeping empties — identical
    * to Spark `split(text, " ")` and DuckDB `string_split(text, ' ')`,
    * so the fractions are bit-equal to the explode/groupBy formulation
    * (asserted in CurationSpec) and to the SQL oracle: same integer
    * operands, same IEEE divisions. Fractions are 0 below 2 tokens
    * (callers filter on n_tokens anyway — no bigram slots exist).
    */
  def repetitionStats(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val n = toks.length
    val distinct = new java.util.HashSet[String](n * 2)
    var i = 0
    while (i < n) { distinct.add(toks(i)); i += 1 }
    val dup = if (n == 0) 0.0 else 1.0 - distinct.size.toDouble / n
    var top = 0
    if (n >= 2) {
      val counts = new java.util.HashMap[String, Integer](n * 2)
      i = 0
      while (i < n - 1) {
        val c = counts.merge(toks(i) + " " + toks(i + 1), Integer.valueOf(1),
          (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue))
        if (c > top) top = c
        i += 1
      }
    }
    val topFrac = if (n >= 2) top.toDouble / (n - 1) else 0.0
    new GenericArrayData(Array(n.toDouble, dup, topFrac))
  }

  /** Thread-local primitive open-addressing probe set behind the
    * per-pair intersection kernels: the former per-row
    * java.util.HashSet[Long] boxed every element and allocated per PAIR
    * — at hundreds of thousands of verify rows the boxing+GC dominated
    * the stage (round-6 profile). Generation stamps invalidate the
    * table in O(1) per row instead of an O(capacity) clear; the table
    * grows geometrically and is reused for the life of the task thread.
    * Pure set membership on long keys — results are bit-identical.
    */
  private final class LongProbe {
    private var keys = new Array[Long](1024)
    private var stamps = new Array[Int](1024)
    private var gen = 0
    private var mask = 1023

    /** start a fresh set able to hold `n` keys at load factor <= 0.5 */
    def reset(n: Int): Unit = {
      val cap = LongProbe.capacity(keys.length, n)
      if (cap != keys.length) {
        keys = new Array[Long](cap)
        stamps = new Array[Int](cap)
        gen = 0
      }
      mask = cap - 1
      if (gen == Int.MaxValue) { // stamp wrap would resurrect old slots
        java.util.Arrays.fill(stamps, 0)
        gen = 0
      }
      gen += 1
    }

    private def slot(k: Long): Int = {
      var h = k * 0x9e3779b97f4a7c15L
      h ^= (h >>> 32)
      h.toInt & mask
    }

    def add(k: Long): Unit = {
      var i = slot(k)
      while (stamps(i) == gen && keys(i) != k) i = (i + 1) & mask
      keys(i) = k
      stamps(i) = gen
    }

    def contains(k: Long): Boolean = {
      var i = slot(k)
      while (stamps(i) == gen) {
        if (keys(i) == k) return true
        i = (i + 1) & mask
      }
      false
    }
  }

  private[graft] object LongProbe {
    /** Largest table: the biggest power of two a JVM array can hold. */
    val MaxCapacity: Int = 1 << 30

    /** Power-of-two table size >= 2n grown from `current`, computed in
      * Long so n >= 2^30 cannot wrap negative and end the growth early.
      */
    def capacity(current: Int, n: Int): Int = {
      require(2L * n <= MaxCapacity,
        s"probe set of $n keys exceeds the $MaxCapacity-slot table limit")
      var cap = current.toLong
      while (cap < 2L * n) cap <<= 1
      cap.toInt
    }
  }

  private val intersectProbe = new ThreadLocal[LongProbe] {
    override def initialValue(): LongProbe = new LongProbe
  }

  /** Exact Jaccard of two long-array SETS (inputs must be distinct;
    * order free). Hash-probe on the smaller side.
    */
  def jaccardLongSets(a: ArrayData, b: ArrayData): Double = {
    val (small, big) =
      if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val ns = small.numElements()
    val nb = big.numElements()
    if (ns == 0) return if (nb == 0) 1.0 else 0.0
    val set = intersectProbe.get()
    set.reset(ns)
    var i = 0
    while (i < ns) { set.add(small.getLong(i)); i += 1 }
    var inter = 0
    i = 0
    while (i < nb) { if (set.contains(big.getLong(i))) inter += 1; i += 1 }
    inter.toDouble / (ns + nb - inter)
  }

  /** Deflate compression ratio of the UTF-8 text bytes (compressed /
    * raw, level 6): the classic gibberish-and-repetition quality signal
    * (very repetitive text ratios near 0, high-entropy noise near or
    * above 1). Deterministic for a given JDK zlib; pinned by fixture,
    * not a SQL oracle. Empty text maps to 1.0 (neutral).
    */
  def compressionRatio(text: org.apache.spark.unsafe.types.UTF8String): Double = {
    val raw = text.getBytes
    if (raw.length == 0) return 1.0
    val d = new java.util.zip.Deflater(6, false)
    try {
      d.setInput(raw)
      d.finish()
      val buf = new Array[Byte](raw.length + 64)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total.toDouble / raw.length
    } finally d.end()
  }

  /** |A ∩ B| of two long-array SETS — the numerator the containment
    * metric needs (jaccard's denominator is the wrong normalizer for
    * small-doc-inside-big-doc pairs).
    */
  def intersectCountLongSets(a: ArrayData, b: ArrayData): Long = {
    val (small, big) =
      if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val ns = small.numElements()
    val nb = big.numElements()
    if (ns == 0) return 0L
    val set = intersectProbe.get()
    set.reset(ns)
    var i = 0
    while (i < ns) { set.add(small.getLong(i)); i += 1 }
    var inter = 0L
    i = 0
    while (i < nb) { if (set.contains(big.getLong(i))) inter += 1; i += 1 }
    inter
  }

  /** Primitive open-addressing `shingle hash -> document frequency`
    * table, filled once on the driver from the corpus frequency
    * aggregate ([[DfTable.ofSize]], then one [[put]] per shingle) and
    * broadcast to the per-doc ranking kernel ([[rankByDf]]) and the
    * `DfOf` expression. Two parallel arrays at load factor <= 0.5; a
    * zero frequency marks an empty slot (a stored shingle occurs in at
    * least one doc).
    */
  final class DfTable private (keys: Array[Long], dfs: Array[Int]) extends Serializable {
    private val mask = keys.length - 1
    private var largest = 0

    private def slot(h: Long): Int = {
      var x = h * 0x9e3779b97f4a7c15L
      x ^= (x >>> 32)
      x.toInt & mask
    }

    /** Stores distinct hash `h` with frequency `df` (1..Int.MaxValue). */
    def put(h: Long, df: Long): Unit = {
      require(df >= 1 && df <= Int.MaxValue, s"frequency $df out of range")
      var i = slot(h)
      while (dfs(i) != 0) i = (i + 1) & mask
      keys(i) = h
      dfs(i) = df.toInt
      if (df > largest) largest = df.toInt
    }

    /** The largest stored frequency, 0 for an empty table. */
    def maxDf: Long = largest

    /** Document frequency of `h`; every shingle of the corpus the table
      * was built from is present, so a miss means a foreign input.
      */
    def df(h: Long): Int = {
      var i = slot(h)
      while (dfs(i) != 0) {
        if (keys(i) == h) return dfs(i)
        i = (i + 1) & mask
      }
      throw new IllegalStateException(s"shingle $h is not in the frequency table")
    }
  }

  object DfTable {
    /** An empty table with room for `n` entries. */
    def ofSize(n: Int): DfTable = {
      val cap = LongProbe.capacity(16, n)
      new DfTable(new Array[Long](cap), new Array[Int](cap))
    }

    /** Bytes of the slot arrays of a table sized for `n` entries (12 per
      * slot), or Long.MaxValue past the largest table.
      */
    def bytes(n: Long): Long =
      if (2L * n > LongProbe.MaxCapacity) Long.MaxValue
      else 12L * LongProbe.capacity(16, n.toInt)
  }

  /** A doc's distinct shingle hashes in rarest-first order: ascending
    * document frequency, ties by ascending (signed) hash — the order
    * the prefix filters index. Two primitive sorts: the hashes, then
    * `df << 32 | position` keys (df and position both fit 31 bits).
    */
  def rankByDf(shingles: ArrayData, table: DfTable): ArrayData = {
    val n = shingles.numElements()
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = shingles.getLong(i); i += 1 }
    java.util.Arrays.sort(hs)
    val keys = new Array[Long](n)
    i = 0
    while (i < n) { keys(i) = (table.df(hs(i)).toLong << 32) | i; i += 1 }
    java.util.Arrays.sort(keys)
    i = 0
    while (i < n) { keys(i) = hs(keys(i).toInt); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(keys)
  }
}
