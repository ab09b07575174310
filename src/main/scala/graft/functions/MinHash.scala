package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Batched MinHash signature aggregator.
  *
  * Plays the role of the reference's per-item "global vector" aggregate
  * (normalize -> mean -> normalize over per-unit CNN features,
  * reference `winnow/feature_extraction/loading_utils.py:77-98`): an
  * order-insensitive aggregate over the multiset of per-unit features.
  * Here the units are 64-bit shingle hashes and the aggregate keeps, for
  * each of `numHashes` pairwise-independent permutations, the minimum
  * permuted value (unsigned order).
  *
  * Permutation i is the XXH64 chain h -> hashLong(h, seed_i) with
  * seed_i = hashLong(i, 42) — bit-identical to SQL
  * `xxhash64(cast(i as bigint), h)` (see [[perm]]) and fully
  * deterministic, so the signature is reproducible across runs,
  * partitions and parallelism levels (a hard requirement — see
  * SURVEY.md §7.4(4)).
  *
  * Implemented as a typed Aggregator registered via `functions.udaf` so
  * Spark performs map-side partial aggregation (the merge is an
  * element-wise unsigned min — commutative, associative, idempotent;
  * property-tested in MinHashSpec).
  */
object MinHash {

  /** Permutation i of a 64-bit shingle hash: xxhash64 seeded per index,
    * exactly the bits SQL `xxhash64(cast(i as bigint), h)` produces
    * (seed chain: hashLong(i, 42) then hashLong(h, ·)) so the UDAF and
    * the expression pipeline in Dedup.signatures agree bit-for-bit.
    */
  @inline def perm(i: Int, h: Long): Long = {
    val seed = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(i.toLong, 42L)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(h, seed)
  }

  final class MinHashAgg(numHashes: Int)
      extends Aggregator[Long, Array[Long], Array[Long]] {
    private val seeds: Array[Long] = Array.tabulate(numHashes)(i =>
      org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(i.toLong, 42L))

    override def zero: Array[Long] = Array.fill(numHashes)(-1L) // unsigned max

    override def reduce(buf: Array[Long], h: Long): Array[Long] = {
      var i = 0
      while (i < numHashes) {
        val v = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(h, seeds(i))
        if (java.lang.Long.compareUnsigned(v, buf(i)) < 0) buf(i) = v
        i += 1
      }
      buf
    }

    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < numHashes) {
        if (java.lang.Long.compareUnsigned(y(i), x(i)) < 0) x(i) = y(i)
        i += 1
      }
      x
    }

    override def finish(buf: Array[Long]): Array[Long] = buf
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** MinHash UDAF column over a LongType shingle-hash column. */
  def minhashAgg(numHashes: Int)(h: Column): Column =
    udaf(new MinHashAgg(numHashes)).apply(h)
}
