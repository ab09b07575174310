package graft.functions

import org.apache.spark.sql.Column

/** Helpers over 64-bit SimHash fingerprints (Charikar random
  * hyperplanes over the shingle multiset, computed by
  * [[Expressions.simhash64]]). The fingerprint plays the role of the
  * reference's compact 500-d signature embedding
  * (`winnow/feature_extraction/similarity_model.py:30-44`): a
  * fixed-width per-item fingerprint whose bitwise distance approximates
  * content similarity.
  */
object SimHash {
  /** Hamming distance between two 64-bit fingerprints — the verification
    * predicate (reference match predicate analog `winnow/utils/utils.py:76-83`).
    */
  def hamming(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.bit_count(a.bitwiseXOR(b))

  /** Split a 64-bit fingerprint into `blocks` equal bit-blocks for
    * pigeonhole candidate generation: two fingerprints within hamming
    * distance (blocks-1) share at least one identical block.
    */
  def blockKeys(fp: Column, blocks: Int): Column = {
    import org.apache.spark.sql.functions._
    val width = 64 / blocks
    val mask = if (width == 64) -1L else (1L << width) - 1
    array((0 until blocks).map { i =>
      struct(lit(i).as("blk"), (shiftright(fp, i * width)).bitwiseAND(lit(mask)).as("bits"))
    }: _*)
  }
}
