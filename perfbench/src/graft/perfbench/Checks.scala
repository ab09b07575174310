package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Output checks computed driver-side, independently of the engine's
  * kernels: word-3-gram sets as plain strings (`SynthCorpus.jaccardWords`
  * and [[containment]]), substring search as `String.contains`.
  */
object Checks {
  /** LSH banding at the default (r=3, b=40) misses a pair of Jaccard
    * >= 0.7 with probability < 1e-7: such planted pairs must all be found.
    */
  val SureJaccard = 0.7
  val MinRecall = 0.99
  val SampleSize = 200

  /** A planted near-duplicate: a variant, its original, and their true
    * word-3-gram Jaccard (from the corpus labels).
    */
  final case class Planted(variant: String, original: String, mutation: String,
                           jaccard: Double) {
    /** The pair as the engine reports it (id_a < id_b). */
    def key: (String, String) =
      if (variant < original) (variant, original) else (original, variant)
  }

  def planted(labels: DataFrame): Seq[Planted] =
    labels.select("url", "original_url", "mutation", "edit_rate").collect().toSeq
      .map(r => Planted(r.getString(0), r.getString(1), r.getString(2), 1.0 - r.getDouble(3)))

  def fingerprint(df: DataFrame, cols: String*): String = {
    val (n, h) = graft.store.TxLog.contentFingerprint(df, cols.map(col))
    s"$n:$h"
  }

  private def shingles(s: String): Set[String] =
    s.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def containment(a: String, b: String): Double = {
    val (sa, sb) = (shingles(a), shingles(b))
    (sa & sb).size.toDouble / math.min(sa.size, sb.size)
  }

  /** Every k-th element of the sorted input, at most `SampleSize` of them. */
  def sample[T: Ordering](xs: Seq[T]): Seq[T] = {
    val s = xs.sorted
    val step = math.max(1, s.length / SampleSize)
    s.indices.by(step).take(SampleSize).map(s)
  }

  /** Recall of the planted pairs `expected` among `found`, and a failure
    * for each pair that must not be missed (all of them when `exact`).
    */
  def recall(what: String, expected: Seq[Planted], found: Planted => Boolean,
             exact: Boolean): (Double, Seq[String]) = {
    val missed = expected.filterNot(found)
    val r = if (expected.isEmpty) 1.0 else 1.0 - missed.size.toDouble / expected.size
    val must = missed.filter(p => exact || p.jaccard >= SureJaccard)
    val low = if (r < MinRecall) Seq(f"$what: recall $r%.4f < $MinRecall") else Nil
    (r, low ++ must.take(5).map(p =>
      f"$what: planted pair ${p.variant} ~ ${p.original} (jaccard ${p.jaccard}%.3f) missing"))
  }

  /** Re-scores a sample of reported pairs; each must reach `tau`. */
  def rescore(what: String, pairs: Seq[(String, String)], texts: Map[String, String],
              tau: Double, score: (String, String) => Double): Seq[String] =
    sample(pairs).flatMap { case (a, b) =>
      val s = score(texts(a), texts(b))
      if (s >= tau - 1e-9) None else Some(f"$what: reported pair $a ~ $b scores $s%.4f < $tau")
    }.take(5)

  /** Removes one planted pair of Jaccard >= [[SureJaccard]] from `pairs`
    * (the dropped-pair fault of the self-test).
    */
  def dropOne(pairs: Set[(String, String)], planted: Seq[Planted]): Set[(String, String)] =
    planted.filter(_.jaccard >= SureJaccard).iterator.map(_.key)
      .find(pairs.contains).fold(pairs)(pairs - _)
}
