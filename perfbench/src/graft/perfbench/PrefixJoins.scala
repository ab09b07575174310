package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, explode}

import graft.corpus.SynthCorpus
import graft.pipeline.{Dedup, DedupConfig, ExactSubstring}

/** `prefix_joins`: the prefix-filter join family on a boilerplate-skewed
  * corpus — exact n-gram Jaccard pairs (tau 0.5), fuzzy containment
  * pairs (tau 0.6), and exact-substring containment over the tau 0.3
  * Jaccard pairs. The corpus is sized so the shared boilerplate
  * shingles occur in more than `hotCap` docs, so the salted hot
  * branches run.
  */
final class PrefixJoins(ctx: Ctx) extends Workload {
  import PrefixJoins._
  private val spark = ctx.spark
  private val cfg = DedupConfig(threshold = JaccardTau)
  private var docs: DataFrame = _
  private var nDocs = 0L
  private var planted: Seq[Checks.Planted] = Nil
  private var last: Outputs = _

  private final case class Outputs(jaccard: DataFrame, containment: DataFrame,
                                   substring: DataFrame) {
    def unpersist(): Unit = Seq(jaccard, containment, substring).foreach(_.unpersist())
  }

  def itemsName = "docs_per_s"
  def unitName = "op_p50_s"
  def scale = s"n$NBase-h$HotCap"
  def nominalOpS = 5.7

  def generate(): Unit = {
    if (docs != null) docs.unpersist()
    val (pages, labels) = SynthCorpus.generate(spark, ctx.seed, NBase,
      dupRate = 0.2, skewBoilerplate = true)
    docs = Dedup.fromPages(pages).localCheckpoint(true)
    nDocs = docs.count()
    planted = Checks.planted(labels)
  }

  private def plainOp(): Outputs = {
    val jac = Dedup.exactJaccardPairsPrefix(docs, cfg)
    jac.count()
    val cont = Dedup.containmentPairs(docs, cfg, ContainmentTau, hotCap = HotCap)
    cont.count()
    val cands = Dedup.exactJaccardPairsPrefix(docs, cfg.copy(threshold = SubstringTau))
    val sub = ExactSubstring.containmentPairs(cands, docs).localCheckpoint(true)
    cands.unpersist()
    Outputs(jac, cont, sub)
  }

  private def tracedOp(t: Tracer): Outputs = {
    val jac = t.span("Dedup.exactJaccardPairsPrefix")(
      Dedup.exactJaccardPairsPrefix(docs, cfg))(_.count())
    val shingled = Dedup.shingleSets(Dedup.kernelParallel(docs), cfg).localCheckpoint(true)
    val prefixCands = t.span("Dedup.prefixCandidates")(
      Dedup.prefixCandidates(shingled, cfg).localCheckpoint(true))(_.count())
    val nPrefix = prefixCands.count()
    t.annotate("Dedup.prefixCandidates", "candidates", nPrefix.toDouble)
    t.annotate("Dedup.prefixCandidates", "useful_ratio",
      jac.count().toDouble / math.max(1L, nPrefix))
    Seq(shingled, prefixCands).foreach(_.unpersist())
    val cont = t.span("Dedup.containmentPairs")(
      Dedup.containmentPairs(docs, cfg, ContainmentTau, hotCap = HotCap))(_.count())
    t.annotate("Dedup.containmentPairs", "hot_keys", Dedup.shingleSets(docs, cfg)
      .select(explode(col("shingles")).as("h")).groupBy("h").count()
      .where(col("count") > HotCap).count().toDouble)
    val cands = Dedup.exactJaccardPairsPrefix(docs, cfg.copy(threshold = SubstringTau))
    val sub = t.span("ExactSubstring.containmentPairs")(
      ExactSubstring.containmentPairs(cands, docs).localCheckpoint(true))(_.count())
    t.annotate("ExactSubstring.containmentPairs", "useful_ratio",
      sub.where(col("contained")).count().toDouble / math.max(1L, cands.count()))
    cands.unpersist()
    Outputs(jac, cont, sub)
  }

  def op(tracer: Option[Tracer]): Outcome = {
    val t0 = System.nanoTime()
    val o = tracer.fold(plainOp())(tracedOp)
    val wall = (System.nanoTime() - t0) / 1e9
    val fp = Seq(
      Checks.fingerprint(o.jaccard, "id_a", "id_b", "jaccard"),
      Checks.fingerprint(o.containment, "id_a", "id_b", "containment"),
      Checks.fingerprint(o.substring, "id_a", "id_b", "contained")).mkString("/")
    if (last != null) last.unpersist()
    last = o
    Outcome(wall, nDocs / wall, Seq(wall), fp, () => ())
  }

  private def pairsOf(df: DataFrame, where: DataFrame => DataFrame = identity)
      : Set[(String, String)] =
    where(df).select("id_a", "id_b").collect().map(r => (r.getString(0), r.getString(1))).toSet

  def check(lastOutcome: Outcome): (Double, Seq[String]) = {
    val texts = docs.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val inject = ctx.inject.contains("dropped_pair")
    def drop(s: Set[(String, String)]) = if (inject) Checks.dropOne(s, planted) else s

    // exact operators: every planted pair over the threshold is found
    val jac = drop(pairsOf(last.jaccard))
    val (r1, f1) = Checks.recall("prefix_joins jaccard",
      planted.filter(_.jaccard >= JaccardTau), p => jac.contains(p.key), exact = true)
    val cont = pairsOf(last.containment)
    val (r2, f2) = Checks.recall("prefix_joins containment",
      planted.filter(p => Checks.containment(texts(p.variant), texts(p.original)) >= ContainmentTau),
      p => cont.contains(p.key), exact = true)
    // truncation keeps a substring of the original; boilerplate wraps it
    val contained = pairsOf(last.substring, _.where(col("contained")))
    val (r3, f3) = Checks.recall("prefix_joins substring",
      planted.filter(p => Set("truncate", "boilerplate").contains(p.mutation) &&
        p.jaccard >= SubstringTau),
      p => contained.contains(p.key), exact = true)

    def substringScore(a: String, b: String): Double = {
      val (hay, needle) = if (a.length >= b.length) (a, b) else (b, a)
      if (hay.contains(needle)) 1.0 else 0.0
    }
    val flags = last.substring.select("id_a", "id_b", "contained").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getBoolean(2))).toSeq
    val wrongFlags = Checks.sample(flags.map(_._1)).filter { p =>
      (substringScore(texts(p._1), texts(p._2)) == 1.0) != flags.toMap.apply(p)
    }.take(5).map(p => s"prefix_joins substring: pair $p has a wrong contained flag")

    val recall = Seq(r1, r2, r3).min
    (recall, f1 ++ f2 ++ f3 ++ wrongFlags ++
      Checks.rescore("prefix_joins jaccard", jac.toSeq, texts, JaccardTau,
        SynthCorpus.jaccardWords(_, _)) ++
      Checks.rescore("prefix_joins containment", cont.toSeq, texts, ContainmentTau,
        Checks.containment))
  }
}

object PrefixJoins {
  /** Originals generated; 30% of them (and their variants) carry the
    * shared boilerplate.
    */
  val NBase = 1000
  /** `containmentPairs`' hot-key cap, scaled to this corpus from its
    * default 1024: the boilerplate shingles occur in ~400 docs, so the
    * salted hot branch runs beside the cold one.
    */
  val HotCap = 256
  val JaccardTau = 0.5
  val ContainmentTau = 0.6
  val SubstringTau = 0.3
}
