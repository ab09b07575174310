package graft

import org.apache.spark.sql.functions._
import graft.corpus.SynthCorpus
import graft.functions.TextFunctions
import graft.pipeline.{Dedup, DedupConfig}

/** End-to-end tests on the deterministic synthetic pages corpus
  * (FIXTURES.md): byte-identical extraction, planted-dup recall,
  * skew-fixture salting equality.
  */
class CorpusAndPipelineSpec extends SparkSpecBase {
  private val cfg = DedupConfig()

  private lazy val (pages, labels) =
    SynthCorpus.generate(spark, seed = 42L, nBase = 400, dupRate = 0.25)

  test("extractText(html) byte-equals text for every synthetic page (input_hint invariant)") {
    val bad = pages
      .withColumn("extracted", TextFunctions.extractText(col("html")))
      .where(col("extracted") =!= col("text"))
    val n = bad.count()
    if (n > 0) bad.select("url", "text", "extracted").show(3, truncate = false)
    assert(n == 0)
  }

  test("corpus generation is deterministic across invocations") {
    val (p2, l2) = SynthCorpus.generate(spark, seed = 42L, nBase = 400, dupRate = 0.25)
    val a = pages.select("url", "warc_ts", "text", "lang").collect().toSet
    val b = p2.select("url", "warc_ts", "text", "lang").collect().toSet
    assert(a == b)
    val ha = pages.select(col("url"), md5(col("html"))).collect().toSet
    val hb = p2.select(col("url"), md5(col("html"))).collect().toSet
    assert(ha == hb)
    assert(labels.collect().toSet == l2.collect().toSet)
  }

  test("originals never collide: no cross-original pairs at threshold (RNG stream independence)") {
    val origs = Dedup.fromPages(pages.where(!col("url").contains("/v")))
    val accidental = Dedup.pairsMaterialized(origs, cfg).count()
    assert(accidental == 0,
      s"$accidental accidental near-dup pairs between independent originals")
  }

  test("pipeline recall >= 0.99 on planted near-dup pairs above threshold") {
    val docs = Dedup.fromPages(pages)
    val got = Dedup.pairsMaterialized(docs, cfg).select("id_a", "id_b")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // ground truth: label pairs whose true word-3-gram jaccard >= tau
    val texts = pages.select("url", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val want = labels.collect().flatMap { r =>
      val (u, o) = (r.getString(0), r.getString(1))
      val j = SynthCorpus.jaccardWords(texts(u), texts(o))
      if (j >= cfg.threshold)
        Some((if (u < o) (u, o) else (o, u)))
      else None
    }.toSet
    assert(want.size >= 30, s"fixture too small: ${want.size} planted pairs")
    val recall = (got & want).size.toDouble / want.size
    assert(recall >= 0.99, s"recall $recall; missed ${(want -- got).take(5)}")
  }

  test("skewed corpus: salted join equals plain join and bounds bucket width") {
    val (skewed, _) = SynthCorpus.generate(spark, seed = 7L, nBase = 300,
      dupRate = 0.1, skewBoilerplate = true)
    val docs = Dedup.fromPages(skewed)
    val plain = Dedup.pairsMaterialized(docs, cfg)
      .select("id_a", "id_b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    // skew-aware selective salting: same pair set, replication only on
    // measured hot bands (cap forced low so the shared boilerplate
    // actually trips it on this fixture)
    val shingled = Dedup.shingleSets(docs, cfg)
    val bands = Dedup.bandTable(Dedup.signatures(shingled, cfg), cfg)
    val skewAware = Dedup.verifiedPairs(
      Dedup.candidatePairsSkewAware(bands, hotCap = 8, saltBuckets = 4),
      shingled, cfg)
      .select("id_a", "id_b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(plain == skewAware)
  }

  test("containment pass flags truncation variants against their originals") {
    val docs = Dedup.fromPages(pages)
    val truncLabels = labels.where(col("mutation") === "truncate")
      .select("url", "original_url").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(truncLabels.nonEmpty)
    val spark2 = spark
    import spark2.implicits._
    val cands = truncLabels.toSeq.toDF("id_a", "id_b")
    val got = graft.pipeline.ExactSubstring.containmentPairs(cands, docs)
      .where(col("contained"))
      .count()
    // every truncate mutation keeps a verbatim prefix/suffix -> contained
    assert(got == truncLabels.length)
  }
}
