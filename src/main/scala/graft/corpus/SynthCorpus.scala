package graft.corpus

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §1):
  * pages(url, warc_ts, html, text, lang) + labels(url, original_url,
  * mutation, edit_rate). No external data; fixed seed. The mutation set
  * is the text analog of the reference's augmented benchmark columns
  * (banner/bitrate/crop/logo/offset/shaky/speed_change —
  * `benchmarks/augmented_dataset/labels.csv` header).
  *
  * html is generated FROM text (wrapped in deterministic markup with
  * scripts/styles/entities), so `extractText(html) == text` is the
  * byte-identical oracle per url (BASELINE.json input_hint).
  */
object SynthCorpus {

  final case class Page(url: String, warc_ts: Timestamp, html: Array[Byte],
                        text: String, lang: String)
  final case class Label(url: String, original_url: String,
                         mutation: String, edit_rate: Double)

  private val naturalWords: Array[String] =
    ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor " +
      "incididunt ut labore et dolore magna aliqua enim ad minim veniam quis nostrud " +
      "exercitation ullamco laboris nisi aliquip ex ea commodo consequat duis aute " +
      "irure reprehenderit voluptate velit esse cillum fugiat nulla pariatur excepteur " +
      "sint occaecat cupidatat non proident sunt culpa qui officia deserunt mollit anim " +
      "id est laborum data page web crawl index token corpus").split(" ")

  /** Realistic vocabulary size: with a tiny vocabulary every doc pair
    * shares k-grams and candidate noise grows quadratically with corpus
    * size — unlike real web text, where random cross-doc jaccard ~ 0.
    * Default 4096: a Zipf-ish head (the natural words, drawn 30% of the
    * time in baseText) plus a long synthetic tail.
    */
  val DefaultVocabSize = 4096
  private val vocab: Array[String] =
    naturalWords ++ (naturalWords.length until DefaultVocabSize)
      .map(i => s"w$i")

  private val langs = Array("en", "de", "fr", "es", "zh")

  /** SplitMix64 stream for all randomness (content-derived, seedable). */
  private final class Rng(seed0: Long) {
    private var s = seed0
    def nextLong(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def nextInt(bound: Int): Int = (Math.floorMod(nextLong(), bound.toLong)).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  }

  private def baseText(rng: Rng, nWords: Int): String =
    (0 until nWords).map { _ =>
      if (rng.nextDouble() < 0.3) naturalWords(rng.nextInt(naturalWords.length))
      else vocab(rng.nextInt(vocab.length))
    }.mkString(" ")

  /** Mutations with approximate edit rates (text analogs per FIXTURES.md). */
  private def mutate(rng: Rng, text: String, mutation: String): String = {
    val words = text.split(" ")
    mutation match {
      case "substitute" => // ~ color/intensity: replace ~8% of tokens
        words.map(w =>
          if (rng.nextDouble() < 0.08) vocab(rng.nextInt(vocab.length)) else w)
          .mkString(" ")
      case "boilerplate" => // ~ banner/logo: inject prefix+suffix
        val pre = baseText(rng, 5 + rng.nextInt(5))
        val post = baseText(rng, 5 + rng.nextInt(5))
        s"$pre $text $post"
      case "truncate" => // ~ crop/offset: keep a 70-90% prefix or suffix
        val keep = math.max(1, (words.length * (0.7 + 0.2 * rng.nextDouble())).toInt)
        if (rng.nextInt(2) == 0) words.take(keep).mkString(" ")
        else words.drop(words.length - keep).mkString(" ")
      case "reorder" => // ~ shaky: swap two halves
        val mid = words.length / 2
        (words.drop(mid) ++ words.take(mid)).mkString(" ")
      case _ => text
    }
  }

  private val mutations = Array("substitute", "boilerplate", "truncate", "reorder")

  private val pubTimeFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(java.time.ZoneOffset.UTC)

  /** Deterministic html wrapper; extractText(html) must byte-equal text.
    * ~60% of pages carry an `article:published_time` meta tag with an
    * ISO-8601 instant, ~10% carry deliberate GARBAGE in that tag, the
    * rest omit it — so typed-date extraction (exif DateTime analog) is
    * exercised on present/absent/unparseable inputs by every corpus.
    * Meta tags live inside `<head>` and are stripped whole by
    * extractText, so the byte-identity contract is untouched.
    */
  def wrapHtml(text: String, rng: Rng): Array[Byte] = {
    val style = "body { margin: 0; color: #333; }"
    val script = s"var x = ${rng.nextInt(1000)}; if (x > 3) { x = x * 2; }"
    // SIDE stream seeded from the text: the shared rng's consumption
    // pattern is load-bearing (every downstream draw — dup decisions,
    // mutations — would shift), so the date meta must not draw from it
    val dRng = new Rng(mix(scala.util.hashing.MurmurHash3.stringHash(text).toLong))
    val dateRoll = dRng.nextInt(10)
    val pubEpoch = 1500000000L + (dRng.nextLong() >>> 40)
    val pubMeta =
      if (dateRoll < 6)
        s"""<meta property="article:published_time" content="${pubTimeFmt.format(java.time.Instant.ofEpochSecond(pubEpoch))}">"""
      else if (dateRoll < 7)
        s"""<meta property="article:published_time" content="not-a-date-${dRng.nextInt(100)}">"""
      else ""
    // title left empty: extractText keeps title TEXT, and the contract is
    // extractText(html) byte-equals the body text. entities round-trip:
    // '&' never occurs in the vocab, so entity decoding cannot produce
    // accidental matches.
    val html =
      s"""<!DOCTYPE html>
         |<html><head><title></title>$pubMeta
         |<style type="text/css">$style</style>
         |<script>$script</script></head>
         |<body><div class="main"><p>${text.split(" ").grouped(12).map(_.mkString(" ")).mkString("</p>\n<p>")}</p></div>
         |</body></html>""".stripMargin
    html.getBytes("UTF-8")
  }

  /** All pages (base + variants) derived from one base index — content
    * is a pure function of (seed, i), so generation is deterministic
    * under ANY partitioning (SURVEY.md §7.4(4)).
    */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def genOne(seed: Long, i: Long, dupRate: Double,
                     skewBoilerplate: Boolean): (Seq[Page], Seq[Label]) = {
    // per-doc state must be a MIXED function of (seed, i): a plain
    // `seed ^ (i*golden)` makes SplitMix streams of nearby indices mere
    // shifts of each other (the generator state advances by the same
    // golden increment), which manufactured accidental near-duplicate
    // originals. Double mixing makes stream overlap a ~2^-64 event.
    val rng = new Rng(mix(seed ^ mix(i + 1)))
    val boilerRng = new Rng(seed) // shared across docs: hot-shingle fixture
    val sharedBoiler = baseText(boilerRng, 12)
    val t0 = 1700000000000L
    val url = f"https://example.org/doc/$seed%x/$i%08d"
    val lang = langs(rng.nextInt(langs.length))
    var text = baseText(rng, 30 + rng.nextInt(60))
    if (skewBoilerplate && rng.nextDouble() < 0.3) text = s"$sharedBoiler $text"
    val ts = new Timestamp(t0 + rng.nextInt(86400 * 30) * 1000L)
    val pages = Vector.newBuilder[Page]
    val labels = Vector.newBuilder[Label]
    pages += Page(url, ts, wrapHtml(text, rng), text, lang)
    if (rng.nextDouble() < dupRate) {
      val nVar = 1 + rng.nextInt(3)
      var v = 0
      while (v < nVar) {
        val mut = mutations(rng.nextInt(mutations.length))
        val vUrl = f"$url/v$v"
        val vText = mutate(rng, text, mut)
        val vTs = new Timestamp(t0 + rng.nextInt(86400 * 30) * 1000L)
        pages += Page(vUrl, vTs, wrapHtml(vText, rng), vText, lang)
        labels += Label(vUrl, url, mut, 1.0 - jaccardWords(text, vText))
        v += 1
      }
    }
    (pages.result(), labels.result())
  }

  /** Generate the corpus DISTRIBUTED: nBase originals; each with
    * probability dupRate spawns 1-3 mutated near-dup variants. Content is
    * content-derived per index, so the tables are identical under any
    * parallelism. Returns (pages, labels).
    */
  def generate(spark: SparkSession, seed: Long, nBase: Int,
               dupRate: Double = 0.2,
               skewBoilerplate: Boolean = false): (DataFrame, DataFrame) = {
    import spark.implicits._
    val pages = spark.range(nBase)
      .flatMap(i => genOne(seed, i, dupRate, skewBoilerplate)._1)
      .toDF()
    val labels = spark.range(nBase)
      .flatMap(i => genOne(seed, i, dupRate, skewBoilerplate)._2)
      .toDF()
    (pages, labels)
  }

  /** The cached benchmark corpus of the timing main (`ScalingBench`):
    * seed-123, dupRate 0.2 pages (html dropped — the timed pipelines
    * read text) persisted once per `nBase` under /tmp and reused across
    * sessions, so runs never compare corpora generated with silently
    * diverged parameters. Returns the corpus directory.
    */
  def ensureScalingCorpus(spark: SparkSession, nBase: Int): String = {
    val corpusDir = s"/tmp/graft_scaling_corpus_$nBase"
    // reuse only a COMMITTED write: the _SUCCESS marker appears at job
    // commit, so a generator killed mid-write leaves a directory this
    // check rejects and the overwrite below replaces (a bare exists()
    // check silently benchmarked truncated corpora)
    if (!new java.io.File(corpusDir, "_SUCCESS").exists()) {
      val (pages, _) = generate(spark, seed = 123L, nBase = nBase,
        dupRate = 0.2)
      pages.drop("html").repartition(64)
        .write.mode("overwrite").parquet(corpusDir)
    }
    corpusDir
  }

  /** Word-3-gram jaccard used for label edit rates (driver-side). */
  def jaccardWords(a: String, b: String, k: Int = 3): Double = {
    def sh(s: String) = s.split(" ").sliding(k).filter(_.length == k)
      .map(_.mkString(" ")).toSet
    val (sa, sb) = (sh(a), sh(b))
    if (sa.isEmpty && sb.isEmpty) 1.0
    else {
      val inter = (sa & sb).size.toDouble
      inter / (sa.size + sb.size - inter)
    }
  }
}
