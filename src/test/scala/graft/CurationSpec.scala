package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, DedupConfig}
import graft.queries.Curation
import graft.streaming.IncrementalIngest

/** Curation operators: repetition stats, decontamination, deterministic
  * sampling, the ingest seen check.
  */
class CurationSpec extends SparkSpecBase {

  test("repetitionStats: hand-computed fractions on tiny docs") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "x y x y x y"),   // 6 tokens, 2 distinct; bigrams x5, "x y" x3
      (2L, "a a b"),         // 3 tokens, 2 distinct; bigrams "a a","a b"
      (3L, "unique words only here"), // no repetition
      (4L, "solo")           // 1 token -> excluded (no bigram slots)
    ).toDF("doc_id", "text")
    val r = Curation.repetitionStats(docs).collect()
      .map(x => x.getLong(0) -> ((x.getDouble(1), x.getDouble(2)))).toMap
    assert(r.keySet == Set(1L, 2L, 3L))
    assert(r(1L) == ((math.round((1.0 - 2.0 / 6) * 1e6) / 1e6, 0.6)))
    assert(r(2L) == ((math.round((1.0 - 2.0 / 3) * 1e6) / 1e6, 0.5)))
    assert(r(3L) == ((0.0, math.round(1.0 / 3 * 1e6) / 1e6)))
  }

  test("repetitionStats kernel is bit-equal to the explode/groupBy formulation") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val kernel = Curation.repetitionStats(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    val oracle = Curation.repetitionStatsExploded(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(kernel == oracle)
    assert(kernel.size == docs.count())
  }

  test("contaminatedDocs: planted k-gram overlap found, clean docs absent") {
    val spark2 = spark
    import spark2.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "intro text alpha beta gamma delta closing words"), // contains a 4-gram
      (2L, "beta gamma delta epsilon and alpha beta gamma delta"), // two distinct shared 4-grams
      (3L, "no shared grams at all in this document")
    ).toDF("doc_id", "text")
    val r = Curation.contaminatedDocs(train, bench, k = 4).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 1L, 2L -> 2L))
  }

  test("deterministicSample: stable, monotone in threshold, exact bounds") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(Curation.deterministicSample(docs, col("doc_id"), 0).count() == 0)
    assert(Curation.deterministicSample(docs, col("doc_id"), 65536).count() == docs.count())
    val a = Curation.deterministicSample(docs, col("doc_id"), 8192)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Curation.deterministicSample(docs, col("doc_id"), 16384)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a.subsetOf(b), "lower-threshold sample must nest in the higher one")
    // rerun gives the identical set (no RNG state)
    val a2 = Curation.deterministicSample(docs, col("doc_id"), 8192)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == a2)
    // exact counts pinned (md5 is engine-agnostic: DuckDB agrees — see
    // the q_hash_sample oracle)
    assert(a.size == 78 && b.size == 140)
  }

  test("stratifiedSample: per-stratum budgets, default stratum, subset stability") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val kept = Curation.stratifiedSample(docs, col("lang"), col("doc_id"),
      Map("en" -> 4096, "zh" -> 65536), defaultNumerator = 8192)
    val byLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang.getOrElse("zh", 0L) == totals("zh"),
      "numerator 65536 keeps the whole stratum")
    assert(byLang.getOrElse("en", 0L) < totals("en") / 8,
      "en capped hard at 1/16 nominal")
    // per-row stability: the en selection is exactly the 1/16 global
    // sample restricted to en (same key hash, same threshold ordering)
    val enKept = kept.where(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val global = Curation.deterministicSample(docs, col("doc_id"), 4096)
      .where(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(enKept == global)
  }

  test("curation edge cases: degenerate texts flow through without errors") {
    val spark2 = spark
    import spark2.implicits._
    val weird = Seq(
      (1L, ""),                 // empty -> 1 empty token -> excluded
      (2L, "solo"),             // 1 token -> excluded
      (3L, "w w w w"),          // total repetition
      (4L, "aé bé aé bé") // multibyte UTF-8 tokens
    ).toDF("doc_id", "text")
    val r = Curation.repetitionStats(weird).collect()
      .map(x => x.getLong(0) -> ((x.getDouble(1), x.getDouble(2)))).toMap
    assert(r.keySet == Set(3L, 4L))
    assert(r(3L) == ((0.75, 1.0))) // 4 tokens 1 distinct; "w w" fills all 3 slots
    assert(r(4L) == ((0.5, math.round(2.0 / 3 * 1e6) / 1e6))) // "aé bé" twice of 3 slots
    // kernel == exploded formulation on the degenerate rows too
    val exploded = Curation.repetitionStatsExploded(weird).collect()
      .map(x => x.getLong(0) -> ((x.getDouble(1), x.getDouble(2)))).toMap
    assert(r == exploded)
    // k-gram longer than every doc -> decontamination finds nothing
    assert(Curation.contaminatedDocs(weird, weird, k = 50).count() == 0)
  }

  test("redactPii: emails, dotted quads, phone runs — order matters") {
    val spark2 = spark
    import spark2.implicits._
    val cases = Seq(
      ("mail me at jo.na+tag@sub.example.org today",
        "mail me at <PII> today"),
      ("server 192.168.0.1 and 10.20.30.40 up", "server <PII> and <PII> up"),
      ("call +1 (555) 123-4567 now", "call <PII> now"),
      // the ip must be eaten by the IPv4 rule, not the phone rule
      ("ip 10.0.37.17 then +44 7700 900123 end", "ip <PII> then <PII> end"),
      ("no pii here at all", "no pii here at all")
    )
    val got = cases.map(_._1).toDF("t")
      .select(col("t"), graft.functions.TextFunctions.redactPii(col("t")).as("r"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"redactPii($in) = ${got(in)}, want $want")
    }
  }

  test("compressionRatio: repetition compresses, entropy doesn't") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(99L)
    val docs = Seq(
      (1L, "spam " * 200),                                 // pure repetition
      (2L, Seq.fill(200)(rnd.nextLong().toHexString).mkString(" ")), // noise
      (3L, "")                                             // empty -> neutral 1.0
    ).toDF("doc_id", "text")
    val r = docs.select(col("doc_id"),
      graft.functions.Expressions.compressionRatio(col("text")).as("cr"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) < 0.05, s"repetitive text should compress hard, got ${r(1L)}")
    assert(r(2L) > 0.5, s"high-entropy text should not, got ${r(2L)}")
    assert(r(3L) == 1.0)
    // deterministic across invocations (fixture-pinnable)
    val again = docs.select(
      graft.functions.Expressions.compressionRatio(col("text"))).collect()
      .map(_.getDouble(0)).toSeq
    assert(again == Seq(r(1L), r(2L), r(3L)))
  }

  test("canonicalUrl: scheme/www/case/slash/fragment/utm variants collapse") {
    val spark2 = spark
    import spark2.implicits._
    val cases = Seq(
      // (input, expected canonical)
      ("https://WWW.Example.COM/Path/", "example.com/Path"),
      ("http://example.com/Path", "example.com/Path"),
      ("example.com/Path#section-2", "example.com/Path"),
      ("https://example.com", "example.com"),
      ("https://example.com/?utm_source=x", "example.com"),
      ("https://example.com/p?utm_source=x&q=1", "example.com/p?q=1"),
      ("https://example.com/p?q=1&utm_medium=m&r=2", "example.com/p?q=1&r=2"),
      ("https://example.com/p?utm_a=1&utm_b=2", "example.com/p"),
      // path case is PRESERVED (only the authority lowercases)
      ("ftp://Host.Net/CaseSensitive/PATH", "host.net/CaseSensitive/PATH"),
      ("www.plain.org//", "plain.org"),
      // path-less url with a query: the authority stops at '?', so the
      // case-sensitive query value must NOT be lowercased
      ("http://Example.com?Session=AbC123", "example.com?Session=AbC123")
    )
    val got = cases.map(_._1).toDF("url")
      .select(col("url"),
        graft.functions.TextFunctions.canonicalUrl(col("url")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"canonicalUrl($in) = ${got(in)}, want $want")
    }
  }

  test("canonicalUrl fuzz: arbitrary strings normalize without error, deterministically") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(31337L)
    val chars = "abcXYZ019:/?#&=._-%\\ \t€ü"
    val inputs = (1 to 300).map { _ =>
      val len = rnd.nextInt(40)
      (1 to len).map(_ => chars(rnd.nextInt(chars.length))).mkString
    } :+ "" :+ "#" :+ "://" :+ "?utm_" :+ "www." :+ "////"
    val df = inputs.toDF("url")
    val once = df.select(
      graft.functions.TextFunctions.canonicalUrl(col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq
    val twice = df.select(
      graft.functions.TextFunctions.canonicalUrl(col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(once == twice, "normalization must be deterministic")
    assert(once.forall(_ != null))
  }

  test("containmentPairs finds an embedded quote that jaccard misses; matches inverted-index oracle") {
    val spark2 = spark
    import spark2.implicits._
    import graft.pipeline.{Dedup, DedupConfig}
    val cfg = DedupConfig()
    val quote = (1 to 30).map(i => s"q$i").mkString(" ")
    val filler = (1 to 300).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, quote),                    // small doc
      (2L, s"$filler $quote"),        // big doc containing it verbatim
      (3L, (1 to 50).map(i => s"z$i").mkString(" "))
    ).toDF("id", "text")
    val got = Dedup.containmentPairs(docs, cfg, tau = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 1.0)),
      s"expected full containment of doc 1 in doc 2, got ${got.toSeq}")
    // jaccard at the default threshold does NOT surface this pair
    assert(Dedup.exactJaccardPairsPrefix(docs, cfg).count() == 0)
    // full-corpus parity vs the complete inverted-index formulation
    val sf = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val prefixSet = Dedup.containmentPairs(sf, cfg, tau = 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sh = Dedup.shingleSets(sf, cfg)
      .select(col("id"), col("shingles"))
    val full = sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (graft.functions.Expressions
          .intersectCount(col("a.shingles"), col("b.shingles")).cast("double") /
          least(size(col("a.shingles")), size(col("b.shingles"))))
          .as("containment"))
      .where(col("containment") >= 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(prefixSet == full)
  }

  test("leakageFreeSplit: near-dup cluster members never straddle the split") {
    import graft.pipeline.{Dedup, DedupConfig}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val clusters = Dedup.clusters(
      Dedup.pairsMaterialized(docs, DedupConfig())).localCheckpoint(true)
    val split = Curation.leakageFreeSplit(
      docs.withColumnRenamed("id", "doc_id"), clusters, heldOutNumerator = 8192)
    // every cluster is entirely on one side
    val mixed = split.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("k")).where(col("k") > 1).count()
    assert(mixed == 0)
    // both sides populated, all docs assigned exactly once
    val bySide = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySide.values.sum == docs.count())
    assert(bySide("heldout") > 0 && bySide("train") > 0)
    // contrast property: the DOC-level hash split genuinely straddles
    // at least one multi-member cluster on this corpus — i.e. the
    // leakage leakageFreeSplit prevents is real, not hypothetical
    val docFlag = split.withColumn("_doc_side",
      substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4) < "2000")
    val straddled = docFlag.groupBy("cluster_id")
      .agg(countDistinct(col("_doc_side")).as("k"), count(lit(1)).as("n"))
      .where(col("n") > 1 && col("k") > 1).count()
    assert(straddled > 0,
      "doc-level hashing must split some cluster across train/heldout")
  }

  test("containment prefix completeness (property): random hot-shingle corpora x taus match brute force") {
    val spark2 = spark
    import spark2.implicits._
    import graft.pipeline.{Dedup, DedupConfig}
    val cfg = DedupConfig()
    val rnd = new scala.util.Random(777L)
    // tiny vocabulary = heavy shingle sharing: the adversarial case for
    // the asymmetric prefix bound (contained side prefixed, container
    // side full) — a bug that drops hot-end collisions would show here
    val vocab = Array("a", "b", "c", "d", "e", "f")
    for (trial <- 0 until 6) {
      val tau = Seq(0.4, 0.6, 0.8)(trial % 3)
      val n = 10 + rnd.nextInt(10)
      val docs = (1 to n).map { i =>
        val len = 3 + rnd.nextInt(12)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }.toDF("id", "text")
      def ps(df: org.apache.spark.sql.DataFrame) =
        df.select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = ps(Dedup.containmentPairs(docs, cfg, tau))
      // hotCap=1 forces EVERY shared shingle down the salted hot path —
      // the salted join must produce the identical pair set
      val saltedAll = ps(Dedup.containmentPairs(docs, cfg, tau,
        hotCap = 1, saltBuckets = 3))
      val sh = Dedup.shingleSets(docs, cfg).select(col("id"), col("shingles"))
      val brute = ps(sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
        .where(graft.functions.Expressions
          .intersectCount(col("a.shingles"), col("b.shingles")).cast("double") /
          least(size(col("a.shingles")), size(col("b.shingles"))) >= tau)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b")))
      assert(got == brute,
        s"trial=$trial tau=$tau n=$n: prefix=${got.size} brute=${brute.size} " +
          s"missing=${brute -- got} extra=${got -- brute}")
      assert(saltedAll == brute,
        s"trial=$trial tau=$tau n=$n: salted hot path diverges: " +
          s"missing=${brute -- saltedAll} extra=${saltedAll -- brute}")
    }
  }

  test("containmentPairs hot-shingle salting: pair set preserved on the boilerplate skew fixture, no full hot bucket") {
    import graft.pipeline.{Dedup, DedupConfig}
    val cfg = DedupConfig()
    val (pages, _) = graft.corpus.SynthCorpus.generate(
      spark, seed = 31L, nBase = 120, dupRate = 0.25, skewBoilerplate = true)
    val docs = Dedup.fromPages(pages)
    def ps(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val hotCap = 8
    val saltBuckets = 4
    val salted = ps(Dedup.containmentPairs(docs, cfg, tau = 0.6,
      hotCap = hotCap, saltBuckets = saltBuckets))
    val unsalted = ps(Dedup.containmentPairs(docs, cfg, tau = 0.6,
      hotCap = Int.MaxValue))
    assert(salted == unsalted,
      s"salting changed the pair set: missing=${unsalted -- salted} " +
        s"extra=${salted -- unsalted}")
    // the fixture genuinely exercises the hot path: shared boilerplate
    // shingles exceed the cap
    val sh = Dedup.shingleSets(docs, cfg)
      .select(col("id"), explode(col("shingles")).as("h"))
    val freq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val nHot = freq.where(col("df") > hotCap).count()
    assert(nHot > 0, "skew fixture produced no hot shingles — test is vacuous")
    // bucket bound: after salting, no (h, salt) task bucket holds a hot
    // key's full f-row index
    val buckets = sh.join(freq.where(col("df") > hotCap), "h")
      .groupBy(col("h"), col("df"),
        pmod(xxhash64(col("id")), lit(saltBuckets)).as("salt"))
      .agg(count(lit(1)).as("n"))
    val fullBuckets = buckets.where(col("n") === col("df")).count()
    assert(fullBuckets == 0,
      "a salted hot key still materializes its full bucket in one task")
  }

  test("removeDuplicateSpans: first occurrence survives, text reconstructed in order") {
    val spark2 = spark
    import spark2.implicits._
    // spanTokens=2 -> doc 1: [a b][c d][e f]; doc 2: [c d][x y];
    // doc 3: [c d][a b][z]  — span "c d" occurs 3x (keeper doc1@1),
    // "a b" occurs 2x (keeper doc1@0); trailing partial span "z" unique
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "c d x y"),
      (3L, "c d a b z")
    ).toDF("doc_id", "text")
    val got = Curation.removeDuplicateSpans(docs, spanTokens = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(got == Set(
      (1L, 3L, 0L, "a b c d e f"),
      (2L, 2L, 1L, "x y"),
      (3L, 3L, 2L, "z")), s"got $got")
    // a doc that is ALL duplicates reconstructs to the empty string
    val docs2 = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val got2 = Curation.removeDuplicateSpans(docs2, spanTokens = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    assert(got2 == Set((1L, 0L, "a b"), (2L, 1L, "")))
  }

  test("semanticDedup: planted duplicate embeddings collapse to one quality-ranked keeper") {
    val spark2 = spark
    import spark2.implicits._
    // three semantic groups + two singletons; within-group vectors are
    // identical or near-identical, cross-group nearly orthogonal
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val emb = Seq(
      ("a1", v(1, 0, 0, 0)), ("a2", v(1, 0, 0, 0)), ("a3", v(0.9999, 0.0141, 0, 0)),
      ("b1", v(0, 1, 0, 0)), ("b2", v(0, 1, 0, 0)),
      ("c1", v(0, 0, 1, 0)), ("c2", v(0, 0, 0.9999, 0.0141)),
      ("s1", v(0, 0, 0, 1)), ("s2", v(0.7, 0.7, 0.1, 0.1))
    ).toDF("id", "embedding")
    // quality: 'a3' outranks its group; elsewhere ties -> min id
    val quality = when(col("id") === "a3", 2.0).otherwise(1.0)
    val got = Curation.semanticDedup(emb, threshold = 0.999, quality = quality)
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(3))).toSet
    val expected = Set(
      ("a1", "a1", false), ("a2", "a1", false), ("a3", "a1", true),
      ("b1", "b1", true), ("b2", "b1", false),
      ("c1", "c1", true), ("c2", "c1", false),
      ("s1", "s1", true), ("s2", "s2", true))
    assert(got == expected, s"got $got")
    // exactly one keeper per group, singletons kept
    val keepers = got.groupBy(_._2).map { case (g, ms) => g -> ms.count(_._3) }
    assert(keepers.values.forall(_ == 1))
  }

  test("chunkDupStats: hand-computed window duplication fractions") {
    val spark2 = spark
    import spark2.implicits._
    val boiler = (1 to 20).map(i => s"b$i").mkString(" ")
    def uniq(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler ${uniq("x", 20)}"),  // chunk1 = boiler (dup), chunk2 unique
      (2L, s"$boiler ${uniq("y", 30)}"),  // 3 chunks: boiler + 20 + partial 10
      (3L, uniq("w", 25))                 // 2 chunks, all unique
    ).toDF("doc_id", "text")
    val r = Curation.chunkDupStats(docs, chunkTokens = 20).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    assert(r(1L) == ((2L, 0.5)))
    assert(r(2L) == ((3L, math.round(1.0 / 3 * 1e6) / 1e6)))
    assert(r(3L) == ((2L, 0.0)))
  }

  test("CurationJob.textFilters: short legitimate docs survive the deflate ceiling; spam still dies") {
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq(
      // short legit doc: deflate ratio > 1 from zlib fixed overhead,
      // must NOT be dropped (the ceiling is length-gated)
      (1L, "The quick brown fox jumps over the lazy dog today.", 0.9, 0.1),
      // long repetitive spam: ratio near 0 -> floor kills it
      (2L, "buy now " * 200, 0.9, 0.1),
      // quality floor still applies
      (3L, "an ordinary document with plain words in it", 0.1, 0.1)
    ).toDF("id", "text", "quality", "top_bigram_frac")
    val kept = rows.where(CurationJob.textFilters)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L), s"expected only the short legit doc, got $kept")
  }

  test("CurationJob refuses a workDir built from a different corpus") {
    val work = java.nio.file.Files.createTempDirectory("graft-guard").toString
    val docsPath = s"$sfDir/documents.parquet"
    // pin the marker cheaply (full funnel correctness is covered below)
    val marker = new java.io.File(work, "_corpus_path")
    java.nio.file.Files.write(marker.toPath,
      "/some/other/corpus.parquet".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      CurationJob.run(spark, docsPath, work, None, 8192)
    }
    assert(e.getMessage.contains("refusing to mix"))
  }

  test("CurationJob: end-to-end funnel is monotone, split-complete and deterministic") {
    import graft.pipeline.DedupConfig
    val work = java.nio.file.Files.createTempDirectory("graft-curation").toString
    val docsPath = s"$sfDir/documents.parquet"
    val benchDir = s"$work/bench.parquet"
    spark.read.parquet(docsPath).where(col("doc_id") % 23 === 0)
      .select("text").write.parquet(benchDir)
    CurationJob.run(spark, docsPath, work, Some(benchDir), 8192)
    val curated = spark.read.parquet(
      s"$work/curated/tag=${DedupConfig().configTag}").localCheckpoint(true)
    val n0 = spark.read.parquet(docsPath).count()
    val nCurated = curated.count()
    assert(nCurated > 0 && nCurated < n0, "funnel must drop something and keep something")
    // ids unique, every row split, both sides present at this numerator
    assert(curated.select("id").distinct().count() == nCurated)
    val sides = curated.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sides.keySet == Set("train", "heldout") && sides.values.sum == nCurated)
    // near-dup keep: at most one survivor per cluster
    val maxPerCluster = curated.groupBy("cluster_id").count()
      .agg(max("count")).head.getLong(0)
    assert(maxPerCluster == 1L)
    // quality floor holds on every survivor
    assert(curated.where(col("quality") < CurationJob.minQuality).count() == 0)
    // decontamination really dropped the planted bench overlap: no
    // survivor is a bench doc (bench texts are exact member docs)
    val benchIds = spark.read.parquet(docsPath)
      .where(col("doc_id") % 23 === 0).select(col("doc_id").as("id"))
    assert(curated.join(benchIds, Seq("id"), "left_semi").count() == 0)
    // rerun is deterministic (and resumes the signature checkpoints)
    CurationJob.run(spark, docsPath, work, Some(benchDir), 8192)
    val again = spark.read.parquet(s"$work/curated/tag=${DedupConfig().configTag}")
    assert(again.orderBy("id").collect().toSeq ==
      curated.orderBy("id").collect().toSeq)
  }

  test("CurationJob: funnel counts are observed inside the jobs that already run") {
    import graft.pipeline.DedupConfig
    val work = java.nio.file.Files.createTempDirectory("graft-curation-jobs").toString
    val docsPath = s"$sfDir/documents.parquet"
    val (metrics, jobs) = jobNamesDuring(CurationJob.run(spark, docsPath, work, None, 8192))
    def field(k: String) = s""""$k":(\\d+)""".r.findFirstMatchIn(metrics).get.group(1).toLong
    val curated = spark.read.parquet(s"$work/curated/tag=${DedupConfig().configTag}")
    assert(field("docs") == spark.read.parquet(docsPath).count())
    assert(field("after_decontam") == field("after_quality"))
    assert(field("after_quality") == curated.count())
    assert(field("train") == curated.where(col("split") === "train").count())
    assert(field("heldout") == curated.where(col("split") === "heldout").count())
    // a checkpoint followed by a count per stage and two read-back
    // counts of the curated table ran 47 jobs here
    assert(jobs.size <= 32, s"${jobs.size} jobs: ${jobs.mkString(" | ")}")
  }

  test("CurationJob with spanTokens: curated table carries span-rewritten text") {
    import graft.pipeline.DedupConfig
    val work = java.nio.file.Files.createTempDirectory("graft-curation-span").toString
    val docsPath = s"$sfDir/documents.parquet"
    val metrics = CurationJob.run(spark, docsPath, work, None, 8192, spanTokens = 20)
    assert(metrics.contains("\"span_removed\":"), metrics)
    // the span variant writes under its own tag suffix: its schema
    // differs from the plain curated table, so the paths must not mix
    val curated = spark.read.parquet(
      s"$work/curated/tag=${DedupConfig().configTag}-span20")
    assert(curated.columns.contains("text") && curated.columns.contains("n_removed"))
    // the reported removal count is the curated table's
    assert(metrics.contains(s""""span_removed":${curated.agg(sum("n_removed")).head.get(0)},"""),
      metrics)
    // rewritten text is consistent with the removal count: docs with
    // n_removed = 0 keep their original text verbatim
    val orig = spark.read.parquet(docsPath)
      .select(col("doc_id").as("id"), col("text").as("orig"))
    val unchanged = curated.where(col("n_removed") === 0).join(orig, "id")
    assert(unchanged.where(col("text") =!= col("orig")).count() == 0)
    // a doc with removals is never LONGER, and strictly shorter when
    // its original was non-empty (two empty-text docs legitimately
    // dedup to equal-length empty strings)
    val removedRows = curated.where(col("n_removed") > 0).join(orig, "id")
    assert(removedRows.where(length(col("text")) > length(col("orig"))).count() == 0)
    assert(removedRows.where(length(col("orig")) > 0 &&
      length(col("text")) >= length(col("orig"))).count() == 0)
  }

  test("ingest seen check: a batch flushes only the ids the stores lack") {
    val spark2 = spark
    import spark2.implicits._
    val cfg = DedupConfig()
    val workDir = java.nio.file.Files.createTempDirectory("graft-seen").toString
    def text(i: Int, tail: String) =
      s"page $i alpha beta gamma delta epsilon zeta eta theta $tail ${i * 7} end"
    val first = (0 until 12).map(i => (s"u$i", text(i, "stored")))
    IncrementalIngest.processBatch(first.toDF("id", "text"), 0L, cfg, workDir)
    def storedRows(id: String) = IncrementalIngest.signatures(spark, workDir, cfg)
      .where(col("id") === id).collect().map(_.toSeq).toSeq
    val changedBefore = storedRows("u5")
    assert(changedBefore.size == 1)

    val fresh = (0 until 6).map(i => (s"n$i", text(100 + i, "fresh")))
    val second =
      first.take(5) ++                      // stored ids, same text
      Seq(("u5", text(5, "edited"))) ++     // stored id, changed text
      fresh ++                              // new ids
      Seq(fresh.head)                       // intra-batch duplicate
    IncrementalIngest.processBatch(second.toDF("id", "text"), 1L, cfg, workDir)

    // a stored id keeps the signature of the text it was first stored
    // with; every id lands exactly once
    val expectedDocs = (first ++ fresh).toDF("id", "text")
    val want = Dedup.signatures(Dedup.shingleSets(expectedDocs, cfg), cfg)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "shingles", "sig", "simhash", "n_shingles").collect()
        .map(_.toSeq).toSeq.sortBy(_.head.toString)
    assert(rows(IncrementalIngest.signatures(spark, workDir, cfg)) == rows(want))
    assert(storedRows("u5") == changedBefore, "a changed text replaced the stored row")
  }
}
