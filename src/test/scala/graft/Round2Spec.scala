package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.corpus.SynthCorpus
import graft.functions.{PageMetadata, TextFunctions}
import graft.pipeline.{Dedup, DedupConfig, ExactSubstring, ResumableDedupJob}
import graft.queries.{Segmentation, Serving}

/** Round-2 regression tests: judge/advisor items from VERDICT.md and
  * ADVICE.md — skew-aware production path, validSignatures wiring,
  * scale-safe pagination, merge-store compaction, scene segmentation,
  * typed HTML metadata, path scalars, suffix-array reuse.
  */
class Round2Spec extends SparkSpecBase {
  private val cfg = DedupConfig()

  test("configTag covers every banding-relevant field incl. rowsPerBand") {
    val base = cfg.configTag
    assert(cfg.copy(rowsPerBand = 2).configTag != base)
    assert(cfg.copy(bands = 32).configTag != base)
    assert(cfg.copy(shingleK = 4).configTag != base)
    assert(cfg.copy(threshold = 0.6).configTag != base)
    assert(cfg.copy(numHashes = 64, bands = 20).configTag != base)
  }

  test("validSignatures drops degenerate (empty-shingle) signatures before banding") {
    val spark2 = spark
    import spark2.implicits._
    // an empty shingle set leaves the MinHash kernel's init sentinel in
    // every slot -> first three components equal (ref
    // ray_extract_features.py:578-582 degenerate-signature semantics)
    val degen = Seq((99L, Seq.empty[Long])).toDF("id", "shingles")
    val degenSigs = Dedup.signatures(degen, cfg)
    val sig = degenSigs.select("sig").head.getSeq[Long](0)
    assert(sig(0) == sig(1) && sig(1) == sig(2))
    val real = Dedup.signatures(
      Dedup.shingleSets(Seq((1L, "a b c d e"), (2L, "a b c d e"))
        .toDF("id", "text"), cfg), cfg)
    val all = real.unionByName(degenSigs)
    val valid = Dedup.validSignatures(all)
    assert(valid.count() == 2 && valid.where(col("id") === 99L).count() == 0)
    // and the banding path never sees the degenerate row: the wired
    // pipeline (pairs) still finds exactly the real pair
    val bands = Dedup.bandTable(valid, cfg)
    assert(bands.where(col("id") === 99L).count() == 0)
    val p = Dedup.pairs(Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "q r"))
      .toDF("id", "text"), cfg)
    assert(p.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("production path: ResumableDedupJob.run on the skew fixture matches the plain pipeline") {
    val (skewed, _) = SynthCorpus.generate(spark, seed = 7L, nBase = 300,
      dupRate = 0.1, skewBoilerplate = true)
    val docs = Dedup.fromPages(skewed).localCheckpoint(true)
    val expected = Dedup.clusters(Dedup.pairs(docs, cfg))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val workDir = java.nio.file.Files.createTempDirectory("graft-skewrun").toString
    // tiny hotCap so the shared-boilerplate bands actually take the
    // salted branch (fixture bands reach width ~90)
    val got = ResumableDedupJob.run(docs, cfg, workDir, buckets = 4,
        hotCap = 8, saltBuckets = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == expected)
    // identical pair set out of the skew-aware pairs stage
    val sigs = spark.read.parquet(s"$workDir/signatures/tag=${cfg.configTag}-b4")
    val stage = ResumableDedupJob.pairsStage(sigs, cfg, hotCap = 8, saltBuckets = 4)
    val plainPairs = Dedup.pairs(docs, cfg)
      .select("id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(stage.select("id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet == plainPairs)
    // hot/cold split visible in the plan: the salted hot branch unions
    // with the plain cold branch
    val plan = stage.queryExecution.executedPlan.toString
    assert(plan.contains("Union"), s"expected hot/cold union in plan:\n${plan.take(800)}")
    // keep stage: durable curated-corpus decision — every doc present,
    // exactly one keeper per cluster, singletons keep themselves
    val clustersDf = spark.read
      .parquet(s"$workDir/clusters/tag=${cfg.configTag}")
    val keep = ResumableDedupJob.keepStage(docs, clustersDf, cfg, workDir)
    assert(keep.count() == docs.count())
    val perCluster = keep.groupBy("cluster_id")
      .agg(sum(when(col("kept"), 1).otherwise(0)).as("keepers"))
    assert(perCluster.where(col("keepers") =!= 1).count() == 0,
      "every cluster must have exactly one keeper")
    val clustered = clustersDf.select("id").distinct().count()
    val kept = keep.where(col("kept")).count()
    val singletons = docs.count() - clustered
    assert(kept == singletons +
      clustersDf.select("cluster_id").distinct().count())
  }

  test("listByMatchCount: top-k plan (no single-partition window), offset slices") {
    val spark2 = spark
    import spark2.implicits._
    val docs = (1L to 100L).map(i => (i, s"t$i")).toDF("id", "text")
    val edges = Seq((1L, 2L, 0.9), (1L, 3L, 0.9), (1L, 4L, 0.9), (2L, 3L, 0.8))
      .toDF("id_a", "id_b", "similarity")
    val page1 = Serving.listByMatchCount(docs, edges, limit = 3, offset = 0)
    val plan = page1.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window in pagination plan:\n${plan.take(800)}")
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan:\n${plan.take(800)}")
    val got1 = page1.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // hit counts: 1 -> 3, 2 -> 2, 3 -> 2, 4 -> 1, rest 0; order by
    // (hit_count desc, doc_id asc)
    assert(got1 == Seq((1L, 3L), (2L, 2L), (3L, 2L)))
    val page2 = Serving.listByMatchCount(docs, edges, limit = 3, offset = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(page2 == Seq((4L, 1L), (5L, 0L), (6L, 0L)))
  }

  test("nHopSlice: deterministic sorted offset/limit of the expansion") {
    val spark2 = spark
    import spark2.implicits._
    // chain 1-2-3-4-5
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0), (4L, 5L, 1.0))
      .toDF("id_a", "id_b", "similarity")
    val full = Serving.nHopCluster(edges, 1L, hops = 4)
      .collect().map(_.getLong(0)).toSet
    assert(full == Set(1L, 2L, 3L, 4L, 5L))
    val slice = Serving.nHopSlice(edges, 1L, hops = 4, offset = 1, limit = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(slice == Seq(2L, 3L))
  }

  test("scene segmentation: per-item percentile threshold cuts, segment stats (hand oracle)") {
    val spark2 = spark
    import spark2.implicits._
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    val events = Seq(
      // user 1: values step 0.1 then jump 9.8 -> p90 of deltas
      // [.1,.1,9.8,.1] = 6.89 -> exactly one cut before e4
      (1L, 1L, ts(0), 0.0), (1L, 2L, ts(1), 0.1), (1L, 3L, ts(2), 0.2),
      (1L, 4L, ts(3), 10.0), (1L, 5L, ts(4), 10.1),
      // user 2: constant -> all deltas 0, threshold 0, no strict cut
      (2L, 6L, ts(0), 5.0), (2L, 7L, ts(1), 5.0), (2L, 8L, ts(2), 5.0)
    ).toDF("user_id", "event_id", "ts", "value")
    val stats = Segmentation.segmentStats(events)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(stats == Set(
      (1L, 0L, 3L, 0.1), (1L, 1L, 2L, 10.05), (2L, 0L, 3L, 5.0)))
    val segs = Segmentation.assignSegments(events)
      .select("event_id", "seg_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(segs == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L,
      6L -> 0L, 7L -> 0L, 8L -> 0L))
  }

  test("listFiles: metadata sort (-desc prefix) + offset/limit pagination") {
    val spark2 = spark
    import spark2.implicits._
    def ts(d: Int) = new Timestamp(1700000000000L + d * 86400000L)
    val pages = Seq(
      ("u/a", ts(3), "x y z", "en"),
      ("u/b", ts(1), "x y", "en"),
      ("u/c", ts(3), "x", "de"),
      ("u/d", ts(2), "x y z w", "en")
    ).toDF("url", "warc_ts", "text", "lang")
    // newest first, url tiebreak: a (d3), c (d3), d (d2), b (d1)
    val got = Serving.listFiles(pages, sortBy = Seq("-warc_ts"),
      limit = Some(3)).select("url").collect().map(_.getString(0)).toSeq
    assert(got == Seq("u/a", "u/c", "u/d"))
    val page2 = Serving.listFiles(pages, sortBy = Seq("-warc_ts"),
      offset = 3, limit = Some(3)).select("url").collect().map(_.getString(0)).toSeq
    assert(page2 == Seq("u/b"))
    // offset WITHOUT a limit must still skip (regression: it was
    // silently ignored when limit was None)
    val offsetOnly = Serving.listFiles(pages, sortBy = Seq("-warc_ts"),
      offset = 2).select("url").collect().map(_.getString(0)).toSeq
    assert(offsetOnly == Seq("u/d", "u/b"))
    // filter + ascending lang sort composes
    val en = Serving.listFiles(pages, langIn = Seq("en"),
      sortBy = Seq("lang", "warc_ts"), limit = Some(10))
      .select("url").collect().map(_.getString(0)).toSeq
    assert(en == Seq("u/b", "u/d", "u/a"))
  }

  test("listFiles: extension-suffix OR filter + metadata-presence semi/anti (files.py:162-180)") {
    val spark2 = spark
    import spark2.implicits._
    def ts(d: Int) = new Timestamp(1700000000000L + d * 86400000L)
    val pages = Seq(
      ("u/a.html", ts(1), "x", "en"),
      ("u/b.TXT", ts(1), "x", "en"),
      ("u/c.png", ts(1), "x", "en"),
      ("u/d", ts(1), "x", "en"),
      ("u/e.snapshot.html", ts(1), "x", "en") // suffix, not whole name
    ).toDF("url", "warc_ts", "text", "lang")
    def urls(df: org.apache.spark.sql.DataFrame) =
      df.select("url").collect().map(_.getString(0)).toSet
    // case-insensitive OR across extensions, true suffix semantics
    assert(urls(Serving.listFiles(pages,
      extensions = Seq("HTML", "txt"))) ==
      Set("u/a.html", "u/b.TXT", "u/e.snapshot.html"))
    // metadata presence: exif.has() / ~has() analog via semi/anti join
    val meta = Seq("u/a.html", "u/c.png").toDF("url")
    assert(urls(Serving.listFiles(pages, metaTable = Some(meta),
      hasMeta = Some(true))) == Set("u/a.html", "u/c.png"))
    assert(urls(Serving.listFiles(pages, metaTable = Some(meta),
      hasMeta = Some(false))) == Set("u/b.TXT", "u/d", "u/e.snapshot.html"))
    // composes with the extension filter
    assert(urls(Serving.listFiles(pages, extensions = Seq("html"),
      metaTable = Some(meta), hasMeta = Some(false))) ==
      Set("u/e.snapshot.html"))
    // the audio-presence filter (files.py:182-190, exif.has(pred)) is
    // the same semi join with the metadata table pre-filtered on the
    // media predicate
    val metaTyped = Seq(("u/a.html", 2L), ("u/c.png", 0L))
      .toDF("url", "n_media_tags")
    assert(urls(Serving.listFiles(pages,
      metaTable = Some(metaTyped.where(col("n_media_tags") > 0)),
      hasMeta = Some(true))) == Set("u/a.html"))
    // asking for the presence filter without a table fails loudly
    intercept[RuntimeException] {
      Serving.listFiles(pages, hasMeta = Some(true))
    }
  }

  test("path scalars: relativize (repr_utils semantics)") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      ("https://ex.org/a/b/page.html", "https://ex.org"),
      ("https://ex.org/a/b/", "https://ex.org/a"),
      ("plain", "https://other.org"),
      ("https://other.org/x", "https://ex.org"),
      // sibling sharing a raw prefix is OUTSIDE the base (segment
      // boundary), and an exact match relativizes to ""
      ("/data/foobar/x", "/data/foo"),
      ("/data/foo", "/data/foo")
    ).toDF("path", "base")
    val got = df.select(
      TextFunctions.relativize(col("path"), col("base")).as("rel"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("a/b/page.html", "b/", "plain", "https://other.org/x",
      "/data/foobar/x", ""))
  }

  test("typed HTML metadata extraction: golden page + synthetic corpus invariants") {
    val spark2 = spark
    import spark2.implicits._
    val golden =
      """<!DOCTYPE html><html lang="en"><head><meta charset="utf-8">
        |<title>Hello World</title>
        |<meta name="description" content="A test page">
        |<meta name="keywords" content="a,b">
        |<meta name="description" content="duplicate loses">
        |<meta name="generator" content="handcraft 1.0">
        |<meta property="article:published_time" content="2023-04-05T06:07:08Z">
        |<meta property="article:modified_time" content="2023-04-06T01:02:03Z">
        |<meta property="og:image:width" content="640">
        |<meta property="og:image:height" content="not-a-number">
        |<link rel="canonical" href="https://ex.org/x">
        |<style>s{}</style><script>var i=1;</script></head>
        |<body><h1>H</h1><h2>I</h2><p>one</p><p>two</p>
        |<video src="v.mp4"></video><audio src="a.ogg"></audio>
        |<a href="/x">l</a><a href="/y">m</a><img src="i.png"></body></html>""".stripMargin
    val garbageDate = golden.replace("2023-04-05T06:07:08Z", "not a real date")
    val noDate = golden.replaceAll("""(?s)<meta property="article:published_time"[^>]*>\n""", "")
    val df = Seq(("https://ex.org/page.html?v=1", golden.getBytes("UTF-8"))).toDF("url", "html")
    val m = PageMetadata.extract(df).head
    // DateTime-typed column (exif DateTime analog): ISO instant parsed,
    // garbage -> null, absent -> null — never an error
    assert(m.getAs[java.sql.Timestamp]("published_ts") ==
      java.sql.Timestamp.from(java.time.Instant.parse("2023-04-05T06:07:08Z")))
    val mGarbage = PageMetadata.extract(
      Seq(("u", garbageDate.getBytes("UTF-8"))).toDF("url", "html")).head
    assert(mGarbage.getAs[java.sql.Timestamp]("published_ts") == null,
      "garbage date must parse to null, not throw")
    val mAbsent = PageMetadata.extract(
      Seq(("u", noDate.getBytes("UTF-8"))).toDF("url", "html")).head
    assert(mAbsent.getAs[java.sql.Timestamp]("published_ts") == null)
    // the two other dominant real-world shapes parse too: fractional
    // millis (common OpenGraph form) and a bare date (taken as UTC
    // midnight — the usual shape of the `date` meta fallback)
    val millis = golden.replace("2023-04-05T06:07:08Z", "2023-04-05T06:07:08.250Z")
    assert(PageMetadata.extract(
      Seq(("u", millis.getBytes("UTF-8"))).toDF("url", "html")).head
      .getAs[java.sql.Timestamp]("published_ts") ==
      java.sql.Timestamp.from(java.time.Instant.parse("2023-04-05T06:07:08.250Z")))
    val dateOnly = golden.replace("2023-04-05T06:07:08Z", "2023-04-05")
    assert(PageMetadata.extract(
      Seq(("u", dateOnly.getBytes("UTF-8"))).toDF("url", "html")).head
      .getAs[java.sql.Timestamp]("published_ts") ==
      java.sql.Timestamp.from(java.time.Instant.parse("2023-04-05T00:00:00Z")))
    assert(m.getAs[String]("title") == "Hello World")
    assert(m.getAs[String]("charset") == "utf-8")
    assert(m.getAs[String]("lang_attr") == "en")
    assert(m.getAs[String]("meta_description") == "A test page")
    assert(m.getAs[String]("meta_keywords") == "a,b")
    assert(m.getAs[String]("canonical_url") == "https://ex.org/x")
    assert(m.getAs[Long]("n_links") == 2L)
    assert(m.getAs[Long]("n_images") == 1L)
    assert(m.getAs[Long]("n_paragraphs") == 2L)
    assert(m.getAs[Long]("n_headings") == 2L)
    assert(m.getAs[Boolean]("has_script") && m.getAs[Boolean]("has_style"))
    // round-4 parity columns (full 26-typed exif analog set)
    assert(m.getAs[Long]("file_size") == golden.getBytes("UTF-8").length.toLong)
    assert(m.getAs[String]("url_ext") == "html") // query string stripped
    assert(m.getAs[String]("doctype") == "html")
    assert(m.getAs[String]("generator") == "handcraft 1.0")
    assert(m.getAs[java.sql.Timestamp]("modified_ts") ==
      java.sql.Timestamp.from(java.time.Instant.parse("2023-04-06T01:02:03Z")))
    // extracted text keeps the title: "Hello World H I one two l m"
    // -> 8 words, 0 sentence enders
    assert(m.getAs[Long]("n_words") == 8L)
    assert(m.getAs[Long]("n_sentences") == 0L)
    assert(m.getAs[Double]("markup_ratio") > 1.0)
    assert(m.getAs[Long]("og_image_w") == 640L)
    assert(m.isNullAt(m.fieldIndex("og_image_h")), "garbage dim -> null")
    assert(m.getAs[Long]("n_media_tags") == 2L)
    // the blob map: every meta pair queryable, first occurrence wins on
    // duplicate keys, property/name keys both captured (lowercased)
    val blob = m.getAs[Map[String, String]]("meta_all")
    assert(blob("description") == "A test page") // not "duplicate loses"
    assert(blob("keywords") == "a,b")
    assert(blob("generator") == "handcraft 1.0")
    assert(blob("article:published_time") == "2023-04-05T06:07:08Z")
    assert(blob("og:image:width") == "640")
    assert(blob("og:image:height") == "not-a-number")
    // synthetic corpus: html wraps text in <p> blocks with script+style,
    // empty title -> null; text_len equals the extracted body text
    val (pages, _) = SynthCorpus.generate(spark, seed = 5L, nBase = 30)
    val meta = PageMetadata.extract(pages)
    assert(meta.where(col("title").isNotNull).count() == 0)
    assert(meta.where(!col("has_script") || !col("has_style")).count() == 0)
    val lens = meta.join(pages.select(col("url"), length(col("text")).as("want")), "url")
    assert(lens.where(col("text_len") =!= col("want")).count() == 0)
    // the corpus plants present (~60%), garbage (~10%) and absent dates:
    // some rows must parse and some must not — both classes exercised
    val withTs = meta.where(col("published_ts").isNotNull).count()
    assert(withTs > 0 && withTs < meta.count(),
      s"corpus date mix degenerate: $withTs of ${meta.count()} parsed")
  }

  test("winnow kernel bit-equals the built-in HOF formulation (incl. unicode)") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog and runs far away",
      "short",
      "",
      "exact window edge", // length near w
      "uñicode 中文 mixed bytes ok here too yes", // multi-byte chars
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaa" // repeated grams -> distinct matters
    ).toDF("text")
    Seq((8, 4), (4, 2), (12, 8)).foreach { case (w, p) =>
      val got = docs.select(
        TextFunctions.winnowFingerprints(col("text"), w, p).as("a"),
        TextFunctions.winnowFingerprintsHof(col("text"), w, p).as("b"))
        .collect()
      got.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"kernel/HOF mismatch at w=$w p=$p"))
    }
  }

  test("suffix-array containment: one SA per hay doc, semantics unchanged") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "brown fox"), (3L, "purple cow"), (4L, "dog"),
      (5L, "abc"), (6L, "abd")
    ).toDF("id", "text")
    // hay doc 1 appears in three pairs: SA built once per group
    val cands = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (5L, 6L))
      .toDF("id_a", "id_b")
    val got = ExactSubstring.containmentPairs(cands, docs)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getBoolean(2))).toMap
    assert(got == Map(
      ("1", "2") -> true, ("1", "3") -> false, ("1", "4") -> true,
      ("2", "3") -> false, ("5", "6") -> false))
  }

  test("suffix-array containment: adversarial hot hay (1 hay x 10k needles) streams, no collect_list") {
    val spark2 = spark
    import spark2.implicits._
    // one boilerplate hay matched by 10k candidate needles — the exact
    // skew shape the round-3 collect_list would have materialized as a
    // single giant row
    val hay = (0 until 2000).map(i => s"tok$i").mkString(" ")
    val needles = (1 to 10000).map { i =>
      val s = (i % 1800) + 1
      if (i % 3 == 0) (i.toLong, s"tok$s tok${s + 1} tok${s + 2}") // contained
      else (i.toLong, s"tok$s zzz$i tok${s + 2}") // not contained
    }
    val docs = (Seq((0L, hay)) ++ needles).toDF("id", "text")
    val cands = (1 to 10000).map(i => (0L, i.toLong)).toDF("id_a", "id_b")
    val result = ExactSubstring.containmentPairs(cands, docs)
    // plan-shape gate: the hot branch is co-grouped/streamed; the only
    // collect_list left is the anti-joined cold branch, whose groups
    // are bounded by hotCap — and here the one hay is hot, so the
    // result keeps the two-branch plan and the cold branch is empty
    val plan = result.queryExecution.executedPlan.toString
    assert(plan.contains("CoGroup"), s"expected CoGroup in plan:\n$plan")
    val got = result.collect()
      .map(r => (r.getString(1).toLong, r.getBoolean(2))).toMap
    assert(got.size == 10000)
    needles.foreach { case (id, text) =>
      assert(got(id) == hay.contains(text), s"needle $id")
    }
    // hot/cold path equality: an all-cold run (cap above the group
    // size) produces the identical result set
    val allCold = ExactSubstring.containmentPairs(cands, docs, hotCap = 20000)
      .collect().map(r => (r.getString(1).toLong, r.getBoolean(2))).toMap
    assert(allCold == got)
  }

  test("prefix-filtered exact Jaccard: identical pair set, fewer candidates on boilerplate skew") {
    // boilerplate-heavy fixture: the hot shared shingles are exactly what
    // the plain inverted-index join degenerates on
    val (skewed, _) = SynthCorpus.generate(spark, seed = 11L, nBase = 300,
      dupRate = 0.15, skewBoilerplate = true)
    val docs = Dedup.fromPages(skewed).localCheckpoint(true)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val full = pairSet(Dedup.exactJaccardPairs(docs, cfg))
    assert(pairSet(Dedup.exactJaccardPairsPrefix(docs, cfg)) == full)
    assert(full.nonEmpty)
    // and at the low containment threshold used by the substring pass
    val low = cfg.copy(threshold = 0.3)
    assert(pairSet(Dedup.exactJaccardPairsPrefix(docs, low)) ==
      pairSet(Dedup.exactJaccardPairs(docs, low)))
    // pruning evidence: candidate volume strictly below the complete
    // inverted-index candidate volume (shared-shingle pairs)
    val shingled = Dedup.shingleSets(docs, cfg)
    val sh = shingled.select(col("id"), explode(col("shingles")).as("h"))
    val fullCands = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id")).distinct().count()
    val prefCands = Dedup.prefixCandidates(shingled, cfg).count()
    assert(prefCands < fullCands,
      s"prefix filter should prune: $prefCands vs $fullCands")
    assert(prefCands <= fullCands / 2,
      s"expected substantial pruning on the boilerplate fixture: $prefCands vs $fullCands")
  }

  test("keepList: best-quality doc kept per cluster, singletons kept, ties by min id") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "short"),                                   // cluster {1,2,3}
      (2L, "the quick brown fox jumps over the lazy dog and keeps running"),
      (3L, "the quick brown fox jumps over the lazy dog and keeps"),
      (4L, "lonely singleton document with the usual words"), // singleton
      (5L, "x"), (6L, "x")                             // cluster {5,6}: equal quality -> min id kept
    ).toDF("id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("id", "cluster_id")
    val got = Dedup.keepList(docs, clusters,
        graft.functions.TextFunctions.qualityScore(col("text")))
      .select("id", "cluster_id", "kept")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(got(4L) == (4L, true), "singleton keeps itself")
    assert(got(5L) == (5L, true) && got(6L) == (5L, false), "tie -> min id")
    // exactly one keeper in cluster 1, and it's the longest/richest doc (2)
    assert(got(2L)._2 && !got(1L)._2 && !got(3L)._2)
  }

  test("keepList: null quality sorts LAST (a null-text doc never beats a scored sibling for keeper)") {
    val spark2 = spark
    import spark2.implicits._
    // doc 8's quality is NULL (the old window's desc put nulls last; the
    // argmax must preserve that — a naive min(struct) would sort the
    // null field FIRST and crown the garbage doc)
    val docs = Seq((7L, Some(0.4)), (8L, None), (9L, Some(0.2)))
      .toDF("id", "q")
    val clusters = Seq((7L, 7L), (8L, 7L), (9L, 7L)).toDF("id", "cluster_id")
    val got = Dedup.keepList(docs, clusters, col("q"))
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).toMap
    assert(got == Map(7L -> true, 8L -> false, 9L -> false))
    // all-null cluster: ties broken by min id, exactly one keeper
    val docs2 = Seq((7L, None: Option[Double]), (8L, None)).toDF("id", "q")
    val clusters2 = Seq((7L, 7L), (8L, 7L)).toDF("id", "cluster_id")
    val got2 = Dedup.keepList(docs2, clusters2, col("q"))
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).toMap
    assert(got2 == Map(7L -> true, 8L -> false))
  }

  test("keepList: NaN quality sorts LAST (intentional change vs the round-3 window, which crowned NaN)") {
    val spark2 = spark
    import spark2.implicits._
    // e.g. a cosine-derived score on a zero-norm vector: unscorable must
    // never beat scored — even though Spark's `desc` ranks NaN above
    // every number (the old window would have kept doc 8)
    val docs = Seq((7L, 0.4), (8L, Double.NaN), (9L, 0.2)).toDF("id", "q")
    val clusters = Seq((7L, 7L), (8L, 7L), (9L, 7L)).toDF("id", "cluster_id")
    val got = Dedup.keepList(docs, clusters, col("q"))
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).toMap
    assert(got == Map(7L -> true, 8L -> false, 9L -> false))
    // all-NaN cluster: still exactly one keeper, ties by min id
    val docs2 = Seq((7L, Double.NaN), (8L, Double.NaN)).toDF("id", "q")
    val clusters2 = Seq((7L, 7L), (8L, 7L)).toDF("id", "cluster_id")
    val got2 = Dedup.keepList(docs2, clusters2, col("q"))
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).toMap
    assert(got2 == Map(7L -> true, 8L -> false))
  }

  test("keepList mega-cluster: no WindowExec, map-side partial argmax, correct keeper on a 50k-member cluster") {
    val spark2 = spark
    import spark2.implicits._
    // one pathological cluster holding nearly the whole corpus — the
    // skew shape a cluster-partitioned window would serialize onto one
    // buffered task
    val n = 50000
    val docs = spark.range(n.toLong)
      .select(col("id"), (pmod(col("id") * 2654435761L, lit(1000L)))
        .cast("double").as("q"))
    val clusters = spark.range(n.toLong)
      .select(col("id"), when(col("id") < n - 5, lit(0L))
        .otherwise(col("id")).as("cluster_id"))
    val result = Dedup.keepList(docs, clusters, col("q"))
    val plan = result.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window in keepList plan:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("partial min") ||
      plan.toLowerCase.contains("hashaggregate"),
      s"expected partial aggregation in:\n$plan")
    val kept = result.where(col("kept")).collect()
      .map(r => (r.getLong(2), r.getLong(0))).toMap
    // exactly one keeper per cluster; mega-cluster keeper = max quality,
    // min id among ties — computed independently
    assert(kept.size == 6)
    val expected = (0L until (n - 5).toLong)
      .map(i => (i, (i * 2654435761L) % 1000L))
      .groupBy(_._2).maxBy(_._1)._2.map(_._1).min
    assert(kept(0L) == expected, s"mega-cluster keeper ${kept(0L)} != $expected")
    (n - 5 until n).foreach(i => assert(kept(i.toLong) == i.toLong))
  }

  test("prefix filter completeness (property): random corpora x thresholds match brute force") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(fuzzSeed(4242L))
    // tiny vocabulary forces heavy shingle overlap — worst case for a
    // buggy prefix bound (qualifying pairs whose shared shingles are all
    // near the hot end of the frequency order)
    val vocab = Array("a", "b", "c", "d", "e", "f", "g", "h")
    for (trial <- 0 until 6) {
      val tau = Seq(0.3, 0.5, 0.7)(trial % 3)
      val n = 12 + rnd.nextInt(12)
      val docsSeq = (1 to n).map { i =>
        val len = 3 + rnd.nextInt(10)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val docs = docsSeq.toDF("id", "text")
      val c = cfg.copy(threshold = tau)
      def ps(df: org.apache.spark.sql.DataFrame) =
        df.select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val expect = ps(Dedup.exactJaccardPairs(docs, c))
      val got = ps(Dedup.exactJaccardPairsPrefix(docs, c))
      assert(got == expect,
        s"trial=$trial tau=$tau n=$n: prefix=${got.size} brute=${expect.size} " +
          s"missing=${expect -- got} extra=${got -- expect}")
    }
  }
}
