package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.pipeline.{Dedup, DedupConfig}
import graft.streaming.IncrementalIngest

/** Degenerate-input hardening + streaming-window semantics. */
class EdgeCaseSpec extends SparkSpecBase {
  private val cfg = DedupConfig()

  test("empty corpus: pipeline yields empty pairs and clusters, no errors") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq.empty[(Long, String)].toDF("id", "text")
    assert(Dedup.pairs(docs, cfg).count() == 0)
    assert(Dedup.clusters(Dedup.pairs(docs, cfg)).count() == 0)
    assert(Dedup.exactJaccardPairs(docs, cfg).count() == 0)
    assert(Dedup.exactJaccardPairsPrefix(docs, cfg).count() == 0)
  }

  test("single doc and too-short docs: no self-pairs, short docs dropped") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "one two three four five"), (2L, "ab"), (3L, "x y"))
      .toDF("id", "text")
    assert(Dedup.pairs(docs, cfg).count() == 0)
    // only the >=k-token doc shingles
    assert(Dedup.shingleSets(docs, cfg).count() == 1)
  }

  test("null / whitespace-only text: pipeline drops the rows, no errors (failed-extraction rows at scale)") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq[(java.lang.Long, String)](
      (1L, null), (2L, "   "), (3L, ""),
      (4L, "real text with enough tokens to shingle properly here"),
      (5L, "real text with enough tokens to shingle properly here"))
      .toDF("id", "text")
    val pairs = Dedup.pairs(docs, cfg)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((4L, 5L)))
    // exact dedup: null text hashes to null, grouped but harmless
    assert(Dedup.exactDuplicates(docs).count() >= 2)
    // text analysis stays total on nulls
    val q = docs.select(graft.functions.TextFunctions.qualityScore(col("text")))
    assert(q.count() == 5)
  }

  test("all-identical corpus: one hot band bucket, complete clique, one cluster") {
    val spark2 = spark
    import spark2.implicits._
    val n = 120
    val docs = (1 to n).map(i =>
      (i.toLong, "the same exact text repeated in every single document here"))
      .toDF("id", "text")
    val pairs = Dedup.pairs(docs, cfg)
    assert(pairs.count() == n.toLong * (n - 1) / 2) // complete clique
    assert(pairs.agg(min("jaccard")).head.getDouble(0) == 1.0)
    val clusters = Dedup.clusters(pairs)
    assert(clusters.select("cluster_id").distinct().count() == 1)
    assert(clusters.count() == n)
    // skew-aware path agrees under a tiny hot cap (the whole corpus is
    // one hot bucket per band)
    val shingled = Dedup.shingleSets(docs, cfg)
    val bands = Dedup.bandTable(Dedup.signatures(shingled, cfg), cfg)
    val skew = Dedup.verifiedPairs(
      Dedup.candidatePairsSkewAware(bands, hotCap = 10, saltBuckets = 4),
      shingled, cfg)
    assert(skew.count() == pairs.count())
  }

  test("incremental new-vs-all matching finds exactly the pairs touching the new batch") {
    val spark2 = spark
    import spark2.implicits._
    val docs = graft.pipeline.Dedup.fromDocuments(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    val allSigs = Dedup.signatures(Dedup.shingleSets(docs, cfg), cfg)
      .localCheckpoint(true)
    val fullPairs = Dedup.verifiedPairs(
      Dedup.candidatePairs(Dedup.bandTable(allSigs, cfg)),
      allSigs.select(col("id"), col("shingles")), cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // "new batch" = docs with even ids, matched against every signature
    val newSigs = allSigs.where(col("id") % 2 === 0)
    val inc = Dedup.incrementalPairsBanded(newSigs, allSigs, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = fullPairs.filter { case (a, b) => a % 2 == 0 || b % 2 == 0 }
    assert(inc == want)
  }

  test("streaming tumbling-window agg equals the batch windowedCounts") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      ("2024-01-01 00:10:00", "click", 1.0),
      ("2024-01-01 00:40:00", "click", 2.0),
      ("2024-01-01 01:05:00", "click", 4.0),
      ("2024-01-01 00:20:00", "buy", 8.0),
      ("2024-01-01 02:59:00", "buy", 16.0))
    def asEvents(df: org.apache.spark.sql.DataFrame) =
      df.select(to_timestamp(col("_1")).as("ts"), col("_2").as("event_type"),
        col("_3").as("value"))
    val mem = MemoryStream[(String, String, Double)]
    mem.addData(rows)
    val q = IncrementalIngest.windowedCounts(asEvents(mem.toDF()), "ts", "1 hour")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete") // all windows regardless of watermark
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("win_out")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = IncrementalIngest.windowedCounts(
      asEvents(rows.toDF()), "ts", "1 hour")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed == batch)
  }

  test("TemplateSearch positions: exact hit, fuzzy hit without substring, sub-k template") {
    val spark2 = spark
    import spark2.implicits._
    val templates = Seq(
      (1L, "b c d e"), // 2 shingles at k=3: "b c d", "c d e"
      (2L, "xx")       // shorter than k -> no shingles -> coverage 0
    ).toDF("template_id", "text")
    val docs = Seq(
      (10L, "a b c d e f"), // exact substring hit
      (11L, "z b c d w q")  // shares "b c d" only: fuzzy, NOT contained
    ).toDF("id", "text")
    val got = graft.queries.TemplateSearch.search(templates, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3), r.getLong(4), r.getLong(5))).toSet
    // doc 10: full coverage, contained at char offset 3 ("a " prefix),
    // first shared shingle starts at token 2 ("b c d")
    // doc 11: coverage 1/2, no exact substring -> match_pos 0 (strpos
    // semantics), fuzzy match STARTS at token 2
    assert(got == Set(
      (1L, 10L, 1.0, true, 3L, 2L),
      (1L, 11L, 0.5, false, 0L, 2L)), s"got $got")
    // the sub-k template matches nothing (empty shingle set -> coverage 0)
    assert(!got.exists(_._1 == 2L))
  }

  test("TemplateSearch: template shingle HOF evaluates on the broadcast template side only") {
    val spark2 = spark
    import spark2.implicits._
    val templates = Seq((1L, "b c d e")).toDF("template_id", "text")
    val docs = Seq((10L, "a b c d e f"), (11L, "z b c d w q")).toDF("id", "text")
    val result = graft.queries.TemplateSearch.search(templates, docs)
    val plan = result.queryExecution.optimizedPlan
    val planStr = plan.toString
    val join = plan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.get
    val tSide = Seq(join.left, join.right)
      .find(_.output.exists(_.name == "template_id")).get
    // the shingle array is an OUTPUT of the broadcast template side
    // (on tiny local fixtures Catalyst may even fold it to a literal
    // LocalRelation — evaluated |templates| times or fewer, never per
    // hit) ...
    assert(tSide.output.exists(_.name == "t_shingles"), s"plan:\n$planStr")
    // ... and no operator ABOVE the join rebuilds it: every transform()
    // in the plan (if any survive folding) lives in the template subtree
    val total = "transform\\(".r.findAllIn(planStr).size
    val below = "transform\\(".r.findAllIn(tSide.toString).size
    assert(total == below,
      s"template shingle transform evaluated above the join:\n$planStr")
  }
}
