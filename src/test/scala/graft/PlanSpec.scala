package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, DedupConfig}

/** Physical-plan quality gates: column pruning, predicate pushdown,
  * shuffle/join-strategy sanity. These are the "would this survive a
  * 100x scale-up" checks — a scan that reads columns it doesn't need or
  * a cartesian product in the LSH path is a bug even when results are
  * right.
  */
class PlanSpec extends SparkSpecBase {
  private val cfg = DedupConfig()

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def docs = Dedup.fromDocuments(
    spark.read.parquet(s"$sfDir/documents.parquet"))

  test("shingle/signature scan prunes to (doc_id, text) — never reads other columns") {
    val plan = planOf(Dedup.signatures(Dedup.shingleSets(docs, cfg), cfg))
    val readSchema = "ReadSchema: struct<(.*?)>".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"),
      s"expected doc_id+text in scan, got: $readSchema")
    assert(!readSchema.contains("lang") && !readSchema.contains("n_chars") &&
      !readSchema.contains("source"), s"scan reads unneeded columns: $readSchema")
  }

  test("pages scan for dedup never reads the html binary column") {
    val (pages, _) = graft.corpus.SynthCorpus.generate(spark, 1L, 50)
    val dir = java.nio.file.Files.createTempDirectory("graft-pages").toString
    pages.write.mode("overwrite").parquet(dir)
    val plan = planOf(
      Dedup.pairs(Dedup.fromPages(spark.read.parquet(dir)), cfg))
    "ReadSchema: struct<(.*?)>".r.findAllMatchIn(plan).foreach { m =>
      assert(!m.group(1).contains("html"),
        s"html:binary must be pruned from dedup scans: ${m.group(1)}")
    }
  }

  test("timestamp-window filter is pushed down to the parquet scan") {
    val plan = planOf(
      spark.read.parquet(s"$sfDir/events.parquet")
        .where(col("ts") >= lit("2024-01-10 00:00:00"))
        .select("event_id", "ts"))
    assert(plan.contains("PushedFilters:") &&
      plan.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(ts.*"),
      s"expected ts pushdown, plan:\n${plan.take(1500)}")
  }

  test("LSH candidate path contains no cartesian/nested-loop join") {
    val plan = planOf(Dedup.pairs(docs, cfg))
    assert(!plan.contains("CartesianProduct"), "cartesian in LSH path")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "BNLJ in LSH path")
  }

  test("whole-stage codegen covers the signature projection (custom exprs codegen)") {
    val plan = Dedup.signatures(Dedup.shingleSets(docs, cfg), cfg)
      .queryExecution.executedPlan.toString
    // custom expressions must sit inside a codegen region (lines carry
    // the '*(n)' codegen-stage marker in the string plan form)
    val sigLines = plan.linesIterator.filter(_.contains("minhashsig")).toSeq
    assert(sigLines.nonEmpty, s"custom expression missing from plan:\n$plan")
    assert(sigLines.forall(_.contains("*(")),
      s"minhash project fell out of whole-stage codegen: $sigLines")
    // the shingle kernel must be evaluated exactly once per row: a
    // filter on the hashed array would duplicate it in Filter+Project,
    // so any second occurrence in the plan is the regression this gate
    // exists to catch
    val hashCount = "shinglehashes".r.findAllIn(plan).size
    assert(hashCount == 1,
      s"shinglehashes appears $hashCount times in plan:\n$plan")
  }

  test("small dimension join broadcasts (flagged-set anti-join, J3 shape)") {
    val flagged = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("n_chars") < 250).select(col("doc_id").as("id_a"))
    val pairs = Dedup.pairs(docs, cfg)
    val plan = planOf(pairs.join(flagged, Seq("id_a"), "left_anti"))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast for small flagged set:\n${plan.take(1200)}")
  }

  test("incremental new-vs-all band join: AQE broadcasts the micro-batch side at runtime") {
    // at streaming cadence the new side is a micro-batch (KBs) while
    // the all side's bands are corpus-sized; the join carries NO broadcast
    // hint (a backfill-sized new set must be allowed to degrade to a
    // shuffled join), so the broadcast must come from AQE's runtime
    // re-planning. Threshold lowered so ONLY the micro-batch side
    // qualifies — exactly the at-scale size relationship.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64 * 1024).toString)
      val sigs = Dedup.signatures(Dedup.shingleSets(docs, cfg), cfg)
        .localCheckpoint(true)
      val newSigs = sigs.orderBy("id").limit(5).localCheckpoint(true)
      val df = Dedup.incrementalPairsBanded(newSigs, sigs, cfg)
      df.collect() // materialize so AQE's final plan is available
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"AQE did not finalize:\n${plan.take(800)}")
      assert(plan.contains("BroadcastHashJoin [band_key"),
        s"band join not converted to broadcast at runtime:\n${plan.take(3000)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("decontamination gram join broadcasts the benchmark side — corpus side never shuffles") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(graft.queries.Curation.contaminatedDocs(
      d.where(col("doc_id") % 23 =!= 0), d.where(col("doc_id") % 23 === 0), k = 4))
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark gram set must broadcast:\n${plan.take(1500)}")
    // the only Exchange allowed is the final doc_id-keyed count (and the
    // broadcast itself) — no hash exchange of the exploded corpus grams
    val hashExchanges = "Exchange hashpartitioning\\(([a-z_#0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(hashExchanges.forall(_.startsWith("doc_id")),
      s"unexpected non-doc_id exchange (gram shuffle?): $hashExchanges")
  }
}
