package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, DedupConfig}

/** Writes PLANS.md: formatted physical plans of the load-bearing stages,
  * regenerated on demand (documentation artifact, not driver contract).
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cfg = DedupConfig()
    val sfDir = "/root/testdata/sf0.001"
    val docs = Dedup.fromDocuments(spark.read.parquet(s"$sfDir/documents.parquet"))
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the load-bearing stages\n\n")
    sb.append("Generated by `graft.DumpPlans` (sf0.001, local[4]). What to look\n")
    sb.append("for: `ReadSchema` pruned to needed columns, `PushedFilters` at the\n")
    sb.append("scan, custom kernels (`shinglehashes`/`minhashsig`/`simhash64`/\n")
    sb.append("`bandkeys`) inside `*(n)` whole-stage-codegen regions, SMJ/broadcast\n")
    sb.append("joins only where intended, and no cartesian products.\n")

    def dump(title: String, df: org.apache.spark.sql.DataFrame): Unit = {
      sb.append(s"\n## $title\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      sb.append("\n```\n")
    }

    val shingled = Dedup.shingleSets(docs, cfg)
    dump("Stage 1-2: shingle + signatures (narrow, codegen'd, pruned scan)",
      Dedup.signatures(shingled, cfg))
    dump("Stage 3-4: LSH band table + candidate self-join",
      Dedup.candidatePairs(Dedup.bandTable(Dedup.signatures(shingled, cfg), cfg)))
    dump("Stage 5: exact-Jaccard verify join",
      Dedup.pairs(docs, cfg))
    dump("Serving: counts-by-threshold over the edge table",
      graft.queries.Serving.counts(docs,
        Dedup.pairs(docs, cfg).withColumnRenamed("jaccard", "similarity")))
    dump("ANN: brute-force cosine top-k (broadcast corpus side)", {
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding"))
      graft.functions.Embeddings.bruteForceTopK(e, e, 5)
    })
    dump("Serving: list-by-match-count pagination (TakeOrderedAndProject, no global window)",
      graft.queries.Serving.listByMatchCount(docs,
        Dedup.pairs(docs, cfg).withColumnRenamed("jaccard", "similarity"), limit = 20))
    dump("Production candidates: skew-aware hot/cold split (broadcast hot keys, salted hot branch)",
      Dedup.candidatePairsSkewAware(
        Dedup.bandTable(Dedup.validSignatures(Dedup.signatures(shingled, cfg)), cfg),
        hotCap = 8, saltBuckets = 4))
    dump("Exact-threshold join: prefix-filtered candidates (freq agg -> per-doc window -> prefix self-join; no cartesian)",
      Dedup.prefixCandidates(shingled, cfg))
    dump("Dedup keep-list: quality-ranked canonical doc per cluster (two-phase partial argmax + flag-back join; no cluster-partitioned window)",
      Dedup.keepList(docs, Dedup.clusters(Dedup.pairs(docs, cfg)),
        graft.functions.TextFunctions.qualityScore(col("text"))))
    dump("Multimodal: media -> frame features -> item embedding -> cosine pairs (binary column never shuffles)",
      graft.multimodal.BinaryPipeline.mediaDuplicatePairs(
        SparkEntry.syntheticMedia(spark, sfDir), SparkEntry.mediaDedupThreshold))
    dump("Curation: benchmark decontamination (benchmark gram hashes broadcast; corpus grams never shuffle)", {
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.queries.Curation.contaminatedDocs(
        d.where(col("doc_id") % 23 =!= 0), d.where(col("doc_id") % 23 === 0), k = 4)
    })
    dump("Curation: chunk-level dup fraction (narrow windowing; occurrence agg keyed on 8-byte chunk hash)",
      graft.queries.Curation.chunkDupStats(
        spark.read.parquet(s"$sfDir/documents.parquet"), chunkTokens = 20))
    dump("Containment pairs: asymmetric prefix filter + measured hot-shingle salting (broadcast hot keys; cold/salted-hot union) + exact kernel verify", {
      // the lazy plan with the hot split on: the checkpointed result
      // collapses to Scan ExistingRDD and would document nothing
      val sh = Dedup.shingleSets(Dedup.kernelParallel(docs), cfg)
      Dedup.containmentPlan(sh, Dedup.rankedIndex(sh), tau = 0.6,
        hotCap = 1024, saltBuckets = 16, hot = true)
    })
    dump("Exact-substring verify: one suffix array per hay doc; measured hot-hay split (bounded collect_list for cold hays, co-group-STREAMED needles for hot hays)",
      // hotCap = 0: every hay counts as hot, so both branches plan
      graft.pipeline.ExactSubstring.containmentPairs(
        Dedup.pairs(docs, cfg).select("id_a", "id_b"), docs, hotCap = 0))
    dump("Curation: C4-style duplicate-span removal (one 8-byte-keyed occurrence+keeper aggregate; ordered per-doc reconstruction)",
      graft.queries.Curation.removeDuplicateSpans(
        spark.read.parquet(s"$sfDir/documents.parquet"), spanTokens = 20))
    dump("Curation: SemDeDup semantic dedup (SRP bucket pair join -> CC -> quality-ranked keeper; no corpus collect)",
      graft.queries.Curation.semanticDedup(
        spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id").as("id"), col("embedding")),
        threshold = 0.999))
    Files.writeString(Paths.get("/root/repo/PLANS.md"), sb.toString)
    println("[plans] written PLANS.md")
    spark.stop()
  }
}
