package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{checkpointed, observed, release, Dedup, DedupConfig, ResumableDedupJob}
import graft.queries.Curation

/** End-to-end training-data curation entry point — the funnel a
  * 100 TB web corpus actually runs before pretraining, composed from
  * the library's operators:
  *
  *   raw docs -> exact dedup -> near-dup clusters (checkpointed,
  *   skew-aware) -> quality-ranked keep list -> quality + repetition
  *   filters -> optional benchmark decontamination -> leakage-free
  *   cluster-keyed train/heldout split -> curated table
  *
  *   spark-submit --class graft.CurationJob app.jar <docsPath> <workDir> \
  *     [benchPath|-] [heldoutNumerator=8192] [spanTokens=0]
  *
  * Every stage count is reported in one funnel JSON line (the
  * reference's count-back style, `generate_matches.py:57-62`), each
  * observed inside the job that materializes its stage (the stage's
  * checkpoint, the curated write) rather than by a second job;
  * the curated table is tag-stamped so a config change regenerates
  * rather than mixes. The near-dup stage reuses the bucket-checkpointed
  * resumable dedup (`ResumableDedupJob`), so a restart skips completed
  * signature buckets and reuses the clusters table while the signature
  * files are unchanged. Its keep stage always recomputes: the docs it
  * reads are checkpointed, not file-backed, so they have no file
  * identity to match.
  */
object CurationJob {
  /** Funnel thresholds: lenient defaults a real corpus would tune. */
  val minQuality = 0.25
  val maxTopBigramFrac = 0.6
  // deflate-ratio band: near 0 = degenerate repetition/spam, far above
  // 1 = binary junk mislabeled as text. The CEILING only applies to
  // docs of at least minLenForDeflateCeiling chars: zlib's fixed
  // ~11-byte header dominates short inputs, so a legitimate short doc
  // ratios above 1 without being junk.
  val minDeflateRatio = 0.02
  val maxDeflateRatio = 1.2
  val minLenForDeflateCeiling = 200
  val decontamK = 4

  /** Stage-3 text-quality predicate over (quality, top_bigram_frac,
    * text) columns — exposed so the filter semantics are directly
    * testable (short-doc survival, spam rejection).
    */
  def textFilters: org.apache.spark.sql.Column = {
    val ratio = graft.functions.Expressions.compressionRatio(col("text"))
    // one deflate pass per row: FilterExec splits conjuncts and does
    // not share subexpressions across them, so `ratio >= floor && ...
    // ratio <= ceiling` would deflate the text twice — CaseWhen
    // branches are lazily evaluated, so each row runs the kernel once
    val deflateOk = when(length(col("text")) < minLenForDeflateCeiling,
      ratio >= minDeflateRatio)
      .otherwise(ratio.between(minDeflateRatio, maxDeflateRatio))
    col("quality") >= minQuality &&
      coalesce(col("top_bigram_frac"), lit(0.0)) <= maxTopBigramFrac &&
      deflateOk
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CurationJob <docsPath> <workDir> [benchPath|-] " +
        "[heldoutNumerator] [spanTokens]")
    val Array(docsPath, workDir) = args.take(2)
    val benchPath = args.lift(2).filterNot(_ == "-")
    val heldoutNumerator = args.lift(3).map(_.toInt).getOrElse(8192)
    // >0 enables C4-style duplicate-span removal of that span width;
    // the curated table then carries the REWRITTEN text
    val spanTokens = args.lift(4).map(_.toInt).getOrElse(0)

    val builder = SparkSession.builder()
      .appName("graft-curation")
      .config("spark.sql.session.timeZone", "UTC")
    if (!sys.props.contains("spark.master"))
      builder.master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try println(run(spark, docsPath, workDir, benchPath, heldoutNumerator,
      spanTokens))
    finally spark.stop()
  }

  /** The funnel itself (session-agnostic — tests drive it directly);
    * returns the metrics JSON line that `main` prints. `spanTokens > 0`
    * inserts the C4-style duplicate-span removal stage after the
    * quality filters: surviving docs get their text REWRITTEN with
    * corpus-wide repeated spans removed (first occurrence kept), and
    * the curated table carries that text plus the removal count.
    */
  def run(spark: SparkSession, docsPath: String, workDir: String,
          benchPath: Option[String], heldoutNumerator: Int,
          spanTokens: Int = 0): String = {
    val cfg = DedupConfig()
    // the resumable stages key their checkpoints by configTag only, so
    // a workDir must never be shared across corpora: a marker pins the
    // corpus path and refuses silent reuse of stale signature buckets
    val marker = new org.apache.hadoop.fs.Path(workDir, "_corpus_path")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val prev = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
      require(prev == docsPath,
        s"workDir $workDir was built from corpus '$prev'; refusing to mix " +
          s"with '$docsPath' — use a fresh workDir")
    } else {
      val out = fs.create(marker, true)
      try out.write(docsPath.getBytes("UTF-8")) finally out.close()
    }
    // every stage checkpoint this call fills is released when it returns
    // or throws: nothing it returns reads them
    val filled = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def stage(df: DataFrame, aggs: Column*): (DataFrame, Map[String, Any]) = {
      val r = checkpointed(df, aggs: _*)
      filled += r._1
      r
    }
    try {
      val t0 = System.currentTimeMillis()
      val raw = spark.read.parquet(docsPath)
      val (docs, c0) = stage(
        if (raw.columns.contains("doc_id")) Dedup.fromDocuments(raw) else Dedup.fromPages(raw))

      // 1. exact dedup: one shuffle on the content hash, keep min id
      val (afterExact, c1) = stage(docs.join(
        Dedup.exactDuplicates(docs).select(col("keeper_id").as("id")),
        Seq("id"), "left_semi"))

      // 2. near-dup clusters (bucket-checkpointed, skew-aware salted) +
      //    quality-ranked canonical per cluster
      val clusters = ResumableDedupJob.run(afterExact, cfg, workDir)
      val keep = ResumableDedupJob.keepStage(afterExact, clusters, cfg, workDir)
      val (afterNear, c2) = stage(afterExact
        .join(keep.where(col("kept"))
          .select(col("id"), col("cluster_id"), col("quality")), Seq("id")))

      // 3. quality + repetition + compressibility filters (narrow kernel passes)
      val rep = Curation.repetitionStats(afterNear, idCol = "id")
      val (afterQuality, c3) = stage(afterNear
        .join(rep, Seq("id"), "left_outer") // <2-token docs carry null stats
        .where(textFilters))

      // 4. optional benchmark decontamination (broadcast gram semi-join)
      val (afterDecontam, c4) = benchPath match {
        case Some(p) =>
          val bench = spark.read.parquet(p)
          val benchDocs =
            if (bench.columns.contains("text")) bench
            else bench.toDF("text") // one text column
          val hit = Curation.contaminatedDocs(
            afterQuality, benchDocs, decontamK, idCol = "id")
          stage(afterQuality.join(hit.select("id"), Seq("id"), "left_anti"))
        case None => (afterQuality, c3)
      }

      // 4b. optional C4-style duplicate-span removal over the survivors:
      // the rewrite runs AFTER dedup/quality (don't pay span hashing for
      // docs the funnel drops) and the curated table carries the
      // rewritten text
      val (afterSpans, nSpansRemoved) =
        if (spanTokens <= 0) (afterDecontam, -1L)
        else {
          val rewritten = Curation.removeDuplicateSpans(
            afterDecontam, spanTokens, idCol = "id")
          val (joined, agg) = stage(afterDecontam.drop("text")
            .join(rewritten.select(col("id"), col("kept_text").as("text"),
              col("n_removed")), Seq("id")),
            coalesce(sum(col("n_removed")), lit(0L)).as("removed"))
          (joined, agg("removed").asInstanceOf[Long])
        }

      // 5. leakage-free split keyed by dup cluster
      val split = Curation.leakageFreeSplit(
        afterSpans.select(col("id")), clusters, heldoutNumerator, idCol = "id")
        .select(col("id"), col("split"))
      val curated = afterSpans
        .select(Seq(col("id"), col("cluster_id"), col("quality")) ++
          (if (spanTokens > 0) Seq(col("text"), col("n_removed")) else Nil): _*)
        .join(split, Seq("id"))

      // the span-removal variant changes the curated SCHEMA (adds
      // text/n_removed), so it must not share a tag path with the plain
      // variant — the stage config is part of the output identity
      val variant = if (spanTokens > 0) s"-span$spanTokens" else ""
      val outDir = s"$workDir/curated/tag=${cfg.configTag}$variant"
      val (_, splits) = observed(curated,
        count_if(col("split") === "heldout").as("heldout"),
        count_if(col("split") === "train").as("train"))(
        _.write.mode(SaveMode.Overwrite).parquet(outDir))
      val nHeldout = splits("heldout").asInstanceOf[Long]
      val nTrain = splits("train").asInstanceOf[Long]

      val wall = (System.currentTimeMillis() - t0) / 1000.0
      val spanField =
        if (spanTokens > 0) s""""span_removed":$nSpansRemoved,""" else ""
      s"""{"job":"graft-curation","config_tag":"${cfg.configTag}","docs":${c0("rows")},""" +
        s""""after_exact":${c1("rows")},"after_neardup":${c2("rows")},""" +
        s""""after_quality":${c3("rows")},"after_decontam":${c4("rows")},""" +
        s"""$spanField"train":$nTrain,"heldout":$nHeldout,""" +
        s""""wall_sec":$wall,"docs_per_sec":${c0("rows").asInstanceOf[Long] / wall}}"""
    } finally filled.foreach(release)
  }
}
