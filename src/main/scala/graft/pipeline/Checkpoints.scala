package graft.pipeline

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.store.MarkerFile

/** Per-partition checkpoint / lineage / metrics store (north-rule:
  * "checkpoints per-partition progress with lineage and metrics ...
  * for resumable restarts"). Generalizes the reference's
  * skip-if-repr-exists keyed by (path, sha256, config-tag)
  * (`extract_features.py:61`, `winnow/utils/utils.py:186-222`) to
  * bucket granularity: work is hash-bucketed by id, and a completed
  * bucket is recorded as a checkpoint row; a restart recomputes only
  * missing buckets; a config-tag change invalidates everything
  * (reference `repr_key.py:10-15` semantics).
  *
  * Storage is a [[graft.store.TxLog]] table: atomic append commits, so
  * a crash mid-record never leaves a half-written checkpoint, and a
  * transient read failure is never mistaken for "no checkpoints" (only
  * a genuinely never-committed table reads as empty — a corrupt data
  * file PROPAGATES and fails the run loudly).
  */
final class CheckpointStore(spark: SparkSession, path: String) {
  import spark.implicits._

  private val log = new graft.store.TxLog(s"$path/checkpoints")

  /** Every checkpoint row. `dir` names the directory that holds a
    * bucket's rows (null for a row recorded before the column existed).
    */
  def read(): DataFrame = {
    val empty = spark.createDataset(
      Seq.empty[(String, Int, String, Long, Long, Long, String)])
      .toDF("stage", "bucket", "config_tag", "rows", "wall_ms", "ts", "dir")
    val rows = log.read(spark).getOrElse(empty)
    if (rows.columns.contains("dir")) rows
    else rows.withColumn("dir", lit(null).cast("string"))
  }

  /** Buckets already completed for (stage, configTag): those in
    * [[committedDirs]].
    */
  def completedBuckets(stage: String, configTag: String): Set[Int] =
    committedDirs(stage, configTag).keySet

  /** Bucket -> the directory its LATEST row for (stage, configTag) names
    * (ties by directory name), the only copy of its rows a read may see.
    * A bucket whose latest row names no directory is left out, so it
    * counts as not done. The rows are bounded by bucket records, not by
    * corpus size, so the pick runs driver-side (a groupBy or `distinct`
    * would cost a shuffle job).
    */
  def committedDirs(stage: String, configTag: String): Map[Int, String] =
    read().where(col("stage") === stage && col("config_tag") === configTag)
      .select("bucket", "ts", "dir").as[(Int, Long, Option[String])].collect()
      .groupBy(_._1).toSeq.flatMap { case (b, rows) =>
        rows.maxBy { case (_, ts, dir) => (ts, dir.getOrElse("")) }._3.map(b -> _)
      }.toMap

  /** Record completion rows (atomic append commit; read-time dedup on
    * completedBuckets keeps idempotency under re-recording), each naming
    * `dir`, the directory the buckets' rows live in.
    */
  def record(stage: String, configTag: String,
             bucketRows: Seq[(Int, Long)], wallMs: Long, dir: String): Unit = {
    val ts = System.currentTimeMillis()
    // writeAppend = the same stage-then-commit this used to spell out,
    // plus the manifest schema declaration every TxLog table gets
    log.writeAppend(spark.createDataset(bucketRows.map { case (b, n) =>
      (stage, b, configTag, n, wallMs, ts, dir)
    }).toDF("stage", "bucket", "config_tag", "rows", "wall_ms", "ts", "dir")
      .coalesce(1)): Unit
  }

  /** Stage-level metrics view (lineage: per-bucket rows + timings). */
  def metrics(): DataFrame =
    read().groupBy("stage", "config_tag")
      .agg(countDistinct(col("bucket")).as("buckets"),
        sum(col("rows")).as("rows"),
        max(col("ts")).as("last_ts"))
}

/** Resumable dedup job: the signatures stage is computed bucket-by-bucket
  * (pmod(xxhash64(id), buckets)) in waves; each wave is written as one
  * plain parquet directory (one file per scan task, `bucket` a column)
  * and then recorded, one checkpoint row per bucket naming that
  * directory. The rows are the only commit point: the table is each
  * bucket's rows from the directory its latest row names, so a wave
  * that crashed before its record, or the stale rows of a bucket that
  * was dropped and recomputed elsewhere, are never read. The clusters
  * and keep stages are skipped whole when nothing they read or wrote
  * has changed: each writes a marker
  * `stages/<clusters|keep>/tag=<configTag>` holding two identities,
  * SHA-256 over
  *   - its inputs: per input frame, the analyzed plan (expression ids
  *     stripped) and the sorted (path, length, mtime) of the files it
  *     scans;
  *   - its output directory: the sorted (path, length, mtime) of every
  *     file under it;
  * and the schema of the written table, which every read-back declares
  * (so none runs a schema-inference job).
  * A call reads the committed output back instead of computing it only
  * when both still match (the identities themselves cost no job). A
  * recomputed signature bucket (new file names), changed docs files, a
  * rewritten or damaged output, a different config tag or a missing
  * marker recomputes the stage. An input whose plan has
  * any leaf other than a file scan (a checkpointed frame, a
  * local relation) has no identity, so its stage always recomputes.
  * The reference skips a representation whose (path, sha256,
  * config-tag) key already exists (`extract_features.py:61`); file
  * stats stand in for the content hash, since reading every byte back
  * would cost what the skip saves.
  */
object ResumableDedupJob {

  /** Run (or resume) the signature stage; returns the signatures table.
    * Skips buckets checkpointed under the same config tag; recomputes
    * everything if the tag changed. A directory under the stage table
    * that no bucket's latest row names (a crashed wave, superseded
    * buckets, the older `bucket=N` layout, whose rows name none) is
    * deleted before the missing buckets run.
    *
    * `waveBuckets` sets the INTRA-RUN progress granularity: the missing
    * buckets are processed in waves of that many, and each wave is
    * committed to the checkpoint store as it completes — a driver crash
    * mid-stage loses at most one wave of work, not the whole stage. The
    * trade-off is scan amplification: every wave re-reads `docs` (the
    * bucket is a hash of `id`, so no storage pruning applies), so
    * ceil(missing/waveBuckets) waves cost that many input scans. The
    * default 0 keeps the single scan-optimal pass (one wave); an
    * operator running a multi-day 100-TB signing job picks the wave
    * size whose restart exposure is worth the extra scans (e.g. 4
    * waves = lose ≤25% of the stage to a crash for 4 input scans).
    */
  def signaturesStage(docs: DataFrame, cfg: DedupConfig, workDir: String,
                      buckets: Int = 16, waveBuckets: Int = 0): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = docs.sparkSession
    val store = new CheckpointStore(spark, workDir)
    // the bucket COUNT is part of the checkpoint identity: a resume
    // with a different `buckets` must recompute from scratch — pmod-16
    // checkpoints say nothing about pmod-32 buckets, and mixing moduli
    // in one signatures table would duplicate every doc whose old
    // bucket also survives (the stage tag also names the table path,
    // so differently-bucketed tables never share files)
    val stageTag = s"${cfg.configTag}-b$buckets"
    val sigDir = s"$workDir/signatures/tag=$stageTag"
    val committed = scala.collection.mutable.Map(
      store.committedDirs("signatures", stageTag).toSeq: _*)
    val live = committed.values.toSet
    Option(new File(sigDir).listFiles()).getOrElse(Array.empty[File])
      .filterNot(f => live.contains(f.getName))
      .foreach(graft.store.TxLog.deleteRecursively)
    val missing = (0 until buckets).filterNot(committed.contains)
    val bucket = pmod(xxhash64(col("id")), lit(buckets)).cast("int")
    // the signature table schema is a pure function of the config (plan
    // derivation only, no job) — read-backs below declare it explicitly
    // so they never depend on footer inference (which costs a job per
    // read and FAILS on a legitimately empty table)
    val sigSchema = Dedup.signatures(Dedup.shingleSets(
        docs.select(col("id"), col("text")).limit(0), cfg), cfg)
      .withColumn("bucket", bucket)
      .schema
    val waves =
      if (waveBuckets <= 0 || missing.isEmpty) Seq(missing)
      else missing.grouped(waveBuckets).toSeq
    waves.filter(_.nonEmpty).foreach { wave =>
      val t0 = System.currentTimeMillis()
      // `wave=<id>`: a plain read of the whole table directory then
      // sees every wave's files (as a `wave` partition column)
      val dir = s"wave=${java.util.UUID.randomUUID()}"
      // bucket is a pure function of the id the signature rows already
      // carry — recompute it narrowly instead of re-scanning docs and
      // shuffling both sides on id just to re-attach it
      val sigs = Dedup.signatures(Dedup.shingleSets(
          docs.where(bucket.isin(wave: _*)).select(col("id"), col("text")), cfg), cfg)
        .withColumn("bucket", bucket)
      // lineage counts, one per bucket, observed inside the write job; a
      // failing write throws HERE, before store.record can durably mark
      // the wave's buckets complete, and its directory is never read
      val (_, counts) = observed(sigs,
          wave.map(b => count_if(col("bucket") === b).as(s"b$b")): _*)(
        _.write.parquet(s"$sigDir/$dir"))
      // buckets that produced zero rows still count as completed
      store.record("signatures", stageTag,
        wave.map(b => (b, counts(s"b$b").asInstanceOf[Long])),
        System.currentTimeMillis() - t0, dir)
      committed ++= wave.map(_ -> dir)
    }
    committed.toSeq.groupBy(_._2).toSeq.sortBy(_._1).map { case (dir, bs) =>
      spark.read.schema(sigSchema).parquet(s"$sigDir/$dir")
        .where(col("bucket").isin(bs.map(_._1).sorted: _*))
    }.reduce(_ union _)
  }

  /** Pairs stage from a signatures table: validity filter -> skew-aware
    * banded candidate join (hot bands measured and salted — the north
    * rule's "explicit salted repartitioning for skewed hot bands" IS the
    * production default, not an opt-in) -> exact verify.
    */
  def pairsStage(sigs: DataFrame, cfg: DedupConfig,
                 hotCap: Int = 1024, saltBuckets: Int = 16): DataFrame = {
    val shingled = sigs.select(col("id"), col("shingles"))
    val cands = Dedup.candidatePairsSkewAware(
      Dedup.bandTable(Dedup.validSignatures(sigs), cfg), hotCap, saltBuckets)
    Dedup.verifiedPairs(cands, shingled, cfg)
  }

  /** Keep-list stage: the curated-corpus decision table (one kept doc
    * per cluster, quality-ranked — [[Dedup.keepList]]), written durable
    * and tag-stamped like every other stage artifact, and skipped while
    * the files behind `docs` and `clusters` are unchanged.
    */
  def keepStage(docs: DataFrame, clusters: DataFrame, cfg: DedupConfig,
                workDir: String): DataFrame =
    reusedOrWritten("keep", cfg, workDir, Seq(docs, clusters)) {
      Dedup.keepList(docs,
        clusters.select(col("id"), col("cluster_id")),
        graft.functions.TextFunctions.qualityScore(col("text")))
    }

  /** Full resumable run: signatures (bucket-checkpointed) -> pairs ->
    * clusters, with clusters written once, stamped by tag, and skipped
    * while the signature table's files are unchanged.
    */
  def run(docs: DataFrame, cfg: DedupConfig, workDir: String,
          buckets: Int = 16, hotCap: Int = 1024,
          saltBuckets: Int = 16, waveBuckets: Int = 0): DataFrame = {
    val sigs = signaturesStage(docs, cfg, workDir, buckets, waveBuckets)
    reusedOrWritten("clusters", cfg, workDir, Seq(sigs)) {
      // the clustering checkpoints its edges: the band table under the
      // pairs has no reader left once it returns
      val pairs = pairsStage(sigs, cfg, hotCap, saltBuckets)
      try Dedup.clusters(pairs) finally release(pairs)
    }
  }

  /** The stage-skip rule (see the object doc): returns the committed
    * `$workDir/<stage>/tag=<configTag>` table, after writing `compute`
    * there unless the stage marker matches the current identities. The
    * table is read back under the schema of the frame written, kept in
    * the marker for the reuse path, so the checkpoints that frame reads
    * are released once its write has ended.
    */
  private def reusedOrWritten(stage: String, cfg: DedupConfig, workDir: String,
                              inputs: Seq[DataFrame])(compute: => DataFrame): DataFrame = {
    val dir = s"$workDir/$stage/tag=${cfg.configTag}"
    val marker = new File(s"$workDir/stages/$stage", s"tag=${cfg.configTag}")
    val inputId = inputIdentity(inputs)
    def stamp(in: String, schema: String) =
      s"input $in\noutput ${sha256(outputFiles(dir))}\nschema $schema\n"
    val reused = for {
      in <- inputId
      text <- MarkerFile.read(marker)
      schema <- text.linesIterator.collectFirst {
        case l if l.startsWith("schema ") => l.stripPrefix("schema ")
      }
      if text == stamp(in, schema)
    } yield schema
    val schema = reused.getOrElse {
      // no marker while the output is being rewritten: a crash in
      // between leaves a stage that recomputes, never a stale skip
      Files.deleteIfExists(marker.toPath)
      val df = compute
      try df.write.mode(SaveMode.Overwrite).parquet(dir) finally release(df)
      inputId.foreach(in => MarkerFile.write(marker, stamp(in, df.schema.json)))
      df.schema.json
    }
    inputs.head.sparkSession.read
      .schema(DataType.fromJson(schema).asInstanceOf[StructType]).parquet(dir)
  }

  /** Identity of the stage inputs, or None when some input is not purely
    * file-backed. File stats come from each scan's own file index (the
    * listing the frame reads), so no job runs and no file is re-listed.
    */
  private def inputIdentity(inputs: Seq[DataFrame]): Option[String] = {
    val perInput = inputs.map { df =>
      val plan = df.queryExecution.analyzed
      val scans = plan.collectWithSubqueries { case l: LeafNode => l }.map {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          Some(fs.location.listFiles(Nil, Nil).flatMap(_.files)
            .map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}"))
        case _ => None
      }
      if (scans.exists(_.isEmpty)) None
      else Some(planText(plan) +: scans.flatten.flatten.sorted)
    }
    if (perInput.exists(_.isEmpty)) None else Some(sha256(perInput.flatten.flatten))
  }

  /** The analyzed plan without expression ids, which differ between
    * sessions for the same query.
    */
  private def planText(plan: LogicalPlan): String =
    plan.treeString(verbose = true, maxFields = Int.MaxValue).replaceAll("#\\d+", "")

  /** (path, length, mtime) of every file under a local directory. */
  private def outputFiles(dir: String): Seq[String] = {
    val root = new File(dir).toPath
    if (!Files.isDirectory(root)) Nil
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        s"$p\t${Files.size(p)}\t${Files.getLastModifiedTime(p).toMillis}"
      }.toList.sorted
      finally walk.close()
    }
  }

  private def sha256(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }
}
