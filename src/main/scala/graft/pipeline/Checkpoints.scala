package graft.pipeline

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

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

  def read(): DataFrame = {
    val empty = spark.createDataset(
      Seq.empty[(String, Int, String, Long, Long, Long)])
      .toDF("stage", "bucket", "config_tag", "rows", "wall_ms", "ts")
    log.read(spark).getOrElse(empty)
  }

  /** Buckets already completed for (stage, configTag). The rows are
    * bounded by bucket records, not by corpus size, so `toSet` dedups
    * them driver-side (a `distinct` would cost a shuffle job).
    */
  def completedBuckets(stage: String, configTag: String): Set[Int] =
    read().where(col("stage") === stage && col("config_tag") === configTag)
      .select("bucket").as[Int].collect().toSet

  /** Record completion rows (atomic append commit; read-time dedup on
    * completedBuckets keeps idempotency under re-recording).
    */
  def record(stage: String, configTag: String,
             bucketRows: Seq[(Int, Long)], wallMs: Long): Unit = {
    val ts = System.currentTimeMillis()
    // writeAppend = the same stage-then-commit this used to spell out,
    // plus the manifest schema declaration every TxLog table gets
    log.writeAppend(spark.createDataset(bucketRows.map { case (b, n) =>
      (stage, b, configTag, n, wallMs, ts)
    }).toDF("stage", "bucket", "config_tag", "rows", "wall_ms", "ts")
      .coalesce(1)): Unit
  }

  /** Stage-level metrics view (lineage: per-bucket rows + timings). */
  def metrics(): DataFrame =
    read().groupBy("stage", "config_tag")
      .agg(countDistinct(col("bucket")).as("buckets"),
        sum(col("rows")).as("rows"),
        max(col("ts")).as("last_ts"))
}

/** Resumable dedup job: signatures stage is computed bucket-by-bucket
  * (pmod(xxhash64(id), buckets)), checkpointed, and written as a
  * partitioned parquet table. The clusters and keep stages are skipped
  * whole when nothing they read or wrote has changed: each writes a
  * marker `stages/<clusters|keep>/tag=<configTag>` holding two
  * identities, SHA-256 over
  *   - its inputs: per input frame, the analyzed plan (expression ids
  *     stripped) and the sorted (path, length, mtime) of the files it
  *     scans;
  *   - its output directory: the sorted (path, length, mtime) of every
  *     file under it.
  * A call reads the committed output back instead of computing it only
  * when both still match (the identities themselves cost no job). A
  * recomputed signature bucket (new file names), changed docs files, a
  * rewritten or damaged output, a different config tag or a missing
  * marker recomputes the stage. An input whose plan has
  * any leaf other than a file scan (a `localCheckpoint`ed frame, a
  * local relation) has no identity, so its stage always recomputes.
  * The reference skips a representation whose (path, sha256,
  * config-tag) key already exists (`extract_features.py:61`); file
  * stats stand in for the content hash, since reading every byte back
  * would cost what the skip saves.
  */
object ResumableDedupJob {

  /** Run (or resume) the signature stage; returns the signatures table.
    * Skips buckets checkpointed under the same config tag; recomputes
    * everything if the tag changed.
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
    val spark = docs.sparkSession
    val store = new CheckpointStore(spark, workDir)
    // the bucket COUNT is part of the checkpoint identity: a resume
    // with a different `buckets` must recompute from scratch — pmod-16
    // checkpoints say nothing about pmod-32 buckets, and mixing moduli
    // in one signatures table would duplicate every doc whose old
    // partition also survives (the stage tag also names the table
    // path, so differently-bucketed tables never share files)
    val stageTag = s"${cfg.configTag}-b$buckets"
    val done = store.completedBuckets("signatures", stageTag)
    val missing = (0 until buckets).filterNot(done.contains)
    val sigDir = s"$workDir/signatures/tag=$stageTag"
    // the signature table schema is a pure function of the config (plan
    // derivation only, no job) — read-backs below declare it explicitly
    // so they never depend on footer inference (which LISTS data files
    // and FAILS on a legitimately empty table)
    val sigSchema = Dedup.signatures(Dedup.shingleSets(
        docs.select(col("id"), col("text")).limit(0), cfg), cfg)
      .withColumn("bucket", pmod(xxhash64(col("id")), lit(buckets)).cast("int"))
      .schema
    val waves =
      if (waveBuckets <= 0 || missing.isEmpty) Seq(missing)
      else missing.grouped(waveBuckets).toSeq
    waves.filter(_.nonEmpty).foreach { wave =>
      val t0 = System.currentTimeMillis()
      val withBucket = docs
        .withColumn("bucket", pmod(xxhash64(col("id")), lit(buckets)).cast("int"))
        .where(col("bucket").isin(wave: _*))
      // bucket is a pure function of the id the signature rows already
      // carry — recompute it narrowly instead of re-scanning docs and
      // shuffling both sides on id just to re-attach it
      val sigs = Dedup.signatures(Dedup.shingleSets(
          withBucket.select(col("id"), col("text")), cfg), cfg)
        .withColumn("bucket", pmod(xxhash64(col("id")), lit(buckets)).cast("int"))
      // dynamic partition overwrite: a crash after a bucket's files
      // committed but before store.record would otherwise leave rows
      // that a resume re-appends (duplicate signatures); overwrite of
      // exactly the recomputed buckets makes the retry idempotent
      sigs.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(sigDir)
      // lineage counts, read back column-pruned from the just-written
      // files under the EXPLICIT schema: an all-empty wave (zero data
      // files yet) reads as an empty table instead of failing footer
      // inference, and a genuine read error still throws HERE — before
      // store.record can durably mark the wave's buckets complete (a
      // swallowed error there would wedge every later resume: `missing`
      // empty, nothing recomputed, the final read failing forever)
      val counts = spark.read.schema(sigSchema).parquet(sigDir)
        .where(col("bucket").isin(wave: _*))
        .groupBy("bucket").count()
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      // buckets that produced zero rows still count as completed
      val all = wave.map(b => (b, counts.getOrElse(b, 0L))).toSeq
      store.record("signatures", stageTag, all,
        System.currentTimeMillis() - t0)
    }
    docs.sparkSession.read.schema(sigSchema).parquet(sigDir)
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
    reusedOrWritten("keep", cfg, workDir, Seq(docs, clusters)) { dir =>
      Dedup.keepList(docs,
        clusters.select(col("id"), col("cluster_id")),
        graft.functions.TextFunctions.qualityScore(col("text")))
        .write.mode(SaveMode.Overwrite).parquet(dir)
    }

  /** Full resumable run: signatures (bucket-checkpointed) -> pairs ->
    * clusters, with clusters written once, stamped by tag, and skipped
    * while the signature table's files are unchanged.
    */
  def run(docs: DataFrame, cfg: DedupConfig, workDir: String,
          buckets: Int = 16, hotCap: Int = 1024,
          saltBuckets: Int = 16, waveBuckets: Int = 0): DataFrame = {
    val sigs = signaturesStage(docs, cfg, workDir, buckets, waveBuckets)
    reusedOrWritten("clusters", cfg, workDir, Seq(sigs)) { dir =>
      Dedup.clusters(pairsStage(sigs, cfg, hotCap, saltBuckets))
        .write.mode(SaveMode.Overwrite).parquet(dir)
    }
  }

  /** The stage-skip rule (see the object doc): returns the committed
    * `$workDir/<stage>/tag=<configTag>` table, after `write` recomputes
    * it unless the stage marker matches the current identities.
    */
  private def reusedOrWritten(stage: String, cfg: DedupConfig, workDir: String,
                              inputs: Seq[DataFrame])(write: String => Unit): DataFrame = {
    val dir = s"$workDir/$stage/tag=${cfg.configTag}"
    val marker = new File(s"$workDir/stages/$stage", s"tag=${cfg.configTag}")
    val inputId = inputIdentity(inputs)
    def stamp(in: String) = s"input $in\noutput ${sha256(outputFiles(dir))}\n"
    val current = inputId.exists(in => MarkerFile.read(marker).exists(_ == stamp(in)))
    if (!current) {
      // no marker while the output is being rewritten: a crash in
      // between leaves a stage that recomputes, never a stale skip
      Files.deleteIfExists(marker.toPath)
      write(dir)
      inputId.foreach(in => MarkerFile.write(marker, stamp(in)))
    }
    inputs.head.sparkSession.read.parquet(dir)
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
