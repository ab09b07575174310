package graft.perfbench

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

import graft.corpus.SynthCorpus
import graft.pipeline.{Dedup, DedupConfig, ResumableDedupJob}

/** `dedup_batch`: the `graft.DedupJob` flow (resumable signatures ->
  * skew-aware LSH candidates -> exact verify -> clusters -> keep list)
  * on a fresh work directory, then the same flow restarted on that
  * directory, where every signature bucket is already checkpointed.
  * Reports docs/s of the fresh run and the restart's wall (resume).
  */
final class DedupBatch(ctx: Ctx) extends Workload {
  import DedupBatch._
  private val spark = ctx.spark
  private val cfg = DedupConfig()
  private var pagesDir: String = _
  private var planted: Seq[Checks.Planted] = Nil
  private var lastDir: String = _
  private var lastCounts: Counts = _

  def itemsName = "docs_per_s"
  def unitName = "resume_s"
  def scale = s"n$NBase-b$Buckets"
  def nominalOpS = 9.5
  override def children: Seq[(String, String)] =
    Seq("CheckpointStore.completedBuckets" -> "graft.pipeline.CheckpointStore.completedBuckets(")

  def generate(): Unit = {
    if (pagesDir != null) ctx.delete(pagesDir)
    pagesDir = ctx.freshDir("pages")
    val (pages, labels) = SynthCorpus.generate(spark, ctx.seed, NBase, dupRate = 0.2)
    // one file per core, so the scan splits as a larger corpus would
    pages.drop("html").repartition(ctx.cores).write.parquet(pagesDir)
    planted = Checks.planted(labels)
  }

  private def docs(): DataFrame = Dedup.fromPages(spark.read.parquet(pagesDir))

  private def clustersDir(workDir: String) = s"$workDir/clusters/tag=${cfg.configTag}"

  /** The DedupJob flow: cluster/doc/keep counts as DedupJob prints them. */
  def flow(docs: DataFrame, workDir: String): Counts = {
    val clusters = ResumableDedupJob.run(docs, cfg, workDir, Buckets, saltBuckets = Salt)
    val nClusters = clusters.select("cluster_id").distinct().count()
    val nMembers = clusters.count()
    val nDocs = docs.count()
    val keep = ResumableDedupJob.keepStage(docs, clusters, cfg, workDir)
    Counts(nDocs, nMembers, nClusters, keep.where(col("kept")).count())
  }

  /** The same flow, one span per public stage function, each stage's
    * output materialized inside its span. Span names start with the
    * phase ("fresh/" or "restart/"), which the metrics they move differ by.
    */
  private def tracedFlow(docs: DataFrame, workDir: String, t: Tracer, phase: String): Counts = {
    def name(f: String) = s"$phase/$f"
    val sigs = t.span(name("Checkpoints.signaturesStage"))(
      ResumableDedupJob.signaturesStage(docs, cfg, workDir, Buckets))(_.count())
    val bands = t.span(name("Dedup.bandTable"))(
      Dedup.bandTable(Dedup.validSignatures(sigs), cfg).localCheckpoint(true))(_.count())
    val cands = t.span(name("Dedup.candidatePairsSkewAware"))(
      Dedup.candidatePairsSkewAware(bands, HotCap, Salt).localCheckpoint(true))(_.count())
    t.annotate(name("Dedup.candidatePairsSkewAware"), "hot_keys",
      bands.groupBy("band_key").count().where(col("count") > HotCap).count().toDouble)
    val pairs = t.span(name("Dedup.verifiedPairs"))(
      Dedup.verifiedPairs(cands, sigs.select(col("id"), col("shingles")), cfg)
        .localCheckpoint(true))(_.count())
    t.annotate(name("Dedup.verifiedPairs"), "useful_ratio",
      pairs.count().toDouble / math.max(1L, cands.count()))
    val clusters = t.span(name("Dedup.clusters")) {
      Dedup.clusters(pairs).write.mode(SaveMode.Overwrite).parquet(clustersDir(workDir))
      spark.read.parquet(clustersDir(workDir))
    }(_.count())
    val nClusters = clusters.select("cluster_id").distinct().count()
    val nMembers = clusters.count()
    val nDocs = docs.count()
    val keep = t.span(name("Checkpoints.keepStage"))(
      ResumableDedupJob.keepStage(docs, clusters, cfg, workDir))(_.count())
    Seq(bands, cands, pairs).foreach(_.unpersist())
    Counts(nDocs, nMembers, nClusters, keep.where(col("kept")).count())
  }

  /** The fresh flow alone: the restart runs a subset of its code. */
  override def warmup(): Unit = {
    val workDir = ctx.freshDir("warmup")
    flow(docs(), workDir)
    ctx.delete(workDir)
  }

  def op(tracer: Option[Tracer]): Outcome = {
    val workDir = ctx.freshDir("dedup")
    val d = docs()
    def once(phase: String) = tracer.fold(flow(d, workDir))(tracedFlow(d, workDir, _, phase))
    val t0 = System.nanoTime()
    val fresh = once("fresh")
    val t1 = System.nanoTime()
    val resumed = once("restart")
    val t2 = System.nanoTime()
    require(fresh == resumed, s"restart changed the result: $fresh vs $resumed")
    lastDir = workDir
    lastCounts = fresh
    val fp = Checks.fingerprint(spark.read.parquet(clustersDir(workDir)), "id", "cluster_id") +
      "/" + Checks.fingerprint(
        spark.read.parquet(s"$workDir/keep/tag=${cfg.configTag}"), "id", "kept")
    Outcome((t2 - t0) / 1e9, fresh.docs / ((t1 - t0) / 1e9), Seq((t2 - t1) / 1e9), fp,
      () => ctx.delete(workDir))
  }

  /** Counts of the latest op's fresh run, and the corpus it read. */
  def counts: Counts = lastCounts
  def pages: String = pagesDir

  def check(last: Outcome): (Double, Seq[String]) = {
    val cluster = spark.read.parquet(clustersDir(lastDir)).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val expected = planted.filter(_.jaccard >= cfg.threshold)
    val dropped =
      if (!ctx.inject.contains("dropped_pair")) cluster
      else expected.find(_.jaccard >= Checks.SureJaccard).fold(cluster)(p => cluster - p.variant)
    val (recall, missing) = Checks.recall("dedup_batch clusters", expected,
      p => dropped.get(p.variant).exists(dropped.get(p.original).contains), exact = false)
    // cluster precision, re-scored driver-side: in a sample of clusters,
    // every member reaches the threshold with some other member (a
    // cluster is a connected component of verified pairs)
    val texts = docs().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val members = cluster.toSeq.groupBy(_._2).map { case (c, m) => c -> m.map(_._1).sorted }
    val loose = Checks.sample(members.keys.toSeq).flatMap { c =>
      val m = members(c)
      m.find(a => !m.exists(b =>
        b != a && SynthCorpus.jaccardWords(texts(a), texts(b)) >= cfg.threshold - 1e-9))
        .map(a => s"dedup_batch: $a has no member of cluster $c at jaccard >= ${cfg.threshold}")
    }.take(5)
    (recall, missing ++ loose)
  }
}

object DedupBatch {
  /** Originals generated; with dupRate 0.2 the corpus has ~1.4x as many docs. */
  val NBase = 1500
  /** Signature buckets (DedupJob's `buckets` argument; its default 64
    * is sized for corpora far larger than this one) and DedupJob's
    * default hot-band salt fan-out and hot cap.
    */
  val Buckets = 16
  val Salt = 16
  val HotCap = 1024

  final case class Counts(docs: Long, members: Long, clusters: Long, kept: Long)
}
