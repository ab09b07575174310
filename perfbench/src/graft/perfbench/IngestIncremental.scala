package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.corpus.SynthCorpus
import graft.pipeline.DedupConfig
import graft.streaming.IncrementalIngest

/** `ingest_incremental`: a fixed sequence of micro-batches cut from one
  * seeded corpus, each fed to `IncrementalIngest.processBatch` with
  * matching every batch and compaction every `CompactEvery` batches, on
  * a fresh work directory. Every batch after the first also re-delivers
  * a fixed share of already-ingested docs, as crawl revisits do.
  * Reports docs/s over the sequence and the latency of each batch.
  */
final class IngestIncremental(ctx: Ctx) extends Workload {
  import IngestIncremental._
  private val spark = ctx.spark
  private val cfg = DedupConfig()
  private var batches: Seq[DataFrame] = Nil
  private var batchRows: Seq[Long] = Nil
  private var delivered = 0L
  private var texts: Map[String, String] = Map.empty
  private var planted: Seq[Checks.Planted] = Nil
  private var lastDir: String = _

  def itemsName = "docs_per_s"
  def unitName = "batch_p50_s"
  def scale = s"n$NBase-b$Batches-c$CompactEvery"
  def nominalOpS = 14.5
  override def children: Seq[(String, String)] = Seq(
    "IncrementalIngest.matchPending" -> "graft.streaming.IncrementalIngest$.matchPending(",
    "IncrementalIngest.compactStores" -> "graft.streaming.IncrementalIngest$.compactStores(",
    "TxLog.writeAppend" -> "graft.store.TxLog.writeAppend(")

  def generate(): Unit = {
    batches.foreach(_.unpersist())
    val (pages, labels) = SynthCorpus.generate(spark, ctx.seed, NBase, dupRate = 0.2)
    // arrival order: a seeded shuffle of the corpus, cut into batches
    val rows = pages.select("url", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .sortBy { case (url, _) => scala.util.hashing.MurmurHash3.stringHash(url, ctx.seed.toInt) }
    texts = rows.toMap
    planted = Checks.planted(labels)
    val fresh = rows.grouped(math.ceil(rows.length.toDouble / Batches).toInt).toSeq
    val schema = StructType(Seq(StructField("id", StringType), StructField("text", StringType)))
    batches = fresh.zipWithIndex.map { case (b, i) =>
      val seen = fresh.take(i).flatten
      val revisits = seen.indices.by(math.max(1, seen.length / (b.length * RevisitShare).toInt + 1))
        .take((b.length * RevisitShare).toInt).map(seen)
      val all = (b ++ revisits).map { case (u, t) => Row(u, t) }
      spark.createDataFrame(spark.sparkContext.parallelize(all, ctx.cores), schema)
        .localCheckpoint(true)
    }
    batchRows = batches.map(_.count())
    delivered = batchRows.sum
  }

  /** The batches up to the first compaction cover every code path. */
  override def warmup(): Unit = {
    val workDir = ctx.freshDir("warmup")
    ingest(batches.take(CompactEvery), workDir, None)
    ctx.delete(workDir)
  }

  def op(tracer: Option[Tracer]): Outcome = {
    val workDir = ctx.freshDir("ingest")
    val lat = ingest(batches, workDir, tracer)
    tracer.foreach(t => StoreCounts.annotate(t, workDir, delivered, cfg))
    lastDir = workDir
    val fp = Checks.fingerprint(IncrementalIngest.pairs(spark, workDir, cfg), "id_a", "id_b") +
      "/" + Checks.fingerprint(IncrementalIngest.signatures(spark, workDir, cfg), "id")
    Outcome(lat.sum, delivered / lat.sum, lat, fp, () => ctx.delete(workDir))
  }

  /** Feeds `bs` in order to a fresh ingest state; returns each batch's latency. */
  private def ingest(bs: Seq[DataFrame], workDir: String, tracer: Option[Tracer]): Seq[Double] = {
    val state = new IncrementalIngest.IngestState
    bs.zipWithIndex.map { case (b, i) =>
      val t0 = System.nanoTime()
      def call(): Unit = IncrementalIngest.processBatch(b, i.toLong, cfg, workDir,
        matchEvery = 1, compactEvery = CompactEvery, state = state)
      tracer match {
        case None => call()
        case Some(t) => t.span("IncrementalIngest.processBatch")(call())(_ => batchRows(i))
      }
      (System.nanoTime() - t0) / 1e9
    }
  }

  def check(last: Outcome): (Double, Seq[String]) = {
    val found0 = IncrementalIngest.pairs(spark, lastDir, cfg).select("id_a", "id_b")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val found =
      if (ctx.inject.contains("dropped_pair")) Checks.dropOne(found0, planted) else found0
    val (recall, missing) = Checks.recall("ingest_incremental pairs",
      planted.filter(_.jaccard >= cfg.threshold), p => found.contains(p.key), exact = false)
    val stored = IncrementalIngest.signatures(spark, lastDir, cfg).count()
    val dupIds =
      if (stored == texts.size) Nil
      else Seq(s"ingest_incremental: signature store holds $stored ids, corpus ${texts.size}")
    (recall, missing ++ dupIds ++
      Checks.rescore("ingest_incremental pairs", found.toSeq, texts, cfg.threshold,
        SynthCorpus.jaccardWords(_, _)))
  }
}

object IngestIncremental {
  val NBase = 900
  val Batches = 6
  val CompactEvery = 3
  /** Share of each batch (after the first) that re-delivers seen docs. */
  val RevisitShare = 0.1
}

/** Store-level counts of an ingest work directory at the end of an op,
  * attached to the op's last `processBatch` span: commits across the
  * three stores, parquet data files on disk, bytes on disk per stored
  * doc, and the share of delivered docs the seen filter dropped.
  */
object StoreCounts {
  def annotate(t: Tracer, workDir: String, delivered: Long, cfg: DedupConfig): Unit = {
    val logs = Seq(IncrementalIngest.sigLog(workDir, cfg), IncrementalIngest.bandLog(workDir, cfg),
      IncrementalIngest.pairLog(workDir, cfg))
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
    val all = files(new File(workDir))
    val data = all.filter(_.getName.endsWith(".parquet"))
    val stored = IncrementalIngest.sigLog(workDir, cfg).snapshot().rowCount.getOrElse(0L)
    val name = "IncrementalIngest.processBatch"
    t.annotate(name, "txlog.commits", logs.map(_.versionCount()).sum.toDouble)
    t.annotate(name, "txlog.data_files", data.size.toDouble)
    t.annotate(name, "txlog.bytes_per_doc", all.map(_.length).sum.toDouble / math.max(1L, stored))
    t.annotate(name, "seen.drop_ratio", 1.0 - stored.toDouble / delivered)
  }
}
