package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Settings of one benchmark run, shared by every workload. */
final case class Ctx(spark: SparkSession, seed: Long, workRoot: File,
                     inject: Option[String]) {
  val cores: Int = spark.sparkContext.defaultParallelism
  private var dirs = 0

  /** A fresh, empty directory under the run's work root. */
  def freshDir(tag: String): String = {
    dirs += 1
    val d = new File(workRoot, s"$tag-$dirs")
    graft.store.TxLog.deleteRecursively(d)
    d.getPath
  }

  def delete(path: String): Unit = graft.store.TxLog.deleteRecursively(new File(path))
}

/** The result of one closed-loop op.
  *
  * @param itemsPerS   docs (or edges) the op processed per second
  * @param unitsS      latency of each unit the op is made of (a restart,
  *                    a micro-batch, or the whole op)
  * @param fingerprint content fingerprint of the op's output
  * @param release     deletes what the op left behind
  */
final case class Outcome(wallS: Double, itemsPerS: Double, unitsS: Seq[Double],
                         fingerprint: String, release: () => Unit)

/** One benchmark workload: inputs made from the seed, a repeatable op,
  * and the checks of the op's output.
  */
trait Workload {
  /** Name of the e2e throughput in the human-readable report. */
  def itemsName: String
  /** Name of the unit latency in the human-readable report. */
  def unitName: String
  /** The input sizes, which the output fingerprint depends on. */
  def scale: String
  /** Wall of one op on the 4-vCPU reference host: a run times
    * `--seconds / nominalOpS` ops, a count fixed in advance so that a
    * slow op never decides how many ops a run keeps.
    */
  def nominalOpS: Double
  /** Nested public functions the traced run splits out of its spans. */
  def children: Seq[(String, String)] = Nil
  /** Generates the inputs from the seed (again: called per setup round). */
  def generate(): Unit
  /** One op; traced when `tracer` is given. */
  def op(tracer: Option[Tracer]): Outcome
  /** Runs every code path of an op once before timing starts; a whole
    * op unless a part of it covers them all.
    */
  def warmup(): Unit = op(None).release()
  /** Checks the output of `last`; returns (recall, failures). */
  def check(last: Outcome): (Double, Seq[String])
}

/** Benchmark entry point: one workload, one seed, as many ops as fit
  * the measuring time on the reference host.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        [--out <dir>] [--inject dropped_pair|wrong_label|perturbed_fingerprint]
  *
  * Prints human-readable report lines, then as its last line one JSON
  * object {correct, attempted, failed, metrics}. With --trace 0 the
  * metrics are the end-to-end ones; with --trace 1 they are the traced
  * run's per-layer figures, and the spans are written to --out.
  * Exits 1 when an output check fails.
  */
object Main {
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = new File(opts.getOrElse("out", ".bench_out"))
    val workRoot = new File(out, s"work-${ProcessHandle.current().pid()}")

    val t0 = System.nanoTime()
    val spark = Session.start(new File(out, "spark-local"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, opts.get("seed").fold(0L)(_.toLong), workRoot, opts.get("inject"))
    val correct = try {
      if (opts.contains("train")) { train(ctx); true }
      else run(ctx, opts("workload"), opts("seconds").toDouble,
        opts.getOrElse("trace", "0") == "1", sessionS, out)
    } finally {
      graft.store.TxLog.deleteRecursively(workRoot)
      spark.stop()
    }
    if (!correct) sys.exit(1)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); None below eleven samples.
    */
  private def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    if (s.length < 11) None
    else {
      val idx = s.length - 11
      Some((100 * (idx + 1) / s.length, s(idx)))
    }
  }

  private def peakRssMb(): Double =
    Files.readAllLines(new File("/proc/self/status").toPath, UTF_8).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** A JSON number with all its digits (null when not finite). */
  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).bigDecimal.toPlainString

  private def workloadOf(name: String, ctx: Ctx): Workload = name match {
    case "dedup_batch" => new DedupBatch(ctx)
    case "prefix_joins" => new PrefixJoins(ctx)
    case "ingest_incremental" => new IngestIncremental(ctx)
    case "cc_graph" => new CcGraph(ctx)
    case other => sys.error(s"unknown workload $other")
  }

  /** The warmup of dedup_batch, so a JVM started with
    * -XX:ArchiveClassesAtExit records the classes a run loads (the other
    * workloads load mostly the same ones).
    */
  private def train(ctx: Ctx): Unit = {
    val w = workloadOf("dedup_batch", ctx)
    w.generate()
    w.warmup()
  }

  private def run(ctx: Ctx, name: String, seconds: Double, traced: Boolean,
                  sessionS: Double, out: File): Boolean = {
    val w = workloadOf(name, ctx)
    val tracer = if (traced) Some(new Tracer(ctx.spark.sparkContext, w.children)) else None

    // set-up: session start + input generation (median of several
    // rounds) + warmup
    val genS = (1 to SetupRounds).map { _ =>
      val t = System.nanoTime(); w.generate(); (System.nanoTime() - t) / 1e9
    }
    val tw = System.nanoTime()
    w.warmup()
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + median(genS) + warmS

    // closed loop, one client: the next op starts when the last ended.
    // A traced run alternates untraced and traced ops, so the tracing
    // overhead is measured within one run.
    val opsPlanned = math.max(if (traced) 2 else 1, (seconds / w.nominalOpS).toInt)
    val plain = ArrayBuffer.empty[Outcome]
    val withTrace = ArrayBuffer.empty[Outcome]
    var attempted = 0
    var failed = 0
    var last: Outcome = null
    val fingerprints = ArrayBuffer.empty[String]
    var i = 0
    while (plain.size + withTrace.size < opsPlanned && failed < 3) {
      val useTrace = traced && i % 2 == 1
      tracer.foreach(_.op = i)
      attempted += 1
      // an op that throws counts as failed and is kept out of every
      // timing, never recorded as a fast success
      try {
        val o = w.op(if (useTrace) tracer else None)
        (if (useTrace) withTrace else plain) += o
        fingerprints += o.fingerprint
        if (last != null) last.release()
        last = o
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] op $i failed: $e")
      }
      i += 1
    }
    if (plain.isEmpty || (traced && withTrace.isEmpty)) {
      if (last != null) last.release()
      println(s"""{"correct": false, "attempted": $attempted, "failed": $failed, "metrics": {}}""")
      return false
    }

    val failures = ArrayBuffer.empty[String]
    val (recall, problems) = w.check(last)
    last.release()
    failures ++= problems
    val fps =
      if (ctx.inject.contains("perturbed_fingerprint"))
        fingerprints.updated(fingerprints.length - 1, fingerprints.last + "x")
      else fingerprints
    if (fps.distinct.size != 1)
      failures += s"output fingerprint differs across ops of one seed: ${fps.distinct.mkString(", ")}"
    failures ++= FingerprintLog.check(out, s"$name-${w.scale}", ctx.seed, fps.head)

    val units = plain.flatMap(_.unitsS)
    val itemsPerS = median(plain.map(_.itemsPerS).toSeq)
    val unitP50 = median(units.toSeq)
    val rss = peakRssMb()
    val errorRate = failed.toDouble / attempted
    val sparkVersion = ctx.spark.version
    val heapMb = Runtime.getRuntime.maxMemory / 1048576
    println(s"[perfbench] run workload=$name seed=${ctx.seed} nproc=${Runtime.getRuntime.availableProcessors} " +
      s"cores=${ctx.cores} driver_heap_mb=$heapMb spark=$sparkVersion ops=${plain.size} traced_ops=${withTrace.size}")
    println(s"[perfbench] $name setup_s ${fmt(setupS)} s (session ${fmt(sessionS)}, " +
      s"generate median ${fmt(median(genS))}, warmup ${fmt(warmS)})")
    println(s"[perfbench] $name ${w.itemsName} ${fmt(itemsPerS)} 1/s")
    println(s"[perfbench] $name ${w.unitName} ${fmt(unitP50)} s (p50 of ${units.size})")
    tail(units.toSeq) match {
      case Some((p, v)) => println(s"[perfbench] $name unit tail ${fmt(v)} s (p$p of ${units.size})")
      case None => println(s"[perfbench] $name unit tail: fewer than 11 samples (${units.size}); " +
        s"last op's units: ${plain.last.unitsS.map(fmt).mkString(" ")} s")
    }
    println(s"[perfbench] $name recall ${fmt(recall)} ratio")
    println(s"[perfbench] $name error_rate ${fmt(errorRate)} ratio ($failed of $attempted)")
    println(s"[perfbench] $name peak_rss_mb ${fmt(rss)} MB")
    failures.foreach(f => println(s"[perfbench] CHECK FAILED: $f"))

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", setupS, "s"),
        ("items_per_s", itemsPerS, "1/s"),
        ("latency_p50_s", unitP50, "s"),
        ("recall", recall, "ratio"))
      case Some(t) =>
        val spans = t.spans()
        SpanReport.write(out, name, ctx, spans, plain.toSeq, withTrace.toSeq)
        SpanReport.layerMetrics(spans, ctx.cores, median(plain.map(_.wallS).toSeq),
          median(withTrace.map(_.wallS).toSeq))
    }
    val correct = failures.isEmpty
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    correct
  }
}

/** Remembers each (workload, seed)'s output fingerprint under the output
  * directory, so a later run of the same seed must reproduce it.
  */
object FingerprintLog {
  def check(out: File, workload: String, seed: Long, fp: String): Seq[String] = {
    val f = new File(out, s"fingerprints/$workload-$seed.txt")
    if (f.exists()) {
      val prev = new String(Files.readAllBytes(f.toPath), UTF_8).trim
      if (prev == fp) Nil
      else Seq(s"output fingerprint $fp differs from an earlier run of seed $seed: $prev")
    } else {
      f.getParentFile.mkdirs()
      Files.write(f.toPath, fp.getBytes(UTF_8))
      Nil
    }
  }
}

/** The benchmark's Spark session: local, all cores, Spark's scratch space
  * inside the run's output directory.
  */
object Session {
  def start(localDir: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    localDir.mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
