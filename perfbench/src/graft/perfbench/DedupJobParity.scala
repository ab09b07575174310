package graft.perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}

/** One-off check that `dedup_batch` measures what `graft.DedupJob` does:
  * on the same generated corpus, the docs / cluster members / clusters /
  * kept counts of the benchmark's flow equal the ones DedupJob prints.
  *
  *   DedupJobParity --seed <n> --out <dir>
  *
  * Exits 1 when the counts differ.
  */
object DedupJobParity {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = new File(opts.getOrElse("out", ".bench_out"))
    val workRoot = new File(out, s"parity-${ProcessHandle.current().pid()}")
    val spark = Session.start(new File(out, "spark-local"))
    val ctx = Ctx(spark, opts("seed").toLong, workRoot, None)
    val same = try {
      val w = new DedupBatch(ctx)
      w.generate()
      w.op(None).release()
      val bench = w.counts
      val buf = new ByteArrayOutputStream()
      Console.withOut(new PrintStream(buf, true, "UTF-8")) {
        graft.DedupJob.main(Array(w.pages, ctx.freshDir("dedupjob")))
      }
      val line = buf.toString("UTF-8").split("\n").filter(_.startsWith("{\"job\"")).last
      def field(k: String) = ("\"" + k + "\":(\\d+)").r.findFirstMatchIn(line).get.group(1).toLong
      val job = DedupBatch.Counts(field("docs"), field("cluster_members"),
        field("clusters"), field("kept"))
      println(s"[perfbench] dedup_batch counts $bench")
      println(s"[perfbench] DedupJob counts    $job")
      bench == job
    } finally {
      graft.store.TxLog.deleteRecursively(workRoot)
      spark.stop()
    }
    println(if (same) "[perfbench] parity OK" else "[perfbench] parity FAILED")
    if (!same) sys.exit(1)
  }
}
