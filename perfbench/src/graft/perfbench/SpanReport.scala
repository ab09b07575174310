package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Summarizes the traced run: one line per span name (medians over the
  * traced ops), a JSON file with every span, and the per-layer metrics
  * the run reports.
  */
object SpanReport {
  import Main.{median, fmt => json}

  def write(out: File, workload: String, ctx: Ctx, spans: Seq[Span],
            plain: Seq[Outcome], traced: Seq[Outcome]): Unit = {
    val overhead = median(traced.map(_.wallS)) / median(plain.map(_.wallS)) - 1
    val names = spans.map(s => (s.parent, s.name)).distinct
    names.foreach { case (parent, name) =>
      val xs = spans.filter(s => s.name == name && s.parent == parent)
      def med(f: Span => Double) = median(xs.map(f))
      val extras = xs.flatMap(_.extras.keys).distinct.sorted
        .map(k => s"$k=${json(median(xs.flatMap(_.extras.get(k))))}")
      val label = parent.fold(name)(p => s"$p > $name")
      println(f"[perfbench] span $label%-60s n=${xs.size}%3d wall_s=${med(_.wallS)}%.4f " +
        f"rows_out=${med(_.rowsOut.toDouble)}%.0f shuffle_write_mb=${med(_.shuffleWriteMb)}%.3f " +
        f"task_max_over_median=${med(_.taskMaxOverMedian)}%.2f " +
        f"busy_share=${med(_.busyShare(ctx.cores))}%.3f jobs=${med(_.jobs.toDouble)}%.0f " +
        f"spill_mb=${med(_.spillMb)}%.3f " + extras.mkString(" "))
    }
    println(s"[perfbench] $workload trace overhead ${json(overhead)} " +
      s"(traced op median ${json(median(traced.map(_.wallS)))} s vs untraced " +
      s"${json(median(plain.map(_.wallS)))} s, ${traced.size}/${plain.size} ops)")
    val spanJson = spans.map { s =>
      val extras = s.extras.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k": ${json(v)}""" }
      val fields = Seq(
        s""""op": ${s.op}""", s""""name": "${s.name}"""",
        s""""parent": ${s.parent.fold("null")(p => "\"" + p + "\"")}""",
        s""""wall_s": ${json(s.wallS)}""", s""""rows_out": ${s.rowsOut}""",
        s""""jobs": ${s.jobs}""", s""""tasks": ${s.tasks}""",
        s""""task_time_s": ${json(s.taskTimeS)}""",
        s""""shuffle_write_mb": ${json(s.shuffleWriteMb)}""",
        s""""spill_mb": ${json(s.spillMb)}""",
        s""""task_max_over_median": ${json(s.taskMaxOverMedian)}""",
        s""""busy_share": ${json(s.busyShare(ctx.cores))}""") ++ extras
      fields.mkString("{", ", ", "}")
    }
    val doc =
      s"""{"workload": "$workload", "seed": ${ctx.seed}, "cores": ${ctx.cores}, """ +
        s""""trace_overhead": ${json(overhead)}, "spans": [\n""" +
        spanJson.mkString(",\n") + "\n]}\n"
    val f = new File(out, s"spans/$workload-${ctx.seed}.json")
    f.getParentFile.mkdirs()
    Files.write(f.toPath, doc.getBytes(UTF_8))
    println(s"[perfbench] spans written to ${f.getPath}")
  }

  /** Per-layer metrics of the run: sums over each traced op's top-level
    * spans, as medians over the traced ops, plus the tracing overhead.
    */
  def layerMetrics(spans: Seq[Span], cores: Int, plainWallS: Double,
                   tracedWallS: Double): Seq[(String, Double, String)] = {
    val ops = spans.filter(_.parent.isEmpty).groupBy(_.op).values.toSeq
    def perOp(f: Seq[Span] => Double) = median(ops.map(f))
    Seq(
      ("spans.wall_s", perOp(_.map(_.wallS).sum), "s"),
      ("spans.task_time_s", perOp(_.map(_.taskTimeS).sum), "s"),
      ("spans.busy_share",
        perOp(o => o.map(_.taskTimeS).sum / (o.map(_.wallS).sum * cores)), "ratio"),
      ("spans.shuffle_write_mb", perOp(_.map(_.shuffleWriteMb).sum), "MB"),
      ("spans.task_max_over_median", perOp(_.map(_.taskMaxOverMedian).max), "ratio"),
      ("spans.jobs", perOp(_.map(_.jobs.toDouble).sum), "count"),
      ("spans.tasks", perOp(_.map(_.tasks.toDouble).sum), "count"),
      ("trace.overhead_ratio", tracedWallS / plainWallS, "ratio"))
  }
}
