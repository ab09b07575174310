package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call into a layer's public function: driver wall time of
  * the call plus the materialization of its output, and the Spark task
  * metrics of every job the call submitted. A child span (`parent`
  * set) holds the jobs of a nested public call the traced call made
  * itself; its wall is the summed wall of those jobs.
  */
final case class Span(op: Int, name: String, parent: Option[String],
                      wallS: Double, rowsOut: Long, jobs: Int, tasks: Int,
                      taskTimeS: Double, shuffleWriteMb: Double, spillMb: Double,
                      taskMaxOverMedian: Double, extras: Map[String, Double]) {
  def busyShare(cores: Int): Double =
    if (wallS <= 0) 0.0 else taskTimeS / (wallS * cores)
}

/** Task metrics of one span, filled by [[SpanListener]]. */
private final class SpanAcc {
  var jobs = 0
  var jobWallMs = 0L
  var taskTimeMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskDurationsMs = ArrayBuffer.empty[Long]
}

/** Attributes Spark jobs and tasks to the span that submitted them. The
  * span id rides the jobs as a local property (Spark copies local
  * properties to broadcast and subquery threads), so attribution stays
  * exact although listener events arrive asynchronously. A job whose
  * call site passes through one of `children` (a nested public layer
  * function, matched on its stack frame; for SQL jobs the frames of the
  * thread that ran the query) is booked to that child of the open span
  * instead; the outermost matching frame wins.
  */
final class SpanListener(children: Seq[(String, String)]) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val jobSpan = new ConcurrentHashMap[Int, (String, Long)]()
  private val accs = new ConcurrentHashMap[String, SpanAcc]()
  private val endedJobs = ConcurrentHashMap.newKeySet[String]()
  private val sqlCallSites = new ConcurrentHashMap[String, String]()

  private[perfbench] def acc(key: String): SpanAcc =
    accs.computeIfAbsent(key, _ => new SpanAcc)

  private[perfbench] def childKeys(id: String): Seq[(String, SpanAcc)] =
    children.map(_._1).flatMap(c => Option(accs.get(s"$id/$c")).map(c -> _))

  private[perfbench] def jobEnded(id: String): Boolean = endedJobs.contains(id)

  private def child(callSite: String): Option[String] =
    callSite.split("\n").reverseIterator
      .flatMap(f => children.find(c => f.contains(c._2)).map(_._1))
      .nextOption()

  // a SQL query's jobs may run on pool threads (adaptive execution), so
  // their own call sites miss the caller's frames; the query's start
  // event carries the call site of the thread that ran the query
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      sqlCallSites.put(s.executionId.toString, s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .foreach { id =>
        val callSite = Option(e.properties.getProperty("spark.sql.execution.id"))
          .flatMap(x => Option(sqlCallSites.get(x)))
          .getOrElse(e.stageInfos.maxByOption(_.stageId).fold("")(_.details))
        val key = child(callSite).fold(id)(c => s"$id/$c")
        val a = acc(key)
        a.synchronized(a.jobs += 1)
        e.stageIds.foreach(stageSpan.put(_, key))
        jobSpan.put(e.jobId, (key, e.time))
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (key, t0) =>
      val a = acc(key)
      a.synchronized(a.jobWallMs += e.time - t0)
      endedJobs.add(key)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { key =>
      val m = e.taskMetrics
      if (m != null) {
        val a = acc(key)
        a.synchronized {
          a.taskTimeMs += m.executorRunTime
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.diskBytesSpilled
          a.taskDurationsMs += m.executorRunTime
        }
      }
    }
}

/** Records [[Span]]s around layer calls made by a workload. Spans are
  * kept in memory and summarized when the run ends.
  *
  * @param children nested public functions to split out of a span, as
  *                 (span name, stack-frame prefix) pairs
  */
final class Tracer(sc: SparkContext, children: Seq[(String, String)] = Nil) {
  private val listener = new SpanListener(children)
  sc.addSparkListener(listener)
  private var seq = 0
  private final case class Open(id: String, op: Int, name: String, wallS: Double,
                                rows: Long, extras: Map[String, Double])
  private val open = ArrayBuffer.empty[Open]
  /** Index of the op the next spans belong to. */
  var op = 0

  /** Runs `call`, then `materialize` on its result, inside one span;
    * `materialize` forces the output and returns its row count.
    */
  def span[T](name: String)(call: => T)(materialize: T => Long): T = {
    seq += 1
    val id = s"span-$seq"
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, id)
    val t0 = System.nanoTime()
    try {
      val out = call
      val rows = materialize(out)
      open += Open(id, op, name, (System.nanoTime() - t0) / 1e9, rows, Map.empty)
      out
    } finally sc.setLocalProperty(Tracer.SpanKey, prev)
  }

  /** Attaches a figure measured outside the span's timing (a ratio or a
    * count) to the latest span of that name.
    */
  def annotate(name: String, key: String, value: Double): Unit = {
    val i = open.lastIndexWhere(_.name == name)
    require(i >= 0, s"no span named $name")
    open(i) = open(i).copy(extras = open(i).extras + (key -> value))
  }

  /** Waits until the listener has seen every event of the spans so far:
    * events are delivered in order, so once a marker job's end arrives,
    * every task end before it has arrived too.
    */
  private def drain(): Unit = {
    span("drain")(sc.parallelize(Seq(1), 1).count())(_ => 0L)
    val id = open.remove(open.length - 1).id
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!listener.jobEnded(id) && System.nanoTime() < deadline) Thread.sleep(5)
    require(listener.jobEnded(id), "span listener did not drain within 30 s")
  }

  def spans(): Seq[Span] = {
    drain()
    def stat(op: Int, name: String, parent: Option[String], wallS: Double,
             rows: Long, a: SpanAcc, extras: Map[String, Double]): Span =
      a.synchronized {
        val d = a.taskDurationsMs.sorted
        val skew =
          if (d.isEmpty) 1.0 else d.last.toDouble / math.max(1L, d(d.length / 2))
        Span(op, name, parent, wallS, rows, a.jobs, d.length, a.taskTimeMs / 1e3,
          a.shuffleWriteBytes / 1048576.0, a.spillBytes / 1048576.0, skew, extras)
      }
    open.toSeq.flatMap { o =>
      val kids = listener.childKeys(o.id)
      // the parent's figures cover its children's jobs as well
      val total = (listener.acc(o.id) +: kids.map(_._2)).foldLeft(new SpanAcc) {
        (t, a) => a.synchronized {
          t.jobs += a.jobs; t.jobWallMs += a.jobWallMs; t.taskTimeMs += a.taskTimeMs
          t.shuffleWriteBytes += a.shuffleWriteBytes; t.spillBytes += a.spillBytes
          t.taskDurationsMs ++= a.taskDurationsMs
        }; t
      }
      stat(o.op, o.name, None, o.wallS, o.rows, total, o.extras) +:
        kids.map { case (c, a) =>
          stat(o.op, c, Some(o.name), a.jobWallMs / 1e3, -1L, a, Map.empty)
        }
    }
  }
}

object Tracer {
  val SpanKey = "graft.perfbench.span"
}
