package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, reused). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  def sfDir: String = "/root/testdata/sf0.001"

  /** Seed for the randomized model tests: fixed per test by default
    * (deterministic CI), overridable with GRAFT_FUZZ_SEED to drive the
    * same properties through a different region of the input space
    * (one-off fuzz campaigns; the committed default never changes).
    */
  def fuzzSeed(default: Long): Long =
    sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(default)

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val (out, names) = jobNamesDuring(body)
    (out, names.size)
  }

  /** `body`'s result and the call site of each Spark job it started (the
    * name of the job's last stage, e.g. `count at Dedup.scala:12`), in
    * start order. Jobs are told apart by a local property of this thread
    * (which the jobs of its SQL queries inherit); listener events arrive
    * asynchronously but in order, so the list is read once a marker job
    * submitted after `body` has been seen.
    */
  def jobNamesDuring[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobsDuring"
    val token = java.util.UUID.randomUUID().toString
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).foreach {
          case `token` => names.add(e.stageInfos.maxBy(_.stageId).name)
          case t if t == s"$token-end" => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, token)
      val out = try body finally sc.setLocalProperty(key, null)
      sc.setLocalProperty(key, s"$token-end")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the marker job never reached the listener")
      import scala.jdk.CollectionConverters._
      (out, names.asScala.toList)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
