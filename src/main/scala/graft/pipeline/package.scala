package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

package object pipeline {

  /** Scoped cache: runs `body` on `df` persisted at MEMORY_AND_DISK and
    * unpersists it when `body` returns or throws, so no cached block
    * outlives the operator on any path. The persist is lazy — the first
    * action inside `body` fills it; a body that needs it populated up
    * front runs its own eager pass. Whatever `body` returns must not
    * read the cache lazily afterwards: materialize it inside
    * ([[checkpointed]], collect, write).
    */
  def withCached[T](df: DataFrame)(body: DataFrame => T): T = {
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    try body(cached) finally { cached.unpersist(); () }
  }

  /** Runs `action` (one action, such as a write) on `df` with
    * the named aggregates `aggs` computed inside that same job
    * (`Dataset.observe`), and returns its result with the aggregates by
    * name — a count or a fingerprint without a second job over the
    * output. The values are read only after `action` returns, so a
    * failing action throws instead of waiting for values that never
    * come. `action` must execute `df` exactly once.
    */
  def observed[T](df: DataFrame, aggs: Column*)(action: DataFrame => T): (T, Map[String, Any]) = {
    val obs = Observation()
    val out = action(df.observe(obs, aggs.head, aggs.tail: _*))
    (out, obs.get)
  }

  /** `df` materialized once as a local checkpoint — the engine's only
    * way to cut a lineage — with its row count (`rows`) and the named
    * aggregates `aggs` computed inside the job that materializes it
    * (see [[observed]]), so no second job counts or probes the
    * checkpoint. The checkpoint is declared lazily and filled by one
    * job (a count of its RDD, or an observed output-less write when
    * `aggs` are given), so when that job fails its blocks are released
    * before the error propagates (an eager `localCheckpoint` whose job
    * fails leaves its RDD persisted). On success the caller owns the
    * blocks: they stay persisted while anything reads the checkpoint,
    * and a caller that supersedes one (an iteration) hands it to
    * [[release]].
    */
  def checkpointed(df: DataFrame, aggs: Column*): (DataFrame, Map[String, Any]) = {
    val out = df.localCheckpoint(eager = false)
    try {
      // no aggregate: the RDD counts itself, as an eager checkpoint does (an
      // observed write adds a query and an observation wait, ~20 ms a call)
      val values =
        if (aggs.isEmpty) Map[String, Any]("rows" -> rdds(out).head.count())
        else observed(out, count(lit(1)).as("rows") +: aggs: _*)(
          _.write.format("noop").mode(SaveMode.Overwrite).save())._2
      (out, values)
    } catch { case e: Throwable => release(out); throw e }
  }

  /** Runs `body` on [[checkpointed]] `df` and its aggregates, and
    * releases the checkpoint's blocks when `body` returns or throws.
    */
  def withCheckpointed[T](df: DataFrame, aggs: Column*)(
      body: (DataFrame, Map[String, Any]) => T): T = {
    val (out, values) = checkpointed(df, aggs: _*)
    try body(out, values) finally release(out)
  }

  /** Runs `bodies` at the same time and returns their results in order.
    * Each body runs on a fresh thread, never a pool's, so it inherits the
    * caller's Spark local properties (job tags, job group, span ids) and
    * active session as they are at the call. Every thread is joined
    * before this returns or throws; the first failure is rethrown, with
    * the others added to it as suppressed.
    */
  def concurrently[T](bodies: (() => T)*): Seq[T] = {
    val results = new Array[Try[T]](bodies.size)
    val threads = bodies.indices.map { i =>
      new Thread(() => results(i) = try Success(bodies(i)()) catch { case e: Throwable => Failure(e) },
        s"graft-concurrently-$i")
    }
    var interrupted = false
    try threads.foreach(_.start())
    finally threads.foreach { t =>
      // an interrupted caller passes the interrupt on and still waits
      while (t.isAlive) try t.join() catch {
        case _: InterruptedException => interrupted = true; threads.foreach(_.interrupt())
      }
    }
    if (interrupted) Thread.currentThread().interrupt()
    val failures = results.toSeq.collect { case Failure(e) => e }
    failures.headOption.foreach { e => failures.tail.foreach(e.addSuppressed); throw e }
    results.toSeq.map(_.get)
  }

  /** Drops the blocks of a local checkpoint made by [[checkpointed]]
    * (`unpersist` would not: it only drops cache-manager entries).
    */
  private[graft] def release(checkpoint: DataFrame): Unit =
    rdds(checkpoint).foreach(_.unpersist(blocking = false))

  private def rdds(checkpoint: DataFrame) =
    checkpoint.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
}
