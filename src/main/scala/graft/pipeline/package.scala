package graft

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

package object pipeline {

  /** Scoped cache: runs `body` on `df` persisted at MEMORY_AND_DISK and
    * unpersists it when `body` returns or throws, so no cached block
    * outlives the operator on any path. The persist is lazy — the first
    * action inside `body` fills it; a body that needs it populated up
    * front runs its own eager pass. Whatever `body` returns must not
    * read the cache lazily afterwards: materialize it inside
    * (localCheckpoint, collect, write).
    */
  def withCached[T](df: DataFrame)(body: DataFrame => T): T = {
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    try body(cached) finally { cached.unpersist(); () }
  }

  /** Runs `action` (one action: a write, a localCheckpoint) on `df` with
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

  /** `df` materialized once as a local checkpoint, with the named
    * aggregates `aggs` computed inside the job that materializes it (see
    * [[observed]]). The checkpoint is declared lazily and filled by one
    * output-less write, so when that job fails its blocks are released
    * before the error propagates (an eager `localCheckpoint` whose job
    * fails leaves its RDD persisted). On success the caller owns the
    * blocks, like those of any local checkpoint.
    */
  def checkpointed(df: DataFrame, aggs: Column*): (DataFrame, Map[String, Any]) = {
    val out = df.localCheckpoint(eager = false)
    try {
      val (_, values) = observed(out, aggs: _*)(
        _.write.format("noop").mode(SaveMode.Overwrite).save())
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

  private def release(checkpoint: DataFrame): Unit =
    checkpoint.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false); ()
      case _ =>
    }
}
