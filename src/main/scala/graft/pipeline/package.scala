package graft

import org.apache.spark.sql.{Column, DataFrame, Observation}
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
}
