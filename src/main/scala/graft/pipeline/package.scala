package graft

import org.apache.spark.sql.DataFrame
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
}
