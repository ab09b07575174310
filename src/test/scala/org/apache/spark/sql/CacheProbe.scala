package org.apache.spark.sql

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** Test access to the `private[sql]` count of a session's cache entries
  * (one per `Dataset.persist` / cached table), to the broadcast values
  * the driver's block manager holds, to the `private[spark]` listener
  * bus and to an RDD's creation site; lives in this package purely for
  * access.
  */
object CacheProbe {
  def cachedEntries(s: SparkSession): Int =
    s.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries

  /** Ids of the live broadcasts whose value, held deserialized on the
    * driver, is a `cls`.
    */
  def broadcastsHolding(cls: Class[_]): Set[Long] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds(_.isBroadcast).collect {
      case b: BroadcastBlockId if b.field.isEmpty &&
          scala.util.Try(bm.memoryStore.getValues(b)
            .exists(it => it.hasNext && cls.isInstance(it.next()))).getOrElse(false) =>
        b.broadcastId
    }.toSet
  }

  /** The stack (long call site) that created `rdd`. */
  def creationStack(rdd: org.apache.spark.rdd.RDD[_]): String = rdd.creationSite.longForm

  /** Blocks until every listener has seen every event posted so far. */
  def drainListeners(s: SparkSession): Unit = s.sparkContext.listenerBus.waitUntilEmpty()
}
