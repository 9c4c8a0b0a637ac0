package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The cache policy, and the only two ways `src/main` caches a frame.
  *
  * A builder that reuses a frame across several actions, or whose
  * RETURNED lazy plan reads it, caches it through [[persisted]] or
  * [[checkpointed]]. Both register the frame for release in the same
  * step. Every persisted frame gets one storage level (the level
  * `Dataset.cache()` means), and there is no cross-query cache: a frame
  * lives for one query's chain. The release point is [[releaseAll]],
  * after the caller's terminal action; [[Harness.clearState]] is that
  * call and nothing more. A builder may still unpersist a frame itself
  * once its own actions are done; the later release is then a no-op.
  *
  * The queue is process-wide, not per query or per session, and an
  * early release is not always harmless. A persisted frame released
  * before a pending plan runs is recomputed from its lineage, at the
  * cost of that recomputation. A local checkpoint released before a
  * pending plan runs makes that plan fail, because a checkpoint has no
  * lineage to recompute from. So call [[releaseAll]] only once every
  * pending action in the process is done. */
object CacheReleases {
  private val queue =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  private def register(release: () => Unit): Unit = queue.add(release)

  /** `df` persisted at the policy's storage level, registered for
    * release. */
  def persisted(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    register(() => p.unpersist(false))
    p
  }

  /** `df.localCheckpoint(eager)`, with the checkpoint RDD (the one
    * under the result's [[LogicalRDD]]) registered for release. */
  def checkpointed(df: DataFrame, eager: Boolean): DataFrame = {
    val c = df.localCheckpoint(eager)
    val rdd = c.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    register(() => rdd.unpersist(false))
    c
  }

  /** Release every registered frame (blocking=false). Safe to call
    * once the terminal actions on the frames' consumers are done. */
  def releaseAll(): Unit = {
    var release = queue.poll()
    while (release != null) { release(); release = queue.poll() }
  }

  /** True when no registered frame awaits release. */
  private[graft] def isEmpty: Boolean = queue.isEmpty
}
