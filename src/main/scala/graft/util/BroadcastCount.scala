package graft.util

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.storage.BroadcastBlockId

/** Counts the broadcast variables created in a SparkContext. Every
  * `TorrentBroadcast` registers its pieces with the block manager
  * master, which posts one `SparkListenerBlockUpdated` per piece; piece 0
  * (`broadcast_<id>_piece0`) exists for every broadcast, so its
  * registrations count broadcasts. Removals (an invalid storage level)
  * are not counted. A broadcast is a driver-side cost paid per plan: a
  * physical operator that broadcasts in its constructor pays it again
  * for every copy the planner makes of it (NOTES.md, the interval join).
  */
final class BroadcastCount private () extends SparkListener {
  private val n = new java.util.concurrent.atomic.AtomicLong

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    e.blockUpdatedInfo.blockId match {
      case BroadcastBlockId(_, "piece0")
          if e.blockUpdatedInfo.storageLevel.isValid =>
        n.incrementAndGet()
        ()
      case _ => ()
    }

  /** Broadcasts counted once every event posted before this call has
    * been delivered (the listener bus is asynchronous). */
  def settled(sc: SparkContext): Long = {
    org.apache.spark.sql.GraftRows.drainListeners(sc)
    n.get
  }
}

object BroadcastCount {
  /** A counter registered on `sc`; remove it with
    * `sc.removeSparkListener` when done. */
  def on(sc: SparkContext): BroadcastCount = {
    val c = new BroadcastCount
    sc.addSparkListener(c)
    c
  }
}
