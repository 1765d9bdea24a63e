package org.apache.spark.graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDDOperationScope
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

/** The Spark jobs a block of driver code launches. Listener events are
  * delivered asynchronously, so the capture drains the listener bus
  * (`private[spark]`, hence this package) before and after the block.
  */
object JobCapture {

  def jobsDuring[T](sc: SparkContext)(body: => T): (T, Seq[SparkListenerJobStart]) = {
    val seen = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e)
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** A RangePartitioner sample job: launched from a shuffle exchange's
    * RDD scope, yet none of its stages writes a shuffle (nor reads one:
    * a stage that reads one has the map stage among its job's stages).
    * The exchange's own map-stage job writes its shuffle; a broadcast
    * job runs under the BroadcastExchange scope.
    */
  def rangeSample(job: SparkListenerJobStart): Boolean =
    job.stageInfos.forall(_.shuffleDepId.isEmpty) &&
      Option(job.properties).flatMap(p => Option(p.getProperty(SparkContext.RDD_SCOPE_KEY)))
        .exists(RDDOperationScope.fromJson(_).name == "Exchange")
}
