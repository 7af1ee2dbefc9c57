package org.apache.spark

/** Test access to the driver's map-output tracker, which is
  * `private[spark]`. */
object MapOutputProbe {
  /** Whether `shuffleId` is still registered with the driver's tracker. */
  def registered(sc: SparkContext, shuffleId: Int): Boolean =
    sc.env.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]
      .containsShuffle(shuffleId)
}
