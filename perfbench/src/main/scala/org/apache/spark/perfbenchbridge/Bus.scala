package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the benchmark reads listener state only after every posted event
  * has been delivered, instead of sleeping and hoping. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
