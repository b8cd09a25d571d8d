package org.apache.spark

import scala.reflect.ClassTag

import org.apache.spark.scheduler.SparkListenerInterface

/** The two `private[spark]` listener-bus calls [[graft.obs.Telemetry]]
  * needs, used the way Spark's own suites use them: wait until every
  * queued event has reached its listeners, and find attached listeners
  * by class.
  */
object ListenerBusShim {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  def attached[T <: SparkListenerInterface: ClassTag](
      sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()
}
