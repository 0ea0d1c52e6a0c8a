package org.apache.spark

import org.apache.spark.scheduler.SparkListenerInterface

/** Test access to the listeners registered on a SparkContext's bus, which
  * Spark keeps package-private. */
object GraftListeners {
  def of[T <: SparkListenerInterface: scala.reflect.ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()
}
