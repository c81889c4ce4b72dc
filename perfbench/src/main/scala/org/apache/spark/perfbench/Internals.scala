package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.util.AccumulatorContext

/** The two `private[spark]` hooks the tracer needs, reachable only from
  * inside the `org.apache.spark` package.
  */
object Internals {

  /** Block until every queued listener event has been delivered, so a
    * span's aggregates are complete before they are read.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Name of a registered accumulator (SQL metrics carry theirs, e.g.
    * "number of files read"), if it is still registered.
    */
  def accumulatorName(id: Long): Option[String] =
    AccumulatorContext.get(id).flatMap(_.name)
}
