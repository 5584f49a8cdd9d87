package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.util.AccumulatorContext

/** The two scheduler internals the benchmark's listeners need, reached
  * from inside the `org.apache.spark` package. */
object Bus {

  /** Block until every listener has seen every event posted so far, so
    * counters read after a phase include that phase's last jobs. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Display name of a live accumulator (SQL metrics carry theirs). */
  def accumName(id: Long): Option[String] =
    AccumulatorContext.get(id).flatMap(_.name)
}
