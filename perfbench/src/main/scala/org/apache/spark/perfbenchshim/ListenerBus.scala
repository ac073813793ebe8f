package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which Spark keeps package-private:
  * the tracer drains it at span boundaries so every listener event lands in
  * the span whose work posted it. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
