package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two engine internals the benchmark's tracer needs, reachable only
  * from inside the `org.apache.spark` package: draining the listener bus
  * (so a span's events are all delivered before the next span closes) and
  * telling a shuffle-map stage (one exchange) from a result stage.
  */
object PerfBenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def isShuffleMap(info: StageInfo): Boolean = info.shuffleDepId.nonEmpty
}
