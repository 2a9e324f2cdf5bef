package org.apache.spark

/** Reaches the `private[spark]` hooks the benchmark needs. */
object PerfbenchBridge {
  /** Waits until every listener event posted so far has been delivered,
    * so counters read after a unit of work are complete. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (input, output, shuffle write) bytes summed over every stage the
    * always-on status store retains. */
  def stageBytes(sc: SparkContext): (Long, Long, Long) = {
    val st = sc.statusStore.stageList(null)
    (st.map(_.inputBytes).sum, st.map(_.outputBytes).sum, st.map(_.shuffleWriteBytes).sum)
  }
}
