package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * task-end events arrive asynchronously, so metrics are read only after
  * every event posted so far has been delivered. */
object PerfbenchBus {
  /** The local property that carries `SparkContext.setJobGroup`'s id. */
  val JobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
