package org.apache.spark.scheduler.perfbench

import org.apache.spark.SparkContext

/** The one scheduler-internal value the engine-metrics drain needs: how
  * many jobs the DAG scheduler has submitted so far. It lives in a
  * package under `org.apache.spark.scheduler` because the accessor is
  * package-private there; the count is exact and never lags, unlike
  * anything fed through the listener bus itself.
  */
object JobCount {
  def submitted(sc: SparkContext): Int = sc.dagScheduler.numTotalJobs
}
