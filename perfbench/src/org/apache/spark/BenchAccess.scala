package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two Spark internals the benchmark's listener needs and Spark
  * keeps package-private: draining the listener bus (so a pass's task
  * events are all counted before its figures are read) and the
  * operator scope names of a stage's RDDs (so a stage can be told to be
  * a `groupByKey` reduce stage). */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def scopeNames(si: StageInfo): Seq[String] = si.rddInfos.flatMap(_.scope.map(_.name)).toSeq
}
