package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two package-private Spark facts the benchmark's tracer reads: when
  * the listener bus has delivered every posted event, and which plan
  * operators (RDD operation scopes) a stage ran. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def scopeNames(stage: StageInfo): Seq[String] =
    stage.rddInfos.flatMap(_.scope.map(_.name)).toSeq
}
