package trafficbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{BenchSql, SparkSession}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each library layer, and the
  * Spark execution statistics attributed to them.
  *
  * A span sets the calling thread's Spark job group to the span name, so
  * every job, stage, task and SQL execution the call starts carries it.
  * A [[SparkListener]] sums task metrics per span, a
  * [[QueryExecutionListener]] records each query's planning phases and
  * its executed plan's operator metrics, and a [[StreamingQueryListener]]
  * keeps the micro-batch progress reports. Only the measured phase and
  * set-up work run under [[recording]] are recorded; events are drained
  * from the listener bus before reading.
  */
final class Tracer {

  final class Agg {
    var calls = 0L; var wallNs = 0L
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleReadB = 0L; var shuffleWriteB = 0L; var inputB = 0L
    var planMs = 0L
    // stages that ran a Window operator
    var windowStageMs = 0L; var windowSpillB = 0L
    val windowTaskMs = mutable.ArrayBuffer.empty[Long]
    // executed-plan operator metrics, summed by key
    val op = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var peakCacheB = 0L
  }

  private val aggs = new ConcurrentHashMap[String, Agg]()
  def agg(name: String): Agg = aggs.computeIfAbsent(name, _ => new Agg)

  @volatile private var measuring = false
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val windowStages = ConcurrentHashMap.newKeySet[Int]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val stageSpill = new ConcurrentHashMap[Int, java.lang.Long]()
  private val execSpan = new ConcurrentHashMap[Long, String]()
  private val queryExec = new java.util.IdentityHashMap[QueryExecution, java.lang.Long]()
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[(QueryExecution, Long, Map[String, Double])]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (measuring) {
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
          val a = agg(g); a.synchronized { a.jobs += 1 }
          e.stageIds.foreach(stageSpan.put(_, g))
        }
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (BenchBus.scopeNames(e.stageInfo).contains("Window")) windowStages.add(e.stageInfo.stageId)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        Option(stageSpan.get(s.stageId)).foreach { g =>
          val a = agg(g)
          a.synchronized {
            a.stages += 1
            if (windowStages.contains(s.stageId)) {
              a.windowStageMs += s.completionTime.getOrElse(0L) - s.submissionTime.getOrElse(0L)
              a.windowTaskMs ++= Option(stageTaskMs.get(s.stageId)).getOrElse(Nil)
              a.windowSpillB += Option(stageSpill.get(s.stageId)).map(_.longValue).getOrElse(0L)
            }
          }
        }
        stageTaskMs.remove(s.stageId); stageSpill.remove(s.stageId)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        Option(stageSpan.get(e.stageId)).filter(_ => m != null).foreach { g =>
          val a = agg(g)
          a.synchronized {
            a.tasks += 1
            a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
            a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
            a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
            a.inputB += m.inputMetrics.bytesRead
          }
          if (windowStages.contains(e.stageId)) {
            stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
              .synchronized(stageTaskMs.get(e.stageId) += e.taskInfo.duration)
            stageSpill.merge(e.stageId, m.diskBytesSpilled, (x, y) => x + y)
          }
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if measuring =>
          s.jobGroupId.foreach(g => execSpan.put(s.executionId, g))
        case s: SparkListenerSQLExecutionEnd if measuring =>
          BenchSql.query(s).foreach(q => queryExec.synchronized(queryExec.put(q, java.lang.Long.valueOf(s.executionId))))
        case _ =>
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (measuring) {
          val planMs = qe.tracker.phases.values.map(_.durationMs).sum
          queries.add((qe, planMs, Tracer.planMetrics(qe.executedPlan)))
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (measuring) progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }

  def startMeasure(spark: SparkSession): Unit = {
    BenchBus.drain(spark.sparkContext)
    measuring = true
  }

  /** Record the spans `body` opens (set-up work) as the measured phase's
    * are recorded. */
  def recording[T](spark: SparkSession)(body: => T): T = {
    startMeasure(spark)
    try body
    finally { BenchBus.drain(spark.sparkContext); measuring = false }
  }

  /** Drain the bus and attribute each recorded query to its span. */
  def finish(spark: SparkSession): Unit = {
    BenchBus.drain(spark.sparkContext)
    measuring = false
    queries.asScala.foreach { case (qe, planMs, ops) =>
      Option(queryExec.synchronized(queryExec.get(qe))).flatMap(id => Option(execSpan.get(id.longValue))).foreach { g =>
        val a = agg(g)
        a.synchronized {
          a.planMs += planMs
          ops.foreach { case (k, v) => a.op(k) += v }
        }
      }
    }
  }

  /** Run `body` as one call of span `name`. While it runs, a sampler
    * records the peak size of cached RDD blocks when `sampleCache`. */
  def span[T](spark: SparkSession, name: String, sampleCache: Boolean = false)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(name, name)
    @volatile var done = false
    val sampler = if (!sampleCache) None else Some(new Thread(() => {
      val a = agg(name)
      while (!done) {
        val b = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
        a.synchronized { if (b > a.peakCacheB) a.peakCacheB = b }
        Thread.sleep(25)
      }
    }))
    sampler.foreach { t => t.setDaemon(true); t.start() }
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = System.nanoTime() - t0
      done = true
      sampler.foreach(_.join())
      if (measuring) { val a = agg(name); a.synchronized { a.calls += 1; a.wallNs += dt } }
      if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prev)
    }
  }
}

object Tracer {

  /** Every operator of an executed plan, looking through adaptive query
    * stages, reused exchanges and the plans behind cached relations. */
  def operators(p: SparkPlan): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => Nil
    }
    p +: (p.children ++ inner).flatMap(operators)
  }

  private def rows(p: SparkPlan): Double =
    p.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)

  /** The operator metrics the per-layer table reads, from one query:
    *  - `join.rows`, `join.ms`: output rows of the inner equi-join with the
    *    most output (E1's fan-out join, the spatial grid join), and the
    *    pipeline time of the whole-stage-codegen stage that holds it;
    *  - `dedup.rows`: output rows of the final all-column distinct
    *    aggregate (`dropDuplicates`);
    *  - `scan.rows`: rows produced by file scans.
    */
  def planMetrics(plan: SparkPlan): Map[String, Double] = {
    val ops = operators(plan)
    val joins = ops.collect { case j: BaseJoinExec if j.joinType == Inner => j }
    val join = if (joins.isEmpty) None else Some(joins.maxBy(rows))
    val joinMs = join.toSeq.flatMap { j =>
      ops.collect { case w: WholeStageCodegenExec if w.child.find(_ eq j).isDefined => w }
        .take(1).flatMap(_.metrics.get("pipelineTime").map(_.value.toDouble))
    }.sum
    val dedups = ops.collect {
      case h: HashAggregateExec if h.aggregateExpressions.isEmpty && h.groupingExpressions.size >= 8 => rows(h)
    }
    val scanRows = ops.filter(_.nodeName.startsWith("Scan ")).map(rows).sum
    Map("join.rows" -> join.map(rows).getOrElse(0.0), "join.ms" -> joinMs,
      "dedup.rows" -> (if (dedups.isEmpty) 0.0 else dedups.min), "scan.rows" -> scanRows)
  }
}
