package trafficbench

import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.metrics.Metrics
import graft.ml.{Models, SegmentedModel}
import graft.operators.Relational
import graft.pipelines.TrainingPipeline
import graft.sources.Tables

/** E1 batch training: traffic and weather CSVs → feature table (fan-out
  * join, trailing windows, calendar features) → temporal split → segmented
  * GBT fit → holdout metrics.
  *
  * A round is six operations: the materialized feature table, the full
  * `TrainingPipeline.run`, and four checks. There is no warm-up: like the
  * reference's training script, a batch job runs once in a fresh process,
  * so its user pays the JVM's warm-up on every run, and a fixed warm state
  * (none) keeps runs comparable where a partial warm-up drifts for
  * minutes. A round outlasts `--seconds`, so a run is one round. The event-calendar check fails
  * today: `featureTable` flags holidays of 2024 only, while the inputs span
  * 2021-2024 and always hold Independence Day and Thanksgiving counts.
  */
final class E1Train(o: Main.Opts) extends Workload {
  val StudiesPerYear = 10
  val GbtIter = 1
  val SpanHours = 48

  private var data: Gen.E1Data = _
  private var dir: java.nio.file.Path = _
  private var span: Seq[Oracle.FeatureRow] = Nil
  private var spanKey: (String, LocalDateTime, LocalDateTime) = _

  override def knownFaults: Set[String] = Set("event_calendar")

  def prepare(): Unit = {
    data = new Gen.E1Data(o.seed, StudiesPerYear)
    dir = Main.path(o.data, s"e1_train-${Gen.Version}-${o.seed}-$StudiesPerYear")
    data.write(dir)
    val rng = new Gen.Rng(o.seed + 31)
    val b = Gen.Boroughs(rng.int(5))
    val rows = data.features.filter(_.borough == b)
    val from = rows(rng.int(rows.size)).date
    spanKey = (b, from, from.plusHours(SpanHours))
    span = rows.filter(r => !r.date.isBefore(from) && !r.date.isAfter(spanKey._3))
  }

  def setup(spark: SparkSession, tracer: Option[Tracer]): Unit = ()

  override def warmUp(spark: SparkSession, stats: Stats, tracer: Option[Tracer]): Unit = ()

  private def inputs(spark: SparkSession): (DataFrame, DataFrame) = (
    Tables.csv(spark, dir.resolve("traffic").toString, Tables.trafficSchema),
    Tables.csv(spark, dir.resolve("weather").toString, Tables.weatherSchema))

  private def local(r: Row, i: Int): LocalDateTime =
    LocalDateTime.ofInstant(r.getTimestamp(i).toInstant, ZoneOffset.UTC)

  private def test(feat: DataFrame): DataFrame = {
    val Array(cut) = feat.withColumn("__dm", unix_micros(col("date")))
      .stat.approxQuantile("__dm", Array(0.8), 0.001)
    Relational.temporalSplitAt(feat, "date", timestamp_micros(lit(cut.toLong)))._2
  }

  def round(spark: SparkSession, stats: Stats, tracer: Option[Tracer]): Unit = {
    val (traffic, weather) = inputs(spark)
    val (feat, n) = stats.time("e1_features") {
      span(spark, tracer, "e1.features") {
        val f = TrainingPipeline.featureTable(traffic, weather).cache()
        (f, f.count())
      }
    }
    try {
      val res = stats.time("e1_train") {
        span(spark, tracer, "e1.train")(TrainingPipeline.run(spark, traffic, weather, GbtIter))
      }
      stats.check("feature_rows", Checks.equal("feature rows", data.features.size.toLong, n))

      val (b, from, to) = spanKey
      val cols = Seq("borough", "date", "RequestID", "Vol", "vol_lag_1", "vol_roll_3", "vol_roll_24") ++
        TrainingPipeline.featureCols.take(6)
      val actual = feat.filter(col("borough") === b &&
          col("date").between(Gen.ts(from), Gen.ts(to)))
        .select(cols.map(col): _*).collect().toSeq.map(r => Oracle.ActualFeature(
          r.getString(0), local(r, 1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), (7 until 13).map(r.getDouble)))
      stats.check("lag_roll_cyclical", Checks.featureSpan(span, actual))

      // R² of the fitted model on the holdout, recomputed from the
      // collected pairs, against Metrics.r2 over the same rows and against
      // the R² TrainingPipeline.run reports (the same quantile cut)
      val holdout = test(feat)
      val scored = res.model.transform(holdout).select("Vol", "prediction").cache()
      val pairs = scored.collect().toSeq.map(r => (r.getDouble(0), r.getDouble(1)))
      val reported = scored.agg(Metrics.r2(col("Vol"), col("prediction"))).head().getDouble(0)
      scored.unpersist(true)
      stats.check("holdout_r2", Checks.r2(pairs, reported).flatMap(_ =>
        Checks.r2(pairs, res.r2).left.map(e => s"TrainingPipeline.run: $e")))
      stats.record("holdout_r2", res.r2)

      val events = feat.filter(col("is_event") === 1).count()
      stats.check("event_calendar",
        Checks.equal("is_event rows (federal holidays of every year + heavy snow)",
          data.features.count(_.isEvent).toLong, events))

      tracer.foreach { _ =>
        stats.add("functions.is_holiday_rows", feat.filter(col("is_holiday") === 1).count().toDouble)
        stats.add("functions.is_event_rows", events.toDouble)
        stats.add("e1.feature_rows", n.toDouble)
        // The fit, scoring and metric layers one by one, on the same split
        // the pipeline makes.
        val train = Relational.temporalSplitAt(feat, "date",
          timestamp_micros(lit(feat.withColumn("__dm", unix_micros(col("date")))
            .stat.approxQuantile("__dm", Array(0.8), 0.001).head.toLong)))._1
        val model = span(spark, tracer, "ml.fit", sampleCache = true) {
          SegmentedModel.fit(train, "is_event", (f, p) => Models.gbt(TrainingPipeline.featureCols,
            "vol_log", maxIter = GbtIter, featuresCol = f, predictionCol = p),
            predictionCol = "prediction", expm1Inverse = true)
        }
        val scored = model.transform(holdout).cache()
        span(spark, tracer, "ml.transform")(scored.count())
        span(spark, tracer, "metrics.eval") {
          scored.agg(Metrics.r2(col("Vol"), col("prediction")), Metrics.mae(col("Vol"), col("prediction")),
            Metrics.mapeNonzero(col("Vol"), col("prediction"))).head()
        }
        scored.unpersist(true)
      }
    } finally feat.unpersist(true)
  }

  /** CPU time of the Java threads, not wall time: a cold round's wall
    * time tracks the host's CPU steal (at 13-25% steal runs took up to 50%
    * longer), while its CPU time does not. It misses time spent waiting,
    * lost parallelism (fewer tasks than cores), and the JIT compiler and
    * GC threads, which are not Java threads; the wall times are on the
    * detail line. */
  def endToEnd(stats: Stats): Seq[Metric] = Seq(
    "op_p50_ms" -> (p50(stats, "e1_train_cpu"), "ms"),
    "step_p50_ms" -> (p50(stats, "e1_features_cpu"), "ms"),
    "throughput_per_s" -> (data.features.size / (p50(stats, "e1_train_cpu") / 1000), "1/s"))

  def detail(stats: Stats): Seq[Metric] = Seq(
    "e1_features_s" -> (p50(stats, "e1_features") / 1000, "s"),
    "e1_train_s" -> (p50(stats, "e1_train") / 1000, "s"),
    "e1_features_cpu_s" -> (p50(stats, "e1_features_cpu") / 1000, "s"),
    "e1_train_cpu_s" -> (p50(stats, "e1_train_cpu") / 1000, "s"),
    "holdout_r2" -> (p50(stats, "holdout_r2"), "1"),
    "feature_rows" -> (data.features.size.toDouble, "count"),
    "traffic_rows" -> (data.traffic.size.toDouble, "count"),
    "weather_rows" -> (data.weather.size.toDouble, "count"))

  override def tracedCounts(stats: Stats): Map[String, Double] =
    stats.counters.toMap.map { case (k, v) => k -> v / math.max(1, stats.rounds) }
}
