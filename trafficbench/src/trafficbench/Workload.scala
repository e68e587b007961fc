package trafficbench

import org.apache.spark.sql.SparkSession

/** One workload: inputs from the seed, set-up, and rounds of operations.
  * A round always attempts the same operations, so the share of failed
  * operations does not depend on how many rounds fit in a run. */
trait Workload {
  type Metric = (String, (Double, String))

  /** Generate the seeded inputs (written once per seed) and the values
    * the checks need. Not part of `setup_s`. */
  def prepare(): Unit

  /** Everything a user pays before the first operation besides the
    * session and the warm-up: fitted models, built files. Part of `setup_s`. */
  def setup(spark: SparkSession, tracer: Option[Tracer]): Unit

  /** One whole round of operations, each timed and checked. */
  def round(spark: SparkSession, stats: Stats, tracer: Option[Tracer]): Unit

  /** Rounds before the measurement, a fixed amount of work: one round by
    * default. Part of `setup_s`; their checks count towards `correct`. */
  def warmUp(spark: SparkSession, stats: Stats, tracer: Option[Tracer]): Unit =
    round(spark, stats, tracer)

  /** Whole rounds until `seconds` have passed. */
  def measure(spark: SparkSession, stats: Stats, tracer: Option[Tracer], seconds: Int): Unit = {
    val end = System.nanoTime() + seconds * 1000000000L
    do { round(spark, stats, tracer); stats.rounds += 1 } while (System.nanoTime() < end)
  }

  /** Checks of what set-up built, made after the measurement so that
    * neither `setup_s` nor the rounds pay for them. */
  def finalChecks(spark: SparkSession, stats: Stats): Unit = ()

  def teardown(): Unit = ()

  /** Checks that fail today because of a known fault in the program. */
  def knownFaults: Set[String] = Set.empty

  /** `op_p50_ms`, `step_p50_ms` and `throughput_per_s` of this workload. */
  def endToEnd(stats: Stats): Seq[Metric]

  /** The workload's own named figures, printed on the detail line. */
  def detail(stats: Stats): Seq[Metric]

  /** Per-layer values the workload counts itself (traced runs). */
  def tracedCounts(stats: Stats): Map[String, Double] = Map.empty

  protected def span[T](spark: SparkSession, tracer: Option[Tracer], name: String,
      sampleCache: Boolean = false)(body: => T): T =
    tracer.fold(body)(_.span(spark, name, sampleCache)(body))

  protected def p50(stats: Stats, series: String): Double = Main.median(stats.series(series))
}
