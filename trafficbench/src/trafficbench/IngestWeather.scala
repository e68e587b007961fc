package trafficbench

import java.net.{InetAddress, InetSocketAddress}
import java.nio.file.Path
import java.time.LocalDate
import java.util.concurrent.{ConcurrentHashMap, Executors, ExecutorService}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.{IngestClient, Streams}

/** Incremental weather ingest: rounds of new pages published on a
  * loopback HTTP fixture that refuses some requests with 429
  * (Retry-After: 0) and 503 first; `IngestClient.fetchAll` stages them,
  * `Streams.ingestAvailableNow` lands them through one persistent
  * checkpoint, and a read-back query verifies them.
  *
  * A round is three operations: the ingest (publish → rows readable), the
  * exactly-once check of every page landed so far, and the check that
  * the retries the client counted equal the refusals the server made.
  */
final class IngestWeather(o: Main.Opts) extends Workload {
  val PagesPerRound = 4

  private var pages: Gen.Pages = _
  private var server: HttpServer = _
  private var pool: ExecutorService = _
  private val published = ConcurrentHashMap.newKeySet[Int]()
  private val refusalsLeft = new ConcurrentHashMap[Int, AtomicInteger]()
  private val attempts = new AtomicInteger()
  private val refusals = new AtomicInteger()
  private val clientPorts = ConcurrentHashMap.newKeySet[Int]()
  private var nextPage = 0
  private var dirs: Path = _

  def prepare(): Unit = pages = new Gen.Pages(o.seed)

  private def serve(ex: HttpExchange): Unit = try {
    attempts.incrementAndGet()
    clientPorts.add(ex.getRemoteAddress.getPort)
    val p = ex.getRequestURI.getPath.stripPrefix("/page/").toIntOption.getOrElse(-1)
    if (!published.contains(p)) ex.sendResponseHeaders(404, -1)
    else {
      val left = refusalsLeft.get(p).getAndDecrement()
      if (left > 0) {
        refusals.incrementAndGet()
        if (left % 2 == 0) { ex.getResponseHeaders.set("Retry-After", "0"); ex.sendResponseHeaders(429, -1) }
        else ex.sendResponseHeaders(503, -1)
      } else {
        val body = pages.body(p)
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
      }
    }
  } finally ex.close()

  /** Starts the fixture and lands the first page, so the stream's
    * checkpoint exists before the rounds. */
  def setup(spark: SparkSession, tracer: Option[Tracer]): Unit = {
    dirs = Main.path(o.work, "ingest")
    server = HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
    pool = Executors.newFixedThreadPool(2)
    server.setExecutor(pool)
    server.createContext("/page/", ex => serve(ex))
    server.start()
    ingest(spark, None, 1)
  }

  override def teardown(): Unit = if (server != null) {
    server.stop(0); pool.shutdownNow(); server = null
  }

  /** Publish `n` new pages and ingest them; returns the client's report
    * and the fetch time in ms. */
  private def ingest(spark: SparkSession, tracer: Option[Tracer], n: Int): (IngestClient.FetchReport, Double) = {
    val fresh = nextPage until nextPage + n
    nextPage += n
    fresh.foreach { p => refusalsLeft.put(p, new AtomicInteger(pages.failures(p))); published.add(p) }
    val port = server.getAddress.getPort
    val t0 = System.nanoTime()
    val report = span(spark, tracer, "ingest.fetch") {
      IngestClient.fetchAll(fresh.map(p => IngestClient.Request(s"page-$p", s"http://127.0.0.1:$port/page/$p")),
        dirs.resolve("staging").toString, dirs.resolve("progress.log").toString, initialBackoffMs = 1L)
    }
    val fetchMs = (System.nanoTime() - t0) / 1e6
    span(spark, tracer, "stream.ingest") {
      Streams.ingestAvailableNow(spark, dirs.resolve("staging").toString, Tables.weatherSchema,
        dirs.resolve("dest").toString, dirs.resolve("checkpoint").toString, format = "csv")
    }
    (report, fetchMs)
  }

  def round(spark: SparkSession, stats: Stats, tracer: Option[Tracer]): Unit = {
    val (a0, r0, c0) = (attempts.get, refusals.get, clientPorts.size)
    val (f0, b0) = Main.dirBytes(dirs.resolve("dest"))
    val (report, fetchMs) = stats.time("ingest_round")(ingest(spark, tracer, PagesPerRound))
    stats.record("fetch", fetchMs)
    stats.add("ingest.rows", PagesPerRound.toDouble * pages.RowsPerPage)
    if (tracer.isDefined) {
      val (f1, b1) = Main.dirBytes(dirs.resolve("dest"))
      stats.add("ingest.http_attempts", attempts.get - a0)
      stats.add("ingest.retries", report.retries)
      stats.add("ingest.connections", clientPorts.size - c0)
      stats.add("stream.files_written", (f1 - f0).toDouble)
      stats.add("stream.bytes_written", (b1 - b0).toDouble)
    }
    val landed = spark.read.parquet(dirs.resolve("dest").toString)
      .groupBy(to_date(col("date")).as("d")).count().collect()
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    val expected: Map[LocalDate, Long] = (0 until nextPage).map(p => pages.day(p) -> pages.RowsPerPage.toLong).toMap
    stats.check("pages_exactly_once", Checks.pages(expected, landed))
    stats.check("retries_equal_refusals",
      Checks.equal("retries counted by the client vs refusals made by the server", refusals.get - r0, report.retries))
  }

  /** Rows landed per second of the rounds' wall or CPU time. */
  private def rowsPer(stats: Stats, series: String): Double =
    stats.counters.getOrElse("ingest.rows", 0.0) / (stats.series(series).sum / 1000)

  /** The round is the Java threads' CPU time, not wall time: a round's
    * wall time tracks the host's CPU steal (at 13-18% steal rounds took
    * 30-40% longer), while its CPU time does not. CPU time misses time
    * spent waiting (back-off, stream start and stop); the wall times are
    * on the detail line. The fetch is wall time: it is mostly waiting on
    * the fixture, and its wall time stayed within 0.13 of its median at
    * that steal. */
  def endToEnd(stats: Stats): Seq[Metric] = Seq(
    "op_p50_ms" -> (p50(stats, "ingest_round_cpu"), "ms"),
    "step_p50_ms" -> (p50(stats, "fetch"), "ms"),
    "throughput_per_s" -> (rowsPer(stats, "ingest_round_cpu"), "1/s"))

  def detail(stats: Stats): Seq[Metric] = Seq(
    "ingest_round_p50_ms" -> (p50(stats, "ingest_round"), "ms"),
    "ingest_rows_per_s" -> (rowsPer(stats, "ingest_round"), "1/s"),
    "fetch_p50_ms" -> (p50(stats, "fetch"), "ms"),
    "ingest_round_cpu_p50_ms" -> (p50(stats, "ingest_round_cpu"), "ms"),
    "pages_landed" -> (nextPage.toDouble, "count"))

  override def tracedCounts(stats: Stats): Map[String, Double] =
    stats.counters.toMap.map { case (k, v) => k -> v / math.max(1, stats.rounds) }
}
