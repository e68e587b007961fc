package trafficbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.geo.{GeoOps, SpatialJoin}
import graft.ml.Models
import graft.pipelines.{GeoPipeline, ServingPipeline}
import graft.sources.Tables

/** The serving layer: `/predict` (the 9-field request through the
  * DataFrame path and through `predictLocal`, against a fitted OLS and a
  * fitted GBT model) and `/map` (borough + year filter over the point
  * features, collected).
  *
  * Set-up fits both models and runs the E3 build whose output `/map`
  * serves: traffic CSV → point features (WKT parse, EPSG:2263 inverse)
  * written as GeoJSON lines and as the `/map` table → nearest road edge of
  * every point → LineString features written. The build's outputs are
  * checked after the measurement (projection control points, the point
  * features, the line features, and the snap of a sample of points
  * against a brute-force search).
  *
  * A round is five requests: four `/predict` (one OLS, three GBT, the
  * served model) and one `/map`; each request is a timed operation and a
  * check. After a warm-up of a fixed number of rounds, the first half of
  * the run is `cores` clients in closed loops (the capacity phase); the
  * second half is a single client in a closed loop (the latency phase).
  */
final class ApiServe(o: Main.Opts) extends Workload {
  val TrainRows = 1000
  val Requests = 64
  val MapPoints = 4000
  val Edges = 1500
  val SnapSample = 400
  val GbtIter = 2
  val WarmUpRoundsPerClient = 6

  private var api: Gen.ApiData = _
  private var geo: Gen.GeoData = _
  private var geoDir: Path = _
  private var out: Path = _
  private var beta: Array[Double] = _
  private var reg: ServingPipeline.Registry = _
  private var features: DataFrame = _
  private var mapQueries: Seq[(String, Int, Int)] = Nil
  private var truth: Map[Long, (Double, Double)] = Map.empty
  private var sample: Seq[(Long, Double, Double)] = Nil
  private var geoBuildMs = 0.0
  private val next = new AtomicLong()
  /** Requests, wall seconds and process CPU seconds of the capacity phase. */
  @volatile private var capacity: (Long, Double, Double) = (0L, 1.0, 1.0)

  val EdgeSchema: StructType = StructType(Seq("edge_id" -> LongType, "ax" -> DoubleType,
    "ay" -> DoubleType, "bx" -> DoubleType, "by" -> DoubleType, "a_lon" -> DoubleType,
    "a_lat" -> DoubleType, "b_lon" -> DoubleType, "b_lat" -> DoubleType).map { case (n, t) => StructField(n, t) })

  def prepare(): Unit = {
    api = new Gen.ApiData(o.seed, TrainRows, Requests)
    beta = Oracle.ols(api.train)
    geo = new Gen.GeoData(o.seed, MapPoints, Edges)
    geoDir = Main.path(o.data, s"api_serve-${Gen.Version}-${o.seed}-$MapPoints-$Edges")
    geo.write(geoDir, withEdges = true)
    out = Main.path(o.work, "geo")
    truth = geo.valid.map { case (t, lon, lat) => t.reqId -> (lon, lat) }.toMap
    val rng = new Gen.Rng(o.seed + 51)
    // borough spelled in mixed case: the filter is case-insensitive
    mapQueries = Seq.fill(16) {
      val b = Gen.Boroughs(rng.int(5)); val y = Gen.Years(rng.int(Gen.Years.size))
      val spelled = if (rng.int(2) == 0) b.toUpperCase else b.toLowerCase
      (spelled, y, geo.perBoroughYear.getOrElse((b, y), 0))
    }
    sample = Seq.fill(SnapSample)(geo.valid(rng.int(geo.valid.size)))
      .map { case (t, _, _) => (t.reqId, t.x.toDouble, t.y.toDouble) }.distinct
  }

  def setup(spark: SparkSession, tracer: Option[Tracer]): Unit = {
    val schema = StructType(Gen.RequestFields.map(StructField(_, DoubleType)) :+ StructField("vol_log", DoubleType))
    val train = spark.createDataFrame(api.train.map { case (x, y) => Row.fromSeq(x.toSeq :+ y) }.asJava, schema)
    val ols = Models.ols(Gen.RequestFields, "vol_log").fit(train)
    val gbt = Models.gbt(Gen.RequestFields, "vol_log", maxIter = GbtIter, maxDepth = 3).fit(train)
    reg = ServingPipeline.registry("ols" -> ols, "gbt" -> gbt)
    val t0 = System.nanoTime()
    tracer.fold(geoBuild(spark, None))(t => t.recording(spark)(geoBuild(spark, tracer)))
    geoBuildMs = (System.nanoTime() - t0) / 1e6
    features = Tables.jsonl(spark, out.resolve("map").toString, StructType(Seq(
      StructField("RequestID", LongType), StructField("Boro", StringType), StructField("ts", TimestampType),
      StructField("vol", DoubleType), StructField("lon", DoubleType), StructField("lat", DoubleType),
      StructField("feature", StringType))))
  }

  /** The E3 build: point features, written as GeoJSON lines and as the
    * `/map` table, then the nearest edge of every point as LineString
    * features. Each layer's output is materialized in its own span. */
  private def geoBuild(spark: SparkSession, tracer: Option[Tracer]): Unit = {
    val traffic = Tables.csv(spark, geoDir.resolve("traffic").toString, Tables.trafficSchema)
    val edges = Tables.csv(spark, geoDir.resolve("edges").toString, EdgeSchema)
    def materialized(name: String, df: DataFrame): DataFrame =
      span(spark, tracer, name) { val c = df.cache(); c.count(); c }
    def write(body: => Unit): Unit = span(spark, tracer, "geo.write")(body)

    val feats = materialized("geo.features", GeoPipeline.buildFeatures(traffic))
    write {
      Tables.writeGeoJsonLines(feats.select("feature"), out.resolve("points").toString)
      Tables.writeJsonl(feats, out.resolve("map").toString)
    }
    val pts = traffic.select(col("RequestID"), GeoOps.wktPointX(col("WktGeom")).as("x"),
        GeoOps.wktPointY(col("WktGeom")).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val snapped = materialized("geo.snap", SpatialJoin.nearestEdge(pts, "RequestID", edges, "edge_id",
      "x", "y", "ax", "ay", "bx", "by"))
    write(Tables.writeGeoJsonLines(
      snapped.join(edges, snapped("nearest_edge") === edges("edge_id"))
        .select(GeoOps.lineFeature(array(array(col("a_lon"), col("a_lat")), array(col("b_lon"), col("b_lat"))),
          struct(col("RequestID"), col("edge_id"), sqrt(col("dist_sq")).as("dist_ft"))).as("feature")),
      out.resolve("lines").toString))
    feats.unpersist(true); snapped.unpersist(true)
  }

  private def readLines(p: Path): Seq[String] = {
    val files = Files.list(p)
    try files.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq.sorted
      .flatMap(f => Files.readAllLines(f, StandardCharsets.UTF_8).asScala)
    finally files.close()
  }

  override def finalChecks(spark: SparkSession, stats: Stats): Unit = {
    // EPSG:2263 by definition: the false origin (984250 ftUS, 0) is
    // (74°W, 40°10'N), and the central meridian x = 984250 is 74°W.
    import spark.implicits._
    val control = Seq((1L, "POINT (984250 0)"), (2L, "POINT (984250 200000)"))
      .map { case (id, wkt) => (id, "Manhattan", 2024, 1, 1, 0, 0, "1", 1L, wkt, "", "", "", "") }
      .toDF(Tables.trafficSchema.fieldNames.toSeq: _*)
    val cp = GeoPipeline.buildFeatures(control).orderBy("RequestID").select("lon", "lat").collect()
    stats.check("crs_control_points",
      if (cp.length == 2 && math.abs(cp(0).getDouble(0) + 74) < 1e-9 &&
          math.abs(cp(0).getDouble(1) - (40 + 10 / 60.0)) < 1e-6 && math.abs(cp(1).getDouble(0) + 74) < 1e-9) Checks.ok
      else Left(s"control points map to ${cp.map(r => (r.getDouble(0), r.getDouble(1))).mkString(", ")}"))

    stats.check("point_features", Checks.points(readLines(out.resolve("points")), truth))

    val parsed = Checks.parseFeatures(readLines(out.resolve("lines")), "LineString")
    stats.check("line_features", parsed.flatMap(fs => Checks.equal("line features", truth.size, fs.size)))
    val chosen = parsed.getOrElse(Nil).map { case (p, _) => p.path("RequestID").asLong() -> p.path("edge_id").asLong() }.toMap
    stats.check("snap_bruteforce", Checks.snap(sample, chosen, geo.edges))
  }

  private def request(x: Array[Double]) = ServingPipeline.PredictRequest(
    x(0), x(1), x(2), x(3), x(4), x(5), x(6), x(7), x(8))

  /** One `/predict`: the DataFrame path and the local-vector path. OLS is
    * checked against the normal-equation solution, GBT's two paths
    * against each other. */
  private def predict(spark: SparkSession, stats: Stats, tracer: Option[Tracer], i: Long, model: String): Unit = {
    val x = api.requests((i % Requests).toInt)
    val req = request(x)
    val df = stats.time(s"predict_$model") {
      span(spark, tracer, "serving.predict")(ServingPipeline.predict(spark, reg, model, req))
    }
    val t0 = System.nanoTime()
    val local = ServingPipeline.predictLocal(reg, model, req)
    stats.record("predict_local_us", (System.nanoTime() - t0) / 1e3)
    stats.check(s"predict_$model", model match {
      case "ols" =>
        val want = Oracle.olsPredict(beta, x)
        Checks.prediction("OLS DataFrame path", want, df).flatMap(_ => Checks.prediction("OLS predictLocal", want, local))
      case _ => Checks.prediction("GBT DataFrame path vs predictLocal", local, df, 1e-12)
    })
  }

  private def map(spark: SparkSession, stats: Stats, tracer: Option[Tracer], i: Long): Unit = {
    val (borough, year, expected) = mapQueries((i % mapQueries.size).toInt)
    val rows = stats.time("map") {
      span(spark, tracer, "serving.map")(GeoPipeline.filterFeatures(features, borough, year).select("feature").collect())
    }
    if (tracer.isDefined) stats.add("serving.map_rows_returned", rows.length.toDouble)
    stats.check("map_count", Checks.equal(s"/map $borough $year features", expected, rows.length))
  }

  def round(spark: SparkSession, stats: Stats, tracer: Option[Tracer]): Unit = {
    val i = next.getAndIncrement()
    predict(spark, stats, tracer, 4 * i, "ols")
    predict(spark, stats, tracer, 4 * i + 1, "gbt")
    predict(spark, stats, tracer, 4 * i + 2, "gbt")
    predict(spark, stats, tracer, 4 * i + 3, "gbt")
    map(spark, stats, tracer, i)
  }

  /** `WarmUpRoundsPerClient` rounds from each of `cores` clients: a
    * request's latency keeps falling for several seconds while the JIT
    * compiles the serving path. */
  override def warmUp(spark: SparkSession, stats: Stats, tracer: Option[Tracer]): Unit = {
    val clients = (1 to o.cores).map { _ =>
      val t = new Thread(() => (1 to WarmUpRoundsPerClient).foreach(_ => round(spark, stats, tracer)))
      t.start(); t
    }
    clients.foreach(_.join())
  }

  /** The capacity phase first, the latency phase second: a single client
    * measured right after the warm-up still sees the JIT at work. */
  override def measure(spark: SparkSession, stats: Stats, tracer: Option[Tracer], seconds: Int): Unit = {
    val half = seconds * 500000000L
    // capacity phase: its own Stats for timings, shared counts
    val cap = new Stats
    val cpu0 = Cpu.processMs() / 1000
    val t0 = System.nanoTime()
    val stop = t0 + half
    val clients = (1 to o.cores).map { _ =>
      val t = new Thread(() => {
        do { round(spark, cap, tracer) } while (System.nanoTime() < stop)
      })
      t.start(); t
    }
    clients.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    val rounds = cap.series("map").size
    capacity = (5L * rounds, wall, Cpu.processMs() / 1000 - cpu0)
    stats.rounds += rounds
    stats.attempted += cap.attempted; stats.failed += cap.failed
    cap.checks.foreach { case (n, c) =>
      val s = stats.checks.getOrElseUpdate(n, new stats.Count); s.pass += c.pass; s.fail += c.fail
    }
    stats.errors ++= cap.errors
    Seq("predict_gbt", "predict_ols", "map").foreach(k => cap.series(k).foreach(stats.record(s"capacity_$k", _)))
    cap.counters.foreach { case (k, v) => stats.add(k, v) }

    val end = System.nanoTime() + half
    do { round(spark, stats, tracer); stats.rounds += 1 } while (System.nanoTime() < end)
  }

  private def serveRps: Double = capacity._1 / capacity._2

  /** The single-client figures are the CPU time of a request on every
    * Java thread (client, executors), not wall time: single-client request
    * latency here tracks the host's CPU steal (runs with 4-5% steal were
    * 25-35% slower than runs with under 1%), while the CPU a request costs
    * does not. They miss time a request spends waiting (locks, blocking
    * calls, the scheduler); the wall-clock requests per second of the
    * capacity phase see it. The wall latencies are on the detail line. */
  def endToEnd(stats: Stats): Seq[Metric] = Seq(
    "op_p50_ms" -> (p50(stats, "predict_gbt_cpu"), "ms"),
    "step_p50_ms" -> (p50(stats, "map_cpu"), "ms"),
    "throughput_per_s" -> (serveRps, "1/s"))

  /** The highest percentile with at least ten samples beyond it, when
    * that is above the median. */
  private def tail(stats: Stats, series: String): Seq[Metric] = {
    val xs = stats.series(series)
    val p = math.floor(100.0 * (1 - 10.0 / xs.size))
    if (p <= 50) Nil
    else Seq(s"${series}_tail_pct" -> (p, "%"), s"${series}_tail_ms" -> (Main.percentile(xs, p), "ms"))
  }

  def detail(stats: Stats): Seq[Metric] = {
    Seq("predict_p50_ms" -> (p50(stats, "predict_gbt"), "ms")) ++ tail(stats, "predict_gbt") ++ Seq(
      "predict_samples" -> (stats.series("predict_gbt").size.toDouble, "count"),
      "predict_ols_p50_ms" -> (p50(stats, "predict_ols"), "ms"),
      "predict_local_p50_us" -> (p50(stats, "predict_local_us"), "us"),
      "map_p50_ms" -> (p50(stats, "map"), "ms")) ++ tail(stats, "map") ++ Seq(
      "map_samples" -> (stats.series("map").size.toDouble, "count"),
      "serve_rps" -> (serveRps, "1/s"),
      "predict_cpu_p50_ms" -> (p50(stats, "predict_gbt_cpu"), "ms"),
      "map_cpu_p50_ms" -> (p50(stats, "map_cpu"), "ms"),
      "requests_per_cpu_s" -> (capacity._1 / capacity._3, "1/s"),
      "capacity_predict_p50_ms" -> (p50(stats, "capacity_predict_gbt"), "ms"),
      "capacity_map_p50_ms" -> (p50(stats, "capacity_map"), "ms"),
      "geo_build_s" -> (geoBuildMs / 1000, "s"),
      "points" -> (truth.size.toDouble, "count"), "edges" -> (Edges.toDouble, "count"))
  }

  override def tracedCounts(stats: Stats): Map[String, Double] = {
    def mean(k: String) = { val s = stats.series(k); if (s.isEmpty) 0.0 else s.sum / s.size }
    val single = (mean("predict_gbt") * 3 + mean("predict_ols") + mean("map")) / 5
    val loaded = (mean("capacity_predict_gbt") * 3 + mean("capacity_predict_ols") + mean("capacity_map")) / 5
    Map("serving.client_wait_ms" -> math.max(0.0, loaded - single),
      "serving.map_rows_returned" -> stats.counters.getOrElse("serving.map_rows_returned", 0.0),
      "geo.points" -> truth.size.toDouble,
      "geo.output_mb" -> Main.dirBytes(out)._2 / 1048576.0)
  }
}
