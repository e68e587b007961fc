package trafficbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{LocalDate, LocalDateTime}

import scala.collection.mutable

/** Seeded input generators. Everything a check needs to know about the
  * inputs is computed here, in plain Scala, from the generator's own
  * arithmetic; nothing here calls the library. */
object Gen {

  /** Part of every cached input's directory name; bump on any change to
    * what the generators write. */
  val Version = "v2"

  val Boroughs: Seq[String] = Seq("Manhattan", "Brooklyn", "Queens", "Bronx", "Staten Island")
  val Years: Seq[Int] = 2021 to 2024

  /** Lon/lat boxes the generated points of each borough fall in. */
  val BoroughBox: Map[String, (Double, Double, Double, Double)] = Map(
    "Manhattan" -> (-74.02, -73.93, 40.70, 40.88),
    "Brooklyn" -> (-74.04, -73.86, 40.57, 40.74),
    "Queens" -> (-73.96, -73.70, 40.54, 40.80),
    "Bronx" -> (-73.93, -73.77, 40.79, 40.92),
    "Staten Island" -> (-74.26, -74.05, 40.49, 40.65))
  /** NYC bounding box (lon min, lon max, lat min, lat max). */
  val NycBox: (Double, Double, Double, Double) = (-74.27, -73.68, 40.48, 40.93)

  final class Rng(seed: Long) {
    private val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 12345L)
    def int(n: Int): Int = r.nextInt(n)
    def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def double(): Double = r.nextDouble()
    def uniform(lo: Double, hi: Double): Double = lo + (hi - lo) * r.nextDouble()
    def gaussian(): Double = {
      val u = math.max(r.nextDouble(), 1e-12); val v = r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
  }

  /** Write `lines` to `path` atomically (temp file + rename), so a
    * cached input is either whole or absent. */
  def writeLines(path: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = Files.createTempFile(path.getParent, ".gen", ".tmp")
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(tmp), StandardCharsets.UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private val TsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def ts(t: LocalDateTime): String = t.format(TsFormat)

  // ---------------------------------------------------------------- traffic

  final case class Traffic(reqId: Long, boro: String, time: LocalDateTime, vol: String,
      seg: Long, x: String, y: String, street: String) {
    def wkt: String = if (x.isEmpty) "POINT EMPTY" else s"POINT ($x $y)"
    def csv: String = Seq(reqId, boro, time.getYear, time.getMonthValue, time.getDayOfMonth,
      time.getHour, 0, vol, seg, wkt, street, "A ST", "B ST", "NB").mkString(",")
    def volNum: Option[Double] = vol.toDoubleOption
  }
  val TrafficHeader = "RequestID,Boro,Yr,M,D,HH,MM,Vol,SegmentID,WktGeom,street,fromSt,toSt,Direction"

  final case class Weather(date: LocalDateTime, borough: String, temp: Double, precip: Double,
      snowDepth: Double, snowfall: Double) {
    def csv: String = Seq(ts(date), "40.7", "-74.0", borough, temp, precip, 20.0,
      snowDepth, 10000.0, 3.0, 1500.0, precip, 0.0, snowfall, 2.0).mkString(",")
  }
  val WeatherHeader = "date,latitude,longitude,borough,temperature_2m,precipitation,cloud_cover_low," +
    "snow_depth,visibility,weather_code,freezing_level_height,rain,showers,snowfall,uv_index"

  private def boroughBase(b: String): Double = 60.0 + 25.0 * Boroughs.indexOf(b)

  /** E1 inputs: hourly count studies on road segments across four calendar
    * years, plus hourly weather per borough for every counted hour.
    *
    * Studies around Independence Day and Thanksgiving of every year are
    * placed at fixed dates, whatever the seed, so holiday rows of every
    * year are always present. Every study is 60 hours long, so the row
    * count does not depend on the seed. 1% of counts are the non-numeric
    * "n/a" and 2% of rows are exact duplicates. Whole days of winter
    * get snow depth above 5 (heavy snow).
    */
  final class E1Data(seed: Long, studiesPerYear: Int) {
    val traffic: Seq[Traffic] = {
      val rng = new Rng(seed)
      val out = mutable.ArrayBuffer.empty[Traffic]
      var reqId = 1000L
      def study(start: LocalDateTime, hours: Int): Unit = {
        reqId += 1
        val boro = Boroughs(rng.int(5))
        val seg = 10000L + rng.int(90000)
        val street = s"ST ${rng.int(400)}"
        val scale = 0.6 + 0.8 * rng.double()
        (0 until hours).foreach { h =>
          val t = start.plusHours(h)
          val daily = 1.0 + 0.8 * math.sin(2 * math.Pi * (t.getHour - 9) / 24.0)
          val season = 1.0 + 0.2 * math.cos(2 * math.Pi * t.getMonthValue / 12.0)
          val v = math.max(0.0, boroughBase(boro) * scale * daily * season * (1 + 0.15 * rng.gaussian()))
          val vol = if (out.size % 100 == 37) "n/a" else math.round(v).toString
          val row = Traffic(reqId, boro, t, vol, seg, "", "", street)
          out += row
          if (out.size % 50 == 0) out += row
        }
      }
      Years.foreach { y =>
        study(LocalDate.of(y, 7, 3).atStartOfDay(), 72)
        val thanksgiving = LocalDate.of(y, 11, 1).`with`(
          java.time.temporal.TemporalAdjusters.dayOfWeekInMonth(4, java.time.DayOfWeek.THURSDAY))
        study(thanksgiving.minusDays(1).atStartOfDay(), 72)
        (1 to studiesPerYear).foreach { _ =>
          val start = LocalDate.of(y, 1, 1).plusDays(rng.int(if (java.time.Year.isLeap(y)) 362 else 361))
            .atStartOfDay().plusHours(rng.int(24))
          study(start, 60)
        }
      }
      out.toSeq
    }

    val weather: Seq[Weather] = {
      val rng = new Rng(seed + 7)
      val hours = traffic.map(_.time).distinct.sorted
      val days = hours.map(_.toLocalDate).distinct
      val snowDays = days.filter(d => Set(12, 1, 2)(d.getMonthValue) && rng.int(8) == 0).toSet
      hours.flatMap { t =>
        val winter = Set(12, 1, 2)(t.getMonthValue)
        Boroughs.map { b =>
          val snow = if (snowDays(t.toLocalDate)) 6.0 + 4 * rng.double()
            else if (winter) 4.9 * rng.double() else 0.0
          Weather(t, b, 10 + 15 * math.sin(2 * math.Pi * (t.getDayOfYear - 100) / 365.0) + 3 * rng.gaussian(),
            if (rng.int(10) == 0) rng.double() else 0.0, snow, if (snow > 5) 1.0 else 0.0)
        }
      }
    }

    def write(dir: Path): Unit = {
      val done = dir.resolve("_done")
      if (!Files.exists(done)) {
        writeLines(dir.resolve("traffic/traffic.csv"), Iterator(TrafficHeader) ++ traffic.iterator.map(_.csv))
        writeLines(dir.resolve("weather/weather.csv"), Iterator(WeatherHeader) ++ weather.iterator.map(_.csv))
        Files.write(done, Array.emptyByteArray)
      }
    }

    /** The feature table [[graft.pipelines.TrainingPipeline.featureTable]]
      * must produce, recomputed row by row: distinct traffic rows joined to
      * the weather of every borough of the same hour, lag-1 and trailing
      * 3/24-row means per weather borough ordered by (date, RequestID),
      * then rows with any null feature dropped. `isEvent` uses the
      * calendar from [[Calendar.federal]] over every year the data spans.
      */
    lazy val features: Seq[Oracle.FeatureRow] = {
      val wByHour = weather.groupBy(_.date)
      val distinct = traffic.distinct
      val joined = for (t <- distinct; w <- wByHour.getOrElse(t.time, Nil)) yield (w, t)
      val holidays = Calendar.federal(traffic.map(_.time.getYear).min to traffic.map(_.time.getYear).max)
      joined.groupBy(_._1.borough).toSeq.flatMap { case (_, rows) =>
        val sorted = rows.sortBy { case (w, t) => (w.date, t.reqId) }
        val vols = sorted.map(_._2.volNum).toIndexedSeq
        def mean(from: Int, to: Int): Option[Double] = {
          val xs = (math.max(0, from) until to).flatMap(vols(_))
          if (xs.isEmpty) None else Some(xs.sum / xs.size)
        }
        sorted.indices.flatMap { i =>
          val (w, t) = sorted(i)
          val lag1 = if (i == 0) None else vols(i - 1)
          for (v <- vols(i); l <- lag1; r3 <- mean(i - 3, i); r24 <- mean(i - 24, i)) yield
            Oracle.FeatureRow(w.borough, w.date, t.reqId, v, l, r3, r24,
              isEvent = holidays(w.date.toLocalDate) || w.snowDepth > 5)
        }
      }
    }
  }

  // -------------------------------------------------------------- geo

  /** A straight road edge: endpoints in EPSG:2263 feet for the snap and
    * in lon/lat for the LineString, as a road graph carries both. */
  final case class Edge(id: Long, ax: String, ay: String, bx: String, by: String,
      aLon: String, aLat: String, bLon: String, bLat: String) {
    def csv: String = s"$id,$ax,$ay,$bx,$by,$aLon,$aLat,$bLon,$bLat"
    lazy val coords: (Double, Double, Double, Double) = (ax.toDouble, ay.toDouble, bx.toDouble, by.toDouble)
  }
  val EdgeHeader = "edge_id,ax,ay,bx,by,a_lon,a_lat,b_lon,b_lat"

  /** E3 inputs: traffic points spread over the five borough boxes, their
    * WKT in EPSG:2263 feet made by [[Lcc.forward]]; about 1% of rows carry
    * an unparseable "POINT EMPTY". Road edges are straight segments of
    * 200-2500 ft centred in the same boxes, given in both systems. */
  final class GeoData(seed: Long, nPoints: Int, nEdges: Int) {
    val rng = new Rng(seed + 101)
    /** (row, true lon, true lat); lon/lat are NaN for malformed rows. */
    val points: Seq[(Traffic, Double, Double)] = (0 until nPoints).map { i =>
      val b = Boroughs(rng.int(5))
      val (lo0, lo1, la0, la1) = BoroughBox(b)
      val lon = rng.uniform(lo0, lo1); val lat = rng.uniform(la0, la1)
      val (x, y) = Lcc.forwardFt(lon, lat)
      val t = LocalDateTime.of(Years(rng.int(Years.size)), rng.between(1, 12), rng.between(1, 28), rng.int(24), 0)
      val vol = rng.int(400).toString
      if (rng.int(100) == 0) (Traffic(500000L + i, b, t, vol, 1, "", "", "ST"), Double.NaN, Double.NaN)
      else (Traffic(500000L + i, b, t, vol, 1, f"$x%.4f", f"$y%.4f", s"ST ${rng.int(400)}"), lon, lat)
    }
    val edges: Seq[Edge] = (0 until nEdges).map { i =>
      val b = Boroughs(rng.int(5))
      val (lo0, lo1, la0, la1) = BoroughBox(b)
      val (cLon, cLat) = (rng.uniform(lo0, lo1), rng.uniform(la0, la1))
      // half-length 100-1250 ft, as degrees of latitude and longitude
      val half = rng.uniform(100, 1250) * Lcc.FtUs / 111320.0
      val ang = rng.uniform(0, math.Pi)
      val (dLon, dLat) = (half * math.cos(ang) / math.cos(math.toRadians(cLat)), half * math.sin(ang))
      val (aLon, aLat, bLon, bLat) = (cLon - dLon, cLat - dLat, cLon + dLon, cLat + dLat)
      val (ax, ay) = Lcc.forwardFt(aLon, aLat); val (bx, by) = Lcc.forwardFt(bLon, bLat)
      Edge(i + 1L, f"$ax%.3f", f"$ay%.3f", f"$bx%.3f", f"$by%.3f",
        f"$aLon%.6f", f"$aLat%.6f", f"$bLon%.6f", f"$bLat%.6f")
    }
    val valid: Seq[(Traffic, Double, Double)] = points.filter(_._1.x.nonEmpty)
    /** Valid points per (borough, year). */
    val perBoroughYear: Map[(String, Int), Int] =
      valid.groupBy(p => (p._1.boro, p._1.time.getYear)).map { case (k, v) => k -> v.size }

    def write(dir: Path, withEdges: Boolean): Unit = {
      val done = dir.resolve("_done")
      if (!Files.exists(done)) {
        writeLines(dir.resolve("traffic/traffic.csv"), Iterator(TrafficHeader) ++ points.iterator.map(_._1.csv))
        if (withEdges) writeLines(dir.resolve("edges/edges.csv"), Iterator(EdgeHeader) ++ edges.iterator.map(_.csv))
        Files.write(done, Array.emptyByteArray)
      }
    }
  }

  // -------------------------------------------------------------- serving

  val RequestFields: Seq[String] = Seq("hour_sin", "hour_cos", "wd_sin", "wd_cos",
    "month_sin", "month_cos", "vol_lag_1", "vol_roll_3", "vol_roll_24")

  /** Training rows for the served models: the nine request features of
    * random hours, weekdays and months, and a log-volume label linear in
    * them plus noise. */
  final class ApiData(seed: Long, nTrain: Int, nRequests: Int) {
    private val rng = new Rng(seed + 202)
    private def features(): Array[Double] = {
      val h = rng.int(24); val wd = rng.int(7); val m = rng.between(1, 12)
      val lag = rng.uniform(5, 400); val r3 = lag * rng.uniform(0.7, 1.3); val r24 = lag * rng.uniform(0.5, 1.5)
      def cyc(x: Int, p: Int) = Seq(math.sin(2 * math.Pi * x / p), math.cos(2 * math.Pi * x / p))
      (cyc(h, 24) ++ cyc(wd, 7) ++ cyc(m, 12) ++ Seq(lag, r3, r24)).toArray
    }
    val train: Seq[(Array[Double], Double)] = (0 until nTrain).map { _ =>
      val x = features()
      val y = 3.0 + 0.4 * x(0) - 0.3 * x(1) + 0.1 * x(2) + 0.05 * x(4) +
        0.004 * x(6) + 0.002 * x(7) + 0.001 * x(8) + 0.1 * rng.gaussian()
      (x, y)
    }
    val requests: Seq[Array[Double]] = (0 until nRequests).map(_ => features())
  }

  // -------------------------------------------------------------- ingest

  /** Weather pages served to the ingest client: page p holds the 24 hours
    * of day p for the five boroughs, as header-less CSV. Each page is
    * refused `failures(p)` times first, with 429 (Retry-After: 0) and 503
    * answers alternating. */
  final class Pages(seed: Long) {
    val base: LocalDate = LocalDate.of(2024, 1, 1)
    def day(p: Int): LocalDate = base.plusDays(p)
    def rows(p: Int): Seq[Weather] = {
      val rng = new Rng(seed * 1000003L + p)
      (0 until 24).flatMap(h => Boroughs.map(b =>
        Weather(day(p).atStartOfDay().plusHours(h), b, rng.uniform(-5, 30), 0.0, 0.0, 0.0)))
    }
    def body(p: Int): Array[Byte] =
      rows(p).map(_.csv).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    def failures(p: Int): Int = new Rng(seed * 7919L + p).int(3)
    val RowsPerPage: Int = 24 * Boroughs.size
  }
}

/** EPSG:2263 (NAD83 / New York Long Island, ftUS) forward projection,
  * written for the benchmark from the Lambert Conic Conformal (2SP)
  * formulas of EPSG Guidance Note 7-2 and the registry's parameters. */
object Lcc {
  private val a = 6378137.0
  private val f = 1 / 298.257222101
  private val e = math.sqrt(2 * f - f * f)
  private def rad(deg: Double, min: Double = 0) = math.toRadians(deg + min / 60)
  private val phi1 = rad(41, 2); private val phi2 = rad(40, 40)
  private val phiF = rad(40, 10); private val lamF = rad(-74)
  private val feM = 300000.0 // 984250 ftUS
  val FtUs: Double = 1200.0 / 3937.0
  private def m(p: Double) = math.cos(p) / math.sqrt(1 - e * e * math.sin(p) * math.sin(p))
  private def t(p: Double) = math.tan(math.Pi / 4 - p / 2) /
    math.pow((1 - e * math.sin(p)) / (1 + e * math.sin(p)), e / 2)
  private val n = (math.log(m(phi1)) - math.log(m(phi2))) / (math.log(t(phi1)) - math.log(t(phi2)))
  private val F = m(phi1) / (n * math.pow(t(phi1), n))
  private val rF = a * F * math.pow(t(phiF), n)

  /** (lon°, lat°) → (easting ftUS, northing ftUS). */
  def forwardFt(lonDeg: Double, latDeg: Double): (Double, Double) = {
    val r = a * F * math.pow(t(math.toRadians(latDeg)), n)
    val th = n * (math.toRadians(lonDeg) - lamF)
    ((feM + r * math.sin(th)) / FtUs, (rF - r * math.cos(th)) / FtUs)
  }
}

/** US federal holidays from the statutory rules (5 U.S.C. 6103) with
  * java.time, written apart from the library's calendar: fixed-date
  * holidays, their weekend observances, and the Monday/Thursday ones. */
object Calendar {
  import java.time.DayOfWeek._
  import java.time.temporal.TemporalAdjusters._
  def federal(years: Range): Set[LocalDate] = years.flatMap { y =>
    val fixed = Seq(LocalDate.of(y, 1, 1), LocalDate.of(y, 6, 19), LocalDate.of(y, 7, 4),
      LocalDate.of(y, 11, 11), LocalDate.of(y, 12, 25))
    val observed = fixed.flatMap(d => d.getDayOfWeek match {
      case SATURDAY => Some(d.minusDays(1)); case SUNDAY => Some(d.plusDays(1)); case _ => None
    })
    def nth(month: Int, n: Int, dow: java.time.DayOfWeek) = LocalDate.of(y, month, 1).`with`(dayOfWeekInMonth(n, dow))
    fixed ++ observed ++ Seq(nth(1, 3, MONDAY), nth(2, 3, MONDAY),
      LocalDate.of(y, 5, 1).`with`(lastInMonth(MONDAY)), nth(9, 1, MONDAY), nth(10, 2, MONDAY),
      nth(11, 4, THURSDAY))
  }.toSet
}
