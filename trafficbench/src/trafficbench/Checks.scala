package trafficbench

import java.time.{LocalDate, LocalDateTime}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Values the checks compare the program's outputs against, computed in
  * plain Scala apart from the library. */
object Oracle {

  final case class FeatureRow(borough: String, date: LocalDateTime, reqId: Long, vol: Double,
      lag1: Double, roll3: Double, roll24: Double, isEvent: Boolean)

  /** A feature-table row as the program produced it. */
  final case class ActualFeature(borough: String, date: LocalDateTime, reqId: Long, vol: Double,
      lag1: Double, roll3: Double, roll24: Double, cyclical: Seq[Double])

  /** pandas-convention cyclical encodings (weekday Monday = 0). */
  def cyclical(t: LocalDateTime): Seq[Double] = {
    def cyc(x: Int, p: Int) = Seq(math.sin(2 * math.Pi * x / p), math.cos(2 * math.Pi * x / p))
    cyc(t.getHour, 24) ++ cyc(t.getDayOfWeek.getValue - 1, 7) ++ cyc(t.getMonthValue, 12)
  }

  def r2(pairs: Seq[(Double, Double)]): Double = {
    val mean = pairs.map(_._1).sum / pairs.size
    val ssRes = pairs.map { case (y, p) => (y - p) * (y - p) }.sum
    val ssTot = pairs.map { case (y, _) => (y - mean) * (y - mean) }.sum
    1 - ssRes / ssTot
  }

  /** Ordinary least squares with intercept by the normal equations
    * (XᵀX)β = Xᵀy, solved by Gaussian elimination with partial pivoting.
    * Returns (intercept, coefficients...). */
  def ols(rows: Seq[(Array[Double], Double)]): Array[Double] = {
    val k = rows.head._1.length + 1
    val a = Array.ofDim[Double](k, k + 1)
    rows.foreach { case (x0, y) =>
      val x = 1.0 +: x0
      for (i <- 0 until k) {
        for (j <- 0 until k) a(i)(j) += x(i) * x(j)
        a(i)(k) += x(i) * y
      }
    }
    for (c <- 0 until k) {
      val p = (c until k).maxBy(r => math.abs(a(r)(c)))
      val t = a(c); a(c) = a(p); a(p) = t
      for (r <- 0 until k if r != c) {
        val f = a(r)(c) / a(c)(c)
        for (j <- c to k) a(r)(j) -= f * a(c)(j)
      }
    }
    Array.tabulate(k)(i => a(i)(k) / a(i)(i))
  }

  def olsPredict(beta: Array[Double], x: Array[Double]): Double =
    beta(0) + x.indices.map(i => beta(i + 1) * x(i)).sum

  def segDistSq(px: Double, py: Double, e: Gen.Edge): Double = {
    val (ax, ay, bx, by) = e.coords
    val (dx, dy) = (bx - ax, by - ay)
    val len2 = dx * dx + dy * dy
    val t = if (len2 == 0) 0.0 else math.min(1.0, math.max(0.0, ((px - ax) * dx + (py - ay) * dy) / len2))
    val (qx, qy) = (ax + t * dx, ay + t * dy)
    (px - qx) * (px - qx) + (py - qy) * (py - qy)
  }
}

/** Output checkers. Each returns Left(reason) on a wrong answer. They are
  * the same functions [[SelfTest]] feeds planted wrong answers. */
object Checks {
  type Result = Either[String, Unit]
  val ok: Result = Right(())
  private def fail(msg: String): Result = Left(msg)
  private def close(a: Double, b: Double, tol: Double) = math.abs(a - b) <= tol * math.max(1.0, math.abs(b))

  def equal[T](what: String, expected: T, actual: T): Result =
    if (expected == actual) ok else fail(s"$what: expected $expected, got $actual")

  /** Lag-1, trailing means and cyclical features of one sampled span. */
  def featureSpan(expected: Seq[Oracle.FeatureRow], actual: Seq[Oracle.ActualFeature]): Result = {
    val act = actual.map(a => (a.borough, a.date, a.reqId) -> a).toMap
    if (expected.isEmpty) fail("sampled span is empty")
    else if (act.size != actual.size) fail("duplicate feature rows in span")
    else if (act.size != expected.size) fail(s"span rows: expected ${expected.size}, got ${act.size}")
    else expected.iterator.map { e =>
      act.get((e.borough, e.date, e.reqId)) match {
        case None => fail(s"missing feature row $e")
        case Some(a) =>
          val pairs = Seq("Vol" -> (e.vol, a.vol), "vol_lag_1" -> (e.lag1, a.lag1),
            "vol_roll_3" -> (e.roll3, a.roll3), "vol_roll_24" -> (e.roll24, a.roll24)) ++
            Oracle.cyclical(e.date).zip(a.cyclical).zipWithIndex.map { case (p, i) => s"cyclical[$i]" -> p }
          pairs.collectFirst { case (n, (x, y)) if !close(y, x, 1e-9) => n -> (x, y) } match {
            case Some((n, (x, y))) => fail(s"$n of ${e.borough} ${e.date} ${e.reqId}: expected $x, got $y")
            case None => ok
          }
      }
    }.find(_.isLeft).getOrElse(ok)
  }

  /** Holdout R² recomputed from the (Vol, prediction) pairs. */
  def r2(pairs: Seq[(Double, Double)], reported: Double): Result = {
    val mine = Oracle.r2(pairs)
    if (pairs.isEmpty) fail("no holdout rows")
    else if (!(math.abs(mine - reported) <= 1e-9)) fail(s"R² reported $reported, recomputed $mine")
    else if (!(mine > 0)) fail(s"R² $mine is not above 0")
    else ok
  }

  /** The snapped edge of each sampled point is at the brute-force minimum
    * distance over all edges (ties allowed). */
  def snap(points: Seq[(Long, Double, Double)], chosen: Map[Long, Long], edges: Seq[Gen.Edge]): Result = {
    val byId = edges.map(e => e.id -> e).toMap
    points.iterator.map { case (id, x, y) =>
      chosen.get(id).flatMap(byId.get) match {
        case None => fail(s"point $id has no snapped edge")
        case Some(e) =>
          val best = edges.iterator.map(Oracle.segDistSq(x, y, _)).min
          val got = Oracle.segDistSq(x, y, e)
          if (got <= best * (1 + 1e-9) + 1e-9) ok
          else fail(s"point $id snapped to edge ${e.id} at ${math.sqrt(got)} ft; nearest is ${math.sqrt(best)} ft")
      }
    }.find(_.isLeft).getOrElse(ok)
  }

  private val mapper = new ObjectMapper()

  /** Parse GeoJSON Feature lines of one geometry type; returns each
    * feature's properties and coordinates. */
  def parseFeatures(lines: Seq[String], geometry: String): Either[String, Seq[(JsonNode, JsonNode)]] = {
    val out = Seq.newBuilder[(JsonNode, JsonNode)]
    val it = lines.iterator
    while (it.hasNext) {
      val line = it.next()
      val n = try mapper.readTree(line) catch { case e: Exception => null }
      if (n == null || n.path("type").asText() != "Feature") return Left(s"not a GeoJSON Feature: $line")
      val g = n.path("geometry")
      if (g.path("type").asText() != geometry) return Left(s"geometry is not $geometry: $line")
      val c = g.path("coordinates")
      val shapeOk = geometry match {
        case "Point" => c.isArray && c.size == 2 && c.get(0).isNumber && c.get(1).isNumber
        case _ => c.isArray && c.size >= 2 && (0 until c.size).forall(i =>
          c.get(i).isArray && c.get(i).size == 2 && c.get(i).get(0).isNumber && c.get(i).get(1).isNumber)
      }
      if (!shapeOk) return Left(s"malformed $geometry coordinates: $line")
      out += ((n.path("properties"), c))
    }
    Right(out.result())
  }

  /** Point features: one per valid input row, inside the NYC box, at the
    * generator's own lon/lat to the 6-decimal rounding. */
  def points(lines: Seq[String], truth: Map[Long, (Double, Double)]): Result =
    parseFeatures(lines, "Point").flatMap { fs =>
      val (lo0, lo1, la0, la1) = Gen.NycBox
      val ids = fs.map(_._1.path("RequestID").asLong())
      if (fs.size != truth.size) fail(s"point features: expected ${truth.size}, got ${fs.size}")
      else if (ids.distinct.size != ids.size) fail("duplicate point features")
      else fs.iterator.map { case (props, c) =>
        val (lon, lat) = (c.get(0).asDouble(), c.get(1).asDouble())
        val id = props.path("RequestID").asLong()
        truth.get(id) match {
          case None => fail(s"unexpected point feature $id")
          case Some(_) if lon < lo0 || lon > lo1 || lat < la0 || lat > la1 => fail(s"point $id at ($lon, $lat) is outside NYC")
          case Some((tl, ta)) if math.abs(lon - tl) > 1e-6 || math.abs(lat - ta) > 1e-6 =>
            fail(s"point $id at ($lon, $lat); its WKT was projected from ($tl, $ta)")
          case _ => ok
        }
      }.find(_.isLeft).getOrElse(ok)
    }

  /** Weather pages landed exactly once: the rows per day equal the
    * published pages' rows, with no page missing, doubled or unknown. */
  def pages(expected: Map[LocalDate, Long], actual: Map[LocalDate, Long]): Result =
    if (expected == actual) ok
    else {
      val diff = (expected.keySet ++ actual.keySet).toSeq.sortBy(_.toEpochDay)
        .filter(d => expected.get(d) != actual.get(d)).take(3)
        .map(d => s"$d expected ${expected.getOrElse(d, 0L)} rows, got ${actual.getOrElse(d, 0L)}")
      fail(diff.mkString("; "))
    }

  def prediction(what: String, expected: Double, actual: Double, tol: Double = 1e-6): Result =
    if (math.abs(expected - actual) <= tol) ok else fail(s"$what: expected $expected, got $actual")
}

/** Each checker, fed at a tiny scale first the right answer and then a
  * planted wrong one, must accept the first and reject the second. */
object SelfTest {
  def run(): Seq[(String, Boolean)] = {
    def discriminates(right: Checks.Result, wrong: Checks.Result) = right.isRight && wrong.isLeft

    val e1 = new Gen.E1Data(seed = 3, studiesPerYear = 1)
    val span = e1.features.filter(_.borough == "Queens").sortBy(r => (r.date, r.reqId)).take(40)
    def asActual(rows: Seq[Oracle.FeatureRow]) = rows.map(r =>
      Oracle.ActualFeature(r.borough, r.date, r.reqId, r.vol, r.lag1, r.roll3, r.roll24, Oracle.cyclical(r.date)))
    val lagOffByOne = asActual(span).zip(span.drop(1)).map { case (a, next) => a.copy(lag1 = next.lag1) }
    val lag = discriminates(Checks.featureSpan(span, asActual(span)),
      Checks.featureSpan(span.take(lagOffByOne.size), lagOffByOne))

    val geo = new Gen.GeoData(seed = 3, nPoints = 60, nEdges = 25)
    val pts = geo.valid.map { case (t, _, _) => (t.reqId, t.x.toDouble, t.y.toDouble) }
    val ranked = pts.map { case (id, x, y) => id -> geo.edges.sortBy(Oracle.segDistSq(x, y, _)).map(_.id) }
    val snap = discriminates(Checks.snap(pts, ranked.map(r => r._1 -> r._2.head).toMap, geo.edges),
      Checks.snap(pts, ranked.map(r => r._1 -> r._2(1)).toMap, geo.edges))

    val pages = new Gen.Pages(seed = 3)
    val published = (0 until 4).map(p => pages.day(p) -> pages.RowsPerPage.toLong).toMap
    val dropped = Checks.pages(published, published - pages.day(2))
    val doubled = Checks.pages(published, published.updated(pages.day(1), 2L * pages.RowsPerPage))
    val ingest = discriminates(Checks.pages(published, published), dropped) && dropped.isLeft && doubled.isLeft

    val api = new Gen.ApiData(seed = 3, nTrain = 200, nRequests = 5)
    val beta = Oracle.ols(api.train)
    val preds = api.requests.map(Oracle.olsPredict(beta, _))
    val prediction = preds.forall(p => discriminates(Checks.prediction("ols", p, p), Checks.prediction("ols", p, p + 1e-3)))

    val pairs = (1 to 50).map(i => (i.toDouble, i + math.sin(i)))
    val r2 = discriminates(Checks.r2(pairs, Oracle.r2(pairs)),
      Checks.r2(pairs, Oracle.r2(pairs.updated(7, (8.0, 9.5)))))

    val truth = geo.valid.map { case (t, lon, lat) => t.reqId -> (lon, lat) }.toMap
    def line(id: Long, lon: Double, lat: Double) =
      f"""{"type":"Feature","geometry":{"type":"Point","coordinates":[$lon%.6f,$lat%.6f]},"properties":{"RequestID":$id}}"""
    val good = truth.toSeq.map { case (id, (lon, lat)) => line(id, lon, lat) }
    val geojson = discriminates(Checks.points(good, truth), Checks.points(good.updated(0, good.head.replace("Point", "Pointy")), truth)) &&
      Checks.points(good.updated(1, line(truth.keys.head, -73.0, 40.7)), truth).isLeft

    Seq("lag_off_by_one" -> lag, "second_nearest_edge" -> snap, "ingest_page_dropped_or_doubled" -> ingest,
      "prediction_off_by_1e-3" -> prediction, "holdout_r2" -> r2, "geojson_points" -> geojson)
  }
}
