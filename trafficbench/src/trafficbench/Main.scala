package trafficbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point of the traffic benchmark: one workload per JVM.
  *
  * A run self-tests the checkers, generates its inputs from the seed
  * (written once per seed under the data directory), then sets up: a
  * Spark session, the workload's fits and builds, and its warm-up rounds.
  * `setup_s` is the process CPU time from JVM start to the first timed
  * operation, less that of the self-test and the input generation, which
  * are the benchmark's own work; the wall-clock parts are on the detail
  * line. Then it runs whole rounds of the workload's operations until
  * `--seconds` have passed. Untraced runs print the end-to-end metrics;
  * traced runs (`--trace 1`) register [[Tracer]]'s listeners and print the
  * per-layer metrics instead.
  */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1, seconds: Int = 10,
      trace: Boolean = false, cores: Int = 4, work: String = "", data: String = "")

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--cores" :: v :: t => parse(t, o.copy(cores = v.toInt))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--data" :: v :: t => parse(t, o.copy(data = v))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  def session(o: Opts): SparkSession = SparkSession.builder()
    .master(s"local[${o.cores}]")
    .appName("trafficbench")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", o.cores.toString)
    .config("spark.driver.host", "127.0.0.1")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .config("spark.local.dir", s"${o.work}/spark-local")
    .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val jvmToMainS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val o = parse(args.toList)
    val wl: Workload = o.workload match {
      case "e1_train" => new E1Train(o)
      case "api_serve" => new ApiServe(o)
      case "ingest_weather" => new IngestWeather(o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val (tOwn, cpuOwn) = (System.nanoTime(), Cpu.processMs())
    val selfTest = SelfTest.run()
    wl.prepare()
    val ownS = (System.nanoTime() - tOwn) / 1e9
    val ownCpuS = (Cpu.processMs() - cpuOwn) / 1000
    log(f"self-test and inputs in $ownS%.1f s")

    val tracer = if (o.trace) Some(new Tracer) else None
    val tSession = System.nanoTime()
    val spark = session(o)
    spark.sparkContext.setLogLevel("ERROR")
    tracer.foreach(_.attach(spark))
    val tSetup = System.nanoTime()
    wl.setup(spark, tracer)
    val tWarm = System.nanoTime()
    val warm = new Stats
    wl.warmUp(spark, warm, tracer)
    val tFirstOp = System.nanoTime()
    val setupS = Cpu.processMs() / 1000 - ownCpuS
    val setupParts = Map("cpu_s" -> setupS, "wall_s" -> (jvmToMainS + (tFirstOp - tSession) / 1e9),
      "jvm_to_main_wall_s" -> jvmToMainS, "session_wall_s" -> (tSetup - tSession) / 1e9,
      "fits_and_builds_wall_s" -> (tWarm - tSetup) / 1e9, "warm_up_wall_s" -> (tFirstOp - tWarm) / 1e9,
      "excluded_selftest_and_inputs_wall_s" -> ownS, "excluded_selftest_and_inputs_cpu_s" -> ownCpuS)
    log(f"set-up: " + setupParts.map { case (k, v) => f"$k $v%.2f" }.mkString(", "))
    val stats = new Stats
    tracer.foreach(_.startMeasure(spark))
    val gc0 = gcSeconds()
    Heap.reset()
    val t0 = System.nanoTime()
    wl.measure(spark, stats, tracer, o.seconds)
    val measuredS = (System.nanoTime() - t0) / 1e9
    val gcS = gcSeconds() - gc0
    val peakHeapMb = Heap.peakMb()
    tracer.foreach(_.finish(spark))
    wl.finalChecks(spark, stats)
    wl.teardown()
    spark.stop()

    val unknownFailures = Seq(warm, stats).exists(_.checks.exists { case (n, c) => c.fail > 0 && !wl.knownFaults(n) })
    val correct = selfTest.forall(_._2) && !unknownFailures
    val e2e = wl.endToEnd(stats) :+ ("setup_s" -> (setupS, "s"))
    val metrics = tracer match {
      case None => e2e
      case Some(t) =>
        Layers.all(t, stats, wl.tracedCounts(stats)) ++ Seq(
          "jvm.gc_s" -> (gcS, "s"), "jvm.peak_heap_mb" -> (peakHeapMb, "MB"))
    }
    val detail = Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "rounds" -> stats.rounds, "measured_s" -> measuredS,
      "setup_s" -> setupParts, "gc_s" -> gcS,
      "checks" -> stats.checks.map { case (n, c) => n -> Map("pass" -> c.pass, "fail" -> c.fail) }.toMap,
      "warm_up_checks" -> warm.checks.map { case (n, c) => n -> Map("pass" -> c.pass, "fail" -> c.fail) }.toMap,
      "check_errors" -> (warm.errors ++ stats.errors).toSeq,
      "known_faults" -> wl.knownFaults.toSeq,
      "selftest" -> selfTest.toMap,
      "metrics" -> wl.detail(stats).map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    println("RESULT " + Json.write(Map(
      "correct" -> correct, "attempted" -> stats.attempted, "failed" -> stats.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "detail" -> detail)))
  }

  def log(msg: String): Unit = System.err.println(s"[trafficbench] $msg")

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  def dirBytes(p: Path): (Long, Long) = if (!Files.exists(p)) (0L, 0L) else {
    val w = Files.walk(p)
    try {
      val files = w.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".") && !f.getFileName.toString.startsWith("_")).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    } finally w.close()
  }

  def path(first: String, more: String*): Path = Paths.get(first, more: _*)
}

/** Operation and check counters of one run. Every check is one operation;
  * every timed call is one operation. */
final class Stats {
  final class Count { var pass = 0L; var fail = 0L }
  var attempted = 0L
  var failed = 0L
  var rounds = 0L
  val checks = mutable.LinkedHashMap.empty[String, Count]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val errors = mutable.LinkedHashSet.empty[String]

  def check(name: String, result: Either[String, Unit]): Unit = synchronized {
    attempted += 1
    val c = checks.getOrElseUpdate(name, new Count)
    result match {
      case Right(_) => c.pass += 1
      case Left(msg) =>
        c.fail += 1; failed += 1
        if (errors.size < 20) errors += s"$name: $msg"
    }
  }

  /** Time one operation into sample series `name` (wall ms) and
    * `<name>_cpu` (CPU ms of the Java threads, executors included). */
  def time[T](name: String)(body: => T): T = {
    val (t0, c0) = (System.nanoTime(), Cpu.javaThreadsNs())
    val r = body
    record(s"${name}_cpu", Cpu.javaThreadsMsSince(c0))
    record(name, (System.nanoTime() - t0) / 1e6)
    synchronized { attempted += 1 }
    r
  }

  def record(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }

  def add(name: String, v: Double): Unit = synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }

  def series(name: String): Seq[Double] = synchronized {
    samples.getOrElse(name, mutable.ArrayBuffer.empty).toSeq
  }
}

/** CPU time of this JVM. The kernel leaves the time the hypervisor
  * steals from the VM out of it, which wall time cannot. */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Every thread, JIT compilers and GC included, in clock ticks (5-10 ms
    * here): for set-up, which lasts tens of seconds. */
  def processMs(): Double = os.getProcessCpuTime / 1e6

  /** CPU ns of every live Java thread (driver, executors, clients; not the
    * JIT compiler and GC threads, which the JVM hides), by thread id. */
  def javaThreadsNs(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.iterator.zip(threads.getThreadCpuTime(ids).iterator).filter(_._2 >= 0).toMap
  }

  /** CPU ms the Java threads spent since `before`, to the nanosecond. A
    * thread that ended in between is left out. */
  def javaThreadsMsSince(before: Map[Long, Long]): Double =
    javaThreadsNs().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e6
}

/** Peak heap occupancy after garbage collection, from the collectors'
  * own notifications: the live data a run holds, not the garbage its
  * allocation rate leaves between collections. */
object Heap {
  @volatile private var peak = 0L
  private lazy val installed: Unit = {
    import javax.management.{NotificationEmitter, NotificationListener, Notification}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: Any): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
              synchronized { if (used > peak) peak = used }
            }
        }, null, null)
      case _ =>
    }
  }
  def reset(): Unit = { installed; peak = 0L }
  /** Peak live heap; a final collection makes sure at least one reading exists. */
  def peakMb(): Double = {
    System.gc()
    Thread.sleep(200)
    peak / 1048576.0
  }
}

/** Minimal JSON writer for the result lines. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => write(k.toString) + ": " + write(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ", ", "]")
    case (a, b) => write(Seq(a, b))
    case other => write(other.toString)
  }
}
