package trafficbench

import scala.jdk.CollectionConverters._

/** The per-layer metrics of a traced run: per round of the workload,
  * except `geo.*`, which are per set-up (api_serve's set-up runs the E3
  * build once). Every workload prints every metric, reading 0 for a layer
  * it never calls. The README maps each metric to the end-to-end metric it
  * should move. */
object Layers {
  type Metric = (String, (Double, String))
  private val MB = 1048576.0

  def all(t: Tracer, stats: Stats, counts: Map[String, Double]): Seq[Metric] = {
    val r = math.max(1L, stats.rounds).toDouble
    def a(span: String) = t.agg(span)
    def c(k: String) = counts.getOrElse(k, 0.0)
    def ratio(x: Double, y: Double) = if (y == 0) 0.0 else x / y
    def perCall(span: String, v: Double) = ratio(v, a(span).calls.toDouble)
    def wallS(span: String) = a(span).wallNs / 1e9 / r

    val feat = a("e1.features")
    val e1 = Seq(feat, a("e1.train"))
    val joinRows = feat.op("join.rows") / r
    val dedupRows = feat.op("dedup.rows") / r
    val skew = {
      val ms = feat.windowTaskMs.toSeq.map(_.toDouble)
      if (ms.isEmpty) 0.0 else ratio(ms.max, Main.median(ms))
    }
    val geoSpans = Seq("geo.features", "geo.snap", "geo.write").map(a)
    val snapCandidates = a("geo.snap").op("join.rows")
    val progress = t.progress.asScala.toSeq
    def streamMs(k: String) =
      progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / r
    val predict = a("serving.predict")
    val map = a("serving.map")

    Seq(
      "relational.dedup_rows_out" -> (dedupRows, "count"),
      "relational.join_rows_out" -> (joinRows, "count"),
      "relational.join_fanout" -> (ratio(joinRows, dedupRows), "ratio"),
      "relational.join_s" -> (feat.op("join.ms") / 1000 / r, "s"),
      "windows.s" -> (feat.windowStageMs / 1000.0 / r, "s"),
      "windows.task_skew" -> (skew, "ratio"),
      "windows.spill_mb" -> (feat.windowSpillB / MB / r, "MB"),
      "functions.is_holiday_rows" -> (c("functions.is_holiday_rows"), "count"),
      "functions.is_event_rows" -> (c("functions.is_event_rows"), "count"),
      "e1.plan_ms" -> (e1.map(_.planMs).sum / r, "ms"),
      "e1.jobs" -> (e1.map(_.jobs).sum / r, "count"),
      "e1.stages" -> (e1.map(_.stages).sum / r, "count"),
      "e1.tasks" -> (e1.map(_.tasks).sum / r, "count"),
      "e1.shuffle_write_mb" -> (e1.map(_.shuffleWriteB).sum / MB / r, "MB"),
      "e1.shuffle_read_mb" -> (e1.map(_.shuffleReadB).sum / MB / r, "MB"),
      "e1.task_run_s" -> (e1.map(_.runMs).sum / 1000.0 / r, "s"),
      "e1.task_cpu_s" -> (e1.map(_.cpuNs).sum / 1e9 / r, "s"),
      "e1.gc_s" -> (e1.map(_.gcMs).sum / 1000.0 / r, "s"),
      "e1.dropna_rows_dropped" -> (if (joinRows == 0) 0.0 else joinRows - c("e1.feature_rows"), "count"),
      "ml.fit_s" -> (wallS("ml.fit"), "s"),
      "ml.fit_jobs" -> (a("ml.fit").jobs / r, "count"),
      "ml.cache_mb" -> (a("ml.fit").peakCacheB / MB, "MB"),
      "ml.transform_s" -> (wallS("ml.transform"), "s"),
      "metrics.eval_s" -> (wallS("metrics.eval"), "s"),
      "geo.features_s" -> (a("geo.features").wallNs / 1e9, "s"),
      "geo.snap_s" -> (a("geo.snap").wallNs / 1e9, "s"),
      "geo.snap_candidates" -> (snapCandidates, "count"),
      "geo.snap_candidates_per_point" -> (ratio(snapCandidates, c("geo.points")), "ratio"),
      "geo.write_s" -> (a("geo.write").wallNs / 1e9, "s"),
      "geo.output_mb" -> (c("geo.output_mb"), "MB"),
      "geo.task_cpu_s" -> (geoSpans.map(_.cpuNs).sum / 1e9, "s"),
      "geo.gc_s" -> (geoSpans.map(_.gcMs).sum / 1000.0, "s"),
      "serving.predict_plan_ms" -> (perCall("serving.predict", predict.planMs.toDouble), "ms"),
      "serving.predict_exec_ms" -> (perCall("serving.predict", predict.wallNs / 1e6 - predict.planMs), "ms"),
      "serving.predict_jobs_per_req" -> (perCall("serving.predict", predict.jobs.toDouble), "count"),
      "serving.map_plan_ms" -> (perCall("serving.map", map.planMs.toDouble), "ms"),
      "serving.map_bytes_read" -> (perCall("serving.map", map.inputB.toDouble), "bytes"),
      "serving.map_rows_scanned_per_returned" -> (ratio(map.op("scan.rows"), c("serving.map_rows_returned")), "ratio"),
      "serving.client_wait_ms" -> (c("serving.client_wait_ms"), "ms"),
      "ingest.fetch_s" -> (wallS("ingest.fetch"), "s"),
      "ingest.http_attempts" -> (c("ingest.http_attempts"), "count"),
      "ingest.retries" -> (c("ingest.retries"), "count"),
      "ingest.connections_per_request" -> (ratio(c("ingest.connections"), c("ingest.http_attempts")), "ratio"),
      "stream.batches" -> (progress.size / r, "count"),
      "stream.add_batch_ms" -> (streamMs("addBatch"), "ms"),
      "stream.wal_commit_ms" -> (streamMs("walCommit"), "ms"),
      "stream.commit_offsets_ms" -> (streamMs("commitOffsets"), "ms"),
      "stream.latest_offset_ms" -> (streamMs("latestOffset"), "ms"),
      "stream.query_planning_ms" -> (streamMs("queryPlanning"), "ms"),
      "stream.start_stop_ms" -> (if (progress.isEmpty) 0.0 else a("stream.ingest").wallNs / 1e6 / r - streamMs("triggerExecution"), "ms"),
      "stream.files_written" -> (c("stream.files_written"), "count"),
      "stream.mb_written" -> (c("stream.bytes_written") / MB, "MB"))
  }
}
