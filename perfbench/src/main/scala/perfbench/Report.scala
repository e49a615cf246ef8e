package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

object Report {
  /** The end-to-end metrics every run reports, with units. `work_s` is the
    * median time of the workload's unit of work: a stream drain of the
    * staged events for `ingest`, a pass over the keys for `iterative` and
    * `analytics`, a cycle of six lake calls for `lake`. The workloads'
    * own latencies and rates, and memory, are reported as named metrics:
    * on a 4-core VM their run-to-run spread (up to a third for per-call
    * percentiles and peak RSS) is too wide to gate on. */
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "work_s" -> "s")

  /** Every per-layer metric: (name, unit, better). A traced run reports all
    * of them, 0 for a layer its workload does not touch. */
  val layers: Seq[(String, String, String)] = Seq(
    ("queue.enqueue_self_us", "us", "lower"), ("queue.enrich_us", "us", "lower"),
    ("queue.item_encode_us", "us", "lower"), ("queue.batch_encode_us", "us", "lower"),
    ("queue.sink_us", "us", "lower"), ("queue.flush_us", "us", "lower"),
    ("queue.batches", "count", "lower"), ("queue.events_per_batch", "count", "higher"),
    ("queue.bytes_per_batch", "B", "higher"), ("queue.rejected", "count", "lower"),
    ("queue.sink_attempts_per_record", "ratio", "lower"),
    ("stream.batches", "count", "lower"), ("stream.rows_per_batch", "count", "higher"),
    ("stream.latest_offset_ms", "ms", "lower"), ("stream.planning_ms", "ms", "lower"),
    ("stream.add_batch_ms", "ms", "lower"), ("stream.wal_commit_ms", "ms", "lower"),
    ("stream.jobs_per_batch", "count", "lower"),
    ("ops.build_s", "s", "lower"), ("ops.build_jobs", "count", "lower"),
    ("ops.plan_s", "s", "lower"), ("ops.exec_s", "s", "lower")) ++
    Queries.Iterative.flatMap(k => Seq((s"ops.$k.wall_s", "s", "lower"),
      (s"ops.$k.build_s", "s", "lower"), (s"ops.$k.jobs", "count", "lower"))) ++ Seq(
    ("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"), ("spark.tasks_per_stage", "ratio", "higher"),
    ("spark.task_busy_ratio", "ratio", "higher"), ("spark.uncovered_s", "s", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"), ("spark.shuffle_read_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("lake.commit_jobs", "count", "lower"), ("lake.files_per_commit", "count", "lower"),
    ("lake.bytes_per_commit_mb", "MB", "lower"),
    ("lake.bytes_stored_per_input_byte", "ratio", "lower"),
    ("lake.live_files", "count", "lower"), ("lake.manifests", "count", "lower"),
    ("lake.read_files_per_scan", "count", "lower"), ("lake.compact_s", "s", "lower"),
    ("lake.expire_s", "s", "lower"),
    ("jvm.gc_ms", "ms", "lower"), ("jvm.heap_after_gc_mb", "MB", "lower"),
    ("host.steal_share", "ratio", "lower"), ("host.loadavg1", "count", "lower"),
    ("trace.overhead", "ratio", "lower"))

  private def m(v: Double, unit: String) = Map("value" -> v, "unit" -> unit)

  def artifact(r: Run, workload: String, env: Map[String, Any]): Map[String, Any] = {
    val noise = r.noise()
    System.gc()
    val liveHeap = Host.heapAfterGcMb()
    val peakRss = Host.peakRssMb()
    val e2e = Map(
      "setup_s" -> r.setupS,
      "work_s" -> Stats.median(r.workSamples.toSeq))
    r.check("every end-to-end metric was measured",
      e2e.values.forall(v => !v.isNaN && !v.isInfinite), e2e.toString)
    val named = r.named.map { case (k, n) =>
      k -> Map("value" -> n.value, "unit" -> n.unit, "n" -> n.n) }.toMap ++ Map(
      "setup_s" -> Map("value" -> r.setupS, "unit" -> "s", "n" -> 1),
      "peak_rss_mb" -> Map("value" -> peakRss, "unit" -> "MB", "n" -> 1),
      "live_heap_mb" -> Map("value" -> liveHeap, "unit" -> "MB", "n" -> 1),
      "error_rate" -> Map("value" -> r.failed.toDouble / math.max(1L, r.attempted),
        "unit" -> "ratio", "n" -> r.attempted))
    val perLayer = if (!r.traceRun) Map.empty else {
      val reps = math.max(1, r.tracedWindows.size).toDouble
      val windowMs = r.tracedWindows.map { case (a, b) => b - a }.sum.toDouble -
        r.pausedMs
      val covered = r.tracedWindows.map { case (a, b) => r.engine.taskCoveredMs(a, b) }.sum
      val t = r.engine.totals(_ => true)
      val spark = Map(
        "spark.jobs" -> t.jobs / reps, "spark.stages" -> t.stages / reps,
        "spark.tasks" -> t.tasks / reps,
        "spark.tasks_per_stage" -> (if (t.stages == 0) 0.0 else t.tasks.toDouble / t.stages),
        "spark.task_busy_ratio" -> t.runMs / math.max(1.0, windowMs * r.cpus),
        "spark.uncovered_s" -> (windowMs - covered) / 1000 / reps,
        "spark.shuffle_write_mb" -> t.shuffleWrite / 1048576.0 / reps,
        "spark.shuffle_read_mb" -> t.shuffleRead / 1048576.0 / reps,
        "spark.spill_mb" -> t.spill / 1048576.0 / reps,
        "jvm.gc_ms" -> noise("gc_ms"), "jvm.heap_after_gc_mb" -> liveHeap,
        "host.steal_share" -> noise("steal_share"), "host.loadavg1" -> noise("loadavg1"),
        "trace.overhead" -> Stats.median(r.tracedWorkSamples.toSeq) /
          Stats.median(r.workSamples.toSeq))
      layers.map { case (name, unit, _) =>
        name -> m(spark.getOrElse(name, r.layer.getOrElse(name, 0.0)), unit) }.toMap
    }
    Map(
      "workload" -> workload, "seed" -> r.seed, "trace" -> r.traceRun,
      "correct" -> (r.failed == 0), "attempted" -> math.max(1L, r.attempted),
      "failed" -> r.failed, "env" -> env, "noise" -> noise,
      "end_to_end" -> endToEnd.map { case (k, u) => k -> m(e2e(k), u) }.toMap,
      "named" -> named, "per_layer" -> perLayer, "samples" -> r.samples.toMap,
      "checks" -> r.checks.map { case (n, (pass, fail, first)) =>
        Map("name" -> n, "ok" -> (fail == 0), "passed" -> pass, "failed" -> fail,
          "first_failure" -> first) }.toSeq)
  }

  /** One JSON array per span: id, parent, op, name, start and end in ns. */
  def writeSpans(path: Path): Unit =
    Files.write(path, Trace.all.sortBy(_.start).map(s =>
      s"""[${s.id},${s.parent},${s.op},"${s.name}",${s.start},${s.end}]""").asJava)
}
