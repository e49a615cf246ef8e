package perfbench

import graft.SparkEntry
import scala.collection.mutable
import scala.util.Try

/** The `iterative` and `analytics` workloads: contract keys built by
  * `SparkEntry.queries` and written to the `noop` sink, as `graft.Bench`
  * times them. One client thread issues one key at a time. */
object Queries {
  /** Keys that run many jobs while their DataFrame is built: one key per
    * hand-rolled fixpoint loop (graph rank, components, shortest paths,
    * BFS, BPE merge rounds). */
  val Iterative = Seq("q_pagerank", "q_connected_components", "q_sssp",
    "q_bfs_hops", "q_bpe_merges")

  /** Single-pass keys over one table: building them runs no job but the
    * parquet schema read of that table, so their time is Catalyst and task
    * execution. */
  val Analytics = Seq("q_agg_groupby", "q_corr_matrix", "q_rollup",
    "q_window_frame_rows", "q_correlated_subquery", "q_median_mode")

  def run(r: Run, keys: Seq[String], sfName: String, perKey: Boolean): Unit = {
    val spark = r.spark
    val sc = spark.sparkContext
    val sfDir = r.sf(sfName)
    val rng = new scala.util.Random(r.seed)
    val expected = r.expected.getOrElse(sfName, Map.empty)

    // Untimed warm-up pass; it is also the output check.
    for (k <- rng.shuffle(keys)) {
      Engine.label(sc, k)
      val got = Try(Canon.digest(SparkEntry.queries(k)(spark, sfDir)))
      val want = expected.get(k).map(e =>
        (e("rows").toString.toLong, e("digest").toString))
      r.check(s"$k output", want.isDefined && got.toOption == want,
        s"got $got, want $want")
    }

    val wall = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val build = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var plan = 0.0
    val keyTimes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    keys.foreach(keyTimes(_) = mutable.ArrayBuffer.empty)
    r.startClock()
    r.repeat(r.seconds) { traced =>
      var pass = 0.0
      for (k <- rng.shuffle(keys)) {
        r.attempted += 1
        r.collectGarbage(traced)
        val t0 = System.nanoTime()
        var t1 = t0
        try Trace.span("ops.key") {
          Engine.label(sc, s"$k:build")
          val df = Trace.span("ops.build")(SparkEntry.queries(k)(spark, sfDir))
          t1 = System.nanoTime()
          Engine.label(sc, s"$k:exec")
          Trace.span("ops.write")(df.write.format("noop").mode("overwrite").save())
        } catch { case e: Exception => r.check(s"$k ran", ok = false, e.toString) }
        val s = (System.nanoTime() - t0) / 1e9
        pass += s
        if (traced) {
          wall(k) += s
          build(k) += (t1 - t0) / 1e9
          r.engine.drain()
          plan += Engine.noopWrite(r.engine.takeQueryExecutions())
            .map(Engine.planSeconds).getOrElse(0.0)
        } else keyTimes(k) += s
      }
      if (traced) r.tracedWorkSamples += pass else r.workSamples += pass
    }
    keys.foreach(k => r.samples(s"${k}_s") = keyTimes(k).toSeq)
    r.named("query_s") = Named(Stats.median(r.workSamples.toSeq), "s", r.workSamples.size)

    if (r.traceRun) {
      val n = r.tracedWorkSamples.size.toDouble
      val buildS = build.values.sum / n
      r.layer("ops.build_s") = buildS
      r.layer("ops.build_jobs") =
        r.engine.totals(_.endsWith(":build")).jobs / n
      r.layer("ops.plan_s") = plan / n
      r.layer("ops.exec_s") = wall.values.sum / n - buildS - plan / n
      if (perKey) keys.foreach { k =>
        r.layer(s"ops.$k.wall_s") = wall(k) / n
        r.layer(s"ops.$k.build_s") = build(k) / n
        r.layer(s"ops.$k.jobs") = r.engine.totals(_.startsWith(k + ":")).jobs / n
      }
    }
  }
}
