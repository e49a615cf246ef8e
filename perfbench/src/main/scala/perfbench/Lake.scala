package perfbench

import graft.sources.SnapshotLake
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The `lake` workload: one client runs a seeded closed loop of appends,
  * grouped reads, upserts (into one live slice) and deletes on a fresh
  * `SnapshotLake` table, compacting it and expiring old snapshots after
  * each cycle. Deletes drop the oldest slice as appends add one, so the
  * table keeps a steady size.
  * An in-memory model of the issued ops checks the final table. */
object Lake {
  private val Ops = Seq("commit", "merge", "delete", "read", "read", "read")

  def run(r: Run): Unit = {
    val spark = r.spark
    val sc = spark.sparkContext
    val rng = new scala.util.Random(r.seed)
    val slice = r.scale.lakeSlice
    val table = r.work.resolve("lake").toString

    // Source rows: lineitem, collected once. Slice j is rows
    // [j*slice, (j+1)*slice); its g-th reuse gets keys k = i + g*pool for
    // row index i, so every appended row has a fresh key.
    val li = graft.Tables.lineitem(spark, r.sf(r.scale.lakeSf))
    val rows = li.collect()
    val schema = StructType(StructField("k", LongType, nullable = false) +: li.schema.fields)
    val qtyAt = li.columns.indexOf("l_quantity")
    val poolSize = rows.length.toLong
    val nSlices = (poolSize / slice).toInt
    require(nSlices > r.scale.lakeLive, s"lineitem too small for $nSlices slices")
    def frame(keyed: Seq[(Long, Row)]): DataFrame =
      spark.createDataFrame(keyed.map { case (k, row) => Row.fromSeq(k +: row.toSeq) }.asJava, schema)

    // Model: live slices (first key of each, oldest first) and the current
    // quantity of every row an upsert changed.
    val live = mutable.Queue.empty[Long]
    val changed = mutable.Map.empty[Long, Double]
    val order = rng.shuffle((0 until nSlices).toVector)
    var issued = 0L
    def nextSlice(): DataFrame = {
      val j = order((issued % nSlices).toInt)
      val first = j.toLong * slice + (issued / nSlices) * poolSize
      issued += 1
      live.enqueue(first)
      frame((first until first + slice).map(k => (k, rows((k % poolSize).toInt))))
    }
    def qtyOf(k: Long): Double =
      changed.getOrElse(k, rows((k % poolSize).toInt).getDouble(qtyAt))

    val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val traced = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val newFiles = mutable.ArrayBuffer.empty[(Int, Long)]
    val scanFiles = mutable.ArrayBuffer.empty[Long]
    val dataDir = r.work.resolve("lake/data")
    def dirs(): Set[Path] =
      if (!Files.exists(dataDir)) Set.empty else children(dataDir).toSet

    def op(name: String, tr: Boolean, timed: Boolean)(body: => Unit): Unit = {
      Engine.label(sc, s"lake:$name")
      val before = if (tr && name == "commit") dirs() else Set.empty[Path]
      val t0 = System.nanoTime()
      Trace.span(s"lake.$name")(body)
      val ms = (System.nanoTime() - t0) / 1e6
      if (timed)
        (if (tr) traced else samples).getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
      if (tr && name == "commit") (dirs() -- before).foreach { d =>
        val files = children(d).filter(_.toString.endsWith(".parquet"))
        newFiles += ((files.size, files.map(Files.size).sum))
      }
      if (tr) {
        r.engine.drain()
        val qes = r.engine.takeQueryExecutions()
        if (name == "read") Engine.noopWrite(qes).foreach(qe =>
          scanFiles += Engine.planMetric(qe.executedPlan, "numFiles"))
      }
    }

    /** One cycle: the six ops in a seeded order, then a compaction and an
      * expiry, so every cycle starts from the same table layout. Returns
      * the time of the six ops. */
    def cycle(tr: Boolean, timed: Boolean): Double = {
      r.collectGarbage(tr)
      var secs = 0.0
      val ops = rng.shuffle(Ops) ++ Seq("compact", "expire")
      ops.foreach { name =>
        val t0 = System.nanoTime()
        if (timed) r.attempted += 1
        try op(name, tr, timed)(name match {
          case "commit" => SnapshotLake.commit(nextSlice(), table)
          case "read" =>
            SnapshotLake.readLatest(spark, table)
              .groupBy("l_returnflag", "l_linestatus")
              .agg(count(lit(1)), sum("l_quantity"), sum("k"))
              .write.format("noop").mode("overwrite").save()
          case "merge" =>
            val target = live(rng.nextInt(live.size))
            val picks = rng.shuffle((target until target + slice).toVector)
              .take(slice / 10).map(k => (k, qtyOf(k) + 1))
            picks.foreach { case (k, q) => changed(k) = q }
            SnapshotLake.merge(spark, table, frame(picks.map { case (k, q) =>
              (k, Row.fromSeq(rows((k % poolSize).toInt).toSeq.updated(qtyAt, q)))
            }), Seq("k"))
          case "delete" =>
            val lo = live.dequeue()
            changed.filterInPlace { case (k, _) => k < lo || k >= lo + slice }
            SnapshotLake.delete(spark, table, col("k") >= lo && col("k") < lo + slice)
          case "compact" => SnapshotLake.compact(spark, table)
          case "expire" => SnapshotLake.expire(spark, table, keepLast = 3)
        })
        catch { case e: Exception => r.check(s"lake $name", ok = false, e.toString) }
        if (Ops.contains(name)) secs += (System.nanoTime() - t0) / 1e9
      }
      secs
    }

    (0 until r.scale.lakeLive).foreach(_ => SnapshotLake.commit(nextSlice(), table))
    cycle(tr = false, timed = false) // warm-up

    r.startClock()
    r.repeat(r.seconds) { tr =>
      val s = cycle(tr, timed = true)
      if (tr) r.tracedWorkSamples += s else r.workSamples += s
    }
    samples.foreach { case (n, xs) => r.samples(s"${n}_ms") = xs.toSeq }

    def named(name: String, xs: Seq[Double], q: Double): Unit =
      r.named(name) = Named(Stats.pct(xs, q), "ms", xs.size)
    val get = (n: String) => samples.get(n).map(_.toSeq).getOrElse(Nil)
    named("commit_p50_ms", get("commit"), 0.5)
    named("commit_p90_ms", get("commit"), 0.9)
    named("read_p50_ms", get("read"), 0.5)
    named("read_p90_ms", get("read"), 0.9)
    named("mutate_p50_ms", get("merge") ++ get("delete"), 0.5)

    // Output check: the final snapshot against the model.
    val got = SnapshotLake.readLatest(spark, table)
      .agg(count(lit(1)), sum("k"), sum("l_quantity")).head()
    val keys = live.toSeq.flatMap(s => s until s + slice)
    val want = (keys.size.toLong, keys.sum, keys.map(qtyOf).sum)
    r.check("lake final snapshot matches the model",
      got.getLong(0) == want._1 && got.getLong(1) == want._2 &&
        math.abs(got.getDouble(2) - want._3) < 1e-6,
      s"got $got, want $want")

    if (r.traceRun) {
      val tget = (n: String) => traced.get(n).map(_.toSeq).getOrElse(Nil)
      val commits = math.max(1, tget("commit").size)
      r.layer("lake.commit_jobs") = r.engine.totals(_ == "lake:commit").jobs.toDouble / commits
      r.layer("lake.files_per_commit") = newFiles.map(_._1).sum.toDouble / commits
      r.layer("lake.bytes_per_commit_mb") = newFiles.map(_._2).sum / 1048576.0 / commits
      r.layer("lake.read_files_per_scan") =
        if (scanFiles.isEmpty) 0.0 else scanFiles.sum.toDouble / scanFiles.size
      r.layer("lake.compact_s") = Stats.median(tget("compact")) / 1000
      r.layer("lake.expire_s") = Stats.median(tget("expire")) / 1000
      val latest = SnapshotLake.readLatest(spark, table)
      r.layer("lake.live_files") = latest.inputFiles.length
      r.layer("lake.manifests") = SnapshotLake.snapshots(spark, table).size
      val copy = r.work.resolve("lake-copy").toString
      latest.coalesce(1).write.parquet(copy)
      r.layer("lake.bytes_stored_per_input_byte") =
        treeBytes(r.work.resolve("lake")).toDouble / treeBytes(r.work.resolve("lake-copy"))
    }
  }

  private def children(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toList
    finally s.close()
  }

  private def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
}
