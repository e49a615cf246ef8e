package perfbench

import com.fasterxml.jackson.core.JsonToken
import graft.queue.{BatchIdLedger, EventQueue, Json, RetryingSink, StreamSink,
  StreamingQueueSink}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success}

/** The `ingest` workload: the ingestion façade (`graft.queue`).
  *
  * Phase 1: one producer thread enqueues the seed-ordered events into a
  * 1024-byte `EventQueue` over `RetryingSink(BenchSink)`, then flushes.
  * Phase 2: the valid events, staged as JSON-lines files before the clock
  * starts, are drained by a `Trigger.AvailableNow` stream into
  * `StreamingQueueSink.partitionedWriter`, one queue per partition. */
object Ingest {
  val MaxBytes = 1024L
  val Origin = "graft-app"

  /** The sink under test's far side: keeps every delivered payload and
    * fails the first attempt of about one record in 200, chosen from the
    * seed, so the retry path runs. */
  final class BenchSink(seed: Long, shard: String) extends StreamSink {
    val payloads = mutable.ArrayBuffer.empty[Array[Byte]]
    var attempts = 0L
    private var failedOnce = false
    override def putRecord(data: Array[Byte], partitionKey: String): Unit = {
      attempts += 1
      val h = scala.util.hashing.MurmurHash3.productHash((seed, shard, payloads.size))
      if (!failedOnce && Math.floorMod(h, 200) == 0) {
        failedOnce = true
        throw new java.io.IOException("injected sink failure")
      }
      failedOnce = false
      payloads += data
    }
  }

  private final class TracedSink(inner: StreamSink) extends StreamSink {
    override def putRecord(data: Array[Byte], partitionKey: String): Unit =
      Trace.span("queue.sink")(inner.putRecord(data, partitionKey))
  }

  /** Phase-2 sinks by "batch/partition"; executors run in this JVM. */
  val shards = new ConcurrentHashMap[String, BenchSink]()

  def streamQueue(seed: Long, batch: Long, part: Int): EventQueue = {
    val sink = new BenchSink(seed, s"$batch/$part")
    shards.put(s"$batch/$part", sink)
    EventQueue.withOriginAndMaxSize("bench", Origin, MaxBytes,
      new RetryingSink(sink, sleep = _ => ())).get
  }

  val schema = StructType(Seq(
    StructField("seq", LongType), StructField("event_id", LongType),
    StructField("ts", StringType), StructField("user_id", LongType),
    StructField("event", StringType), StructField("value", DoubleType),
    StructField("props", StringType)))

  def toEvent(r: Row): Map[String, Any] = Map(
    "seq" -> r.getLong(0), "event_id" -> r.getLong(1), "ts" -> r.getString(2),
    "user_id" -> r.getLong(3), "event" -> r.getString(4),
    "value" -> r.getDouble(5), "props" -> r.getString(6))

  /** (item byte size, seq) of each event in a payload, in payload order. */
  def decode(payload: Array[Byte]): Seq[(Long, Long)] = {
    val p = Main.mapper.getFactory.createParser(payload)
    try {
      require(p.nextToken() == JsonToken.START_ARRAY, "payload is not an array")
      val out = mutable.ArrayBuffer.empty[(Long, Long)]
      while (p.nextToken() == JsonToken.START_OBJECT) {
        val start = p.currentTokenLocation().getByteOffset
        val node = p.readValueAsTree[com.fasterxml.jackson.databind.JsonNode]()
        require(node.path("origin").asText() == Origin &&
          node.path("event").isTextual && node.has("server_timestamp"),
          s"event not enriched: $node")
        out += ((p.currentLocation().getByteOffset - start, node.get("seq").asLong()))
      }
      out.toSeq
    } finally p.close()
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    val rng = new scala.util.Random(r.seed)

    // Events: the fixture rows in a seed-permuted order, numbered by `seq`.
    // About 1 % lack `event` (validation must reject them) and 0.3 % carry
    // a props string longer than the batch limit (they must ship alone).
    val rows = graft.Tables.events(spark, r.sf(r.scale.ingestSf))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .collect()
    val n = math.min(r.scale.events, rows.length)
    val picked = rng.shuffle(rows.indices.toVector).take(n)
    val valid = Array.fill(n)(rng.nextDouble() >= 0.01)
    val events: Array[Map[String, Any]] = picked.zipWithIndex.map { case (ri, seq) =>
      val row = rows(ri)
      val props = if (rng.nextDouble() < 0.003)
        row.getString(5) + rng.alphanumeric.take(1100).mkString else row.getString(5)
      val e = Map[String, Any]("seq" -> seq.toLong, "event_id" -> row.getLong(0),
        "ts" -> row.getTimestamp(1).toString, "user_id" -> row.getLong(2),
        "event" -> row.getString(3), "value" -> row.getDouble(4), "props" -> props)
      if (valid(seq)) e else e - "event"
    }.toArray
    val validSeqs = (0 until n).filter(valid(_)).map(_.toLong)
    val injected = n - validSeqs.size
    val perFile = (validSeqs.size + r.scale.streamFiles - 1) / r.scale.streamFiles
    val fileOf = new Array[Int](n)
    validSeqs.zipWithIndex.foreach { case (s, i) => fileOf(s.toInt) = i / perFile }

    val src = r.work.resolve("stream-src")
    Files.createDirectories(src)
    validSeqs.grouped(perFile).zipWithIndex.foreach { case (seqs, f) =>
      Files.write(src.resolve(f"part-$f%03d.json"), seqs.map(s =>
        Main.mapper.writeValueAsString(events(s.toInt))).asJava)
    }

    // ---- phase 1 ----
    val p1Work = mutable.ArrayBuffer.empty[Double]
    val p1Lat = mutable.ArrayBuffer.empty[Double]
    var probe = Map.empty[String, Double]
    def round(tr: Boolean, timed: Boolean): Unit = {
      val sink = new BenchSink(r.seed, "p1")
      var now = 1700000000000000L
      // a deterministic clock keeps item sizes, hence batch counts, exact
      val q = EventQueue.withOpts("bench", EventQueue.DefaultRegion, MaxBytes,
        Origin, "", new TracedSink(new RetryingSink(sink, sleep = _ => ())),
        () => { now += 1013; now }).get
      val lat = new Array[Double](n)
      var rejected = 0
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) {
        val a = System.nanoTime()
        val res = Trace.span("queue.enqueue")(q.enqueue(events(i)))
        lat(i) = (System.nanoTime() - a) / 1e3
        res match {
          case Success(_) =>
          case Failure(_: IllegalArgumentException) if !valid(i) => rejected += 1
          case Failure(e) => r.check(s"enqueue $i", ok = false, e.toString)
        }
        i += 1
      }
      val flushed = Trace.span("queue.flush")(q.flush())
      val secs = (System.nanoTime() - t0) / 1e9
      if (timed) r.attempted += n
      if (timed && !tr) { p1Work += secs; p1Lat ++= lat }

      // Output check: exactly once, in order, within the batch limit.
      val items = sink.payloads.toSeq.map(decode)
      r.check("phase 1 flush succeeded", flushed.isSuccess, flushed.toString)
      r.check("phase 1 delivers every valid event once, in order",
        items.flatten.map(_._2) == validSeqs, "sequence differs")
      r.check("phase 1 batches stay under the limit",
        items.forall(b => b.size == 1 || b.map(_._1).sum < MaxBytes))
      r.check("phase 1 rejects exactly the invalid events",
        rejected == injected, s"rejected $rejected, injected $injected")

      if (tr) {
        val records = sink.payloads.size.toDouble
        r.layer("queue.batches") = records
        r.layer("queue.events_per_batch") = validSeqs.size / records
        r.layer("queue.bytes_per_batch") = sink.payloads.map(_.length.toLong).sum / records
        r.layer("queue.rejected") = rejected
        r.layer("queue.sink_attempts_per_record") = sink.attempts / records
        probe = probes(events.filter(_.contains("event")), sink.payloads.toSeq)
      }
    }

    // ---- phase 2 ----
    val p2Batch = mutable.ArrayBuffer.empty[Double]
    val p2Traced = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    var drains = 0
    var tracedDrains = 0
    def drain(tr: Boolean, timed: Boolean): Unit = {
      drains += 1
      val dir = r.work.resolve(s"stream-$drains")
      val ledgerDir = dir.resolve("ledger")
      val ledger = BatchIdLedger.forSession(ledgerDir.toString, spark)
      shards.clear()
      val seed = r.seed
      val writer = StreamingQueueSink.partitionedWriter[Row](ledger,
        (b: Long, p: Int) => streamQueue(seed, b, p))(toEvent)
      @volatile var lastCommit = 0L
      var batches = 0
      val fn: (Dataset[Row], Long) => Unit = (ds, id) => {
        Trace.span("stream.batch")(writer(ds, id))
        lastCommit = System.nanoTime(); batches += 1
      }
      Engine.label(spark.sparkContext, "stream")
      val t0 = System.nanoTime()
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", r.cpus.toString).json(src.toString)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", dir.resolve("checkpoint").toString)
        .foreachBatch(fn).start()
      q.awaitTermination()
      val secs = (lastCommit - t0) / 1e9
      val progress = q.recentProgress.filter(_.numInputRows > 0).toSeq
      if (timed) r.attempted += batches
      if (timed && !tr) {
        r.workSamples += secs
        p2Batch ++= progress.map(_.durationMs.get("triggerExecution").toDouble)
      }
      if (tr) { r.tracedWorkSamples += secs; p2Traced ++= progress; tracedDrains += 1 }

      // Output check: exactly once overall, FIFO within each source file,
      // one ledger marker per batch.
      val seqs = shards.asScala.toSeq.map { case (_, s) => s.payloads.toSeq.flatMap(decode).map(_._2) }
      r.check("phase 2 delivers every valid event exactly once",
        seqs.flatten.sorted == validSeqs, "multiset differs")
      r.check("phase 2 keeps each file's order",
        seqs.forall(_.groupBy(s => fileOf(s.toInt)).values
          .forall(g => g == g.sorted)), "out of order")
      val listing = Files.list(ledgerDir)
      val markers = try listing.iterator().asScala
        .count(_.getFileName.toString.endsWith(".done")) finally listing.close()
      r.check("phase 2 ledger holds one marker per batch", markers == batches,
        s"$markers markers, $batches batches")
    }

    (1 to 3).foreach(_ => round(tr = false, timed = false)) // warm-up
    drain(tr = false, timed = false)
    r.startClock()
    // The unit of work is a drain: the producer rounds' time spreads by
    // almost half between runs of the same code on a 4-core VM (whole runs
    // land in a fast or a slow mode), too wide to gate on.
    r.repeat(r.seconds * 0.3)(tr => round(tr, timed = true))
    r.repeat(r.seconds * 0.7)(tr => drain(tr, timed = true))

    r.samples("round_s") = p1Work.toSeq
    r.samples("drain_s") = r.workSamples.toSeq
    r.samples("batch_ms") = p2Batch.toSeq
    r.named("events_per_s") = Named(validSeqs.size / Stats.median(p1Work.toSeq), "1/s", p1Work.size)
    r.named("enqueue_p50_us") = Named(Stats.pct(p1Lat.toSeq, 0.5), "us", p1Lat.size)
    r.named("enqueue_p99_us") = Named(Stats.pct(p1Lat.toSeq, 0.99), "us", p1Lat.size)
    r.named("stream_events_per_s") =
      Named(validSeqs.size / Stats.median(r.workSamples.toSeq), "1/s", r.workSamples.size)
    r.named("stream_batch_p50_ms") = Named(Stats.pct(p2Batch.toSeq, 0.5), "ms", p2Batch.size)
    r.named("stream_batch_p90_ms") = Named(Stats.pct(p2Batch.toSeq, 0.9), "ms", p2Batch.size)

    if (r.traceRun) {
      val s = Trace.summary
      def perCall(name: String, self: Boolean = false) = s.get(name).map(a =>
        (if (self) a.selfNs else a.totalNs) / 1e3 / a.count).getOrElse(0.0)
      r.layer("queue.enqueue_self_us") = perCall("queue.enqueue", self = true)
      r.layer("queue.sink_us") = perCall("queue.sink")
      r.layer("queue.flush_us") = perCall("queue.flush")
      r.layer ++= probe
      val nb = p2Traced.size.toDouble
      def dur(k: String) = p2Traced.map(p =>
        Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / nb
      r.layer("stream.batches") = nb / tracedDrains
      r.layer("stream.rows_per_batch") = p2Traced.map(_.numInputRows).sum / nb
      r.layer("stream.latest_offset_ms") = dur("latestOffset")
      r.layer("stream.planning_ms") = dur("queryPlanning")
      r.layer("stream.add_batch_ms") = dur("addBatch")
      r.layer("stream.wal_commit_ms") = dur("walCommit")
      r.layer("stream.jobs_per_batch") = r.engine.totals(_ == "stream").jobs / nb
    }
  }

  /** Per-call cost of the façade's steps, timed one by one after a traced
    * round: enrich+validate and item sizing per event, whole-batch encoding
    * per delivered batch (re-decoded from the payloads). */
  private def probes(events: Seq[Map[String, Any]], payloads: Seq[Array[Byte]]): Map[String, Double] = {
    var enrich = 0L
    var size = 0L
    events.foreach { e =>
      val t0 = System.nanoTime()
      val enriched = EventQueue.enrichAndValidate(e, Origin, 1700000000000000L).get
      val t1 = System.nanoTime()
      Json.byteSize(enriched)
      size += System.nanoTime() - t1
      enrich += t1 - t0
    }
    val batches = payloads.map(p => Main.mapper.readValue(p,
      new com.fasterxml.jackson.core.`type`.TypeReference[Seq[Map[String, Any]]] {}))
    val t0 = System.nanoTime()
    batches.foreach(Json.encode)
    val encode = System.nanoTime() - t0
    Map("queue.enrich_us" -> enrich / 1e3 / events.size,
      "queue.item_encode_us" -> size / 1e3 / events.size,
      "queue.batch_encode_us" -> encode / 1e3 / batches.size)
  }
}
