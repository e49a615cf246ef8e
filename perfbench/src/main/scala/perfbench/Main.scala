package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Input sizes of one benchmark scale. `full` is the measured benchmark;
  * `tiny` is the self-test's, small enough that every workload runs in
  * seconds. */
final case class Scale(ingestSf: String, iterativeSf: String,
    analyticsSf: String, lakeSf: String, events: Int, streamFiles: Int,
    lakeSlice: Int, lakeLive: Int)

object Scale {
  val byName = Map(
    // iterative runs at sf0.01 and lake on sf0.01's lineitem: at sf0.1 a
    // pass of the iterative keys takes 37 s on 4 cores, and both workloads
    // mostly pay per-job costs, which do not grow with the data
    "full" -> Scale("sf0.1", "sf0.01", "sf0.1", "sf0.01", events = 10000,
      streamFiles = 40, lakeSlice = 1500, lakeLive = 4),
    "tiny" -> Scale("sf0.001", "sf0.001", "sf0.001", "sf0.001", events = 2000,
      streamFiles = 8, lakeSlice = 300, lakeLive = 4))
}

/** A workload-specific metric: value, unit and sample count. */
final case class Named(value: Double, unit: String, n: Long)

/** One run of one workload. Everything a workload measures goes in here;
  * `Report` turns it into the run's artifact. */
final class Run(val spark: SparkSession, val scale: Scale, val data: String,
    val seed: Long, val seconds: Double, val traceRun: Boolean,
    val work: Path, val expected: Map[String, Map[String, Map[String, Any]]],
    val cpus: Int) {
  val named = mutable.LinkedHashMap.empty[String, Named]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Output checks by name: times passed, times failed, first failure. */
  val checks = mutable.LinkedHashMap.empty[String, (Int, Int, String)]
  var attempted = 0L
  var failed = 0L
  /** Times of the workload's unit of work in untraced repetitions, in
    * seconds; their median is `work_s`. */
  val workSamples = mutable.ArrayBuffer.empty[Double]
  /** Unit-of-work times of traced repetitions, for `trace.overhead`. */
  val tracedWorkSamples = mutable.ArrayBuffer.empty[Double]

  lazy val engine = new Engine(spark)
  private var clockStarted = false
  private var ticks0 = (-1L, -1L)
  private var gc0 = 0L
  var setupS = Double.NaN
  /** Traced windows, wall-clock ms, for the engine's coverage figures,
    * and the time inside them the benchmark itself paused (collections
    * between ops). */
  val tracedWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  var pausedMs = 0L
  private var harnessGcMs = 0L
  /** Raw samples by name, kept in the artifact for reading a run. */
  val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]

  /** A collection between two ops, so no op pays for another's garbage. */
  def collectGarbage(traced: Boolean): Unit = {
    val t0 = System.currentTimeMillis()
    val gc = Host.gcMillis()
    System.gc()
    harnessGcMs += Host.gcMillis() - gc
    if (traced) pausedMs += System.currentTimeMillis() - t0
  }

  def sf(dir: String): String = s"$data/$dir"

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val (pass, fail, first) = checks.getOrElse(name, (0, 0, ""))
    checks(name) =
      if (ok) (pass + 1, fail, first)
      else (pass, fail + 1, if (fail == 0) detail else first)
    if (!ok) failed += 1
  }

  /** Collects the set-up's garbage and gives background JIT compilation a
    * second to settle, then marks the first timed op: set-up ends here. */
  def startClock(): Unit = if (!clockStarted) {
    System.gc()
    Thread.sleep(1000)
    clockStarted = true
    setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    ticks0 = Host.cpuTicks()
    gc0 = Host.gcMillis()
  }

  /** Runs `rep` until `budget` seconds of measuring have passed: at least
    * once, and in a traced run at least twice, alternating untraced and
    * traced repetitions (the argument says which). */
  def repeat(budget: Double)(rep: Boolean => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    val atLeast = if (traceRun) 2 else 1
    while (i < atLeast || (System.nanoTime() - t0) / 1e9 < budget) {
      val traced = traceRun && i % 2 == 1
      if (traced) {
        engine.attach(); Trace.on = true
        val w0 = System.currentTimeMillis()
        try rep(true)
        finally {
          Trace.on = false; engine.detach()
          tracedWindows += ((w0, System.currentTimeMillis()))
        }
      } else rep(false)
      i += 1
    }
  }

  /** Noise markers over the measured part of the run; `gc_ms` leaves out
    * the collections the benchmark itself asks for between ops. */
  def noise(): Map[String, Double] = Map(
    "steal_share" -> Host.stealShare(ticks0, Host.cpuTicks()),
    "loadavg1" -> Host.loadAvg1(),
    "gc_ms" -> (Host.gcMillis() - gc0 - harnessGcMs).toDouble)
}

object Main {
  val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = args.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    args.get("--dump-oracle").foreach { out =>
      val keys = Map("iterative" -> Queries.Iterative, "analytics" -> Queries.Analytics)
      Files.writeString(Paths.get(out), mapper.writeValueAsString(Map(
        "keys" -> keys,
        "sql" -> keys.values.flatten.map(k => k -> graft.SparkEntry.oracleSql(k)).toMap)))
      return
    }
    val workload = arg("--workload")
    require(Workloads.all.contains(workload), s"unknown workload $workload")
    val scale = Scale.byName(arg("--scale"))
    val cpus = arg("--cpus").toInt
    val work = Paths.get(arg("--work")).toAbsolutePath
    val spark = Session.build(cpus, work.resolve("spark-local").toString)
    val expected = mapper.readValue(Paths.get(arg("--expected")).toFile,
      new com.fasterxml.jackson.core.`type`.TypeReference[
        Map[String, Map[String, Map[String, Any]]]] {})
    val run = new Run(spark, scale, arg("--data"), arg("--seed").toLong,
      arg("--seconds").toDouble, arg("--trace") == "1", work, expected, cpus)
    val confDrift = Session.check(spark, cpus)
    run.check("session conf equals graft.Bench's", confDrift.isEmpty,
      confDrift.mkString("; "))
    try Workloads.all(workload)(run)
    catch {
      case e: Throwable =>
        run.check("workload completed", ok = false, e.toString)
        e.printStackTrace()
    }
    val artifact = Report.artifact(run, workload, Map(
      "cpus" -> cpus,
      "spark.master" -> spark.sparkContext.master,
      "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "sf" -> Workloads.sfOf(workload, scale),
      "scale" -> arg("--scale"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "seed" -> run.seed,
      "source" -> arg("--source"),
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "session_conf" -> Session.benchConf(cpus).map { case (k, _) =>
        k -> spark.conf.getOption(k).orNull }.toMap,
      "extensions" -> "graft.GraftExtensions"))
    Files.writeString(Paths.get(arg("--out")), mapper.writeValueAsString(artifact))
    if (run.traceRun) Report.writeSpans(Paths.get(arg("--spans")))
    spark.stop()
  }
}
