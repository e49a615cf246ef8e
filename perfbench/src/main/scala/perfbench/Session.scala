package perfbench

import org.apache.spark.sql.SparkSession

/** The Spark session every workload runs in: `graft.Bench`'s config block,
  * with the core count taken from the host instead of Bench's default 32. */
object Session {
  /** `graft.Bench`'s session conf, key for key; `check` compares the built
    * session against it so a drift between the two shows in the output. */
  def benchConf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.catalog.graftlake" -> "graft.sources.GraftLakeCatalog",
    "spark.sql.parquet.fieldId.read.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true",
    "spark.ui.enabled" -> "false",
  )

  def build(cpus: Int, localDir: String): SparkSession = {
    val b = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      // scratch space stays inside the benchmark's work directory
      .config("spark.local.dir", localDir)
    benchConf(cpus).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Keys of `benchConf` whose effective value differs, plus a note when the
    * graft extensions are not active (their `go_ts` function is missing). */
  def check(spark: SparkSession, cpus: Int): Seq[String] = {
    val conf = benchConf(cpus).collect {
      case (k, v) if spark.conf.getOption(k) != Some(v) =>
        s"$k=${spark.conf.getOption(k).getOrElse("<unset>")} (want $v)"
    }
    val ext =
      if (spark.sessionState.functionRegistry.functionExists(
            org.apache.spark.sql.catalyst.FunctionIdentifier("go_ts"))) Nil
      else Seq("GraftExtensions not active")
    conf ++ ext
  }
}
