package perfbench

object Workloads {
  val all: Map[String, Run => Unit] = Map(
    "ingest" -> Ingest.run,
    "iterative" -> (r => Queries.run(r, Queries.Iterative, r.scale.iterativeSf,
      perKey = true)),
    "analytics" -> (r => Queries.run(r, Queries.Analytics, r.scale.analyticsSf,
      perKey = false)),
    "lake" -> Lake.run)

  def sfOf(workload: String, s: Scale): String = workload match {
    case "ingest"    => s.ingestSf
    case "iterative" => s.iterativeSf
    case "analytics" => s.analyticsSf
    case "lake"      => s.lakeSf
  }
}
