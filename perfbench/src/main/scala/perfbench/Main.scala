package perfbench

import java.nio.file.Files

/** JVM side of one benchmark run: runs the workload and writes its result
  * (end-to-end figures, per-layer metrics, op log, check failures) as one
  * JSON object to `--out`. perfbench/run.py builds, launches, qualifies
  * the run and prints the final result line. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    Trace.enabled = args.trace
    val scale = Scale.of(args.data)
    val out = args.workload match {
      case "lake_mixed" => LakeMixed.run(args, scale)
      case "corpus_ingest" => CorpusIngest.run(args, scale)
      case "query_pack" => QueryPack.run(args, scale)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    if (args.record.isDefined) return
    val c = out.client
    val lat = c.ops.map(_.ms).toSeq
    val (tp, tv) = Stats.tail(lat)
    val e2e = Seq(
      "setup_s" -> Stats.median(out.setupS),
      "op_p50_ms" -> Stats.median(lat),
      "op_tail_ms" -> tv,
      "op_geomean_ms" -> Stats.geomean(lat),
      "pass_s" -> Stats.median(out.cycles),
      "peak_rss_mb" -> JvmProbe.peakRssMb())
    val errorRate = c.failed.toDouble / math.max(1, c.attempted)
    val details = out.details :+ (("error_rate", errorRate, "failed/attempted"))
    if (args.trace) Trace.writeSpans(args.work.resolve("spans.jsonl"))

    def nums(xs: Seq[Double]) = xs.map(Json.num).mkString("[", ",", "]")
    val json = Json.obj(Seq(
      "workload" -> Json.str(args.workload),
      "seed" -> args.seed.toString,
      "trace" -> args.trace.toString,
      "scale" -> Json.str(scale.name),
      "attempted" -> c.attempted.toString,
      "failed" -> c.failed.toString,
      "errors" -> c.errors.take(20).map(Json.str).mkString("[", ",", "]"),
      "setup_rounds_s" -> nums(out.setupS),
      "cycles_s" -> nums(out.cycles),
      "tail" -> Json.str(s"p$tp of ${lat.size} ops"),
      "e2e" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "details" -> Json.obj(details.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "notes" -> Json.obj(out.notes.map { case (k, v) => k -> Json.str(v) }),
      "layers" -> Json.obj(out.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "ops" -> c.ops.map(o => s"[${Json.str(o.kind)},${Json.num(o.ms)},${o.ok}]")
        .mkString("[", ",", "]")))
    Files.writeString(args.out, json + "\n")
  }
}
