package perfbench

/** Benchmark entry point. Runs one workload and writes its full result
  * record (metrics, failures, gate findings, notes) as JSON to `--result`;
  * `perfbench/run.py` turns it into the benchmark's output line.
  *
  * Untraced runs report the end-to-end metrics; traced runs (`--trace 1`)
  * report every per-layer metric (0 for a layer the workload does not
  * exercise) and write the spans file next to the result.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val code =
      try { run(args); 0 }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val resultPath = java.nio.file.Paths.get(args(args.indexOf("--result") + 1))
    val o = Opts.parse(args.patch(args.indexOf("--result"), Nil, 2))
    val tracer = new Tracer(o.trace)
    val r = tracer.span("run") {
      o.workload match {
        case "align_long" => AlignWorkload.run(o, tracer)
        case "catalog_shared" => CatalogWorkload.run(o, tracer)
        case "selftest" => CatalogWorkload.selfTest(o, tracer)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    }
    val spansFile = o.out.resolve(s"spans-${o.workload}-seed${o.seed}.json")
    if (o.trace) tracer.write(spansFile)

    val unknown = r.layers.keySet -- Layers.Units.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    val metrics: Seq[(String, (Double, String))] =
      if (o.trace) Layers.Units.map { case (k, u) => k -> (r.layers.getOrElse(k, 0.0), u) }
      else r.endToEnd
    val record = Json.obj(Seq(
      "correct" -> r.gate.ok.toString,
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "failed_names" -> Json.arr(r.failedNames.map(Json.str)),
      "problems" -> Json.arr(r.gate.problems.toSeq.map(Json.str)),
      "notes" -> Json.obj(r.notes.map { case (k, v) => k -> Json.str(v) } ++
        (if (o.trace) Seq("spans_file" -> Json.str(spansFile.toString)) else Nil))))
    Harness.writeString(resultPath, record + "\n")
  }
}
