package graftbench

/** One benchmark run of one workload in this JVM. Writes the run's result
  * (and, when traced, its spans) as JSON under the work directory;
  * `run.py` prints the final line.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --work <dir> [--data <dir>]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val trace = new Trace(a.trace, s"${a.workload}-seed${a.seed}")
    val r = a.workload match {
      case "pipe_bulk"   => PipeBulk.run(a, trace)
      case "pipe_stream" => PipeStream.run(a, trace)
      case "gates_sql"   => GatesSql.run(a, trace)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val metrics =
      if (a.trace) Layers.complete(r.metrics ++ Layers.self(trace))
      else Layers.endToEndNames.map(k => k -> r.metrics(k)).toMap
    if (a.trace)
      Json.write(s"${a.work}/out/${a.workload}-seed${a.seed}-spans.json", trace.toJson)
    def triple(t: (String, Double, String)) =
      s"""{"name": ${Json.str(t._1)}, "value": ${Json.num(t._2)}, "unit": ${Json.str(t._3)}}"""
    val m = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
    }
    Json.write(s"${a.work}/out/result.json",
      s"""{"attempted": ${r.attempted}, "failed": ${r.failed}, """ +
        s""""checks": [${r.checks.map(Json.str).mkString(", ")}], """ +
        s""""metrics": {${m.mkString(", ")}}, """ +
        s""""info": [${r.info.map(triple).mkString(", ")}]}""" + "\n")
    sys.exit(0)
  }
}
