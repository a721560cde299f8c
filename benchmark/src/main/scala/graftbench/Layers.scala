package graftbench

import graft.pipeline.TransactionAvro

import Harness._

/** Metric names, units and the derivations shared by the workloads. Every
  * traced run reports every name in `perLayer`; a layer the workload does
  * not exercise reports the zero work it did.
  */
object Layers {
  type M = Map[String, (Double, String)]

  val endToEndNames: Seq[String] = Seq("setup_s", "peak_rss_mb", "op_ms")

  val perLayer: Seq[(String, String)] = Seq(
    "codec.decode_us" -> "us", "codec.encode_us" -> "us",
    "codec.decode_krec_s" -> "krec/s", "codec.encode_krec_s" -> "krec/s",
    "codec.bytes_in" -> "B", "codec.bytes_out" -> "B",
    "transform.krec_s" -> "krec/s", "transform.selectivity" -> "ratio",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.shuffle_read_bytes" -> "B", "exec.shuffle_write_bytes" -> "B",
    "exec.spill_bytes" -> "B", "exec.busy_ratio" -> "ratio", "exec.krec_s_local1" -> "krec/s",
    "plan.queries" -> "count", "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms",
    "plan.planning_ms" -> "ms",
    "catalog.register_s" -> "s", "catalog.register_jobs" -> "count",
    "catalog.read_jobs" -> "count",
    "gate.keys" -> "count", "gate.build_s" -> "s", "gate.exec_s" -> "s",
    "gate.build_jobs" -> "count", "gate.exec_jobs" -> "count", "gate.build_share" -> "ratio",
    "stream.queries" -> "count", "stream.triggers" -> "count",
    "stream.trigger_ms_p50" -> "ms", "stream.rows_per_trigger" -> "count",
    "stream.addBatch_ms" -> "ms", "stream.queryPlanning_ms" -> "ms",
    "stream.walCommit_ms" -> "ms", "stream.latestOffset_ms" -> "ms",
    "stream.getBatch_ms" -> "ms",
    "self.setup_s" -> "s", "self.catalog_s" -> "s", "self.gate_s" -> "s",
    "self.pipe_s" -> "s", "self.stream_s" -> "s", "self.spark_job_s" -> "s",
    "gen.late_ms_max" -> "ms", "gen.s" -> "s", "trace.overhead_pct" -> "%")

  /** The end-to-end metrics. `opMs` is the workload's typical operation
    * time: the median bulk pass, the median streamed record's latency, or
    * the mean gate key of the cold pass.
    */
  def endToEnd(setups: Seq[Double], opMs: Double): M = Map(
    "setup_s" -> (Stats.median(setups), "s"),
    "peak_rss_mb" -> (peakRssMb, "MB"),
    "op_ms" -> (opMs, "ms"))

  /** Engine counters over a measured region of `wallS` seconds. */
  def exec(d: Map[String, Double], wallS: Double): M = {
    def g(k: String) = d.getOrElse(k, 0.0)
    Map(
      "exec.jobs" -> (g("jobs"), "count"), "exec.stages" -> (g("stages"), "count"),
      "exec.tasks" -> (g("tasks"), "count"),
      "exec.task_run_s" -> (g("task_run_ms") / 1e3, "s"),
      "exec.task_cpu_s" -> (g("task_cpu_ns") / 1e9, "s"),
      "exec.gc_s" -> (g("gc_ms") / 1e3, "s"),
      "exec.shuffle_read_bytes" -> (g("shuffle_read_bytes"), "B"),
      "exec.shuffle_write_bytes" -> (g("shuffle_write_bytes"), "B"),
      "exec.spill_bytes" -> (g("spill_bytes"), "B"),
      "exec.busy_ratio" -> (g("task_run_ms") / 1e3 / (wallS * cores), "ratio"))
  }

  /** Catalyst tracker phases, per planned query. */
  def plan(d: Map[String, Double]): M = {
    val q = d.getOrElse("queries", 0.0)
    def per(k: String) = if (q == 0) 0.0 else d.getOrElse(k, 0.0) / q
    Map("plan.queries" -> (q, "count"),
      "plan.analysis_ms" -> (per("analysis_ms"), "ms"),
      "plan.optimization_ms" -> (per("optimization_ms"), "ms"),
      "plan.planning_ms" -> (per("planning_ms"), "ms"))
  }

  /** Span self time per layer, summed over the run. */
  def self(trace: Trace): M = {
    val st = trace.selfTimesS
    def sum(prefix: String) = st.collect { case (k, v) if k.startsWith(prefix) => v }.sum
    Map("self.setup_s" -> (sum("setup."), "s"), "self.catalog_s" -> (sum("catalog."), "s"),
      "self.gate_s" -> (sum("gate."), "s"), "self.pipe_s" -> (sum("pipe."), "s"),
      "self.stream_s" -> (sum("stream."), "s"), "self.spark_job_s" -> (sum("spark.job"), "s"))
  }

  def health(genS: Double, lateMsMax: Double): M =
    Map("gen.s" -> (genS, "s"), "gen.late_ms_max" -> (lateMsMax, "ms"))

  /** Fill the layers a workload did not exercise with the zero work done. */
  def complete(m: M): M =
    perLayer.map { case (k, u) => k -> m.getOrElse(k, (0.0, u)) }.toMap

  /** Single-thread µs per record of the public codec functions, and mean
    * frame sizes, over `n` generated records.
    */
  def codecMicro(seed: Long, n: Int): M = {
    val txs = (0 until n).map(i => Gen.tx(seed, i, BaseMs + i))
    val framesIn = txs.map(t => TransactionAvro.encodeTransaction(t))
    def perRecUs(f: Int => Unit): Double = {
      (0 until n).foreach(f) // warm
      Stats.median((0 until 3).map { _ =>
        secondsOf((0 until n).foreach(f))._2 * 1e6 / n
      })
    }
    var sink = 0L
    val decodeUs = perRecUs(i => sink += TransactionAvro.decodeTransaction(framesIn(i)).id.length)
    val approved = txs.map(t => graft.pipeline.TransactionPipeline.ApprovedTransaction(
      t.id, t.amount, t.currency, t.timestamp, t.merchant, t.userId,
      Gen.usd(t.amount, t.currency), t.timestamp))
    val framesOut = approved.map(a => TransactionAvro.encodeApproved(a))
    val encodeUs = perRecUs(i => sink += TransactionAvro.encodeApproved(approved(i)).length)
    require(sink > 0)
    Map("codec.decode_us" -> (decodeUs, "us"), "codec.encode_us" -> (encodeUs, "us"),
      "codec.bytes_in" -> (framesIn.map(_.length.toDouble).sum / n, "B"),
      "codec.bytes_out" -> (framesOut.map(_.length.toDouble).sum / n, "B"))
  }
}
