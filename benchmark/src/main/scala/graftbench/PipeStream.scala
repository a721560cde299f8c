package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import Harness._

/** pipe_stream: the reference pipeline as a streaming query over a
  * MemoryStream of Kafka-shaped rows with `TopicPartitions` partitions. One generator thread adds
  * pre-encoded frames open loop, `PerTick` every `TickMs`; each frame's
  * event time is its due time, so a record's latency is the time its
  * micro-batch finished in the sink minus the time it was due.
  *
  * The query runs on a fixed processing-time trigger, and the generator
  * starts at a fixed phase to the trigger clock. With the default
  * as-soon-as-possible trigger, batch size and batch duration feed back on
  * each other and runs settled at either of two cadences (p50 latency
  * about 350 ms or about 560 ms) at random.
  */
object PipeStream {
  val Rate = 20000
  val TickMs = 100
  val PerTick: Int = Rate * TickMs / 1000
  val TriggerMs = 1000L
  /** Ticks fall this long after a trigger boundary. */
  val PhaseMs = 50L
  val WarmupS = 2

  /** Event time of record i: its due offset from the run's start. */
  def tsMs(i: Long): Long = BaseMs + (i / PerTick) * TickMs

  final case class Delivered(doneMs: Double, frames: Array[Array[Byte]])

  /** Start the pipeline over a fresh MemoryStream; the sink keeps each
    * batch's output frames and completion time.
    */
  def start(spark: SparkSession, a: Args, trace: Trace, name: String, trigger: Trigger,
      sink: mutable.ArrayBuffer[Delivered]) = {
    val src = MemoryStream[Array[Byte]](TopicPartitions)(Encoders.BINARY, spark.sqlContext)
    val q = pipeline(src.toDF()).writeStream
      .queryName(name)
      .option("checkpointLocation", s"${a.work}/checkpoints/$name-${System.nanoTime()}")
      .trigger(trigger)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val out = b.select("value").collect().map(_.getAs[Array[Byte]](0))
        val done = trace.nowMs
        sink.synchronized { sink += Delivered(done, out) }
        ()
      }
      .start()
    (src, q)
  }

  /** Pre-encode records [0, n) in parallel, outside the generator thread. */
  def encodeFrames(spark: SparkSession, seed: Long, n: Long): Array[Array[Byte]] = {
    import spark.implicits._
    spark.range(0, n, 1, cores).as[Long]
      .map(i => graft.pipeline.TransactionAvro.encodeTransaction(Gen.tx(seed, i, tsMs(i))))
      .collect()
  }

  def run(a: Args, trace: Trace): Result = {
    val (spark, setups) = setup(a, trace) { s =>
      val sink = mutable.ArrayBuffer.empty[Delivered]
      val (src, q) = start(s, a, trace, "warm", Trigger.ProcessingTime(0L), sink)
      val warm = encodeFrames(s, a.seed ^ 0x5eedL, 3L * PerTick)
      warm.grouped(PerTick).foreach { g => src.addData(g.toSeq: _*); q.processAllAvailable() }
      q.stop()
    }
    val counters = new Counters(trace)
    val ticks = ((WarmupS + a.seconds) * 1000 / TickMs).toInt
    val total = ticks.toLong * PerTick
    val (frames, genS) = secondsOf(encodeFrames(spark, a.seed, total))
    if (a.trace) counters.attach(spark)
    val c0 = if (a.trace) counters.snapshot(spark) else Map.empty[String, Double]

    val sink = mutable.ArrayBuffer.empty[Delivered]
    val (src, q) = start(spark, a, trace, "pipe", Trigger.ProcessingTime(TriggerMs), sink)
    val late = new Array[Double](ticks)
    @volatile var startMs = 0.0
    val gen = new Thread(() => {
      val now = System.currentTimeMillis()
      val first = (now / TriggerMs + 1) * TriggerMs + PhaseMs
      Thread.sleep(first - now + (if (first - now < 100) TriggerMs else 0L))
      val t0 = System.nanoTime()
      startMs = trace.nowMs
      (0 until ticks).foreach { k =>
        val due = t0 + k.toLong * TickMs * 1000000L
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        late(k) = (System.nanoTime() - due) / 1e6
        src.addData(frames.slice(k * PerTick, (k + 1) * PerTick).toSeq: _*)
      }
    }, "open-loop-generator")
    val wall0 = System.nanoTime()
    trace.span("stream.run") {
      gen.start(); gen.join()
      q.processAllAvailable()
    }
    q.stop()
    val wallS = (System.nanoTime() - wall0) / 1e9
    val exec = if (a.trace) Counters.diff(c0, counters.snapshot(spark)) else Map.empty[String, Double]

    // latency and correctness, outside the timed region
    val measuredFrom = BaseMs + WarmupS * 1000L
    val lat = mutable.ArrayBuffer.empty[Double]
    val allOut = sink.iterator.flatMap { d =>
      d.frames.iterator.map { f =>
        val a0 = graft.pipeline.TransactionAvro.decodeApproved(f)
        val ts = a0.timestamp.getTime
        if (ts >= measuredFrom) lat += d.doneMs - (startMs + (ts - BaseMs))
        f
      }
    }
    val genTx = (i: Long) => Gen.tx(a.seed, i, tsMs(i))
    val (expN, expSums) = expected(Iterator.range(0, total.toInt).map(_.toLong), genTx)
    val (failed, notes) = checkFrames(allOut, expN, expSums, genTx)
    val measuredRecords = lat.length
    val lateMax = late.drop(WarmupS * 1000 / TickMs).max

    val layers =
      if (!a.trace) Map.empty[String, (Double, String)]
      else {
        val prog = counters.progress.synchronized(counters.progress.toList)
          .filter(_.getOrElse("rows", 0.0) > 0)
        def med(k: String) = Stats.median(prog.map(_.getOrElse(k, 0.0)))
        Layers.exec(exec, wallS) ++ Layers.plan(exec) ++ Map(
          "stream.queries" -> (exec.getOrElse("stream_queries", 0.0), "count"),
          "stream.triggers" -> (exec.getOrElse("triggers", 0.0), "count"),
          "stream.trigger_ms_p50" -> (med("triggerExecution"), "ms"),
          "stream.rows_per_trigger" -> (med("rows"), "count"),
          "stream.addBatch_ms" -> (med("addBatch"), "ms"),
          "stream.queryPlanning_ms" -> (med("queryPlanning"), "ms"),
          "stream.walCommit_ms" -> (med("walCommit"), "ms"),
          "stream.latestOffset_ms" -> (med("latestOffset"), "ms"),
          "stream.getBatch_ms" -> (med("getBatch"), "ms")) ++
          Probe.run(spark, a, trace, counters) ++ Layers.health(genS, lateMax)
      }
    val latSeq = lat.toSeq
    val p99 = Stats.pct(latSeq, 99)
    Result(total, failed, notes,
      Layers.endToEnd(setups, Stats.median(latSeq)) ++ layers,
      Seq(("lat_mean_ms", latSeq.sum / math.max(1, latSeq.size), "ms"),
        ("lat_p50_ms", Stats.pct(latSeq, 50), "ms"), ("lat_p99_ms", p99, "ms"),
        ("measured_records", measuredRecords.toDouble, "count"),
        ("sink_krec_s", measuredRecords / 1000.0 / a.seconds, "krec/s"),
        ("gen.late_ms_max", lateMax, "ms"), ("gen.s", genS, "s"),
        ("batches", sink.length.toDouble, "count")))
  }
}
