package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import Harness._

/** pipe_bulk: the reference pipeline over a cached Kafka-shaped DataFrame
  * of generated frames, decode → transform → encode → noop, timed pass by
  * pass in steady state after one warm pass.
  */
object PipeBulk {
  val Records: Long = 200000L
  val WarmRecords: Long = 20000L

  def run(a: Args, trace: Trace): Result = {
    val (spark, setups) = setup(a, trace) { s =>
      val w = kafkaFrames(s, a.seed ^ 0x5eedL, WarmRecords)
      noop(pipeline(w)); w.unpersist()
    }
    val counters = new Counters(trace)
    val (frames, genS) = secondsOf {
      val f = kafkaFrames(spark, a.seed, Records); f.count(); f
    }
    noop(pipeline(frames)) // warm pass, not timed
    if (a.trace) counters.attach(spark)
    val c0 = if (a.trace) counters.snapshot(spark) else Map.empty[String, Double]
    val passes = mutable.ArrayBuffer.empty[Double]
    val wall0 = System.nanoTime()
    val deadline = wall0 + (a.seconds * 1e9).toLong
    while (System.nanoTime() < deadline || passes.length < 3)
      passes += secondsOf(trace.span("pipe.pass") { noop(pipeline(frames)) })._2
    val wallS = (System.nanoTime() - wall0) / 1e9
    val exec = if (a.trace) Counters.diff(c0, counters.snapshot(spark)) else Map.empty[String, Double]

    // correctness, outside the timed region
    val gen = (i: Long) => Gen.tx(a.seed, i, BaseMs + i)
    val (expN, expSums) = expected(Iterator.range(0, Records.toInt).map(_.toLong), gen)
    val out = pipeline(frames).select("value").collect().iterator.map(_.getAs[Array[Byte]](0))
    val (failed, notes) = checkFrames(out, expN, expSums, gen)
    frames.unpersist()

    val passMs = passes.map(_ * 1000).toSeq
    val krecS = Records / 1000.0 / Stats.median(passes.toSeq)
    val layers =
      if (!a.trace) Map.empty[String, (Double, String)]
      else Layers.exec(exec, wallS) ++ Layers.plan(exec) ++
        Probe.run(spark, a, trace, counters) ++
        Layers.health(genS, 0.0)
    Result(Records, failed, notes,
      Layers.endToEnd(setups, Stats.median(passMs)) ++ layers,
      Seq(("throughput_krec_s", krecS, "krec/s"),
        ("pass_p50_ms", Stats.median(passMs), "ms"), ("pass_p90_ms", Stats.pct(passMs, 90), "ms"),
        ("passes", passes.length.toDouble, "count"),
        ("records_per_pass", Records.toDouble, "count"), ("gen.s", genS, "s")))
  }
}
