package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.TransactionPipeline

import Harness._

/** Isolated layer passes of the reference pipeline, run at the end of every
  * traced run: decode only, transform only over cached decoded rows, encode
  * only over cached transformed rows, the single-thread codec, the tracing
  * overhead (full passes with and without the listeners) and a full pass on
  * `local[1]`. Stops the caller's session.
  */
object Probe {
  val Records: Long = 200000L
  val Reps = 3

  def run(spark: SparkSession, a: Args, trace: Trace, counters: Counters): Layers.M = {
    val n = Records
    val frames = kafkaFrames(spark, a.seed, n)
    frames.count()
    def krecS(name: String, df: => DataFrame): Double =
      n / 1000.0 / Stats.median((0 until Reps).map(_ =>
        secondsOf(trace.span(name)(noop(df)))._2))

    noop(pipeline(frames))
    // tracing overhead: alternate full passes with the listeners off and on
    val (off, on) = (0 until Reps).map { _ =>
      counters.detach(spark)
      val u = secondsOf(noop(pipeline(frames)))._2
      counters.attach(spark)
      val t = secondsOf(trace.span("pipe.full")(noop(pipeline(frames))))._2
      (u, t)
    }.unzip
    val overheadPct = (Stats.median(on) / Stats.median(off) - 1) * 100

    val decodeK = krecS("pipe.decode", TransactionPipeline.decodeValues(frames))
    val decoded = TransactionPipeline.decodeValues(frames).cache()
    decoded.count()
    val transformK = krecS("pipe.transform", TransactionPipeline.transform(decoded))
    val transformed = TransactionPipeline.transform(decoded).cache()
    val approvedN = transformed.count()
    val encodeK = krecS("pipe.encode", encode(transformed))
    transformed.unpersist(); decoded.unpersist()
    val micro = Layers.codecMicro(a.seed, 20000)

    // single-thread engine baseline: the same pass on local[1]
    spark.stop()
    val one = session(a, 1)
    val f1 = kafkaFrames(one, a.seed, n); f1.count()
    noop(pipeline(f1))
    val local1 = n / 1000.0 / Stats.median((0 until 2).map(_ => secondsOf(noop(pipeline(f1)))._2))
    one.stop()

    micro ++ Map(
      "codec.decode_krec_s" -> (decodeK, "krec/s"),
      "codec.encode_krec_s" -> (encodeK, "krec/s"),
      "transform.krec_s" -> (transformK, "krec/s"),
      "transform.selectivity" -> (approvedN.toDouble / n, "ratio"),
      "exec.krec_s_local1" -> (local1, "krec/s"),
      "trace.overhead_pct" -> (overheadPct, "%"))
  }
}
