package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.pipeline.{TransactionAvro, TransactionPipeline}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, data: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m.getOrElse("data", ""))
  }
}

/** What one workload run reports. `metrics` maps name → (value, unit). */
final case class Result(attempted: Long, failed: Long, checks: Seq[String],
    metrics: Map[String, (Double, String)], info: Seq[(String, Double, String)])

object Stats {
  /** Linear-interpolated percentile, `q` in [0, 100]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val r = q / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), text.getBytes("UTF-8"))
  }
}

object Harness {
  val cores: Int = Runtime.getRuntime.availableProcessors
  /** Partitions of the generated topic, one per core. Four per core was
    * tried to soften stragglers: it cost a quarter of the throughput and
    * did not narrow the run-to-run spread.
    */
  val TopicPartitions: Int = cores
  /** Event-time origin of generated records. */
  val BaseMs: Long = 1700000000000L

  def session(a: Args, nCores: Int = cores): SparkSession = {
    val s = GraftSession.builder()
      .master(s"local[$nCores]")
      .config("spark.sql.shuffle.partitions", nCores.toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set up `rounds` times (session start plus the workload's warm-up) and
    * keep the last session. The first round runs from JVM launch. Returns
    * the session and each round's seconds.
    */
  def setup(a: Args, trace: Trace, rounds: Int = 3)(warm: SparkSession => Unit)
      : (SparkSession, Seq[Double]) = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    val times = (0 until rounds).map { r =>
      val n0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = trace.span("setup.session") { val s = session(a); warm(s); s }
      if (r == 0) (System.currentTimeMillis() - jvmStart) / 1000.0
      else (System.nanoTime() - n0) / 1e9
    }
    (spark, times)
  }

  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  // ---- the reference pipeline, through its public entry points ----

  /** Sink stage: key + Confluent-framed ApprovedTransaction, exactly the
    * record shape `TransactionPipeline.toKafka` writes.
    */
  def encode(df: DataFrame): DataFrame =
    df.select(col("id").cast("string").as("key"),
      call_udf("encode_approved", struct(df.columns.map(col).toIndexedSeq: _*),
        lit(TransactionAvro.ApprovedSchemaId)).as("value"))

  /** decode → transform → encode over Kafka-shaped rows. */
  def pipeline(kafka: DataFrame): DataFrame =
    encode(TransactionPipeline.transform(TransactionPipeline.decodeValues(kafka)))

  /** `n` generated frames as a cached Kafka-shaped DataFrame (key, value,
    * topic, partition, offset, timestamp) over `TopicPartitions`
    * partitions. Record i has event time BaseMs + i.
    */
  def kafkaFrames(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    val parts = TopicPartitions
    spark.range(0, n, 1, parts).as[Long].map { i =>
      val t = Gen.tx(seed, i, BaseMs + i)
      (t.id.getBytes("UTF-8"), TransactionAvro.encodeTransaction(t), "transactions",
        (i % parts).toInt, i / parts, t.timestamp)
    }.toDF("key", "value", "topic", "partition", "offset", "timestamp").cache()
  }

  /** Expected output of records `ids`, computed from the generator alone:
    * (approved count, per-currency sum of amountInUsd).
    */
  def expected(ids: Iterator[Long], gen: Long => graft.pipeline.TransactionPipeline.Transaction)
      : (Long, Map[String, Double]) = {
    var n = 0L
    val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    ids.foreach { i =>
      val t = gen(i)
      if (t.status != "CANCELLED") { n += 1; sums(t.currency) += Gen.usd(t.amount, t.currency) }
    }
    (n, sums.toMap)
  }

  /** Check decoded sink frames against the generator: every approved
    * record exactly once with the right fields, no cancelled or unknown
    * record, per-currency USD sums equal. Returns (failed records, notes).
    */
  def checkFrames(frames: Iterator[Array[Byte]], expectN: Long, expectSums: Map[String, Double],
      gen: Long => graft.pipeline.TransactionPipeline.Transaction): (Long, Seq[String]) = {
    val seen = new mutable.HashSet[Long]()
    var rows, bad, dups = 0L
    val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    frames.foreach { f =>
      rows += 1
      val ok = try {
        val a = TransactionAvro.decodeApproved(f)
        val i = Gen.index(a.id)
        if (!Gen.matches(gen(i), a)) false
        else if (!seen.add(i)) { dups += 1; false }
        else { sums(a.currency) += a.amountInUsd; true }
      } catch { case scala.util.control.NonFatal(_) => false }
      if (!ok) bad += 1
    }
    val missing = expectN - seen.size
    val sumMiss = (expectSums.keySet ++ sums.keySet).toSeq.sorted.filter { c =>
      val e = expectSums.getOrElse(c, 0.0); val g = sums.getOrElse(c, 0.0)
      math.abs(e - g) > 1e-9 * math.max(1.0, math.abs(e))
    }
    val notes = Seq(
      if (missing != 0) Some(s"missing approved records: $missing") else None,
      if (bad != 0) Some(s"wrong, unknown or cancelled records: $bad (duplicates $dups)") else None,
      if (sumMiss.nonEmpty) Some(s"per-currency USD sum differs: ${sumMiss.mkString(",")}") else None
    ).flatten
    (math.max(missing, 0L) + bad + sumMiss.size, notes)
  }
}
