package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval on the wall clock (epoch ms, fractional). */
final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, attrs: Map[String, Double] = Map.empty)

/** In-memory span recorder plus the Spark listeners that feed the per-layer
  * counters. Spans are written out when the run ends; nothing is recorded
  * when tracing is off.
  */
final class Trace(val on: Boolean, runId: String) {
  private val t0Nano = System.nanoTime()
  private val t0Wall = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Wall + (System.nanoTime() - t0Nano) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private val nextId = new AtomicLong(1)

  def add(name: String, start: Double, end: Double, parent: Int,
      attrs: Map[String, Double] = Map.empty): Int = {
    val id = nextId.getAndIncrement().toInt
    spans.synchronized { spans += Span(id, name, start, end, parent, attrs) }
    id
  }

  /** Time `body` as a span named `name`, child of the enclosing span. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.getAndIncrement().toInt
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val start = nowMs
      try body
      finally {
        val end = nowMs
        stack.pop()
        spans.synchronized { spans += Span(id, name, start, end, parent) }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Listener-born spans (`spark.job`) carry parent -1: give each the
    * innermost recorded span that encloses it.
    */
  def resolved: Seq[Span] = {
    val xs = all
    val recorded = xs.filter(_.parent >= 0)
    xs.map { s =>
      if (s.parent >= 0) s
      else {
        val enclosing = recorded.filter(d => d.start <= s.start && s.end <= d.end + 1.0)
        s.copy(parent = if (enclosing.isEmpty) 0 else enclosing.minBy(d => d.end - d.start).id)
      }
    }
  }

  /** Per span name: total duration minus the part its children cover. */
  def selfTimesS: Map[String, Double] = {
    val xs = resolved
    val kids = xs.groupBy(_.parent)
    xs.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter(iv => iv._2 > iv._1))
        (s.end - s.start - covered) / 1000.0
      }.sum
    }
  }

  private def union(ivs: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  def toJson: String = {
    def one(s: Span): String = {
      val a = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","start":${Json.num(s.start)},""" +
        s""""end":${Json.num(s.end)},"parent":${s.parent},"run":"$runId","attrs":{$a}}"""
    }
    resolved.map(one).mkString("[\n", ",\n", "\n]\n")
  }
}

/** Engine counters from Spark's own listener APIs, cumulative since
  * attachment; callers diff snapshots around the region they measure.
  */
final class Counters(trace: Trace) extends SparkListener {
  private val c = mutable.LinkedHashMap(Seq("jobs", "stages", "tasks", "task_run_ms",
    "task_cpu_ns", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "analysis_ms", "optimization_ms", "planning_ms", "queries",
    "stream_queries", "triggers").map(_ -> new AtomicLong(0)): _*)
  private def inc(k: String, v: Long = 1): Unit = c(k).addAndGet(v)
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  /** per-trigger progress, in arrival order */
  val progress = mutable.ArrayBuffer.empty[Map[String, Double]]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    inc("jobs"); jobStarts.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val st = jobStarts.remove(e.jobId)
    if (st != null && trace.on) trace.add("spark.job", st.toDouble, e.time.toDouble, -1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = inc("stages")
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    inc("tasks")
    val m = e.taskMetrics
    if (m != null) {
      inc("task_run_ms", m.executorRunTime)
      inc("task_cpu_ns", m.executorCpuTime)
      inc("gc_ms", m.jvmGCTime)
      inc("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      inc("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      inc("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      inc("queries")
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => inc(s"${p}_ms", s.durationMs))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      inc("stream_queries")
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      inc("triggers")
      progress.synchronized {
        progress += (d ++ Map("rows" -> p.numInputRows.toDouble))
      }
      if (trace.on) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val total = d.getOrElse("triggerExecution", 0.0)
        val id = trace.add("stream.trigger", start, start + total, 0,
          Map("rows" -> p.numInputRows.toDouble, "batch" -> p.batchId.toDouble))
        // durationMs has no start times: lay the parts end to end
        var at = start
        Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
          .foreach { k => d.get(k).foreach { v =>
            trace.add(s"stream.$k", at, at + v, id); at += v
          } }
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Counter values once every event posted so far is delivered. */
  def snapshot(spark: SparkSession): Map[String, Double] = {
    BenchBus.drain(spark.sparkContext)
    c.map { case (k, v) => k -> v.get.toDouble }.toMap
  }
}

object Counters {
  def diff(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }
}
