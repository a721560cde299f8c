package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

import Harness._

/** gates_sql: one cold pass, in a fresh JVM and fixed order, over the 11
  * odd-numbered `sql_tpch_*` gate keys (wide aggregate, multi-way joins,
  * correlated subqueries, outer, semi and anti joins) through
  * `SparkEntry.queries`, each result to the noop sink. A key's time is
  * its build (everything before the DataFrame returns, catalog
  * registration included) plus its execution. The results are then
  * written out for the DuckDB oracle compare.
  */
object GatesSql {
  val Keys: Seq[String] = (1 to 21 by 2).map(i => s"sql_tpch_q$i")

  final case class KeyRun(key: String, buildS: Double, execS: Double, ok: Boolean,
      counters: Map[String, Double])

  def run(a: Args, trace: Trace): Result = {
    val (spark, setups) = setup(a, trace)(warm(a))
    val counters = new Counters(trace)
    if (a.trace) counters.attach(spark)
    val snap = () => if (a.trace) counters.snapshot(spark) else Map.empty[String, Double]
    val runs = mutable.ArrayBuffer.empty[KeyRun]
    val results = mutable.LinkedHashMap.empty[String, org.apache.spark.sql.DataFrame]
    val errors = mutable.ArrayBuffer.empty[String]
    val c0 = snap()
    val wall0 = System.nanoTime()
    Keys.foreach { key =>
      val k0 = snap()
      val t0 = System.nanoTime()
      var t1 = t0
      val ok = try {
        val df = trace.span("gate.build")(SparkEntry.queries(key)(spark, a.data))
        t1 = System.nanoTime()
        val kb = snap()
        trace.span("gate.exec")(noop(df))
        results(key) = df
        val t2 = System.nanoTime()
        spark.catalog.clearCache()
        runs += KeyRun(key, (t1 - t0) / 1e9, (t2 - t1) / 1e9, ok = true,
          Counters.diff(k0, kb).map { case (k, v) => s"build.$k" -> v } ++
            Counters.diff(kb, snap()).map { case (k, v) => s"exec.$k" -> v })
        true
      } catch { case scala.util.control.NonFatal(e) =>
        errors += s"$key failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
        runs += KeyRun(key, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, ok = false, Map.empty)
        false
      }
    }
    val wallS = (System.nanoTime() - wall0) / 1e9
    val exec = Counters.diff(c0, snap())

    // results for the oracle compare, outside the timed region
    val outDir = s"${a.work}/gates-out"
    results.foreach { case (key, df) => df.write.mode("overwrite").parquet(s"$outDir/$key") }
    val oracle = SparkEntry.oracleSql
    Json.write(s"$outDir/oracle_sql.json", Keys.filter(oracle.contains)
      .map(k => s"${Json.str(k)}: ${Json.str(oracle(k))}").mkString("{\n", ",\n", "\n}\n"))
    val noOracle = Keys.filterNot(oracle.contains)

    val layers =
      if (!a.trace) Map.empty[String, (Double, String)]
      else {
        writeBreakdown(a, runs.toSeq)
        val okRuns = runs.filter(_.ok).toSeq
        def mean(k: String) = okRuns.map(_.counters.getOrElse(k, 0.0)).sum / math.max(1, okRuns.size)
        val buildSum = okRuns.map(_.buildS).sum
        // catalog layer, timed on its own after the pass so the pass stays cold
        val r0 = snap()
        val (_, regS) = secondsOf(trace.span("catalog.register")(Tables.registerAll(spark, a.data)))
        val r1 = snap()
        Tables.names.foreach(n => trace.span("catalog.read")(Tables.t(spark, a.data, n)))
        val r2 = snap()
        Layers.exec(exec, wallS) ++ Layers.plan(exec) ++ Map(
          "gate.keys" -> (okRuns.size.toDouble, "count"),
          "gate.build_s" -> (Stats.median(okRuns.map(_.buildS)), "s"),
          "gate.exec_s" -> (Stats.median(okRuns.map(_.execS)), "s"),
          "gate.build_jobs" -> (mean("build.jobs"), "count"),
          "gate.exec_jobs" -> (mean("exec.jobs"), "count"),
          "gate.build_share" -> (buildSum / math.max(1e-9, buildSum + okRuns.map(_.execS).sum), "ratio"),
          "catalog.register_s" -> (regS, "s"),
          "catalog.register_jobs" -> (r1("jobs") - r0("jobs"), "count"),
          "catalog.read_jobs" -> ((r2("jobs") - r1("jobs")) / Tables.names.size, "count")) ++
          Probe.run(spark, a, trace, counters)
      }
    val keyS = runs.map(r => r.buildS + r.execS).toSeq
    Result(Keys.size, runs.count(!_.ok) + noOracle.size, errors.toSeq ++ noOracle.map(k => s"$k has no oracle"),
      Layers.endToEnd(setups, keyS.sum * 1000 / keyS.size) ++ layers,
      Seq(("wall_s", wallS, "s"), ("key_mean_s", keyS.sum / keyS.size, "s"),
        ("key_p50_s", Stats.median(keyS), "s"),
        ("key_max_s", keyS.max, "s"), ("keys", keyS.size.toDouble, "count")))
  }

  /** Engine warm-up on a table of its own (not the gate tables): a parquet
    * write and read, a join, an aggregate and a sort, so the first gate key
    * is not charged the JVM's first compilation of the SQL path.
    */
  def warm(a: Args)(s: SparkSession): Unit = {
    val path = s"${a.work}/warm.parquet"
    s.range(0, 20000, 1, cores)
      .selectExpr("id", "id % 97 AS k", "cast(id AS double) * 1.5 AS v",
        "concat('n', cast(id % 13 AS string)) AS s")
      .write.mode("overwrite").parquet(path)
    s.read.parquet(path).createOrReplaceTempView("warm_t")
    s.sql("""SELECT a.k, a.s, count(*) AS n, sum(b.v) AS sv
             FROM warm_t a JOIN warm_t b ON a.k = b.k AND a.id < 500
             GROUP BY a.k, a.s ORDER BY sv DESC, a.k LIMIT 10""").collect()
    s.catalog.dropTempView("warm_t")
  }

  /** Per-key breakdown of a traced pass: build/exec split, jobs, stages,
    * tasks, shuffle and spill bytes, Catalyst phases.
    */
  def writeBreakdown(a: Args, runs: Seq[KeyRun]): Unit = {
    val rows = runs.map { r =>
      val c = r.counters.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
      s"""  {"key": ${Json.str(r.key)}, "ok": ${r.ok}, "build_s": ${Json.num(r.buildS)}, """ +
        s""""exec_s": ${Json.num(r.execS)}, "counters": {${c.mkString(", ")}}}"""
    }
    Json.write(s"${a.work}/out/${a.workload}-seed${a.seed}-keys.json", rows.mkString("[\n", ",\n", "\n]\n"))
  }
}
