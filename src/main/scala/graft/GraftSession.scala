package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale posture baked in. Callers
  * set the master (Bench and Verify: local[SPARK_GRAFT_CPUS]); on a real
  * cluster the same confs apply (master/memory come from spark-submit).
  */
object GraftSession {

  /** Cluster-agnostic tuning:
    * - AQE on (default in Spark 4) with skew-join splitting: runtime
    *   re-plan handles moderate skew; SkewJoin.saltedInnerJoin covers the
    *   pathological single-key case.
    * - UTC session time (the reference's TIMESTAMP(3) semantics are
    *   zone-free millis; mixed-zone clusters must not re-interpret).
    * - 128 MiB file partitions: big enough to amortize task overhead at
    *   100 TB (~800k tasks), small enough to fit comfortably in executor
    *   memory with a wide row.
    */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", String.valueOf(128L << 20))
      // bucketed-table writes (operators.Bucketing) land here; keep the
      // repo clean and let repeated local runs overwrite freely
      .config("spark.sql.warehouse.dir", "file:///tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
}
