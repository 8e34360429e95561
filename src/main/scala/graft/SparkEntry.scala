package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Driver contract: one `queries` entry per implemented operator (SURVEY §2)
 * plus the data-pipeline operators, each with a DuckDB oracle where the
 * semantics are SQL-expressible. Both maps are views of the gate table,
 * [[gate.GateTable]], whose per-family files state each row's query next
 * to its oracle.
 */
object SparkEntry {

  /** Flagship query (driver smoke-checks rows > 0 on sf0.001). */
  def entry(spark: SparkSession): DataFrame =
    queries("g_out_degrees")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = gate.GateTable.queries

  def oracleSql: Map[String, String] = gate.GateTable.oracleSql

  /** The one session the gate harnesses (Verify, Bench, TimeOne,
   * PlanAudit) run in, so the gate verifies the configuration the sweep
   * times: local[SPARK_GRAFT_CPUS] with as many shuffle partitions. */
  def harnessSession(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // AQE coalesces the shuffles of the tiny fixture graphs — every
      // query result is value-deterministic by design, so runtime
      // re-planning is safe
      .config("spark.sql.adaptive.enabled", "true")
      // driver testdata writes TIMESTAMP(NANOS) parquet, unsupported by
      // Spark's reader — surface it as Long nanos instead
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // baseline harness parity (reference LDBCBenchmarkBase.scala:26-36)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
