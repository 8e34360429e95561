package graft

import java.nio.file.Files

import graft.gate.{GateRow, GateTable}

/** The correctness-gate table: one row per name, each with an oracle, and
 * each row run in the session it declares. */
class GateTableSpec extends TestBase {
  import spark.implicits._

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** A five-nation TPC-H-shaped fixture directory: the tables behind the
   * customer→order graph and the nation trade graph. */
  private lazy val fixtureDir: String = {
    val dir = Files.createTempDirectory("gate-table-spec").toString
    def write(df: org.apache.spark.sql.DataFrame, table: String): Unit =
      df.write.parquet(s"$dir/$table.parquet")
    write((0 until 5).map(n => (n, s"NATION_$n")).toDF("n_nationkey", "n_name"), "nation")
    write((0 until 10).map(c => (c, c % 5, c * 100.0))
      .toDF("c_custkey", "c_nationkey", "c_acctbal"), "customer")
    write((0 until 10).map(sp => (sp, (sp + 2) % 5)).toDF("s_suppkey", "s_nationkey"), "supplier")
    write((0 until 20).map(o => (o, o % 10, o * 10.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice"), "orders")
    write((0 until 40).map(l => (l % 20, (l * 3) % 10)).toDF("l_orderkey", "l_suppkey"),
      "lineitem")
    dir
  }

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    try rm(new java.io.File(fixtureDir)) finally super.afterAll()
  }

  test("236 uniquely named rows; queries and oracleSql cover the same names") {
    val names = GateTable.rows.map(_.name)
    assert(names.size == 236)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("a name declared twice fails the table instead of the later row winning") {
    val row = GateTable.rows.head
    val e = intercept[IllegalStateException] {
      GateTable.index(Seq(row, row.copy(oracle = "SELECT 1")))
    }
    assert(e.getMessage.contains(row.name))
  }

  test("every row has a non-blank oracle") {
    assert(GateTable.rows.filter(_.oracle.trim.isEmpty).map(_.name).isEmpty)
  }

  test("Verify rejects unknown row names before running any row") {
    val out = Files.createTempDirectory("gate-table-verify").toFile
    val e = intercept[IllegalArgumentException] {
      Verify.main(Array(fixtureDir, out.toString, "g_out_degrees,g_nope,zz_x"))
    }
    assert(e.getMessage.contains("g_nope, zz_x"))
    assert(out.list().isEmpty)
    out.delete()
  }

  test("an isolated row runs in its own session at the declared shuffle partitions") {
    assert(GateTable.rows.exists(r => r.name == "g_matching_dist" && r.isolated))
    val before = spark.conf.get(ShufflePartitions)
    val df = SparkEntry.queries("g_matching_dist")(spark, fixtureDir)
    assert(df.sparkSession ne spark)
    assert(df.sparkSession.conf.get(ShufflePartitions) ==
      GateRow.IsolatedShufflePartitions.toString)
    assert(df.count() > 0)
    assert(spark.conf.get(ShufflePartitions) == before)
  }

  test("an unmarked row runs in the caller's session") {
    assert(GateTable.rows.exists(r => r.name == "g_out_degrees" && !r.isolated))
    val df = SparkEntry.queries("g_out_degrees")(spark, fixtureDir)
    assert(df.sparkSession eq spark)
    assert(df.count() == 10)
  }
}
