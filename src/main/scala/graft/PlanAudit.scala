package graft

/** Scratch: print the formatted physical plan of named driver queries. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = "/root/testdata/sf0.001"
    val spark = SparkEntry.harnessSession(defaultCpus = 4)
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- args) {
      println(s"===== PLAN $name =====")
      println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
