package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (local iteration aid;
    // the driver always runs the full set). A name that matches no row
    // fails before any Spark job runs, instead of running nothing; only
    // the named rows' oracles are written, so the compare checks just them.
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, names) => (s, o, Some(names.split(",").toSet))
    }
    val unknown = only.getOrElse(Set.empty) -- SparkEntry.queries.keySet
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown gate rows: ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = SparkEntry.harnessSession(defaultCpus = 16)
    new java.io.File(outDir).mkdirs()
    // a crashed query must be VISIBLE in the artifacts, not just stderr —
    // otherwise a failure reads as "not tested" in the correctness report
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val result = fn(spark, sfDir)
        result.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // free operator-internal persists the result's plan pinned — a
        // 200+-query sweep in one session must not accumulate one pinned
        // frame per operator call in the storage pool
        pipeline.releaseShared(result)
      }
      catch { case e: Throwable =>
        failures(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any partial output so a half-written parquet can't be
        // mistaken for a (wrong) result
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(new java.io.File(s"$outDir/$name"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/failures.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.keys.mkString(", "))
    spark.stop()
    // exit 0 either way: the per-query compare must still run for the
    // queries that DID produce output; failures.json carries the rest
  }
}
