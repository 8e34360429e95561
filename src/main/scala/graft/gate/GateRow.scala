package graft
package gate

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One correctness-gate row: the driver `query` over a testdata directory
 * and its DuckDB `oracle` SQL (same semantics, same column names & types).
 *
 * An `isolated` row runs in its own `newSession()` with
 * [[GateRow.IsolatedShufflePartitions]] shuffle partitions. Two kinds of
 * row declare it. The forced-distributed proof rows iterate dozens of
 * per-round jobs over 25-vertex fixtures, where every empty shuffle task
 * is pure scheduling cost. The streaming rows materialize one state store
 * per shuffle partition per micro-batch, on a replay of a few MB. Outputs
 * are partition-count invariant either way (md5 priorities, monotone
 * fixpoints, keyed aggregations and joins). The session carries its own
 * SQLConf and temp views, so the setting never leaks into the caller's
 * session or into a concurrently planned row. Build the whole row,
 * memory-sink reads included, on the session the query is given. */
final case class GateRow(
    name: String,
    query: (SparkSession, String) => DataFrame,
    oracle: String,
    isolated: Boolean = false) {

  /** The row's result on `dir`, planned in the row's declared session. */
  def run(s: SparkSession, dir: String): DataFrame =
    if (!isolated) query(s, dir)
    else {
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", GateRow.IsolatedShufflePartitions.toString)
      query(ss, dir)
    }
}

object GateRow {
  val IsolatedShufflePartitions = 2
}

/** The gate: every family's rows, indexed by name. */
object GateTable {
  val rows: Seq[GateRow] =
    GraphRows.rows ++ PipelineRows.rows ++ EventRows.rows ++ MultimodalRows.rows

  /** `rows` by name; a name stated twice fails instead of the later row
   * silently winning. */
  def index(rows: Seq[GateRow]): Map[String, GateRow] = {
    val dups = rows.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    if (dups.nonEmpty)
      throw new IllegalStateException(
        s"gate rows declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    rows.map(r => r.name -> r).toMap
  }

  private val byName = index(rows)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, r) => n -> (r.run _) }

  val oracleSql: Map[String, String] = byName.map { case (n, r) => n -> r.oracle }
}
