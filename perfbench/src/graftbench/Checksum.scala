package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of every column of a frame. Computing it is the
 * action that consumes a call's result: all columns are read, so Spark
 * cannot prune the work the way `count()` lets it.
 *
 * Integral, string and nested columns go into two 32-bit row hashes that
 * are summed over rows (addition commutes, so row order and partitioning do
 * not matter). Floating-point columns are summed on their own and compared
 * with a relative tolerance, because a distributed sum may round in a
 * different order from pass to pass. */
final case class Checksum(rows: Long, h1: Long, h2: Long, reals: Vector[Double]) {
  def matches(o: Checksum): Boolean =
    rows == o.rows && h1 == o.h1 && h2 == o.h2 && reals.size == o.reals.size &&
      reals.zip(o.reals).forall { case (a, b) =>
        a == b || math.abs(a - b) <= Checksum.RelTol * math.max(math.abs(a), math.abs(b))
      }

  def json: Json.Raw = Json.obj("rows" -> rows, "h1" -> h1, "h2" -> h2, "reals" -> reals)

  override def toString: String =
    s"rows=$rows h=${h1.toHexString}/${h2.toHexString} reals=${reals.mkString("[", ",", "]")}"
}

object Checksum {
  val RelTol = 1e-9

  private def quoted(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** Maps are not hashable in Spark SQL; their sorted entry arrays are. */
  private def hashable(f: StructField): Column = f.dataType match {
    case _: MapType => array_sort(map_entries(quoted(f.name)))
    case _ => quoted(f.name)
  }

  private def isReal(dt: DataType): Boolean = dt == DoubleType || dt == FloatType

  def of(df: DataFrame): Checksum = {
    val (realFields, otherFields) = df.schema.fields.partition(f => isReal(f.dataType))
    val others = otherFields.map(hashable).toSeq
    val (h1, h2) =
      if (others.isEmpty) (lit(0L), lit(0L))
      else (hash(others: _*).cast("long"), hash(lit(0x5bd1e995) +: others: _*).cast("long"))
    val aggs = Seq(count(lit(1)), coalesce(sum(h1), lit(0L)), coalesce(sum(h2), lit(0L))) ++
      realFields.map(f => coalesce(sum(quoted(f.name).cast("double")), lit(0.0)))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    Checksum(r.getLong(0), r.getLong(1), r.getLong(2),
      realFields.indices.map(i => r.getDouble(3 + i)).toVector)
  }
}
