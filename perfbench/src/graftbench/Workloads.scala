package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.GraphFrame
import graft.pipeline.{Dedup, Text}

/** One public-API call of a pass. `run` returns the frames the call hands
 * back. `check`, when set, is an independent oracle that runs on the cold
 * pass only, outside the timed region; it returns an error message. */
final case class Call(layer: String, name: String, run: () => Seq[DataFrame],
    check: Seq[DataFrame] => Option[String] = _ => None)

/** A workload's inputs, generated from the seed, persisted and
 * materialized, plus the call list of one pass over them. */
trait Prepared {
  /** Input edges or documents one pass processes. */
  def items: Long
  def calls: Seq[Call]
  /** Frames the caller persisted once and expects to stay cached while
   * it calls the library many times. */
  def cached: Seq[(String, DataFrame)]
  def unpersist(): Unit = cached.foreach(_._2.unpersist(true))
}

trait Workload {
  def name: String
  def prepare(spark: SparkSession, seed: Int, t: Tracer): Prepared
}

object Workloads {
  val all: Seq[Workload] = Seq(GraphSmall, TextDedup)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** Simple directed R-MAT edges (no self-loops, no repeats) from the
   * `graft.rmat` source, persisted by the caller as users do. */
  def rmatEdges(spark: SparkSession, scale: Int, numEdges: Long, seed: Int): DataFrame =
    spark.read.format("graft.rmat")
      .option("scale", scale).option("numEdges", numEdges).option("seed", seed)
      .option("numPartitions", cores(spark))
      .load()
      .filter(col("src") =!= col("dst"))
      .select("src", "dst")
      .distinct()

  /** Persist, materialize, and return the row count. */
  def pin(df: DataFrame): Long = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
  }

  /** The benchmark's own union-find: number of weakly connected components
   * over the endpoints of `edges` (every vertex of a fromEdges graph). */
  def componentCount(edges: Iterator[(Any, Any)]): Long = {
    val parent = mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    var merges = 0L
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(ra) = rb; merges += 1 }
    }
    parent.size - merges
  }

  /** Oracle for connectedComponents: the result has one row per vertex and
   * as many distinct components as the driver union-find finds. */
  def checkComponents(g: GraphFrame, expected: => Long)(res: Seq[DataFrame]): Option[String] = {
    val r = res.head.agg(count(lit(1)), countDistinct(col("component"))).head()
    val vertices = g.vertices.count()
    if (r.getLong(0) != vertices) Some(s"connectedComponents: ${r.getLong(0)} rows, $vertices vertices")
    else if (r.getLong(1) != expected)
      Some(s"connectedComponents: ${r.getLong(1)} components, union-find says $expected")
    else None
  }

  def collectEdges(g: GraphFrame): Iterator[(Any, Any)] =
    g.edges.select("src", "dst").collect().iterator.map(r => (r.get(0), r.get(1)))
}

/** Overhead-bound: a small R-MAT graph with string ids, so Spark jobs,
 * planning, driver tails and the surrogate-id mint dominate. */
object GraphSmall extends Workload {
  val name = "graph_small"
  val Scale = 9
  val RawEdges = 4600L
  val Triangle = "(a)-[e1]->(b); (b)-[e2]->(c); (a)-[e3]->(c)"

  def prepare(spark: SparkSession, seed: Int, t: Tracer): Prepared = {
    val edges = Workloads.rmatEdges(spark, Scale, RawEdges, seed)
      .select(concat(lit("v"), col("src")).as("src"), concat(lit("v"), col("dst")).as("dst"))
    val nEdges = t.span("sources", "rmat") { Workloads.pin(edges) }
    val g = t.span("graphframe", "fromEdges") {
      val g = GraphFrame.fromEdges(edges, StorageLevel.MEMORY_AND_DISK)
      g.vertices.count()
      g
    }
    lazy val components = Workloads.componentCount(Workloads.collectEdges(g))
    new Prepared {
      val items: Long = nEdges
      val cached = Seq("edges" -> edges, "vertices" -> g.vertices)
      val calls = Seq(
        Call("lib", "connectedComponents", () => Seq(g.connectedComponents.run()),
          Workloads.checkComponents(g, components)),
        Call("lib", "pageRank", () => {
          val pr = g.pageRank.resetProbability(0.15).maxIter(10).run()
          Seq(pr.vertices, pr.edges)
        }),
        Call("lib", "labelPropagation", () => Seq(g.labelPropagation.maxIter(5).run())),
        Call("lib", "kCore", () => Seq(g.kCore.run())),
        Call("lib", "louvain", () => Seq(g.louvain.run())),
        Call("lib", "articulationPoints", () => Seq(g.twoConnectivity.articulationPoints())),
        Call("lib", "neighborhoodFunction", () => Seq(g.neighborhoodFunction.run())),
        Call("pattern", "find", () => Seq(g.find(Triangle))))
    }
  }
}

/** Compute-heavy: a synthetic corpus with a Zipf-like vocabulary and
 * planted near-duplicates, so md5 minhash kernels do most task CPU. */
object TextDedup extends Workload {
  val name = "text_dedup"
  val Docs = 1600L
  val Tokens = 60
  val Vocab = 5000
  /** Every DupEvery-th document copies its predecessor with up to Edits
   * token replacements; those (id - 1, id) pairs are the planted dups. */
  val DupEvery = 5
  val Edits = 3
  val RecallFloor = 0.9

  /** Uniform in [0, 1) from a hash of the given columns. */
  private def unit(cols: Column*) =
    xxhash64(cols: _*).bitwiseAND(lit((1L << 53) - 1)).cast("double") / lit((1L << 53).toDouble)

  /** Word of Zipf-like rank (density ~ 1/rank over 1..Vocab). */
  private def word(u: Column) =
    concat(lit("w"), floor(exp(u * lit(math.log(Vocab)))).cast("string"))

  def corpus(spark: SparkSession, seed: Int): DataFrame = {
    val s = lit(seed)
    val id = col("id")
    val isDup = pmod(id, lit(DupEvery.toLong)) === lit(DupEvery - 1L)
    val source = when(isDup, id - 1).otherwise(id)
    val edits = transform(sequence(lit(1), lit(Edits)),
      e => pmod(xxhash64(s, id, e, lit("edit")), lit(Tokens.toLong)).cast("int"))
    val tokens = transform(sequence(lit(0), lit(Tokens - 1)), pos =>
      when(isDup && array_contains(col("_edits"), pos), word(unit(s, id, pos, lit("new"))))
        .otherwise(word(unit(s, source, pos))))
    spark.range(0, Docs, 1, Workloads.cores(spark))
      .withColumn("_edits", edits)
      .select(id, array_join(tokens, " ").as("text"))
  }

  def prepare(spark: SparkSession, seed: Int, t: Tracer): Prepared = {
    val docs = corpus(spark, seed)
    val indexed = docs.filter(pmod(col("id"), lit(2L)) === 0)
    val batch = docs.filter(pmod(col("id"), lit(2L)) === 1)
    Seq(docs, indexed, batch).foreach(Workloads.pin)
    var index: Option[DataFrame] = None
    new Prepared {
      val items: Long = Docs
      val cached = Seq("docs" -> docs, "indexed" -> indexed, "batch" -> batch)
      override def unpersist(): Unit = { index.foreach(_.unpersist(true)); super.unpersist() }
      val calls = Seq(
        Call("pipeline", "minhashLsh", () => Seq(Dedup.minhashLsh(docs, "id", "text"))),
        Call("pipeline", "nearDupClusters", () => Seq(Dedup.nearDupClusters(docs, "id", "text")),
          clusterRecall),
        Call("pipeline", "ngramJaccard", () => Seq(Dedup.ngramJaccard(docs, "id", "text"))),
        Call("pipeline", "simhash", () => Seq(Dedup.simhash(docs, "id", "text"))),
        Call("expressions", "minhashSignature", () => Seq(
          docs.select(col("id"), explode(array(Text.wordShingles(col("text"), 3))).as("sh"))
            .select(col("id"), Dedup.minhashSignature(col("sh"), 16).as("sig")))),
        // incremental ingest: index one half once, probe it with the other
        Call("pipeline", "minhashIndex", () => {
          index.foreach(_.unpersist(true))
          val idx = Dedup.minhashIndex(indexed, "id", "text")
            .persist(StorageLevel.MEMORY_AND_DISK)
          index = Some(idx)
          Seq(idx)
        }),
        Call("pipeline", "incrementalNearDups", () =>
          Seq(Dedup.incrementalNearDups(batch, "id", "text", index.get)), probeRecall))
    }
  }

  private val planted: Seq[(Long, Long)] =
    (DupEvery - 1L until Docs by DupEvery.toLong).map(d => (d - 1, d))

  private def recallVerdict(call: String, found: Int): Option[String] = {
    val recall = found.toDouble / planted.size
    if (recall >= RecallFloor) None
    else Some(f"$call: planted-pair recall $recall%.3f < $RecallFloor")
  }

  /** Oracle: share of planted pairs that land in one cluster. */
  def clusterRecall(res: Seq[DataFrame]): Option[String] = {
    val keep = res.head.select("id", "keep_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    recallVerdict("nearDupClusters",
      planted.count { case (a, b) => keep.get(a).exists(keep.get(b).contains) })
  }

  /** Oracle: share of planted pairs the probe reports; each planted pair
   * joins an odd and an even id, so one is indexed and one is probed. */
  def probeRecall(res: Seq[DataFrame]): Option[String] = {
    val found = res.head.select("id", "match_id").collect()
      .map(r => Set(r.getLong(0), r.getLong(1))).toSet
    recallVerdict("incrementalNearDups", planted.count { case (a, b) => found(Set(a, b)) })
  }
}
