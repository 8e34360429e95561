package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expressions.TextHash

/** Parity of the fused text-hash kernels with the Column expressions they
 * replaced, kept here verbatim as the reference: row for row and
 * dataType for dataType, under whole-stage codegen and interpreted. */
class TextHashSpec extends TestBase {

  // ---- reference: the replaced lambda forms ----

  private def refTokens(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  private def refWordShingles(text: Column, n: Int): Column = {
    val toks = refTokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(filter(array(lit("")), _ => lit(false)))
  }

  private def refMinhashSignature(shingles: Column, numHashes: Int): Column =
    array((0 until numHashes).map { h =>
      array_min(transform(shingles, s => md5(concat(lit(s"$h|"), s))))
    }: _*)

  private def refSimhash(text: Column, bits: Int): Column = {
    val toks = refTokens(text)
    (0 until bits).map { b =>
      val nibblePos = b / 4 + 1 // 1-based position in the md5 hex string
      val k = b % 4
      val contrib = (t: Column) => {
        val nv = conv(substring(md5(t), nibblePos, 1), 16, 10).cast("int")
        when(nv % lit(1 << (k + 1)) >= lit(1 << k), lit(1)).otherwise(lit(-1))
      }
      val vote = aggregate(toks, lit(0), (acc, t) => acc + contrib(t))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  private def refMd5Each(strings: Column): Column = transform(strings, s => md5(s))

  // ---- inputs ----

  private val edgeTexts: Seq[String] = Seq(
    null, "", " ", "    ", "one", "one two", "one two three",
    " lead", "trail ", "  both  ends  ", "double  space  here x",
    "tab\tinside token", "new\nline\r\nstays in\ttokens", "\t\n",
    "café naïve 日本語 😀 smile 😀",
    "é", "a b c d e f g h i j k l m n o p q r s t u v w x y z")

  private val words = Seq("a", "the", "w17", "café", "日本",
    "😀", "x\ty", "p\nq", "long-token-with-dashes", "Z")
  private val seps = Seq(" ", " ", " ", "  ", "   ", "\t ", " \n")

  private def randomTexts(seed: Int, count: Int): Seq[String] = {
    val rng = new Random(seed)
    Seq.fill(count) {
      val k = rng.nextInt(14)
      val sb = new StringBuilder
      if (rng.nextInt(4) == 0) sb ++= seps(rng.nextInt(seps.size))
      (0 until k).foreach { i =>
        if (i > 0) sb ++= seps(rng.nextInt(seps.size))
        sb ++= words(rng.nextInt(words.size))
      }
      if (rng.nextInt(4) == 0) sb ++= seps(rng.nextInt(seps.size))
      sb.toString
    }
  }

  /** (id, text) through an RDD so no optimizer rule evaluates the
   * projection at planning time (as over a local relation). */
  private lazy val texts: DataFrame = {
    val all = edgeTexts ++ randomTexts(17, 300)
    val rows = all.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("text", StringType, nullable = true))))
  }

  /** Shingle arrays with null elements, empty arrays and a null array. */
  private lazy val shingleArrays: DataFrame = {
    val arrays = Seq[Seq[String]](
      null, Seq(), Seq(null), Seq("a b", null, "c d"), Seq(null, "x"),
      Seq("same", "same"), Seq("", "café 😀"))
    val rows = arrays.zipWithIndex.map { case (a, i) => Row(i.toLong, a) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("sh", ArrayType(StringType, containsNull = true), nullable = true))))
  }

  // ---- harness ----

  private val modes: Seq[(String, Map[String, String])] = Seq(
    "codegen" -> Map.empty,
    "interpreted" -> Map(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConf[T](conf: Map[String, String])(f: => T): T = {
    val old = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Kernel and reference projected separately (the reference's lambdas
   * would otherwise pull the kernel out of whole-stage codegen), then
   * compared by id and by result type. */
  private def assertParity(df: DataFrame, kernel: Column, ref: Column): Unit =
    modes.foreach { case (mode, conf) => withConf(conf) {
      val k = df.select(col("id"), kernel.as("v"))
      val r = df.select(col("id"), ref.as("v"))
      assert(k.schema("v").dataType === r.schema("v").dataType, mode)
      val wholeStage = k.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
      assert(wholeStage === (mode == "codegen"), mode)
      def byId(d: DataFrame) = d.collect().map(row => row.getLong(0) -> row.get(1)).toMap
      val (kv, rv) = (byId(k), byId(r))
      assert(kv.size === df.count(), mode)
      assert(kv.keySet === rv.keySet, mode)
      kv.foreach { case (id, v) => assert(v === rv(id), s"$mode: row $id") }
    }}

  // ---- parity ----

  Seq(1, 2, 3, 5).foreach { n =>
    test(s"wordShingles matches split/filter/slice/concat_ws, n = $n") {
      assertParity(texts, pipeline.Text.wordShingles(col("text"), n),
        refWordShingles(col("text"), n))
    }
  }

  Seq(1, 16).foreach { h =>
    test(s"minhashSignature matches the per-lane array_min of md5, numHashes = $h") {
      assertParity(texts, pipeline.Dedup.minhashSignature(TextHash.wordShingles(col("text"), 3), h),
        refMinhashSignature(refWordShingles(col("text"), 3), h))
      assertParity(shingleArrays, pipeline.Dedup.minhashSignature(col("sh"), h),
        refMinhashSignature(col("sh"), h))
    }
  }

  Seq(4, 16, 32).foreach { bits =>
    test(s"simhash matches the per-bit aggregate votes, bits = $bits") {
      assertParity(texts, TextHash.simhash(col("text"), bits), refSimhash(col("text"), bits))
    }
  }

  test("simhash operator output equals the reference column") {
    val got = pipeline.Dedup.simhash(texts, "id", "text", bits = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = texts.select(col("id"), refSimhash(col("text"), 16))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    intercept[IllegalArgumentException](pipeline.Dedup.simhash(texts, "id", "text", bits = 0))
  }

  test("md5Each matches transform(md5), null elements and null array included") {
    assertParity(texts, TextHash.md5Each(TextHash.wordShingles(col("text"), 2)),
      refMd5Each(refWordShingles(col("text"), 2)))
    assertParity(shingleArrays, TextHash.md5Each(col("sh")), refMd5Each(col("sh")))
  }

  test("invalid UTF-8 tokenizes as split decodes it") {
    val bins = Seq(Array[Byte](-1, 32, 97, 32, 98), Array[Byte](97, -64, -128, 32, 99, 32, 100),
      Array[Byte](-19, -96, -128, 32, 120, 32, 121), Array[Byte](97, 32, -16, -97, 32, 98))
    val rows = bins.zipWithIndex.map { case (b, i) => Row(i.toLong, b) }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("id", LongType, nullable = false), StructField("b", BinaryType))))
      .select(col("id"), col("b").cast("string").as("text"))
    // collect decodes strings, which would hide raw-byte differences: compare md5s
    assertParity(df, TextHash.md5Each(pipeline.Text.wordShingles(col("text"), 2)),
      refMd5Each(refWordShingles(col("text"), 2)))
    assertParity(df, TextHash.simhash(col("text"), 8), refSimhash(col("text"), 8))
  }
}
