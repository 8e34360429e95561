package graft

import org.apache.spark.sql.functions._

/** Co-purchase recommendations (pipeline.Recommend). */
class RecommendSpec extends TestBase {
  import spark.implicits._

  test("coOccurrence + alsoBought: canonical counts, basket cap, top-k ties") {
    val lines = Seq(
      (10L, "a"), (10L, "b"), (10L, "c"), (10L, "a"), // dup line counts once
      (11L, "a"), (11L, "b"),
      (12L, "a"), (12L, "b"),
      (13L, "a"), (13L, "b"), (13L, "c"), (13L, "d")) // dropped at maxBasket=3
      .toDF("order_id", "item")
    val pairs = pipeline.Recommend.coOccurrence(lines, "order_id", "item",
      maxBasket = 3)
      .as[(String, String, Long)].collect().toSet
    assert(pairs == Set(("a", "b", 3L), ("a", "c", 1L), ("b", "c", 1L)), pairs.toString)
    val top = pipeline.Recommend.alsoBought(
        pipeline.Recommend.coOccurrence(lines, "order_id", "item", 3), k = 1)
      .select(col("item"), col("also_bought"), col("n_baskets"), col("rank"))
      .as[(String, String, Long, Long)].collect().toSet
    assert(top == Set(
      ("a", "b", 3L, 1L), ("b", "a", 3L, 1L), ("c", "a", 1L, 1L)), top.toString)
  }
}
