package graft

import org.apache.spark.sql.functions._

/** Near-duplicate operators of pipeline.Dedup: blocked fuzzy pairs
 * (single and multi key, banded verify), corpus diffs and keepBest. */
class DedupSpec extends TestBase {
  import spark.implicits._

  test("fuzzyPairs verifies within blocks and drops oversized blocks") {
    val rows = Seq(
      (1L, "Customer#01"), (2L, "Customer#02"), (3L, "Customer#11"),
      (4L, "Supplier#01"), (5L, "Supplier#01"),
      // block "X" has 3 rows -> dropped at maxBlock=2
      (6L, "X1"), (7L, "X2"), (8L, "X3")).toDF("id", "name")
    val blk = substring(col("name"), 1, 1)
    val got = pipeline.Dedup.fuzzyPairs(rows, "id", "name", blk,
        maxDist = 1, maxBlock = 2)
      .as[(Long, Long, Int)].collect().toSet
    // C-block has 3 rows (> 2) too -> dropped; S-block pair dist 0
    assert(got == Set((4L, 5L, 0)), got.toString)
    val loose = pipeline.Dedup.fuzzyPairs(rows, "id", "name", blk,
        maxDist = 1, maxBlock = 10)
      .as[(Long, Long, Int)].collect().toSet
    assert(loose == Set((1L, 2L, 1), (1L, 3L, 1), (4L, 5L, 0), (6L, 7L, 1),
      (6L, 8L, 1), (7L, 8L, 1)), loose.toString)
  }

  test("multi-key fuzzyPairs unions blocks, dedups pairs, caps per key") {
    val rows = Seq(
      (1L, "abcd", "p", "x"), (2L, "abce", "p", "y"), // share key 1 only
      (3L, "abcf", "q", "y"),                         // pairs with 2 via key 2
      (4L, "zzzz", "q", "x"),                         // blocked with 3, dist 4
      (5L, null.asInstanceOf[String], "r", null.asInstanceOf[String]))
      .toDF("id", "name", "k1", "k2")
    val got = pipeline.Dedup.fuzzyPairs(rows, "id", "name",
        Seq(col("k1"), col("k2")), maxDist = 1, maxBlock = 10)
      .as[(Long, Long, Int)].collect().toList
    // (1,2) via k1 "p"; (2,3) via k2 "y"; (3,4) via k1 "q" fails verify;
    // (1,4) via k2 "x" fails verify; null text rows never emit (null
    // levenshtein -> empty filter array); exactly ONE row per pair
    assert(got.sorted == List((1L, 2L, 1), (2L, 3L, 1)), got.toString)
    // per-key cap: k1 block "q" dropped at maxBlock=2 keeps the k2 pairs
    val capped = pipeline.Dedup.fuzzyPairs(
        rows.union(Seq((6L, "abcg", "q", "w")).toDF("id", "name", "k1", "k2")),
        "id", "name", Seq(col("k1"), col("k2")), maxDist = 1, maxBlock = 2)
      .as[(Long, Long, Int)].collect().toList
    assert(capped.sorted == List((1L, 2L, 1), (2L, 3L, 1)), capped.toString)
  }

  test("multi-key fuzzyPairs: same value under different keys never blocks") {
    val rows = Seq((1L, "aa", "v", "w"), (2L, "ab", "w", "v"))
      .toDF("id", "name", "k1", "k2")
    // row1.k1 = row2.k2 = "v" but key spaces are disjoint -> no candidate
    val got = pipeline.Dedup.fuzzyPairs(rows, "id", "name",
      Seq(col("k1"), col("k2")), maxDist = 2, maxBlock = 10).count()
    assert(got == 0)
  }

  test("fuzzyPairs evaluates levenshtein once per candidate pair") {
    val rows = Seq((1L, "aa", "k"), (2L, "ab", "k")).toDF("id", "name", "blk")
    val plan = pipeline.Dedup.fuzzyPairs(rows, "id", "name", col("blk"),
        maxDist = 1, maxBlock = 10)
      .queryExecution.executedPlan.toString
    val n = "levenshtein".r.findAllIn(plan.toLowerCase).size
    assert(n == 1, s"levenshtein appears $n times in the physical plan:\n$plan")
  }

  test("corpusDiff classifies added/removed/changed/unchanged; null-safe") {
    val oldSnap = Seq((1, "same"), (2, "orig"), (3, "gone"),
      (5, null.asInstanceOf[String])).toDF("doc_id", "text")
    val newSnap = Seq((1, "same"), (2, "edited"), (4, "new"),
      (5, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = pipeline.Dedup.corpusDiff(oldSnap, newSnap, "doc_id", "text")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    // null text is PRESENT (unchanged vs null), never misread as absent
    assert(got == Map(1 -> "unchanged", 2 -> "changed", 3 -> "removed",
      4 -> "added", 5 -> "unchanged"), got.toString)
  }

  test("keepBest keeps (score desc, id asc); null and NaN scores never win") {
    val rows = Seq((1, 10, 0.5), (1, 11, 0.9), (1, 12, 0.9),
      (2, 20, 0.1), (3, 30, Double.NaN), (4, 40, Double.NaN), (4, 41, 0.2))
      .toDF("cl", "id", "sc")
      .unionByName(Seq((3, 31)).toDF("cl", "id")
        .withColumn("sc", lit(null).cast("double")))
    val got = pipeline.Dedup.keepBest(rows, "cl", "id", "sc").collect()
      .map(r => r.getInt(0) -> (r.getInt(1), r.getLong(3))).toMap
    // cluster 1: score tie 0.9/0.9 -> smaller id 11; cluster 3 is
    // all-NaN/null — both demote to null in the key, id asc keeps 30;
    // cluster 4: NaN loses to a REAL score (Spark/DuckDB would sort NaN
    // as the largest double — keepBest maps it to null in the order key
    // so a failed quality computation never becomes the representative)
    assert(got == Map(1 -> ((11, 3L)), 2 -> ((20, 1L)), 3 -> ((30, 2L)),
      4 -> ((41, 2L))), got.toString)
    // integer scores skip the isNaN guard but keep the same ordering
    val ints = pipeline.Dedup.keepBest(
      Seq((1, 10, 5), (1, 11, 7)).toDF("cl", "id", "sc"), "cl", "id", "sc")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(ints == Map(1 -> 11), ints.toString)
  }

  test("fuzzyPairs banded verify: maxDist=0 keeps only exact duplicates") {
    // the r14 optimization switched the verify to the THRESHOLDED
    // levenshtein (banded DP, -1 past the band); threshold = 0 is its
    // edge case — only dist-0 (equal strings) may survive, with dist
    // reported as 0, and near-misses (dist 1) must drop
    val rows = Seq((1L, "same"), (2L, "same"), (3L, "sane"), (4L, "same"))
      .toDF("id", "name")
    val got = pipeline.Dedup.fuzzyPairs(rows, "id", "name",
        substring(col("name"), 1, 2), maxDist = 0, maxBlock = 10)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 0), (1L, 4L, 0), (2L, 4L, 0)), got.toString)
  }

  test("fuzzyPairs banded verify: reported distances are exact, far pairs drop") {
    // distances 0..maxDist must come back EXACT (not clamped), and a pair
    // past the band must vanish rather than appear with -1
    val rows = Seq((1L, "abcdef"), (2L, "abcdex"), (3L, "abcxyx"),
      (4L, "abcdef")).toDF("id", "name")
    val single = pipeline.Dedup.fuzzyPairs(rows, "id", "name",
        substring(col("name"), 1, 3), maxDist = 2, maxBlock = 10)
      .as[(Long, Long, Int)].collect().toSet
    // 1-2: 1 edit; 1-4: 0; 2-4: 1; 2-3: 2 edits; 1-3: 3 edits (dropped);
    // 3-4: 3 edits (dropped)
    assert(single == Set((1L, 2L, 1), (1L, 4L, 0), (2L, 4L, 1), (2L, 3L, 2)),
      single.toString)
    val multi = pipeline.Dedup.fuzzyPairs(rows, "id", "name",
        Seq(substring(col("name"), 1, 3), substring(col("name"), -1, 1)),
        maxDist = 2, maxBlock = 10)
      .as[(Long, Long, Int)].collect().toSet
    assert(multi == single, s"multi-key banded verify diverged: $multi")
  }
}
