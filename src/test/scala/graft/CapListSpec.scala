package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CapList (expressions/CapList) invariants and Dedup's capped
  * candidate stages built on it: bounded-buffer semantics (complete
  * multiset under the cap, saturation at cap+1 over it), partition-layout
  * invariance of the kept/dropped decision, any input type, and
  * identical pairs for long, int and string ids.
  */
class CapListSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(8)

  private def grouped(rows: Seq[(Int, Long)], cap: Int, parts: Int) = {
    import spark.implicits._
    rows.toDF("g", "v").repartition(parts)
      .groupBy(col("g"))
      .agg(call_function("graft_caplist", col("v"), lit(cap)).as("ids"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
  }

  test("under the cap: the complete multiset survives (duplicates kept)") {
    val rows = Seq(1 -> 10L, 1 -> 20L, 1 -> 10L, 2 -> 7L)
    for (parts <- Seq(1, 5)) {
      val out = grouped(rows, cap = 4, parts)
      assert(out(1).sorted == Seq(10L, 10L, 20L))
      assert(out(2) == Seq(7L))
    }
  }

  test("over the cap: saturates at exactly cap+1 in any partition layout") {
    val rows = (1 to 50).map(i => 1 -> i.toLong)
    for (parts <- Seq(1, 3, 16)) {
      val out = grouped(rows, cap = 5, parts)
      assert(out(1).size == 6, s"expected cap+1=6, got ${out(1).size}")
    }
  }

  test("size(ids) <= cap is exactly the df-cap keep predicate") {
    val rows = (1 to 6).map(i => 1 -> i.toLong) ++  // df 6 > cap 5: drop
      (1 to 5).map(i => 2 -> i.toLong)              // df 5 <= cap 5: keep
    val out = grouped(rows, cap = 5, parts = 4)
    assert(out(1).size > 5 && out(2).size <= 5)
    assert(out(2).sorted == (1 to 5).map(_.toLong))
  }

  test("accepts string input; rejects cap < 1") {
    import spark.implicits._
    // three partitions: partial buffers serialize and merge
    val strs = Seq(Some("a"), Some("b"), None, Some("a"), Some("c"))
      .toDF("v").repartition(3)
    def caplist(cap: Int) = strs
      .agg(call_function("graft_caplist", col("v"), lit(cap)))
      .head().getSeq[String](0)
    // under the cap: every non-null value, duplicates kept
    assert(caplist(4).sorted == Seq("a", "a", "b", "c"))
    // over the cap: saturated at cap + 1
    assert(caplist(2).size == 3)
    for (bad <- Seq(0, Int.MaxValue)) intercept[Exception] {
      Seq(1L).toDF("v")
        .agg(call_function("graft_caplist", col("v"), lit(bad))).collect()
    }
  }

  test("long, int and string ids give identical unordered pairs and scores") {
    import spark.implicits._
    // boilerplate shared by MOST docs pushes its shingles over the cap;
    // each near-dup pair shares rare doc-specific shingles. 108 and 1010
    // order one way as numbers and the other way as strings.
    val boiler = "the quick brown fox jumps over the lazy dog again"
    val docs = ((1 to 12).map { i =>
      (i.toLong, s"$boiler unique passage number $i alpha beta gamma delta run $i")
    } ++ Seq(
      (21L, "completely distinct text body one two three four five six seven"),
      (22L, "completely distinct text body one two three four five six eight"),
      (108L, "another pair of rows sharing nearly all their words here x"),
      (1010L, "another pair of rows sharing nearly all their words here y")
    )).toDF("doc_id", "text")
    val cap = 3
    // each row with its pair's two ids as an unordered set of strings:
    // orientation follows the id type's ordering
    def unordered(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (Set(r.get(0).toString, r.get(1).toString),
        r.toSeq.drop(2))).toSet
    def run(idType: String) = {
      def ids(keep: org.apache.spark.sql.Column) = docs.filter(keep)
        .select(col("doc_id").cast(idType).as("doc_id"), col("text"))
      val all = ids(lit(true))
      val odd = col("doc_id") % 2 === 1
      val out = Seq(
        Dedup.ngramJaccardPairs(all, "doc_id", "text",
          n = 3, num = 1, den = 10, maxDocFreq = Some(cap)),
        Dedup.containmentPairs(all, "doc_id", "text",
          n = 3, num = 1, den = 10, maxDocFreq = cap),
        Dedup.incrementalNearDupPairs(ids(odd), ids(!odd), "doc_id", "text",
          n = 3, num = 1, den = 10, maxDocFreq = cap)).map(unordered)
      spark.catalog.clearCache()
      out
    }
    val long = run("bigint")
    long.foreach(ps => assert(ps.nonEmpty, "fixture should produce capped candidates"))
    // new×new (108, 1010) and new×old (22 probes 21) both form
    assert(long(2).map(_._2.last) == Set(true, false), long(2))
    assert(run("int") == long)
    assert(run("string") == long)
  }
}
