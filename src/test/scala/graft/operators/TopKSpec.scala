package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TopKSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("aggregator keeps top-k with (score desc, id asc) tie-break") {
    val agg = TopKAggregator.scored(2)
    val buf = Seq(Scored(5L, 10L), Scored(3L, 10L), Scored(9L, 20L),
      Scored(1L, 1L)).foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(buf) === Seq(Scored(9L, 20L), Scored(3L, 10L)))
  }

  test("merge of partial buffers equals global top-k") {
    val agg = TopKAggregator.scored(3)
    val all = (1L to 10L).map(i => Scored(i, i * 2))
    val (p1, p2) = all.splitAt(4)
    val merged = agg.merge(
      p1.foldLeft(agg.zero)(agg.reduce), p2.foldLeft(agg.zero)(agg.reduce))
    assert(agg.finish(merged) ===
      Seq(Scored(10L, 20L), Scored(9L, 18L), Scored(8L, 16L)))
  }

  test("topKByCount matches window row_number formulation") {
    val df = Seq(
      ("a", 1L), ("a", 1L), ("a", 1L), ("a", 2L), ("a", 2L), ("a", 3L),
      ("a", 4L), ("b", 7L), ("b", 8L), ("b", 8L)
    ).toDF("ty", "uid")
    val got = TopK.topKByCount(df, "ty", "uid", k = 2)
      .orderBy("ty", "rank")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      ("a", 1L, 1L, 3L), ("a", 2L, 2L, 2L),
      ("b", 1L, 8L, 2L), ("b", 2L, 7L, 1L)))
  }
}
