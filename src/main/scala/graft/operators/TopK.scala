package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** One scored item inside the top-k buffer. */
final case class Scored(id: Long, score: Long)

/** Typed top-k as an `Aggregator` (SURVEY §2.10's typed custom
  * aggregate surface): the `k` least rows under `ord` among those
  * `keep` admits, in `ord` order. Why not `row_number` + filter: the
  * window form shuffles and sorts EVERY row of every group; this
  * aggregator's reduce/merge runs map-side, so each partition ships at
  * most k rows per group to the shuffle — at 100 TB the difference
  * between moving the dataset and moving k × |groups| rows. The same
  * bound makes it a global top-k a `Dataset.observe` can carry: the
  * daily billing report takes its top shops from the final append.
  *
  * `ord` must be total (ties pinned) for deterministic output. Buffer
  * stays a sorted k-capped Vector: k is small (report top-10s, per-type
  * leaderboards), so O(k) insertion beats heap bookkeeping.
  */
final class TopKAggregator[T: TypeTag](k: Int, ord: Ordering[T],
    keep: T => Boolean = (_: T) => true)
    extends Aggregator[T, Seq[T], Seq[T]] {

  override def zero: Seq[T] = Vector.empty

  override def reduce(buf: Seq[T], x: T): Seq[T] =
    if (!keep(x)) buf
    else if (buf.size < k) (buf :+ x).sorted(ord)
    else if (ord.lt(x, buf.last)) (buf.init :+ x).sorted(ord)
    else buf

  override def merge(a: Seq[T], b: Seq[T]): Seq[T] =
    (a ++ b).sorted(ord).take(k)

  override def finish(buf: Seq[T]): Seq[T] = buf.sorted(ord)

  private val seqEncoder: Encoder[Seq[T]] = ExpressionEncoder[Seq[T]]()
  override def bufferEncoder: Encoder[Seq[T]] = seqEncoder
  override def outputEncoder: Encoder[Seq[T]] = seqEncoder
}

object TopKAggregator {
  /** Top-k [[Scored]] items, ordered (score desc, id asc). */
  def scored(k: Int): TopKAggregator[Scored] =
    new TopKAggregator(k, Ordering.by((s: Scored) => (-s.score, s.id)))
}

object TopK {

  /** Top-k `idCol` per `groupCol` by occurrence count, via the typed
    * aggregator. Output: (group, rank, id, n) with rank 1..k. */
  def topKByCount(df: DataFrame, groupCol: String, idCol: String,
      k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.where(col(idCol).isNotNull)
      .groupBy(col(groupCol), col(idCol))
      .agg(count(lit(1)).as("n"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapValues(t => Scored(t._2, t._3))
      .agg(TopKAggregator.scored(k).toColumn.name("topk"))
      .flatMap { case (g, xs) =>
        xs.zipWithIndex.map { case (s, i) => (g, (i + 1).toLong, s.id, s.score) }
      }
      .toDF(groupCol, "rank", idCol, "n")
  }
}
