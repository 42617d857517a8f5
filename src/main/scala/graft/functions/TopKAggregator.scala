package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded-heap top-k aggregator (SURVEY.md §4.2's planned custom
  * Aggregator): keeps the k highest-scored (score, id) pairs per group in
  * O(k) memory. Replaces the window row_number top-k pattern with a
  * partial-aggregating shape: each partition reduces to k rows before the
  * shuffle, so per-group data movement is O(partitions * k), not O(rows) —
  * the difference between a working and a melting top-k at 100 TB.
  */
case class ScoredId(score: Double, id: Long)

class TopKAggregator(k: Int)
  extends Aggregator[ScoredId, List[ScoredId], Seq[ScoredId]] {

  private val ord: Ordering[ScoredId] =
    Ordering.by((s: ScoredId) => (s.score, -s.id)) // high score wins; low id breaks ties

  override def zero: List[ScoredId] = Nil

  /** Insert keeping the buffer sorted ascending (head = weakest), max k. */
  override def reduce(buf: List[ScoredId], a: ScoredId): List[ScoredId] =
    if (buf.size < k) (a :: buf).sorted(ord)
    else if (ord.gt(a, buf.head)) (a :: buf.tail).sorted(ord)
    else buf

  override def merge(b1: List[ScoredId], b2: List[ScoredId]): List[ScoredId] =
    (b1 ++ b2).sorted(ord).takeRight(k)

  /** Final: best first. */
  override def finish(buf: List[ScoredId]): Seq[ScoredId] =
    buf.sorted(ord.reverse)

  override def bufferEncoder: Encoder[List[ScoredId]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[ScoredId]]()
  override def outputEncoder: Encoder[Seq[ScoredId]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ScoredId]]()
}
