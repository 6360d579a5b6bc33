package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** One scored item flowing into the top-k aggregator. */
case class ScoredId(id: Long, score: Double)

/** Typed custom aggregation (the `Aggregator[IN, BUF, OUT]` slot from
  * SURVEY.md §2.11): keep the k highest-scoring ids per group with a
  * bounded buffer — each partition carries at most k rows into the merge,
  * so a grouped top-k never materializes or sorts a full group. Ordering
  * is total (score desc, then id asc) for deterministic results.
  */
class TopKByScore(k: Int) extends Aggregator[ScoredId, Seq[ScoredId], Seq[ScoredId]] {

  private val ord: Ordering[ScoredId] =
    Ordering.by((s: ScoredId) => (-s.score, s.id))

  override def zero: Seq[ScoredId] = Seq.empty

  override def reduce(buf: Seq[ScoredId], a: ScoredId): Seq[ScoredId] =
    if (buf.size < k) (buf :+ a).sorted(ord)
    else if (ord.lt(a, buf.last)) (buf.init :+ a).sorted(ord)
    else buf

  override def merge(x: Seq[ScoredId], y: Seq[ScoredId]): Seq[ScoredId] =
    (x ++ y).sorted(ord).take(k)

  override def finish(r: Seq[ScoredId]): Seq[ScoredId] = r

  override def bufferEncoder: Encoder[Seq[ScoredId]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()

  override def outputEncoder: Encoder[Seq[ScoredId]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}

object TopKByScore {
  def apply(k: Int): TopKByScore = new TopKByScore(k)
}
