package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed partial+final top-k aggregator: each partition keeps only its k
  * best (score, id) pairs, merge combines heaps — the custom-UDAF form of
  * TakeOrdered. Used as the per-query k-NN reducer alternative to a
  * row_number window: the window shuffles ALL candidate rows per query;
  * this moves at most k rows per (query, partition) — the right shape when
  * candidate lists are large (SURVEY §2.7 UDF/UDAF surface).
  *
  * Determinism: ties broken by smaller id, like the window form's
  * orderBy(dot.desc, nid).
  */
class TopKAggregator(k: Int)
    extends Aggregator[(Long, Long), Seq[(Long, Long)], Seq[(Long, Long)]] {
  // input: (score, id); buffer/output: descending (score, id-ascending)

  private def prune(s: Seq[(Long, Long)]): Seq[(Long, Long)] =
    s.sortBy { case (score, id) => (-score, id) }.take(k)

  override def zero: Seq[(Long, Long)] = Seq.empty

  override def reduce(buf: Seq[(Long, Long)], in: (Long, Long)): Seq[(Long, Long)] =
    prune(buf :+ in)

  override def merge(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
    prune(a ++ b)

  override def finish(buf: Seq[(Long, Long)]): Seq[(Long, Long)] = buf

  override def bufferEncoder: Encoder[Seq[(Long, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Long)]]()

  override def outputEncoder: Encoder[Seq[(Long, Long)]] = bufferEncoder
}
