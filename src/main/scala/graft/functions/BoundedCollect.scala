package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Size-capped id collector — the single-pass form of the repo's
  * "df-cap BEFORE collect" posting-list discipline (q103/q116/q232/
  * q296): `groupBy(key).agg(count, boundedCollect(id))` replaces the
  * two-pass `groupBy(key).count` + join-back + `collect_list` chain,
  * so the grouped stream crosses the wire ONCE (map-side-combined,
  * with every partial buffer bounded at `cap` elements) instead of
  * twice (once as count partials, once as the join probe), and the
  * upstream lineage is evaluated once instead of twice.
  *
  * Skew safety is the point of the cap: a boilerplate key at corpus
  * scale contributes a buffer of AT MOST `cap` ids at every partial,
  * merge, and final stage — never the unbounded `collect_list` buffer
  * the two-pass form exists to avoid.
  *
  * Determinism contract (mirrors [[MisraGries]]'s): for groups whose
  * TOTAL count is <= cap the result is exactly the sorted set of all
  * input ids, independent of partitioning and merge order (reduce only
  * drops once a buffer holds `cap` ids, and merging two buffers whose
  * combined size is <= cap drops nothing). For groups past the cap the
  * content is partition-dependent — callers MUST gate on a count
  * aggregated alongside (`count <= cap - 1`, i.e. the df cap) and
  * discard over-cap groups, which is exactly what every call site's
  * df/deg cap already does. Inputs are assumed distinct within a group
  * (all call sites feed per-doc-distinct streams); the sorted output
  * then equals `sort_array(collect_list(id))` on surviving groups.
  */
final case class BoundedCollect(cap: Int)
    extends Aggregator[Long, List[Long], Seq[Long]] {
  require(cap > 0)

  override def zero: List[Long] = Nil

  override def reduce(b: List[Long], a: Long): List[Long] =
    if (b.lengthCompare(cap) >= 0) b else a :: b

  override def merge(b1: List[Long], b2: List[Long]): List[Long] = {
    val m = b1 reverse_::: b2 // prepend-order; order never observable
    if (m.lengthCompare(cap) > 0) m.take(cap) else m
  }

  override def finish(r: List[Long]): Seq[Long] = r.sorted

  override def bufferEncoder: Encoder[List[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
