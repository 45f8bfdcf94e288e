package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Misra-Gries heavy hitters: mergeable bounded-state top-k
  * (SURVEY.md §2.1 M — the sketch-aggregate extension point, the
  * frequency twin of [[MinHashUnion]] / the x22 sketches).
  *
  * Why it exists: the exact per-group top-k tokens over a 100 TB corpus
  * shuffles the full (group, token) width — unbounded state per group. A
  * Misra-Gries summary of capacity `m` is a fixed-size partial aggregate
  * (map-side combine works; merge is associative and commutative up to the
  * summary guarantee), with the classical bound: every token with true
  * count > n/(m+1) survives, and each reported count undercounts by at
  * most n/(m+1), where n is the group's token count.
  *
  * EXACT regime: while a group's summary never overflows `m` distinct
  * inputs (per merged buffer), no decrement ever fires and the summary IS
  * the exact count map — which is how the x42 query stays hash-checkable
  * against a plain GROUP BY oracle; HeavyHittersSpec exercises the lossy
  * regime separately against the classical bound.
  *
  * `finish` emits the top `k` surviving entries as (token, count) structs
  * ordered by (count desc, token asc) — a total, engine-independent order.
  *
  * Apply it as a column function, `functions.udaf(new HeavyHitters(m, k))
  *   .withName("graft_topk")(col("tok"))`, not through `spark.udf.register`:
  * a query body must not mutate the session's function registry.
  */
class HeavyHitters(m: Int, k: Int)
    extends Aggregator[String, Map[String, Long], Seq[(String, Long)]] {
  require(m > 0 && k > 0 && k <= m, s"need 0 < k <= m, got k=$k m=$m")

  override def zero: Map[String, Long] = Map.empty

  /** Insert one token: increment if tracked or under capacity; otherwise
    * the classical decrement-all step, executed as one pass that also
    * drops zeros (amortized O(1) per insert: a decrement pass removes at
    * least one of the m+1 candidates). */
  override def reduce(acc: Map[String, Long], tok: String): Map[String, Long] =
    acc.get(tok) match {
      case Some(c) => acc.updated(tok, c + 1)
      case None if acc.size < m => acc.updated(tok, 1L)
      case None =>
        acc.collect { case (t, c) if c > 1 => (t, c - 1) }
    }

  /** Summary merge (Agarwal et al., "Mergeable Summaries"): sum counts,
    * then if over capacity subtract the (m+1)-th largest count from all and
    * drop non-positive — preserves the n/(m+1) error bound. */
  override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
    val summed = b.foldLeft(a) { case (acc, (t, c)) =>
      acc.updated(t, acc.getOrElse(t, 0L) + c)
    }
    if (summed.size <= m) summed
    else {
      val cut = summed.values.toSeq.sorted(Ordering[Long].reverse)(m)
      summed.collect { case (t, c) if c > cut => (t, c - cut) }
    }
  }

  override def finish(acc: Map[String, Long]): Seq[(String, Long)] =
    acc.toSeq.sortBy { case (t, c) => (-c, t) }.take(k)

  override def bufferEncoder: Encoder[Map[String, Long]] =
    ExpressionEncoder[Map[String, Long]]()
  override def outputEncoder: Encoder[Seq[(String, Long)]] =
    ExpressionEncoder[Seq[(String, Long)]]()
}
