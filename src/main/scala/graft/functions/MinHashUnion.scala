package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed aggregate merging MinHash signatures by element-wise min
  * (SURVEY.md §2.1 M — the sketch-aggregate extension point).
  *
  * MinHash property: min-merging the signatures of two shingle sets yields
  * exactly the signature of their union, so grouping per-doc signatures with
  * this aggregator produces cluster-level signatures without ever touching
  * the underlying shingle sets — the building block for hierarchical /
  * incremental dedup at 100 TB (per-partition partial merge = tiny fixed
  * state, one k-long array per group).
  *
  * Apply it as a column function, `functions.udaf(new MinHashUnion(k))
  *   .withName("graft_minhash_union")(col("sig"))`, not through `spark.udf.register`:
  * a query body must not mutate the session's function registry.
  */
class MinHashUnion(k: Int) extends Aggregator[Array[Long], Array[Long], Array[Long]] {

  override def zero: Array[Long] = Array.fill(k)(Long.MaxValue)

  override def reduce(acc: Array[Long], sig: Array[Long]): Array[Long] = {
    var i = 0
    val n = math.min(acc.length, sig.length)
    while (i < n) { if (sig(i) < acc(i)) acc(i) = sig(i); i += 1 }
    acc
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = reduce(a, b)

  override def finish(acc: Array[Long]): Array[Long] = acc

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}
