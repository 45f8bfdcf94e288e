package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Bloom-filter bitmap builder: fold pre-hashed bit POSITIONS into one
  * fixed-size `Array[Long]` bitmap (SURVEY.md §2.1 M — the membership twin
  * of [[MinHashUnion]] / [[HeavyHitters]] in the mergeable-fixed-state
  * sketch family).
  *
  * Why it exists: incremental ingest against a 100 TB corpus pays a
  * corpus-sized join for every batch if membership is checked exactly. A
  * Bloom bitmap built ONCE over the corpus keys is a broadcastable artifact
  * (m/8 bytes, independent of corpus size) that rejects the non-duplicate
  * bulk of every later batch ROW-LOCALLY; only bloom survivors (true dups +
  * the ~(1-e^(-kn/m))^k false-positive sliver) reach the exact verify join.
  * No false negatives, ever: a set bit is never cleared, and `merge` is a
  * bitwise OR — associative, commutative, and idempotent, so map-side
  * combine and any merge order yield the identical bitmap.
  *
  * The caller computes the k probe positions (e.g. `pmod(xxhash64(key, j),
  * m)` for j < k) so build and probe share one definition of the hash
  * family; this aggregator only sets bits. Positions outside [0, m) fail
  * loudly rather than alias.
  *
  * Sizing contract (scaladoc'd, not dispatched): m must grow with the
  * corpus key count n to hold the FP rate — m ≈ 1.44·k·n/ln2 bits for the
  * optimum. The bitmap stays a driver/broadcast-sized artifact up to
  * billions of keys (n = 10^9, k = 4 → ~0.9 GB); beyond that, shard the
  * corpus and build one bitmap per shard (OR-merge stays free).
  *
  * Apply it as a column function, `functions.udaf(new BloomBits(m))
  *   .withName("graft_bloom_bits")(col("pos"))`, not through `spark.udf.register`:
  * a query body must not mutate the session's function registry.
  */
class BloomBits(mBits: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
  require(mBits > 0 && mBits % 64 == 0, s"mBits must be a positive multiple of 64, got $mBits")

  override def zero: Array[Long] = new Array[Long](mBits / 64)

  override def reduce(acc: Array[Long], pos: Long): Array[Long] = {
    require(pos >= 0 && pos < mBits, s"bit position $pos outside [0, $mBits)")
    acc((pos >>> 6).toInt) |= 1L << (pos & 63)
    acc
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  override def finish(acc: Array[Long]): Array[Long] = acc

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}
