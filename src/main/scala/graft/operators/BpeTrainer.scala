package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Production-scale BPE TRAINING: the k-general counterpart of the x99
  * demo (which unrolls exactly 3 distributed merge rounds) and the other
  * half of the lifecycle whose encode side already runs at production k
  * ([[graft.functions.BpeEncode]]'s heap kernel).
  *
  * Architecture — the one real tokenizer trainers use on big corpora:
  *
  *  1. CORPUS-sized stage in Spark: one scan → weighted word counts
  *     (map-side partial aggregation; the only stage that touches every
  *     row, identical to x99's `w0`).
  *  2. VOCABULARY-sized merge loop on the driver: natural-language
  *     vocabularies are millions of entries (MBs — the same
  *     broadcast-bound argument x99's scaladoc makes), so the k merge
  *     rounds run locally with INCREMENTAL pair-count maintenance —
  *     per merge, only words containing the merged pair are re-counted
  *     (delta update), and the argmax comes from a lazy-invalidation
  *     heap instead of a full rescan. Each round is O(affected words),
  *     not O(vocab) — at k = 32000 the x99 formulation would be 32000
  *     Spark jobs; this is one job plus a local loop.
  *
  * Semantics are EXACTLY x99's per round, pinned by BpeTrainerSpec
  * against a full-recount reference and against the oracle-checked x99
  * output itself: pair counts include overlapping occurrences (Spark
  * counts every adjacent position), the merge is the greedy left-to-right
  * i+=2 scan (same rule as `graft_bpe_tokens`), symbols are code points,
  * and ties break (cnt DESC, lhs ASC, rhs ASC) in UTF-8 BINARY order —
  * driver String order is UTF-16 and diverges on supplementary planes,
  * so comparisons go through UTF8String.
  */
object BpeTrainer {

  /** One learned merge: the pair and the (weighted, overlap-inclusive)
    * adjacency count it won its round with. */
  final case class Merge(lhs: String, rhs: String, cnt: Long)

  /** UTF-8 binary comparison (Spark's string ORDER BY), not UTF-16. */
  private def u8cmp(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  private final class Word(var syms: Array[String], val n: Long)

  /** Greedy left-to-right i+=2 merge of (l, r) in one symbol array —
    * the x99 / graft_bpe_tokens rule. */
  private def mergeWord(s: Array[String], l: String, r: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == l && s(i + 1) == r) {
        out += l + r; i += 2
      } else { out += s(i); i += 1 }
    }
    out.toArray
  }

  /** Train k merges over a weighted vocabulary (word → occurrence count).
    * Words split to code-point symbols; returns merges in learning order
    * (fewer than k if the vocabulary runs out of adjacent pairs). */
  def train(words: Seq[(String, Long)], k: Int): Seq[Merge] = {
    val vocab: Array[Word] = words.iterator.map { case (w, n) =>
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val cw = Character.charCount(w.codePointAt(i))
        b += w.substring(i, i + cw); i += cw
      }
      new Word(b.toArray, n)
    }.toArray

    // live pair counts + the words each pair occurs in (ids, not counts:
    // the delta recount below re-derives exact per-word multiplicity)
    val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val where = scala.collection.mutable.HashMap.empty[(String, String),
      scala.collection.mutable.HashSet[Int]]

    def addWord(wi: Int, sign: Long,
        changed: scala.collection.mutable.HashSet[(String, String)]): Unit = {
      val w = vocab(wi)
      var i = 0
      while (i + 1 < w.syms.length) {
        val p = (w.syms(i), w.syms(i + 1))
        val c = cnt.getOrElse(p, 0L) + sign * w.n
        if (c == 0L) cnt.remove(p) else cnt.update(p, c)
        if (sign > 0) where.getOrElseUpdate(p,
          scala.collection.mutable.HashSet.empty[Int]) += wi
        if (changed != null) changed += p
        i += 1
      }
    }
    vocab.indices.foreach(addWord(_, 1L, null))

    // lazy-invalidation heap: push a snapshot on every count increase;
    // verify on pop. Ordering = cnt DESC, lhs ASC, rhs ASC (UTF-8).
    implicit val ord: Ordering[(Long, String, String)] =
      new Ordering[(Long, String, String)] {
        def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(a._1, b._1)
          if (c != 0) c
          else {
            val l = u8cmp(b._2, a._2) // reversed: max-heap pops SMALLEST lhs
            if (l != 0) l else u8cmp(b._3, a._3)
          }
        }
      }
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, String, String)]
    cnt.foreach { case ((l, r), c) => heap.enqueue((c, l, r)) }

    val out = Seq.newBuilder[Merge]
    var made = 0
    while (made < k && heap.nonEmpty) {
      val (c, l, r) = heap.dequeue()
      val live = cnt.getOrElse((l, r), 0L)
      if (live == c) { // fresh entry — this IS the argmax
        out += Merge(l, r, c)
        made += 1
        // delta recount — exactly a full recount restricted to the words
        // that contain the pair (all others are untouched): retract each
        // affected word's pairs, apply the greedy merge, re-add. The
        // merged pair's own count drops to zero through the retraction
        // (no special-casing, so any corner the merge leaves behind is
        // counted exactly as a full recount would).
        val affected = where.getOrElse((l, r),
          scala.collection.mutable.HashSet.empty[Int]).toArray
        val changed = scala.collection.mutable.HashSet.empty[(String, String)]
        affected.foreach { wi => addWord(wi, -1L, changed) }
        affected.foreach { wi =>
          vocab(wi).syms = mergeWord(vocab(wi).syms, l, r)
          addWord(wi, 1L, changed)
        }
        // refresh the heap for every pair whose live count changed; stale
        // entries self-invalidate on pop
        changed.foreach { p =>
          cnt.get(p).foreach(cc => heap.enqueue((cc, p._1, p._2)))
        }
      }
      // stale entry: drop and continue
    }
    out.result()
  }

  /** Corpus → word counts (the distributed stage) → driver-local training.
    * `dir` is a testdata sf directory with documents.parquet. */
  def trainOn(spark: SparkSession, dir: String, k: Int): Seq[Merge] = {
    val wc = graft.Tables.documents(spark, dir)
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    train(wc, k)
  }

  /** Flatten to the `graft_bpe_tokens` pair-list form. */
  def mergesString(ms: Seq[Merge]): String =
    ms.flatMap(m => Seq(m.lhs, m.rhs)).mkString(" ")
}
