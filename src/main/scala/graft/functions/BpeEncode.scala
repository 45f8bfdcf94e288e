package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE-encode kernel behind x103 (`graft_bpe_tokens(text, merges)`).
  *
  * Why not the nested-HOF formulation: `aggregate`/`transform` lambdas are
  * interpreted per element, and encoding one document walks
  * words × symbols × merges lambda frames — measured ~15 s for the sf0.1
  * corpus. This kernel does the identical arithmetic in one JVM loop per
  * row (whitespace split, code-point symbols, greedy merges) on SPAN
  * indices into the original string — a merge of adjacent spans is always
  * contiguous, so no symbol string is ever materialized until the final
  * token substrings. Codegen embeds it as a single static call.
  *
  * `merges` is the learned table flattened to a space-separated pair list
  * ("l1 r1 l2 r2 …", safe because symbols come from whitespace-split words
  * and can never contain whitespace) — k-general, applied IN ORDER, each
  * pass the greedy left-to-right i+=2 scan of Sennrich et al. 2016 (same
  * rule as x99's training fold and the recursive-CTE oracle; the
  * TextQueriesEdgeSpec adjacent-double corpus pins all three). The table is
  * parsed ONCE per thread and cached (it is a broadcast 1-row frame, so
  * every row of a query carries the identical string; the cache revalidates
  * by byte equality and is evicted when the owning Spark task completes, so
  * idle executor threads retain nothing).
  *
  * Two encode paths, dispatched on merge count ([[HeapDispatchMerges]]):
  *
  *  - '''scan''' (k < threshold): one in-place greedy pass per merge,
  *    O(k·len) per doc — the lower constant factor wins at demo-sized k.
  *  - '''heap''' (k ≥ threshold): the production form — a doubly-linked
  *    symbol list plus a min-heap of (merge rank, position) candidates.
  *    Each adjacent pair is looked up once at init; a merge re-examines
  *    only its two new neighbor pairs. O(len·log len) per doc,
  *    INDEPENDENT of k — at a production vocab (k ≈ 32k merges) the scan
  *    form would be ~10⁴× this cost. Identical semantics by construction:
  *    popping (rank, pos) ascending replays each pass's left-to-right
  *    i+=2 scan (consumed symbols fail the span check and are skipped),
  *    and a merge at rank p enqueues new neighbor pairs only with rank
  *    STRICTLY greater than p — pass p is already past that position, a
  *    same-rank pair cannot be re-created (the merged symbol is strictly
  *    longer than either operand), and earlier passes are over. A merge
  *    table with a duplicate (l, r) pair would break the rank-map
  *    assumption, so that (never produced by training — a merged pair's
  *    adjacency count drops to 0 and can't re-form) falls back to the
  *    scan path. BpeEncodeSpec pins scan ≡ heap ≡ imperative reference,
  *    including at k ≥ 300; `Ladder bpe encode` measures the flat-in-k
  *    cost.
  *
  * Symbols are built per CODE POINT (`codePointAt`), not per UTF-16 code
  * unit: the x99 trainer's `regexp_replace(w, '(.)', '$1 ')` and the DuckDB
  * oracle's `regexp_replace(w, '(.)', '\1 ', 'g')` both match code points,
  * so a supplementary-plane character (e.g. emoji) is ONE symbol everywhere
  * — splitting it into surrogate halves would mint invalid-UTF-8 tokens and
  * diverge from the trained vocab.
  */
object BpeEncode {

  /** Java-regex `\s` — what Spark's `split(text, '\\s+')` matches, i.e.
    * [ \t\n\x0B\f\r]. NB this is NOT identical to the DuckDB oracle's RE2
    * `\s`, which is [\t\n\f\r ] and EXCLUDES \x0B (vertical tab): the two
    * engines would split a \x0B-bearing corpus differently. The shipped
    * corpora are asserted \x0B-free (OracleAssumptionsSpec), keeping the
    * kernel aligned with the Spark trainer's split on the inputs the hash
    * gate actually sees. */
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  @inline private def spanIs(s: String, from: Int, until: Int, t: String): Boolean =
    until - from == t.length && s.regionMatches(from, t, 0, t.length)

  /** Merge count at or above which the heap path beats the per-pass scan's
    * lower constant factor (the demo k=3 stays on the scan path; any
    * realistically-sized vocab goes to the heap). */
  val HeapDispatchMerges = 16

  /** Open-addressed (left, right) symbol-pair → rank table probed directly
    * by character spans of the document string — the heap path's hot lookup
    * runs zero allocations (no substring or concatenated-key String per
    * probe; the spans hash in place and candidates verify via
    * `regionMatches`). Duplicate (l, r) pairs keep the FIRST rank (the
    * `putIfAbsent` semantics the dup-fallback check relies on). */
  private final class PairRank(l: Array[String], r: Array[String]) {
    private val mask = {
      var c = 16
      while (c < l.length * 2) c <<= 1
      c - 1
    }
    private val slot = new Array[Int](mask + 1) // rank+1; 0 = empty
    var hasDup = false

    @inline private def mix(hl: Int, hr: Int): Int = {
      var h = hl * 0x9e3779b1 + hr
      h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13
      h
    }
    @inline private def hashStr(t: String): Int = {
      var h = 0; var i = 0
      while (i < t.length) { h = h * 31 + t.charAt(i); i += 1 }
      h
    }
    @inline private def hashSpan(s: String, from: Int, until: Int): Int = {
      var h = 0; var i = from
      while (i < until) { h = h * 31 + s.charAt(i); i += 1 }
      h
    }

    {
      var i = 0
      while (i < l.length) {
        var p = mix(hashStr(l(i)), hashStr(r(i))) & mask
        var placed = false
        while (!placed) {
          val v = slot(p)
          if (v == 0) { slot(p) = i + 1; placed = true }
          else if (l(v - 1) == l(i) && r(v - 1) == r(i)) { hasDup = true; placed = true }
          else p = (p + 1) & mask
        }
        i += 1
      }
    }

    /** Rank of the pair (s[aSt,aEn), s[bSt,bEn)), or -1 if not a merge. */
    def rank(s: String, aSt: Int, aEn: Int, bSt: Int, bEn: Int): Int = {
      var p = mix(hashSpan(s, aSt, aEn), hashSpan(s, bSt, bEn)) & mask
      while (true) {
        val v = slot(p)
        if (v == 0) return -1
        val i = v - 1
        if (spanIs(s, aSt, aEn, l(i)) && spanIs(s, bSt, bEn, r(i))) return i
        p = (p + 1) & mask
      }
      -1
    }
  }

  /** The merge table parsed once: pair arrays in learning order plus the
    * span-probing rank table. `src` is a defensive copy of the raw string
    * for cache revalidation — codegen inputs may point into reused row
    * buffers, so the cache must never retain the caller's UTF8String. */
  private final class MergeTable(val src: UTF8String, val l: Array[String],
      val r: Array[String], val pairRank: PairRank, val hasDup: Boolean) {
    val k: Int = l.length
  }

  private val cached = new ThreadLocal[MergeTable]
  private val evictorTask = new ThreadLocal[java.lang.Long]

  /** Inside a Spark task, bound the per-thread cache's retention to the
    * task lifetime: one completion listener per (thread, task) clears it,
    * so an executor thread never retains a production-sized table (k≈32k
    * ranks + pair arrays) past its last task (ADVICE r12). The next task
    * re-parses once — O(k), negligible against the rows it serves. Driver
    * / test threads (no TaskContext) keep the process-lifetime cache. */
  private def armEviction(): Unit = {
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null) {
      val id = java.lang.Long.valueOf(tc.taskAttemptId())
      if (!id.equals(evictorTask.get())) {
        tc.addTaskCompletionListener[Unit] { _ =>
          cached.remove(); evictorTask.remove()
        }
        evictorTask.set(id)
      }
    }
  }

  private def table(mergesU: UTF8String): MergeTable = {
    var t = cached.get()
    if (t == null || !t.src.equals(mergesU)) {
      val m = mergesU.toString.trim
      val mp: Array[String] = if (m.isEmpty) Array.empty else m.split(" ")
      if (mp.length % 2 != 0)
        throw new IllegalArgumentException(
          s"graft_bpe_tokens: merges must be a flat pair list, got ${mp.length} symbols")
      val k = mp.length / 2
      val l = new Array[String](k)
      val r = new Array[String](k)
      var i = 0
      while (i < k) {
        l(i) = mp(2 * i); r(i) = mp(2 * i + 1)
        i += 1
      }
      val pr = new PairRank(l, r)
      t = new MergeTable(mergesU.clone(), l, r, pr, pr.hasDup)
      armEviction()
      cached.set(t)
    }
    t
  }

  /** Fixed-capacity-free binary min-heap of packed (rank << 32 | pos)
    * longs — both halves non-negative, so long order ≡ (rank, pos) order. */
  private final class LongHeap(cap: Int) {
    private var a = new Array[Long](math.max(cap, 16))
    private var n = 0
    def nonEmpty: Boolean = n > 0
    def push(v: Long): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      var c = n; a(c) = v; n += 1
      var p = (c - 1) >> 1
      while (c > 0 && a(p) > a(c)) {
        val t = a(p); a(p) = a(c); a(c) = t; c = p; p = (c - 1) >> 1
      }
    }
    def pop(): Long = {
      val top = a(0); n -= 1; a(0) = a(n)
      var c = 0
      var done = false
      while (!done) {
        val lc = 2 * c + 1; val rc = lc + 1
        var m = c
        if (lc < n && a(lc) < a(m)) m = lc
        if (rc < n && a(rc) < a(m)) m = rc
        if (m == c) done = true
        else { val t = a(m); a(m) = a(c); a(c) = t; c = m }
      }
      top
    }
  }

  /** One greedy left-to-right i+=2 pass per merge, in place on the span
    * arrays. Returns the surviving span count. */
  private def encodeScan(s: String, t: MergeTable,
      st: Array[Int], en: Array[Int], cnt0: Int): Int = {
    var cnt = cnt0
    var p = 0
    while (p < t.k) {
      val l = t.l(p); val r = t.r(p)
      var ri = 0; var wi = 0
      while (ri < cnt) {
        if (ri + 1 < cnt && spanIs(s, st(ri), en(ri), l) &&
            spanIs(s, st(ri + 1), en(ri + 1), r)) {
          st(wi) = st(ri); en(wi) = en(ri + 1); ri += 2
        } else {
          st(wi) = st(ri); en(wi) = en(ri); ri += 1
        }
        wi += 1
      }
      cnt = wi
      p += 1
    }
    cnt
  }

  /** Heap-of-pairs greedy encode: linked symbol list + (rank, pos) min-heap.
    * Pops replay the sequential passes (see object scaladoc for why the
    * rank>p guard and the span staleness check make this exact). Returns
    * the surviving span count, compacted into st/en. */
  private def encodeHeap(s: String, t: MergeTable,
      st: Array[Int], en: Array[Int], cnt0: Int): Int = {
    val n = cnt0
    if (n < 2 || t.k == 0) return n
    val nxt = new Array[Int](n)
    val prv = new Array[Int](n)
    val alive = new Array[Boolean](n)
    var q = 0
    while (q < n) { nxt(q) = q + 1; prv(q) = q - 1; alive(q) = true; q += 1 }
    nxt(n - 1) = -1
    val rank = t.pairRank
    val h = new LongHeap(n)
    q = 0
    while (q < n - 1) {
      val rk = rank.rank(s, st(q), en(q), st(q + 1), en(q + 1))
      if (rk >= 0) h.push((rk.toLong << 32) | q.toLong)
      q += 1
    }
    while (h.nonEmpty) {
      val v = h.pop()
      val p = (v >>> 32).toInt
      val i0 = (v & 0xffffffffL).toInt
      if (alive(i0)) {
        val j0 = nxt(i0)
        if (j0 != -1 && spanIs(s, st(i0), en(i0), t.l(p)) &&
            spanIs(s, st(j0), en(j0), t.r(p))) {
          en(i0) = en(j0)
          alive(j0) = false
          val j1 = nxt(j0)
          nxt(i0) = j1
          if (j1 != -1) prv(j1) = i0
          val hh = prv(i0)
          if (hh != -1) {
            val rk = rank.rank(s, st(hh), en(hh), st(i0), en(i0))
            if (rk > p) h.push((rk.toLong << 32) | hh.toLong)
          }
          if (j1 != -1) {
            val rk = rank.rank(s, st(i0), en(i0), st(j1), en(j1))
            if (rk > p) h.push((rk.toLong << 32) | i0.toLong)
          }
        }
      }
    }
    var w = 0
    q = 0
    while (q < n) {
      if (alive(q)) { st(w) = st(q); en(w) = en(q); w += 1 }
      q += 1
    }
    w
  }

  def tokens(textU: UTF8String, mergesU: UTF8String): ArrayData = {
    val t = table(mergesU)
    encode(textU.toString, t, useHeap = t.k >= HeapDispatchMerges && !t.hasDup)
  }

  /** Test hook: run a specific encode path (heap is refused for
    * duplicate-pair tables, whose rank map would be ambiguous). */
  private[graft] def tokensPath(text: String, merges: String, heap: Boolean): ArrayData = {
    val t = table(UTF8String.fromString(merges))
    encode(text, t, useHeap = heap && !t.hasDup)
  }

  private def encode(s: String, t: MergeTable, useHeap: Boolean): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var st: Array[Int] = new Array[Int](64)
    var en: Array[Int] = new Array[Int](64)
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val w0 = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > w0) {
        if (i - w0 > st.length) {
          st = new Array[Int](i - w0); en = new Array[Int](i - w0)
        }
        // one span per CODE POINT (oracle '(.)' parity; see object scaladoc)
        var cnt = 0
        var j = w0
        while (j < i) {
          val cw = Character.charCount(s.codePointAt(j))
          st(cnt) = j; en(cnt) = j + cw; cnt += 1; j += cw
        }
        cnt =
          if (useHeap) encodeHeap(s, t, st, en, cnt)
          else encodeScan(s, t, st, en, cnt)
        j = 0
        while (j < cnt) {
          out += UTF8String.fromString(s.substring(st(j), en(j)))
          j += 1
        }
      }
    }
    new GenericArrayData(out.toArray)
  }
}

/** `graft_bpe_tokens(text, merges)` → ARRAY<STRING> BPE tokens of every
  * whitespace word of `text`, after applying the space-flattened `merges`
  * pair list in order (greedy left-to-right per pair; heap-of-pairs form
  * at production merge counts — see [[graft.functions.BpeEncode]]). */
case class BpeTokens(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bpe_tokens needs (STRING, STRING), got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(text: Any, merges: Any): Any =
    BpeEncode.tokens(text.asInstanceOf[UTF8String], merges.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, m) => s"graft.functions.BpeEncode.tokens($t, $m)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeTokens =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_bpe_tokens"
}
