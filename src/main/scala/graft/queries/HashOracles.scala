package graft.queries

import graft.functions.TextHashes

/** DuckDB differential-oracle SQL for the engine-native hash-sketch queries
  * (x03 MinHash+LSH, x04 SimHash, x05 min-shingle Jaccard, x24 CDC chunks).
  *
  * The engine computes these sketches with native 64-bit kernels
  * (graft.functions.TextHashes: FNV-1a token hashes + the public-domain
  * splitmix64 finalizer). Java `long` arithmetic wraps mod 2^64, which ANSI
  * SQL BIGINT refuses (overflow error), so the oracle replicates every chain
  * in DuckDB HUGEINT (INT128) arithmetic reduced mod 2^64 — the technique
  * proven on x18's media FNV oracle (MediaQueries.scala). Three tricks keep
  * it exact and fast:
  *
  *   - 64×64-bit multiply overflows even INT128, so products are computed as
  *     split 32-bit halves: (a*c) mod 2^64 = (((a>>32)*c mod 2^32)<<32
  *     + (a&0xffffffff)*c) mod 2^64 — every intermediate stays < 2^97.
  *   - splitmix64 is applied via 5 chained CTE stages (xor-shift, multiply,
  *     xor-shift, multiply, xor-shift) so each subexpression is evaluated
  *     once per row; inlining it as one expression re-evaluates the inner
  *     stages ~31× (measured 4.7× slower on the minhash path).
  *   - Signed vs unsigned: the engine's mins/sorts compare Java longs
  *     (signed), so HUGEINT values in [0, 2^64) are mapped to signed BIGINT
  *     (v >= 2^63 → v - 2^64) before any MIN or output.
  *
  * CHARACTER-SET ASSUMPTION (scope of the bit-exactness claim): the oracle
  * iterates Unicode CODEPOINTS (DuckDB's length/substring/ascii are
  * codepoint-wise), while the engine iterates UTF-16 CODE UNITS
  * (String.charAt in TextHashes). The two walks agree exactly iff the text
  * is BMP-only (every codepoint < U+10000 = one UTF-16 unit); an astral
  * character (emoji, rare CJK) would make engine and oracle diverge
  * silently. OracleAssumptionsSpec asserts the shipped documents corpora
  * are BMP-only, so the four hash-oracle rows are trusted precisely on the
  * corpora they are checked against. (The ENGINE is well-defined on astral
  * input — it hashes the surrogate pair's two code units in order — only
  * the cross-engine replication is BMP-scoped.)
  *
  * Per-query notes:
  *   - x03 bands: the engine buckets on xxhash64 of each 4-long signature
  *     slice purely to shrink the shuffle key; two slices collide iff they
  *     are equal (mod a ~2^-64 hash collision), so the oracle bands on the
  *     slice values directly.
  *   - x03 minhash seeds mix64(j + 0x5851f42d4c957f2d) are pure constants —
  *     computed here by calling the engine's own TextHashes.mix64 and
  *     embedded as literals (the x13 plane-literal precedent).
  *   - x24 rolling hash: whenever the engine evaluates its cut test
  *     (i - chunkStart + 1 >= 16 with window W = 16), the rolling hash
  *     equals the hash of the *last 16 chars only*, independent of the
  *     chunk start — so candidate cut positions are computable per position
  *     (16 lag() terms), and only the greedy min-gap-16 cut selection needs
  *     recursion (over the sparse candidate list, not every char).
  */
private[queries] object HashOracles {

  private val M64 = "18446744073709551616::HUGEINT"
  private val B32 = "4294967296::HUGEINT"
  private val FNV_BASIS = "14695981039346656037::HUGEINT"
  private val FNV_PRIME = "1099511628211::HUGEINT"

  /** (a * c) mod 2^64 in INT128 without overflow (split 32-bit halves). */
  private def mulmod(a: String, c: BigInt): String =
    s"((($a) // $B32 * $c::HUGEINT) % $B32 * $B32 + ($a) % $B32 * $c::HUGEINT) % $M64"

  /** splitmix64 applied to column `in` as 5 chained CTE stages; returns the
    * CTE text fragment (leading comma included) and the final CTE name. */
  private def mix64Stages(prefix: String, src: String, carry: Seq[String],
                          in: String, out: String): (String, String) = {
    val cols = if (carry.isEmpty) "" else carry.mkString(", ") + ", "
    val m1 = mulmod("z1", BigInt("ff51afd7ed558ccd", 16))
    val m2 = mulmod("z3", BigInt("c4ceb9fe1a85ec53", 16))
    val fin = s"${prefix}_e"
    val text = s""",
${prefix}_a AS (SELECT ${cols}xor($in, ($in) // 8589934592::HUGEINT) AS z1 FROM $src),
${prefix}_b AS (SELECT $cols$m1 AS z2 FROM ${prefix}_a),
${prefix}_c AS (SELECT ${cols}xor(z2, z2 // 8589934592::HUGEINT) AS z3 FROM ${prefix}_b),
${prefix}_d AS (SELECT $cols$m2 AS z4 FROM ${prefix}_c),
$fin AS (SELECT ${cols}xor(z4, z4 // 8589934592::HUGEINT) AS $out FROM ${prefix}_d)"""
    (text, fin)
  }

  private def signed(c: String): String =
    s"CASE WHEN ($c) >= 9223372036854775808::HUGEINT THEN (($c) - $M64)::BIGINT ELSE ($c)::BIGINT END"

  /** |A ∩ B| / |A ∪ B| over distinct-element lists — shipped as the RAW
    * IEEE quotient (exact-int numerator/denominator ⇒ bit-identical
    * cross-engine; ROUND(…,6) on such a quotient is itself the only
    * divergence risk — the x62 round-11 lesson). */
  private def jaccard(a: String, b: String, out: String): String =
    s"""CAST(len(list_intersect($a, $b)) AS DOUBLE)
       |    / (len($a) + len($b) - len(list_intersect($a, $b))) AS $out""".stripMargin

  /** Token FNV-1a + mix64 per (doc_id, pos): CTEs `t`..`the` with `the`
    * holding (doc_id, pos, h) — the finalized unsigned token hash. */
  private def tokenHashCtes(src: String): String = {
    val (mixed, fin) = mix64Stages("th", "thx", Seq("doc_id", "pos"), "h", "h")
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $src),
tok AS (SELECT doc_id, unnest(range(1, len(toks)+1)) AS pos, toks FROM t),
tok2 AS (SELECT doc_id, pos, toks[pos] AS tk FROM tok),
fnv(doc_id, pos, tk, j, h) AS (
  SELECT doc_id, pos, tk, 0, $FNV_BASIS FROM tok2
  UNION ALL
  SELECT doc_id, pos, tk, j+1,
    (xor(h, ascii(substring(tk, j+1, 1))::HUGEINT) * $FNV_PRIME) % $M64
  FROM fnv WHERE j < length(tk)
),
thx AS (SELECT doc_id, pos, h FROM fnv WHERE j = length(tk))$mixed"""
  }

  /** 3-token shingle hashes (TextHashes.shingleData semantics, n = 3):
    * chained mix64(h ^ (nextTokenHash + j·golden)) with the trailing sub-n
    * shingle kept for short docs. Ends in `shset` (doc_id, sh BIGINT[]
    * signed distinct) and `shsetu` (unsigned HUGEINT[] distinct). */
  private def shingleCtes(src: String): String = {
    val g1 = BigInt("9e3779b97f4a7c15", 16)
    val g2 = (g1 * 2) % (BigInt(1) << 64)
    val (mx1, f1) = mix64Stages("sh1", "sa", Seq("doc_id", "th", "n", "k", "x", "h"), "x", "mh")
    val (mx2, f2) = mix64Stages("sh2", "sc", Seq("doc_id", "th", "n", "k", "x", "h"), "x", "mh")
    s"""${tokenHashCtes(src)},
tharr AS (SELECT doc_id, list(h ORDER BY pos) AS th, len(list(h)) AS n FROM th_e GROUP BY doc_id),
shk AS (SELECT doc_id, th, n, unnest(range(1, greatest(n-2, 1)+1)) AS k FROM tharr),
sa AS (SELECT doc_id, th, n, k,
  CASE WHEN k+1 <= n THEN xor(th[k], (th[k+1] + $g1::HUGEINT) % $M64) ELSE NULL END AS x,
  th[k] AS h FROM shk)$mx1,
sb AS (SELECT doc_id, th, n, k, CASE WHEN x IS NULL THEN h ELSE mh END AS h FROM $f1),
sc AS (SELECT doc_id, th, n, k,
  CASE WHEN k+2 <= n THEN xor(h, (th[k+2] + $g2::HUGEINT) % $M64) ELSE NULL END AS x,
  h FROM sb)$mx2,
sd AS (SELECT doc_id, CASE WHEN x IS NULL THEN h ELSE mh END AS h FROM $f2),
shset AS (SELECT doc_id, list(DISTINCT ${signed("h")}) AS sh FROM sd GROUP BY doc_id),
shsetu AS (SELECT doc_id, list(DISTINCT h) AS shu FROM sd GROUP BY doc_id)"""
  }

  /** Generalized n-token window-hash chain (TextHashes.shingleData semantics
    * for ARBITRARY n): h = th[k]; then chained mix64(h ^ (th[k+j] + j·golden))
    * for j = 1..n-1, with the trailing sub-n window kept (NULL-guarded xor →
    * carry h through unmixed). Ends in `wset` (doc_id, h) — the DISTINCT
    * per-doc window hashes, unsigned HUGEINT. The n = 3 chain above
    * (`shingleCtes`) stays hand-written: x03-x05's oracle text is pinned by
    * six green rounds and this builder must not perturb it. */
  private def windowChainCtes(src: String, n: Int): String = {
    val golden = BigInt("9e3779b97f4a7c15", 16)
    val m64 = BigInt(1) << 64
    val sb = new StringBuilder
    sb ++= s"""${tokenHashCtes(src)},
tharr AS (SELECT doc_id, list(h ORDER BY pos) AS th, len(list(h)) AS n FROM th_e GROUP BY doc_id),
wk AS (SELECT doc_id, th, n, unnest(range(1, greatest(n-${n - 1}, 1)+1)) AS k FROM tharr),
ws0 AS (SELECT doc_id, th, n, k, th[k] AS h FROM wk)"""
    var cur = "ws0"
    for (j <- 1 until n) {
      val gj = (golden * j) % m64
      sb ++= s""",
wx$j AS (SELECT doc_id, th, n, k,
  CASE WHEN k+$j <= n THEN xor(h, (th[k+$j] + $gj::HUGEINT) % $M64) ELSE NULL END AS x,
  h FROM $cur)"""
      val (mx, fin) = mix64Stages(s"wm$j", s"wx$j", Seq("doc_id", "th", "n", "k", "x", "h"), "x", "mh")
      sb ++= mx
      sb ++= s""",
ws$j AS (SELECT doc_id, th, n, k, CASE WHEN x IS NULL THEN h ELSE mh END AS h FROM $fin)"""
      cur = s"ws$j"
    }
    sb ++= s""",
wpos AS (SELECT doc_id, n, k, h FROM $cur),
wset AS (SELECT DISTINCT doc_id, h FROM wpos)"""
    sb.toString
  }

  /** x60: substring-level duplication stats — for every doc, how many of its
    * distinct 8-token windows also occur in at least one OTHER doc (the
    * Lee et al. exact-substring-dedup diagnostic). Window hash = the
    * engine's n = 8 shingle chain, replicated bit-exactly; a window is
    * "duplicated" iff its hash is held by ≥ 2 docs (per-doc-distinct rows,
    * so COUNT(*) per hash = holder count). */
  val substringDup: String =
    s"""WITH RECURSIVE
${windowChainCtes("documents", 8)},
wcnt AS (SELECT h, COUNT(*) AS nd FROM wset GROUP BY h),
per AS (SELECT w.doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_win,
    CAST(COUNT(*) FILTER (WHERE c.nd >= 2) AS BIGINT) AS dup_win
  FROM wset w JOIN wcnt c ON c.h = w.h GROUP BY w.doc_id)
SELECT doc_id, n_win, dup_win,
  CAST(dup_win AS DOUBLE) / n_win AS dup_frac
FROM per ORDER BY doc_id"""

  /** x61: exact-substring dedup CUT (the Lee et al. TRANSFORM, not just the
    * diagnostic): every 8-token window is "owned" by the LOWEST doc_id
    * holding it; in any other doc the tokens it covers are cut, and the
    * kept tokens are reassembled in order. First-occurrence-wins keeps one
    * copy of every duplicated span corpus-wide; intra-doc repetition is NOT
    * cut (a doc owns its own windows — that's x25's metric, not dedup).
    * Position arithmetic: 1-based window k covers tokens k..min(k+7, n). */
  val substringCut: String =
    s"""WITH RECURSIVE
${windowChainCtes("documents", 8)},
own AS (SELECT h, MIN(doc_id) AS owner FROM wpos GROUP BY h),
cutp AS (SELECT DISTINCT doc_id, p FROM (
    SELECT w.doc_id, unnest(range(w.k, least(w.k+8, w.n+1))) AS p
    FROM wpos w JOIN own o ON o.h = w.h WHERE o.owner < w.doc_id) q),
kept AS (SELECT t2.doc_id, t2.pos, t2.tk
  FROM tok2 t2 LEFT JOIN cutp c ON c.doc_id = t2.doc_id AND c.p = t2.pos
  WHERE c.p IS NULL),
ka AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
    string_agg(tk, ' ' ORDER BY pos) AS text_kept
  FROM kept GROUP BY doc_id)
SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
  CAST(b.n - COALESCE(k.n_kept, 0) AS BIGINT) AS n_cut,
  COALESCE(k.text_kept, '') AS text_kept
FROM tharr b LEFT JOIN ka k ON k.doc_id = b.doc_id
ORDER BY b.doc_id"""

  /** Shingle sets + 32-hash MinHash signatures + 8×4 band keys for any
    * (doc_id, text) CTE `src`: ends in `shset` (exact-check sets), `sig`
    * (signatures), `bands2` (doc_id, b, bk band keys). Source-agnostic so
    * the whole-corpus chain (x03/x26, over the pre-collapsed `reps`) and
    * the incremental probe (x37, over incoming ∪ corpus reps) share it. */
  private def sigChainCtes(src: String): String = {
    val seeds = (0 until 32)
      .map(j => TextHashes.mix64(j + 0x5851f42d4c957f2dL))
      .map(s => s"${BigInt(java.lang.Long.toUnsignedString(s))}::HUGEINT")
      .mkString("[", ",", "]")
    val (mx, fin) = mix64Stages("mh", "mh3", Seq("doc_id", "j"), "x", "v")
    s"""${shingleCtes(src)},
mh1 AS (SELECT doc_id, unnest(shu) AS h FROM shsetu),
mh2 AS (SELECT doc_id, h, unnest(range(0, 32)) AS j FROM mh1),
mh3 AS (SELECT doc_id, j, xor(h, ($seeds)[j+1]) AS x FROM mh2)$mx,
mh5 AS (SELECT doc_id, j, min(${signed("v")}) AS mv FROM $fin GROUP BY doc_id, j),
sig AS (SELECT doc_id, list(mv ORDER BY j) AS sig FROM mh5 GROUP BY doc_id),
bands AS (SELECT doc_id, unnest(range(0, 8)) AS b, sig FROM sig),
bands2 AS (SELECT doc_id, b, array_to_string(sig[4*b+1:4*b+4], ',') AS bk FROM bands)"""
  }

  /** The shared chain over any base query with (doc_id, text) columns:
    * `cbase` is the base, `reps` its exact-dup pre-collapse, then 32-hash
    * MinHash → 8 bands of 4 → band-value equi-join → exact Jaccard on
    * candidates, ending in `jj` (doc_a, doc_b, jaccard) plus the `sig` /
    * `shset` tables the cluster stage reuses. A def, not a val: see the
    * `ccCtes` initialization-order note. */
  private def minhashCtesOver(base: String): String =
    s"""WITH RECURSIVE
cbase AS ($base),
reps AS (SELECT min(doc_id) AS doc_id, text FROM cbase GROUP BY text),
${sigChainCtes("reps")},
cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands2 l JOIN bands2 r ON l.b = r.b AND l.bk = r.bk AND l.doc_id < r.doc_id),
ws AS (SELECT doc_a, doc_b, p.sh AS sh_a, q.sh AS sh_b
  FROM cand JOIN shset p ON p.doc_id = doc_a JOIN shset q ON q.doc_id = doc_b),
jj AS (SELECT doc_a, doc_b, ${jaccard("sh_a", "sh_b", "jaccard")} FROM ws)"""

  /** The whole corpus as a chain base. `*`, not (doc_id, text): a
    * [[dedupChainCtes]] `carry` column (x156's `source`) reads it. */
  private final val allDocs = "SELECT * FROM documents"

  /** x59's release quality gate: at least 40 whitespace tokens. */
  private final val qual40 =
    """SELECT doc_id, text FROM documents WHERE len(string_split_regex(trim(text), '\s+')) >= 40"""

  private val minhashCtes: String = minhashCtesOver(allDocs)

  /** The incremental near-dup probe chain of x37 and x71: incoming docs
    * (doc_id ≡ 0 mod 10, sketched individually, no pre-collapse) against
    * the corpus signature table (remaining docs, exact-dup pre-collapsed
    * like x03), ending in `jj` (doc_id, corpus_doc_id, jaccard). Both sides
    * run the identical shingle→minhash chain over one union source; sides
    * are distinguished by the id split. The engine band-joins on xxhash64
    * of each 4-long signature slice; slices collide iff equal (mod a
    * ~2^-64 hash collision), so the oracle joins on the slice values. */
  private def probeCtes: String =
    s"""WITH RECURSIVE
inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
crep AS (SELECT min(doc_id) AS doc_id, text FROM documents WHERE doc_id % 10 <> 0 GROUP BY text),
u AS (SELECT doc_id, text FROM inc UNION ALL SELECT doc_id, text FROM crep),
${sigChainCtes("u")},
cand AS (SELECT DISTINCT l.doc_id AS doc_id, r.doc_id AS corpus_doc_id
  FROM bands2 l JOIN bands2 r ON l.b = r.b AND l.bk = r.bk
  WHERE l.doc_id % 10 = 0 AND r.doc_id % 10 <> 0),
ws AS (SELECT cand.doc_id AS doc_id, cand.corpus_doc_id AS corpus_doc_id,
    p.sh AS sh_a, q.sh AS sh_b
  FROM cand JOIN shset p ON p.doc_id = cand.doc_id
  JOIN shset q ON q.doc_id = cand.corpus_doc_id),
jj AS (SELECT doc_id, corpus_doc_id, ${jaccard("sh_a", "sh_b", "jaccard")} FROM ws)"""

  /** x37: the verified probe pairs. */
  val dedupIncremental: String =
    s"""$probeCtes
SELECT doc_id, corpus_doc_id, jaccard FROM jj WHERE jaccard >= 0.5
ORDER BY doc_id, corpus_doc_id"""

  /** x71: ingest triage rollup — the incoming batch (x37 split) tiered
    * EXCLUSIVELY as exact_bow (x70's canonical BoW membership) →
    * near_dup (x37's verified probe, among the non-exact) → novel, rolled
    * up per source. Reuses the x37 chain verbatim (inc/crep/u + banding +
    * verify) plus x02's canonical-key membership; `bwk` avoids the chain's
    * `bk` band-key name. */
  val ingestTriage: String =
    s"""$probeCtes,
nh AS (SELECT DISTINCT doc_id FROM jj WHERE jaccard >= 0.5),
kk AS (SELECT doc_id,
    array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS bwk
  FROM documents),
ck AS (SELECT DISTINCT bwk FROM kk WHERE doc_id % 10 <> 0),
tier AS (SELECT k.doc_id, d.source,
    CASE WHEN ck.bwk IS NOT NULL THEN 'exact_bow'
         WHEN nh.doc_id IS NOT NULL THEN 'near_dup'
         ELSE 'novel' END AS tier
  FROM kk k JOIN documents d ON d.doc_id = k.doc_id
  LEFT JOIN ck ON ck.bwk = k.bwk
  LEFT JOIN nh ON nh.doc_id = k.doc_id
  WHERE k.doc_id % 10 = 0)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_incoming,
  CAST(SUM(CASE WHEN tier = 'exact_bow' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
  CAST(SUM(CASE WHEN tier = 'near_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
  CAST(SUM(CASE WHEN tier = 'novel' THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
FROM tier GROUP BY source ORDER BY source"""

  /** x72: LSH band-collision histogram — per candidate pair the COUNT of
    * colliding bands (each side has exactly one row per band, so the
    * band-join row count IS the collision count), with the integer
    * `2·|∩| ≥ |∪|` verification flag, rolled up to (n_bands → n_pairs,
    * n_verified). The x03 chain's bands2/shset reused; DuckDB SUM(int)
    * returns HUGEINT, hence the explicit BIGINT cast. */
  val lshBandStats: String =
    s"""$minhashCtes,
pb AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_bands
  FROM bands2 l JOIN bands2 r ON l.b = r.b AND l.bk = r.bk AND l.doc_id < r.doc_id
  GROUP BY l.doc_id, r.doc_id),
pv AS (SELECT pb.n_bands,
    CASE WHEN 2 * len(list_intersect(p.sh, q.sh))
           >= len(p.sh) + len(q.sh) - len(list_intersect(p.sh, q.sh))
         THEN 1 ELSE 0 END AS ok
  FROM pb JOIN shset p ON p.doc_id = pb.doc_a JOIN shset q ON q.doc_id = pb.doc_b)
SELECT n_bands, CAST(COUNT(*) AS BIGINT) AS n_pairs,
  CAST(SUM(ok) AS BIGINT) AS n_verified
FROM pv GROUP BY n_bands ORDER BY n_bands"""

  /** x03: the pair output of the shared chain. */
  val dedupMinhash: String =
    s"""$minhashCtes
SELECT doc_a, doc_b, jaccard FROM jj WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b"""

  /** x90: sampled recall audit — md5-ordered 32-rep sample, brute-force
    * ≥ 0.5-Jaccard ground truth over exact shingle sets, membership check
    * against the band-join candidate table (canonical (lo, hi)
    * orientation), global recall in exact ppm. */
  val recallAudit: String =
    s"""$minhashCtes,
smp AS (SELECT doc_id AS sid, sh AS sh_s FROM shset
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 32),
truth AS (SELECT smp.sid,
    LEAST(smp.sid, o.doc_id) AS lo, GREATEST(smp.sid, o.doc_id) AS hi
  FROM smp JOIN shset o ON o.doc_id <> smp.sid
  WHERE 2 * len(list_intersect(smp.sh_s, o.sh)) >=
        len(smp.sh_s) + len(o.sh) - len(list_intersect(smp.sh_s, o.sh))),
caught AS (SELECT t.sid FROM truth t
  JOIN cand c ON c.doc_a = t.lo AND c.doc_b = t.hi),
pt AS (SELECT sid, COUNT(*) AS n_true FROM truth GROUP BY sid),
pc AS (SELECT sid, COUNT(*) AS n_caught FROM caught GROUP BY sid),
tots AS (SELECT
  (SELECT COALESCE(SUM(n_true), 0) FROM pt) AS tt,
  (SELECT COALESCE(SUM(n_caught), 0) FROM pc) AS tc)
SELECT smp.sid AS doc_id,
  CAST(COALESCE(pt.n_true, 0) AS BIGINT) AS n_true,
  CAST(COALESCE(pc.n_caught, 0) AS BIGINT) AS n_caught,
  CAST(CASE WHEN tots.tt > 0 THEN tots.tc * 1000000 // tots.tt
       ELSE 1000000 END AS BIGINT) AS recall_ppm
FROM smp LEFT JOIN pt ON pt.sid = smp.sid
LEFT JOIN pc ON pc.sid = smp.sid CROSS JOIN tots
ORDER BY doc_id"""

  /** x26: hierarchical cluster dedup — verified pairs → transitive closure
    * (recursive CTE with UNION-distinct, the SQL fixpoint of the engine's
    * hash-min loop) → rep = min reachable doc_id → cluster signature =
    * per-position MIN of member signatures (the MinHashUnion identity) →
    * banded cross-cluster candidates with signature-agreement estimate. */
  val dedupClusters: String =
    s"""$minhashCtes,
$ccCtes,
mj AS (SELECT l.rep, u.j, s2.sig[CAST(u.j AS INTEGER)+1] AS v
  FROM labels l JOIN sig s2 USING (doc_id), range(32) u(j)),
cm AS (SELECT rep, j, MIN(v) AS mv FROM mj GROUP BY rep, j),
csig AS (SELECT rep, list(mv ORDER BY j) AS csig FROM cm GROUP BY rep),
nd AS (SELECT rep, COUNT(*) AS n_docs FROM labels GROUP BY rep),
cb AS (SELECT rep, u.b,
    array_to_string(csig[CAST(4*u.b+1 AS INTEGER):CAST(4*u.b+4 AS INTEGER)], ',') AS bk
  FROM csig, range(8) u(b)),
xc AS (SELECT DISTINCT l.rep AS ra, r.rep AS rb
  FROM cb l JOIN cb r ON l.b = r.b AND l.bk = r.bk AND l.rep < r.rep),
est AS (SELECT ra, rb,
    CAST(len(list_filter(range(32),
      i -> a.csig[CAST(i AS INTEGER)+1] = b2.csig[CAST(i AS INTEGER)+1])) AS DOUBLE) / 32 AS ej
  FROM xc JOIN csig a ON a.rep = ra JOIN csig b2 ON b2.rep = rb),
xn AS (SELECT rep, COUNT(*) AS n FROM (
    SELECT ra AS rep FROM est WHERE ej >= 0.25
    UNION ALL SELECT rb FROM est WHERE ej >= 0.25) u2 GROUP BY rep)
SELECT nd.rep, nd.n_docs, COALESCE(xn.n, 0) AS n_xcands
FROM nd LEFT JOIN xn USING (rep) ORDER BY rep"""

  /** Transitive closure over the verified pair graph, shared verbatim by
    * x26 and x51 (ends in `labels` (doc_id, rep) over the `sig` docs): the
    * SQL fixpoint of the engine's hash-min CC loop. ONE definition so a
    * threshold or closure change can never drift between the two. */
  // a def, not a val: `dedupClusters` is declared earlier in this object
  // and object vals initialize in declaration order — a val here would
  // interpolate as null into the already-built x26 SQL
  private def ccCtes: String =
    s"""pairs AS (SELECT doc_a, doc_b FROM jj WHERE jaccard >= 0.5),
edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
reach(s, d) AS (SELECT s, d FROM edges
  UNION SELECT r.s, e.d FROM reach r JOIN edges e ON e.s = r.d WHERE e.d <> r.s),
labels AS (SELECT p.doc_id, LEAST(p.doc_id, COALESCE(MIN(r.d), p.doc_id)) AS rep
  FROM sig p LEFT JOIN reach r ON r.s = p.doc_id GROUP BY p.doc_id)"""

  /** The doc → exact rep → near-dup cluster chain over `base` (any query
    * with (doc_id, text) columns), shared by every dedup-apply oracle: the
    * minhash chain and CC closure over the exact reps, then `erep`
    * (doc_id, carry…, e_rep) and `chain` (doc_id, carry…, rep). `carry`
    * names `base` columns that ride along (x156's `source`). It is each
    * family's leading WITH-prefix, so diffcheck's prefix cache evaluates
    * the chain once per family. A def: see the `ccCtes` note. */
  private def dedupChainCtes(base: String, carry: String*): String = {
    val c = carry.map(_ + ", ").mkString
    val ec = carry.map("e." + _ + ", ").mkString
    s"""${minhashCtesOver(base)},
$ccCtes,
erep AS (SELECT doc_id, ${c}MIN(doc_id) OVER (PARTITION BY text) AS e_rep FROM cbase),
chain AS (SELECT e.doc_id, ${ec}l.rep FROM erep e JOIN labels l ON l.doc_id = e.e_rep)"""
  }

  /** x51: dedup APPLY — the surviving corpus after exact collapse + near-dup
    * clustering: an original doc maps to its exact-text rep (min doc_id per
    * identical text), the rep to its near-dup cluster label (the x26
    * transitive closure), and one row per cluster label survives with the
    * count of original docs it now represents. */
  val dedupApply: String =
    s"""${dedupChainCtes(allDocs)}
SELECT rep AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM chain GROUP BY rep ORDER BY keep_id"""

  /** x104: per-shard duplication-rate rollup — x56's shard rule joined to
    * the x51 doc→exact-rep→cluster-label chain, then per-shard counts of
    * dup-cluster membership and of clusters that STRADDLE shards (the
    * content-independent shard hash splits every multi-doc cluster across
    * shards by design — this is the number a release manager reads to see
    * how much cross-shard dup mass a per-shard-only dedup pass would
    * miss). */
  val shardDupRate: String =
    s"""${dedupChainCtes(allDocs)},
shrd AS (SELECT doc_id, CAST(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS INTEGER) AS shard
  FROM documents),
cs AS (SELECT c.doc_id, c.rep, s.shard FROM chain c JOIN shrd s ON s.doc_id = c.doc_id),
csz AS (SELECT rep, CAST(COUNT(*) AS BIGINT) AS cluster_size,
    CAST(COUNT(DISTINCT shard) AS BIGINT) AS n_shards
  FROM cs GROUP BY rep)
SELECT c.shard,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN z.cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
  CAST(COUNT(DISTINCT c.rep) AS BIGINT) AS n_clusters,
  CAST(COUNT(DISTINCT CASE WHEN z.n_shards > 1 THEN c.rep END) AS BIGINT) AS n_crossing_clusters,
  (CAST(SUM(CASE WHEN z.cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // COUNT(*) AS dup_ppm
FROM cs c JOIN csz z ON z.rep = c.rep
GROUP BY c.shard ORDER BY c.shard"""

  /** x107: dedup KEEP-BEST — the production selection policy (keep the
    * longest document per near-dup cluster, doc_id tiebreak) on the x51
    * chain, vs x51's keep-min-id bookkeeping rep. */
  val dedupKeepBest: String =
    s"""${dedupChainCtes(allDocs)},
cd AS (SELECT c.rep, c.doc_id, d.n_chars,
    ROW_NUMBER() OVER (PARTITION BY c.rep ORDER BY d.n_chars DESC, c.doc_id) AS rk,
    COUNT(*) OVER (PARTITION BY c.rep) AS n_docs
  FROM chain c JOIN documents d ON d.doc_id = c.doc_id)
SELECT rep AS cluster_rep, doc_id AS keep_id, CAST(n_chars AS BIGINT) AS keep_chars,
  CAST(n_docs AS BIGINT) AS n_docs,
  CASE WHEN doc_id <> rep THEN 1 ELSE 0 END AS kept_differs_from_min_id
FROM cd WHERE rk = 1 ORDER BY cluster_rep"""

  /** x55: leakage-safe split — the x51 doc→exact-rep→cluster-label chain,
    * then x31's hex-bucket assignment keyed on the CLUSTER rep, so no
    * near-dup cluster ever straddles two splits. */
  val splitLeakageSafe: String =
    s"""${dedupChainCtes(allDocs)}
SELECT doc_id, rep,
  CASE WHEN substring(md5(CAST(rep AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
       WHEN substring(md5(CAST(rep AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
       ELSE 'test' END AS split
FROM chain ORDER BY doc_id"""

  /** x59: end-to-end release manifest — the whole corpus-release pipeline
    * composed: quality gate → exact collapse → near-dup CC → one surviving
    * rep per cluster (with represented-doc counts) → cluster-keyed
    * train/val/test split (first md5 hex digit of the rep) → shard +
    * in-shard position (SECOND hex digit, so every split spans all 16
    * shards and no shard mixes splits within a (split, shard) directory). */
  val releaseManifest: String =
    s"""${dedupChainCtes(qual40)},
man AS (SELECT rep AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_docs FROM chain GROUP BY rep),
sp AS (SELECT keep_id, n_docs, md5(CAST(keep_id AS VARCHAR)) AS k FROM man)
SELECT keep_id, n_docs,
  CASE WHEN substring(k, 1, 1) <= 'b' THEN 'train'
       WHEN substring(k, 1, 1) <= 'd' THEN 'val'
       ELSE 'test' END AS split,
  CAST(strpos('0123456789abcdef', substring(k, 2, 1)) - 1 AS INTEGER) AS shard,
  CAST(ROW_NUMBER() OVER (PARTITION BY substring(k, 2, 1) ORDER BY k, keep_id) AS BIGINT) AS pos
FROM sp ORDER BY shard, pos"""

  /** x108: keep-best release manifest — x59's pipeline with x107's
    * survivor policy (longest doc per cluster, doc_id tiebreak);
    * split/shard stay keyed on the STABLE cluster label, so the policy
    * switch changes which member ships, never where a cluster lands. */
  val releaseManifestKeepBest: String =
    s"""${dedupChainCtes(qual40)},
cd AS (SELECT c.rep, c.doc_id, d.n_chars,
    ROW_NUMBER() OVER (PARTITION BY c.rep ORDER BY d.n_chars DESC, c.doc_id) AS rk,
    COUNT(*) OVER (PARTITION BY c.rep) AS n_docs
  FROM chain c JOIN documents d ON d.doc_id = c.doc_id),
man AS (SELECT rep AS cluster_rep, doc_id AS keep_id,
    CAST(n_chars AS BIGINT) AS keep_chars, CAST(n_docs AS BIGINT) AS n_docs
  FROM cd WHERE rk = 1),
sp AS (SELECT cluster_rep, keep_id, keep_chars, n_docs,
    md5(CAST(cluster_rep AS VARCHAR)) AS k FROM man)
SELECT cluster_rep, keep_id, keep_chars, n_docs,
  CASE WHEN substring(k, 1, 1) <= 'b' THEN 'train'
       WHEN substring(k, 1, 1) <= 'd' THEN 'val'
       ELSE 'test' END AS split,
  CAST(strpos('0123456789abcdef', substring(k, 2, 1)) - 1 AS INTEGER) AS shard,
  CAST(ROW_NUMBER() OVER (PARTITION BY substring(k, 2, 1) ORDER BY k, cluster_rep) AS BIGINT) AS pos
FROM sp ORDER BY shard, pos"""

  /** x116: per-source curation yield funnel — stage-by-stage retention
    * through x59's release pipeline (raw → quality gate → exact collapse →
    * near-dup CC survivor), the "where did my data go" table a release
    * publishes next to its datasheet. Survivors attribute to the KEPT
    * doc's source (a cluster spanning sources credits whichever source
    * ships the surviving member — the real contribution accounting).
    * Shares x59's WITH-chain prefix verbatim, so the diffcheck prefix
    * cache evaluates the expensive minhash+closure chain once for the
    * whole family. */
  val curationFunnel: String =
    s"""${dedupChainCtes(qual40)},
surv AS (SELECT MIN(doc_id) AS keep_id FROM chain GROUP BY rep),
raw AS (SELECT source,
    CAST(COUNT(*) AS BIGINT) AS n_raw,
    CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS tok_raw
  FROM documents GROUP BY source),
q2 AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_qual
  FROM cbase q JOIN documents d ON d.doc_id = q.doc_id GROUP BY d.source),
e2 AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM (SELECT DISTINCT e_rep FROM erep) e JOIN documents d ON d.doc_id = e.e_rep
  GROUP BY d.source),
f2 AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_final,
    CAST(SUM(len(string_split_regex(trim(d.text), '\\s+'))) AS BIGINT) AS tok_final
  FROM surv s JOIN documents d ON d.doc_id = s.keep_id GROUP BY d.source)
SELECT raw.source, n_raw, tok_raw,
  COALESCE(n_qual, 0) AS n_qual,
  COALESCE(n_exact, 0) AS n_exact,
  COALESCE(n_final, 0) AS n_final,
  COALESCE(tok_final, 0) AS tok_final,
  (COALESCE(n_final, 0) * 1000000) // n_raw AS kept_ppm,
  (COALESCE(tok_final, 0) * 1000000) // tok_raw AS tok_kept_ppm
FROM raw LEFT JOIN q2 ON raw.source = q2.source
  LEFT JOIN e2 ON raw.source = e2.source
  LEFT JOIN f2 ON raw.source = f2.source
ORDER BY raw.source"""

  /** x118: release shard-balance audit — per shard of x59's manifest:
    * clusters, represented docs, SHIPPED tokens, exact token-share ppm and
    * the signed deviation from the uniform 1/16 share. The straggler
    * predictor a training-data loader reads: a shard 20% over the mean is
    * a rank that finishes 20% late every epoch. Shares x59's WITH prefix
    * verbatim through `sp` (diffcheck prefix-cache family). */
  val shardBalance: String =
    s"""${dedupChainCtes(qual40)},
man AS (SELECT rep AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_docs FROM chain GROUP BY rep),
sp AS (SELECT keep_id, n_docs, md5(CAST(keep_id AS VARCHAR)) AS k FROM man),
sh AS (SELECT s.keep_id, s.n_docs,
    CAST(strpos('0123456789abcdef', substring(s.k, 2, 1)) - 1 AS INTEGER) AS shard,
    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS n_tok
  FROM sp s JOIN documents d ON d.doc_id = s.keep_id),
g AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_clusters,
    CAST(SUM(n_docs) AS BIGINT) AS n_docs_rep,
    CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM sh GROUP BY shard),
gt AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM g)
SELECT shard, n_clusters, n_docs_rep, n_tokens,
  (n_tokens * 1000000) // gt.tot AS tok_share_ppm,
  (n_tokens * 16000000) // gt.tot - 1000000 AS dev_ppm
FROM g CROSS JOIN gt ORDER BY shard"""

  /** x119: near-dup cluster-size histogram — log2-bucketed distribution of
    * cluster sizes over the FULL corpus chain (x51's doc→exact-rep→CC
    * labels): how much doc mass sits in singletons vs giant clusters, the
    * dedup-observability table FineWeb/Dolma publish. Bucketing is an
    * integer CASE ladder (floor-log2 WITHOUT log2(): a libm floor at a
    * power-of-two boundary is exactly the cross-engine gamble the integer
    * ladder avoids). */
  val clusterSizeHist: String = {
    val bucketCase = (0 until 20)
      .map(b => s"WHEN sz < ${2L << b} THEN $b")
      .mkString("CASE ", " ", " ELSE 20 END")
    s"""${dedupChainCtes(allDocs)},
cs AS (SELECT rep, CAST(COUNT(*) AS BIGINT) AS sz FROM chain GROUP BY rep),
b AS (SELECT sz, CAST($bucketCase AS INTEGER) AS bucket FROM cs),
g AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_clusters,
    CAST(SUM(sz) AS BIGINT) AS n_docs, CAST(MAX(sz) AS BIGINT) AS max_size
  FROM b GROUP BY bucket),
gt AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot FROM g)
SELECT bucket, CAST(POWER(2, bucket) AS BIGINT) AS floor_size,
  n_clusters, n_docs, max_size,
  (n_docs * 1000000) // gt.tot AS doc_share_ppm
FROM g CROSS JOIN gt ORDER BY bucket"""
  }

  /** x58: cross-source duplication matrix — for every near-dup cluster
    * (the x51/x55 doc→exact-rep→CC-label chain), the set of sources it
    * touches; emit one row per source PAIR with the count of clusters
    * spanning both. The inter-source contamination report a mixture
    * designer reads before weighting sources. */
  val dupSourceMatrix: String =
    s"""${dedupChainCtes(allDocs)},
ds AS (SELECT DISTINCT c.rep, d.source FROM chain c JOIN documents d ON d.doc_id = c.doc_id)
SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM ds a JOIN ds b ON a.rep = b.rep AND a.source < b.source
GROUP BY 1, 2 ORDER BY 1, 2"""

  /** x69: Jaccard-weighted PageRank over the verified near-dup pair graph —
    * the x03 chain's candidate pairs admitted by the INTEGER test
    * `2·|∩| ≥ |∪|` and weighted `(|∩|·10^6) // |∪|` (ppm, straight from
    * the shingle-set sizes — no float enters), made bidirectional, then
    * FIVE fixed power iterations entirely in BIGINT micro-units so the
    * hash check is exact across engines: rank starts at 1.0 = 1,000,000 µ;
    * each step every node emits `(r·w) // Σw_out` along each edge (integer
    * floor division — identical for the all-positive operands in both
    * engines) and absorbs `150000 + (85 · Σ inbound) // 100` (damping 0.85
    * in percent arithmetic). BIGINT sums are order-independent; the single
    * rounded division at the end is the only double. Every node of the
    * symmetric edge set has an in-edge, so the per-iteration
    * join-aggregate loses no nodes. */
  // a def, not a val: referenced by two vals below (declaration-order rule)
  private def pagerankCtes: String = {
    val its = (1 to 5).map { i =>
      val prev = if (i == 1) "pr0" else s"pri${i - 1}"
      s""",
pri$i AS (SELECT e.d AS id,
    150000::BIGINT + (85::BIGINT * SUM((p.r * e.w) // o.wout)) // 100 AS r
  FROM predges e JOIN prout o ON o.id = e.s JOIN $prev p ON p.id = e.s GROUP BY e.d)"""
    }.mkString
    s"""$minhashCtes,
prw AS (SELECT doc_a, doc_b,
    CAST(len(list_intersect(sh_a, sh_b)) AS BIGINT) AS inter,
    CAST(len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)) AS BIGINT) AS uni
  FROM ws),
prf AS (SELECT doc_a, doc_b, (inter * 1000000::BIGINT) // uni AS w
  FROM prw WHERE inter * 2 >= uni),
predges AS (SELECT doc_a AS s, doc_b AS d, w FROM prf
  UNION ALL SELECT doc_b, doc_a, w FROM prf),
prout AS (SELECT s AS id, SUM(w) AS wout, COUNT(*) AS deg FROM predges GROUP BY s),
pr0 AS (SELECT id, 1000000::BIGINT AS r FROM prout)$its"""
  }

  val dupPagerank: String =
    s"""$pagerankCtes
SELECT pri5.id AS doc_id, prout.deg AS deg, ROUND(r / 1000000.0, 6) AS pr
FROM pri5 JOIN prout ON prout.id = pri5.id ORDER BY doc_id"""

  /** x73: hub-removal what-if — the top-10 PageRank hubs (r desc, id asc —
    * a total order) with the verified-pair mass each removal deletes,
    * attributed SEQUENTIALLY: a pair touching two hubs counts once, for
    * the better-ranked one (so Σ pairs_removed = total pairs touching any
    * hub). The 999 sentinel marks a non-hub endpoint (hub ranks are
    * 1..10, COALESCE/LEAST arithmetic stays NULL-free — DuckDB LEAST
    * propagates NULL where Spark's skips it, so neither side ever feeds
    * LEAST a NULL). */
  val hubRemoval: String =
    s"""$pagerankCtes,
hubs AS (SELECT * FROM (
    SELECT p.id, o.deg, p.r,
      CAST(ROW_NUMBER() OVER (ORDER BY p.r DESC, p.id) AS INTEGER) AS rk
    FROM pri5 p JOIN prout o ON o.id = p.id) q WHERE rk <= 10),
att AS (SELECT LEAST(COALESCE(ha.rk, 999), COALESCE(hb.rk, 999)) AS rk
  FROM prf LEFT JOIN hubs ha ON ha.id = prf.doc_a
  LEFT JOIN hubs hb ON hb.id = prf.doc_b),
rm AS (SELECT rk, CAST(COUNT(*) AS BIGINT) AS pairs_removed
  FROM att WHERE rk < 999 GROUP BY rk)
SELECT h.rk, h.id AS doc_id, h.deg, ROUND(h.r / 1000000.0, 6) AS pr,
  COALESCE(rm.pairs_removed, 0) AS pairs_removed
FROM hubs h LEFT JOIN rm ON rm.rk = h.rk ORDER BY h.rk"""

  /** x96: per-node triangle count + local clustering coefficient over the
    * verified near-dup graph (x69's edge set, unweighted). The oracle
    * enumerates each triangle once via the id-orientation (a < b < c):
    * wedge join on the middle vertex, then the closing-edge probe. The
    * engine enumerates via DEGREE orientation instead (each triangle found
    * from its lowest-degree vertex) — a different traversal of the same
    * graph, so the per-node tallies agree exactly. cc stays in the x69 ppm
    * fixed point: `(2·10^6 · tri) // (deg · (deg−1))` — BIGINT end to end,
    * no float. */
  val dupTriangles: String =
    s"""$minhashCtes,
trf AS (SELECT doc_a, doc_b FROM ws
  WHERE 2 * len(list_intersect(sh_a, sh_b))
      >= len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))),
tri AS (SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM trf e1 JOIN trf e2 ON e2.doc_a = e1.doc_b
  JOIN trf e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
trn AS (SELECT unnest([a, b, c]) AS doc_id FROM tri),
trc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM trn GROUP BY doc_id),
dg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS deg FROM
  (SELECT doc_a AS doc_id FROM trf UNION ALL SELECT doc_b FROM trf) ed GROUP BY doc_id)
SELECT dg.doc_id, dg.deg, COALESCE(trc.n_tri, 0::BIGINT) AS n_tri,
  CASE WHEN dg.deg >= 2
    THEN (2000000::BIGINT * COALESCE(trc.n_tri, 0::BIGINT)) // (dg.deg * (dg.deg - 1))
    ELSE 0::BIGINT END AS cc_ppm
FROM dg LEFT JOIN trc ON trc.doc_id = dg.doc_id ORDER BY dg.doc_id"""

  /** x52: blocked record linkage — the x03 banding chain as the BLOCKING
    * stage (shared `cand` CTE over the exact-collapsed reps), then
    * edit-distance verification over exactly those candidate pairs:
    * DuckDB's own `levenshtein` on 80-char prefixes, normalized by the
    * longer prefix (integer distance, exact-rational ratio — bit-stable
    * across engines, the x47 precedent). */
  val recordLinkage: String =
    s"""$minhashCtes,
rl AS (SELECT c.doc_a AS id_a, c.doc_b AS id_b,
    substring(a.text, 1, 80) AS ta, substring(b2.text, 1, 80) AS tb
  FROM cand c JOIN reps a ON a.doc_id = c.doc_a JOIN reps b2 ON b2.doc_id = c.doc_b)
SELECT id_a, id_b,
  CAST(levenshtein(ta, tb) AS INTEGER) AS edit_dist,
  ROUND(1.0 - CAST(levenshtein(ta, tb) AS DOUBLE) / GREATEST(length(ta), length(tb)), 6) AS sim
FROM rl ORDER BY id_a, id_b"""

  /** x04: 64-bit SimHash (per-bit votes over distinct token hashes) →
    * 4×16-bit chunk equi-join → Hamming ≤ 3. */
  val dedupSimhash: String = {
    val pows = (0 until 64).map(b => s"${BigInt(1) << b}::HUGEINT").mkString("[", ",", "]")
    val p16 = "[1::HUGEINT, 65536::HUGEINT, 4294967296::HUGEINT, 281474976710656::HUGEINT]"
    s"""WITH RECURSIVE
${tokenHashCtes("documents")},
thset AS (SELECT doc_id, list(DISTINCT h) AS th FROM th_e GROUP BY doc_id),
v1 AS (SELECT doc_id, unnest(th) AS h FROM thset),
v2 AS (SELECT doc_id, h, unnest(range(0, 64)) AS b FROM v1),
v3 AS (SELECT doc_id, b, SUM(CASE WHEN (h // ($pows)[b+1]) % 2 = 1 THEN 1 ELSE -1 END) AS vote
  FROM v2 GROUP BY doc_id, b),
sg AS (SELECT doc_id, SUM(CASE WHEN vote > 0 THEN ($pows)[b+1] ELSE 0::HUGEINT END) AS sig
  FROM v3 GROUP BY doc_id),
sgs AS (SELECT doc_id, sig, ${signed("sig")} AS sigs FROM sg),
ck AS (SELECT doc_id, sigs, unnest(range(0, 4)) AS c, sig FROM sgs),
ck2 AS (SELECT doc_id, sigs, c, (sig // ($p16)[c+1]) % 65536::HUGEINT AS cv FROM ck),
cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b, l.sigs AS s_a, r.sigs AS s_b
  FROM ck2 l JOIN ck2 r ON l.c = r.c AND l.cv = r.cv AND l.doc_id < r.doc_id),
hm AS (SELECT doc_a, doc_b, CAST(bit_count(xor(s_a, s_b)) AS INTEGER) AS hamming FROM cand)
SELECT doc_a, doc_b, hamming FROM hm WHERE hamming <= 3 ORDER BY doc_a, doc_b"""
  }

  /** x05: min-shingle fingerprint (signed min, 1-band LSH) → equi-join →
    * exact Jaccard ≥ 0.3. */
  val dedupNgram: String =
    s"""WITH RECURSIVE
${shingleCtes("documents")},
base AS (SELECT doc_id, sh, list_aggregate(sh, 'min') AS fp FROM shset),
cand AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, l.sh AS sh_a, r.sh AS sh_b
  FROM base l JOIN base r ON l.fp = r.fp AND l.doc_id < r.doc_id),
jj AS (SELECT doc_a, doc_b, ${jaccard("sh_a", "sh_b", "jaccard")} FROM cand)
SELECT doc_a, doc_b, jaccard FROM jj WHERE jaccard >= 0.3 ORDER BY doc_a, doc_b"""

  /** x24: CDC chunking (graft_chunks(text, 5, 16) semantics) → chunk-hash
    * equi-join → chunk-set Jaccard ≥ 0.5. Window hashes via 16 lag() terms;
    * greedy min-gap-16 cut selection via recursion over candidates only;
    * per-chunk FNV recursion unrolled 16 chars/iteration (nested one-step
    * subselects, so each step evaluates once — no exponential CASE blowup).
    * The upstream CTEs feeding the recursive terms are MATERIALIZED, else
    * DuckDB re-evaluates the whole candidate pipeline every iteration. */
  val dedupChunks: String = {
    val m = BigInt(1) << 64
    val powTerms = ((0 until 15).map { t =>
      s"lag(code, ${15 - t}) OVER w * ${BigInt(257).modPow(BigInt(15 - t), m)}::HUGEINT"
    } :+ "code * 1::HUGEINT").mkString(" + ")
    val unrolled = (1 to 16).foldLeft(
      "SELECT doc_id, ck, j, h FROM cf WHERE j < length(ck)") { (inner, k) =>
      s"""SELECT doc_id, ck, j, CASE WHEN j+$k <= length(ck) THEN
  (xor(h, ascii(substring(ck, j+$k, 1))::HUGEINT) * $FNV_PRIME) % $M64
  ELSE h END AS h FROM ($inner) u$k"""
    }
    val (mxCand, mxFin) = mix64Stages("cm", "whx2", Seq("doc_id", "i"), "wh", "m")
    val (mxCh, chFin) = mix64Stages("ch", "cfx", Seq("doc_id"), "h", "h")
    s"""WITH RECURSIVE
d0 AS (SELECT doc_id, text, length(text) AS n FROM documents),
cp AS MATERIALIZED (SELECT doc_id, n, unnest(range(1, n+1)) AS p,
  unnest(list_transform(range(1, n+1), ii -> ascii(substring(text, CAST(ii AS INTEGER), 1)))) AS code
  FROM d0),
whx AS (SELECT doc_id, n, p, ($powTerms) % $M64 AS wh
  FROM cp WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
whx2 AS (SELECT doc_id, p - 1 AS i, wh FROM whx WHERE p >= 16 AND p <= n - 1)$mxCand,
cnd AS MATERIALIZED (SELECT doc_id, i FROM $mxFin WHERE m % 32 = 0),
nx AS MATERIALIZED (SELECT a.doc_id, a.i, min(b.i) AS nxt
  FROM cnd a LEFT JOIN cnd b ON b.doc_id = a.doc_id AND b.i >= a.i + 16
  GROUP BY a.doc_id, a.i),
cuts(doc_id, cut) AS (
  SELECT doc_id, min(i) FROM cnd GROUP BY doc_id
  UNION ALL
  SELECT c.doc_id, nx.nxt FROM cuts c JOIN nx ON nx.doc_id = c.doc_id AND nx.i = c.cut
  WHERE nx.nxt IS NOT NULL
),
bnd AS (SELECT doc_id, cut FROM cuts UNION ALL SELECT doc_id, n - 1 AS cut FROM d0),
bord AS (SELECT doc_id, cut, lag(cut, 1, -1) OVER (PARTITION BY doc_id ORDER BY cut) AS prev FROM bnd),
chnk AS MATERIALIZED (SELECT b.doc_id, substring(d.text, b.prev + 2, b.cut - b.prev) AS ck
  FROM bord b JOIN d0 d USING (doc_id)),
cf(doc_id, ck, j, h) AS (
  SELECT doc_id, ck, 0, $FNV_BASIS FROM chnk
  UNION ALL
  SELECT doc_id, ck, least(j + 16, length(ck)), h FROM ($unrolled) unrolled
),
cfx AS (SELECT doc_id, h FROM cf WHERE j = length(ck))$mxCh,
chsig AS (SELECT doc_id, ${signed("h")} AS h FROM $chFin),
chset AS MATERIALIZED (SELECT doc_id, list(DISTINCT h) AS ch FROM chsig GROUP BY doc_id),
ex AS (SELECT doc_id, unnest(ch) AS c FROM chset),
cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM ex l JOIN ex r ON l.c = r.c AND l.doc_id < r.doc_id),
ws AS (SELECT doc_a, doc_b, p.ch AS ch_a, q.ch AS ch_b
  FROM cand JOIN chset p ON p.doc_id = doc_a JOIN chset q ON q.doc_id = doc_b),
jj AS (SELECT doc_a, doc_b, ${jaccard("ch_a", "ch_b", "overlap")} FROM ws)
SELECT doc_a, doc_b, overlap FROM jj WHERE overlap >= 0.5 ORDER BY doc_a, doc_b"""
  }

  /** x133: dedup threshold OPERATING CURVE — the x126 pattern applied to
    * near-dup admission: pairs and their exact integer Jaccard computed
    * ONCE (the audited x03 chain), every tau rung a row-local filter;
    * LEFT joins from the rung spine so a zero-dup rung still emits. */
  val dedupThresholdCurve: String =
    s"""$minhashCtes,
tw AS (SELECT doc_a, doc_b,
    CAST(len(list_intersect(sh_a, sh_b)) AS BIGINT) AS inter,
    CAST(len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)) AS BIGINT) AS uni
  FROM ws),
tf AS (SELECT doc_a, doc_b, (inter * 1000000::BIGINT) // uni AS w
  FROM tw WHERE inter * 2 >= uni),
th(tau) AS (VALUES (500000::BIGINT), (600000::BIGINT), (700000::BIGINT), (800000::BIGINT)),
tp AS (SELECT th.tau, tf.doc_a, tf.doc_b FROM tf JOIN th ON tf.w >= th.tau),
pc AS (SELECT tau, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM tp GROUP BY tau),
dc AS (SELECT tau, CAST(COUNT(*) AS BIGINT) AS n_reps_dup FROM (
    SELECT DISTINCT tau, doc FROM (
      SELECT tau, doc_a AS doc FROM tp
      UNION ALL SELECT tau, doc_b AS doc FROM tp) x) y GROUP BY tau),
nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_reps_corpus FROM reps)
SELECT th.tau, COALESCE(pc.n_pairs, 0::BIGINT) AS n_pairs,
  COALESCE(dc.n_reps_dup, 0::BIGINT) AS n_reps_dup,
  nr.n_reps_corpus,
  CAST(COALESCE(dc.n_reps_dup, 0::BIGINT) * 1000000 // nr.n_reps_corpus AS BIGINT) AS dup_share_ppm
FROM th CROSS JOIN nr
LEFT JOIN pc ON pc.tau = th.tau
LEFT JOIN dc ON dc.tau = th.tau
ORDER BY th.tau"""

  /** x134: the ONE-PLAN release→pack bridge — the whole curation run as a
    * single declarative composition: x64 composite quality gate → exact
    * collapse + near-dup CC (the x59 chain, over the GATED subset only) →
    * keep-min-id survivors → x129's √-flattened per-source token quota
    * over the SURVIVING mass (budget = half of it, so the cut always
    * binds) → quota cut and x112 pack-span tiling off the SAME running
    * prefix sum. `gate` is TextQueries.gatePassSql("toks") and `packLen`
    * its packSeqLen — passed in as arguments so the thresholds/constants
    * keep living in exactly one place (TextQueries) and no object-init
    * cycle forms between the two objects (HashOracles vals initialize
    * while TextQueries vals are still constructing). */
  def releasePackBridge(packLen: Long, gate: String): String = {
    val qualSql =
      s"""SELECT doc_id, source, text, n_tok FROM (
        |  SELECT doc_id, source, text, string_split(text, ' ') AS toks,
        |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
        |  FROM documents) gq
        | WHERE $gate = 1""".stripMargin
    s"""${dedupChainCtes(qualSql)},
surv AS (SELECT rep AS keep_id FROM chain GROUP BY rep),
sv AS (SELECT s.keep_id, q.source, q.n_tok FROM surv s JOIN cbase q ON q.doc_id = s.keep_id),
per AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS m FROM sv GROUP BY source),
tot AS (SELECT CAST(SUM(m) AS BIGINT) // 2 AS budget,
    list_sum(list_sort(list(sqrt(CAST(m AS DOUBLE))))) AS sum_sqrt FROM per),
quo AS (SELECT p.source,
    CAST(FLOOR(t.budget * sqrt(CAST(p.m AS DOUBLE)) / t.sum_sqrt) AS BIGINT) AS quota_tokens
  FROM per p CROSS JOIN tot t),
ord AS (SELECT sv.keep_id, sv.source, sv.n_tok, quo.quota_tokens,
    CAST(COALESCE(SUM(sv.n_tok) OVER (PARTITION BY sv.source
      ORDER BY md5(CAST(sv.keep_id AS VARCHAR)), sv.keep_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
  FROM sv JOIN quo ON quo.source = sv.source),
kept AS (SELECT * FROM ord WHERE cum_before < quota_tokens),
ex AS (SELECT source, quota_tokens, cum_before, n_tok,
    unnest(range(cum_before // $packLen, (cum_before + n_tok - 1) // $packLen + 1)) AS pack_id
  FROM kept),
sp AS (SELECT source, quota_tokens, CAST(pack_id AS BIGINT) AS pack_id,
    CAST(LEAST(cum_before + n_tok, (pack_id+1)*$packLen)
      - GREATEST(cum_before, pack_id*$packLen) AS BIGINT) AS span_len
  FROM ex)
SELECT source, pack_id, quota_tokens,
  CAST(COUNT(*) AS BIGINT) AS n_spans,
  CAST(SUM(span_len) AS BIGINT) AS n_tokens
FROM sp GROUP BY source, pack_id, quota_tokens ORDER BY source, pack_id"""
  }

  /** x136: contamination HALO — x35's 5-gram benchmark hits expanded
    * through the near-dup closure. The minhash+CC chain runs over the
    * TRAIN side only (a test doc must never glue two train clusters, and
    * a train doc exact-dup'd by a TEST doc must still keep a train-side
    * rep — the reason this cannot reuse the full-corpus chain's collapsed
    * reps). Seeds are x35's per-train-doc hit rollup; the purge set is
    * every train doc whose cluster contains a seed. */
  val contaminationHalo: String = {
    val trainBase = "SELECT doc_id, text FROM documents " +
      "WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd'"
    s"""${dedupChainCtes(trainBase)},
dtk AS (SELECT doc_id,
    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd'
         THEN 'train' ELSE 'test' END AS split,
    string_split(text, ' ') AS tt FROM documents),
dgr AS (SELECT DISTINCT doc_id, split, array_to_string(tt[i+1:i+5], ' ') AS g
  FROM dtk, UNNEST(range(greatest(len(tt) - 4, 0))) AS u(i)),
seeds AS (SELECT tr.doc_id AS train_id,
    CAST(COUNT(DISTINCT te.doc_id) AS BIGINT) AS n_eval_docs,
    CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM dgr tr JOIN dgr te ON tr.g = te.g
  WHERE tr.split = 'train' AND te.split = 'test'
  GROUP BY tr.doc_id),
creps AS (SELECT DISTINCT c.rep FROM chain c JOIN seeds s ON s.train_id = c.doc_id)
SELECT c.doc_id, c.rep,
  CASE WHEN s.train_id IS NOT NULL THEN 'direct' ELSE 'halo' END AS reason,
  CAST(COALESCE(s.n_eval_docs, 0) AS BIGINT) AS n_eval_docs,
  CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared
FROM chain c JOIN creps USING (rep) LEFT JOIN seeds s ON s.train_id = c.doc_id
ORDER BY c.doc_id"""
  }

  /** x156: dedup SURVIVORSHIP-BIAS datasheet — per source, the x64 gate
    * pass rate over ALL docs vs over the x51 keep-min-id survivors, and
    * the signed delta. The same chain + gate pieces as [[dupQualityLink]],
    * rolled up by source instead of cluster-size bucket. */
  def dedupSurvivorship(gate: String): String =
    s"""${dedupChainCtes(allDocs, "source")},
gt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
gp AS (SELECT doc_id, $gate AS pass FROM gt),
cq AS (SELECT c.doc_id, c.source, c.rep, g.pass FROM chain c JOIN gp g ON g.doc_id = c.doc_id),
surv AS (SELECT rep, MIN(doc_id) AS doc_id FROM cq GROUP BY rep),
al AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(pass) AS BIGINT) AS n_pass
  FROM cq GROUP BY source),
sv AS (SELECT c.source, CAST(COUNT(*) AS BIGINT) AS n_surv, CAST(SUM(c.pass) AS BIGINT) AS n_surv_pass
  FROM cq c JOIN surv s ON s.rep = c.rep AND s.doc_id = c.doc_id GROUP BY c.source)
SELECT a.source, a.n_docs, a.n_pass,
  CAST(COALESCE(s.n_surv, 0) AS BIGINT) AS n_surv,
  CAST(COALESCE(s.n_surv_pass, 0) AS BIGINT) AS n_surv_pass,
  CAST(a.n_pass * 1000000 // a.n_docs AS BIGINT) AS pass_ppm_all,
  CAST(CASE WHEN COALESCE(s.n_surv, 0) = 0 THEN 0
       ELSE s.n_surv_pass * 1000000 // s.n_surv END AS BIGINT) AS pass_ppm_surv,
  CAST(CASE WHEN COALESCE(s.n_surv, 0) = 0 THEN 0
       ELSE s.n_surv_pass * 1000000 // s.n_surv END
     - a.n_pass * 1000000 // a.n_docs AS BIGINT) AS delta_ppm
FROM al a LEFT JOIN sv s USING (source) ORDER BY a.source"""

  /** x147: dup-cluster size × quality LINK — per log2 cluster-size bucket
    * (x119's integer CASE ladder over the FULL-corpus x51 chain), the
    * x64 composite-gate pass rate of the documents in those clusters: the
    * cross-family readout dedup papers publish (heavily duplicated text
    * skews toward boilerplate — if pass_ppm falls with cluster size here,
    * dedup and the quality gate agree about what to cut; if it rises,
    * near-dup mass is GOOD text being over-represented and
    * survivor-selection is the right treatment, not dropping). `gate` is
    * TextQueries.gatePassSql("toks"), passed in for the same
    * one-place/no-init-cycle reasons as releasePackBridge. */
  def dupQualityLink(gate: String): String = {
    val bucketCase = (0 until 20)
      .map(b => s"WHEN sz < ${2L << b} THEN $b")
      .mkString("CASE ", " ", " ELSE 20 END")
    s"""${dedupChainCtes(allDocs)},
gt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
gp AS (SELECT doc_id, $gate AS pass FROM gt),
cq AS (SELECT c.rep, CAST(COUNT(*) AS BIGINT) AS sz,
    CAST(SUM(g.pass) AS BIGINT) AS n_pass
  FROM chain c JOIN gp g ON g.doc_id = c.doc_id GROUP BY c.rep),
bk AS (SELECT sz, n_pass, CAST($bucketCase AS INTEGER) AS bucket FROM cq),
g AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_clusters,
    CAST(SUM(sz) AS BIGINT) AS n_docs, CAST(SUM(n_pass) AS BIGINT) AS n_pass
  FROM bk GROUP BY bucket)
SELECT bucket, CAST(POWER(2, bucket) AS BIGINT) AS floor_size,
  n_clusters, n_docs, n_pass,
  (n_pass * 1000000) // n_docs AS pass_ppm
FROM g ORDER BY bucket"""
  }
}
