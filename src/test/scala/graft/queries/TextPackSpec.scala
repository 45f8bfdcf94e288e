package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

/** x54/x112 packing invariants on the shipped corpus: the span manifest
  * must TILE each training sequence (contiguous from offset 0, full packs
  * sum to exactly packSeqLen) and must agree with x54's per-doc placement —
  * the properties a trainer's loss-mask builder silently assumes. */
class TextPackSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("every pack oracle divides by the 512-token pack length, x53's included") {
    // x53's oracle string is built before the pack length's declaration, so
    // a non-constant field would still read 0 there
    val lens = """cum_before(?: \+ n_tok - 1\))? // (\d+)|pack_id(?:\+1\))?\*(\d+)""".r
    val packOracles = graft.SparkEntry.oracleSql.filter(_._2.contains("cum_before //"))
    packOracles.keySet should contain allOf ("x53_text_mixture", "x54_text_pack", "x112_pack_spans")
    packOracles.foreach { case (name, sqlText) =>
      val found = lens.findAllMatchIn(sqlText).map(m => Option(m.group(1)).getOrElse(m.group(2))).toSet
      withClue(name + ": ") { found shouldBe Set("512") }
    }
    packOracles("x53_text_mixture") should (include("// 512") and not include ("// 0"))
  }

  test("x112 spans tile every pack: contiguous from 0; full packs sum to 512") {
    // registry: x112_pack_spans
    val rows = TextQueries.packSpans.run(spark, dir).collect()
    rows should not be empty
    val bySrcPack = rows.groupBy(r => (r.getString(0), r.getLong(1)))
    val lastPack = rows.groupBy(_.getString(0))
      .map { case (s, rs) => s -> rs.map(_.getLong(1)).max }
    // at least one pack must contain a doc-boundary (multiple spans), or
    // the tiling assertion is vacuous
    bySrcPack.values.count(_.length > 1) should be > 0
    bySrcPack.foreach { case ((src, pid), rs) =>
      val spans = rs.map(r => (r.getLong(3), r.getLong(4))).sortBy(_._1)
      all(spans.map(_._2)) should be >= 1L
      spans.head._1 shouldBe 0L
      spans.sliding(2).foreach {
        case Array((s1, l1), (s2, _)) => s2 shouldBe (s1 + l1)
        case _                        => ()
      }
      val tot = spans.map(_._2).sum
      if (pid < lastPack(src)) tot shouldBe 512L
      else tot should be <= 512L
    }
  }

  test("x112 ≡ x54: first span sits at x54's (pack_id, pack_offset); span mass = n_tok") {
    val spans = TextQueries.packSpans.run(spark, dir).collect()
    // registry: x54_text_pack
    val placed = TextQueries.textPack.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val byDoc = spans.groupBy(r => (r.getString(0), r.getLong(2)))
    byDoc.keySet shouldBe placed.keySet // every placed doc has spans, no extras
    byDoc.foreach { case (key, rs) =>
      val (nTok, firstPack, off) = placed(key)
      rs.map(_.getLong(4)).sum shouldBe nTok // every token lands in exactly one span
      val first = rs.minBy(_.getLong(1))
      first.getLong(1) shouldBe firstPack
      first.getLong(3) shouldBe off
      // a doc occupies CONSECUTIVE packs (concat-then-chunk has no holes)
      val pids = rs.map(_.getLong(1)).sorted
      pids shouldBe (pids.head until pids.head + pids.length).toArray
    }
  }

  test("x114 ≡ x112: the efficiency datasheet's closed-form span arithmetic matches the explode") {
    // registry: x114_pack_efficiency
    val eff = TextQueries.packEfficiency.run(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val spans = TextQueries.packSpans.run(spark, dir).collect()
    val bySrc = spans.groupBy(_.getString(0))
    eff.keySet shouldBe bySrc.keySet
    eff.foreach { case (src, r) =>
      val rs = bySrc(src)
      // columns: source, n_docs, n_tokens, n_packs, pad_tokens, pad_ppm,
      //          n_spans, n_split_docs
      val (nDocs, nTokens, nPacks) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (pad, padPpm, nSpans, nSplit) =
        (r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
      nSpans shouldBe rs.length.toLong // x112's output size, never materialized
      nTokens shouldBe rs.map(_.getLong(4)).sum // Σ span_len — every token counted once
      nDocs shouldBe rs.map(_.getLong(2)).distinct.length.toLong
      nSplit shouldBe rs.groupBy(_.getLong(2)).count(_._2.length > 1).toLong
      nSpans - nDocs shouldBe rs.groupBy(_.getLong(2)).values
        .map(_.length - 1).sum.toLong // spans − docs = boundary crossings
      nPacks shouldBe rs.map(_.getLong(1)).max + 1 // spans tile: packs are 0..max
      pad shouldBe nPacks * 512 - nTokens
      padPpm shouldBe pad * 1000000 / (nPacks * 512)
    }
    // non-vacuity: the shipped corpus has split docs AND a padded tail
    eff.values.map(_.getLong(7)).sum should be > 0L
    eff.values.map(_.getLong(4)).sum should be > 0L
  }

  test("x120 pack content ≡ a from-scratch driver-side pack rebuild (md5 for md5)") {
    import org.apache.spark.sql.functions.col
    // rebuild every pack imperatively from raw text + the x54 order rule
    // (md5(doc_id) asc, doc_id tiebreak), then compare digests — the
    // engine's slice/flatten/pad chain must reproduce them ALL
    def hex(id: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def md5Of(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = graft.Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val expected = docs.groupBy(_._1).flatMap { case (src, ds) =>
      val stream = ds.sortBy(d => (hex(d._2), d._2))
        .flatMap(d => d._3.trim.split("\\s+"))
      stream.grouped(512).zipWithIndex.map { case (toks, pid) =>
        val padded = toks ++ Seq.fill(512 - toks.length)("<pad>")
        (src, pid.toLong) -> md5Of(padded.mkString(" "))
      }
    }
    // registry: x120_pack_assemble
    val got = TextQueries.packAssemble.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getString(5)).toMap
    got shouldBe expected.toMap
    // bookkeeping parity with the rest of the family
    val rows = TextQueries.packAssemble.run(spark, dir).collect()
    val spans = TextQueries.packSpans.run(spark, dir).collect()
    rows.map(_.getLong(2)).sum shouldBe spans.length.toLong // n_spans ≡ x112
    val eff = TextQueries.packEfficiency.run(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      rs.length.toLong shouldBe eff(src)._1 // n_packs ≡ x114
      rs.map(_.getLong(4)).sum shouldBe eff(src)._2 // Σ n_pad ≡ x114 pad_tokens
    }
  }

  test("multi-pack documents: a 1200-token doc spans 3+ packs with full-pack interior spans") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // the shipped corpus's docs are all ≪ 512 tokens, so a doc LONGER than
    // one pack — the common case for real long documents — never exercises
    // x112/x120's full-pack interior spans there; pin it synthetically
    val long1 = (0 until 1200).map(i => s"L$i").mkString(" ")
    val tiny = (0 until 7).map(i => s"t$i").mkString(" ")
    val docsDf = Seq((1L, "s1", long1), (2L, "s1", tiny), (3L, "s1", tiny))
      .toDF("doc_id", "source", "text")

    val spans = TextQueries.packSpansOf(docsDf.select("source", "doc_id", "text"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // the 1200-token doc must appear in ≥ 3 packs, with ≥ 2 FULL 512-token spans
    val longSpans = spans.filter(_._2 == 1L)
    longSpans.length should be >= 3
    longSpans.count(_._4 == 512L) should be >= 2
    longSpans.map(_._4).sum shouldBe 1200L // every token in exactly one span
    spans.map(_._4).sum shouldBe 1214L

    // x120 assembly reproduces a from-scratch rebuild (same rule as the
    // shipped-corpus test: md5 order, contiguous 512-token grouping)
    def hex(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def md5Of(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val stream = Seq((1L, long1), (2L, tiny), (3L, tiny))
      .sortBy { case (id, _) => (hex(id), id) }
      .flatMap(_._2.split(" "))
    val expected = stream.grouped(512).zipWithIndex.map { case (toks, pid) =>
      pid.toLong -> md5Of((toks ++ Seq.fill(512 - toks.length)("<pad>")).mkString(" "))
    }.toMap
    val got = TextQueries.packAssembleOf(docsDf.select("source", "doc_id", "text"))
      .collect().map(r => r.getLong(1) -> r.getString(5)).toMap
    got shouldBe expected
    // the efficiency datasheet agrees on the same synthetic frame
    val eff2 = TextQueries.packEfficiencyOf(docsDf.select("source", "doc_id", "text"))
      .collect().map(r => (r.getLong(3), r.getLong(6), r.getLong(7))).head
    eff2._1 shouldBe 3L // ceil(1214/512)
    eff2._2 shouldBe spans.length.toLong // n_spans
    eff2._3 should be >= 1L // the long doc straddles → counted split
  }

  test("x121 is a per-epoch PERMUTATION of the pack universe: seeded, shard-contiguous, epoch-distinct, deterministic") {
    // registry: x121_epoch_order
    val rows = TextQueries.epochOrder.run(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getInt(3), r.getLong(4)))
    rows should not be empty

    // the pack universe: exactly x114's 0..n_packs-1 per source, every epoch
    val eff = TextQueries.packEfficiency.run(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val universe = eff.toSeq.flatMap { case (src, n) =>
      (0L until n).map(src -> _)
    }.toSet
    (0 to 2).foreach { ep =>
      val packs = rows.filter(_._1 == ep).map(r => (r._2, r._3))
      packs.length shouldBe packs.distinct.length // no pack consumed twice
      packs.toSet shouldBe universe // every pack consumed exactly once
    }

    // within each (epoch, shard) the positions are contiguous 1..count —
    // a rank can stream its slice with no gaps or overlaps
    rows.groupBy(r => (r._1, r._4)).foreach { case (_, rs) =>
      rs.map(_._5).sorted shouldBe (1L to rs.length.toLong).toArray
    }

    // shard ≡ first hex digit of the seeded key (the x56 rule on packs)
    def md5Of(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    rows.foreach { case (ep, src, pid, shard, _) =>
      val k = md5Of(s"graft-epoch-v1:$ep:$src:$pid")
      shard shouldBe "0123456789abcdef".indexOf(k.head)
    }
    // ...and pos is rank-by-key within the shard (driver-side replay)
    rows.groupBy(r => (r._1, r._4)).foreach { case ((ep, _), rs) =>
      val expected = rs.sortBy { case (_, src, pid, _, _) =>
        (md5Of(s"graft-epoch-v1:$ep:$src:$pid"), src, pid)
      }.map(r => (r._2, r._3))
      rs.sortBy(_._5).map(r => (r._2, r._3)).toSeq shouldBe expected.toSeq
    }

    // epochs must not replay each other's order: compare the global
    // (shard, pos) sequence of pack keys across epochs
    def order(ep: Int) = rows.filter(_._1 == ep)
      .sortBy(r => (r._4, r._5)).map(r => (r._2, r._3)).toSeq
    order(0) should not be order(1)
    order(1) should not be order(2)

    // determinism: a second run reproduces the rows exactly
    val again = TextQueries.epochOrder.run(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getInt(3), r.getLong(4)))
    again.sorted shouldBe rows.sorted
  }

  test("x122 ≡ a driver-side run-length replay of x121's order; single-source frame collapses to one run per shard") {
    // replay: collect x121's order, compute same-source runs imperatively
    val order = TextQueries.epochOrder.run(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getInt(3), r.getLong(4)))
    val expected = order.groupBy(r => (r._1, r._4)).map { case ((ep, sh), rs) =>
      val srcs = rs.sortBy(_._5).map(_._2).toSeq
      val runs = srcs.foldLeft(List.empty[(String, Long)]) {
        case ((s, n) :: tail, cur) if s == cur => (s, n + 1) :: tail
        case (acc, cur)                        => (cur, 1L) :: acc
      }
      (ep, sh) -> ((srcs.length.toLong, srcs.distinct.length.toLong,
        runs.length.toLong, runs.map(_._2).max))
    }
    // registry: x122_epoch_mix_audit
    val got = TextQueries.epochMixAudit.run(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    got shouldBe expected
    // the audit's core identity: adjacent same-source pairs = n_packs − n_runs
    got.values.foreach { case (nPacks, nSources, nRuns, maxRun) =>
      nRuns should be >= nSources
      maxRun should be >= 1L
      maxRun should be <= nPacks - nRuns + 1
    }

    // a single-source corpus is the degenerate shuffle: every shard is ONE
    // run of its full length — pins the run arithmetic end to end
    import spark.implicits._
    val docsDf = (1L to 40L).map(i => (i, "only", s"tok$i " * 600))
      .toDF("doc_id", "source", "text")
    val solo = TextQueries.epochMixAuditOf(docsDf.select("source", "doc_id", "text"))
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    solo should not be empty
    solo.foreach { case (nPacks, nSources, nRuns, maxRun) =>
      nSources shouldBe 1L
      nRuns shouldBe 1L
      maxRun shouldBe nPacks
    }
  }

  test("x124 append invariance: every full old pack survives byte-identical; ≤1 rewritten; exactly-full tail edge") {
    import org.apache.spark.sql.functions.col
    // driver-side replay on the shipped corpus: rebuild both generation-
    // ordered layouts imperatively (old = doc_id % 17 != 0; appends sort
    // after every old doc) and reconcile the rollup
    def hex(id: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def md5Of(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def packs(ds: Seq[(Long, String)]): Vector[String] = {
      val stream = ds.sortBy { case (id, _) =>
        ((if (id % 17 == 0) "1:" else "0:") + hex(id), id)
      }.flatMap(_._2.trim.split("\\s+")).toVector
      stream.grouped(512).map { toks =>
        md5Of((toks ++ Seq.fill(512 - toks.length)("<pad>")).mkString(" "))
      }.toVector
    }
    val docs = graft.Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val expected = docs.groupBy(_._1).map { case (src, ds) =>
      val all = ds.map(d => (d._2, d._3)).toSeq
      val old = packs(all.filter(_._1 % 17 != 0))
      val neu = packs(all)
      val ident = old.zip(neu).count { case (a, b) => a == b }
      val rewritten = old.zip(neu).count { case (a, b) => a != b }
      val firstChanged =
        if (rewritten > 0) old.zip(neu).indexWhere { case (a, b) => a != b }.toLong
        else if (neu.length > old.length) old.length.toLong
        else -1L
      src -> ((old.length.toLong, neu.length.toLong, ident.toLong,
        rewritten.toLong, firstChanged))
    }
    // registry: x124_pack_append
    val got = TextQueries.packAppend.run(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    got shouldBe expected
    // the invariance itself: at most ONE rewritten pack per source (the
    // old trailing partial), and every other old pack byte-identical
    got.values.foreach { case (nOld, nNew, nIdent, nRewr, first) =>
      nNew should be >= nOld
      nRewr should be <= 1L
      nIdent shouldBe nOld - nRewr
      if (nRewr == 1L) first shouldBe nOld - 1 // the trailing partial pack
    }
    // non-vacuity on the shipped corpus: appends actually arrive and
    // full packs actually survive
    got.values.map(_._4).sum should be > 0L
    got.values.map(_._3).sum should be > 0L

    // exactly-full tail edge: gen-0 tokens ≡ 0 (mod 512) → ZERO rewrites,
    // the first change is the first brand-new pack
    import spark.implicits._
    val oldDocs = (1L to 4L).map(i => (i, "s", ("w" + i + " ") * 256)) // 1024 = 2 full packs
    val newDoc = Seq((17L, "s", "fresh " * 10))
    val edge = TextQueries.packAppendOf(
      (oldDocs ++ newDoc).toDF("doc_id", "source", "text")
        .select("source", "doc_id", "text")).collect().head
    edge.getLong(1) shouldBe 2L // n_packs_old
    edge.getLong(2) shouldBe 3L // n_packs_new
    edge.getLong(3) shouldBe 2L // both full packs survive
    edge.getLong(4) shouldBe 0L // nothing rewritten
    edge.getLong(5) shouldBe 2L // first change = the new pack
  }

  // registry: x125_pack_decontaminate (packDecontaminateOf is the query's
  // engine with an injectable frame; value gate = DuckDB oracle at both SFs)
  test("x125 detects an eval gram that exists ONLY across a doc boundary inside a pack") {
    import spark.implicits._
    def hex(id: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // pick two train-split ids and one test-split id by x31's md5 rule,
    // then assign texts by PLACEMENT order (md5 asc) so doc A ends "u v"
    // and its pack neighbor B starts "w x y" — the eval gram "u v w x y"
    // exists in NO single training document, only in the packed stream
    val trainIds = (1L to 200L).filter(id => hex(id).head <= 'd')
    val testId = (1L to 200L).find(id => hex(id).head > 'd').get
    val Seq(a, b) = trainIds.take(2).sortBy(id => (hex(id), id))
    val docsDf = Seq(
      (a, "s", "fa fb u v"),
      (b, "s", "w x y fc fd"),
      (testId, "s", "zz u v w x y qq")).toDF("doc_id", "source", "text")
    val rows = TextQueries.packDecontaminateOf(
      docsDf.select("source", "doc_id", "text")).collect()
    rows.length shouldBe 1
    val r = rows.head
    (r.getString(0), r.getLong(1)) shouldBe ("s", 0L)
    r.getLong(2) shouldBe 1L // exactly the engineered hit
    r.getLong(3) shouldBe 1L // ...and it IS boundary-crossing
    r.getString(4) shouldBe "u v w x y"
    // doc-level decontamination provably cannot see it
    Seq("fa fb u v", "w x y fc fd").foreach(_ should not include "u v w x y")

    // control: the same gram INSIDE one doc reports a hit with NO boundary
    // flag (single-doc pack → no interior span starts at all)
    val solo = Seq(
      (a, "s", "fa u v w x y fb"),
      (testId, "s", "zz u v w x y qq")).toDF("doc_id", "source", "text")
    val sr = TextQueries.packDecontaminateOf(
      solo.select("source", "doc_id", "text")).collect()
    sr.length shouldBe 1
    sr.head.getLong(2) shouldBe 1L
    sr.head.getLong(3) shouldBe 0L
  }

  test("x130 pack quality ≡ x112's spans rolled up under x64's flags; conservation both ways") {
    // registry: x130_pack_quality
    val out = TextQueries.packQuality.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // ground truth from two ALREADY replay-verified queries: x112's span
    // manifest and x64's per-doc gate flags
    val spans = TextQueries.packSpans.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4))) // source, pack, doc, span_len
    val pass = TextQueries.textQualityGate.run(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(9)).toMap
    val expected = spans.groupBy(s => (s._1, s._2)).map { case (k, ss) =>
      val real = ss.map(_._4).sum
      val bad = ss.collect { case (_, _, doc, len) if pass(doc) == 0 => len }.sum
      k -> ((ss.length.toLong, real, bad, bad * 1000000L / real))
    }
    out shouldBe expected
    // quality mass is conserved: Σ bad over packs = Σ span_len of failing
    // docs; and the table is non-vacuous in BOTH directions on the shipped
    // corpus (poisoned packs exist; so do clean ones)
    out.values.map(_._3).sum shouldBe
      spans.collect { case (_, _, doc, len) if pass(doc) == 0 => len }.sum
    out.values.count(_._3 > 0) should be > 0
    out.values.count(_._3 == 0) should be > 0
    out.values.foreach { case (_, real, bad, ppm) =>
      bad should be <= real
      ppm should be <= 1000000L
    }
  }

  test("x140 anneal schedule ≡ a driver cut replay over the x130 manifest; crossing pack overshoots") {
    // registry: x140_anneal_pack_order
    val sf = "/root/testdata/sf0.01"
    val dd = graft.Tables.documents(spark, sf)
    val got = TextQueries.annealPackOrderOf(dd)
      .orderBy("sched_offset", "source", "pack_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))

    // replay the eligibility + hash order + budget cut driver-side over
    // the ORACLE-CHECKED x130 manifest (one definition shared verbatim)
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val manifest = TextQueries.packQualityFrameOf(dd).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("pack_id"),
        r.getAs[Long]("n_real_tokens"), r.getAs[Long]("bad_ppm")))
    val eligible = manifest.filter(_._4 <= 200000L)
    eligible.length should be < manifest.length // the threshold really cuts
    val budget = eligible.map(_._3).sum / 2
    val ordered = eligible.sortBy { case (src, pid, _, _) =>
      val tie = s"$src:$pid"; (md5hex(tie), tie)
    }
    val offsets = ordered.scanLeft(0L)(_ + _._3)
    val expected = ordered.zip(offsets).collect {
      case ((src, pid, real, ppm), off) if off < budget =>
        (src, pid, off, real, ppm, budget)
    }.sortBy(t => (t._3, t._1, t._2))
    got.toSeq shouldBe expected.toSeq
    // the cut BINDS and the crossing pack overshoots by exactly one pack
    expected.length should be < eligible.length
    val lastEnd = expected.map(t => t._3 + t._4).max
    lastEnd should be >= budget // overshoot (or exact landing) — never undershoot
    got.map(_._3).toSeq shouldBe got.map(_._3).toSeq.sorted // offsets ascend
  }
}
