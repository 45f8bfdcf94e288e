package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

/** Edge cases the sf testdata never hits: the x09 fingerprint path on docs
  * shorter than the shingle width (the `size(toks) >= 3` guard — without it
  * Spark's `sequence(1, n-2)` would COUNT DOWN for n<3 and fabricate
  * shingles). */
class TextQueriesEdgeSpec extends AnyFunSuite with Matchers with SparkTestBase {

  test("x09 fingerprints: sub-shingle-width docs get null min/max, md5 still set") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("docs-edge").toString
    Seq((1L, "solo"), (2L, "two tokens"), (3L, "now three tokens"), (4L, "a b c d"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    // registry: x09_text_fingerprint
    val rows = TextQueries.textFingerprint.run(spark, dir).collect()
    rows.length shouldBe 4
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    // every doc gets the exact-dup key
    byId(1).getString(1) should fullyMatch regex "[0-9a-f]{32}"
    // <3 tokens → no shingles → null sketch columns (not fabricated values)
    byId(1).isNullAt(2) shouldBe true
    byId(2).isNullAt(3) shouldBe true
    // ≥3 tokens → both present; 3-token doc has exactly one shingle
    byId(3).getString(2) shouldBe byId(3).getString(3)
    byId(4).getString(2) should not be null
    byId(4).getString(3) should not be null
  }

  test("exact collapse: a forced (hash, length) collision is NOT merged") {
    import spark.implicits._
    // two DIFFERENT texts of equal length, hashed with a constant column —
    // the worst case the 16-byte shuffle key can produce. The in-group
    // exact confirm (text stays in the grouping key) must keep them apart;
    // true duplicates must still collapse.
    val docsDf = Seq(
      (1L, "payload aa"), (2L, "payload bb"), // colliding non-duplicates
      (3L, "payload aa")                      // true duplicate of 1
    ).toDF("doc_id", "text")
    val out = TextQueries
      .exactCollapseBy(docsDf, org.apache.spark.sql.functions.lit(0L))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    out shouldBe Set(("payload aa", 1L, 2L), ("payload bb", 2L, 1L))
  }

  test("x110 vocab: the 16th slot breaks a count tie in token order; OOV mass exact") {
    import spark.implicits._
    // t01..t15 appear twice globally, t16/t17/t18 once each: the last vocab
    // slot is a three-way count tie that must resolve in token order → t16
    // in, t17/t18 out. srcA holds only vocab tokens; srcB carries the OOV.
    val t15 = (1 to 15).map(i => f"t$i%02d").mkString(" ")
    val dd = Seq(
      ("srcA", s"$t15 t16"),
      ("srcB", s"$t15 t17 t18")).toDF("source", "text")
    val out = TextQueries.vocabCoverageOf(dd).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    out("srcA") shouldBe ((16L, 16L, 0L, 1.0))
    out("srcB") shouldBe ((17L, 15L, 2L, 0.882353)) // ROUND(15/17, 6)
  }

  test("x111 boilerplate: df counts DISTINCT docs per source; reconstruction in order") {
    import spark.implicits._
    val b = (1 to 8).map(i => s"b$i").mkString(" ")
    val c8 = (1 to 8).map(i => s"c$i").mkString(" ")
    val dd = Seq(
      (1L, "A", s"$b u1 u2"), // shares its first chunk with docs 2 and 4
      (2L, "A", s"$b v1"),
      (3L, "B", b),           // same chunk but sole doc in B → df=1 → kept
      (4L, "A", b),           // nothing but boilerplate → stripped to ""
      (5L, "C", s"$c8 $c8")   // repeated within ONE doc → df=1 → both kept
    ).toDF("doc_id", "source", "text")
    val out = TextQueries.boilerStripOf(dd).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    out(1L) shouldBe ((2, 1, "u1 u2"))
    out(2L) shouldBe ((2, 1, "v1"))
    out(3L) shouldBe ((1, 0, b))
    out(4L) shouldBe ((1, 1, ""))
    out(5L) shouldBe ((2, 0, s"$c8 $c8"))
  }

  test("x111 on the shipped corpus: boiler-free docs reconstruct verbatim; strips exist") {
    val d = "/root/testdata/sf0.001"
    val original = graft.Tables.documents(spark, d).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // registry: x111_boiler_strip
    val rows = TextQueries.boilerStrip.run(spark, d).collect()
    rows.map(_.getLong(0)).toSet shouldBe original.keySet // every doc, exactly once
    rows.count(_.getInt(2) > 0) should be > 0 // the dup family forces real strips
    rows.foreach { r =>
      val (docId, nChunks, nBoiler, clean) =
        (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))
      nBoiler should be <= nChunks
      if (nBoiler == 0) clean shouldBe original(docId)
      // kept text is always a chunk-subsequence: token mass never grows
      clean.split(" ").count(_.nonEmpty) should
        be <= original(docId).split(" ").count(_.nonEmpty)
    }
  }

  test("exact collapse matches the naive GROUP BY text on the shipped corpus") {
    val d = "/root/testdata/sf0.001"
    val naive = graft.Tables.documents(spark, d)
      .groupBy("text")
      .agg(org.apache.spark.sql.functions.min("doc_id").as("keep_id"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_copies"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val keyed = TextQueries.exactCollapse(graft.Tables.documents(spark, d))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    keyed shouldBe naive
    keyed should not be empty
  }

  test("x62 lm score ≡ driver-side bigram-model recomputation; discriminates") {
    val sf = "/root/testdata/sf0.01"
    // registry: x62_text_lm_score
    val out = TextQueries.textLmScore.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val texts = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    val bigrams = texts.flatMap { case (id, t) =>
      val w = t.split(" ", -1); w.indices.drop(1).map(i => (id, w(i - 1), w(i)))
    }
    val c2 = bigrams.groupBy(b => (b._2, b._3)).view.mapValues(_.length.toLong).toMap
    val c1 = bigrams.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val expected = bigrams.groupBy(_._1).map { case (id, bs) =>
      val fs = bs.map { case (_, w1, w2) =>
        math.floor(c2((w1, w2)).toDouble / c1(w1) * 1e6).toLong
      }
      // raw IEEE quotient, unrounded — ROUND(x,6) on an exact-integer
      // quotient is itself engine-divergent (the x94 lesson; one sf0.1
      // row proved it for this query in round 11)
      (id, bs.length.toLong, fs.sum.toDouble / bs.length / 1e6)
    }.toSeq.sortBy(_._1)
    out.toSeq shouldBe expected
    out.length shouldBe 500
    // the score separates docs (a constant score would gate nothing)
    out.map(_._3).distinct.length should be > 100
  }

  test("x63 bpe pairs ≡ driver-side recomputation over the word-frequency table") {
    val sf = "/root/testdata/sf0.01"
    // registry: x63_bpe_pairs
    val out = TextQueries.bpePairs.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val words = graft.Tables.documents(spark, sf)
      .select("text").collect().flatMap(_.getString(0).split(" ", -1))
    val wc = words.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val pc = wc.toSeq.flatMap { case (w, c) =>
      (0 until w.length - 1).map(i => w.substring(i, i + 2) -> c)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val expected = pc.toSeq.sortBy { case (p, c) => (-c, p) }.take(20)
      .zipWithIndex.map { case ((p, c), i) => (p, c, i + 1) }
    out.toSeq shouldBe expected
    out.length shouldBe 20
    out.map(_._2).toSeq.sliding(2).foreach { w => w.head should be >= w.last }
  }

  test("x64 quality gate ≡ driver-side recomputation; every rule non-vacuous") {
    val sf = "/root/testdata/sf0.01"
    // registry: x64_quality_gate
    val out = TextQueries.textQualityGate.run(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3),
        r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7), r.getInt(8), r.getInt(9))))
      .toMap
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    out.size shouldBe docs.length
    docs.foreach { case (id, text) =>
      val w = text.split(" ", -1)
      val nWords = w.length
      // raw IEEE quotients — the engine ships them unrounded (x62 lesson)
      val meanWlen = w.map(_.length).sum.toDouble / nWords
      val stopHits = w.count(t => t == "the" || t == "a")
      val bigrams = w.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val frac = if (nWords < 2) 0.0
        else 1.0 - bigrams.distinct.length.toDouble / (nWords - 1)
      val rl = if (nWords >= 25 && nWords <= 5000) 1 else 0
      val rw = if (meanWlen >= 4.0 && meanWlen <= 5.0) 1 else 0
      val rr = if (frac <= 0.08) 1 else 0
      val rs = if (stopHits >= 2) 1 else 0
      out(id) shouldBe ((nWords, meanWlen, frac, stopHits, rl, rw, rr, rs,
        rl * rw * rr * rs))
    }
    // each rule both passes and fails real docs — a vacuous rule gates nothing
    val flags = out.values.toSeq
    Seq[((Int, Double, Double, Int, Int, Int, Int, Int, Int)) => Int](
      _._5, _._6, _._7, _._8, _._9).foreach { f =>
      flags.map(f).min shouldBe 0
      flags.map(f).max shouldBe 1
    }
  }

  test("x66 calibration ≡ driver-side recomposition of the x62 score and x64 gate") {
    val sf = "/root/testdata/sf0.01"
    // registry: x66_score_calibration
    val out = TextQueries.scoreGateCalibration.run(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    // both inputs are independently driver-verified by their own specs —
    // here they are trusted and the COMPOSITION is what's recomputed
    val score = TextQueries.textLmScore.run(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val pass = TextQueries.textQualityGate.run(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(9)).toMap
    val j = score.toSeq.map { case (id, s) => (s, pass(id)) }
    // PERCENTILE_CONT interpolation, the same arithmetic both engines use
    val sorted = j.map(_._1).sorted
    val bounds = (1 to 9).map { i =>
      val idx = i / 10.0 * (sorted.length - 1)
      val lo = idx.toInt
      val frac = idx - lo
      if (lo + 1 < sorted.length) sorted(lo) + frac * (sorted(lo + 1) - sorted(lo))
      else sorted(lo)
    }
    val expected = j.groupBy { case (s, _) => 1 + bounds.count(s > _) }
      .toSeq.map { case (dec, rows) =>
        val n = rows.length.toLong
        val np = rows.map(_._2).sum.toLong
        (dec, n, np, np.toDouble / n,
          rows.map(_._1).min, rows.map(_._1).max)
      }.sortBy(_._1)
    out.toSeq shouldBe expected
    // structural invariants + the table actually discriminates
    out.map(_._1).toSeq shouldBe (1 to 10)
    out.map(_._2).sum shouldBe score.size.toLong
    out.sliding(2).foreach { w => w.head._6 should be <= w.last._5 }
    (out.map(_._4).max - out.map(_._4).min) should be > 0.0
  }

  test("x80 sparse cosine ≡ brute force over the df-capped space; hot tokens pair nothing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("docs-sparse").toString
    // every doc carries the stopword "the" (df = 13 > cap → pruned), a
    // unique df=1 term (pruned), and a shared rare term; doc 13 bridges
    // two groups for a cosine < 1 case
    val corpus = (1 to 12).map(i => (i.toLong, s"the t$i common${i % 3}")) :+
      (13L, "the t13 common0 common1")
    corpus.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")

    // driver-side brute force with the query's exact rules
    val bow = corpus.map { case (id, t) => id -> t.split(" ").distinct.toSet }.toMap
    val df = bow.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val nDocs = corpus.size
    val w = df.collect {
      case (t, f) if f >= 2 && (f <= 10 || f * 10 <= nDocs) => t -> (1000000L / f)
    }
    def kept(id: Long) = bow(id).filter(w.contains)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ids = corpus.map(_._1)
    val expected = (for {
      a <- ids; b <- ids if a < b
      shared = kept(a) & kept(b) if shared.nonEmpty
    } yield {
      val dot = shared.toSeq.map(t => w(t) * w(t)).sum
      def nrm(id: Long) = math.sqrt(kept(id).toSeq.map(t => w(t) * w(t)).sum.toDouble)
      (a, b) -> (shared.size.toLong, r6(dot.toDouble / (nrm(a) * nrm(b))))
    }).toMap

    // registry: x80_sparse_cosine
    val gotByName = TextQueries.sparseCosine.run(spark, dir)
      .select("doc_a", "doc_b", "n_shared", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    gotByName shouldBe expected
    // the stopword never manufactured a pair: groups only touch via doc 13
    gotByName.keys.foreach { case (a, b) =>
      assert((kept(a) & kept(b)).nonEmpty)
    }
    // non-vacuity: identical-BoW pairs at cos 1.0 AND a partial overlap < 1
    gotByName.values.map(_._2).toSet should contain(1.0)
    gotByName.values.map(_._2).exists(c => c > 0 && c < 1) shouldBe true
  }

  test("x99 bpe merges ≡ an imperative 3-step BPE trainer on the same corpus") {
    val sf = "/root/testdata/sf0.001"
    val out = TextQueries.bpeMerges.run(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))

    // imperative replay: vocab as symbol sequences, 3 greedy merge rounds
    var vocab: Map[Vector[String], Long] = graft.Tables.documents(spark, sf)
      .select("text").collect()
      .flatMap(_.getString(0).trim.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, g) =>
        w.map(_.toString).toVector -> g.length.toLong
      }
    val merges = (1 to 3).map { step =>
      val pc = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      vocab.foreach { case (ss, n) =>
        ss.indices.dropRight(1).foreach(i => pc((ss(i), ss(i + 1))) += n)
      }
      val ((l, r), c) = pc.minBy { case ((l, r), c) => (-c, l, r) }
      vocab = vocab.map { case (ss, n) =>
        val b = Vector.newBuilder[String]
        var i = 0
        while (i < ss.length) { // greedy left-to-right, non-overlapping
          if (i + 1 < ss.length && ss(i) == l && ss(i + 1) == r) { b += l + r; i += 2 }
          else { b += ss(i); i += 1 }
        }
        b.result() -> n
      }.groupBy(_._1).map { case (k, g) => k -> g.map(_._2).sum }
      (step, l, r, c)
    }
    out.toSeq shouldBe merges
  }

  test("x99 bpe merges: a later merge consumes an earlier merged symbol; ties break lexicographically") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpe-edge").toString
    // aaab/aaac: step 1 must merge (a,a) (count 4N); the rewritten " aa a b "
    // then makes (aa,a) the 2N winner — a pair whose LEFT SIDE only exists
    // because of merge 1 — and step 3 is an exact (aaa,b)/(aaa,c) tie that
    // the (lhs, rhs) ascending rule must resolve to b
    val n = 5L
    (1L to 2 * n).map(i => (i, if (i <= n) "aaab" else "aaac"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val out = TextQueries.bpeMerges.run(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    out.toSeq shouldBe Seq(
      (1, "a", "a", 4 * n), (2, "aa", "a", 2 * n), (3, "aaa", "b", n))
  }

  test("x99 merge is greedy symbol-wise, not string replace: back-to-back pair occurrences both merge") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpe-greedy").toString
    // 'aaaa' must rewrite to [aa, aa] under merge (a,a) — a string replace on
    // the spaced form yields [aa, a, a] because consecutive occurrences share
    // their boundary space. Step 3's winner (aa, aa) with count 3 EXISTS ONLY
    // under the greedy rewrite: it is the adjacency the replace form destroys.
    // Same for 'abab' under merge (a,b) at step 2 (count 4 = 2 docs × 2
    // disjoint occurrences, boundary-sharing in string form).
    Seq((1L, "aaaa abab"), (2L, "aaaa aaaa"), (3L, "abab hello"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val out = TextQueries.bpeMerges.run(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    out.toSeq shouldBe Seq((1, "a", "a", 9L), (2, "a", "b", 4L), (3, "aa", "aa", 3L))
  }

  test("x103 encode applies the learned merges in order with the greedy scan (hand-pinned)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpe-encode").toString
    // merges learned on this corpus: (a,a), (a,b), (aa,aa) — see the x99
    // greedy test. Encode: 'aaaa' -> m1 [aa,aa] -> m3 [aaaa]; 'abab' -> m2
    // [ab,ab]; 'hello' -> untouched chars.
    Seq((1L, "aaaa abab"), (2L, "aaaa aaaa"), (3L, "abab hello"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    // registry: x103_bpe_encode
    val out = TextQueries.bpeEncode.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    out.toSeq shouldBe Seq(
      (1L, 3L, "aaaa ab ab"),
      (2L, 2L, "aaaa aaaa"),
      (3L, 7L, "ab ab h e l l o"))
  }

  test("x106 PII scan/redact: hand-pinned adversarial spans (overlap, 5-octet, digit boundaries)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pii-edge").toString
    // ids chosen so only 7/77/1001 hit the planting residues (7 | 7·11 | 7·11·13)
    Seq(
      (1L, "reach me at a.b-c_d@ex-ample.co.uk ok"),
      (2L, "ip 1.2.3.4.5 here"),
      (3L, "call 123-456-7890 or 1234-567-8901"),
      (4L, "a 1.2.3.4@x.io b"),
      (7L, "hello"),
      (77L, "x"),
      (1001L, "y"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // registry: x106_pii_redact
    val out = TextQueries.piiRedact.run(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getLong(5))).toMap
    // (n_emails, n_phones, n_ips, expected REDACTED text)
    val expected = Map(
      // greedy domain takes the multi-label tail; trailing word excluded
      1L -> (1L, 0L, 0L, "reach me at <EMAIL> ok"),
      // a 5-octet run redacts its first 4 octets (\b holds at the 4th digit)
      2L -> (0L, 0L, 1L, "ip <IP>.5 here"),
      // 4-digit leading group can't match \d{3}- and digits deny \b inside
      3L -> (0L, 1L, 0L, "call <PHONE> or 1234-567-8901"),
      // overlap: counts scan the RAW text (both email and IP see their
      // span); redaction order email-first means the IP pass finds nothing
      4L -> (1L, 0L, 1L, "a <EMAIL> b"),
      7L -> (1L, 0L, 0L, "hello contact <EMAIL> now"),
      77L -> (1L, 0L, 1L, "x contact <EMAIL> now from <IP> logged"),
      1001L -> (1L, 1L, 1L, "y contact <EMAIL> now from <IP> logged call <PHONE> soon"))
    out.keySet shouldBe expected.keySet
    expected.foreach { case (id, (e, p, i, clean)) =>
      withClue(s"doc $id: ") {
        out(id) shouldBe ((e, p, i, md5hex(clean), clean.length.toLong))
      }
    }
  }

  test("x103 encode ≡ imperative train-then-encode replay on the sf corpus") {
    val sf = "/root/testdata/sf0.001"
    // imperative replay: train 3 merges (greedy, count desc / (lhs, rhs) asc
    // tie-break), then encode every doc word by word in merge order
    val texts = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    var vocab: Map[Vector[String], Long] = texts
      .flatMap(_._2.trim.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, g) =>
        w.map(_.toString).toVector -> g.length.toLong
      }
    def mergeGreedy(ss: Vector[String], l: String, r: String): Vector[String] = {
      val b = Vector.newBuilder[String]
      var i = 0
      while (i < ss.length) {
        if (i + 1 < ss.length && ss(i) == l && ss(i + 1) == r) { b += l + r; i += 2 }
        else { b += ss(i); i += 1 }
      }
      b.result()
    }
    val merges = (1 to 3).map { _ =>
      val pc = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      vocab.foreach { case (ss, n) =>
        ss.indices.dropRight(1).foreach(i => pc((ss(i), ss(i + 1))) += n)
      }
      val ((l, r), _) = pc.minBy { case ((l, r), c) => (-c, l, r) }
      vocab = vocab.map { case (ss, n) => mergeGreedy(ss, l, r) -> n }
        .groupBy(_._1).map { case (k, g) => k -> g.map(_._2).sum }
      (l, r)
    }
    val expected = texts.map { case (id, t) =>
      val toks = t.trim.split("\\s+").filter(_.nonEmpty).toVector.flatMap { w =>
        merges.foldLeft(w.map(_.toString).toVector) { case (ss, (l, r)) => mergeGreedy(ss, l, r) }
      }
      (id, toks.length.toLong, toks.take(8).mkString(" "))
    }.sortBy(_._1).toSeq
    val out = TextQueries.bpeEncode.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    out shouldBe expected
  }

  test("x117 confusion matrix ≡ x08's per-doc predictions aggregated; rows conserve") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.01"
    // the two queries must run ONE scoring chain: aggregate x08's
    // oracle-checked per-doc output against the labels and compare cells
    val labels = graft.Tables.documents(spark, sf)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // registry: x08_text_langid
    val expected = TextQueries.textLangid.run(spark, sf).collect()
      .map(r => (labels(r.getLong(0)), r.getString(1)))
      .groupBy(identity).map { case ((l, p), g) => (l, p) -> g.length.toLong }
    // registry: x117_langid_confusion
    val rows = TextQueries.langidConfusion.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    rows.map(r => (r._1, r._2) -> r._3).toMap shouldBe expected
    // conservation + exact ppm arithmetic per row
    rows.map(_._3).sum shouldBe labels.size.toLong
    rows.groupBy(_._1).foreach { case (_, cells) =>
      val tot = cells.head._4
      cells.map(_._3).sum shouldBe tot
      cells.foreach { c => c._5 shouldBe c._3 * 1000000L / tot }
      // floor-div shares under-count by at most (cells-1) ppm units
      val s = cells.map(_._5).sum
      s should be <= 1000000L
      s should be > 1000000L - cells.length.toLong
    }
    // non-vacuity: the table must expose BOTH a diagonal hit and a miss
    rows.exists(r => r._1 == r._2) shouldBe true
    rows.exists(r => r._1 != r._2) shouldBe true
  }

  test("x123 fertility ≡ x103's tokens and x06's words aggregated by lang; fertility ≥ 1000") {
    val sf = "/root/testdata/sf0.01"
    val langs = graft.Tables.documents(spark, sf)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // token conservation: x123's per-lang token mass is exactly x103's
    // oracle-checked per-doc encode aggregated by label — one encode chain
    val tokByLang = TextQueries.bpeEncode.run(spark, sf).collect()
      .map(r => langs(r.getLong(0)) -> r.getLong(1))
      .groupBy(_._1).map { case (l, g) => l -> g.map(_._2).sum }
    // word conservation: x06's oracle-checked whitespace token counts
    // registry: x06_text_tokens
    val wordsByLang = TextQueries.textTokens.run(spark, sf).collect()
      .map(r => langs(r.getLong(0)) -> r.getInt(2).toLong)
      .groupBy(_._1).map { case (l, g) => l -> g.map(_._2).sum }
    // registry: x123_bpe_fertility
    val rows = TextQueries.bpeFertility.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    rows.map(r => r._1 -> r._4).toMap shouldBe tokByLang
    rows.map(r => r._1 -> r._3).toMap shouldBe wordsByLang
    rows.map(r => r._1 -> r._2).toMap shouldBe
      langs.groupBy(_._2).map { case (l, g) => l -> g.size.toLong }
    rows.foreach { case (_, _, nWords, nToks, fert) =>
      fert shouldBe nToks * 1000L / nWords // exact floor-div arithmetic
      // BPE never merges across word boundaries: a word is >= 1 token
      nToks should be >= nWords
      fert should be >= 1000L
    }
  }

  // ---- from-scratch replays for the curation scalar queries (sf0.001) ----

  private lazy val corpus: Array[(Long, String)] =
    graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Spark's round(col, 6) on DoubleType. */
  private def r6d(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  test("x07_text_quality ≡ driver-side character accounting on every doc") {
    val sf = "/root/testdata/sf0.001"
    val out = TextQueries.textQuality.run(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    out.size shouldBe corpus.length
    corpus.foreach { case (id, text) =>
      val len = text.length.toDouble
      val alpha = text.count(c => c >= 'a' && c <= 'z') / len
      val spaces = text.count(_ == ' ')
      val nTokens = text.trim.split("\\s+").length // "" splits to [""], size 1 — Spark agrees
      val (a, s, m) = out(id)
      withClue(s"doc $id: ") {
        a shouldBe alpha
        s shouldBe spaces / len
        m shouldBe (len - spaces) / nTokens
      }
    }
  }

  test("x30_text_rag_chunks ≡ driver-side stride-16/width-32 windowing (trailing partials kept)") {
    val sf = "/root/testdata/sf0.001"
    val out = TextQueries.textRagChunks.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getInt(2), r.getString(3)))).toMap
    val expected = corpus.flatMap { case (id, text) =>
      val toks = text.split(" ", -1)
      (0 to (toks.length - 1) / 16).map { ci =>
        (id, ci) -> ((math.min(32, toks.length - ci * 16),
          toks.slice(ci * 16, ci * 16 + 32).mkString(" ")))
      }
    }.toMap
    out shouldBe expected
    // non-vacuous both ways: multi-chunk docs exist and partials exist
    out.keys.count(_._2 > 0) should be > 0
    out.values.count(_._1 < 32) should be > 0
  }

  test("x31_text_split_assign ≡ the md5 first-hex-digit rule, and the shares are sane") {
    // registry: x31_text_split_assign
    val sf = "/root/testdata/sf0.001"
    val out = TextQueries.textSplitAssign.run(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.size shouldBe corpus.length
    corpus.foreach { case (id, _) =>
      val h1 = md5hex(id.toString).head
      val want = if (h1 <= 'b') "train" else if (h1 <= 'd') "val" else "test"
      withClue(s"doc $id (md5 head '$h1'): ") { out(id) shouldBe want }
    }
    // all three splits materialize even at 500 docs (3/4 - 1/8 - 1/8)
    out.values.toSet shouldBe Set("train", "val", "test")
  }

  test("x35_text_decontaminate ≡ a driver-side 5-gram set intersection over the md5 splits") {
    // registry: x35_text_decontaminate
    val sf = "/root/testdata/sf0.001"
    val out = TextQueries.textDecontaminate.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getString(3)))).toMap
    val grams = corpus.map { case (id, text) =>
      val toks = text.split(" ", -1)
      val g = if (toks.length >= 5)
        (0 to toks.length - 5).map(i => toks.slice(i, i + 5).mkString(" ")).toSet
      else Set.empty[String]
      (id, if (md5hex(id.toString).head <= 'd') "train" else "test", g)
    }
    val expected = (for {
      (a, sa, ga) <- grams if sa == "train"
      (b, sb, gb) <- grams if sb == "test"
      shared = ga & gb if shared.nonEmpty
    } yield (a, b) -> ((shared.size.toLong, shared.min))).toMap
    out shouldBe expected
    out should not be empty // the shipped corpus carries real overlap
  }

  test("x128_mixture_temperature ≡ a driver-side √n flattening; the recipe invariants hold") {
    val sf = "/root/testdata/sf0.001"
    val out = TextQueries.mixtureTemperature.run(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5)))).toMap
    val perSource = graft.Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => r.getString(0) -> r.getString(1).trim.split("\\s+").length.toLong)
      .groupBy(_._1).map { case (s, g) => s -> g.map(_._2).sum }
    out.keySet shouldBe perSource.keySet
    val total = perSource.values.sum
    // the one order-sensitive reduction is pinned by sorting first — replay it
    val sumSqrt = perSource.values.map(n => math.sqrt(n.toDouble)).toSeq.sorted.sum
    perSource.foreach { case (src, n) =>
      val (nt, natPpm, w, quota, up) = out(src)
      val sq = math.sqrt(n.toDouble)
      withClue(s"$src: ") {
        nt shouldBe n
        natPpm shouldBe n * 1000000L / total
        w shouldBe r6d(sq / sumSqrt)
        quota shouldBe math.floor(1000000000L * sq / sumSqrt).toLong
        up shouldBe r6d(sq / sumSqrt * total / n)
      }
    }
    // recipe invariants: weights form a distribution; flattening REALLY
    // flattens (the token-poorest source is upsampled, the richest
    // downsampled); quotas never oversubscribe the budget
    out.values.map(_._3).sum shouldBe 1.0 +- 1e-5
    val poorest = perSource.minBy(_._2)._1
    val richest = perSource.maxBy(_._2)._1
    out(poorest)._5 should be > 1.0
    out(richest)._5 should be < 1.0
    out.values.map(_._4).sum should be <= 1000000000L
  }

  test("x129_gated_mixture ≡ x64's flags aggregated + the √-flattening; filter-then-flatten ≠ flatten") {
    val sf = "/root/testdata/sf0.001"
    val out = TextQueries.mixtureGated.run(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getDouble(6)))).toMap
    // ground truth from the ALREADY replay-verified x64 output + the corpus
    val flags = TextQueries.textQualityGate.run(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1).toLong, r.getInt(9)))).toMap
    val srcOf = graft.Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val per = srcOf.groupBy(_._2).map { case (src, docs) =>
      // keys is a SET — materialize to Seq BEFORE mapping, or docs with
      // identical (n_words, pass) silently collapse
      val fs = docs.keys.toSeq.map(flags)
      src -> ((fs.map(_._1).sum, fs.collect { case (n, p) if p == 1 => n }.sum))
    }
    out.keySet shouldBe per.keySet
    val totalGated = per.values.map(_._2).sum
    val sumSqrt = per.values.map(v => math.sqrt(v._2.toDouble)).toSeq.sorted.sum
    per.foreach { case (src, (n, g)) =>
      val (nt, ng, keepPpm, w, quota, up) = out(src)
      val sq = math.sqrt(g.toDouble)
      withClue(s"$src: ") {
        (nt, ng) shouldBe ((n, g))
        keepPpm shouldBe g * 1000000L / n
        w shouldBe (if (g == 0) 0.0 else r6d(sq / sumSqrt))
        quota shouldBe (if (g == 0) 0L else math.floor(1000000000L * sq / sumSqrt).toLong)
        up shouldBe (if (g == 0) 0.0 else r6d(sq / sumSqrt * totalGated / g))
      }
    }
    // the gate really cuts (some source keeps < 100% of its tokens), and
    // filter-then-flatten is NOT flatten: at least one source's weight
    // differs from its x128 (ungated) weight
    out.values.map(_._3).min should be < 1000000L
    // registry: x128_mixture_temperature — the ungated baseline compared here
    val ungated = TextQueries.mixtureTemperature.run(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    out.count { case (src, v) => math.abs(v._4 - ungated(src)) > 1e-6 } should be > 0
  }

  test("x131_score_auc ≡ an exact driver-side Mann-Whitney fold over the verified score and gate") {
    val sf = "/root/testdata/sf0.001"
    // ground truth from two ALREADY replay-verified outputs
    val scores = TextQueries.textLmScore.run(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("lm_score"))).toMap
    val pass = TextQueries.textQualityGate.run(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(9)).toMap
    val joined = scores.keys.toSeq.filter(pass.contains)
      .map(id => (scores(id), pass(id)))
    // exact midrank fold in 2× units: rank2(v) = 2·cum_before + cnt + 1
    val byScore = joined.groupBy(_._1).toSeq.sortBy(_._1)
    var cum = 0L; var rank2 = 0L; var nPos = 0L; var nNeg = 0L
    byScore.foreach { case (_, g) =>
      val cnt = g.size.toLong
      val pos = g.count(_._2 == 1).toLong
      rank2 += pos * (2 * cum + cnt + 1)
      cum += cnt; nPos += pos; nNeg += cnt - pos
    }
    val u2 = rank2 - nPos * (nPos + 1)

    val out = TextQueries.scoreAuc.run(spark, sf).collect()
    out.length shouldBe 1
    val r = out.head
    r.getLong(0) shouldBe nPos
    r.getLong(1) shouldBe nNeg
    r.getLong(2) shouldBe u2
    r.getDouble(3) shouldBe u2.toDouble / (2.0 * nPos * nNeg)
    // a meaningful statistic, not a degenerate one: both classes present,
    // strictly inside (0, 1)
    nPos should be > 0L
    nNeg should be > 0L
    r.getDouble(3) should (be > 0.0 and be < 1.0)
  }

  test("x132_token_spectrum ≡ a numberOfLeadingZeros bucket replay (independent floor-log2)") {
    val sf = "/root/testdata/sf0.001"
    val out = TextQueries.tokenSpectrum.run(spark, sf).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    // independent ground truth: plain Scala frequency map; bucketing via
    // numberOfLeadingZeros, NOT the query's CASE ladder — two different
    // floor-log2 implementations must agree on every boundary
    val freq = corpus.toSeq.flatMap(_._2.split(" ", -1))
      .groupBy(identity).map { case (_, g) => g.size.toLong }
    def bucket(n: Long): Int = math.min(20, 63 - java.lang.Long.numberOfLeadingZeros(n))
    val total = freq.sum
    val expected = freq.groupBy(bucket).map { case (b, fs) =>
      b -> ((1L << b, fs.size.toLong, fs.sum, fs.max, fs.sum * 1000000L / total))
    }
    out shouldBe expected
    // spectrum invariants: mass conserves, the head bucket holds the
    // corpus's most frequent type, and a real corpus spans several octaves
    out.values.map(_._3).sum shouldBe total
    out.values.map(_._5).sum should be <= 1000000L
    out(out.keys.max)._4 shouldBe freq.max
    // the tiny sf0.001 corpus spans 2 octaves (sf0.01 spans more); the
    // replay above is exact either way
    out.size should be >= 2
  }

  test("x47_text_edit_distance ≡ a driver-side Levenshtein DP on the 80-char prefixes") {
    // registry: x47_text_edit_distance
    val sf = "/root/testdata/sf0.001"
    def lev(a: String, b: String): Int = {
      val prev = Array.range(0, b.length + 1)
      for (i <- 1 to a.length) {
        var diag = prev(0); prev(0) = i
        for (j <- 1 to b.length) {
          val t = prev(j)
          prev(j) = math.min(math.min(prev(j) + 1, prev(j - 1) + 1),
            diag + (if (a(i - 1) == b(j - 1)) 0 else 1))
          diag = t
        }
      }
      prev(b.length)
    }
    val byId = corpus.toMap
    val out = TextQueries.textEditDistance.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getInt(2), r.getDouble(3)))).toMap
    val expected = corpus.collect { case (id, ta) if byId.contains(id + 1) =>
      val a = ta.take(80); val b = byId(id + 1).take(80)
      val d = lev(a, b)
      (id, id + 1) -> ((d, r6d(1.0 - d.toDouble / math.max(a.length, b.length))))
    }.toMap
    out shouldBe expected
    out should not be empty
    // non-degenerate: real distances, not all-zero or all-max
    out.values.map(_._1).toSet.size should be > 1
  }

  test("x135 ppl buckets: tertile crossovers, boundary ties stay together, empty bucket survives") {
    // registry: x135_ppl_buckets
    import spark.implicits._
    // lang zz: 4 copies of a text whose (c,·) context is diluted by the
    // other group, 2 copies of a rarer continuation — the 4-way score tie
    // must land in ONE bucket and one bucket must come out empty
    val zz = (1L to 4L).map(i => (i, "zz", "c a a c a")) ++
      (5L to 6L).map(i => (i, "zz", "c b"))
    // lang aa: 9 docs with strictly increasing scores (repetition ladder)
    // → clean 3/3/3 tertiles
    val aa = (10L to 18L).map { i =>
      val rep = (i - 9).toInt
      (i, "aa", (("m n " * rep) + s"t$i s$i").trim)
    }
    val dd = (zz ++ aa).toDF("doc_id", "lang", "text")
    val got = TextQueries.pplBucketsOf(dd).orderBy("lang", "bucket").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))

    // independent driver replay of the whole rule from the raw texts:
    // corpus bigram model → floor-ppm f → integer score → value-crossover
    // tertile thresholds → bucket rollup
    val raw = (zz ++ aa)
    val bigrams = raw.flatMap { case (id, lang, t) =>
      t.split(" ").toSeq.sliding(2).filter(_.length == 2)
        .map(p => (id, lang, p.head, p(1))).toSeq
    }
    val c2 = bigrams.groupBy(b => (b._3, b._4)).view.mapValues(_.size).toMap
    val c1 = bigrams.groupBy(_._3).view.mapValues(_.size).toMap
    val sco = bigrams.groupBy(b => (b._1, b._2)).map { case ((id, lang), bs) =>
      val fs = bs.map(b => math.floor(c2((b._3, b._4)).toDouble / c1(b._3) * 1e6).toLong)
      (id, lang, bs.size.toLong, fs.sum / bs.size) // sum_f div n_trans
    }.toSeq
    val expected = sco.groupBy(_._2).flatMap { case (lang, ds) =>
      val byScore = ds.groupBy(_._4).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
      val tot = ds.size.toLong
      val cums = byScore.scanLeft(0L)(_ + _._2).tail
      val t1 = byScore.zip(cums).collectFirst { case ((s0, _), c) if c * 3 >= tot => s0 }.get
      val t2 = byScore.zip(cums).collectFirst { case ((s0, _), c) if c * 3 >= 2L * tot => s0 }.get
      ds.groupBy(d => if (d._4 <= t1) "tail" else if (d._4 <= t2) "middle" else "head")
        .map { case (b, xs) =>
          (lang, b, xs.size.toLong, xs.map(_._3).sum, xs.map(_._4).min, xs.map(_._4).max,
            xs.map(_._4).sum.toDouble / xs.size)
        }
    }.toSeq.sortBy(t => (t._1, t._2))
    got.map(t => (t._1, t._2, t._3, t._4, t._5, t._6)).toSeq shouldBe
      expected.map(t => (t._1, t._2, t._3, t._4, t._5, t._6))
    got.map(_._7).zip(expected.map(_._7)).foreach { case (g, e) =>
      g shouldBe (e +- 1e-6)
    }
    // the engineered shapes actually happened: aa is a clean 3/3/3 split;
    // zz has exactly two buckets with the 4-way tie together in one
    got.filter(_._1 == "aa").map(t => (t._2, t._3)).toSet shouldBe
      Set(("head", 3L), ("middle", 3L), ("tail", 3L))
    val zzBuckets = got.filter(_._1 == "zz").map(t => (t._2, t._3)).toSet
    zzBuckets should have size 2
    zzBuckets.map(_._2) shouldBe Set(2L, 4L)
  }

  test("x137 anneal schedule ≡ a driver replay composed from the verified gate/score parts") {
    // registry: x137_anneal_schedule
    val sf = "/root/testdata/sf0.001"
    val dd = graft.Tables.documents(spark, sf)
    val got = TextQueries.annealSchedule.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap

    // replay: per-doc gate flags (x64, oracle-trusted) + x112-convention
    // mass, per-doc scores (x62, oracle-trusted), then the ENTIRE x137
    // composition — tertile thresholds, supplies, quotas, repeats — in
    // plain Scala
    val meta = dd.collect().map { r =>
      val id = r.getAs[Long]("doc_id")
      (id, r.getAs[String]("lang"), r.getAs[String]("source"),
        r.getAs[String]("text").trim.split("\\s+").length.toLong)
    }
    val pass = TextQueries.qualityGateOf(dd).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("pass")).toMap
    val scoreRows = TextQueries.lmScoreOf(dd.select("doc_id", "text")).collect()
      .map { r =>
        val n = r.getAs[Long]("n_trans")
        // reconstruct the integer score: lm_score = (sum_f / n) / 1e6
        // exactly, so sum_f = round(lm_score * n * 1e6) (integer-valued)
        val sumF = math.round(r.getAs[Double]("lm_score") * n * 1e6)
        r.getAs[Long]("doc_id") -> sumF / n
      }.toMap
    val byLang = meta.filter(m => scoreRows.contains(m._1)).groupBy(_._2)
    val t2 = byLang.map { case (lang, ms) =>
      val byScore = ms.map(m => scoreRows(m._1)).groupBy(identity)
        .view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
      val tot = ms.size.toLong
      val cums = byScore.scanLeft(0L)(_ + _._2).tail
      lang -> byScore.zip(cums)
        .collectFirst { case ((s0, _), c) if c * 3 >= 2L * tot => s0 }.get
    }
    val gatedBySrc = meta.groupBy(_._3).view.mapValues(
      _.collect { case (id, _, _, n) if pass(id) == 1 => n }.sum).toMap
    val headBySrc = meta.groupBy(_._3).view.mapValues(
      _.collect { case (id, lang, _, n)
        if pass(id) == 1 && scoreRows.get(id).exists(_ > t2(lang)) => n }.sum).toMap
    val sumSqrt = gatedBySrc.values.map(g => math.sqrt(g.toDouble)).toSeq.sorted.sum
    val totalHead = headBySrc.values.sum
    def r6(x: Double) = BigDecimal(java.math.BigDecimal.valueOf(x))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = gatedBySrc.keys.flatMap { src =>
      val g = gatedBySrc(src); val h = headBySrc(src)
      val mq = if (g == 0) 0L else math.floor(9e8 * math.sqrt(g.toDouble) / sumSqrt).toLong
      val aq = if (totalHead == 0) 0L else 100000000L * h / totalHead
      Seq(
        (src, "main") -> ((mq, g, if (g == 0) 0L else mq * 1000000L / g,
          if (g == 0) 0.0 else r6(math.sqrt(g.toDouble) / sumSqrt))),
        (src, "anneal") -> ((aq, h, if (h == 0) 0L else aq * 1000000L / h,
          if (totalHead == 0) 0.0 else r6(h.toDouble / totalHead))))
    }.toMap
    got shouldBe expected
    // non-vacuity on the shipped corpus: real head supply and real quotas
    headBySrc.values.sum should be > 0L
    got.values.map(_._1).count(_ > 0) should be > 10
  }

  test("x138 vocab migration ≡ composing the trusted x103 encode under both merge tables") {
    // registry: x138_vocab_migration
    val sf = "/root/testdata/sf0.001"
    val got = TextQueries.vocabMigration.run(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap

    // replay: encode every doc under the NEW table with the oracle-trusted
    // x103 transform, and under the OLD (2-merge prefix) table with the
    // same transform, then re-derive the datasheet driver-side
    val m3 = TextQueries.bpeMergeTable(spark, sf).cache()
    m3.count()
    val fullMerges = m3.collect().head.getString(0).split(" ")
    fullMerges should have length 6 // 3 learned pairs
    import spark.implicits._
    val m2 = Seq(fullMerges.take(4).mkString(" ")).toDF("merges")
    val dd = graft.Tables.documents(spark, sf)
    def enc(m: org.apache.spark.sql.DataFrame) =
      TextQueries.bpeEncodeDocs(dd.select("doc_id", "text"), m).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val t1 = enc(m2); val t2 = enc(m3)
    val srcOf = dd.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = t1.keys.toSeq.groupBy(srcOf).map { case (src, ids) =>
      // ids MUST be a Seq here: mapping a key-SET through t1 would collapse
      // equal token counts before the sum
      val v1 = ids.map(t1).sum; val v2 = ids.map(t2).sum
      src -> ((ids.size.toLong, v1, v2,
        if (v1 == 0) 0L else (v1 - v2) * 1000000L / v1,
        ids.count(id => t1(id) != t2(id)).toLong))
    }
    got shouldBe expected
    // the migration is non-vacuous on the shipped corpus: the third merge
    // really shortens encodes, and no source ever grows
    got.values.map(_._5).sum should be > 0L
    got.values.foreach { case (_, v1, v2, saved, _) =>
      v2 should be <= v1
      saved should be >= 0L
    }
  }

  test("x139 robust quality: crossover order statistics ≡ a driver sort replay; MAD from the re-keyed table") {
    // registry: x139_robust_quality
    import spark.implicits._
    // source sA: a heavy outlier that must move the MEAN but not the
    // median/MAD; sB: an even-count tie straddling the median crossover
    val mk = (id: Long, src: String, rep: Int, tag: String) =>
      (id, src, (("m n " * rep) + s"t$tag s$tag").trim)
    val dd = ((1L to 9L).map(i => mk(i, "sA", i.toInt, s"a$i")) ++
      (11L to 14L).map(i => mk(i, "sB", if (i <= 12) 2 else 7, s"b$i"))).toDF("doc_id", "source", "text")
    val got = TextQueries.robustQualityOf(dd).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))

    // independent replay: bigram model → integer scores (the x135 spec's
    // fold), then plain sorted-order crossovers in Scala
    val raw = dd.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val bigrams = raw.toSeq.flatMap { case (id, src, t) =>
      t.split(" ").toSeq.sliding(2).filter(_.length == 2)
        .map(p => (id, src, p.head, p(1))).toSeq
    }
    val c2 = bigrams.groupBy(b => (b._3, b._4)).view.mapValues(_.size).toMap
    val c1 = bigrams.groupBy(_._3).view.mapValues(_.size).toMap
    // .toSeq BEFORE the map: producing (src, score) PAIRS from a Map would
    // re-key by src and collapse every source to one doc
    val sco = bigrams.groupBy(b => (b._1, b._2)).toSeq.map { case ((_, src), bs) =>
      val fs = bs.map(b => math.floor(c2((b._3, b._4)).toDouble / c1(b._3) * 1e6).toLong)
      (src, fs.sum / bs.size)
    }
    def crossover(sorted: Seq[Long], mulCum: Long, mulTot: Long): Long = {
      val n = sorted.size.toLong
      sorted.zipWithIndex.collectFirst {
        case (v, i) if (i + 1) * mulCum >= n * mulTot => v
      }.get
    }
    val expected = sco.groupBy(_._1).map { case (src, xs) =>
      val s = xs.map(_._2).sorted
      val med = crossover(s, 2, 1)
      val devs = s.map(v => math.abs(v - med)).sorted
      (src, s.size.toLong, crossover(s, 10, 1), med, crossover(s, 10, 9),
        crossover(devs, 2, 1))
    }.toSeq.sortBy(_._1)
    got.toSeq shouldBe expected
    // the engineered shapes: sB's 2-2 tie puts the median on the LOWER
    // value (crossover rule), and its MAD equals half the gap's magnitude
    // distribution's lower median — recompute directly
    val sB = sco.filter(_._1 == "sB").map(_._2).sorted
    sB.toSet should have size 2 // two tied pairs
    got.find(_._1 == "sB").get._4 shouldBe sB.head // median = lower tie value
  }

  test("x141 doremi weights ≡ a driver replay from the verified score parts; hardest source upweighted") {
    import spark.implicits._
    // sP: fully predictable chains (every transition is forced → f = 10⁶
    // → hardness 0); sH: one context word fanning out to many successors
    // (f = 10⁶/fan-out → high hardness). A third tiny source exercises the
    // scoreable-docs-only contract (its 1-token doc carries no score and
    // must not contribute mass).
    val dd = Seq(
      (1L, "sP", "m n m n m n m n"),
      (2L, "sP", "m n m n"),
      (3L, "sH", "x a1 x b1 x c1"),
      (4L, "sH", "x a2 x b2 x c2"),
      (5L, "sT", "solo"), // 1 token: no transitions, excluded everywhere
      (6L, "sT", "x a3")
    ).toDF("doc_id", "source", "text")
    val got = TextQueries.doremiWeightsOf(dd).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))

    // independent replay: corpus bigram model → per-doc floor-ppm score →
    // per-source means → hardness-mass weights (the .toSeq-before-map
    // idiom per the replay-trap lesson)
    val raw = dd.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val bigrams = raw.toSeq.flatMap { case (id, src, t) =>
      t.split(" ").toSeq.sliding(2).filter(_.length == 2)
        .map(p => (id, src, p.head, p(1))).toSeq
    }
    val c2 = bigrams.groupBy(b => (b._3, b._4)).view.mapValues(_.size).toMap
    val c1 = bigrams.groupBy(_._3).view.mapValues(_.size).toMap
    val perDoc = bigrams.groupBy(b => (b._1, b._2)).toSeq.map { case ((id, src), bs) =>
      val fs = bs.map(b => math.floor(c2((b._3, b._4)).toDouble / c1(b._3) * 1e6).toLong)
      (id, src, fs.sum / bs.size)
    }
    val nTok = raw.toSeq.map(r => (r._1, r._3.trim.split("\\s+").length.toLong)).toMap
    val per = perDoc.groupBy(_._2).toSeq.map { case (src, ds) =>
      val mean = ds.map(_._3).sum / ds.size
      (src, ds.size.toLong, ds.map(d => nTok(d._1)).sum, mean,
        1000000L - mean)
    }
    val sumW = per.map(p => p._3 * p._5).sum
    val expected = per.map { case (src, n, mass, mean, hard) =>
      (src, n, mass, mean, hard, mass * hard / math.max(sumW / 1000000L, 1L))
    }.sortBy(_._1)
    got.toSeq shouldBe expected
    // the engineered shapes: sP is perfectly predictable (hardness 0, so
    // ZERO weight despite the largest mass), sH carries the bulk
    val bySrc = got.map(g => g._1 -> g).toMap
    bySrc("sP")._5 shouldBe 0L
    bySrc("sP")._6 shouldBe 0L
    bySrc("sH")._6 should be > bySrc("sT")._6
    // sT's mass counts only its scoreable doc (2 tokens), not the solo doc
    bySrc("sT")._2 shouldBe 1L
    bySrc("sT")._3 shouldBe 2L
  }

  test("x142 normalize fixpoint: stutter collapse, idempotence, and normalization-revealed dups (hand-pinned)") {
    import spark.implicits._
    val dd = Seq(
      (1L, "sA", "The  THE the cat"), // case + stutter + double space → "the cat"
      (2L, "sA", "the cat"),          // already normal; COLLIDES with doc 1's norm
      (3L, "sA", " padded  text "),   // trim + whitespace collapse only
      (4L, "sB", "clean doc")         // untouched source
    ).toDF("doc_id", "source", "text")
    val got = TextQueries.normalizeAuditOf(dd).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    got.toSeq shouldBe Seq(
      // sA: docs 1,3 changed; removed = (16-7) + (14-11) = 12; the second
      // application changes NOTHING (idempotent by construction); dedup
      // reveal: 3 raw texts but 2 normal forms
      ("sA", 3L, 2L, 12L, 0L, 3L, 2L),
      ("sB", 1L, 0L, 0L, 0L, 1L, 1L))
  }

  test("x143 truncation waste: the curve replays exactly on known lengths") {
    import spark.implicits._
    def doc(n: Int): String = (1 to n).map(i => s"t$i").mkString(" ")
    val dd = Seq(
      (1L, "sA", doc(10)), (2L, "sA", doc(100)), (3L, "sA", doc(300)),
      (4L, "sB", doc(2000))
    ).toDF("doc_id", "source", "text")
    val got = TextQueries.truncationWasteOf(dd).orderBy("source", "seq_len").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // sA mass 410: L=64 loses (100-64)+(300-64)=272; L=256 loses 44; L=1024 nothing
    // sB mass 2000: always the one doc, losing mass-L
    got.toSeq shouldBe Seq(
      ("sA", 64L, 2L, 272L, 272L * 1000000L / 410L),
      ("sA", 256L, 1L, 44L, 44L * 1000000L / 410L),
      ("sA", 1024L, 0L, 0L, 0L),
      ("sB", 64L, 1L, 1936L, 968000L),
      ("sB", 256L, 1L, 1744L, 872000L),
      ("sB", 1024L, 1L, 976L, 488000L))
  }

  test("x144 ngram novelty: exclusive vs shared bigram mass (hand-pinned)") {
    import spark.implicits._
    val dd = Seq(
      (1L, "sA", "p q p q"), // (p,q)×2 shared with sB; (q,p)×1 exclusive
      (2L, "sB", "p q z"),   // (p,q) shared; (q,z) exclusive
      (3L, "sC", "u v"),     // fully exclusive vocabulary
      (4L, "sC", "w")        // 1 token: no bigrams, must not crash or count
    ).toDF("doc_id", "source", "text")
    val got = TextQueries.ngramNoveltyOf(dd).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    got.toSeq shouldBe Seq(
      ("sA", 3L, 2L, 1L, 1L, 333333L),
      ("sB", 2L, 2L, 1L, 1L, 500000L),
      ("sC", 1L, 1L, 1L, 1L, 1000000L))
  }

  test("x146 repeat-decay allocation: water-filling saturates small sources exactly (hand-pinned) and spends the budget") {
    import spark.implicits._
    def doc(n: Int): String = (1 to n).map(i => s"t$i").mkString(" ")
    // supplies 10000 / 100 / 100 / 400 → B = 3.8·10600 = 40280. Sorted
    // saturation points 4√s: B,C at 40, D at 80, A at 400. Hand
    // water-filling: k=3 is the unique valid rung (λ = (40280−2400)/√10000
    // = 378.8 ∈ (80, 400]) → B, C, D saturate at 4 epochs; A takes the
    // rest: floor(378.8·100) = 37880
    val dd = Seq(
      (1L, "sA", doc(10000)),
      (2L, "sB", doc(100)),
      (3L, "sC", doc(100)),
      (4L, "sD", doc(400))
    ).toDF("doc_id", "source", "text")
    val got = TextQueries.repeatDecayOf(dd).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5)))
    got.toSeq shouldBe Seq(
      ("sA", 10000L, 40000L, 37880L, 3788000L, 0),
      ("sB", 100L, 400L, 400L, 4000000L, 1),
      ("sC", 100L, 400L, 400L, 4000000L, 1),
      ("sD", 400L, 1600L, 1600L, 4000000L, 1))
    // the budget is spent to within per-source floor slack
    val spent = got.map(_._4).sum
    val budget = 10600L * 38L / 10L
    spent should be <= budget
    spent should be > budget - got.length
    // no source ever exceeds the 4-epoch ceiling
    got.foreach(_._5 should be <= 4000000L)

    // and the no-skew regime: uniform sources → NOBODY saturates, shares
    // equalize (the √-flattening degenerates to proportional)
    val uni = (1L to 4L).map(i => (i, s"u$i", doc(500))).toDF("doc_id", "source", "text")
    val g2 = TextQueries.repeatDecayOf(uni).collect()
      .map(r => (r.getLong(3), r.getInt(5)))
    g2.foreach(_._2 shouldBe 0)
    g2.map(_._1).distinct.length shouldBe 1 // identical quotas by symmetry
  }

  test("x147 dup-quality link: a planted clique and gate-known singletons land in exact buckets; reconciles with x119 and x64") {
    import spark.implicits._
    // gate-PASSING 30-token text: 2 stop hits, mean wlen (3+1+28·5)/30 =
    // 4.8 ∈ [4,5], zero duplicate bigrams
    def pass30(prefix: String, last: String): String =
      "the a " + (1 to 27).map(i => f"${prefix}x$i%03d").mkString(" ") + " " + last
    val d1 = pass30("w", "alpha")
    val dd = Seq(
      (1L, d1),                    // clique: near-dup pair + exact copy
      (2L, d1),                    //   exact dup of 1
      (3L, pass30("w", "betaa")),  //   near-dup of 1 (last token differs)
      (4L, "tiny doc"),            // failing singleton
      (5L, pass30("n", "gamma"))   // passing singleton, disjoint vocab
    ).toDF("doc_id", "text")
    // dupQualityLink's engine body inlines the chain; drive it via the
    // registered query on a temp dir shaped like a testdata sf dir
    import org.apache.spark.sql.functions.{col, lit}
    val dir = java.nio.file.Files.createTempDirectory("x147").toString
    dd.withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")))
      .write.parquet(s"$dir/documents.parquet")
    val got = TextQueries.dupQualityLink.run(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    got.toSeq shouldBe Seq(
      (0, 1L, 2L, 2L, 1L, 500000L),  // two singletons, one passes
      (1, 2L, 1L, 3L, 3L, 1000000L)) // the size-3 clique, all passing
  }

  test("x147 reconciles with x119's histogram and x64's corpus pass count (same chain, same ladder)") {
    val d = "/root/testdata/sf0.001"
    // registry: x147_dup_quality_link / x119_cluster_size_hist
    val link = TextQueries.dupQualityLink.run(spark, d).collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val hist = TextQueries.clusterSizeHist.run(spark, d).collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getLong(3)))
    // identical chain + identical bucket ladder ⇒ identical cluster/doc
    // counts per bucket — the two tables cannot disagree about structure
    link.map(t => (t._1, t._2, t._3)).toSeq shouldBe hist.toSeq
    // the gate mass is conserved: Σ n_pass = x64's corpus pass count
    val gatePass = TextQueries.qualityGateOf(
      graft.Tables.documents(spark, d).select("doc_id", "text"))
      .agg(org.apache.spark.sql.functions.sum("pass")).head().getLong(0)
    link.map(_._4).sum shouldBe gatePass
    // and the ppm column is exactly its own definition
    link.foreach { case (_, _, nd, np, ppm) => ppm shouldBe np * 1000000L / nd }
  }

  test("x148 length-bias: medians and means replay from a driver bigram fold across engineered length buckets") {
    import spark.implicits._
    // bucket 2 (n_trans ∈ [4,8)): three 6-token docs; bucket 4 ([16,32)):
    // two 20-token docs — scores differ by construction (predictable vs
    // fanned-out transitions), so the median crossover has real work
    val dd = Seq(
      (1L, "m n m n m n"),             // forced transitions → f = 10⁶ each
      (2L, "x a1 x a2 x a3"),          // x fans out → low f on x→·
      (3L, "m n m n m n"),
      (4L, (1 to 10).map(_ => "p q").mkString(" ")), // 20 tokens, forced
      (5L, "x b1 x b2 x b3 x b4 x b5 x b6 x b7 x b8 x b9 x b10")
    ).toDF("doc_id", "text")
    val got = TextQueries.scoreLengthBiasOf(dd).orderBy("bucket").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))

    // independent replay (the x139/x141 fold): corpus bigram model →
    // per-doc floor-ppm scores → log2(n_trans) buckets → sorted-order
    // lower-median + integer mean
    val raw = dd.collect().map(r => (r.getLong(0), r.getString(1)))
    val bigrams = raw.toSeq.flatMap { case (id, t) =>
      t.split(" ").toSeq.sliding(2).filter(_.length == 2).map(p => (id, p.head, p(1))).toSeq
    }
    val c2 = bigrams.groupBy(b => (b._2, b._3)).view.mapValues(_.size).toMap
    val c1 = bigrams.groupBy(_._2).view.mapValues(_.size).toMap
    val perDoc = bigrams.groupBy(_._1).toSeq.map { case (_, bs) =>
      val fs = bs.map(b => math.floor(c2((b._2, b._3)).toDouble / c1(b._2) * 1e6).toLong)
      (bs.size.toLong, fs.sum / bs.size)
    }
    def bucketOf(n: Long): Int = (0 until 20).find(b => n < (2L << b)).getOrElse(20)
    val expected = perDoc.groupBy(d => bucketOf(d._1)).toSeq.map { case (bk, ds) =>
      val s = ds.map(_._2).sorted
      val med = s.zipWithIndex.collectFirst {
        case (v, i) if 2 * (i + 1) >= s.size => v
      }.get
      (bk, 1L << bk, ds.size.toLong, med, ds.map(_._2).sum / ds.size)
    }.sortBy(_._1)
    got.toSeq shouldBe expected
    // the engineered shape: both buckets exist and the short bucket's
    // median really is a crossover between two distinct score levels
    got.map(_._1).toSeq shouldBe Seq(2, 4)
  }

  test("x137 anneal-quota overflow guard: head_mass past Long.MaxValue/A raises instead of wrapping") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val A = 100000000L
    val bound = Long.MaxValue / A
    // in-range masses: the exact BIGINT arithmetic, untouched by the guard
    val ok = Seq((bound, bound), (1000L, 4000L)).toDF("head_mass", "total_head")
      .select(TextQueries.annealQuotaCol(A).as("q"))
      .collect().map(_.getLong(0))
    ok(0) shouldBe A // bound·A div bound = A exactly
    ok(1) shouldBe (A * 1000L) / 4000L
    // one past the bound: the guard must RAISE with the offending mass
    val e = intercept[Exception] {
      Seq((bound + 1L, bound + 1L)).toDF("head_mass", "total_head")
        .select(TextQueries.annealQuotaCol(A).as("q")).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    msgs should include("overflow")
    msgs should include((bound + 1L).toString) // names the mass, not just the rule
    // the deployment-dependence the guard removes: UNguarded, the failure
    // mode swings with spark.sql.ansi.enabled — a generic engine overflow
    // under ANSI (the Spark 4 default, measured here), a SILENT wrap to a
    // negative quota with ANSI off. The guard's domain error above fires
    // identically in both regimes.
    def raw = Seq((bound + 1L, bound + 1L)).toDF("head_mass", "total_head")
      .select(expr(s"CAST($A AS BIGINT) * head_mass div total_head").as("q"))
    intercept[Exception] { raw.collect() }.toString should include("ARITHMETIC_OVERFLOW")
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try raw.head().getLong(0) should be < 0L // the silent corruption x137's scaladoc warned about
    finally spark.conf.set("spark.sql.ansi.enabled", ansi)
    // ...and the guard still raises the SAME domain error with ANSI off
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try intercept[Exception] {
      Seq((bound + 1L, bound + 1L)).toDF("head_mass", "total_head")
        .select(TextQueries.annealQuotaCol(A).as("q")).collect()
    }.toString should include("overflow")
    finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("evalGramTable cardinality guard: an oversized benchmark fails at artifact build, not as a stream OOM") {
    import spark.implicits._
    val evalDocs = Seq((900L, "g1 g2 g3 g4 g5 g6")).toDF("doc_id", "text")
    // under the cap: the artifact is unchanged (both overlapping windows)
    TextQueries.evalGramTable(evalDocs).head().getSeq[String](0).toSet shouldBe
      Set("g1 g2 g3 g4 g5", "g2 g3 g4 g5 g6")
    // over a (deliberately tiny) cap: a clear size error naming the
    // cardinality and the remedy — raised BEFORE any collect_set runs
    val e = intercept[IllegalArgumentException] {
      TextQueries.evalGramTable(evalDocs, maxGrams = 1L)
    }
    e.getMessage should include("2 distinct 5-grams")
    e.getMessage should include("Bloom")
  }

  test("x137 zero branches: a gate-dead source and an empty head pool stay 0, never NULL/NaN") {
    import spark.implicits._
    // every doc fails the gate (too short) → gated = 0, head pool empty
    val dd = Seq(
      (1L, "xx", "sA", "tiny doc one"),
      (2L, "xx", "sB", "tiny doc two")
    ).toDF("doc_id", "lang", "source", "text")
    val out = TextQueries.annealScheduleOf(dd).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    out.keySet shouldBe Set(("sA", "main"), ("sA", "anneal"), ("sB", "main"), ("sB", "anneal"))
    out.values.foreach { case (q, s, rp, w) =>
      q shouldBe 0L; s shouldBe 0L; rp shouldBe 0L; w shouldBe 0.0
    }
  }

  test("*Of engines assume a unique doc_id: a duplicated id is pooled, then repeated per duplicate row") {
    // pplBucketsOf / doremiWeightsOf / annealScheduleOf document the
    // precondition instead of checking it (a check costs a job per call);
    // this pins what a violating frame yields, so a change is deliberate.
    // Rows: doc 1 "x a x a" (x→a, a→x, x→a), doc 2 "x b" (x→b), doc 3
    // "y z". Corpus model: f(x→a) = ⌊2/3·10⁶⌋, f(a→x) = f(y→z) = 10⁶,
    // f(x→b) = ⌊1/3·10⁶⌋ — the same in both frames.
    import spark.implicits._
    import org.apache.spark.sql.functions.sum
    val texts = Seq("x a x a", "x b", "y z")
    def frame(ids: Seq[Long]) = ids.zip(texts).map { case (id, t) => (id, "zz", "s", t) }
      .toDF("doc_id", "lang", "source", "text")
    val unique = frame(Seq(1L, 2L, 3L))
    val dup = frame(Seq(1L, 1L, 3L)) // doc 2 reuses id 1

    // x135: the duplicated id's 3 + 1 transitions pool into ONE score row
    // (n_trans 4), which the doc-keyed lang attach repeats for both rows
    def ppl(dd: org.apache.spark.sql.DataFrame) = TextQueries.pplBucketsOf(dd)
      .agg(sum("n_docs"), sum("n_trans")).head()
    val (pu, pd) = (ppl(unique), ppl(dup))
    (pu.getLong(0), pu.getLong(1)) shouldBe ((3L, 5L))
    (pd.getLong(0), pd.getLong(1)) shouldBe ((3L, 9L))

    // x141: both rows carry the pooled score ⌊(2333332 + 333333) / 4⌋ =
    // 666666 instead of their own 777777 and 333333, so the source mean
    // moves from 2111110 div 3 to 2333332 div 3; token mass stays per row
    def doremi(dd: org.apache.spark.sql.DataFrame) =
      TextQueries.doremiWeightsOf(dd.select("doc_id", "source", "text")).head()
    val (du, dq) = (doremi(unique), doremi(dup))
    (du.getLong(1), du.getLong(2), du.getLong(3)) shouldBe ((3L, 8L, 703703L))
    (dq.getLong(1), dq.getLong(2), dq.getLong(3)) shouldBe ((3L, 8L, 777777L))

    // x137 reads the same pooled score rows; its docs must pass the x64
    // gate (28 tokens, mean length 4.8, two stop words, no repeated bigram)
    def words(p: String, r: Range) = r.map(i => f"$p$i%03d")
    val gated = Seq(
      words("pa", 1 to 26), words("pb", 1 to 26), words("pa", 1 to 13) ++ words("pc", 1 to 13))
      .map(ws => ("the" +: "a" +: ws).mkString(" "))
    def annealFrame(ids: Seq[Long]) = ids.zip(gated).map { case (id, t) => (id, "zz", "s", t) }
      .toDF("doc_id", "lang", "source", "text")
    def supply(ids: Seq[Long]) = TextQueries.annealScheduleOf(annealFrame(ids)).collect()
      .map(r => r.getString(1) -> r.getLong(3)).toMap
    // unique ids: the pb doc alone scores above the upper tertile, so it is
    // the 28-token anneal head. Pooled with the pa doc, both rows share one
    // middling score, the head pool empties, and so does the anneal phase;
    // the gate-based main-phase supply (per input row) is unaffected
    supply(Seq(1L, 2L, 3L)) shouldBe Map("main" -> 84L, "anneal" -> 28L)
    supply(Seq(1L, 1L, 3L)) shouldBe Map("main" -> 84L, "anneal" -> 0L)
  }
}
