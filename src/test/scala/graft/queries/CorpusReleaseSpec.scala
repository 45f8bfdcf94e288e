package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

/** Gates for the corpus-release operators: x56 shard materialization
  * (permutation, contiguity, determinism, order decorrelation) and x57
  * datasheet rollup (super-aggregate consistency). */
class CorpusReleaseSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private val sf = "/root/testdata/sf0.01"

  test("x56 shards: exact permutation, contiguous positions, reproducible") {
    // registry: x56_corpus_shards
    val out = TextQueries.corpusShards.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val nDocs = graft.Tables.documents(spark, sf).count()
    out.length.toLong shouldBe nDocs
    out.map(_._1).distinct.length shouldBe out.length // every doc exactly once
    out.map(_._2).toSet.subsetOf((0 to 15).toSet) shouldBe true
    // positions are 1..n contiguous within every shard
    out.groupBy(_._2).values.foreach { s =>
      s.map(_._3).sorted shouldBe (1L to s.length.toLong)
    }
    // content-independent hash layout is run-to-run stable
    val again = TextQueries.corpusShards.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    again shouldBe out
    // decorrelation: consecutive input ids do NOT land in one shard
    val byDoc = out.map(r => r._1 -> r._2).toMap
    val ids = byDoc.keys.toSeq.sorted.take(32)
    ids.map(byDoc).distinct.length should be > 4
  }

  test("x59 release manifest: accounts for every gate-passing doc, dedups, splits, shards") {
    import org.apache.spark.sql.functions.{col, split, trim, size => asize}
    // registry: x59_release_manifest
    val out = TextQueries.releaseManifest.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3), r.getLong(4)))
    val nQual = graft.Tables.documents(spark, sf)
      .filter(asize(split(trim(col("text")), "\\s+")) >= 40).count()
    nQual should be < 500L // the gate actually drops docs on the shipped corpus
    out.map(_._2).sum shouldBe nQual // every surviving doc represented exactly once
    out.length.toLong should be < nQual // ...and the dedup stage actually collapses
    out.map(_._1).distinct.length shouldBe out.length
    // split = first md5 hex digit of the rep, shard = second: recompute per row
    def hex(id: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    out.foreach { case (id, _, split, shard, _) =>
      val h = hex(id)
      split shouldBe (if (h.head <= 'b') "train" else if (h.head <= 'd') "val" else "test")
      shard shouldBe Integer.parseInt(h.substring(1, 2), 16)
    }
    out.map(_._3).toSet shouldBe Set("train", "val", "test")
    out.map(_._4).toSet shouldBe (0 to 15).toSet // every split spans all shards overall
    out.groupBy(_._4).values.foreach { s => // contiguous loader positions per shard
      s.map(_._5).sorted shouldBe (1L to s.length.toLong)
    }
  }

  test("x108 keep-best manifest: same clusters/splits/shards as x59, only the shipped member moves") {
    // the SurvivorPolicy contract: switching policy is a one-argument
    // change that re-selects WITHIN clusters and never re-routes them
    val minId = TextQueries.releaseManifest.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3), r.getLong(4)))
    // registry: x108_release_manifest_keep_best
    val best = TextQueries.releaseManifestKeepBest.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getInt(5), r.getLong(6)))
    // identical cluster set with identical (n_docs, split, shard, pos) —
    // the keep-min-id keep_id IS the cluster label, so the join key aligns
    minId.map(r => (r._1, r._2, r._3, r._4, r._5)).sorted shouldBe
      best.map(r => (r._1, r._4, r._5, r._6, r._7)).sorted
    // the kept member is in the cluster's id range and at least as long as
    // the min-id member would have been
    val chars = graft.Tables.documents(spark, sf)
      .selectExpr("doc_id", "CAST(n_chars AS BIGINT)").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    best.foreach { case (rep, keepId, keepChars, _, _, _, _) =>
      keepId should be >= rep // rep is the cluster MIN id
      keepChars shouldBe chars(keepId)
      keepChars should be >= chars(rep)
    }
    // and the policy is non-vacuous on the shipped corpus: some cluster
    // ships a different (longer) member than min-id would
    val moved = best.count(r => r._2 != r._1)
    moved should be > 0
  }

  test("x57 datasheet: TOTAL row is the exact sum/rollup of the source rows") {
    // registry: x57_datasheet_rollup
    val rows = TextQueries.datasheetRollup.run(spark, sf).collect()
    val (total, per) = rows.partition(_.getString(0) == "TOTAL")
    total.length shouldBe 1
    per.length should be > 1
    val t = total.head
    t.getLong(1) shouldBe per.map(_.getLong(1)).sum // n_docs
    t.getLong(2) shouldBe per.map(_.getLong(2)).sum // n_tokens
    t.getLong(3) shouldBe per.map(_.getLong(3)).sum // n_chars
    // langs: the super-aggregate is a distinct over the union, so it is
    // bounded by the per-source max and the 5 shipped languages
    t.getLong(4) should be >= per.map(_.getLong(4)).max
    t.getLong(4) should be <= 5L
    t.getDouble(5) shouldBe (t.getLong(3).toDouble / t.getLong(1)) +- 1e-6
  }

  test("x116 funnel: stage counts are monotone, reconcile with x59, and every stage bites") {
    import org.apache.spark.sql.functions.{col, split, trim, size => asize}
    // columns: source, n_raw, tok_raw, n_qual, n_exact, n_final,
    //          tok_final, kept_ppm, tok_kept_ppm
    // registry: x116_curation_funnel
    val rows = TextQueries.curationFunnel.run(spark, sf).collect()
    rows should not be empty
    rows.foreach { r =>
      val (nRaw, nQual, nExact, nFinal) =
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))
      // each stage only ever drops docs FROM ITS OWN INPUT; attribution
      // moves survivors between sources only at the cluster stage, so
      // monotonicity holds through exact and can wobble only at final
      nQual should be <= nRaw
      nExact should be <= nQual
      r.getLong(6) should be <= r.getLong(2) // tok_final ≤ tok_raw
      r.getLong(7) shouldBe r.getLong(5) * 1000000L / r.getLong(1) // kept_ppm
      r.getLong(8) shouldBe r.getLong(6) * 1000000L / r.getLong(2)
      nFinal should be <= nExact // CC only merges exact-reps, never splits
    }
    // global reconciliation: totals match independent recomputes
    val docs = graft.Tables.documents(spark, sf)
    rows.map(_.getLong(1)).sum shouldBe docs.count()
    rows.map(_.getLong(3)).sum shouldBe
      docs.filter(asize(split(trim(col("text")), "\\s+")) >= 40).count()
    // n_final summed over sources = x59's cluster count (same chain)
    rows.map(_.getLong(5)).sum.toInt shouldBe
      TextQueries.releaseManifest.run(spark, sf).count().toInt
    // exact-stage drop ≡ an independent distinct-text recompute over the
    // gated docs (on the shipped corpus the planted exact dups are all
    // SHORT docs, so the gate removes them first and this drop is 0 —
    // the funnel must report that honestly, not invent a drop)
    val qualDocs = docs.filter(asize(split(trim(col("text")), "\\s+")) >= 40)
    rows.map(r => r.getLong(3) - r.getLong(4)).sum shouldBe
      qualDocs.count() - qualDocs.select("text").distinct().count()
    // non-vacuity: gate and near-dup stages drop something on the shipped corpus
    rows.map(r => r.getLong(1) - r.getLong(3)).sum should be > 0L // gate bites
    rows.map(r => r.getLong(4) - r.getLong(5)).sum should be > 0L // near-dup bites
  }

  test("x59/x116 release gate: 40 whitespace tokens pass, 39 fail, padding never counts") {
    import spark.implicits._
    // registry: x59_release_manifest x116_curation_funnel
    def doc(prefix: String, n: Int, pad: Boolean): String =
      if (pad) (1 to n).map(i => s"$prefix$i").mkString("  ", "  ", "  ")
      else (1 to n).map(i => s"$prefix$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("gate40").toString
    Seq((1L, doc("a", 40, pad = false)), (2L, doc("b", 39, pad = false)),
        (3L, doc("c", 40, pad = true)), (4L, doc("d", 39, pad = true)))
      .map { case (id, t) => (id, "web", "en", t, t.length.toLong) }
      .toDF("doc_id", "source", "lang", "text", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    TextQueries.releaseManifest.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((1L, 1L), (3L, 1L))
    TextQueries.curationFunnel.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3))) shouldBe Array(("web", 4L, 2L))
  }

  test("x118 shard balance: reconciles with x59, exact share arithmetic, deviations sum to ~0") {
    // columns: shard, n_clusters, n_docs_rep, n_tokens, tok_share_ppm, dev_ppm
    // registry: x118_shard_balance
    val rows = TextQueries.shardBalance.run(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val man = TextQueries.releaseManifest.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    rows.map(_._1).sorted shouldBe man.map(_._3).distinct.sorted // same shard set
    rows.map(_._2).sum shouldBe man.length.toLong // every cluster in one shard
    rows.map(_._3).sum shouldBe man.map(_._2).sum // represented docs conserve
    val tot = rows.map(_._4).sum
    rows.foreach { r =>
      r._5 shouldBe r._4 * 1000000L / tot
      r._6 shouldBe r._4 * 16000000L / tot - 1000000L
    }
    // floor-div makes each dev under-read by < 1 ppm-unit: the sum of true
    // deviations is exactly 0, so the floored sum sits in (-16, 0]
    val devSum = rows.map(_._6).sum
    devSum should be <= 0L
    devSum should be > -16L
    rows.map(_._6).exists(_ != 0L) shouldBe true // imbalance actually measured
  }

  test("x119 cluster-size histogram: conserves docs/clusters, buckets are true floor-log2") {
    // columns: bucket, floor_size, n_clusters, n_docs, max_size, doc_share_ppm
    // registry: x119_cluster_size_hist
    val rows = TextQueries.clusterSizeHist.run(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // registry: x51_dedup_apply
    val clusters = TextQueries.dedupApply.run(spark, sf).collect()
      .map(r => r.getLong(1)) // x51's per-cluster doc counts, same chain
    rows.map(_._3).sum shouldBe clusters.length.toLong
    rows.map(_._4).sum shouldBe clusters.sum
    rows.foreach { r =>
      r._2 shouldBe (1L << r._1) // floor_size = 2^bucket
      r._5 should be >= r._2 // max size inside [2^b, 2^(b+1))
      r._5 should be < r._2 * 2
      r._6 shouldBe r._4 * 1000000L / clusters.sum
    }
    // recompute the bucketing driver-side from x51's sizes
    val expected = clusters.groupBy(n => 63 - java.lang.Long.numberOfLeadingZeros(n))
      .map { case (b, g) => b.toInt -> ((g.length.toLong, g.sum, g.max)) }
    rows.map(r => r._1 -> ((r._3, r._4, r._5))).toMap shouldBe expected
    rows.length should be > 1 // singletons AND real clusters both present
  }

  test("x134 bridge: gate→dedup→quota→pack replays exactly on a hand-built fixture") {
    import spark.implicits._
    // registry: x134_release_pack_bridge
    // Gate-passing doc: "the a" (2 stop hits) + n-2 DISTINCT 5-char tokens
    // per prefix (disjoint vocabularies across prefixes, so no accidental
    // near-dups) → n_words = n, mean_wlen = (4 + 5(n-2))/n ∈ [4.0, 5.0]
    // for every n used here, dup_bigram_frac = 0.
    def passDoc(prefix: String, n: Int): String =
      "the a " + (1 to n - 2).map(i => f"$prefix$i%04d").mkString(" ")
    val dup600 = passDoc("p", 600)
    val fixture = Seq(
      (1L, "a", dup600),                                  // survivor candidate
      (2L, "a", dup600),                                  // EXACT dup of 1
      (3L, "a", dup600.dropRight(5) + "zzzzz"),           // NEAR dup of 1 (J≈0.99)
      (4L, "a", passDoc("q", 30)),                        // unique survivor
      (5L, "a", "the a " + (1 to 8).map(i => s"u$i").mkString(" ")), // gate fail: 10 words
      (6L, "a", (1 to 30).map(i => f"v$i%04d").mkString(" ")),       // gate fail: no stops
      (9L, "a", passDoc("r", 800)),                       // big survivor (forces a CUT)
      (7L, "b", passDoc("s", 25)),
      (8L, "b", passDoc("t", 26))
    ).toDF("doc_id", "source", "text")

    // FROM-SCRATCH REPLAY of the whole composition, driver-side:
    // survivors after gate + exact collapse + near-dup CC are {1, 4, 9}
    // (2 exact-dups 1, 3 near-dups 1, 5/6 fail the gate) and {7, 8}
    val surv = Map("a" -> Seq((1L, 600L), (4L, 30L), (9L, 800L)),
                   "b" -> Seq((7L, 25L), (8L, 26L)))
    val masses = surv.view.mapValues(_.map(_._2).sum).toMap // a→1430, b→51
    val budget = masses.values.sum / 2 // integer div, as both engines
    // Σ√m folded in ASCENDING order — the engines' array_sort/list_sort move
    val sumSqrt = masses.values.toSeq.map(m => math.sqrt(m.toDouble))
      .sorted.foldLeft(0.0)(_ + _)
    def quota(m: Long): Long =
      math.floor(budget * math.sqrt(m.toDouble) / sumSqrt).toLong
    def md5hex(id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = surv.toSeq.flatMap { case (src, docs) =>
      val q = quota(masses(src))
      // kept = overshoot-by-one prefix of the md5 order; cum_before is the
      // pack offset — the ONE shared prefix sum the bridge exists to prove
      var cum = 0L
      val spans = docs.sortBy { case (id, _) => (md5hex(id), id) }.flatMap {
        case (_, n) =>
          val keep = cum < q
          val spanRows = if (keep) {
            (cum / 512 to (cum + n - 1) / 512).map { p =>
              p -> (math.min(cum + n, (p + 1) * 512) - math.max(cum, p * 512))
            }
          } else Seq.empty
          if (keep) cum += n
          spanRows
      }
      spans.groupBy(_._1).toSeq.map { case (p, g) =>
        (src, p, q, g.length.toLong, g.map(_._2).sum)
      }
    }.sortBy(r => (r._1, r._2))
    // the replay must itself exercise every stage: a real cut (source a
    // drops docs 4 and 1), a multi-pack source, and a multi-span pack
    expected.filter(_._1 == "a").map(_._5).sum should be < masses("a")
    expected.count(_._1 == "a") should be > 1
    expected.exists(_._4 > 1) shouldBe true

    val out = TextQueries.releasePackBridgeOf(fixture).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    out shouldBe expected
    // every non-final pack tiles to exactly 512 real tokens
    out.groupBy(_._1).values.foreach { packs =>
      packs.map(_._2).sorted shouldBe (0L until packs.length.toLong)
      packs.sortBy(_._2).init.foreach(_._5 shouldBe 512L)
    }
  }
}
