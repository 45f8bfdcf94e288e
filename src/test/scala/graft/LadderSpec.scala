package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Every [[Ladder]] mode at tiny size inside the test session: each emitted
  * line must parse as one JSON object carrying its documented keys, and
  * each mode's own equivalence checks (its `require`s, re-read here from
  * the line) must hold. The host probe is a free stub: calibration samples
  * are shape-checked, not timed. */
class LadderSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private val mapper = new ObjectMapper()

  /** Runs one mode; returns its lines parsed. */
  private def run(f: Ladder => Unit): Seq[JsonNode] = {
    val lines = ArrayBuffer.empty[String]
    f(new Ladder(spark, lines += _, _ => 0.0))
    lines.toSeq.map { l =>
      l should not include "\n"
      val node = mapper.readTree(l)
      node.isObject shouldBe true
      node
    }
  }

  private def keysOf(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet

  private def shouldCarry(n: JsonNode, keys: String*): Unit =
    withClue(s"$n: ") { keysOf(n) should contain allElementsOf keys }

  /** A committed sf0.01 table set (the benchmark's copy of the testdata). */
  private val sfDir = "src/bench/data"

  test("queries at factor 1: one min-of-3 line per prefix-matched registry query") {
    val out = run(_.run(Seq("queries", sfDir, "q10")))
    out.map(_.get("ladder").asText) shouldBe
      SparkEntry.defs.map(_.name).filter(_.startsWith("q10"))
    out.foreach { n =>
      shouldCarry(n, "ladder", "sec", "calibration_sec")
      n.get("sec").asDouble should be > 0.0
    }
  }

  test("queries: a failing query still prints its -1 line, then the run fails") {
    val empty = java.nio.file.Files.createTempDirectory("ladder-no-tables").toFile
    try {
      val lines = ArrayBuffer.empty[String]
      val e = intercept[IllegalArgumentException](
        new Ladder(spark, lines += _, _ => 0.0).run(Seq("queries", empty.getPath, "q10")))
      lines.map(mapper.readTree).map(n => n.get("ladder").asText -> n.get("sec").asDouble) shouldBe
        Seq("q10_median" -> -1.0)
      e.getMessage should include("q10_median")
    } finally empty.delete()
  }

  test("queries at factor 2: the Nx synth line, then 1x/Nx rungs with rows that scale") {
    val dir = new java.io.File(Ladder.scaledDir(sfDir, 2))
    try {
      val out = run(_.run(Seq("queries", sfDir, "--factor", "2", "q10_median")))
      out.map(_.get("ladder").asText) shouldBe Seq("synth", "q10_median")
      shouldCarry(out.head, "factor", "base", "dir", "sec", "calibration_sec")
      val q = out(1)
      shouldCarry(q, "sec_1x", "sec_2x", "rows_1x", "rows_2x", "linearity", "calibration_sec")
      q.get("sec_1x").asDouble should be > 0.0
      q.get("sec_2x").asDouble should be > 0.0
      // copies are id-shifted, so per-group medians are unchanged and the
      // output keeps its row count
      q.get("rows_2x").asLong shouldBe q.get("rows_1x").asLong
      // the Nx corpus sits where scaledDir says, for the next run to reuse
      out.head.get("dir").asText shouldBe dir.getPath
      new java.io.File(dir, "lineitem.parquet").exists() shouldBe true
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("the Nx text salt is a per-copy bijection that spares the stop words") {
    Ladder.permFor(0) shouldBe "abcdefghijklmnopqrstuvwxyz"
    val perms = (1 to 30).map(Ladder.permFor)
    perms.foreach(p => p.sorted shouldBe "abcdefghijklmnopqrstuvwxyz")
    perms.toSet should have size 30 // no rot-k cycle at 26 copies
  }

  test("nfl: DL -> MB on synthetic tracking, one line with the boundary counts") {
    val Seq(n) = run(_.run(Seq("nfl", "1", "3")))
    shouldCarry(n, "metric", "tracking_rows", "rushers_final", "blockers", "time_to_throw",
      "metric_sec", "downstream_sec")
    n.get("tracking_rows").asLong shouldBe 1L * 3 * 10 * 20
    n.get("rushers_final").asLong should be > 0L
    n.get("time_to_throw").asLong should be > 0L
  }

  test("ann: encode, artifact probe and SemDeDup stages") {
    val Seq(n) = run(_.run(Seq("ann", "2000")))
    shouldCarry(n, "soak", "n", "cells", "encode_sec", "probe_sec", "probe_rows",
      "semdedup_pairs_sec", "sem_rows", "sem_dups", "calibration_sec")
    n.get("n").asLong shouldBe 2000L
    n.get("sem_rows").asLong shouldBe 2000L
    n.get("probe_rows").asLong should be > 0L
    n.get("calibration_sec").size shouldBe 4
  }

  test("bpe: corpus and vocab ladders, then encode and train ladders") {
    val out = run(_.bpe(baseVocab = 40, baseOcc = 500L, ks = Seq(3, 30)))
    out.map(_.get("ladder").asText) shouldBe
      Seq.fill(3)("corpus") ++ Seq.fill(3)("vocab") ++ Seq("encode", "encode", "train", "train")
    out.take(6).foreach { n =>
      shouldCarry(n, "soak", "vocab", "occurrences", "merge3_sec", "calibration_sec")
      n.get("merge3_sec").asDouble should be > 0.0
    }
    out.slice(6, 8).foreach { n =>
      shouldCarry(n, "k", "n_docs", "per_doc_us_scan", "per_doc_us_heap",
        "spark_dispatch_sec", "calibration_sec")
      n.get("spark_dispatch_sec").asDouble should be > 0.0
    }
    out.drop(8).map(_.get("merges_learned").asInt) shouldBe Seq(3, 30)
    // `bpe encode` skips the corpus/vocab points
    run(_.bpe(encodeOnly = true, ks = Seq(3)))
      .map(_.get("ladder").asText) shouldBe Seq("encode", "train")
  }

  test("dedup: planted copies and chains are found by every stage") {
    val Seq(n) = run(_.run(Seq("dedup", "6", "3", "2")))
    try {
      shouldCarry(n, "metric", "docs", "base", "heap_gb", "copies", "chain_len",
        "build_sec", "pairs", "pairs_sec", "clusters", "max_cluster", "clustered_reps",
        "clusters_sec", "probe_hits", "probe_sec", "band_build_sec",
        "probe_bucketed_hits", "probe_bucketed_sec", "bloom_build_sec", "bloom_hits",
        "bloom_probe_sec", "pagerank_nodes", "pagerank_max_pr", "pagerank_sec",
        "sub_dup_docs", "sub_dup_sec", "sub_cut_tokens", "sub_cut_sec", "calibration_sec")
      n.get("docs").asLong shouldBe 6L * 5
      // exact copies collapse before signing: one rep per base plus its chain
      n.get("clustered_reps").asLong shouldBe 6L * (1 + 2)
      n.get("pairs").asLong should be > 0L
      // the bucketed probe answers exactly what the re-deriving probe does
      n.get("probe_bucketed_hits").asLong shouldBe n.get("probe_hits").asLong
      // every even batch row is an exact BoW copy of a corpus doc
      n.get("bloom_hits").asLong shouldBe 500L
    } finally spark.sql("DROP TABLE IF EXISTS soak_bands")
  }

  test("graph: both orientations agree, the hub and cliques are accounted") {
    val Seq(n) = run(_.run(Seq("graph", "1000", "40")))
    shouldCarry(n, "soak", "n_nodes", "hub_deg", "n_edges", "n_cliques",
      "degree_oriented_sec", "id_oriented_sec", "tally_mismatches", "hub_deg_seen",
      "hub_tri", "tri_participation_sum", "calibration_sec")
    n.get("tally_mismatches").asLong shouldBe 0L
    n.get("hub_deg_seen").asLong should be >= 40L
    // each triangle is counted once per corner; the 10 planted cliques add 4 each
    n.get("tri_participation_sum").asLong % 3 shouldBe 0L
    n.get("tri_participation_sum").asLong should be >= 3L * 4 * 10
  }

  test("maintenance: interval pair counts agree, merge line follows") {
    val out = run(_.run(Seq("maintenance", "500", "2000")))
    out.map(_.get("metric").asText) shouldBe Seq("interval_soak", "interval_soak", "merge_soak")
    out.take(2).foreach { n =>
      shouldCarry(n, "n", "pairs", "bucketed_sec", "naive_sec")
      n.get("pairs").asLong should be > 0L
    }
    shouldCarry(out(2), "snap_rows", "merged_rows", "scan_sec", "merge_sec")
    out(2).get("snap_rows").asLong shouldBe 20000000L
  }

  test("media: MIH and banded candidates both find every planted twin") {
    val Seq(n) = run(_.run(Seq("media", "3000")))
    shouldCarry(n, "soak", "n", "hashed", "hash_sec", "mih_pairs_sec", "mih_pairs",
      "mih_planted_hits", "banded_pairs_sec", "banded_pairs", "calibration_sec")
    n.get("hashed").asLong shouldBe 3003L
    n.get("mih_planted_hits").asLong shouldBe 3L
    n.get("banded_pairs").asLong should be <= n.get("mih_pairs").asLong
  }

  test("mixture: the bucketed cut keeps what the per-source window keeps") {
    val Seq(n) = run(_.run(Seq("mixture", "20000")))
    shouldCarry(n, "metric", "rows", "bucket_len", "est_bytes", "kept", "cut_sec",
      "naive_kept", "naive_sec", "calibration_sec")
    n.get("kept").asLong shouldBe n.get("naive_kept").asLong
    n.get("kept").asLong should be < 20000L
  }

  test("quantiles: both plans return one row per group") {
    val out = run(_.run(Seq("quantiles", "5000", "3", "50")))
    out.map(_.get("groups").asLong) shouldBe Seq(3L, 50L)
    out.foreach(n => shouldCarry(n, "metric", "rows", "parallel_sec", "builtin_sec"))
  }

  test("sparse: the df cap prunes the planted stopword's posting mass") {
    val Seq(n) = run(_.run(Seq("sparse", "500")))
    shouldCarry(n, "soak", "n", "vocab", "pairs_sec", "pairs", "kept_mass", "pruned_mass",
      "n_terms", "calibration_sec")
    n.get("pruned_mass").asLong should be >= 500L * 500L // 'the' is in every doc
  }

  test("an unknown mode names itself instead of running something") {
    val e = intercept[IllegalArgumentException](new Ladder(spark, _ => ()).run(Seq("nope")))
    e.getMessage should include("nope")
  }
}
