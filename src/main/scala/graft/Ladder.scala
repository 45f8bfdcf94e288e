package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.multimodal.Media
import graft.nfl.{NflPipeline, NflSynth}
import graft.operators.{IntervalJoin, MergeInto, PrefixQuota, Quantiles, Triangles}
import graft.queries.{QueryDef, SimilarityQueries, TextQueries}

/** The measurement runner: every documented scale point of the engine is a
  * mode of this one main, and every measurement is one JSON line on stdout.
  *
  * {{{
  * runMain graft.Ladder queries <sfDir> [--factor N] [prefix...]
  * runMain graft.Ladder nfl [games] [playsPerGame]
  * runMain graft.Ladder ann [n]
  * runMain graft.Ladder bpe [vocab] [occurrences]   |   bpe encode
  * runMain graft.Ladder dedup [nBase] [copies] [chainLen]
  * runMain graft.Ladder graph [nNodes] [hubDeg]
  * runMain graft.Ladder maintenance [intervalN...]
  * runMain graft.Ladder media [n]
  * runMain graft.Ladder mixture [nRows]
  * runMain graft.Ladder quantiles [rows] [groups...]
  * runMain graft.Ladder sparse [n]
  * }}}
  *
  * Each mode's scaladoc below gives its defaults and the claim it measures.
  * Soak lines carry `calibration_sec` host samples ([[Bench.calibrate]]):
  * this box swings ~6x under contention, so a row is only comparable across
  * runs when its calibration matches (see the PLANS.md noise note). The
  * built-in equivalence checks (`require`) fail the run AFTER the line is
  * printed, so a mismatching row is still on record.
  *
  * `calibrate` is the host probe; tests pass a free one so a tiny-size run
  * of every mode does not pay ~1 s per sample.
  */
final class Ladder(spark: SparkSession, emit: String => Unit,
    calibrate: SparkSession => Double = Bench.calibrate) {
  import Ladder._

  private def out(fields: (String, Any)*): Unit = emit(line(fields: _*))

  /** One soak line's calibration samples: an untimed JIT warm-up of the
    * calibration job itself, then one sample before the first stage. */
  private final class Samples {
    calibrate(spark)
    private val buf = ArrayBuffer(calibrate(spark))
    def take(): Unit = buf += calibrate(spark)
    def all: Seq[Double] = buf.toSeq
  }

  def run(args: Seq[String]): Unit = args match {
    case Seq("queries", sfDir, rest @ _*) =>
      val (factor, prefixes) = queryArgs(rest)
      queries(sfDir, factor, prefixes)
    case Seq("nfl", rest @ _*) =>
      nfl(rest.lift(0).fold(50)(_.toInt), rest.lift(1).fold(60)(_.toInt))
    case Seq("ann", rest @ _*) => ann(rest.lift(0).fold(200000L)(_.toLong))
    case Seq("bpe", "encode") => bpe(encodeOnly = true)
    case Seq("bpe", rest @ _*) =>
      bpe(rest.lift(0).fold(20000)(_.toInt), rest.lift(1).fold(1000000L)(_.toLong))
    case Seq("dedup", rest @ _*) =>
      dedup(rest.lift(0).fold(5000)(_.toInt), rest.lift(1).fold(10)(_.toInt),
        rest.lift(2).fold(6)(_.toInt))
    case Seq("graph", rest @ _*) =>
      graph(rest.lift(0).fold(200000)(_.toInt), rest.lift(1).fold(3000)(_.toInt))
    case Seq("maintenance", rest @ _*) =>
      maintenance(if (rest.nonEmpty) rest.map(_.toLong) else Seq(100000L, 400000L, 1600000L))
    case Seq("media", rest @ _*) => media(rest.lift(0).fold(100000L)(_.toLong))
    case Seq("mixture", rest @ _*) => mixture(rest.lift(0).fold(1000000)(_.toInt))
    case Seq("quantiles", rest @ _*) =>
      quantiles(rest.lift(0).fold(20000000L)(_.toLong),
        if (rest.length > 1) rest.drop(1).map(_.toLong) else Seq(3L, 1000L, 100000L, 1000000L))
    case Seq("sparse", rest @ _*) => sparse(rest.lift(0).fold(100000L)(_.toLong))
    case _ => throw new IllegalArgumentException(
      s"unknown Ladder mode: ${args.mkString(" ")}; see the graft.Ladder scaladoc")
  }

  /** `queries <sfDir> [--factor N] [prefix...]`: registry queries whose
    * names start with any prefix (no prefix: [[Ladder.hotQueries]]).
    *
    * At factor 1 each query reports its min-of-3 warm noop-sink time
    * (`sec`): the dev-loop pre-screen for a plan change, ~1 min on a few
    * prefixes (it caught the lmScoreCore checkpoint+count variant costing
    * x66 2.1 s -> 4.2 s before it shipped). Prefixes `q x` select every
    * registry query: the full sweep, whose total is the sum of `sec`.
    *
    * At factor N it is the >1x measured point (r10 verdict): an Nx corpus
    * is synthesized from `sfDir` ([[Ladder.synthesize]]) and each query
    * reports min-of-2 times and output rows at 1x and Nx plus the
    * time-ratio/N `linearity` figure (<= ~1 means at-most-linear; read it
    * against the line's calibration sample), so superlinear
    * growth is caught by measurement, not inferred from plan shape. An
    * already-synthesized corpus dir is reused (delete it to force a
    * rebuild), so iterating on the query list doesn't pay the synth.
    *
    * A query that fails records -1; once every line is printed the run
    * fails naming those queries, so a sweep with failures never exits 0. */
  def queries(sfDir: String, factor: Int, prefixes: Seq[String]): Unit = {
    val wanted = SparkEntry.defs.filter(q =>
      if (prefixes.isEmpty) hotQueries.contains(q.name) else prefixes.exists(q.name.startsWith))
    // untimed warm-up: one-time session costs (codegen compiler, parquet
    // footer cache, JIT) stay outside the per-query timings
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case NonFatal(_) => () }
    calibrate(spark)
    val scaled = if (factor > 1) Some(scaledDir(sfDir, factor)) else None
    scaled.foreach { dir =>
      val reused = new java.io.File(s"$dir/events.parquet").exists()
      val (synthSec, _) = time(if (!reused) synthesize(spark, sfDir, dir, factor))
      out("ladder" -> "synth", "factor" -> factor, "base" -> sfDir, "dir" -> dir,
        "sec" -> synthSec, "calibration_sec" -> calibrate(spark))
    }
    /** Min-of-2 noop-sink time plus output rows (rows from a separate
      * count so the timing runs stay pure noop sinks); -1 on failure. */
    def rung(q: QueryDef, dir: String): (Double, Long) = {
      val t = minNoop(2, s"${q.name} @ $dir")(q.run(spark, dir))
      (t, if (t < 0) -1L else try q.run(spark, dir).count() catch { case NonFatal(_) => -1L })
    }
    val failed = wanted.filter { q =>
      // Each rung measures ONE query on a quiet session: drop every cached
      // plan and persisted RDD the previous query left behind
      // (localCheckpoint blocks, notably). At 1x the leftovers are noise;
      // at 1000x they are gigabytes, and a multi-query ladder run was
      // measured dying of execution-memory starvation on queries that run
      // clean solo (round-14: x03 after x34/x50/q10).
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      scaled match {
        case None =>
          val t = minNoop(3, q.name)(q.run(spark, sfDir))
          out("ladder" -> q.name, "sec" -> t, "calibration_sec" -> calibrate(spark))
          t < 0
        case Some(dir) =>
          val (t1, r1) = rung(q, sfDir)
          val (tN, rN) = rung(q, dir)
          val lin = if (t1 > 0 && tN > 0) tN / (t1 * factor) else -1.0
          out("ladder" -> q.name, "sec_1x" -> t1, s"sec_${factor}x" -> tN,
            "rows_1x" -> r1, s"rows_${factor}x" -> rN, "linearity" -> lin,
            "calibration_sec" -> calibrate(spark))
          Seq(t1, tN, r1, rN).exists(_ < 0)
      }
    }
    require(failed.isEmpty, s"queries failed: ${failed.map(_.name).mkString(" ")}")
  }

  /** `nfl [games] [playsPerGame]`: the reference-parity pipeline itself
    * (the join/window workload the TPC-H-ish queries don't cover) on
    * distributedly generated tracking, DL -> MB end to end, under
    * [[NflPipeline.scaleConf]] (the session posture [[Ladder.main]] applies
    * for this mode). Defaults 50x60 = 3000 plays = 600k tracking rows;
    * 5000x60 ~ 60M rows for a soak. */
  def nfl(nGames: Int, playsPerGame: Int): Unit = {
    val pipeline = new NflPipeline(
      NflSynth.tracking(spark, nGames, playsPerGame),
      NflSynth.pff(spark, nGames, playsPerGame),
      NflSynth.plays(spark, nGames, playsPerGame),
      NflSynth.players(spark))
    val (tMetric, nFinal) = time(pipeline.rushersFinal.count())
    val (tRest, (nBlockers, nThrow)) =
      time((pipeline.blockersWithMetric.count(), pipeline.timeToThrow.count()))
    out("metric" -> "nfl_pipeline", "tracking_rows" -> nGames.toLong * playsPerGame * 10 * 20,
      "rushers_final" -> nFinal, "blockers" -> nBlockers, "time_to_throw" -> nThrow,
      "metric_sec" -> tMetric, "downstream_sec" -> tRest)
  }

  /** `ann [n]` (default 200,000 vectors): the embedding-side paths added in
    * round 10: the PQ encode -> artifact -> probe chain (x68's deployment
    * form) and the cell-scoped SemDeDup pair stage (x67's engine).
    * Embeddings are synthesized distributedly (pure column expressions over
    * `spark.range`: xxhash64-seeded floats in [-1, 1), no driver loops, no
    * RNG state), so the ladder isolates operator cost from generator cost.
    *
    *  - `encode_sec`: corpus -> pinned-codebook PQ codes -> parquet artifact
    *    (savePqIndex's write path). Row-local codegen argmins: must scale
    *    linearly with n.
    *  - `probe_sec`: 16-query ADC shortlist read from the ARTIFACT ONLY
    *    (pqShortlistFromIndex), the steady state every later session pays.
    *    Scan-shaped: linear in the (32x compressed) codes table, never
    *    touches raw vectors.
    *  - `semdedup_pairs_sec`: the x67 engine with cells scaled as
    *    k = n/[[Ladder.annCellTarget]], the production contract (SemDeDup's
    *    k ~ n/20k): cells stay ~annCellTarget rows, so within-cell pairwise
    *    work is sum |cell|^2 ~ n*annCellTarget/2, LINEAR in n. Cells come
    *    from a hash (uniform by construction; the plan is identical to the
    *    pinned-centroid assignment's); a KMeans assignment only changes the
    *    cell derivation expression, not the join/aggregate shape being
    *    soaked. Fixed k=16 on isotropic data would instead give |cell| ~
    *    n/16 and quadratic pair work, the scaladoc'd reason x67's pinned k
    *    is a test-scale artifact, re-verified by this ladder. */
  def ann(n: Long): Unit = {
    val dim = 64
    def vectors(ids: Column) = array((0 until dim).map(j =>
      ((pmod(xxhash64(ids, lit(j)), lit(2000000L)) - lit(1000000L)) / lit(1000000.0))
        .cast("float")): _*)
    val emb = spark.range(n).select(col("id").as("vec_id"), vectors(col("id")).as("embedding"))
      .persist()
    val nRows = emb.count()
    val cal = new Samples
    // one-time encode + artifact write (the savePqIndex form)
    val idx = java.nio.file.Files.createTempDirectory("ann-soak").toString + "/codes"
    val (tEncode, _) =
      time(graft.sources.Sinks.parquet(SimilarityQueries.pqCorpusCodes(emb), idx))
    cal.take()
    // steady-state ADC probe: 16 queries against the artifact alone
    val probes = spark.range(16).select((col("id") + lit(2000000000L)).as("q_id"),
      vectors(col("id") + 7919).as("q_emb"))
    val (tProbe, probeRows) =
      time(SimilarityQueries.pqShortlistFromIndex(spark, probes, idx).count())
    cal.take()
    // SemDeDup pair stage with bounded cells: k = n/annCellTarget
    val k = math.max(16L, nRows / annCellTarget)
    val (tSem, semStats) = time {
      val assigned = emb.withColumn("cell",
        pmod(xxhash64(col("vec_id"), lit(42)), lit(k)).cast("int"))
      val agg = SimilarityQueries.semanticDedupOf(assigned, tau = 0.5)
        .agg(count(lit(1)), sum("is_dup")).head()
      (agg.getLong(0), agg.getLong(1))
    }
    cal.take()
    out("soak" -> "ann", "n" -> nRows, "cells" -> k, "encode_sec" -> tEncode,
      "probe_sec" -> tProbe, "probe_rows" -> probeRows, "semdedup_pairs_sec" -> tSem,
      "sem_rows" -> semStats._1, "sem_dups" -> semStats._2, "calibration_sec" -> cal.all)
  }

  /** `bpe [vocab] [occurrences]` (defaults 20000, 1000000 for the ladder
    * base) separates the x99 BPE merge kernel's two cost axes:
    *
    *  - CORPUS ladder (vocab fixed, occurrences x4 per step): only the
    *    initial word-count stage sees more rows, so total time should grow
    *    far slower than the corpus: the iterations run on the DISTINCT-word
    *    vocabulary and never touch the corpus again.
    *  - VOCAB ladder (occurrences fixed, distinct words x4 per step): the
    *    iterations' own input grows, so time should track vocab roughly
    *    linearly, the honest cost axis of BPE training.
    *
    * Each point synthesizes documents.parquet in a temp dir (50 words/doc,
    * splitmix-derived 8-letter words: deterministic, collision-mixed across
    * the id space) and times the WHOLE 3-merge x99 query end to end.
    *
    * Then (and alone, for `bpe encode`) the ENCODE ladder (x103's
    * `graft_bpe_tokens` kernel) on the merge-count axis `ks`: a fixed
    * corpus of 2000 docs encoded with trained-shape k-merge tables,
    * timing the per-pass SCAN form, the heap-of-pairs form, and the shipped
    * dispatch end to end through Spark. The claim under test is the
    * production-scale one: heap per-doc cost is ~FLAT in k (the heap does
    * O(len log len) work regardless of table size) while the scan form
    * grows ~linearly in k; at a real 32k-merge vocab only the heap form is
    * viable, and the dispatch picks it. Last, the TRAIN-K ladder over the
    * same `ks`. */
  def bpe(baseVocab: Int = 20000, baseOcc: Long = 1000000L, encodeOnly: Boolean = false,
      ks: Seq[Int] = Seq(3, 300, 3000, 30000)): Unit = {
    def synth(vocab: Int, occurrences: Long): String = {
      val dir = java.nio.file.Files.createTempDirectory("bpe-soak").toString
      spark.range(occurrences / 50).map { d =>
        val toks = (0 until 50).map(k =>
          bpeWord(java.lang.Long.remainderUnsigned(mix64(d * 50 + k), vocab.toLong)))
        Doc(d, toks.mkString(" "))
      }(Encoders.product[Doc]).toDF()
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    def runPoint(tag: String, vocab: Int, occ: Long): Unit = {
      val dir = synth(vocab, occ)
      val calib0 = calibrate(spark)
      val sec = minNoop(1, s"bpe $tag")(TextQueries.bpeMerges.run(spark, dir))
      out("soak" -> "bpe", "ladder" -> tag, "vocab" -> vocab, "occurrences" -> occ,
        "merge3_sec" -> sec, "calibration_sec" -> Seq(calib0, calibrate(spark)))
    }
    calibrate(spark) // untimed JIT warm-up
    if (!encodeOnly) {
      Seq(1L, 4L, 16L).foreach(m => runPoint("corpus", baseVocab, baseOcc * m))
      Seq(1, 4, 16).foreach(m => runPoint("vocab", baseVocab * m, baseOcc * 4))
    }

    // ---- ENCODE ladder: per-doc cost vs merge count k ----
    val nDocs = 2000
    val encRnd = new scala.util.Random(20260814L)
    val alphabet = "aabbccd" // heavy repeats so deep merge chains fire
    val docs: Array[String] = Array.fill(nDocs)(
      Seq.fill(50)(Seq.fill(encRnd.nextInt(20) + 4)(
        alphabet(encRnd.nextInt(alphabet.length))).mkString).mkString(" "))
    val docsDf = spark.createDataset(
      docs.toIndexedSeq.zipWithIndex.map { case (t, i) => Doc(i.toLong, t) }
    )(Encoders.product[Doc]).toDF().repartition(spark.sparkContext.defaultParallelism).cache()
    docsDf.count()
    // k = 30000 is a real production vocab size: heap + dispatch only (the
    // scan form would be ~60 ms/doc there, the point of the dispatch)
    ks.foreach { k =>
      val fl = syntheticMerges(k, seed = 99L).flatMap(p => Seq(p._1, p._2)).mkString(" ")
      def kernelSec(heap: Boolean): Double = {
        docs.take(200).foreach(d => graft.functions.BpeEncode.tokensPath(d, fl, heap))
        time(docs.foreach(d => graft.functions.BpeEncode.tokensPath(d, fl, heap)))._1
      }
      val heapSec = kernelSec(heap = true)
      val scanUs = if (k > 3000) None else Some(kernelSec(heap = false) / nDocs * 1e6)
      val calib0 = calibrate(spark)
      // merges ride a broadcast 1-row frame, the x103 artifact posture
      val mergesDf = broadcast(spark.createDataset(Seq(fl))(Encoders.STRING).toDF("merges"))
      val sparkSec = minNoop(1, s"bpe encode k=$k")(docsDf.crossJoin(mergesDf)
        .selectExpr("graft_bpe_tokens(text, merges) AS toks"))
      out("soak" -> "bpe", "ladder" -> "encode", "k" -> k, "n_docs" -> nDocs,
        "per_doc_us_scan" -> scanUs, "per_doc_us_heap" -> heapSec / nDocs * 1e6,
        "spark_dispatch_sec" -> sparkSec, "calibration_sec" -> Seq(calib0))
    }

    // ---- TRAIN-K ladder: production-k training over a production-shaped
    // vocabulary (the shipped test corpora have ~31 distinct words, too
    // small to sustain deep vocabularies). 20k distinct words, 4-16 chars
    // over a 7-letter alphabet (deep merge chains fire), Zipf-ish weights.
    // graft.operators.BpeTrainer = one Spark word-count job + driver-local
    // incremental merge loop; the x99 formulation is one Spark ROUND per
    // merge, so this must stay seconds at k = 3000, not 3000 jobs.
    val wrnd = new scala.util.Random(7L)
    val wc = (0 until 20000).map { id =>
      (Seq.fill(wrnd.nextInt(13) + 4)(alphabet(wrnd.nextInt(alphabet.length))).mkString,
        1L + 20000L / (id + 1))
    }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toSeq
    ks.foreach { k =>
      val (sec, ms) = time(graft.operators.BpeTrainer.train(wc, k))
      out("soak" -> "bpe", "ladder" -> "train", "k" -> k, "vocab" -> wc.size,
        "merges_learned" -> ms.length, "train_sec" -> sec)
    }
  }

  /** `dedup [nBase] [copies] [chainLen]` (defaults 5000 x (10 exact copies
    * + 6-mutation chain) ~ 80k docs): the near-dup dedup path (x03) and the
    * hierarchical cluster stage (x26) on a corpus with planted exact-dup
    * mega-groups AND mutation CHAINS (doc m is doc m-1 with two more tokens
    * replaced: adjacent pairs are near-dups, chain ends are not), so the
    * exact-dup pre-collapse, the band join, and the hash-min CC loop all
    * get their worst food: skewed identical groups and components whose
    * diameter forces multiple label-propagation rounds. Later stages: the
    * x70 Bloom membership steady state, the x69 weighted PageRank over the
    * verified pair graph, and the x60/x61 substring stages.
    *
    * Stages run from the DURABLE signature artifact (sortedParquet, the
    * saveMinhashIndex boundary) rather than an in-heap localCheckpoint:
    * the production form at cluster scale, and the difference matters in
    * local mode too: raw checkpoint rows of a 1M-doc signature table made
    * the single 8 g JVM GC-bound (pairs 182 s; 90 s at 48 g), while the
    * storage boundary keeps the heap flat. build_sec is the one-time
    * sketch+write; every other stage reads the artifact. The bucketed
    * probe stage writes a managed table, so [[Ladder.main]] points this
    * mode's warehouse at a temp dir. */
  def dedup(nBase: Int, copies: Int, chainLen: Int): Unit = {
    val perBase = copies + chainLen
    val nTok = 60
    // deterministic generator: base tokens from a 500-word vocab; chain
    // mutation m replaces the first 2m tokens with chain-local tokens
    val docs = spark.range(nBase.toLong * perBase).map { i =>
      val base = i / perBase
      val slot = (i % perBase).toInt
      val m = math.max(slot - copies + 1, 0) // 0 for exact copies, 1..chainLen for chain
      // base-scoped vocabulary: cross-base docs share no tokens, so the
      // planted structure (copies + chain) is exactly what the pipeline
      // must find; an unscoped vocab cycles and aliases whole documents
      val toks = (0 until nTok).map { t =>
        if (t < 2 * m) s"b${base}c$t" else s"b${base}w${(t * 7) % 97}"
      }
      Doc(i, toks.mkString(" "))
    }(Encoders.product[Doc]).toDF().persist()
    val nDocs = docs.count()
    // sampled before the stages, between clusters and probe, and at the end
    val cal = new Samples
    // one-time sketch + durable artifact write (the saveMinhashIndex form)
    val idx = java.nio.file.Files.createTempDirectory("dedup-soak").toString + "/sigs"
    val (tBuild, _) = time(graft.sources.Sinks.sortedParquet(
      TextQueries.minhashSignaturesOf(docs), idx, Seq("doc_id")))
    // x03 pipeline from the artifact: banded pair join + exact verify
    val (tPairs, nPairs) = time(TextQueries.dedupMinhashFromIndex(spark, idx).count())
    // x26 stage: CC to fixpoint + MinHashUnion cluster signatures
    val (tClusters, stats) = time {
      val sigs = spark.read.parquet(idx)
      val pairs = TextQueries.minhashPairs(sigs).select("doc_a", "doc_b")
        .localCheckpoint(eager = false)
      val labels = TextQueries.connectedReps(sigs.select("doc_id"), pairs)
      val clusters = TextQueries.clusterSigsOf(labels, sigs)
      val agg = clusters.agg(count(lit(1)), max("n_docs"), sum("n_docs")).head()
      (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    }
    cal.take()
    // steady-state probe: a 1000-doc ingest batch (half near-dup mutations
    // of corpus docs, half fresh) checked against the durable signature
    // artifact, the x37 shape, timed at THIS corpus size so the scaling
    // row records how probe cost grows with the index, not just the build
    val corpusSigs = spark.read.parquet(idx)
    val batch = spark.range(1000L).map { i =>
      val base = i % nBase // near-dup of base doc: 2 tokens replaced
      val toks = (0 until nTok).map { t =>
        if (i % 2 == 0 && t < 2) s"p${i}c$t"            // near-dup probe
        else if (i % 2 == 0) s"b${base}w${(t * 7) % 97}" // ...of base's vocab
        else s"fresh${i}t$t"                             // fresh doc: no hits
      }
      Doc(1000000000L + i, toks.mkString(" "))
    }(Encoders.product[Doc]).toDF()
    val (tProbe, nProbeHits) =
      time(TextQueries.nearDupProbe(batch, corpusSigs, threshold = 0.5).count())
    cal.take()
    // bucketed steady state: the saveBandIndex managed table pre-clusters
    // the corpus band rows on the join key at write time, so the SAME
    // probe batch joins with zero corpus-side exchange (band_build_sec is
    // the one-time artifact write; probe_bucketed_sec is what every later
    // ingest batch pays; compare against probe_sec, which re-derives and
    // re-shuffles the corpus band rows per probe)
    val (tBandBuild, _) = time(TextQueries.saveBandIndex(corpusSigs, "soak_bands"))
    val (tProbeBucketed, nProbeBucketedHits) = time(TextQueries.nearDupProbeWithBands(
      batch, spark.table("soak_bands"), corpusSigs, threshold = 0.5).count())
    cal.take()
    // x70 bloom stages: fold the corpus BoW keys ONCE into a fixed bitmap
    // (bloom_build_sec), then check a 1000-doc ingest batch (half exact
    // copies of corpus docs, guaranteed members; half fresh) through the
    // row-local probe + broadcast verify (bloom_probe_sec). This is the
    // membership steady state an ingest pays instead of a corpus-sized
    // join; the ladder row proves build stays one linear scan and probe
    // stays flat as the corpus grows. Bitmap 2^23 bits (1 MB): at the 1M-doc
    // point (~440k distinct keys, k=4) FPR ~ 1e-3, so probe cost is
    // bloom-bounded, not FP-bounded.
    val bloomM = 1 << 23
    def bowKey(df: DataFrame) = df.select(col("doc_id"),
      array_join(array_sort(array_distinct(split(col("text"), " "))), " ").as("bk"))
    val corpusKeys = bowKey(docs).select("bk")
    val (tBloomBuild, bloomRow) =
      time(TextQueries.bloomBuild(corpusKeys, "bk", bloomM).localCheckpoint(eager = true))
    val bloomBatch = spark.range(1000L).map { i =>
      val toks =
        if (i % 2 == 0) (0 until nTok).map(t => s"b${i % nBase}w${(t * 7) % 97}") // member
        else (0 until nTok).map(t => s"bfresh${i}t$t") // non-member
      Doc(2000000000L + i, toks.mkString(" "))
    }(Encoders.product[Doc]).toDF()
    val (tBloomProbe, nBloomHits) = time(
      TextQueries.bloomMembership(bowKey(bloomBatch), "bk", bloomRow, corpusKeys, bloomM)
        .filter(col("n_matches").isNotNull).count())
    cal.take()
    // x69 stage: Jaccard-weighted PageRank over the verified pair graph:
    // five fixed iterative join+aggregate rounds over |edges| rows; the
    // ladder row proves the iteration cost scales with the DUP GRAPH, not
    // the corpus (pairs come banded from the artifact, like the x26 CC)
    val (tPagerank, prStats) = time {
      val a = TextQueries.pagerankFromWeightedPairs(
        TextQueries.weightedPairs(corpusSigs).localCheckpoint(eager = false))
        .agg(count(lit(1)), max("pr")).head()
      (a.getLong(0), if (a.isNullAt(1)) None else Some(BigDecimal(a.getDouble(1))))
    }
    cal.take()
    // substring-level stages at the same corpus: x60 diagnostic and x61 cut
    // transform. The planted copies+chain mass makes both non-vacuous (every
    // copy's windows duplicate; chain docs overlap partially), and the
    // window explode is ~nTok rows/doc: these rows prove the 8-byte-key
    // exchange plans stay linear where a hot-key or n^2 plan would blow up.
    val (tSubDup, nSubDupDocs) =
      time(TextQueries.substringDupOf(docs).filter(col("dup_win") > 0).count())
    // sum(length) forces the ordered reassembly of text_kept, the cut's
    // actual output, which a bare count() would let Catalyst prune
    val (tSubCut, subCutTokens) = time(TextQueries.substringCutOf(docs)
      .agg(sum(length(col("text_kept"))), sum("n_cut")).head().getLong(1))
    cal.take()
    out("metric" -> "dedup_soak", "docs" -> nDocs, "base" -> nBase,
      "heap_gb" -> Runtime.getRuntime.maxMemory() / (1L << 30),
      "copies" -> copies, "chain_len" -> chainLen, "build_sec" -> tBuild, "pairs" -> nPairs,
      "pairs_sec" -> tPairs, "clusters" -> stats._1, "max_cluster" -> stats._2,
      "clustered_reps" -> stats._3, "clusters_sec" -> tClusters,
      "probe_hits" -> nProbeHits, "probe_sec" -> tProbe,
      "band_build_sec" -> tBandBuild, "probe_bucketed_hits" -> nProbeBucketedHits,
      "probe_bucketed_sec" -> tProbeBucketed,
      "bloom_build_sec" -> tBloomBuild, "bloom_hits" -> nBloomHits,
      "bloom_probe_sec" -> tBloomProbe,
      "pagerank_nodes" -> prStats._1, "pagerank_max_pr" -> prStats._2,
      "pagerank_sec" -> tPagerank,
      "sub_dup_docs" -> nSubDupDocs, "sub_dup_sec" -> tSubDup,
      "sub_cut_tokens" -> subCutTokens, "sub_cut_sec" -> tSubCut,
      "calibration_sec" -> cal.all)
  }

  /** `graph [nNodes] [hubDeg]` (defaults 200000, 3000): the triangle kernel
    * ([[graft.operators.Triangles]], the x96 engine) in BOTH edge
    * orientations on a graph that is the kernel's worst food: a random
    * background, a planted HUB (node 0 with `hubDeg` spokes, the worst case
    * for id-orientation because every spoke becomes an out-edge and the
    * hub emits deg^2 wedges), and planted 4-cliques so the triangle count
    * is non-trivial and exactly known (4 triangles per planted clique from
    * the clique edges alone).
    *
    * The claim under measurement (x96 scaladoc): degree orientation bounds
    * per-node wedge fan-out at O(sqrt |E|), so the hub contributes ZERO
    * wedges degree-oriented, vs hubDeg^2 id-oriented; the ladder should
    * show the id-oriented time blowing up with hubDeg while the
    * degree-oriented time tracks |E| and is hub-insensitive. Both variants
    * must return identical tallies (`tally_mismatches` = 0, required). */
  def graph(nNodes: Int, hubDeg: Int): Unit = {
    // background: 3n pseudo-random edges (xxhash64-derived endpoints,
    // self-loops dropped, canonicalized a < b); hub: node 0 -> spokes
    // 1..hubDeg; cliques: n/100 planted 4-cliques over dedicated ids above
    // the background range so their 6 edges each are guaranteed present
    val n = nNodes.toLong
    val bg = spark.range(3L * n)
      .select(
        (abs(xxhash64(col("id"), lit("a"))) % n).as("x"),
        (abs(xxhash64(col("id"), lit("b"))) % n).as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
    val hub = spark.range(1L, hubDeg + 1L).select(lit(0L).as("a"), col("id").as("b"))
    val nCliques = n / 100
    val cliqueBase = 10L * n // id range disjoint from the background
    val cliques = spark.range(nCliques)
      .select(explode(array((0 until 4).flatMap(i => (i + 1 until 4).map(j =>
        struct((lit(cliqueBase) + col("id") * 4 + lit(i.toLong)).as("a"),
          (lit(cliqueBase) + col("id") * 4 + lit(j.toLong)).as("b")))): _*)).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    val edges = bg.unionAll(hub).unionAll(cliques).distinct().localCheckpoint(eager = true)
    val nEdges = edges.count()
    val cal = new Samples
    // one untimed warm-up of the shared prefix (checkpointed edges scan)
    edges.write.format("noop").mode("overwrite").save()
    val degSec = minNoop(1, "graph degree")(Triangles.tallies(edges, orientByDegree = true))
    cal.take()
    val idSec = minNoop(1, "graph id")(Triangles.tallies(edges, orientByDegree = false))
    cal.take()
    // identical-tallies check (the two traversals must agree), plus the
    // planted-structure accounting that makes the row self-validating
    val a = Triangles.tallies(edges, orientByDegree = true)
    val b = Triangles.tallies(edges, orientByDegree = false)
    val diff = a.join(b.withColumnRenamed("n_tri", "n_tri_id"), Seq("node"))
      .filter(col("n_tri") =!= col("n_tri_id")).count()
    val hubRow = a.filter(col("node") === 0L).select("deg", "n_tri").head()
    val triSum = a.agg(sum("n_tri")).head().getLong(0)
    out("soak" -> "graph-triangles", "n_nodes" -> nNodes, "hub_deg" -> hubDeg,
      "n_edges" -> nEdges, "n_cliques" -> nCliques,
      "degree_oriented_sec" -> degSec, "id_oriented_sec" -> idSec,
      "tally_mismatches" -> diff, "hub_deg_seen" -> hubRow.getLong(0),
      "hub_tri" -> hubRow.getLong(1), "tri_participation_sum" -> triSum,
      "calibration_sec" -> cal.all)
    require(diff == 0, s"triangle tallies differ between orientations on $diff nodes")
  }

  /** `maintenance [intervalN...]` (defaults 100k, 400k, 1.6M intervals per
    * side; merge at 20M snapshot rows / 200k changes): the two
    * round-10 maintenance operators, one line per measurement.
    *
    *  - interval-overlap join: bucketed equi-join vs the naive inequality
    *    join (BNLJ) at CONSTANT overlap density (domain grows with n, so
    *    true pairs grow with n: the regime where the naive plan's n^2
    *    candidate work separates from the bucketed plan's
    *    output-proportional work). The naive side runs only up to 400k
    *    (`naive_sec` -1 above); both pair counts must agree.
    *  - CDC snapshot merge: applyChangeset over a synthetic snapshot vs the
    *    plain snapshot scan. The claim under test is "merge ~ one corpus
    *    scan" (broadcast anti join adds no shuffle), so the interesting
    *    number is the RATIO, not the absolute. */
  def maintenance(ns: Seq[Long]): Unit = {
    for (n <- ns) {
      // constant density: spacing 500 ticks, mean length 500, so each
      // interval overlaps a few neighbors; domain grows with n to keep it
      val domain = n * 500L
      def side(tag: String, seed: Int) = spark.range(n)
        .select(col("id").as(s"${tag}id"),
          pmod(xxhash64(col("id"), lit(seed)), lit(domain)).as("lo"))
        .withColumn("hi", col("lo") + 1L + pmod(xxhash64(col("lo")), lit(1000)))
      val l = side("l", 1)
      val r = side("r", 2)
      val (tB, pairs) =
        time(IntervalJoin.overlapJoin(l, r, "lo", "hi", bucketWidth = 1000L).count())
      val (tN, pairsN) =
        if (n <= 400000L) time {
          l.join(r.withColumnRenamed("lo", "lo2").withColumnRenamed("hi", "hi2"),
            col("lo") <= col("hi2") && col("lo2") <= col("hi")).count()
        } else (-1.0, pairs)
      out("metric" -> "interval_soak", "n" -> n, "pairs" -> pairs,
        "bucketed_sec" -> tB, "naive_sec" -> tN)
      require(pairsN == pairs, s"pair mismatch: naive=$pairsN bucketed=$pairs")
    }
    val snap = spark.range(20000000L).select(col("id"), xxhash64(col("id")).as("payload"))
    val changes = spark.range(200000L)
      .select((col("id") * 100L).as("id"), xxhash64(col("id"), lit(9)).as("payload"),
        when(col("id") % 3 === 0, "D").otherwise("U").as("op"),
        col("id").as("seq"))
    val (tScan, nScan) = time(snap.count())
    val (tMerge, nMerge) = time(MergeInto.applyChangeset(snap, changes, Seq("id")).count())
    out("metric" -> "merge_soak", "snap_rows" -> nScan, "merged_rows" -> nMerge,
      "scan_sec" -> tScan, "merge_sec" -> tMerge)
  }

  /** `media [n]` (default 100,000 images + n/1000 planted twins): the
    * multimodal dedup chain (x84/x85): aHash extraction over synthetic
    * image payloads, then near-dup pairs via BOTH candidate generators,
    * the 8x8-bit banded heuristic and the exact multi-index hashing form,
    * demonstrating the documented crossover: banded candidates grow
    * ~ n^2/2^bandBits on high-entropy hashes (the pseudorandom synthetic
    * thumbnails are the worst case), while MIH's constant 4x137-key probe
    * fan-out keeps shuffle volume LINEAR in n. The banded stage is
    * therefore capped ([[Ladder.mediaBandedCap]]) and recorded as -1 above
    * it: the measurement IS the scale argument, not a missing row. */
  def media(n: Long): Unit = {
    val base = spark.range(n)
      .select(col("id").as("media_id"), col("id").as("src"), lit(0).as("pert"))
    val dups = spark.range(0, n, 1000)
      .select((col("id") + lit(2000000000L)).as("media_id"), col("id").as("src"),
        lit(1).as("pert"))
    // xxhash64-seeded payload bytes, NOT syntheticMedia's arithmetic
    // progression: two soak iterations showed that formula-built images
    // cluster pathologically in hamming space (22M "pairs" at 100k, first
    // from literal hash copies at cycle 251*32, then, with the cycle
    // extended, from progression PHASE alignment), which swamps the pair
    // stage with output volume instead of measuring candidate generation.
    // Hash-random bytes give a uniform hash population, but only if every
    // thumbnail pixel samples a DISTINCT payload byte: a third iteration
    // with 32x32 metadata and 64-96-byte payloads still produced 246k
    // pairs, because nearest-neighbor sampling hits p = 0 (mod 4) offsets
    // and a sub-128-byte payload folds those onto ~20 distinct bytes, each
    // a "super-bit" replicated across 2-4 hash positions, which inflates
    // P(hamming <= 8) to ~1e-3 per same-length pair. 8x8 source images with
    // exactly 64 bytes make the 64 bits independent; the expected random
    // pair count drops to ~C(n,2)*4.9e9/2^64 (~1 at 100k), so the pair
    // stage measures planted twins + candidate-join cost, the thing being
    // laddered. Every 1000th id's planted twin gets +50 on its first 8
    // bytes.
    val payloadExpr = expr(
      "concat_ws('', transform(sequence(0, 63), " +
        "j -> lpad(hex((pmod(xxhash64(src, j), 251)" +
        " + IF(pert = 1 AND j < 8, 50, 0)) % 251), 2, '0')))")
    val media = base.unionByName(dups)
      .withColumn("content", unhex(payloadExpr))
      .withColumn("meta", expr(
        "named_struct('media_type', 'image', 'format', 'png', " +
          "'width', 8, 'height', 8, 'duration_ms', CAST(NULL AS BIGINT))"))
      .select("media_id", "content", "meta")
    val cal = new Samples
    val hashes = Media.imageHashes(media).persist()
    val (tHash, nHashes) = time(hashes.count())
    cal.take()
    val (tMih, mihStats) = time {
      // coalesce: sum() over ZERO pairs is null; a corpus/tau with no
      // near-dups must print a zero row, not NPE the soak
      val agg = Media.phashNearDupPairsMih(hashes, tau = 8).agg(count(lit(1)),
        coalesce(sum(when(col("media_b") >= 2000000000L, 1).otherwise(0)), lit(0L))).head()
      (agg.getLong(0), agg.getLong(1))
    }
    cal.take()
    val (tBanded, bandedPairs) =
      if (n <= mediaBandedCap) time(Media.phashNearDupPairs(hashes, nBands = 8, tau = 8).count())
      else (-1.0, -1L) // documented quadratic regime, measured below the cap
    cal.take()
    out("soak" -> "media", "n" -> n, "hashed" -> nHashes,
      "hash_sec" -> tHash, "mih_pairs_sec" -> tMih,
      "mih_pairs" -> mihStats._1, "mih_planted_hits" -> mihStats._2,
      "banded_pairs_sec" -> tBanded, "banded_pairs" -> bandedPairs,
      "calibration_sec" -> cal.all)
  }

  /** `mixture [nRows]` (default 1,000,000): the x53 mixture cut
    * (PrefixQuota.takeUntilQuota) on a skewed source mixture (one source
    * holds ~70% of the rows, the shape the two-level prefix sum exists
    * for) with a TIGHT token budget, so the whole-bucket prune is
    * load-bearing: almost every bucket of the hot source starts past its
    * quota and must be dropped BEFORE any sort. Reports the distributed
    * cut against the naive per-source running-sum window on the same data
    * (the oracle semantics), plus the dispatcher's chosen bucket depth, so
    * the PLANS.md ladder can record that (a) the cut stays flat as rows
    * grow and (b) the two plans agree row-for-row at scale (`kept` =
    * `naive_kept`, required), not just in PrefixQuotaSpec's 600-row
    * fixture. */
  def mixture(nRows: Int): Unit = {
    // deterministic skewed mixture: ~70% of rows land in src0, the rest
    // spread over src1..src9; token counts 20..119
    val rows = spark.range(nRows.toLong).map { i =>
      val h = Math.floorMod(i * 2654435761L, 10L)
      MixRow(if (h < 7) "src0" else s"src$h", i, 20L + Math.floorMod(i * 1103515245L, 100L))
    }(Encoders.product[MixRow]).toDF().persist()
    rows.count()
    val cal = new Samples
    // tight budget: ~1000 rows' worth of tokens per source; the cut keeps
    // well under 1% of the hot source, so bucket pruning carries the plan
    val quota = lit(70000L)
    val ord = md5(col("doc_id").cast("string"))
    val est = rows.queryExecution.optimizedPlan.stats.sizeInBytes
    val (tCut, nKept) = time(PrefixQuota.takeUntilQuota(rows, "source", ord, col("doc_id"),
      col("n_tok"), quota).count())
    cal.take()
    // the oracle semantics at the same scale: one running-sum window per
    // source; the hot source serializes through a single task
    val w = Window.partitionBy("source").orderBy(ord, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val (tNaive, nNaive) = time(
      rows.withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .filter(col("cum_before") < quota).count())
    cal.take()
    out("metric" -> "mixture_soak", "rows" -> nRows,
      "bucket_len" -> PrefixQuota.dispatchBucketLen(est), "est_bytes" -> est,
      "kept" -> nKept, "cut_sec" -> tCut, "naive_kept" -> nNaive, "naive_sec" -> tNaive,
      "calibration_sec" -> cal.all)
    require(nKept == nNaive, s"cut kept $nKept rows, naive window kept $nNaive")
  }

  /** `quantiles [rows] [groups...]` (defaults 20M rows at 3, 1000, 100000,
    * 1000000 groups): the range-partitioned cluster-parallel exact-quantile
    * plan against the builtin `percentile` aggregate across group
    * cardinalities at fixed row count, pinning
    * `Quantiles.builtinCrossoverGroups` with a measurement (PLANS.md). One
    * line per cardinality; both plans must return one row per group. */
  def quantiles(rows: Long, groupCounts: Seq[Long]): Unit =
    for (g <- groupCounts) {
      // deterministic skew-free synthetic: value is a scrambled id
      val df = spark.range(rows)
        .select((col("id") % g).as("g"),
          pmod(hash(col("id")), lit(1000000)).cast("double").as("v"))
      val (tPar, nPar) =
        time(Quantiles.parallelQuantiles(df, "g", "v", Seq(0.25, 0.5)).count())
      val (tBi, nBi) = time(Quantiles.builtinQuantiles(df, "g", "v", Seq(0.25, 0.5)).count())
      out("metric" -> "quantiles_soak", "rows" -> rows, "groups" -> g,
        "parallel_sec" -> tPar, "builtin_sec" -> tBi)
      require(nPar == nBi && nPar == g, s"row mismatch: parallel=$nPar builtin=$nBi want=$g")
    }

  /** `sparse [n]` (default 100,000 docs): x80's inverted-index sparse
    * cosine. The claim under test is the df-cap: candidate volume is
    * sum over kept terms of df^2, so pruning hot postings bounds the pair
    * join, while stopword-grade tokens would each contribute df^2 pairs (at
    * soak scale, 'the' alone would be n^2).
    *
    * Corpus: n docs x 30 xxhash-uniform tokens over a vocabulary of 3n
    * (E[df] ~ 10, a long-tail population where the band keeps nearly all
    * REAL tokens) plus one planted stopword in every doc. The soak times
    * the factored x80 engine and ACCOUNTS the prune: kept vs pruned posting
    * mass (sum df^2, exact integers from the df table, so the avoided work
    * is measured, not asserted). The stopword's n^2 mass never reaches the
    * join; the kept mass grows with n, so pairs_sec should ladder
    * near-linearly. */
  def sparse(n: Long): Unit = {
    val vocab = 3L * n
    val docsDf = spark.range(n)
      .select(col("id").as("doc_id"),
        concat(lit("the "), concat_ws(" ",
          expr(s"transform(sequence(0, 29), j -> concat('t', pmod(xxhash64(id, j), ${vocab}L)))")))
          .as("text"))
      .persist()
    docsDf.count()
    val cal = new Samples
    // prune accounting from the df table (exact integers; NOT timed as the
    // pair stage: it is the diagnostic that explains the pair stage)
    val dfreq = docsDf.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val kept = col("df") >= 2 && (col("df") <= 10 || col("df") * 10 <= lit(n))
    val acct = dfreq.select(
        sum(when(kept, col("df") * col("df")).otherwise(0L)).as("kept_mass"),
        sum(when(!kept, col("df") * col("df")).otherwise(0L)).as("pruned_mass"),
        count(lit(1)).as("n_terms"))
      .head()
    cal.take()
    val (tPairs, nPairs) = time(TextQueries.sparseCosinePairsOf(docsDf).count())
    cal.take()
    out("soak" -> "sparse", "n" -> n, "vocab" -> vocab,
      "pairs_sec" -> tPairs, "pairs" -> nPairs,
      "kept_mass" -> acct.getLong(0), "pruned_mass" -> acct.getLong(1),
      "n_terms" -> acct.getLong(2), "calibration_sec" -> cal.all)
  }
}

object Ladder {
  /** Executor threads of every local graft session: `SPARK_GRAFT_CPUS`,
    * else the host's cores capped at 32. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  /** The local session every graft main builds ([[Verify]], [[Plans]] and
    * each Ladder mode): [[GraftExtensions]], `local[cpus]`, shuffle width =
    * cpus, UI off, Spark logging OFF (the tools report their own failures
    * on stderr, and benign in-run log spam once buried a timing line).
    * `conf` entries apply last, so they may override the width. */
  def localSession(conf: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("OFF")
    spark
  }

  def main(args: Array[String]): Unit = {
    val spark = localSession(sessionConf(args.toSeq): _*)
    try new Ladder(spark, l => println(l)).run(args.toSeq) finally spark.stop()
  }

  /** Per-mode session settings on top of [[localSession]]. */
  private def sessionConf(args: Seq[String]): Seq[(String, String)] = args match {
    case Seq("queries", _, rest @ _*) if queryArgs(rest)._1 > 1 => Seq(
      // The Nx rungs run Nx data on a FIXED harness, and a real cluster
      // never runs an Nx-sized shuffle into a 1x-sized partition count:
      // let AQE size reduce stages by bytes instead of pinning them to
      // `cpus`. With initialPartitionNum raised, small rungs coalesce back
      // to ~cpus (measured plans unchanged) while heavy-state stages at
      // 100x/1000x keep enough partitions that per-task aggregate state
      // stays bounded (round-14: x124's pack-body aggregate at 1000x needed
      // ~450 MB/task at 16 partitions and OOM'd; at AQE-chosen counts it
      // fits the same 8g heap).
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> (16 * cpus).toString,
      "spark.sql.session.timeZone" -> "UTC")
    // the cluster posture lives in ONE place, shared with deployments
    case Seq("nfl", _*) => NflPipeline.scaleConf(cpus).toSeq
    // the bucketed-band stage writes a managed table; keep it off the repo
    case Seq("dedup", _*) => Seq("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("dedup-soak-wh").toString)
    case _ => Nil
  }

  /** `[--factor N] [prefix...]` of the queries mode. */
  private def queryArgs(rest: Seq[String]): (Int, Seq[String]) = rest match {
    case Seq("--factor", n, prefixes @ _*) => (n.toInt, prefixes)
    case prefixes => (1, prefixes)
  }

  /** Wall seconds of `f` and its value. */
  def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** Min-of-k noop-sink seconds of `df` (the noop sink forces every output
    * column, where count() would let Catalyst prune projections); -1 if
    * any run throws, never a partial time, with the error on stderr. */
  def minNoop(k: Int, label: String)(df: => DataFrame): Double =
    try (1 to k).map(_ => time(df.write.format("noop").mode("overwrite").save())._1).min
    catch { case NonFatal(e) => System.err.println(s"[ladder] $label: $e"); -1.0 }

  /** `%.3f` under Locale.ROOT: the f-interpolator uses the JVM default
    * locale, and a comma-decimal host would render invalid JSON. */
  def d3(x: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))

  /** One JSON object on one line: Doubles as [[d3]], Strings quoted, Seqs
    * as arrays, None as null, anything else by its toString. */
  def line(fields: (String, Any)*): String = {
    def render(v: Any): String = v match {
      case d: Double => d3(d)
      case s: String => "\"" + s + "\""
      case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
      case None => "null"
      case Some(x) => render(x)
      case other => String.valueOf(other)
    }
    fields.map { case (k, v) => "\"" + k + "\":" + render(v) }.mkString("{", ",", "}")
  }

  // ---- queries mode: the hot tier and the Nx synth ----

  /** The most expensive registry rows per BENCH_r10 (verdict item 4), plus
    * the later additions that joined that tier (x104's dup-chain rollup,
    * x108's keep-best manifest; r16: the flop-bound ANN paths x12/x13, the
    * only expensive family without standing calm-baseline rungs, which is
    * why their r15 bench spike was unadjudicable from repo records
    * alone, and x134's release->pack bridge). */
  val hotQueries: Seq[String] = Seq(
    "x50_deciles", "x34_profile_orders", "x03_dedup_minhash",
    "x48_ev_resample_ffill", "q10_median", "x61_substring_cut",
    "x12_sim_brute_topk", "x13_sim_lsh_topk",
    "x68_pq_topk", "x26_dedup_clusters", "x58_dup_source_matrix",
    "x59_release_manifest", "x104_shard_dup_rate",
    "x108_release_manifest_keep_best", "x116_curation_funnel",
    "x118_shard_balance", "x119_cluster_size_hist",
    "x121_epoch_order", "x122_epoch_mix_audit",
    "x126_ann_recall_sweep", "x127_ann_operating_point",
    "x134_release_pack_bridge",
    // r16 session 2: the dedup-decon interaction joins the minhash-chain
    // family's standing rungs
    "x136_contamination_halo",
    // r17: the anneal pack schedule joins x134 in the standing tier (r16
    // verdict item 2: the two north-star release artifacts both priced
    // every round from here on)
    "x140_anneal_pack_order",
    // r18: the DSIR importance gap runs TWO bigram models over the
    // re-exploded corpus, a top-3 bench row (3.5-4.5 s at sf0.1) from
    // birth, so it joins the tier immediately
    "x149_dsir_importance")

  /** Where the Nx corpus of `sfDir` lives (reused across runs). */
  def scaledDir(sfDir: String, factor: Int): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ladder_${new java.io.File(sfDir).getName}_${factor}x").getPath

  private val Shift = 10000000L // id stride between copies (disjoint ranges)

  /** N distribution-preserving copies: per-copy transform then union-all. */
  private def copies(n: Int)(mk: Int => DataFrame): DataFrame =
    (0 until n).map(mk).reduce(_ unionAll _)

  private val Alphabet = "abcdefghijklmnopqrstuvwxyz"

  /** Copy k's alphabet permutation (identity for copy 0): seeded
    * Fisher-Yates, so every copy gets a distinct bijective token map and
    * the copy count is unbounded (a rot-k cipher would cycle at 26 copies
    * and re-create cross-copy exact dups). */
  private[graft] def permFor(k: Int): String =
    if (k == 0) Alphabet
    else {
      val arr = Alphabet.toCharArray
      val rnd = new scala.util.Random(0x5eed0000L + k)
      var i = arr.length - 1
      while (i >= 1) {
        val j = rnd.nextInt(i + 1)
        val t = arr(i); arr(i) = arr(j); arr(j) = t
        i -= 1
      }
      new String(arr)
    }

  /** The per-copy text salt: stopword-exempt alphabet permutation (see
    * [[synthesize]]: gate verdicts, token lengths, and shingle structure
    * are preserved per copy; vocabularies are copy-disjoint). */
  private def saltText(k: Int): Column = array_join(
    transform(split(col("text"), " "),
      t => when(t === "the" || t === "a", t)
        .otherwise(translate(t, Alphabet, permFor(k)))), " ")

  /** The Nx corpus: N id-shifted copies of the base tables, the one
    * scale-up that provably preserves the base distributions: per-copy
    * structure (per-user event streams, per-customer order counts, per-doc
    * text, duplicate clusters) is bit-identical to the base, and NOTHING is
    * manufactured across copies:
    *   - ids shift by k*10^7 (disjoint ranges; group COUNTS scale xN while
    *     per-group sizes stay constant, the realistic growth axis);
    *   - document tokens are salted per copy by a SEEDED ALPHABET
    *     PERMUTATION (`translate` under a Fisher-Yates shuffle keyed by k;
    *     copy 0 is verbatim; the stop words `the`/`a` are exempt), so copy
    *     k's vocabulary is disjoint from copy j's (sporadic single-token
    *     image collisions are possible for short words, but a cross-copy
    *     near-dup needs 3-token SHINGLE collisions, cubically rarer, so
    *     dup/shingle/cluster mass still scales xN, never quadratically).
    *     Length-preserving and stopword-preserving BY DESIGN (r16): the old
    *     `w -> w_k` suffix salt grew every token by 2+ chars and destroyed
    *     the stop words, so every salted doc failed x64's composite gate
    *     (mean_wlen in [4,5], >=2 stop hits) and gate-FILTERING queries
    *     (x134) measured an empty pipeline at Nx: rows_Nx was 0. Under the
    *     permutation, per-copy gate verdicts, token lengths, and bigram
    *     structure are the base corpus's (bijective token map), so both the
    *     dedup families and the gate-filtering families scale honestly;
    *     n_chars recomputed (now a no-op, kept for safety);
    *   - embeddings perturb by +k/1000 per dimension (distinct vectors, same
    *     geometry per copy; x68 encodes against the committed PqPinned
    *     codebooks as it would any drifted corpus; timing is what matters
    *     here, recall gates live in SimilaritySpec).
    * Only events, documents, embeddings, orders and lineitem are written:
    * the tables the hot tier reads. */
  def synthesize(spark: SparkSession, base: String, out: String, n: Int): Unit = {
    new java.io.File(out).mkdirs()
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    val ev = Tables.events(spark, base)
    write(copies(n) { k =>
      ev.withColumn("event_id", col("event_id") + k * Shift)
        .withColumn("user_id", col("user_id") + k * Shift)
    }, "events")

    val docs = Tables.documents(spark, base)
    write(copies(n) { k =>
      docs
        .withColumn("doc_id", col("doc_id") + k * Shift)
        .withColumn("text", saltText(k))
        .withColumn("n_chars", length(col("text")))
    }, "documents")

    val emb = Tables.embeddings(spark, base)
    write(copies(n) { k =>
      emb.withColumn("vec_id", col("vec_id") + k * Shift)
        .withColumn("embedding",
          expr(s"transform(embedding, v -> CAST(v + $k / 1000.0 AS FLOAT))"))
    }, "embeddings")

    val ord = Tables.orders(spark, base)
    write(copies(n) { k =>
      ord.withColumn("o_orderkey", col("o_orderkey") + k * Shift)
        .withColumn("o_custkey", col("o_custkey") + k * Shift)
    }, "orders")

    val li = Tables.lineitem(spark, base)
    write(copies(n) { k =>
      li.withColumn("l_orderkey", col("l_orderkey") + k * Shift)
    }, "lineitem")
  }

  // ---- soak generators ----

  /** Target rows per SemDeDup cell at ann-soak scale. */
  val annCellTarget = 256

  /** Above this, the media soak skips the banded stage (quadratic candidate
    * growth on high-entropy hashes, the boundary the scaladoc documents). */
  val mediaBandedCap = 150000L

  final case class Doc(doc_id: Long, text: String)
  final case class MixRow(source: String, doc_id: Long, n_tok: Long)

  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def bpeWord(id: Long): String = {
    val sb = new StringBuilder(8)
    var x = mix64(id)
    (0 until 8).foreach { _ =>
      sb += ('a' + java.lang.Long.remainderUnsigned(x, 26L).toInt).toChar
      x = x >>> 5 | x << 59
    }
    sb.result()
  }

  /** A k-merge table in valid BPE shape (mirrors BpeEncodeSpec's
    * generator): each merge pairs two symbols from the pool built so far,
    * so later merges consume earlier products like a trained vocab. */
  private def syntheticMerges(k: Int, seed: Long): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    val pool = ArrayBuffer[String]("a", "b", "c", "d")
    val seen = scala.collection.mutable.HashSet.empty[(String, String)]
    val out = Seq.newBuilder[(String, String)]
    var made = 0
    while (made < k) {
      val l = pool(rnd.nextInt(pool.length))
      val r = pool(rnd.nextInt(pool.length))
      if (l.length + r.length <= 12 && seen.add((l, r))) {
        out += ((l, r)); pool += l + r; made += 1
      }
    }
    out.result()
  }
}
