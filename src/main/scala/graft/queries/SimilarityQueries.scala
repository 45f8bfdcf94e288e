package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over the `embeddings` table (64-dim unit-norm float
  * vectors).
  *
  * Scale stance (100 TB): the query set is always the SMALL side and is
  * broadcast — the corpus is never shuffled for brute force. The ANN variant
  * (random-hyperplane LSH) prunes candidates with an equi-join on a bucket
  * key so per-query work is bucket-sized, not corpus-sized. Dot products are
  * codegen'd higher-order functions (`zip_with` + `aggregate`) over the
  * native array column — no UDF, no MLlib vector conversion in the hot path.
  */
object SimilarityQueries {
  import QueryDef.{sql, rowsOnly}

  /** Left-fold double dot product — the native codegen'd kernel
    * (graft.functions.DotProduct): one JVM loop instead of 2·d interpreted
    * HOF lambda frames per evaluation, with the same operation order as
    * `aggregate(zip_with(...))` and DuckDB's list_sum(list_transform(...)),
    * so oracle-checked variants hash-match. */
  private def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** `sqrt(Σ x²)` via the same kernel (identical cast/multiply/add sequence
    * as the transform-then-fold it replaces — bit-identical doubles). */
  private def norm(a: Column): Column = sqrt(call_function("graft_dot", a, a))

  private def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** DuckDB twin of `round(cosine(a, b), 6)` over two 64-dim list
    * expressions: the same sequential folds, so oracle cosines hash-match. */
  private def cosSql(a: String, b: String): String =
    s"ROUND(list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))" +
      s" / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))" +
      s" * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"

  /** The ranked top-k every exact and ANN probe ends in, over candidate
    * (q_id, vec_id, embedding, q_emb) pairs: the cosine rounded to 6 dp,
    * ranked (cos desc, vec_id) per query. Ranking on the ROUNDED cosine
    * lets both engines rank identical values (the raw double could flip
    * neighbors that differ past the 6th decimal). [[top5Sql]] is the
    * oracle side. */
  private def cosTopk(cand: DataFrame, k: Int = 5): DataFrame =
    cand.withColumn("cos", round(cosine(col("embedding"), col("q_emb")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))))
      .filter(col("rank") <= k)
      .select("q_id", "vec_id", "cos", "rank")
      .orderBy("q_id", "rank")

  /** Oracle side of [[cosTopk]] at k = 5, over a (q_id, vec_id, cos) CTE:
    * the `ranked` CTE and the final SELECT. */
  private def top5Sql(scored: String): String =
    s"""ranked AS (
      |  SELECT q_id, vec_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
      |  FROM $scored)
      |SELECT q_id, vec_id, cos, CAST(rank AS INTEGER) AS rank
      |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** L2 norm per vector (oracle-checked: deterministic sequential fold in
    * both engines). */
  val embNorm = sql(
    "x10_emb_norm",
    """SELECT vec_id,
      |  ROUND(sqrt(list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
      |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, d) =>
    Tables.embeddings(s, d)
      .withColumn("l2_norm", round(norm(col("embedding")), 6))
      .select("vec_id", "l2_norm")
      .orderBy("vec_id")
  }

  /** Cosine between consecutive ids — oracle-checked pairwise kernel. */
  val embPairCosine = sql(
    "x11_emb_pair_cosine",
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  ${cosSql("a.embedding", "b.embedding")} AS cos
      |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      |ORDER BY id_a""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    a.join(b, col("id_b") === col("id_a") + 1)
      .withColumn("cos", round(cosine(col("ea"), col("eb")), 6))
      .select("id_a", "id_b", "cos")
      .orderBy("id_a")
  }

  /** Brute-force cosine top-k: the exact baseline. Query set (vec_id < 10)
    * broadcast against the corpus; per-query ranking via window. At cluster
    * scale this is one corpus scan per query batch — the right exact plan.
    * Oracle-checked through [[cosTopk]]'s rounded-cosine ranking. */
  val simBruteTopk = sql(
    "x12_sim_brute_topk",
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.q_id, e.vec_id,
      |    ${cosSql("e.embedding", "q.q_emb")} AS cos
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id),
      |${top5Sql("scored")}""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    cosTopk(emb.crossJoin(broadcast(queries)).filter(col("vec_id") =!= col("q_id")))
  }

  /** Deterministic ±1 hyperplanes from a fixed LCG (no RNG state) — embedded
    * as plan/SQL literals, identical on every executor with zero
    * coordination. `seedOffset` decorrelates independent plane sets. */
  private def lcg(seed: Long): Long = seed * 6364136223846793005L + 1442695040888963407L
  private[queries] def signPlanes(nBits: Int, dim: Int = 64, seedOffset: Long = 1L): Seq[Seq[Double]] =
    (0 until nBits).map { j =>
      var h = lcg(j.toLong + seedOffset)
      (0 until dim).map { _ => h = lcg(h); if (h > 0) 1.0 else -1.0 }
    }

  /** DuckDB SQL fragment: the literal planes as a list-of-lists. */
  private def planesSqlLiteral(planes: Seq[Seq[Double]]): String =
    planes.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  /** Packed sign bits of `e` against each plane (bit j = 1 iff e·planes(j)
    * > 0) — the one bucket builder behind both LSH paths (x13's top-k
    * bucket and x21's band values), so they can't drift. */
  private def signBits(e: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      shiftleft(when(dot(e, typedLit(p)) > 0, 1L).otherwise(0L), j)
    }.reduce(_ bitwiseOR _)

  /** ANN via random-hyperplane LSH: 8 deterministic ±1 hyperplanes → 8 sign
    * bits → 256 buckets; candidates = corpus rows sharing the query's bucket;
    * exact cosine + top-k within candidates only.
    *
    * The recall/cost trade is tuned by bits and by multi-probing; the plan
    * (bucket equi-join instead of cross join) is what survives 100 TB.
    *
    * Oracle-checked: the whole pipeline (sign buckets from the literal
    * planes, 1-bit-flip multi-probe, exact cosine, rounded ranking) is
    * deterministic arithmetic, replicated in DuckDB SQL below.
    */
  private val lshBits = 8
  private val lshPlanes: Seq[Seq[Double]] = signPlanes(lshBits)

  private val lshOracle: String = {
    val flips = (0 until lshBits).map(j => s"xor(bucket, ${1L << j})").mkString(", ")
    s"""WITH c AS (
      |  SELECT vec_id, embedding,
      |    CAST(list_sum(list_transform(range(0, $lshBits), j ->
      |      CASE WHEN list_sum(list_transform(range(1, 65), i ->
      |        CAST(embedding[i] AS DOUBLE) * (${planesSqlLiteral(lshPlanes)})[j+1][i])) > 0
      |      THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS bucket
      |  FROM embeddings),
      |probes AS (
      |  SELECT vec_id AS q_id, embedding AS q_emb,
      |    unnest([bucket, $flips]) AS bucket
      |  FROM c WHERE vec_id < 10),
      |scored AS (
      |  SELECT p.q_id, c.vec_id,
      |    ${cosSql("c.embedding", "p.q_emb")} AS cos
      |  FROM c JOIN probes p USING (bucket) WHERE c.vec_id <> p.q_id),
      |${top5Sql("scored")}""".stripMargin
  }

  val simLshTopk = sql("x13_sim_lsh_topk", lshOracle) { (s, d) =>
    val nBits = lshBits
    def bucket(e: Column): Column = signBits(e, lshPlanes)

    val emb = Tables.embeddings(s, d).withColumn("bucket", bucket(col("embedding")))
    // Multi-probe: each query also probes the nBits buckets one bit-flip away
    // (standard LSH recall boost — widens candidates ~9× without touching the
    // corpus side or adding a shuffle; queries stay the broadcast side).
    val probes = (0 until nBits).map(j => col("bucket").bitwiseXOR(lit(1L << j))) :+ col("bucket")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        explode(array(probes: _*)).as("bucket"))
    cosTopk(emb.join(broadcast(queries), Seq("bucket")).filter(col("vec_id") =!= col("q_id")))
  }

  /** IVF index build: KMeans over the corpus, memoized per sf directory.
    * At cluster scale this is the amortized one-time index job (like any
    * index build, run once and reused across query batches); memoizing per
    * JVM keeps steady-state probe queries from re-paying it, and lets the
    * bench time build and probe separately. Deterministic (fixed seed), so
    * caching never changes results. */
  private val ivfCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Double]]]()

  /** Train (or fetch the memoized) IVF centroids for `dir`'s embeddings.
    * Cache contract: keyed by directory — like any persisted index artifact
    * it assumes corpus directories are immutable snapshots; if a path is
    * rewritten in-place, call `clearIvfCache()` (or use a new path) to
    * retrain, or cell assignments will reflect the old corpus. */
  def ivfCentroids(s: SparkSession, d: String, nCells: Int = 16): Seq[Seq[Double]] =
    ivfCache.computeIfAbsent(s"$d#$nCells", { _ =>
      trainIvf(Tables.embeddings(s, d), nCells)
    })

  /** Train IVF centroids over any (vec_id, embedding) frame — seeded
    * KMeans, deterministic. The dir-memoized [[ivfCentroids]] wraps this;
    * specs call it directly on synthetic corpora. */
  def trainIvf(emb: DataFrame, nCells: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val vecs = emb.select(array_to_vector(col("embedding")).as("features"))
    new KMeans().setK(nCells).setSeed(seed).setMaxIter(5).fit(vecs)
      .clusterCenters.toSeq.map(_.toArray.toSeq)
  }

  /** Drop memoized IVF indexes (after rewriting a corpus path in-place). */
  def clearIvfCache(): Unit = ivfCache.clear()

  /** Train product-quantization codebooks over any (vec_id, embedding)
    * frame — one seeded KMeans per contiguous sub-vector (seed decorrelated
    * per subspace), deterministic. [[PqPin]] pins the result as the x68
    * literal artifact; specs can call this on synthetic corpora. */
  def trainPq(emb: DataFrame, nSub: Int, subDim: Int, nCodes: Int,
      seed: Long = 42L): Seq[Seq[Seq[Double]]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    (0 until nSub).map { s0 =>
      val sub = emb.select(array_to_vector(
        slice(col("embedding"), s0 * subDim + 1, subDim).cast("array<double>"))
        .as("features"))
      new KMeans().setK(nCodes).setSeed(seed + s0).setMaxIter(5).fit(sub)
        .clusterCenters.toSeq.map(_.toArray.toSeq)
    }
  }

  /** Persist trained IVF centroids as a tiny parquet artifact
    * (cell INT, centroid ARRAY<DOUBLE>) — the durable form of the index.
    * A real deployment runs the KMeans build once, writes this, and every
    * later session (and every other driver) probes from the artifact
    * instead of re-paying the build. */
  def saveIvfIndex(s: SparkSession, d: String, path: String, nCells: Int = 16): Unit = {
    import s.implicits._
    graft.sources.Sinks.parquet(
      ivfCentroids(s, d, nCells).zipWithIndex.map { case (c, i) => (i, c) }
        .toDF("cell", "centroid"), path)
  }

  /** Read centroids back from a [[saveIvfIndex]] artifact (cell order). */
  def loadIvfIndex(s: SparkSession, path: String): Seq[Seq[Double]] =
    Tables.parquet(s, path).orderBy("cell")
      .collect().map(_.getSeq[Double](1).toSeq).toSeq

  /** Build-or-load: return the centroids at `indexPath`, training and
    * writing the artifact only if it does not exist yet. The in-JVM memo
    * sits on top (keyed by the artifact path), so steady state is
    * memo-hit → artifact-read → train, in that order. Probing from an
    * existing artifact never touches the corpus directory. */
  def ivfCentroidsDurable(s: SparkSession, d: String, indexPath: String,
      nCells: Int = 16): Seq[Seq[Double]] = {
    // NOT computeIfAbsent: the build path calls ivfCentroids, whose own
    // computeIfAbsent would then nest inside this one on the SAME map —
    // ConcurrentHashMap throws "Recursive update" whenever the two keys
    // land in one bin (intermittent, since the artifact path varies).
    // get-then-putIfAbsent keeps the memo and hoists the work outside any
    // mapping function; a racing duplicate build is idempotent
    // (deterministic train, overwrite write).
    val key = s"ivf-artifact#$indexPath"
    val cached = ivfCache.get(key)
    if (cached != null) cached
    else {
      val hPath = new org.apache.hadoop.fs.Path(indexPath)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(hPath)) saveIvfIndex(s, d, indexPath, nCells)
      val loaded = loadIvfIndex(s, indexPath)
      ivfCache.putIfAbsent(key, loaded)
      loaded
    }
  }

  /** ANN via IVF (inverted-file index): KMeans partitions the corpus into
    * `nCells` cells once (the memoized index build, see `ivfCentroids`);
    * each query probes its `nProbe` nearest centroids and ranks exact
    * cosine only within those cells.
    *
    * Scale shape: centroids ride as plan literals — corpus→cell assignment
    * is a pure codegen'd map pass (argmin over literal centroids, no MLlib
    * transform and no coordination at scoring time); the probe join is an
    * equi-join on the cell id with the query side broadcast, so per-query
    * work is (nProbe / nCells) of the corpus.
    */
  /** The IVF probe over any (vec_id, embedding) frame with the given
    * centroids — x17's engine, parameterized so specs can gate recall on
    * alternative corpus shapes (the planted-cluster fixture probes 2 of 16
    * cells and still clears the floor — the index HELPS there, where the
    * isotropic shipped corpus needs nProbe 8 just to see enough of it).
    *
    * Nearest-centroid cells via literal centroid arrays, ranked by the
    * standard IVF score |c|² − 2·x·c (monotone in ‖x−c‖²: the row's ‖x‖²
    * is constant across cells, so the argmin is identical) — one native
    * graft_dot per centroid instead of a zip_with squared-distance fold.
    * (score, cell) structs → sort_array → slice → the same expression
    * assigns corpus rows (k=1) and query probes (k=nProbe). */
  /** The n nearest centroid cells of `e` by the IVF score |c|² − 2·x·c,
    * as a codegen'd expression over literal centroids — shared by the x17
    * probe and the x65 cell rollup so both assign identically. */
  private def nearestCellsBy(centroids: Seq[Seq[Double]])(e: Column, n: Int): Column = slice(
    sort_array(array(centroids.zipWithIndex.map { case (c, i) =>
      val cNormSq = c.map(x => x * x).sum
      struct((lit(cNormSq) - lit(2.0) * dot(e, typedLit(c))).as("d"), lit(i).as("cell"))
    }: _*)), 1, n)("cell")

  /** The k=1 cell assignment as a NON-NULLABLE column — for use as an
    * equi-join key. r21 OPTIMIZATION (the r20 gate-pushdown class, guide
    * §7.2): `element_at` is nullable in the type system (though never null
    * here — the centroid array is a non-empty literal, so the slice always
    * holds one struct whose `cell` field is a literal int), and an inner
    * join on `cell` therefore infers IsNotNull(cell), which
    * PushDownPredicates inlines into the scan filter — evaluating the whole
    * literal-centroid argmin TWICE per corpus row (visible in the r20 x68
    * plan: the scan Filter carries the full 16-centroid sort_array).
    * `coalesce` with a literal fallback makes the expression non-nullable
    * by construction, so the inferred null filter constant-folds away and
    * the argmin runs ONCE. The -1 branch is dead code — values are
    * unchanged for every input (incl. a null embedding, where the argmin
    * still yields the ties-first literal cell, not null). */
  private def nearestCellBy(centroids: Seq[Seq[Double]])(e: Column): Column =
    coalesce(element_at(nearestCellsBy(centroids)(e, 1), 1), lit(-1))

  def ivfTopkOf(emb: DataFrame, centroids: Seq[Seq[Double]], nProbe: Int,
      isQuery: Column, k: Int = 5): DataFrame = {
    val nearestCells = nearestCellsBy(centroids) _

    val corpus = emb.withColumn("cell", nearestCellBy(centroids)(col("embedding")))
    val queries = emb.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        explode(nearestCells(col("embedding"), nProbe)).as("cell"))
    cosTopk(corpus.join(broadcast(queries), Seq("cell")).filter(col("vec_id") =!= col("q_id")), k)
  }

  /** DuckDB replication of the x17 IVF probe from the PINNED centroids
    * (IvfPinned — the durable index artifact as literals, the x21
    * VALUES-table precedent). Each centroid row carries its |c|² as the
    * same Scala-computed double the engine splices via `lit(cNormSq)`, so
    * the IVF score cn2 − 2·(x·c) is identical arithmetic both sides; cell
    * assignment (k=1), query probes (k=nProbe) and the probed-cell exact
    * top-k are then all hash-checkable. Literals printed as %.17e — 18
    * significant digits parse correctly-rounded to the identical double in
    * DuckDB (a plain decimal literal would land as DECIMAL, whose cast to
    * DOUBLE is not guaranteed the same ulp). */
  // Locale.ROOT, not the f-interpolator: the latter formats under the JVM
  // default locale, and a comma-decimal host would render malformed SQL.
  private def fmtD(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.17e", Double.box(x))
  private val x17NProbe = 8
  /** The pinned centroids as DuckDB VALUES rows (cell, |c|², centroid). */
  private lazy val ivfCtRows: String = IvfPinned.centroids.zipWithIndex.map { case (c, i) =>
    val cn2 = c.map(x => x * x).sum
    s"($i, ${fmtD(cn2)}, ${c.map(fmtD).mkString("[", ",", "]")})"
  }.mkString(",\n")

  /** The pinned-IVF chain every IVF oracle leads with, kept as one exact
    * text so diffcheck's prefix cache evaluates it once for all of them:
    * `ct` the pinned centroids, `scores` the IVF score cn2 − 2·(x·c) of every
    * (vector, cell), `assign` each vector's nearest cell (ties to the lower
    * cell), and `probes` each query's (vec_id < 10) [[x17NProbe]] nearest
    * cells with their 1-based probe rank `pos`. Ends on a CTE boundary. */
  private lazy val ivfChainSql: String =
    s"""WITH ct(cell, cn2, centroid) AS (VALUES
      |$ivfCtRows),
      |scores AS (
      |  SELECT e.vec_id, ct.cell,
      |    ct.cn2 - 2.0 * list_sum(list_transform(range(1, 65),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * ct.centroid[i])) AS d
      |  FROM embeddings e CROSS JOIN ct),
      |assign AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
      |    FROM scores) s WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS q_id, cell, CAST(rn AS INTEGER) AS pos FROM (
      |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
      |    FROM scores WHERE vec_id < 10) s WHERE rn <= $x17NProbe),
      |""".stripMargin

  private val x17Oracle: String = ivfChainSql +
    s"""scored AS (
      |  SELECT p.q_id, a.vec_id,
      |    ${cosSql("ec.embedding", "eq.embedding")} AS cos
      |  FROM assign a JOIN probes p USING (cell)
      |  JOIN embeddings ec ON ec.vec_id = a.vec_id
      |  JOIN embeddings eq ON eq.vec_id = p.q_id
      |  WHERE a.vec_id <> p.q_id),
      |${top5Sql("scored")}""".stripMargin

  /** x17: the IVF probe on the testdata corpus, from the PINNED index
    * (train-once-probe-forever — the artifact contract every real IVF
    * deployment has; `ivfCentroids`/`ivfCentroidsDurable` remain the
    * train-at-runtime forms the bench times and specs train on synthetic
    * corpora). nProbe tuned on the shipped corpus (synthetic ISOTROPIC
    * embeddings — no cluster structure, IVF's worst case) to hold the
    * per-query recall@5 ≥ 0.6 floor SimilaritySpec gates; the
    * planted-cluster fixture there holds the same floor at nProbe = 2.
    * Hash-checked end to end against the pinned-centroid replication
    * above (was rows-only through round 5). */
  val simIvfTopk = sql("x17_sim_ivf_topk", x17Oracle) { (s, d) =>
    ivfTopkOf(Tables.embeddings(s, d), IvfPinned.centroids, nProbe = x17NProbe,
      isQuery = col("vec_id") < 10)
  }

  /** DuckDB replication of the x65 rollup: same pinned-centroid VALUES
    * table and k=1 assignment arithmetic as x17, then plain grouped
    * counting — the assignment is the only float-bearing step and it is
    * bit-identical by the x17 precedent; everything downstream is integer. */
  private val x65Oracle: String = ivfChainSql +
    """lc AS (SELECT a.cell, e.label, COUNT(*) AS n
      |  FROM assign a JOIN embeddings e USING (vec_id) GROUP BY a.cell, e.label),
      |tot AS (SELECT cell, CAST(SUM(n) AS BIGINT) AS n_vecs,
      |  CAST(COUNT(*) AS BIGINT) AS n_labels FROM lc GROUP BY cell),
      |maj AS (SELECT cell, label AS maj_label, CAST(n AS BIGINT) AS maj_n FROM (
      |  SELECT cell, label, n,
      |    ROW_NUMBER() OVER (PARTITION BY cell ORDER BY n DESC, label) AS rn
      |  FROM lc) m WHERE rn = 1)
      |SELECT t.cell, t.n_vecs, t.n_labels, m.maj_label, m.maj_n,
      |  CAST(m.maj_n AS DOUBLE) / t.n_vecs AS purity
      |FROM tot t JOIN maj m USING (cell) ORDER BY cell""".stripMargin

  /** x65: corpus TOPIC DISTRIBUTION over the pinned IVF index — assign
    * every vector to its nearest cell (the same k=1 literal-centroid argmin
    * x17 uses) and roll up per-cell size, label diversity, majority label,
    * and purity. This is the curation-side read of the ANN index: cluster
    * census for topic balancing / cluster-based mixture decisions, and the
    * monitoring table a production IVF deployment watches for cell skew
    * (a hot cell degrades probe latency; an empty one wastes the index).
    *
    * Scale stance: assignment is a row-local codegen map against broadcast
    * literals (no MLlib, no collect); the rollup aggregates straight to a
    * ≤ nCells×|labels| table with map-side combine, and every later stage
    * (majority window, totals join) runs on that bounded table — at 100 TB
    * the only corpus-sized work is the one map pass. */
  /** Row-local pinned-index cell assignment — shared VERBATIM by the x65
    * batch census and its streaming twin (EmbStream.cellCensusUpdates), so
    * the live dashboard cannot drift from the audited batch semantics. */
  def assignPinnedCell(emb: DataFrame): DataFrame =
    emb.withColumn("cell", nearestCellBy(IvfPinned.centroids)(col("embedding")))

  /** The (cell, label) count fold over pinned-cell assignments — a pure
    * mergeable monoid (≤ nCells×|labels| groups), usable identically as a
    * batch aggregate and as streaming update-mode state. */
  def cellCensusStatsOf(emb: DataFrame): DataFrame =
    assignPinnedCell(emb)
      .select("cell", "label")
      .groupBy("cell", "label").agg(count(lit(1)).as("n"))

  val simIvfCells = sql("x65_ivf_cells", x65Oracle) { (s, d) =>
    val lc = cellCensusStatsOf(Tables.embeddings(s, d))
    val maj = lc
      .withColumn("rn", row_number().over(
        Window.partitionBy("cell").orderBy(col("n").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("cell"), col("label").as("maj_label"), col("n").as("maj_n"))
    val tot = lc.groupBy("cell").agg(sum("n").as("n_vecs"), count(lit(1)).as("n_labels"))
    maj.join(tot, Seq("cell"))
      .select(col("cell"), col("n_vecs"), col("n_labels"), col("maj_label"),
        col("maj_n"), (col("maj_n").cast("double") / col("n_vecs")).as("purity"))
      .orderBy("cell")
  }

  /** x145's outlier threshold: cos-to-assigned-centroid below this is an
    * outlier. 0.15 sits between the shipped corpora's p10s (sf0.01 p10 ≈
    * 0.19, sf0.1 p10 ≈ 0.12) so the census is non-degenerate at both test
    * scales; a deployment pins its own τ off this census's first run. */
  private val outlierTauPpm = 150000L

  /** (d, cell, cos_ppm) of the ASSIGNED (nearest) pinned cell as ONE
    * row-local codegen'd expression over literal centroids: per centroid a
    * struct of the x17 IVF score, the cell id, and the integer-ppm cosine;
    * sort_array orders by (d, cell) — exactly x17's assignment tie-break —
    * and element 1 is the assigned cell WITH its cosine, so assignment and
    * quality come from one pass with no join back to a centroid table. */
  private def assignedCellCos(e: Column): Column = {
    val arr = array(IvfPinned.centroids.zipWithIndex.map { case (c, i) =>
      val cn2 = c.map(x => x * x).sum
      struct(
        (lit(cn2) - lit(2.0) * dot(e, typedLit(c))).as("d"),
        lit(i).as("cell"),
        round(dot(e, typedLit(c)) / (norm(e) * lit(math.sqrt(cn2))) * lit(1e6), 0)
          .cast("long").as("cos_ppm"))
    }: _*)
    element_at(sort_array(arr), 1)
  }

  /** DuckDB replication of the x145 rollup: the x17 pinned-centroid
    * VALUES table and k=1 assignment verbatim, then the cosine to the
    * assigned centroid rounded to integer ppm (the same ROUND(x·10⁶)
    * both engines compute on the identical double — the x17 cos
    * precedent), and a purely integer census. The mean offsets by +10⁶
    * before the floor division so both engines divide non-negative
    * operands (cos can be negative; `div` vs `//` need not agree on
    * negative dividends). */
  private val x145Oracle: String = ivfChainSql +
    s"""cosv AS (
      |  SELECT a.cell,
      |    CAST(ROUND(
      |      list_sum(list_transform(range(1, 65),
      |        i -> CAST(e.embedding[i] AS DOUBLE) * ct.centroid[i]))
      |      / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * sqrt(ct.cn2)) * 1000000.0, 0) AS BIGINT) AS cos_ppm
      |  FROM assign a JOIN embeddings e USING (vec_id) JOIN ct ON ct.cell = a.cell)
      |SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  CAST(CAST(SUM(cos_ppm + 1000000) AS BIGINT) // COUNT(*) - 1000000 AS BIGINT) AS mean_cos_ppm,
      |  CAST(MIN(cos_ppm) AS BIGINT) AS min_cos_ppm,
      |  CAST(SUM(CASE WHEN cos_ppm < $outlierTauPpm THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  CAST(SUM(CASE WHEN cos_ppm < $outlierTauPpm THEN 1 ELSE 0 END) * 1000000
      |       // COUNT(*) AS BIGINT) AS outlier_ppm
      |FROM cosv GROUP BY cell ORDER BY cell""".stripMargin

  /** x145: per-cell embedding OUTLIER census over the pinned IVF index —
    * the embedding-QUALITY read that completes the index-health triptych:
    * x65 reads label purity (is the cell semantically coherent?), x126/
    * x127 read recall (does the probe find what brute force finds?), and
    * this reads GEOMETRY (how far do a cell's members sit from their own
    * centroid?). A cell whose mean cosine-to-centroid sags or whose
    * outlier rate climbs is where garbage embeddings pool (failed
    * encodes, wrong-modality rows, drift since training) — and outliers
    * are exactly the vectors IVF serves worst, since they sit near cell
    * boundaries where nProbe misses; the census names the cells to
    * re-encode or re-train first (the x68 refresh decision, fed by
    * measurement instead of suspicion).
    *
    * Exactness: assignment is x17's literal-centroid argmin verbatim; the
    * ONE float step per row is the cosine to that centroid, immediately
    * rounded to integer ppm (the x17 ROUND-cos precedent: identical
    * double arithmetic both engines, then BIGINT end to end). The mean
    * offsets by +10⁶ so the floor division never sees a negative
    * dividend (engine `div` and DuckDB `//` agree on non-negatives).
    *
    * Plan/scale: ONE corpus map against broadcast literals (assignment +
    * cosine fused in one sorted-struct expression, no centroid join),
    * then a grouped aggregate straight to ≤ nCells rows. At 100 TB the
    * only corpus-sized work is the map pass — same plan as x65. */
  val annOutlierCensus = sql("x145_ann_outlier_census", x145Oracle) { (s, d) =>
    annOutlierCensusOf(Tables.embeddings(s, d)).orderBy("cell")
  }

  /** The mergeable per-cell outlier-stat fold behind x145 — counts, the
    * offset cosine sum, the min, and the under-τ count are ALL monoids
    * (≤ nCells groups), so this exact aggregate serves as the batch body
    * AND as streaming update-mode state
    * ([[graft.streaming.EmbStream.outlierCensusUpdates]] — shared
    * verbatim, the cellCensusStatsOf precedent). */
  def outlierStatsOf(emb: DataFrame): DataFrame =
    emb.withColumn("b", assignedCellCos(col("embedding")))
      .select(col("b.cell").as("cell"), col("b.cos_ppm").as("cos_ppm"))
      .groupBy("cell").agg(
        count(lit(1)).as("n_vecs"),
        sum(col("cos_ppm") + lit(1000000L)).as("sum_off"),
        min("cos_ppm").as("min_cos_ppm"),
        sum(when(col("cos_ppm") < lit(outlierTauPpm), 1L).otherwise(0L)).as("n_outliers"))

  /** x145's engine over any (vec_id, embedding) frame. outlier_ppm routes
    * through [[TextQueries.guardedPpm]] (r17 review convention: every ppm
    * multiply carries the x137-style overflow guard). mean_cos_ppm's
    * `sum_off` needs no guard by operand bound: each row contributes ≤
    * 2·10⁶ to the sum, so overflow needs > 4.6·10¹² vectors in ONE cell —
    * and the sum itself, not a later multiply, would be the overflow
    * site, raising Spark's own ANSI sum-overflow error. */
  def annOutlierCensusOf(emb: DataFrame): DataFrame =
    outlierStatsOf(emb)
      .withColumn("mean_cos_ppm", expr("sum_off div n_vecs - CAST(1000000 AS BIGINT)"))
      .withColumn("outlier_ppm",
        TextQueries.guardedPpm("x145 outlier_ppm", col("n_outliers"), col("n_vecs")))
      .select("cell", "n_vecs", "mean_cos_ppm", "min_cos_ppm", "n_outliers", "outlier_ppm")

  /** Exact embedding-cosine near-dup, incremental-ingest shape: the 50
    * newest vectors (the "incoming batch") are checked against everything
    * before them (and each other). The batch side is broadcast; the corpus
    * is scanned once and never shuffled — the exact-dedup plan that scales
    * with corpus × batch, not corpus². Full-corpus all-pairs is the LSH
    * variant (x21). τ=0.30 suits the synthetic embeddings (no planted
    * duplicates; max pairwise cosine ≈ 0.51). */
  val dedupEmbedding = sql(
    "x20_dedup_embedding",
    s"""WITH m AS (SELECT max(vec_id) AS mx FROM embeddings),
      |b AS (SELECT vec_id AS id_b, embedding AS eb FROM embeddings, m WHERE vec_id > mx - 50),
      |p AS (SELECT a.vec_id AS id_a, id_b,
      |  ${cosSql("a.embedding", "eb")} AS cos
      |  FROM embeddings a JOIN b ON a.vec_id < id_b)
      |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.30 ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    // Norms are per-ROW, so compute them before the pair join — one fold per
    // vector instead of one per pair (same arithmetic, 3× fewer HOF folds;
    // the oracle's inline form produces identical doubles).
    val emb = Tables.embeddings(s, d).withColumn("nrm", norm(col("embedding")))
    val batch = emb.crossJoin(broadcast(emb.agg(max("vec_id").as("mx"))))
      .filter(col("vec_id") > col("mx") - 50)
      .select(col("vec_id").as("id_b"), col("embedding").as("eb"), col("nrm").as("nrm_b"))
    emb.join(broadcast(batch), col("vec_id") < col("id_b"))
      .withColumn("cos",
        round(dot(col("embedding"), col("eb")) / (col("nrm") * col("nrm_b")), 6))
      .filter(col("cos") >= 0.30)
      .select(col("vec_id").as("id_a"), col("id_b"), col("cos"))
      .orderBy("id_a", "id_b")
  }

  /** Banded sign-LSH near-dup pairs over the WHOLE corpus — the scale path
    * for embedding-cosine dedup (x20's exact plan is corpus×batch; all-pairs
    * exact would be corpus²). `bands`×`bitsPerBand` hyperplane sign bits;
    * candidate pairs agree on at least one full band (equi-join on the band
    * value, work ∝ collision density); exact cosine verifies candidates, so
    * precision is 1.0 and only recall is approximate (tune bands/bits:
    * P(candidate) = 1-(1-p^bits)^bands, p = 1-θ/π). Recall is gated on
    * planted duplicates in SimilaritySpec. */
  def embeddingNearDupPairs(emb: DataFrame, tau: Double,
      bands: Int = 4, bitsPerBand: Int = 8): DataFrame = {
    val planes = signPlanes(bands * bitsPerBand, seedOffset = 101L)
    def bandVal(b: Int): Column =
      signBits(col("embedding"), planes.slice(b * bitsPerBand, (b + 1) * bitsPerBand))
    // id→band table: the only thing the self-join shuffles (ids + small ints,
    // never the vectors); GC-scoped materialization, both join sides read it.
    val banded = emb.select(col("vec_id"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), bandVal(b).as("bv"))): _*)).as("x"))
      .select(col("vec_id"), col("x.band"), col("x.bv"))
      .localCheckpoint(eager = false)
    val cand = banded.as("l").join(banded.as("r"), Seq("band", "bv"))
      .filter(col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("id_a"), col("r.vec_id").as("id_b"))
      .distinct()
    // fetch vectors (with precomputed per-row norms — one fold per vector,
    // not per candidate pair) only for surviving candidates, verify exactly
    val withNorm = emb.withColumn("nrm", norm(col("embedding")))
    cand
      .join(withNorm.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
        col("nrm").as("na")), Seq("id_a"))
      .join(withNorm.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
        col("nrm").as("nb")), Seq("id_b"))
      .withColumn("cos", round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= tau)
      .select("id_a", "id_b", "cos")
  }

  /** DuckDB replication of x21's banded sign-LSH (the x13 technique,
    * extended to bands): the engine's band value for band b is bits
    * [8b, 8b+8) of a 32-plane signature — `signBits` over
    * `planes.slice(8b, 8b+8)` shifts bit j by j, so packing ALL 32 sign
    * bits into one BIGINT and extracting `(sig >> 8b) & 255` is the
    * identical integer. The oracle computes that one signature per vector
    * (plane dots via the same sequential list_sum fold that hash-matched
    * for x13/x20), unnests the 4 band values, equi-joins on (band, value),
    * and exact-cosine-verifies candidates — arithmetic-for-arithmetic the
    * engine plan, so the hash match covers banding AND verification. */
  private val x21Planes = signPlanes(4 * 8, seedOffset = 101L)
  private val x21Oracle: String = {
    // planes as a VALUES table, not an inline literal: DuckDB re-constructs
    // an inline list literal per element evaluation (measured ~90× slower
    // at 32×64); a CROSS JOIN against 32 plane rows folds each dot once
    val planeRows = x21Planes.zipWithIndex
      .map { case (p, j) => s"($j, ${p.mkString("[", ",", "]")})" }
      .mkString(",\n")
    s"""WITH pl(j, plane) AS (VALUES $planeRows),
      |dots AS (
      |  SELECT e.vec_id, p.j,
      |    list_sum(list_transform(range(1, 65),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * p.plane[i])) AS d
      |  FROM embeddings e CROSS JOIN pl p),
      |c AS (
      |  SELECT vec_id,
      |    CAST(SUM(CASE WHEN d > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS sig
      |  FROM dots GROUP BY vec_id),
      |bands AS (
      |  SELECT vec_id, b.band, (sig >> (8 * b.band)) & 255 AS bv
      |  FROM c, (SELECT unnest([0, 1, 2, 3]) AS band) b),
      |cand AS (
      |  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
      |  FROM bands l JOIN bands r ON l.band = r.band AND l.bv = r.bv
      |  WHERE l.vec_id < r.vec_id),
      |p AS (
      |  SELECT id_a, id_b,
      |    ${cosSql("a.embedding", "bb.embedding")} AS cos
      |  FROM cand
      |  JOIN embeddings a ON a.vec_id = cand.id_a
      |  JOIN embeddings bb ON bb.vec_id = cand.id_b)
      |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.30 ORDER BY id_a, id_b""".stripMargin
  }

  /** x21: the banded-LSH near-dup pairs on the testdata corpus. Recall is
    * probabilistic by design (planted-duplicate gate in SimilaritySpec);
    * the RESULT is deterministic arithmetic, hash-checked against the
    * DuckDB replication above. */
  val dedupEmbLsh = sql("x21_dedup_emb_lsh", x21Oracle) { (s, d) =>
    embeddingNearDupPairs(Tables.embeddings(s, d), tau = 0.30)
      .orderBy("id_a", "id_b")
  }

  /** Symmetric int8 quantization per vector (x * 127 / max|x|, truncated
    * toward zero) — the 4× vector-compression step ANN systems run before
    * indexing at scale. Truncation, not rounding: round-half behavior
    * differs subtly across engines, truncation never does. Row-local; the
    * per-vector max is aliased once (withColumn) so the HOF lambdas
    * reference an attribute instead of splicing the max-subtree per
    * element. Output is a driver-hashable digest of the code array. */
  val embQuantize = sql(
    "x33_emb_quantize",
    """WITH q AS (SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS m
      |  FROM embeddings),
      |c AS (SELECT vec_id, m,
      |    list_transform(embedding, y -> CASE WHEN m = 0 THEN 0
      |      ELSE CAST(trunc(CAST(y AS DOUBLE) * 127 / m) AS BIGINT) END) AS codes
      |  FROM q)
      |SELECT vec_id, CAST(len(codes) AS INTEGER) AS n_dims, ROUND(m, 6) AS scale_max,
      |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
      |  CAST(list_min(codes) AS BIGINT) AS code_min,
      |  CAST(list_max(codes) AS BIGINT) AS code_max
      |FROM c ORDER BY vec_id""".stripMargin) { (s, d) =>
    Tables.embeddings(s, d)
      .withColumn("m", array_max(transform(col("embedding"), y => abs(y.cast("double")))))
      .withColumn("codes", transform(col("embedding"), y =>
        when(col("m") === 0, 0L)
          .otherwise((y.cast("double") * 127 / col("m")).cast("long"))))
      .select(col("vec_id"), size(col("codes")).as("n_dims"),
        round(col("m"), 6).as("scale_max"),
        aggregate(col("codes"), lit(0L), (a, x) => a + x).as("code_sum"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"))
      .orderBy("vec_id")
  }

  /** x39: embedding-level benchmark decontamination — the semantic twin of
    * x35 (which matches exact token spans): flag corpus vectors whose
    * cosine to ANY benchmark vector clears a threshold, catching
    * paraphrased/reformatted contamination that token matching misses. A
    * deterministic id split (vec_id ≡ 0 mod 50) models the benchmark set.
    *
    * Scale shape (same stance as x12/x20/x35): the benchmark side is
    * thousands of vectors → broadcast; the corpus is scanned once and
    * NEVER shuffled (plan-asserted). Aggregation to (n_hits, max_cos) is
    * per-corpus-row local after the broadcast join. Ranking/threshold on
    * the ROUNDED cosine so both engines compare identical values. */
  val simContamination = sql(
    "x39_sim_contamination",
    s"""WITH bench AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
      |corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 <> 0),
      |scored AS (
      |  SELECT c.vec_id, b.vec_id AS bench_id,
      |    ${cosSql("c.embedding", "b.embedding")} AS cos
      |  FROM corp c CROSS JOIN bench b)
      |SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_hits, MAX(cos) AS max_cos
      |FROM scored WHERE cos >= 0.30
      |GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val bench = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("bench_id"), col("embedding").as("b_emb"))
    emb.filter(col("vec_id") % 50 =!= 0)
      .crossJoin(broadcast(bench))
      .withColumn("cos", round(cosine(col("embedding"), col("b_emb")), 6))
      .filter(col("cos") >= 0.30)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_hits"), max("cos").as("max_cos"))
      .orderBy("vec_id")
  }

  /** The PQ code of `e`'s s0-th sub-vector: argmin over the subspace
    * codebook of the IVF score |c|² − 2·(x_s·c) (monotone in ‖x_s−c‖², the
    * nearestCellsBy precedent), tie-broken lower code. Row-local codegen
    * over literal sub-centroids — encoding never touches MLlib. */
  private def pqCodeOf(cb: Seq[Seq[Double]], s0: Int)(e: Column): Column =
    element_at(slice(sort_array(array(cb.zipWithIndex.map { case (c, i) =>
      val cn2 = c.map(x => x * x).sum
      struct((lit(cn2) - lit(2.0) * dot(
        slice(e, s0 * PqPinned.subDim + 1, PqPinned.subDim), typedLit(c))).as("d"),
        lit(i).as("code"))
    }: _*)), 1, 1)("code"), 1)

  /** The query-side ADC lookup table: lut(s)(c) = q_s · codebook(s)(c) —
    * nSub×nCodes doubles computed once per query row from the literal
    * codebooks, so per-pair scoring is pure table lookups. */
  private def pqLut(e: Column): Column = array((0 until PqPinned.nSub).map { s0 =>
    array(PqPinned.codebooks(s0).map(c =>
      dot(slice(e, s0 * PqPinned.subDim + 1, PqPinned.subDim), typedLit(c))): _*)
  }: _*)

  /** The pinned PQ codebooks as a DuckDB VALUES table (s, code, |c|²,
    * centroid) — the ivfCtRows precedent at sub-vector granularity. */
  private lazy val pqCbRows: String = PqPinned.codebooks.zipWithIndex.flatMap {
    case (cb, s0) => cb.zipWithIndex.map { case (c, code) =>
      val cn2 = c.map(x => x * x).sum
      s"($s0, $code, ${fmtD(cn2)}, ${c.map(fmtD).mkString("[", ",", "]")})"
    }
  }.mkString(",\n")

  /** ADC shortlist size before the exact rerank: 5× the final k. Measured
    * on the shipped corpus: recall@5 vs brute = 0.28 ranking by raw ADC,
    * 0.64 after reranking the 25-deep shortlist exactly (0.78 at 50 —
    * diminishing returns; 25 holds the x17-convention ≥ 0.6 floor). */
  private val pqShortlist = 25

  /** DuckDB replication of x68: the x17 assignment/probe CTEs (same pinned
    * IVF index), per-sub encoding as an argmin over the pq VALUES table,
    * and ADC terms summed in SUBSPACE ORDER via `list(term ORDER BY s)` →
    * `list_sum` — a deterministic left fold matching the engine's
    * sequential `aggregate` over the code array (a bare SUM() would leave
    * the float addition order to the planner). */
  private val x68Oracle: String = ivfChainSql +
    s"""cb(s, code, cn2, centroid) AS (VALUES
      |$pqCbRows),
      |subscores AS (
      |  SELECT e.vec_id, cb.s, cb.code,
      |    cb.cn2 - 2.0 * list_sum(list_transform(range(1, ${PqPinned.subDim + 1}),
      |      i -> CAST(e.embedding[${PqPinned.subDim} * cb.s + i] AS DOUBLE) * cb.centroid[i])) AS d
      |  FROM embeddings e CROSS JOIN cb),
      |codes AS (
      |  SELECT vec_id, s, code FROM (
      |    SELECT vec_id, s, code,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS rn
      |    FROM subscores) x WHERE rn = 1),
      |terms AS (
      |  SELECT p.q_id, a.vec_id, c.s,
      |    list_sum(list_transform(range(1, ${PqPinned.subDim + 1}),
      |      i -> CAST(eq.embedding[${PqPinned.subDim} * c.s + i] AS DOUBLE) * cb.centroid[i])) AS term
      |  FROM assign a JOIN probes p USING (cell)
      |  JOIN codes c ON c.vec_id = a.vec_id
      |  JOIN cb ON cb.s = c.s AND cb.code = c.code
      |  JOIN embeddings eq ON eq.vec_id = p.q_id
      |  WHERE a.vec_id <> p.q_id),
      |adc AS (
      |  SELECT q_id, vec_id, ROUND(list_sum(list(term ORDER BY s)), 6) AS adc
      |  FROM terms GROUP BY q_id, vec_id),
      |shortlist AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc DESC, vec_id) AS rn
      |    FROM adc) z WHERE rn <= $pqShortlist),
      |rer AS (
      |  SELECT sl.q_id, sl.vec_id,
      |    ${cosSql("ec.embedding", "eq.embedding")} AS cos
      |  FROM shortlist sl JOIN embeddings ec ON ec.vec_id = sl.vec_id
      |  JOIN embeddings eq ON eq.vec_id = sl.q_id),
      |${top5Sql("rer")}""".stripMargin

  /** x68: IVF-PQ top-k — the compressed-vector end state of the ANN ladder
    * (x12 exact scan → x13 LSH buckets → x17 IVF cells → this). Corpus
    * vectors are product-quantized to nSub=8 codes against the PINNED
    * per-subspace codebooks (PqPinned; 8 small ints ≈ 8 bytes vs 256 bytes
    * of floats — the 32× that lets a billion-vector index live in RAM);
    * queries stay exact and score candidates asymmetrically (ADC): adc =
    * Σ_s lut[s][code_s] where lut is the query's per-subspace dot table
    * against the codebooks. Candidates come from the same pinned-IVF
    * nProbe-cell probe as x17, and the ADC top-[[pqShortlist]] is reranked
    * with EXACT cosine — the textbook two-stage IVF-PQ retrieval layout
    * (Jégou et al. 2011: coarse quantizer → ADC scan → rerank).
    *
    * Scale stance: encoding is a row-local codegen argmin over literal
    * sub-centroids (no training, no collect at query time; a production
    * deployment materializes the codes column once, like saveBandIndex);
    * the probe is the x17 cell equi-join with the BROADCAST query side and
    * the scored payload per corpus row is the 8-code array — the CHEAP
    * scan never carries raw vectors, and full floats are fetched only for
    * the ≤ queries×shortlist rerank rows (broadcast back against the
    * corpus, which again does not shuffle). Recall vs exact brute is gated
    * in SimilaritySpec; the RESULT is deterministic arithmetic,
    * hash-checked against the DuckDB replication above. */
  /** The PQ corpus encoding (vec_id, cell, codes) — the 8-bytes-per-vector
    * compressed index. [[savePqIndex]] persists exactly this frame; the
    * x68 query computes it inline so the two can never drift. */
  def pqCorpusCodes(emb: DataFrame): DataFrame = emb
    .withColumn("cell", nearestCellBy(IvfPinned.centroids)(col("embedding")))
    .withColumn("codes", array((0 until PqPinned.nSub).map(s0 =>
      pqCodeOf(PqPinned.codebooks(s0), s0)(col("embedding"))): _*))
    .select("vec_id", "cell", "codes")

  /** ADC shortlist over an encoded corpus: probe the pinned-IVF cells and
    * rank by the query LUT fold, top-[[pqShortlist]] per query. `queries`
    * is any (q_id, q_emb) frame; `codes` is [[pqCorpusCodes]] or a
    * [[savePqIndex]] artifact read back — the probe touches NOTHING else,
    * which is the whole deployment point (the codes table is 32× smaller
    * than the corpus and lives in memory). */
  def pqShortlistOf(codes: DataFrame, queries: DataFrame,
      shortlist: Int = pqShortlist): DataFrame = {
    val probes = queries.select(col("q_id"), pqLut(col("q_emb")).as("lut"),
      explode(nearestCellsBy(IvfPinned.centroids)(col("q_emb"), x17NProbe)).as("cell"))
    val wAdc = Window.partitionBy("q_id").orderBy(desc("adc"), col("vec_id"))
    codes.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc", round(aggregate(
        zip_with(col("codes"), col("lut"), (c, t) => element_at(t, c + 1)),
        lit(0.0), (a, x) => a + x), 6))
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= shortlist)
      .select("q_id", "vec_id", "adc")
  }

  /** Persist the PQ index artifact — encode once, probe forever (the
    * saveIvfIndex/saveBandIndex contract for the codes table). */
  def savePqIndex(s: SparkSession, d: String, path: String): Unit =
    graft.sources.Sinks.parquet(pqCorpusCodes(Tables.embeddings(s, d)), path)

  /** ADC shortlist reading ONLY a [[savePqIndex]] artifact — no corpus
    * access (IndexDurabilitySpec proves it with a bogus corpus dir).
    * Rerank is intentionally out of scope here: exact vectors live with
    * the corpus, and a deployment reranks against that store. */
  def pqShortlistFromIndex(s: SparkSession, queries: DataFrame,
      path: String): DataFrame =
    pqShortlistOf(Tables.parquet(s, path), queries)

  /** APPEND newly accepted vectors to a [[savePqIndex]] artifact — the
    * ingest-side maintenance verb completing the PQ lifecycle (build →
    * probe → append), mirroring [[graft.queries.TextQueries.appendToMinhashIndex]]:
    * the batch is encoded row-locally against the PINNED centroids and
    * codebooks (no retrain, no corpus re-encode — write cost ∝ batch) and
    * lands as new files the next [[pqShortlistFromIndex]] probe reads
    * automatically. Codebook staleness is a quality concern, not a
    * correctness one: appended codes quantize exactly like a full
    * rebuild's would (IndexDurabilitySpec asserts bit-identity), and the
    * periodic re-pin (`PqPin`) remains the refresh path. */
  def appendToPqIndex(accepted: DataFrame, indexPath: String): Unit =
    pqCorpusCodes(accepted).write.mode("append").parquet(indexPath)

  val simPqTopk = sql("x68_pq_topk", x68Oracle) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val qExact = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val shortlist = pqShortlistOf(pqCorpusCodes(emb), qExact)
      .select("q_id", "vec_id")
    // exact rerank: full vectors touch only the ≤ queries×shortlist rows
    cosTopk(emb.join(broadcast(shortlist), Seq("vec_id")).join(broadcast(qExact), Seq("q_id")))
  }

  /** SemDeDup duplicate threshold — same τ as x20/x21 (the shipped corpus
    * is isotropic with max pairwise cosine ≈ 0.51, so 0.30 yields a real
    * but minority duplicate set). */
  val x67Tau = 0.30

  /** DuckDB replication of x67: the x65 pinned-centroid assignment CTE,
    * then within-cell pairs (equi-join on cell) with the x20/x21 cosine
    * recipe, MAX of the per-pair ROUNDED cosines per later id, and the
    * threshold flag. Every float step reuses an already-hash-proven
    * arithmetic chain (assignment = x17/x65, cosine = x20/x21, round-then-
    * max = x39's precedent). */
  private val x67Oracle: String = ivfChainSql +
    s"""pairs AS (
      |  SELECT lb.vec_id AS id_b,
      |    ${cosSql("ea.embedding", "eb.embedding")} AS cos
      |  FROM assign la JOIN assign lb ON la.cell = lb.cell AND la.vec_id < lb.vec_id
      |  JOIN embeddings ea ON ea.vec_id = la.vec_id
      |  JOIN embeddings eb ON eb.vec_id = lb.vec_id),
      |mx AS (SELECT id_b AS vec_id, MAX(cos) AS m FROM pairs GROUP BY id_b)
      |SELECT a.vec_id, a.cell,
      |  COALESCE(m.m, -1.0) AS max_prior_cos,
      |  CAST(CASE WHEN COALESCE(m.m, -1.0) >= $x67Tau THEN 1 ELSE 0 END AS INT) AS is_dup
      |FROM assign a LEFT JOIN mx m ON m.vec_id = a.vec_id
      |ORDER BY a.vec_id""".stripMargin

  /** x67: SemDeDup — semantic dedup scoped to the pinned IVF cells
    * (Abbas et al. 2023: cluster the corpus, compare pairs only WITHIN a
    * cluster, drop a point when an earlier same-cluster point is more
    * similar than τ). This is the embedding-space analog of x51's dedup
    * manifest: one row per vector with its cell, the max cosine against
    * earlier same-cell vectors (−1 when it has none), and the keep/drop
    * flag. Non-transitive greedy-by-id semantics exactly as the paper's
    * upper-triangular max.
    *
    * Scale stance: the whole point of the cell scoping is that pairwise
    * work is Σ|cell|², never corpus² — assignment is the same row-local
    * literal-centroid argmin as x17/x65 (no training, no collect), the
    * pair join is an EQUI-join on cell (shuffles each side once, keyed by
    * a small int; PlanQualitySpec pins no-cartesian), and the final max
    * is a partial-aggregated groupBy on vec_id. A production run at 100 TB
    * raises k so cells stay bounded (k ~ n/20k in the paper), which only
    * changes the literal table; the plan is unchanged. */
  /** The cell-scoped SemDeDup engine over any (vec_id, cell, embedding)
    * frame — x67's plan, parameterized so `Ladder ann` can drive it with
    * SCALED cell counts (the production contract: k grows with n so cells
    * stay bounded and pairwise work stays Σ|cell|² ≈ linear). Unsorted;
    * the registry query adds its deterministic ORDER BY. */
  def semanticDedupOf(cellAssigned: DataFrame, tau: Double): DataFrame = {
    val assign = cellAssigned
      .withColumn("nrm", norm(col("embedding")))
      .select("vec_id", "cell", "embedding", "nrm")
      .localCheckpoint(eager = false) // 3 consumers; don't re-run the argmin
    val l = assign.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val r = assign.select(col("cell"), col("vec_id").as("id_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val mx = l.join(r, Seq("cell")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .groupBy(col("id_b").as("vec_id")).agg(max("cos").as("m"))
    assign.select("vec_id", "cell")
      .join(mx, Seq("vec_id"), "left")
      .withColumn("max_prior_cos", coalesce(col("m"), lit(-1.0)))
      .withColumn("is_dup", when(col("max_prior_cos") >= tau, 1).otherwise(0))
      .select("vec_id", "cell", "max_prior_cos", "is_dup")
  }

  val semanticDedup = sql("x67_semantic_dedup", x67Oracle) { (s, d) =>
    semanticDedupOf(
      Tables.embeddings(s, d).withColumn("cell",
        nearestCellBy(IvfPinned.centroids)(col("embedding"))),
      x67Tau)
      .orderBy("vec_id")
  }

  /** Pinned ±1 sign for the x100 projection matrix: first md5 byte parity
    * of "rp:i:j". Computed ONCE at plan build in Scala and embedded as
    * LITERALS in both the Spark expression tree and the oracle SQL — the
    * IvfPinned stance applied to a sign matrix, which makes cross-engine
    * agreement a non-question (no portable-hash contract needed). */
  private def rpSign(i: Int, j: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp:$i:$j".getBytes("UTF-8"))
    if ((d(0) & 1) == 0) 1.0 else -1.0
  }
  private val rpK = 8

  /** x100: Johnson-Lindenstrauss random projection 64 → 8 dims with the
    * Achlioptas ±1 sign matrix (database-friendly JL: signs, not
    * gaussians — the fold is adds/subtracts only). The cheap front half
    * of every embedding pipeline that can't afford full-width distance
    * math: pairwise distances survive within (1±ε) whp, so coarse
    * filtering/bucketing runs at k/d = 1/8 the bandwidth and the
    * full-width kernel only sees survivors (same shortlist-then-rerank
    * shape as x68). Entirely row-local codegen'd HOF folds — zero
    * shuffles beyond the presentation sort; the fold order is pinned
    * (`aggregate` left-to-right ≡ the oracle's ordered
    * `list_sum ∘ list_transform`, the x11 precedent), and 1/√k is the
    * standard JL scale. */
  val embRandomProjection: QueryDef = {
    val sqlCols = (0 until rpK).map { j =>
      val lits = (0 until 64).map(i =>
        if (rpSign(i, j) > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"""  ROUND(list_sum(list_transform(range(1, 65),
         |    i -> CAST(embedding[i] AS DOUBLE) * ($lits)[i])) / sqrt(8.0), 6) AS p$j"""
        .stripMargin
    }.mkString(",\n")
    sql(
      "x100_emb_rproj",
      s"""SELECT vec_id,
$sqlCols
FROM embeddings ORDER BY vec_id""") { (s, d) =>
      def proj(j: Int): Column = {
        val sarr = array((0 until 64).map(i => lit(rpSign(i, j))): _*)
        round(aggregate(sequence(lit(1), lit(64)), lit(0.0),
          (acc, i) => acc + element_at(col("embedding"), i).cast("double")
            * element_at(sarr, i)) / sqrt(lit(8.0)), 6).as(s"p$j")
      }
      Tables.embeddings(s, d)
        .select(col("vec_id") +: (0 until rpK).map(proj): _*)
        .orderBy("vec_id")
    }
  }

  /** x109: embedding COHORT DRIFT — per-label centroid vs the global
    * centroid (cosine alignment + L2 shift), the embedding-space analogue
    * of x88's value-distribution drift monitor: a training-data curator
    * reads it to see which cohort's representation has wandered from the
    * corpus mean (collection skew, encoder drift, poisoned slice).
    *
    * Cross-engine float determinism is the whole design: per-group FLOAT
    * sums are order-dependent (partial aggregation), so every cross-row
    * aggregate here is an EXACT INTEGER — components quantize to
    * floor(x·10⁶) micro-units (floor, not round: no tie semantics to
    * gamble on), per-(label, dim) sums are BIGINT, and the quadratic
    * forms (dot, norms, shift numerator) accumulate DECIMAL(38,0) /
    * HUGEINT products of those sums — order-free in both engines, the
    * x69/x98 integer-exactness move. Doubles appear only in per-label
    * SINGLE-value math (one cosine, one sqrt per label), which is
    * deterministic, then ROUND(…, 6).
    *
    * Cosine of centroid SUMS equals cosine of centroid MEANS (scale
    * invariance), so no division precedes the quadratic forms; the L2
    * shift clears denominators the same way: d_i = sl_i·ng − sg_i·nl is
    * exact, and ‖shift‖ = √(Σd_i²)/(10⁶·nl·ng).
    *
    * Scale stance: ONE corpus scan → posexplode → (label, dim) partial
    * aggregation (64·n rows collapse map-side to labels×64); the global
    * sums DERIVE from the label sums (no second scan), and everything
    * after the first aggregate is labels×64 ≈ 640 rows of broadcast-sized
    * arithmetic. At 100 TB this is scan-bound, exactly like x10. */
  val embLabelDrift = sql(
    "x109_emb_label_drift",
    """WITH q AS (
      |  SELECT label, u.i AS i,
      |    CAST(floor(CAST(embedding[CAST(u.i AS INTEGER) + 1] AS DOUBLE) * 1000000) AS BIGINT) AS xq
      |  FROM embeddings, range(64) u(i)),
      |ls AS (SELECT label, i, SUM(xq)::BIGINT AS sl FROM q GROUP BY label, i),
      |nl AS (SELECT label, COUNT(*)::BIGINT AS nl FROM embeddings GROUP BY label),
      |gs AS (SELECT i, SUM(sl)::BIGINT AS sg FROM ls GROUP BY i),
      |ng AS (SELECT SUM(nl)::BIGINT AS ng FROM nl),
      |terms AS (
      |  SELECT l.label,
      |    SUM(l.sl::HUGEINT * g.sg::HUGEINT) AS dot,
      |    SUM(l.sl::HUGEINT * l.sl::HUGEINT) AS ll,
      |    SUM(g.sg::HUGEINT * g.sg::HUGEINT) AS gg,
      |    SUM((l.sl::HUGEINT * n2.ng::HUGEINT - g.sg::HUGEINT * n1.nl::HUGEINT)
      |      * (l.sl::HUGEINT * n2.ng::HUGEINT - g.sg::HUGEINT * n1.nl::HUGEINT)) AS dd
      |  FROM ls l JOIN gs g USING (i) JOIN nl n1 USING (label) CROSS JOIN ng n2
      |  GROUP BY l.label)
      |SELECT t.label, n1.nl AS n_vecs,
      |  ROUND(CAST(t.dot AS DOUBLE) / (sqrt(CAST(t.ll AS DOUBLE)) * sqrt(CAST(t.gg AS DOUBLE))), 6) AS cos_to_global,
      |  ROUND(sqrt(CAST(t.dd AS DOUBLE)) / (1000000.0 * CAST(n1.nl AS DOUBLE) * CAST(n2.ng AS DOUBLE)), 6) AS l2_shift
      |FROM terms t JOIN nl n1 USING (label) CROSS JOIN ng n2
      |ORDER BY label""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val q = emb.select(col("label"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("label"), col("i"),
        floor(col("x").cast("double") * 1000000).cast("long").as("xq"))
    // labels×64 / labels-sized: checkpoint so the gs/ng derivations reuse
    // these rows instead of re-scanning + re-exploding the corpus (the
    // bpeBests move — without it the plan reads the embedding column twice)
    val ls = q.groupBy("label", "i").agg(sum("xq").as("sl"))
      .localCheckpoint(eager = false)
    val nl = emb.groupBy("label").agg(count(lit(1)).as("nl"))
      .localCheckpoint(eager = false)
    val gs = ls.groupBy("i").agg(sum("sl").as("sg"))
    val ng = nl.agg(sum("nl").as("ng"))
    val dec = "decimal(38,0)"
    val dT = col("sl").cast(dec) * col("ng").cast(dec) -
      col("sg").cast(dec) * col("nl").cast(dec)
    val terms = ls.join(broadcast(gs), Seq("i"))
      .join(broadcast(nl), Seq("label"))
      .crossJoin(broadcast(ng))
      .select(col("label"), col("nl"), col("ng"),
        (col("sl").cast(dec) * col("sg").cast(dec)).as("dot_t"),
        (col("sl").cast(dec) * col("sl").cast(dec)).as("ll_t"),
        (col("sg").cast(dec) * col("sg").cast(dec)).as("gg_t"),
        (dT * dT).as("dd_t"))
      .groupBy("label", "nl", "ng")
      .agg(sum("dot_t").as("dot"), sum("ll_t").as("ll"),
        sum("gg_t").as("gg"), sum("dd_t").as("dd"))
    terms.select(col("label"), col("nl").as("n_vecs"),
        round(col("dot").cast("double")
          / (sqrt(col("ll").cast("double")) * sqrt(col("gg").cast("double"))), 6)
          .as("cos_to_global"),
        round(sqrt(col("dd").cast("double"))
          / (lit(1000000.0) * col("nl").cast("double") * col("ng").cast("double")), 6)
          .as("l2_shift"))
      .orderBy("label")
  }

  /** DuckDB replication of the x126 sweep: the shared [[ivfChainSql]],
    * whose probe rank `pos` makes each nprobe's candidate set
    * `pos <= nprobe`, exact top-5 by x12's
    * brute recipe, LEFT join so a zero-recall rung still emits its row.
    * Ends in a `sweep` CTE so x127's operating-point oracle extends the
    * SAME chain instead of duplicating it. */
  private val x126SweepChain: String = ivfChainSql +
    s"""np(nprobe) AS (VALUES (1), (2), (4), (8)),
      |cand AS (
      |  SELECT p.q_id, a.vec_id, p.pos,
      |    ${cosSql("ec.embedding", "eq.embedding")} AS cos
      |  FROM assign a JOIN probes p USING (cell)
      |  JOIN embeddings ec ON ec.vec_id = a.vec_id
      |  JOIN embeddings eq ON eq.vec_id = p.q_id
      |  WHERE a.vec_id <> p.q_id),
      |ivf5 AS (SELECT nprobe, q_id, vec_id FROM (
      |    SELECT np.nprobe, c.q_id, c.vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY np.nprobe, c.q_id ORDER BY c.cos DESC, c.vec_id) AS rank
      |    FROM cand c JOIN np ON c.pos <= np.nprobe) r WHERE rank <= 5),
      |ex5 AS (SELECT q_id, vec_id FROM (
      |    SELECT eq.vec_id AS q_id, ec.vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY eq.vec_id ORDER BY ${cosSql("ec.embedding", "eq.embedding")} DESC, ec.vec_id) AS rank
      |    FROM embeddings eq JOIN embeddings ec ON ec.vec_id <> eq.vec_id
      |    WHERE eq.vec_id < 10) r WHERE rank <= 5),
      |nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM embeddings WHERE vec_id < 10),
      |sweep AS (
      |  SELECT np.nprobe, nq.n_queries,
      |    CAST(COUNT(h.q_id) AS BIGINT) AS n_hits,
      |    CAST((COUNT(h.q_id) * 1000000) // CAST(nq.n_queries * 5 AS BIGINT) AS BIGINT) AS recall_ppm
      |  FROM np CROSS JOIN nq
      |  LEFT JOIN (SELECT i.nprobe, i.q_id FROM ivf5 i
      |             JOIN ex5 e ON e.q_id = i.q_id AND e.vec_id = i.vec_id) h
      |    ON h.nprobe = np.nprobe
      |  GROUP BY np.nprobe, nq.n_queries)""".stripMargin

  private val x126Oracle: String = x126SweepChain +
    "\nSELECT nprobe, n_queries, n_hits, recall_ppm FROM sweep ORDER BY nprobe"

  /** x127's oracle: the x126 chain + the 90%-of-best selection rule, all
    * in exact BIGINT arithmetic (MAX never widens to HUGEINT; `* 10` and
    * `* 9` stay BIGINT). */
  private val x127Oracle: String = x126SweepChain + """,
    |m AS (SELECT MAX(recall_ppm) AS max_recall_ppm FROM sweep)
    |SELECT s.nprobe, s.n_queries, s.n_hits, s.recall_ppm, m.max_recall_ppm
    |FROM sweep s CROSS JOIN m
    |WHERE s.recall_ppm * 10 >= m.max_recall_ppm * 9
    |ORDER BY s.nprobe LIMIT 1""".stripMargin

  /** x126: the ANN OPERATING CURVE — recall@5 vs exact brute force at
    * nprobe ∈ {1,2,4,8} over the pinned IVF index, in one pass: the
    * sweep table every ANN deployment publishes to pick its
    * latency/recall trade-off (x17 runs the chosen point; this is how the
    * point gets chosen, and the regression canary that catches an index
    * gone stale — recall at the deployed nprobe dropping across releases).
    * Exact integers: hits and floor-div ppm; a zero-recall rung still
    * emits its row (LEFT join).
    *
    * Plan/scale: ONE corpus assignment map (row-local codegen vs literal
    * centroids), candidate generation ONCE at max nprobe (the superset) —
    * each corpus vector lives in exactly one cell, so a candidate appears
    * once with the probe rank `pos` of its cell, and every smaller
    * nprobe's set is the row-local filter `pos < nprobe`, not a rescan;
    * the 4-way nprobe fan-out explodes only the candidate rows
    * (nprobe/nCells of the corpus × |queries|); exact side is x12's
    * broadcast-queries pass. Nothing rescans the corpus per rung. */
  val annRecallSweep = sql("x126_ann_recall_sweep", x126Oracle) { (s, d) =>
    recallSweepOf(Tables.embeddings(s, d), IvfPinned.centroids)
  }

  /** x126's sweep over any (vec_id, embedding) frame and ANY centroid
    * table — factored out so the refresh-and-swap job ([[refreshAnnIndex]])
    * can run the identical audited sweep against a CANDIDATE index before
    * committing it, and so IndexDurabilitySpec can drive it on planted
    * fixtures. Contract unchanged from x126: queries are `vec_id < 10`,
    * recall@5 vs exact brute force, nprobe ∈ {1,2,4,8}. */
  def recallSweepOf(emb: DataFrame, centroids: Seq[Seq[Double]]): DataFrame = {
    val nearestCells = nearestCellsBy(centroids) _
    val corpus = emb.withColumn("cell", nearestCellBy(centroids)(col("embedding")))
    val queriesBase = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probes = queriesBase
      .select(col("q_id"), col("q_emb"),
        posexplode(nearestCells(col("q_emb"), 8)))
      .withColumnRenamed("col", "cell")
    val cand = corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(cosine(col("embedding"), col("q_emb")), 6))
      .select("q_id", "vec_id", "cos", "pos")
    val ivf5 = cand
      .withColumn("nprobe", explode(typedLit(Seq(1, 2, 4, 8))))
      .filter(col("pos") < col("nprobe")) // pos is 0-based probe rank
      .withColumn("rank", row_number().over(
        Window.partitionBy("nprobe", "q_id").orderBy(desc("cos"), col("vec_id"))))
      .filter(col("rank") <= 5)
      .select("nprobe", "q_id", "vec_id")
    val ex5 = emb.crossJoin(broadcast(queriesBase))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(cosine(col("embedding"), col("q_emb")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))))
      .filter(col("rank") <= 5)
      .select("q_id", "vec_id")
    val hits = ivf5.join(ex5, Seq("q_id", "vec_id"))
      .groupBy("nprobe").agg(count(lit(1)).as("n_hits"))
    val nq = broadcast(queriesBase.agg(count(lit(1)).as("n_queries")))
    emb.sparkSession.range(1)
      .select(explode(typedLit(Seq(1, 2, 4, 8))).as("nprobe"))
      .crossJoin(nq)
      .join(hits, Seq("nprobe"), "left")
      .na.fill(0L, Seq("n_hits"))
      .withColumn("recall_ppm", expr("(n_hits * 1000000) div (n_queries * 5)"))
      .select("nprobe", "n_queries", "n_hits", "recall_ppm")
      .orderBy("nprobe")
  }

  /** x127: the ANN OPERATING POINT — the single row a deployment PINS from
    * x126's curve: the smallest nprobe whose recall clears 90% of the best
    * measured rung (exact integer rule: recall_ppm·10 ≥ max_recall_ppm·9;
    * deterministic — nprobe is unique and the sweep is exact). This closes
    * the ANN lifecycle the way x121-x124 closed the pack lifecycle: x126
    * publishes the curve, x127 chooses the point, [[saveAnnOperatingPoint]]
    * makes it the durable artifact the serving config reads, and
    * SimilaritySpec's stale-index canary fails when a refreshed index's
    * recall at the pinned nprobe drops below the pinned floor.
    *
    * Plan/scale: the sweep chain runs ONCE (the max rides a single-partition
    * window over the POST-AGGREGATE |rungs|-row frame — 4 rows by
    * construction, never corpus-scale), then a row-local filter + top-1. */
  val annOperatingPoint = sql("x127_ann_operating_point", x127Oracle) { (s, d) =>
    operatingPointOf(annRecallSweep.run(s, d))
  }

  /** x127's selection rule over any [[recallSweepOf]] frame: the smallest
    * nprobe whose recall clears 90% of the best rung (exact integers). */
  def operatingPointOf(sweep: DataFrame): DataFrame =
    sweep
      .withColumn("max_recall_ppm",
        max(col("recall_ppm")).over(Window.partitionBy(lit(1))))
      .filter(col("recall_ppm") * 10 >= col("max_recall_ppm") * 9)
      .orderBy("nprobe").limit(1)
      .select("nprobe", "n_queries", "n_hits", "recall_ppm", "max_recall_ppm")

  /** Persist x127's chosen operating point as a durable 1-row artifact
    * (the saveIvfIndex stance: the serving layer reads the PIN, not the
    * sweep). SimilaritySpec round-trips it and runs the staleness canary
    * against it. */
  def saveAnnOperatingPoint(s: SparkSession, d: String, path: String): Unit =
    graft.sources.Sinks.parquet(annOperatingPoint.run(s, d), path)

  /** REFRESH-AND-SWAP: the recovery path that closes the IVF lifecycle
    * (r15 verdict item 4). x127 pins the operating point and the staleness
    * canary DETECTS a bad index; this is the job that acts on it:
    *
    *   1. run the audited x126 sweep against the CANDIDATE centroids
    *      (retrained elsewhere — [[trainIvf]] — or handed in);
    *   2. THE CANARY AS A GATE: the candidate's recall at the PINNED
    *      nprobe must clear the pin's own 90%-of-best floor
    *      (recall·10 ≥ pinned max·9, exact integers). A degraded candidate
    *      is REFUSED with both numbers named — the live index and pin are
    *      left untouched;
    *   3. swap the durable index via staging + rename (readers see the old
    *      or the new table, never a partial write; the delete→rename gap
    *      is the documented non-transactional window — a production
    *      deployment serializes refreshes, and a reader that loses the
    *      race retries the path);
    *   4. re-emit the pin FROM THE NEW INDEX's own sweep, so the serving
    *      config and the index can never describe different geometries.
    *
    * Returns the re-emitted pin row. The sweep runs ONCE; the gate and the
    * new pin both read the tiny 4-row result. */
  def refreshAnnIndex(emb: DataFrame, candidate: Seq[Seq[Double]],
      indexPath: String, pinPath: String): org.apache.spark.sql.Row = {
    val s = emb.sparkSession
    val pin = Tables.parquet(s, pinPath).collect()
    require(pin.length == 1, s"operating-point artifact at $pinPath must be 1 row")
    val pinnedNprobe = pin.head.getAs[Int]("nprobe")
    val pinnedMax = pin.head.getAs[Long]("max_recall_ppm")
    val sweep = recallSweepOf(emb, candidate).collect() // 4 rows by construction
    val candRecall = sweep.find(_.getAs[Int]("nprobe") == pinnedNprobe)
      .map(_.getAs[Long]("recall_ppm"))
      .getOrElse(throw new IllegalStateException(
        s"candidate sweep has no rung at pinned nprobe=$pinnedNprobe"))
    if (candRecall * 10 < pinnedMax * 9) throw new IllegalStateException(
      s"refreshAnnIndex REFUSED: candidate recall $candRecall ppm at pinned " +
        s"nprobe=$pinnedNprobe is below the pinned floor " +
        s"(90% of max_recall_ppm=$pinnedMax); live index at $indexPath untouched")
    // staging + rename swap of the centroid artifact
    import s.implicits._
    val staging = indexPath + ".staging"
    graft.sources.Sinks.parquet(
      candidate.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "centroid"),
      staging)
    val hPath = new org.apache.hadoop.fs.Path(indexPath)
    val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(hPath)) fs.delete(hPath, true)
    fs.rename(new org.apache.hadoop.fs.Path(staging), hPath)
    clearIvfCache() // memoized loads of the old artifact path are now stale
    // the pin must describe the INDEX NOW SERVING — recompute from the
    // candidate's own sweep (already in hand) and overwrite the artifact
    val newPin = operatingPointOf(
      s.createDataFrame(java.util.Arrays.asList(sweep: _*),
        recallSweepOf(emb, candidate).schema))
    graft.sources.Sinks.parquet(newPin, pinPath)
    Tables.parquet(s, pinPath).collect().head
  }

  /** DuckDB replication of x150: identical ppm-integer pipeline — vectors
    * quantized to BIGINT ppm per dim FIRST (ROUND(x·10⁶), the one rounding
    * both engines do on the identical double), so every centroid is a
    * floor-div of exact integer sums (order-free — no float-summation
    *-order hazard), and every cosine is doubles-from-exact-BIGINTs. */
  private val x150Oracle: String =
    """WITH k AS (SELECT unnest(range(1, 65)) AS dim),
      |v AS (SELECT e.vec_id, e.label, k.dim,
      |    CAST(ROUND(CAST(e.embedding[k.dim] AS DOUBLE) * 1000000, 0) AS BIGINT) AS vp
      |  FROM embeddings e CROSS JOIN k),
      |n AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings GROUP BY label),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM embeddings),
      |cent AS (SELECT v.label, v.dim, CAST(CAST(SUM(v.vp) AS BIGINT) // n.n_vecs AS BIGINT) AS c
      |  FROM v JOIN n USING (label) GROUP BY v.label, v.dim, n.n_vecs),
      |gcent AS (SELECT dim, CAST(CAST(SUM(vp) AS BIGINT) // (SELECT n_all FROM tot) AS BIGINT) AS g
      |  FROM v GROUP BY dim),
      |cn AS (SELECT label, CAST(SUM(c * c) AS BIGINT) AS n2c FROM cent GROUP BY label),
      |gn AS (SELECT CAST(SUM(g * g) AS BIGINT) AS n2g FROM gcent),
      |own AS (SELECT v.vec_id, v.label,
      |    CAST(SUM(v.vp * cent.c) AS BIGINT) AS dot,
      |    CAST(SUM(v.vp * v.vp) AS BIGINT) AS n2v
      |  FROM v JOIN cent USING (label, dim) GROUP BY v.vec_id, v.label),
      |cosv AS (SELECT o.label,
      |    CAST(ROUND(CAST(o.dot AS DOUBLE) / (sqrt(CAST(o.n2v AS DOUBLE)) * sqrt(CAST(cn.n2c AS DOUBLE))) * 1000000.0, 0) AS BIGINT) AS cos_ppm
      |  FROM own o JOIN cn USING (label)),
      |lg AS (SELECT cent.label, CAST(SUM(cent.c * gcent.g) AS BIGINT) AS dotg
      |  FROM cent JOIN gcent USING (dim) GROUP BY cent.label),
      |lcos AS (SELECT lg.label,
      |    CAST(ROUND(CAST(dotg AS DOUBLE) / (sqrt(CAST(cn.n2c AS DOUBLE)) * sqrt(CAST(gn.n2g AS DOUBLE))) * 1000000.0, 0) AS BIGINT) AS centroid_cos_global_ppm
      |  FROM lg JOIN cn USING (label) CROSS JOIN gn)
      |SELECT n.label, n.n_vecs,
      |  CAST(CAST(SUM(c2.cos_ppm + 1000000) AS BIGINT) // COUNT(*) - 1000000 AS BIGINT) AS mean_cos_own_ppm,
      |  CAST(MIN(c2.cos_ppm) AS BIGINT) AS min_cos_own_ppm,
      |  MAX(lcos.centroid_cos_global_ppm) AS centroid_cos_global_ppm
      |FROM cosv c2 JOIN n USING (label) JOIN lcos USING (label)
      |GROUP BY n.label, n.n_vecs ORDER BY n.label""".stripMargin

  /** x150: per-LABEL centroid census — the embedding-space datasheet a
    * cluster-based curation pass (SemDeDup-style pruning, IVF training,
    * x65's purity read) wants BEFORE trusting the labels: per label, how
    * tight the cluster is (mean cosine of members to their OWN centroid),
    * whether it contains junk (min member cosine — failed encodes and
    * wrong-modality rows sit anti-correlated to their centroid), and how
    * distinguishable it is from the corpus mean direction (centroid
    * cosine to the GLOBAL centroid — a label whose centroid rides the
    * global mean carries no class signal, so pruning "per cluster" there
    * is just random pruning). x145 reads the same geometry per IVF CELL
    * against pinned centroids; this reads it per SEMANTIC LABEL with
    * centroids from the data itself.
    *
    * Exactness: vectors quantize to BIGINT ppm per dim FIRST, so both
    * centroids are floor-divs of exact integer sums (order-free — the
    * float-summation-order hazard that forces x129's array-sorted Σ√
    * simply never arises) and each cosine is one double expression over
    * exact BIGINTs, rounded to ppm (the x17/x145 ROUND-cos precedent).
    * The mean offsets by +10⁶ so the floor division never sees a
    * negative dividend.
    *
    * Plan/scale: one posexplode (codegen Generate) over the vectors, two
    * integer grouped aggregates for the centroids (map-side combined),
    * then one (vec, label)-keyed aggregate against the BROADCAST
    * (|labels|·64)-row centroid table — no vector ever joins another
    * vector; everything after is |labels|-sized. At 100 TB the only
    * corpus-sized exchanges are the two ppm-sum aggregates. */
  val labelCentroidCensus = sql("x150_label_centroid_census", x150Oracle) { (s, d) =>
    labelCentroidCensusOf(Tables.embeddings(s, d)).orderBy("label")
  }

  /** x150's engine over any (vec_id, embedding, label) frame. */
  /** The x150/x159 exactness core, stated ONCE (r19 self-review — two
    * verbatim copies of the quantize-first convention could drift): each
    * vector dimension quantized to a BIGINT ppm FIRST, so every
    * downstream centroid is a floor-div of EXACT integer sums and no
    * float summation order can differ between engines. */
  private def ppmVectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "xv")))
      .withColumn("vp", round(col("xv").cast("double") * lit(1e6), 0).cast("long"))
      .drop("xv")

  /** Per-label floor-div centroid table (label, dim, c) over [[ppmVectors]]
    * rows — the one definition x150 and x159 share. `n` = (label, n_vecs). */
  private def labelCentroids(v: DataFrame, n: DataFrame): DataFrame =
    v.groupBy("label", "dim").agg(sum("vp").as("sv"))
      .join(broadcast(n), Seq("label"))
      .select(col("label"), col("dim"), expr("sv div n_vecs").as("c"))

  /** Zero-norm guard, shared by x150/x159: an all-zero vector (a failed
    * encode — exactly the junk these censuses exist to expose) or a label
    * whose ppm sums cancel to a zero centroid would make cos 0/0 = NaN,
    * which non-ANSI Spark casts to a SILENT 0 while the DuckDB oracle
    * errors on CAST(NaN AS BIGINT). Raise the same named DOMAIN error in
    * both regimes instead (the x137/guardedPpm discipline): zero-norm
    * rows must be cleaned upstream (x10's embNorm read), not averaged in
    * or argmax'd over. */
  private def zeroNormGuard(site: String, n2: Column, cos: Column): Column =
    when(n2 === 0L, raise_error(lit(
      s"$site: zero-norm operand — an all-zero ppm vector/centroid " +
        "has no cosine; clean zero-norm embeddings upstream (see x10)")).cast("long"))
      .otherwise(cos)

  def labelCentroidCensusOf(emb: DataFrame): DataFrame = {
    val v = ppmVectors(emb)
    val n = emb.groupBy("label").agg(count(lit(1)).as("n_vecs"))
    val nAll = emb.agg(count(lit(1)).as("n_all"))
    val cent = labelCentroids(v, n)
      .localCheckpoint(eager = false) // bounded (|labels|·64 rows); 3 consumers
    val gcent = v.groupBy("dim").agg(sum("vp").as("sg"))
      .crossJoin(broadcast(nAll))
      .select(col("dim"), expr("sg div n_all").as("g"))
      .localCheckpoint(eager = false) // 64 rows; 2 consumers
    val cn = cent.groupBy("label").agg(sum(col("c") * col("c")).as("n2c"))
      .localCheckpoint(eager = false) // |labels| rows; 2 consumers
    def normGuard(site: String, n2: Column, cos: Column): Column =
      zeroNormGuard(s"x150 $site", n2, cos) // shared guard, x150-sited errors
    val own = v.join(broadcast(cent), Seq("label", "dim"))
      .groupBy("vec_id", "label")
      .agg(sum(col("vp") * col("c")).as("dot"), sum(col("vp") * col("vp")).as("n2v"))
      .join(broadcast(cn), Seq("label"))
      .withColumn("cos_ppm",
        normGuard("member cosine", col("n2v"),
          normGuard("member cosine", col("n2c"),
            round(col("dot").cast("double")
              / (sqrt(col("n2v").cast("double")) * sqrt(col("n2c").cast("double")))
              * lit(1e6), 0).cast("long"))))
    val gn = gcent.agg(sum(col("g") * col("g")).as("n2g"))
    val lcos = cent.join(gcent, Seq("dim"))
      .groupBy("label").agg(sum(col("c") * col("g")).as("dotg"))
      .join(cn, Seq("label")).crossJoin(broadcast(gn))
      .select(col("label"),
        normGuard("centroid cosine", col("n2c"),
          normGuard("centroid cosine", col("n2g"),
            round(col("dotg").cast("double")
              / (sqrt(col("n2c").cast("double")) * sqrt(col("n2g").cast("double")))
              * lit(1e6), 0).cast("long"))).as("centroid_cos_global_ppm"))
    own.groupBy("label").agg(
        count(lit(1)).as("n_vecs"),
        sum(col("cos_ppm") + lit(1000000L)).as("so"),
        min("cos_ppm").as("min_cos_own_ppm"))
      .select(col("label"), col("n_vecs"),
        expr("so div n_vecs - CAST(1000000 AS BIGINT)").as("mean_cos_own_ppm"),
        col("min_cos_own_ppm"))
      .join(broadcast(lcos), Seq("label")) // |labels| rows — never SMJ
  }

  private val x159Oracle: String =
    """WITH k AS (SELECT unnest(range(1, 65)) AS dim),
      |v AS (SELECT e.vec_id, e.label, k.dim,
      |    CAST(ROUND(CAST(e.embedding[k.dim] AS DOUBLE) * 1000000, 0) AS BIGINT) AS vp
      |  FROM embeddings e CROSS JOIN k),
      |n AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings GROUP BY label),
      |cent AS (SELECT v.label, v.dim, CAST(CAST(SUM(v.vp) AS BIGINT) // n.n_vecs AS BIGINT) AS c
      |  FROM v JOIN n USING (label) GROUP BY v.label, v.dim, n.n_vecs),
      |cn AS (SELECT label, CAST(SUM(c * c) AS BIGINT) AS n2c FROM cent GROUP BY label),
      |allc AS (SELECT v.vec_id, v.label, c.label AS clabel,
      |    CAST(SUM(v.vp * c.c) AS BIGINT) AS dot,
      |    CAST(SUM(v.vp * v.vp) AS BIGINT) AS n2v
      |  FROM v JOIN cent c USING (dim) GROUP BY 1, 2, 3),
      |cosd AS (SELECT a.vec_id, a.label, a.clabel,
      |    CAST(ROUND(CAST(a.dot AS DOUBLE)
      |      / (sqrt(CAST(a.n2v AS DOUBLE)) * sqrt(CAST(cn.n2c AS DOUBLE)))
      |      * 1000000.0, 0) AS BIGINT) AS cos_ppm
      |  FROM allc a JOIN cn ON cn.label = a.clabel),
      |win AS (SELECT vec_id, label, clabel AS win_label FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY cos_ppm DESC, (clabel = label) DESC, clabel ASC) AS rn
      |    FROM cosd) q WHERE rn = 1),
      |ms AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_miss
      |  FROM win WHERE win_label <> label GROUP BY label),
      |mc AS (SELECT label, win_label, COUNT(*) AS m
      |  FROM win WHERE win_label <> label GROUP BY label, win_label),
      |top AS (SELECT label, win_label FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY label
      |      ORDER BY m DESC, win_label ASC) AS rn FROM mc) q WHERE rn = 1)
      |SELECT n.label, n.n_vecs,
      |  COALESCE(ms.n_miss, 0) AS n_miss,
      |  CAST(COALESCE(ms.n_miss, 0) * 1000000 // n.n_vecs AS BIGINT) AS miss_ppm,
      |  COALESCE(top.win_label, -1) AS top_confused_label
      |FROM n LEFT JOIN ms USING (label) LEFT JOIN top USING (label)
      |ORDER BY n.label""".stripMargin

  /** x159: nearest-centroid label CONFUSION census — the label-quality
    * audit x150 stops short of: x150 says how tight each cluster is; this
    * says whether the labels are mutually SEPARABLE, by running the
    * cheapest possible classifier (assign every vector to its most-cosine-
    * similar label centroid) and reporting, per label, how many of its own
    * members it loses and to whom. A label whose members systematically
    * win under another centroid is mislabeled, duplicated, or not a real
    * class — the thing to know before spending a training run on the
    * labels, and the target list for x67's semantic dedup / relabeling.
    *
    * Exactness: x150's conventions verbatim — ppm-quantize FIRST (exact
    * BIGINT centroid sums in any order), cosines ROUND to ppm BIGINTs
    * (IEEE round-half-even both engines), and the winner is an integer
    * argmax with a pinned tie rule: higher cos_ppm, then the OWN label
    * wins, then the smaller label id. The misassignment mode breaks count
    * ties toward the smaller label; a label losing nothing reports
    * top_confused_label = −1, never NULL.
    *
    * Plan/scale: one posexplode (the quantized vector table) feeds the
    * centroid build and the all-centroids probe; the probe joins the
    * BROADCAST (|labels|·64)-row centroid table per dim — the fan-out is
    * |vecs|·|labels| grouped rows (bounded by label count, the documented
    * cost of an exact all-centroids argmax; an IVF shortlist would cap it
    * at nprobe for open-set label spaces). Everything after the per-
    * (vec, clabel) rollup is |vecs|- then |labels|-sized; vectors never
    * join vectors. */
  val labelConfusionCensus = sql("x159_label_confusion_census", x159Oracle) { (s, d) =>
    labelConfusionCensusOf(Tables.embeddings(s, d)).orderBy("label")
  }

  /** x159's engine over any (vec_id, embedding, label) frame. */
  def labelConfusionCensusOf(emb: DataFrame): DataFrame = {
    val v = ppmVectors(emb) // the shared x150 exactness core
    val n = emb.groupBy("label").agg(count(lit(1)).as("n_vecs"))
      .localCheckpoint(eager = false) // |labels| rows; centroid div + output
    val cent = labelCentroids(v, n)
      .localCheckpoint(eager = false) // |labels|·64 rows; probe + norms
    val cn = cent.groupBy("label").agg(sum(col("c") * col("c")).as("n2c"))
    def normGuard(n2: Column, cos: Column): Column =
      zeroNormGuard("x159 cosine", n2, cos)
    val allc = v
      .join(broadcast(cent.select(col("label").as("clabel"), col("dim"), col("c"))),
        Seq("dim"))
      .groupBy("vec_id", "label", "clabel")
      .agg(sum(col("vp") * col("c")).as("dot"), sum(col("vp") * col("vp")).as("n2v"))
      .join(broadcast(cn.select(col("label").as("clabel"), col("n2c"))), Seq("clabel"))
      .withColumn("cos_ppm",
        normGuard(col("n2v"), normGuard(col("n2c"),
          round(col("dot").cast("double")
            / (sqrt(col("n2v").cast("double")) * sqrt(col("n2c").cast("double")))
            * lit(1e6), 0).cast("long"))))
    val win = allc.groupBy("vec_id", "label")
      .agg(max(struct(col("cos_ppm"),
        (col("clabel") === col("label")).cast("int").as("own"),
        (-col("clabel")).as("negc"))).as("w"))
      .select(col("vec_id"), col("label"), (-col("w.negc")).as("win_label"))
    val miss = win.filter(col("win_label") =!= col("label"))
      .localCheckpoint(eager = false) // ≤|vecs| rows; count + mode consumers
    val ms = miss.groupBy("label").agg(count(lit(1)).as("n_miss"))
    val top = miss.groupBy("label", "win_label").agg(count(lit(1)).as("m"))
      .groupBy("label")
      .agg(max(struct(col("m"), (-col("win_label")).as("negw"))).as("t"))
      .select(col("label"), (-col("t.negw")).as("top_confused_label"))
    n.join(broadcast(ms), Seq("label"), "left")
      .join(broadcast(top), Seq("label"), "left")
      .na.fill(0L, Seq("n_miss"))
      .na.fill(-1, Seq("top_confused_label"))
      .select(col("label"), col("n_vecs"), col("n_miss"),
        TextQueries.guardedPpm("x159 miss_ppm", col("n_miss"), col("n_vecs"))
          .as("miss_ppm"),
        col("top_confused_label"))
  }

  val all: Seq[QueryDef] = Seq(embNorm, embPairCosine, simBruteTopk, simLshTopk, simIvfTopk,
    simIvfCells, simPqTopk, dedupEmbedding, dedupEmbLsh, embQuantize, simContamination,
    semanticDedup, embRandomProjection, embLabelDrift, annRecallSweep, annOperatingPoint,
    annOutlierCensus, labelCentroidCensus, labelConfusionCensus)
}
