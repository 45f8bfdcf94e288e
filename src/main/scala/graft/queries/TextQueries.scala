package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-data-pipeline text operators over the `documents` table:
  * exact/near dedup (hash, bag-of-words, MinHash+LSH banding, SimHash,
  * n-gram Jaccard), token counting, quality scoring, language ID, and
  * document fingerprinting.
  *
  * Scale stance (100 TB): every operator here is row-local expressions plus
  * at most ONE shuffle (a groupBy on a derived key or an equi-join on an LSH
  * bucket). No cross joins, no driver-side collection; candidate generation
  * is always banded/bucketed so the pairwise work is proportional to true
  * near-duplicate density, not n². All hot-path functions are Catalyst
  * built-ins (codegen'd higher-order functions + xxhash64) — no UDFs.
  */
object TextQueries {
  import QueryDef.{sql, rowsOnly}

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  private val tokens: Column = split(col("text"), " ")

  /** Distinct 3-token shingle hashes of a text column — the unit set for
    * Jaccard similarity. Native codegen'd expression
    * (graft.functions.ShingleHashes): one tight loop per row instead of a
    * sequence/slice/concat HOF pipeline. */
  private def shinglesOf(text: String): Column = expr(s"graft_shingles($text, 3)")

  /** The sketch rule: (doc_id, sh = [[shinglesOf]] `text`, sig = their
    * 32-hash MinHash signature) for every row of `df`. */
  private def sketchOf(df: DataFrame, text: String = "text"): DataFrame =
    df.select(col("doc_id"), shinglesOf(text).as("sh"))
      .withColumn("sig", expr("graft_minhash(sh, 32)"))

  /** Exact Jaccard |A ∩ B| / |A ∪ B| of two array columns, as a double. */
  private def jaccardOf(a: String, b: String): Column =
    size(array_intersect(col(a), col(b))).cast("double") / size(array_union(col(a), col(b)))

  /** The integer verify over two shingle-set columns: `inter` = |A ∩ B| and
    * `uni` = |A ∪ B| as longs, for the `2·inter ≥ uni` admission and the
    * `(inter·10^6) div uni` ppm weight — no float enters. */
  private def withInterUni(df: DataFrame, a: String, b: String): DataFrame =
    df.withColumn("inter", size(array_intersect(col(a), col(b))).cast("long"))
      .withColumn("uni", (size(col(a)) + size(col(b))).cast("long") - col("inter"))

  // ---------------------------------------------------------------- dedup

  /** Exact-duplicate collapse keyed on `(hashCol, length(text))` — the
    * 100 TB shuffle form of `GROUP BY text`. The exchange partitions on the
    * 16-byte derived key (same text ⇒ same key ⇒ same partition), never on
    * the document payload, and the full text stays in the GROUPING key of
    * the post-shuffle aggregate as the in-group exact confirm: two
    * different texts colliding on (hash, length) land in one partition but
    * remain separate groups (TextQueriesEdgeSpec forces a collision via
    * this injectable `hashCol` and proves it is NOT merged — production
    * callers go through [[exactCollapse]], which passes `xxhash64`).
    *
    * Why not `GROUP BY text` with map-side combine? The partial aggregate
    * would key its per-task hash table on FULL documents — buffering
    * megabyte payloads in every map task's memory is the exact shape the
    * derived key exists to avoid, and the shuffle carries ~the corpus
    * either way (grouping output includes the text). The repartition
    * streams rows through the 16-byte partitioner, and only the
    * post-shuffle aggregate — whose per-partition working set AQE/spill
    * already bound — touches text equality. Output:
    * (text, keep_id, n_copies). */
  private[graft] def exactCollapseBy(documents: DataFrame, hashCol: Column,
      keyCol: String = "text", nAlias: String = "n_copies"): DataFrame =
    documents
      .withColumn("__h", hashCol)
      .withColumn("__len", length(col(keyCol)))
      .repartition(col("__h"), col("__len"))
      .groupBy("__h", "__len", keyCol)
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as(nAlias))
      .select(keyCol, "keep_id", nAlias)

  /** [[exactCollapseBy]] with the production 64-bit content hash. */
  private[graft] def exactCollapse(documents: DataFrame): DataFrame =
    exactCollapseBy(documents, xxhash64(col("text")))

  /** One row per exact-text representative: (doc_id = min id, text) — the
    * pre-collapse every near-dup stage starts from, via [[exactCollapse]]'s
    * hash-keyed shuffle. */
  private def exactReps(documents: DataFrame): DataFrame =
    exactCollapse(documents).select(col("keep_id").as("doc_id"), col("text"))

  /** Exact dedup: group identical payloads, keep lowest id — the
    * [[exactCollapseBy]] hash-keyed shuffle end to end (the oracle's
    * `GROUP BY text` is semantically identical; the engine's shuffle key
    * is 16 bytes). */
  val dedupExact = sql(
    "x01_dedup_exact",
    """SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin) { (s, d) =>
    exactCollapse(docs(s, d)).orderBy("keep_id")
  }

  /** Near-dedup by canonical bag-of-words key (sorted distinct tokens):
    * catches token-reordered copies. The BoW key is ~document-sized, so the
    * collapse runs the same 16-byte hash-keyed shuffle as x01
    * ([[exactCollapseBy]] on `bow_key`), never shuffling on the payload.
    */
  val dedupBow = sql(
    "x02_dedup_bow",
    """SELECT array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS bow_key,
      |  MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
      |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin) { (s, d) =>
    exactCollapseBy(
      docs(s, d).withColumn("bow_key",
        array_join(array_sort(array_distinct(split(col("text"), " "))), " ")),
      xxhash64(col("bow_key")), keyCol = "bow_key", nAlias = "n_docs")
      .orderBy("keep_id")
  }

  /** MinHash + LSH near-dup pairs (shingle → 32-hash signature → 8 bands of 4
    * → bucket self-join → exact Jaccard on candidates only).
    *
    * The signature/banding is pure row-local expressions; the only shuffles
    * are the band-bucket equi-join (candidate generation ∝ collisions, not
    * n²) and the two id-joins that fetch shingle sets for the exact check.
    * This is the standard web-scale near-dedup plan (cf. Broder's MinHash).
    */
  /** The persistable MinHash signature table for the documents in `d`: one
    * row per exact-dup representative — (doc_id, sh ARRAY<BIGINT>,
    * sig ARRAY<BIGINT>). The exact-dup pre-collapse (identical texts share
    * one representative, the lowest doc_id) is the standard skew mitigation
    * for web-scale near-dedup: a mega-cluster of byte-identical copies
    * costs one groupBy instead of an n² band-bucket blowup. */
  def minhashSignatures(s: SparkSession, d: String): DataFrame =
    minhashSignaturesOf(docs(s, d))

  /** Same, from any (doc_id, text) frame — the ingest/soak entry point.
    * The exact-dup pre-collapse runs [[exactCollapse]]'s hash-keyed
    * shuffle (16-byte key, in-group confirm), not a full-text groupBy. */
  def minhashSignaturesOf(documents: DataFrame): DataFrame =
    sketchOf(exactReps(documents))

  /** [[minhashSignatures]] pinned — the table every corpus-pair query
    * reads. Without the lineage boundary, Catalyst's projection collapse
    * inlines the shingle-array expression into each of the 32 signature
    * lambdas → a 32× recompute of the shingling per row (measured 93 s →
    * ~3 s at sf0.1 on x03). At cluster scale this materialization is the
    * signature table written to storage between the sketch and pairwise
    * stages ([[saveMinhashIndex]] is exactly that;
    * [[dedupMinhashFromIndex]] is the probe-only steady state).
    * localCheckpoint (not persist): blocks are released by the
    * ContextCleaner when the query's DataFrames go out of scope, so
    * repeated runs in one session don't accumulate cached tables.
    * Trade-off (applies to every localCheckpoint in this file): lineage is
    * truncated, so losing an executor mid-query fails the job instead of
    * recomputing — the durable artifact is the production form of this
    * same boundary. */
  private def pinnedSignatures(s: SparkSession, d: String): DataFrame =
    minhashSignatures(s, d).localCheckpoint(eager = false)

  /** Write the signature table as a durable artifact (range-sorted by
    * doc_id, so later joins/read-backs get file-level stats) — the
    * cluster-scale form of the localCheckpoint boundary in x03: sketch
    * once, band-join from storage in every later session. */
  def saveMinhashIndex(s: SparkSession, d: String, path: String): Unit =
    graft.sources.Sinks.sortedParquet(minhashSignatures(s, d), path, Seq("doc_id"))

  /** 8 bands of 4 over the 32-long signature column `sig`: one row per
    * (carry…, band, band-hash) — the LSH bucket key the self-join (x03),
    * the stream probe and x26's cross-cluster pass join on. */
  private def bandRows(df: DataFrame, sig: String, carry: String*): DataFrame =
    df.select(carry.map(col) :+ explode(
      transform(sequence(lit(0), lit(7)),
        b => struct(b.as("band"), xxhash64(slice(col(sig), b * 4 + 1, lit(4))).as("bh")))).as("b"): _*)
      .select(carry.map(col) ++ Seq(col("b.band"), col("b.bh")): _*)

  /** Band-join near-dup pairs from a signature table — the probe half of
    * x03, usable against the in-memory table or a [[saveMinhashIndex]]
    * artifact read back from storage (no re-sketching: `sh`/`sig` are
    * stored columns). */
  def minhashPairs(sigTable: DataFrame): DataFrame = {
    val withSets = bandCandidates(sigTable)
      .join(sigTable.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sigTable.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
    // r20 OPTIMIZATION (guide §2.4: an orderBy used only for presentation):
    // the pair sort moved OUT to the registry surfaces (x03, the probe
    // steady state) — every CHAIN consumer (CC labels, x26/x59/x134's
    // closures, streaming intra-batch pairs) was paying a full range
    // exchange + sort of the pair table for an order nothing downstream
    // reads. At 100 TB the pair table is corpus-scale: that sort is real.
    withSets
      .withColumn("jaccard", jaccardOf("sh_a", "sh_b"))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** The BLOCKING stage alone: distinct candidate pairs (doc_a < doc_b)
    * sharing at least one of the 8 LSH band buckets — no similarity verify
    * yet. x03 feeds these into the exact-Jaccard check; x52 feeds them into
    * edit-distance verification (record linkage). Work ∝ band-collision
    * density, never n². */
  def bandCandidates(sigTable: DataFrame): DataFrame = {
    // both sides of the self-join read this; don't re-derive (GC-scoped)
    val bands = bandRows(sigTable, "sig", "doc_id").localCheckpoint(eager = false)
    bands.as("l")
      .join(bands.as("r"), Seq("band", "bh"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
  }

  /** Probe-only MinHash dedup from a durable signature artifact: every
    * session after the first skips shingling and signing entirely. */
  def dedupMinhashFromIndex(s: SparkSession, indexPath: String): DataFrame =
    minhashPairs(Tables.parquet(s, indexPath)).orderBy("doc_a", "doc_b") // x03's output contract

  /** APPEND admitted documents to a durable [[saveMinhashIndex]] artifact —
    * the missing third verb of the index lifecycle (build → probe →
    * append): after a batch is probed and its novel docs accepted, sketch
    * exactly those rows (row-local, batch-sized) and add them as new
    * parquet files so the NEXT batch probes against the grown corpus. The
    * existing files are untouched (parquet append = new files only), so
    * the corpus is never re-sketched and the write cost is proportional to
    * the batch, not the index. Caller contract: `accepted` must be novel
    * (the probe's job) — the sketcher applies no exact-dup pre-collapse
    * across the existing index. The appended files are range-sorted by
    * doc_id within the batch like the original artifact's layout. */
  def appendToMinhashIndex(accepted: DataFrame, indexPath: String): Unit = {
    val sigs = sketchOf(accepted)
    val n = math.max(accepted.sparkSession.sparkContext.defaultParallelism / 4, 1)
    sigs.repartitionByRange(n, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("append").parquet(indexPath)
  }

  /** Near-dup probe of incoming documents against an existing signature
    * table — the incremental-ingest half of corpus dedup. `incoming` needs
    * (doc_id, text); each row is sketched row-locally (native
    * graft_shingles/graft_minhash — stateless, no shuffle on the incoming
    * side beyond the band join), banded, equi-joined against the corpus
    * band table, and verified by exact Jaccard against the stored shingle
    * sets. Output: (doc_id, corpus_doc_id, jaccard ≥ `threshold`).
    *
    * Runs unchanged over a STREAMING `incoming` (stream-static join;
    * DocStreamSpec asserts batch parity): point it at
    * `Tables.parquet(spark, indexPath)` of a [[saveMinhashIndex]] artifact and
    * new documents are checked against the corpus as they arrive — no
    * watermark, corpus never re-sketched. The sketch/band/verify steps are
    * stateless; the only state is the candidate-pair dropDuplicates
    * (collapsing multi-band hits), which grows with pairs seen — an
    * indefinitely-running ingest should either bound it by adding an
    * ingest-time watermark upstream or drop the dedup and accept one
    * verified output row per matching band. At scale, write the band
    * table as the [[saveBandIndex]] BUCKETED artifact and probe through
    * [[nearDupProbeWithBands]], so the corpus side never re-shuffles per
    * micro-batch. */
  def nearDupProbe(incoming: DataFrame, sigTable: DataFrame,
      threshold: Double = 0.5): DataFrame =
    nearDupProbeWithBands(incoming,
      bandRows(sigTable, "sig", "doc_id").withColumnRenamed("doc_id", "corpus_doc_id"),
      sigTable, threshold)

  /** Write the corpus BAND table (corpus_doc_id, band, bh) as a BUCKETED
    * managed table, clustered + sorted on the band hash — the implemented
    * form of the probe steady state [[nearDupProbe]]'s doc describes: the
    * candidate equi-join's corpus side is pre-clustered on the join key at
    * write time, so every later probe batch joins against it with ZERO
    * corpus-side exchange (the bucketed scan's HashPartitioning already
    * satisfies the join's clustering; only the micro-batch-sized probe
    * side shuffles — or broadcasts). Pair with [[saveMinhashIndex]], whose
    * sh/sig artifact the verify stage still reads. */
  def saveBandIndex(sigTable: DataFrame, table: String, buckets: Int = 32): Unit =
    graft.sources.Sinks.bucketedTable(
      bandRows(sigTable, "sig", "doc_id").withColumnRenamed("doc_id", "corpus_doc_id"),
      table, Seq("bh"), buckets)

  /** [[nearDupProbe]] with the corpus band table supplied separately —
    * the form that reads a [[saveBandIndex]] bucketed artifact
    * (`spark.table(name)`), where candidate generation needs no
    * corpus-side shuffle at all. `corpusBands`: (corpus_doc_id, band, bh). */
  def nearDupProbeWithBands(incoming: DataFrame, corpusBands: DataFrame,
      sigTable: DataFrame, threshold: Double = 0.5): DataFrame = {
    bandRows(sketchOf(incoming), "sig", "doc_id", "sh").join(corpusBands, Seq("band", "bh"))
      .filter(col("doc_id") =!= col("corpus_doc_id"))
      .select("doc_id", "corpus_doc_id", "sh")
      .dropDuplicates(Seq("doc_id", "corpus_doc_id"))
      .join(sigTable.select(col("doc_id").as("corpus_doc_id"), col("sh").as("sh_c")),
        Seq("corpus_doc_id"))
      .withColumn("jaccard", jaccardOf("sh", "sh_c"))
      .filter(col("jaccard") >= threshold)
      .select("doc_id", "corpus_doc_id", "jaccard")
  }

  val dedupMinhash = sql("x03_dedup_minhash", HashOracles.dedupMinhash) { (s, d) =>
    minhashPairs(pinnedSignatures(s, d))
      .orderBy("doc_a", "doc_b") // x03's declared output order (moved from minhashPairs)
  }

  /** SimHash near-dup pairs: 64-bit per-doc signature (sign of per-bit vote
    * sums over token hashes), banded into 4×16-bit chunks; pairs agreeing on
    * ≥1 chunk are checked by true Hamming distance (bit_count of xor).
    * Signature construction is row-local (no shuffle); candidate join is one
    * equi-join on the chunk value.
    */
  val dedupSimhash = sql("x04_dedup_simhash", HashOracles.dedupSimhash) { (s, d) =>
    // Native expressions: distinct token hashes (1-gram shingles) → one-pass
    // 64-bit vote loop. Materialized (GC-scoped localCheckpoint) because
    // both sides of the chunk self-join read the signature table.
    val base = docs(s, d)
      .select(col("doc_id"),
        expr("graft_simhash(graft_shingles(text, 1))").as("simhash"))
      .localCheckpoint(eager = false)
    val chunks = base.select(col("doc_id"), col("simhash"), explode(
      array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL)).as("cv"))): _*)).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.chunk"), col("c.cv"))
    chunks.as("l").join(chunks.as("r"), Seq("chunk", "cv"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("doc_a", "doc_b")
  }

  /** n-gram Jaccard near-dup: candidates share a min-shingle fingerprint
    * (cheap 1-band LSH), then exact 3-gram Jaccard. */
  val dedupNgram = sql("x05_dedup_ngram_jaccard", HashOracles.dedupNgram) { (s, d) =>
    val base = docs(s, d).select(col("doc_id"), shinglesOf("text").as("sh"))
      .withColumn("fp", array_min(col("sh")))
      // shingle sets reused by both join sides + the exact check (GC-scoped)
      .localCheckpoint(eager = false)
    val candidates = base.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"), col("fp")).as("l")
      .join(base.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"), col("fp")).as("r"), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
    candidates
      .withColumn("jaccard", jaccardOf("sh_a", "sh_b"))
      .filter(col("jaccard") >= 0.3)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  // ------------------------------------------------------------- analysis

  /** Token counting: whitespace tokens + a BPE-ish word/number/symbol regex
    * count (rough LLM-token estimator). Row-local, fully codegen'd. */
  val textTokens = sql(
    "x06_text_tokens",
    """SELECT doc_id,
      |  CAST(length(text) AS INTEGER) AS n_chars_text,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpeish
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    docs(s, d)
      .withColumn("n_chars_text", length(col("text")))
      .withColumn("n_ws_tokens", size(split(trim(col("text")), "\\s+")))
      .withColumn("n_bpeish", regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")))
      .select("doc_id", "n_chars_text", "n_ws_tokens", "n_bpeish")
      .orderBy("doc_id")
  }

  /** Quality scoring: alphabetic ratio, whitespace ratio, mean token length —
    * the length/punctuation heuristics of C4/Gopher-style filters. */
  val textQuality = sql(
    "x07_text_quality",
    """SELECT doc_id,
      |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
      |        / length(text) AS alpha_ratio,
      |  CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
      |        / length(text) AS space_ratio,
      |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |        / len(string_split_regex(trim(text), '\s+')) AS mean_tok_len
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val txt = col("text")
    docs(s, d)
      .withColumn("alpha_ratio",
        length(regexp_replace(txt, "[^a-z]", "")).cast("double") / length(txt))
      .withColumn("space_ratio",
        (length(txt) - length(regexp_replace(txt, " ", ""))).cast("double") / length(txt))
      .withColumn("mean_tok_len",
        length(regexp_replace(txt, " ", "")).cast("double")
          / size(split(trim(txt), "\\s+")))
      .select("doc_id", "alpha_ratio", "space_ratio", "mean_tok_len")
      .orderBy("doc_id")
  }

  /** Language ID by stopword-hit heuristic: score = |tokens ∩ stopwords(L)|
    * per language, argmax via struct ordering (ties → max language code,
    * identical in Spark's array_max and DuckDB's greatest); CJK-character
    * ratio overrides to zh (never fires on the ascii testdata, so the
    * oracle can omit it). Row-local; stopword lists ride as literals. */
  val textLangid = sql(
    "x08_text_langid",
    """WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
      |b AS (SELECT doc_id, list_sort([
      |    {'score': CAST(len(list_intersect(toks, ['the','and','of','to','a','in','is','that','for','it'])) AS INTEGER), 'lang': 'en'},
      |    {'score': CAST(len(list_intersect(toks, ['der','die','und','das','ist','nicht','mit','ein','zu','den'])) AS INTEGER), 'lang': 'de'},
      |    {'score': CAST(len(list_intersect(toks, ['le','la','et','les','des','une','est','pour','que','dans'])) AS INTEGER), 'lang': 'fr'},
      |    {'score': CAST(len(list_intersect(toks, ['el','los','de','que','y','en','un','es','por','con'])) AS INTEGER), 'lang': 'es'}])[-1] AS best
      |  FROM t)
      |SELECT doc_id,
      |  CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS pred_lang,
      |  best.score AS stopword_hits
      |FROM b ORDER BY doc_id""".stripMargin) { (s, d) =>
    val stop: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "for", "it"),
      "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"),
      "fr" -> Seq("le", "la", "et", "les", "des", "une", "est", "pour", "que", "dans"),
      "es" -> Seq("el", "los", "de", "que", "y", "en", "un", "es", "por", "con"))
    val toks = array_distinct(tokens)
    val scored = array_max(array(stop.map { case (lang, words) =>
      struct(size(array_intersect(toks, typedLit(words))).as("score"), lit(lang).as("lang"))
    }: _*))
    val cjkRatio = (length(col("text")) -
      length(regexp_replace(col("text"), "[\\x{4e00}-\\x{9fff}]", ""))).cast("double") /
      greatest(length(col("text")), lit(1))
    docs(s, d)
      .withColumn("best", scored)
      .withColumn("pred_lang",
        when(cjkRatio > 0.3, "zh")
          .when(col("best.score") > 0, col("best.lang"))
          .otherwise("und"))
      .select(col("doc_id"), col("pred_lang"), col("best.score").as("stopword_hits"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting: whole-text digest plus min/max hashed 3-token
    * shingles (a 3-value winnowing-style sketch) — the keys an
    * incremental-ingest dedup would store.
    *
    * Uses md5 (codegen'd built-in, portable to the DuckDB oracle) so the row
    * is hash-checked end-to-end; at cluster scale you'd swap in xxhash64 /
    * graft_shingles (same plan shape, cheaper hash — that path is exercised
    * by x03/x04/x05). Everything is row-local: no shuffle at all before the
    * oracle-mandated output sort. */
  val textFingerprint = sql(
    "x09_text_fingerprint",
    """WITH t AS (SELECT doc_id, md5(text) AS fp_md5, string_split(text, ' ') AS toks
      |  FROM documents),
      |s AS (SELECT doc_id, fp_md5,
      |    list_transform(range(1, len(toks) - 1),
      |      i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      |  FROM t)
      |SELECT doc_id, fp_md5,
      |  list_aggregate(sh, 'min') AS fp_min_shingle,
      |  list_aggregate(sh, 'max') AS fp_max_shingle
      |FROM s ORDER BY doc_id""".stripMargin) { (s, d) =>
    // `toks` must be an ALIASED column, not a reused Column val: a val
    // splices the split() subtree into every element_at of the lambda,
    // re-tokenizing the doc per shingle position (O(tokens²) — measured
    // 0.3 s → 8 s at sf0.1). An alias is split once per row.
    val t = col("toks")
    docs(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("sh", when(size(t) >= 3,
        transform(sequence(lit(1), size(t) - 2), i =>
          md5(concat_ws(" ",
            element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))))
        .otherwise(array().cast("array<string>")))
      .withColumn("fp_md5", md5(col("text")))
      .withColumn("fp_min_shingle", array_min(col("sh")))
      .withColumn("fp_max_shingle", array_max(col("sh")))
      .select("doc_id", "fp_md5", "fp_min_shingle", "fp_max_shingle")
      .orderBy("doc_id")
  }

  /** Shift-resistant near-dup via content-defined chunking (Rabin rolling
    * hash, graft_chunks): candidate pairs share at least one chunk
    * fingerprint (equi-join on the chunk hash — work ∝ shared-chunk
    * density), verified by exact chunk-set Jaccard. Where shingle-based
    * sketches compare token windows, CDC boundaries re-synchronize after an
    * edit, so documents differing by an insertion still share most chunk
    * hashes (invariance property-tested in TextHashesSpec). Oracle: the full
    * rolling-hash/FNV chain replicated in DuckDB HUGEINT SQL (HashOracles). */
  val dedupChunks = sql("x24_dedup_chunks", HashOracles.dedupChunks) { (s, d) =>
    val base = docs(s, d)
      .select(col("doc_id"), expr("graft_chunks(text, 5, 16)").as("ch"))
      .localCheckpoint(eager = false) // both join sides + the exact check
    val exploded = base.select(col("doc_id"), explode(col("ch")).as("chunk"))
    val cand = exploded.as("l").join(exploded.as("r"), Seq("chunk"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(base.select(col("doc_id").as("doc_a"), col("ch").as("ch_a")), Seq("doc_a"))
      .join(base.select(col("doc_id").as("doc_b"), col("ch").as("ch_b")), Seq("doc_b"))
      .withColumn("overlap", jaccardOf("ch_a", "ch_b"))
      .filter(col("overlap") >= 0.5)
      .select("doc_a", "doc_b", "overlap")
      .orderBy("doc_a", "doc_b")
  }

  /** Hash-min connected components over a near-dup pair graph, iterated to
    * fixpoint: every round each node adopts the smallest label in its
    * closed neighborhood; at fixpoint every component is labeled by its
    * minimum doc_id. Rounds ≤ the component diameter (near-dup blobs are
    * shallow), each round is one equi-join + one groupBy, and a GC-scoped
    * localCheckpoint per round keeps lineage flat — the textbook
    * driver-coordinated CC loop that scales to clusters (cf. the hash-min
    * family of MapReduce CC algorithms). */
  private[graft] def connectedReps(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(eager = false)
    // Only nodes touching an edge can ever change label — iterate over that
    // (near-dup-dense) subgraph only and union the singletons back at the
    // end. On a mostly-unique corpus this shrinks every iteration's
    // join+groupBy from |corpus| to |dup-graph| rows.
    // r20 OPTIMIZATION (guide §1.2 step 1): initialize each node at its
    // CLOSED-NEIGHBORHOOD min instead of itself — one groupBy over the
    // (symmetric) edge list, the same single aggregate the old
    // distinct-node init paid, but it IS the first hash-min round, so the
    // loop converges one full join+groupBy+count round earlier. Fixpoint
    // unchanged: init values are component-member ids, updates are the
    // same monotone min recurrence, and the component min still labels
    // every member (ClusterDedupSpec/x26 oracle pin the values).
    var labels = edges.groupBy(col("src").as("doc_id"))
      .agg(min("dst").as("mn"))
      .select(col("doc_id"), least(col("doc_id"), col("mn")).as("rep"))
      .localCheckpoint(eager = false)
    var changed = 1L
    while (changed > 0) {
      val nbrRep = edges
        .join(labels.withColumnRenamed("doc_id", "src"), Seq("src"))
        .select(col("dst").as("doc_id"), col("rep"))
      // r20 OPTIMIZATION (guide §2.4): the convergence check used to be a
      // SECOND join of the new labels against the old (one extra full
      // shuffle of the label table per round). `labels` holds exactly one
      // row per doc_id, so its previous rep can RIDE the same union/groupBy
      // as a max-of-one-non-null column, and `changed` is a plain filter
      // over the aggregate the round materializes anyway. Values unchanged:
      // rep is the same min over the same multiset.
      val updated = labels.withColumn("own", col("rep"))
        .unionByName(nbrRep.withColumn("own", lit(null).cast(nbrRep.schema("rep").dataType)))
        .groupBy("doc_id").agg(min("rep").as("rep"), max("own").as("prev"))
        .localCheckpoint(eager = false)
      changed = updated.filter(col("rep") < col("prev")).count()
      labels = updated.select("doc_id", "rep")
    }
    nodes.select("doc_id").join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
  }

  /** r21 OPTIMIZATION (guide §2.4): every doc→cluster chain consumer used
    * to pay TWO corpus-payload (h, len) exchanges over the same frame —
    * [[exactCollapse]]'s groupBy (inside [[minhashSignaturesOf]], for the
    * signature table) and [[docExactRep]]'s window (for the per-doc
    * exact-rep map). Both shuffle the SAME 16-byte derived key, so ONE
    * window over one exchange yields BOTH: the per-doc rep is the window
    * min, and the rep ROWS (the exactReps table) are exactly the rows with
    * doc_id = e_rep. The frame is GC-scoped-checkpointed once for its two
    * derivations. Values provably unchanged: e_rep = min(doc_id) over the
    * (h, len, text) group is [[exactCollapseBy]]'s keep_id verbatim, and
    * filter(doc_id = e_rep) keeps one row per group — the min-id row,
    * carrying the group's text — which IS [[exactReps]]'s output. */
  private[queries] def erepFrameOf(dd: DataFrame): DataFrame =
    dd.withColumn("__h", xxhash64(col("text")))
      .withColumn("__len", length(col("text")))
      .repartition(col("__h"), col("__len"))
      .select(col("doc_id"),
        min("doc_id").over(org.apache.spark.sql.expressions.Window
          .partitionBy("__h", "__len", "text")).as("e_rep"),
        col("text"))
      // the checkpoint stores each group's text ONCE (on its rep row, the
      // only row the signature derivation reads) instead of once per
      // duplicate — on a high-dup corpus this shrinks the pinned blocks by
      // the dup factor
      .select(col("doc_id"), col("e_rep"),
        when(col("doc_id") === col("e_rep"), col("text")).as("rep_text"))

  /** The one dedup-chain builder over any (doc_id, text) frame: the
    * checkpointed per-doc exact-rep frame (doc_id, e_rep, rep_text, see
    * [[erepFrameOf]]), the exact reps' MinHash signature table (doc_id, sh,
    * sig), and the hash-min CC labels (doc_id, rep) over the reps' verified
    * near-dup pairs. x26 reads the signatures and labels; [[chainAndErepOf]]
    * maps every doc to its cluster. */
  private def erepSigsLabelsOf(dd: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val erep = erepFrameOf(dd).localCheckpoint(eager = false)
    val sigs = sketchOf(erep.filter(col("doc_id") === col("e_rep")), "rep_text")
      .localCheckpoint(eager = false)
    val pairs = minhashPairs(sigs).select("doc_a", "doc_b")
      .localCheckpoint(eager = false)
    (erep, sigs, connectedReps(sigs.select("doc_id"), pairs))
  }

  /** The doc→near-dup-cluster chain (doc_id, rep) plus the per-doc
    * exact-rep frame (doc_id, e_rep), shared by
    * x51/x55/x58/x104/x107/x116/x119/x134/x136/x147/x156 and the
    * manifest family (x59/x108/x118). */
  private[queries] def chainAndErepOf(dd: DataFrame): (DataFrame, DataFrame) = {
    val (erep, _, labels) = erepSigsLabelsOf(dd)
    val chain = erep.select("doc_id", "e_rep")
      .join(labels.withColumnRenamed("doc_id", "e_rep"), Seq("e_rep"))
      .select("doc_id", "rep")
    (chain, erep.select("doc_id", "e_rep"))
  }

  /** [[chainAndErepOf]] for the consumers that only read the chain. They
    * still pin `rep_text`: the erep frame is checkpointed with the rep
    * text because the signature derivation reads it, whoever consumes the
    * result. */
  private[queries] def chainOf(dd: DataFrame): DataFrame = chainAndErepOf(dd)._1

  /** One MinHash signature per CC cluster: CC `labels` (doc_id, rep) over
    * the members' `sigs` (doc_id, sig), grouped by rep → (rep, n_docs,
    * csig). The element-wise min of member signatures is the signature of
    * the union of their shingle sets (MinHashUnion; ClusterDedupSpec proves
    * the identity). The udaf applies as a column function, so the session's
    * function registry stays untouched. */
  private[graft] def clusterSigsOf(labels: DataFrame, sigs: DataFrame): DataFrame = {
    val minhashUnion = udaf(new graft.functions.MinHashUnion(32)).withName("graft_minhash_union")
    labels.join(sigs, Seq("doc_id")).groupBy("rep")
      .agg(count(lit(1)).as("n_docs"), minhashUnion(col("sig")).as("csig"))
  }

  /** Hierarchical corpus dedup (x26): verified near-dup pairs (x03's
    * band+verify plan) → connected components → ONE MinHash signature per
    * cluster via the MinHashUnion typed aggregator (element-wise min of
    * member signatures ≡ the signature of the union of member shingle
    * sets — tiny fixed merge state, ClusterDedupSpec proves the identity) →
    * a banded cross-CLUSTER candidate pass over cluster signatures. This is
    * the real corpus-dedup shape at 100 TB: pairwise work stays
    * band-bounded, cluster growth costs one k-long array per group, and
    * the cross-cluster pass finds chains the pair threshold split without
    * ever touching shingle sets again. Output: one row per cluster
    * (rep, n_docs, n_xcands = plausible cross-cluster merge candidates at
    * estimated Jaccard ≥ 0.25 from signature agreement). */
  val dedupClusters = sql("x26_dedup_clusters", HashOracles.dedupClusters) { (s, d) =>
    val (_, sigs, labels) = erepSigsLabelsOf(docs(s, d))
    val clusters = clusterSigsOf(labels, sigs)
      .localCheckpoint(eager = false) // both sides of the cross-cluster join
    val cbands = bandRows(clusters, "csig", "rep")
    val xcand = cbands.as("l").join(cbands.as("r"), Seq("band", "bh"))
      .filter(col("l.rep") < col("r.rep"))
      .select(col("l.rep").as("rep_a"), col("r.rep").as("rep_b"))
      .distinct()
    val est = xcand
      .join(clusters.select(col("rep").as("rep_a"), col("csig").as("sig_a")), Seq("rep_a"))
      .join(clusters.select(col("rep").as("rep_b"), col("csig").as("sig_b")), Seq("rep_b"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / 32)
      .filter(col("est_jaccard") >= 0.25)
    val xcounts = est.select(col("rep_a").as("rep"))
      .union(est.select(col("rep_b").as("rep")))
      .groupBy("rep").agg(count(lit(1)).as("n_xcands"))
    clusters.join(xcounts, Seq("rep"), "left")
      .withColumn("n_xcands", coalesce(col("n_xcands"), lit(0L)))
      .select("rep", "n_docs", "n_xcands")
      .orderBy("rep")
  }

  /** Repetition ratios — the Gopher-style quality signals that catch
    * boilerplate/spam BEFORE corpus-level dedup: fraction of repeated
    * tokens and of repeated 3-gram shingles within the document, plus the
    * modal token's share. The counts come from one native loop
    * (graft_token_stats — string-exact distincts, no hashing), so they
    * match the oracle's portable list-ops integer-for-integer and the
    * ratios hash-check; the HOF formulation this replaces walked
    * O(distinct·n) interpreted lambda frames per row (1.7 s → ~0.5 s at
    * sf0.1). */
  val textRepetition = sql(
    "x25_text_repetition",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |s AS (SELECT doc_id, toks,
      |    list_transform(range(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
      |  FROM t)
      |SELECT doc_id,
      |  1 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
      |    AS dup_token_ratio,
      |  CASE WHEN len(toks) >= 3
      |    THEN 1 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh)
      |    ELSE CAST(0.0 AS DOUBLE) END AS dup_3gram_ratio,
      |  CAST(list_max(list_transform(list_distinct(toks),
      |      tok -> len(list_filter(toks, x -> x = tok)))) AS DOUBLE)
      |    / len(toks) AS top_token_share
      |FROM s ORDER BY doc_id""".stripMargin) { (s, d) =>
    docs(s, d)
      .withColumn("st", expr("graft_token_stats(text)"))
      .withColumn("dup_token_ratio",
        lit(1) - col("st.n_distinct").cast("double") / col("st.n_tokens"))
      .withColumn("dup_3gram_ratio",
        when(col("st.n_tokens") >= 3,
          lit(1) - col("st.sh_distinct").cast("double") / col("st.n_shingles"))
          .otherwise(lit(0.0)))
      .withColumn("top_token_share",
        col("st.top_count").cast("double") / col("st.n_tokens"))
      .select("doc_id", "dup_token_ratio", "dup_3gram_ratio", "top_token_share")
      .orderBy("doc_id")
  }

  /** Per-document top-3 terms by tf-idf — keyword extraction, the term-
    * weighting step of dataset curation / retrieval indexing. The idf is
    * the ln-free smoothed ratio (N+1)/(df+1): bit-exact across engines
    * (pure int→double arithmetic in one fixed order), where a log-based
    * idf would risk last-ulp libm differences under the hash compare.
    *
    * Scale shape: two partial-final groupBys (term frequency per doc,
    * document frequency per term), one equi-join on the term, the corpus
    * count broadcast as a single row, and a per-doc window that the
    * optimizer prunes with WindowGroupLimit (only the top 3 survive, so
    * the sort never materializes a doc's full term list downstream). */
  val textTfidf = sql(
    "x27_text_tfidf",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
      |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |s AS (SELECT doc_id, term, CAST(tf AS DOUBLE) * (n + 1) / (df + 1) AS tfidf
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
      |r AS (SELECT doc_id, term, tfidf,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
      |  FROM s)
      |SELECT doc_id, term, tfidf, CAST(rk AS INTEGER) AS rk
      |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val tok = docs(s, d).select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tok.groupBy("term").agg(countDistinct("doc_id").as("df"))
    val n = docs(s, d).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") * (col("n") + 1) / (col("df") + 1))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("doc_id", "term", "tfidf", "rk")
      .orderBy("doc_id", "rk")
  }

  /** RAG-style overlapping token chunking: windows of 32 tokens at stride
    * 16 (trailing partials kept) — the retrieval/packing unit a training
    * pipeline feeds downstream. Pure row-local explode; no shuffle before
    * the oracle-mandated sort. */
  val textRagChunks = sql(
    "x30_text_rag_chunks",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |c AS (SELECT doc_id, toks, unnest(range(0, ((len(toks)-1) // 16) + 1)) AS ci FROM t)
      |SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
      |  CAST(least(32, len(toks) - ci*16) AS INTEGER) AS n_chunk_tokens,
      |  array_to_string(toks[CAST(ci*16+1 AS INTEGER):CAST(ci*16+32 AS INTEGER)], ' ') AS chunk_text
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
    val t = col("toks")
    docs(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("ci", explode(sequence(lit(0), ((size(t) - 1) / 16).cast("int"))))
      .select(col("doc_id"), col("ci").cast("int").as("chunk_idx"),
        least(lit(32), size(t) - col("ci") * 16).cast("int").as("n_chunk_tokens"),
        array_join(slice(t, col("ci") * 16 + 1, lit(32)), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Deterministic train/val/test assignment by content-independent hash of
    * the id — reproducible across engines, runs, and cluster sizes (the
    * property a seeded random split does NOT have under repartitioning).
    * Buckets by the first hex digit of md5(doc_id): 0-b → train (75%),
    * c-d → val (12.5%), e-f → test (12.5%). String comparison is portable;
    * no engine-specific hash in sight. */
  val textSplitAssign = sql(
    "x31_text_split_assign",
    """SELECT doc_id,
      |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
      |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val h1 = substring(md5(col("doc_id").cast("string")), 1, 1)
    docs(s, d)
      .select(col("doc_id"),
        when(h1 <= "b", "train").when(h1 <= "d", "val").otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** DISTINCT (doc_id, g) 5-token grams over any (doc_id, text) frame —
    * the ONE gram rule shared by x35, x136 and the streaming decon
    * admission, so the overlap predicate can never drift between the
    * batch audits and the live gate. */
  private[graft] def fiveGramsOf(dd: DataFrame): DataFrame =
    rawFiveGramsOf(dd).distinct()

  /** [[fiveGramsOf]] WITHOUT the (doc_id, g) dedup — the raw gram stream,
    * for consumers that prefilter it before paying the distinct's
    * exchange (the x35/x136/x155 seeds family). `carry` columns ride the
    * exploded rows (the lmScoreCore carry stance — a small fixed payload,
    * zero extra exchanges). */
  private[graft] def rawFiveGramsOf(dd: DataFrame, carry: Seq[String] = Nil): DataFrame =
    dd.withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 5) // Spark sequence(0, n) DESCENDS for n<0 — never let it
      .withColumn("i", explode(sequence(lit(0), size(col("t")) - 5)))
      .select(col("doc_id") +: carry.map(col)
        :+ array_join(slice(col("t"), col("i") + 1, lit(5)), " ").as("g"): _*)

  /** The benchmark gram SET as a broadcast 1-row frame (`ev` string
    * array) — the static artifact [[graft.streaming.DocStream.deconAdmission]]
    * probes (the x103 merge-table posture: trained/extracted offline,
    * broadcast online). Built with [[fiveGramsOf]] so the gram rule is
    * x35's verbatim.
    *
    * Cardinality guard (r16 advice): the single array cell has NO spill
    * path, so a benchmark beyond `maxGrams` distinct grams fails HERE —
    * an eager count at artifact-build time (this is the offline half of
    * the posture; eagerness is free) with a clear size error — instead
    * of as an executor OOM inside the stream. The 10⁷ default is already
    * far past any sane benchmark (~hundreds of MB broadcast); raise it
    * consciously, or swap the probe to the documented Bloom-filter form
    * (x70's bits) when a benchmark genuinely carries that many grams. */
  def evalGramTable(dd: DataFrame, maxGrams: Long = 10000000L): DataFrame = {
    val grams = fiveGramsOf(dd)
    val n = grams.count()
    require(n <= maxGrams,
      s"evalGramTable: benchmark has $n distinct 5-grams (cap $maxGrams); " +
        "a single-cell broadcast array this size risks driver/executor OOM " +
        "— raise maxGrams deliberately or gate through a Bloom filter")
    broadcast(grams.agg(collect_set(col("g")).as("ev")))
  }

  /** x35's gram rule as a row-local admission PROBE over any (doc_id,
    * text) frame: each doc's DISTINCT 5-grams are intersected with the
    * broadcast benchmark gram array; admitted ⇔ zero hits. No explode, no
    * distinct, no per-doc rollup — the whole verdict is one codegen'd HOF
    * per row, which is what lets the STREAMING twin run stateless in
    * append mode (an exploded-gram join form would need two streaming
    * aggregations). DocStreamSpec pins set-parity between this probe and
    * the join form on the same rows, so the two gram-enumeration
    * spellings cannot drift. */
  def deconProbeOf(dd: DataFrame, evalGrams: DataFrame): DataFrame =
    dd.crossJoin(evalGrams)
      .withColumn("t", split(col("text"), " "))
      .withColumn("gs", when(size(col("t")) < 5, expr("CAST(array() AS ARRAY<STRING>)"))
        .otherwise(expr(
          "array_distinct(transform(sequence(0, size(t) - 5), i -> array_join(slice(t, i + 1, 5), ' ')))")))
      .withColumn("nh", size(array_intersect(col("gs"), col("ev"))))
      .select(col("doc_id"), col("nh").cast("long").as("n_hits"),
        (col("nh") === 0).as("admitted"))

  /** Benchmark decontamination: find train-split documents sharing at least
    * one 5-token n-gram with a test-split document (the GPT-3-style overlap
    * check every serious pretraining pipeline runs before training). Splits
    * reuse x31's portable md5 assignment (≤'d' → train+val, else test).
    *
    * Scale shape: grams are DISTINCT per (doc, gram) so a repeated phrase
    * inside one doc counts once; the candidate step is an equi-join on the
    * gram — work proportional to true overlap, never corpus². In production
    * the test side is a tiny benchmark table: hash grams with xxhash64 and
    * broadcast it (hinted here), so the 100 TB train side is scanned once
    * with no shuffle at all. Strings are kept as join keys at test scale
    * only because the DuckDB oracle compares them. */
  val textDecontaminate = sql(
    "x35_text_decontaminate",
    """WITH toks AS (
      |  SELECT doc_id,
      |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd'
      |         THEN 'train' ELSE 'test' END AS split,
      |    string_split(text, ' ') AS t
      |  FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, split, array_to_string(t[i+1:i+5], ' ') AS g
      |  FROM toks, UNNEST(range(greatest(len(t) - 4, 0))) AS u(i))
      |SELECT tr.doc_id AS train_id, te.doc_id AS test_id,
      |  COUNT(*) AS n_shared, MIN(tr.g) AS sample_gram
      |FROM grams tr JOIN grams te ON tr.g = te.g
      |WHERE tr.split = 'train' AND te.split = 'test'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    textDecontaminateOf(docs(s, d)).orderBy("train_id", "test_id")
  }

  /** x35's engine over any (doc_id, text) frame (factored in r19 so
    * ContaminationReconciliationSpec can pin the four contamination
    * tables — x35 doc-level, x125 pack-level, x136 halo, x155 per-suite —
    * to one measurement on one engineered frame). */
  def textDecontaminateOf(dd: DataFrame): DataFrame = {
    // r21 counter-measurement (guide §1 discipline, r20 verdict item 3):
    // semi-filtering the RAW train gram stream against the broadcast eval
    // gram set BEFORE the (doc_id, g) distinct — so the dedup exchange
    // carries hits instead of the corpus — measured SLOWER at sf0.1
    // (x35 0.6 → 1.16 s, x136's seeds 0.59 → 0.76 s in-window): this
    // single-plan shape computes the corpus gram distinct ONCE and
    // ReuseExchange serves both split sides from it, while the split-first
    // form pays two extra BroadcastExchange builds + a second distinct for
    // the probe side. The split-first form wins only when the train-side
    // gram exchange dominates (true at 100 TB, not at the bench floor);
    // see plans/r21/x136_stage_seeds_{before,after}.txt for both shapes.
    val grams = fiveGramsOf(dd)
      .withColumn("split",
        when(substring(md5(col("doc_id").cast("string")), 1, 1) <= "d", "train")
          .otherwise("test"))
    val train = grams.filter(col("split") === "train").select(col("doc_id").as("train_id"), col("g"))
    val test = grams.filter(col("split") === "test").select(col("doc_id").as("test_id"), col("g"))
    train.join(broadcast(test), "g")
      .groupBy("train_id", "test_id")
      .agg(count(lit(1)).as("n_shared"), min("g").as("sample_gram"))
  }

  /** Per-group quota sampling: keep at most N documents per language,
    * chosen by a deterministic content-independent hash order — the
    * downsampling step that rebalances over-represented domains/languages
    * in a training mix. Reproducible across engines, runs, and cluster
    * sizes (a seeded random sample is not, under repartitioning).
    *
    * Scale shape: one hash shuffle on the group key; Spark's rank-limit
    * pushdown (WindowGroupLimit) keeps only the top-N per group BEFORE the
    * final sort, so no group ever materializes fully in one task's output. */
  val textQuotaSample = sql(
    "x36_text_quota_sample",
    """SELECT lang, doc_id, rk FROM (
      |  SELECT lang, doc_id, row_number() OVER (
      |    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 40 ORDER BY lang, rk""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs(s, d)
      .select(col("lang"), col("doc_id"), row_number().over(w).as("rk"))
      .filter(col("rk") <= 40)
      .orderBy("lang", "rk")
  }

  /** x37: incremental near-dup ingest — the [[nearDupProbe]] steady state
    * at the query level. A deterministic id split models an ingest batch
    * (doc_id ≡ 0 mod 10) arriving against an existing corpus (the rest):
    * the corpus side is the durable signature table (exact-dup
    * pre-collapsed, as [[saveMinhashIndex]] writes it) and is NEVER
    * re-sketched; each incoming doc is sketched row-locally and band-joined
    * in. This is the shape a 100 TB corpus actually runs daily — sketch
    * once, probe per batch — and the DuckDB oracle replicates the full
    * splitmix64/FNV chain on both sides, so the cross-side banding and
    * verify arithmetic are hash-checked end to end. */
  val dedupIncremental = sql("x37_dedup_incremental", HashOracles.dedupIncremental) { (s, d) =>
    val all = docs(s, d)
    val incoming = all.filter(col("doc_id") % 10 === 0).select("doc_id", "text")
    val corpusSigs = minhashSignaturesOf(all.filter(col("doc_id") % 10 =!= 0))
      .localCheckpoint(eager = false) // the read-back artifact boundary
    nearDupProbe(incoming, corpusSigs, threshold = 0.5)
      .orderBy("doc_id", "corpus_doc_id")
  }

  /** x40: corpus-frequency document score — a language-model-free proxy for
    * LM quality filtering: documents built from corpus-rare tokens score
    * low on `mean_tok_freq` / `min_tok_freq` (a real pipeline thresholds
    * these to drop gibberish and boilerplate ends of the spectrum).
    * Integer-exact arithmetic end to end (counts and exact-rational means;
    * no ln(), whose last-ulp differs across engines — the x27 idf lesson),
    * so the oracle hash-matches bit-for-bit.
    *
    * Scale shape: one explode + groupBy builds the vocabulary (map-side
    * combined; Zipf head keys are high-frequency but the partial aggregate
    * collapses them per partition), then the token→frequency join
    * BROADCASTS the vocabulary — natural-language vocabularies are
    * millions of rows against trillions of tokens, so the fact side never
    * shuffles (plan-asserted). At vocabularies beyond broadcast size, ship
    * only the head (freq > k) and treat misses as rare — the rare_ratio
    * semantics are unchanged by construction. */
  val textFreqScore = sql(
    "x40_text_freq_score",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |vocab AS (SELECT tok, COUNT(*) AS freq FROM tok GROUP BY tok)
      |SELECT t.doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(SUM(v.freq) AS DOUBLE) / COUNT(*) AS mean_tok_freq,
      |  CAST(MIN(v.freq) AS BIGINT) AS min_tok_freq
      |FROM tok t JOIN vocab v USING (tok)
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin) { (s, d) =>
    val tok = docs(s, d).select(col("doc_id"), explode(tokens).as("tok"))
    val vocab = tok.groupBy("tok").agg(count(lit(1)).as("freq"))
    tok.join(broadcast(vocab), Seq("tok"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        (sum("freq").cast("double") / count(lit(1))).as("mean_tok_freq"),
        min("freq").as("min_tok_freq"))
      .orderBy("doc_id")
  }

  /** x62: bigram-LM document score — the perplexity-filter analog (CCNet /
    * Dolma gate docs on an n-gram LM; KenLM in production): a bigram model
    * is fit on the corpus itself and every doc scored by its mean
    * transition probability P(w_i | w_{i-1}) = c(w1,w2) / c(w1·).
    * Fluent/templated text scores high, shuffled-gibberish low. ln-free by
    * design (the x27/x40 lesson — cross-engine last-ulp), and the mean is
    * NOT a float sum: each transition probability is floored to 1e-6
    * fixed-point FIRST (floor, not cast — DuckDB CAST rounds, Spark cast
    * truncates), so the aggregate sums BIGINTs in any order and the only
    * float ops are per-row exact-rounded divisions. The final
    * sum/n/1e6 is two deterministic divisions, then ROUND 6.
    *
    * Scale shape: bigram instances shuffle once to build c(w1,w2)
    * (map-side combine absorbs the Zipf head) and once more for the
    * count join; the CONTEXT totals c(w1·) are unigram-vocabulary-sized
    * and broadcast, so the instance side shuffles only on (w1, w2). At
    * vocabularies beyond broadcast size the context join degrades to the
    * same shuffle as the pair join — semantics unchanged. */
  val textLmScore = sql(
    "x62_text_lm_score",
    s"""WITH ${lmDocSql()}
      |SELECT doc_id, n_trans, CAST(sum_f AS DOUBLE) / n_trans / 1000000 AS lm_score
      |FROM doc ORDER BY doc_id""".stripMargin) { (s, d) =>
    lmScoreOf(docs(s, d)).orderBy("doc_id")
  }

  /** x62's body over any (doc_id, text) frame — x66 composes it. */
  def lmScoreOf(dd: DataFrame): DataFrame =
    lmScoreCore(dd, Nil)
      .select(col("doc_id"), col("n_trans"),
        (col("sum_f").cast("double") / col("n_trans") / lit(1e6)).as("lm_score"))

  /** The doc-level integer core of x62 over any (doc_id[, carry...], text)
    * frame: (doc_id, carry..., n_trans, sum_f), where f is the floor-ppm
    * bigram transition probability. `carry` columns ride the bigram rows
    * (a small fixed payload per exploded row, zero extra exchanges); the
    * alternative — re-attaching them by a doc-keyed join after the
    * rollup — would cost a second corpus-wide shuffle. x62 consumes it
    * with carry = ∅ (its lm_score double is the same sum_f/n_trans/1e6
    * arithmetic as before the factoring); x135 carries lang.
    *
    * Model-build shape (r19): ONE corpus-scale exchange — the (w1, w2)
    * pair count — builds the whole model; the context count re-aggregates
    * it (c1 = Σ_w2 c2 exactly, so the arithmetic is unchanged). The ctx
    * attach deliberately carries NO broadcast hint: this is the
    * zero-extra-job form of the r18 verdict's counted guard — Catalyst
    * broadcasts it statically while the size ESTIMATE is small, and past
    * that AQE re-decides from the aggregate's ACTUAL shuffle size at
    * runtime, so a 10⁸-type web vocabulary degrades to a shuffled join by
    * the engine's own count instead of OOMing a forced broadcast. The
    * explicit [[guardedBroadcast]] is reserved for sides already behind a
    * checkpoint (x149/x153/x155), where its count() is amortized and
    * where the opaque checkpoint RDD would otherwise pin the ESTIMATE at
    * "huge" and lose the broadcast forever; measured here, the
    * checkpoint+count variant cost x66 (two consumers of one lmScoreCore)
    * 2.1 s → 4.2 s by breaking exchange reuse, while this unhinted form
    * matches the hinted original within noise. */
  // private[queries] (was private) so BroadcastGuardSpec can pin the
  // carry-bearing chain's join strategy at sf0.1 sizes (r19 verdict item 3)
  private[queries] def lmScoreCore(dd: DataFrame, carry: Seq[String]): DataFrame = {
    val bg = bigramsOf(dd, carry)
    val cpair = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val cctx = cpair.groupBy("w1").agg(sum("c2").as("c1"))
    bg.join(cpair, Seq("w1", "w2"))
      .join(cctx, Seq("w1"))
      .withColumn("f", floor(col("c2").cast("double") / col("c1") * 1e6))
      .groupBy("doc_id", carry: _*)
      .agg(count(lit(1)).as("n_trans"), sum("f").as("sum_f"))
  }

  /** Counted broadcast guard (r18 verdict item 4 + the x155 advice): the
    * x62-family context tables and x155's eval-gram side are BOUNDED BY
    * TYPE COUNT, not corpus rows — fine to broadcast at every measured
    * rung — but a 100 TB web corpus's unigram type inventory (typos,
    * URLs, hashes) can reach 10⁸⁺ rows, and x155's hash-ladder "test
    * split" grows linearly with the corpus by construction. Guessing is
    * how those outgrow the 8 GB broadcast cap in production, so this
    * COUNTS: the frame is checkpointed (the count can never re-run its
    * corpus-scale lineage, and the join reuses the same partitions),
    * broadcast at or under the threshold, left to the planner's shuffled
    * strategies above it — same results either way, pinned by
    * BroadcastGuardSpec in both regimes.
    *
    * Over-threshold branch (r19 advice): the ORIGINAL frame is returned,
    * not the probe checkpoint. localCheckpoint truncates lineage and pins
    * its blocks on executors, which is exactly wrong for a near-corpus-
    * scale side in the regime the guard exists for — one lost executor
    * would kill the job (no lineage to recompute from) and the pinned
    * MEMORY_AND_DISK copy doubles the footprint of the largest frame in
    * the plan. Returning `df` lets the shuffled join STREAM the side with
    * full lineage: executor loss recomputes from source, and nothing is
    * pinned for the life of the downstream job. The price is that the
    * decision count's materialized probe blocks are discarded (reclaimed
    * by the ContextCleaner once the probe frame is unreferenced) — paid
    * only in the rare over-threshold regime, where one throwaway scan is
    * cheap next to an unrecoverable job.
    *
    * Threshold math: at the ~40 B/row of a (token, BIGINT count) pair,
    * the default 16M rows is ≲ 640 MB serialized — comfortably inside
    * Spark's 8 GB broadcast cap and a 4 GB executor heap share, while
    * 10⁸-type web vocabularies and corpus-derived eval splits fall to
    * the shuffled path. Override via spark.graft.broadcastMaxRows
    * (0 forces the shuffled regime — what the spec pins).
    *
    * WHEN TO USE WHICH guard: this explicit counted form is for sides
    * that sit behind (or become) a checkpoint — there the count() is
    * amortized by the materialization the plan needs anyway, and the
    * opaque checkpoint RDD's "huge" size estimate would otherwise deny
    * the broadcast statically forever. For a side that lives INSIDE a
    * one-job multi-consumer plan (lmScoreCore's ctx), use NO hint at
    * all: Catalyst's static estimate + AQE's runtime shuffle-size
    * re-decision implement the same bounded-broadcast policy with zero
    * extra jobs, and a checkpoint there breaks exchange reuse (measured:
    * x66 2.1 s → 4.2 s). */
  private[queries] def guardedBroadcast(df: DataFrame): DataFrame = {
    val max = df.sparkSession.conf
      .getOption("spark.graft.broadcastMaxRows")
      .map(v => v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"spark.graft.broadcastMaxRows must be a row-count integer, got '$v'")))
      .getOrElse(16000000L)
    val cp = df.localCheckpoint(eager = false)
    if (cp.count() <= max) broadcast(cp) else df
  }

  /** Oracle side of [[lmScoreCore]]: x62's bigram chain as WITH items
    * ending in `doc(doc_id, carry..., n_trans, sum_f)`, the `carry`
    * columns of `documents` riding every row as they do in the engine. */
  private def lmDocSql(carry: String*): String = {
    val c = carry.map(", " + _).mkString
    s"""t AS (SELECT doc_id$c, string_split(text, ' ') AS toks FROM documents),
      |bgk AS (SELECT doc_id$c, unnest(range(2, len(toks)+1)) AS i, toks FROM t),
      |bg AS (SELECT doc_id$c, toks[i-1] AS w1, toks[i] AS w2 FROM bgk),
      |cpair AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
      |cctx AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
      |px AS (SELECT doc_id$c,
      |    CAST(FLOOR(CAST(c2 AS DOUBLE) / c1 * 1000000) AS BIGINT) AS f
      |  FROM bg JOIN cpair USING (w1, w2) JOIN cctx USING (w1)),
      |doc AS (SELECT doc_id$c, CAST(COUNT(*) AS BIGINT) AS n_trans,
      |    CAST(SUM(f) AS BIGINT) AS sum_f FROM px GROUP BY doc_id$c)""".stripMargin
  }

  /** The shared bigram explode over (doc_id[, carry...], text): one row
    * per adjacent space-split token pair, carry columns riding the
    * exploded rows (x137's carry argument — a small fixed payload, zero
    * extra exchanges). Factored (r18 self-review) so the three bigram
    * consumers — [[lmScoreCore]], x149's two-model probe, x153's
    * per-source models — state the empty-range guard exactly once. */
  private def bigramsOf(dd: DataFrame, carry: Seq[String]): DataFrame =
    dd.select(col("doc_id") +: carry.map(col) :+ split(col("text"), " ").as("toks"): _*)
      .filter(size(col("toks")) >= 2) // DuckDB range(2,2) is empty; Spark sequence(2,1) would DESCEND
      .select(col("doc_id") +: carry.map(col) :+ explode(expr(
        "transform(sequence(2, size(toks)), i -> struct(toks[i-2] AS w1, toks[i-1] AS w2))")).as("b"): _*)
      .select(col("doc_id") +: carry.map(col) :+ col("b.w1").as("w1") :+ col("b.w2").as("w2"): _*)

  /** x63: BPE first-merge pair counts — the tokenizer-induction step: count
    * adjacent CHARACTER pairs across the corpus and rank the merge
    * candidates (what the first iteration of byte-pair encoding computes).
    * The classic BPE trick IS the scale story: aggregate to the
    * word-frequency table first (vocabulary-sized, map-side combined), then
    * expand each DISTINCT word into its pairs weighted by its count — the
    * pair expansion runs over the vocabulary, never the corpus. The final
    * rank runs on a table bounded by |alphabet|² rows, so the global
    * window is a non-issue at any corpus size. Deterministic tie-break
    * (count desc, pair asc); 1-char words contribute no pairs. */
  val bpePairs = sql(
    "x63_bpe_pairs",
    """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      |wc AS (SELECT word, COUNT(*) AS wcnt FROM w GROUP BY word),
      |pr AS (SELECT substring(word, i, 2) AS pair, wcnt FROM
      |  (SELECT word, wcnt, unnest(range(1, length(word))) AS i FROM wc) q),
      |pc AS (SELECT pair, CAST(SUM(wcnt) AS BIGINT) AS cnt FROM pr GROUP BY pair)
      |SELECT pair, cnt,
      |  CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS INTEGER) AS rk
      |FROM pc ORDER BY rk LIMIT 20""".stripMargin) { (s, d) =>
    val wc = docs(s, d).select(explode(tokens).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wcnt"))
    val pairs = wc
      .filter(length(col("word")) >= 2) // DuckDB range(1,1) is empty; Spark sequence(1,0) would DESCEND
      .select(col("wcnt"), explode(expr(
        "transform(sequence(1, length(word)-1), i -> substring(word, i, 2))")).as("pair"))
    pairs.groupBy("pair").agg(sum("wcnt").as("cnt"))
      .select(col("pair"), col("cnt"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("pair"))).cast("int").as("rk"))
      .filter(col("rk") <= 20)
      .orderBy("rk")
  }

  /** x101: mass-weighted median document length — the packing statistic
    * x54's sequence packer actually needs: the length L such that HALF THE
    * CORPUS CHARACTERS live in documents shorter than (or at) L. The
    * count-median (q10's machinery) answers "what does the typical DOC
    * look like"; the mass-median answers "where does the typical BYTE
    * live" — on heavy-tailed corpora they diverge wildly (shipped corpus:
    * see PLANS), and packing/sharding policy follows the mass, not the
    * count. Exact by construction: integer cumulative weight against an
    * integer total (2·cum ≥ tot crossover), deterministic order
    * (n_chars, doc_id) — no interpolation, no floats. One window exchange
    * per the F1 discipline; the crossover pick is a partial-final MIN. */
  val massMedian = sql(
    "x101_mass_median",
    """WITH c AS (SELECT source, n_chars,
      |    SUM(n_chars) OVER (PARTITION BY source ORDER BY n_chars, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(n_chars) OVER (PARTITION BY source) AS tot
      |  FROM documents)
      |SELECT source,
      |  CAST(MIN(CASE WHEN 2 * cum >= tot THEN n_chars END) AS BIGINT) AS mass_median_chars,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(MIN(tot) AS BIGINT) AS total_chars
      |FROM c GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val byMass = Window.partitionBy("source").orderBy("n_chars", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy("source")
    docs(s, d)
      .withColumn("cum", sum("n_chars").over(byMass))
      .withColumn("tot", sum("n_chars").over(whole))
      .groupBy("source")
      .agg(
        min(when(col("cum") * 2 >= col("tot"), col("n_chars"))).as("mass_median_chars"),
        count(lit(1)).as("n_docs"),
        min("tot").as("total_chars"))
      .orderBy("source")
  }

  /** Greedy left-to-right BPE merge of the broadcast pair (`ml`, `mr`)
    * against the spaced-symbol form `ss = split(trim(s), ' ')`: scan the
    * symbol array once, and wherever `ss[i] = ml && ss[i+1] = mr` emit the
    * merged symbol and SKIP BOTH (i += 2), else emit `ss[i]` (i += 1) —
    * exactly the rewrite step of Sennrich et al. 2016 and of every
    * production tokenizer. A string `replace` on the spaced form is NOT
    * equivalent: consecutive occurrences share their boundary space, so
    * `replace(' a a a a ', ' a a ', ' aa ')` yields [aa, a, a] where greedy
    * BPE yields [aa, aa] (any run like 'aaaa', or chain like 'erer' when
    * 'er' wins, diverges). Implemented as a codegen'd `aggregate` fold over
    * the symbol indices carrying (accumulated string, skip flag) — row-local,
    * zero shuffle; the DuckDB oracle replicates the identical scan as a
    * recursive CTE stepping i by 1 or 2. Pinned by TextQueriesEdgeSpec's
    * adjacent-double corpus ('aaaa'/'abab'). */
  private val bpeGreedyMergeExpr: String =
    """aggregate(
      |  sequence(0, size(ss) - 1),
      |  named_struct('acc', '', 'skip', false),
      |  (st, i) -> if(st.skip,
      |      named_struct('acc', st.acc, 'skip', false),
      |      if(i < size(ss) - 1 and ss[i] = ml and ss[i+1] = mr,
      |         named_struct('acc', concat(st.acc, ' ', ml, mr), 'skip', true),
      |         named_struct('acc', concat(st.acc, ' ', ss[i]), 'skip', false))),
      |  st -> concat(st.acc, ' '))""".stripMargin

  /** The DuckDB twin of [[bpeGreedyMergeExpr]]: a recursive CTE scanning the
    * 1-based symbol list with the same i+=2-on-match rule. `from` must have
    * columns (n, s[, w]); the produced CTE pair is `m<k>` (scan states) and
    * `w<k>` (terminal rewritten rows). */
  private def bpeOracleMergeCte(k: Int, from: String, best: String, carryW: Boolean): String = {
    val w = if (carryW) "w, " else ""
    s"""m$k AS (
       |  SELECT ${w}n, string_split(trim(s), ' ') AS ss, $best.lhs AS ml, $best.rhs AS mr, 1 AS i, '' AS acc
       |  FROM $from, $best
       |  UNION ALL
       |  SELECT ${w}n, ss, ml, mr,
       |    CASE WHEN i < len(ss) AND ss[i] = ml AND ss[i+1] = mr THEN i + 2 ELSE i + 1 END,
       |    acc || ' ' || CASE WHEN i < len(ss) AND ss[i] = ml AND ss[i+1] = mr THEN ml || mr ELSE ss[i] END
       |  FROM m$k WHERE i <= len(ss)),
       |w$k AS (SELECT ${w}n, acc || ' ' AS s FROM m$k WHERE i > len(ss))""".stripMargin
  }

  /** Shared x99/x103 oracle SQL prologue: word counts -> spaced symbol form
    * (optionally carrying the raw word `w` for the encode join) -> 3 rounds
    * of pair-count / argmax / greedy-merge, exposing b1/b2/b3 and w0..w3. */
  private def bpeOracleLearnSql(carryW: Boolean): String = {
    val w = if (carryW) "w, " else ""
    def pairs(k: Int, from: String) =
      s"""p$k AS (SELECT ss[i+1] AS lhs, ss[i+2] AS rhs, CAST(SUM(n) AS BIGINT) AS cnt
         |  FROM (SELECT n, ss, unnest(range(0, len(ss)-1)) AS i
         |        FROM (SELECT n, string_split(trim(s), ' ') AS ss FROM $from) q0) q1
         |  GROUP BY 1, 2)""".stripMargin
    def best(k: Int) =
      s"b${k + 1} AS (SELECT lhs, rhs, cnt FROM p$k ORDER BY cnt DESC, lhs, rhs LIMIT 1)"
    s"""uw AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents),
       |wcnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM uw WHERE length(w) > 0 GROUP BY w),
       |w0 AS (SELECT ${w}n, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s FROM wcnt),
       |${pairs(0, "w0")},
       |${best(0)},
       |${bpeOracleMergeCte(1, "w0", "b1", carryW)},
       |${pairs(1, "w1")},
       |${best(1)},
       |${bpeOracleMergeCte(2, "w1", "b2", carryW)},
       |${pairs(2, "w2")},
       |${best(2)}""".stripMargin
  }

  /** Spark-side BPE learning shared by x99/x103: the corpus-sized word count
    * plus 3 vocabulary-sized (pair-count, argmax, greedy-merge) rounds.
    * Returns the three 1-row best-pair frames (lhs, rhs, cnt). */
  private def bpeBests(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    // corpus-sized stage: one scan -> word counts (partial agg map-side)
    val w0 = docs(s, d)
      .select(explode(trimToks).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(col("n"),
        concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("s"))
      .localCheckpoint(eager = false) // each iteration re-reads the vocab
    def pairCounts(wdf: DataFrame) =
      wdf.select(col("n"), split(trim(col("s")), " ").as("ss"))
        .filter(size(col("ss")) >= 2) // Spark sequence(0,-1) would DESCEND
        .select(col("n"), explode(expr(
          "transform(sequence(0, size(ss) - 2), i -> struct(ss[i] AS lhs, ss[i+1] AS rhs))")).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("n").as("cnt"))
    def bestOf(pc: DataFrame) =
      pc.orderBy(col("cnt").desc, col("lhs"), col("rhs")).limit(1)
        .localCheckpoint(eager = false) // consumed by the rewrite AND the output
    def merge(wdf: DataFrame, best: DataFrame) =
      wdf.crossJoin(broadcast(best.select(col("lhs").as("ml"), col("rhs").as("mr"))))
        .select(col("n"), split(trim(col("s")), " ").as("ss"), col("ml"), col("mr"))
        .select(col("n"), expr(bpeGreedyMergeExpr).as("s"))
        .localCheckpoint(eager = false)
    val b1 = bestOf(pairCounts(w0))
    val w1 = merge(w0, b1)
    val b2 = bestOf(pairCounts(w1))
    val w2 = merge(w1, b2)
    val b3 = bestOf(pairCounts(w2))
    (b1, b2, b3)
  }

  /** x99: BPE vocabulary learning — the first 3 merge steps of
    * byte-pair-encoding training (Sennrich et al. 2016), the algorithm
    * behind every production subword tokenizer, run as 3 UNROLLED
    * declarative iterations (the x69 fixed-iteration discipline applied to
    * a string kernel). The ONLY corpus-sized work is the initial word
    * count (one scan, map-side combined); every iteration after that is
    * VOCABULARY-sized: pair counts expand each distinct word once weighted
    * by its count, the argmax is a 1-row limit, and the merge rewrite is a
    * row-local greedy symbol-wise scan ([[bpeGreedyMergeExpr]] — NOT a
    * string `replace`, which mishandles back-to-back pair occurrences)
    * against the broadcast 1-row best pair, replicated scan-for-scan by the
    * oracle's recursive CTE. Deterministic tie-break: count desc, then
    * (lhs, rhs) asc.
    *
    * Production note: a full k-merge trainer (k ≈ 32000) recounts only the
    * pairs the last merge touched (SentencePiece's heap); this fixed-k
    * demo recounts per step — same semantics, O(k·vocab) instead of
    * O(k·Δ), scaladoc'd so nobody mistakes the demo loop for the scale
    * path. Output: (step, lhs, rhs, cnt) — the learned merge table a
    * tokenizer ships as its vocab artifact; x103 applies it back to the
    * corpus. */
  val bpeMerges = sql(
    "x99_bpe_merges",
    s"""WITH RECURSIVE ${bpeOracleLearnSql(carryW = false)}
       |SELECT * FROM (
       |  SELECT CAST(1 AS INTEGER) AS step, lhs, rhs, cnt FROM b1
       |  UNION ALL SELECT 2, lhs, rhs, cnt FROM b2
       |  UNION ALL SELECT 3, lhs, rhs, cnt FROM b3) u
       |ORDER BY step""".stripMargin) { (s, d) =>
    val (b1, b2, b3) = bpeBests(s, d)
    b1.select(lit(1).cast("int").as("step"), col("lhs"), col("rhs"), col("cnt"))
      .unionAll(b2.select(lit(2).cast("int").as("step"), col("lhs"), col("rhs"), col("cnt")))
      .unionAll(b3.select(lit(3).cast("int").as("step"), col("lhs"), col("rhs"), col("cnt")))
      .orderBy("step")
  }

  /** x103: BPE ENCODE — the other half of the tokenizer lifecycle x99
    * started: apply the 3 learned merges back to every document, in
    * learning order, and emit (doc_id, n_tokens, head_tokens). This is
    * exactly what a production tokenizer does at inference: split to
    * words, explode each word to character symbols, then run the merge
    * table IN ORDER, each merge a greedy left-to-right symbol scan
    * ([[bpeMergeArrExpr]] — same fold as training, so encode(train-corpus)
    * reproduces the trained vocab segmentation bit-for-bit).
    *
    * Scale stance: the merge table (1 row, flattened to one string) is
    * BROADCAST and the entire encode is ONE native codegen'd kernel call
    * per row over one corpus scan — zero corpus-side shuffle
    * (plan-asserted). The kernel ([[graft.functions.BpeEncode]],
    * `graft_bpe_tokens`) runs the split + char symbols + k greedy merge
    * passes as a single JVM loop on span indices; the nested-HOF
    * formulation it replaced walked words × symbols × merges interpreted
    * lambda frames per row and measured ~15 s at sf0.1 vs native
    * (BpeEncodeSpec pins imperative reference ≡ kernel ≡ codegen). The
    * alternative —
    * encode each DISTINCT word once and join back — trades this CPU for a
    * corpus-wide shuffle on the word key; at 100 TB the zero-shuffle form
    * wins (encode cost is linear and pipelined into the scan; the join
    * form re-materializes the corpus). The learning stages reuse
    * [[bpeBests]] (vocabulary-sized; see x99). The DuckDB oracle DOES use
    * the word-join form (its recursive-CTE scan is per distinct word) —
    * divergent plans, identical results, which is the point of a
    * differential oracle. */
  val bpeEncode = sql(
    "x103_bpe_encode",
    s"""WITH RECURSIVE ${bpeOracleLearnSql(carryW = true)},
       |${bpeOracleMergeCte(3, "w2", "b3", carryW = true)},
       |venc AS (SELECT w, trim(s) AS ts FROM w3),
       |dw AS (SELECT doc_id, ws, unnest(range(1, len(ws)+1)) AS pos
       |  FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> length(x) > 0) AS ws
       |        FROM documents) q
       |  WHERE len(ws) > 0),
       |perdoc AS (SELECT d.doc_id, string_agg(v.ts, ' ' ORDER BY d.pos) AS toks
       |  FROM dw d JOIN venc v ON v.w = d.ws[d.pos]
       |  GROUP BY d.doc_id)
       |SELECT doc_id,
       |  CAST(len(string_split(toks, ' ')) AS BIGINT) AS n_tokens,
       |  array_to_string((string_split(toks, ' '))[1:8], ' ') AS head_tokens
       |FROM perdoc ORDER BY doc_id""".stripMargin) { (s, d) =>
    bpeEncodeDocs(docs(s, d), bpeMergeTable(s, d)).orderBy("doc_id")
  }

  /** The x103 encode transform on its own: (doc_id, text) × broadcast
    * 1-row merge table → (doc_id, n_tokens, head_tokens). Row-local and
    * stateless, so it runs unchanged over a STREAMING frame (the
    * stream-static cross join broadcasts the static side) — shared
    * verbatim by batch x103 and [[graft.streaming.DocStream.encodeTokens]]
    * so the two can never drift. */
  private[graft] def bpeEncodeDocs(docsDf: DataFrame, mergesDf: DataFrame): DataFrame =
    docsDf
      .crossJoin(mergesDf)
      .select(col("doc_id"), expr("graft_bpe_tokens(text, merges)").as("toks"))
      .filter(size(col("toks")) > 0) // a doc has >=1 token iff >=1 word
      .select(col("doc_id"),
        size(col("toks")).cast("bigint").as("n_tokens"),
        array_join(slice(col("toks"), 1, 8), " ").as("head_tokens"))

  /** The learned 3-merge table flattened to the `graft_bpe_tokens` pair-list
    * form, as a broadcast 1-row frame (shared by x103/x105). */
  private[graft] def bpeMergeTable(s: SparkSession, d: String): DataFrame = {
    val (b1, b2, b3) = bpeBests(s, d)
    broadcast(
      b1.select(col("lhs").as("l1"), col("rhs").as("r1"))
        .crossJoin(b2.select(col("lhs").as("l2"), col("rhs").as("r2")))
        .crossJoin(b3.select(col("lhs").as("l3"), col("rhs").as("r3")))
        .select(concat_ws(" ", col("l1"), col("r1"), col("l2"), col("r2"),
          col("l3"), col("r3")).as("merges")))
  }

  /** x105: tokenizer COMPRESSION datasheet — chars-per-1000-tokens by
    * source, the figure of merit a tokenizer release ships (and the one a
    * mixture designer reads next to x53: a source whose text compresses
    * badly under the shared vocab costs proportionally more sequence
    * budget per character of signal). Uses the x99-learned merges via the
    * same native kernel as x103; n_chars counts exactly the NON-WHITESPACE
    * characters (the tokens partition each word's characters, so
    * Σ|token| ≡ Σ|word| ≡ length(text minus \s) — asserted by the oracle
    * equality, which computes it per word on the other side). Ratio in
    * exact integer chars-per-1000-tokens (floor div, deround-safe).
    *
    * Scale: identical posture to x103 (broadcast merges, one corpus scan,
    * row-local kernel) plus one 20-group partial-final aggregate. */
  val bpeCompression = sql(
    "x105_bpe_compression",
    s"""WITH RECURSIVE ${bpeOracleLearnSql(carryW = true)},
       |${bpeOracleMergeCte(3, "w2", "b3", carryW = true)},
       |venc AS (SELECT w, trim(s) AS ts FROM w3),
       |dw AS (SELECT doc_id, source, ws, unnest(range(1, len(ws)+1)) AS pos
       |  FROM (SELECT doc_id, source, list_filter(string_split_regex(trim(text), '\\s+'), x -> length(x) > 0) AS ws
       |        FROM documents) q
       |  WHERE len(ws) > 0),
       |wt AS (SELECT d.doc_id, d.source,
       |    CAST(len(string_split(v.ts, ' ')) AS BIGINT) AS n_toks,
       |    CAST(length(d.ws[d.pos]) AS BIGINT) AS n_chars
       |  FROM dw d JOIN venc v ON v.w = d.ws[d.pos])
       |SELECT source,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       |  (CAST(SUM(n_chars) AS BIGINT) * 1000) // CAST(SUM(n_toks) AS BIGINT) AS chars_per_1000_tokens
       |FROM wt GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    docs(s, d)
      .crossJoin(bpeMergeTable(s, d))
      .select(col("source"), expr("graft_bpe_tokens(text, merges)").as("toks"),
        length(regexp_replace(col("text"), "\\s+", "")).cast("bigint").as("nc"))
      .filter(size(col("toks")) > 0)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("toks")).cast("bigint")).as("n_tokens"),
        sum(col("nc")).as("n_chars"))
      .withColumn("chars_per_1000_tokens", expr("(n_chars * 1000L) div n_tokens"))
      .orderBy("source")
  }

  /** x123: tokenizer FERTILITY by language — tokens per 1000 whitespace
    * words under the x99-learned shared vocab, per `lang`: the
    * tokenizer-fairness figure every multilingual release publishes
    * (NLLB/XLM-R-style fertility tables). A language whose fertility runs
    * high pays proportionally more sequence budget per word of signal —
    * the lang-axis complement of x105's per-source compression (and the
    * economic consequence of the per-lang vocab gaps x110 exposes).
    * Exact integers end to end: Σ tokens ×1000 floor-div Σ words.
    *
    * Scale: x103's posture verbatim — merge table broadcast (1 row), ONE
    * corpus scan through the native `graft_bpe_tokens` kernel, zero
    * corpus-side shuffle before a |langs|-group partial-final aggregate. */
  val bpeFertility = sql(
    "x123_bpe_fertility",
    s"""WITH RECURSIVE ${bpeOracleLearnSql(carryW = true)},
       |${bpeOracleMergeCte(3, "w2", "b3", carryW = true)},
       |venc AS (SELECT w, trim(s) AS ts FROM w3),
       |dw AS (SELECT doc_id, lang, ws, unnest(range(1, len(ws)+1)) AS pos
       |  FROM (SELECT doc_id, lang, list_filter(string_split_regex(trim(text), '\\s+'), x -> length(x) > 0) AS ws
       |        FROM documents) q
       |  WHERE len(ws) > 0),
       |wt AS (SELECT d.doc_id, d.lang,
       |    CAST(len(string_split(v.ts, ' ')) AS BIGINT) AS n_toks
       |  FROM dw d JOIN venc v ON v.w = d.ws[d.pos])
       |SELECT lang,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       |  (CAST(SUM(n_toks) AS BIGINT) * 1000) // CAST(COUNT(*) AS BIGINT) AS toks_per_1000_words
       |FROM wt GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    fertilityStatsOf(docs(s, d), bpeMergeTable(s, d)).orderBy("lang")
  }

  /** x123's per-lang fertility fold over an arbitrary (lang, text) frame ×
    * broadcast merge table. Row-local encode + a mergeable all-sums
    * aggregate, so it runs unchanged over a STREAMING frame in update mode
    * (the x113 datasheet move: the state store holds one sums row per
    * lang, the floor-div fertility is derived per emission) — shared
    * verbatim by batch x123 and
    * [[graft.streaming.DocStream.fertilityUpdates]] so the two can never
    * drift. */
  private[graft] def fertilityStatsOf(docsDf: DataFrame, mergesDf: DataFrame): DataFrame =
    docsDf
      .crossJoin(mergesDf)
      .select(col("lang"), expr("graft_bpe_tokens(text, merges)").as("toks"),
        nTokOfText.as("n_words"))
      .filter(size(col("toks")) > 0)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum(size(col("toks")).cast("bigint")).as("n_tokens"))
      .withColumn("toks_per_1000_words", expr("(n_tokens * 1000L) div n_words"))

  // PII patterns shared by the x106 engine plan and its DuckDB oracle —
  // written once in the RE2 ∩ java.util.regex common subset (no lookaround,
  // no backrefs; \b, \d, bounded repetition behave identically), single-
  // backslash form. The Spark side doubles the backslashes because Spark's
  // SQL literal parser processes escapes where DuckDB's does not.
  private val piiEmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val piiPhonePat = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  private val piiIpPat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private def sparkPat(p: String) = p.replace("\\", "\\\\")

  /** x106: PII scan + redaction — the C4/Dolma curation stage the registry
    * was missing: count email / phone / IPv4 spans per document and emit
    * the redacted text's fingerprint and length. Row-local regex chain
    * fused into the scan (regexp_extract_all counts, then three chained
    * regexp_replace passes, email first so its dots never feed the IP
    * rule); ONE corpus pass, zero shuffles beyond the presentation sort.
    *
    * The shipped corpus contains no PII-shaped spans (verified: zero
    * digits), so the query PLANTS deterministic spans derived from doc_id
    * (the x81 simulated-crawl move): docs ≡0 mod 7 get an email, mod 11
    * an internal IP, mod 13 a US-format phone — overlapping residues give
    * multi-PII docs. Both engines build the identical planted string, so
    * the oracle hash checks the ENTIRE regex semantics cross-engine
    * (match boundaries, greediness, global replace) — the arithmetic a
    * production run applies to text that arrives with real spans. */
  val piiRedact = sql(
    "x106_pii_redact",
    s"""WITH p AS (SELECT doc_id,
       |    text
       |      || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
       |      || CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 logged' ELSE '' END
       |      || CASE WHEN doc_id % 13 = 0 THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' soon' ELSE '' END
       |      AS planted
       |  FROM documents),
       |r AS (SELECT doc_id,
       |    CAST(len(regexp_extract_all(planted, '$piiEmailPat')) AS BIGINT) AS n_emails,
       |    CAST(len(regexp_extract_all(planted, '$piiPhonePat')) AS BIGINT) AS n_phones,
       |    CAST(len(regexp_extract_all(planted, '$piiIpPat')) AS BIGINT) AS n_ips,
       |    regexp_replace(regexp_replace(regexp_replace(planted,
       |      '$piiEmailPat', '<EMAIL>', 'g'),
       |      '$piiPhonePat', '<PHONE>', 'g'),
       |      '$piiIpPat', '<IP>', 'g') AS clean
       |  FROM p)
       |SELECT doc_id, n_emails, n_phones, n_ips,
       |  md5(clean) AS clean_md5, CAST(length(clean) AS BIGINT) AS n_chars_clean
       |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
    val planted = concat(
      col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com now")))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".1 logged")))
        .otherwise(lit("")),
      when(col("doc_id") % 13 === 0,
        concat(lit(" call 415-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" soon")))
        .otherwise(lit("")))
    docs(s, d)
      .select(col("doc_id"), planted.as("planted"))
      .transform(piiScanRedact)
      .orderBy("doc_id")
  }

  /** The x106 scan+redact transform on its own: (doc_id, planted) →
    * per-pattern counts + redacted-text fingerprint. Pure row-local regex
    * chain — no state, no shuffle — so it runs unchanged over a STREAMING
    * frame; shared verbatim by batch x106 and
    * [[graft.streaming.DocStream.piiRedact]] so the two can never drift. */
  private[graft] def piiScanRedact(in: DataFrame): DataFrame =
    in.select(col("doc_id"),
        expr(s"CAST(size(regexp_extract_all(planted, '${sparkPat(piiEmailPat)}', 0)) AS BIGINT)").as("n_emails"),
        expr(s"CAST(size(regexp_extract_all(planted, '${sparkPat(piiPhonePat)}', 0)) AS BIGINT)").as("n_phones"),
        expr(s"CAST(size(regexp_extract_all(planted, '${sparkPat(piiIpPat)}', 0)) AS BIGINT)").as("n_ips"),
        regexp_replace(regexp_replace(regexp_replace(col("planted"),
          piiEmailPat, "<EMAIL>"),
          piiPhonePat, "<PHONE>"),
          piiIpPat, "<IP>").as("clean"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        md5(col("clean")).as("clean_md5"),
        length(col("clean")).cast("bigint").as("n_chars_clean"))

  /** x64: Gopher/Dolma-style composite quality GATE — the multi-rule
    * pass/fail filter a curation pipeline applies after scoring: word-count
    * band, mean-word-length band, duplicate-bigram-fraction cap (the
    * within-doc repetition rule), and a minimum stop-word count, each
    * emitted as its own flag plus the conjunctive `pass` so downstream
    * stages can both filter on the gate and report per-rule kill tallies.
    * Thresholds chosen non-vacuous on the shipped corpus (every rule fails
    * some real docs: n_words p05 = 16 < 25; mean_wlen spans 3.71–5.30
    * around the [4,5] band; dup-bigram p99 ≈ 0.104 > 0.08; 112/500 docs
    * have < 2 stop hits).
    *
    * Scale stance: every rule is row-local codegen'd HOFs over one split of
    * the text — one scan, zero shuffles (the orderBy is presentation-only);
    * at 100 TB the gate is a pure map pass fused into whatever scan feeds
    * it. The float columns ship as RAW exact-integer quotients (the x62
    * round-11 lesson: ROUND on such a quotient is itself the only
    * divergence risk); rule flags are INTs so the hash oracle sees
    * identical types. */
  val textQualityGate = sql(
    "x64_quality_gate", {
      // rule flags + composite pass composed from the ONE per-rule
      // spelling (gateRulePredSql) — the measure columns stay spelled
      // out because they ARE the cross-engine reference of the measures
      val flags = gateRules.map(r =>
        s"  CAST(${gateRulePredSql(r, "toks")} AS INTEGER) AS r_$r").mkString(",\n")
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id, toks,
        |    CAST(len(toks) AS INTEGER) AS n_words,
        |    CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
        |          / len(toks) AS mean_wlen,
        |    CAST(len(list_filter(toks, t -> t = 'the' OR t = 'a')) AS INTEGER) AS stop_hits,
        |    CASE WHEN len(toks) < 2 THEN CAST(0.0 AS DOUBLE) ELSE
        |      1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
        |        i -> list_extract(toks, i) || ' ' || list_extract(toks, i + 1)))) AS DOUBLE)
        |        / (len(toks) - 1)
        |    END AS dup_bigram_frac
        |  FROM w
        |)
        |SELECT doc_id, n_words, mean_wlen, dup_bigram_frac, stop_hits,
        |""".stripMargin + flags + ",\n  " + gatePassSql("toks") + """ AS pass
        |FROM s ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
    qualityGateOf(docs(s, d)).orderBy("doc_id")
  }

  /** x64's rule names in their fixed order — also the cascade order (a doc
    * attributes to the FIRST rule that rejects it, x151). A def, not a
    * val: registration vals both above and below this point consume it,
    * and a val would be null during the object-init of earlier ones. */
  private def gateRules = Seq("len", "wlen", "rep", "stop")

  /** Each of x64's four gate rules as its own oracle-SQL BOOLEAN predicate
    * over a `toks` list column — the SINGLE spelling of every threshold
    * and of the dup-bigram rule expression. [[gatePassSql]] conjoins them,
    * x64's oracle emits them (cast 0/1 INTEGER) next to the raw measures,
    * and x157's agreement matrix reads them per-rule — so a threshold edit
    * lands in every oracle at once (r19 advice: x157 had grown a second
    * hand-inlined copy of all four spellings, the same drift class the r15
    * review fixed by factoring the composite gatePassSql). */
  private def gateRulePredSql(rule: String, toks: String): String = rule match {
    case "len" => s"len($toks) BETWEEN 25 AND 5000"
    case "wlen" =>
      s"CAST(list_aggregate(list_transform($toks, t -> length(t)), 'sum') AS DOUBLE)" +
        s" / len($toks) BETWEEN 4.0 AND 5.0"
    case "rep" =>
      s"(CASE WHEN len($toks) < 2 THEN CAST(0.0 AS DOUBLE) ELSE" +
        s" 1.0 - CAST(len(list_distinct(list_transform(range(1, len($toks))," +
        s" i -> list_extract($toks, i) || ' ' || list_extract($toks, i + 1)))) AS DOUBLE)" +
        s" / (len($toks) - 1) END) <= CAST(0.08 AS DOUBLE)"
    case "stop" => s"len(list_filter($toks, t -> t = 'the' OR t = 'a')) >= 2"
    case other => throw new IllegalArgumentException(s"unknown gate rule '$other'")
  }

  /** x64's composite gate as ONE oracle-SQL boolean (0/1 INTEGER) over a
    * `toks` list column — interpolated into every DuckDB oracle that
    * reuses the gate (x129, x130) so the thresholds can never drift from
    * each other (r15 review: two hand-inlined copies had appeared).
    * qualityGateOf is the Spark source of truth; x64's own oracle also
    * emits the per-rule columns and stays the cross-engine reference. */
  private def gatePassSql(toks: String): String =
    "CAST(" + gateRules.map(gateRulePredSql(_, toks)).mkString(" AND ") + " AS INTEGER)"

  /** x64's body over any (doc_id, text) frame — x66 composes it; `keep`
    * carries extra input columns through (x129 keeps `source`) without
    * touching x64's pinned output contract. */
  def qualityGateOf(dd: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    // r20 OPTIMIZATION (guide §4/§2.3): every measure must stay cheap even
    // when a downstream `filter(pass === 1)` is pushed through this
    // projection — Catalyst substitutes the alias chain into the predicate,
    // and HOF lambdas get no cross-boundary subexpression elimination, so
    // the OLD spelling (element_at(w, i) inside a transform over indices)
    // re-evaluated the split PER ELEMENT once `w` was inlined: O(n²·len)
    // per row, measured 0.34 s → 3.16 s on the x134-shape gate+filter at
    // sf0.1. The fixes keep every VALUE bit-identical (oracles unchanged):
    //  - mean_wlen: Σ len(tokens) ≡ length(text) − (n_words − 1) — split on
    //    a single space partitions the text, so token chars + separators
    //    reconstruct it exactly (holds for empty/leading/trailing tokens);
    //    the aggregate-HOF is replaced by O(1) arithmetic on the same ints.
    //  - dup_bigram: zip_with over two slices builds the same
    //    "tᵢ SPACE tᵢ₊₁" strings with lambdas that touch ONLY their
    //    elements — inlining `w` costs a handful of O(n) splits per row,
    //    never O(n²).
    val base = dd
      .withColumn("w", tokens)
      .withColumn("n_words", size(col("w")))
      .withColumn("mean_wlen",
        (length(col("text")).cast("long") - col("n_words") + 1).cast("double")
          / col("n_words"))
      .withColumn("stop_hits",
        size(filter(col("w"), t => t === "the" || t === "a")))
      .withColumn("dup_bigram_frac", when(col("n_words") < 2, lit(0.0)).otherwise(
        lit(1.0) - size(array_distinct(zip_with(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1),
          (x, y) => concat(x, lit(" "), y))))
          .cast("double") / (col("n_words") - 1)))
    val rLen = col("n_words").between(25, 5000)
    val rWlen = col("mean_wlen").between(4.0, 5.0)
    val rRep = col("dup_bigram_frac") <= 0.08
    val rStop = col("stop_hits") >= 2
    base.select(Seq(col("doc_id"), col("n_words"), col("mean_wlen"),
      col("dup_bigram_frac"), col("stop_hits"),
      rLen.cast("int").as("r_len"), rWlen.cast("int").as("r_wlen"),
      rRep.cast("int").as("r_rep"), rStop.cast("int").as("r_stop"),
      (rLen && rWlen && rRep && rStop).cast("int").as("pass"))
      ++ keep.map(col): _*)
  }

  /** x66: score-vs-gate CALIBRATION — the curation diagnostic that tells
    * you whether the learned signal (x62's bigram-LM score) agrees with
    * the heuristic rules (x64's composite gate): docs are bucketed into
    * score deciles and each decile reports its gate pass-rate. A
    * well-calibrated score shows pass_rate rising with the decile; a flat
    * table means one of the two signals is noise. Composes the two proven
    * stages ([[lmScoreOf]], [[qualityGateOf]]) in ONE declarative plan.
    *
    * Scale stance: deciles via the x50 pattern — exact interior boundaries
    * from the probe-free single-group quantile aggregate, broadcast as a
    * 9-element array, rows bucketed with a row-local filter HOF. No global
    * NTILE (one task sorting the corpus), no extra scan: the gate is
    * row-local and rides the score join. */
  /** Shared oracle chain ending in `j` = (doc_id, lm_score, pass) — the
    * x62-score ⊗ x64-gate join both x66 (calibration) and x131 (AUC)
    * consume; the gate interpolates [[gatePassSql]] so the thresholds live
    * in exactly one place. */
  private val scoreGateJChain: String =
    s"""WITH lt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |lbgk AS (SELECT doc_id, unnest(range(2, len(toks)+1)) AS i, toks FROM lt),
      |lbg AS (SELECT doc_id, toks[i-1] AS w1, toks[i] AS w2 FROM lbgk),
      |lcp AS (SELECT w1, w2, COUNT(*) AS c2 FROM lbg GROUP BY w1, w2),
      |lcc AS (SELECT w1, COUNT(*) AS c1 FROM lbg GROUP BY w1),
      |lpx AS (SELECT lbg.doc_id,
      |    CAST(FLOOR(CAST(c2 AS DOUBLE) / c1 * 1000000) AS BIGINT) AS f
      |  FROM lbg JOIN lcp USING (w1, w2) JOIN lcc USING (w1)),
      |score AS (SELECT doc_id,
      |    CAST(SUM(f) AS DOUBLE) / COUNT(*) / 1000000 AS lm_score
      |  FROM lpx GROUP BY doc_id),
      |gate AS (SELECT doc_id, ${gatePassSql("toks")} AS pass FROM lt),
      |j AS (SELECT s.doc_id, s.lm_score, g.pass FROM score s JOIN gate g USING (doc_id))""".stripMargin

  val scoreGateCalibration = sql(
    "x66_score_calibration",
    {
      val bCols = (1 to 9).map(i =>
        s"    PERCENTILE_CONT(0.$i) WITHIN GROUP (ORDER BY lm_score) AS b$i").mkString(",\n")
      val caseSum = (1 to 9).map(i =>
        s"(CASE WHEN j.lm_score > b.b$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""$scoreGateJChain,
        |b AS (SELECT
        |$bCols
        |  FROM j),
        |t2 AS (SELECT j.lm_score, j.pass,
        |    CAST(1 + $caseSum AS INTEGER) AS decile
        |  FROM j CROSS JOIN b)
        |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(pass) AS BIGINT) AS n_pass,
        |  CAST(SUM(pass) AS DOUBLE) / COUNT(*) AS pass_rate,
        |  MIN(lm_score) AS lo, MAX(lm_score) AS hi
        |FROM t2 GROUP BY decile ORDER BY decile""".stripMargin
    }) { (s, d) =>
    val dd = docs(s, d)
    val j = lmScoreOf(dd).select("doc_id", "lm_score")
      .join(qualityGateOf(dd).select("doc_id", "pass"), Seq("doc_id"))
    // exact decile boundaries, x50-style: one aggregate, broadcast array,
    // row-local bucketing — never a global sort
    val bounds = graft.operators.Quantiles
      .singleGroupQuantiles(j.withColumn("__g", lit(1)), "__g", "lm_score",
        (1 to 9).map(_ / 10.0))
      .select(lit(1).as("__g"), array((0 until 9).map(i => col(s"q$i")): _*).as("bs"))
    j.withColumn("__g", lit(1))
      .join(broadcast(bounds), Seq("__g"), "left")
      .select(col("lm_score"), col("pass"),
        (size(filter(coalesce(col("bs"), array()),
          x => col("lm_score") > x)) + 1).as("decile"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum("pass").as("n_pass"),
        (sum("pass").cast("double") / count(lit(1))).as("pass_rate"),
        min("lm_score").as("lo"), max("lm_score").as("hi"))
      .orderBy("decile")
  }

  /** x42: per-language top-5 tokens via the Misra-Gries heavy-hitters
    * aggregator (`functions.HeavyHitters`) — the bounded-state path for
    * "top tokens per group" at 100 TB, where the exact plan shuffles the
    * full (group, token) width. The summary is a fixed-size mergeable
    * partial aggregate (map-side combine), and while a group's distinct
    * tokens stay under the capacity no decrement ever fires, so on the
    * shipped corpora the output IS exact — which is what lets a sketch
    * query be hash-checked against a plain GROUP BY + ROW_NUMBER oracle.
    * HeavyHittersSpec covers the lossy regime against the classical
    * n/(m+1) bound. */
  val textTopkTokens = sql(
    "x42_text_topk_tokens",
    """SELECT lang, tok, cnt, rk FROM (
      |  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY COUNT(*) DESC, tok) AS INTEGER) AS rk
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents) t
      |  GROUP BY lang, tok) ranked
      |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin) { (s, d) =>
    val topk = udaf(new graft.functions.HeavyHitters(1024, 5)).withName("graft_topk")
    docs(s, d).select(col("lang"), explode(tokens).as("tok"))
      .groupBy("lang").agg(topk(col("tok")).as("tk"))
      .select(col("lang"), posexplode(col("tk")))
      .select(col("lang"), col("col._1").as("tok"), col("col._2").as("cnt"),
        (col("pos") + 1).cast("int").as("rk"))
      .orderBy("lang", "rk")
  }

  /** x47: the edit-distance KERNEL on a deterministic dense pairing
    * (consecutive ids) — the verification arithmetic in isolation, hash-
    * checked over every document. The composed pipeline — LSH blocking →
    * edit-distance verify, the real record-linkage shape — is [[x52
    * recordLinkage]]. Distances are integers and the ratio is an exact
    * rational, so the oracle matches bit-for-bit; inputs are truncated to
    * 80 chars, the standard linkage trick bounding the O(len²) DP per
    * pair. */
  val textEditDistance = sql(
    "x47_text_edit_distance",
    """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(levenshtein(substring(a.text, 1, 80), substring(b.text, 1, 80)) AS INTEGER) AS edit_dist,
      |  ROUND(1.0 - CAST(levenshtein(substring(a.text, 1, 80), substring(b.text, 1, 80)) AS DOUBLE)
      |    / GREATEST(length(substring(a.text, 1, 80)), length(substring(b.text, 1, 80))), 6) AS sim
      |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |ORDER BY id_a""".stripMargin) { (s, d) =>
    val a = docs(s, d).select(col("doc_id").as("id_a"), substring(col("text"), 1, 80).as("ta"))
    val b = docs(s, d).select(col("doc_id").as("id_b"), substring(col("text"), 1, 80).as("tb"))
    a.join(b, col("id_b") === col("id_a") + 1)
      .withColumn("edit_dist", levenshtein(col("ta"), col("tb")))
      .select(col("id_a"), col("id_b"), col("edit_dist"),
        round(lit(1.0) - col("edit_dist").cast("double")
          / greatest(length(col("ta")), length(col("tb"))), 6).as("sim"))
      .orderBy("id_a")
  }

  /** x52: blocked record linkage — the composition x47's kernel exists
    * for: x03's MinHash band join is the BLOCKING stage ([[bandCandidates]]
    * over the exact-collapsed reps), and edit-distance verification runs
    * over exactly those candidate pairs — never all-pairs (the registry
    * plan guard forbids a cartesian in this plan too). Output: every
    * blocked candidate pair with its exact Levenshtein distance and
    * normalized similarity on 80-char prefixes (x47's bounded-DP trick);
    * the caller thresholds `sim` per linkage policy. The oracle replicates
    * the full splitmix64/FNV banding chain in DuckDB HUGEINT and verifies
    * with its own `levenshtein`, so blocking AND verification arithmetic
    * are hash-checked end to end. At 100 TB this is the linkage shape that
    * survives: candidates ∝ band-collision density, and the O(len²) DP
    * runs once per candidate, not per pair of records. */
  val recordLinkage = sql("x52_record_linkage", HashOracles.recordLinkage) { (s, d) =>
    // reps (id, text) and their signatures share one GC-scoped boundary —
    // the blocking side reads sigs, the verify side reads texts
    val reps = exactReps(docs(s, d)).localCheckpoint(eager = false)
    val sigs = sketchOf(reps)
    bandCandidates(sigs)
      .join(reps.select(col("doc_id").as("doc_a"),
        substring(col("text"), 1, 80).as("ta")), Seq("doc_a"))
      .join(reps.select(col("doc_id").as("doc_b"),
        substring(col("text"), 1, 80).as("tb")), Seq("doc_b"))
      .withColumn("edit_dist", levenshtein(col("ta"), col("tb")))
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("edit_dist"),
        round(lit(1.0) - col("edit_dist").cast("double")
          / greatest(length(col("ta")), length(col("tb"))), 6).as("sim"))
      .orderBy("id_a", "id_b")
  }

  /** x51: dedup APPLY — the step the whole dedup arc exists for: emit the
    * SURVIVING corpus after exact collapse (x01) and near-dup clustering
    * (x03→x26), one row per kept representative with the number of
    * original documents it now stands for. An original doc chains
    * doc → exact-text rep → near-dup cluster label; the label survives.
    * Every stage reuses the plans already proven green: the signature
    * boundary, the band-join pairs, and the hash-min CC loop — this query
    * is their composition, hash-checked end to end (the DuckDB side runs
    * the recursive-CTE closure). At corpus scale the output IS the
    * training corpus manifest (keep_id joins back to fetch text), and
    * n_docs is the dedup ratio audit. */
  /** Survivor-selection policy for the dedup chain — the one decision the
    * x51/x107/x59/x108 family varies. A policy maps the (doc_id, rep)
    * chain to ONE row per cluster: (cluster_rep, keep_id, n_docs[,
    * n_chars]). Parameterizing it here means a release pipeline switches
    * policy as a one-argument change, with every other stage (quality
    * gate, exact collapse, CC labels, split/shard keying) untouched. */
  sealed trait SurvivorPolicy
  /** Keep the cluster label itself (min doc_id) — the bookkeeping
    * convention: cheapest (a pure groupBy, no doc attributes needed). */
  case object KeepMinId extends SurvivorPolicy
  /** Keep the LONGEST document (n_chars DESC, doc_id tiebreak) — the
    * FineWeb/Dolma policy production releases run. */
  case object KeepBest extends SurvivorPolicy

  /** One survivor per cluster under `policy`. KeepMinId is a groupBy on
    * the chain alone; KeepBest joins doc attributes and picks via one
    * row_number window over the chain's existing cluster partitioning. */
  private def surviveBy(chain: DataFrame, attrs: => DataFrame,
      policy: SurvivorPolicy): DataFrame = policy match {
    case KeepMinId =>
      chain.groupBy(col("rep").as("cluster_rep"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("keep_id", col("cluster_rep"))
        .withColumn("n_chars", lit(null).cast("int"))
    case KeepBest =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("rep").orderBy(col("n_chars").desc, col("doc_id"))
      chain.join(attrs.select("doc_id", "n_chars"), Seq("doc_id"))
        .withColumn("rk", row_number().over(w))
        .withColumn("n_docs", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("rep")))
        .filter(col("rk") === 1)
        .select(col("rep").as("cluster_rep"), col("n_docs"),
          col("doc_id").as("keep_id"), col("n_chars"))
  }

  val dedupApply = sql("x51_dedup_apply", HashOracles.dedupApply) { (s, d) =>
    val chain = chainOf(docs(s, d))
    surviveBy(chain, docs(s, d), KeepMinId)
      .select(col("keep_id"), col("n_docs"))
      .orderBy("keep_id")
  }

  /** x107: dedup KEEP-BEST — the survivor-selection policy production
    * pipelines actually run (FineWeb/Dolma-style: keep the LONGEST document
    * in each duplicate cluster, deterministic doc_id tiebreak), vs x51's
    * keep-min-id, which is a bookkeeping convention that throws away
    * content whenever the longest variant isn't the oldest id. Same
    * doc→exact-rep→CC-label chain as x51; the selection is one
    * row_number window over the cluster key (the chain's existing
    * partitioning) ordered by (n_chars DESC, doc_id). The
    * `kept_differs_from_min_id` flag makes the policy difference
    * measurable — nonzero rows are exactly the clusters where min-id
    * selection would have shipped a shorter variant. */
  val dedupKeepBest = sql("x107_dedup_keep_best", HashOracles.dedupKeepBest) { (s, d) =>
    val chain = chainOf(docs(s, d))
    surviveBy(chain, docs(s, d), KeepBest)
      .select(col("cluster_rep"), col("keep_id"),
        col("n_chars").cast("bigint").as("keep_chars"),
        col("n_docs").cast("bigint").as("n_docs"),
        when(col("keep_id") =!= col("cluster_rep"), 1).otherwise(0)
          .as("kept_differs_from_min_id"))
      .orderBy("cluster_rep")
  }

  /** x55: LEAKAGE-SAFE split assignment — x31's deterministic hex-bucket
    * split keyed on the near-dup CLUSTER rep instead of the doc id, so a
    * whole duplicate cluster (exact copies + near-dup mutations) lands in
    * ONE split. This is the split a decontamination-grade pipeline
    * actually needs: under x31's per-doc assignment, two near-identical
    * documents routinely straddle train and test (ClusterDedupSpec
    * measures it on the shipped corpus), which silently leaks training
    * text into evaluation. Chain: doc → exact-text rep (x51's 16-byte
    * hash-keyed shuffle) → CC cluster label (x26's fixpoint) → split by
    * first hex digit of md5(rep) (0-b train, c-d val, e-f test). Scale
    * shape is x51's: collision-bound band join + label join; the split
    * itself is row-local arithmetic. */
  val splitLeakageSafe = sql("x55_split_leakage_safe", HashOracles.splitLeakageSafe) { (s, d) =>
    val h1 = substring(md5(col("rep").cast("string")), 1, 1)
    chainOf(docs(s, d))
      .select(col("doc_id"), col("rep"),
        when(h1 <= "b", "train").when(h1 <= "d", "val").otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** x56: deterministic shard materialization — the WRITER step that turns
    * a filtered/deduped/mixed corpus into N training shards: shard by a
    * content-independent hash of the id, position within the shard by the
    * same hash, so the layout is reproducible across runs, engines, and
    * cluster sizes AND decorrelated from crawl/source order (consecutive
    * input docs scatter across shards — the cheap global shuffle every
    * pretraining loader assumes). The plan IS the writer plan: ONE
    * exchange on `shard` + an in-partition sort — exactly what
    * `df.repartition($"shard").sortWithinPartitions($"k")` feeds a
    * partitioned sink ([[graft.sources.Sinks]]); at 100 TB each shard is
    * one task writing one file stream, no global sort anywhere. Hex-digit
    * → 16 shards here; a real run raises to `substring(k, 1, 3)` (4096)
    * with the identical plan. */
  val corpusShards = sql(
    "x56_corpus_shards",
    """SELECT doc_id, shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id) AS BIGINT) AS pos
      |FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
      |        CAST(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS INTEGER) AS shard
      |      FROM documents)
      |ORDER BY shard, pos""".stripMargin) { (s, d) =>
    shardsOf(docs(s, d)).orderBy("shard", "pos")
  }

  /** x56's shard/position assignment over an arbitrary doc set (factored so
    * x81 can lay out two snapshots with the identical rule). */
  private[queries] def shardsOf(dd: DataFrame): DataFrame = {
    val k = md5(col("doc_id").cast("string"))
    dd.select(col("doc_id"), k.as("k"),
        (instr(lit("0123456789abcdef"), substring(k, 1, 1)) - 1).cast("int").as("shard"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("shard").orderBy("k", "doc_id"))
        .cast("long"))
      .select("doc_id", "shard", "pos")
  }

  /** x57: dataset datasheet — the per-source + grand-total rollup every
    * corpus release ships (docs, tokens, chars, languages, mean length) in
    * ONE pass via GROUPING SETS (`ROLLUP(source)`): Spark plans a single
    * scan with partial aggregation under an Expand, so the 100 TB corpus
    * is read once for both granularities instead of once per level. The
    * super-aggregate row's NULL source is coalesced to 'TOTAL' in both
    * engines. Mean is an exact-rational sum/count (cross-engine-stable),
    * rounded to 6. */
  val datasheetRollup = sql(
    "x57_datasheet_rollup",
    """SELECT COALESCE(source, 'TOTAL') AS source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
      |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
      |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(SUM(length(text)) AS DOUBLE) / COUNT(*) AS mean_chars
      |FROM documents GROUP BY ROLLUP(source) ORDER BY source""".stripMargin) { (s, d) =>
    docs(s, d)
      .rollup(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(nTokOfText).as("n_tokens"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        count_distinct(col("lang")).as("n_langs"),
        (sum(length(col("text"))).cast("double") / count(lit(1))).as("mean_chars"))
      .select(coalesce(col("source"), lit("TOTAL")).as("source"),
        col("n_docs"), col("n_tokens"), col("n_chars"), col("n_langs"), col("mean_chars"))
      .orderBy("source")
  }

  /** x58: cross-source duplication matrix — which source PAIRS share
    * near-dup clusters, and how many. The inter-source contamination
    * report a mixture designer reads before weighting sources (two
    * "independent" crawls sharing half their clusters are not independent
    * evidence). Chain: the x51/x55 doc→exact-rep→CC-label chain, attach
    * `source`, collapse to DISTINCT (cluster, source) — |clusters| ×
    * |sources| rows, tiny at any corpus scale — then a self equi-join on
    * the cluster rep expands per-cluster source pairs (quadratic only in
    * the ≤ |sources| distinct sources of one cluster, never in docs). All
    * heavy lifting is the already-proven band-join + CC plan; everything
    * after it is dimension-table-sized. */
  val dupSourceMatrix = sql("x58_dup_source_matrix", HashOracles.dupSourceMatrix) { (s, d) =>
    val ds = chainOf(docs(s, d))
      .join(docs(s, d).select("doc_id", "source"), Seq("doc_id"))
      .select("rep", "source")
      .distinct()
    ds.select(col("rep"), col("source").as("src_a"))
      .join(ds.select(col("rep"), col("source").as("src_b")), Seq("rep"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy("src_a", "src_b")
  }

  /** x104: per-shard duplication-rate rollup — the datasheet row a release
    * manager reads per SHARD (x58 reads it per source pair): x56's
    * content-independent shard rule joined to the x51 doc→exact-rep→CC-label
    * chain, rolled up to (docs, dup-cluster members, clusters, clusters
    * STRADDLING shards, dup ppm). The straddle count is the point: shard
    * hashing is deliberately decorrelated from content, so every multi-doc
    * cluster scatters across shards — n_crossing_clusters measures exactly
    * the dup mass a per-shard-only (map-side) dedup pass would MISS, i.e.
    * why the dedup families shuffle on content keys instead of running
    * within shards.
    *
    * Scale: the doc→rep chain is the already-proven x03/x26 plan; after it,
    * one groupBy(rep) sizes clusters (≤ corpus rows, partial-final), one
    * rep-keyed equi-join attaches sizes (clusters are corpus-scale ÷ dup
    * factor — NOT broadcastable, so it shuffles on rep like x51), and the
    * final shard rollup is 16 rows. dup_ppm in exact integer floor-div
    * (x69 discipline). */
  val shardDupRate = sql("x104_shard_dup_rate", HashOracles.shardDupRate) { (s, d) =>
    val chain = chainOf(docs(s, d))
    val k = md5(col("doc_id").cast("string"))
    val shards = docs(s, d).select(col("doc_id"),
      (instr(lit("0123456789abcdef"), substring(k, 1, 1)) - 1).cast("int").as("shard"))
    val cs = chain.join(shards, Seq("doc_id"))
      .localCheckpoint(eager = false) // sized once, consumed twice
    val csz = cs.groupBy("rep").agg(
      count(lit(1)).as("cluster_size"),
      count_distinct(col("shard")).as("n_shards"))
    cs.join(csz, Seq("rep"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("cluster_size") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        count_distinct(col("rep")).as("n_clusters"),
        count_distinct(when(col("n_shards") > 1, col("rep"))).as("n_crossing_clusters"))
      .withColumn("dup_ppm", expr("(n_dup_docs * 1000000L) div n_docs"))
      .orderBy("shard")
  }

  /** x59: end-to-end RELEASE MANIFEST — the whole corpus-release pipeline
    * as ONE declarative plan, composed from stages each already
    * hash-proven in isolation: quality gate (x06/x07's token counting) →
    * exact collapse (x01's 16-byte hash-keyed shuffle) → near-dup CC
    * (x03's band join + x26's fixpoint) → one surviving rep per cluster
    * with represented-doc counts (x51) → cluster-keyed train/val/test
    * split (x55's rule, first md5 hex digit of the rep) → shard +
    * in-shard position (x56's rule on the SECOND hex digit, so every
    * split spans all 16 shards and no shard mixes splits). The output is
    * what a `Sinks.shardedCorpus`-style writer partitioned by
    * (split, shard) materializes as the training corpus.
    *
    * Catalyst sees the full composition, so the quality gate prunes rows
    * BEFORE any shingling/banding work — at 100 TB the most expensive
    * stages (sketch + band join) only ever run on the surviving subset,
    * which is the reason to compose declaratively instead of chaining
    * materialized steps. */
  /** The manifest pipeline body, survivor policy as THE parameter (the
    * point of [[SurvivorPolicy]]): quality gate → exact collapse → CC
    * labels → policy-chosen survivor → split/shard/pos. Split and shard
    * key on md5 of the stable CLUSTER label regardless of policy — the
    * assignment must not churn when a newly arrived longer variant changes
    * which doc a keep-best release ships. */
  private def manifestPlan(s: SparkSession, d: String,
      policy: SurvivorPolicy): DataFrame = {
    val qual = docs(s, d)
      .filter(nTokOfText >= 40)
      .select("doc_id", "text")
    val chain = chainOf(qual)
    val man = surviveBy(chain, docs(s, d), policy)
    val h1 = substring(col("k"), 1, 1)
    man.withColumn("k", md5(col("cluster_rep").cast("string")))
      .withColumn("split",
        when(h1 <= "b", "train").when(h1 <= "d", "val").otherwise("test"))
      .withColumn("shard",
        (instr(lit("0123456789abcdef"), substring(col("k"), 2, 1)) - 1).cast("int"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("shard")
          .orderBy("k", "cluster_rep"))
        .cast("long"))
  }

  val releaseManifest = sql("x59_release_manifest", HashOracles.releaseManifest) { (s, d) =>
    manifestPlan(s, d, KeepMinId)
      .select("keep_id", "n_docs", "split", "shard", "pos")
      .orderBy("shard", "pos")
  }

  /** x108: keep-best release manifest — x59's pipeline shipping the x107
    * survivor policy (longest doc per cluster, doc_id tiebreak: what
    * FineWeb/Dolma-style releases actually publish), demonstrated as the
    * one-argument policy change [[manifestPlan]] exists for. keep_chars
    * rides along so the manifest doubles as the release's size audit;
    * split/shard stay keyed on the stable cluster label, so switching
    * policy reshuffles NO cluster across splits or shards — only which
    * member each cluster ships. */
  val releaseManifestKeepBest = sql(
    "x108_release_manifest_keep_best", HashOracles.releaseManifestKeepBest) { (s, d) =>
    manifestPlan(s, d, KeepBest)
      .select(col("cluster_rep"), col("keep_id"),
        col("n_chars").cast("bigint").as("keep_chars"),
        col("n_docs").cast("bigint").as("n_docs"),
        col("split"), col("shard"), col("pos"))
      .orderBy("shard", "pos")
  }

  /** x60: SUBSTRING-level duplication stats — the Lee et al. ("Deduplicating
    * Training Data Makes Language Models Better") diagnostic that cluster-
    * level dedup (x03/x26) can't see: for every doc, the fraction of its
    * distinct 8-token windows that also occur in at least one OTHER doc.
    * Near-dup docs share long spans, so the planted dup clusters make this
    * non-vacuous on the shipped corpus (spec-pinned).
    *
    * Window hash = `graft_shingles(text, 8)` — the same codegen'd chained-
    * mix64 kernel the 3-token Jaccard shingles use, so a window never
    * materializes as a string: each doc emits 8-byte hashes in one pass.
    * At 100 TB the plan is two exchanges on that 8-byte key: the per-window
    * holder count is a groupBy (map-side partial aggregation collapses
    * boilerplate-hot windows before the shuffle), and the join back to the
    * per-doc window rows is an equi-join AQE can skew-split — deliberately
    * NOT a `count over (partition by h)` window, which would funnel every
    * occurrence of a hot boilerplate window through one task with no
    * partial-agg relief. */
  val substringDup = sql("x60_substring_dup", HashOracles.substringDup) { (s, d) =>
    substringDupOf(docs(s, d))
  }

  /** x60's body over any (doc_id, text) frame — `Ladder dedup` scales it. */
  def substringDupOf(dd: DataFrame): DataFrame = {
    // r20 note: pinning this explode (x61-style) was MEASURED SLOWER here
    // (0.65 → 0.87 s) — the subtree is one cheap fused codegen pass and
    // recomputing it twice beats materializing 3M thin rows; left as-is
    val win = dd
      .select(col("doc_id"), explode(expr("graft_shingles(text, 8)")).as("h"))
    val holders = win.groupBy("h").agg(count(lit(1)).as("nd"))
    win.join(holders, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_win"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("dup_win"))
      .withColumn("dup_frac", col("dup_win").cast("double") / col("n_win"))
      .orderBy("doc_id")
  }

  /** x61: exact-substring dedup CUT — the TRANSFORM x60 only diagnoses
    * (Lee et al.'s ExactSubstr dedup, first-occurrence-wins): every 8-token
    * window is owned by the LOWEST doc_id holding it; in every other doc
    * the tokens that window covers are cut, and the survivors reassemble in
    * order. Intra-doc repetition is deliberately NOT cut (a doc owns its
    * own windows — x25 measures that); a doc that is entirely someone
    * else's text comes back EMPTY, which is the correct release-corpus
    * outcome for the non-owner of a full duplicate.
    *
    * `graft_shingle_pos(text, 8)` (position-ordered variant of the
    * shingle kernel) lets `posexplode` recover (window, hash) pairs with
    * no window string ever materializing. Owner resolution is a groupBy-min
    * on the 8-byte hash (map-side combine absorbs hot windows) and the
    * cut-position set joins back per (doc, pos) — all equi-joins; the only
    * per-doc materialization is the final ordered reassembly of KEPT
    * tokens, which is the operator's output by definition. */
  val substringCut = sql("x61_substring_cut", HashOracles.substringCut) { (s, d) =>
    substringCutOf(docs(s, d))
  }

  /** x61's body over any (doc_id, text) frame — `Ladder dedup` scales it.
    *
    * r20 OPTIMIZATION (guide §8: decide with small rows, move big rows
    * once / §2.3-2.4): the old plan posexploded EVERY token of EVERY doc
    * (3M rows at sf0.1) into an anti-join against the cut-position set and
    * re-collected them with a per-doc collect_list+array_sort — two full
    * token-table exchanges whose payload was the corpus itself. But the
    * cut DECISION only needs the foreign-owned window STARTS, which are
    * doc-bounded and small: aggregate those into one per-doc array (the
    * only shuffle that remains beyond the owner groupBy), join it back at
    * DOC grain, and do the cut + reassembly row-locally — positions =
    * array_except(sequence(1, n), window-cover flatten) keeps O(n)
    * set-membership semantics (duplicate covers are harmless, so the old
    * position-level DISTINCT exchange disappears too), and element_at(w,p)
    * reads the already-materialized token array (w is referenced several
    // times, so CollapseProject keeps the split materialized — the gate
    // lesson does not bite here).
    * Values identical (same tokens, same 1-based window cover, same
    * ascending reassembly order); oracle + DedupSpec pin it. Measured
    * 2.5 s → ~1.1 s at sf0.1; at 100 TB the win is structural — the two
    * token-level exchanges (anti-join + re-collect) are gone. */
  def substringCutOf(dd: DataFrame): DataFrame = {
    val base = dd.select(col("doc_id"), col("text"))
    val wins = base
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"),
        posexplode(expr("graft_shingle_pos(text, 8)")).as(Seq("k0", "h")))
      .localCheckpoint(eager = false) // owner agg + ownership join: one pass
    val owners = wins.groupBy("h").agg(min("doc_id").as("owner"))
    val cutStarts = wins.join(owners, Seq("h"))
      .filter(col("owner") < col("doc_id"))
      .groupBy("doc_id").agg(collect_list("k0").as("starts"))
    base
      .withColumn("w", split(col("text"), " "))
      .withColumn("n", size(col("w")))
      .join(cutStarts, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("starts").isNull, col("w")).otherwise(
          transform(
            array_except(sequence(lit(1), col("n")),
              flatten(transform(col("starts"),
                s => sequence(s + 1, least(s + lit(8), col("n")))))),
            p => element_at(col("w"), p))))
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        (col("n") - size(col("kept"))).cast("long").as("n_cut"),
        array_join(col("kept"), " ").as("text_kept"))
      .orderBy("doc_id")
  }

  /** x53: mixture sampling to a TOKEN budget — the data-mixing step that
    * turns per-source weights ("2× src0-4, 1× the middle, ¼× src15-19")
    * into an actual training subset: each source keeps documents in a
    * deterministic content-independent hash order until its token budget is
    * spent (the boundary-crossing doc is kept; everything after is
    * dropped). Where x36 caps by document COUNT, real mixtures are
    * specified in tokens — budgets here are weight × 600 tokens.
    *
    * The running-total-under-quota cut runs through
    * [[graft.operators.PrefixQuota]] — the two-level distributed prefix
    * sum (bucket totals → tiny bucket cumsum → per-bucket local windows) —
    * so no source is ever serialized through one task the way a plain
    * per-source running-sum window would at 100 TB. The DuckDB oracle IS
    * that plain window (the semantics, minus the distribution), so the
    * two-level decomposition is hash-checked against the direct form. */
  val textMixture = sql(
    "x53_text_mixture",
    s"""WITH ${packOffsetsSql(carry = mixtureQuotaSql)}
      |SELECT source, doc_id, n_tok, cum_before FROM c
      |WHERE cum_before < quota ORDER BY source, doc_id""".stripMargin) { (s, d) =>
    val dd = docs(s, d).select(col("source"), col("doc_id"), nTokOfText.as("n_tok"))
    graft.operators.PrefixQuota.takeUntilQuota(
      dd, "source",
      orderKey = md5(col("doc_id").cast("string")), tie = col("doc_id"),
      value = col("n_tok"), quota = mixtureQuota)
      .select("source", "doc_id", "n_tok", "cum_before")
      .orderBy("source", "doc_id")
  }

  /** Per-source token budget = weight × 600: x53's engine side, and its
    * oracle's `quota` carry. */
  private def mixtureQuota: Column =
    when(col("source").isin("src0", "src1", "src2", "src3", "src4"), 1200L)
      .when(col("source").isin("src15", "src16", "src17", "src18", "src19"), 150L)
      .otherwise(600L)
  private def mixtureQuotaSql =
    """, CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 1200
      |    WHEN source IN ('src15','src16','src17','src18','src19') THEN 150
      |    ELSE 600 END AS quota""".stripMargin

  /** x54: sequence packing — the pretraining step after mixing: each
    * source's documents are CONCATENATED in the deterministic hash order
    * (same `md5(doc_id)` stream order as x53) and the token stream is
    * chunked into fixed `packSeqLen`-token training sequences, documents
    * spanning chunk boundaries (GPT-style concat-then-chunk packing; the
    * chunker splits the stream, never aligns to documents). Each doc's
    * placement is pure arithmetic on its running token offset:
    * `pack_id = cum_before div L`, `pack_offset = cum_before mod L`.
    *
    * The running offset is [[graft.operators.PrefixQuota.runningBefore]]
    * — the same two-level distributed prefix sum as x53's cut, minus the
    * quota (every row is kept), so no source ever serializes its
    * concatenation order through one task the way the oracle's plain
    * window does at 100 TB. `Ladder mixture` measures that crossover: the
    * one-task-per-group window goes superlinear at 16 M rows while the
    * bucket-split plan stays near-flat. */
  // final: a compile-time constant, so the pack oracles built above this
  // line (x53's packOffsetsSql) read 512, not the field's default 0
  private final val packSeqLen = 512L
  val textPack = sql(
    "x54_text_pack",
    s"""WITH ${packOffsetsSql()}
      |SELECT source, doc_id, n_tok,
      |  CAST(cum_before // $packSeqLen AS BIGINT) AS pack_id,
      |  CAST(cum_before % $packSeqLen AS BIGINT) AS pack_offset
      |FROM c ORDER BY source, doc_id""".stripMargin) { (s, d) =>
    packOffsetsOf(docs(s, d))
      .select(col("source"), col("doc_id"), col("n_tok"),
        expr(s"cum_before div $packSeqLen").as("pack_id"),
        (col("cum_before") % packSeqLen).as("pack_offset"))
      .orderBy("source", "doc_id")
  }

  /** A doc's tokens for every token-mass count and pack query: its trimmed
    * text split on `\s+`; `nTokOfText` is their count. */
  private def trimToks: Column = split(trim(col("text")), "\\s+")
  private def nTokOfText: Column = size(trimToks).cast("long")

  /** The pack placement rule (x54), engine side: over (source, doc_id,
    * n_tok, ...) rows, `cum_before` is the number of the source's tokens
    * placed before the doc when its docs are concatenated in (orderKey,
    * doc_id) order, md5(doc_id) by default. [[packOffsetsSql]] is the
    * oracle side. */
  private def packPlaced(dd: DataFrame,
      orderKey: Column = md5(col("doc_id").cast("string"))): DataFrame =
    graft.operators.PrefixQuota.runningBefore(
      dd, "source", orderKey = orderKey, tie = col("doc_id"), value = col("n_tok"))

  /** [[packPlaced]] over (source, doc_id, text) documents. */
  private def packOffsetsOf(documents: DataFrame): DataFrame =
    packPlaced(documents.select(col("source"), col("doc_id"), nTokOfText.as("n_tok")))

  /** One row per (placed doc, pack it touches): `pack_id`, the doc's span
    * `[span_start, span_start + span_len)` in the pack, and `doc_off`, the
    * span's first token within the doc. Output is linear: a doc touches
    * `1 + (cum_before + n_tok - 1) div L - cum_before div L` packs. */
  private def packSpans(placed: DataFrame): DataFrame = {
    val L = packSeqLen
    val lo = greatest(col("cum_before"), col("pack_id") * L)
    placed
      .withColumn("pack_id",
        explode(sequence(expr(s"cum_before div $L"),
          expr(s"(cum_before + n_tok - 1) div $L"))))
      .withColumn("span_start", lo - col("pack_id") * L)
      .withColumn("doc_off", lo - col("cum_before"))
      .withColumn("span_len",
        least(col("cum_before") + col("n_tok"), (col("pack_id") + 1) * L) - lo)
  }

  /** x120/x125's pack input, (source, doc_id, toks, n_tok): the placement
    * input plus the tokens the packs are assembled from. [[packToksSql]]
    * is the oracle's `toks` carry. */
  private def packTokensOf(documents: DataFrame): DataFrame =
    documents.select(col("source"), col("doc_id"), trimToks.as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
  private def packToksSql = ", string_split_regex(trim(text), '\\s+') AS toks"

  /** The pack placement rule, oracle side, as WITH items: `d` is the
    * (source, doc_id, `carry` select items, n_tok, ord) rows of `from`,
    * `c` adds cum_before, `e` explodes one row per (doc, pack_id), and
    * `sp` adds span_start, doc_off and span_len. `tag` suffixes the four
    * names when one query places two streams (x124). */
  private def packOffsetsSql(from: String = "documents", carry: String = "",
      ord: String = "md5(CAST(doc_id AS VARCHAR))", tag: String = ""): String = {
    val L = packSeqLen
    s"""d$tag AS (SELECT source, doc_id$carry,
      |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok,
      |    $ord AS ord
      |  FROM $from),
      |c$tag AS (SELECT *,
      |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY ord, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
      |  FROM d$tag),
      |e$tag AS (SELECT *,
      |    unnest(range(cum_before // $L, (cum_before + n_tok - 1) // $L + 1)) AS pack_id
      |  FROM c$tag),
      |sp$tag AS (SELECT *,
      |    GREATEST(cum_before, pack_id*$L) - pack_id*$L AS span_start,
      |    GREATEST(cum_before, pack_id*$L) - cum_before AS doc_off,
      |    LEAST(cum_before + n_tok, (pack_id+1)*$L) - GREATEST(cum_before, pack_id*$L) AS span_len
      |  FROM e$tag)""".stripMargin
  }

  /** x69: PageRank centrality over the verified near-dup graph — which
    * documents are TEMPLATE HUBS (boilerplate/mirror centers that near-match
    * many others) rather than members of one tight clone cluster. x26's CC
    * answers "which docs are together"; PageRank ranks WITHIN and ACROSS the
    * blobs, the signal a curation pass uses to pick removal order (kill the
    * hub, re-score the residue). Five fixed power iterations with damping
    * 0.85 over the bidirectional x03 pair graph, edges WEIGHTED by Jaccard
    * (a near-dup graph is made of degree-symmetric clique blobs on which
    * unweighted PageRank is exactly uniform — the weights carry the signal).
    *
    * Cross-engine exactness: the whole iteration runs in BIGINT micro-units
    * — weight = `(|∩|·10^6) div |∪|` straight from the shingle-set sizes,
    * admission as the integer `2·|∩| ≥ |∪|`, contribution =
    * `(r·w) div Σw_out` (integer floor), absorb =
    * `150000 + (85·Σ) div 100` — so every sum is order-independent and the
    * only float is the final rounded presentation division (the x62
    * fixed-point lesson applied to an iterative kernel).
    *
    * Scale shape: the graph is the near-dup pair set (∝ dup density, never
    * n²); each iteration is ONE equi-join of the static degree-annotated
    * edge list against the current rank vector plus a partial-final
    * aggregate, with a GC-scoped localCheckpoint per round keeping lineage
    * flat (x26's CC loop discipline). Five rounds = five shuffles of
    * |edges| rows — at 100 TB both sides pre-partition on the node id so
    * the edge side's exchange is paid once (the documented x26 upgrade
    * path applies verbatim). */
  val dupPagerank = sql("x69_dup_pagerank", HashOracles.dupPagerank) { (s, d) =>
    val sigs = pinnedSignatures(s, d)
    pagerankFromWeightedPairs(weightedPairs(sigs).localCheckpoint(eager = false))
      .orderBy("doc_id")
  }

  /** Verified near-dup pairs with INTEGER ppm Jaccard weights from a
    * signature table: band candidates, admission `2·|∩| ≥ |∪|`, weight
    * `(|∩|·10^6) div |∪|` — no float enters (unweighted PageRank is
    * uniform on the degree-symmetric clique blobs a near-dup graph is made
    * of; the weights are what separate the hub from the rim). Output:
    * (doc_a, doc_b, w). */
  def weightedPairs(sigTable: DataFrame): DataFrame =
    withInterUni(bandCandidates(sigTable)
      .join(sigTable.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sigTable.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b")),
      "sh_a", "sh_b")
      .filter(col("inter") * 2 >= col("uni"))
      .select(col("doc_a"), col("doc_b"), expr("(inter * 1000000L) div uni").as("w"))

  /** x69's iteration over any weighted pair frame (doc_a, doc_b, w): five
    * fixed power iterations, damping 0.85, all BIGINT micro-units. Output:
    * (doc_id, deg, pr) — unordered; callers sort for presentation. The
    * frame is read twice (both edge directions), so callers pass it
    * pinned; x73 reuses its pin for the hub attribution. */
  def pagerankFromWeightedPairs(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"), col("w"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"), col("w")))
    val outw = edges.groupBy("src")
      .agg(sum("w").as("wout"), count(lit(1)).as("deg"))
      .localCheckpoint(eager = false)
    // static per-edge (src, dst, w, wout(src)) — the join the loop re-reads
    val edgesD = edges.join(outw.select("src", "wout"), Seq("src"))
      .localCheckpoint(eager = false)
    var ranks = outw.select(col("src"), lit(1000000L).as("r"))
    for (_ <- 1 to 5) {
      ranks = edgesD.join(ranks, Seq("src"))
        .select(col("dst"), expr("(r * w) div wout").as("c"))
        .groupBy("dst").agg(sum("c").as("sc"))
        .select(col("dst").as("src"), expr("150000L + (85L * sc) div 100L").as("r"))
        .localCheckpoint(eager = false)
    }
    ranks.join(outw.select("src", "deg"), Seq("src"))
      .select(col("src").as("doc_id"), col("deg"),
        round(col("r").cast("double") / 1e6, 6).as("pr"))
  }

  /** x70: Bloom-prefiltered incremental dedup — the steady-state membership
    * check of a 100 TB ingest: is each incoming document a token-reorder
    * duplicate (the x02 canonical bag-of-words key; the shipped corpus has
    * zero byte-identical cross-batch copies, so the BoW key is the exact
    * tier with real hits) of ANYTHING already in the corpus? The exact
    * answer at scale must not pay a corpus-sized join per batch, so the
    * corpus keys are folded ONCE into a fixed-size Bloom bitmap
    * ([[graft.functions.BloomBits]] — mergeable OR-state, map-side
    * combined), broadcast to the batch, and probed ROW-LOCALLY (k=4
    * xxhash64 probes, all codegen'd bit arithmetic). Only bloom survivors —
    * true dups plus the ~2e-5 false-positive sliver at this sizing — reach
    * the verify join, which runs on the x01 16-byte (hash, length) key with
    * the SURVIVOR side broadcast, so the corpus never shuffles (the x35
    * decontamination shape). The output is EXACT: Bloom filters have no
    * false negatives (every set bit stays set), and the verify join kills
    * the false positives — which is why a sketch-prefiltered plan still
    * hash-matches a plain SQL membership oracle, the same
    * prefilter-then-verify contract as x03's band join.
    *
    * Batch = doc_id ≡ 0 (mod 10), corpus = the rest (the x37 split). */
  val bloomDedup = sql(
    "x70_bloom_dedup",
    """WITH k AS (SELECT doc_id,
      |    array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS bk
      |  FROM documents),
      |cnt AS (SELECT bk, CAST(COUNT(*) AS BIGINT) AS n FROM k
      |  WHERE doc_id % 10 <> 0 GROUP BY bk)
      |SELECT b.doc_id,
      |  COALESCE(cnt.n, 0) AS n_matches,
      |  CAST(cnt.bk IS NOT NULL AS INTEGER) AS is_dup
      |FROM k b LEFT JOIN cnt ON cnt.bk = b.bk
      |WHERE b.doc_id % 10 = 0 ORDER BY b.doc_id""".stripMargin) { (s, d) =>
    val keyed = docs(s, d).select(col("doc_id"),
      array_join(array_sort(array_distinct(split(col("text"), " "))), " ").as("bk"))
    val batch = keyed.filter(col("doc_id") % 10 === 0)
    val corpus = keyed.filter(col("doc_id") % 10 =!= 0).select("bk")
    val bloom = bloomBuild(corpus, "bk", bloomMBits)
    bloomMembership(batch, "bk", bloom, corpus, bloomMBits)
      .select(col("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("n_matches").isNotNull.cast("int").as("is_dup"))
      .orderBy("doc_id")
  }

  /** x70's bitmap size: 2^18 bits (32 KB). At the shipped corpus (~4.5k
    * keys, k=4) the theoretical FP rate is ~2e-5; see BloomBits' sizing
    * contract for how m grows with the corpus. */
  private val bloomMBits = 1 << 18

  /** The k=4 Bloom probe positions of a key — ONE definition shared by
    * the build and probe sides (a position derived two ways would break
    * the no-false-negative guarantee). */
  private[graft] def bloomPositions(keyCol: Column, mBits: Int): Column =
    transform(sequence(lit(0), lit(3)),
      j => pmod(xxhash64(keyCol, j), lit(mBits.toLong)))

  /** All-bits-set test over `ps` (the [[bloomPositions]] array) against a
    * `bits` bitmap column — row-local codegen'd shift/mask arithmetic,
    * shared by the batch probe and the streaming twin. */
  private[graft] def bloomHitExpr: Column = expr(
    """forall(ps, p -> (shiftright(element_at(bits, CAST(p div 64 AS INT) + 1),
      |                            CAST(p % 64 AS INT)) & 1L) = 1L)""".stripMargin)

  /** ONE-row Bloom bitmap over `keys(keyCol)`: k=4 probe positions per key
    * folded through the [[graft.functions.BloomBits]] OR-aggregator
    * (map-side combined; the exchange carries positions, never keys). */
  def bloomBuild(keys: DataFrame, keyCol: String, mBits: Int): DataFrame = {
    val bloomBits = udaf(new graft.functions.BloomBits(mBits)).withName(s"graft_bloom_bits_$mBits")
    keys.select(explode(bloomPositions(col(keyCol), mBits)).as("pos"))
      .agg(bloomBits(col("pos")).as("bits"))
  }

  /** Exact membership of `batch(keyCol)` against `corpus(keyCol)` through a
    * [[bloomBuild]] bitmap: the bitmap attaches as a 1-row broadcast and is
    * probed ROW-LOCALLY (codegen'd bit tests); only bloom survivors reach
    * the verify join, which runs on the 16-byte (hash, length) key with the
    * SURVIVOR side broadcast — the corpus never shuffles. Returns `batch`
    * plus `n_matches` (BIGINT, null = no match; exact — Bloom false
    * positives die in the verify join, false negatives cannot exist). */
  def bloomMembership(batch: DataFrame, keyCol: String, bloom: DataFrame,
      corpus: DataFrame, mBits: Int): DataFrame = {
    val probed = batch.join(broadcast(bloom))
      .withColumn("ps", bloomPositions(col(keyCol), mBits))
      .withColumn("bloom_hit", bloomHitExpr)
    val cands = probed.filter(col("bloom_hit"))
      .select(col("doc_id"), col(keyCol).as("__bk"),
        xxhash64(col(keyCol)).as("__h"), length(col(keyCol)).as("__len"))
    val matched = corpus
      .select(xxhash64(col(keyCol)).as("__h"), length(col(keyCol)).as("__len"), col(keyCol))
      .join(broadcast(cands), Seq("__h", "__len"))
      .filter(col(keyCol) === col("__bk"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_matches"))
    batch.join(broadcast(matched), Seq("doc_id"), "left")
  }

  /** x71: ingest triage rollup — the decision table a crawl/ingest operator
    * reads before admitting a batch: every incoming document tiered
    * EXCLUSIVELY as `exact_bow` (token-reorder duplicate of the corpus —
    * x70's Bloom-prefiltered canonical-key membership), else `near_dup`
    * (x37's verified ≥ 0.5 Jaccard probe against the corpus signature
    * artifact), else `novel`, rolled up per source: how much of the new
    * crawl is actually new, and which sources are stale. Pure composition
    * of the two proven probe paths — the tier precedence is the pipeline's
    * real semantics (an exact copy also band-hits; it must count once, in
    * the cheaper tier).
    *
    * Scale shape: both probes are batch-sized against corpus-sized
    * ARTIFACTS (the bitmap broadcast + the signature/band equi-join); the
    * rollup is a partial-final aggregate over the batch. Nothing here adds
    * an exchange beyond the two probe plans audited under x70/x37. */
  val ingestTriage = sql("x71_ingest_triage", HashOracles.ingestTriage) { (s, d) =>
    val all = docs(s, d)
    val incoming = all.filter(col("doc_id") % 10 === 0)
    val corpus = all.filter(col("doc_id") % 10 =!= 0)
    def bowKeyed(df: DataFrame) = df.select(col("doc_id"),
      array_join(array_sort(array_distinct(split(col("text"), " "))), " ").as("bk"))
    val corpusKeys = bowKeyed(corpus).select("bk")
    val exact = bloomMembership(bowKeyed(incoming), "bk",
      bloomBuild(corpusKeys, "bk", bloomMBits), corpusKeys, bloomMBits)
      .select(col("doc_id"), col("n_matches").isNotNull.as("is_exact"))
    val corpusSigs = minhashSignaturesOf(corpus).localCheckpoint(eager = false)
    val near = nearDupProbe(incoming.select("doc_id", "text"), corpusSigs)
      .select("doc_id").distinct().withColumn("is_near", lit(true))
    incoming.select(col("doc_id"), col("source"))
      .join(exact, Seq("doc_id"))
      .join(near, Seq("doc_id"), "left")
      .withColumn("tier",
        when(col("is_exact"), "exact_bow")
          .when(coalesce(col("is_near"), lit(false)), "near_dup")
          .otherwise("novel"))
      .groupBy("source").agg(
        count(lit(1)).as("n_incoming"),
        sum(when(col("tier") === "exact_bow", 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("tier") === "near_dup", 1L).otherwise(0L)).as("n_near"),
        sum(when(col("tier") === "novel", 1L).otherwise(0L)).as("n_novel"))
      .orderBy("source")
  }

  /** x72: LSH band-collision histogram — the tuning table that says how
    * close the banding sits to its miss cliff: for every candidate pair,
    * how many of the 8 bands collided, and how many pairs at each
    * collision count pass the integer `2·|∩| ≥ |∪|` verification. Mass at
    * n_bands = 1 among VERIFIED pairs means true dups are being caught by
    * their last band (raise bands / shrink rows before recall drops);
    * unverified mass at high n_bands means the bands are too coarse
    * (wasted verify work). The observability read an LSH deployment
    * watches when choosing (bands × rows) — published recall curves are
    * P(≥1 band) = 1-(1-j^r)^b; this measures the empirical version on the
    * live corpus.
    *
    * Scale shape: the same band equi-join as x03 (each side has exactly
    * one row per band, so the join's row count per pair IS the collision
    * count — a groupBy replaces x03's distinct), then the shingle-set
    * fetch joins only candidate pairs. Nothing beyond the audited x03
    * plan plus one partial-final aggregate. */
  val lshBandStats = sql("x72_lsh_band_stats", HashOracles.lshBandStats) { (s, d) =>
    val sigs = pinnedSignatures(s, d)
    val bands = bandRows(sigs, "sig", "doc_id").localCheckpoint(eager = false)
    val pairBands = bands.as("l").join(bands.as("r"), Seq("band", "bh"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
    withInterUni(pairBands
      .join(sigs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b")),
      "sh_a", "sh_b")
      .withColumn("ok", (col("inter") * 2 >= col("uni")).cast("long"))
      .groupBy("n_bands")
      .agg(count(lit(1)).as("n_pairs"), sum("ok").as("n_verified"))
      .orderBy("n_bands")
  }

  /** x73: hub-removal what-if — the action x69's ranking exists for: take
    * the top-10 PageRank hubs (pr desc, doc_id asc — a total order) and
    * report the verified-pair mass each removal deletes, attributed
    * SEQUENTIALLY (a pair touching two hubs counts once, for the
    * better-ranked one), so Σ pairs_removed = total pairs touching any hub
    * and the table reads as a removal-order simulation: rank → how much of
    * the dup graph dies with this document.
    *
    * Scale shape: the rank table prunes to K rows via
    * TakeOrderedAndProject (no global sort of the node table); the 10-row
    * hub set broadcasts to the pair list twice; attribution is row-local
    * COALESCE/LEAST arithmetic on the 999 non-hub sentinel (Spark's
    * `least` SKIPS nulls where DuckDB's propagates them — the sentinel
    * keeps NULL out of `least` on both engines); the rollup is a
    * partial-final aggregate over ≤ K groups. */
  val hubRemoval = sql("x73_hub_removal", HashOracles.hubRemoval) { (s, d) =>
    val sigs = pinnedSignatures(s, d)
    val pw = weightedPairs(sigs).localCheckpoint(eager = false)
    val hubs = pagerankFromWeightedPairs(pw)
      .orderBy(col("pr").desc, col("doc_id")).limit(10)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("pr").desc, col("doc_id"))).cast("int"))
      .localCheckpoint(eager = false) // three consumers below
    val attributed = pw
      .join(broadcast(hubs.select(col("doc_id").as("doc_a"), col("rk").as("rk_a"))),
        Seq("doc_a"), "left")
      .join(broadcast(hubs.select(col("doc_id").as("doc_b"), col("rk").as("rk_b"))),
        Seq("doc_b"), "left")
      .withColumn("rk", least(coalesce(col("rk_a"), lit(999)), coalesce(col("rk_b"), lit(999))))
      .filter(col("rk") < 999)
      .groupBy("rk").agg(count(lit(1)).as("pairs_removed"))
    hubs.join(attributed, Seq("rk"), "left")
      .select(col("rk"), col("doc_id"), col("deg"), col("pr"),
        coalesce(col("pairs_removed"), lit(0L)).as("pairs_removed"))
      .orderBy("rk")
  }

  /** x96: per-node triangle count + local clustering coefficient over the
    * verified near-dup graph — the structural complement to x69's
    * centrality: a high-degree node with cc≈0 is a TEMPLATE HUB (star —
    * many documents each near-matching the boilerplate but not each
    * other), while cc≈10^6 ppm marks a tight CLONE CLIQUE (mirror set);
    * removal policy differs (rewrite the template vs keep-one-drop-rest),
    * which is why curation wants both numbers per node.
    *
    * Enumeration uses DEGREE ORIENTATION (Ortmann/Brandes): every edge is
    * directed from its (deg, id)-smaller endpoint, each triangle is found
    * exactly once from its lowest-degree vertex, and — the scale point —
    * the wedge join fans out per-node as out-degree², which orientation
    * bounds by O(√|E|) per node on any graph. Under id-orientation a
    * single 10^6-degree template hub would contribute 10^12 wedges; under
    * degree orientation its edges all point INWARD and it contributes
    * none. The closing-edge probe is an equi-join on (v, w); per-node
    * tallies are partial-final aggregates; the DuckDB oracle traverses
    * the same graph by id-orientation — different wedge sets, identical
    * triangles. cc stays in x69's BIGINT ppm fixed point (no float).
    * Kernel: [[graft.operators.Triangles]] (`Ladder graph` measures the
    * orientation gap on a planted-hub graph). */
  val dupTriangles = sql("x96_dup_triangles", HashOracles.dupTriangles) { (s, d) =>
    val sigs = pinnedSignatures(s, d)
    val pf = weightedPairs(sigs)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    graft.operators.Triangles.tallies(pf)
      .select(col("node").as("doc_id"), col("deg"), col("n_tri"), col("cc_ppm"))
      .orderBy("doc_id")
  }

  /** x74: CDC snapshot MERGE — apply a changeset (inserts, updates,
    * deletes, with in-batch conflicts resolved last-writer-wins on a
    * sequence column) to the corpus snapshot via
    * [[graft.operators.MergeInto]]. This is the maintenance verb the
    * append-only lifecycle verbs (x37 probe, x70 membership, MinHash index
    * APPEND) deliberately lack: a crawler refresh that REVISES and RETRACTS
    * documents needs upsert/delete semantics, i.e. `MERGE INTO` without a
    * table format. The changeset here derives deterministically from the
    * corpus itself (doc_id residues pick update/delete/insert victims; one
    * residue class gets a conflicting update-then-delete pair so the
    * last-writer-wins arm is non-vacuous), so the oracle replays the exact
    * relational plan: latest-per-key QUALIFY, NOT-EXISTS survivors, upsert
    * union. Scale shape: the window runs over the batch-sized changeset
    * only; the corpus side is ONE scan + a broadcast anti join — it never
    * shuffles (PlanQualitySpec pins both). */
  val snapshotMerge = sql(
    "x74_snapshot_merge",
    """WITH changes AS (
      |  SELECT doc_id, text || ' [rev2]' AS text, lang, source,
      |         n_chars + 7 AS n_chars, 'U' AS op, 2 AS seq
      |  FROM documents WHERE doc_id % 10 = 3
      |  UNION ALL
      |  SELECT doc_id, text, lang, source, n_chars, 'D', 3
      |  FROM documents WHERE doc_id % 10 = 7
      |  UNION ALL
      |  SELECT doc_id, text, lang, source, n_chars, 'D', 5
      |  FROM documents WHERE doc_id % 20 = 3
      |  UNION ALL
      |  SELECT doc_id + 1000000, 'new ' || text, lang, 'src_new',
      |         n_chars + 4, 'I', 1
      |  FROM documents WHERE doc_id % 10 = 5),
      |latest AS (
      |  SELECT * FROM changes
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
      |    ORDER BY seq DESC, op DESC) = 1),
      |survivors AS (
      |  SELECT d.* FROM documents d
      |  WHERE NOT EXISTS (SELECT 1 FROM latest c WHERE c.doc_id = d.doc_id))
      |SELECT doc_id, text, lang, source, n_chars FROM survivors
      |UNION ALL
      |SELECT doc_id, text, lang, source, n_chars FROM latest WHERE op <> 'D'
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val snap = docs(s, d)
    def slice(residue: Int, modulus: Int) = snap.filter(col("doc_id") % modulus === residue)
    val changes = slice(3, 10)
      .select(col("doc_id"), concat(col("text"), lit(" [rev2]")).as("text"),
        col("lang"), col("source"), (col("n_chars") + 7).as("n_chars"),
        lit("U").as("op"), lit(2).as("seq"))
      .unionByName(slice(7, 10)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), lit("D").as("op"), lit(3).as("seq")))
      .unionByName(slice(3, 20) // conflicts with the seq-2 update: D wins
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), lit("D").as("op"), lit(5).as("seq")))
      .unionByName(slice(5, 10)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("new "), col("text")).as("text"), col("lang"),
          lit("src_new").as("source"), (col("n_chars") + 4).as("n_chars"),
          lit("I").as("op"), lit(1).as("seq")))
    graft.operators.MergeInto.applyChangeset(snap, changes, Seq("doc_id"))
      .orderBy("doc_id")
  }

  /** x80: sparse TF-IDF cosine pairs — document similarity through the
    * INVERTED INDEX: docs sharing rare tokens are paired via an equi-join
    * on the token, weighted by an idf-style integer weight, and scored
    * with the cosine over the pruned term space. The sparse-retrieval
    * sibling of the dense-embedding pair scores (x11/x21): it surfaces
    * lexical near-dups whose embeddings drifted and needs no model at all.
    *
    * The document-frequency CAP IS the scale story: it is the
    * posting-length prune every sparse retrieval system applies —
    * stopword-grade tokens would contribute df² candidate pairs each
    * (corpus-quadratic), while capped postings bound the join output by
    * Σ_rare df². The band is `df ≥ 2 AND (df ≤ 10 OR df·10 ≤ N)`: the
    * absolute arm is the production posting cap; the relative arm keeps
    * the prune meaningful on the shipped synthetic corpus, whose 31-token
    * vocabulary has NO absolute-rare tail (min df 25 of 500 — a real
    * crawl's Zipf tail makes the absolute arm bite instead; the plan is
    * identical either way, only the filter constant differs). df=1 terms
    * pair nothing and are dropped too. Weights are EXACT integers (1e6
    * div df — the x27 ln-free idf stance), so dot and norms aggregate as
    * BIGINTs in any order; floats appear only in the final per-row
    * sqrt/divide over those exact sums, which is deterministic
    * cross-engine (ROUND 6, x45 precedent). */
  val sparseCosine = sql(
    "x80_sparse_cosine",
    """WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
      |  FROM documents),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tok GROUP BY term),
      |r AS (SELECT term, 1000000 // df AS w FROM dfreq CROSS JOIN n
      |  WHERE df >= 2 AND (df <= 10 OR df * 10 <= n)),
      |p AS (SELECT t.doc_id, t.term, r.w FROM tok t JOIN r ON t.term = r.term),
      |nrm AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS norm_sq FROM p GROUP BY doc_id),
      |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_shared, CAST(SUM(a.w * a.w) AS BIGINT) AS dot
      |  FROM p a JOIN p b ON a.term = b.term AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT doc_a, doc_b, n_shared,
      |  ROUND(CAST(dot AS DOUBLE) /
      |    (sqrt(CAST(na.norm_sq AS DOUBLE)) * sqrt(CAST(nb.norm_sq AS DOUBLE))), 6) AS cos_sim
      |FROM pr JOIN nrm na ON pr.doc_a = na.doc_id JOIN nrm nb ON pr.doc_b = nb.doc_id
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    sparseCosinePairsOf(docs(s, d)).orderBy("doc_a", "doc_b")
  }

  /** x90: sampled recall audit of the banded MinHash index — the
    * index-quality check a production dedup deployment schedules: pick a
    * deterministic sample of reps (md5 order, K = 32), brute-force their
    * TRUE ≥ 0.5-Jaccard neighbors against the whole corpus (exact shingle
    * sets — K·n row-local work, linear because K is fixed), and measure
    * which of those true pairs the band join actually surfaced. x72 reads
    * the margin of the pairs the bands DID catch; this measures what they
    * MISSED — the number the 1-(1-j^r)^b curve only predicts.
    *
    * Output: per sample doc (n_true, n_caught) + the global recall_ppm
    * (1e6 when the sample has nothing to find). Plan: the K-row sample
    * broadcasts into one corpus scan (the only quadratic-looking step is
    * K×n with K fixed); truth pairs equi-join the candidate table in
    * canonical (lo, hi) orientation — no OR-join, no cartesian. */
  val dedupRecallAudit = sql(
    "x90_dedup_recall_audit",
    s"""${HashOracles.recallAudit}""") { (s, d) =>
    val sigs = pinnedSignatures(s, d)
    val cand = bandCandidates(sigs)
    val sample = sigs
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(32)
      .select(col("doc_id").as("sid"), col("sh").as("sh_s"))
    val truth = withInterUni(sigs.select(col("doc_id").as("oid"), col("sh").as("sh_o"))
      .crossJoin(broadcast(sample))
      .filter(col("sid") =!= col("oid")), "sh_s", "sh_o")
      .filter(col("inter") * 2 >= col("uni"))
      .select(col("sid"),
        least(col("sid"), col("oid")).as("lo"), greatest(col("sid"), col("oid")).as("hi"))
    // NOTE deliberately NO further checkpoints below: truth/perDoc re-derive
    // from the sigs RDD (already materialized above), never from parquet,
    // and keeping the lineage visible lets PlanQualitySpec pin the shape
    val caught = truth
      .join(cand, col("lo") === col("doc_a") && col("hi") === col("doc_b"), "left_semi")
    val perDoc = sample.select(col("sid"))
      .join(truth.groupBy("sid").agg(count(lit(1)).as("n_true")), Seq("sid"), "left")
      .join(caught.groupBy("sid").agg(count(lit(1)).as("n_caught")), Seq("sid"), "left")
      .na.fill(0L, Seq("n_true", "n_caught"))
    val tots = perDoc.agg(sum("n_true").as("tt"), sum("n_caught").as("tc"))
    perDoc.crossJoin(broadcast(tots))
      .select(col("sid").as("doc_id"), col("n_true"), col("n_caught"),
        when(col("tt") > 0, expr("tc * 1000000 div tt")).otherwise(1000000L)
          .cast("long").as("recall_ppm"))
      .orderBy("doc_id")
  }

  /** x94: weight-proportional sampling without replacement — PRIORITY
    * sampling (Duffield, Lund, Thorup 2007): each doc draws a
    * deterministic uniform u from its id hash and competes on priority
    * u/w (w = length in chars), bottom-k per source — longer docs
    * proportionally likelier, reproducible across engines, runs, and
    * cluster sizes (the property a seeded RNG sample does NOT have under
    * repartitioning). Completes the sampling family: x36 caps uniformly,
    * x53 cuts to a token budget in priority order, x94 samples
    * ∝ weight.
    *
    * u is the first 13 md5 hex digits as an EXACT 52-bit integer via
    * Horner/strpos string arithmetic (the x31/x56/x91 portable-hash
    * stance — no engine-specific hash or float RNG anywhere); priority is
    * one double division of exact integers, identical cross-engine. Plan:
    * row-local scoring, ONE exchange for the per-source window, and the
    * rank ≤ k prune rides WindowGroupLimit so no source's full list
    * survives the sort. */
  val weightedSample = sql(
    "x94_text_weighted_sample",
    s"""WITH h AS (
      |  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS w,
      |    md5(CAST(doc_id AS VARCHAR)) AS hx
      |  FROM documents),
      |u AS (
      |  SELECT doc_id, source, w,
      |    ${(1 to 13).map(i =>
            s"(strpos('0123456789abcdef', substring(hx, $i, 1)) - 1) * ${java.math.BigInteger.valueOf(16L).pow(13 - i)}::BIGINT")
            .mkString("(", "\n      |     + ", ")")} AS uv
      |  FROM h),
      |r AS (
      |  SELECT doc_id, source, w, CAST(uv AS DOUBLE) / w AS priority,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY CAST(uv AS DOUBLE) / w, doc_id) AS rk
      |  FROM u)
      |SELECT doc_id, source, w, priority, CAST(rk AS INTEGER) AS rk
      |FROM r WHERE rk <= 8 ORDER BY source, rk""".stripMargin) { (s, d) =>
    val hex = "0123456789abcdef"
    val uv = (1 to 13).map(i =>
      (instr(lit(hex), substring(col("hx"), i, 1)) - 1).cast("long") *
        lit(math.pow(16, 13 - i).toLong)).reduce(_ + _)
    val byPriority = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("priority", "doc_id")
    docs(s, d)
      .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("w"),
        md5(col("doc_id").cast("string")).as("hx"))
      .withColumn("priority", uv.cast("double") / col("w"))
      .withColumn("rk", row_number().over(byPriority))
      .filter(col("rk") <= 8)
      // priority ships UNROUNDED: it is one division of exact integers —
      // bit-identical cross-engine — while ROUND(x, 6) at 1e12 magnitude
      // is itself the nondeterminism (DuckDB multiplies through a double,
      // Spark rounds via BigDecimal; they disagree by an ulp)
      .select(col("doc_id"), col("source"), col("w"),
        col("priority"), col("rk").cast("int").as("rk"))
      .orderBy("source", "rk")
  }

  /** x80's engine over an arbitrary (doc_id, text) frame (factored so
    * `Ladder sparse` ladders the identical plan). */
  def sparseCosinePairsOf(dd: DataFrame): DataFrame = {
    val tok = dd
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("term"))
    val n = dd.agg(count(lit(1)).as("n"))
    val rare = tok.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .filter(col("df") >= 2 && (col("df") <= 10 || col("df") * 10 <= col("n")))
      .select(col("term"), expr("1000000 div df").as("w"))
    val p = tok.join(rare, Seq("term"))
    val nrm = p.groupBy("doc_id").agg(sum(col("w") * col("w")).as("norm_sq"))
    val pr = p.select(col("doc_id").as("doc_a"), col("term"), col("w"))
      .join(p.select(col("doc_id").as("doc_b"), col("term")), Seq("term"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"), sum(col("w") * col("w")).as("dot"))
    pr.join(nrm.select(col("doc_id").as("doc_a"), col("norm_sq").as("na")), Seq("doc_a"))
      .join(nrm.select(col("doc_id").as("doc_b"), col("norm_sq").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6).as("cos_sim"))
  }

  /** x81: release diff — the regression report between two corpus release
    * layouts: per (shard, status) counts of docs `added`, `removed`,
    * `changed` (same doc, different in-shard position — layout churn) and
    * `same`, via [[graft.operators.SnapshotDiff]]'s full-outer key diff
    * over x56's shard/position rule applied to two simulated crawls
    * (doc_id % 17 ≠ 0 as the previous release, % 13 ≠ 0 as the next — all
    * four statuses non-vacuous on the shipped corpus).
    *
    * Plan: each snapshot is the x56 writer plan (one exchange + in-shard
    * row_number), the diff is ONE full-outer sort-merge join on doc_id
    * (both sides manifest-sized — neither broadcasts, which is the right
    * call at 100 TB), and the rollup is a partial-final count. Layout
    * churn here is honest signal: dropping a doc shifts every later
    * position in its shard, which is exactly what an incremental-release
    * planner needs to see before rewriting shards. */
  val releaseDiff = sql(
    "x81_release_diff",
    """WITH sa AS (
      |  SELECT doc_id, shard, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id) AS pos
      |  FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
      |          CAST(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS INTEGER) AS shard
      |        FROM documents WHERE doc_id % 17 <> 0)),
      |sb AS (
      |  SELECT doc_id, shard, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id) AS pos
      |  FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
      |          CAST(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS INTEGER) AS shard
      |        FROM documents WHERE doc_id % 13 <> 0)),
      |d AS (
      |  SELECT COALESCE(sa.shard, sb.shard) AS shard,
      |    CASE WHEN sa.doc_id IS NULL THEN 'added'
      |         WHEN sb.doc_id IS NULL THEN 'removed'
      |         WHEN NOT (sa.shard IS NOT DISTINCT FROM sb.shard
      |                   AND sa.pos IS NOT DISTINCT FROM sb.pos) THEN 'changed'
      |         ELSE 'same' END AS status
      |  FROM sa FULL OUTER JOIN sb ON sa.doc_id = sb.doc_id)
      |SELECT shard, status, CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM d GROUP BY shard, status ORDER BY shard, status""".stripMargin) { (s, d) =>
    val prev = shardsOf(docs(s, d).filter(col("doc_id") % 17 =!= 0))
    val next = shardsOf(docs(s, d).filter(col("doc_id") % 13 =!= 0))
    graft.operators.SnapshotDiff.diff(prev, next, "doc_id", Seq("shard", "pos"))
      .groupBy(coalesce(col("old_shard"), col("new_shard")).as("shard"), col("status"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("shard", "status")
  }

  /** x110: tokenizer-vocabulary coverage datasheet — for a vocabulary
    * defined as the global top-16 tokens by occurrence count (ties in
    * token order), the per-source covered/OOV token-occurrence mass and
    * coverage rate. This is the go/no-go table a tokenizer release reads
    * before training: a source whose coverage craters under the candidate
    * vocab is about to be shredded into bytes/UNKs (pairs with x103/x105,
    * which measure the BPE side of the same decision).
    *
    * Plan: ONE corpus scan + explode into a (source, token) partial-final
    * count — the only corpus-sized shuffle — then everything downstream is
    * token-table-sized: the global counts re-aggregate the (source, token)
    * table (checkpointed so the corpus is never re-scanned), the top-16
    * vocab is a TakeOrdered (per-partition top-k, no full sort), and the
    * vocab joins back BROADCAST. Cross-engine exactness: every aggregate
    * is an integer count; the only double is the per-source coverage
    * division of two exact BIGINTs before ROUND(…,6) (the x47 stance). */
  private val vocabTopK = 16
  val vocabCoverage = sql(
    "x110_vocab_coverage",
    s"""WITH st AS (
      |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents) t
      |  GROUP BY source, tok),
      |v AS (SELECT tok FROM (
      |  SELECT tok, SUM(c) AS g FROM st GROUP BY tok
      |  ORDER BY g DESC, tok LIMIT $vocabTopK))
      |SELECT source,
      |  CAST(SUM(c) AS BIGINT) AS total_tok,
      |  CAST(SUM(CASE WHEN tok IN (SELECT tok FROM v) THEN c ELSE 0 END) AS BIGINT) AS in_vocab_tok,
      |  CAST(SUM(CASE WHEN tok IN (SELECT tok FROM v) THEN 0 ELSE c END) AS BIGINT) AS oov_tok,
      |  ROUND(CAST(SUM(CASE WHEN tok IN (SELECT tok FROM v) THEN c ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(c) AS DOUBLE), 6) AS coverage
      |FROM st GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    vocabCoverageOf(docs(s, d)).orderBy("source")
  }

  /** x110's engine over an arbitrary (source, text) frame (factored so
    * edge specs drive synthetic corpora through the identical plan). */
  def vocabCoverageOf(dd: DataFrame): DataFrame = {
    val st = dd
      .select(col("source"), explode(tokens).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // two consumers: vocab + rollup — one corpus scan
    val vocab = st.groupBy("tok").agg(sum("c").as("g"))
      .orderBy(col("g").desc, col("tok")).limit(vocabTopK)
      .select(col("tok"), lit(true).as("in_v"))
    st.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("source").agg(
        sum("c").as("total_tok"),
        sum(when(col("in_v"), col("c")).otherwise(0L)).as("in_vocab_tok"),
        sum(when(col("in_v"), 0L).otherwise(col("c"))).as("oov_tok"))
      .select(col("source"), col("total_tok"), col("in_vocab_tok"), col("oov_tok"),
        round(col("in_vocab_tok").cast("double") / col("total_tok").cast("double"), 6)
          .as("coverage"))
  }

  /** x111: per-source boilerplate strip — the CCNet/RefinedWeb
    * paragraph-dedup pass adapted to this corpus's newline-free text: the
    * removal UNIT is the non-overlapping 8-token chunk, and a chunk is
    * boilerplate when it appears in ≥ 2 DISTINCT documents of the SAME
    * source (document frequency within source — the header/footer/nav
    * signature). Output per doc: chunk counts and the RECONSTRUCTED text
    * with boilerplate chunks removed, chunks rejoined in document order —
    * the pass that runs BEFORE whole-doc dedup (x01/x03) because shared
    * boilerplate otherwise glues unrelated docs into near-dup range.
    *
    * Plan: one scan + explode into chunks; document frequency is a
    * distinct + partial-final count keyed (source, chunk) — the chunk
    * payload in the shuffle is BOUNDED (8 tokens), unlike the whole-doc
    * key [[exactCollapseBy]] exists to avoid; the df table joins back on
    * the same (source, chunk) key (exchange reuse, no broadcast — the
    * chunk-df table is corpus-scale at 100 TB); reassembly is one per-doc
    * aggregate whose sort/transform/join HOFs run over the doc's OWN
    * chunk list (vocab-sized per row, the cheap HOF regime). All outputs
    * are integers and strings — no floats anywhere. */
  private val boilerChunkTokens = 8
  val boilerStrip = sql(
    "x111_boiler_strip",
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
      |c AS (SELECT doc_id, source, CAST(ci AS INTEGER) AS ci,
      |    array_to_string(toks[CAST(ci*$boilerChunkTokens+1 AS INTEGER):CAST(ci*$boilerChunkTokens+$boilerChunkTokens AS INTEGER)], ' ') AS chunk
      |  FROM (SELECT doc_id, source, toks,
      |          unnest(range(0, ((len(toks)-1) // $boilerChunkTokens) + 1)) AS ci FROM t)),
      |df AS (SELECT source, chunk, COUNT(DISTINCT doc_id) AS df
      |  FROM c GROUP BY source, chunk),
      |k AS (SELECT c.doc_id, c.ci, c.chunk, df.df
      |  FROM c JOIN df ON c.source = df.source AND c.chunk = df.chunk)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS INTEGER) AS n_chunks,
      |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS INTEGER) AS n_boiler,
      |  COALESCE(string_agg(CASE WHEN df < 2 THEN chunk END, ' ' ORDER BY ci), '') AS clean_text
      |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    boilerStripOf(docs(s, d)).orderBy("doc_id")
  }

  /** x111's engine over an arbitrary (doc_id, source, text) frame (factored
    * so edge specs force chunk sharing through the identical plan). */
  def boilerStripOf(dd: DataFrame): DataFrame = {
    val w = boilerChunkTokens
    val c = dd
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
      .withColumn("ci", explode(sequence(lit(0), ((size(col("toks")) - 1) / w).cast("int"))))
      .select(col("doc_id"), col("source"), col("ci").cast("int").as("ci"),
        array_join(slice(col("toks"), col("ci") * w + 1, lit(w)), " ").as("chunk"))
      .localCheckpoint(eager = false) // two consumers: df + reassembly join —
      // the corpus-wide scan+explode runs once (the x03 sigs boundary)
    val df = c.select("source", "chunk", "doc_id").distinct()
      .groupBy("source", "chunk").agg(count(lit(1)).as("df"))
    c.join(df, Seq("source", "chunk"))
      .groupBy("doc_id").agg(
        count(lit(1)).cast("int").as("n_chunks"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).cast("int").as("n_boiler"),
        expr("array_join(transform(array_sort(collect_list(" +
          "CASE WHEN df < 2 THEN struct(ci, chunk) END)), s -> s.chunk), ' ')")
          .as("clean_text"))
  }

  /** x112: pack-span manifest — the per-sequence LOSS-MASK table that
    * completes x54's packing: where x54 places each doc's START
    * (`pack_id`, `pack_offset`), x112 explodes each doc into one row per
    * training sequence it occupies, with the in-sequence `[span_start,
    * span_start+span_len)` token interval. This is the table a trainer
    * reads to reset attention/loss at document boundaries inside packed
    * sequences; spans TILE each pack exactly (every non-final pack's
    * spans sum to 512 with no gaps — pinned in TextPackSpec).
    *
    * Plan: x54's two-level distributed prefix sum verbatim (no per-source
    * serialization at 100 TB), then the explode and span arithmetic are
    * row-local pure-integer expressions: a doc touches
    * `1 + (cum_before+n_tok-1) div 512 - cum_before div 512` packs, so
    * output size is input size + corpus_tokens/512 — linear. */
  val packSpans = sql(
    "x112_pack_spans",
    s"""WITH ${packOffsetsSql()}
      |SELECT source, CAST(pack_id AS BIGINT) AS pack_id, doc_id,
      |  CAST(span_start AS BIGINT) AS span_start, CAST(span_len AS BIGINT) AS span_len
      |FROM sp ORDER BY source, pack_id, span_start, doc_id""".stripMargin) { (s, d) =>
    packSpansOf(docs(s, d)).orderBy("source", "pack_id", "span_start", "doc_id")
  }

  /** x112's engine over an arbitrary (source, doc_id, text) frame (factored
    * so TextPackSpec pins the pack-tiling invariant on the live plan). */
  def packSpansOf(documents: DataFrame): DataFrame =
    packSpans(packOffsetsOf(documents))
      .select("source", "pack_id", "doc_id", "span_start", "span_len")

  /** Mergeable per-source datasheet statistics — the commutative-monoid
    * form of x57's release datasheet: counts/sums add, the language set
    * unions, min/max combine, and the mean is DERIVED from merged sums
    * (never averaged across partials — the classic mergeability bug).
    * Output: (source, n_docs, n_tokens, n_chars, langs ARRAY, min_chars,
    * max_chars) — everything a later [[mergeDatasheets]] needs, nothing
    * that can't merge. */
  def datasheetStatsOf(dd: DataFrame): DataFrame =
    dd.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(nTokOfText).as("n_tokens"),
      sum(length(col("text")).cast("long")).as("n_chars"),
      collect_set(col("lang")).as("langs"),
      min(length(col("text")).cast("long")).as("min_chars"),
      max(length(col("text")).cast("long")).as("max_chars"))

  /** Merge two [[datasheetStatsOf]] frames: per-source monoid combine.
    * Associative and commutative by construction, so a 100 TB corpus can
    * fold in daily batches forever in any order — DatasheetStatsSpec pins
    * merge(stats(A), stats(B)) ≡ stats(A ∪ B) including sources present on
    * only one side. */
  def mergeDatasheets(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("source").agg(
      sum("n_docs").as("n_docs"),
      sum("n_tokens").as("n_tokens"),
      sum("n_chars").as("n_chars"),
      array_sort(array_distinct(flatten(collect_list(col("langs"))))).as("langs"),
      min("min_chars").as("min_chars"),
      max("max_chars").as("max_chars"))

  /** Persist a [[datasheetStatsOf]] frame as the corpus's durable datasheet
    * artifact (sources-sized — trivially one file). */
  def saveDatasheet(stats: DataFrame, path: String): Unit =
    stats.orderBy("source").coalesce(1).write.mode("overwrite").parquet(path)

  /** Read a [[saveDatasheet]] artifact back. */
  def loadDatasheet(s: SparkSession, path: String): DataFrame =
    Tables.parquet(s, path)

  /** Render merged [[datasheetStatsOf]] stats as the release datasheet
    * (x57's columns plus the batch provenance count). */
  private def datasheetRender(merged: DataFrame, added: DataFrame): DataFrame =
    merged
      .join(broadcast(added), Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_docs_added"), lit(0L)).as("n_docs_added"),
        col("n_tokens"), col("n_chars"),
        size(col("langs")).cast("long").as("n_langs"),
        col("min_chars"), col("max_chars"),
        (col("n_chars").cast("double") / col("n_docs")).as("mean_chars"))

  /** x113: INCREMENTAL datasheet maintenance — x57's release datasheet
    * kept current without ever rescanning the corpus. The stored artifact
    * is the mergeable per-source statistic set ([[datasheetStatsOf]]:
    * counts/sums/lang-set/min/max — each a commutative monoid); an
    * incoming batch (here the x37 convention: `doc_id % 10 = 0` is the new
    * crawl, the rest the stored release) is aggregated batch-sized and
    * MERGED, and the datasheet (including the derived mean) is recomputed
    * from the merged sums. The DuckDB oracle recomputes everything from
    * the FULL corpus in one pass — hash equality is the cross-engine proof
    * that the merge is lossless, i.e. that stats(corpus) ⊕ stats(batch) ≡
    * stats(corpus ∪ batch) column by column (the mean is the classic
    * casualty when a pipeline stores averages instead of sums; n_langs the
    * casualty when it stores counts instead of sets).
    *
    * Plan/scale: at steady state the corpus contributes a SOURCES-sized
    * artifact read (the localCheckpoint below is the read-back boundary,
    * x37's posture; the durable form is [[saveDatasheet]]/
    * [[loadDatasheet]], parquet-round-trip-pinned in DatasheetStatsSpec) —
    * only the batch is scanned, once, partial-aggregated. The merge and
    * render run on ≤ 2·|sources| rows. A 100 TB corpus updates its
    * datasheet in batch-sized work forever. */
  val datasheetMerge = sql(
    "x113_datasheet_merge",
    """SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_added,
      |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
      |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
      |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(MIN(length(text)) AS BIGINT) AS min_chars,
      |  CAST(MAX(length(text)) AS BIGINT) AS max_chars,
      |  CAST(SUM(length(text)) AS DOUBLE) / COUNT(*) AS mean_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val all = docs(s, d)
    val stored = datasheetStatsOf(all.filter(col("doc_id") % 10 =!= 0))
      .localCheckpoint(eager = false) // the read-back artifact boundary
    val batch = datasheetStatsOf(all.filter(col("doc_id") % 10 === 0))
    datasheetRender(
      mergeDatasheets(stored, batch),
      batch.select(col("source"), col("n_docs").as("n_docs_added")))
      .orderBy("source")
  }

  /** x114: pack-efficiency datasheet — the per-source padding/fragmentation
    * accounting for x54/x112's fixed-length sequence packing, the table a
    * training run reads to know what fraction of its compute feeds pad
    * tokens and how often attention must be reset mid-sequence. Per
    * source: docs, tokens, packs (= ⌈tokens/512⌉ — x112's spans tile every
    * pack, so ALL padding sits in the final pack), pad tokens + exact ppm,
    * total spans (Σ per-doc packs touched: x112's output size WITHOUT
    * materializing it), and how many docs straddle a pack boundary.
    * TextPackSpec pins the identities against the live x112 explode:
    * n_spans = |x112 rows|, Σ span_len = n_tokens, n_spans − n_docs =
    * boundary crossings.
    *
    * Plan/scale: x54's two-level distributed prefix sum verbatim (no
    * per-source serialization), then ONE partial-final aggregate — the
    * span count per doc is closed-form integer arithmetic on (cum_before,
    * n_tok), so the pack explosion never materializes. All columns are
    * exact integers (pad_ppm by floor-div); no floats anywhere. */
  val packEfficiency = sql(
    "x114_pack_efficiency",
    s"""WITH ${packOffsetsSql()}
      |SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |  CAST((SUM(n_tok) + ${packSeqLen - 1}) // $packSeqLen AS BIGINT) AS n_packs,
      |  CAST(((SUM(n_tok) + ${packSeqLen - 1}) // $packSeqLen) * $packSeqLen - SUM(n_tok) AS BIGINT) AS pad_tokens,
      |  CAST(((((SUM(n_tok) + ${packSeqLen - 1}) // $packSeqLen) * $packSeqLen - SUM(n_tok)) * 1000000)
      |    // (((SUM(n_tok) + ${packSeqLen - 1}) // $packSeqLen) * $packSeqLen) AS BIGINT) AS pad_ppm,
      |  CAST(SUM((cum_before + n_tok - 1) // $packSeqLen - cum_before // $packSeqLen + 1) AS BIGINT) AS n_spans,
      |  CAST(SUM(CASE WHEN (cum_before + n_tok - 1) // $packSeqLen > cum_before // $packSeqLen
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
      |FROM c GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    packEfficiencyOf(docs(s, d)).orderBy("source")
  }

  /** x114's engine over an arbitrary (source, doc_id, text) frame (factored
    * so TextPackSpec pins the x112 identities on the live plan). */
  def packEfficiencyOf(documents: DataFrame): DataFrame = {
    val L = packSeqLen
    packOffsetsOf(documents)
      .withColumn("doc_spans",
        expr(s"(cum_before + n_tok - 1) div $L - cum_before div $L + 1"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum("doc_spans").as("n_spans"),
        sum(when(col("doc_spans") > 1, 1L).otherwise(0L)).as("n_split_docs"))
      .withColumn("n_packs", expr(s"(n_tokens + ${L - 1}) div $L"))
      .withColumn("pad_tokens", col("n_packs") * L - col("n_tokens"))
      .withColumn("pad_ppm",
        expr(s"(pad_tokens * 1000000) div (n_packs * $L)"))
      .select("source", "n_docs", "n_tokens", "n_packs", "pad_tokens",
        "pad_ppm", "n_spans", "n_split_docs")
  }

  /** x116: per-source curation YIELD FUNNEL — stage-by-stage retention
    * through x59's release pipeline (raw → quality gate → exact collapse →
    * near-dup CC survivor), with doc and token counts at the rails and
    * exact integer kept-ppm: the "where did my data go" table a corpus
    * release publishes next to its datasheet (Dolma/RefinedWeb report
    * exactly this per-stage yield). Survivors attribute to the KEPT doc's
    * source — a cluster spanning sources credits whichever source ships
    * the surviving member, which is the real contribution accounting
    * (x58 measures the cross-source overlap this attribution hides).
    *
    * Plan/scale: the chain is x59's verbatim (quality gate prunes BEFORE
    * any shingling; band join + hash-min CC on the pruned subset; the
    * measured 10×/30×/100× ladder covers it); the gated frame is
    * localCheckpointed once for its three consumers (stage count, exact
    * collapse, sketch chain). Stage attribution joins are survivor-keyed
    * equi-joins back to the corpus (the x104 stance: survivor sets are
    * corpus-scale ÷ dup factor — NOT broadcastable, so they shuffle on
    * doc_id); the funnel itself is a sources-sized left-join chain. All
    * outputs exact integers (ppm by floor-div). */
  val curationFunnel = sql(
    "x116_curation_funnel", HashOracles.curationFunnel) { (s, d) =>
    val dd = docs(s, d)
    val raw = dd.groupBy("source").agg(
      count(lit(1)).as("n_raw"), sum(nTokOfText).as("tok_raw"))
    val qual = dd.filter(nTokOfText >= 40).select("doc_id", "source", "text")
      .localCheckpoint(eager = false) // three consumers: stage count, exact, chain
    val nQual = qual.groupBy("source").agg(count(lit(1)).as("n_qual"))
    val (chain, erep) = chainAndErepOf(qual.select("doc_id", "text"))
    val surv = chain.groupBy("rep").agg(min("doc_id").as("keep_id"))
    val nExact = erep.select("e_rep").distinct()
      .join(dd.select(col("doc_id").as("e_rep"), col("source")), Seq("e_rep"))
      .groupBy("source").agg(count(lit(1)).as("n_exact"))
    val nFinal = surv
      .join(dd.select(col("doc_id").as("keep_id"), col("source"), nTokOfText.as("n_tok")),
        Seq("keep_id"))
      .groupBy("source").agg(
        count(lit(1)).as("n_final"), sum("n_tok").as("tok_final"))
    raw
      .join(nQual, Seq("source"), "left")
      .join(nExact, Seq("source"), "left")
      .join(nFinal, Seq("source"), "left")
      .select(col("source"), col("n_raw"), col("tok_raw"),
        coalesce(col("n_qual"), lit(0L)).as("n_qual"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_final"), lit(0L)).as("n_final"),
        coalesce(col("tok_final"), lit(0L)).as("tok_final"))
      .withColumn("kept_ppm", expr("(n_final * 1000000) div n_raw"))
      .withColumn("tok_kept_ppm", expr("(tok_final * 1000000) div tok_raw"))
      .orderBy("source")
  }

  /** x117: language-ID confusion matrix — x08's stopword-heuristic
    * predictions evaluated against the corpus's labeled `lang` column:
    * one row per (true lang, predicted lang) with the count, the true
    * lang's total, and the exact row-share ppm (diagonal share = per-lang
    * recall). This is the eval table a curation pipeline publishes before
    * trusting a lang-ID stage to gate a mixture (CCNet reports exactly
    * this; on the shipped synthetic corpus the heuristic honestly craters
    * on everything but en — the vocabulary is English-ish for all labels
    * — which is precisely what the table exists to expose).
    *
    * Plan: x08's row-local scoring chain (stopword lists as literals,
    * argmax by struct ordering) + ONE partial-final groupBy on the ≤
    * |langs|² key; the per-lang total is a window over the aggregated
    * cells, not a second corpus scan. All integers. */
  val langidConfusion = sql(
    "x117_langid_confusion",
    """WITH t AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks FROM documents),
      |b AS (SELECT doc_id, lang, list_sort([
      |    {'score': CAST(len(list_intersect(toks, ['the','and','of','to','a','in','is','that','for','it'])) AS INTEGER), 'lang': 'en'},
      |    {'score': CAST(len(list_intersect(toks, ['der','die','und','das','ist','nicht','mit','ein','zu','den'])) AS INTEGER), 'lang': 'de'},
      |    {'score': CAST(len(list_intersect(toks, ['le','la','et','les','des','une','est','pour','que','dans'])) AS INTEGER), 'lang': 'fr'},
      |    {'score': CAST(len(list_intersect(toks, ['el','los','de','que','y','en','un','es','por','con'])) AS INTEGER), 'lang': 'es'}])[-1] AS best
      |  FROM t),
      |c AS (SELECT lang, CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS pred_lang,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM b GROUP BY 1, 2)
      |SELECT lang, pred_lang, n,
      |  CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
      |  (n * 1000000) // CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS share_ppm
      |FROM c ORDER BY lang, pred_lang""".stripMargin) { (s, d) =>
    val stop: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "for", "it"),
      "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"),
      "fr" -> Seq("le", "la", "et", "les", "des", "une", "est", "pour", "que", "dans"),
      "es" -> Seq("el", "los", "de", "que", "y", "en", "un", "es", "por", "con"))
    val toks = array_distinct(tokens)
    val scored = array_max(array(stop.map { case (lang, words) =>
      struct(size(array_intersect(toks, typedLit(words))).as("score"), lit(lang).as("lang"))
    }: _*))
    // the same CJK override as x08's engine (never fires on the ascii
    // testdata, so the oracle omits it — x08's documented stance)
    val cjkRatio = (length(col("text")) -
      length(regexp_replace(col("text"), "[\\x{4e00}-\\x{9fff}]", ""))).cast("double") /
      greatest(length(col("text")), lit(1))
    val cells = docs(s, d)
      .withColumn("best", scored)
      .withColumn("pred_lang",
        when(cjkRatio > 0.3, "zh")
          .when(col("best.score") > 0, col("best.lang"))
          .otherwise("und"))
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
    val tot = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    cells
      .withColumn("lang_total", sum("n").over(tot))
      .withColumn("share_ppm", expr("(n * 1000000) div lang_total"))
      .orderBy("lang", "pred_lang")
  }

  /** x118: release shard-balance audit — per shard of x59's manifest:
    * clusters, represented docs, SHIPPED tokens, exact token-share ppm,
    * and the signed deviation from the uniform 1/16 share. This is the
    * straggler predictor a training-data loader reads before an epoch: a
    * shard 20% over the mean token mass is a rank that finishes 20% late
    * every epoch (x56 proved the shard RULE is a permutation of docs; this
    * audits what the rule does to TOKEN mass once the manifest picks
    * survivors). Deviations are exact integers: dev_ppm =
    * (n_tokens·16·10⁶) div total − 10⁶.
    *
    * Plan/scale: x59's chain verbatim; the shipped-token attach is a
    * survivor-keyed equi-join back to the corpus (x104 stance), the rollup
    * is a 16-row aggregate, and the total attaches as a broadcast 1-row
    * frame (x98's nb move — never an unpartitioned window). */
  val shardBalance = sql(
    "x118_shard_balance", HashOracles.shardBalance) { (s, d) =>
    val sh = manifestPlan(s, d, KeepMinId)
      .select("keep_id", "n_docs", "shard")
      .join(docs(s, d).select(col("doc_id").as("keep_id"), nTokOfText.as("n_tok")),
        Seq("keep_id"))
    val g = sh.groupBy("shard").agg(
      count(lit(1)).as("n_clusters"),
      sum("n_docs").as("n_docs_rep"),
      sum("n_tok").as("n_tokens"))
      // r21 (r20 verdict item 6): pin the 16-row rollup so its own grand
      // total cannot recompute the manifest tail (x132's documented
      // pattern; OPTIMIZATION_r21.md A/B: as-is swings 0.89-1.29 s with
      // load, pinned reads a stable 0.91-0.95 s)
      .localCheckpoint(eager = false)
    g.crossJoin(broadcast(g.agg(sum("n_tokens").as("tot"))))
      .select(col("shard"), col("n_clusters"), col("n_docs_rep"), col("n_tokens"),
        expr("(n_tokens * 1000000) div tot").as("tok_share_ppm"),
        expr("(n_tokens * 16000000) div tot - 1000000").as("dev_ppm"))
      .orderBy("shard")
  }

  /** x119: near-dup cluster-size HISTOGRAM — log2-bucketed distribution of
    * cluster sizes over the full-corpus x51 chain: how much document mass
    * sits in singletons vs giant clusters, the dedup-observability
    * distribution FineWeb/Dolma publish (it decides whether hub-removal
    * (x73) or plain survivor-selection is the right treatment). Bucketing
    * is an integer CASE ladder — floor-log2 WITHOUT calling log2(), whose
    * power-of-two boundary values are the classic last-ulp cross-engine
    * gamble. Plan: the proven chain, a clusters-sized groupBy(rep), a ≤
    * 21-row bucket rollup, totals as a broadcast 1-row frame. */
  val clusterSizeHist = sql(
    "x119_cluster_size_hist", HashOracles.clusterSizeHist) { (s, d) =>
    val bucketCase = (0 until 20)
      .map(b => s"WHEN sz < ${2L << b} THEN $b")
      .mkString("CASE ", " ", " ELSE 20 END")
    val chain = chainOf(docs(s, d))
    val cs = chain.groupBy("rep").agg(count(lit(1)).as("sz"))
    val g = cs
      .withColumn("bucket", expr(bucketCase).cast("int"))
      .groupBy("bucket").agg(
        count(lit(1)).as("n_clusters"),
        sum("sz").as("n_docs"),
        max("sz").as("max_size"))
      // r21 (r20 verdict item 6): pin the ≤21-row rollup — x118's note
      .localCheckpoint(eager = false)
    g.crossJoin(broadcast(g.agg(sum("n_docs").as("tot"))))
      .select(col("bucket"),
        expr("CAST(POWER(2, bucket) AS BIGINT)").as("floor_size"),
        col("n_clusters"), col("n_docs"), col("max_size"),
        expr("(n_docs * 1000000) div tot").as("doc_share_ppm"))
      .orderBy("bucket")
  }

  /** x120: pack ASSEMBLY — the materialized training sequence itself. x54
    * places docs, x112 derives the loss-mask spans, x114 prices the
    * padding; this query BUILDS each fixed-length sequence (per-span token
    * slices concatenated in span order, final pack right-padded with
    * `<pad>`) and pins its EXACT content cross-engine via md5 — so the
    * bytes a trainer would memory-map, not just their bookkeeping, are
    * hash-checked end to end. Output per (source, pack_id): span count,
    * real tokens, pad count, and the content digest (the digest keeps
    * output rows bounded while still failing on any single-token
    * misplacement anywhere in the corpus).
    *
    * Plan/scale: the x54 prefix-sum chain; the explode is the SAME
    * linear-output span explode x112 plans; per-pack assembly is one
    * partial-final aggregate whose per-group state is ≤ 512 tokens by
    * construction (the pack length bounds it — no unbounded collect_list
    * risk); the slice/flatten/join are row-local HOFs over ≤ L tokens.
    * Writing the real artifact is `Sinks.partitionedParquet(..., source)`
    * over this frame minus the digest. */
  val packAssemble = sql(
    "x120_pack_assemble",
    s"""WITH ${packOffsetsSql(carry = packToksSql)},
      |g AS (SELECT source, pack_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_spans,
      |    CAST(SUM(span_len) AS BIGINT) AS n_tokens,
      |    string_agg(array_to_string(toks[CAST(doc_off+1 AS INTEGER):CAST(doc_off+span_len AS INTEGER)], ' '),
      |               ' ' ORDER BY span_start) AS body
      |  FROM sp GROUP BY source, pack_id)
      |SELECT source, pack_id, n_spans, n_tokens,
      |  CAST($packSeqLen - n_tokens AS BIGINT) AS n_pad,
      |  md5(body || repeat(' <pad>', CAST($packSeqLen - n_tokens AS INTEGER))) AS pack_md5
      |FROM g ORDER BY source, pack_id""".stripMargin) { (s, d) =>
    packAssembleOf(docs(s, d)).orderBy("source", "pack_id")
  }

  /** x120's engine over an arbitrary (source, doc_id, text) frame (factored
    * so TextPackSpec can rebuild every pack driver-side and compare). */
  def packAssembleOf(documents: DataFrame): DataFrame =
    packAssembleOrdered(documents, md5(col("doc_id").cast("string")))

  /** [[packAssembleOf]] with an injectable placement-order key (x124 packs
    * by (generation, hash) so appends land at the tail of the stream). */
  private def packAssembleOrdered(documents: DataFrame, orderKey: Column): DataFrame = {
    val L = packSeqLen
    packSpans(packPlaced(packTokensOf(documents), orderKey))
      .select(col("source"), col("pack_id"), col("span_start"), col("span_len"),
        expr("slice(toks, CAST(doc_off + 1 AS INT), CAST(span_len AS INT))")
          .as("span_toks"))
      .groupBy("source", "pack_id").agg(
        count(lit(1)).as("n_spans"),
        sum("span_len").as("n_tokens"),
        expr("array_join(flatten(transform(array_sort(collect_list(" +
          "struct(span_start, span_toks))), x -> x.span_toks)), ' ')").as("body"))
      .withColumn("n_pad", lit(L) - col("n_tokens"))
      .withColumn("pack_md5",
        md5(concat(col("body"), expr("repeat(' <pad>', CAST(n_pad AS INT))"))))
      .select("source", "pack_id", "n_spans", "n_tokens", "n_pad", "pack_md5")
  }

  /** x124: APPEND-ONLY pack release invariance — the incremental-shipping
    * property x120's layout deliberately lacks: x120 orders by md5 alone,
    * so a new crawl's docs interleave everywhere and every pack's bytes
    * change. A release that wants immutable shipped packs orders by
    * (GENERATION, hash) instead — new docs sort after every old doc, the
    * token stream only grows at the tail, and every FULL old pack survives
    * the append byte-identical; at most the old trailing PARTIAL pack per
    * source is rewritten. This query builds both layouts over x81's
    * simulated crawls (old = doc_id % 17 ≠ 0, arrivals = % 17 = 0), joins
    * them pack-for-pack by md5 digest, and emits per source: old/new pack
    * counts, byte-identical survivors, rewritten packs (≤ 1 BY
    * CONSTRUCTION), and the first changed pack id — the manifest row an
    * incremental release publishes so consumers know exactly which pack
    * files to re-fetch (the x37/x81/x113 incremental-maintenance axis
    * applied to the pack artifact).
    *
    * Plan/scale: two x120 assembly chains (each: one exchange per prefix
    * sum, linear span explode, ≤512-token bounded per-pack state), a
    * packs-sized equi-join on (source, pack_id) — corpus_tokens/512 rows,
    * never the corpus itself — and a sources-sized rollup. */
  val packAppend = sql(
    "x124_pack_append",
    s"""WITH ${packOffsetsSql(from = "documents WHERE doc_id % 17 <> 0", carry = packToksSql, ord = x124Ord, tag = "a")},
      |ga AS (SELECT source, pack_id, CAST(SUM(span_len) AS BIGINT) AS n_tokens,
      |    string_agg(array_to_string(toks[CAST(doc_off+1 AS INTEGER):CAST(doc_off+span_len AS INTEGER)], ' '),
      |               ' ' ORDER BY span_start) AS body
      |  FROM spa GROUP BY source, pack_id),
      |pa AS (SELECT source, pack_id,
      |    md5(body || repeat(' <pad>', CAST($packSeqLen - n_tokens AS INTEGER))) AS old_md5
      |  FROM ga),
      |${packOffsetsSql(carry = packToksSql, ord = x124Ord, tag = "b")},
      |gb AS (SELECT source, pack_id, CAST(SUM(span_len) AS BIGINT) AS n_tokens,
      |    string_agg(array_to_string(toks[CAST(doc_off+1 AS INTEGER):CAST(doc_off+span_len AS INTEGER)], ' '),
      |               ' ' ORDER BY span_start) AS body
      |  FROM spb GROUP BY source, pack_id),
      |pb AS (SELECT source, pack_id,
      |    md5(body || repeat(' <pad>', CAST($packSeqLen - n_tokens AS INTEGER))) AS new_md5
      |  FROM gb)
      |SELECT pb.source,
      |  CAST(COUNT(pa.old_md5) AS BIGINT) AS n_packs_old,
      |  CAST(COUNT(*) AS BIGINT) AS n_packs_new,
      |  CAST(SUM(CASE WHEN pa.old_md5 = pb.new_md5 THEN 1 ELSE 0 END) AS BIGINT) AS n_identical,
      |  CAST(SUM(CASE WHEN pa.old_md5 IS NOT NULL AND pa.old_md5 <> pb.new_md5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rewritten,
      |  CAST(COALESCE(MIN(CASE WHEN pa.old_md5 IS NULL OR pa.old_md5 <> pb.new_md5 THEN pb.pack_id END), -1) AS BIGINT) AS first_changed_pack
      |FROM pb LEFT JOIN pa ON pa.source = pb.source AND pa.pack_id = pb.pack_id
      |GROUP BY pb.source ORDER BY pb.source""".stripMargin) { (s, d) =>
    packAppendOf(docs(s, d)).orderBy("source")
  }

  /** x124's stream order in oracle SQL: arrivals (`doc_id % 17 = 0`) after
    * every old doc, each part in hash order (`genKey` below). */
  private def x124Ord =
    "(CASE WHEN doc_id % 17 = 0 THEN '1:' ELSE '0:' END) || md5(CAST(doc_id AS VARCHAR))"

  /** x124's engine over an arbitrary (source, doc_id, text) frame. */
  def packAppendOf(documents: DataFrame): DataFrame = {
    val genKey = concat(
      when(col("doc_id") % 17 === 0, lit("1:")).otherwise(lit("0:")),
      md5(col("doc_id").cast("string")))
    val oldPacks =
      packAssembleOrdered(documents.filter(col("doc_id") % 17 =!= 0), genKey)
        .select(col("source"), col("pack_id"), col("pack_md5").as("old_md5"))
    val newPacks = packAssembleOrdered(documents, genKey)
      .select(col("source"), col("pack_id"), col("pack_md5").as("new_md5"))
    newPacks.join(oldPacks, Seq("source", "pack_id"), "left")
      .groupBy("source").agg(
        count(col("old_md5")).as("n_packs_old"),
        count(lit(1)).as("n_packs_new"),
        sum(when(col("old_md5") === col("new_md5"), 1L).otherwise(0L)).as("n_identical"),
        sum(when(col("old_md5").isNotNull && col("old_md5") =!= col("new_md5"), 1L)
          .otherwise(0L)).as("n_rewritten"),
        coalesce(min(when(col("old_md5").isNull || col("old_md5") =!= col("new_md5"),
          col("pack_id"))), lit(-1L)).as("first_changed_pack"))
      .select("source", "n_packs_old", "n_packs_new", "n_identical",
        "n_rewritten", "first_changed_pack")
  }

  /** x125: PACK-level decontamination — the overlap check x35 cannot see:
    * the model trains on the PACKED sequence, and packing juxtaposes
    * unrelated documents, so an eval 5-gram can materialize ACROSS a doc
    * boundary inside a pack even when no single training document
    * contains it (the cross-document leakage a packer without cross-doc
    * attention masking actually exposes). This query enumerates every
    * 5-gram of every assembled train-split pack (x31's md5 split rule,
    * x120's layout), joins against the test split's distinct 5-grams, and
    * reports per contaminated pack: total hits, BOUNDARY-CROSSING hits
    * (the gram straddles a span boundary — invisible to any per-doc
    * scan), and a sample gram.
    *
    * Plan/scale: the x120 assembly chain on the train split (bounded
    * per-pack state), a per-pack gram explode bounded by 512 − 4
    * positions (linear in corpus tokens — the same budget as reading the
    * packs), the eval-gram side DISTINCT and BROADCAST (a benchmark suite
    * is tiny next to a corpus), and one equi-join on the gram — work
    * proportional to true contamination, never corpus². The crossing
    * flag is a row-local array `exists` over the pack's interior span
    * starts (≤ spans-per-pack elements). */
  val packDecontaminate = sql(
    "x125_pack_decontaminate",
    s"""WITH ${packOffsetsSql(carry = packToksSql, from = x125TrainDocs)},
      |g AS (SELECT source, pack_id,
      |    flatten(list(toks[CAST(doc_off+1 AS INTEGER):CAST(doc_off+span_len AS INTEGER)] ORDER BY span_start)) AS body,
      |    list_filter(list(span_start ORDER BY span_start), b -> b > 0) AS bnds
      |  FROM sp GROUP BY source, pack_id),
      |pg AS (SELECT source, pack_id,
      |    array_to_string(body[CAST(i+1 AS INTEGER):CAST(i+5 AS INTEGER)], ' ') AS gr,
      |    len(list_filter(bnds, b -> b > i AND b <= i + 4)) > 0 AS crossing
      |  FROM (SELECT source, pack_id, body, bnds, unnest(range(len(body)-4)) AS i
      |        FROM g WHERE len(body) >= 5) q),
      |ev AS (SELECT DISTINCT array_to_string(t[CAST(i+1 AS INTEGER):CAST(i+5 AS INTEGER)], ' ') AS gr
      |  FROM (SELECT string_split_regex(trim(text), '\\s+') AS t FROM documents
      |        WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) > 'd') q,
      |       UNNEST(range(greatest(len(t) - 4, 0))) AS u(i))
      |SELECT pg.source, pg.pack_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_hits,
      |  CAST(SUM(CASE WHEN crossing THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_hits,
      |  MIN(pg.gr) AS sample_gram
      |FROM pg JOIN ev ON ev.gr = pg.gr
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    packDecontaminateOf(docs(s, d)).orderBy("source", "pack_id")
  }

  /** x125's train split (x31's md5 rule) in oracle SQL. */
  private def x125TrainDocs = "documents WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd'"

  /** x125's engine over an arbitrary (source, doc_id, text) frame (factored
    * so TextPackSpec can engineer a boundary-crossing contamination). */
  def packDecontaminateOf(documents: DataFrame): DataFrame = {
    val h1 = substring(md5(col("doc_id").cast("string")), 1, 1)
    val evalGrams = documents.filter(h1 > "d")
      .withColumn("t", trimToks)
      .filter(size(col("t")) >= 5)
      .withColumn("i", explode(sequence(lit(0), size(col("t")) - 5)))
      .select(array_join(expr("slice(t, i + 1, 5)"), " ").as("g"))
      .distinct()
    val packs = packSpans(packPlaced(packTokensOf(documents.filter(h1 <= "d"))))
      .select(col("source"), col("pack_id"), col("span_start"),
        expr("slice(toks, CAST(doc_off + 1 AS INT), CAST(span_len AS INT))")
          .as("span_toks"))
      .groupBy("source", "pack_id")
      .agg(expr("array_sort(collect_list(struct(span_start, span_toks)))").as("sp"))
      .select(col("source"), col("pack_id"),
        expr("flatten(transform(sp, x -> x.span_toks))").as("body"),
        expr("filter(transform(sp, x -> x.span_start), b -> b > 0)").as("bnds"))
    val grams = packs
      .filter(size(col("body")) >= 5)
      .withColumn("i", explode(sequence(lit(0), size(col("body")) - 5)))
      .select(col("source"), col("pack_id"),
        array_join(expr("slice(body, i + 1, 5)"), " ").as("g"),
        expr("exists(bnds, b -> b > i AND b <= i + 4)").as("crossing"))
    grams.join(broadcast(evalGrams), "g")
      .groupBy("source", "pack_id")
      .agg(count(lit(1)).as("n_hits"),
        sum(when(col("crossing"), 1L).otherwise(0L)).as("n_boundary_hits"),
        min("g").as("sample_gram"))
      .select("source", "pack_id", "n_hits", "n_boundary_hits", "sample_gram")
  }

  /** x121: seeded per-epoch pack consumption order — the LOADER step that
    * completes the x54→x112→x114→x120 pack lifecycle: x120 emits packs in
    * prefix-sum order, but a trainer must consume them in a fresh
    * deterministic permutation every epoch (x56 proved the shard RULE is a
    * permutation of docs; this is the same rule lifted to packs × epochs).
    * Each (epoch, pack) is keyed by a seeded content-independent hash,
    * bucketed to a consumer shard (= data-parallel rank) by the key's
    * first hex digit, and positioned within its shard by the same key —
    * so every epoch's order is reproducible across runs, engines, and
    * cluster sizes, decorrelated from pack_id order, and different between
    * epochs (no epoch ever replays another's order).
    *
    * Plan/scale: the pack universe comes from x112's span explode (per-doc
    * bounded ranges, linear output) + ONE distinct on (source, pack_id) —
    * never a per-source `sequence(0, n_packs)` giant array; the 3-epoch
    * fan-out is a broadcast cross join against a 3-row literal frame; the
    * order itself is ONE exchange on (epoch, shard) + an in-partition sort
    * — exactly the x56 writer plan, and what a loader's
    * `repartition(shard).sortWithinPartitions(k)` feeds 16 rank streams.
    * A real run raises the hex prefix to 3 digits (4096 ranks), identical
    * plan. */
  val epochOrder = sql(
    "x121_epoch_order",
    s"""WITH ${packOffsetsSql()},
      |p AS (SELECT DISTINCT source, CAST(pack_id AS BIGINT) AS pack_id FROM e),
      |x AS (SELECT epoch, source, pack_id,
      |    md5('graft-epoch-v1:' || CAST(epoch AS VARCHAR) || ':' || source || ':' || CAST(pack_id AS VARCHAR)) AS k
      |  FROM p CROSS JOIN (SELECT unnest([0, 1, 2]) AS epoch) ep)
      |SELECT epoch, source, pack_id,
      |  CAST(strpos('0123456789abcdef', substring(k, 1, 1)) - 1 AS INTEGER) AS shard,
      |  CAST(ROW_NUMBER() OVER (
      |    PARTITION BY epoch, strpos('0123456789abcdef', substring(k, 1, 1))
      |    ORDER BY k, source, pack_id) AS BIGINT) AS pos
      |FROM x ORDER BY epoch, shard, pos""".stripMargin) { (s, d) =>
    epochOrderOf(docs(s, d)).orderBy("epoch", "shard", "pos")
  }

  /** x121's engine over an arbitrary (source, doc_id, text) frame (factored
    * so TextPackSpec can assert the permutation properties directly). */
  def epochOrderOf(documents: DataFrame): DataFrame = {
    val packs = packSpans(packOffsetsOf(documents)).select("source", "pack_id").distinct()
    val epochs = broadcast(
      documents.sparkSession.range(0, 3).select(col("id").cast("int").as("epoch")))
    val k = md5(concat_ws(":", lit("graft-epoch-v1"),
      col("epoch").cast("string"), col("source"), col("pack_id").cast("string")))
    packs.crossJoin(epochs)
      .withColumn("k", k)
      .withColumn("shard",
        (instr(lit("0123456789abcdef"), substring(col("k"), 1, 1)) - 1).cast("int"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("epoch", "shard").orderBy("k", "source", "pack_id"))
        .cast("long"))
      .select("epoch", "source", "pack_id", "shard", "pos")
  }

  /** x122: epoch shuffle-QUALITY audit — per (epoch, consumer shard) of
    * x121's order: pack count, distinct sources, number of same-source
    * RUNS, and the longest same-source run. This is the interleaving check
    * a loader publishes before trusting a shuffle: long same-source runs
    * mean consecutive training batches are source-correlated (the gradient-
    * noise pathology epoch shuffles exist to prevent), and a max run near
    * n_packs/n_sources says the hash order is mixing as designed. All
    * integers; `n_packs − n_runs` is the adjacent-same-source pair count.
    *
    * Plan/scale: x121's chain, then two windows over the SAME
    * (epoch, shard) partitioning x121's pos already established (lag →
    * run-break flag, running sum → run id: gaps-and-islands with zero new
    * exchanges), one groupBy on (epoch, shard, run) whose output is
    * runs-sized, and a ≤ 3×16-row rollup. Nothing in the plan holds more
    * than a shard's packs, exactly like x121 itself. */
  val epochMixAudit = sql(
    "x122_epoch_mix_audit",
    s"""WITH ${packOffsetsSql()},
      |p AS (SELECT DISTINCT source, CAST(pack_id AS BIGINT) AS pack_id FROM e),
      |x AS (SELECT epoch, source, pack_id,
      |    md5('graft-epoch-v1:' || CAST(epoch AS VARCHAR) || ':' || source || ':' || CAST(pack_id AS VARCHAR)) AS k
      |  FROM p CROSS JOIN (SELECT unnest([0, 1, 2]) AS epoch) ep),
      |o AS (SELECT epoch, source, pack_id,
      |    CAST(strpos('0123456789abcdef', substring(k, 1, 1)) - 1 AS INTEGER) AS shard,
      |    CAST(ROW_NUMBER() OVER (
      |      PARTITION BY epoch, strpos('0123456789abcdef', substring(k, 1, 1))
      |      ORDER BY k, source, pack_id) AS BIGINT) AS pos
      |  FROM x),
      |r AS (SELECT epoch, shard, source, pos,
      |    CASE WHEN LAG(source) OVER (PARTITION BY epoch, shard ORDER BY pos) IS NOT DISTINCT FROM source
      |      THEN 0 ELSE 1 END AS brk
      |  FROM o),
      |g AS (SELECT epoch, shard, source, pos,
      |    SUM(brk) OVER (PARTITION BY epoch, shard ORDER BY pos) AS run_id
      |  FROM r),
      |runs AS (SELECT epoch, shard, run_id, CAST(COUNT(*) AS BIGINT) AS run_len,
      |    MIN(source) AS source
      |  FROM g GROUP BY epoch, shard, run_id)
      |SELECT epoch, shard,
      |  CAST(SUM(run_len) AS BIGINT) AS n_packs,
      |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
      |  CAST(COUNT(*) AS BIGINT) AS n_runs,
      |  CAST(MAX(run_len) AS BIGINT) AS max_run
      |FROM runs GROUP BY epoch, shard ORDER BY epoch, shard""".stripMargin) { (s, d) =>
    epochMixAuditOf(docs(s, d)).orderBy("epoch", "shard")
  }

  /** x122's engine over an arbitrary (source, doc_id, text) frame. */
  def epochMixAuditOf(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy("epoch", "shard").orderBy("pos")
    epochOrderOf(documents)
      .withColumn("brk",
        when(lag("source", 1).over(byPos) <=> col("source"), 0L).otherwise(1L))
      .withColumn("run_id", sum("brk").over(byPos))
      .groupBy("epoch", "shard", "run_id")
      .agg(count(lit(1)).as("run_len"), min("source").as("source"))
      .groupBy("epoch", "shard")
      .agg(sum("run_len").as("n_packs"),
        countDistinct("source").as("n_sources"),
        count(lit(1)).as("n_runs"),
        max("run_len").as("max_run"))
      .select("epoch", "shard", "n_packs", "n_sources", "n_runs", "max_run")
  }


  /** x128: mixture TEMPERATURE — the step UPSTREAM of x53: where x53
    * applies given per-source weights to a token budget, x128 is how the
    * weights get chosen. Temperature-flattened sampling (the GPT-3 §2.2 /
    * multilingual-C4 recipe, w_i ∝ n_i^(1/T) with T = 2, i.e. √n): per
    * source, the natural token share, the flattened weight, the token
    * quota from a 10⁹ budget, and the upsampling ratio (weight over
    * natural share — >1 means the source is repeated relative to natural
    * sampling, <1 downsampled; the number a data recipe publishes per
    * source so epoch-repetition risk is explicit before training).
    *
    * Cross-engine arithmetic: sqrt/·//ROUND are IEEE correctly-rounded so
    * identical doubles both sides; the one order-sensitive step — the
    * Σ√n_j reduction — sums an ARRAY-SORTED 20-element list on both
    * engines (the x115 order-free-exactness move); natural_ppm is exact
    * integer floor-div; quota floors EXPLICITLY (DuckDB CAST(double AS
    * BIGINT) rounds where Spark truncates — FLOOR pins both).
    *
    * Plan/scale: ONE corpus scan into a partial-final |sources|-group
    * aggregate; the totals (Σn, sorted-Σ√n) attach as a broadcast 1-row
    * frame (never an unpartitioned window); everything after is row-local
    * on a 20-row frame. */
  val mixtureTemperature = sql(
    "x128_mixture_temperature",
    """WITH per AS (
      |  SELECT source,
      |    CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (
      |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |    list_sum(list_sort(list(sqrt(CAST(n_tokens AS DOUBLE))))) AS sum_sqrt
      |  FROM per)
      |SELECT p.source, p.n_tokens,
      |  CAST(p.n_tokens * 1000000 // t.total_tokens AS BIGINT) AS natural_ppm,
      |  ROUND(sqrt(CAST(p.n_tokens AS DOUBLE)) / t.sum_sqrt, 6) AS weight,
      |  CAST(FLOOR(1000000000 * sqrt(CAST(p.n_tokens AS DOUBLE)) / t.sum_sqrt) AS BIGINT) AS quota_tokens,
      |  ROUND(sqrt(CAST(p.n_tokens AS DOUBLE)) / t.sum_sqrt
      |        * t.total_tokens / p.n_tokens, 6) AS upsample_ratio
      |FROM per p CROSS JOIN tot t ORDER BY p.source""".stripMargin) { (s, d) =>
    // the |sources|-row aggregate feeds BOTH the output rows and the totals
    // frame — checkpoint it (x87's stance) so the corpus is scanned ONCE,
    // not once per consumer
    val per = docs(s, d)
      .groupBy("source")
      .agg(sum(nTokOfText).as("n_tokens"))
      .localCheckpoint(eager = false)
    val tot = per.agg(
      sum("n_tokens").as("total_tokens"),
      aggregate(array_sort(collect_list(sqrt(col("n_tokens").cast("double")))),
        lit(0.0), (a, x) => a + x).as("sum_sqrt"))
    val sq = sqrt(col("n_tokens").cast("double"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        expr("n_tokens * 1000000 div total_tokens").as("natural_ppm"),
        round(sq / col("sum_sqrt"), 6).as("weight"),
        floor(lit(1000000000L) * sq / col("sum_sqrt")).cast("long").as("quota_tokens"),
        round(sq / col("sum_sqrt") * col("total_tokens") / col("n_tokens"), 6)
          .as("upsample_ratio"))
      .orderBy("source")
  }


  /** x129: quality-GATED mixture temperature — the production recipe
    * order: FILTER then FLATTEN. x128 flattens the raw token distribution;
    * real recipes first drop gate-failing documents (x64's Gopher-style
    * composite gate) and flatten what survives, because a source whose
    * mass is mostly boilerplate would otherwise buy quota with tokens the
    * gate then deletes. Per source: raw and gated token mass, the exact
    * gate keep-rate (ppm floor-div), and x128's √-flattened weight /
    * 10⁹-budget quota / upsample ratio computed over the GATED mass — with
    * the zero-gated-source branch pinned identically on both engines (all
    * three derived columns 0, never NaN).
    *
    * Plan/scale: the gate is x64's row-local codegen fused into the ONE
    * corpus scan (shared `qualityGateOf`, `keep = source, n_tok` — no join
    * to re-attach the source); the |sources|-row aggregate checkpoints once
    * for its two consumers; totals (Σgated + the array-sorted Σ√gated, the
    * x115/x128 order-free-exactness move) attach broadcast.
    *
    * Token convention (r15 advice): token MASS is counted with the x112
    * trim/\s+ convention — the same raw count x128 and x130 publish, so
    * the three datasheets' shares and keep-rates are directly comparable —
    * while the GATE's rules stay on x64's space-split convention (the
    * gate's pinned contract). Both ride the same single scan, exactly as
    * x130 already does. */
  val mixtureGated = sql(
    "x129_gated_mixture",
    s"""WITH w AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS toks,
      |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
      |  FROM documents
      |), g AS (
      |  SELECT source, n_tok,
      |    ${gatePassSql("toks")} AS pass
      |  FROM w
      |), per AS (
      |  SELECT source,
      |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |    CAST(SUM(CASE WHEN pass = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS n_gated
      |  FROM g GROUP BY source
      |), tot AS (
      |  SELECT CAST(SUM(n_gated) AS BIGINT) AS total_gated,
      |    list_sum(list_sort(list(sqrt(CAST(n_gated AS DOUBLE))))) AS sum_sqrt
      |  FROM per)
      |SELECT p.source, p.n_tokens, p.n_gated,
      |  CAST(p.n_gated * 1000000 // p.n_tokens AS BIGINT) AS gate_keep_ppm,
      |  CASE WHEN p.n_gated = 0 THEN CAST(0.0 AS DOUBLE)
      |       ELSE ROUND(sqrt(CAST(p.n_gated AS DOUBLE)) / t.sum_sqrt, 6) END AS weight,
      |  CASE WHEN p.n_gated = 0 THEN CAST(0 AS BIGINT)
      |       ELSE CAST(FLOOR(1000000000 * sqrt(CAST(p.n_gated AS DOUBLE)) / t.sum_sqrt) AS BIGINT) END AS quota_tokens,
      |  CASE WHEN p.n_gated = 0 THEN CAST(0.0 AS DOUBLE)
      |       ELSE ROUND(sqrt(CAST(p.n_gated AS DOUBLE)) / t.sum_sqrt
      |                  * t.total_gated / p.n_gated, 6) END AS upsample_ratio
      |FROM per p CROSS JOIN tot t ORDER BY p.source""".stripMargin) { (s, d) =>
    val flags = qualityGateOf(
      docs(s, d).withColumn("n_tok", nTokOfText),
      keep = Seq("source", "n_tok"))
      .select(col("source"), col("n_tok"), col("pass"))
    val per = flags.groupBy("source").agg(
      sum("n_tok").as("n_tokens"),
      sum(when(col("pass") === 1, col("n_tok")).otherwise(0L)).as("n_gated"))
      .localCheckpoint(eager = false) // two consumers: output rows + totals
    val tot = per.agg(
      sum("n_gated").as("total_gated"),
      aggregate(array_sort(collect_list(sqrt(col("n_gated").cast("double")))),
        lit(0.0), (a, x) => a + x).as("sum_sqrt"))
    val sq = sqrt(col("n_gated").cast("double"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"), col("n_gated"),
        expr("n_gated * 1000000 div n_tokens").as("gate_keep_ppm"),
        when(col("n_gated") === 0, 0.0)
          .otherwise(round(sq / col("sum_sqrt"), 6)).as("weight"),
        when(col("n_gated") === 0, 0L)
          .otherwise(floor(lit(1000000000L) * sq / col("sum_sqrt")).cast("long"))
          .as("quota_tokens"),
        when(col("n_gated") === 0, 0.0)
          .otherwise(round(sq / col("sum_sqrt") * col("total_gated") / col("n_gated"), 6))
          .as("upsample_ratio"))
      .orderBy("source")
  }


  /** x130: pack QUALITY manifest — the quality axis over the pack
    * lifecycle: per assembled training sequence (x112's span tiling), how
    * many of its real tokens come from x64-gate-FAILING documents. Packing
    * juxtaposes unrelated docs, so one boilerplate doc poisons every
    * sequence its spans touch — this is the table a loss-spike
    * investigation joins against (step → pack → bad_ppm) and the ranking a
    * curriculum or re-packing pass consumes (train clean packs first /
    * quarantine packs past a bad-token budget).
    *
    * Plan/scale: ONE corpus scan — the x64 gate rides the scan via
    * `qualityGateOf(keep = source, n_tok)` with the x112 trim/\s+ token
    * count PRE-computed on the input frame, so both token conventions come
    * from the same pass (no re-scan, no doc_id re-attach join); then x54's
    * two-level prefix sum verbatim, the bounded span explode (output =
    * spans, linear), and a packs-sized partial-final rollup. Exact
    * integers end-to-end; ppm is floor-div. */
  val packQuality = sql(
    "x130_pack_quality",
    s"""WITH ${packOffsetsSql(from = gateToksDocs, carry = packPassSql)}
      |SELECT source, pack_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_spans,
      |  CAST(SUM(span_len) AS BIGINT) AS n_real_tokens,
      |  CAST(SUM(CASE WHEN pass = 0 THEN span_len ELSE 0 END) AS BIGINT) AS n_bad_tokens,
      |  CAST(SUM(CASE WHEN pass = 0 THEN span_len ELSE 0 END) * 1000000
      |       // CAST(SUM(span_len) AS BIGINT) AS BIGINT) AS bad_ppm
      |FROM sp GROUP BY source, pack_id ORDER BY source, pack_id""".stripMargin) { (s, d) =>
    packQualityFrameOf(docs(s, d)).orderBy("source", "pack_id")
  }

  /** x130/x140's documents with the x64 gate flag as a `pass` carry of
    * [[packOffsetsSql]]. The gate reads `toks` per element, so it is split
    * once in a subquery, not inlined into every lambda. */
  private def packPassSql = s", ${gatePassSql("toks")} AS pass"
  private def gateToksDocs = "(SELECT *, string_split(text, ' ') AS toks FROM documents) dt"

  /** x130's UNORDERED per-pack quality rollup over any (doc_id, source,
    * text) frame — factored so x140's schedule consumes the identical
    * manifest (one definition, the bad_ppm rule can never drift). */
  def packQualityFrameOf(dd: DataFrame): DataFrame = {
    val flagged = qualityGateOf(dd.withColumn("n_tok", nTokOfText), keep = Seq("source", "n_tok"))
      .select(col("source"), col("doc_id"), col("n_tok"), col("pass"))
    packSpans(packPlaced(flagged)).groupBy("source", "pack_id").agg(
      count(lit(1)).as("n_spans"),
      sum("span_len").as("n_real_tokens"),
      sum(when(col("pass") === 0, col("span_len")).otherwise(0L)).as("n_bad_tokens"))
      .withColumn("bad_ppm", expr("n_bad_tokens * 1000000 div n_real_tokens"))
  }

  private val annealMaxBadPpm = 200000L

  /** x140: anneal-phase pack SCHEDULE — the artifact the decay-phase
    * trainer actually consumes, closing the loop x130 opened and x137
    * budgeted: from the per-pack quality manifest, take the CLEAN packs
    * (bad_ppm ≤ 200 000 — at most a fifth of a sequence's tokens from
    * gate-failing docs), order them by a content-independent hash (x121's
    * reproducible-shuffle posture: the schedule must not correlate with
    * source or assembly order), and cut at the anneal token budget —
    * half the eligible clean mass, so the cut BINDS at every sf (x134's
    * convention; the crossing pack overshoots by one, x53's rule). Output
    * rows carry sched_offset — the pack's starting position in TOKENS
    * within the phase — which is the number a training loop actually
    * seeks by.
    *
    * Plan/scale: the manifest is [[packQualityFrameOf]] VERBATIM (one
    * definition with x130); at 100 TB the packs table is corpus/512 rows
    * — far too big for any unpartitioned window — so the global cut runs
    * through PrefixQuota's bucket-split prefix machinery (the x53/x134
    * pass; a single logical group is exactly the arbitrarily-large-group
    * case it was built for). Budget total attaches broadcast; everything
    * else is row-local. */
  val annealPackOrder = sql(
    "x140_anneal_pack_order",
    s"""WITH ${packOffsetsSql(from = gateToksDocs, carry = packPassSql)},
      |pk AS (SELECT source, pack_id,
      |    CAST(SUM(span_len) AS BIGINT) AS n_real_tokens,
      |    CAST(SUM(CASE WHEN pass = 0 THEN span_len ELSE 0 END) * 1000000
      |         // CAST(SUM(span_len) AS BIGINT) AS BIGINT) AS bad_ppm
      |  FROM sp GROUP BY source, pack_id),
      |el AS (SELECT source, pack_id, n_real_tokens, bad_ppm,
      |    source || ':' || CAST(pack_id AS VARCHAR) AS tie
      |  FROM pk WHERE bad_ppm <= $annealMaxBadPpm),
      |b AS (SELECT CAST(SUM(n_real_tokens) // 2 AS BIGINT) AS anneal_budget FROM el),
      |cws AS (SELECT source, pack_id, n_real_tokens, bad_ppm, anneal_budget,
      |    CAST(COALESCE(SUM(n_real_tokens) OVER (ORDER BY md5(tie), tie
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS sched_offset
      |  FROM el CROSS JOIN b)
      |SELECT source, pack_id, sched_offset, n_real_tokens, bad_ppm, anneal_budget
      |FROM cws WHERE sched_offset < anneal_budget
      |ORDER BY sched_offset, source, pack_id""".stripMargin) { (s, d) =>
    annealPackOrderOf(docs(s, d)).orderBy("sched_offset", "source", "pack_id")
  }

  /** x140's engine over any (doc_id, source, text) frame (factored so the
    * spec can engineer a binding cut and a crossing pack). */
  def annealPackOrderOf(dd: DataFrame): DataFrame = {
    val eligible = packQualityFrameOf(dd)
      .filter(col("bad_ppm") <= annealMaxBadPpm)
      .localCheckpoint(eager = false) // two consumers: budget total + the cut
    val budget = eligible.agg(expr("sum(n_real_tokens) div 2").as("anneal_budget"))
    val keyed = eligible.crossJoin(broadcast(budget))
      .withColumn("__g", lit(1))
      .withColumn("__tie", concat(col("source"), lit(":"), col("pack_id").cast("string")))
    graft.operators.PrefixQuota.takeUntilQuota(
      keyed, "__g",
      orderKey = md5(col("__tie")), tie = col("__tie"),
      value = col("n_real_tokens"), quota = col("anneal_budget"),
      beforeName = "sched_offset")
      .select("source", "pack_id", "sched_offset", "n_real_tokens", "bad_ppm", "anneal_budget")
  }


  /** x131: exact AUC of the learned quality signal — does x62's bigram-LM
    * score actually RANK x64's gate labels? x66 answers it coarsely
    * (pass-rate by decile); x131 is the number an eval report publishes:
    * the exact Mann-Whitney AUC (P(score_pass > score_fail) with ½ credit
    * for ties), plus its integer numerator `u2 = 2·U` so the statistic is
    * hash-checked in exact arithmetic end to end and the one division
    * ships as the RAW IEEE quotient.
    *
    * Plan/scale: AUC needs rank SUMS, not per-row ranks — group scores to
    * the distinct-value table (one shuffle), then
    * [[graft.ml.StatTests.withValueRanks]]'s distributed mid-ranks (range
    * partition + per-partition offsets + a PARTITIONED prefix-sum window —
    * the K12 machinery, no unpartitioned window, no global sort of raw
    * rows), a values-sized join to the per-value positive counts, and a
    * 1-row reduce. rank2 = 2·midrank = 2·cum_before + cnt + 1 stays in
    * BIGINT; the oracle computes the identical integers with a plain
    * ordered window over the values table. */
  val scoreAuc = sql(
    "x131_score_auc",
    scoreGateJChain + """,
      |v AS (SELECT lm_score, CAST(COUNT(*) AS BIGINT) AS cnt,
      |    CAST(SUM(pass) AS BIGINT) AS pos
      |  FROM j GROUP BY lm_score),
      |r AS (SELECT lm_score, cnt, pos,
      |    CAST(COALESCE(SUM(cnt) OVER (ORDER BY lm_score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
      |  FROM v),
      |a AS (SELECT
      |    CAST(SUM(pos * (2 * cum_before + cnt + 1)) AS BIGINT) AS rank2,
      |    CAST(SUM(pos) AS BIGINT) AS n_pos,
      |    CAST(SUM(cnt) AS BIGINT) - CAST(SUM(pos) AS BIGINT) AS n_neg
      |  FROM r)
      |SELECT n_pos, n_neg,
      |  CAST(rank2 - n_pos * (n_pos + 1) AS BIGINT) AS u2,
      |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
      |       ELSE CAST(rank2 - n_pos * (n_pos + 1) AS DOUBLE) / (2.0 * n_pos * n_neg)
      |  END AS auc
      |FROM a""".stripMargin) { (s, d) =>
    val dd = docs(s, d)
    val j = lmScoreOf(dd).select("doc_id", "lm_score")
      .join(qualityGateOf(dd).select("doc_id", "pass"), Seq("doc_id"))
    // two consumers (the rank table and the positives join) — one compute
    val v = j.groupBy("lm_score").agg(
      count(lit(1)).as("cnt"), sum("pass").cast("long").as("pos"))
      .localCheckpoint(eager = false)
    graft.ml.StatTests.withValueRanks(
      v.select("lm_score", "cnt"), "lm_score", "cnt") { ranks =>
      // rank2 per value = 2·midrank = 2·(rank_offset + cum_before) + cnt + 1,
      // assembled from withValueRanks' exact integer components so the
      // stated exact-BIGINT-end-to-end contract holds at ANY corpus size —
      // the old (rk * 2).cast("long") route rebuilt the integer through the
      // DOUBLE mid-rank, exact only below ~2^52 total count (r15 advice)
      ranks.join(v.select("lm_score", "pos"), Seq("lm_score"))
        .agg(
          sum(col("pos") * (lit(2L) * (col("rank_offset") + col("cum_before"))
            + col("cnt") + lit(1L))).as("rank2"),
          sum("pos").as("n_pos"),
          (sum("cnt") - sum("pos")).as("n_neg"))
        .select(col("n_pos"), col("n_neg"),
          (col("rank2") - col("n_pos") * (col("n_pos") + 1)).as("u2"),
          // AUC is undefined on a single-class corpus — NULL, never a
          // divide-by-zero (ANSI) or a fabricated 0.5
          when(col("n_pos") === 0 || col("n_neg") === 0, lit(null).cast("double"))
            .otherwise((col("rank2") - col("n_pos") * (col("n_pos") + 1)).cast("double")
              / (lit(2.0) * col("n_pos") * col("n_neg"))).as("auc"))
    }
  }


  /** x132: corpus token-frequency SPECTRUM — the Zipf datasheet a
    * tokenizer/vocab decision reads: per log2 frequency bucket, distinct
    * token TYPES, total occurrences, the bucket's max frequency, and exact
    * occurrence-mass ppm. The head buckets say how much of the corpus a
    * tiny vocab already covers (x110's question, corpus-wide); the tail
    * says how much mass BPE must compose from pieces (x99/x103's
    * workload). Bucketing is x119's integer CASE ladder — floor-log2
    * WITHOUT log2(), whose power-of-two boundaries are the classic
    * last-ulp cross-engine gamble — and the SAME generated CASE text is
    * interpolated into BOTH the engine expression and the DuckDB oracle,
    * so the boundary arithmetic cannot drift between them.
    *
    * Plan/scale: one corpus scan + ONE (token) shuffle with map-side
    * combine (the unavoidable exact type-count exchange — the x42 sketch
    * is the bounded-state alternative when exactness is negotiable); the
    * 21-row bucket rollup is checkpointed once for its two consumers and
    * the grand total attaches broadcast (never recomputing the token
    * shuffle for a 1-row aggregate). */
  val tokenSpectrum = {
    val bucketCase = (0 until 20)
      .map(b => s"WHEN freq < ${2L << b} THEN $b")
      .mkString("CASE ", " ", " ELSE 20 END")
    sql(
      "x132_token_spectrum",
      s"""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM tk GROUP BY tok),
        |g AS (SELECT CAST($bucketCase AS INTEGER) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    CAST(SUM(freq) AS BIGINT) AS n_occ,
        |    CAST(MAX(freq) AS BIGINT) AS max_freq
        |  FROM tf GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_occ) AS BIGINT) AS tot FROM g)
        |SELECT g.bucket, CAST(POWER(2, g.bucket) AS BIGINT) AS floor_freq,
        |  g.n_types, g.n_occ, g.max_freq,
        |  CAST(g.n_occ * 1000000 // t.tot AS BIGINT) AS occ_share_ppm
        |FROM g CROSS JOIN t ORDER BY g.bucket""".stripMargin) { (s, d) =>
      val tf = docs(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val g = tf
        .withColumn("bucket", expr(bucketCase).cast("int"))
        .groupBy("bucket").agg(
          count(lit(1)).as("n_types"),
          sum("freq").as("n_occ"),
          max("freq").as("max_freq"))
        .localCheckpoint(eager = false) // 21 rows, two consumers below
      g.crossJoin(broadcast(g.agg(sum("n_occ").as("tot"))))
        .select(col("bucket"),
          expr("CAST(POWER(2, bucket) AS BIGINT)").as("floor_freq"),
          col("n_types"), col("n_occ"), col("max_freq"),
          expr("(n_occ * 1000000) div tot").as("occ_share_ppm"))
        .orderBy("bucket")
    }
  }


  /** x133: near-dup threshold OPERATING CURVE — the x126/x127 pattern
    * applied to the dedup family's own knob: how many verified pairs and
    * how much of the (exact-collapsed) corpus becomes dup mass at
    * tau ∈ {0.5, 0.6, 0.7, 0.8}, from ONE pair computation. This is how a
    * deployment picks the x03/x26 admission threshold: too low deletes
    * real variety, too high ships boilerplate twice — the curve makes the
    * trade measurable before committing a release.
    *
    * Plan/scale: the audited x03 chain runs ONCE (signatures + band
    * candidates + exact integer Jaccard, checkpointed); every tau rung is
    * a row-local filter over the pair rows (never a re-verify); the
    * touched-rep count is a pairs-sized explode + distinct; the 4-row
    * spine LEFT-joins so a zero-dup rung still emits; the corpus rep
    * count attaches broadcast. Exact integers end to end. */
  val dedupThresholdCurve = sql(
    "x133_dedup_threshold_curve", HashOracles.dedupThresholdCurve) { (s, d) =>
    val sigs = pinnedSignatures(s, d)
    val pairs = weightedPairs(sigs).localCheckpoint(eager = false) // computed ONCE
    val taus = Seq(500000L, 600000L, 700000L, 800000L)
    val tp = pairs
      .withColumn("tau", explode(typedLit(taus)))
      .filter(col("w") >= col("tau"))
      .localCheckpoint(eager = false) // two consumers: pair and rep counts
    val pc = tp.groupBy("tau").agg(count(lit(1)).as("n_pairs"))
    val dc = tp.select(col("tau"), col("doc_a").as("doc"))
      .unionAll(tp.select(col("tau"), col("doc_b").as("doc")))
      .distinct()
      .groupBy("tau").agg(count(lit(1)).as("n_reps_dup"))
    val nr = broadcast(sigs.agg(count(lit(1)).as("n_reps_corpus")))
    docs(s, d).sparkSession.range(1)
      .select(explode(typedLit(taus)).as("tau"))
      .crossJoin(nr)
      .join(pc, Seq("tau"), "left").na.fill(0L, Seq("n_pairs"))
      .join(dc, Seq("tau"), "left").na.fill(0L, Seq("n_reps_dup"))
      .withColumn("dup_share_ppm", expr("(n_reps_dup * 1000000) div n_reps_corpus"))
      .select("tau", "n_pairs", "n_reps_dup", "n_reps_corpus", "dup_share_ppm")
      .orderBy("tau")
  }

  /** x134: the ONE-PLAN release→pack bridge (r15 verdict item 3) — the
    * composition a real 100 TB curation run executes, as a single
    * declarative plan instead of the two separate plans the registry
    * proved piecewise (x59 raw→release; x112/x121/x124 manifest→packs):
    *
    *   x64 composite gate → exact collapse + near-dup CC (x59's chain,
    *   over the GATED subset only) → keep-min-id survivors → x129's
    *   √-flattened per-source token quota over the SURVIVING mass
    *   (budget = half of it, so the cut binds at every sf) → quota cut
    *   AND x112 pack-span tiling off ONE shared prefix sum.
    *
    * Output: one row per assembled training sequence — (source, pack_id,
    * quota_tokens, n_spans, n_tokens): the release's pack manifest with
    * the budget that shaped it riding along.
    *
    * Why one plan matters at 100 TB: Catalyst sees gate → sketch in one
    * tree, so the composite gate prunes rows BEFORE any shingling/banding
    * work (the expensive stages run on survivors only — same argument as
    * x59, now carried through packing), and the quota cut emits the
    * running `cum_before` that IS the pack offset, so packing adds ZERO
    * exchanges beyond the quota pass itself: kept-row → pack_id/span_len
    * is row-local integer arithmetic, and the only post-cut shuffle is the
    * packs-sized output rollup. No driver-side barrier separates curation
    * from packing — the documented lazy-checkpoint boundaries (qual:
    * gate+scan once for its three consumers; sv: survivor rows once for
    * mass + quota attach; svq: the quota-attached rows once for the
    * prefix pass's two reads; the chain's internal sig/pair boundaries)
    * are plan-reuse pins, not materialization fences a scheduler must
    * drain.
    *
    * Token conventions: mass is the x112 trim/\s+ count; the gate rules
    * stay on x64's space-split contract — both from the one scan, exactly
    * the x130 stance. Integer-exact end to end except the one √-flatten
    * division, which both engines compute as FLOOR(budget·√m/Σ√m) with
    * the array-sorted Σ√m (x128's order-free-exactness move). */
  val releasePackBridge = sql("x134_release_pack_bridge",
    HashOracles.releasePackBridge(packSeqLen, gatePassSql("toks"))) { (s, d) =>
    releasePackBridgeOf(docs(s, d))
  }

  /** x134's engine over an arbitrary (doc_id, source, text) frame —
    * factored so CorpusReleaseSpec replays the whole bridge on a
    * hand-computable fixture (known gate failures, a planted exact-dup
    * pair, a planted near-dup pair). */
  def releasePackBridgeOf(documents: DataFrame): DataFrame = {
    val qual = qualityGateOf(documents.withColumn("n_tok", nTokOfText),
        keep = Seq("source", "n_tok", "text"))
      .filter(col("pass") === 1)
      .select("doc_id", "source", "text", "n_tok")
      .localCheckpoint(eager = false) // gate+scan ONCE: three consumers
    val chain = chainOf(qual)
    val sv = chain.select(col("rep").as("keep_id")).distinct()
      .join(qual.select(col("doc_id").as("keep_id"), col("source"), col("n_tok")),
        Seq("keep_id"))
      .localCheckpoint(eager = false) // survivors ONCE: mass + quota cut
    val per = sv.groupBy("source").agg(sum("n_tok").as("m"))
    val tot = per.agg(expr("sum(m) div 2").as("budget"),
      aggregate(array_sort(collect_list(sqrt(col("m").cast("double")))),
        lit(0.0), (a, x) => a + x).as("sum_sqrt"))
    val quo = per.crossJoin(broadcast(tot))
      .select(col("source"),
        floor(col("budget") * sqrt(col("m").cast("double")) / col("sum_sqrt"))
          .cast("long").as("quota_tokens"))
    // checkpoint the quota-attached survivors: PrefixQuota reads its input
    // TWICE (bucket totals + rows), and without the pin the whole
    // per→totals→quota subtree would compute once per read
    val svq = sv.join(broadcast(quo), Seq("source"))
      .localCheckpoint(eager = false)
    val kept = graft.operators.PrefixQuota.takeUntilQuota(
      svq,
      "source", orderKey = md5(col("keep_id").cast("string")), tie = col("keep_id"),
      value = col("n_tok"), quota = col("quota_tokens"))
    packSpans(kept)
      .groupBy("source", "pack_id", "quota_tokens")
      .agg(count(lit(1)).as("n_spans"), sum("span_len").as("n_tokens"))
      .select("source", "pack_id", "quota_tokens", "n_spans", "n_tokens")
      .orderBy("source", "pack_id")
  }

  /** x135: perplexity-BUCKET datasheet — the CCNet split: per LANGUAGE,
    * cut the corpus into head/middle/tail tertiles of the x62 LM score
    * (head = the most-predictable third under the corpus bigram model —
    * the slice CCNet keeps outright; tail = the third a recipe drops or
    * routes to extra filtering) and report each bucket's mass. The knob
    * x64's fixed gate cannot express: a QUANTILE cut adapts per language,
    * so a low-resource language keeps its best third instead of being
    * starved by a global threshold.
    *
    * Exactness: bucketing runs on the INTEGER score_ppm = sum_f div
    * n_trans (BIGINT floor division on both engines — x62's double
    * lm_score never participates), and the tertile thresholds are
    * value-based crossovers over per-(lang, score) COUNTS: t_k = min score
    * with 3·cum ≥ k·total. Ties at a threshold go to the lower bucket in
    * both engines (x50's rule); a degenerate language (t1 = t2) simply has
    * an empty middle.
    *
    * Scale shape: x62's bigram chain (its exchanges, unchanged) → the
    * (lang, score_ppm) count table, which is BOUNDED BY CONSTRUCTION at
    * ≤ |langs| × 1e6+1 rows at ANY corpus size (score_ppm ∈ [0, 1e6] by
    * definition of f) — so the threshold window runs on a bounded table,
    * the thresholds broadcast back, and the rollup is ≤ |langs|×3 rows.
    * No corpus-wide sort anywhere (the failure mode of rank-based
    * tertiles, which need a per-lang global order over every doc). */
  val pplBuckets = sql(
    "x135_ppl_buckets",
    s"""WITH ${lmDocSql("lang")},
      |sco AS (SELECT doc_id, lang, n_trans, sum_f // n_trans AS score_ppm FROM doc),
      |sc AS (SELECT lang, score_ppm, COUNT(*) AS n FROM sco GROUP BY 1, 2),
      |cm AS (SELECT lang, score_ppm,
      |    SUM(n) OVER (PARTITION BY lang ORDER BY score_ppm) AS cum,
      |    SUM(n) OVER (PARTITION BY lang) AS tot FROM sc),
      |th AS (SELECT lang, MIN(CASE WHEN cum*3 >= tot THEN score_ppm END) AS t1,
      |    MIN(CASE WHEN cum*3 >= tot*2 THEN score_ppm END) AS t2 FROM cm GROUP BY lang),
      |b AS (SELECT sco.lang,
      |    CASE WHEN score_ppm <= t1 THEN 'tail'
      |         WHEN score_ppm <= t2 THEN 'middle' ELSE 'head' END AS bucket,
      |    n_trans, score_ppm
      |  FROM sco JOIN th USING (lang))
      |SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_trans) AS BIGINT) AS n_trans,
      |  CAST(MIN(score_ppm) AS BIGINT) AS min_ppm,
      |  CAST(MAX(score_ppm) AS BIGINT) AS max_ppm,
      |  ROUND(CAST(SUM(score_ppm) AS DOUBLE) / COUNT(*), 6) AS mean_ppm
      |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    pplBucketsOf(docs(s, d)).orderBy("lang", "bucket")
  }

  /** Per-language value-crossover tertile thresholds (lang, t1, t2) over
    * any (lang, score_ppm, …) frame — x135's cut rule, shared verbatim by
    * x137's anneal-eligibility so the two can never disagree about what
    * "head quality" means. Runs on the BOUNDED (lang, score_ppm) count
    * table (see x135's scale note). */
  private def langTertileThresholds(sco: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = Window.partitionBy("lang").orderBy("score_ppm")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy("lang")
    sco.groupBy("lang", "score_ppm").agg(count(lit(1)).as("n"))
      .withColumn("cum", sum("n").over(cum))
      .withColumn("tot", sum("n").over(whole))
      .groupBy("lang")
      .agg(min(when(col("cum") * 3 >= col("tot"), col("score_ppm"))).as("t1"),
        min(when(col("cum") * 3 >= col("tot") * 2, col("score_ppm"))).as("t2"))
  }

  /** x135's engine over any (doc_id, lang, text) frame (factored so the
    * edge spec can hand-build boundary-tie and empty-middle cases).
    *
    * Precondition: `doc_id` is unique in `dd`. A duplicated id pools its
    * texts' transitions into one score row, which the doc-keyed attach
    * then repeats once per duplicate (TextQueriesEdgeSpec pins this). Not
    * checked at run time: the check would cost a Spark job on every call. */
  def pplBucketsOf(dd: DataFrame): DataFrame = {
    // r21 OPTIMIZATION (guide §2.3, OPTIMIZATION_r21.md A/B: 0.91 →
    // 0.76 s): attach lang by ONE doc-keyed join after the rollup instead
    // of carrying it on every bigram row through the chain's exchanges —
    // lang is functionally dependent on doc_id, so the values are
    // identical.
    val sco = lmScoreCore(dd, Nil)
      .join(dd.select("doc_id", "lang"), Seq("doc_id"))
      .withColumn("score_ppm", expr("sum_f div n_trans"))
      .localCheckpoint(eager = false) // two consumers (threshold table +
    // bucket rollup) — without the pin the whole bigram chain runs twice
    val th = langTertileThresholds(sco)
    sco.join(broadcast(th), Seq("lang"))
      .withColumn("bucket",
        when(col("score_ppm") <= col("t1"), "tail")
          .when(col("score_ppm") <= col("t2"), "middle")
          .otherwise("head"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_trans").as("n_trans"),
        min("score_ppm").as("min_ppm"),
        max("score_ppm").as("max_ppm"),
        round(sum("score_ppm").cast("double") / count(lit(1)), 6).as("mean_ppm"))
  }

  /** x136: contamination HALO — the purge rule serious decontamination
    * actually needs: x35 flags train docs sharing a 5-gram with the
    * benchmark, but a NEAR-DUPLICATE of a flagged doc is just as
    * contaminated even when its own copy of the gram was mutated away
    * (paraphrase, truncation, boilerplate insertion) — exactly the rows a
    * token-level check can never see. This query expands x35's hit set
    * through the x26/x51 near-dup closure over the TRAIN side and emits
    * the full purge list: every train doc in a cluster containing a hit,
    * tagged 'direct' (its own grams match) or 'halo' (guilty by cluster),
    * with the seed evidence counts.
    *
    * The closure runs over TRAIN docs only: a test doc must never glue two
    * train clusters into one purge, and a train doc whose exact-dup rep
    * would be a TEST doc (min-id collapse across the split) must keep a
    * train-side rep — so the chain CANNOT reuse x51's full-corpus labels.
    *
    * Scale shape: seeds ride x35's plan (gram equi-join, benchmark side
    * DISTINCT+broadcast — work ∝ true overlap); the closure is the x03
    * band-bounded pair pass + hash-min CC, both proven to 1000×; the
    * expansion is two broadcast joins. Broadcast-size honesty: the
    * contaminated-rep set and the seed rollup are bounded by the
    * benchmark-induced HIT set — ≪ corpus on any sane benchmark, but a
    * boilerplate-heavy corpus can inflate it (a ubiquitous 5-gram that
    * happens to appear in an eval doc hits every doc carrying it). The
    * documented pipeline order already defuses this: x111's boilerplate
    * strip runs BEFORE decon exactly so shared chrome can't manufacture
    * mass hits; if a deployment skips it, swap the two seed attaches to
    * plain equi-joins (same results, one extra shuffle).
    * Purge-by-halo is the one dedup-decon INTERACTION in the pipeline:
    * run it before survivor selection and the whole cluster dies; run
    * plain x35 after x51 and a surviving near-dup ships the leak. */
  val contaminationHalo = sql("x136_contamination_halo", HashOracles.contaminationHalo) { (s, d) =>
    contaminationHaloOf(docs(s, d)).orderBy("doc_id")
  }

  /** x136's engine over any (doc_id, text) frame (factored so the spec can
    * plant a guaranteed halo: a near-dup of a contaminated doc whose own
    * benchmark gram is mutated away). */
  def contaminationHaloOf(dd: DataFrame): DataFrame = {
    val isTrain = substring(md5(col("doc_id").cast("string")), 1, 1) <= "d"
    // r21 counter-measurement (r20 verdict item 3): the semi-before-distinct
    // seeds rewrite measured SLOWER at sf0.1 (0.59 → 0.76 s in-window) —
    // this one-plan shape distincts the corpus grams ONCE (ReuseExchange
    // serves both split sides); the split-first form pays two extra
    // broadcast builds. Kept as-is; both plan shapes committed at
    // plans/r21/x136_stage_seeds_{before,after}.txt. See
    // textDecontaminateOf for the full note.
    val grams = fiveGramsOf(dd).withColumn("split", when(isTrain, "train").otherwise("test"))
    val trainG = grams.filter(col("split") === "train")
      .select(col("doc_id").as("train_id"), col("g"))
    val testG = grams.filter(col("split") === "test")
      .select(col("doc_id").as("test_id"), col("g"))
    val seeds = trainG.join(broadcast(testG), "g")
      .groupBy("train_id")
      .agg(countDistinct("test_id").as("n_eval_docs"), count(lit(1)).as("n_shared"))
      .localCheckpoint(eager = false) // two consumers: rep seeding + reason attach
    val chain = chainOf(dd.filter(isTrain))
      .localCheckpoint(eager = false) // two consumers: contaminated-rep set + purge expansion
    val creps = chain
      .join(broadcast(seeds), col("doc_id") === col("train_id"), "left_semi")
      .select("rep").distinct()
    chain.join(broadcast(creps), Seq("rep"))
      .join(broadcast(seeds), col("doc_id") === col("train_id"), "left")
      .select(col("doc_id"), col("rep"),
        when(col("train_id").isNotNull, "direct").otherwise("halo").as("reason"),
        coalesce(col("n_eval_docs"), lit(0L)).as("n_eval_docs"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
  }

  /** x137: two-phase ANNEAL schedule — the decay-phase data recipe modern
    * pretraining runs actually ship: 90% of the token budget is the x129
    * gated-√-flattened mixture (the "main" phase), and the final 10% (the
    * "anneal"/midtraining tail, where the LR decays) is drawn ONLY from
    * gate-passing docs in the HEAD perplexity tertile of their language
    * (x135's cut), weighted by straight supply — at that point you spend
    * budget on the best material you have, not on coverage.
    *
    * The datasheet answers the question that decides whether the recipe is
    * even runnable: does the quality pool COVER the anneal demand?
    * repeat_ppm = quota·10⁶ div supply is the per-(phase, source) epoch
    * count in ppm — a row above 1 000 000 means that source's anneal slice
    * repeats (the data-constrained regime), the number a recipe review
    * reads first.
    *
    * Exactness: main-phase quotas are x129's arithmetic verbatim (floor of
    * a √-share of 9·10⁸; Σ√ summed array-sorted on both engines); anneal
    * quotas and repeat_ppm are PURE BIGINT (quota = 10⁸·supply div Σ,
    * repeat = quota·10⁶ div supply — products ≤ 10⁸·mass stay far under
    * 2⁶³ at tested scale; at true 100 TB masses — head_mass beyond
    * Long.MaxValue/10⁸ ≈ 9.2·10¹⁰ tokens — the engine RAISES via
    * [[annealQuotaCol]]'s guard instead of silently wrapping the way
    * non-ANSI Spark otherwise would, matching DuckDB's erroring BIGINT
    * multiply). Zero-supply branches pinned to 0 (never
    * NULL/NaN, never a divide-by-zero — DuckDB `//` by zero errors).
    *
    * Plan/scale: ONE flags scan (x64's row-local gate + the x112 mass
    * convention) feeding a |sources|-row aggregate; the x62 bigram chain
    * (its exchanges, unchanged) carrying (lang, source, n_tok, pass)
    * through the rollup — the carry is what keeps anneal eligibility from
    * costing a doc-keyed corpus join; x135's thresholds broadcast; every
    * table after the two corpus passes is |sources|-sized. */
  val annealSchedule = sql(
    "x137_anneal_schedule",
    s"""WITH ${lmDocSql("lang")},
      |sco AS (SELECT doc_id, lang, n_trans, sum_f // n_trans AS score_ppm FROM doc),
      |sc AS (SELECT lang, score_ppm, COUNT(*) AS n FROM sco GROUP BY 1, 2),
      |cm AS (SELECT lang, score_ppm,
      |    SUM(n) OVER (PARTITION BY lang ORDER BY score_ppm) AS cum,
      |    SUM(n) OVER (PARTITION BY lang) AS tot FROM sc),
      |th AS (SELECT lang, MIN(CASE WHEN cum*3 >= tot THEN score_ppm END) AS t1,
      |    MIN(CASE WHEN cum*3 >= tot*2 THEN score_ppm END) AS t2 FROM cm GROUP BY lang),
      |w AS (SELECT doc_id, source, string_split(text, ' ') AS toks,
      |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |g AS (SELECT doc_id, source, n_tok, ${gatePassSql("toks")} AS pass FROM w),
      |per AS (SELECT source,
      |    CAST(SUM(CASE WHEN pass = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS gated
      |  FROM g GROUP BY source),
      |tt AS (SELECT list_sum(list_sort(list(sqrt(CAST(gated AS DOUBLE))))) AS sum_sqrt FROM per),
      |el AS (SELECT g.source, g.n_tok
      |  FROM g JOIN sco USING (doc_id) JOIN th ON th.lang = sco.lang
      |  WHERE g.pass = 1 AND sco.score_ppm > th.t2),
      |hs AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS head_mass FROM el GROUP BY source),
      |ht AS (SELECT CAST(SUM(head_mass) AS BIGINT) AS total_head FROM hs),
      |r0 AS (SELECT p.source, p.gated, COALESCE(h.head_mass, 0) AS head_mass,
      |    t.sum_sqrt, q.total_head
      |  FROM per p CROSS JOIN tt t CROSS JOIN ht q
      |  LEFT JOIN hs h ON h.source = p.source),
      |ph AS (
      |  SELECT source, 'main' AS phase,
      |    CASE WHEN gated = 0 THEN 0
      |         ELSE CAST(FLOOR(900000000 * sqrt(CAST(gated AS DOUBLE)) / sum_sqrt) AS BIGINT)
      |         END AS quota_tokens,
      |    gated AS supply_tokens,
      |    CASE WHEN gated = 0 THEN CAST(0.0 AS DOUBLE)
      |         ELSE ROUND(sqrt(CAST(gated AS DOUBLE)) / sum_sqrt, 6) END AS weight
      |  FROM r0
      |  UNION ALL
      |  SELECT source, 'anneal',
      |    CASE WHEN total_head IS NULL OR total_head = 0 THEN 0
      |         ELSE (100000000 * head_mass) // total_head END,
      |    head_mass,
      |    CASE WHEN total_head IS NULL OR total_head = 0 THEN CAST(0.0 AS DOUBLE)
      |         ELSE ROUND(CAST(head_mass AS DOUBLE) / total_head, 6) END
      |  FROM r0)
      |SELECT source, phase,
      |  CAST(quota_tokens AS BIGINT) AS quota_tokens,
      |  CAST(supply_tokens AS BIGINT) AS supply_tokens,
      |  CAST(CASE WHEN supply_tokens = 0 THEN 0
      |       ELSE (quota_tokens * 1000000) // supply_tokens END AS BIGINT) AS repeat_ppm,
      |  weight
      |FROM ph ORDER BY source, phase""".stripMargin) { (s, d) =>
    annealScheduleOf(docs(s, d)).orderBy("source", "phase")
  }

  /** x138: tokenizer VOCAB-MIGRATION audit — the datasheet a team reads
    * before re-tokenizing a 100 TB corpus under a new vocabulary: encode
    * every document under the OLD vocab (the first 2 learned merges) and
    * the NEW one (all 3 — x99/x103's table) in the same pass, and report
    * per source the token mass under each, the exact ppm saved, and how
    * many documents change AT ALL (the re-encode is only worth the I/O
    * where saved_ppm and churn say it is — and a source with zero churn
    * can keep its old shards byte-identical).
    *
    * Exactness: both token counts are integers from the same native
    * kernel; saved_ppm = (v1−v2)·10⁶ div v1 is pure BIGINT (v2 ≤ v1 by
    * construction — a later merge can only shorten an encode).
    *
    * Plan/scale: x99's learning reuses the vocabulary-sized machinery
    * (ONE bpeBests call builds BOTH merge tables — the old vocab is a
    * PREFIX of the new one, exactly how production tokenizer versions
    * relate); both tables broadcast as 1-row frames; the corpus is
    * scanned ONCE with two codegen'd kernel calls per row; the only
    * exchange after the scan is the |sources|-row partial-final rollup. */
  val vocabMigration = sql(
    "x138_vocab_migration",
    s"""WITH RECURSIVE ${bpeOracleLearnSql(carryW = true)},
       |${bpeOracleMergeCte(3, "w2", "b3", carryW = true)},
       |v1 AS (SELECT w, CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS k1 FROM w2),
       |v2 AS (SELECT w, CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS k2 FROM w3),
       |dw AS (SELECT doc_id, source, ws, unnest(range(1, len(ws)+1)) AS pos
       |  FROM (SELECT doc_id, source,
       |          list_filter(string_split_regex(trim(text), '\\s+'), x -> length(x) > 0) AS ws
       |        FROM documents) q
       |  WHERE len(ws) > 0),
       |perdoc AS (SELECT d.doc_id, d.source,
       |    CAST(SUM(v1.k1) AS BIGINT) AS t1, CAST(SUM(v2.k2) AS BIGINT) AS t2
       |  FROM dw d JOIN v1 ON v1.w = d.ws[d.pos] JOIN v2 ON v2.w = d.ws[d.pos]
       |  GROUP BY 1, 2)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(t1) AS BIGINT) AS tokens_v1,
       |  CAST(SUM(t2) AS BIGINT) AS tokens_v2,
       |  CAST(CASE WHEN SUM(t1) = 0 THEN 0
       |       ELSE ((SUM(t1) - SUM(t2)) * 1000000) // SUM(t1) END AS BIGINT) AS saved_ppm,
       |  CAST(SUM(CASE WHEN t1 <> t2 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_changed
       |FROM perdoc GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val (b1, b2, b3) = bpeBests(s, d)
    val mOld = broadcast(
      b1.select(col("lhs").as("l1"), col("rhs").as("r1"))
        .crossJoin(b2.select(col("lhs").as("l2"), col("rhs").as("r2")))
        .select(concat_ws(" ", col("l1"), col("r1"), col("l2"), col("r2")).as("m_old")))
    val mNew = broadcast(
      b1.select(col("lhs").as("l1"), col("rhs").as("r1"))
        .crossJoin(b2.select(col("lhs").as("l2"), col("rhs").as("r2")))
        .crossJoin(b3.select(col("lhs").as("l3"), col("rhs").as("r3")))
        .select(concat_ws(" ", col("l1"), col("r1"), col("l2"), col("r2"),
          col("l3"), col("r3")).as("m_new")))
    docs(s, d)
      .crossJoin(mOld).crossJoin(mNew)
      .select(col("source"),
        size(expr("graft_bpe_tokens(text, m_old)")).cast("long").as("t1"),
        size(expr("graft_bpe_tokens(text, m_new)")).cast("long").as("t2"))
      .filter(col("t1") > 0) // a doc has >=1 token iff >=1 word (x103's rule)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("t1").as("tokens_v1"),
        sum("t2").as("tokens_v2"),
        sum(when(col("t1") =!= col("t2"), 1L).otherwise(0L)).as("n_docs_changed"))
      .select(col("source"), col("n_docs"), col("tokens_v1"), col("tokens_v2"),
        when(col("tokens_v1") === 0, 0L)
          .otherwise(expr("(tokens_v1 - tokens_v2) * CAST(1000000 AS BIGINT) div tokens_v1"))
          .as("saved_ppm"),
        col("n_docs_changed"))
      .orderBy("source")
  }

  /** The x62 bigram LM as a durable ARTIFACT table (w1, w2, f) — the
    * trained-offline model a live scorer probes (CCNet's posture: the
    * reference LM is a build-time artifact, not something a stream can
    * retrain). f is the same floor-ppm transition integer x62 computes
    * inline. */
  def lmModelOf(dd: DataFrame): DataFrame = {
    val bg = dd
      .select(split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(2, size(toks)), i -> struct(toks[i-2] AS w1, toks[i-1] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    // one corpus-scale exchange; cctx re-aggregates the checkpointed pair
    // table and attaches size-guarded (see guardedBroadcast) — r19, the
    // same shape as lmScoreCore
    val cpair = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .localCheckpoint(eager = false)
    val cctx = cpair.groupBy("w1").agg(sum("c2").as("c1"))
    cpair.join(guardedBroadcast(cctx), Seq("w1"))
      .select(col("w1"), col("w2"),
        floor(col("c2").cast("double") / col("c1") * 1e6).as("f"))
  }

  /** x135's pinned tertile thresholds as a durable artifact (lang, t1,
    * t2) — built from the same inline chain the oracle checks. */
  def lmThresholdsOf(dd: DataFrame): DataFrame =
    langTertileThresholds(
      lmScoreCore(dd, Seq("lang")).withColumn("score_ppm", expr("sum_f div n_trans")))

  /** Score any (doc_id, lang, text) frame against a PINNED model table
    * (w1, w2, f): (doc_id, lang, n_trans, score_ppm). Transitions the
    * model never saw score f = 0 (the harshest floor — deterministic on
    * any engine, and exactly what happens to genuinely out-of-domain
    * text under a fixed reference LM). When the model IS the frame's own
    * [[lmModelOf]], this reproduces the inline x62/x135 scores exactly
    * (TextQueriesEdgeSpec pins the identity) — the equivalence that lets
    * the STREAMING census trust the artifact path. */
  def scoreAgainstLmModel(dd: DataFrame, model: DataFrame): DataFrame =
    dd.select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(2, size(toks)), i -> struct(toks[i-2] AS w1, toks[i-1] AS w2))")).as("b"))
      .select(col("doc_id"), col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .join(model, Seq("w1", "w2"), "left")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_trans"),
        sum(coalesce(col("f"), lit(0L))).as("sum_f"))
      .withColumn("score_ppm", expr("sum_f div n_trans"))

  /** The (lang, bucket, n) census of a scored frame against PINNED
    * thresholds — x135's bucket rule verbatim over artifact inputs; a
    * pure mergeable monoid (≤ |langs|×3 groups), usable identically as a
    * batch rollup and as per-epoch streaming output. Languages ABSENT
    * from the pinned thresholds are dropped (a reference cut cannot
    * bucket a language it never saw) — watch for novel languages via the
    * datasheet twin's lang set, then retrain the reference. */
  def qualityCensusOf(sco: DataFrame, thresholds: DataFrame): DataFrame =
    sco.join(broadcast(thresholds), Seq("lang"))
      .withColumn("bucket",
        when(col("score_ppm") <= col("t1"), "tail")
          .when(col("score_ppm") <= col("t2"), "middle")
          .otherwise("head"))
      .groupBy("lang", "bucket").agg(count(lit(1)).as("n"))

  /** x139: ROBUST per-source quality datasheet — median / MAD / p10 / p90
    * of the integer LM score. The mean-based datasheets (x57/x113) and the
    * mean-anchored calibration (x66) are all outlier-sensitive; a source
    * whose tail is a few pathological docs ranks wrong under a mean, and
    * the number a curation review wants next to "mean quality" is the
    * MEDIAN and the spread that ignores the tail (MAD). p10/p90 bound the
    * gate's realistic operating range per source.
    *
    * Exactness: every statistic is a VALUE CROSSOVER over per-(source,
    * score) integer counts — min score with k·cum ≥ m·n (x101's
    * mass-median rule; no interpolation, no floats anywhere, ties resolve
    * identically on both engines). MAD's second pass runs over the SAME
    * bounded count table re-keyed by |score − median| — never a second
    * corpus scan.
    *
    * Scale shape: x62's bigram chain → the (source, score_ppm) count
    * table, bounded at ≤ |sources|·(1e6+1) rows at any corpus size
    * (x135's argument); both crossover passes and the MAD re-key are
    * windows/rollups on that bounded table; medians broadcast back onto
    * it (never onto doc rows). */
  val robustQuality = sql(
    "x139_robust_quality",
    s"""WITH ${lmDocSql("source")},
      |sco AS (SELECT doc_id, source, sum_f // n_trans AS score_ppm FROM doc),
      |sc AS (SELECT source, score_ppm, COUNT(*) AS n FROM sco GROUP BY 1, 2),
      |cm AS (SELECT source, score_ppm,
      |    SUM(n) OVER (PARTITION BY source ORDER BY score_ppm) AS cum,
      |    SUM(n) OVER (PARTITION BY source) AS tot FROM sc),
      |st AS (SELECT source, CAST(MIN(tot) AS BIGINT) AS n_docs,
      |    MIN(CASE WHEN cum*10 >= tot THEN score_ppm END) AS p10,
      |    MIN(CASE WHEN cum*2 >= tot THEN score_ppm END) AS med,
      |    MIN(CASE WHEN cum*10 >= tot*9 THEN score_ppm END) AS p90
      |  FROM cm GROUP BY source),
      |dv AS (SELECT sc.source, abs(sc.score_ppm - st.med) AS dev, SUM(sc.n) AS n
      |  FROM sc JOIN st USING (source) GROUP BY 1, 2),
      |dm AS (SELECT source, dev,
      |    SUM(n) OVER (PARTITION BY source ORDER BY dev) AS cum,
      |    SUM(n) OVER (PARTITION BY source) AS tot FROM dv),
      |mad AS (SELECT source, CAST(MIN(CASE WHEN cum*2 >= tot THEN dev END) AS BIGINT) AS mad
      |  FROM dm GROUP BY source)
      |SELECT st.source, st.n_docs,
      |  CAST(st.p10 AS BIGINT) AS p10_ppm,
      |  CAST(st.med AS BIGINT) AS median_ppm,
      |  CAST(st.p90 AS BIGINT) AS p90_ppm,
      |  mad.mad AS mad_ppm
      |FROM st JOIN mad USING (source) ORDER BY st.source""".stripMargin) { (s, d) =>
    robustQualityOf(docs(s, d)).orderBy("source")
  }

  /** x139's engine over any (doc_id, source, text) frame (factored so the
    * edge spec can hand-build crossover-tie and skew cases). */
  def robustQualityOf(dd: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = lmScoreCore(dd, Seq("source"))
      .withColumn("score_ppm", expr("sum_f div n_trans"))
      .groupBy("source", "score_ppm").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false) // two consumers: crossover stats + MAD re-key —
    // without the pin the whole bigram chain runs twice
    val cum = Window.partitionBy("source").orderBy("score_ppm")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy("source")
    val st = sc
      .withColumn("cum", sum("n").over(cum))
      .withColumn("tot", sum("n").over(whole))
      .groupBy("source")
      .agg(min("tot").as("n_docs"),
        min(when(col("cum") * 10 >= col("tot"), col("score_ppm"))).as("p10"),
        min(when(col("cum") * 2 >= col("tot"), col("score_ppm"))).as("med"),
        min(when(col("cum") * 10 >= col("tot") * 9, col("score_ppm"))).as("p90"))
      .localCheckpoint(eager = false) // two consumers: MAD attach + output
    val dcum = Window.partitionBy("source").orderBy("dev")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mad = sc.join(broadcast(st.select("source", "med")), Seq("source"))
      .withColumn("dev", abs(col("score_ppm") - col("med")))
      .groupBy("source", "dev").agg(sum("n").as("n"))
      .withColumn("cum", sum("n").over(dcum))
      .withColumn("tot", sum("n").over(whole))
      .groupBy("source")
      .agg(min(when(col("cum") * 2 >= col("tot"), col("dev"))).as("mad_ppm"))
    st.join(broadcast(mad), Seq("source"))
      .select(col("source"), col("n_docs"),
        col("p10").as("p10_ppm"), col("med").as("median_ppm"),
        col("p90").as("p90_ppm"), col("mad_ppm"))
  }

  /** x137's anneal-quota column `A·head_mass div total_head`, with the
    * BIGINT overflow guard the 100 TB regime needs: unguarded, the failure
    * mode swings with `spark.sql.ansi.enabled` — a generic
    * ARITHMETIC_OVERFLOW under ANSI (the Spark 4 default), a SILENT wrap
    * to a negative quota with ANSI off (while DuckDB's BIGINT `*` always
    * errors — the engines would disagree exactly when it matters). The
    * guard makes head_mass beyond Long.MaxValue/A raise the same DOMAIN
    * error naming the offending mass in both regimes, instead of shipping
    * a corrupted schedule. Factored so TextQueriesEdgeSpec can drive it
    * with literal masses on both sides of the bound under both ANSI
    * settings. */
  private[graft] def annealQuotaCol(a: Long): Column =
    when(col("head_mass") > lit(Long.MaxValue / a),
      raise_error(concat(
        lit(s"x137 anneal quota: head_mass exceeds Long.MaxValue/$a — " +
          "BIGINT quota multiply would overflow (head_mass="),
        col("head_mass").cast("string"), lit(")"))).cast("long"))
      .otherwise(expr(s"CAST($a AS BIGINT) * head_mass div total_head"))

  /** x137's engine over any (doc_id, lang, source, text) frame. Budget
    * B = 10⁹ (x129's convention), anneal A = B div 10, main M = B − A.
    *
    * Precondition: `doc_id` is unique in `dd`. A duplicated id pools its
    * texts' transitions into one score row, which the doc-keyed attach
    * then repeats once per duplicate (TextQueriesEdgeSpec pins this). Not
    * checked at run time: the check would cost a Spark job on every call. */
  def annealScheduleOf(dd: DataFrame): DataFrame = {
    val B = 1000000000L
    val A = B / 10
    val M = B - A
    val flags = qualityGateOf(
      dd.withColumn("n_tok", nTokOfText),
      keep = Seq("lang", "source", "n_tok", "text"))
      .select("doc_id", "lang", "source", "n_tok", "text", "pass")
    val per = flags.groupBy("source")
      .agg(sum(when(col("pass") === 1, col("n_tok")).otherwise(0L)).as("gated"))
      .localCheckpoint(eager = false) // two consumers: Σ√ total + output rows
    val tot = per.agg(
      aggregate(array_sort(collect_list(sqrt(col("gated").cast("double")))),
        lit(0.0), (a, x) => a + x).as("sum_sqrt"))
    // r21 OPTIMIZATION (guide §2.3, measured in OPTIMIZATION_r21.md): the
    // 4-column carry (lang, source, n_tok, pass) used to ride EVERY bigram row
    // through the chain's two corpus-scale exchanges; attaching the
    // doc-level attributes by ONE doc_id join after the rollup shuffles
    // doc-count rows instead of bigram-count bytes — in-window A/B:
    // sco 1.00 → 0.73 s at sf0.1. Values identical: the carry columns are
    // functionally dependent on doc_id, so groupBy(doc_id, carry…) ≡
    // groupBy(doc_id) ⋈ doc-attrs (same row set: docs with ≥ 1 bigram).
    val sco = lmScoreCore(dd, Nil)
      .join(flags.select("doc_id", "lang", "source", "n_tok", "pass"), Seq("doc_id"))
      .withColumn("score_ppm", expr("sum_f div n_trans"))
      .localCheckpoint(eager = false) // two consumers: thresholds + eligibility
    val th = langTertileThresholds(sco)
    val hs = sco.join(broadcast(th), Seq("lang"))
      .filter(col("pass") === 1 && col("score_ppm") > col("t2"))
      .groupBy("source").agg(sum("n_tok").as("head_mass"))
    val ht = hs.agg(sum("head_mass").as("total_head"))
    val sq = sqrt(col("gated").cast("double"))
    val r0 = per.crossJoin(broadcast(tot))
      .join(broadcast(hs), Seq("source"), "left")
      .crossJoin(broadcast(ht))
      .withColumn("head_mass", coalesce(col("head_mass"), lit(0L)))
      .localCheckpoint(eager = false) // two consumers: the two phase rows
    val main = r0.select(col("source"), lit("main").as("phase"),
      when(col("gated") === 0, 0L)
        .otherwise(floor(lit(M) * sq / col("sum_sqrt")).cast("long")).as("quota_tokens"),
      col("gated").as("supply_tokens"),
      when(col("gated") === 0, 0.0)
        .otherwise(round(sq / col("sum_sqrt"), 6)).as("weight"))
    val ann = r0.select(col("source"), lit("anneal").as("phase"),
      when(col("total_head").isNull || col("total_head") === 0, 0L)
        .otherwise(annealQuotaCol(A))
        .as("quota_tokens"),
      col("head_mass").as("supply_tokens"),
      when(col("total_head").isNull || col("total_head") === 0, 0.0)
        .otherwise(round(col("head_mass").cast("double") / col("total_head"), 6))
        .as("weight"))
    main.unionByName(ann)
      .withColumn("repeat_ppm",
        when(col("supply_tokens") === 0, 0L)
          .otherwise(expr("quota_tokens * CAST(1000000 AS BIGINT) div supply_tokens")))
      .select("source", "phase", "quota_tokens", "supply_tokens", "repeat_ppm", "weight")
  }

  /** x141: excess-hardness domain REWEIGHTING — the DoReMi-flavored knob
    * (Xie et al. 2023, "DoReMi: Optimizing Data Mixtures Speeds Up
    * Language Model Pretraining") between x129's pure √-supply mixture
    * and x137's quality-head anneal: upweight the domains the corpus
    * bigram LM predicts WORST (highest excess perplexity = most still to
    * learn), weighted by the token mass that hardness applies to.
    * weight ∝ tok_mass · hardness, hardness_ppm = 10⁶ − mean score_ppm —
    * the one-model proxy for DoReMi's reference/proxy loss gap, exactly
    * computable from artifacts this engine already audits (the x62 score,
    * the x112 mass convention).
    *
    * Exactness: integer end to end — score_ppm is x62's floor-ppm BIGINT;
    * the per-source mean is SUM div COUNT over SCOREABLE docs (≥2 tokens
    * — the only docs a transition score exists for; n_docs/tok_mass count
    * the same set so the weight never claims mass the hardness was not
    * measured on); the share denominator is `greatest(sum_w div 10⁶, 1)`
    * — dividing DOWN first keeps every product within BIGINT for up to
    * ~9·10¹² tokens/source (a 100 TB corpus), where the naive
    * raw_w·10⁶/sum_w spelling would overflow at ~9·10⁶ tokens/source.
    * The one unguardable product (tok_mass·hardness) raises the x137-style
    * domain error past Long.MaxValue/10⁶ tokens instead of wrapping.
    *
    * Plan/scale: the x62 bigram chain (its exchanges, unchanged) with
    * (source, n_tok) carried through the rollup — no doc-keyed re-join;
    * everything after is |sources|-sized with the total broadcast. */
  val doremiWeights = sql(
    "x141_doremi_weights",
    s"""WITH ${lmDocSql("lang")},
      |sco AS (SELECT doc_id, lang, n_trans, sum_f // n_trans AS score_ppm FROM doc),
      |w AS (SELECT doc_id, source,
      |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |per AS (SELECT w.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(w.n_tok) AS BIGINT) AS tok_mass,
      |    CAST(SUM(sco.score_ppm) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean_score_ppm
      |  FROM sco JOIN w USING (doc_id) GROUP BY w.source),
      |hw AS (SELECT source, n_docs, tok_mass, mean_score_ppm,
      |    1000000 - mean_score_ppm AS hardness_ppm,
      |    tok_mass * (1000000 - mean_score_ppm) AS raw_w FROM per),
      |tot AS (SELECT CAST(SUM(raw_w) AS BIGINT) AS sum_w FROM hw)
      |SELECT source, n_docs, tok_mass, mean_score_ppm, hardness_ppm,
      |  CAST(raw_w // GREATEST(sum_w // 1000000, 1) AS BIGINT) AS weight_ppm
      |FROM hw CROSS JOIN tot ORDER BY source""".stripMargin) { (s, d) =>
    doremiWeightsOf(docs(s, d)).orderBy("source")
  }

  /** x141's engine over any (doc_id, source, text) frame.
    *
    * Precondition: `doc_id` is unique in `dd`. A duplicated id pools its
    * texts' transitions into one score row, which the doc-keyed attach
    * then repeats once per duplicate (TextQueriesEdgeSpec pins this). Not
    * checked at run time: the check would cost a Spark job on every call. */
  def doremiWeightsOf(dd: DataFrame): DataFrame = {
    // r21 OPTIMIZATION (guide §2.3, OPTIMIZATION_r21.md A/B: 0.97 →
    // 0.86 s): the (source, n_tok) attributes attach by ONE doc-keyed join
    // after the rollup instead of riding every bigram row (same values —
    // both are functions of the doc row).
    val sco = lmScoreCore(dd, Nil)
      .join(dd.select(col("doc_id"), col("source"), nTokOfText.as("n_tok")), Seq("doc_id"))
      .withColumn("score_ppm", expr("sum_f div n_trans"))
    val per = sco.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tok").as("tok_mass"),
      sum("score_ppm").as("sum_sc"))
      .withColumn("mean_score_ppm", expr("sum_sc div n_docs"))
      .withColumn("hardness_ppm", lit(1000000L) - col("mean_score_ppm"))
      .withColumn("raw_w",
        when(col("tok_mass") > lit(Long.MaxValue / 1000000L),
          raise_error(concat(
            lit("x141 domain weights: tok_mass exceeds Long.MaxValue/1000000 — " +
              "BIGINT hardness multiply would overflow (tok_mass="),
            col("tok_mass").cast("string"), lit(")"))).cast("long"))
          .otherwise(col("tok_mass") * col("hardness_ppm")))
    val tot = per.agg(sum("raw_w").as("sum_w"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("tok_mass"), col("mean_score_ppm"),
        col("hardness_ppm"),
        expr("raw_w div greatest(sum_w div CAST(1000000 AS BIGINT), CAST(1 AS BIGINT))")
          .as("weight_ppm"))
  }

  /** The x142 normalization: lowercase, whitespace-collapse, trim, and
    * collapse CONSECUTIVE repeated tokens (crawl stutter — boilerplate
    * renderers and scraped menus emit `table table`-style doubles).
    * Since r18 this is the native one-pass codegen kernel
    * [[graft.functions.NormText]] (r17 verdict item 3: the HOF
    * formulation's lambdas ran interpreted — CodegenFallback — making
    * x142 the registry's one interpreted hot path at ~6 s/sf0.1).
    * NormTextSpec pins kernel ≡ the original HOF column on adversarial
    * strings; shared by BOTH normalization passes so the idempotence
    * audit audits exactly the shipped rule. NB: resolving via
    * call_function adds the session precondition every graft_* consumer
    * already carries (GraftExtensions registered — the x103/x70/graft_dot
    * convention); a session without the extension fails at ANALYSIS time
    * with UNRESOLVED_ROUTINE, never silently. */
  private def normTextCol(src: Column): Column =
    call_function("graft_norm_text", src)

  /** x142: text-normalization FIXPOINT audit — the pre-flight datasheet
    * for the cleaning pass every corpus gets before tokenization: apply
    * the normalization ([[normTextCol]]) and report, per source, how much
    * it changed (docs touched, characters removed), how many NEW exact
    * duplicates it revealed (distinct md5 before vs after — normalization
    * collapsing two raw docs is dedup the raw pass would have missed),
    * and whether it is IDEMPOTENT on this corpus (n_unstable = docs where
    * a second application changes the text again — computed, not assumed:
    * a normalization that keeps rewriting is a bug that makes every
    * downstream fingerprint unstable).
    *
    * Exactness: string equality and integer counts only; the distinct
    * counts key on md5(text) (16-byte keys through the exchange — the
    * exactCollapse posture — with DuckDB and Spark md5 byte-identical).
    *
    * Plan/scale: two chained row-local HOF maps + ONE grouped aggregate;
    * the only exchanges are the distinct-count expand — no joins, no
    * windows, no second corpus scan for the idempotence pass. */
  val normalizeFixpoint = sql(
    "x142_normalize_fixpoint",
    // plain (non-interpolated) string: \s reaches DuckDB as-is
    """WITH d AS (SELECT doc_id, source, text,
      |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
      |n1 AS (SELECT doc_id, source, text,
      |    array_to_string(list_filter(toks, (t, i) -> i = 1 OR t <> toks[i - 1]), ' ') AS norm
      |  FROM d),
      |d2 AS (SELECT doc_id, source, text, norm,
      |    string_split_regex(trim(lower(norm)), '\s+') AS toks2 FROM n1),
      |n2 AS (SELECT doc_id, source, text, norm,
      |    array_to_string(list_filter(toks2, (t, i) -> i = 1 OR t <> toks2[i - 1]), ' ') AS norm2
      |  FROM d2)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN norm <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
      |  CAST(SUM(length(text) - length(norm)) AS BIGINT) AS chars_removed,
      |  CAST(SUM(CASE WHEN norm2 <> norm THEN 1 ELSE 0 END) AS BIGINT) AS n_unstable,
      |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_raw,
      |  CAST(COUNT(DISTINCT md5(norm)) AS BIGINT) AS n_distinct_norm
      |FROM n2 GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    normalizeAuditOf(docs(s, d)).orderBy("source")
  }

  /** x142's engine over any (doc_id, source, text) frame.
    *
    * Price note (bench r17: ~6 s at sf0.1, near-flat to 10×, 25 s at
    * 1000×-of-sf0.01): the normalization HOFs evaluate via interpreted
    * lambdas (Spark's higher-order array functions are CodegenFallback),
    * so the per-row cost is real but constant — at small sf the corpus
    * arrives in few input splits and the map runs at low parallelism,
    * which is what makes the 1× and 10× prices LOOK flat; at 1000×
    * (500k docs) the measured cost is ~0.05 ms/doc across 32 threads and
    * the query scales linearly. A lazy-checkpoint barrier between the two
    * passes was measured to change nothing (the cost is per-row, not
    * plan-tree duplication), so the plan stays barrier-free. */
  def normalizeAuditOf(dd: DataFrame): DataFrame =
    dd.withColumn("norm", normTextCol(col("text")))
      .withColumn("norm2", normTextCol(col("norm")))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("norm") =!= col("text"), 1L).otherwise(0L)).as("n_changed"),
        sum((length(col("text")) - length(col("norm"))).cast("long")).as("chars_removed"),
        sum(when(col("norm2") =!= col("norm"), 1L).otherwise(0L)).as("n_unstable"),
        countDistinct(md5(col("text"))).as("n_distinct_raw"),
        countDistinct(md5(col("norm"))).as("n_distinct_norm"))

  /** x143: context-window TRUNCATION-WASTE curve — the number a packing
    * review reads BEFORE picking the sequence length: for each candidate
    * L, how many docs per source exceed it and what token mass a
    * truncate-at-L loader would throw away (waste_ppm of the source's
    * mass). The complement of x113's pack-efficiency table: packing pays
    * padding for SHORT docs, truncation pays loss for LONG ones, and the
    * L that minimizes the sum is a read off these two curves.
    *
    * Exactness: pure BIGINT (the x112 trim/\s+ token count, GREATEST and
    * comparisons, a guarded ppm division). The L ladder rides as a 3-row
    * literal table on both engines.
    *
    * Plan/scale: ONE corpus scan, each row exploded onto the |L|=3
    * literal lengths row-locally, then a single (source, L)-grouped
    * aggregate (map-side combined, ≤ |sources|·3 rows out). No joins, no
    * windows, no per-L re-scan. */
  val truncationWaste = sql(
    "x143_truncation_waste",
    // plain (non-interpolated) string: \s reaches DuckDB as-is
    """WITH w AS (SELECT source,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |l AS (SELECT * FROM (VALUES (CAST(64 AS BIGINT)), (CAST(256 AS BIGINT)),
      |    (CAST(1024 AS BIGINT))) AS t(seq_len)),
      |per AS (SELECT source, seq_len,
      |    CAST(SUM(CASE WHEN n_tok > seq_len THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_over,
      |    CAST(SUM(GREATEST(n_tok - seq_len, 0)) AS BIGINT) AS tokens_lost,
      |    CAST(SUM(n_tok) AS BIGINT) AS tok_mass
      |  FROM w CROSS JOIN l GROUP BY source, seq_len)
      |SELECT source, seq_len, n_docs_over, tokens_lost,
      |  CAST(CASE WHEN tok_mass = 0 THEN 0
      |       ELSE tokens_lost * 1000000 // tok_mass END AS BIGINT) AS waste_ppm
      |FROM per ORDER BY source, seq_len""".stripMargin) { (s, d) =>
    truncationWasteOf(docs(s, d)).orderBy("source", "seq_len")
  }

  /** x143's engine over any (source, text) frame. */
  def truncationWasteOf(dd: DataFrame): DataFrame =
    dd.select(col("source"),
        nTokOfText.as("n_tok"),
        explode(array(lit(64L), lit(256L), lit(1024L))).as("seq_len"))
      .groupBy("source", "seq_len").agg(
        sum(when(col("n_tok") > col("seq_len"), 1L).otherwise(0L)).as("n_docs_over"),
        sum(greatest(col("n_tok") - col("seq_len"), lit(0L))).as("tokens_lost"),
        sum("n_tok").as("tok_mass"))
      .select(col("source"), col("seq_len"), col("n_docs_over"), col("tokens_lost"),
        when(col("tok_mass") === 0, 0L)
          .otherwise(guardedPpm("x143 waste_ppm", col("tokens_lost"), col("tok_mass")))
          .as("waste_ppm"))

  /** x144: per-source BIGRAM-NOVELTY datasheet — how much of each
    * source's language is EXCLUSIVE to it: bigram occurrences whose type
    * appears in no other source, as mass and as ppm of the source's
    * bigram mass. The diversity-side complement of x58's duplicate-overlap
    * matrix: x58 says which sources copy each other's DOCUMENTS; this says
    * which sources contribute language no one else covers — the number a
    * mixture review reads before DOWN-weighting a source (cutting a
    * high-novelty source removes vocabulary coverage, cutting a
    * low-novelty one mostly removes repetition).
    *
    * Exactness: pure integer counting; ties/types have no float step.
    *
    * Plan/scale: the x62 bigram explode, ONE (source, bigram)-grouped
    * aggregate (map-side combined), then ownership counted by a window
    * over the count table partitioned by bigram — a group is AT MOST
    * |sources| rows BY CONSTRUCTION (one count row per owning source),
    * so the window is bounded at any corpus size; the final rollup is
    * |sources|-sized. No corpus-sized join, no unbounded window. */
  val ngramNovelty = sql(
    "x144_ngram_novelty",
    """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
      |bgk AS (SELECT doc_id, source, unnest(range(2, len(toks)+1)) AS i, toks FROM t),
      |bg AS (SELECT source, toks[i-1] AS w1, toks[i] AS w2 FROM bgk),
      |sb AS (SELECT source, w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY 1, 2, 3),
      |own AS (SELECT source, cnt,
      |    COUNT(*) OVER (PARTITION BY w1, w2) AS n_sources FROM sb)
      |SELECT source,
      |  CAST(SUM(cnt) AS BIGINT) AS bigram_mass,
      |  CAST(COUNT(*) AS BIGINT) AS n_types,
      |  CAST(SUM(CASE WHEN n_sources = 1 THEN cnt ELSE 0 END) AS BIGINT) AS exclusive_mass,
      |  CAST(SUM(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exclusive_types,
      |  CAST(SUM(CASE WHEN n_sources = 1 THEN cnt ELSE 0 END) * 1000000
      |       // CAST(SUM(cnt) AS BIGINT) AS BIGINT) AS exclusive_ppm
      |FROM own GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    ngramNoveltyOf(docs(s, d)).orderBy("source")
  }

  /** x144's engine over any (doc_id, source, text) frame. */
  def ngramNoveltyOf(dd: DataFrame): DataFrame = {
    val bg = dd.select(col("source"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2) // Spark sequence(2,1) would DESCEND
      .select(col("source"), explode(expr(
        "transform(sequence(2, size(toks)), i -> struct(toks[i-2] AS w1, toks[i-1] AS w2))")).as("b"))
      .select(col("source"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val sb = bg.groupBy("source", "w1", "w2").agg(count(lit(1)).as("cnt"))
    val own = sb.withColumn("n_sources",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("w1", "w2")))
    own.groupBy("source").agg(
        sum("cnt").as("bigram_mass"),
        count(lit(1)).as("n_types"),
        sum(when(col("n_sources") === 1, col("cnt")).otherwise(0L)).as("exclusive_mass"),
        sum(when(col("n_sources") === 1, 1L).otherwise(0L)).as("n_exclusive_types"))
      .withColumn("exclusive_ppm",
        guardedPpm("x144 exclusive_ppm", col("exclusive_mass"), col("bigram_mass")))
  }

  /** `numer·10⁶ div denom` with the x137-style BIGINT overflow guard: past
    * Long.MaxValue/10⁶ the multiply's failure mode swings with
    * `spark.sql.ansi.enabled` (generic overflow vs silent wrap — see
    * [[annealQuotaCol]]); the guard raises the same DOMAIN error naming
    * the operand in both regimes. Callers handle their own zero-denom
    * branch; the r17 review found three fresh ppm sites shipping
    * unguarded while their scaladocs claimed 100 TB-regime exactness —
    * new ppm columns should route through here (package-visible so
    * SimilarityQueries' ppm sites share the one guard). */
  private[queries] def guardedPpm(site: String, numer: Column, denom: Column): Column =
    when(numer > lit(Long.MaxValue / 1000000L),
      raise_error(concat(
        lit(s"$site: numerator exceeds Long.MaxValue/1000000 — the BIGINT " +
          "ppm multiply would overflow (value="),
        numer.cast("string"), lit(")"))).cast("long"))
      // call_function("div"): the INTEGRAL divide — Column./ is SQL's
      // double division, which loses exactness past 2⁵³
      .otherwise(call_function("div", numer * lit(1000000L), denom))

  /** x146: DATA-CONSTRAINED repeat allocation (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models": repeated epochs decay in
    * value, with ~4 epochs the practical ceiling): spend a token budget
    * B = 3.8×supply across sources by √-flattened WATER-FILLING —
    * quota_i = min(4·s_i, λ·√s_i) with λ the unique water level that
    * spends exactly B — so large sources get x128's √-flattening while
    * small sources SATURATE at the 4-epoch cap instead of being ground
    * through 20 epochs of repetition. The output names the
    * data-constrained sources (saturated) and prices what marginal
    * budget actually buys — the recipe-review table for the regime every
    * frontier run now lives in.
    *
    * Exactness: the water level has a CLOSED FORM per saturation count k
    * — λ(k) = (B − 4·Σ_sat s) / Σ_unsat √s — evaluated on the sorted rung
    * table. Both engines compute the same doubles: √ of the same BIGINT,
    * running sums in the same `ORDER BY (satpoint, source)` window frame
    * (order-PINNED, so float summation order cannot differ — the reason
    * this uses window cumulatives, not a free-order aggregate), the same
    * minimal valid k (k unique; at a λ = satpoint boundary both rungs
    * price identical quotas and `saturated` derives from quota = cap,
    * never from k). Quotas floor to BIGINT; Σ quota ∈ (B − |sources|, B]
    * (per-source floor slack < 1 token). The defensive COALESCE prices
    * every source at cap if no rung validates — unreachable while
    * B < 4·supply, load-bearing if the budget rule ever grows past it.
    *
    * Plan/scale: one corpus scan → the |sources| supply table; the rungs,
    * window sums, water-level pick, and final pricing all run on
    * ≤ |sources|+1 rows — the unpartitioned windows are bounded by
    * construction (the x135-threshold argument), and λ attaches back
    * broadcast. */
  val repeatDecay = sql(
    "x146_repeat_decay",
    // plain (non-interpolated) string: \s reaches DuckDB as-is
    """WITH w AS (SELECT source,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |per AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS supply FROM w GROUP BY source),
      |tot AS (SELECT CAST(SUM(supply) * 38 // 10 AS BIGINT) AS budget FROM per),
      |r1 AS (SELECT source, supply, budget,
      |    4.0 * sqrt(CAST(supply AS DOUBLE)) AS satpoint,
      |    ROW_NUMBER() OVER (ORDER BY 4.0 * sqrt(CAST(supply AS DOUBLE)), source) AS k,
      |    CAST(SUM(supply) OVER (ORDER BY 4.0 * sqrt(CAST(supply AS DOUBLE)), source) AS BIGINT) AS cum_s,
      |    SUM(sqrt(CAST(supply AS DOUBLE))) OVER (ORDER BY 4.0 * sqrt(CAST(supply AS DOUBLE)), source) AS cum_sqrt
      |  FROM per CROSS JOIN tot),
      |rungs AS (
      |  SELECT k, budget, satpoint, cum_s, cum_sqrt FROM r1
      |  UNION ALL
      |  SELECT 0, budget, CAST(NULL AS DOUBLE), CAST(0 AS BIGINT), 0.0 FROM tot),
      |ts AS (SELECT MAX(cum_sqrt) AS tot_sqrt FROM rungs),
      |pr AS (SELECT k, budget, satpoint, cum_s, cum_sqrt,
      |    LEAD(satpoint, 1) OVER (ORDER BY k) AS next_sat,
      |    tot_sqrt - cum_sqrt AS rest_sqrt
      |  FROM rungs CROSS JOIN ts),
      |lm AS (SELECT k, satpoint, next_sat,
      |    CASE WHEN rest_sqrt > 0.0
      |         THEN CAST(budget - 4 * cum_s AS DOUBLE) / rest_sqrt END AS lam
      |  FROM pr),
      |v AS (SELECT k, lam,
      |    (lam IS NOT NULL AND (satpoint IS NULL OR satpoint < lam)
      |     AND (next_sat IS NULL OR lam <= next_sat)) AS valid FROM lm),
      |pick AS (SELECT arg_min(lam, k) AS lam_star FROM v WHERE valid),
      |q AS (SELECT p.source, p.supply,
      |    LEAST(4 * p.supply,
      |      COALESCE(CAST(FLOOR(pick.lam_star * sqrt(CAST(p.supply AS DOUBLE))) AS BIGINT),
      |               4 * p.supply)) AS quota
      |  FROM per p CROSS JOIN pick)
      |SELECT source, supply AS supply_tokens,
      |  CAST(4 * supply AS BIGINT) AS cap_tokens,
      |  CAST(quota AS BIGINT) AS quota_tokens,
      |  CAST(quota * 1000000 // supply AS BIGINT) AS epochs_ppm,
      |  CAST(CASE WHEN quota = 4 * supply THEN 1 ELSE 0 END AS INTEGER) AS saturated
      |FROM q ORDER BY source""".stripMargin) { (s, d) =>
    repeatDecayOf(docs(s, d)).orderBy("source")
  }

  /** x146's per-source supply table (the shared x112 count — one corpus
    * scan, |sources| rows out), factored so x152's budget sweep prices
    * three budgets off ONE scan. */
  private def repeatSupplyOf(dd: DataFrame): DataFrame =
    dd.select(col("source"), nTokOfText.as("n_tok"))
      .groupBy("source").agg(sum("n_tok").as("supply"))
      .localCheckpoint(eager = false) // bounded; rungs + final pricing read it

  /** x146's engine over any (source, text) frame. */
  def repeatDecayOf(dd: DataFrame): DataFrame =
    waterFill(repeatSupplyOf(dd), b10 = 38)

  /** The x146 closed-form water-filling over a (source, supply) table at
    * budget B = supply·b10/10 — x146 calls it at the paper's 3.8×; x152
    * sweeps it. Pure |sources|-bounded arithmetic, identical rung-table
    * machinery either way (RepeatBudgetSpec pins x152@38 ≡ x146 row for
    * row, so the sweep can never drift from the shipped recipe). */
  private def waterFill(per: DataFrame, b10: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = per.agg(expr(s"CAST(sum(supply) * $b10 div 10 AS BIGINT)").as("budget"))
    val satpoint = lit(4.0) * sqrt(col("supply").cast("double"))
    val ord = Window.orderBy(satpoint, col("source"))
    val r1 = per.crossJoin(broadcast(tot))
      .select(col("budget"), satpoint.as("satpoint"),
        row_number().over(ord).as("k"),
        sum("supply").over(ord).as("cum_s"),
        sum(sqrt(col("supply").cast("double"))).over(ord).as("cum_sqrt"))
    val rungs = r1.unionByName(tot.select(col("budget"),
        lit(null).cast("double").as("satpoint"), lit(0).as("k"),
        lit(0L).as("cum_s"), lit(0.0).as("cum_sqrt")))
      .localCheckpoint(eager = false) // two consumers: tot_sqrt + the rungs
    val ts = rungs.agg(max("cum_sqrt").as("tot_sqrt"))
    val kord = Window.orderBy("k")
    val lm = rungs.crossJoin(broadcast(ts))
      .withColumn("next_sat", lead("satpoint", 1).over(kord))
      .withColumn("rest_sqrt", col("tot_sqrt") - col("cum_sqrt"))
      .withColumn("lam", when(col("rest_sqrt") > 0.0,
        (col("budget") - lit(4L) * col("cum_s")).cast("double") / col("rest_sqrt")))
      .withColumn("valid",
        col("lam").isNotNull &&
          (col("satpoint").isNull || col("satpoint") < col("lam")) &&
          (col("next_sat").isNull || col("lam") <= col("next_sat")))
    val pick = lm.agg(min(when(col("valid"), struct(col("k"), col("lam")))).as("kl"))
      .select(col("kl").getField("lam").as("lam_star"))
    per.crossJoin(broadcast(pick))
      .select(col("source"), col("supply").as("supply_tokens"),
        (lit(4L) * col("supply")).as("cap_tokens"),
        least(lit(4L) * col("supply"),
          coalesce(floor(col("lam_star") * sqrt(col("supply").cast("double"))).cast("long"),
            lit(4L) * col("supply"))).as("quota_tokens"))
      .withColumn("epochs_ppm",
        guardedPpm("x146 epochs_ppm", col("quota_tokens"), col("supply_tokens")))
      .withColumn("saturated",
        when(col("quota_tokens") === col("cap_tokens"), 1).otherwise(0))
  }

  /** x152: repeat-decay BUDGET SWEEP — x146's closed-form water-filling
    * priced at three token budgets (1.9× / 3.8× / 7.6× the corpus supply;
    * the paper's operating point and its halving/doubling): per
    * (budget, source), the quota, epoch count, and saturation flag. The
    * read a data-constrained scaling review wants before committing to a
    * budget: WHERE does saturation onset move as the budget grows (a
    * source saturated at 1.9× is data-constrained at any realistic
    * budget), and at 7.6× — past the 4-epoch ceiling's total — every row
    * saturates and the recipe is infeasible as specced, which the sweep
    * shows as a full saturated column instead of hiding it (λ has no
    * valid rung there; quotas land on the cap, exactly Muennighoff's
    * "more compute than useful data" regime).
    *
    * Exactness: x146's arithmetic VERBATIM per budget — the engine runs
    * the SAME [[waterFill]] the shipped recipe runs (RepeatBudgetSpec
    * pins the 38-rung ≡ x146 row for row); the oracle runs the same rung
    * machinery with every window PARTITION BY budget. The empty-valid-λ
    * branch (7.6×) is an aggregate-over-empty → NULL → cap on both
    * engines (FILTER-ed arg_min / when-guarded struct-min).
    *
    * Plan/scale: ONE corpus scan (the factored supply table checkpoints
    * once and all three budgets read it); everything after is
    * 3·|sources|-bounded arithmetic. */
  val repeatBudgetSweep = sql(
    "x152_repeat_budget_sweep",
    // plain (non-interpolated) string: \s reaches DuckDB as-is
    """WITH b AS (SELECT unnest([19, 38, 76]) AS b10),
      |w AS (SELECT source,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |per AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS supply FROM w GROUP BY source),
      |tot AS (SELECT b10, CAST(SUM(supply) * b10 // 10 AS BIGINT) AS budget
      |  FROM per CROSS JOIN b GROUP BY b10),
      |r1 AS (SELECT t.b10, source, supply, budget,
      |    4.0 * sqrt(CAST(supply AS DOUBLE)) AS satpoint,
      |    ROW_NUMBER() OVER (PARTITION BY t.b10 ORDER BY 4.0 * sqrt(CAST(supply AS DOUBLE)), source) AS k,
      |    CAST(SUM(supply) OVER (PARTITION BY t.b10 ORDER BY 4.0 * sqrt(CAST(supply AS DOUBLE)), source) AS BIGINT) AS cum_s,
      |    SUM(sqrt(CAST(supply AS DOUBLE))) OVER (PARTITION BY t.b10 ORDER BY 4.0 * sqrt(CAST(supply AS DOUBLE)), source) AS cum_sqrt
      |  FROM per CROSS JOIN tot t),
      |rungs AS (
      |  SELECT b10, k, budget, satpoint, cum_s, cum_sqrt FROM r1
      |  UNION ALL
      |  SELECT b10, 0, budget, CAST(NULL AS DOUBLE), CAST(0 AS BIGINT), 0.0 FROM tot),
      |ts AS (SELECT b10, MAX(cum_sqrt) AS tot_sqrt FROM rungs GROUP BY b10),
      |pr AS (SELECT r.b10, k, budget, satpoint, cum_s, cum_sqrt,
      |    LEAD(satpoint, 1) OVER (PARTITION BY r.b10 ORDER BY k) AS next_sat,
      |    tot_sqrt - cum_sqrt AS rest_sqrt
      |  FROM rungs r JOIN ts USING (b10)),
      |lm AS (SELECT b10, k, satpoint, next_sat,
      |    CASE WHEN rest_sqrt > 0.0
      |         THEN CAST(budget - 4 * cum_s AS DOUBLE) / rest_sqrt END AS lam
      |  FROM pr),
      |v AS (SELECT b10, k, lam,
      |    (lam IS NOT NULL AND (satpoint IS NULL OR satpoint < lam)
      |     AND (next_sat IS NULL OR lam <= next_sat)) AS valid FROM lm),
      |pick AS (SELECT b10, arg_min(lam, k) FILTER (WHERE valid) AS lam_star
      |  FROM v GROUP BY b10),
      |q AS (SELECT pick.b10, p.source, p.supply,
      |    LEAST(4 * p.supply,
      |      COALESCE(CAST(FLOOR(pick.lam_star * sqrt(CAST(p.supply AS DOUBLE))) AS BIGINT),
      |               4 * p.supply)) AS quota
      |  FROM per p CROSS JOIN pick)
      |SELECT CAST(b10 AS INTEGER) AS budget_x10, source, supply AS supply_tokens,
      |  CAST(4 * supply AS BIGINT) AS cap_tokens,
      |  CAST(quota AS BIGINT) AS quota_tokens,
      |  CAST(quota * 1000000 // supply AS BIGINT) AS epochs_ppm,
      |  CAST(CASE WHEN quota = 4 * supply THEN 1 ELSE 0 END AS INTEGER) AS saturated
      |FROM q ORDER BY budget_x10, source""".stripMargin) { (s, d) =>
    repeatBudgetSweepOf(docs(s, d)).orderBy("budget_x10", "source")
  }

  /** x152's engine over any (source, text) frame. */
  def repeatBudgetSweepOf(dd: DataFrame): DataFrame = {
    val per = repeatSupplyOf(dd) // checkpointed once; all three budgets read it
    Seq(19, 38, 76)
      .map(b => waterFill(per, b).withColumn("budget_x10", lit(b)))
      .reduce(_ unionByName _)
      .select("budget_x10", "source", "supply_tokens", "cap_tokens",
        "quota_tokens", "epochs_ppm", "saturated")
  }

  /** x147: dup-cluster size × quality LINK — per log2 cluster-size bucket
    * (x119's integer CASE ladder over the full-corpus x51 chain), the x64
    * composite-gate pass rate of the documents sitting in those clusters.
    * The cross-family readout dedup studies publish: if pass_ppm FALLS
    * with cluster size, duplication concentrates in boilerplate and
    * dedup + the gate agree about what to cut; if it RISES, the
    * duplicated mass is good text being over-represented and
    * survivor-selection (x107/x108), not dropping, is the right
    * treatment. x119 says how much mass sits at each size; this says
    * what that mass is WORTH.
    *
    * Exactness: pure integer counting on both engines (the gate is x64's
    * INTEGER verdict, cluster labels the proven hash-min CC); bucketing
    * is the x119 CASE ladder (floor-log2 without log2()'s boundary-ulp
    * gamble); pass_ppm a BIGINT floor division.
    *
    * Plan/scale: the x51 chain (its exchanges, unchanged) + ONE
    * doc-keyed equi-join attaching the row-local gate verdict, a
    * clusters-sized groupBy(rep), then a ≤ 21-row bucket rollup. */
  val dupQualityLink = sql(
    "x147_dup_quality_link",
    HashOracles.dupQualityLink(gatePassSql("toks"))) { (s, d) =>
    val bucketCase = (0 until 20)
      .map(b => s"WHEN sz < ${2L << b} THEN $b")
      .mkString("CASE ", " ", " ELSE 20 END")
    val chain = chainOf(docs(s, d))
    val gp = qualityGateOf(docs(s, d)).select("doc_id", "pass")
    val cq = chain.join(gp, Seq("doc_id"))
      .groupBy("rep").agg(count(lit(1)).as("sz"), sum("pass").as("n_pass"))
    cq.withColumn("bucket", expr(bucketCase).cast("int"))
      .groupBy("bucket").agg(
        count(lit(1)).as("n_clusters"),
        sum("sz").as("n_docs"),
        sum("n_pass").as("n_pass"))
      .select(col("bucket"),
        expr("CAST(POWER(2, bucket) AS BIGINT)").as("floor_size"),
        col("n_clusters"), col("n_docs"), col("n_pass"),
        guardedPpm("x147 pass_ppm", col("n_pass"), col("n_docs")).as("pass_ppm"))
      .orderBy("bucket")
  }

  /** x148: LM-score LENGTH-BIAS datasheet — per log2 bucket of n_trans
    * (document length in bigram transitions), the median and mean x62
    * score: the confound every score-thresholded gate must be read
    * against, because a bigram LM scores short documents on a handful of
    * transitions (high variance, systematically shifted mass) while long
    * ones regress to the corpus mean — threshold once globally and the
    * gate silently becomes a length filter. x135 cuts tertiles PER
    * LANGUAGE for the same reason; this table says whether a PER-LENGTH
    * correction is warranted too (CCNet buckets by length before
    * perplexity-filtering for exactly this effect).
    *
    * Exactness: score_ppm is x62's BIGINT floor-ppm; the median is a
    * value crossover over the (bucket, score_ppm) count table (x101's
    * mass-median rule — lower value wins even-count ties, identical both
    * engines); the mean is SUM div COUNT; buckets are the x119 integer
    * CASE ladder on n_trans.
    *
    * Plan/scale: the x62 chain, then EVERYTHING on the (bucket,
    * score_ppm) count table — bounded at ≤ 21·(10⁶+1) rows at any corpus
    * size (the x135 argument), so the crossover window never sees corpus
    * rows. */
  val scoreLengthBias = sql(
    "x148_score_length_bias",
    s"""WITH ${lmDocSql("lang")},
      |sco AS (SELECT doc_id, lang, n_trans, sum_f // n_trans AS score_ppm FROM doc),
      |bkt AS (SELECT n_trans, score_ppm,
      |    CAST(${(0 until 20).map(b => s"WHEN n_trans < ${2L << b} THEN $b")
        .mkString("CASE ", " ", " ELSE 20 END")} AS INTEGER) AS bucket
      |  FROM sco),
      |sc AS (SELECT bucket, score_ppm, CAST(COUNT(*) AS BIGINT) AS n FROM bkt GROUP BY 1, 2),
      |cm AS (SELECT bucket, score_ppm,
      |    SUM(n) OVER (PARTITION BY bucket ORDER BY score_ppm) AS cum,
      |    SUM(n) OVER (PARTITION BY bucket) AS tot FROM sc),
      |md AS (SELECT bucket, MIN(CASE WHEN 2*cum >= tot THEN score_ppm END) AS med FROM cm GROUP BY bucket),
      |ag AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(score_ppm) AS BIGINT) AS ssum FROM bkt GROUP BY bucket)
      |SELECT a.bucket, CAST(POWER(2, a.bucket) AS BIGINT) AS floor_trans,
      |  a.n_docs, CAST(m.med AS BIGINT) AS median_score_ppm,
      |  CAST(a.ssum // a.n_docs AS BIGINT) AS mean_score_ppm
      |FROM ag a JOIN md m ON m.bucket = a.bucket ORDER BY a.bucket""".stripMargin) { (s, d) =>
    scoreLengthBiasOf(docs(s, d)).orderBy("bucket")
  }

  /** x148's engine over any (doc_id, text) frame. */
  def scoreLengthBiasOf(dd: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketCase = (0 until 20)
      .map(b => s"WHEN n_trans < ${2L << b} THEN $b")
      .mkString("CASE ", " ", " ELSE 20 END")
    val b = lmScoreCore(dd, Nil)
      .withColumn("score_ppm", expr("sum_f div n_trans"))
      .withColumn("bucket", expr(bucketCase).cast("int"))
      .localCheckpoint(eager = false) // two consumers: count table + mean rollup
    val sc = b.groupBy("bucket", "score_ppm").agg(count(lit(1)).as("n"))
    val cm = sc
      .withColumn("cum", sum("n").over(
        Window.partitionBy("bucket").orderBy("score_ppm")))
      .withColumn("tot", sum("n").over(Window.partitionBy("bucket")))
    val md = cm.groupBy("bucket").agg(
      min(when(lit(2) * col("cum") >= col("tot"), col("score_ppm"))).as("med"))
    val ag = b.groupBy("bucket").agg(
      count(lit(1)).as("n_docs"), sum("score_ppm").as("ssum"))
    ag.join(md, Seq("bucket"))
      .select(col("bucket"),
        expr("CAST(POWER(2, bucket) AS BIGINT)").as("floor_trans"),
        col("n_docs"), col("med").cast("long").as("median_score_ppm"),
        expr("ssum div n_docs").as("mean_score_ppm"))
  }

  /** x149: DSIR-flavored importance GAP — which sources look like the
    * TARGET distribution (here: the x64 gate-passing subset, the cleanest
    * target the corpus itself defines)? Xie et al. 2023 ("Data Selection
    * for Language Models via Importance Resampling") select raw docs by
    * the log-ratio of target-vs-raw hashed-ngram likelihoods; this is the
    * exact-arithmetic analog on the x62 bigram features: per doc, the gap
    * between its mean TARGET-model transition probability and its mean
    * CORPUS-model transition probability (both floor-ppm BIGINTs), with
    * gap > 0 = "more target-like than corpus-average" as the selection
    * rule. Per source: scored docs, selected docs, selected token mass,
    * mean gap — the table that says which raw sources would survive a
    * DSIR-style cut and at what rate, BEFORE anyone spends a real encoder
    * on importance weights.
    *
    * Semantics pin: a transition UNSEEN in the target model contributes
    * probability 0 (no smoothing — the harshest, and only exactly-
    * replicable, convention; documented rather than hidden: a doc of
    * entirely-novel bigrams scores gap = −mean_corpus_prob, never NULL).
    *
    * Exactness: integer counts, two floor-ppm divisions per transition,
    * per-doc floor-div means, and the x145 +10⁶-offset trick for the
    * (possibly negative) mean gap — BIGINT end-to-end, both engines.
    *
    * Plan/scale (r19 collapse — r18 verdict item 1): the bigram explode
    * (pass riding the rows — x137's carry argument) runs exactly TWICE —
    * once inside the checkpointed (w1, w2, c2, t2) pair-count build, once
    * for the probe rows (re-exploding the probe beats materializing
    * token-grain rows — x62's trade). Both models come from that ONE
    * corpus-scale exchange: the context table is a vocab-bounded
    * re-aggregation of the checkpointed pair table, attached via the
    * counted [[guardedBroadcast]]. Everything after the doc rollup is
    * |sources|-sized. */
  val dsirImportance = sql(
    "x149_dsir_importance",
    // s-interpolated (gatePassSql) ⇒ '\\s+' so DuckDB receives \s+
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks,
      |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |g AS (SELECT doc_id, source, n_tok, toks, ${gatePassSql("toks")} AS pass FROM t),
      |bgk AS (SELECT doc_id, source, n_tok, pass, unnest(range(2, len(toks)+1)) AS i, toks FROM g),
      |bg AS (SELECT doc_id, source, n_tok, pass, toks[i-1] AS w1, toks[i] AS w2 FROM bgk),
      |cp AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
      |cc AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
      |tp AS (SELECT w1, w2, COUNT(*) AS t2 FROM bg WHERE pass = 1 GROUP BY 1, 2),
      |tc AS (SELECT w1, COUNT(*) AS t1 FROM bg WHERE pass = 1 GROUP BY 1),
      |px AS (SELECT bg.doc_id, bg.source, bg.n_tok,
      |    CAST(FLOOR(CAST(cp.c2 AS DOUBLE) / cc.c1 * 1000000) AS BIGINT) AS fc,
      |    CAST(COALESCE(FLOOR(CAST(tp.t2 AS DOUBLE) / tc.t1 * 1000000), 0) AS BIGINT) AS ft
      |  FROM bg JOIN cp USING (w1, w2) JOIN cc USING (w1)
      |  LEFT JOIN tp USING (w1, w2) LEFT JOIN tc USING (w1)),
      |doc AS (SELECT doc_id, source, n_tok, CAST(COUNT(*) AS BIGINT) AS n_trans,
      |    CAST(SUM(ft) AS BIGINT) AS sft, CAST(SUM(fc) AS BIGINT) AS sfc
      |  FROM px GROUP BY 1, 2, 3),
      |sc AS (SELECT source, n_tok, sft // n_trans - sfc // n_trans AS gap FROM doc)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_scored,
      |  CAST(SUM(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT) AS sel_docs,
      |  CAST(SUM(CASE WHEN gap > 0 THEN n_tok ELSE 0 END) AS BIGINT) AS sel_mass,
      |  CAST(CAST(SUM(gap + 1000000) AS BIGINT) // COUNT(*) - 1000000 AS BIGINT) AS mean_gap_ppm
      |FROM sc GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    dsirImportanceOf(docs(s, d)).orderBy("source")
  }

  /** x149's engine over any (doc_id, source, text) frame. */
  def dsirImportanceOf(dd: DataFrame): DataFrame = {
    val flags = qualityGateOf(
      dd.withColumn("n_tok", nTokOfText),
      keep = Seq("source", "n_tok", "text"))
      .select("doc_id", "source", "n_tok", "text", "pass")
    val bg = bigramsOf(flags, Seq("source", "n_tok", "pass"))
    // ONE corpus-scale exchange builds BOTH models (r18 verdict item 1 —
    // this was a top-3 bench row from birth at 4 corpus-scale aggregates):
    // the (w1, w2) group carries the corpus count AND the pass-split
    // target count in the same pass; both context tables re-aggregate the
    // checkpointed bigram-types-bounded pair table (c1 = Σ_w2 c2,
    // t1 = Σ_w2 t2 — exactly the old per-explode counts). Target-model
    // semantics preserved: a transition with no passing occurrence has
    // t2 = 0 → ft = 0 (the old LEFT-join NULL→0 coalesce), and t1 = 0 can
    // only co-occur with t2 = 0, guarded to ft = 0 rather than 0/0.
    val pairs = bg.groupBy("w1", "w2")
      .agg(count(lit(1)).as("c2"),
        sum(when(col("pass") === 1, 1L).otherwise(0L)).as("t2"))
      .localCheckpoint(eager = false)
    val ctx = pairs.groupBy("w1").agg(sum("c2").as("c1"), sum("t2").as("t1"))
    val px = bg.join(pairs, Seq("w1", "w2"))
      .join(guardedBroadcast(ctx), Seq("w1"))
      .withColumn("fc", floor(col("c2").cast("double") / col("c1") * 1e6))
      .withColumn("ft", when(col("t1") > 0,
        floor(col("t2").cast("double") / col("t1") * 1e6)).otherwise(lit(0L)))
    val doc = px.groupBy("doc_id", "source", "n_tok")
      .agg(count(lit(1)).as("n_trans"), sum("ft").as("sft"), sum("fc").as("sfc"))
      .withColumn("gap", expr("sft div n_trans - sfc div n_trans"))
    doc.groupBy("source").agg(
        count(lit(1)).as("n_scored"),
        sum(when(col("gap") > 0, 1L).otherwise(0L)).as("sel_docs"),
        sum(when(col("gap") > 0, col("n_tok")).otherwise(0L)).as("sel_mass"),
        sum(col("gap") + lit(1000000L)).as("sgo"))
      .select(col("source"), col("n_scored"), col("sel_docs"), col("sel_mass"),
        expr("sgo div n_scored - CAST(1000000 AS BIGINT)").as("mean_gap_ppm"))
  }

  /** x153: source-vs-corpus LM DIVERGENCE — how DISTINCT is each source's
    * language, measured on the x62 bigram features: per transition
    * instance, the gap between the probability its OWN source's model
    * assigns it and the pooled corpus model's (both floor-ppm BIGINTs);
    * per source, the mean |gap| (instance-weighted L1 divergence between
    * the conditionals — the domain-distinctiveness number) and the mean
    * signed gap (positive = the source's own transitions are more
    * predictable in-domain than the pool finds them, i.e. a real domain;
    * ≈ 0 = the source is distributionally redundant with the pool and its
    * separate mixture weight buys nothing). The mixture-design companion
    * to x149: x149 asks "is this source target-like?", this asks "is this
    * source ITS OWN thing?" — together they say whether to upweight,
    * merge, or drop a raw feed.
    *
    * Exactness: integer counts, two floor-ppm divisions per transition,
    * BIGINT sums (exact to ~9·10¹² transitions/source — the x141 bound;
    * past it Spark-ANSI and DuckDB both raise on the sum), the x145
    * +10⁶-offset trick for the signed mean; |gap| mean is a plain
    * non-negative floor-div.
    *
    * Plan/scale (r19 collapse — r18 verdict item 1): the bigram explode
    * (source riding — x137's carry argument) runs exactly ONCE, into the
    * checkpointed (source, w1, w2, s2) pair-count table; every model —
    * corpus pair, corpus ctx, source ctx — is a re-aggregation of that
    * bounded frame, and because the per-INSTANCE gap is a pure function
    * of (source, w1, w2), the instance-weighted rollup is the s2-weighted
    * rollup over the same table: Σ_inst gap ≡ Σ_key s2·gap, exactly. No
    * probe join, no second corpus pass, never a corpus self-join; the
    * corpus ctx attaches via the counted [[guardedBroadcast]]. Output is
    * |sources| rows. */
  val sourceLmDivergence = sql(
    "x153_source_lm_divergence",
    """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
      |bgk AS (SELECT doc_id, source, unnest(range(2, len(toks)+1)) AS i, toks FROM t),
      |bg AS (SELECT doc_id, source, toks[i-1] AS w1, toks[i] AS w2 FROM bgk),
      |cp AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
      |cc AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
      |sp AS (SELECT source, w1, w2, COUNT(*) AS s2 FROM bg GROUP BY 1, 2, 3),
      |sc AS (SELECT source, w1, COUNT(*) AS s1 FROM bg GROUP BY 1, 2),
      |px AS (SELECT bg.source,
      |    CAST(FLOOR(CAST(sp.s2 AS DOUBLE) / sc.s1 * 1000000) AS BIGINT)
      |      - CAST(FLOOR(CAST(cp.c2 AS DOUBLE) / cc.c1 * 1000000) AS BIGINT) AS gap
      |  FROM bg JOIN cp USING (w1, w2) JOIN cc USING (w1)
      |  JOIN sp USING (source, w1, w2) JOIN sc USING (source, w1))
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_trans,
      |  CAST(CAST(SUM(ABS(gap)) AS BIGINT) // COUNT(*) AS BIGINT) AS mean_abs_gap_ppm,
      |  CAST(CAST(SUM(gap + 1000000) AS BIGINT) // COUNT(*) - 1000000 AS BIGINT) AS mean_gap_ppm
      |FROM px GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    sourceLmDivergenceOf(docs(s, d)).orderBy("source")
  }

  /** x153's engine over any (doc_id, source, text) frame. */
  def sourceLmDivergenceOf(dd: DataFrame): DataFrame = {
    val bg = bigramsOf(dd.select("doc_id", "source", "text"), Seq("source"))
    // the ONE corpus-scale exchange; every model and the final rollup are
    // re-aggregations of this bounded table (see the plan note above)
    val sp = bg.groupBy("source", "w1", "w2").agg(count(lit(1)).as("s2"))
      .localCheckpoint(eager = false)
    val cp = sp.groupBy("w1", "w2").agg(sum("s2").as("c2"))
    val cc = sp.groupBy("w1").agg(sum("s2").as("c1"))
    val sc = sp.groupBy("source", "w1").agg(sum("s2").as("s1"))
    val px = sp.join(cp, Seq("w1", "w2"))
      .join(guardedBroadcast(cc), Seq("w1"))
      .join(sc, Seq("source", "w1"))
      .withColumn("gap",
        floor(col("s2").cast("double") / col("s1") * 1e6)
          - floor(col("c2").cast("double") / col("c1") * 1e6))
    // instance-weighted ≡ s2-weighted: gap is constant per (source, w1, w2)
    px.groupBy("source").agg(
        sum("s2").as("n_trans"),
        sum(abs(col("gap")) * col("s2")).as("sa"),
        sum((col("gap") + lit(1000000L)) * col("s2")).as("sgo"))
      .select(col("source"), col("n_trans"),
        expr("sa div n_trans").as("mean_abs_gap_ppm"),
        expr("sgo div n_trans - CAST(1000000 AS BIGINT)").as("mean_gap_ppm"))
  }

  /** x151: gate-rule ABLATION datasheet — per (source, rule), what each of
    * x64's four composite-gate rules actually does: n_fail (docs the rule
    * rejects, alone or not), n_only (docs ONLY this rule rejects — a rule
    * with n_only = 0 everywhere is redundant and can be dropped from the
    * gate without changing one verdict), n_cascade (docs first rejected AT
    * this rule in x64's fixed len → wlen → rep → stop order — the
    * waterfall attribution quality-filter ablations publish, cf. Gopher /
    * CCNet appendix tables), and fail_mass (the token mass the rule
    * condemns, x112 count). x64 says WHO passes; this says WHICH rule did
    * the cutting and what it cost — the table a gate-threshold review
    * reads before touching any bound.
    *
    * Exactness: pure integer counting off x64's own per-rule verdict
    * columns (the engine reuses [[qualityGateOf]] verbatim, so the rules
    * CANNOT drift from the gate; the oracle re-derives them with x64's
    * oracle expressions); token mass is the shared x112 trim/\s+ count
    * (MixtureReconciliationSpec's convention).
    *
    * Plan/scale: ONE corpus scan (the gate is row-local codegen), one
    * |sources|-row grouped aggregate, then a 4-way unionByName of
    * |sources|-row projections — the melt is over the BOUNDED aggregate,
    * never the corpus. */
  val gateAblation = sql(
    "x151_gate_ablation",
    // plain (non-interpolated) string: \s reaches DuckDB as-is
    """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS toks,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |s AS (SELECT doc_id, source, n_tok, len(toks) AS n_words,
      |    CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
      |      / len(toks) AS mean_wlen,
      |    CASE WHEN len(toks) < 2 THEN CAST(0.0 AS DOUBLE) ELSE
      |      1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
      |        i -> toks[i] || ' ' || toks[i + 1]))) AS DOUBLE) / (len(toks) - 1) END
      |      AS dup_bigram_frac,
      |    len(list_filter(toks, t -> t = 'the' OR t = 'a')) AS stop_hits
      |  FROM w),
      |f AS (SELECT source, n_tok,
      |    1 - CAST(n_words BETWEEN 25 AND 5000 AS INTEGER) AS f_len,
      |    1 - CAST(mean_wlen BETWEEN 4.0 AND 5.0 AS INTEGER) AS f_wlen,
      |    1 - CAST(dup_bigram_frac <= CAST(0.08 AS DOUBLE) AS INTEGER) AS f_rep,
      |    1 - CAST(stop_hits >= 2 AS INTEGER) AS f_stop
      |  FROM s),
      |a AS (SELECT source,
      |    CAST(SUM(f_len) AS BIGINT) AS fail_len,
      |    CAST(SUM(f_wlen) AS BIGINT) AS fail_wlen,
      |    CAST(SUM(f_rep) AS BIGINT) AS fail_rep,
      |    CAST(SUM(f_stop) AS BIGINT) AS fail_stop,
      |    CAST(SUM(CASE WHEN f_len = 1 AND f_wlen + f_rep + f_stop = 0 THEN 1 ELSE 0 END) AS BIGINT) AS only_len,
      |    CAST(SUM(CASE WHEN f_wlen = 1 AND f_len + f_rep + f_stop = 0 THEN 1 ELSE 0 END) AS BIGINT) AS only_wlen,
      |    CAST(SUM(CASE WHEN f_rep = 1 AND f_len + f_wlen + f_stop = 0 THEN 1 ELSE 0 END) AS BIGINT) AS only_rep,
      |    CAST(SUM(CASE WHEN f_stop = 1 AND f_len + f_wlen + f_rep = 0 THEN 1 ELSE 0 END) AS BIGINT) AS only_stop,
      |    CAST(SUM(f_len) AS BIGINT) AS casc_len,
      |    CAST(SUM(CASE WHEN f_wlen = 1 AND f_len = 0 THEN 1 ELSE 0 END) AS BIGINT) AS casc_wlen,
      |    CAST(SUM(CASE WHEN f_rep = 1 AND f_len = 0 AND f_wlen = 0 THEN 1 ELSE 0 END) AS BIGINT) AS casc_rep,
      |    CAST(SUM(CASE WHEN f_stop = 1 AND f_len + f_wlen + f_rep = 0 THEN 1 ELSE 0 END) AS BIGINT) AS casc_stop,
      |    CAST(SUM(CASE WHEN f_len = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS mass_len,
      |    CAST(SUM(CASE WHEN f_wlen = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS mass_wlen,
      |    CAST(SUM(CASE WHEN f_rep = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS mass_rep,
      |    CAST(SUM(CASE WHEN f_stop = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS mass_stop
      |  FROM f GROUP BY source)
      |SELECT source, 'len' AS rule, fail_len AS n_fail, only_len AS n_only,
      |  casc_len AS n_cascade, mass_len AS fail_mass FROM a
      |UNION ALL SELECT source, 'wlen', fail_wlen, only_wlen, casc_wlen, mass_wlen FROM a
      |UNION ALL SELECT source, 'rep', fail_rep, only_rep, casc_rep, mass_rep FROM a
      |UNION ALL SELECT source, 'stop', fail_stop, only_stop, casc_stop, mass_stop FROM a
      |ORDER BY source, rule""".stripMargin) { (s, d) =>
    gateAblationOf(docs(s, d)).orderBy("source", "rule")
  }

  /** x151's WIDE per-source aggregate — one groupBy of 16 integer-sum
    * monoids, factored out so the streaming twin
    * ([[graft.streaming.DocStream.gateAblationUpdates]]) can run it as a
    * single stateful streaming aggregation (the 4-way melt below would be
    * a union of aggregations, which streaming forbids; it is a read-side
    * reshape anyway). */
  private[graft] def gateAblationWideOf(dd: DataFrame): DataFrame = {
    val flags = qualityGateOf(
      dd.withColumn("n_tok", nTokOfText),
      keep = Seq("source", "n_tok"))
      .select(col("source"), col("n_tok"),
        (lit(1) - col("r_len")).as("f_len"), (lit(1) - col("r_wlen")).as("f_wlen"),
        (lit(1) - col("r_rep")).as("f_rep"), (lit(1) - col("r_stop")).as("f_stop"))
    def cnt(c: Column): Column = sum(c.cast("long"))
    val others = Map(
      "len" -> (col("f_wlen") + col("f_rep") + col("f_stop")),
      "wlen" -> (col("f_len") + col("f_rep") + col("f_stop")),
      "rep" -> (col("f_len") + col("f_wlen") + col("f_stop")),
      "stop" -> (col("f_len") + col("f_wlen") + col("f_rep")))
    // x64's fixed rule order is the cascade order: a doc attributes to the
    // FIRST rule that rejects it
    val before = Map(
      "len" -> lit(0), "wlen" -> col("f_len"),
      "rep" -> (col("f_len") + col("f_wlen")),
      "stop" -> (col("f_len") + col("f_wlen") + col("f_rep")))
    val aggs = gateRules.flatMap { r =>
      Seq(
        cnt(col(s"f_$r")).as(s"fail_$r"),
        cnt(when(col(s"f_$r") === 1 && others(r) === 0, 1).otherwise(0)).as(s"only_$r"),
        cnt(when(col(s"f_$r") === 1 && before(r) === 0, 1).otherwise(0)).as(s"casc_$r"),
        sum(when(col(s"f_$r") === 1, col("n_tok")).otherwise(0L)).as(s"mass_$r"))
    }
    flags.groupBy("source").agg(aggs.head, aggs.tail: _*)
  }

  /** The (source, rule) melt of [[gateAblationWideOf]] — a reshape of the
    * bounded aggregate, shared by x151 and the streaming twin's read side. */
  private[graft] def gateAblationMelt(wide: DataFrame): DataFrame =
    gateRules.map { r =>
      wide.select(col("source"), lit(r).as("rule"),
        col(s"fail_$r").as("n_fail"), col(s"only_$r").as("n_only"),
        col(s"casc_$r").as("n_cascade"), col(s"mass_$r").as("fail_mass"))
    }.reduce(_ unionByName _)

  /** x151's engine over any (doc_id, source, text) frame. */
  def gateAblationOf(dd: DataFrame): DataFrame =
    gateAblationMelt(gateAblationWideOf(dd))

  /** x154: token-ACCOUNTING sensitivity — the mixture-design confound
    * x123/x105 measure per lang/source, priced at RECIPE level: every
    * quota recipe here (x128/x129/x137/x141/x146) prices per-source mass
    * in WHITESPACE tokens, but the training loader spends BPE tokens —
    * and fertility differs by source (x105), so the same √-flattened
    * budget lands differently depending on the accounting unit. Per
    * source: both masses, the fertility (bpe per 10⁶ ws), the x128-form
    * 10⁹-budget quota under EACH unit, and shift_ppm — how far the
    * source's quota moves if the recipe switched units. A |shift| in the
    * tens of thousands of ppm says the recipe review must pick its unit
    * deliberately; ≈ 0 says the choice is free.
    *
    * Exactness: both masses are exact BIGINTs (the x112 count; the x103
    * native-kernel token count ≡ the oracle's recursive-CTE encode —
    * BpeEncodeSpec's pinned equivalence); each Σ√ is array-sorted
    * (x128's order-free-exactness move); quotas are FLOOR of the same
    * doubles; fert/shift are guarded/offset floor-ppm divisions
    * (shift = bpe_quota·10⁶ div ws_quota − 10⁶ keeps both operands
    * non-negative; a floored-to-zero ws_quota pins shift to 0).
    *
    * Plan/scale: ONE corpus scan computes both masses (the merge table
    * rides broadcast, the kernel is row-local codegen); everything after
    * is |sources|-sized with broadcast totals. */
  val tokenAccounting = sql(
    "x154_token_accounting",
    s"""WITH RECURSIVE ${bpeOracleLearnSql(carryW = true)},
      |${bpeOracleMergeCte(3, "w2", "b3", carryW = true)},
      |venc AS (SELECT w, trim(s) AS ts FROM w3),
      |dw AS (SELECT doc_id, source, ws, unnest(range(1, len(ws)+1)) AS pos
      |  FROM (SELECT doc_id, source, list_filter(string_split_regex(trim(text), '\\s+'), x -> length(x) > 0) AS ws
      |        FROM documents) q
      |  WHERE len(ws) > 0),
      |wt AS (SELECT d.doc_id, d.source,
      |    CAST(len(string_split(v.ts, ' ')) AS BIGINT) AS n_toks
      |  FROM dw d JOIN venc v ON v.w = d.ws[d.pos]),
      |bmass AS (SELECT source, CAST(SUM(n_toks) AS BIGINT) AS bpe_mass FROM wt GROUP BY source),
      |wmass AS (SELECT source,
      |    CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS ws_mass
      |  FROM documents GROUP BY source),
      |per AS (SELECT w.source, w.ws_mass, COALESCE(b.bpe_mass, 0) AS bpe_mass
      |  FROM wmass w LEFT JOIN bmass b USING (source)),
      |tot AS (SELECT
      |    list_sum(list_sort(list(sqrt(CAST(ws_mass AS DOUBLE))))) AS sws,
      |    list_sum(list_sort(list(sqrt(CAST(bpe_mass AS DOUBLE))))) AS sbpe
      |  FROM per),
      |q AS (SELECT p.source, p.ws_mass, p.bpe_mass,
      |    CAST(FLOOR(1000000000 * sqrt(CAST(p.ws_mass AS DOUBLE)) / t.sws) AS BIGINT) AS ws_quota,
      |    CAST(FLOOR(1000000000 * sqrt(CAST(p.bpe_mass AS DOUBLE)) / t.sbpe) AS BIGINT) AS bpe_quota
      |  FROM per p CROSS JOIN tot t)
      |SELECT source, ws_mass, bpe_mass,
      |  CAST(bpe_mass * 1000000 // ws_mass AS BIGINT) AS fert_ppm,
      |  ws_quota, bpe_quota,
      |  CAST(CASE WHEN ws_quota = 0 THEN 0
      |       ELSE bpe_quota * 1000000 // ws_quota - 1000000 END AS BIGINT) AS shift_ppm
      |FROM q ORDER BY source""".stripMargin) { (s, d) =>
    val per = docs(s, d)
      .crossJoin(bpeMergeTable(s, d))
      .select(col("source"),
        nTokOfText.as("n_ws"),
        size(expr("graft_bpe_tokens(text, merges)")).cast("long").as("n_bpe"))
      .groupBy("source")
      .agg(sum("n_ws").as("ws_mass"), sum("n_bpe").as("bpe_mass"))
      .localCheckpoint(eager = false) // bounded; totals + output read it
    val tot = per.agg(
      aggregate(array_sort(collect_list(sqrt(col("ws_mass").cast("double")))),
        lit(0.0), (a, x) => a + x).as("sws"),
      aggregate(array_sort(collect_list(sqrt(col("bpe_mass").cast("double")))),
        lit(0.0), (a, x) => a + x).as("sbpe"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("ws_mass"), col("bpe_mass"),
        guardedPpm("x154 fert_ppm", col("bpe_mass"), col("ws_mass")).as("fert_ppm"),
        floor(lit(1000000000L) * sqrt(col("ws_mass").cast("double")) / col("sws"))
          .cast("long").as("ws_quota"),
        floor(lit(1000000000L) * sqrt(col("bpe_mass").cast("double")) / col("sbpe"))
          .cast("long").as("bpe_quota"))
      .withColumn("shift_ppm",
        when(col("ws_quota") === 0L, 0L)
          .otherwise(expr("bpe_quota * CAST(1000000 AS BIGINT) div ws_quota") - lit(1000000L)))
      .orderBy("source")
  }

  /** x155: contamination census BY BENCHMARK SUITE — x35 answers "which
    * train docs share 5-grams with the held-out set"; a production decon
    * review asks the per-SUITE question: which eval suite leaks into
    * which source, and how badly — because the remediation differs (a
    * suite-specific crawl ancestor gets source-level excision, a broad
    * smear gets gram-level filtering; cf. the per-benchmark overlap
    * tables in GPT-3 §4 / PaLM app. C). The held-out docs partition into
    * three pseudo-suites by the x31 hash-digit ladder (deterministic,
    * engine-neutral); per (suite, source): train docs, contaminated
    * train docs (a doc counts ONCE per suite however many grams hit),
    * hit ppm. Every (suite, source) cell is present — a zero row is the
    * auditable "checked, clean" the release sheet needs.
    *
    * Exactness: integer counting on md5-derived partitions (the x35/x31
    * conventions); DISTINCT-per-(doc, suite) before the rollup; ppm a
    * guarded floor division.
    *
    * Plan/scale: ONE gram explode (x35's fiveGramsOf), the test side
    * attached via the counted [[guardedBroadcast]] — a REAL eval suite is
    * bounded and broadcasts, but this query's corpus-derived hash-ladder
    * test split is ~12.5% OF THE CORPUS, so its distinct gram set grows
    * linearly and must fall to the shuffled path past the guard (the r18
    * advice item; the old unconditional hint was exactly the 8 GB
    * broadcast-cap failure at 100 TB) — then a distinct at (train doc,
    * suite) grain, |sources|·3 output rows via a bounded cross of
    * sources × suites. */
  val contaminationBySuite = sql(
    "x155_contamination_by_suite",
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd'
      |         THEN 'train' ELSE 'test' END AS split,
      |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 2, 1) <= '4' THEN 'suiteA'
      |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 2, 1) <= '9' THEN 'suiteB'
      |         ELSE 'suiteC' END AS suite,
      |    string_split(text, ' ') AS t
      |  FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, source, split, suite, array_to_string(t[i+1:i+5], ' ') AS g
      |  FROM toks, UNNEST(range(greatest(len(t) - 4, 0))) AS u(i)),
      |hits AS (
      |  SELECT DISTINCT tr.doc_id, tr.source, te.suite
      |  FROM grams tr JOIN grams te ON tr.g = te.g
      |  WHERE tr.split = 'train' AND te.split = 'test'),
      |trn AS (SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_train
      |  FROM toks WHERE split = 'train' GROUP BY source),
      |suites AS (SELECT unnest(['suiteA', 'suiteB', 'suiteC']) AS suite),
      |agg AS (SELECT suite, source, CAST(COUNT(*) AS BIGINT) AS n_hit
      |  FROM hits GROUP BY suite, source)
      |SELECT s.suite, t.source, t.n_train,
      |  COALESCE(a.n_hit, 0) AS n_hit,
      |  CAST(COALESCE(a.n_hit, 0) * 1000000 // t.n_train AS BIGINT) AS hit_ppm
      |FROM trn t CROSS JOIN suites s
      |LEFT JOIN agg a ON a.suite = s.suite AND a.source = t.source
      |ORDER BY s.suite, t.source""".stripMargin) { (s, d) =>
    contaminationBySuiteOf(docs(s, d)).orderBy("suite", "source")
  }

  /** x155's engine over any (doc_id, source, text) frame. */
  def contaminationBySuiteOf(dd: DataFrame): DataFrame = {
    val base = dd.select(col("doc_id"), col("source"),
      when(substring(md5(col("doc_id").cast("string")), 1, 1) <= "d", "train")
        .otherwise("test").as("split"),
      when(substring(md5(col("doc_id").cast("string")), 2, 1) <= "4", "suiteA")
        .when(substring(md5(col("doc_id").cast("string")), 2, 1) <= "9", "suiteB")
        .otherwise("suiteC").as("suite"),
      col("text"))
    // r21 OPTIMIZATION (guide §2.3/§3.2 — the x136 seeds move): the gram
    // table used to be corpus-wide DISTINCTed and then doc_id-joined to
    // base at gram grain before the eval probe. Neither exchange is
    // needed: the final hits distinct on (doc_id, suite) absorbs raw-gram
    // duplicates (so the (doc_id, g) dedup adds nothing), suite is a pure
    // doc_id expression (rides the exploded rows for free), and source is
    // functionally dependent on doc_id, so it attaches AFTER the
    // broadcast probe + distinct, at hits grain. The eval side's
    // (g, suite) distinct is unchanged by (doc_id, g) dedup.
    val hits = rawFiveGramsOf(base.filter(col("split") === "train")
        .select("doc_id", "text"))
      .join(guardedBroadcast(
        rawFiveGramsOf(base.filter(col("split") === "test")
            .select("doc_id", "suite", "text"), carry = Seq("suite"))
          .select(col("g"), col("suite")).distinct()), Seq("g"))
      .select("doc_id", "suite").distinct()
      .join(base.select("doc_id", "source"), Seq("doc_id"))
      .select("doc_id", "source", "suite")
    val trn = base.filter(col("split") === "train")
      .groupBy("source").agg(count(lit(1)).as("n_train"))
    val suites = {
      import dd.sparkSession.implicits._
      Seq("suiteA", "suiteB", "suiteC").toDF("suite")
    }
    val agg = hits.groupBy("suite", "source").agg(count(lit(1)).as("n_hit"))
    trn.crossJoin(broadcast(suites))
      .join(agg, Seq("suite", "source"), "left")
      .na.fill(0L, Seq("n_hit"))
      .select(col("suite"), col("source"), col("n_train"), col("n_hit"),
        guardedPpm("x155 hit_ppm", col("n_hit"), col("n_train")).as("hit_ppm"))
  }

  /** x156: dedup SURVIVORSHIP-BIAS datasheet — did dedup change each
    * source's QUALITY MIX? Per source: the x64 gate pass rate over ALL
    * docs vs over the x51 keep-min-id survivors, and the signed delta.
    * The number the dedup-ablation literature reads (and x147 buckets by
    * cluster size): delta > 0 = duplication concentrated in gate-failing
    * boilerplate, dedup improved the source; delta < 0 = dedup is
    * deleting good text (over-aggressive banding, or quality mass that
    * happens to be duplicated) and survivor policy needs review (x107's
    * keep-best instead of keep-min-id). A source with ZERO survivors
    * (every doc clustered under another source's rep) pins
    * pass_ppm_surv = 0 with delta = −pass_ppm_all — visible, not NULL.
    *
    * Exactness: the proven x51 chain + x64 integer verdicts; two
    * floor-ppm divisions and an exact BIGINT difference of two already-
    * floored ppms (no signed division anywhere).
    *
    * Plan/scale: the x51 chain (its exchanges, unchanged) + ONE
    * doc-keyed join attaching (source, pass) from the gate's single
    * corpus scan; survivors via a clusters-sized min + a semi join;
    * |sources|-row rollups. */
  val dedupSurvivorship = sql(
    "x156_dedup_survivorship",
    HashOracles.dedupSurvivorship(gatePassSql("toks"))) { (s, d) =>
    val chain = chainOf(docs(s, d))
    val gp = qualityGateOf(docs(s, d), keep = Seq("source"))
      .select("doc_id", "source", "pass")
    val cq = chain.join(gp, Seq("doc_id"))
      .localCheckpoint(eager = false) // three consumers: surv, all, surv-agg
    val surv = cq.groupBy("rep").agg(min("doc_id").as("doc_id"))
    val allAgg = cq.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("pass").cast("long").as("n_pass"))
    val svAgg = cq.join(surv, Seq("rep", "doc_id"), "left_semi")
      .groupBy("source")
      .agg(count(lit(1)).as("n_surv"), sum("pass").cast("long").as("n_surv_pass"))
    allAgg.join(svAgg, Seq("source"), "left")
      .na.fill(0L, Seq("n_surv", "n_surv_pass"))
      .withColumn("pass_ppm_all",
        guardedPpm("x156 pass_ppm_all", col("n_pass"), col("n_docs")))
      .withColumn("pass_ppm_surv",
        when(col("n_surv") === 0L, 0L)
          .otherwise(guardedPpm("x156 pass_ppm_surv", col("n_surv_pass"), col("n_surv"))))
      .withColumn("delta_ppm", col("pass_ppm_surv") - col("pass_ppm_all"))
      .select("source", "n_docs", "n_pass", "n_surv", "n_surv_pass",
        "pass_ppm_all", "pass_ppm_surv", "delta_ppm")
      .orderBy("source")
  }

  /** The 6 unordered pairs of x64's four gate rules, in the fixed
    * (len, wlen, rep, stop) order — shared by x157's engine and oracle so
    * the pair enumeration cannot drift. */
  private val gateRulePairs: Seq[(String, String)] =
    for (i <- gateRules.indices; j <- (i + 1) until gateRules.size)
      yield (gateRules(i), gateRules(j))

  /** x157: gate-rule AGREEMENT matrix — x151 prices each rule's marginal
    * effect (n_only / cascade attribution); this prices their REDUNDANCY:
    * for every pair of x64's four rules, the joint verdict counts, the
    * raw agreement rate, and Cohen's κ (agreement corrected for chance —
    * the number that says whether two rules measure the same thing or
    * merely both pass most docs). A pair with κ ≈ 1 is one rule wearing
    * two names (drop one, x151 will show n_only ≈ 0 too); κ ≈ 0 pairs are
    * independent signals; κ < 0 pairs disagree more than chance — the
    * fingerprint of a threshold aimed at the wrong population. The rule-
    * correlation table quality-filter ablations (Gopher table A6 class)
    * publish next to the waterfall.
    *
    * Exactness: integer joint counts from one pass; agreement and the κ
    * ingredients are floor-ppm BIGINTs. κ's convention (documented, both
    * engines): chance agreement p_e is computed FROM the floored ppm
    * marginals (exactly replicable; ≤ 2ppm from the real rational), and
    * κ_ppm = (agree−pe)·10⁶ div (10⁶−pe) with MAGNITUDE floor-div and the
    * sign attached: on the split-sign form both engines see only
    * NON-NEGATIVE operands, where integral division is unambiguous, so
    * the convention never has to depend on either engine's
    * negative-division choice. (Empirically the two already agree —
    * x150's signed centroid floor-divs hash-match on hundreds of negative
    * non-divisible cells — so this is convention pinning, not a bug
    * dodge; r19 self-review corrected an earlier claim here that DuckDB
    * `//` floors where Spark `div` truncates.) pe = 10⁶ (a constant
    * verdict pair) pins κ = 0, never a 0/0.
    *
    * Plan/scale: qualityGateOf's row-local verdicts → ONE partial-final
    * corpus aggregate carrying all 4 marginals and 12 joint cells → a
    * 6-projection union over the checkpointed 1-row frame (x137's
    * bounded-union stance). No join, no window, no second scan. */
  val gateRuleAgreement = sql(
    "x157_gate_rule_agreement", {
      val joint = gateRulePairs.map { case (a, b) =>
        s"    CAST(SUM(r_$a * r_$b) AS BIGINT) AS bp_${a}_$b,\n" +
          s"    CAST(SUM((1 - r_$a) * (1 - r_$b)) AS BIGINT) AS bf_${a}_$b"
      }.mkString(",\n")
      val marginals = gateRules
        .map(r => s"    CAST(SUM(r_$r) AS BIGINT) AS p_$r").mkString(",\n")
      val branches = gateRulePairs.map { case (a, b) =>
        s"  SELECT '$a' AS rule_a, '$b' AS rule_b, n_docs, p_$a AS pass_a," +
          s" p_$b AS pass_b, bp_${a}_$b AS both_pass, bf_${a}_$b AS both_fail FROM a"
      }.mkString("\n  UNION ALL\n")
      // per-rule verdicts from the ONE shared spelling (gateRulePredSql) —
      // r19 advice: this block was a hand-inlined second copy of all four
      val ruleCols = gateRules.map(r =>
        s"    CAST(${gateRulePredSql(r, "toks")} AS INTEGER) AS r_$r").mkString(",\n")
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |""".stripMargin + ruleCols + """
        |  FROM w),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |""".stripMargin + marginals + ",\n" + joint + "\n  FROM s),\nu AS (\n" +
        branches + """
        |),
        |m AS (SELECT *,
        |    (both_pass + both_fail) * 1000000 // n_docs AS agree_ppm,
        |    ((pass_a * 1000000 // n_docs) * (pass_b * 1000000 // n_docs)
        |     + ((n_docs - pass_a) * 1000000 // n_docs)
        |       * ((n_docs - pass_b) * 1000000 // n_docs)) // 1000000 AS pe_ppm
        |  FROM u)
        |SELECT rule_a, rule_b, n_docs, pass_a, pass_b, both_pass, both_fail,
        |  CAST(agree_ppm AS BIGINT) AS agree_ppm, CAST(pe_ppm AS BIGINT) AS pe_ppm,
        |  CAST(CASE WHEN pe_ppm = 1000000 THEN 0
        |       WHEN agree_ppm >= pe_ppm
        |         THEN (agree_ppm - pe_ppm) * 1000000 // (1000000 - pe_ppm)
        |       ELSE -((pe_ppm - agree_ppm) * 1000000 // (1000000 - pe_ppm))
        |  END AS BIGINT) AS kappa_ppm
        |FROM m ORDER BY rule_a, rule_b""".stripMargin
    }) { (s, d) =>
    gateRuleAgreementOf(docs(s, d)).orderBy("rule_a", "rule_b")
  }

  /** x157's engine over any (doc_id, text) frame. */
  def gateRuleAgreementOf(dd: DataFrame): DataFrame = {
    val g = qualityGateOf(dd).select("doc_id", "r_len", "r_wlen", "r_rep", "r_stop")
    val marginals = Seq("len", "wlen", "rep", "stop")
      .map(r => sum(col(s"r_$r")).cast("long").as(s"p_$r"))
    val joint = gateRulePairs.flatMap { case (a, b) => Seq(
      sum(col(s"r_$a") * col(s"r_$b")).cast("long").as(s"bp_${a}_$b"),
      sum((lit(1) - col(s"r_$a")) * (lit(1) - col(s"r_$b"))).cast("long").as(s"bf_${a}_$b"))
    }
    val aggs = marginals ++ joint
    val one = g.agg(count(lit(1)).as("n_docs"), aggs: _*)
      .localCheckpoint(eager = false) // 1 row; 6 projection consumers
    val rows = gateRulePairs.map { case (a, b) =>
      one.select(lit(a).as("rule_a"), lit(b).as("rule_b"), col("n_docs"),
        col(s"p_$a").as("pass_a"), col(s"p_$b").as("pass_b"),
        col(s"bp_${a}_$b").as("both_pass"), col(s"bf_${a}_$b").as("both_fail"))
    }.reduce(_ unionAll _)
    rows
      .withColumn("agree_ppm",
        guardedPpm("x157 agree_ppm", col("both_pass") + col("both_fail"), col("n_docs")))
      .withColumn("pe_ppm", call_function("div",
        guardedPpm("x157 pa", col("pass_a"), col("n_docs"))
          * guardedPpm("x157 pb", col("pass_b"), col("n_docs"))
          + guardedPpm("x157 qa", col("n_docs") - col("pass_a"), col("n_docs"))
          * guardedPpm("x157 qb", col("n_docs") - col("pass_b"), col("n_docs")),
        lit(1000000L)))
      .withColumn("kappa_ppm",
        when(col("pe_ppm") === 1000000L, lit(0L))
          .when(col("agree_ppm") >= col("pe_ppm"), call_function("div",
            (col("agree_ppm") - col("pe_ppm")) * lit(1000000L),
            lit(1000000L) - col("pe_ppm")))
          .otherwise(-call_function("div",
            (col("pe_ppm") - col("agree_ppm")) * lit(1000000L),
            lit(1000000L) - col("pe_ppm"))))
  }

  /** x158: DECON-adjusted mixture SHIFT — the contamination×mixture
    * interaction (the same class as x156's dedup×gate survivorship): x35's
    * purge removes train docs that share eval 5-grams, and because
    * contamination is never uniform across feeds, the x128 √-flattened
    * mixture computed AFTER the purge differs from the one computed
    * before. Per source over the TRAIN split (x31's md5 ladder): docs,
    * purged docs, raw vs clean token mass, and the √-flattened weight
    * (x128's w_i ∝ √mass_i convention, 10⁹-budget ppb) before vs after,
    * with the signed shift — the table that says which sources were
    * silently buying mixture weight with leaked eval text. Recompute the
    * recipe AFTER decon, or the published weights are wrong by exactly
    * this column.
    *
    * Exactness: integer masses; the Σ√ reductions sum ARRAY-SORTED lists
    * on both engines (x128's order-free move); weights floor to ppb
    * BIGINTs; a fully-purged source pins w_clean = 0 (x129's zero-branch
    * convention), and shift is an exact BIGINT difference of two already-
    * floored ppbs. Gram rule and split are x35's verbatim (fiveGramsOf /
    * textDecontaminateOf — the reconciliation spec pins the family).
    *
    * Plan/scale: x35's gram equi-join marks flagged docs (work ∝ true
    * overlap, eval side DISTINCT); ONE |sources|-group aggregate carries
    * both masses; the two Σ√ totals attach as a broadcast 1-row frame
    * over the checkpointed per-source table — never a second corpus
    * scan. */
  val deconMixtureShift = sql(
    "x158_decon_mixture_shift",
    """WITH d AS (SELECT source, doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
      |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h1,
      |    string_split(text, ' ') AS st
      |  FROM documents),
      |gr AS (SELECT DISTINCT doc_id, h1, array_to_string(st[i+1:i+5], ' ') AS g
      |  FROM d, UNNEST(range(greatest(len(st) - 4, 0))) AS u(i)),
      |fl AS (SELECT DISTINCT tr.doc_id FROM gr tr JOIN gr te ON tr.g = te.g
      |  WHERE tr.h1 <= 'd' AND te.h1 > 'd'),
      |per AS (SELECT source,
      |    CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(CASE WHEN fl.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
      |    CAST(SUM(d.n_tok) AS BIGINT) AS tokens_raw,
      |    CAST(SUM(CASE WHEN fl.doc_id IS NULL THEN d.n_tok ELSE 0 END) AS BIGINT) AS tokens_clean
      |  FROM d LEFT JOIN fl ON d.doc_id = fl.doc_id
      |  WHERE d.h1 <= 'd' GROUP BY source),
      |tot AS (SELECT
      |    list_sum(list_sort(list(sqrt(CAST(tokens_raw AS DOUBLE))))) AS sr,
      |    list_sum(list_sort(list(sqrt(CAST(tokens_clean AS DOUBLE))))) AS sc
      |  FROM per),
      |m AS (SELECT p.source, p.n_docs, p.n_purged, p.tokens_raw, p.tokens_clean,
      |    CAST(FLOOR(1000000000 * sqrt(CAST(p.tokens_raw AS DOUBLE)) / t.sr) AS BIGINT) AS w_raw_ppb,
      |    CAST(CASE WHEN p.tokens_clean = 0 THEN 0 ELSE
      |      FLOOR(1000000000 * sqrt(CAST(p.tokens_clean AS DOUBLE)) / t.sc) END AS BIGINT) AS w_clean_ppb
      |  FROM per p CROSS JOIN tot t)
      |SELECT *, w_clean_ppb - w_raw_ppb AS shift_ppb
      |FROM m ORDER BY source""".stripMargin) { (s, d) =>
    deconMixtureShiftOf(docs(s, d)).orderBy("source")
  }

  /** x158's engine over any (source, doc_id, text) frame. */
  def deconMixtureShiftOf(dd: DataFrame): DataFrame = {
    val h1 = substring(md5(col("doc_id").cast("string")), 1, 1)
    val train = dd.filter(h1 <= "d").select(col("source"), col("doc_id"),
      nTokOfText.as("n_tok"))
    val flagged = textDecontaminateOf(dd)
      .select(col("train_id").as("doc_id")).distinct()
      .withColumn("hit", lit(1))
    val per = train.join(flagged, Seq("doc_id"), "left")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("hit") === 1, 1L).otherwise(0L)).as("n_purged"),
        sum("n_tok").as("tokens_raw"),
        sum(when(col("hit").isNull, col("n_tok")).otherwise(0L)).as("tokens_clean"))
      .localCheckpoint(eager = false) // |sources| rows; totals + output
    val tot = per.agg(
      aggregate(array_sort(collect_list(sqrt(col("tokens_raw").cast("double")))),
        lit(0.0), (a, x) => a + x).as("sr"),
      aggregate(array_sort(collect_list(sqrt(col("tokens_clean").cast("double")))),
        lit(0.0), (a, x) => a + x).as("sc"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_purged"),
        col("tokens_raw"), col("tokens_clean"),
        floor(lit(1000000000L) * sqrt(col("tokens_raw").cast("double")) / col("sr"))
          .cast("long").as("w_raw_ppb"),
        when(col("tokens_clean") === 0L, 0L)
          .otherwise(floor(lit(1000000000L)
            * sqrt(col("tokens_clean").cast("double")) / col("sc")).cast("long"))
          .as("w_clean_ppb"))
      .withColumn("shift_ppb", col("w_clean_ppb") - col("w_raw_ppb"))
  }

  val all: Seq[QueryDef] = Seq(
    dedupExact, dedupBow, dedupMinhash, dedupSimhash, dedupNgram,
    textTokens, textQuality, textLangid, textFingerprint, dedupChunks,
    textRepetition, dedupClusters, textTfidf, textRagChunks, textSplitAssign,
    textDecontaminate, textQuotaSample, dedupIncremental, textFreqScore,
    textTopkTokens, textEditDistance, dedupApply, recordLinkage, textMixture,
    textPack, splitLeakageSafe, corpusShards, datasheetRollup, dupSourceMatrix,
    releaseManifest, substringDup, substringCut, textLmScore, bpePairs,
    textQualityGate, scoreGateCalibration, dupPagerank, bloomDedup,
    ingestTriage, lshBandStats, hubRemoval, snapshotMerge, sparseCosine,
    releaseDiff, dedupRecallAudit, weightedSample, dupTriangles, bpeMerges,
    massMedian, bpeEncode, shardDupRate, bpeCompression, piiRedact,
    dedupKeepBest, releaseManifestKeepBest, vocabCoverage, boilerStrip,
    packSpans, datasheetMerge, packEfficiency, curationFunnel, langidConfusion,
    shardBalance, clusterSizeHist, packAssemble, epochOrder, epochMixAudit,
    bpeFertility, packAppend, packDecontaminate, mixtureTemperature,
    mixtureGated, packQuality, scoreAuc, tokenSpectrum, dedupThresholdCurve,
    releasePackBridge, pplBuckets, contaminationHalo, annealSchedule,
    vocabMigration, robustQuality, annealPackOrder,
    doremiWeights, normalizeFixpoint, truncationWaste, ngramNovelty,
    repeatDecay, dupQualityLink, scoreLengthBias, dsirImportance,
    gateAblation, repeatBudgetSweep, sourceLmDivergence,
    tokenAccounting, contaminationBySuite, dedupSurvivorship,
    gateRuleAgreement, deconMixtureShift)
}
