package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Regenerates [[PqPinned]] from a corpus directory: trains the per-subspace
  * seeded KMeans codebooks once and writes them as Scala source literals
  * (`Double.toString` round-trips bit-exactly through the Scala parser).
  * Usage: `sbt "runMain graft.queries.PqPin [sfDir] [outFile]"`. */
object PqPin {
  def main(args: Array[String]): Unit = {
    val (spark, dir, out) = Pin.open(args, "PqPinned")
    val emb = graft.Tables.embeddings(spark, dir)
    // layout comes from the artifact itself so the trainer can't drift
    val cbs = SimilarityQueries.trainPq(emb,
      nSub = PqPinned.nSub, subDim = PqPinned.subDim, nCodes = PqPinned.nCodes)
    val body = cbs.map(_.map(_.mkString("      Vector(", ", ", ")"))
      .mkString("    Vector(\n", ",\n", ")")).mkString(",\n")
    val rows = Pin.write(emb, out,
      "  /** codebooks(s)(c) = the c-th centroid of subspace s (subDim doubles). */\n" +
      "  val codebooks: Seq[Seq[Seq[Double]]] = Vector(\n" + body + ")\n}\n")
    println(s"pinned ${cbs.size}x${PqPinned.nCodes} sub-centroids + corpus " +
      s"fingerprint ($rows rows) from $dir into $out")
  }
}

/** What the two pin mains ([[PqPin]], [[IvfPin]]) share: their session and
  * the source writer that splices a regenerated tail into a pinned file. */
private[queries] object Pin {
  /** (session, sfDir, outFile) from `[sfDir] [outFile]`; the default out is
    * the committed `<obj>.scala`. The session is local[8] with 8 shuffle
    * partitions whatever the host, so a re-pin is host-independent. */
  def open(args: Array[String], obj: String): (SparkSession, String, String) = (
    graft.Ladder.localSession(
      "spark.master" -> "local[8]", "spark.sql.shuffle.partitions" -> "8"),
    args.headOption.getOrElse("/root/testdata/sf0.01"),
    if (args.length > 1) args(1) else s"src/main/scala/graft/queries/$obj.scala")

  /** Rewrites `out` from its `val corpusRows` line on: the corpus
    * fingerprint of `emb` (row count and xor of the vec_id hashes), then
    * `tail`. The fingerprint ties the committed index to the corpus it was
    * trained on (SimilaritySpec asserts it against the shipped testdata —
    * a regenerated corpus fails loudly instead of probing a stale index
    * hash-green). Stops the session; returns the row count. */
  def write(emb: DataFrame, out: String, tail: String): Long = {
    import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}
    val fp = emb.agg(count(lit(1)), bit_xor(xxhash64(col("vec_id")))).head()
    emb.sparkSession.stop()
    val path = java.nio.file.Paths.get(out)
    val existing = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    val src = existing.substring(0, existing.indexOf("val corpusRows")) +
      s"val corpusRows: Long = ${fp.getLong(0)}L\n" +
      s"  val corpusIdXor: Long = ${fp.getLong(1)}L\n" + tail
    java.nio.file.Files.write(path, src.getBytes("UTF-8"))
    fp.getLong(0)
  }
}
