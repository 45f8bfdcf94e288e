package graft.queries

/** Regenerates [[IvfPinned]] from a corpus directory: trains the seeded
  * KMeans once and writes the centroids as Scala source literals
  * (`Double.toString` round-trips bit-exactly through the Scala parser).
  * Usage: `sbt "runMain graft.queries.IvfPin [sfDir] [outFile]"`. */
object IvfPin {
  def main(args: Array[String]): Unit = {
    val (spark, dir, out) = Pin.open(args, "IvfPinned")
    val emb = graft.Tables.embeddings(spark, dir)
    // k comes from the artifact itself so the trainer can't drift from it
    val cs = SimilarityQueries.trainIvf(emb, nCells = IvfPinned.nCells)
    val body = cs.map(_.mkString("    Vector(", ", ", ")")).mkString(",\n")
    val rows = Pin.write(emb, out,
      "  val centroids: Seq[Seq[Double]] = Vector(\n" + body + ")\n}\n")
    println(s"pinned ${cs.size} centroids + corpus fingerprint " +
      s"($rows rows) from $dir into $out")
  }
}
