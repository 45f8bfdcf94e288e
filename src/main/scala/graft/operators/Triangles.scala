package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-node triangle tallies over an undirected simple graph.
  *
  * Input: unique undirected edges as `(a, b)` with `a < b` (BIGINT node
  * ids). Output: one row per node with an incident edge —
  * `(node, deg, n_tri, cc_ppm)` where `n_tri` counts the triangles the node
  * participates in and `cc_ppm` is the local clustering coefficient
  * `2·tri / (deg·(deg−1))` in the engine's BIGINT ppm fixed point (exact —
  * no float enters; the x69 discipline).
  *
  * Enumeration is wedge-join + closing-edge probe, with the edge
  * ORIENTATION pluggable because it is the whole scale story:
  *
  *  - `orientByDegree = true` (default; Ortmann/Brandes): each edge points
  *    from its (deg, id)-smaller endpoint, so every triangle is found
  *    exactly once from its lowest-degree vertex and per-node wedge
  *    fan-out is bounded by O(√|E|) on any graph — a 10^6-degree hub's
  *    edges all point INWARD and it contributes zero wedges.
  *  - `orientByDegree = false` (id order): the naive baseline whose wedge
  *    count on a hub is deg² — kept for `Ladder graph` to MEASURE the gap, and
  *    as the semantics twin (same triangles, different traversal) that
  *    the x96 DuckDB oracle replays.
  *
  * Plan shape: degree is one partial-final aggregate; orientation is two
  * node-table joins; the wedge stage is ONE self equi-join on the shared
  * vertex with the order filter ABOVE it (never in the join condition —
  * that would make it a theta join); the closure is an equi-join on
  * `(v, w)`. All exchanges hash on node ids — at cluster scale the edge
  * list pre-partitions on `src` once and every stage reuses it. */
object Triangles {

  /** Tallies for `(a, b)` edge pairs; see object doc. */
  def tallies(pairs: DataFrame, orientByDegree: Boolean = true): DataFrame = {
    val pf = pairs.select(col("a"), col("b")).localCheckpoint(eager = false)
    val deg = pf.select(col("a").as("node"))
      .unionAll(pf.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false) // consumed by orientation + final join
    // orient each edge src→dst by the chosen total order, keeping the dst
    // endpoint's order key so the wedge join can order its two legs
    val oriented = (if (orientByDegree) {
      val fwd = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
      pf.join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
        .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
        .select(
          when(fwd, col("a")).otherwise(col("b")).as("src"),
          when(fwd, col("b")).otherwise(col("a")).as("dst"),
          greatest(col("da"), col("db")).as("ddst"))
    } else {
      // id order: a < b already, and the id itself is the order key
      pf.select(col("a").as("src"), col("b").as("dst"), col("b").as("ddst"))
    }).localCheckpoint(eager = false) // three consumers (two wedge legs + probe)
    val tri = oriented.select(col("src").as("u"), col("dst").as("v"), col("ddst").as("dv"))
      .join(oriented.select(col("src").as("u"), col("dst").as("w"), col("ddst").as("dw")),
        Seq("u"))
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
      .join(oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    val trc = tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(trc, Seq("node"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .select(col("node"), col("deg"), col("n_tri"),
        when(col("deg") >= 2,
          expr("(2000000L * n_tri) div (deg * (deg - 1L))")).otherwise(lit(0L)).as("cc_ppm"))
  }
}
