package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

/** The counted broadcast guard (r18 verdict item 4 + the x155 advice):
  * TextQueries.guardedBroadcast broadcasts a bounded side only while its
  * COUNTED row count is at or under spark.graft.broadcastMaxRows, and falls
  * back to the planner's shuffled strategies above it — because "bounded by
  * type count" (the x62-family ctx tables) and "bounded by construction"
  * (x155's corpus-derived test split: actually ~12.5% OF THE CORPUS) are
  * claims a 100 TB web corpus breaks. Both regimes must be value-identical;
  * these tests pin that on real sf0.001 data. In the over-threshold regime
  * the guard returns the ORIGINAL lineage-bearing frame (r19 advice), so
  * the shuffled join streams the side and an executor loss recomputes from
  * source — the value pins below run through that exact path.
  *
  * Plan-flip pin subtlety: at fixture scale Catalyst AUTO-broadcasts the
  * small checkpointed ctx even without the hint (the materialized
  * LogicalRDD carries real stats), so "guard off ⇒ no BHJ" is false as
  * stated. The regimes are separated by ALSO setting
  * autoBroadcastJoinThreshold=-1: then a BroadcastHashJoin can only come
  * from our explicit hint — present with the guard under threshold, gone
  * with the guard forced over it. */
class BroadcastGuardSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def rows(q: QueryDef): Seq[String] =
    q.run(spark, dir).collect().map(_.toString).sorted.toSeq

  /** (defaultRows, hintRows, hintPlan, shuffledRows, shuffledPlan) — the
    * hint/shuffled pair both run with auto-broadcast OFF so the hint is
    * the only possible BroadcastHashJoin source. Confs always restored. */
  private def threeRegimes(q: QueryDef)
      : (Seq[String], Seq[String], String, Seq[String], String) = {
    val default = rows(q)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val hintDf = q.run(spark, dir)
      val hintPlan = hintDf.queryExecution.executedPlan.toString
      val hint = hintDf.collect().map(_.toString).sorted.toSeq
      spark.conf.set("spark.graft.broadcastMaxRows", "0")
      try {
        val shDf = q.run(spark, dir)
        val shPlan = shDf.queryExecution.executedPlan.toString
        (default, hint, hintPlan, shDf.collect().map(_.toString).sorted.toSeq, shPlan)
      } finally spark.conf.unset("spark.graft.broadcastMaxRows")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("x62: the ctx attach carries NO unconditional broadcast hint — the engine decides by size") {
    // registry: x62_text_lm_score
    // lmScoreCore uses the ZERO-JOB form of the guard (see its scaladoc):
    // no hint, so Catalyst broadcasts while the ESTIMATE is small and AQE
    // re-decides from actual shuffle sizes past that. Pin both halves:
    // (a) no broadcast hint survives to the optimized plan — a hinted join
    //     would read "ResolvedHint"/forced regardless of scale;
    // (b) at fixture scale the engine still picks the broadcast (the
    //     estimate is small), so the fast path is not lost by the change.
    val df = TextQueries.textLmScore.run(spark, dir)
    df.queryExecution.analyzed.toString should not include "UnresolvedHint"
    df.queryExecution.optimizedPlan.toString should not include "ResolvedHint"
    df.queryExecution.executedPlan.toString should include("BroadcastHashJoin")
    // and with auto-broadcast off, the unhinted join really degrades to a
    // shuffled strategy (what a 100 TB vocabulary would get) — same values
    val default = rows(TextQueries.textLmScore)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val big = TextQueries.textLmScore.run(spark, dir)
      big.queryExecution.executedPlan.toString should not include "BroadcastHashJoin"
      big.collect().map(_.toString).sorted.toSeq shouldBe default
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("x135's carry-bearing ctx attach is BHJ at sf0.1 sizes (r19 verdict item 3)") {
    // registry: x135_ppl_buckets — its score table is lmScoreCore(carry =
    // lang) BEHIND a localCheckpoint, so the outer plan can't show the
    // attach; pin the chain itself at BENCH scale with real sf0.1
    // statistics. The ctx side (unigram types) must broadcast by the
    // ENGINE's own decision (no hint survives — the zero-job guard form);
    // the pair attach on (w1, w2) may legitimately shuffle at this scale,
    // so the assertion targets the single-key ctx join specifically.
    val dd = graft.Tables.documents(spark, "/root/testdata/sf0.1")
    // r21: x135 now attaches lang by a doc-keyed join after the rollup
    // (OPTIMIZATION_r21.md A/B) — pin the chain x135 actually checkpoints
    val sco = TextQueries.lmScoreCore(dd, Nil)
      .join(dd.select("doc_id", "lang"), Seq("doc_id"))
    sco.queryExecution.analyzed.toString should not include "UnresolvedHint"
    sco.queryExecution.optimizedPlan.toString should not include "ResolvedHint"
    // r21 (r20 ADVICE): execute THIS Dataset's own QueryExecution — a
    // DataFrameWriter wraps the plan in a separate write command, so a
    // noop save would leave sco's AdaptiveSparkPlanExec un-executed and
    // the inspection below would read the INITIAL static plan, not the
    // final adaptive one.
    sco.collect() // finalizes the adaptive plan on sco's own QE
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val root = sco.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // the finalized adaptive plan nests operators inside QueryStageExec
    // LEAVES, which collect/collectWithSubqueries do not descend into —
    // recurse through each stage's wrapped plan
    def bhjArities(p: SparkPlan): Seq[Int] =
      p.collectWithSubqueries { case b: BroadcastHashJoinExec => b.leftKeys.size } ++
        p.collectWithSubqueries { case s: QueryStageExec => s }
          .flatMap(s => bhjArities(s.plan))
    val bhjKeyArities = bhjArities(root)
    withClue(s"executed plan:\n$root\n") {
      bhjKeyArities should contain(1) // the w1-keyed ctx attach broadcasts
    }
  }

  test("x153: divergence identical across regimes (the guarded corpus-ctx attach)") {
    // registry: x153_source_lm_divergence
    val (default, hint, hintPlan, shuffled, shPlan) = threeRegimes(TextQueries.sourceLmDivergence)
    default should not be empty
    hint shouldBe default
    shuffled shouldBe default
    hintPlan should include("BroadcastHashJoin")
    shPlan should not include "BroadcastHashJoin"
  }

  test("x155: per-suite contamination identical across regimes (the guarded test-gram side)") {
    // registry: x155_contamination_by_suite
    val (default, hint, hintPlan, shuffled, shPlan) = threeRegimes(TextQueries.contaminationBySuite)
    default should not be empty
    hint shouldBe default
    shuffled shouldBe default
    hintPlan should include("BroadcastHashJoin")
    shPlan should not include "BroadcastHashJoin"
    // the sources×suites cross is a LITERAL 3-row frame with its own
    // unconditional hint — it must stay a broadcast nested loop in BOTH
    // regimes (the guard only governs the corpus-derived gram side)
    hintPlan should include("BroadcastNestedLoopJoin")
    shPlan should include("BroadcastNestedLoopJoin")
  }

  test("x149: importance gap identical across regimes (the merged two-model ctx attach)") {
    // registry: x149_dsir_importance
    val (default, hint, hintPlan, shuffled, shPlan) = threeRegimes(TextQueries.dsirImportance)
    default should not be empty
    hint shouldBe default
    shuffled shouldBe default
    hintPlan should include("BroadcastHashJoin")
    shPlan should not include "BroadcastHashJoin"
  }
}
