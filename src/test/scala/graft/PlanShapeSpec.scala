package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape pins for the suite's heaviest entries (the round-9 cost
  * audit's top-10 plus p216): the executed-plan properties each verdict
  * has audited by hand — no cartesian product anywhere, and a pinned
  * ceiling on planned shuffle exchanges — become assertions, so a
  * future refactor cannot silently regress a plan from "audited shape"
  * to "passes the oracle but shuffles the corpus twice more".
  *
  * Bounds are the values measured at pin time (AQE off so the planned
  * exchange count is deterministic); a legitimate plan change that adds
  * a shuffle should raise the pin CONSCIOUSLY, in the same commit that
  * explains why the extra exchange is wanted.
  *
  * Entries that materialize shared stages or run streams during
  * construction (p162/p163/p75) pin the final assembly plan — the
  * interior jobs are covered by BroadcastGuardSpec's runtime audit.
  */
class PlanShapeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark =
    Env.session(8, "spark.sql.adaptive.enabled" -> "false")

  override def afterAll(): Unit = spark.stop()

  /** entry -> (max planned shuffle exchanges, expect a pushed filter on
    * the documents scan). */
  private val pins: Seq[(String, Int, Boolean)] = Seq(
    ("p163_stream_incremental_cc", 1, true),
    ("p227_dendrogram_profile", 6, false), // re-pinned r11: lifted one-fixpoint shape
    ("p162_incremental_cc", 4, true),
    ("p42_dedup_rewrite", 5, false),
    ("p68_quality_survivor", 5, false),
    ("p29_neardup_clusters", 4, false),
    ("p105_dup_triangles", 5, false),
    ("p165_greedy_coverage", 1, false),
    // re-pinned r20: pageRank no longer checkpoints each of its 3
    // rounds, so the rank section's 3 per-round exchanges (previously
    // hidden inside per-round checkpoint jobs this spec never counted)
    // are now VISIBLE in the one final plan — executed shuffle count is
    // unchanged, materialization jobs went 3 → 0
    ("p75_curation_dag", 7, false),
    ("p158_basket_similarity", 6, false),
    ("p216_embedding_outliers", 8, false),
    // round-10 additions
    ("p236_ppjoin_exact", 4, false),
    ("p240_phash_neardup", 4, false),
    ("p242_gate_census", 4, false),
    ("p244_pair_edit_distance", 2, true),
    ("p248_stream_decayed_topk", 3, false),
    ("p251_waterfill_mix", 7, false),
    ("p252_ivf_nprobe_curve", 14, false))

  pins.foreach { case (name, maxShuffles, wantPushed) =>
    test(s"$name: no cartesian, <= $maxShuffles shuffles" +
        (if (wantPushed) ", pushed documents filter" else "")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val (cart, shuf, pushed) =
        PlanShapeProbe.shape(df.queryExecution.executedPlan)
      assert(cart == 0, s"cartesian product in $name's plan")
      assert(shuf <= maxShuffles,
        s"$name plans $shuf shuffle exchanges (pinned <= $maxShuffles) " +
          "— raise the pin only with a reason")
      if (wantPushed)
        assert(pushed.exists(_ != "[]"),
          s"$name: expected a pushed filter on the documents scan, " +
            s"got ${pushed.mkString("; ")}")
    }
  }
}
