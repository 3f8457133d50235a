package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Dev probe for PlanShapeSpec's pinned numbers: prints, per heavy
  * entry, the planned shuffle-exchange and cartesian-product counts and
  * the documents-scan pushed filters. Run with
  * `sbt "Test/runMain graft.PlanShapeProbe"`. Not a test.
  */
object PlanShapeProbe {
  val heavyEntries: Seq[String] = Seq(
    "p163_stream_incremental_cc", "p227_dendrogram_profile",
    "p162_incremental_cc", "p42_dedup_rewrite", "p68_quality_survivor",
    "p29_neardup_clusters", "p105_dup_triangles", "p165_greedy_coverage",
    "p75_curation_dag", "p158_basket_similarity", "p216_embedding_outliers")

  def shape(plan: SparkPlan): (Int, Int, Seq[String]) = {
    val cart = plan.collectWithSubqueries { case c: CartesianProductExec => c }.size
    val shuf = plan.collectWithSubqueries { case s: ShuffleExchangeExec => s }.size
    val pushed = plan.collectWithSubqueries {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.getName.startsWith("documents")) =>
        f.metadata.getOrElse("PushedFilters", "[]")
    }
    (cart, shuf, pushed)
  }

  def main(args: Array[String]): Unit = {
    val spark = Env.session(8, "spark.sql.adaptive.enabled" -> "false")
    val dir = "/root/testdata/sf0.001"
    val names = if (args.nonEmpty) args.toSeq else heavyEntries
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      val (c, s, p) = shape(df.queryExecution.executedPlan)
      println(s"SHAPE $n cartesian=$c shuffles=$s docScans=${p.mkString("; ")}")
    }
    spark.stop()
  }
}
