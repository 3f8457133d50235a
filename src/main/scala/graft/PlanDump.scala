package graft

/** Dev diagnostic: the physical plans of named queries, in two modes.
  *
  *  - `runMain graft.PlanDump <tag> q05_... p29_...` writes the FULL
  *    `.explain("formatted")` plan of each to `<query>_<tag>.txt` — the
  *    committed before/after evidence for optimization rounds
  *    (plans/r20, plans/r21).
  *  - `runMain graft.PlanDump --skeleton p123_... …` prints only the
  *    executed plan's exchanges, joins, scans and windows — the quick
  *    `.explain` loop after an operator goes green.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_PLAN_DIR
  * (default plans/r20).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val skeleton = args.headOption.contains("--skeleton")
    val tag = args.headOption.getOrElse("before")
    val names = args.drop(1)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r20")
    val spark = Env.session(8)
    names.foreach { n =>
      println(s"========== $n")
      val qe = SparkEntry.queries(n)(spark, dir).queryExecution
      if (skeleton)
        qe.executedPlan.toString.linesIterator.filter(l =>
          l.contains("Exchange") || l.contains("Join") || l.contains("Scan") ||
          l.contains("Window") || l.contains("Cartesian"))
          .foreach(l => println(l.take(160)))
      else {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${n}_$tag.txt"),
          qe.explainString(org.apache.spark.sql.execution.FormattedMode)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    spark.stop()
  }
}
