package graft
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (dev runs only;
    // the driver always invokes with exactly two args = full dump)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    // a typo'd filter must fail loudly, not produce an empty dump that
    // looks like a clean run
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    }
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Env.session(cpus,
      "spark.local.dir" -> Env.scratchDir,
      // pyarrow/duckdb-friendly timestamps (INT96 is legacy)
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => wanted(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Jackson escapes quotes, backslashes and ALL control chars — a tab
    // or CR in builder-authored SQL would otherwise make the driver's
    // json.load fail and silently zero the round's correctness
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val oracle = json.createObjectNode()
    SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .foreach { case (k, v) => oracle.put(k, v) }
    json.writeValue(new java.io.File(s"$outDir/oracle_sql.json"), oracle)
    spark.stop()
  }
}
