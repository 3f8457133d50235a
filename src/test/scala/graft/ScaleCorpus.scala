package graft

import org.apache.spark.sql.functions._

/** Dev tool (r17 scale audit, ×8 extension r18): materialize ×N copies
  * of an SF dir's corpus tables (documents/embeddings duplicated under
  * shifted ids — the GuardFixtures doubling machinery at bench scale;
  * every other table copied) so the heavy dedup/CC family's
  * DocLinear/Pairwise growth fits can be MEASURED beyond sf0.1 instead
  * of extrapolated.
  * Usage: sbt "Test/runMain graft.ScaleCorpus [sfDir] [outRoot] [factors]"
  * (factors comma-separated, default "2,4").
  */
object ScaleCorpus {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outRoot = args.lift(1).getOrElse("/tmp/graft_scale")
    val factors = args.lift(2).getOrElse("2,4")
      .split(",").map(_.trim.toInt).toSeq
    val spark = Env.session(8)
    val shift = 1000000000L
    for (factor <- factors) {
      val out = s"${outRoot}_x$factor"
      graft.queries.Tables.names.foreach { n =>
        val src = spark.read.parquet(s"$sfDir/$n.parquet")
        if (GuardFixtures.corpusTables(n)) {
          val id = if (n == "documents") "doc_id" else "vec_id"
          val copies = (0 until factor).map(k =>
            src.withColumn(id, col(id) + lit(k * shift)))
          copies.reduce(_ unionAll _)
            .coalesce(4).write.mode("overwrite").parquet(s"$out/$n.parquet")
        } else {
          src.write.mode("overwrite").parquet(s"$out/$n.parquet")
        }
      }
      println(s"built $out: docs=" +
        spark.read.parquet(s"$out/documents.parquet").count())
    }
    spark.stop()
  }
}
