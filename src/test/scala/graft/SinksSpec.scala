package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink coverage (SURVEY.md §2.2 "Scans / sources / sinks"):
  * parquet/CSV/JSON write + read round-trips with schema inference,
  * partitioned writes with partition pruning, and catalog surface
  * (CTAS / INSERT INTO / SHOW TABLES) — the DataFusion-38 paths the
  * reference inherits via register_* and COPY TO.
  */
class SinksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Env.session(4)

  override def afterAll(): Unit = spark.stop()

  private def tmp(): String =
    Files.createTempDirectory("graft-sinks").toString

  private def sample = {
    import spark.implicits._
    Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "a", 3.5)).toDF("id", "k", "v")
  }

  test("ANALYZE TABLE feeds the optimizer exact row counts (CBO stats)") {
    sample.write.mode("overwrite").saveAsTable("graft_stats_t")
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled")
    try {
      spark.sql("ANALYZE TABLE graft_stats_t COMPUTE STATISTICS FOR ALL COLUMNS")
      // row-count estimation consumes the stats only under CBO
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val stats = spark.table("graft_stats_t").queryExecution
        .optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(3)),
        s"ANALYZE should give the optimizer an exact row count, got $stats")
      // column-level stats recorded in the catalog (distinct counts
      // drive join-size estimation)
      val desc = spark.sql("DESCRIBE EXTENDED graft_stats_t k").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(desc.get("distinct_count").contains("2"), desc)
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      spark.sql("DROP TABLE IF EXISTS graft_stats_t")
    }
  }

  test("parquet round-trip preserves schema and rows") {
    val dir = s"${tmp()}/t.parquet"
    sample.write.mode(SaveMode.Overwrite).parquet(dir)
    val back = spark.read.parquet(dir)
    // parquet read-back relaxes nullability; names+types must survive
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      sample.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("id").collect().sameElements(sample.orderBy("id").collect()))
  }

  test("csv round-trip with header + schema inference recovers types") {
    val dir = s"${tmp()}/t.csv"
    sample.write.mode(SaveMode.Overwrite).option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(back.schema("id").dataType.typeName == "integer" ||
      back.schema("id").dataType.typeName == "long")
    assert(back.count() == 3)
    assert(back.agg(sum("v")).head.getDouble(0) == 7.5)
  }

  test("json round-trip with schema inference") {
    val dir = s"${tmp()}/t.json"
    sample.write.mode(SaveMode.Overwrite).json(dir)
    val back = spark.read.json(dir)
    assert(back.count() == 3)
    assert(back.select(sum("v")).head.getDouble(0) == 7.5)
  }

  test("partitioned write prunes partitions on read (PartitionFilters)") {
    val dir = s"${tmp()}/part"
    sample.write.mode(SaveMode.Overwrite).partitionBy("k").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("k") === "a")
    assert(pruned.count() == 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("isnotnull(k"))
  }

  test("parquet scan pushes predicates into the reader (PushedFilters) " +
    "and prunes columns (ReadSchema)") {
    val dir = s"${tmp()}/push"
    sample.write.mode(SaveMode.Overwrite).parquet(dir)
    val q = spark.read.parquet(dir).filter(col("id") > 1).select(col("id"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(id,1"),
      s"predicate did not reach the parquet reader:\n$plan")
    // projection pruning: the scan schema must carry only `id`
    assert(plan.contains("ReadSchema") && !plan.contains("struct<id:bigint,k"),
      s"scan reads more columns than the projection needs:\n$plan")
    // EXPLAIN FORMATTED (the user-facing surface) reports the same
    val explained = q.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(explained.contains("PushedFilters"))
  }

  test("bucketed tables co-locate equi-joins: no Exchange in the plan") {
    // the 100 TB join strategy: both sides bucketed on the join key →
    // SortMergeJoin reads buckets directly, zero shuffle at query time
    spark.sql("DROP TABLE IF EXISTS graft_bkt_a")
    spark.sql("DROP TABLE IF EXISTS graft_bkt_b")
    Seq("graft_bkt_a", "graft_bkt_b").foreach { t =>
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    }
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v")
    df.write.bucketBy(8, "k").sortBy("k").saveAsTable("graft_bkt_a")
    df.write.bucketBy(8, "k").sortBy("k").saveAsTable("graft_bkt_b")
    val joined = spark.sql("""
      SELECT /*+ MERGE(a) */ a.k, a.v, b.v AS v2
      FROM graft_bkt_a a JOIN graft_bkt_b b ON a.k = b.k""")
    assert(joined.count() == 1000)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle:\n$plan")
    assert(plan.contains("SortMergeJoin"))
    spark.sql("DROP TABLE graft_bkt_a")
    spark.sql("DROP TABLE graft_bkt_b")
  }

  test("CREATE EXTERNAL TABLE over an existing parquet location") {
    val dir = s"${tmp()}/ext"
    sample.write.mode(SaveMode.Overwrite).parquet(dir)
    spark.sql("DROP TABLE IF EXISTS graft_ext")
    spark.sql(s"CREATE TABLE graft_ext USING parquet LOCATION '$dir'")
    assert(spark.sql("SELECT sum(v) FROM graft_ext").head.getDouble(0) == 7.5)
    // dropping an external table must leave the data in place
    spark.sql("DROP TABLE graft_ext")
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("CTAS + INSERT INTO + SHOW TABLES on the session catalog") {
    spark.sql("DROP TABLE IF EXISTS graft_sinks_spec")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_sinks_spec")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    spark.sql("CREATE TABLE graft_sinks_spec USING parquet AS SELECT 1 AS x")
    spark.sql("INSERT INTO graft_sinks_spec VALUES (2), (3)")
    assert(spark.sql("SELECT sum(x) FROM graft_sinks_spec").head.getLong(0) == 6L)
    assert(spark.sql("SHOW TABLES").collect()
      .exists(_.getAs[String]("tableName") == "graft_sinks_spec"))
    spark.sql("DROP TABLE graft_sinks_spec")
  }
}
