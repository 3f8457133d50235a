package graft.queries

import org.apache.spark.sql.functions._

/** SURVEY.md §2.2 inventory, part 5 — the coverage tails called out by
  * the round-2 review: Avro source/sink (the last scan family from the
  * DF38 `register_parquet|csv|json|avro` row — Spark 4 bundles the Avro
  * connector in spark-sql), the catalog/information-schema surface
  * (`SHOW TABLES` + `DESCRIBE`), right outer join (the untested mirror
  * of q18's left outer), and literal `GROUPING SETS` syntax (same
  * Expand machinery as q11/q12 ROLLUP/CUBE, different SQL front door).
  */
object Relational5 {

  val all: Seq[Q] = Seq(

    // ---- Avro sink + source round-trip ------------------------------------
    // Same pattern as q38/q39: write the filtered table out, read it
    // back, aggregate — the oracle aggregates the original parquet, so
    // the check covers the full write→read→aggregate loop. This Spark
    // build compiles the Avro connector into spark-sql but does not
    // register the "avro" short name, so the format is addressed by its
    // provider class.
    Q("q47_avro_roundtrip", Some("""
      SELECT p_brand,
             COUNT(*) AS n,
             CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
             CAST(MAX(p_size) AS BIGINT) AS max_size
      FROM part
      WHERE p_partkey < 1500
      GROUP BY p_brand
      ORDER BY p_brand""")) { (spark, dir) =>
      val out = sinkDir("q47_avro")
      Tables.load(spark, dir, "part")
        .filter(col("p_partkey") < 1500)
        .select(col("p_partkey"), col("p_brand"), col("p_size"),
          col("p_retailprice"))
        .write.mode("overwrite").format("org.apache.spark.sql.avro.AvroFileFormat").save(out)
      spark.read.format("org.apache.spark.sql.avro.AvroFileFormat").load(out)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), dsum(col("p_retailprice")).as("sum_price"),
          max(col("p_size")).cast("long").as("max_size"))
        .orderBy(col("p_brand"))
    },

    // ---- catalog surface: SHOW TABLES + DESCRIBE --------------------------
    // The oracle states the expected inventory literally (q45 style), so
    // the check is that the session catalog reports exactly the
    // registered fixture tables and lineitem's resolved schema.
    Q("q48_catalog", Some {
      val tableRows = Tables.names.sorted
        .map(t => s"('table', '$t', CAST(NULL AS VARCHAR))").mkString(", ")
      val colRows = Seq(
        "l_orderkey" -> "bigint", "l_partkey" -> "bigint",
        "l_suppkey" -> "bigint", "l_linenumber" -> "int",
        "l_quantity" -> "double", "l_extendedprice" -> "double",
        "l_discount" -> "double", "l_tax" -> "double",
        "l_returnflag" -> "string", "l_linestatus" -> "string",
        "l_shipdate" -> "timestamp_ntz")
        .map { case (c, t) => s"('column', '$c', '$t')" }.mkString(", ")
      s"""
      SELECT kind, name, dtype
      FROM (VALUES $tableRows, $colRows) t(kind, name, dtype)
      ORDER BY kind, name"""
    }) { (spark, dir) =>
      val s = registered(spark, dir)
      val tables = s.sql("SHOW TABLES")
        .filter(col("tableName").isInCollection(Tables.names))
        .select(lit("table").as("kind"), col("tableName").as("name"),
          lit(null).cast("string").as("dtype"))
      val cols = s.sql("DESCRIBE TABLE lineitem")
        .filter(!col("col_name").startsWith("#") && col("col_name") =!= "")
        .select(lit("column").as("kind"), col("col_name").as("name"),
          col("data_type").as("dtype"))
      tables.unionAll(cols).orderBy(col("kind"), col("name"))
    },

    // ---- right outer join (mirror of q18's left outer) --------------------
    Q("q49_right_outer", Some("""
      SELECT n.n_name,
             COUNT(c.c_custkey) AS n_rich
      FROM customer c RIGHT JOIN nation n
        ON n.n_nationkey = c.c_nationkey AND c.c_acctbal > 9500
      GROUP BY n.n_name
      ORDER BY n.n_name""")) { (spark, dir) =>
      val n = Tables.load(spark, dir, "nation")
      val c = Tables.load(spark, dir, "customer").filter(col("c_acctbal") > 9500)
      c.join(n, col("n_nationkey") === col("c_nationkey"), "right_outer")
        .groupBy(col("n_name"))
        .agg(count(col("c_custkey")).as("n_rich"))
        .orderBy(col("n_name"))
    },

    // ---- recursive CTE -----------------------------------------------------
    // Long documented as a gap (SURVEY §2.2 "recursive CTE not in
    // Spark"), but Spark 4.1 ships WITH RECURSIVE — so the gap is
    // closed with a real query: recursion generates quantity bands,
    // which then drive a banded lineitem aggregation.
    Q("q51_recursive_cte", Some("""
      WITH RECURSIVE bands(lo) AS (
        SELECT 0
        UNION ALL
        SELECT lo + 10 FROM bands WHERE lo < 40)
      SELECT b.lo, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      FROM bands b JOIN lineitem
        ON l_quantity >= b.lo AND l_quantity < b.lo + 10
      GROUP BY b.lo
      ORDER BY b.lo""")) { (spark, dir) =>
      registered(spark, dir).sql("""
        WITH RECURSIVE bands(lo) AS (
          SELECT 0
          UNION ALL
          SELECT lo + 10 FROM bands WHERE lo < 40)
        SELECT b.lo, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM bands b JOIN lineitem
          ON l_quantity >= b.lo AND l_quantity < b.lo + 10
        GROUP BY b.lo
        ORDER BY b.lo""")
    },

    // ---- ORC sink + source round-trip (bonus beyond DF38's format set) ----
    Q("q52_orc_roundtrip", Some("""
      SELECT c_mktsegment,
             COUNT(*) AS n,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
      FROM customer
      WHERE c_custkey < 1000
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""")) { (spark, dir) =>
      val out = sinkDir("q52_orc")
      Tables.load(spark, dir, "customer")
        .filter(col("c_custkey") < 1000)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .write.mode("overwrite").orc(out)
      spark.read.orc(out)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy(col("c_mktsegment"))
    },

    // ---- GROUPS window frames (emulated) ----------------------------------
    // Spark has no GROUPS frames (neither does DuckDB — its parser
    // rejects the mode). The standard rewrite: a GROUPS frame over the
    // ORDER BY key is a RANGE frame over the key's dense_rank (peer
    // groups collapse to consecutive integers). The oracle applies the
    // same rewrite in DuckDB SQL, so the peer-group arithmetic is
    // cross-engine verified.
    Q("q53_groups_frames", Some("""
      WITH dr AS (
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
               dense_rank() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_quantity) AS dr
        FROM lineitem
        WHERE l_orderkey < 300)
      SELECT l_orderkey, l_linenumber, l_quantity,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER (
               PARTITION BY l_returnflag ORDER BY dr
               RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE) AS grp_sum,
             COUNT(*) OVER (
               PARTITION BY l_returnflag ORDER BY dr
               RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS grp_n
      FROM dr
      ORDER BY l_orderkey, l_linenumber, l_quantity, grp_sum, grp_n""")) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byQty = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
      val peers = Window.partitionBy(col("l_returnflag")).orderBy(col("dr"))
        .rangeBetween(-1, 1)
      Tables.load(spark, dir, "lineitem")
        .filter(col("l_orderkey") < 300)
        .withColumn("dr", dense_rank().over(byQty))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          sum(dec(col("l_quantity"))).over(peers).cast("double").as("grp_sum"),
          count(lit(1)).over(peers).as("grp_n"))
        // (l_orderkey, l_linenumber) is not unique in the fixture — sort
        // by every output column so the frame order is deterministic
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("grp_sum"), col("grp_n"))
    },

    // ---- engine UDF through the function factory (the reference's
    // flagship operator, oracle-checked) ------------------------------------
    // The DDL command is invoked directly (so the entry also runs on a
    // session without GraftParser); the registered function then runs
    // through ordinary spark.sql. DuckDB computes the same pow() natively — the
    // check is that the factory → registry → invoke path computes exactly
    // what the engine-native function does.
    Q("q55_engine_udf", Some("""
      SELECT o_orderkey,
             round(pow(CAST(o_orderkey % 7 AS DOUBLE), 2.5), 6) AS powv
      FROM orders
      WHERE o_orderkey < 2000
      ORDER BY o_orderkey""")) { (spark, dir) =>
      graft.ddl.CreateEngineFunctionCommand(
        "graft_q55_pow",
        Seq(org.apache.spark.sql.types.DoubleType,
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.DoubleType,
        "WASM", "builtin!pow", orReplace = true).run(spark)
      registered(spark, dir).sql("""
        SELECT o_orderkey,
               round(graft_q55_pow(CAST(o_orderkey % 7 AS DOUBLE), 2.5), 6) AS powv
        FROM orders
        WHERE o_orderkey < 2000
        ORDER BY o_orderkey""")
    },

    // ---- INTERSECT ALL / EXCEPT ALL (multiset semantics) ------------------
    // q09 covers the distinct set ops; these are the bag variants
    // (duplicate counts preserved), aggregated per value so the output
    // is small and deterministically ordered.
    Q("q54_set_ops_all", Some("""
      SELECT op, q, COUNT(*) AS n FROM (
        SELECT 'intersect_all' AS op, q FROM (
          SELECT CAST(floor(l_quantity) AS INT) AS q FROM lineitem WHERE l_orderkey < 200
          INTERSECT ALL
          SELECT p_size AS q FROM part WHERE p_partkey < 500) i
        UNION ALL
        SELECT 'except_all' AS op, q FROM (
          SELECT CAST(floor(l_quantity) AS INT) AS q FROM lineitem WHERE l_orderkey < 200
          EXCEPT ALL
          SELECT p_size AS q FROM part WHERE p_partkey < 500) e
      ) t
      GROUP BY op, q
      ORDER BY op, q""")) { (spark, dir) =>
      val a = Tables.load(spark, dir, "lineitem")
        .filter(col("l_orderkey") < 200)
        // floor() on both sides: a bare double→int CAST truncates in
        // Spark but rounds in DuckDB
        .select(floor(col("l_quantity")).cast("int").as("q"))
      val b = Tables.load(spark, dir, "part")
        .filter(col("p_partkey") < 500)
        .select(col("p_size").as("q"))
      a.intersectAll(b).select(lit("intersect_all").as("op"), col("q"))
        .unionAll(a.exceptAll(b).select(lit("except_all").as("op"), col("q")))
        .groupBy(col("op"), col("q"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("op"), col("q"))
    },

    // ---- literal GROUPING SETS syntax -------------------------------------
    // q11/q12 exercise rollup()/cube(); this is the explicit SQL form
    // with a non-hierarchical set list ((flag, status), (status), ()) —
    // something neither ROLLUP nor CUBE can express.
    Q("q50_grouping_sets", Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
             CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
             CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
             COUNT(*) AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
      ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")) { (spark, dir) =>
      registered(spark, dir).sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
               CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
               CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")
    }
  )
}
