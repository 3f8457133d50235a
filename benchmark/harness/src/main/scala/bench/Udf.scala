package bench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.functions.{ArrowBatchCodec, EchoWasm, PowWasm, SatWasm, SimdWasm, WasmRuntime}

/** `wasm_udf`: WASM scalar UDFs bound with `CREATE FUNCTION … LANGUAGE
  * WASM` in an `Engine.local` session, so projections run through
  * `BatchProjectExec`. Inputs are generated from the seed and cached
  * before timing; each UDF result is checked against the native SQL
  * expression the guest implements.
  */
final class Udf(spark: SparkSession, seed: Long, cores: Int, sizes: Udf.Sizes,
    breakExpectation: Boolean) {
  import Udf._

  /** The four artifacts: function name, SQL signature and module locator. */
  val artifacts: Seq[(String, String, String)] = Seq(
    ("bench_pow", "(DOUBLE, DOUBLE) RETURNS DOUBLE", s"${PowWasm.path}!f1"),
    ("bench_sat", "(DOUBLE) RETURNS BIGINT", s"${SatWasm.path}!sat"),
    ("bench_rev", "(STRING) RETURNS STRING", s"${EchoWasm.path}!rev"),
    ("bench_vmag", "(DOUBLE) RETURNS DOUBLE", s"${SimdWasm.path}!vmag"))

  /** Readiness in this fresh process, per artifact: parse the DDL, run
    * the CREATE, and get the first one-row result.
    */
  def ready(): Seq[Ready] = artifacts.map { case (name, sig, locator) =>
    val ddl = s"CREATE OR REPLACE FUNCTION $name$sig LANGUAGE WASM AS '$locator'"
    val probe = name match {
      case "bench_pow" => "SELECT bench_pow(2.0D, 3.0D)"
      case "bench_rev" => "SELECT bench_rev('abc')"
      case other => s"SELECT $other(2.5D)"
    }
    val t0 = System.nanoTime()
    val plan = spark.sessionState.sqlParser.parsePlan(ddl)
    val t1 = System.nanoTime()
    plan.asInstanceOf[graft.ddl.CreateEngineFunctionCommand].run(spark)
    val t2 = System.nanoTime()
    spark.sql(probe).collect()
    val t3 = System.nanoTime()
    Ready((t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6)
  }

  /** Cache the seeded inputs: `num` (pow bases and exponents as in q63,
    * and a double column with the q66/q67 lanes), `str` (16–64-byte ASCII
    * strings), `simd` and `rw` (smaller slices for vmag and the row-wise
    * query).
    */
  def prepare(): Unit = {
    def hash(salt: Int, mod: Int) = s"pmod(xxhash64(id, ${seed * 16 + salt}L), $mod)"
    val lanes =
      s"""CASE ${hash(3, 8)}
         |  WHEN 0 THEN CAST(NULL AS DOUBLE)
         |  WHEN 1 THEN v * 1e14 WHEN 2 THEN -v * 1e14
         |  WHEN 3 THEN CAST('NaN' AS DOUBLE)
         |  WHEN 4 THEN v / 7 WHEN 5 THEN -v / 7
         |  WHEN 6 THEN CAST('Infinity' AS DOUBLE)
         |  ELSE CAST('-Infinity' AS DOUBLE) END""".stripMargin
    def numeric(n: Long) = spark.range(0, n, 1, cores).selectExpr(
      "id",
      s"CASE WHEN ${hash(0, 97)} = 0 THEN CAST(NULL AS DOUBLE) ELSE CAST(${hash(1, 10)} AS DOUBLE) END AS a",
      s"CAST(${hash(2, 5)} AS DOUBLE) AS b",
      s"(${hash(4, 1000000)} + 1) / 100.0D AS v").selectExpr("id", "a", "b", s"$lanes AS x")
    def register(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val c = df.cache()
      c.count()
      c.createOrReplaceTempView(name)
    }
    register("num", numeric(sizes.batchRows))
    register("simd", numeric(sizes.simdRows).select("id", "x"))
    register("rw", numeric(sizes.rowwiseRows).select("id", "a", "b"))
    register("str", spark.range(0, sizes.batchRows, 1, cores).selectExpr("id",
      s"""CASE WHEN ${hash(5, 101)} = 0 THEN CAST(NULL AS STRING) ELSE substring(concat(
         |  sha2(CAST(id + ${seed * 7} AS STRING), 256), sha2(CAST(id * 31 + $seed AS STRING), 256)),
         |  1, 16 + CAST(${hash(6, 49)} AS INT)) END AS s""".stripMargin))
  }

  /** The timed queries, with the native SQL each must match. */
  val queries: Seq[Query] = Seq(
    Query("pow", "num", "SELECT id, a, b, bench_pow(a, b) AS r FROM num",
      s"SELECT id, a, b, pow(a, b)${if (breakExpectation) " + 1" else ""} AS r FROM num"),
    Query("sat", "num", "SELECT id, x, bench_sat(x) AS r FROM num ORDER BY x, id",
      """SELECT id, x, CASE WHEN x IS NULL THEN NULL
        |  WHEN isnan(x) THEN 0
        |  WHEN x >= 9.223372036854776e18 THEN 9223372036854775807
        |  WHEN x <= -9.223372036854776e18 THEN -9223372036854775808
        |  ELSE CAST(x AS BIGINT) END AS r FROM num ORDER BY x, id""".stripMargin),
    Query("rev", "str", "SELECT id, bench_rev(s) AS r FROM str",
      "SELECT id, reverse(s) AS r FROM str"),
    Query("vmag", "simd", "SELECT id, bench_vmag(x) AS r FROM simd",
      "SELECT id, CASE WHEN x IS NULL THEN NULL ELSE sqrt(abs(x)) * 0.5D + x * x END AS r FROM simd"),
    Query("rowwise", "rw",
      """SELECT id, CASE WHEN b > 1 THEN bench_pow(a, b) ELSE -1.0D END AS r
        |FROM rw WHERE bench_pow(a, 1.0D) >= 3.0D""".stripMargin,
      """SELECT id, CASE WHEN b > 1 THEN pow(a, b) ELSE -1.0D END AS r
        |FROM rw WHERE pow(a, 1.0D) >= 3.0D""".stripMargin))

  /** Per query: rows and the fewest guest calls (see [[Udf.Shape]]). */
  def shapes(): Map[String, Shape] = queries.map { q =>
    val rows = spark.table(q.table).count()
    val shape = if (q.name == "rowwise") {
      val passing = spark.sql(
        "SELECT count_if(pow(a, 1.0D) >= 3.0D AND b > 1) FROM rw").head().getLong(0)
      Shape(rows, rows + passing)
    } else {
      val perPartition = spark.table(q.table).rdd.mapPartitions(it => Iterator(it.size.toLong)).collect()
      Shape(rows, perPartition.map(p => (p + BatchRows - 1) / BatchRows).sum)
    }
    q.name -> shape
  }.toMap

  def ops(): Seq[Op] = queries.map { q =>
    val expected = Op.consume(spark.sql(q.native), s"native-${q.name}")
    Op(q.name, "udf", key => Op.consume(spark.sql(q.sql), key), Some(expected))
  }

  /** Guest calls and instances made while `f` runs. */
  def counting[A](f: => A): (A, Long, Long) = {
    val c0 = WasmRuntime.invocations.get()
    val i0 = WasmRuntime.instancesCreated.get()
    val r = f
    (r, WasmRuntime.invocations.get() - c0, WasmRuntime.instancesCreated.get() - i0)
  }

  /** Direct per-hop costs on one 8192-row batch of the cached inputs, in
    * ns/row: Arrow IPC encode and decode (numeric and string), each
    * guest alone on one thread, and each guest on `cores` threads at once
    * relative to one.
    */
  def hops(): Map[String, Double] = {
    def column(table: String, col: String): Array[Any] =
      spark.table(table).select(col).limit(BatchRows.toInt).collect().map(r => r.get(0): Any)
    val a = column("num", "a")
    val b = column("num", "b")
    val x = column("num", "x")
    val s = column("str", "s")
    val n = a.length
    val numArgs = IndexedSeq(a, b)
    val strArgs = IndexedSeq(s)
    def perRow(reps: Int)(f: => Any): Double = {
      val ts = (0 until reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble / n
      }
      Stats.median(ts)
    }
    val payloads = Map(
      "pow" -> ArrowBatchCodec.encode(numArgs, n),
      "sat" -> ArrowBatchCodec.encode(IndexedSeq(x), n),
      "rev" -> ArrowBatchCodec.encode(strArgs, n),
      "vmag" -> ArrowBatchCodec.encode(IndexedSeq(x), n))
    val fns = Map("pow" -> (PowWasm.path, "f1"), "sat" -> (SatWasm.path, "sat"),
      "rev" -> (EchoWasm.path, "rev"), "vmag" -> (SimdWasm.path, "vmag"))
    val reps = Map("pow" -> 40, "sat" -> 40, "rev" -> 40, "vmag" -> sizes.vmagReps)
    val out = mutable.LinkedHashMap[String, Double]()
    val numReply = WasmRuntime.invokeBindgen(PowWasm.path, "f1", payloads("pow"))
    val strReply = WasmRuntime.invokeBindgen(EchoWasm.path, "rev", payloads("rev"))
    out("codec.encode_num_ns_per_row") = perRow(40)(ArrowBatchCodec.encode(numArgs, n))
    out("codec.decode_num_ns_per_row") = perRow(40)(ArrowBatchCodec.decode(numReply))
    out("codec.encode_str_ns_per_row") = perRow(40)(ArrowBatchCodec.encode(strArgs, n))
    out("codec.decode_str_ns_per_row") = perRow(40)(ArrowBatchCodec.decode(strReply))
    Seq("pow", "sat", "rev", "vmag").foreach { g =>
      val (path, fn) = fns(g)
      val call = () => WasmRuntime.invokeBindgen(path, fn, payloads(g))
      call()
      val single = perRow(reps(g))(call())
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
      val parallel = try {
        val futures = (0 until cores).map(_ => pool.submit(new java.util.concurrent.Callable[Double] {
          def call(): Double = { callOnce(); perRow(reps(g))(callOnce()) }
          private def callOnce() = WasmRuntime.invokeBindgen(path, fn, payloads(g))
        }))
        Stats.median(futures.map(_.get()))
      } finally pool.shutdown()
      out(s"guest.${g}_ns_per_row") = single
      out(s"guest.contention_$g") = parallel / single
    }
    out.toMap
  }
}

object Udf {
  val BatchRows = 8192L

  /** Milliseconds to parse a `CREATE FUNCTION`, run it, and get the
    * first one-row result through the new function.
    */
  final case class Ready(parseMs: Double, createMs: Double, firstCallMs: Double) {
    def totalS: Double = (parseMs + createMs + firstCallMs) / 1e3
  }

  /** A query's rows and the fewest guest calls a batch-at-a-time plan
    * needs: one per 8192-row batch of each input partition. For the
    * row-wise query, the UDF evaluations its rows need.
    */
  final case class Shape(rows: Long, minCalls: Long)

  final case class Sizes(batchRows: Long, simdRows: Long, rowwiseRows: Long, vmagReps: Int)

  val Full = Sizes(batchRows = 1000000L, simdRows = 50000L, rowwiseRows = 125000L, vmagReps = 3)
  val Smoke = Sizes(batchRows = 20000L, simdRows = 2000L, rowwiseRows = 5000L, vmagReps = 1)

  /** A timed query over the cached `table`, and the native SQL it must match. */
  final case class Query(name: String, table: String, sql: String, native: String)
}
