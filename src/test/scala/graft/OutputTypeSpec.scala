package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Output-type convention gate over EVERY declared query.
  *
  * The correctness harness compares Spark parquet output against a DuckDB
  * oracle, and the two engines disagree on timestamp conventions: Spark
  * writes session-zone TIMESTAMP (isAdjustedToUTC=true) while DuckDB
  * produces NTZ TIMESTAMP, so a raw timestamp output column can never
  * schema-match even when every value is identical (this exact bug cost
  * three entries in round 8: a day-grain TIMESTAMP in the output of
  * p102/p104/p117). Raw DATE is almost as fragile — pyarrow surfaces it
  * as python `date` objects while DuckDB's pandas bridge yields
  * datetime64, so dtype comparison diverges again.
  *
  * Convention, enforced here: declared query output carries time as
  * STRING (ISO yyyy-MM-dd / yyyy-MM-dd HH:mm:ss), epoch integers,
  * component integers, or TIMESTAMP_NTZ — never session-zone
  * TimestampType and never DateType, at any nesting depth. NTZ is
  * allowed because it is exactly DuckDB's TIMESTAMP convention
  * (isAdjustedToUTC=false) and five green entries (q03/q16/q34/p65)
  * already round-trip it through the harness. The check is
  * analysis-only (schemas come from the lazy plan, nothing executes),
  * so the whole 180+-entry surface gates in seconds.
  */
class OutputTypeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Env.session(4)

  override def afterAll(): Unit = spark.stop()

  private val sfDir = "/root/testdata/sf0.001"

  /** All (path, type) leaves of a schema, descending struct/array/map. */
  private def leaves(dt: DataType, path: String): Seq[(String, DataType)] =
    dt match {
      case s: StructType =>
        s.fields.toSeq.flatMap(f => leaves(f.dataType, s"$path.${f.name}"))
      case a: ArrayType => leaves(a.elementType, s"$path[]")
      case m: MapType =>
        leaves(m.keyType, s"$path{k}") ++ leaves(m.valueType, s"$path{v}")
      case other => Seq(path -> other)
    }

  test("no declared query exposes LTZ-timestamp or date output columns") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        // analysis only: building the frame resolves the schema lazily
        val schema = fn(spark, sfDir).schema
        leaves(schema, "").collect {
          case (path, _: TimestampType) => s"$name$path: TIMESTAMP (LTZ)"
          case (path, _: DateType) => s"$name$path: DATE"
        }
    }
    assert(offenders.isEmpty,
      s"session-zone TIMESTAMP / DATE output columns break the oracle " +
        s"schema compare — cast to string, epoch ints, or NTZ:\n" +
        offenders.mkString("\n"))
  }

  // The session every main shares (Env.session) carries the engine
  // extensions, so Verify's oracle and Bench's timings see the batch
  // operator the engine runs, not a row-wise fallback.
  test("Env.session plans the WASM UDF entry q63 through BatchProjectExec") {
    val plan = SparkEntry.queries("q63_wasm_udf")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BatchProject"),
      s"q63 must plan the batch UDF operator:\n$plan")
  }

  test("Bench's timed action computes the UDF column: q63, q65 and q67 " +
    "each make guest calls") {
    for (q <- Seq("q63_wasm_udf", "q65_wasm_rev", "q67_wasm_simd")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      val before = functions.WasmRuntime.invocations.get()
      Bench.runAnswer(df)
      val calls = functions.WasmRuntime.invocations.get() - before
      assert(calls > 0, s"$q: the timed action made $calls guest calls")
    }
  }

  test("every query has either an oracle or a documented rows-only status") {
    val noOracle = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    assert(noOracle.isEmpty,
      s"queries without oracleSql get only a weak rows-check: $noOracle")
  }
}
