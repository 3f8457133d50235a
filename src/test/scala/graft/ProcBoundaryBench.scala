package graft

/** Dev micro-benchmark: the Arrow IPC process-boundary cost per batch.
  * Runs the same pow() projection over N rows through the in-JVM module
  * (zero-copy) and through the `proc:` guest subprocess (one Arrow IPC
  * round-trip per 8192-row batch), printing wall times — the measured
  * marshalling overhead the reference documents as the cost of its
  * sandbox (README.md:76). Run:
  *   sbt "Test/runMain graft.ProcBoundaryBench [nRows]"
  */
object ProcBoundaryBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val engine = Engine.local(8)
    val spark = engine.spark
    spark.range(0, n, 1, 8).selectExpr("cast(id % 97 as double) as a")
      .createOrReplaceTempView("bt")
    engine.sql(
      "CREATE FUNCTION bj(DOUBLE, DOUBLE) RETURNS DOUBLE LANGUAGE WASM AS 'builtin!pow'")
    engine.sql(
      "CREATE FUNCTION bp(DOUBLE, DOUBLE) RETURNS DOUBLE LANGUAGE WASM AS 'proc:builtin!pow'")
    def time(fn: String): Double = {
      val t0 = System.nanoTime()
      // volatile UDFs can't sit inside an aggregate arg; project first
      engine.sql(
        s"select sum(v) as s from (select $fn(a, 1.5) as v from bt)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // warm both paths (codegen + guest spawn), then best of 3
    time("bj"); time("bp")
    val jvm = (1 to 3).map(_ => time("bj")).min
    val proc = (1 to 3).map(_ => time("bp")).min
    val batches = math.ceil(n / 8192.0).toLong
    println(f"rows=$n batches=$batches in-jvm=$jvm%.3fs proc=$proc%.3fs " +
      f"overhead/batch=${(proc - jvm) / batches * 1000}%.2fms")
    spark.stop()
  }
}
