package graft

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}

import graft.ddl.GraftParser

/** Registers the engine's SQL surface on a SparkSession — the analog of
  * `SessionContext::new().with_function_factory(...)` in the reference
  * (wasmedge_factory/examples/wasaffi.rs:10). Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectParser((_, delegate) => new GraftParser(delegate))
    // batch-at-a-time UDF projection (udf.rs:82-115 granularity)
    e.injectPlannerStrategy(_ => graft.plans.BatchInvokeStrategy)
    // the native kernels as SQL-callable functions, so spark.sql users
    // get the same single-pass codegen path as the Column API
    GraftExtensions.functions.foreach(e.injectFunction)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

  private def intArg(e: Expression, fn: String, pos: Int = 2): Int = e match {
    // any plan-time-constant integer works (literal, CAST, folded
    // arithmetic) — the kernels need the value at expression build time
    case c if c.foldable && c.dataType == org.apache.spark.sql.types.IntegerType =>
      c.eval() match {
        case v: java.lang.Integer => v.intValue()
        case _ => throw new IllegalArgumentException(
          s"$fn: argument $pos must be a non-NULL INT constant")
      }
    case other => throw new IllegalArgumentException(
      s"$fn: argument $pos must be an INT literal, got $other")
  }

  private def fn(name: String, usage: String, arity: Int)(
      build: Seq[Expression] => Expression) = (
    FunctionIdentifier(name),
    // 5-arg ctor: (className, db, NAME, usage, arguments) — the 3-arg
    // overload is (className, db, name) and would register the usage
    // text as the function name
    new ExpressionInfo("graft.functions", null, name, usage, ""),
    (args: Seq[Expression]) => {
      require(args.length == arity, s"$name expects $arity arguments")
      build(args)
    })

  /** SQL registrations for the engine's native expressions. */
  private[graft] val functions = Seq(
    fn("graft_shingles", "graft_shingles(text, n) - overlapping n-token shingles", 2)(
      a => graft.functions.ShinglesExpr(a(0), intArg(a(1), "graft_shingles"))),
    fn("graft_segments", "graft_segments(text, n) - non-overlapping n-token segments", 2)(
      a => graft.functions.SegmentsExpr(a(0), intArg(a(1), "graft_segments"))),
    fn("graft_image_dims", "graft_image_dims(binary) - packed (w<<32)|h from PNG/JPEG headers", 1)(
      a => graft.functions.ImageDimsExpr(a(0))),
    fn("graft_wav_meta", "graft_wav_meta(binary, field) - WAV header field (0=channels,1=rate,2=bits,3=data_size)", 2)(
      a => graft.functions.WavMetaExpr(a(0), intArg(a(1), "graft_wav_meta"))),
    fn("graft_dot", "graft_dot(array<double>, array<double>) - dot product", 2)(
      a => graft.functions.DotProduct(a(0), a(1))),
    fn("graft_gcd", "graft_gcd(bigint, bigint) - greatest common divisor (DF38 gcd; Spark has no built-in)", 2)(
      a => graft.functions.GcdExpr(a(0), a(1))),
    fn("graft_lcm", "graft_lcm(bigint, bigint) - least common multiple (DF38 lcm; Spark has no built-in)", 2)(
      a => graft.functions.LcmExpr(a(0), a(1))),
    fn("graft_array_ndims", "graft_array_ndims(array) - nesting depth of the array type (DF38 array_ndims; foldable constant)", 1)(
      a => graft.functions.ArrayNdimsExpr(a(0))),
    fn("graft_array_dims", "graft_array_dims(array) - per-level extents along first children (DF38 array_dims)", 1)(
      a => graft.functions.ArrayDimsExpr(a(0))),
    fn("graft_bmp_dims", "graft_bmp_dims(binary) - packed (w<<32)|h of an uncompressed 24-bpp BMP", 1)(
      a => graft.functions.BmpDimsExpr(a(0))),
    fn("graft_bmp_resample", "graft_bmp_resample(binary, w, h) - nearest-neighbour thumbnail as array<int> packed RGB", 3)(
      a => graft.functions.BmpResampleExpr(a(0),
        intArg(a(1), "graft_bmp_resample"),
        intArg(a(2), "graft_bmp_resample", 3))),
    fn("graft_bmp_channel_stats", "graft_bmp_channel_stats(binary) - [sum_r,sum_g,sum_b,h0..h3] channel sums + red histogram", 1)(
      a => graft.functions.BmpChannelStatsExpr(a(0))),
    fn("graft_png_channel_stats", "graft_png_channel_stats(binary) - [w,h,sum_r,sum_g,sum_b,h0..h3] from a REAL 8-bit RGB PNG decode (zlib inflate + unfilter)", 1)(
      a => graft.functions.PngChannelStatsExpr(a(0))),
    // aggregate: the analyzer wraps a bare AggregateFunction builder
    fn("graft_min_top_n", "graft_min_top_n(h, id, n) - the n smallest (h, id) pairs of the group, map-side bounded", 3)(
      a => graft.functions.MinTopNPairs(a(0), a(1),
        intArg(a(2), "graft_min_top_n", 3))))
}

/** Thin session facade — the engine's `SessionContext` analog. */
class Engine(val spark: SparkSession) {

  /** Full SQL surface, including the engine's `CREATE FUNCTION … LANGUAGE …
    * AS 'module!fn'` / `DROP FUNCTION` DDL (reference: examples/wasaffi.rs:25,27). */
  def sql(query: String): DataFrame = spark.sql(query)

  /** In-memory table registration — `ctx.register_batch` analog
    * (reference: examples/wasaffi.rs:16). */
  def registerTable(name: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(name)
}

object Engine {
  /** Local-mode engine on the one [[Env.session]] builder: graft
    * extensions installed, shuffle partitions sized for local cores
    * (not the 200 default). */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): Engine =
    new Engine(Env.session(cores))
}
