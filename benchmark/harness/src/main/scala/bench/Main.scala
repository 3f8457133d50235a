package bench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark harness. `benchmark/run.py` builds it and starts one JVM
  * per run:
  *
  * {{{
  * bench.Main --workload sql_suite|llm_pipeline|wasm_udf --seed N
  *   --seconds S --trace 0|1 --data DIR --golden FILE --out FILE
  *   [--spans FILE] [--launched-ms T] [--smoke] [--break-expectation]
  *   [--mode run|record|oracle]
  * }}}
  *
  * `run` writes one JSON object to `--out`: `correct`, `attempted`,
  * `failed`, `metrics` (the end-to-end metrics, or with `--trace 1` the
  * per-layer ones) and `detail`. `record` writes the digests of the
  * workload's entries, `oracle` their DuckDB oracle SQL.
  */
object Main {
  final case class Opts(
      workload: String = "", seed: Long = 1L, seconds: Int = 10, trace: Boolean = false,
      data: String = "", golden: String = "", out: String = "", spans: String = "",
      launchedMs: Long = 0L, smoke: Boolean = false, breakExpectation: Boolean = false,
      mode: String = "run")

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--data" :: v :: t => parse(t, o.copy(data = v))
    case "--golden" :: v :: t => parse(t, o.copy(golden = v))
    case "--out" :: v :: t => parse(t, o.copy(out = v))
    case "--spans" :: v :: t => parse(t, o.copy(spans = v))
    case "--launched-ms" :: v :: t => parse(t, o.copy(launchedMs = v.toLong))
    case "--mode" :: v :: t => parse(t, o.copy(mode = v))
    case "--smoke" :: t => parse(t, o.copy(smoke = true))
    case "--break-expectation" :: t => parse(t, o.copy(breakExpectation = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  /** Seconds of timed work one warm pass of each workload takes on 4
    * cores; `--seconds` sets the number of timed passes from it, with at
    * least three so that each operation's latency is a median.
    */
  val nominalPassS = Map("sql_suite" -> 9.0, "llm_pipeline" -> 12.0, "wasm_udf" -> 4.0)

  /** Writes the result and span files; reads golden.json. */
  val mapper: com.fasterxml.jackson.databind.ObjectMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val code = try {
      val o = parse(args.toList)
      require(Set("sql_suite", "llm_pipeline", "wasm_udf").contains(o.workload),
        s"unknown workload '${o.workload}'")
      require(new java.io.File(o.data).isDirectory, s"data directory ${o.data} not found")
      val result = o.mode match {
        case "oracle" => oracle(o)
        case "record" => record(o)
        case _ => run(o)
      }
      mapper.writeValue(new java.io.File(o.out), result)
      0
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    } finally SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    // exit even if a library left a non-daemon thread behind
    System.exit(code)
  }

  private def entryIds(workload: String): Seq[(String, String)] = workload match {
    case "sql_suite" => EntryWorkloads.sqlEntries.map(_ -> "relational")
    case _ => EntryWorkloads.llmEntries
  }

  private def oracle(o: Opts): Map[String, Any] = {
    val names = EntryWorkloads.fullNames(entryIds(o.workload).map(_._1))
    val sql = graft.SparkEntry.oracleSql
    names.flatMap { case (id, full) => sql.get(full).map(id -> _) }
  }

  /** The golden digests for fixture directory `data`, keyed by its name. */
  private def golden(file: String, data: String): Map[String, String] = {
    val all = mapper.readValue(new java.io.File(file), classOf[Map[String, Map[String, String]]])
    all.getOrElse(new java.io.File(data).getName, Map.empty)
  }

  /** Digests of one execution of each entry, for golden.json. */
  private def record(o: Opts): Map[String, Any] = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = EntryWorkloads.session(cores)
    if (o.workload == "llm_pipeline") {
      graft.queries.SharedStages.warmBase(spark, o.data)
      graft.queries.SharedStages.warmCorpus(spark, o.data)
    }
    EntryWorkloads.ops(spark, o.data, entryIds(o.workload), Map.empty).map { op =>
      op.name -> op.exec(s"record-${op.name}").toString
    }.toMap
  }

  private def run(o: Opts): Map[String, Any] = {
    val launched = if (o.launchedMs > 0) o.launchedMs
      else java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val passes = if (o.smoke) 1 else math.max(3, math.round(o.seconds / nominalPassS(o.workload)).toInt)
    val w: Workload = o.workload match {
      case "wasm_udf" => new UdfWorkload(o, cores)
      case _ => new EntryWorkload(o, cores, golden(o.golden, _))
    }
    w.setUp()
    val setupS = (System.currentTimeMillis() - launched) / 1e3

    val h0 = Host.snapshot()
    Host.resetHeapPeak()
    val untraced = new Runner(o.seed)
    val traced = new Runner(o.seed)
    val rec = if (o.trace) Some(new Recorder(w.spark)) else None
    var compiles = (0.0, 0.0)
    // Each pass starts with a collection, so that garbage of the set-up or
    // of the previous pass is not charged to it.
    def untracedPass(p: Int): Unit = {
      System.gc()
      w.pass(untraced, p, None)
    }
    def tracedPass(r: Recorder, p: Int): Unit = {
      System.gc()
      val c0 = Codegen.snapshot()
      r.start()
      w.pass(traced, p, Some(r))
      r.stop()
      val c = Codegen.delta(c0)
      compiles = (compiles._1 + c._1, compiles._2 + c._2)
    }
    // The traced run alternates traced passes with untraced ones, each side
    // first in turn, so that the overhead compares passes of the same
    // warmth; its untraced passes feed only the detail line and the
    // overhead, since end-to-end metrics come from untraced runs alone.
    (1 to passes).foreach { p =>
      rec match {
        case None => untracedPass(p)
        case Some(r) if p % 2 == 1 => untracedPass(p); tracedPass(r, p)
        case Some(r) => tracedPass(r, p); untracedPass(p)
      }
    }
    val h1 = Host.snapshot()
    val heapPeak = Host.heapPeakMb()
    val suiteS = untraced.medians.values.sum
    val (tailS, tailPct) = Stats.tail(untraced.samples)

    // End-to-end metrics beyond BENCHMARK.json's: some apply to one
    // workload only, and p50, tail and RSS spread too widely across runs
    // to gate on; the detail line reports them with their units.
    val reported = Seq(
      ("query_p50_s", Stats.median(untraced.samples), "s"),
      ("query_tail_s", tailS, "s"),
      ("peak_rss_mb", Host.peakRssMb(), "MB")) ++ w.endToEnd(untraced)
    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "data" -> o.data, "cores" -> cores,
      "passes" -> passes, "samples" -> untraced.samples.size, "query_tail_pct" -> tailPct,
      "host.steal_pct" -> Host.stealPct(h0, h1), "jvm.gc_s" -> Host.gcSeconds(h0, h1),
      "jvm.gc_count" -> Host.gcCount(h0, h1), "jvm.heap_peak_mb" -> heapPeak,
      "setup_steps_s" -> w.setUpSteps, "medians_s" -> untraced.medians,
      "latencies_s" -> untraced.latencies)

    val metrics: Seq[(String, Double, String)] = rec match {
      case None => Seq(("setup_s", setupS, "s"), ("suite_s", suiteS, "s"))
      case Some(rec) =>
        val tracedSuite = traced.medians.values.sum
        val layers = mutable.LinkedHashMap[String, Double]()
        PerLayer.all.foreach { case (name, _) => layers(name) = 0.0 }
        val c = rec.summed(_ => true)
        def perPass(v: Double) = v / passes
        layers ++= Seq(
          "catalyst.analysis_s" -> perPass(c.analysisMs / 1e3),
          "catalyst.optimization_s" -> perPass(c.optimizationMs / 1e3),
          "catalyst.planning_s" -> perPass(c.planningMs / 1e3),
          "codegen.compiles" -> perPass(compiles._1),
          "codegen.compile_s" -> perPass(compiles._2),
          "sched.jobs" -> perPass(c.jobs), "sched.stages" -> perPass(c.stages),
          "sched.tasks" -> perPass(c.tasks),
          "sched.task_run_s" -> perPass(c.runNs / 1e9), "sched.task_cpu_s" -> perPass(c.cpuNs / 1e9),
          "sched.task_overhead_s" -> perPass(c.overheadMs / 1e3),
          "sched.driver_gap_s" -> perPass(rec.driverGapMs(_ => true) / 1e3),
          "sched.busy_frac" -> {
            val wall = rec.roots(_ => true).map(_.dur).sum / 1e3
            if (wall > 0) c.runNs / 1e9 / (wall * cores) else 0.0
          },
          "shuffle.write_bytes" -> perPass(c.shuffleWriteBytes),
          "shuffle.write_records" -> perPass(c.shuffleWriteRecords),
          "shuffle.fetch_wait_s" -> perPass(c.fetchWaitMs / 1e3),
          "shuffle.spill_bytes" -> perPass(c.spillBytes),
          "io.read_bytes" -> perPass(c.readBytes), "io.write_bytes" -> perPass(c.writeBytes),
          "io.write_records" -> perPass(c.writeRecords),
          // the GC readings span the traced and the untraced passes
          "jvm.gc_s" -> Host.gcSeconds(h0, h1) / (2 * passes),
          "jvm.gc_count" -> Host.gcCount(h0, h1).toDouble / (2 * passes),
          "jvm.heap_peak_mb" -> heapPeak,
          "host.steal_pct" -> Host.stealPct(h0, h1),
          "trace.overhead_frac" -> (tracedSuite / suiteS - 1))
        layers ++= w.layers(traced, rec, passes)
        if (o.spans.nonEmpty)
          rec.writeSpans(java.nio.file.Paths.get(o.spans),
            Map("workload" -> o.workload, "seed" -> o.seed, "passes" -> passes))
        detail("traced_suite_s") = tracedSuite
        PerLayer.all.map { case (n, unit) => (n, layers(n), unit) }
    }

    val all = Seq(w.setUpRunner, untraced, traced)
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    val failures = all.flatMap(_.failures)
    val failFrac = ("fail_frac", if (attempted > 0) failed.toDouble / attempted else 1.0, "ratio")
    def byName(ms: Seq[(String, Double, String)]) = mutable.LinkedHashMap(ms.map { case (n, v, u) =>
      n -> Map("value" -> v, "unit" -> u) }: _*)
    detail("metrics") = byName(reported :+ failFrac)
    detail("failures") = failures.take(20).toSeq
    Map("correct" -> (failed == 0 && attempted > 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> byName(metrics), "detail" -> detail)
  }
}

/** Spark's code generator compile counter and time (CodegenMetrics). The
  * time is the histogram's mean × count, so it is an estimate.
  */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  def snapshot(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount / 1e3)
  }
  def delta(a: (Long, Double)): (Double, Double) = {
    val b = snapshot()
    ((b._1 - a._1).toDouble, (b._2 - a._2).max(0.0))
  }
}

/** Every per-layer metric the traced run prints, with its unit. A metric
  * that does not apply to a workload prints 0.
  */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "codegen.compiles" -> "count", "codegen.compile_s" -> "s",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.task_run_s" -> "s", "sched.task_cpu_s" -> "s", "sched.task_overhead_s" -> "s",
    "sched.driver_gap_s" -> "s", "sched.busy_frac" -> "ratio",
    "shuffle.write_bytes" -> "bytes", "shuffle.write_records" -> "count",
    "shuffle.fetch_wait_s" -> "s", "shuffle.spill_bytes" -> "bytes",
    "io.read_bytes" -> "bytes", "io.write_bytes" -> "bytes", "io.write_records" -> "count",
    "shared.base_s" -> "s", "shared.corpus_s" -> "s",
    "ops.dedup_s" -> "s", "ops.similarity_s" -> "s", "ops.graph_s" -> "s", "ops.text_s" -> "s",
    "streaming.jobs" -> "count", "streaming.write_bytes" -> "bytes",
    "udf.guest_calls" -> "count", "udf.rows_per_call" -> "rows",
    "udf.rowwise_rows_per_call" -> "rows", "udf.calls_over_min" -> "ratio",
    "udf.sort_calls_over_min" -> "ratio", "udf.host_ns_per_row" -> "ns/row",
    "codec.encode_num_ns_per_row" -> "ns/row", "codec.decode_num_ns_per_row" -> "ns/row",
    "codec.encode_str_ns_per_row" -> "ns/row", "codec.decode_str_ns_per_row" -> "ns/row",
    "guest.pow_ns_per_row" -> "ns/row", "guest.sat_ns_per_row" -> "ns/row",
    "guest.rev_ns_per_row" -> "ns/row", "guest.vmag_ns_per_row" -> "ns/row",
    "guest.contention_pow" -> "ratio", "guest.contention_sat" -> "ratio",
    "guest.contention_rev" -> "ratio", "guest.contention_vmag" -> "ratio",
    "guest.instances_per_call" -> "ratio", "guest.first_call_ms" -> "ms",
    "ddl.parse_ms" -> "ms", "ddl.create_ms" -> "ms",
    "jvm.gc_s" -> "s", "jvm.gc_count" -> "count", "jvm.heap_peak_mb" -> "MB",
    "host.steal_pct" -> "%", "trace.overhead_frac" -> "ratio")
}

/** What differs between workloads: set-up, one pass, and the metrics
  * only some workloads have.
  */
trait Workload {
  def spark: SparkSession
  /** Failures of untimed set-up work that is checked too (warm passes). */
  val setUpRunner: Runner
  def setUp(): Unit
  /** Seconds of each set-up step, for the detail line. */
  val setUpSteps = mutable.LinkedHashMap[String, Double]()
  protected def step[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally setUpSteps(name) = (System.nanoTime() - t0) / 1e9
  }
  def pass(r: Runner, pass: Int, rec: Option[Recorder]): Unit
  /** Workload-only end-to-end metrics: (name, value, unit). */
  def endToEnd(r: Runner): Seq[(String, Double, String)]
  def layers(r: Runner, rec: Recorder, passes: Int): Map[String, Double]
}

/** `sql_suite` and `llm_pipeline`. */
final class EntryWorkload(o: Main.Opts, cores: Int, golden: String => Map[String, String])
    extends Workload {
  val spark: SparkSession = EntryWorkloads.session(cores)
  val setUpRunner = new Runner(o.seed)
  private val llm = o.workload == "llm_pipeline"
  private val ids =
    if (llm) EntryWorkloads.llmEntries else EntryWorkloads.sqlEntries.map(_ -> "relational")
  private lazy val ops = EntryWorkloads.ops(spark, o.data, ids, golden(o.data))
  private def baseS = setUpSteps.getOrElse("shared.base", 0.0)
  private def corpusS = setUpSteps.getOrElse("shared.corpus", 0.0)

  def setUp(): Unit = {
    if (llm) {
      step("shared.base")(graft.queries.SharedStages.warmBase(spark, o.data))
      step("shared.corpus")(graft.queries.SharedStages.warmCorpus(spark, o.data))
    }
    step("warm_pass")(setUpRunner.pass(ops, 0))
  }

  def pass(r: Runner, pass: Int, rec: Option[Recorder]): Unit = r.pass(ops, pass, rec)

  private def familyS(r: Runner, family: String): Double = {
    val m = r.medians
    ops.filter(_.family == family).map(op => m.getOrElse(op.name, 0.0)).sum
  }

  def endToEnd(r: Runner): Seq[(String, Double, String)] =
    if (llm) Seq(("shared_build_s", baseS + corpusS, "s"), ("stream_s", familyS(r, "streaming"), "s"))
    else Nil

  def layers(r: Runner, rec: Recorder, passes: Int): Map[String, Double] = if (!llm) Map.empty else {
    val streaming = ops.filter(_.family == "streaming").map(_.name).toSet
    val sc = rec.summed(streaming.contains)
    Map("shared.base_s" -> baseS, "shared.corpus_s" -> corpusS,
      "ops.dedup_s" -> familyS(r, "dedup"), "ops.similarity_s" -> familyS(r, "similarity"),
      "ops.graph_s" -> familyS(r, "graph"), "ops.text_s" -> familyS(r, "text"),
      "streaming.jobs" -> sc.jobs.toDouble / passes,
      "streaming.write_bytes" -> sc.writeBytes.toDouble / passes)
  }
}

/** `wasm_udf`. */
final class UdfWorkload(o: Main.Opts, cores: Int) extends Workload {
  val spark: SparkSession = graft.Engine.local(cores).spark
  val setUpRunner = new Runner(o.seed)
  private val udf = new Udf(spark, o.seed, cores, if (o.smoke) Udf.Smoke else Udf.Full,
    o.breakExpectation)
  private var readiness: Seq[Udf.Ready] = Nil
  private var shapes: Map[String, Udf.Shape] = Map.empty
  private var ops: Seq[Op] = Nil
  /** Guest calls and new guest instances, per runner and query. */
  private val calls = mutable.Map[(Runner, String), (Long, Long)]()

  /** `ops`, counting the guest calls each makes for runner `r`. */
  private def counted(r: Runner): Seq[Op] = ops.map { op =>
    op.copy(exec = key => {
      val (d, c, i) = udf.counting(op.exec(key))
      val (c0, i0) = calls.getOrElse((r, op.name), (0L, 0L))
      calls((r, op.name)) = (c0 + c, i0 + i)
      d
    })
  }

  def setUp(): Unit = {
    readiness = step("ready")(udf.ready())
    step("inputs")(udf.prepare())
    shapes = step("shapes")(udf.shapes())
    ops = step("expected")(udf.ops())
    // two warm passes: after one, the row-wise and sorted queries still
    // get faster from pass to pass
    step("warm_pass")(Seq(0, -1).foreach(p => setUpRunner.pass(counted(setUpRunner), p)))
  }

  def pass(r: Runner, pass: Int, rec: Option[Recorder]): Unit = r.pass(counted(r), pass, rec)

  private def rowsPerS(r: Runner, names: String*): Double = {
    val m = r.medians
    names.map(n => shapes(n).rows).sum / names.map(m(_)).sum
  }

  def endToEnd(r: Runner): Seq[(String, Double, String)] = Seq(
    ("udf_num_rows_per_s", rowsPerS(r, "pow", "sat"), "rows/s"),
    ("udf_str_rows_per_s", rowsPerS(r, "rev"), "rows/s"),
    ("udf_simd_rows_per_s", rowsPerS(r, "vmag"), "rows/s"),
    ("udf_rowwise_rows_per_s", rowsPerS(r, "rowwise"), "rows/s"),
    ("udf_ready_s", readiness.map(_.totalS).sum, "s"))

  def layers(r: Runner, rec: Recorder, passes: Int): Map[String, Double] = {
    def c(name: String) = calls.getOrElse((r, name), (0L, 0L))
    val batch = Seq("pow", "rev", "vmag")
    val batchCalls = batch.map(c(_)._1).sum.toDouble
    val allCalls = shapes.keys.toSeq.map(c(_)._1).sum.toDouble
    val allInstances = shapes.keys.toSeq.map(c(_)._2).sum.toDouble
    val hops = udf.hops()
    val powRun = rec.summed(_ == "pow").runNs.toDouble
    val hopNs = hops("codec.encode_num_ns_per_row") + hops("guest.pow_ns_per_row") +
      hops("codec.decode_num_ns_per_row")
    hops ++ Map(
      "udf.guest_calls" -> allCalls / passes,
      "udf.rows_per_call" -> batch.map(shapes(_).rows).sum * passes / batchCalls,
      "udf.rowwise_rows_per_call" -> shapes("rowwise").minCalls * passes / c("rowwise")._1.toDouble,
      "udf.calls_over_min" -> batchCalls / (batch.map(shapes(_).minCalls).sum * passes),
      "udf.sort_calls_over_min" -> c("sat")._1.toDouble / (shapes("sat").minCalls * passes),
      "udf.host_ns_per_row" -> (powRun / (shapes("pow").rows * passes) - hopNs),
      "guest.instances_per_call" -> (if (allCalls > 0) allInstances / allCalls else 0.0),
      "guest.first_call_ms" -> readiness.map(_.firstCallMs).sum,
      "ddl.parse_ms" -> readiness.map(_.parseMs).sum,
      "ddl.create_ms" -> readiness.map(_.createMs).sum)
  }
}
