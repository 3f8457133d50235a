package graft
import scala.collection.immutable.ListMap
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.DataFrame
object Bench {
  /** The timed action: compute the WHOLE answer — every row and every
    * column, engine-UDF columns included — into Spark's no-op sink.
    * (`count()` let Catalyst prune the UDF column, so q63/q65/q67 made
    * no guest call at all in their timed run.) */
  def runAnswer(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Writes every bench line and bench_perq.json. Jackson writes
    * non-finite doubles as the strings "NaN"/"Infinity"/"-Infinity", so
    * every line stays valid JSON. */
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Seconds (or percent) as a three-decimal JSON number. */
  private def s3(v: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(3, java.math.RoundingMode.HALF_UP)

  /** An observe()d metric value: numbers and booleans as JSON values,
    * anything else as its string. */
  private def metricValue(v: Any): Any = v match {
    case null | _: java.lang.Number | _: java.lang.Boolean => v
    case other => String.valueOf(other)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Env.session(cpus, "spark.local.dir" -> Env.scratchDir)
    // Untimed warmup: file listing + parquet footer reads for every table,
    // plus one tiny end-to-end query so JVM/codegen/shuffle machinery is
    // JIT-warm before the first timed query (otherwise whichever query runs
    // first absorbs ~3-5 s of startup cost and the per-query numbers lie).
    // guarded: a missing table must not kill the run before the JSON
    // line prints — the per-query loop will surface it in "errors"
    try {
      queries.Tables.names.foreach(n => queries.Tables.load(spark, sfDir, n).count())
      runAnswer(SparkEntry.queries("q32_limit_offset")(spark, sfDir))
    } catch { case _: Throwable => () }
    // Best-of-2 over two FULL passes: the box shows rare multi-second
    // stalls (shared host); min per query measures steady-state latency,
    // and interleaving the passes keeps one stall from hitting both
    // attempts of the same query.
    // SPARK_GRAFT_ONLY=p05,p09 restricts the run to the named query-id
    // prefixes (for growth-curve measurements of a family across scale
    // factors); SPARK_GRAFT_PASSES widens best-of-2 to best-of-N.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n.takeWhile(_ != '_'))) }
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt.max(1)
    // a failing query must be VISIBLE in the bench line, not timed as a
    // near-zero "pass" — collect failed names for an "errors" field
    val failed = scala.collection.mutable.SortedSet[String]()
    // observe()d metrics (e.g. p09's dropped_oversized skew-cap count)
    // surface in the bench line so silent-cap recall loss is visible
    // per run, not only in tests; keyed by short query id
    val observed = scala.collection.mutable.SortedMap[String, ListMap[String, Any]]()
    def pass(): Map[String, Double] = ordered.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val made = try {
        val df = fn(spark, sfDir)
        runAnswer(df)
        Some(df)
      } catch { case _: Throwable => failed += name; None }
      val dt = (System.nanoTime() - t0) / 1e9
      // Untimed: the noop write plans its OWN command execution, so the
      // df's QueryExecution — whose accumulators back observedMetrics —
      // never runs; when a query declares metrics (the key is present
      // even before execution), run the df's plan once to populate them.
      // Guarded: metric plumbing must never fail the bench.
      made.foreach { df =>
        try if (df.queryExecution.observedMetrics.nonEmpty) {
          df.queryExecution.toRdd.count()
          // one merged object per query: multiple observe() points must
          // not overwrite each other (field keys get the metric-name
          // prefix when there is more than one)
          val ms = df.queryExecution.observedMetrics.toSeq.sortBy(_._1)
          observed(name.takeWhile(_ != '_')) = ListMap(ms.flatMap { case (mname, row) =>
            row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
              (if (ms.size > 1) s"$mname.$f" else f) -> metricValue(row.get(i))
            }
          }: _*)
        } catch { case _: Throwable => () }
      }
      name -> dt
    }.toMap
    // Host-contention measurement (r17 verdict "What's wrong" #4): sample
    // /proc/stat around each pass so a contaminated sweep is MACHINE-
    // identifiable from the committed artifact — steal ticks are CPU time
    // the hypervisor gave to host neighbors while this guest was runnable,
    // the direct signature of the recurring external-load waves prior
    // rounds adjudicated in prose. Fields per pass: steal_ticks,
    // busy_ticks (all non-idle), total_ticks, steal_pct (of total).
    def cpuTicks(): Array[Long] = try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).getOrElse("")
      line.trim.split("\\s+").drop(1).map(_.toLong)
    } catch { case _: Throwable => Array.empty[Long] }
    def stealSample(before: Array[Long], after: Array[Long]): (Long, Long, Long) = {
      if (before.length < 8 || after.length < 8) return (-1L, -1L, -1L)
      val d = after.zip(before).map { case (a, b) => (a - b).max(0L) }
      val total = d.sum
      val idle = d(3) + (if (d.length > 4) d(4) else 0L) // idle + iowait
      (d(7), total - idle, total)
    }
    // r21 (VERDICT r20 #4): the one-time SharedStages materializations
    // (pair pass + CC labels + corpus bands) are charged EXPLICITLY as
    // their own bench lines BEFORE the passes, because best-of-N minima
    // erase whatever pass-1 consumer paid them. Additions only: every
    // existing key keeps its methodology; the total now transparently
    // includes the shared cost. Skipped under SPARK_GRAFT_ONLY so
    // family-restricted growth-curve runs keep their old shape.
    // The builds' observe()d skew-cap metric (dropped_oversized inside
    // simhashPairs) is harvested via a QueryExecutionListener — the
    // no-silent-caps guard the r20 reroute made invisible — and polled
    // for AFTER timing (the listener bus is async; the wait is untimed).
    val sharedTimes = scala.collection.mutable.LinkedHashMap[String, Double]()
    val sharedDrops = new java.util.concurrent.ConcurrentLinkedQueue[Any]()
    if (only.isEmpty) {
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          try qe.observedMetrics.foreach { case (mname, row) =>
            if (mname == "graft_simhash_buckets")
              sharedDrops.add(metricValue(row.get(row.fieldIndex("dropped_oversized"))))
          } catch { case _: Throwable => () }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      }
      try spark.listenerManager.register(listener)
      catch { case _: Throwable => () }
      def timeShared(name: String)(f: => Unit): Unit = {
        val t0 = System.nanoTime()
        try f catch { case _: Throwable => failed += name }
        sharedTimes(name) = (System.nanoTime() - t0) / 1e9
      }
      // key names carry no '_' so the benchq short-id truncation keeps
      // them whole
      timeShared("sharedstages")(queries.SharedStages.warmBase(spark, sfDir))
      timeShared("sharedcorpus")(queries.SharedStages.warmCorpus(spark, sfDir))
      // both builds run one simhashPairs write each; bus delivery is
      // FIFO, so drops arrive in build order — poll briefly (untimed)
      val deadline = System.currentTimeMillis() + 5000
      while (sharedDrops.size < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val drops = sharedDrops.toArray
      Seq("sharedstages", "sharedcorpus").zipWithIndex.foreach {
        case (k, i) => if (drops.length > i)
          observed(k) = ListMap("dropped_oversized" -> drops(i))
      }
      try spark.listenerManager.unregister(listener)
      catch { case _: Throwable => () }
    }
    val stealPerPass = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val passes = Seq.fill(nPasses) {
      val before = cpuTicks()
      val p = pass()
      stealPerPass += stealSample(before, cpuTicks())
      p
    }
    val results = ordered.map { case (name, _) =>
      name -> passes.map(_(name)).min
    } ++ sharedTimes.toSeq
    // per-pass wall totals in the summary line: pass1 ≫ pass2 means JIT
    // warmth (expected); pass totals drifting TOGETHER across rounds with
    // unchanged code is host contention (the r14 drift adjudication —
    // this field makes that attribution readable from artifacts alone)
    val passTotals = passes.map(p => p.values.sum)
    // The driver captures only the LAST 2000 chars of output and parses
    // the final JSON line. 180+ query timings no longer fit in one line
    // inside that window (the head — with "metric" — got truncated in
    // round 8 and the driver recorded parsed:null). So: per-query
    // timings stream out FIRST, one short line each (greppable
    // "benchq" prefix, never the word "metric"), and the LAST line is a
    // compact summary JSON — total, errors, and the slowest entries —
    // sized well under the capture window even with sbt's trailing
    // "[success]" line after it.
    def short(k: String): String = k.takeWhile(_ != '_')
    def line(v: Any): String = json.writeValueAsString(v)
    results.foreach { case (k, v) => println("benchq " + line(Map(short(k) -> s3(v)))) }
    observed.foreach { case (k, v) => println("benchm " + line(Map(k -> v))) }
    val errs = failed.toSeq.map(short)
    val stealPcts = stealPerPass.map { case (st, _, tot) =>
      s3(if (tot > 0) st.toDouble * 100.0 / tot else -1.0)
    }
    // The full per-query map ALSO lands in a committed file: the
    // driver's stdout capture window holds only the tail, so cross-
    // round per-query regression diffing needs an artifact that does
    // not depend on how many benchq lines scrolled out (round 9 lost
    // p01-p83 from the captured tail).
    try {
      // per-entry PASS SPLITS (r15 verdict #5): "queries" keeps the
      // best-of-N the cross-round diffs read, "passes" carries every
      // pass's raw timing so a family-level driver drift (e.g. r15's
      // p227/p216 cluster) is attributable from committed artifacts
      // alone — pass1 ≫ pass2 on an entry = JIT/warmup; all passes
      // elevated together vs the prior round = host contention
      val perPass = ordered.map { case (k, _) =>
        short(k) -> passes.map(p => s3(p(k)))
      } ++ sharedTimes.toSeq.map { case (k, v) =>
        // the shared builds run exactly once per process (memoized), so
        // their pass split is a single sample by construction
        k -> Seq(s3(v))
      }
      val steal = stealPerPass.zip(stealPcts).map { case ((st, busy, tot), pct) =>
        ListMap("steal_ticks" -> st, "busy_ticks" -> busy, "total_ticks" -> tot,
          "steal_pct" -> pct)
      }
      val out = sys.env.getOrElse("SPARK_GRAFT_PERQ_FILE", "bench_perq.json")
      json.writeValue(new java.io.File(out), ListMap(
        "sf" -> sfDir,
        "n_queries" -> results.size,
        "errors" -> errs,
        "queries" -> ListMap(results.map { case (k, v) => short(k) -> s3(v) }: _*),
        "passes" -> ListMap(perPass: _*),
        "steal" -> steal,
        "observed" -> observed))
    } catch { case _: Throwable => () } // artifact write must not kill the run
    // per-pass wall totals and steal share in the summary line: the
    // driver's capture window parses only this line, and the contention
    // adjudication must be readable from it alone
    println(line(ListMap(
      "metric" -> "total",
      "value" -> s3(results.map(_._2).sum),
      "unit" -> "sec",
      "n_queries" -> results.size,
      "errors" -> errs,
      "slowest" -> ListMap(results.sortBy(-_._2).take(8).map { case (k, v) => short(k) -> s3(v) }: _*),
      "pass_totals" -> passTotals.map(s3),
      "steal_pct" -> stealPcts,
      "sf" -> sfDir)))
    spark.stop()
  }
}
