package graft

import org.apache.spark.sql.SparkSession

/** Host-environment helpers for the driver-contract mains. */
object Env {

  /** Engine-wide session tuning, applied by [[session]] (and by callers
    * that build a plain session of their own):
    *
    * collect_list/collect_set aggregations (the dedup inverted indexes)
    * use ObjectHashAggregate, which silently falls back to SORT-BASED
    * aggregation at 128 hash-map keys (the conservative default) —
    * thread dumps showed the posting-list stages spending their time in
    * the fallback's per-group buffer churn. Small per-group buffers +
    * large heaps make a much higher threshold the right trade at any
    * scale.
    */
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")

  /** The one session builder — the `SessionContext::new()
    * .with_function_factory(...)` analog (reference:
    * examples/wasaffi.rs:10). Every session the engine, Verify, Bench,
    * the plan tool and the specs run on comes from here, so they all
    * plan the same way (engine UDFs through `BatchProjectExec`):
    * [[tuned]], `local[cores]`, [[GraftExtensions]], `cores` shuffle
    * partitions, UTC, UI off, log level WARN. `overrides` are extra
    * confs applied last (e.g. `spark.local.dir` → [[scratchDir]]).
    */
  def session(cores: Int, overrides: (String, String)*): SparkSession = {
    val b = tuned(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("wasaffispark")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = overrides.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Spark scratch space (`spark.local.dir`) for shuffle files and
    * spills. This host's root disk shows multi-second I/O stalls under
    * concurrent writers (load dominated by iowait while CPUs idle),
    * which turns every shuffle-heavy query into a latency lottery; the
    * box has ample RAM, so shuffle scratch goes to tmpfs when
    * available. The cluster analog is standard practice: point
    * `spark.local.dir` at fast local SSDs, never at a slow shared
    * volume. Cleaned up at JVM exit.
    */
  lazy val scratchDir: String = {
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite) "/dev/shm" else sys.props("java.io.tmpdir")
    val dir = s"$base/graft_local_${queries.runToken}"
    queries.cleanupAtExit(dir)
    dir
  }
}
