package bench

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

object Recorder {
  /** The recorder of a traced run while it records. */
  @volatile var active: Option[Recorder] = None
}

/** One traced interval. Times are epoch milliseconds; `parent` is the
  * id of the span that caused this one (0 for a root), and `req` names
  * the request it belongs to (entry × pass).
  */
final case class Span(id: Long, parent: Long, name: String, req: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** Task and stage counters summed over one request. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runNs = 0L
  var cpuNs = 0L
  var overheadMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var readBytes = 0L
  var writeBytes = 0L
  var writeRecords = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
}

/** The traced run's recorder. It registers a `SparkListener` and a
  * `QueryExecutionListener` from outside the engine, keeps every span in
  * memory, and writes them out once, at the end. Requests are tagged on
  * the calling thread with the `bench.req` local property, which Spark
  * copies into every job it starts.
  */
final class Recorder(spark: SparkSession) {
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private val ids = new java.util.concurrent.atomic.AtomicLong()
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, Counters]()
  private def countersOf(req: String): Counters = counters.computeIfAbsent(req, _ => new Counters)

  private def record(name: String, req: String, parent: Long, start: Double, end: Double): Unit =
    spans.add(Span(ids.incrementAndGet(), parent, name, req, start, end))

  /** Time `f` as a root span of request `req`; Spark work started inside
    * it is attributed to the request.
    */
  def request[A](name: String, req: String)(f: => A): A = {
    val sc = spark.sparkContext
    val id = ids.incrementAndGet()
    sc.setLocalProperty("bench.req", req)
    sc.setLocalProperty("bench.span", id.toString)
    val t0 = nowMs()
    try f
    finally {
      spans.add(Span(id, 0L, name, req, t0, nowMs()))
      sc.setLocalProperty("bench.req", null)
      sc.setLocalProperty("bench.span", null)
    }
  }

  private val jobReq = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Double)]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val req = p.flatMap(x => Option(x.getProperty("bench.req"))).getOrElse("")
      val parent = p.flatMap(x => Option(x.getProperty("bench.span"))).map(_.toLong).getOrElse(0L)
      jobReq.put(e.jobId, (req, parent, e.time.toDouble))
      jobSpan.put(e.jobId, ids.incrementAndGet())
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (req, parent, start) = Option(jobReq.remove(e.jobId)).getOrElse(("", 0L, e.time.toDouble))
      val id = Option(jobSpan.get(e.jobId)).map(_.longValue).getOrElse(ids.incrementAndGet())
      spans.add(Span(id, parent, "spark.job", req, start, e.time.toDouble))
      val c = countersOf(req)
      c.synchronized { c.jobs += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val job: Int = Option(stageJob.get(info.stageId)).map(_.intValue).getOrElse(-1)
      val req = Option(jobReq.get(job)).map(_._1).getOrElse("")
      val parent = Option(jobSpan.get(job)).map(_.longValue).getOrElse(0L)
      for (s <- info.submissionTime; t <- info.completionTime)
        record("spark.stage", req, parent, s.toDouble, t.toDouble)
      val m = info.taskMetrics
      val c = countersOf(req)
      c.synchronized {
        c.stages += 1
        if (m != null) {
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spillBytes += m.diskBytesSpilled
          c.readBytes += m.inputMetrics.bytesRead
          c.writeBytes += m.outputMetrics.bytesWritten
          c.writeRecords += m.outputMetrics.recordsWritten
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job: Int = Option(stageJob.get(e.stageId)).map(_.intValue).getOrElse(-1)
      val req = Option(jobReq.get(job)).map(_._1).getOrElse("")
      val m = e.taskMetrics
      val c = countersOf(req)
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.runNs += m.executorRunTime * 1000000L
          c.cpuNs += m.executorCpuTime
          c.overheadMs += (e.taskInfo.duration - m.executorRunTime).max(0L)
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  /** Catalyst phase times of one query execution, as spans and counters.
    * The listener runs on Spark's bus thread, so a phase is attributed to
    * the request whose span contains it when the spans are summarized.
    */
  def phases(qe: QueryExecution): Unit = {
    qe.tracker.phases.foreach { case (phase, s) =>
      record(s"catalyst.$phase", "", 0L, s.startTimeMs.toDouble, s.endTimeMs.toDouble)
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    Recorder.active = Some(this)
  }

  /** Wait until Spark's listener buses have delivered every event, then
    * detach the listeners.
    */
  def stop(): Unit = {
    Recorder.active = None
    org.apache.spark.BenchBus.drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Root spans whose name satisfies `p`. */
  def roots(p: String => Boolean): Seq[Span] =
    spans.asScala.filter(s => s.parent == 0L && s.req.nonEmpty && p(s.name)).toSeq

  /** Every span, with each Catalyst phase attached to the request span
    * that contains it.
    */
  private def attributed(): Seq[Span] = {
    val all = spans.asScala.toSeq
    val rs = roots(_ => true)
    all.map { s =>
      if (s.req.nonEmpty || s.parent != 0L) s
      else rs.find(r => r.start <= s.start && s.end <= r.end + 1)
        .map(r => s.copy(parent = r.id, req = r.req)).getOrElse(s)
    }
  }

  /** Counters of the requests whose root span satisfies `p`, with the
    * Catalyst phases that fall inside those spans.
    */
  def summed(p: String => Boolean): Counters = {
    val reqs = roots(p).map(_.req).toSet
    val out = new Counters
    reqs.foreach { r =>
      Option(counters.get(r)).foreach { c =>
        out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
        out.runNs += c.runNs; out.cpuNs += c.cpuNs; out.overheadMs += c.overheadMs
        out.shuffleWriteBytes += c.shuffleWriteBytes
        out.shuffleWriteRecords += c.shuffleWriteRecords
        out.fetchWaitMs += c.fetchWaitMs; out.spillBytes += c.spillBytes
        out.readBytes += c.readBytes; out.writeBytes += c.writeBytes
        out.writeRecords += c.writeRecords
      }
    }
    attributed().filter(s => reqs.contains(s.req)).foreach { s =>
      val ms = s.dur.round
      s.name match {
        case "catalyst.analysis" => out.analysisMs += ms
        case "catalyst.optimization" => out.optimizationMs += ms
        case "catalyst.planning" => out.planningMs += ms
        case _ => ()
      }
    }
    out
  }

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    intervals.map { case (a, b) => (a.max(lo), b.min(hi)) }.sortBy(_._1).foreach { case (a, b) =>
      val from = a.max(reach)
      if (b > from) total += b - from
      reach = reach.max(b)
    }
    total
  }

  /** Σ over root spans of (span duration − the part its jobs cover): time
    * a request spent with no Spark job running.
    */
  def driverGapMs(p: String => Boolean): Double = roots(p).map { r =>
    val jobs = spans.asScala.filter(s => s.name == "spark.job" && s.req == r.req)
      .map(s => (s.start, s.end)).toSeq
    r.dur - covered(jobs, r.start, r.end)
  }.sum

  /** Self time per span name, in seconds: each span's duration minus the
    * union of its children's intervals.
    */
  def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        s.dur - covered(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
      }.sum / 1e3
    }
  }

  def writeSpans(path: java.nio.file.Path, extra: Map[String, Any]): Unit = {
    val all = attributed()
    val ss = all.sortBy(_.start).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
        "start_ms" -> s.start, "end_ms" -> s.end)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    Main.mapper.writeValue(path.toFile, extra ++ Map("self_s" -> selfTimes(all), "spans" -> ss))
  }
}
