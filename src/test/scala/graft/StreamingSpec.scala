package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Per-user session state for the flatMapGroupsWithState spec
  * (top-level so the Product encoder derives cleanly).
  */
case class SessState(start: Long, last: Long, n: Int)

/** Structured-Streaming semantics specs: incremental watermark windows
  * over a MemoryStream (append mode — late data dropped once the
  * watermark passes), and custom session state via
  * flatMapGroupsWithState. The bounded AvailableNow entries are
  * oracle-checked by the driver (queries p15-p17); these specs prove
  * the *incremental* behaviors the oracle can't see.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Env.session(4)

  override def afterAll(): Unit = spark.stop()

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("append-mode tumbling window emits only watermark-closed bins and drops late rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Double)]
    val agg = in.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "15 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bin"), col("n"))
    val q = agg.writeStream.format("memory").queryName("wmspec")
      .outputMode(OutputMode.Append()).start()

    // batch 1: two rows in the 00:00 bin, one in 00:15
    in.addData((ts("2024-01-01 00:01:00"), 1.0), (ts("2024-01-01 00:05:00"), 1.0),
      (ts("2024-01-01 00:16:00"), 1.0))
    q.processAllAvailable()
    assert(spark.table("wmspec").count() == 0) // nothing closed yet

    // batch 2: watermark → 00:30, closing both the 00:00 and 00:15 bins
    in.addData((ts("2024-01-01 00:40:00"), 1.0))
    q.processAllAvailable()
    val closed = spark.table("wmspec").collect()
      .map(r => r.getTimestamp(0).toString -> r.getAs[Long]("n")).toMap
    assert(closed == Map("2024-01-01 00:00:00.0" -> 2L, "2024-01-01 00:15:00.0" -> 1L))

    // batch 3: a row for the already-closed 00:00 bin is LATE → dropped
    in.addData((ts("2024-01-01 00:02:00"), 99.0))
    q.processAllAvailable()
    assert(spark.table("wmspec").count() == 2)
    q.stop()
  }

  test("flatMapGroupsWithState sessionizes with custom per-user state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gap = 1800L // seconds
    val in = MemoryStream[(Long, Long)] // (user_id, epoch_s)

    val sessions = in.toDF().toDF("user_id", "ep")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[SessState], (Long, Long, Long, Int)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[List[SessState]]) =>
          // fold sorted event times into gap-separated sessions; list
          // head is the open session, tail are closed ones
          val eps = rows.map(_._2).toList.sorted
          val merged = eps.foldLeft(state.getOption.getOrElse(Nil)) { (acc, ep) =>
            acc match {
              case head :: tail if ep - head.last < gap =>
                SessState(head.start, ep, head.n + 1) :: tail
              case all => SessState(ep, ep, 1) :: all
            }
          }
          merged match {
            case open :: closed =>
              state.update(List(open))
              closed.reverseIterator.map(s => (user, s.start, s.last, s.n))
            case Nil => Iterator.empty
          }
      }
      .toDF("user_id", "start_ep", "end_ep", "n_events")

    val q = sessions.writeStream.format("memory").queryName("fmgs")
      .outputMode(OutputMode.Append()).start()
    in.addData((7L, 1000L), (7L, 1100L), (7L, 1200L))
    q.processAllAvailable()
    assert(spark.table("fmgs").count() == 0) // one open session, none closed
    in.addData((7L, 5000L)) // gap > 1800 → closes the first session
    q.processAllAvailable()
    val rows = spark.table("fmgs").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("start_ep") == 1000L && r.getAs[Long]("end_ep") == 1200L
      && r.getAs[Int]("n_events") == 3)
    q.stop()
  }

  test("highWaterAlerts carries (count, max) state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, Double)]
    val alerts = graft.streaming.StreamingOps.highWaterAlerts(
      in.toDF().toDF("user_id", "ts", "event_id", "value"))
    val q = alerts.writeStream.format("memory").queryName("hwm")
      .outputMode(OutputMode.Append()).start()

    // batch 1: rising then falling — alerts on 5.0 and 9.0 only
    in.addData((1L, ts("2024-01-01 00:00:00"), 10L, 5.0),
      (1L, ts("2024-01-01 00:01:00"), 11L, 9.0),
      (1L, ts("2024-01-01 00:02:00"), 12L, 7.0))
    q.processAllAvailable()
    assert(spark.table("hwm").collect().map(_.getLong(1)).sorted.toSeq == Seq(10L, 11L))

    // batch 2: 8.0 is under batch 1's max (state suppresses it — a batch
    // restart would wrongly alert); 9.5 beats it, with running_n
    // continued from batch 1's count, not restarted
    in.addData((1L, ts("2024-01-01 00:03:00"), 13L, 8.0),
      (1L, ts("2024-01-01 00:04:00"), 14L, 9.5))
    q.processAllAvailable()
    val rows = spark.table("hwm").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1)
    assert(rows.toSeq == Seq((10L, 1L, 5.0), (11L, 2L, 9.0), (14L, 5L, 9.5)))
    q.stop()
  }

  test("AvailableNow file stream over the fixture matches the batch aggregation") {
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingOps.runToMemory(
      spark, mode = "complete") { s =>
      graft.streaming.StreamingOps.tumblingAgg(
        graft.streaming.StreamingOps.eventsStream(s, sf)) }
    val batch = queries.Tables.load(spark, sf, "events")
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("bin_start"),
        col("event_type"), col("n"))
    assert(streamed.select("bin_start", "event_type", "n").except(batch).isEmpty
      && batch.except(streamed.select("bin_start", "event_type", "n")).isEmpty)
  }

  test("checkpointed restart is exactly-once: a second run over the same " +
    "source reprocesses nothing") {
    // the recovery contract a 100 TB ingest pipeline depends on: source
    // offsets live in the checkpoint, so a restarted query must not
    // re-emit already-committed batches
    val sf = "/root/testdata/sf0.001"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ckpt").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-ckpt-out").toString
    def runOnce(): Long = {
      // file sink (memory sink cannot recover from a checkpoint)
      val q = graft.streaming.StreamingOps.tumblingAgg(
          graft.streaming.StreamingOps.eventsStream(spark, sf))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(out).count()
    }
    val first = runOnce()
    assert(first > 0, "first run must emit the watermark-closed bins")
    // same checkpoint, unchanged source → no new offsets → no new rows
    assert(runOnce() == first,
      "restart from checkpoint must not reprocess committed data")
  }

  test("dropDuplicatesWithinWatermark suppresses duplicate keys across " +
    "micro-batches while key state lives") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val dedup = in.toDF().toDF("ts", "user_id", "event_type")
      .withColumn("minute_bin", date_trunc("minute", col("ts")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "minute_bin")
    val q = dedup.writeStream.format("memory").queryName("ddwm")
      .outputMode(OutputMode.Append()).start()

    // batch 1: two rows with the SAME (user, type, minute) key → one out
    in.addData((ts("2024-01-01 00:00:10"), 1L, "click"),
      (ts("2024-01-01 00:00:40"), 1L, "click"),
      (ts("2024-01-01 00:01:10"), 1L, "click")) // different minute → kept
    q.processAllAvailable()
    assert(spark.table("ddwm").count() == 2)

    // batch 2: the same key again, watermark not yet past its expiry →
    // state suppresses it (this is what plain per-batch dedup can't do)
    in.addData((ts("2024-01-01 00:00:50"), 1L, "click"))
    q.processAllAvailable()
    assert(spark.table("ddwm").count() == 2)
    q.stop()
  }

  test("left-outer stream-stream join: matches emit immediately, " +
    "unmatched clicks NULL-pad only after the watermark proves no " +
    "future match — the eviction-driven outer semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps
    val in = MemoryStream[(Long, Timestamp, Long, String)]
    val events = in.toDF().toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(0.0)).withColumn("props", lit(""))
    val joined = StreamingOps.clickPurchaseLeftJoin(events)
    val q = joined.writeStream.format("memory").queryName("lsj")
      .outputMode(OutputMode.Append()).start()

    // batch 1: b1 precedes c1 for user 1 (match); c2 for user 2 has no
    // purchase — it must NOT emit yet (a matching purchase could still
    // arrive within the watermark delay)
    in.addData((100L, ts("2024-01-01 09:50:00"), 1L, "purchase"),
      (1L, ts("2024-01-01 10:00:00"), 1L, "click"),
      (2L, ts("2024-01-01 10:00:00"), 2L, "click"))
    q.processAllAvailable()
    val afterB1 = spark.table("lsj").collect()
    assert(afterB1.map(r => (r.getLong(0), r.get(1))).toSet == Set((1L, 100L)),
      s"batch 1 must emit only the matched pair: ${afterB1.mkString(",")}")

    // batches 2-3: both sides advance past 11:00, so the global
    // watermark (min over inputs, 1h delay) passes c2's 10:00 and its
    // NULL-padded row must surface
    in.addData((3L, ts("2024-01-01 11:30:00"), 3L, "click"),
      (101L, ts("2024-01-01 11:29:00"), 3L, "purchase"))
    q.processAllAvailable()
    in.addData((4L, ts("2024-01-01 13:00:00"), 4L, "click"),
      (102L, ts("2024-01-01 13:00:00"), 4L, "purchase"))
    q.processAllAvailable()
    val rows = spark.table("lsj").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
      .toSet
    assert(rows.contains((1L, Some(100L))) && rows.contains((3L, Some(101L))),
      s"matched pairs missing: $rows")
    assert(rows.contains((2L, None)),
      s"unmatched click 2 must NULL-pad after watermark passage: $rows")
    // c4 is still inside the watermark horizon — not yet padded
    assert(!rows.contains((4L, None)) || rows.contains((4L, Some(102L))),
      s"click 4 must not pad while a match is present/possible: $rows")
    q.stop()
  }

  test("right-outer stream-stream join: every purchase survives; one " +
    "with no following click NULL-pads on the click side only after " +
    "the watermark passes its click-match horizon (ts + interval) — " +
    "the mirror of the left-outer mode, purchase-store eviction alone") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps
    val in = MemoryStream[(Long, Timestamp, Long, String)]
    val events = in.toDF().toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(0.0)).withColumn("props", lit(""))
    val joined = StreamingOps.clickPurchaseRightJoin(events)
    val q = joined.writeStream.format("memory").queryName("rsj")
      .outputMode(OutputMode.Append()).start()

    def rows() = spark.table("rsj").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        Option(r.get(1)).map(_.asInstanceOf[Long]))).toSet

    // batch 1: purchase 100 precedes click 1 for user 1 (match);
    // purchase 200 (user 5) has no click — it must NOT emit yet (a
    // click could still arrive within its 30-minute forward window)
    in.addData((100L, ts("2024-01-01 09:50:00"), 1L, "purchase"),
      (1L, ts("2024-01-01 10:00:00"), 1L, "click"),
      (200L, ts("2024-01-01 10:00:00"), 5L, "purchase"))
    q.processAllAvailable()
    assert(rows() == Set((Some(1L), Some(100L))),
      s"batch 1 must emit only the matched pair: ${rows()}")

    // batches 2-3: both sides advance to 13:00, the global watermark
    // (1h delay) reaches 12:00 — past b200's click horizon 10:30
    // (= p_ts + interval), so its click-NULL-padded row must surface
    in.addData((3L, ts("2024-01-01 11:30:00"), 3L, "click"),
      (101L, ts("2024-01-01 11:29:00"), 3L, "purchase"))
    q.processAllAvailable()
    in.addData((4L, ts("2024-01-01 13:00:00"), 4L, "click"),
      (102L, ts("2024-01-01 13:00:00"), 4L, "purchase"))
    q.processAllAvailable()
    val got = rows()
    assert(got.contains((Some(1L), Some(100L))) &&
      got.contains((Some(3L), Some(101L))), s"matched pairs missing: $got")
    assert(got.contains((None, Some(200L))),
      s"unmatched purchase must NULL-pad after watermark passage: $got")
    // no click-side padding in a right-outer join, ever
    assert(!got.exists(p => p._2.isEmpty),
      s"right-outer must never pad the purchase side: $got")
    // the 13:00 purchase is still inside the horizon: never padded yet
    assert(!got.contains((None, Some(102L))),
      s"in-horizon purchase must not pad: $got")
    q.stop()
  }

  test("full-outer stream-stream join: BOTH sides NULL-pad, each only " +
    "after the watermark evicts its state — clicks when no earlier " +
    "purchase can arrive, purchases when no later click can") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps
    val in = MemoryStream[(Long, Timestamp, Long, String)]
    val events = in.toDF().toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(0.0)).withColumn("props", lit(""))
    val joined = StreamingOps.clickPurchaseFullJoin(events)
    val q = joined.writeStream.format("memory").queryName("fsj")
      .outputMode(OutputMode.Append()).start()

    def rows() = spark.table("fsj").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        Option(r.get(1)).map(_.asInstanceOf[Long]))).toSet

    // batch 1: user 1 matches; click 2 (user 2) has no purchase and
    // purchase 200 (user 5) has no click — NEITHER may emit yet: a
    // purchase for c2 / a click for b200 could still arrive on time
    in.addData((100L, ts("2024-01-01 09:50:00"), 1L, "purchase"),
      (1L, ts("2024-01-01 10:00:00"), 1L, "click"),
      (2L, ts("2024-01-01 10:00:00"), 2L, "click"),
      (200L, ts("2024-01-01 10:00:00"), 5L, "purchase"))
    q.processAllAvailable()
    assert(rows() == Set((Some(1L), Some(100L))),
      s"batch 1 must emit only the matched pair: ${rows()}")

    // batches 2-3: both sides advance to 13:00, watermark (1h delay)
    // reaches 12:00 — past c2's 10:00 (click state horizon) AND past
    // b200's 10:30 = ts + interval (purchase state horizon) — so BOTH
    // padded rows must surface, exercising both stores' eviction
    in.addData((3L, ts("2024-01-01 11:30:00"), 3L, "click"),
      (101L, ts("2024-01-01 11:29:00"), 3L, "purchase"))
    q.processAllAvailable()
    in.addData((4L, ts("2024-01-01 13:00:00"), 4L, "click"),
      (102L, ts("2024-01-01 13:00:00"), 4L, "purchase"))
    q.processAllAvailable()
    val got = rows()
    assert(got.contains((Some(1L), Some(100L))) &&
      got.contains((Some(3L), Some(101L))), s"matched pairs missing: $got")
    assert(got.contains((Some(2L), None)),
      s"unmatched click must NULL-pad after watermark passage: $got")
    assert(got.contains((None, Some(200L))),
      s"unmatched purchase must NULL-pad after watermark passage: $got")
    // the 13:00 pair is still inside the horizon: matched or pending,
    // but never padded
    assert(!got.contains((Some(4L), None)) && !got.contains((None, Some(102L))),
      s"in-horizon rows must not pad: $got")
    q.stop()
  }

  test("foreachBatch idempotent sink: batch-id gating makes a replayed " +
    "micro-batch a no-op (the exactly-once sink contract)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the pattern a transactional sink implements: remember the last
    // committed batchId; re-delivery of the same id (post-crash replay)
    // must not double-write
    val committed = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val sink = new scala.collection.mutable.ArrayBuffer[Long]()
    def writeBatch(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
      if (committed.add(batchId)) {
        sink.synchronized { sink ++= df.as[Long].collect() }
      }
    val in = MemoryStream[Long]
    val q = in.toDF().toDF("v").select(col("v"))
      .writeStream.foreachBatch(writeBatch _).start()
    in.addData(1L, 2L)
    q.processAllAvailable()
    assert(sink.sorted == Seq(1L, 2L))
    // replay the SAME batch id manually — the gate must reject it
    writeBatch(Seq(1L, 2L).toDF("v"), 0L)
    assert(sink.sorted == Seq(1L, 2L), "replayed batch id must be a no-op")
    in.addData(3L)
    q.processAllAvailable()
    assert(sink.sorted == Seq(1L, 2L, 3L))
    q.stop()
  }

  // ---- multi-micro-batch fixture runs --------------------------------
  // The oracle-checked entries (p15-p17, p24, p45) ingest the fixture
  // in ONE micro-batch by documented contract. These specs split the
  // SAME fixture into 3 time-ordered files and run maxFilesPerTrigger=1
  // so watermark advancement and cross-batch state actually engage,
  // asserting >1 committed batch AND the batch-oracle result still
  // holds (a time-ordered split never produces late data: watermark
  // after batch k is maxTs(k) - 1h < minTs(k+1)). The adversarial
  // out-of-order split then asserts the DOCUMENTED divergence.

  private val msSf = "/root/testdata/sf0.001"

  /** Splits the events fixture into `n` contiguous time chunks (global
    * (ts, event_id) order) and writes them as single parquet files into
    * a fresh dir. `order(slot)` names the chunk ingested at that slot:
    * mod-times strictly increase by slot, and the file-stream source
    * picks oldest-mod-time first, so identity order = chronological
    * ingestion while e.g. Seq(1, 2, 0) ingests the earliest chunk LAST.
    */
  private def splitEvents(n: Int, order: Seq[Int]): String = {
    import org.apache.spark.sql.expressions.Window
    // normalized load (layout-adaptive ts) — chunks are WRITTEN with the
    // normalized session-zone timestamp, which eventsStream's schema
    // probe then reads back without any rebuild
    val raw = queries.Tables.load(spark, msSf, "events")
    val rn = raw.withColumn("__rn",
      row_number().over(Window.orderBy(col("ts"), col("event_id"))))
    val total = rn.count()
    writeSplit(order.map { chunk =>
      val (lo, hi) = (chunk * total / n, (chunk + 1) * total / n)
      rn.filter(col("__rn") > lo && col("__rn") <= hi).drop("__rn")
    })
  }

  /** Splits at explicit microsecond timestamps instead of row-count
    * thirds — used where a boundary must bisect a specific event pair.
    * Chunks are written in chronological order.
    */
  private def splitEventsAtUs(boundsUs: Seq[Long]): String = {
    val raw = queries.Tables.load(spark, msSf, "events")
    val us = unix_micros(col("ts"))
    val edges = Long.MinValue +: boundsUs.sorted :+ Long.MaxValue
    writeSplit(edges.sliding(2).toSeq.map { case Seq(lo, hi) =>
      raw.filter(us > lo && us <= hi)
    })
  }

  /** Writes each chunk as one parquet file (events_SLOT.parquet) into a
    * fresh dir, mod-times strictly increasing by slot so the
    * file-stream source (oldest mod-time first) ingests them in slot
    * order with maxFilesPerTrigger=1.
    */
  private def writeSplit(chunks: Seq[org.apache.spark.sql.DataFrame]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-events-split")
    chunks.zipWithIndex.foreach { case (chunk, slot) =>
      val tmp = dir.resolve(s"tmp$slot")
      chunk.coalesce(1).write.parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      val dest = dir.resolve(f"events_$slot%03d.parquet")
      java.nio.file.Files.move(part, dest)
      assert(dest.toFile.setLastModified(1700000000000L + slot * 60000L))
    }
    dir.toString
  }

  private def splitStream(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.streaming.StreamingOps.eventsStream(s, dir,
      glob = "events_*.parquet", maxFilesPerTrigger = Some(1))

  private def sameRows(a: org.apache.spark.sql.DataFrame,
                       b: org.apache.spark.sql.DataFrame): Boolean =
    a.except(b).isEmpty && b.except(a).isEmpty

  test("multi-batch tumbling window (p15 shape): 3 files → 3 batches, " +
    "complete-mode result still matches the batch aggregation") {
    val dir = splitEvents(3, Seq(0, 1, 2))
    val (streamed, batches) = graft.streaming.StreamingOps.runToMemoryCounted(
      spark, "complete") { s =>
      graft.streaming.StreamingOps.tumblingAgg(splitStream(s, dir)) }
    assert(batches >= 3, s"expected >= 3 data batches, got $batches")
    val batch = queries.Tables.load(spark, msSf, "events")
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("bin_start"),
        col("event_type"), col("n"), col("sum_value"))
    assert(sameRows(streamed, batch))
  }

  test("multi-batch sliding window (p53 shape): overlapping window state " +
    "accumulates across 3 batches to the batch aggregation") {
    val dir = splitEvents(3, Seq(0, 1, 2))
    val (streamed, batches) = graft.streaming.StreamingOps.runToMemoryCounted(
      spark, "complete") { s =>
      graft.streaming.StreamingOps.slidingAgg(splitStream(s, dir)) }
    assert(batches >= 3, s"expected >= 3 data batches, got $batches")
    val batch = queries.Tables.load(spark, msSf, "events")
      .groupBy(window(col("ts"), "30 minutes", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("bin_start"),
        col("event_type"), col("n"), col("sum_value"))
    assert(sameRows(streamed, batch))
    // overlap sanity: every event contributes to width/slide = 2 windows
    val nEvents = queries.Tables.load(spark, msSf, "events").count()
    val totalN = streamed.agg(sum(col("n"))).collect().head.getLong(0)
    assert(totalN == 2 * nEvents,
      s"expected 2x window membership, got $totalN over $nEvents events")
  }

  test("multi-batch sessionization (p16 shape): state merges across " +
    "batches to the same sessions as a single batch") {
    val dir = splitEvents(3, Seq(0, 1, 2))
    val (multi, batches) = graft.streaming.StreamingOps.runToMemoryCounted(
      spark, "complete") { s =>
      graft.streaming.StreamingOps.sessionAgg(splitStream(s, dir)) }
    assert(batches >= 3, s"expected >= 3 data batches, got $batches")
    // reference: the single-batch run over the unsplit fixture — the
    // exact result the p16 correctness row pins against DuckDB
    val single = graft.streaming.StreamingOps.runToMemory(
      spark, "complete") { s =>
      graft.streaming.StreamingOps.sessionAgg(
        graft.streaming.StreamingOps.eventsStream(s, msSf)) }
    assert(sameRows(multi, single))
  }

  test("multi-batch stream-stream join (p24 shape): a match straddling " +
    "the batch boundary comes from retained state; result matches batch") {
    val ev = queries.Tables.load(spark, msSf, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"),
        col("ts").as("c_ts"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("buy_id"), col("user_id").as("pu"),
        col("ts").as("p_ts"))
    val batch = clicks.join(buys, col("cu") === col("pu") &&
        col("p_ts") >= col("c_ts") - expr("INTERVAL 30 MINUTE") &&
        col("p_ts") <= col("c_ts"))
      .select(col("click_id"), col("buy_id"),
        unix_micros(col("c_ts")).as("click_us"),
        unix_micros(col("p_ts")).as("buy_us"))
    // place one split boundary strictly BETWEEN a real match's purchase
    // and click (the fixture's match set is tiny, so a row-count split
    // rarely bisects one), plus an earlier boundary for a 3rd batch —
    // the straddling match can then ONLY come from cross-batch join
    // state, never from within one micro-batch
    val m = batch.filter(col("buy_us") < col("click_us"))
      .orderBy(col("click_id")).limit(1).collect()
    assume(m.nonEmpty, "fixture has no non-simultaneous click/purchase match")
    val (cUs, bUs) = (m.head.getAs[Long]("click_us"), m.head.getAs[Long]("buy_us"))
    val mid = bUs + (cUs - bUs) / 2
    val minUs = ev.agg(min(unix_micros(col("ts")))).collect().head.getLong(0)
    val dir = splitEventsAtUs(Seq(minUs + (bUs - minUs) / 2, mid))
    val (streamed, batches) = graft.streaming.StreamingOps.runToMemoryCounted(
      spark, "append") { s =>
      graft.streaming.StreamingOps.clickPurchaseJoin(splitStream(s, dir)) }
    assert(batches >= 3, s"expected >= 3 data batches, got $batches")
    assert(sameRows(streamed, batch))
    val crossing = streamed.select("click_us", "buy_us").collect()
      .count(r => r.getLong(1) <= mid && r.getLong(0) > mid)
    assert(crossing > 0, s"no join match straddles the boundary at $mid")
  }

  test("multi-batch watermark dedup (p45 shape): time-ordered split " +
    "still matches the batch COUNT(DISTINCT) oracle") {
    val dir = splitEvents(3, Seq(0, 1, 2))
    val (raw, batches) = graft.streaming.StreamingOps.runToMemoryCounted(
      spark, "append") { s =>
      graft.streaming.StreamingOps.minuteDedup(splitStream(s, dir)) }
    assert(batches >= 3, s"expected >= 3 data batches, got $batches")
    val streamed = raw.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_first"))
    val batch = queries.Tables.load(spark, msSf, "events")
      .select(col("event_type"), col("user_id"),
        date_trunc("minute", col("ts")).as("minute_bin"))
      .distinct().groupBy(col("event_type")).agg(count(lit(1)).as("n_first"))
    assert(sameRows(streamed, batch))
  }

  test("multi-batch custom state (p38 shape): (count, max) state carried " +
    "across fixture batches matches the batch prefix-max oracle") {
    import org.apache.spark.sql.expressions.Window
    val dir = splitEvents(3, Seq(0, 1, 2))
    val (streamed, batches) = graft.streaming.StreamingOps.runToMemoryCounted(
      spark, "append") { s =>
      graft.streaming.StreamingOps.highWaterAlerts(splitStream(s, dir)) }
    assert(batches >= 3, s"expected >= 3 data batches, got $batches")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")), col("event_id"))
    val batch = queries.Tables.load(spark, msSf, "events")
      .withColumn("running_n", row_number().over(w).cast("long"))
      .withColumn("prev_max", max(col("value").cast("double"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("prev_max").isNull ||
        col("value").cast("double") > col("prev_max"))
      .select(col("user_id"), col("event_id"), col("running_n"),
        col("value").cast("double").as("value"))
    assert(sameRows(streamed, batch))
  }

  test("adversarial out-of-order split: events older than the advanced " +
    "watermark are dropped as late — the documented eviction semantics") {
    import org.apache.spark.sql.expressions.Window
    // earliest third ingested LAST: by then the watermark sits 1h behind
    // the fixture's max ts — days past the early events — so every row
    // of that file is late and must be dropped before dedup
    val dir = splitEvents(3, Seq(1, 2, 0))
    val (raw, batches) = graft.streaming.StreamingOps.runToMemoryCounted(
      spark, "append") { s =>
      graft.streaming.StreamingOps.minuteDedup(splitStream(s, dir)) }
    assert(batches >= 3, s"expected >= 3 data batches, got $batches")
    val streamed = raw.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_first"))
    val rn = queries.Tables.load(spark, msSf, "events").withColumn("__rn",
      row_number().over(Window.orderBy(col("ts"), col("event_id"))))
    val total = rn.count()
    // expected survivors = the on-time two-thirds only (late file keys
    // counted ONLY where the same (user, type, minute) key also occurs
    // on time — i.e. the late file contributes nothing)
    val onTime = rn.filter(col("__rn") > total / 3)
      .select(col("event_type"), col("user_id"),
        date_trunc("minute", col("ts")).as("minute_bin"))
      .distinct().groupBy(col("event_type")).agg(count(lit(1)).as("n_first"))
    assert(sameRows(streamed, onTime))
    // and the divergence from the full-fixture oracle is REAL: the late
    // third contains keys that exist nowhere else
    val full = rn
      .select(col("event_type"), col("user_id"),
        date_trunc("minute", col("ts")).as("minute_bin"))
      .distinct().groupBy(col("event_type")).agg(count(lit(1)).as("n_first"))
    assert(!sameRows(streamed, full),
      "late file unexpectedly contributed no distinct keys — fixture degenerate?")
  }

  test("state-v2 event-time timers: sessions close and EMIT when the " +
    "watermark passes the slid timer, without the key seeing more data") {
    // transformWithState + timers needs RocksDB; build everything on a
    // clone so the provider/partition confs never touch the shared
    // session (the runToMemory discipline, inlined for MemoryStream)
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "2")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val sessions = graft.streaming.StreamingOps.sessionTimeouts(
      in.toDF().toDF("user_id", "ts"), gap = "30 minutes")
    val q = sessions.writeStream.format("memory").queryName("stt")
      .outputMode(OutputMode.Append()).start()
    def closures() = s.table("stt").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // two sessions open; timers slid to last-event + 30 min
    in.addData((1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:10:00")),
      (2L, ts("2024-01-01 00:05:00")))
    q.processAllAvailable()
    assert(closures().isEmpty, "no watermark passage yet → nothing closes")
    // an unrelated user advances the watermark to 03:00 — users 1 and 2
    // never see another event, yet their sessions must EMIT (the
    // timer-driven close session_window cannot do in append mode)
    in.addData((3L, ts("2024-01-01 03:00:00")))
    q.processAllAvailable()
    in.addData((3L, ts("2024-01-01 03:10:00"))) // same-key event re-slides 3's timer
    q.processAllAvailable()
    val afterWm = closures()
    assert(afterWm.contains((1L,
      2L, ts("2024-01-01 00:40:00").getTime)), s"got $afterWm")
    assert(afterWm.contains((2L,
      1L, ts("2024-01-01 00:35:00").getTime)), s"got $afterWm")
    assert(!afterWm.exists(_._1 == 3L), "user 3's session is still open")
    // advance far enough to pass user 3's slid timer (03:40)
    in.addData((4L, ts("2024-01-01 08:00:00")))
    q.processAllAvailable()
    in.addData((4L, ts("2024-01-01 08:01:00"))) // one more wm advance to fire
    q.processAllAvailable()
    val end = closures()
    assert(end.contains((3L, 2L, ts("2024-01-01 03:40:00").getTime)),
      s"slid timer must fire at last-event+gap: $end")
    // a closed key's state was CLEARED: its next event starts a fresh
    // session (count restarts at 1)
    in.addData((1L, ts("2024-01-01 08:30:00")))
    q.processAllAvailable()
    in.addData((5L, ts("2024-01-02 00:00:00")))
    q.processAllAvailable()
    in.addData((5L, ts("2024-01-02 00:00:01")))
    q.processAllAvailable()
    assert(closures().contains((1L, 1L, ts("2024-01-01 09:00:00").getTime)),
      s"cleared state must restart the count: ${closures()}")
    q.stop()
  }

  test("multi-batch upsert sink (p83 shape): one merged version per file, " +
    "final target equals the single-batch run, replayed batchId is a no-op") {
    val dir = splitEvents(3, Seq(0, 1, 2))
    val root = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val (got, target) = graft.streaming.StreamingOps.upsertRun(
      spark, dir, root, glob = "events_*.parquet", maxFilesPerTrigger = Some(1))
    // three files → three committed merges (v0, v1, v2): cross-batch
    // additive sums and latest-wins maxes actually exercised
    assert(target.currentVersion >= 2,
      s"expected >= 3 committed versions, got ${target.currentVersion + 1}")
    // the incremental merge must converge to the same state as one
    // batch over the unsplit fixture (associativity of the merge)
    val ref = graft.streaming.StreamingOps.upsertEvents(spark, msSf,
      java.nio.file.Files.createTempDirectory("graft-upsert-ref").toString)
    assert(sameRows(got, ref))
    // re-deliver an already-committed batchId (the at-least-once
    // post-recovery case): the gate must skip the merge entirely
    val v = target.currentVersion
    // split chunks are written with the normalized timestamp — no rebuild
    val replay = spark.read.parquet(s"$dir/events_000.parquet")
    target.merge(replay, 0L)
    assert(target.currentVersion == v, "replayed batchId must be a no-op")
    // a genuinely NEW batch advances the version and adds its rows
    target.merge(replay, 1000L)
    assert(target.currentVersion == v + 1)
    val n0 = got.agg(sum(col("n_events"))).collect()(0).getLong(0)
    val n1 = target.read(spark).get
      .agg(sum(col("n_events"))).collect()(0).getLong(0)
    assert(n1 == n0 + replay.count(), "new batch must merge additively")
  }

  test("stream-static enrichment join holds no stream state and matches the batch join") {
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingOps.runToMemory(
      spark, mode = "complete") { s =>
      graft.streaming.StreamingOps.segmentRevenue(
        graft.streaming.StreamingOps.eventsStream(s, sf),
        queries.Tables.load(s, sf, "customer")) }
    val batch = queries.Tables.load(spark, sf, "events")
      .join(queries.Tables.load(spark, sf, "customer"),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("eventsStream defined before any source file exists falls back to " +
    "the long-epoch schema instead of throwing") {
    val empty = java.nio.file.Files.createTempDirectory("graft-empty-src")
      .toString
    // the schema probe finds nothing matching the glob; the stream must
    // still be definable (a stream routinely starts before its first file)
    val df = graft.streaming.StreamingOps.eventsStream(spark, empty)
    assert(df.isStreaming)
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("p163 streaming CC fold: merges that SPAN micro-batches compose " +
    "through the remap state (batch N relabels batch N-1's cluster)") {
    import spark.implicits._
    // corpus {1,2} share T1; incoming 3 AND 12 both duplicate T1 but
    // the range split puts them in different micro-batches, so batch 2
    // must route 12 through the remap entry batch 1 wrote for key 1.
    // Incoming 0/6/9 are novel singletons.
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = s"${sys.props("java.io.tmpdir")}/p163fix_${queries.runToken}"
    Seq(
      (1L, t1), (2L, t1),
      (0L, "first novel incoming text with private words"),
      (3L, t1), (6L, "second novel unrelated incoming text"),
      (9L, "third novel text nothing shared here"), (12L, t1)
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val root = dir + "/work"
    val got = graft.streaming.StreamingOps
      .incrementalCcIngest(spark, dir, root)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("cluster_id"), r.getString(2))).toSet
    assert(got == Set((0L, 0L, "in"), (1L, 1L, "corpus"),
      (2L, 1L, "corpus"), (3L, 1L, "in"), (6L, 6L, "in"),
      (9L, 9L, "in"), (12L, 1L, "in")))
    // the pre-split source really produced multiple state-writing
    // micro-batches: versions are 0-BASED, so a max version ≥ 1 means
    // at least two batches committed state. Read the MAX version, not
    // the dir count — since r16 superseded version dirs are GC'd after
    // each pointer flip, so the count no longer carries history
    val maxVer = new java.io.File(root).list()
      .filter(_.startsWith("state_w"))
      .map(_.stripPrefix("state_w").toInt).max
    assert(maxVer >= 1, s"expected multi-batch fold, got max version $maxVer")
  }

  test("p163 BRIDGE merge across batches exercises label FORWARDING " +
    "(r19): a later batch merges two standing components; the standing " +
    "'i' row of the absorbed component is NEVER re-read or rewritten — " +
    "it resolves through the 'f' chain at the final read — and per-batch " +
    "reads stay bucket-pruned (the untouched standing bucket is not read)") {
    import spark.implicits._
    // Simhash-engineered texts (found by search against the REAL
    // simhash64): d(A,B)=5 — corpus docs 2(A) and 1(B) stay separate
    // components at hamming<=3 — while bridge text C sits at d(A,C)=2,
    // d(B,C)=3, within reach of BOTH.
    val base = (0 until 48).map(i => f"word$i%02d")
    def txt(drop: Set[String], add: Seq[String]) =
      (base.filterNot(drop) ++ add).mkString(" ")
    val tA = txt(Set("word28", "word44", "word45"),
      Seq("iiiii", "aaaaa", "sssss"))
    val tB = txt(Set("word13", "word32", "word34", "word40"),
      Seq("rrrrr", "jjjjj", "aaaaa", "ooooo"))
    val tC = txt(Set("word10", "word46"), Seq("aaaaa"))
    val tD = (0 until 40).map(i => s"novel$i").mkString(" ")
    val dir = s"${sys.props("java.io.tmpdir")}/p163bridge_${queries.runToken}"
    Seq(
      (1L, tB), (2L, tA),                      // corpus: two components
      (101L, tD),                              // corpus: far-away cluster
      (0L, tD),                                // batch 1: dup of 101's text
      (3L, tA),                                // batch 1: dup of A
      (6L, "second novel unrelated incoming text"),
      (9L, "third novel text nothing shared here"),
      (12L, tC)                                // batch 3: the BRIDGE
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val root = dir + "/work"
    graft.streaming.StreamingOps.p163ReadStats.clear()
    // bucketWidth=2: ids {0,1,2,3} → buckets 0/1, 12 → 6, 101 → 50
    val got = graft.streaming.StreamingOps
      .incrementalCcIngest(spark, dir, root, nFiles = 3, bucketWidth = 2L)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("cluster_id"), r.getString(2))).toSet
    // batch 1: {0,101}→0 and {2,3}→2; batch 3: C bridges keys {1,2} →
    // component {12,2,1} relabels to 1, so batch 1's standing 'i' row
    // (3→2) must resolve 3→2→1 through the forwarding row ('f',2→1)
    assert(got == Set((0L, 0L, "in"), (101L, 0L, "corpus"),
      (1L, 1L, "corpus"), (2L, 1L, "corpus"), (3L, 1L, "in"),
      (6L, 6L, "in"), (9L, 9L, "in"), (12L, 1L, "in")), s"got $got")
    // the forwarding row really was the mechanism: the final state must
    // hold a stale 'i' row (3 → 2) plus ('f', 2 → 1) — NOT an eagerly
    // rewritten (3 → 1)
    val stDirs = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("state_w")).map(_.getAbsolutePath)
    val st = stDirs.map(p => spark.read.parquet(p)
        .select("kind", "id", "cur"))
      .reduce(_ unionByName _).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(st.contains(("i", 3L, 2L)),
      s"standing 'i' row must stay at its stale label (forwarded): $st")
    assert(st.contains(("f", 2L, 1L)), s"forwarding row missing: $st")
    // read pruning: the bridge batch probes keys {1,2} (buckets 0) and
    // in-id 12 (bucket 6, absent) — it must NOT read bucket 50 (the
    // standing far-away cluster), so its path count is < live buckets
    val stats = graft.streaming.StreamingOps.p163ReadStats.iterator()
    var last: (Long, Long, Long) = null
    while (stats.hasNext) last = stats.next()
    assert(last != null && last._3 >= 3,
      s"bridge batch must start with >=3 live buckets, got $last")
    assert(last._2 < last._3,
      s"bridge batch must read fewer buckets than live (pruned): $last")
  }

  test("p248 decayed-count state fold: counts that SPAN micro-batches " +
      "merge additively through the versioned state") {
    import spark.implicits._
    // ts range-split into 3 files puts day 1 and day 3 occurrences of
    // type 'a' in DIFFERENT micro-batches; 'b' repeats within one day
    def t(d: Int, h: Int) = Timestamp.valueOf(f"2024-02-0$d $h%02d:00:00")
    val dir = s"${sys.props("java.io.tmpdir")}/p248fix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    Seq(
      ("a", t(1, 1)), ("b", t(1, 2)), ("b", t(1, 3)),
      ("a", t(2, 1)), ("a", t(2, 2)),
      ("a", t(3, 1)), ("c", t(3, 2))
    ).toDF("event_type", "ts")
      .withColumn("event_id", lit(1L)).withColumn("user_id", lit(1L))
      .withColumn("value", lit(0.0)).withColumn("props", lit(""))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val root = dir + "/work"
    val got = graft.streaming.StreamingOps
      .decayedCountsIngest(spark, dir, root)
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
      .toSet
    assert(got == Set(
      ("a", "2024-02-01", 1L), ("b", "2024-02-01", 2L),
      ("a", "2024-02-02", 2L), ("a", "2024-02-03", 1L),
      ("c", "2024-02-03", 1L)))
    val versions = new java.io.File(root).list()
      .count(_.startsWith("state_v"))
    assert(versions >= 2, s"expected multi-batch fold, got $versions")
  }

  test("p262 quantile-bucket state fold: one bucket's count merges " +
      "additively across micro-batches through the versioned state") {
    import spark.implicits._
    // The ingest range-splits on v into 3 files (one micro-batch each,
    // maxFilesPerTrigger=1). Ranges are contiguous in v, so with three
    // batches the boundaries must separate the three distinct values
    // {101 | 108 | 3005} — and 101 and 108 share decimal bucket
    // (lb=100, g=10), so its final count 10+6=16 can only arise from
    // the cross-batch additive fold. 3005 gets its own 4-digit bucket
    // (lb=3000, g=100). Type 'b' rounds to v=0 and is filtered out.
    val dir = s"${sys.props("java.io.tmpdir")}/p262fix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    val rows = Seq.fill(10)(("a", 0.101)) ++ Seq.fill(6)(("a", 0.108)) ++
      Seq.fill(8)(("a", 3.005)) ++ Seq(("b", 0.0))
    rows.toDF("event_type", "value")
      .withColumn("event_id", lit(1L)).withColumn("user_id", lit(1L))
      .withColumn("ts", lit(Timestamp.valueOf("2024-02-01 00:00:00")))
      .withColumn("props", lit(""))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val root = dir + "/work"
    val got = graft.streaming.StreamingOps
      .quantileBucketsIngest(spark, dir, root)
      .collect().map(r => (r.getAs[String]("event_type"),
        r.getAs[Long]("lb"), r.getAs[Long]("g"), r.getAs[Long]("cnt")))
      .toSet
    assert(got == Set(("a", 100L, 10L, 16L), ("a", 3000L, 100L, 8L)))
    val versions = new java.io.File(root).list()
      .count(_.startsWith("state_v"))
    assert(versions >= 3, s"expected one micro-batch per range file, " +
      s"got $versions state versions")
  }

  test("p263 bitmap state fold: one word ORs bits from three " +
      "micro-batches, and redelivered bits count once (idempotence)") {
    import spark.implicits._
    // The ingest slices on idx%3 (slice k gets idx%3==k) and REDELIVERS
    // every idx%7==0 row in all three slices. user_id=0 makes
    // idx = dayofyear, so days 21/22/23 land in word 0 with:
    //   idx=21 → slice 0 AND (21%7=0) redelivered in slices 1, 2
    //   idx=22 → slice 1 only;  idx=23 → slice 2 only
    // Final word bm = bit21|bit22|bit23 can only arise from an OR
    // ACROSS batches, and the thrice-delivered bit 21 must appear
    // exactly once — additive folding would corrupt the word.
    val dir = s"${sys.props("java.io.tmpdir")}/p263fix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    val rows = Seq(("a", 21), ("a", 22), ("a", 23), ("b", 21), ("b", 22))
    rows.toDF("event_type", "doy")
      .withColumn("ts", to_timestamp(
        concat(lit("2024-01-"), format_string("%02d", col("doy"))),
        "yyyy-MM-dd"))
      .withColumn("event_id", lit(1L)).withColumn("user_id", lit(0L))
      .withColumn("value", lit(1.0)).withColumn("props", lit(""))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val root = dir + "/work"
    val got = graft.streaming.StreamingOps
      .bitmapIndexIngest(spark, dir, root)
      .collect().map(r => (r.getAs[String]("event_type"),
        r.getAs[Long]("w"), r.getAs[Long]("bm"))).toSet
    assert(got == Set(
      ("a", 0L, (1L << 21) | (1L << 22) | (1L << 23)),
      ("b", 0L, (1L << 21) | (1L << 22))))
    val versions = new java.io.File(root).list()
      .count(_.startsWith("state_v"))
    assert(versions >= 3, s"expected one micro-batch per slice file, " +
      s"got $versions state versions")
  }

  test("p270 streaming crawl ingest: a duplicate whose copies land in " +
      "DIFFERENT micro-batches still elects the one canonical through " +
      "the versioned (hash → min-id) state; stream output ≡ the batch " +
      "p267 funnel on the same fixture; damage lanes exit in-batch") {
    import spark.implicits._
    // ids chosen so the 3-way range split separates the duplicate pair
    // (5, 400): batch 1 sees 5 first, batch 3 must route 400 through the
    // state entry batch 1 wrote. Lanes: 4 → %13 truncation, 6 → %17
    // bit-rot, 3 → %7 utf8 damage, 9 → mirror (serves doc 0's content,
    // same-hash group {0, 9}).
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dir = s"${sys.props("java.io.tmpdir")}/p270fix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    Seq(
      (0L, "mirror source text that doc nine will serve verbatim"),
      (1L, "plain unique document number one"),
      (2L, "plain unique document number two"),
      (3L, "utf8 damage lane document"),
      (4L, "truncated member lane document"),
      (5L, t1),
      (6L, "bit rot lane document"),
      (9L, "OVERWRITTEN BY MIRROR — never surfaces"),
      (400L, t1),
      (401L, "plain unique document at the far range")
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val root = dir + "/work"
    val got = graft.streaming.StreamingOps.crawlIngest(spark, dir, root)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("stage"),
        r.getAs[String]("lang"), r.getAs[Long]("keep_id"),
        r.getAs[Boolean]("is_canonical"))).toSet
    // cross-batch duplicate: 400 must resolve to 5's election
    assert(got.exists { case (id, st, _, keep, canon) =>
      id == 5L && st == "ok" && keep == 5L && canon })
    assert(got.exists { case (id, st, _, keep, canon) =>
      id == 400L && st == "ok" && keep == 5L && !canon })
    // mirror pair {0, 9}: 0 canonical, 9 the detected duplicate
    assert(got.exists { case (id, _, _, keep, canon) =>
      id == 0L && keep == 0L && canon })
    assert(got.exists { case (id, _, _, keep, canon) =>
      id == 9L && keep == 0L && !canon })
    // damage lanes exit with sentinels
    assert(got.exists { case (id, st, _, keep, _) =>
      id == 4L && st == "salvaged_none" && keep == -1L })
    assert(got.exists { case (id, st, _, keep, _) =>
      id == 6L && st == "salvaged_none" && keep == -1L })
    assert(got.exists { case (id, st, _, keep, _) =>
      id == 3L && st == "invalid_utf8" && keep == -1L })
    // stream output ≡ the BATCH funnel on the same fixture, row for row
    val batch = SparkEntry.queries("p267_crawl_ingest")(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("stage"),
        r.getAs[String]("lang"), r.getAs[Long]("keep_id"),
        r.getAs[Boolean]("is_canonical"))).toSet
    assert(got == batch, s"stream/batch divergence:\n got=$got\n batch=$batch")
    // the fold really spanned multiple state-committing micro-batches
    // (versions are 0-based; superseded dirs are GC'd, read the max)
    val maxVer = new java.io.File(root).list()
      .filter(_.startsWith("state_w"))
      .map(_.stripPrefix("state_w").toInt).max
    assert(maxVer >= 1, s"expected a multi-batch fold, max version $maxVer")
  }
}
