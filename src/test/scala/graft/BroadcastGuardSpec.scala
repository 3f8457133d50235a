package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerFlush
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Tables

/** The broadcast guard: no hinted `broadcast()` build side may scale
  * with the corpus. The p216 lesson (round 9) generalized so the bug
  * class cannot recur at any of the repo's broadcast sites:
  *
  *  1. every declared entry runs with ONLY hinted broadcasts physical
  *     (`autoBroadcastJoinThreshold = -1`, AQE off — Spark's own
  *     size-based broadcasts are adaptive by definition and need no
  *     audit), and a [[CaptureListener]] — loaded via the STATIC conf
  *     `spark.sql.queryExecutionListeners`, so `spark.newSession()`
  *     interiors and streaming micro-batch clones instantiate it too —
  *     captures the runtime `numOutputRows` of every
  *     BroadcastExchangeExec, including the ones inside eager
  *     `localCheckpoint` jobs and foreachBatch interior actions;
  *  2. entries whose captured broadcasts touch the doc/embedding
  *     corpora (or have lineage broken by a checkpoint) re-run on a
  *     DOUBLED corpus fixture, and the max broadcast build size must
  *     not grow with it — panels, sketches, vocab and metadata tables
  *     are all corpus-size-invariant (duplicated content adds no new
  *     groups/vocab/quantiles), so growth ⇒ a corpus-sized build side
  *     that OOMs the driver at 100 TB.
  *
  * This measures the 100 TB invariant directly instead of pattern-
  * matching plan shapes: the round-9 p216 bug (a corpus-wide norm
  * table broadcast where only panel members could match) was an
  * AGGREGATE over a full scan — a "no full-table scan under a
  * broadcast" check would have passed it; a 500→1000-row build under
  * corpus×2 fails loudly. The round-10 hole — a listener registered on
  * the spec session never fires for `newSession()` interiors, silently
  * exempting every streaming entry — is closed by the conf-loaded
  * listener and PROVEN closed by the foreachBatch sentinel test below.
  */
class BroadcastGuardSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private val corpusTables = GuardFixtures.corpusTables
  /** Broadcasts below this are metadata noise (cut points, panels of
    * constants, 1-row aggregates) — ignored by the growth audit. */
  private val MinAuditRows = 64L

  import CaptureListener.Cap

  private lazy val spark =
    Env.session(8, "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.queryExecutionListeners" -> "graft.CaptureListener")

  override def afterAll(): Unit = spark.stop()

  /** Run one entry and return every hinted-broadcast build observed —
    * across the spec session AND every descendant session's jobs. */
  private def audit(name: String, dir: String): Seq[Cap] = {
    CaptureListener.clear()
    SparkEntry.queries(name)(spark, dir).collect()
    GraftListenerFlush.flush(spark.sparkContext)
    CaptureListener.broadcasts.asScala.toList
  }

  private lazy val doubledDir = GuardFixtures.doubledDir(spark, sfDir)

  test("POSITIVE CONTROL: a corpus-sized broadcast inside foreachBatch " +
      "on a newSession IS captured — the audit machinery sees " +
      "streaming interior jobs") {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet").count()
    CaptureListener.clear()
    // deliberately mirrors the streaming entries' structure: a fresh
    // newSession (its OWN ExecutionListenerManager — the round-10
    // hole), a file stream, and a foreachBatch interior join hinting a
    // corpus-table broadcast. If the conf-loaded listener ever stops
    // firing for these jobs, this capture comes back empty and the
    // guard's streaming coverage is known-broken rather than silent.
    val s = spark.newSession()
    val root = java.nio.file.Files
      .createTempDirectory("graft_guard_sentinel").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val docs = Tables.load(s, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    docs.limit(7).write.mode("overwrite").parquet(s"$root/in")
    val q = s.readStream.schema(schema).parquet(s"$root/in")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val all = Tables.load(s, sfDir, "documents")
          .select(col("doc_id"))
        batch.join(broadcast(all), Seq("doc_id")).count()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    q.awaitTermination()
    GraftListenerFlush.flush(spark.sparkContext)
    val caps = CaptureListener.broadcasts.asScala.toList
    assert(caps.exists(c => c.rows == corpus && c.tables("documents")),
      s"the sentinel corpus broadcast ($corpus rows) inside foreachBatch " +
        s"was NOT captured — got ${caps.mkString(", ")}; the streaming " +
        "side of the broadcast audit is blind")
  }

  test("streaming entries' interior micro-batch jobs are visible to " +
      "the audit (p163/p152/p248 capture interior executions)") {
    // these three run their batches on newSession interiors; none of
    // them needs a hinted broadcast, so the visibility assertion is on
    // captured EXECUTIONS and shuffle events — if the listener stops
    // covering interiors, these drop to (nearly) zero and fail here
    // instead of silently exempting the entries from both guards
    Seq("p163_stream_incremental_cc", "p152_stream_ingest_dedup",
        "p248_stream_decayed_topk").foreach { n =>
      CaptureListener.clear()
      SparkEntry.queries(n)(spark, sfDir).collect()
      GraftListenerFlush.flush(spark.sparkContext)
      val execs = CaptureListener.executions.get()
      val shufs = CaptureListener.shuffles.asScala.toList
      info(s"$n: $execs executions, ${shufs.size} shuffle captures, " +
        s"${CaptureListener.broadcasts.size()} broadcast captures")
      // a multi-batch streaming entry runs strictly more than the one
      // final assembly action; interior writes/collects must show up
      assert(execs > 1,
        s"$n: only $execs execution(s) captured — interior micro-batch " +
          "jobs are invisible to the audit listener")
      assert(shufs.nonEmpty,
        s"$n: no shuffle metrics captured — interior jobs invisible")
    }
  }

  test("p216 broadcast build sides are panel-bounded, never corpus-sized") {
    val caps = audit("p216_embedding_outliers", sfDir)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = emb.count()
    val panel = emb.withColumn("rn", row_number().over(
        Window.partitionBy(col("label")).orderBy(col("vec_id"))))
      .where(col("rn") <= 32).count()
    assert(caps.nonEmpty, "expected hinted broadcasts in p216")
    // every build side is the id/norm panel (== panel rows), the panel
    // coordinate table (panel × 64 dims), or smaller metadata — the
    // round-9 bug (corpus-sized norm broadcast) cannot reappear
    caps.foreach { c =>
      assert(c.rows == panel || c.rows == panel * 64 || c.rows < panel,
        s"broadcast build rows ${c.rows} is neither panel ($panel), " +
          s"panel coords (${panel * 64}), nor sub-panel metadata " +
          s"(corpus=$corpus)")
    }
    assert(caps.exists(_.rows == panel),
      "expected the panel-bounded norm broadcast")
  }

  test("no hinted broadcast scales with a doubled doc/embedding corpus") {
    val entries = SparkEntry.queries.keys.toSeq.sorted
    val base = entries.map { n =>
      n -> (try audit(n, sfDir) catch {
        case e: Exception => fail(s"$n failed under the audit session: $e")
      })
    }.toMap
    // candidates: any sizeable build that scans the corpora, or whose
    // lineage a checkpoint broke (empty scan set — can't prove it is
    // NOT corpus-derived, so measure it)
    val candidates = entries.filter { n =>
      base(n).exists(c => c.rows >= MinAuditRows &&
        (c.tables.isEmpty || c.tables.exists(corpusTables)))
    }
    info(s"${entries.size} entries audited; " +
      s"${candidates.size} corpus-broadcast candidates re-run at 2x")
    val offenders = candidates.flatMap { n =>
      val m1 = base(n).map(_.rows).max
      val m2 = audit(n, doubledDir) match {
        case Nil => 0L
        case caps => caps.map(_.rows).max
      }
      // corpus-size-invariant builds stay flat; 1.5x + slack tolerates
      // df-threshold jitter without admitting a linear term
      if (m2 > m1 * 3 / 2 + MinAuditRows)
        Some(s"$n: max broadcast build $m1 -> $m2 rows under corpus x2")
      else None
    }
    assert(offenders.isEmpty,
      "corpus-scaling broadcast build sides:\n" + offenders.mkString("\n"))
  }
}
