package bench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation: `exec` runs it to completion under a digest key
  * and returns the digest of its output; `expected` is the digest a
  * correct run produces.
  */
final case class Op(name: String, family: String, exec: String => Digest,
    expected: Option[Digest])

object Op {
  /** Evaluate every row and column of `df` and return its digest. */
  def consume(df: DataFrame, key: String): Digest = {
    // the analysis ran when `df` was built, outside the write's own query
    Recorder.active.foreach(_.phases(df.queryExecution))
    df.write.format(classOf[DigestSink].getName).mode("append").option("key", key).save()
    Digest.take(key).getOrElse(sys.error(s"digest sink committed nothing for $key"))
  }
}

/** Runs a workload's operations in a closed loop with one client: each
  * operation starts when the previous one has finished. Passes run in
  * an order shuffled by the seed. The output check runs after the timed
  * window of each operation; every mismatch or exception counts as failed.
  */
final class Runner(seed: Long) {
  val latencies = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  private var keys = 0L

  def runOp(op: Op, pass: Int, rec: Option[Recorder]): Unit = {
    keys += 1
    val key = s"${op.name}#$pass#$keys"
    val t0 = System.nanoTime()
    val got =
      try Right(rec match {
        case Some(r) => r.request(op.name, s"${op.name}#$pass")(op.exec(key))
        case None => op.exec(key)
      })
      catch { case e: Exception => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    attempted += 1
    got match {
      case Left(e) =>
        failed += 1
        failures += s"${op.name}: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      case Right(d) if !op.expected.contains(d) =>
        failed += 1
        failures += s"${op.name}: digest $d, expected ${op.expected.getOrElse("none recorded")}"
      case _ => ()
    }
    latencies.getOrElseUpdate(op.name, mutable.ArrayBuffer()) += dt
  }

  def pass(ops: Seq[Op], pass: Int, rec: Option[Recorder] = None): Unit =
    new scala.util.Random(seed * 1000003L + pass).shuffle(ops).foreach(runOp(_, pass, rec))

  def medians: Map[String, Double] = latencies.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap
  def samples: Seq[Double] = latencies.values.flatten.toSeq
}

/** The fixture-driven workloads: entries of `SparkEntry.queries` in the
  * plain session `graft.Bench` uses, checked against golden digests.
  */
object EntryWorkloads {
  /** `sql_suite`: every fourth relational entry, q01, q05, …, q65. */
  val sqlEntries: Seq[String] = (1 to 67 by 4).map(i => f"q$i%02d")

  /** `llm_pipeline`: one entry of each LLM-data family. */
  val llmEntries: Seq[(String, String)] = Seq(
    "p05" -> "dedup", "p88" -> "similarity", "p63" -> "graph",
    "p148" -> "text", "p83" -> "streaming")

  def session(cores: Int): SparkSession = {
    val spark = graft.Env.tuned(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("wasaffispark-benchmark")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Ops for the short ids `ids`, named by short id. */
  def ops(spark: SparkSession, dir: String, ids: Seq[(String, String)],
      golden: Map[String, String]): Seq[Op] = {
    val all = graft.SparkEntry.queries
    ids.map { case (id, family) =>
      val (name, fn) = all.find(_._1.takeWhile(_ != '_') == id)
        .getOrElse(sys.error(s"no entry $id in SparkEntry.queries"))
      Op(id, family, key => Op.consume(fn(spark, dir), key),
        golden.get(id).flatMap(parseDigest))
    }
  }

  def parseDigest(s: String): Option[Digest] = s.split(':') match {
    case Array(r, h) => Some(Digest(r.toLong, java.lang.Long.parseUnsignedLong(h, 16)))
    case _ => None
  }

  /** Full entry names for the oracle export. */
  def fullNames(ids: Seq[String]): Map[String, String] = {
    val all = graft.SparkEntry.queries.keys
    ids.map(id => id -> all.find(_.takeWhile(_ != '_') == id).get).toMap
  }
}
