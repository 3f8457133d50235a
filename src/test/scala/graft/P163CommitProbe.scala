package graft

/** Dev probe: p163's per-batch state-commit volume under the bucketed
  * versioned state. Runs the ingest, then reports per state version
  * (= per micro-batch) how many rows and buckets the commit wrote, plus
  * the accumulated state size — the evidence that per-batch commit cost
  * stays FLAT while ingested volume grows (pre-r15, every batch rewrote
  * the whole accumulated map: commits grew 1x, 2x, 3x within a run).
  * Usage: sbt "Test/runMain graft.P163CommitProbe [sfDir] [nFiles] [bucketWidth]"
  * (nFiles=1 isolates the per-micro-batch machinery floor — the old
  * SPARK_GRAFT_P163_FILES measurement, now an explicit parameter).
  */
object P163CommitProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nFiles = args.lift(1).map(_.toInt).getOrElse(3)
    val width = args.lift(2).map(_.toLong).getOrElse(512L)
    val spark = Env.session(8)
    val root = s"${sys.props("java.io.tmpdir")}/p163probe_${System.nanoTime()}"
    graft.streaming.StreamingOps.p163BatchTimings.clear()
    graft.streaming.StreamingOps.p163ReadStats.clear()
    val t0 = System.nanoTime()
    val out = graft.streaming.StreamingOps
      .incrementalCcIngest(spark, sfDir, root, nFiles, width)
    val n = out.count()
    val total = (System.nanoTime() - t0) / 1e9
    println(f"sf=$sfDir nFiles=$nFiles width=$width outRows=$n total=$total%.1fs")
    // r17 floor attribution: compute (state read + probe join + CC +
    // delta) vs commit (bucket write + flip) vs GC (superseded-dir
    // deletion), per micro-batch — answers whether the synchronous GC
    // on the commit path is worth deferring
    var cSum = 0.0; var wSum = 0.0; var gSum = 0.0
    graft.streaming.StreamingOps.p163BatchTimings.forEach { t =>
      println(f"  batch ${t._1}: compute=${t._2}%.2fs commit=${t._3}%.2fs gc=${t._4}%.3fs")
      cSum += t._2; wSum += t._3; gSum += t._4
    }
    println(f"  totals: compute=$cSum%.2fs commit=$wSum%.2fs gc=$gSum%.3fs " +
      f"(gc share of batch work: ${100 * gSum / math.max(cSum + wSum + gSum, 1e-9)}%.1f%%)")
    // r19 read-side evidence: per-batch bucket paths READ vs live
    // buckets at batch start — pruned reads track the batch's own
    // key/id bucket set, not the accumulated state
    graft.streaming.StreamingOps.p163ReadStats.forEach { t =>
      println(s"  batch ${t._1}: read ${t._2} bucket paths " +
        s"(${t._3} buckets live at batch start)")
    }
    // r16: superseded state_w versions are GC'd after each pointer flip,
    // so the surviving dirs are exactly the LIVE version set (on-disk
    // state bounded by the bucket map, not batches × touched history) —
    // the last dir's row count is still the final commit's volume
    val dirs = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("state_w")).sortBy(
        f => f.getName.stripPrefix("state_w").toInt)
    var live = 0L
    dirs.foreach { d =>
      val buckets = d.listFiles().count(_.getName.startsWith("bk="))
      val rows = spark.read.parquet(d.getAbsolutePath).count()
      live += rows
      println(s"  ${d.getName}: live, $rows rows across $buckets buckets")
    }
    val maxVer = dirs.lastOption.map(_.getName.stripPrefix("state_w").toInt)
      .getOrElse(0)
    println(s"  live dirs after GC: ${dirs.length} (max version $maxVer); " +
      s"live state rows: $live")
    // a version dir survives while ANY bucket pointer still references it,
    // so the GC'd count depends on touch patterns — report it
    // (versions are 0-based: maxVer+1 dirs were ever written)
    println(s"  superseded versions GC'd: ${maxVer + 1 - dirs.length}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    spark.stop()
  }
}
