package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Seekable-zstd (the public zstd contrib format) vs REAL zstd frames:
  * the data region is genuine zstd-jni output; the seek table — the
  * trailing 0x184D2A5E skippable with per-frame sizes and the 9-byte
  * footer — is built by the test (it's pure framing, no entropy), so
  * table parse, random-access extraction, per-frame checksum
  * verification, the dictionary composition, and every validation lane
  * are pinned against ground-truth frames. The SPLIT story: each
  * extraction decodes ONE frame given only the blob — at 100 TB that
  * is one shard feeding thousands of independent decode tasks.
  */
class ZstdSeekSpec extends AnyFunSuite {

  private def english(n: Int, seed: Int): Array[Byte] = {
    val r = new java.util.Random(seed)
    val words = Array("seek", "table", "frame", "split", "decode", "zstd",
      "the", "of", "a", "shard", "random", "access")
    val sb = new StringBuilder
    while (sb.length < n) { sb.append(words(r.nextInt(words.length))).append(' ') }
    sb.toString.getBytes("UTF-8")
  }

  private def le32(v: Long): Array[Byte] =
    Array(v, v >> 8, v >> 16, v >> 24).map(x => (x & 0xFF).toByte)

  /** Test-side seek-table writer per the contrib spec. `frames` are the
    * raw frame bytes (data or skippable), `dSizes` their decompressed
    * sizes, `checks` optional per-frame XXH64-low-32 values. */
  private def withSeekTable(frames: Seq[Array[Byte]], dSizes: Seq[Int],
                            checks: Option[Seq[Long]] = None): Array[Byte] = {
    val entrySize = if (checks.isDefined) 12 else 8
    val tableLen = frames.length * entrySize + 9
    val out = new java.io.ByteArrayOutputStream()
    frames.foreach(out.write)
    out.write(le32(0x184D2A5EL)); out.write(le32(tableLen))
    frames.zipWithIndex.foreach { case (f, i) =>
      out.write(le32(f.length)); out.write(le32(dSizes(i)))
      checks.foreach(cs => out.write(le32(cs(i))))
    }
    out.write(le32(frames.length))
    out.write(if (checks.isDefined) 0x80 else 0x00)
    out.write(le32(0x8F92EAB1L))
    out.toByteArray
  }

  test("random-access extraction over real frames, with and without " +
    "per-frame checksums: every frame decodes independently and " +
    "byte-exact, the parsed table reports the true offsets/sizes, and " +
    "the reassembly equals the whole (the shard-split story)") {
    val docs = (1 to 8).map(i => english(1000 + i * 333, 70 + i))
    val frames = docs.map(d => com.github.luben.zstd.Zstd.compress(d, 9))
    for (withChk <- Seq(false, true)) {
      val checks = if (withChk)
        Some(docs.map(d => ZstdDecode.xxh64(d, 0, d.length) & 0xFFFFFFFFL))
      else None
      val blob = withSeekTable(frames, docs.map(_.length), checks)
      // table: true offsets and sizes
      val entries = {
        val g = ZstdDecode.seekTableData(blob)
        assert(g != null, s"seek table must parse (checksums=$withChk)")
        (0 until g.numElements()).map(g.getStruct(_, 4))
      }
      assert(entries.length === 8)
      var cOff = 0L; var dOff = 0L
      for ((e, i) <- entries.zipWithIndex) {
        assert(e.getLong(0) === cOff && e.getLong(1) === frames(i).length)
        assert(e.getLong(2) === dOff && e.getLong(3) === docs(i).length)
        cOff += frames(i).length; dOff += docs(i).length
      }
      // random-access extraction, each frame independently
      for (k <- docs.indices) {
        val got = ZstdDecode.seekExtractData(blob, k)
        assert(got != null && java.util.Arrays.equals(got, docs(k)),
          s"frame $k must extract byte-exact (checksums=$withChk)")
      }
      // reassembly == the whole
      val whole = docs.indices.flatMap(k =>
        ZstdDecode.seekExtractData(blob, k).toSeq).toArray
      assert(java.util.Arrays.equals(whole, docs.reduce(_ ++ _)))
      assert(ZstdDecode.seekExtractData(blob, 8) == null, "oob index NULLs")
      assert(ZstdDecode.seekExtractData(blob, -1) == null)
    }
  }

  test("the dictionary composes: a leading 0x184D2A5D skippable entry " +
    "binds the shard dictionary for every extraction (the full modern " +
    "CC layout: dictionary + dict-compressed record frames + seek table)") {
    val dict = {
      val buf = new Array[Byte](16 * 1024)
      val n = com.github.luben.zstd.Zstd.trainFromBuffer(
        Array.tabulate(256)(i => english(700, 9000 + i)), buf, false)
      java.util.Arrays.copyOf(buf, n.toInt)
    }
    val docs = (1 to 5).map(i => english(900 + i * 111, 400 + i))
    val frames = docs.map { d =>
      val ctx = new com.github.luben.zstd.ZstdCompressCtx().setLevel(9).loadDict(dict)
      try ctx.compress(d) finally ctx.close()
    }
    val dictFrame = le32(0x184D2A5DL) ++ le32(dict.length) ++ dict
    val blob = withSeekTable(dictFrame +: frames, 0 +: docs.map(_.length))
    for (k <- docs.indices) {
      val got = ZstdDecode.seekExtractData(blob, k + 1)
      assert(got != null && java.util.Arrays.equals(got, docs(k)),
        s"dict-compressed frame ${k + 1} must extract via the bound dict")
    }
    // the dictionary entry itself holds no data frame → NULL
    assert(ZstdDecode.seekExtractData(blob, 0) == null)
  }

  test("validation lanes all NULL, never a wrong answer: flipped footer " +
    "magic, lying frame count, reserved descriptor bits, non-tiling " +
    "sizes, a wrong per-frame checksum, a lying decompressed size; and " +
    "a truncation sweep + 300 bitflips never throw") {
    val docs = (1 to 4).map(i => english(800, 30 + i))
    val frames = docs.map(d => com.github.luben.zstd.Zstd.compress(d, 5))
    val checks = Some(docs.map(d => ZstdDecode.xxh64(d, 0, d.length) & 0xFFFFFFFFL))
    val blob = withSeekTable(frames, docs.map(_.length), checks)
    def mut(at: Int, f: Byte => Byte): Array[Byte] = {
      val c = blob.clone(); c(if (at < 0) c.length + at else at) = f(c(if (at < 0) c.length + at else at)); c
    }
    assert(ZstdDecode.seekTableData(mut(-1, b => (b ^ 0x40).toByte)) == null,
      "flipped footer magic")
    assert(ZstdDecode.seekTableData(mut(-9, b => (b ^ 0x01).toByte)) == null,
      "lying frame count")
    assert(ZstdDecode.seekTableData(mut(-5, b => (b | 0x08).toByte)) == null,
      "reserved descriptor bits")
    // non-tiling: corrupt entry 0's compressed size (low byte)
    val entry0 = blob.length - 9 - 4 * 12
    assert(ZstdDecode.seekTableData(mut(entry0, b => (b ^ 0x01).toByte)) == null)
    // wrong checksum on frame 2 → that extraction NULLs, others fine
    val chk2 = blob.length - 9 - 2 * 12 + 8
    val badChk = mut(chk2, b => (b ^ 0x10).toByte)
    assert(ZstdDecode.seekExtractData(badChk, 2) == null)
    assert(ZstdDecode.seekExtractData(badChk, 1) != null)
    // lying dSize on frame 1 → NULL
    val d1 = blob.length - 9 - 3 * 12 + 4
    assert(ZstdDecode.seekExtractData(mut(d1, b => (b ^ 0x01).toByte), 1) == null)
    // never-throw posture
    val r = new java.util.Random(5)
    for (_ <- 1 to 300) {
      val c = blob.clone()
      c(r.nextInt(c.length)) = (r.nextInt(256) - 128).toByte
      ZstdDecode.seekTableData(c); ZstdDecode.seekExtractData(c, r.nextInt(5))
    }
    for (cut <- 1 until blob.length by math.max(1, blob.length / 83)) {
      val c = java.util.Arrays.copyOf(blob, cut)
      ZstdDecode.seekTableData(c); ZstdDecode.seekExtractData(c, 1)
    }
  }

  test("the SPLIT, in Spark terms: posexplode(seekTable(blob)) fans one " +
    "seekable shard out to one row per frame, repartitioning spreads " +
    "the frames across tasks, and per-row seekExtract decodes each " +
    "frame independently — reassembly equals the whole shard (this is " +
    "the 100-TB pattern: one footer read, thousands of decode tasks)") {
    val docs = (0 until 64).map(i => english(500 + 37 * i, 1000 + i))
    val frames = docs.map(d => com.github.luben.zstd.Zstd.compress(d, 6))
    val blob = withSeekTable(frames, docs.map(_.length))
    val spark = graft.Env.session(4)
    try {
      import org.apache.spark.sql.functions.{posexplode, spark_partition_id}
      import spark.implicits._
      val shard = Seq(Tuple1(blob)).toDF("blob")
      val split = shard
        .select($"blob", posexplode(ZstdDecode.seekTable($"blob")))
        .repartition(4, $"pos")
        .select($"pos", spark_partition_id().as("part"),
          ZstdDecode.seekExtract($"blob", $"pos").as("bytes"))
        .collect()
      assert(split.length === 64)
      assert(split.map(_.getAs[Int]("part")).distinct.length > 1,
        "frames must actually spread across partitions")
      val reassembled = split.sortBy(_.getAs[Int]("pos"))
        .flatMap(_.getAs[Array[Byte]]("bytes"))
      assert(java.util.Arrays.equals(reassembled, docs.reduce(_ ++ _).toArray),
        "distributed per-frame decode must reassemble to the whole shard")
    } finally spark.stop()
  }

  test("column API: graft_zstd_seektable and graft_zstd_seekextract " +
    "run over a DataFrame (stopping the extension-less session after)") {
    val docs = (1 to 4).map(i => new String(english(600, 600 + i), "UTF-8"))
    val frames = docs.map(d => com.github.luben.zstd.Zstd.compress(d.getBytes("UTF-8"), 9))
    val blob = withSeekTable(frames, docs.map(_.getBytes("UTF-8").length))
    val spark = graft.Env.session(2)
    try {
      import spark.implicits._
      val df = docs.indices.map(k => (k.toLong, blob)).toDF("k", "blob")
      val out = df.select($"k",
          org.apache.spark.sql.functions.size(
            ZstdDecode.seekTable($"blob")).as("n"),
          ZstdDecode.seekExtract($"blob", $"k").as("part"))
        .orderBy($"k").collect()
      for ((r, k) <- out.zipWithIndex) {
        assert(r.getAs[Int]("n") === 4)
        assert(new String(r.getAs[Array[Byte]]("part"), "UTF-8") === docs(k))
      }
    } finally spark.stop()
  }

  // ---- the WRITER (r19): ZstdSeekWrite ------------------------------------

  test("WRITER round trip: shards built by ZstdSeekWrite (raw + RLE " +
    "store-mode frames, checksummed seek table) extract byte-exactly " +
    "through this repo's reader AND decode end-to-end through zstd-jni " +
    "(the independent-decoder proof)") {
    val parts: Seq[Array[Byte]] = Seq(
      english(500, 1),                              // plain raw blocks
      ("abc" + "~" * 40 + "tail").getBytes("UTF-8"), // raw + RLE + raw
      Array.emptyByteArray,                          // empty frame
      ("x" * 200).getBytes("UTF-8"),                 // pure RLE
      english(70000, 2),                             // crosses the 64K raw cap
      ("~" * 31).getBytes("UTF-8"))                  // run UNDER RleMin: raw
    val blob = ZstdSeekWrite.buildData(parts.toArray)
    // our reader: table shape + every extraction (checksum-verified)
    val entries = ZstdDecode.seekTableData(blob)
    assert(entries != null && entries.numElements() === parts.length)
    parts.indices.foreach { k =>
      val got = ZstdDecode.seekExtractData(blob, k)
      if (parts(k).isEmpty)
        assert(got == null || got.isEmpty, s"frame $k") // empty decodes empty
      else assert(got != null && got.sameElements(parts(k)), s"frame $k")
    }
    // independent decoder: zstd-jni reads the whole data region (the
    // trailing skippable table is skipped per the format)
    val zin = new com.github.luben.zstd.ZstdInputStream(
      new java.io.ByteArrayInputStream(blob))
    zin.setContinuous(true)
    val all = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var r = zin.read(buf)
    while (r >= 0) { all.write(buf, 0, r); r = zin.read(buf) }
    val want = new java.io.ByteArrayOutputStream()
    parts.foreach(want.write)
    assert(all.toByteArray.sameElements(want.toByteArray),
      "zstd-jni must reproduce the concatenated parts")
    // tamper: flipping a content byte must fail the per-frame checksum
    val mut = blob.clone()
    mut(10) = (mut(10) ^ 0x41).toByte // inside frame 0's payload
    assert(ZstdDecode.seekExtractData(mut, 0) == null,
      "checksum verification must catch payload tamper")
  }

  test("WRITER block-split algebra is exactly the p275 oracle's: frame " +
    "size = 6 + raw(3+L) + rle(4) + empty(3) at the documented RleMin " +
    "threshold, and a run one short of the threshold stays raw") {
    def frameSize(content: Array[Byte]): Int = {
      val blob = ZstdSeekWrite.buildData(Array(content))
      // single entry: c_size from the parsed table
      val e = ZstdDecode.seekTableData(blob)
      e.getStruct(0, 4).getLong(1).toInt
    }
    // L1 raw chars + R '~'s (R >= RleMin): 4+1+1 + (3+L1) + (3+1)
    assert(frameSize(("abcde" + "~" * 40).getBytes) === 6 + 3 + 5 + 4)
    // pure raw, no long runs: 6 + 3 + L
    assert(frameSize("hello world".getBytes) === 6 + 3 + 11)
    // empty: 6 + 3
    assert(frameSize(Array.emptyByteArray) === 9)
    // run of RleMin-1 stays raw
    assert(frameSize(("~" * (ZstdSeekWrite.RleMin - 1)).getBytes)
      === 6 + 3 + ZstdSeekWrite.RleMin - 1)
    // run of exactly RleMin becomes RLE
    assert(frameSize(("~" * ZstdSeekWrite.RleMin).getBytes) === 6 + 4)
  }

  test("WRITER caps RLE blocks at RawMax (r20 ADVICE fix): a run longer " +
    "than 64 KiB splits into multiple RLE blocks — RFC 8878 bounds " +
    "Block_Size by min(window, 128 KiB) — and the frame still decodes " +
    "through zstd-jni AND the repo reader") {
    val run = ZstdSeekWrite.RawMax * 2 + 12345 // 3 RLE blocks
    val content = ("head" + "~" * run + "tail").getBytes("UTF-8")
    val blob = ZstdSeekWrite.buildData(Array(content))
    // frame algebra: 9 header (magic+FHD+4-byte FCS at this size)
    // + raw(3+4) + 3 RLE blocks (4 each) + raw(3+4)
    val e = ZstdDecode.seekTableData(blob)
    assert(e.getStruct(0, 4).getLong(1).toInt === 9 + 7 + 3 * 4 + 7)
    // repo reader round-trip (checksum-verified random access)
    val got = ZstdDecode.seekExtractData(blob, 0)
    assert(got != null && got.sameElements(content),
      "repo reader must reproduce the capped-RLE frame")
    // independent decoder: zstd-jni streaming read of the data region
    val zin = new com.github.luben.zstd.ZstdInputStream(
      new java.io.ByteArrayInputStream(blob))
    zin.setContinuous(true)
    val all = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var r = zin.read(buf)
    while (r >= 0) { all.write(buf, 0, r); r = zin.read(buf) }
    assert(all.toByteArray.sameElements(content),
      "zstd-jni must reproduce the capped-RLE frame")
  }
}
