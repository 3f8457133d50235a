package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** RFC 8878 §5 dictionary decode vs REAL zstd ground truth: every
  * dictionary here is trained by libzstd (zstd-jni, test-side only)
  * and every compressed frame produced by it, so byte-exact round
  * trips prove the from-scratch structured-dictionary parse (entropy
  * tables in the Huffman→OF→ML→LL order, recent offsets, content),
  * the window-prefix match copy, the dictionary-seeded entropy state,
  * and the Dictionary_ID agreement rules — plus the Common Crawl
  * `.warc.zst` layout where the shard dictionary travels in a leading
  * 0x184D2A5D skippable frame, optionally itself zstd-compressed.
  * The [[ZstdDecode.modeCounters]] dictionary slots (20-23) PROVE the
  * corpus reaches each dictionary path instead of assuming it.
  */
class ZstdDictSpec extends AnyFunSuite {

  private def english(n: Int, seed: Int = 7): Array[Byte] = {
    val r = new java.util.Random(seed)
    val words = Array("data", "pipeline", "spark", "shuffle", "decode",
      "zstd", "frame", "block", "the", "and", "of", "a", "crawl", "warc",
      "dictionary", "prefix", "offset", "entropy")
    val sb = new StringBuilder
    while (sb.length < n) { sb.append(words(r.nextInt(words.length))).append(' ') }
    sb.toString.getBytes("UTF-8")
  }

  /** Train a real digested dictionary over a sample corpus shaped like
    * the docs we'll compress (shared vocabulary → prefix references). */
  private def trainDict(seed: Int, dictKiB: Int = 16): Array[Byte] = {
    val dict = new Array[Byte](dictKiB * 1024)
    val n = com.github.luben.zstd.Zstd.trainFromBuffer(
      Array.tabulate(256)(i => english(700, seed * 1000 + i)), dict, false)
    java.util.Arrays.copyOf(dict, n.toInt)
  }

  private def compressWithDict(doc: Array[Byte], dict: Array[Byte],
                               level: Int): Array[Byte] = {
    val ctx = new com.github.luben.zstd.ZstdCompressCtx().setLevel(level)
      .loadDict(dict)
    try ctx.compress(doc) finally ctx.close()
  }

  private def counters(idx: Int*): Seq[Long] =
    idx.map(ZstdDecode.modeCounters.get)

  test("trained-dictionary round trip across levels and doc shapes, " +
    "with the counter PROOF that the corpus reaches every dictionary " +
    "path: frames bound a dict (20), match copies reached into the " +
    "dictionary content prefix (21), a FIRST block's treeless/repeat " +
    "modes were served by the dictionary's entropy tables (22), and " +
    "the structured format parsed (23)") {
    val dict = trainDict(1)
    assert((dict(0) & 0xFF) == 0x37 && (dict(1) & 0xFF) == 0xA4,
      "libzstd must have produced a STRUCTURED (magic 0xEC30A437) dict")
    val before = counters(20, 21, 22, 23)
    for (lvl <- Seq(1, 3, 9, 19); seed <- 1 to 24) {
      val doc = english(200 + seed * 37, 500 + seed)
      val frame = compressWithDict(doc, dict, lvl)
      assert(com.github.luben.zstd.Zstd.getDictIdFromFrame(frame) != 0,
        "ground-truth frames must actually NAME the dictionary")
      val got = ZstdDecode.decompressDictData(frame, dict)
      assert(got != null, s"dict decode returned NULL (lvl=$lvl seed=$seed)")
      assert(java.util.Arrays.equals(got, doc),
        s"dict round-trip mismatch (lvl=$lvl seed=$seed)")
    }
    // a bigger doc too (multi-block path with a dictionary bound)
    val big = english(400000, 99)
    val bigFrame = compressWithDict(big, dict, 6)
    assert(java.util.Arrays.equals(ZstdDecode.decompressDictData(bigFrame, dict), big))
    val after = counters(20, 21, 22, 23)
    for (k <- 0 until 4)
      assert(after(k) > before(k),
        s"dictionary path counter ${20 + k} never fired over the corpus")
  }

  test("raw-content dictionary (no magic): pure window prefix — the " +
    "doc's references into the shared text resolve through the prefix " +
    "copy; the same frame WITHOUT the dictionary must NULL, never " +
    "wrong-decode") {
    val shared = english(8192, 11)
    // a raw blob never starts with the structured magic by construction
    assert((shared(0) & 0xFF) != 0x37)
    val doc = shared.slice(4000, 8000) ++ "fresh tail after the prefix".getBytes
    val frame = compressWithDict(doc, shared, 19)
    assert(com.github.luben.zstd.Zstd.getDictIdFromFrame(frame) == 0,
      "raw-content dictionaries stamp no Dictionary_ID")
    val got = ZstdDecode.decompressDictData(frame, shared)
    assert(got != null && java.util.Arrays.equals(got, doc))
    // without the prefix the match offsets reach before the frame: NULL
    assert(ZstdDecode.decompressData(frame) == null,
      "a prefix-referencing frame must NULL without its dictionary")
  }

  test("Dictionary_ID agreement: a frame naming dict A NULLs against " +
    "dict B (different declared ID), against a malformed structured " +
    "blob, and against no dictionary at all — never a wrong decode") {
    val dictA = trainDict(1)
    val dictB = trainDict(2)
    val doc = english(3000, 123)
    val frame = compressWithDict(doc, dictA, 3)
    assert(java.util.Arrays.equals(ZstdDecode.decompressDictData(frame, dictA), doc))
    assert(ZstdDecode.decompressDictData(frame, dictB) == null,
      "declared-ID mismatch must NULL")
    assert(ZstdDecode.decompressData(frame) == null,
      "a frame naming a dictionary must NULL without one")
    // structured magic + ID + garbage: the entropy-table parse fails
    val bad = dictA.take(8) ++ Array.fill[Byte](64)(0x5A)
    assert(ZstdDecode.decompressDictData(frame, bad) == null,
      "a malformed structured dictionary must NULL, not throw")
    // null/empty dictionary degrades to the plain strict decode
    val plain = com.github.luben.zstd.Zstd.compress(doc, 3)
    assert(java.util.Arrays.equals(
      ZstdDecode.decompressDictData(plain, Array.emptyByteArray), doc))
  }

  // --- the Common Crawl .warc.zst layout -------------------------------
  private def skippable(magic: Int, payload: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](8 + payload.length)
    for (k <- 0 until 4) out(k) = ((magic >> (8 * k)) & 0xFF).toByte
    for (k <- 0 until 4) out(4 + k) = ((payload.length >> (8 * k)) & 0xFF).toByte
    System.arraycopy(payload, 0, out, 8, payload.length)
    out
  }

  test("CC shard walk: a leading 0x184D2A5D skippable frame binds the " +
    "shard dictionary for every following data frame — raw dict bytes " +
    "or the dict itself zstd-compressed (the published .warc.zst " +
    "convention); a non-dictionary skippable magic does NOT bind") {
    val dict = trainDict(3)
    val docs = (1 to 8).map(i => english(1500 + i * 111, 40 + i))
    val frames = docs.map(d => compressWithDict(d, dict, 9))
    val body = frames.reduce(_ ++ _)
    val whole = docs.reduce(_ ++ _)

    val plainShard = skippable(0x184D2A5D, dict) ++ body
    val got = ZstdDecode.decompressCcData(plainShard)
    assert(got != null && java.util.Arrays.equals(got, whole),
      "raw-dict CC shard must decode every record")

    val wrappedShard = skippable(0x184D2A5D,
      com.github.luben.zstd.Zstd.compress(dict, 19)) ++ body
    val got2 = ZstdDecode.decompressCcData(wrappedShard)
    assert(got2 != null && java.util.Arrays.equals(got2, whole),
      "zstd-compressed dictionary payload must unwrap and bind")

    // 0x184D2A50 is an ordinary skippable: stepped over, nothing bound,
    // so the dict-naming frames can't decode → NULL (no data frames)
    val unbound = skippable(0x184D2A50, dict) ++ body
    assert(ZstdDecode.decompressCcData(unbound) == null,
      "non-dictionary skippable magic must not bind a dictionary")
  }

  test("CC shard salvage + damage posture: a truncated tail frame " +
    "keeps the valid record prefix; 300 random byte corruptions and " +
    "a full truncation sweep never throw") {
    val dict = trainDict(3)
    val d1 = english(4000, 81); val d2 = english(4000, 82)
    val f1 = compressWithDict(d1, dict, 9)
    val f2 = compressWithDict(d2, dict, 9)
    val shard = skippable(0x184D2A5D, dict) ++ f1 ++ f2
    val cut = java.util.Arrays.copyOf(shard, shard.length - 7)
    val sal = ZstdDecode.decompressCcData(cut)
    assert(sal != null && java.util.Arrays.equals(sal, d1),
      "salvage must keep the first record when the tail frame is cut")
    // damaging the DICTIONARY payload kills the whole shard (frames
    // name an ID the mangled dict can't satisfy) — still NULL, no throw
    val mut0 = shard.clone(); mut0(12) = (mut0(12) ^ 0x7F).toByte
    ZstdDecode.decompressCcData(mut0) // must not throw
    val r = new java.util.Random(17)
    for (_ <- 1 to 300) {
      val mut = shard.clone()
      mut(r.nextInt(mut.length)) = (r.nextInt(256) - 128).toByte
      ZstdDecode.decompressCcData(mut) // never throws; NULL or a decode
    }
    for (c <- 1 until shard.length by math.max(1, shard.length / 97))
      ZstdDecode.decompressCcData(java.util.Arrays.copyOf(shard, c))
  }

  test("column API: graft_zstd_dict and graft_zstd_cc run inside " +
    "whole-stage codegen over a DataFrame") {
    // own session, STOPPED at the end: a leaked session would be reused
    // by a later suite's getOrCreate with this one's 2-core conf
    val spark = graft.Env.session(2)
    try {
    import spark.implicits._
    val dict = trainDict(5)
    val docs = (1 to 6).map(i => new String(english(900, 200 + i), "UTF-8"))
    val rows = docs.zipWithIndex.map { case (t, i) =>
      val frame = compressWithDict(t.getBytes("UTF-8"), dict, 9)
      val shard = skippable(0x184D2A5D, dict) ++ frame
      (i.toLong, frame, shard, dict)
    }
    val df = rows.toDF("id", "frame", "shard", "dict")
    val out = df.select($"id",
        ZstdDecode.decompressDict($"frame", $"dict").as("viaDict"),
        ZstdDecode.ccFrames($"shard").as("viaCc"))
      .orderBy($"id").collect()
    for ((r, i) <- out.zipWithIndex) {
      assert(new String(r.getAs[Array[Byte]]("viaDict"), "UTF-8") == docs(i))
      assert(new String(r.getAs[Array[Byte]]("viaCc"), "UTF-8") == docs(i))
    }
    } finally spark.stop()
  }
}
