package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.MultimodalOps

/** Multimodal binary-column specs: container sniffing on real magic
  * bytes (the fixture corpus has none), stub-decode determinism, and
  * the partition-parallel frame sampler.
  */
class MultimodalSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Env.session(4)

  override def afterAll(): Unit = spark.stop()

  private def payloads = {
    import spark.implicits._
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    Seq(
      ("png", b(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A, 1, 2, 3)),
      ("jpeg", b(0xFF, 0xD8, 0xFF, 0xE0, 0, 0x10) ++ "JFIF".getBytes),
      ("wav", "RIFF".getBytes ++ b(36, 0, 0, 0) ++ "WAVEfmt ".getBytes),
      ("avi", "RIFF".getBytes ++ b(4, 0, 0, 0) ++ "AVI LIST".getBytes),
      ("mp4", b(0, 0, 0, 0x20) ++ "ftypisom".getBytes),
      ("mp3", "ID3".getBytes ++ b(4, 0, 0, 0, 0, 0, 0)),
      ("txt", "hello world, just text".getBytes)
    ).toDF("name", "payload")
  }

  test("sniffMime identifies every container from magic bytes") {
    val got = payloads
      .select(col("name"), MultimodalOps.sniffMime(col("payload")).as("mime"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map(
      "png" -> "image/png", "jpeg" -> "image/jpeg", "wav" -> "audio/wav",
      "avi" -> "video/avi", "mp4" -> "video/mp4", "mp3" -> "audio/mpeg",
      "txt" -> "application/octet-stream"))
  }

  test("blobMeta carries size/digest/magic; stub decode is deterministic and bounded") {
    val r = payloads
      .select(MultimodalOps.blobMeta(col("payload")).as("m"),
        MultimodalOps.decodeImageStub(col("payload")).as("d"))
      .select(col("m.nbytes"), col("m.digest"), col("d.width"), col("d.height"))
      .collect()
    assert(r.forall(_.getAs[Int]("nbytes") > 0))
    assert(r.forall(_.getAs[String]("digest").length == 32))
    assert(r.forall { x =>
      val (w, h) = (x.getAs[Long]("width"), x.getAs[Long]("height"))
      w >= 64 && w < 512 && h >= 64 && h < 512
    })
    // determinism: same payloads → same decode
    val r2 = payloads.select(MultimodalOps.decodeImageStub(col("payload"))).collect()
    assert(r2.sameElements(payloads.select(MultimodalOps.decodeImageStub(col("payload"))).collect()))
  }

  test("ImageDims parses a real PNG IHDR and a JPEG SOF walk; garbage → NULL") {
    import spark.implicits._
    import graft.functions.ImageDims
    // a REAL complete 1×1 RGBA PNG as produced by standard encoders
    val png1x1 = java.util.Base64.getDecoder.decode(
      "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNkYPhfDwAChwGA60e6kgAAAABJRU5ErkJggg==")
    assert(ImageDims.parse(png1x1) == ((1L << 32) | 1L))
    // JPEG with APP0 + DQT before SOF0 (the segment walk must cross
    // both) and a legal FF fill byte before the SOF marker; dims 7×5
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val jpeg = b(0xFF, 0xD8) ++
      b(0xFF, 0xE0, 0x00, 0x10) ++ "JFIF".getBytes ++
      b(0, 1, 1, 0, 0, 1, 0, 1, 0, 0) ++
      b(0xFF, 0xDB, 0x00, 0x43, 0x00) ++ Array.fill[Byte](64)(1) ++
      b(0xFF) ++ // fill padding
      b(0xFF, 0xC0, 0x00, 0x11, 0x08, 0x00, 0x05, 0x00, 0x07, 0x03,
        0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01)
    assert(ImageDims.parse(jpeg) == ((7L << 32) | 5L))
    // through the codegen'd expression + the decodeImage preference order
    val df = Seq(("png", png1x1), ("jpeg", jpeg),
      ("txt", "not an image at all".getBytes)).toDF("name", "payload")
    val got = df.select(col("name"),
        ImageDims.dims(col("payload")).as("packed"),
        MultimodalOps.decodeImage(col("payload")).as("d"))
      .collect().map(r => r.getString(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1))),
          r.getStruct(2).getLong(0), r.getStruct(2).getLong(1))).toMap
    assert(got("png") == ((Some((1L << 32) | 1L), 1L, 1L)))
    assert(got("jpeg") == ((Some((7L << 32) | 5L), 7L, 5L)))
    assert(got("txt")._1.isEmpty, "non-image bytes must not parse")
    // non-images keep the deterministic stub fallback dims
    assert(got("txt")._2 >= 64 && got("txt")._3 >= 64)
    // truncation and empty input fail cleanly, never misread
    assert(ImageDims.parse(png1x1.take(20)) == -1L)
    assert(ImageDims.parse(Array.empty[Byte]) == -1L)
    // a JPEG whose scan starts before any SOF frame header → no dims
    assert(ImageDims.parse(b(0xFF, 0xD8, 0xFF, 0xDA, 0x00, 0x02)) == -1L)
  }

  test("WavMeta parses a real RIFF chunk walk; malformed input → NULL") {
    import spark.implicits._
    import graft.functions.WavMeta
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    def le32(v: Long): Array[Byte] =
      b((v & 0xff).toInt, ((v >> 8) & 0xff).toInt,
        ((v >> 16) & 0xff).toInt, ((v >> 24) & 0xff).toInt)
    def le16(v: Long): Array[Byte] = b((v & 0xff).toInt, ((v >> 8) & 0xff).toInt)
    // stereo 16-bit 44100 Hz, an odd-sized LIST chunk BEFORE fmt (the
    // walk must apply even padding to reach it), data payload truncated
    // (declared 1000 bytes, zero present)
    val wav = "RIFF".getBytes ++ le32(4 + 12 + 24 + 8 + 1000) ++ "WAVE".getBytes ++
      "LIST".getBytes ++ le32(3) ++ "INF".getBytes ++ b(0) ++ // pad to even
      "fmt ".getBytes ++ le32(16) ++
      le16(1) ++ le16(2) ++ le32(44100) ++ le32(44100 * 4) ++ le16(4) ++ le16(16) ++
      "data".getBytes ++ le32(1000)
    assert(WavMeta.parse(wav, WavMeta.CHANNELS) == 2L)
    assert(WavMeta.parse(wav, WavMeta.SAMPLE_RATE) == 44100L)
    assert(WavMeta.parse(wav, WavMeta.BITS) == 16L)
    assert(WavMeta.parse(wav, WavMeta.DATA_SIZE) == 1000L)
    // missing data chunk → only that field is NULL
    val noData = wav.take(wav.length - 8)
    assert(WavMeta.parse(noData, WavMeta.DATA_SIZE) == -1L)
    assert(WavMeta.parse(noData, WavMeta.SAMPLE_RATE) == 44100L)
    // garbage, truncated header, AVI (RIFF but not WAVE) → unparseable
    assert(WavMeta.parse("not audio".getBytes, WavMeta.CHANNELS) == -1L)
    assert(WavMeta.parse(wav.take(10), WavMeta.CHANNELS) == -1L)
    val avi = "RIFF".getBytes ++ le32(4) ++ "AVI ".getBytes
    assert(WavMeta.parse(avi, WavMeta.CHANNELS) == -1L)
    // a chunk whose declared size overruns the buffer ends the walk
    // without misreading (fmt already captured)
    val overrun = wav.dropRight(4) ++ le32(0xFFFFFFFFL)
    assert(WavMeta.parse(overrun, WavMeta.SAMPLE_RATE) == 44100L)
    // through the codegen'd expression: value columns + NULL propagation
    val df = Seq(("wav", wav), ("txt", "plain".getBytes)).toDF("name", "payload")
    val got = df.select(col("name"),
        WavMeta.channels(col("payload")).as("c"),
        WavMeta.sampleRate(col("payload")).as("r"),
        WavMeta.bits(col("payload")).as("b"),
        WavMeta.dataSize(col("payload")).as("d"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("wav").getLong(1) == 2L && got("wav").getLong(2) == 44100L &&
      got("wav").getLong(3) == 16L && got("wav").getLong(4) == 1000L)
    assert((1 to 4).forall(got("txt").isNullAt), "non-WAV bytes must not parse")
  }

  test("sampleFramesStub emits n evenly-spaced deterministic frames per payload") {
    import spark.implicits._
    val df = Seq((1L, "0123456789abcdefABCDEF".getBytes),
      (2L, Array.empty[Byte])).toDF("id", "payload")
    val frames = MultimodalOps.sampleFramesStub(df, "id", "payload", n = 4).collect()
    assert(frames.length == 8) // 4 frames per payload, empty payload included
    val one = frames.filter(_.getAs[Long]("id") == 1L).map(_.getAs[Int]("frame_idx"))
    assert(one.sorted.sameElements(Array(0, 1, 2, 3)))
    val hashes = frames.map(_.getAs[String]("frame_hash"))
    assert(hashes.forall(_.length == 32))
  }

  test("resizeJpegReal: decode → bilinear resample → re-encode stays " +
    "inside the lossy-codec tolerance envelope") {
    import spark.implicits._
    // smooth gradients are the honest test image for a lossy codec:
    // quantization error concentrates at hard edges, so a bound that
    // holds on gradients pins the pipeline (decode, scale, re-encode)
    // without asserting impl-defined DCT noise on synthetic edges
    def gradient(w: Int, h: Int, seed: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        // no modulo: a wrap is a hard 255→0 edge, exactly the
        // discontinuity a gradient bound must not contain
        val r = math.min(255, x * (220 - seed * 9) / (w - 1) + seed * 5)
        val g = math.min(255, y * (200 - seed * 7) / (h - 1) + seed * 9)
        val b = math.min(255,
          (x + y) * (180 - seed * 5) / (w + h - 2) + seed * 13)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
      }
      img
    }
    val originals = (0 until 3).map(i => i.toLong -> gradient(64, 48, i * 7))
    val df = originals.map { case (id, img) =>
      (id, MultimodalOps.encodeJpeg(img, 0.95f))
    }.toDF("id", "payload")
    val out = MultimodalOps.resizeJpegReal(df, "id", "payload", 16, 12)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Int]("width"), r.getAs[Int]("height"),
          r.getAs[Array[Byte]]("payload"))).toMap
    assert(out.size == 3)
    originals.foreach { case (id, img) =>
      val (w, h, bytes) = out(id)
      assert(w == 16 && h == 12 && bytes != null && bytes.nonEmpty)
      val decoded = MultimodalOps.decodeBounded(bytes)
      assert(decoded.getWidth == 16 && decoded.getHeight == 12,
        "emitted payload must re-decode at the target dims")
      // independent reference: same bilinear resample of the ORIGINAL
      // (pre-jpeg) raster; deltas then bound decode+re-encode loss
      val ref = MultimodalOps.bilinearScale(img, 16, 12)
      var maxDelta = 0; var sumDelta = 0L; var n = 0
      for (y <- 0 until 12; x <- 0 until 16) {
        val a = decoded.getRGB(x, y); val b = ref.getRGB(x, y)
        for (shift <- Seq(16, 8, 0)) {
          val d = math.abs(((a >> shift) & 0xff) - ((b >> shift) & 0xff))
          maxDelta = math.max(maxDelta, d); sumDelta += d; n += 1
        }
      }
      assert(maxDelta <= 48,
        s"per-pixel delta $maxDelta exceeds the lossy envelope")
      assert(sumDelta.toDouble / n <= 8.0,
        s"mean delta ${sumDelta.toDouble / n} exceeds the lossy envelope")
    }
    // junk bytes are data, not an error: NULL payload, no crash
    val junk = Seq((9L, "not a jpeg".getBytes)).toDF("id", "payload")
    val jr = MultimodalOps.resizeJpegReal(junk, "id", "payload", 8, 8).collect()
    assert(jr.length == 1 && jr(0).isNullAt(3))
  }

  test("Mp4 box walk parses a hand-built moov and maps every malformed " +
    "shape to NULL (never throws)") {
    import spark.implicits._
    def be32(v: Long) = Array((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      be32(payload.length + 8L) ++ typ.getBytes("ASCII") ++ payload
    val matrix = be32(0x00010000L) ++ Array.fill(12)(0.toByte) ++
      be32(0x00010000L) ++ Array.fill(12)(0.toByte) ++ be32(0x40000000L)
    val mvhd = box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++
      be32(1000) ++ be32(48000) ++ be32(0x00010000L) ++
      Array[Byte](1, 0, 0, 0) ++ Array.fill(8)(0.toByte) ++ matrix ++
      Array.fill(24)(0.toByte) ++ be32(3))
    def tkhd(id: Long, w: Long, h: Long) = box("trak", box("tkhd",
      be32(7) ++ be32(0) ++ be32(0) ++ be32(id) ++ be32(0) ++ be32(48000) ++
        Array.fill(8)(0.toByte) ++ Array.fill(8)(0.toByte) ++ matrix ++
        be32(w << 16) ++ be32(h << 16)))
    val good = box("ftyp", "isom".getBytes ++ be32(0)) ++
      box("moov", mvhd ++ tkhd(1, 320, 240) ++ tkhd(2, 640, 360))
    val parsed = Seq(Tuple1(good)).toDF("b")
      .select(graft.functions.Mp4.meta(col("b"))).head.getSeq[Long](0)
    assert(parsed == Seq(1000L, 48000L, 2L, 640L, 360L))
    // adversarial shapes: all NULL, none throw
    val lyingSize = be32(1 << 30) ++ "moov".getBytes ++ be32(0)
    val tinyBox = be32(4) ++ "moov".getBytes // size < 8
    val v1Mvhd = box("ftyp", be32(0)) ++
      box("moov", box("mvhd", Array[Byte](1) ++ Array.fill(30)(0.toByte)))
    val truncated = good.take(40)
    val bomb = box("moov", // 65 zero-size... built as 65 valid tiny boxes
      Array.fill(65)(box("free", Array.empty[Byte])).flatten)
    val cases = Seq(lyingSize, tinyBox, v1Mvhd, truncated, bomb,
      Array.empty[Byte], "garbage".getBytes)
    cases.zipWithIndex.foreach { case (bytes, i) =>
      val r = Seq(Tuple1(bytes)).toDF("b")
        .select(graft.functions.Mp4.meta(col("b"))).head
      assert(r.isNullAt(0), s"adversarial case $i must parse to NULL")
    }
  }

  test("embedStub is deterministic with the declared shapes") {
    val ids = payloads.withColumn("id", monotonically_increasing_id())
    val emb = MultimodalOps.embedStub(ids, "id", "payload", dim = 16).collect()
    assert(emb.length == 7)
    emb.foreach { row =>
      val v = row.getSeq[Double](1)
      assert(v.length == 16 && v.forall(x => x >= 0.0 && x < 1.0))
    }
    val emb2 = MultimodalOps.embedStub(ids, "id", "payload", dim = 16).collect()
    assert(emb.map(_.getSeq[Double](1)).toSeq == emb2.map(_.getSeq[Double](1)).toSeq)
  }

  test("Bmp parses a hand-built 24-bpp bitmap: bottom-up rows, padding, " +
    "BGR order, resample index math, channel stats") {
    // 3x2 image, rowSize = ((3*3+3)/4)*4 = 12 → 3 pad bytes per row.
    // Image rows (top-down), pixels as (r,g,b):
    //   y=0: (255,0,0) (0,255,0) (0,0,255)
    //   y=1: (10,20,30) (40,50,60) (70,80,90)
    def le32(v: Int) = Array(v, v >> 8, v >> 16, v >> 24).map(_.toByte)
    def le16(v: Int) = Array(v, v >> 8).map(_.toByte)
    val rowBot = Array( // file row 0 = image row y=1 (bottom-up), B,G,R
      30, 20, 10, 60, 50, 40, 90, 80, 70, 0, 0, 0).map(_.toByte)
    val rowTop = Array(
      0, 0, 255, 0, 255, 0, 255, 0, 0, 0, 0, 0).map(_.toByte)
    val bmp = Array[Byte]('B', 'M') ++ le32(54 + 24) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(3) ++ le32(2) ++ le16(1) ++ le16(24) ++ le32(0) ++
      le32(24) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ rowBot ++ rowTop
    assert(graft.functions.Bmp.parseDims(bmp) == (3L << 32 | 2L))
    // identity resample (3x2 → 3x2) recovers the TOP-DOWN pixel grid
    val ident = graft.functions.Bmp.resampleData(bmp, 3, 2).toIntArray()
    assert(ident.toSeq == Seq(0xff0000, 0x00ff00, 0x0000ff,
      0x0a141e, 0x28323c, 0x46505a))
    // 1x1 resample reads source pixel (0*3/1, 0*2/1) = top-left
    assert(graft.functions.Bmp.resampleData(bmp, 1, 1).toIntArray().toSeq ==
      Seq(0xff0000))
    // channel stats: sums over all 6 pixels + 4-bin red histogram
    val st = graft.functions.Bmp.channelStatsData(bmp).toLongArray()
    assert(st.toSeq == Seq(255L + 10 + 40 + 70, 255L + 20 + 50 + 80,
      255L + 30 + 60 + 90, 4L /* r in [0,64): 0,0,10,40 */ ,
      1L /* 70 */ , 0L, 1L /* 255 */ ))
  }

  test("Bmp kernels never throw on arbitrary bytes (fuzz) and reject " +
    "non-24bpp/compressed/truncated variants with NULL") {
    val rnd = new scala.util.Random(42)
    (0 until 2000).foreach { i =>
      val bytes = new Array[Byte](rnd.nextInt(96))
      rnd.nextBytes(bytes)
      if (bytes.length >= 2) { bytes(0) = 'B'; bytes(1) = 'M' } // hit the parse path
      graft.functions.Bmp.parseDims(bytes)
      graft.functions.Bmp.resampleData(bytes, 4, 3)
      graft.functions.Bmp.channelStatsData(bytes)
    }
    // a valid header whose declared pixel rows exceed the payload → NULL
    def le32(v: Int) = Array(v, v >> 8, v >> 16, v >> 24).map(_.toByte)
    def le16(v: Int) = Array(v, v >> 8).map(_.toByte)
    def hdr(bpp: Int, comp: Int, h: Int) =
      Array[Byte]('B', 'M') ++ le32(54) ++ le32(0) ++ le32(54) ++
        le32(40) ++ le32(3) ++ le32(h) ++ le16(1) ++ le16(bpp) ++ le32(comp) ++
        le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    assert(graft.functions.Bmp.parseDims(hdr(24, 0, 2)) == -1L) // truncated
    assert(graft.functions.Bmp.parseDims(
      hdr(32, 0, 1) ++ new Array[Byte](64)) == -1L) // 32 bpp unsupported
    assert(graft.functions.Bmp.parseDims(
      hdr(24, 1, 1) ++ new Array[Byte](64)) == -1L) // RLE compressed
    assert(graft.functions.Bmp.parseDims(
      hdr(24, 0, -1) ++ new Array[Byte](64)) == -1L) // top-down rejected
  }

  // Test-only REAL PNG encoder: proper CRC32 chunk checksums and a
  // genuinely COMPRESSED zlib stream (java.util.zip.Deflater), with a
  // caller-chosen filter type applied per row and any 8-bit color type
  // (plane = bpp bytes/pixel: 1 gray, 2 gray+alpha, 3 RGB, 4 RGBA) —
  // so the decoder's inflate path and all five unfilters are exercised
  // at every pixel stride against ground truth, not against the p71
  // stored-block shortcut.
  private def encodePng(w: Int, h: Int, plane: Array[Byte],
                        filterOf: Int => Int,
                        splitIdat: Boolean = false,
                        colorType: Int = 2): Array[Byte] = {
    val bpp = colorType match { case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4 }
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def be32(v: Long): Unit =
        Seq(24, 16, 8, 0).foreach(s => out.write(((v >> s) & 0xff).toInt))
      be32(data.length)
      out.write(typ.getBytes("US-ASCII")); out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      be32(crc.getValue)
      out.toByteArray
    }
    val stride = w * bpp
    val raw = new java.io.ByteArrayOutputStream()
    for (y <- 0 until h) {
      val ft = filterOf(y)
      raw.write(ft)
      for (x <- 0 until stride) {
        val cur = plane(y * stride + x) & 0xff
        val a = if (x >= bpp) plane(y * stride + x - bpp) & 0xff else 0
        val b = if (y > 0) plane((y - 1) * stride + x) & 0xff else 0
        val c = if (x >= bpp && y > 0) plane((y - 1) * stride + x - bpp) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) >> 1
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        raw.write((cur - pred) & 0xff)
      }
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw.toByteArray); defl.finish()
    val zbuf = new Array[Byte](raw.size() * 2 + 64)
    val zlen = defl.deflate(zbuf); defl.end()
    val z = zbuf.take(zlen)
    val ihdr = {
      val d = new java.io.ByteArrayOutputStream()
      def be32(v: Int): Unit =
        Seq(24, 16, 8, 0).foreach(s => d.write((v >> s) & 0xff))
      be32(w); be32(h)
      d.write(8); d.write(colorType); d.write(0); d.write(0); d.write(0)
      d.toByteArray
    }
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    val idats =
      if (splitIdat && z.length > 4) // two IDATs: the decoder must concat
        chunk("IDAT", z.take(3)) ++ chunk("IDAT", z.drop(3))
      else chunk("IDAT", z)
    sig ++ chunk("IHDR", ihdr) ++ idats ++ chunk("IEND", Array.empty)
  }

  test("Png.decodeRgb round-trips a REAL deflate-compressed PNG through " +
    "every filter type, concatenates split IDATs, and rejects junk") {
    import graft.functions.Png
    val w = 7; val h = 6
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 37 + 11) % 256).toByte)
    // each row uses a different filter (0..4, cycling) — the decoder
    // must invert Sub/Up/Average/Paeth, not just None
    val png = encodePng(w, h, rgb, y => y % 5)
    val got = Png.decodeRgb(png)
    assert(got != null && got._1 == w && got._2 == h)
    assert(got._3.toSeq == rgb.toSeq, "pixels must round-trip exactly")
    // split IDAT stream: same pixels
    val got2 = Png.decodeRgb(encodePng(w, h, rgb, _ => 4, splitIdat = true))
    assert(got2._3.toSeq == rgb.toSeq, "split IDATs must concatenate")
    // stats agree with direct arithmetic
    val stats = Png.channelStatsData(png)
    val sumR = (0 until w * h).map(i => rgb(i * 3) & 0xff).sum.toLong
    assert(stats.getLong(0) == w && stats.getLong(1) == h)
    assert(stats.getLong(2) == sumR)
    // tolerant-parse: truncation, junk, wrong shapes -> null, never throw
    assert(Png.decodeRgb(null) == null)
    assert(Png.decodeRgb(png.take(20)) == null)
    assert(Png.decodeRgb("not a png at all".getBytes) == null)
    assert(Png.decodeRgb(png.map(b => (b ^ 0x55).toByte)) == null)
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val junk = Array.fill(rnd.nextInt(300))(rnd.nextInt(256).toByte)
      Png.decodeRgb(junk) // must not throw
    }
    // corrupt the deflate stream mid-IDAT: null, not an exception
    val corrupt = png.clone()
    corrupt(corrupt.length - 30) = 0x7f
    Png.decodeRgb(corrupt) // any result, but no throw
  }

  test("Png.decodeRgb handles gray/gray+alpha/RGBA color types with " +
    "per-bpp unfiltering, normalizes to RGB, and rejects palette/16-bit") {
    import graft.functions.Png
    val w = 7; val h = 6
    // deterministic plane content distinct per byte position
    def plane(bpp: Int) =
      Array.tabulate(w * h * bpp)(i => ((i * 41 + 7) % 256).toByte)
    // every row a different filter: the a/c predictor offsets must use
    // the TYPE'S bpp (1/2/4), not RGB's 3, or Sub/Paeth rows corrupt
    for ((ct, bpp) <- Seq((0, 1), (4, 2), (6, 4))) {
      val p = plane(bpp)
      val got = Png.decodeRgb(encodePng(w, h, p, y => y % 5, colorType = ct))
      assert(got != null && got._1 == w && got._2 == h, s"color type $ct")
      val expected = Array.tabulate(w * h * 3) { i =>
        val px = i / 3
        ct match {
          case 0 => p(px) // gray replicated
          case 4 => p(px * 2) // gray replicated, alpha dropped
          case 6 => p(px * 4 + i % 3) // alpha dropped
        }
      }
      assert(got._3.toSeq == expected.toSeq,
        s"color type $ct must unfilter at bpp $bpp and normalize to RGB")
    }
    // channel stats ride the same path: gray image has sum_r == sum_g
    val g = plane(1)
    val stats = Png.channelStatsData(encodePng(w, h, g, _ => 1, colorType = 0))
    val sumG = g.map(_ & 0xff).map(_.toLong).sum
    assert(stats.getLong(2) == sumG && stats.getLong(3) == sumG &&
      stats.getLong(4) == sumG)
    // palette (3) and 16-bit depth are NULL, never a throw
    val pal = encodePng(w, h, plane(1), _ => 0, colorType = 0)
    pal(25) = 3 // color-type byte inside IHDR
    assert(Png.decodeRgb(pal) == null, "palette must be rejected")
    val deep = encodePng(w, h, plane(3), _ => 0, colorType = 2)
    deep(24) = 16 // bit-depth byte inside IHDR
    assert(Png.decodeRgb(deep) == null, "16-bit depth must be rejected")
  }

  test("Png.resizePng: decode -> nearest-neighbour resample -> re-encode " +
    "is lossless, standard, and deterministic; junk yields null") {
    import graft.functions.Png
    val w = 8; val h = 6; val w2 = 5; val h2 = 4
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 53 + 19) % 256).toByte)
    // source uses real deflate + mixed filters — the full decode path
    val src = encodePng(w, h, rgb, y => y % 5)
    val out = Png.resizePng(src, w2, h2)
    assert(out != null)
    // re-encoded payload is a standard PNG: decodes back to exactly the
    // resampled pixels (floor-division mapping, the p54/Bmp convention)
    val got = Png.decodeRgb(out)
    assert(got != null && got._1 == w2 && got._2 == h2)
    val expected = Array.tabulate(w2 * h2 * 3) { i =>
      val px = i / 3; val ch = i % 3
      val sx = ((px % w2).toLong * w / w2).toInt
      val sy = ((px / w2).toLong * h / h2).toInt
      rgb((sy * w + sx) * 3 + ch)
    }
    assert(got._3.toSeq == expected.toSeq, "resize loop must be lossless")
    // ImageIO (an independent decoder) agrees on dims and pixels: the
    // re-encode is STANDARD, not merely self-consistent
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out))
    assert(img != null && img.getWidth == w2 && img.getHeight == h2)
    for (y <- 0 until h2; x <- 0 until w2) {
      val p = (y * w2 + x) * 3
      val exp = ((expected(p) & 0xff) << 16) |
        ((expected(p + 1) & 0xff) << 8) | (expected(p + 2) & 0xff)
      assert((img.getRGB(x, y) & 0xffffff) == exp)
    }
    // deterministic bytes on this JVM; gray input also round-trips
    assert(Png.resizePng(src, w2, h2).toSeq == out.toSeq)
    val gray = Array.tabulate(w * h)(i => ((i * 11 + 3) % 256).toByte)
    val g2 = Png.decodeRgb(
      Png.resizePng(encodePng(w, h, gray, _ => 2, colorType = 0), w2, h2))
    assert(g2 != null && g2._3(0) == g2._3(1) && g2._3(1) == g2._3(2))
    // payload junk -> null, never throw; bad target grid fails loudly
    assert(Png.resizePng(null, w2, h2) == null)
    assert(Png.resizePng("junk".getBytes, w2, h2) == null)
    assert(Png.resizePng(src.take(30), w2, h2) == null)
  }

  test("decodePixelsReal: JDK ImageIO decodes a REAL JPEG — exact dims, " +
    "channel means within lossy tolerance; junk rows yield NULL dims") {
    import spark.implicits._
    // a 16x12 solid-color image: lossy DCT must still average back to
    // the source color within a small tolerance
    val (w, h) = (16, 12)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, 0xC86432) // r,g,b
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val jpeg = bos.toByteArray
    assert((jpeg(0) & 0xff) == 0xff && (jpeg(1) & 0xff) == 0xd8) // real JPEG
    val df = Seq((1L, jpeg), (2L, "definitely not an image".getBytes))
      .toDF("id", "blob")
    val rows = MultimodalOps.decodePixelsReal(df, "id", "blob")
      .collect().map(r => r.getLong(0) -> r).toMap
    val ok = rows(1L)
    assert(ok.getInt(1) == w && ok.getInt(2) == h, s"dims: $ok")
    val n = (w * h).toDouble
    assert(math.abs(ok.getLong(3) / n - 0xC8) <= 3.0, s"mean r drifted: $ok")
    assert(math.abs(ok.getLong(4) / n - 0x64) <= 3.0, s"mean g drifted: $ok")
    assert(math.abs(ok.getLong(5) / n - 0x32) <= 3.0, s"mean b drifted: $ok")
    assert(rows(2L).isNullAt(1), "junk must decode to NULL dims, not throw")
    // dimension bomb: a valid PNG header claiming 50000x50000 must
    // yield NULL dims BEFORE any raster allocation, not an OOM
    val bombIhdr = {
      val d = new java.io.ByteArrayOutputStream()
      def be32(v: Int): Unit =
        Seq(24, 16, 8, 0).foreach(s => d.write((v >> s) & 0xff))
      be32(50000); be32(50000)
      d.write(8); d.write(2); d.write(0); d.write(0); d.write(0)
      d.toByteArray
    }
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    def chunkOf(typ: String, data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def be32(v: Long): Unit =
        Seq(24, 16, 8, 0).foreach(s => out.write(((v >> s) & 0xff).toInt))
      be32(data.length); out.write(typ.getBytes("US-ASCII")); out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      be32(crc.getValue); out.toByteArray
    }
    val bomb = sig ++ chunkOf("IHDR", bombIhdr) ++
      chunkOf("IDAT", Array[Byte](0x78, 0x01)) ++ chunkOf("IEND", Array.empty)
    val bombRows = MultimodalOps.decodePixelsReal(
      Seq((9L, bomb)).toDF("id", "blob"), "id", "blob").collect()
    assert(bombRows.head.isNullAt(1), "dimension bomb must yield NULL dims")
  }

  // ---- from-scratch baseline JPEG decoder (r18) ---------------------------

  test("Jpeg: DC-only construction decodes EXACTLY — every conforming " +
    "IDCT is exact on flat blocks, including across restart markers") {
    import graft.functions.Jpeg
    val r = new java.util.Random(31)
    for (restart <- Seq(0, 1, 2, 3); trial <- 0 until 4) {
      val rows = 1 + r.nextInt(4); val cols = 1 + r.nextInt(5)
      val grid = Array.tabulate(rows, cols)((_, _) => r.nextInt(256))
      val jpeg = Jpeg.encodeFlatBlocks(grid, restart)
      val px = Jpeg.decodeRgb(jpeg)
      assert(px != null, s"restart=$restart trial=$trial must decode")
      val (w, h, rgb) = px
      assert(w === cols * 8 && h === rows * 8)
      for (y <- 0 until h; x <- 0 until w) {
        val want = grid(y / 8)(x / 8)
        val p = (y * w + x) * 3
        assert((rgb(p) & 0xFF) === want,
          s"restart=$restart ($x,$y): ${rgb(p) & 0xFF} != $want")
        assert(rgb(p) === rgb(p + 1) && rgb(p + 1) === rgb(p + 2))
      }
    }
  }

  test("Jpeg PROGRESSIVE DC-only construction decodes EXACTLY across " +
    "all four scan kinds (DC first Al=1, AC-first EOBn runs, DC " +
    "refinement with live low bits, AC refinement), with and without " +
    "restart markers — and ImageIO agrees bit-for-bit on the fixture") {
    import graft.functions.Jpeg
    val r = new java.util.Random(53)
    for (restart <- Seq(0, 1, 2, 3); trial <- 0 until 4) {
      val rows = 1 + r.nextInt(4); val cols = 1 + r.nextInt(5)
      val grid = Array.tabulate(rows, cols)((_, _) => r.nextInt(256))
      val jpeg = Jpeg.encodeFlatBlocksProgressive(grid, restart)
      assert(jpeg.sliding(2).exists(s =>
        (s(0) & 0xFF) == 0xFF && (s(1) & 0xFF) == 0xC2), "must be SOF2")
      val px = Jpeg.decodeRgb(jpeg)
      assert(px != null, s"restart=$restart trial=$trial must decode")
      val (w, h, rgb) = px
      assert(w === cols * 8 && h === rows * 8)
      for (y <- 0 until h; x <- 0 until w) {
        val want = grid(y / 8)(x / 8)
        val p = (y * w + x) * 3
        assert((rgb(p) & 0xFF) === want,
          s"restart=$restart ($x,$y): ${rgb(p) & 0xFF} != $want")
        assert(rgb(p) === rgb(p + 1) && rgb(p + 1) === rgb(p + 2))
      }
      // independent decoder agreement: ImageIO must read the same grid
      // (DC-only blocks are exact under every conforming IDCT)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(jpeg))
      assert(img != null && img.getWidth === w && img.getHeight === h)
      val raster = img.getRaster
      for (y <- 0 until h; x <- 0 until w)
        assert((raster.getSample(x, y, 0) & 0xFF) === grid(y / 8)(x / 8),
          s"ImageIO disagrees at ($x,$y) restart=$restart")
    }
  }

  test("Jpeg vs ImageIO ground truth: color gradients (default 4:2:0 " +
    "writer) and grayscale — dims exact, pixels within lossy tolerance") {
    import graft.functions.Jpeg
    def viaImageIo(jpeg: Array[Byte]): (Int, Int, Array[Int]) = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
      val w = img.getWidth; val h = img.getHeight
      val px = new Array[Int](w * h)
      if (img.getColorModel.getNumComponents == 1) {
        // raw gray samples: getRGB would run awt's NONLINEAR ICC
        // gray→sRGB conversion and no longer measure the decoder
        val r = img.getRaster
        for (y <- 0 until h; x <- 0 until w) {
          val g = r.getSample(x, y, 0) & 0xFF
          px(y * w + x) = (g << 16) | (g << 8) | g
        }
      } else img.getRGB(0, 0, w, h, px, 0, w)
      (w, h, px)
    }
    def encode(img: java.awt.image.BufferedImage, q: Float): Array[Byte] = {
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(q)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
      } finally { writer.dispose(); ios.close() }
      bos.toByteArray
    }
    for (q <- Seq(0.95f, 0.7f); gray <- Seq(false, true)) {
      val (w, h) = (37, 23) // deliberately unaligned to the MCU grid
      val img = new java.awt.image.BufferedImage(w, h,
        if (gray) java.awt.image.BufferedImage.TYPE_BYTE_GRAY
        else java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val r = (x * 255 / (w - 1)) & 0xFF
        val g = (y * 255 / (h - 1)) & 0xFF
        val b = ((x + y) * 4) & 0xFF
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
      }
      val jpeg = encode(img, q)
      val mine = Jpeg.decodeRgb(jpeg)
      assert(mine != null, s"q=$q gray=$gray must decode")
      val (mw, mh, rgb) = mine
      val (iw, ih, ipx) = viaImageIo(jpeg)
      assert(mw === iw && mh === ih)
      var sumDiff = 0L; var maxDiff = 0
      for (y <- 0 until mh; x <- 0 until mw; c <- 0 until 3) {
        val m = rgb((y * mw + x) * 3 + c) & 0xFF
        val i = (ipx(y * mw + x) >> (16 - 8 * c)) & 0xFF
        val d = math.abs(m - i)
        sumDiff += d
        if (d > maxDiff) maxDiff = d
      }
      val mean = sumDiff.toDouble / (mw * mh * 3)
      assert(mean <= 3.0, s"q=$q gray=$gray mean pixel diff $mean")
      assert(maxDiff <= 64, s"q=$q gray=$gray max pixel diff $maxDiff")
    }
  }

  test("Jpeg PROGRESSIVE (SOF2, r19) vs ImageIO ground truth: the " +
    "standard multi-scan script (spectral selection + successive " +
    "approximation, color 4:2:0 and grayscale) decodes from scratch " +
    "within lossy tolerance; truncation/bitflip damage never throws") {
    import graft.functions.Jpeg
    def viaImageIo(jpeg: Array[Byte]): (Int, Int, Array[Int]) = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
      val w = img.getWidth; val h = img.getHeight
      val px = new Array[Int](w * h)
      if (img.getColorModel.getNumComponents == 1) {
        val r = img.getRaster
        for (y <- 0 until h; x <- 0 until w) {
          val g = r.getSample(x, y, 0) & 0xFF
          px(y * w + x) = (g << 16) | (g << 8) | g
        }
      } else img.getRGB(0, 0, w, h, px, 0, w)
      (w, h, px)
    }
    def encodeProg(img: java.awt.image.BufferedImage, q: Float): Array[Byte] = {
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(q)
      p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
      } finally { writer.dispose(); ios.close() }
      bos.toByteArray
    }
    val rnd = new java.util.Random(47)
    for (q <- Seq(0.95f, 0.7f); gray <- Seq(false, true)) {
      val (w, h) = (37, 23) // deliberately unaligned to the MCU grid
      val img = new java.awt.image.BufferedImage(w, h,
        if (gray) java.awt.image.BufferedImage.TYPE_BYTE_GRAY
        else java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val r = (x * 255 / (w - 1)) & 0xFF
        val g = (y * 255 / (h - 1)) & 0xFF
        val b = ((x + y) * 4) & 0xFF
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
      }
      val jpeg = encodeProg(img, q)
      // really progressive
      assert(jpeg.sliding(2).exists(s =>
        (s(0) & 0xFF) == 0xFF && (s(1) & 0xFF) == 0xC2), "fixture not SOF2")
      val mine = Jpeg.decodeRgb(jpeg)
      assert(mine != null, s"q=$q gray=$gray progressive must decode")
      val (mw, mh, rgb) = mine
      val (iw, ih, ipx) = viaImageIo(jpeg)
      assert(mw === iw && mh === ih)
      var sumDiff = 0L; var maxDiff = 0
      for (y <- 0 until mh; x <- 0 until mw; c <- 0 until 3) {
        val m = rgb((y * mw + x) * 3 + c) & 0xFF
        val i = (ipx(y * mw + x) >> (16 - 8 * c)) & 0xFF
        val d = math.abs(m - i)
        sumDiff += d
        if (d > maxDiff) maxDiff = d
      }
      val mean = sumDiff.toDouble / (mw * mh * 3)
      assert(mean <= 3.0, s"q=$q gray=$gray prog mean pixel diff $mean")
      assert(maxDiff <= 64, s"q=$q gray=$gray prog max pixel diff $maxDiff")
      // damage lanes: every truncation point and random bitflips decode
      // to SOMETHING-or-NULL without throwing (tolerant-parse contract)
      var t = 2
      while (t < jpeg.length) {
        Jpeg.decodeRgb(java.util.Arrays.copyOf(jpeg, t))
        t += math.max(1, jpeg.length / 97)
      }
      for (_ <- 0 until 40) {
        val mut = jpeg.clone()
        val at = rnd.nextInt(mut.length)
        mut(at) = (mut(at) ^ (1 << rnd.nextInt(8))).toByte
        Jpeg.decodeRgb(mut) // must not throw
      }
    }
  }

  test("Jpeg salvage posture: truncation sweep and bitflips never throw; " +
    "progressive SOF and dimension bombs yield NULL") {
    import graft.functions.Jpeg
    val jpeg = Jpeg.encodeFlatBlocks(
      Array.tabulate(2, 3)((a, b) => (a * 80 + b * 40) % 256), 2)
    // every truncation point: null or a clean decode, never a throw
    (0 until jpeg.length).foreach { k =>
      Jpeg.decodeRgb(java.util.Arrays.copyOf(jpeg, k))
    }
    val r = new java.util.Random(17)
    (0 until 500).foreach { _ =>
      val mut = jpeg.clone()
      mut(r.nextInt(mut.length)) =
        (mut(r.nextInt(mut.length)) ^ (1 << r.nextInt(8))).toByte
      Jpeg.decodeRgb(mut) // may be null or decode; must not throw
    }
    // progressive flip (the p273 %17 damage lane)
    val prog = jpeg.clone()
    val sofAt = prog.indices.dropRight(1).find(i =>
      (prog(i) & 0xFF) == 0xFF && (prog(i + 1) & 0xFF) == 0xC0).get
    prog(sofAt + 1) = 0xC2.toByte
    assert(Jpeg.decodeRgb(prog) == null, "progressive must be NULL")
    // dimension bomb: SOF claiming 50000x50000 → NULL before allocation
    val bomb = jpeg.clone()
    def put16(at: Int, v: Int): Unit = {
      bomb(at) = ((v >> 8) & 0xFF).toByte; bomb(at + 1) = (v & 0xFF).toByte
    }
    put16(sofAt + 5, 50000); put16(sofAt + 7, 50000)
    assert(Jpeg.decodeRgb(bomb) == null, "dimension bomb must be NULL")
    // junk and null
    assert(Jpeg.decodeRgb(null) == null)
    assert(Jpeg.decodeRgb("not a jpeg".getBytes) == null)
    assert(Jpeg.decodeRgb(Array[Byte](0xFF.toByte, 0xD8.toByte)) == null)
  }

  test("Jpeg.flatFixture damage lanes: %13 truncation and %17 " +
    "progressive both NULL through channelStats; healthy ids exact") {
    import graft.functions.Jpeg
    assert(Jpeg.channelStatsData(Jpeg.flatFixture(4L)) == null)   // %13==4
    assert(Jpeg.channelStatsData(Jpeg.flatFixture(23L)) == null)  // %17==6
    val s = Jpeg.channelStatsData(Jpeg.flatFixture(1L))
    assert(s != null)
    // id=1: cols=2, rows=2, v(by,bx) = (31 + by*8 + bx*5) % 256
    val vs = for (by <- 0 until 2; bx <- 0 until 2) yield (31 + by * 8 + bx * 5) % 256
    assert(s.getLong(0) === 16L && s.getLong(1) === 16L)
    assert(s.getLong(2) === 64L * vs.sum)
  }

  test("Jpeg r19 hardening: a stuffed 0xFF00 pad pair before RSTn is " +
    "skipped (libjpeg-compatible) and decodes to the identical pixels; " +
    "a pq=1 DQT shorter than its table yields NULL, not bytes from the " +
    "next marker") {
    import graft.functions.Jpeg
    // (a) conforming streams may carry a stuffed 0xFF 0x00 produced by
    // pad bits right before a restart marker — insert one before the
    // first RSTn and require bit-identical output
    val grid = Array.tabulate(2, 3)((y, x) => (40 * y + 30 * x + 10) % 256)
    val jpeg = Jpeg.encodeFlatBlocks(grid, 1)
    val base = Jpeg.decodeRgb(jpeg)
    assert(base != null)
    // locate the scan start, then the first restart marker after it
    var sos = -1; var i = 2
    while (sos < 0 && i + 1 < jpeg.length) {
      if ((jpeg(i) & 0xFF) == 0xFF && (jpeg(i + 1) & 0xFF) == 0xDA) sos = i
      i += 1
    }
    assert(sos > 0, "fixture must contain an SOS")
    var rst = -1; i = sos + 2
    while (rst < 0 && i + 1 < jpeg.length) {
      val m = jpeg(i + 1) & 0xFF
      if ((jpeg(i) & 0xFF) == 0xFF && m >= 0xD0 && m <= 0xD7) rst = i
      i += 1
    }
    assert(rst > 0, "restart=1 fixture must contain an RSTn")
    val padded = jpeg.take(rst) ++ Array[Byte](0xFF.toByte, 0x00) ++ jpeg.drop(rst)
    val px = Jpeg.decodeRgb(padded)
    assert(px != null, "stuffed pad before RSTn must decode, not NULL")
    assert(px._1 === base._1 && px._2 === base._2 &&
      java.util.Arrays.equals(px._3, base._3),
      "pad-pair skip must not change any pixel")
    // (b) DQT with pq=1 whose segment ends mid-table: the 16-bit reads
    // must bound against the SEGMENT, not the blob — clean NULL
    val shortDqt = Array[Int](0xFF, 0xD8, 0xFF, 0xDB, 0x00, 0x09,
      0x10, 0x01, 0x02, 0x03, 0x04, 0x05, // pq=1, 5 bytes of a 128-byte table
      0xFF, 0xD9).map(_.toByte)
    assert(Jpeg.decodeRgb(shortDqt) == null)
  }

  test("decodePixelsReal falls back to ImageIO when the from-scratch " +
    "decoder declines a valid JPEG (r19): an ImageIO-written PROGRESSIVE " +
    "stream must yield real dims and channel means, never NULL") {
    import spark.implicits._
    val (w, h) = (24, 16)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, 0x5A96C8)
    val ios = javax.imageio.ImageIO.getImageWritersByFormatName("jpg")
    val wr = ios.next()
    val bos = new java.io.ByteArrayOutputStream()
    val mos = javax.imageio.ImageIO.createImageOutputStream(bos)
    wr.setOutput(mos)
    val p = wr.getDefaultWriteParam
    p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
    wr.dispose(); mos.close()
    val jpeg = bos.toByteArray
    // confirm the fixture really is progressive (SOF2)
    def hasMarker(m: Int): Boolean =
      jpeg.sliding(2).exists(s => (s(0) & 0xFF) == 0xFF && (s(1) & 0xFF) == m)
    assert(hasMarker(0xC2) && !hasMarker(0xC0), "fixture must be SOF2")
    val rows = MultimodalOps.decodePixelsReal(
      Seq((1L, jpeg)).toDF("id", "blob"), "id", "blob").collect()
    val r0 = rows.head
    assert(!r0.isNullAt(1), "progressive JPEG must decode (scratch or fallback)")
    assert(r0.getInt(1) === w && r0.getInt(2) === h)
    val n = (w * h).toDouble
    assert(math.abs(r0.getLong(3) / n - 0x5A) <= 3.0, s"mean r drifted: $r0")
    assert(math.abs(r0.getLong(4) / n - 0x96) <= 3.0, s"mean g drifted: $r0")
    assert(math.abs(r0.getLong(5) / n - 0xC8) <= 3.0, s"mean b drifted: $r0")
  }

  // ---- real PCM sample decode (p78/p79) ----------------------------------

  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private def le32b(v: Long): Array[Byte] =
    b((v & 0xff).toInt, ((v >> 8) & 0xff).toInt,
      ((v >> 16) & 0xff).toInt, ((v >> 24) & 0xff).toInt)
  private def le16b(v: Long): Array[Byte] =
    b((v & 0xff).toInt, ((v >> 8) & 0xff).toInt)

  /** A complete integer-PCM WAV with the given interleaved DECODED
    * samples (frame-major); bits ∈ {8, 16}.
    */
  private def pcmWav(channels: Int, bits: Int, frames: Seq[Seq[Int]]): Array[Byte] = {
    val data = frames.flatMap(_.map { v =>
      if (bits == 8) b(v + 128) else le16b(v & 0xffff)
    }).flatten.toArray
    "RIFF".getBytes ++ le32b(4 + 24 + 8 + data.length) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32b(16) ++
      le16b(1) ++ le16b(channels) ++ le32b(8000) ++
      le32b(8000L * channels * bits / 8) ++
      le16b(channels * bits / 8) ++ le16b(bits) ++
      "data".getBytes ++ le32b(data.length) ++ data
  }

  test("Wav PCM kernels decode real 8/16-bit mono/stereo samples: " +
    "per-channel features, resample mapping, malformed input → NULL") {
    import spark.implicits._
    import graft.functions.Wav
    // stereo 16-bit: ch0 = [100, -200, 300, -1], ch1 = [-32768, 32767, 0, 5]
    val stereo = pcmWav(2, 16,
      Seq(Seq(100, -32768), Seq(-200, 32767), Seq(300, 0), Seq(-1, 5)))
    val st = Wav.pcmStatsData(stereo)
    assert(st.numElements() == 2)
    val ch0 = st.getArray(0).toLongArray()
    val ch1 = st.getArray(1).toLongArray()
    // [n_frames, sum, sum_abs, peak_abs, zero_crossings]
    assert(ch0.toSeq == Seq(4L, 199L, 601L, 300L, 3L))
    // ch1 signs: neg, pos, pos(0 counts as non-negative), pos → 1 crossing
    assert(ch1.toSeq == Seq(4L, 4L, 65540L, 32768L, 1L))
    // 8-bit mono: decoded = stored - 128
    val mono8 = pcmWav(1, 8, Seq(Seq(-128), Seq(0), Seq(127), Seq(-1)))
    // signs: neg, nonneg(0), nonneg, neg → crossings at frames 1 and 3
    assert(Wav.pcmStatsData(mono8).getArray(0).toLongArray().toSeq ==
      Seq(4L, -2L, 256L, 128L, 2L))
    // resample: n == frames is identity on channel 0; n < frames reads
    // source frame j*frames/n
    assert(Wav.pcmResampleData(stereo, 4).toIntArray().toSeq ==
      Seq(100, -200, 300, -1))
    assert(Wav.pcmResampleData(stereo, 2).toIntArray().toSeq ==
      Seq(100, 300))
    // malformed inputs: truncated data payload, float PCM (fmt tag 3),
    // 24-bit depth, junk, empty — NULL, never a throw
    assert(Wav.pcmStatsData(stereo.dropRight(1)) == null,
      "truncated data must not decode")
    val floatFmt = stereo.clone(); floatFmt(20) = 3
    assert(Wav.pcmStatsData(floatFmt) == null)
    val bits24 = stereo.clone(); bits24(34) = 24
    assert(Wav.pcmStatsData(bits24) == null)
    assert(Wav.pcmStatsData("not audio".getBytes) == null)
    assert(Wav.pcmStatsData(Array.empty[Byte]) == null)
    assert(Wav.pcmResampleData(stereo, 0) == null, "bad target count")
    // fuzz: arbitrary bytes (including RIFF-prefixed garbage) never throw
    val rnd = new scala.util.Random(78)
    (0 until 200).foreach { i =>
      val junk = new Array[Byte](rnd.nextInt(128))
      rnd.nextBytes(junk)
      val payload = if (i % 3 == 0) "RIFF".getBytes ++ junk else junk
      Wav.pcmStatsData(payload); Wav.pcmResampleData(payload, 8)
    }
    // through the codegen'd expressions with NULL propagation
    val rows = Seq((1L, stereo), (2L, "junk".getBytes))
      .toDF("id", "blob")
      .select(col("id"), Wav.pcmStats(col("blob")).as("st"),
        Wav.pcmResample(col("blob"), 2).as("rs"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getSeq[scala.collection.Seq[Long]](1).head.toSeq ==
      Seq(4L, 199L, 601L, 300L, 3L))
    assert(rows(1L).getSeq[Int](2).toSeq == Seq(100, 300))
    assert(rows(2L).isNullAt(1) && rows(2L).isNullAt(2))
  }

  // ---- real gzip member decode (p80) -------------------------------------

  test("Gzip inflates a REAL GZIPOutputStream member and crawl-realistic " +
    "header variants; truncation/bombs/junk → NULL") {
    import spark.implicits._
    import graft.functions.Gzip
    val text = ("the quick brown fox jumps over the lazy dog, " * 40).getBytes
    // a real compressed (non-stored) member from the JDK encoder
    val real = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(text); gz.close()
      bos.toByteArray
    }
    assert(Gzip.inflateData(real).toSeq == text.toSeq)
    // trailing garbage after the member (concatenated-stream reality):
    // the deflate stream still terminates → decoded bytes unchanged
    assert(Gzip.inflateData(real ++ "EXTRA".getBytes).toSeq == text.toSeq)
    // FEXTRA + FNAME + FCOMMENT + FHCRC all set: the walk must skip a
    // LE16-length extra field, two zero-terminated strings, and the
    // 2-byte header CRC to reach the deflate stream
    val deflated = real.drop(10) // raw deflate + trailer from the real member
    val hdr = b(0x1f, 0x8b, 8, 2 | 4 | 8 | 16) ++ le32b(0) ++ b(0, 0xff) ++
      le16b(4) ++ "xtra".getBytes ++
      "name.txt".getBytes ++ b(0) ++ "a comment".getBytes ++ b(0) ++
      le16b(0xbeef)
    assert(Gzip.inflateData(hdr ++ deflated).toSeq == text.toSeq)
    // truncated mid-deflate-stream → NULL (not partial bytes)
    assert(Gzip.inflateData(real.dropRight(12)) == null)
    // reserved FLG bits, wrong magic, wrong method, junk, empty → NULL
    val badFlg = real.clone(); badFlg(3) = 0x40
    assert(Gzip.inflateData(badFlg) == null)
    assert(Gzip.inflateData(b(0x1f, 0x8c, 8, 0, 0, 0, 0, 0, 0, 0xff, 3, 0)) == null)
    val badCm = real.clone(); badCm(2) = 7
    assert(Gzip.inflateData(badCm) == null)
    assert(Gzip.inflateData("not gzip at all".getBytes) == null)
    assert(Gzip.inflateData(Array.empty[Byte]) == null)
    // decompression bomb: ~80 MiB of zeros compresses to ~80 KB; the
    // 64 MiB output cap must return NULL, not allocate the plaintext
    val bomb = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      val chunk = new Array[Byte](1 << 20)
      (0 until 80).foreach(_ => gz.write(chunk))
      gz.close(); bos.toByteArray
    }
    assert(Gzip.inflateData(bomb) == null, "output cap must stop bombs")
    // fuzz: arbitrary bytes (including gzip-magic-prefixed) never throw
    val rnd = new scala.util.Random(80)
    (0 until 200).foreach { i =>
      val junk = new Array[Byte](rnd.nextInt(96))
      rnd.nextBytes(junk)
      Gzip.inflateData(if (i % 3 == 0) b(0x1f, 0x8b, 8) ++ junk else junk)
    }
    // through the codegen'd expression, composing with built-ins
    val rows = Seq((1L, real), (2L, "junk".getBytes))
      .toDF("id", "blob")
      .select(col("id"), length(Gzip.inflate(col("blob"))).as("n"),
        md5(Gzip.inflate(col("blob"))).as("digest"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getInt(1) == text.length)
    assert(rows(1L).getString(2) ==
      java.security.MessageDigest.getInstance("MD5").digest(text)
        .map("%02x".format(_)).mkString)
    assert(rows(2L).isNullAt(1) && rows(2L).isNullAt(2))
  }

  test("gzip MEMBER walk (p265): REAL concatenated GZIPOutputStream " +
    "members decode in order; truncation/rot salvage the prefix; the " +
    "gzipped-WARC composition recovers the records") {
    import graft.functions.{Gzip, Warc}
    def gz(payload: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(payload); g.close()
      bos.toByteArray
    }
    val a = ("alpha " * 30).getBytes
    val bb = ("bravo " * 25).getBytes
    val c = ("charlie " * 20).getBytes
    // three REAL deflate members back to back (the Common Crawl layout)
    val shard = gz(a) ++ gz(bb) ++ gz(c)
    assert(Gzip.inflateMembersData(shard).toSeq == (a ++ bb ++ c).toSeq)
    // a single member still decodes (degenerate shard)
    assert(Gzip.inflateMembersData(gz(a)).toSeq == a.toSeq)
    // member 3 truncated mid-deflate: members 1-2 salvage
    val cut = gz(a) ++ gz(bb) ++ gz(c).dropRight(12)
    assert(Gzip.inflateMembersData(cut).toSeq == (a ++ bb).toSeq)
    // member 2's magic bit-rotted: member 1 salvages
    val rotted = {
      val m2 = gz(bb); m2(0) = 0x1e
      gz(a) ++ m2 ++ gz(c)
    }
    assert(Gzip.inflateMembersData(rotted).toSeq == a.toSeq)
    // first member already bad → NULL (nothing salvageable)
    assert(Gzip.inflateMembersData("junk".getBytes) == null)
    assert(Gzip.inflateMembersData(Array.empty[Byte]) == null)
    // bomb across members: the 64 MiB cap applies to the CONCATENATED
    // output — member 1 (40 MiB) fits and salvages, member 2 would
    // cross the cap and is refused (no partial bytes, no OOM)
    val bombMember = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      val chunk = new Array[Byte](1 << 20)
      (0 until 40).foreach(_ => g.write(chunk))
      g.close(); bos.toByteArray
    }
    val capped = Gzip.inflateMembersData(bombMember ++ bombMember)
    assert(capped != null && capped.length == (40 << 20),
      "multi-member bombs must salvage up to the output cap, never OOM")
    // a single member past the cap is refused outright
    val bigBomb = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      val chunk = new Array[Byte](1 << 20)
      (0 until 80).foreach(_ => g.write(chunk))
      g.close(); bos.toByteArray
    }
    assert(Gzip.inflateMembersData(bigBomb) == null)
    // the p265 composition: one REAL-deflate member per WARC record,
    // walk(members) == walk of the plain concatenated records
    val rec1 = warcRecord("request", "http://ex.com/9", "GET /9".getBytes)
    val rec2 = warcRecord("response", "http://ex.com/9", ("body " * 50).getBytes)
    val w = Warc.walkData(Gzip.inflateMembersData(gz(rec1) ++ gz(rec2)))
    val plain = Warc.walkData(rec1 ++ rec2)
    assert((0 until 4).forall(i => w.getLong(i) == plain.getLong(i)))
    assert(w.getLong(0) == 2L && w.getLong(1) == 1L)
    // p266 extraction: the response PAYLOAD comes back byte-exact
    // through gzip members + record framing; requests are not extracted
    val payloads = Warc.responsePayloadsData(
      Gzip.inflateMembersData(gz(rec1) ++ gz(rec2)))
    assert(payloads.length == 1)
    assert(payloads(0).toSeq == ("body " * 50).getBytes.toSeq)
    // truncated response member: salvage extracts NOTHING (empty, not null)
    val cutShard = gz(rec1) ++ gz(rec2).dropRight(12)
    assert(Warc.responsePayloadsData(
      Gzip.inflateMembersData(cutShard)).isEmpty)
    // two responses extract in order
    val rec3 = warcRecord("response", "http://ex.com/9", "tail".getBytes)
    val three = Warc.responsePayloadsData(rec1 ++ rec2 ++ rec3)
    assert(three.length == 2 && three(1).toSeq == "tail".getBytes.toSeq)
    // fuzz: arbitrary member soup never throws
    val rnd = new scala.util.Random(265)
    (0 until 200).foreach { i =>
      val junk = new Array[Byte](rnd.nextInt(120))
      rnd.nextBytes(junk)
      Gzip.inflateMembersData(
        if (i % 3 == 0) gz(a).dropRight(rnd.nextInt(9)) ++ junk else junk)
    }
  }

  /** p264-framed WARC record bytes (for the composition test). */
  private def warcRecord(tpe: String, uri: String,
      payload: Array[Byte]): Array[Byte] = {
    val head = (s"WARC/1.0\r\nWARC-Type: $tpe\r\nWARC-Target-URI: $uri\r\n" +
      s"WARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: ${payload.length}" +
      "\r\n\r\n").getBytes("US-ASCII")
    head ++ payload ++ "\r\n\r\n".getBytes("US-ASCII")
  }

  test("tar kernel (p164): build/walk round trip, salvage on truncation " +
    "and bit-rot, lying sizes, record padding, member bomb") {
    import graft.functions.Tar
    def walk(b: Array[Byte]): (Long, Long, Long, Long) = {
      val r = Tar.walkData(b)
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    val p1 = ("alpha " * 20).trim.getBytes // 119 bytes → 1 block
    val p2 = """{"id":7}""".getBytes // 8 bytes → 1 block
    val good = Tar.buildBytes("doc_7.txt", p1, "meta/7.json", p2, 0)
    assert(good.length == 1024 + 1024 + 1024)
    assert(walk(good) == ((2L, 127L, 3072L, 1L)))
    // mid-crawl truncation 256 bytes into the second header: salvage
    // member 1, no trailer
    val cut = Tar.buildBytes("doc_7.txt", p1, "meta/7.json", p2, 1)
    assert(walk(cut) == ((1L, 119L, 1280L, 0L)))
    // bit-rotted checksum in member 2: salvage member 1, stop
    val rot = Tar.buildBytes("doc_7.txt", p1, "meta/7.json", p2, 2)
    assert(walk(rot) == ((1L, 119L, 3072L, 0L)))
    // lying size field (points past the archive): member rejected
    val lie = good.clone()
    lie(124) = '7' // size 119 = octal 167 → 7…167, way out of bounds
    assert(walk(lie)._1 == 0L)
    // record padding after the trailer (GNU/python tars pad to 10240)
    // is a well-formed close
    val padded = java.util.Arrays.copyOf(good, 10240)
    assert(walk(padded) == ((2L, 127L, 10240L, 1L)))
    // zero-member archive: just a trailer
    assert(walk(new Array[Byte](1024)) == ((0L, 0L, 1024L, 1L)))
    // garbage never throws, salvages nothing
    val junk = Array.fill[Byte](2048)(0x41)
    assert(walk(junk) == ((0L, 0L, 2048L, 0L)))
    // member bomb: > 64 tiny members stop at the cap
    val many = (0 until 80).map(i =>
        Tar.buildBytes(s"a$i", Array[Byte](1), s"b$i", Array[Byte](2), 0)
          .dropRight(1024)) // strip per-archive trailers
      .reduce(_ ++ _) ++ new Array[Byte](1024)
    val bomb = walk(many)
    assert(bomb._1 == 64L && bomb._4 == 0L)
  }

  test("warc kernel (p264): build/walk round trip, salvage on truncation " +
    "and version bit-rot, lying Content-Length, bad terminator, record bomb") {
    import graft.functions.Warc
    def walk(b: Array[Byte]): (Long, Long, Long, Long) = {
      val r = Warc.walkData(b)
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    val uri = "http://ex.com/7" // 15 bytes
    val req = "GET /7".getBytes // 6 bytes
    val resp = "hello warc body".getBytes // 15 bytes
    // record bytes = 99 framing + type + uri + len-digits + payload:
    // r1 = 99+7+15+1+6 = 128, r2 = 99+8+15+2+15 = 139
    val good = Warc.buildBytes(uri, req, resp, 0)
    assert(good.length == 128 + 139)
    assert(walk(good) == ((2L, 1L, 21L, 267L)))
    // mid-crawl cut 40 bytes into the response record: salvage request
    val cut = Warc.buildBytes(uri, req, resp, 1)
    assert(walk(cut) == ((1L, 0L, 6L, 168L)))
    // bit-rotted response version line (WARX/1.0): salvage request
    val rot = Warc.buildBytes(uri, req, resp, 2)
    assert(walk(rot) == ((1L, 0L, 6L, 267L)))
    def raw(s: String): Array[Byte] = s.getBytes("US-ASCII")
    // lying Content-Length (declared past the shard): record rejected
    assert(walk(raw("WARC/1.0\r\nContent-Length: 9999\r\n\r\nhi\r\n\r\n"))
      ._1 == 0L)
    // Content-Length digits must run to the CRLF: trailing junk rejected
    assert(walk(raw("WARC/1.0\r\nContent-Length: 2x\r\n\r\nhi\r\n\r\n"))
      ._1 == 0L)
    // missing terminating CRLFCRLF after the payload: rejected
    assert(walk(raw("WARC/1.0\r\nContent-Length: 2\r\n\r\nhiXXXX"))._1 == 0L)
    // a correct minimal record parses (no WARC-Type → not a response)
    assert(walk(raw("WARC/1.0\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n"))
      == ((1L, 0L, 2L, 37L)))
    // garbage never throws, salvages nothing
    assert(walk(Array.fill[Byte](512)(0x41)) == ((0L, 0L, 0L, 512L)))
    assert(walk(Array.emptyByteArray) == ((0L, 0L, 0L, 0L)))
    // record bomb: 70 shards × 2 records stop at the 64-record cap
    val many = (0 until 70).map(_ => good).reduce(_ ++ _)
    val bomb = walk(many)
    assert(bomb._1 == 64L && bomb._2 == 32L)
  }

  test("zip kernel (p237): JDK ZipInputStream reads the built archive; " +
      "walk verifies central dir + CRCs, salvages without EOCD, " +
      "catches a flipped data bit, never throws on junk") {
    import graft.functions.Zip
    def walk(b: Array[Byte]) = {
      val r = Zip.walkData(b)
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5))
    }
    val p1 = "hello zip payload".getBytes("UTF-8")
    val p2 = "meta:42".getBytes("UTF-8")
    val good = Zip.buildBytes(p1, p2, 0)
    // interop proof: the JDK's own ZipInputStream parses the archive
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(good))
    val e1 = zin.getNextEntry
    val d1 = zin.readAllBytes()
    val e2 = zin.getNextEntry
    val d2 = zin.readAllBytes()
    assert(e1.getName == "a.txt" && java.util.Arrays.equals(d1, p1))
    assert(e2.getName == "m.txt" && java.util.Arrays.equals(d2, p2))
    assert(zin.getNextEntry == null)
    // clean walk: 2 entries, both CRC-valid, directory accounts exactly
    assert(walk(good) ==
      ((2L, 2L, (p1.length + p2.length).toLong, good.length.toLong,
        true, true)))
    // mode 1: EOCD + central dir lost -> forward salvage recovers both
    val trunc = Zip.buildBytes(p1, p2, 1)
    assert(walk(trunc) ==
      ((2L, 2L, (p1.length + p2.length).toLong, trunc.length.toLong,
        false, false)))
    // mode 2: one DATA bit flipped -> sizes agree, CRC catches entry 1
    val rot = Zip.buildBytes(p1, p2, 2)
    assert(walk(rot) ==
      ((2L, 1L, (p1.length + p2.length).toLong, rot.length.toLong,
        true, false)))
    // truncating mid-data drops the tail entry in salvage mode
    val cut = java.util.Arrays.copyOf(trunc, trunc.length - 3)
    val (n, v, _, _, hc, cl) = walk(cut)
    assert(n == 1L && v == 1L && !hc && !cl)
    // junk and short blobs never throw, salvage nothing
    assert(walk(Array.fill[Byte](100)(0x41))._1 == 0L)
    assert(walk(Array[Byte]())._1 == 0L)
    // a lying EOCD pointing past itself is not clean
    val lie = good.clone()
    lie(lie.length - 6) = 0x7f // cd offset field corrupted
    assert(!walk(lie)._6)
  }

  test("zip kernel hardening: a central record whose lhOfs lands within " +
      "30 bytes of the blob end is rejected without throwing; an " +
      "EMPTY first payload still yields n_valid=1 in mode 2") {
    import graft.functions.Zip
    def walk(b: Array[Byte]) = {
      val r = Zip.walkData(b)
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5))
    }
    // handcrafted adversarial blob: one central record with nameLen=60
    // whose lhOfs points at a planted local-header signature 60 bytes
    // before the end — lhOfs+30 passes the header fence, but the name
    // bytes (and data) extend past the array. The never-throw salvage
    // contract requires valid=false, not ArrayIndexOutOfBounds.
    val n = 170
    val evil = new Array[Byte](n)
    def w16(o: Int, v: Int): Unit = { evil(o) = v.toByte; evil(o + 1) = (v >>> 8).toByte }
    def w32(o: Int, v: Int): Unit = (0 until 4).foreach(i => evil(o + i) = (v >>> (8 * i)).toByte)
    w32(0, 0x02014b50)     // central sig at cdOfs=0
    w16(28, 60)            // central nameLen = 60 (rec = 106)
    w32(42, n - 60)        // lhOfs = 110 -> lh+30 = 140 <= 170
    w32(110, 0x04034b50)   // planted local-header signature
    w16(136, 60)           // local nameLen = 60 -> name compare would read b(170..)
    w32(n - 22, 0x06054b50) // EOCD
    w16(n - 22 + 10, 1)    // one entry
    w32(n - 22 + 12, 106)  // cdSize
    w32(n - 22 + 16, 0)    // cdOfs
    assert(walk(evil) == ((1L, 0L, 0L, n.toLong, true, false)))
    // empty first payload: mode 2 has no data byte to flip, so the
    // builder corrupts entry 1's CENTRAL CRC — n_valid must stay 1
    // (the p237 oracle hard-codes it) instead of silently passing 2
    val p2 = "meta:7".getBytes("UTF-8")
    val emptyRot = Zip.buildBytes(Array.empty[Byte], p2, 2)
    assert(walk(emptyRot) ==
      ((2L, 1L, p2.length.toLong, emptyRot.length.toLong, true, false)))
    // and modes 0/1 with an empty payload stay fully valid/salvageable
    assert(walk(Zip.buildBytes(Array.empty[Byte], p2, 0))._6)
    assert(walk(Zip.buildBytes(Array.empty[Byte], p2, 1)) ==
      ((2L, 2L, p2.length.toLong,
        Zip.buildBytes(Array.empty[Byte], p2, 1).length.toLong, false, false)))
  }

  test("utf8 walk (p243): RFC 3629 classes — overlong, surrogates, " +
      "stray continuations, out-of-range, truncation; never throws") {
    import graft.functions.Utf8Walk
    def w(xs: Int*) = {
      val r = Utf8Walk.walkData(xs.map(_.toByte).toArray)
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))
    }
    // clean ascii + valid 2/3/4-byte chars
    assert(w('a', 'b') == ((2L, 2L, 0L, 0L, false)))
    assert(w(0xc3, 0xa9) == ((2L, 1L, 0L, 0L, false))) // é
    assert(w(0xe2, 0x82, 0xac) == ((3L, 1L, 0L, 0L, false))) // €
    assert(w(0xf0, 0x9f, 0x98, 0x80) == ((4L, 1L, 0L, 0L, false))) // emoji
    // overlong: C0/C1 lead; 3-byte below U+0800; 4-byte below U+10000
    assert(w(0xc0, 0xaf) == ((2L, 0L, 0L, 1L, false)))
    assert(w(0xe0, 0x80, 0xaf) == ((3L, 0L, 0L, 1L, false)))
    assert(w(0xf0, 0x80, 0x80, 0xaf) == ((4L, 0L, 0L, 1L, false)))
    // surrogate U+D800 (CESU-8 leak) and above-U+10FFFF are invalid
    assert(w(0xed, 0xa0, 0x80) == ((3L, 0L, 1L, 0L, false)))
    assert(w(0xf4, 0x90, 0x80, 0x80) == ((4L, 0L, 1L, 0L, false)))
    // stray continuation, forbidden F5..FF lead
    assert(w('a', 0x80, 'b') == ((3L, 2L, 1L, 0L, false)))
    assert(w(0xfe, 0xff) == ((2L, 0L, 2L, 0L, false)))
    // broken continuation consumes the lead and resyncs: E2 then 'x'
    assert(w(0xe2, 'x', 'y') == ((3L, 2L, 1L, 0L, false)))
    // truncation: blob ends mid-sequence with valid bytes so far
    assert(w('a', 0xe2, 0x82) == ((3L, 1L, 0L, 0L, true)))
    assert(w(0xf0, 0x9f, 0x98) == ((3L, 0L, 0L, 0L, true)))
    assert(w(0xc3) == ((1L, 0L, 0L, 0L, true)))
    // but a cut with a WRONG byte present is corruption, not truncation
    assert(w(0xe2, 'x') == ((2L, 1L, 1L, 0L, false)))
    assert(w() == ((0L, 0L, 0L, 0L, false)))
  }

  test("phash kernel (p240): perceptual invariances — affine intensity " +
      "changes leave the hash IDENTICAL, edits stay closer than " +
      "unrelated content, junk -> null") {
    import graft.functions.Phash
    // minimal in-test 24bpp BMP builder (w=h=16, rowSize 48, bottom-up)
    def bmp(v: (Int, Int) => Int): Array[Byte] = {
      val out = new Array[Byte](54 + 768)
      def w32(o: Int, x: Int): Unit = (0 until 4).foreach(i =>
        out(o + i) = (x >>> (8 * i)).toByte)
      out(0) = 'B'; out(1) = 'M'; w32(2, 54 + 768); w32(10, 54)
      w32(14, 40); w32(18, 16); w32(22, 16)
      out(26) = 1; out(28) = 24; w32(34, 768)
      for (y <- 0 until 16; x <- 0 until 16) {
        val p = 54 + (15 - y) * 48 + x * 3
        val g = v(x, y) & 0xff
        out(p) = g.toByte; out(p + 1) = g.toByte; out(p + 2) = g.toByte
      }
      out
    }
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    def base(x: Int, y: Int) = (x * 21 + y * 13) % 256
    val h0 = Phash.phashData(bmp(base)).asInstanceOf[Long]
    // determinism + identity
    assert(Phash.phashData(bmp(base)) == h0)
    // EXACT perceptual invariance: any affine intensity change
    // a·v + b (a > 0) scales every DCT coefficient by a and moves
    // only the DC term by b — the median threshold is scale/shift-
    // equivariant, so the hash is IDENTICAL, not merely close. This
    // is the property that makes pHash survive brightness/contrast
    // re-grades that break byte-exact dedup.
    def half(x: Int, y: Int) = base(x, y) / 2 // 0..127, so 2v+1 is exact
    val hHalf = Phash.phashData(bmp(half)).asInstanceOf[Long]
    assert(Phash.phashData(bmp((x, y) => half(x, y) * 2))
      .asInstanceOf[Long] == hHalf, "contrast x2 must not move the hash")
    assert(Phash.phashData(bmp((x, y) => half(x, y) + 100))
      .asInstanceOf[Long] == hHalf, "brightness +100 must not move the hash")
    // a one-pixel edit stays measurably closer than unrelated content
    val h1 = Phash.phashData(bmp((x, y) =>
      if (x == 3 && y == 7) (base(x, y) + 16) % 256 else base(x, y)))
      .asInstanceOf[Long]
    val h3 = Phash.phashData(bmp((x, y) => ((x / 4) * 255 + y) % 256))
      .asInstanceOf[Long]
    assert(ham(h0, h1) < ham(h0, h3),
      s"edit ${ham(h0, h1)} bits vs unrelated ${ham(h0, h3)} bits")
    assert(ham(h0, h3) > 15, s"unrelated images only ${ham(h0, h3)} apart")
    // malformed input -> null, never a throw
    assert(Phash.phashData(Array.fill[Byte](50)(1)) == null)
    assert(Phash.phashData("BMjunk".getBytes ++ new Array[Byte](100)) == null)
  }

  // ---- zstd frame metadata walk (p268) -----------------------------------

  test("Zstd walk: the block/FCS/window paths the fixture doesn't " +
    "reach — RLE and compressed blocks step by declared size, 2-byte " +
    "FCS carries +256, window descriptor math, multi-frame concat") {
    import graft.functions.Zstd
    def le(v: Long, n: Int): Seq[Byte] =
      (0 until n).map(k => ((v >> (8 * k)) & 0xFF).toByte)
    val magic = le(0xFD2FB528L, 4)
    def blockHdr(size: Int, btype: Int, last: Boolean): Seq[Byte] =
      le((size.toLong << 3) | (btype.toLong << 1) | (if (last) 1L else 0L), 3)

    // frame A: windowed (no single-segment), FCS size 2 (flag 1 -> +256),
    // window descriptor 0x11 (exp 2, mantissa 1 -> 4096 + 512*1... base
    // 1<<12=4096, add base/8*1=512 -> 4608), one RLE block regenerating
    // 300 bytes from ONE stored byte, then a last compressed block whose
    // 5 payload bytes are stepped over without decoding
    val fhdA = 0x40 // fcs flag 1, windowed, no checksum
    val frameA = magic ++ Seq(fhdA.toByte, 0x11.toByte) ++ le(556 - 256, 2) ++
      blockHdr(300, 1, last = false) ++ Seq(0x7A.toByte) ++
      blockHdr(5, 2, last = true) ++ Seq[Byte](1, 2, 3, 4, 5)
    // frame B: single-segment, 8-byte FCS (flag 3), checksum declared,
    // one raw last block of 4 bytes + 4 checksum bytes
    val fhdB = 0xC0 | 0x20 | 0x04
    val frameB = magic ++ Seq(fhdB.toByte) ++ le(4, 8) ++
      blockHdr(4, 0, last = true) ++ "abcd".getBytes.toSeq ++ le(0, 4)
    val row = Zstd.walkData((frameA ++ frameB).toArray)
    assert(row.getLong(0) == 2, "two data frames")
    assert(row.getLong(1) == 0)
    assert(row.getLong(2) == 3, "three blocks stepped")
    assert(row.getLong(3) == 304, "RLE regenerates 300 + raw 4")
    assert(row.getLong(4) == 556 + 4, "FCS sum incl. the +256 encoding")
    assert(row.getLong(5) == 4608, "window = 2^12 + (2^12/8)*1")
    assert(row.getBoolean(6), "frame B declares a checksum")
    assert(row.getBoolean(7), "stream consumed clean")
  }

  test("Zstd walk damage classes: reserved FHD bit, truncated skippable, " +
    "payload running past end, unknown magic — salvaged prefix + " +
    "clean=false, never a throw") {
    import graft.functions.Zstd
    def le(v: Long, n: Int): Seq[Byte] =
      (0 until n).map(k => ((v >> (8 * k)) & 0xFF).toByte)
    val magic = le(0xFD2FB528L, 4)
    val skippable = le(0x184D2A5EL, 4) ++ le(3, 4) ++ Seq[Byte](9, 9, 9)

    // reserved FHD bit set -> header never parses
    val badFhd = Zstd.walkData((skippable ++ magic ++ Seq(0x28.toByte)).toArray)
    assert(badFhd.getLong(1) == 1 && badFhd.getLong(0) == 0 &&
      !badFhd.getBoolean(7))

    // skippable declaring more bytes than exist
    val cutSkip = Zstd.walkData((le(0x184D2A50L, 4) ++ le(100, 4) ++
      Seq[Byte](1, 2)).toArray)
    assert(cutSkip.getLong(1) == 0 && !cutSkip.getBoolean(7))

    // raw block payload past end: header parses (frame counted), block not
    val fhdSS = 0xA0 // single-segment, 4-byte FCS
    val cutBlock = Zstd.walkData((magic ++ Seq(fhdSS.toByte) ++ le(64, 4) ++
      le((64L << 3) | 1L, 3) ++ Seq[Byte](1, 2, 3)).toArray)
    assert(cutBlock.getLong(0) == 1 && cutBlock.getLong(2) == 0 &&
      !cutBlock.getBoolean(7))

    // unknown magic / garbage / empty
    assert(!Zstd.walkData("not zstd at all".getBytes).getBoolean(7))
    val empty = Zstd.walkData(Array.emptyByteArray)
    assert(empty.getLong(0) == 0 && empty.getBoolean(7),
      "an empty stream is vacuously clean")
  }

  test("p268 EMPTY documents frame as one empty raw last block (valid " +
    "RFC 8878, nb clamped to 1) — no descending sequence(0,-1) ghosts; " +
    "rrot/windowed/chk lanes stay consistent at l=0") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/p268fix_${graft.queries.runToken}"
    graft.queries.cleanupAtExit(dir)
    // lanes by id: 0 plain, 3 windowed (%6==3), 7 rrot (%12==7, %9!=2),
    // 13 checksum (%4==1), 2 wcut (%9==2); 20 non-empty control (l=130)
    Seq((0L, ""), (3L, ""), (7L, ""), (13L, ""), (2L, ""),
      (40L, "x" * 130))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("p268_zstd_census")(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_frames"),
        r.getAs[Long]("n_blocks"), r.getAs[Long]("raw_bytes"),
        r.getAs[Long]("content_declared"), r.getAs[Long]("max_window"),
        r.getAs[Boolean]("has_checksum"), r.getAs[Boolean]("clean"))).toList
    assert(got == List(
      (0L, 1L, 1L, 0L, 0L, 0L, false, true),      // plain empty: 1 empty block
      (2L, 0L, 0L, 0L, -1L, -1L, false, false),    // wcut: truncated header
      (3L, 1L, 1L, 0L, 0L, 2048L, false, true),    // windowed empty
      (7L, 1L, 0L, 0L, 0L, 0L, false, false),      // rrot: lone block reserved
      (13L, 1L, 1L, 0L, 0L, 0L, true, true),       // checksummed empty
      (40L, 1L, 3L, 130L, 130L, 130L, false, true) // non-empty control
    ), s"got $got")
  }
}
