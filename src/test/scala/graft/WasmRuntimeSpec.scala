package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.functions.{ArrowBatchCodec, FunctionError, WasmModule, WasmRuntime}

/** The final parity item (SURVEY §7.4): the reference's ACTUAL guest
  * artifact — `/root/reference/wasm_function.wasm`, real wasm32 bytecode
  * compiled from wasm_function/src/lib.rs — executed by the from-scratch
  * interpreter in [[graft.functions.WasmInterpreter]], through the same
  * wasmedge-bindgen call protocol the reference host speaks
  * (udf.rs:89-115). Nothing is substituted anymore: the golden 4-row
  * output (README.md:99-108), both error strings (udf.rs:95,111-113) and
  * the panic path all come out of genuine WASM instructions.
  */
class WasmRuntimeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val wasmPath = "/root/reference/wasm_function.wasm"
  private def artifactPresent = new java.io.File(wasmPath).isFile

  private lazy val engine = Engine.local(4)

  override def beforeAll(): Unit = {
    val spark = engine.spark
    import spark.implicits._
    // the reference's own test table (wasmedge_factory/src/lib.rs:179-183)
    engine.registerTable("wt",
      Seq((2.0, 2.0), (3.0, 3.0), (4.0, 4.0), (5.0, 5.1)).toDF("a", "b"))
  }

  override def afterAll(): Unit = engine.spark.stop()

  // ---- interpreter-level: raw bindgen round-trips ----------------------

  test("golden pow: f1 over the reference table through real WASM bytecode " +
    "(README.md:99-108)") {
    assume(artifactPresent)
    val payload = ArrowBatchCodec.encode(IndexedSeq(
      Array[Any](2.0, 3.0, 4.0, 5.0), Array[Any](2.0, 3.0, 4.0, 5.1)), 4)
    val reply = WasmRuntime.invokeBindgen(wasmPath, "f1", payload)
    val (cols, n) = ArrowBatchCodec.decode(reply)
    assert(n === 4 && cols.length === 1)
    assert(cols(0).toSeq === Seq(4.0, 27.0, 256.0, 3670.684197150057))
  }

  test("guest Err(String) crosses as FunctionError with the exact message " +
    "(wasm_function/src/lib.rs:54-57)") {
    assume(artifactPresent)
    val payload = ArrowBatchCodec.encode(IndexedSeq(Array[Any](1.0)), 1)
    val e = intercept[FunctionError] {
      WasmRuntime.invokeBindgen(wasmPath, "f_return_error", payload)
    }
    assert(e.msg === "wasm function returned error")
  }

  test("guest ArrowError maps through its Display string " +
    "(wasm_function/src/lib.rs:60-62)") {
    assume(artifactPresent)
    val payload = ArrowBatchCodec.encode(IndexedSeq(Array[Any](1.0)), 1)
    val e = intercept[FunctionError] {
      WasmRuntime.invokeBindgen(wasmPath, "f_return_arrow_error", payload)
    }
    assert(e.msg === "Divide by zero error")
  }

  test("guest panic is a trap the host survives (udf.rs:95): f_panic " +
    "traps, the next f1 call on the same module still answers") {
    assume(artifactPresent)
    val payload = ArrowBatchCodec.encode(IndexedSeq(Array[Any](1.0)), 1)
    val e = intercept[RuntimeException] {
      WasmRuntime.invokeBindgen(wasmPath, "f_panic", payload)
    }
    assert(e.getMessage.contains("wasm trap"))
    val ok = ArrowBatchCodec.encode(IndexedSeq(Array[Any](2.0), Array[Any](10.0)), 1)
    val (cols, _) = ArrowBatchCodec.decode(WasmRuntime.invokeBindgen(wasmPath, "f1", ok))
    assert(cols(0)(0) === 1024.0)
  }

  test("a null in the guest RESULT panics — the reference's own pack_array " +
    "unwraps try_new over non-nullable fields (wasm_udf/src/lib.rs:13-22)") {
    assume(artifactPresent)
    // f1 maps a null input to a null output (wasm_function/src/lib.rs:43-46);
    // the guest-side pack_array then declares the result column
    // non-nullable and unwraps RecordBatch::try_new, so the artifact CANNOT
    // return nulls — a genuine reference limitation, reproduced here through
    // its actual bytecode (the formatted panic text in guest heap reads
    // "Column 'c0' is declared as non-nullable but contains null values").
    val payload = ArrowBatchCodec.encode(IndexedSeq(
      Array[Any](2.0, null, 4.0), Array[Any](3.0, 3.0, null)), 3)
    val e = intercept[RuntimeException] {
      WasmRuntime.invokeBindgen(wasmPath, "f1", payload)
    }
    assert(e.getMessage.contains("wasm trap"))
    // null-free batches on the same module keep answering (trap contained)
    val ok = ArrowBatchCodec.encode(IndexedSeq(Array[Any](3.0), Array[Any](4.0)), 1)
    val (cols, _) = ArrowBatchCodec.decode(WasmRuntime.invokeBindgen(wasmPath, "f1", ok))
    assert(cols(0)(0) === 81.0)
  }

  test("a guest batch with wrong column type is the guest's own downcast " +
    "panic ('cast 0 failed' expect, wasm_function/src/lib.rs:29-33)") {
    assume(artifactPresent)
    // f1 downcasts c0 to Float64Array; send Int64 instead → guest panics
    val payload = ArrowBatchCodec.encode(IndexedSeq(
      Array[Any](2L), Array[Any](3L)), 1)
    val e = intercept[RuntimeException] {
      WasmRuntime.invokeBindgen(wasmPath, "f1", payload)
    }
    assert(e.getMessage.contains("wasm trap"))
  }

  // ---- engine-level: CREATE FUNCTION … LANGUAGE WASM on the artifact ----

  test("CREATE FUNCTION over the .wasm artifact reproduces the reference's " +
    "golden query end-to-end (lib.rs:199-210)") {
    assume(artifactPresent)
    engine.sql("CREATE FUNCTION wf1(DOUBLE, DOUBLE) RETURNS DOUBLE " +
      s"LANGUAGE WASM AS '$wasmPath!f1'")
    val rows = engine.sql("select a, b, wf1(a,b) as f from wt order by a").collect()
    assert(rows === Array(
      Row(2.0, 2.0, 4.0),
      Row(3.0, 3.0, 27.0),
      Row(4.0, 4.0, 256.0),
      Row(5.0, 5.1, 3670.684197150057)))
    engine.sql("DROP FUNCTION wf1")
  }

  test("engine error surface matches the reference strings for wasm " +
    "guests (udf.rs:95,111-113)") {
    assume(artifactPresent)
    engine.sql("CREATE FUNCTION werr(DOUBLE) RETURNS DOUBLE " +
      s"LANGUAGE WASM AS '$wasmPath!f_return_error'")
    val e = intercept[Exception] {
      engine.sql("select werr(a) from wt").collect()
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).take(10)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("[Wasm Invocation] wasm function returned error"))

    engine.sql("CREATE FUNCTION wpanic(DOUBLE) RETURNS DOUBLE " +
      s"LANGUAGE WASM AS '$wasmPath!f_panic'")
    val p = intercept[Exception] {
      engine.sql("select wpanic(a) from wt").collect()
    }
    val pchain = Iterator.iterate(p: Throwable)(_.getCause).takeWhile(_ != null).take(10)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(pchain.contains("[Wasm Invocation Panic]"))
    engine.sql("DROP FUNCTION werr")
    engine.sql("DROP FUNCTION wpanic")
  }

  test("CREATE-time failure for a missing or non-wasm file " +
    "(factory load path, lib.rs:111-132)") {
    val missing = intercept[Exception] {
      engine.sql("CREATE FUNCTION wbad(DOUBLE) RETURNS DOUBLE " +
        "LANGUAGE WASM AS '/no/such/file.wasm!f1'")
    }
    assert(missing.getMessage.contains("wasm module not found") ||
      Option(missing.getCause).exists(_.getMessage.contains("wasm module not found")))

    // a file that exists but is not wasm
    val tmp = java.io.File.createTempFile("notwasm", ".wasm")
    java.nio.file.Files.write(tmp.toPath, "hello".getBytes)
    val bad = intercept[Exception] {
      engine.sql("CREATE FUNCTION wbad2(DOUBLE) RETURNS DOUBLE " +
        s"LANGUAGE WASM AS '${tmp.getAbsolutePath}!f1'")
    }
    val msg = Iterator.iterate(bad: Throwable)(_.getCause).takeWhile(_ != null).take(10)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msg.toLowerCase.contains("wasm"))
    tmp.delete()
  }

  test("one bindgen invocation per 8192-row batch (udf.rs:82-115 " +
    "granularity)") {
    assume(artifactPresent)
    engine.spark.range(0, 10000, 1, 1) // ONE partition → 2 batches
      .selectExpr("cast(id % 7 as double) as a", "cast(2 as double) as b")
      .createOrReplaceTempView("wasm_batch_t")
    engine.sql("CREATE FUNCTION wbatch(DOUBLE, DOUBLE) RETURNS DOUBLE " +
      s"LANGUAGE WASM AS '$wasmPath!f1'")
    val before = WasmRuntime.invocations.get()
    val s = engine.sql("select sum(v) as s from (select wbatch(a, b) as v from wasm_batch_t)")
      .collect()(0).getDouble(0)
    val calls = WasmRuntime.invocations.get() - before
    assert(calls === 2, s"expected 2 bindgen invocations for 10000 rows, got $calls")
    // oracle: sum of (id%7)^2 over 10000 ids
    val expect = (0 until 10000).map(i => math.pow(i % 7, 2)).sum
    assert(math.abs(s - expect) < 1e-6)
    engine.sql("DROP FUNCTION wbatch")
  }

  // ---- r16: lifecycle parity, interpreter contract, pooling ------------

  test("shared-artifact lifecycle: decode cache 1 while two functions " +
    "share the module, 0 after both drops, fresh parse on re-CREATE " +
    "(the reference's weak-cache assertion, lib.rs:344-372)") {
    assume(artifactPresent)
    val tmp = java.io.File.createTempFile("wasm_lifecycle", ".wasm")
    java.nio.file.Files.copy(new java.io.File(wasmPath).toPath, tmp.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val p = tmp.getAbsolutePath
    assert(!WasmRuntime.isParsed(p))
    engine.sql(s"CREATE FUNCTION lw1(DOUBLE, DOUBLE) RETURNS DOUBLE LANGUAGE WASM AS '$p!f1'")
    engine.sql(s"CREATE FUNCTION lw2(DOUBLE) RETURNS DOUBLE LANGUAGE WASM AS '$p!f_return_error'")
    assert(WasmRuntime.isParsed(p))
    val whileLive = WasmRuntime.parsedModuleCount
    engine.sql("DROP FUNCTION lw1")
    assert(WasmRuntime.isParsed(p), "module must survive while one function still uses it")
    engine.sql("DROP FUNCTION lw2")
    assert(!WasmRuntime.isParsed(p), "last DROP must evict the decoded module")
    assert(WasmRuntime.parsedModuleCount === whileLive - 1)
    // re-CREATE after drop-to-zero: fresh parse, still answers
    engine.sql(s"CREATE FUNCTION lw3(DOUBLE, DOUBLE) RETURNS DOUBLE LANGUAGE WASM AS '$p!f1'")
    assert(WasmRuntime.isParsed(p))
    val r = engine.sql("select lw3(a, b) as v from wt where a = 4.0").collect()(0).getDouble(0)
    assert(r === 256.0)
    engine.sql("DROP FUNCTION lw3")
    assert(!WasmRuntime.isParsed(p))
    tmp.delete()
  }

  test("every truncation of the real artifact fails CLEANLY at parse time " +
    "(WasmParseException, never a raw index/size error or hang)") {
    assume(artifactPresent)
    val bytes = java.nio.file.Files.readAllBytes(new java.io.File(wasmPath).toPath)
    var rejected = 0
    val steps = 79
    for (i <- 1 until steps) {
      val n = (bytes.length.toLong * i / steps).toInt
      val cut = java.util.Arrays.copyOf(bytes, n)
      // contract: parse either succeeds (cut on a section boundary) or
      // throws the ONE load-surface exception — nothing rawer escapes
      try WasmModule.parse(cut)
      catch { case _: WasmModule.WasmParseException => rejected += 1 }
    }
    assert(rejected > steps / 2, s"expected most truncations rejected, got $rejected")
  }

  test("pow CONTRACT vs JVM Math.pow over the IEEE edge lattice: " +
    "specials exact (C99 annex-F pow semantics), ordinary finite values " +
    "within 1 ulp — through real bytecode") {
    assume(artifactPresent)
    val specials: Array[Double] = Array(
      0.0, -0.0, 1.0, -1.0, 2.0, -2.0, 0.5, -0.5, 2.5, -2.5, 3.0, -3.0,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN,
      java.lang.Double.longBitsToDouble(0x7ff8000000000123L), // NaN w/ payload
      java.lang.Double.longBitsToDouble(0xfff8000000000001L), // -NaN w/ payload
      Double.MinPositiveValue, -Double.MinPositiveValue, // subnormals
      2.2250738585072014e-308, // smallest normal
      Double.MaxValue, -Double.MaxValue, 1e300, -1e300, 1e-300,
      0.1, -0.1, 7.5, 1.0000000000000002)
    val pairs = for (a <- specials; b <- specials) yield (a, b)
    val as: Array[Any] = pairs.map(p => p._1: Any)
    val bs: Array[Any] = pairs.map(p => p._2: Any)
    val reply = WasmRuntime.invokeBindgen(wasmPath, "f1",
      ArrowBatchCodec.encode(IndexedSeq(as, bs), pairs.length))
    val (cols, n) = ArrowBatchCodec.decode(reply)
    assert(n === pairs.length)
    // Where libm pow (C99 annex F / IEEE 754-2019) and Math.pow disagree
    // BY SPECIFICATION: pow(1, y) = 1 and pow(-1, ±inf) = 1 for any y —
    // Java documents NaN for |base| = 1 with non-finite exponent.
    def expected(a: Double, b: Double): Double =
      if (b == 0.0) 1.0
      else if (a == 1.0) 1.0
      else if (a == -1.0 && b.isInfinite) 1.0
      else Math.pow(a, b)
    def isSpecial(d: Double) = d.isNaN || d.isInfinite || d == 0.0 || math.abs(d) == 1.0
    var checked = 0
    pairs.indices.foreach { i =>
      val (a, b) = pairs(i)
      val got = cols(0)(i).asInstanceOf[Double]
      val exp = expected(a, b)
      if (exp.isNaN) assert(got.isNaN, s"pow($a,$b): expected NaN, got $got")
      else if (isSpecial(a) || isSpecial(b) || exp.isInfinite || exp == 0.0)
        assert(java.lang.Double.doubleToLongBits(got) ===
          java.lang.Double.doubleToLongBits(exp),
          s"pow($a,$b): expected exact $exp, got $got")
      else {
        val ulps = math.abs(
          java.lang.Double.doubleToLongBits(got) - java.lang.Double.doubleToLongBits(exp))
        assert(ulps <= 1, s"pow($a,$b): $got vs $exp differs by $ulps ulps")
      }
      checked += 1
    }
    assert(checked === specials.length * specials.length)
  }

  test("pooled-instance reset is COMPLETE: after a real invocation dirties " +
    "the guest heap, reset() restores memory byte-identical to a fresh " +
    "instance (and globals, and the instance still answers the golden call)") {
    assume(artifactPresent)
    val module = WasmRuntime.moduleFor(wasmPath)
    val fresh = new graft.functions.WasmInstance(module)
    val used = new graft.functions.WasmInstance(module)
    // drive the bindgen protocol by hand so THIS instance does the work
    def le32(v: Long): Array[Byte] = Array(
      (v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    val payload = ArrowBatchCodec.encode(IndexedSeq(
      Array[Any](5.0, 2.0), Array[Any](5.1, 8.0)), 2)
    val pp = used.invoke("allocate", payload.length.toLong).get
    used.writeBytes(pp, payload)
    val pairsPtr = used.invoke("allocate", 8L).get
    used.writeBytes(pairsPtr, le32(pp) ++ le32(payload.length.toLong))
    assert(used.invoke("__wasm_udf_f1", pairsPtr, 1L).nonEmpty)
    assert(used.readBytes(0, used.memorySize).toSeq !=
      fresh.readBytes(0, fresh.memorySize).toSeq ||
      used.memorySize != fresh.memorySize,
      "sanity: the invocation must actually dirty guest memory")
    used.reset()
    assert(used.memorySize === fresh.memorySize)
    assert(java.util.Arrays.equals(
      used.readBytes(0, used.memorySize), fresh.readBytes(0, fresh.memorySize)),
      "reset memory must be byte-identical to a fresh instance")
    assert(used.globalsSnapshot.toSeq === fresh.globalsSnapshot.toSeq)
    // and the reset instance still computes the golden value
    val pp2 = used.invoke("allocate", payload.length.toLong).get
    used.writeBytes(pp2, payload)
    val pr2 = used.invoke("allocate", 8L).get
    used.writeBytes(pr2, le32(pp2) ++ le32(payload.length.toLong))
    val rp = used.invoke("__wasm_udf_f1", pr2, 1L).get
    val flag = used.readBytes(rp, 1)(0)
    assert(flag === 0)
    val recPtr = used.readU32(used.readU32(rp + 1))
    val recLen = used.readU32(used.readU32(rp + 1) + 8)
    val (outCols, outN) = ArrowBatchCodec.decode(used.readBytes(recPtr, recLen.toInt))
    assert(outN === 2 && outCols(0).toSeq === Seq(3670.684197150057, 256.0))
  }

  test("one warm thread drives many batches through ONE pooled instance " +
    "(allocation churn removed)") {
    assume(artifactPresent)
    val payload = ArrowBatchCodec.encode(IndexedSeq(
      Array[Any](2.0), Array[Any](10.0)), 1)
    WasmRuntime.invokeBindgen(wasmPath, "f1", payload) // ensure pool entry
    val before = WasmRuntime.instancesCreated.get()
    (1 to 8).foreach { _ =>
      val (cols, _) = ArrowBatchCodec.decode(
        WasmRuntime.invokeBindgen(wasmPath, "f1", payload))
      assert(cols(0)(0) === 1024.0)
    }
    assert(WasmRuntime.instancesCreated.get() === before,
      "warm-thread invocations must not construct new instances")
  }

  test("DROP purges pooled instances from EVERY thread deterministically " +
    "and leaves the module GC-collectable (no instance→module pin — the " +
    "r16 WeakHashMap value-references-key leak, closed)") {
    assume(artifactPresent)
    val tmp = java.io.File.createTempFile("wasm_poolgc", ".wasm")
    java.nio.file.Files.copy(new java.io.File(wasmPath).toPath, tmp.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val p = tmp.getAbsolutePath
    engine.sql(s"CREATE FUNCTION pgw(DOUBLE, DOUBLE) RETURNS DOUBLE LANGUAGE WASM AS '$p!f1'")
    val payload = ArrowBatchCodec.encode(IndexedSeq(
      Array[Any](2.0), Array[Any](10.0)), 1)
    // warm pools on MULTIPLE threads — the leak was per-thread retention
    val errs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val threads = (1 to 3).map { _ =>
      new Thread(() =>
        try WasmRuntime.invokeBindgen(p, "f1", payload)
        catch { case e: Throwable => errs.add(e.toString) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"thread invocations failed: $errs")
    WasmRuntime.invokeBindgen(p, "f1", payload) // and this thread
    val weakModule = new java.lang.ref.WeakReference(WasmRuntime.moduleFor(p))
    val pooledBefore = WasmRuntime.totalPooledInstances
    assert(pooledBefore >= 4, s"expected ≥4 warm pooled instances, got $pooledBefore")
    engine.sql("DROP FUNCTION pgw")
    assert(!WasmRuntime.isParsed(p))
    assert(WasmRuntime.totalPooledInstances <= pooledBefore - 4,
      "DROP must purge the module's pooled instances from every thread")
    // nothing strong reaches the module now — GC must be able to clear it
    var tries = 0
    while (weakModule.get() != null && tries < 20) {
      System.gc(); Thread.sleep(50); tries += 1
    }
    assert(weakModule.get() == null,
      "decoded module must be collectable after the last DROP (leak)")
    tmp.delete()
  }

  test("module parse rejects binaries with imports at LOAD time, not " +
    "invoke time (decode-the-surface discipline)") {
    // minimal module with one import: (module (import "e" "f" (func)))
    val bin: Array[Byte] = Array[Int](
      0x00, 0x61, 0x73, 0x6D, 0x01, 0x00, 0x00, 0x00, // magic
      0x01, 0x04, 0x01, 0x60, 0x00, 0x00,             // type () -> ()
      0x02, 0x07, 0x01, 0x01, 0x65, 0x01, 0x66, 0x00, 0x00 // import e.f func 0
    ).map(_.toByte)
    val e = intercept[WasmModule.WasmParseException] { WasmModule.parse(bin) }
    assert(e.getMessage.contains("imports not supported"))
  }
}
