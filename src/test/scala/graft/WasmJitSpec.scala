package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Compiled ≡ interpreted, checked empirically. The JIT's correctness
  * argument is structural — every numeric op calls the [[WasmJitRt]]
  * static that mirrors the interpreter arm — and this spec closes the
  * loop: the same calls, through a jit-enabled and a jit-suppressed
  * module decoded from the same bytes, must agree bit-for-bit, including
  * trap behavior and the pow IEEE edge lattice of the REAL artifact.
  * (Lives in package graft.functions for access to module internals.)
  */
class WasmJitSpec extends AnyFunSuite {

  private val wasmPath = "/root/reference/wasm_function.wasm"
  private def artifactPresent = new java.io.File(wasmPath).isFile

  /** Interpreter-only twin: same bytes, jit mask forced off. */
  private def interpOnly(bytes: Array[Byte]): WasmModule = {
    val m = WasmModule.parse(bytes)
    val forced = m.jit // materialize the lazy, then suppress per-fn mask
    if (forced != null) java.util.Arrays.fill(forced._2, false)
    m
  }

  test("the real artifact's pow kernel and its helper are ELIGIBLE and " +
    "compile (the hot leaves actually take the fast path)") {
    assume(artifactPresent)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(wasmPath))
    val m = WasmModule.parse(bytes)
    assume(WasmJit.enabled)
    assert(m.jit != null, "artifact must produce a compiled module")
    val mask = m.jit._2
    // the pow kernel is a (f64,f64)->f64 function; at least one such
    // function must be compiled, and so must every function it calls
    val powIdxs = m.funcs.indices.filter { i =>
      val (ps, rs) = m.typeOf(i)
      ps.toSeq == Seq(0x7C, 0x7C) && rs.toSeq == Seq(0x7C) && mask(i)
    }
    assert(powIdxs.nonEmpty, "pow-shaped leaves must be eligible")
  }

  test("pow IEEE edge lattice: compiled vs interpreted agree bit-for-bit " +
    "on every pair (NaN payloads excepted — nondeterministic per the wasm " +
    "spec, and HotSpot tiers differ in hardware payload propagation)") {
    assume(artifactPresent && WasmJit.enabled)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(wasmPath))
    val jm = WasmModule.parse(bytes)
    val im = interpOnly(bytes)
    val powIdx = jm.funcs.indices.find { i =>
      val (ps, rs) = jm.typeOf(i)
      ps.toSeq == Seq(0x7C, 0x7C) && rs.toSeq == Seq(0x7C) && jm.jit._2(i)
    }.get
    val specials: Array[Double] = Array(
      0.0, -0.0, 1.0, -1.0, 2.0, -2.0, 0.5, -0.5, 2.5, -2.5, 3.0, -3.0,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN,
      java.lang.Double.longBitsToDouble(0x7ff8000000000123L),
      java.lang.Double.longBitsToDouble(0xfff8000000000001L),
      Double.MinPositiveValue, -Double.MinPositiveValue,
      2.2250738585072014e-308, Double.MaxValue, -Double.MaxValue,
      1e300, -1e300, 1e-300, 0.1, -0.1, 7.5, 1.0000000000000002, 5.1)
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    var n = 0
    for (a <- specials; b <- specials) {
      val ji = new WasmInstance(jm)
      val ii = new WasmInstance(im)
      // drive the internal function directly through the instance call
      // path (invoke needs an export; use the module-internal entry via
      // the public invoke of the udf? -> call through reflection-free
      // helper below)
      val jr = ji.callForTest(powIdx, Array(bits(a), bits(b)))
      val ir = ii.callForTest(powIdx, Array(bits(a), bits(b)))
      val jd = java.lang.Double.longBitsToDouble(jr)
      val id = java.lang.Double.longBitsToDouble(ir)
      // NaN PAYLOADS are nondeterministic by the wasm spec (and HotSpot
      // execution tiers differ in hardware payload propagation), so a
      // NaN result only requires NaN on both sides; everything else —
      // including zero signs and infinities — must match bit-for-bit
      if (jd.isNaN || id.isNaN)
        assert(jd.isNaN && id.isNaN, s"pow($a,$b): NaN-ness differs: $jd vs $id")
      else assert(jr === ir, s"pow($a,$b): compiled $jd != interpreted $id")
      n += 1
    }
    assert(n === specials.length * specials.length)
  }

  // ---- hand-assembled eligible modules (loops, br_table, traps) ---------

  private def uleb(v: Long): Seq[Byte] = {
    var x = v; val out = Seq.newBuilder[Byte]; var more = true
    while (more) {
      val b = (x & 0x7f).toInt; x >>>= 7
      if (x == 0) { out += b.toByte; more = false } else out += (b | 0x80).toByte
    }
    out.result()
  }
  private def sleb(v: Long): Seq[Byte] = {
    var x = v; val out = Seq.newBuilder[Byte]; var more = true
    while (more) {
      val b = (x & 0x7f).toInt; x >>= 7
      if ((x == 0 && (b & 0x40) == 0) || (x == -1 && (b & 0x40) != 0)) {
        out += b.toByte; more = false
      } else out += (b | 0x80).toByte
    }
    out.result()
  }
  private def section(id: Int, body: Seq[Byte]): Seq[Byte] =
    id.toByte +: (uleb(body.length.toLong) ++ body)
  private def vec(items: Seq[Seq[Byte]]): Seq[Byte] =
    uleb(items.length.toLong) ++ items.flatten
  private def b(xs: Int*): Seq[Byte] = xs.map(_.toByte)

  /** module bytes: shared-type functions exported f0, f1, ... */
  private def moduleBytes(types: Seq[(Seq[Int], Seq[Int])],
      funcs: Seq[(Int, Seq[Int], Seq[Byte])], memPages: Int = 0): Array[Byte] = {
    val typeSec = section(1, vec(types.map { case (ps, rs) =>
      0x60.toByte +: (vec(ps.map(p => Seq(p.toByte))) ++ vec(rs.map(r => Seq(r.toByte))))
    }))
    val funcSec = section(3, vec(funcs.map(f => uleb(f._1.toLong))))
    val memSec = if (memPages > 0)
      section(5, vec(Seq(0x00.toByte +: uleb(memPages.toLong)))) else Nil
    val exportSec = section(7, vec(funcs.indices.map { i =>
      val name = s"f$i".getBytes("UTF-8").toSeq
      uleb(name.length.toLong) ++ name ++ Seq(0x00.toByte) ++ uleb(i.toLong)
    }))
    val codeSec = section(10, vec(funcs.map { case (_, locals, body) =>
      val localDecl = vec(locals.map(t => uleb(1) ++ Seq(t.toByte)))
      val fb = localDecl ++ body
      uleb(fb.length.toLong) ++ fb
    }))
    (Seq[Byte](0, 'a', 's', 'm', 1, 0, 0, 0) ++
      typeSec ++ funcSec ++ memSec ++ exportSec ++ codeSec).toArray
  }

  private val I32 = 0x7F
  private val I64 = 0x7E

  private def both(bytes: Array[Byte]): (WasmModule, WasmModule) =
    (WasmModule.parse(bytes), interpOnly(bytes))

  test("loop-sum, value-carrying block br, br_table, select, calls, " +
    "memory load/store: compiled results equal interpreted, and the " +
    "functions really are compiled") {
    assume(WasmJit.enabled)
    // f0(n): i64 loop sum 1..n — locals: 1 = acc, 2 = i
    val f0 = b(0x20, 0, 0x21, 2, // i = n
      0x02, 0x40, 0x03, 0x40, // block loop
      0x20, 2, 0x42) ++ sleb(0) ++ b(0x51, 0x0D, 1, // br_if outer when i==0
      0x20, 1, 0x20, 2, 0x7C, 0x21, 1, // acc += i
      0x20, 2, 0x42) ++ sleb(1) ++ b(0x7D, 0x21, 2, // i -= 1
      0x0C, 0, 0x0B, 0x0B, // br loop; end loop; end block
      0x20, 1, 0x0B) // return acc
    // f1(x): three-way br_table dispatch returning 10/20/30
    val f1 = b(0x02, 0x40, 0x02, 0x40, 0x02, 0x40,
      0x20, 0, 0xA7, // i32 index
      0x0E, 2, 0, 1, 2, // br_table [d0, d1] default d2
      0x0B) ++ b(0x42) ++ sleb(10) ++ b(0x0F) ++
      b(0x0B) ++ b(0x42) ++ sleb(20) ++ b(0x0F) ++
      b(0x0B) ++ b(0x42) ++ sleb(30) ++ b(0x0B)
    // f2(a, b): select(a, b, a < b)  (returns min)
    val f2 = b(0x20, 0, 0x20, 1, 0x20, 0, 0x20, 1, 0x53, 0x1B, 0x0B)
    // f3(a): calls f2(a, 100)
    val f3 = b(0x20, 0, 0x42) ++ sleb(100) ++ b(0x10, 2, 0x0B)
    // f4(a): store a at 8, load it back doubled via i64 ops
    val f4 = b(0x42) ++ sleb(8) ++ b(0x20, 0, 0x37, 0x03, 0,
      0x42) ++ sleb(8) ++ b(0x29, 0x03, 0, 0x20, 0, 0x7C, 0x0B)
    val bytes = moduleBytes(
      Seq((Seq(I64), Seq(I64)), (Seq(I64), Seq(I64)), (Seq(I64, I64), Seq(I64))),
      Seq((0, Seq(I64, I64), f0), (1, Nil, f1), (2, Nil, f2),
        (0, Nil, f3), (0, Nil, f4)), memPages = 1)
    val (jm, im) = both(bytes)
    assert(jm.jit != null && jm.jit._2.forall(identity),
      s"all five functions must be eligible, got ${jm.jit._2.toSeq}")
    val cases: Seq[(String, Seq[Long])] = Seq(
      "f0" -> Seq(0L, 1L, 10L, 1000L),
      "f1" -> Seq(0L, 1L, 2L, 7L),
      "f2" -> Seq.empty, // exercised via f3
      "f3" -> Seq(-5L, 0L, 99L, 100L, 101L, Long.MaxValue),
      "f4" -> Seq(0L, -1L, 123456789L))
    cases.foreach { case (fn, argsList) =>
      argsList.foreach { a =>
        val j = new WasmInstance(jm).invoke(fn, a)
        val i = new WasmInstance(im).invoke(fn, a)
        assert(j === i, s"$fn($a): compiled $j != interpreted $i")
      }
    }
    // two-arg f2 directly
    Seq((3L, 9L), (9L, 3L), (-1L, 1L)).foreach { case (a, c) =>
      assert(new WasmInstance(jm).invoke("f2", a, c) ===
        new WasmInstance(im).invoke("f2", a, c))
    }
  }

  test("traps are equivalent: div-by-zero and signed-overflow trap with " +
    "the interpreter's messages; a runaway compiled loop hits the " +
    "backward-branch budget instead of hanging") {
    assume(WasmJit.enabled)
    // f0(a, b) = a / b (i64 signed)
    val fdiv = b(0x20, 0, 0x20, 1, 0x7F, 0x0B)
    // f1(): infinite loop
    val fspin = b(0x03, 0x40, 0x0C, 0, 0x0B, 0x42) ++ sleb(0) ++ b(0x0B)
    val bytes = moduleBytes(
      Seq((Seq(I64, I64), Seq(I64)), (Seq.empty[Int], Seq(I64))),
      Seq((0, Nil, fdiv), (1, Nil, fspin)))
    val (jm, im) = both(bytes)
    assert(jm.jit != null && jm.jit._2.forall(identity))
    val jt = intercept[WasmTrap] { new WasmInstance(jm).invoke("f0", 1L, 0L) }
    val it = intercept[WasmTrap] { new WasmInstance(im).invoke("f0", 1L, 0L) }
    assert(jt.msg === it.msg)
    val jo = intercept[WasmTrap] {
      new WasmInstance(jm).invoke("f0", Long.MinValue, -1L)
    }
    assert(jo.msg.contains("overflow"))
    val spin = intercept[WasmTrap] { new WasmInstance(jm).invoke("f1") }
    assert(spin.msg.contains("budget"))
  }

  test("call_indirect COMPILES (r17) as the instance bridge: dispatch " +
    "to compiled and interpreted targets agrees with the interpreted " +
    "twin, all three trap lanes keep the interpreter's messages, " +
    "indirect SELF-recursion nests bridge re-entries with an exact " +
    "stack discipline, a COMPILED memory.grow replaces the array " +
    "through the instance, and a grow-through-indirect refreshes the " +
    "caller's memory local (stores after the call land in the LIVE " +
    "array)") {
    assume(WasmJit.enabled)
    // types: t0 (I64,I64)->I64 caller; t1 (I64)->I64 targets; t2 ()->I64
    val t0 = 0x60.toByte +: (vec(Seq(Seq(I64.toByte), Seq(I64.toByte))) ++
      vec(Seq(Seq(I64.toByte))))
    val t1 = 0x60.toByte +: (vec(Seq(Seq(I64.toByte))) ++ vec(Seq(Seq(I64.toByte))))
    val t2 = 0x60.toByte +: (vec(Seq[Seq[Byte]]()) ++ vec(Seq(Seq(I64.toByte))))
    val typeSec = section(1, vec(Seq(t0, t1, t2)))
    // f0 (t0): x, idx -> call_indirect[t1]   (compiled)
    val f0 = b(0x20, 1, 0x20, 0, 0x11, 1, 0x00, 0x0B)
    // f1 (t1): x*x                           (compiled)
    val f1 = b(0x20, 0, 0x20, 0, 0x7E, 0x0B)
    // f2 (t1): x + memory.grow(0) = x + pages — grow COMPILES too
    // (r17), so the guaranteed-INTERPRETED target is made by frame
    // bound: 140 unused i64 locals push the slot count past 250
    val f2 = b(0x20, 0, 0x41, 0x00, 0x40, 0x00, 0x7C, 0x0B)
    val f2Locals = uleb(1) ++ uleb(140) ++ Seq(I64.toByte)
    // f3 (t2): const 5 — the WRONG-TYPE table entry for t1 callers
    val f3 = b(0x42, 5, 0x0B)
    // f4 (t2): indirect-call the grower (table idx 3), drop, store 22
    // at mem[0], return memory.size — catches a stale memory local
    val f4 = b(0x41, 3, 0x11, 2, 0x00, 0x1A,
      0x41, 0x00, 0x42, 22, 0x37, 3, 0, 0x3F, 0x00, 0x0B)
    // f5 (t2): memory.grow(1) — the grower, itself COMPILED (r17)
    val f5 = b(0x41, 1, 0x40, 0x00, 0x0B)
    // f6 (t1): countdown by indirect SELF-call via table idx 4
    val f6 = b(0x02, 0x40, 0x20, 0, 0x50, 0x0D, 0, 0x20, 0, 0x42) ++ sleb(1) ++
      b(0x7D, 0x41, 4, 0x11, 1, 0x00, 0x0F, 0x0B, 0x42) ++ sleb(0) ++ b(0x0B)
    val funcSec = section(3, b(0x07, 0, 1, 1, 2, 2, 2, 1))
    // table of 6: [f1, f2, f3, f5, f6, null]
    val tableSec = section(4, vec(Seq(Seq(0x70.toByte, 0x00.toByte) ++ uleb(6))))
    val memSec = section(5, vec(Seq(0x00.toByte +: uleb(1))))
    val exportSec = section(7, vec((0 to 6).map { i =>
      val nb = s"f$i".getBytes("UTF-8").toSeq
      uleb(nb.length.toLong) ++ nb ++ Seq(0x00.toByte) ++ uleb(i.toLong)
    }))
    val elemSec = section(9, vec(Seq(
      uleb(0) ++ Seq(0x41.toByte) ++ sleb(0) ++ Seq(0x0b.toByte) ++
        vec(Seq(1L, 2L, 3L, 5L, 6L).map(uleb)))))
    val codeSec = section(10, vec(Seq(
      b(0x00) ++ f0, b(0x00) ++ f1, f2Locals ++ f2, b(0x00) ++ f3,
      b(0x00) ++ f4, b(0x00) ++ f5, b(0x00) ++ f6
    ).map(fb => uleb(fb.length.toLong) ++ fb)))
    val bytes = (Seq[Byte](0, 'a', 's', 'm', 1, 0, 0, 0) ++
      typeSec ++ funcSec ++ tableSec ++ memSec ++ exportSec ++ elemSec ++
      codeSec).toArray
    val m = WasmModule.parse(bytes)
    assert(m.jit != null)
    val mask = m.jit._2.toSeq
    assert(mask(0) && mask(1) && mask(3) && mask(4) && mask(6),
      s"indirect callers + pure fns compile: $mask")
    assert(mask(5), s"the grow-containing grower compiles (r17): $mask")
    assert(!mask(2), s"the over-bound frame must interpret: $mask")
    val im = interpOnly(bytes)
    // dispatch parity: compiled→compiled and compiled→interpreted
    for (args <- Seq((0L, 7L), (1L, 7L))) {
      val (ji, ii) = (new WasmInstance(m), new WasmInstance(im))
      assert(ji.invoke("f0", args._1, args._2) ===
        ii.invoke("f0", args._1, args._2),
        s"compiled vs interpreted dispatch disagree on $args")
    }
    assert(new WasmInstance(m).invoke("f0", 0L, 7L) === Some(49L))
    assert(new WasmInstance(m).invoke("f0", 1L, 7L) === Some(8L)) // 7 + 1 page
    // trap lanes, compiled must keep the interpreter's messages
    def trapMsg(inst: WasmInstance, idx: Long): String =
      intercept[WasmTrap] { inst.invoke("f0", idx, 1L) }.msg
    assert(trapMsg(new WasmInstance(m), 5L).contains("null/oob"))
    assert(trapMsg(new WasmInstance(m), 17L).contains("null/oob"))
    assert(trapMsg(new WasmInstance(m), 2L).contains("signature mismatch"))
    assert(trapMsg(new WasmInstance(im), 2L) ===
      trapMsg(new WasmInstance(m), 2L))
    // indirect self-recursion: 100 nested bridge re-entries, exact result
    assert(new WasmInstance(m).invoke("f6", 100L) === Some(0L))
    assert(new WasmInstance(im).invoke("f6", 100L) === Some(0L))
    // grow-through-indirect: memory.size AFTER the indirect grow must
    // see 2 pages, and the store AFTER the call must land in the LIVE
    // (grown) array — a stale memory local fails both
    val gi = new WasmInstance(m)
    assert(gi.invoke("f4") === Some(2L), "memory.size must see the growth")
    assert(gi.readBytes(0L, 1)(0) === 22.toByte,
      "the post-grow store must be visible through the live array")
  }

  test("GLOBALS compile (r17) with the instance's shared array — " +
    "mutations through the compiled path accumulate across calls, a " +
    "fresh instance re-seeds them, and an over-arity sibling still " +
    "falls back to the interpreter in the same module") {
    assume(WasmJit.enabled)
    // f0 reads/writes the global (NOW eligible: global.get/set compile
    // as laload/lastore on the shared array), f1 is pure arithmetic,
    // f2 takes 33 params (over the r19 32-param frame bound → interprets)
    val globalSec = section(6, b(0x01, I64, 0x01, 0x42) ++ sleb(7) ++ b(0x0B))
    val f0 = b(0x23, 0, 0x20, 0, 0x7C, 0x24, 0, 0x23, 0, 0x0B)
    val f1 = b(0x20, 0, 0x20, 0, 0x7E, 0x0B)
    // f2: sum of params 0 and 32 (the arity is the point)
    val f2 = b(0x20, 0, 0x20, 32, 0x7C, 0x0B)
    val t1 = 0x60.toByte +: (vec(Seq(Seq(I64.toByte))) ++ vec(Seq(Seq(I64.toByte))))
    val t9 = 0x60.toByte +: (vec(Seq.fill(33)(Seq(I64.toByte))) ++ vec(Seq(Seq(I64.toByte))))
    val typeSec = section(1, vec(Seq(t1, t9)))
    val funcSec = section(3, b(0x03, 0, 0, 1))
    val exportSec = section(7, vec(Seq("f0", "f1", "f2").zipWithIndex.map {
      case (n, i) =>
        val nb = n.getBytes("UTF-8").toSeq
        uleb(nb.length.toLong) ++ nb ++ Seq(0x00.toByte) ++ uleb(i.toLong)
    }))
    val codeSec = section(10, vec(Seq(f0, f1, f2).map { body =>
      val fb = b(0x00) ++ body
      uleb(fb.length.toLong) ++ fb
    }))
    val bytes = (Seq[Byte](0, 'a', 's', 'm', 1, 0, 0, 0) ++
      typeSec ++ funcSec ++ globalSec ++ exportSec ++ codeSec).toArray
    val m = WasmModule.parse(bytes)
    assert(m.jit != null)
    assert(m.jit._2(0) && m.jit._2(1) && !m.jit._2(2),
      s"global user + pure sibling compile, 33-arity interprets: ${m.jit._2.toSeq}")
    val inst = new WasmInstance(m)
    assert(inst.invoke("f0", 5L) === Some(12L)) // compiled: global(7) + 5
    assert(inst.invoke("f0", 5L) === Some(17L)) // the WRITE persisted
    assert(inst.invoke("f1", 6L) === Some(36L)) // compiled: 6 * 6
    assert(inst.invoke("f2",
      (1L +: Array.fill(31)(0L)) :+ 2L: _*) === Some(3L))
    // fresh instance: globals re-seed from the module inits
    assert(new WasmInstance(m).invoke("f0", 5L) === Some(12L))
    // interpreted twin agrees on the whole accumulation sequence
    val im = interpOnly(bytes)
    val ii = new WasmInstance(im)
    assert(ii.invoke("f0", 5L) === Some(12L) && ii.invoke("f0", 5L) === Some(17L))
  }

  test("call CYCLES compile WITH a depth guard (self, mutual, and their " +
    "callers): shallow recursion computes compiled ≡ interpreted, runaway " +
    "recursion traps with the interpreter's depth-4096 message, never a " +
    "raw StackOverflowError; acyclic siblings carry no guard") {
    assume(WasmJit.enabled)
    // f0(n): self-recursive countdown — returns 0
    val f0 = b(0x02, 0x40, 0x20, 0, 0x50, 0x0D, 0,
      0x20, 0, 0x42) ++ sleb(1) ++ b(0x7D, 0x10, 0, 0x0F, 0x0B,
      0x42) ++ sleb(0) ++ b(0x0B)
    // f1 <-> f2: mutual recursion with the same countdown shape
    val f1 = b(0x02, 0x40, 0x20, 0, 0x50, 0x0D, 0,
      0x20, 0, 0x42) ++ sleb(1) ++ b(0x7D, 0x10, 2, 0x0F, 0x0B,
      0x42) ++ sleb(0) ++ b(0x0B)
    val f2 = b(0x20, 0, 0x10, 1, 0x0B)
    // f3: NOT itself recursive, but calls into the f0 cycle — must cascade
    val f3 = b(0x20, 0, 0x10, 0, 0x0B)
    // f4: pure arithmetic, stays compiled
    val f4 = b(0x20, 0, 0x20, 0, 0x7E, 0x0B)
    val bytes = moduleBytes(
      Seq((Seq(I64), Seq(I64))),
      Seq((0, Nil, f0), (0, Nil, f1), (0, Nil, f2), (0, Nil, f3), (0, Nil, f4)))
    val m = WasmModule.parse(bytes)
    assert(m.jit != null, "module must compile")
    val mask = m.jit._2
    assert(mask.forall(identity),
      s"cycles stay ELIGIBLE (guarded), nothing demoted: ${mask.toSeq}")
    // the eligibility analysis marks exactly the cycle-reaching four
    val (ok, guarded) = WasmJit.eligibleSet(m)
    assert(ok.forall(identity))
    assert(guarded.toSeq === Seq(true, true, true, true, false),
      s"guard only the cycle-reaching functions: ${guarded.toSeq}")
    val inst = new WasmInstance(m)
    // shallow recursion computes correctly through COMPILED code
    assert(inst.invoke("f0", 100L) === Some(0L))
    assert(inst.invoke("f1", 64L) === Some(0L))
    assert(inst.invoke("f3", 17L) === Some(0L))
    assert(inst.invoke("f4", 9L) === Some(81L))
    // moderately deep recursion still computes (compiled, guarded)
    assert(new WasmInstance(m).invoke("f0", 1000L) === Some(0L))
    // runaway recursion traps CLEANLY with one of the two guard messages
    // — the counter ("call depth exceeded", mirroring the interpreter's
    // depth-4096) or the stack-exhaustion backstop ("call stack
    // exhausted", the interpreter's OTHER guard, which also fires first
    // interpreted for multi-slot frames) — never a raw StackOverflowError
    def cleanTrap(msg: String): Boolean =
      msg.contains("call depth exceeded") || msg.contains("call stack exhausted")
    val t = intercept[WasmTrap] { new WasmInstance(m).invoke("f0", 1000000L) }
    assert(cleanTrap(t.msg), t.msg)
    val t2 = intercept[WasmTrap] { new WasmInstance(m).invoke("f1", 1000000L) }
    assert(cleanTrap(t2.msg), t2.msg)
    // compiled ≡ interpreted on the recursive path
    val im = interpOnly(bytes)
    assert(new WasmInstance(m).invoke("f3", 33L) ===
      new WasmInstance(im).invoke("f3", 33L))
    // a trap leaves no residue: the next host entry resets the counter
    assert(new WasmInstance(m).invoke("f0", 1000L) === Some(0L))
  }

  test("compiled→interpreted DIRECT-CALL bridge (r18): an ineligible " +
    "callee no longer demotes its callers — they compile and bridge; " +
    "results equal full interpretation, grow-in-bridged-callee refreshes " +
    "the caller's memory, and mutual recursion across the boundary hits " +
    "the interpreter's depth guard") {
    assume(WasmJit.enabled)
    // fat locals (130 i64) bust the frame bound → ineligible
    val fat = Seq.fill(130)(I64)
    // f0(a) = f1(a) + 1 (eligible caller) ; f1(a) = a * 2 (INELIGIBLE)
    val f0 = b(0x20, 0, 0x10, 1, 0x42) ++ sleb(1) ++ b(0x7C, 0x0B)
    val f1 = b(0x20, 0, 0x42) ++ sleb(2) ++ b(0x7E, 0x0B)
    // f2 (INELIGIBLE): memory.grow(1); store 77 beyond the old page;
    // f3 (eligible): call f2, then LOAD from the grown region — the
    // caller must refresh its memory local after the bridge call
    val f2 = b(0x41, 1, 0x40, 0x00, 0x1A, 0x41) ++ sleb(65544) ++
      b(0x42) ++ sleb(77) ++ b(0x37, 0x03, 0, 0x42) ++ sleb(5) ++ b(0x0B)
    val f3 = b(0x10, 2, 0x1A, 0x41) ++ sleb(65544) ++ b(0x29, 0x03, 0, 0x0B)
    // f4 (eligible) ↔ f5 (INELIGIBLE) mutual countdown across the bridge
    def countdown(callee: Int) =
      b(0x02, 0x40, 0x20, 0, 0x50, 0x0D, 0,
        0x20, 0, 0x42) ++ sleb(1) ++ b(0x7D, 0x10, callee,
        0x42) ++ sleb(1) ++ b(0x7C, 0x0F, 0x0B, 0x42) ++ sleb(0) ++ b(0x0B)
    val bytes = moduleBytes(
      Seq((Seq(I64), Seq(I64)), (Seq.empty[Int], Seq(I64))),
      Seq((0, Nil, f0), (0, fat, f1), (1, fat, f2), (1, Nil, f3),
        (0, Nil, countdown(5)), (0, fat, countdown(4))),
      memPages = 1)
    val jm = WasmModule.parse(bytes)
    assert(jm.jit != null)
    assert(jm.jit._2.toSeq === Seq(true, false, false, true, true, false),
      s"callers compile, fat frames interpret: ${jm.jit._2.toSeq}")
    val im = interpOnly(bytes)
    // value through the bridge
    Seq(0L, 1L, -3L, 1234567L).foreach { a =>
      val j = new WasmInstance(jm).invoke("f0", a)
      assert(j === new WasmInstance(im).invoke("f0", a))
      assert(j === Some(a * 2 + 1))
    }
    // memory refresh after a bridged callee grows
    assert(new WasmInstance(jm).invoke("f3") === Some(77L))
    assert(new WasmInstance(im).invoke("f3") === Some(77L))
    // recursion across the boundary: correct shallow, clean trap deep
    assert(new WasmInstance(jm).invoke("f4", 10L) === Some(10L))
    assert(new WasmInstance(jm).invoke("f4", 500L) === Some(500L))
    val t = intercept[WasmTrap] { new WasmInstance(jm).invoke("f4", -1L) }
    assert(t.msg.contains("depth") || t.msg.contains("stack"), t.msg)
    // and the instance still works after the trap
    assert(new WasmInstance(jm).invoke("f4", 3L) === Some(3L))
  }

  test("WIDE-arity functions compile (r19, cap 8 → 32): a hand-built " +
    "12-param function and its callers run compiled ≡ interpreted — " +
    "the transient JVM stack for the 3+2n call push is covered by the " +
    "declared max-stack") {
    assume(WasmJit.enabled)
    // f0: sum of 12 params, alternating +/- weights (order-sensitive so
    // a parameter-slot mixup cannot cancel out); f1(a) calls f0 with
    // a, a+1, ..., a+11 — exercising the 27-slot call push
    val n = 12
    val sumBody = {
      var s = b(0x20, 0)
      for (k <- 1 until n)
        s = s ++ b(0x20, k) ++ (if (k % 2 == 1) b(0x7D) else b(0x7C))
      s ++ b(0x0B)
    }
    val callBody = {
      var s = Seq.empty[Byte]
      for (k <- 0 until n)
        s = s ++ b(0x20, 0) ++ (b(0x42) ++ sleb(k)) ++ b(0x7C)
      s ++ b(0x10, 0, 0x0B)
    }
    val bytes = moduleBytes(
      Seq((Seq.fill(n)(I64), Seq(I64)), (Seq(I64), Seq(I64))),
      Seq((0, Nil, sumBody), (1, Nil, callBody)))
    val jm = WasmModule.parse(bytes)
    assert(jm.jit != null && jm.jit._2.toSeq === Seq(true, true),
      s"12-arity function and caller must both compile: ${jm.jit._2.toSeq}")
    val im = interpOnly(bytes)
    Seq(0L, 7L, -13L, 1000003L).foreach { a =>
      val j = new WasmInstance(jm).invoke("f1", a)
      assert(j === new WasmInstance(im).invoke("f1", a))
    }
  }

  test("the real artifact's previously arity-bound functions now " +
    "compile and run compiled ≡ interpreted on a fixed arg lattice " +
    "(result or trap must match) — coverage 2141/2142, residue = the " +
    "one emit-bailout") {
    assume(artifactPresent && WasmJit.enabled)
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(wasmPath))
    val jm = WasmModule.parse(bytes)
    val im = interpOnly(bytes)
    assert(jm.jit != null)
    val mask = jm.jit._2
    val total = mask.count(identity)
    assert(total >= jm.funcs.length - 1,
      s"expected >= ${jm.funcs.length - 1} compiled, got $total")
    val wide = jm.funcs.indices.filter(i =>
      mask(i) && jm.funcs(i).nparams > 8)
    assert(wide.nonEmpty, "artifact must contain newly-compiled wide-arity fns")
    for (fi <- wide; seed <- Seq(0L, 1L, 64L)) {
      val args = Array.tabulate(jm.funcs(fi).nparams)(k => seed + k)
      // traps carry a location suffix that legitimately differs
      // ("(compiled)" vs "(func N)") — compare the trap KIND prefix
      def kind(msg: String) = msg.split(" \\(")(0)
      val jr = try Right(new WasmInstance(jm).callForTest(fi, args))
        catch { case t: WasmTrap => Left(kind(t.msg)) }
      val ir = try Right(new WasmInstance(im).callForTest(fi, args))
        catch { case t: WasmTrap => Left(kind(t.msg)) }
      assert(jr === ir, s"f$fi(seed=$seed): compiled $jr vs interpreted $ir")
    }
  }

  test("METHOD SPLIT (r19): a forward-only function whose emission " +
    "busts the 65 KB Code cap compiles as chunk methods + a driver and " +
    "runs compiled ≡ interpreted — cross-chunk branches spill/resume " +
    "through the long[] frame") {
    assume(WasmJit.enabled)
    // f0(x): acc = 0; 1400 forward if-blocks: if (x == k % 97) acc += k
    val reps = 1400
    val body = {
      val s = Seq.newBuilder[Byte]
      for (k <- 0 until reps) {
        s ++= b(0x20, 0) ++= (b(0x42) ++ sleb(k % 97)) += 0x51.toByte
        s ++= b(0x04, 0x40)
        s ++= b(0x20, 1) ++= (b(0x42) ++ sleb(k)) ++= b(0x7C, 0x21, 1)
        s += 0x0B.toByte
      }
      s ++= b(0x20, 1, 0x0B)
      s.result()
    }
    val bytes = moduleBytes(Seq((Seq(I64), Seq(I64))),
      Seq((0, Seq(I64), body)))
    val jm = WasmModule.parse(bytes)
    assert(jm.funcs(0).ops.length > 8000, "must be a big body")
    assert(jm.jit != null && jm.jit._2(0),
      "the over-cap function must still compile (split)")
    val im = interpOnly(bytes)
    def want(x: Long): Long =
      (0 until reps).filter(k => (k % 97).toLong == x).map(_.toLong).sum
    for (x <- Seq(0L, 7L, 42L, 96L, 97L, -1L, 1234567L)) {
      val j = new WasmInstance(jm).invoke("f0", x)
      assert(j === new WasmInstance(im).invoke("f0", x), s"x=$x")
      assert(j === Some(want(x)), s"x=$x")
    }
  }

  test("the real artifact's one split function (the former emit-" +
    "bailout) runs compiled ≡ interpreted: results-or-trap-kind AND " +
    "the full linear-memory state agree after completed runs — " +
    "coverage is 2142/2142") {
    assume(artifactPresent && WasmJit.enabled)
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(wasmPath))
    val jm = WasmModule.parse(bytes)
    val im = interpOnly(bytes)
    assert(jm.jit != null && jm.jit._2.forall(identity),
      "every artifact function must compile")
    // the split function is the only one whose op count exceeds 8000
    val big = jm.funcs.indices.filter(i => jm.funcs(i).ops.length > 8000)
    assert(big.nonEmpty, "the big formatter function must exist")
    var completed = 0
    for (fi <- big; seed <- Seq(0L, 8L, 64L, 256L, 1024L, 4096L)) {
      val args = Array.tabulate(jm.funcs(fi).nparams)(k => seed + 16 * k)
      def kind(msg: String) = msg.split(" \\(")(0)
      val ji = new WasmInstance(jm)
      val ii = new WasmInstance(im)
      val jr = try Right(ji.callForTest(fi, args.clone()))
        catch { case t: WasmTrap => Left(kind(t.msg)) }
      val ir = try Right(ii.callForTest(fi, args.clone()))
        catch { case t: WasmTrap => Left(kind(t.msg)) }
      assert(jr === ir, s"f$fi(seed=$seed): $jr vs $ir")
      if (jr.isRight && ir.isRight) {
        completed += 1
        assert(ji.memorySize === ii.memorySize, s"f$fi(seed=$seed) mem size")
        assert(java.util.Arrays.equals(
          ji.readBytes(0, ji.memorySize), ii.readBytes(0, ii.memorySize)),
          s"f$fi(seed=$seed): memory state diverged")
      }
    }
    assert(completed > 0,
      "at least one arg vector must complete for the memory comparison")
  }

  test("a statically-dead `if` decodes as nops (r19): a valid module " +
    "with an if after return COMPILES and runs — previously the live " +
    "eqz+br_if pair carried a never-fixed-up packed target that poisoned " +
    "heights() seeding and defineHiddenClass threw VerifyError") {
    assume(WasmJit.enabled)
    // f0(a) = a, then DEAD: a void if, and a value-carrying if/else
    val f0 = b(0x20, 0, 0x0F, // local.get 0; return
      0x41, 1, 0x04, 0x40, 0x01, 0x0B, // dead: if void { nop }
      0x41, 0, 0x04, 0x7E, 0x42) ++ sleb(1) ++ // dead: if (result i64) 1
      b(0x05, 0x42) ++ sleb(2) ++ b(0x0B, 0x1A, // else 2 end; drop
      0x42) ++ sleb(0) ++ b(0x0B)
    val bytes = moduleBytes(Seq((Seq(I64), Seq(I64))), Seq((0, Nil, f0)))
    val jm = WasmModule.parse(bytes) // must not throw VerifyError
    assert(jm.jit != null && jm.jit._2(0), "the function must compile")
    val im = interpOnly(bytes)
    Seq(0L, -7L, 42L).foreach { a =>
      assert(new WasmInstance(jm).invoke("f0", a) === Some(a))
      assert(new WasmInstance(im).invoke("f0", a) === Some(a))
    }
  }

  test("a value-carrying `if` with no else is REJECTED at parse time " +
    "(r19): wasm validation makes it malformed, so it must fail CREATE " +
    "like other bad input instead of reading stale stack data at runtime") {
    val f0 = b(0x41, 1, 0x04, 0x7E, 0x42) ++ sleb(7) ++ b(0x0B, 0x0B)
    val bytes = moduleBytes(Seq((Seq.empty[Int], Seq(I64))), Seq((0, Nil, f0)))
    intercept[WasmModule.WasmParseException] { WasmModule.parse(bytes) }
  }

  test("decoded bodies of the four vendored guests (ops, argL, argM, " +
    "branch tables, frame sizes) digest to the value recorded before " +
    "decodeBody was split below HotSpot's HugeMethodLimit") {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var nfuncs = 0
    for (bytes <- Seq(PowWasm.bytes, SatWasm.bytes, EchoWasm.bytes, SimdWasm.bytes);
         f <- WasmModule.parse(bytes).funcs) {
      val line = Seq(s"${f.typeId} ${f.nparams} ${f.nlocals} ${f.nres} " +
        s"${f.maxStack} ${f.usesSimd}", f.ops.mkString(","),
        f.argL.mkString(","), f.argM.mkString(","),
        f.brTables.map(_.mkString(",")).mkString(";")).mkString("|")
      md.update(line.getBytes("UTF-8")); md.update('\n'.toByte)
      nfuncs += 1
    }
    val digest = md.digest().map(x => f"${x & 0xFF}%02x").mkString
    assert(digest === "53e91a86b12c5f65829e308bfb318af64f506fcf12da40b7eaaa169412e3c1d6",
      s"decoded bodies moved ($nfuncs functions)")
  }
}
