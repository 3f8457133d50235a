package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{WasmInstance, WasmModule, WasmTrap}

/** The wasm32 interpreter proven as an INTERPRETER, not a one-artifact
  * hack: tiny modules are hand-assembled here from the public binary
  * grammar (no toolchain in the container) and executed, pinning the
  * core-spec semantics the reference artifact exercises only
  * implicitly — trap conditions (div-by-zero, signed-overflow, OOB,
  * null/ill-typed indirect calls, unreachable), value-carrying blocks,
  * br_table dispatch, loops, memory.grow, two's-complement corners,
  * float rounding (nearest = banker's), unsigned compares/divides, and
  * the fuel guard that turns a runaway guest loop into a trap.
  */
class WasmInterpreterSpec extends AnyFunSuite {

  // ---- minimal assembler (LEB128 + section framing) ----------------------

  private def uleb(v: Long): Seq[Byte] = {
    var x = v; val out = Seq.newBuilder[Byte]
    var more = true
    while (more) {
      val b = (x & 0x7f).toInt; x >>>= 7
      if (x == 0) { out += b.toByte; more = false }
      else out += (b | 0x80).toByte
    }
    out.result()
  }
  private def sleb(v: Long): Seq[Byte] = {
    var x = v; val out = Seq.newBuilder[Byte]
    var more = true
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

  /** One-type, N-function module. Each function: (params, results,
    * locals, body bytes incl. end). All functions share one signature
    * per entry; exports every function as f0, f1, ... */
  private def module(
      types: Seq[(Seq[Int], Seq[Int])],
      funcs: Seq[(Int, Seq[Int], Seq[Byte])], // (typeIdx, localTypes, body)
      table: Option[Seq[Int]] = None,
      memPages: Int = 0): WasmModule = {
    val typeSec = section(1, vec(types.map { case (ps, rs) =>
      0x60.toByte +: (vec(ps.map(p => Seq(p.toByte))) ++
        vec(rs.map(r => Seq(r.toByte))))
    }))
    val funcSec = section(3, vec(funcs.map(f => uleb(f._1.toLong))))
    val tableSec = table.map(t => section(4,
      vec(Seq(Seq(0x70.toByte, 0x00.toByte) ++ uleb(t.length.toLong)))))
      .getOrElse(Nil)
    val memSec = if (memPages > 0)
      section(5, vec(Seq(0x00.toByte +: uleb(memPages.toLong)))) else Nil
    val exportSec = section(7, vec(funcs.indices.map { i =>
      val name = s"f$i".getBytes("UTF-8").toSeq
      uleb(name.length.toLong) ++ name ++ Seq(0x00.toByte) ++ uleb(i.toLong)
    }))
    val elemSec = table.map(t => section(9, vec(Seq(
      uleb(0) ++ Seq(0x41.toByte) ++ sleb(0) ++ Seq(0x0b.toByte) ++
        vec(t.map(fi => uleb(fi.toLong))))))).getOrElse(Nil)
    val codeSec = section(10, vec(funcs.map { case (_, locals, body) =>
      val localDecl = vec(locals.map(t => uleb(1) ++ Seq(t.toByte)))
      val fb = localDecl ++ body
      uleb(fb.length.toLong) ++ fb
    }))
    val bytes = Seq[Byte](0, 'a', 's', 'm', 1, 0, 0, 0) ++
      typeSec ++ funcSec ++ tableSec ++ memSec ++ exportSec ++ elemSec ++ codeSec
    WasmModule.parse(bytes.toArray)
  }

  private val I32 = 0x7F
  private val I64 = 0x7E
  private val F64 = 0x7C
  private def b(xs: Int*): Seq[Byte] = xs.map(_.toByte)

  private def run1(ps: Seq[Int], rs: Seq[Int], body: Seq[Byte],
      locals: Seq[Int] = Nil, memPages: Int = 0)(args: Long*): Option[Long] = {
    val m = module(Seq((ps, rs)), Seq((0, locals, body)), memPages = memPages)
    new WasmInstance(m).invoke("f0", args: _*)
  }

  test("arithmetic/two's-complement corners: signed/unsigned div & rem, " +
    "shifts, rotates, clz/ctz/popcnt, sign extension") {
    // (a, b) -> a / b signed
    val divS = b(0x20, 0, 0x20, 1, 0x6D, 0x0B)
    assert(run1(Seq(I32, I32), Seq(I32), divS)(7, -2L & 0xFFFFFFFFL)
      === Some((-3L) & 0xFFFFFFFFL)) // trunc toward zero
    // unsigned div: 0xFFFFFFFE / 2 = 0x7FFFFFFF
    val divU = b(0x20, 0, 0x20, 1, 0x6E, 0x0B)
    assert(run1(Seq(I32, I32), Seq(I32), divU)(0xFFFFFFFEL, 2) === Some(0x7FFFFFFFL))
    // rem_s: -7 % 2 = -1 (sign of dividend); MinValue % -1 = 0 (no trap)
    val remS = b(0x20, 0, 0x20, 1, 0x6F, 0x0B)
    assert(run1(Seq(I32, I32), Seq(I32), remS)((-7L) & 0xFFFFFFFFL, 2)
      === Some((-1L) & 0xFFFFFFFFL))
    assert(run1(Seq(I32, I32), Seq(I32), remS)(0x80000000L, (-1L) & 0xFFFFFFFFL)
      === Some(0L))
    // shl wraps shift count mod 32: 1 << 33 == 2
    val shl = b(0x20, 0, 0x20, 1, 0x74, 0x0B)
    assert(run1(Seq(I32, I32), Seq(I32), shl)(1, 33) === Some(2L))
    // shr_s keeps sign: -8 >> 1 = -4
    val shrS = b(0x20, 0, 0x20, 1, 0x75, 0x0B)
    assert(run1(Seq(I32, I32), Seq(I32), shrS)((-8L) & 0xFFFFFFFFL, 1)
      === Some((-4L) & 0xFFFFFFFFL))
    // rotl(0x80000001, 1) = 3
    val rotl = b(0x20, 0, 0x20, 1, 0x77, 0x0B)
    assert(run1(Seq(I32, I32), Seq(I32), rotl)(0x80000001L, 1) === Some(3L))
    // clz/ctz/popcnt of 0x00F0F000
    assert(run1(Seq(I32), Seq(I32), b(0x20, 0, 0x67, 0x0B))(0x00F0F000L) === Some(8L))
    assert(run1(Seq(I32), Seq(I32), b(0x20, 0, 0x68, 0x0B))(0x00F0F000L) === Some(12L))
    assert(run1(Seq(I32), Seq(I32), b(0x20, 0, 0x69, 0x0B))(0x00F0F000L) === Some(8L))
    // i32.extend8_s(0x80) = -128
    assert(run1(Seq(I32), Seq(I32), b(0x20, 0, 0xC0, 0x0B))(0x80L)
      === Some((-128L) & 0xFFFFFFFFL))
    // i64 unsigned compare: 0xFFFF... > 1 unsigned (lt_u false)
    val ltU64 = b(0x20, 0, 0x20, 1, 0x54, 0x0B)
    assert(run1(Seq(I64, I64), Seq(I32), ltU64)(-1L, 1L) === Some(0L))
    assert(run1(Seq(I64, I64), Seq(I32), ltU64)(1L, -1L) === Some(1L))
  }

  test("float semantics: nearest is banker's rounding, trunc toward zero, " +
    "copysign, u64->f64") {
    def f64bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    def asD(r: Option[Long]) = java.lang.Double.longBitsToDouble(r.get)
    // f64.nearest(2.5) = 2.0, nearest(3.5) = 4.0, nearest(-2.5) = -2.0
    val nearest = b(0x20, 0, 0x9E, 0x0B)
    assert(asD(run1(Seq(F64), Seq(F64), nearest)(f64bits(2.5))) === 2.0)
    assert(asD(run1(Seq(F64), Seq(F64), nearest)(f64bits(3.5))) === 4.0)
    assert(asD(run1(Seq(F64), Seq(F64), nearest)(f64bits(-2.5))) === -2.0)
    // f64.trunc(-3.7) = -3.0
    assert(asD(run1(Seq(F64), Seq(F64), b(0x20, 0, 0x9D, 0x0B))(f64bits(-3.7))) === -3.0)
    // copysign(3.0, -0.0) = -3.0
    val cps = b(0x20, 0, 0x20, 1, 0xA6, 0x0B)
    assert(asD(run1(Seq(F64, F64), Seq(F64), cps)(f64bits(3.0), f64bits(-0.0))) === -3.0)
    // f64.convert_i64_u(-1) = 2^64 as double
    assert(asD(run1(Seq(I64), Seq(F64), b(0x20, 0, 0xBA, 0x0B))(-1L))
      === 1.8446744073709552E19)
  }

  test("traps: div-by-zero, signed overflow, OOB access, unreachable, " +
    "trunc of NaN") {
    val divS = b(0x20, 0, 0x20, 1, 0x6D, 0x0B)
    val t1 = intercept[WasmTrap] { run1(Seq(I32, I32), Seq(I32), divS)(1, 0) }
    assert(t1.msg.contains("divide by zero"))
    val t2 = intercept[WasmTrap] {
      run1(Seq(I32, I32), Seq(I32), divS)(0x80000000L, (-1L) & 0xFFFFFFFFL)
    }
    assert(t2.msg.contains("overflow"))
    // i32.load at 65533 of a 1-page memory: 4 bytes cross the boundary
    val load = b(0x20, 0, 0x28, 0x02, 0x00, 0x0B)
    assert(run1(Seq(I32), Seq(I32), load, memPages = 1)(65532L) === Some(0L))
    val t3 = intercept[WasmTrap] {
      run1(Seq(I32), Seq(I32), load, memPages = 1)(65533L)
    }
    assert(t3.msg.contains("oob"))
    val t4 = intercept[WasmTrap] { run1(Seq(), Seq(), b(0x00, 0x0B))() }
    assert(t4.msg.contains("unreachable"))
    // i32.trunc_f64_s(NaN) traps
    val trunc = b(0x20, 0, 0xAA, 0x0B)
    intercept[WasmTrap] {
      run1(Seq(F64), Seq(I32), trunc)(
        java.lang.Double.doubleToRawLongBits(Double.NaN))
    }
  }

  test("memory.grow/size and store/load across the grown region") {
    // grow by param pages, store 0xAB at 70000, load16_u back + size
    val body = b(
      0x20, 0, 0x40, 0x00, 0x1A, // memory.grow(param), drop old size
      0x41) ++ sleb(70000) ++ b(0x41) ++ sleb(0xAB) ++ b(0x36, 0x02, 0x00) ++ // i32.store
      b(0x41) ++ sleb(70000) ++ b(0x28, 0x02, 0x00, // i32.load
      0x3F, 0x00, 0x6A, 0x0B) // + memory.size
    assert(run1(Seq(I32), Seq(I32), body, memPages = 1)(1L) === Some(0xABL + 2L))
    // without the grow, the same store traps
    val noGrow = b(0x41) ++ sleb(70000) ++ b(0x41) ++ sleb(0xAB) ++
      b(0x36, 0x02, 0x00, 0x41, 0x00, 0x0B)
    intercept[WasmTrap] { run1(Seq(), Seq(I32), noGrow, memPages = 1)() }
  }

  test("control flow: loop sum, value-carrying block br, br_table dispatch") {
    // sum 1..n with a loop: locals = (i, acc)
    val sum = b(
      0x02, 0x40, // block
      0x03, 0x40, // loop
      0x20, 1, 0x20, 0, 0x4F, 0x0D, 1, // if i >= n break
      0x20, 1, 0x41, 1, 0x6A, 0x21, 1, // i += 1
      0x20, 2, 0x20, 1, 0x6A, 0x21, 2, // acc += i
      0x0C, 0, // continue
      0x0B, 0x0B, // end loop, end block
      0x20, 2, 0x0B) // return acc
    assert(run1(Seq(I32), Seq(I32), sum, locals = Seq(I32, I32))(10L) === Some(55L))
    // value-carrying block: block (result i32) with a br that carries 42
    // past dead code (the two bt!=void blocks in the artifact use this)
    val carrying = b(
      0x02, 0x7F, // block (result i32)
      0x41) ++ sleb(42) ++ b(
      0x0C, 0, // br 0 carrying 42
      0x41) ++ sleb(7) ++ b( // dead
      0x0B,
      0x41) ++ sleb(1) ++ b(0x6A, 0x0B) // +1 after the block
    assert(run1(Seq(), Seq(I32), carrying)() === Some(43L))
    // br_table: 0 -> 10, 1 -> 20, default -> 30
    val table = b(
      0x02, 0x40, 0x02, 0x40, 0x02, 0x40,
      0x20, 0, 0x0E, 2, 0, 1, 2, // br_table [0 1] default 2
      0x0B, // end inner
      0x41) ++ sleb(10) ++ b(0x0F, 0x0B, // -> 10
      0x41) ++ sleb(20) ++ b(0x0F, 0x0B, // -> 20
      0x41) ++ sleb(30) ++ b(0x0F, 0x0B)
    // body layout: innermost block returns via the first arm
    val m = module(Seq((Seq(I32), Seq(I32)))
      , Seq((0, Nil, table)))
    val inst = new WasmInstance(m)
    assert(inst.invoke("f0", 0L) === Some(10L))
    assert(new WasmInstance(m).invoke("f0", 1L) === Some(20L))
    assert(new WasmInstance(m).invoke("f0", 5L) === Some(30L))
  }

  test("call_indirect: dispatch by table index, null entry and signature " +
    "mismatch trap") {
    // f1: () -> i32 returns 11; f2: () -> i32 returns 22; f3(i32)->i32 id
    // f0(i) = call_indirect[type ()->i32](table[i])
    val t0 = (Seq(I32), Seq(I32)) // f0, f3
    val t1 = (Seq.empty[Int], Seq(I32)) // f1, f2
    val f0 = b(0x20, 0, 0x11, 1, 0x00, 0x0B) // call_indirect type 1
    val f1 = b(0x41) ++ sleb(11) ++ b(0x0B)
    val f2 = b(0x41) ++ sleb(22) ++ b(0x0B)
    val f3 = b(0x20, 0, 0x0B)
    // table: [f1, f2, f3] at 0,1,2; entry 3 exists but is null
    val m = module(Seq(t0, t1),
      Seq((0, Nil, f0), (1, Nil, f1), (1, Nil, f2), (0, Nil, f3)),
      table = Some(Seq(1, 2, 3)))
    // the assembler writes table size == elem count; extend: use index 2 = f3
    assert(new WasmInstance(m).invoke("f0", 0L) === Some(11L))
    assert(new WasmInstance(m).invoke("f0", 1L) === Some(22L))
    // f3 has a DIFFERENT canonical signature -> trap
    val t = intercept[WasmTrap] { new WasmInstance(m).invoke("f0", 2L) }
    assert(t.msg.contains("signature mismatch"))
    val oob = intercept[WasmTrap] { new WasmInstance(m).invoke("f0", 9L) }
    assert(oob.msg.contains("table"))
  }

  test("fuel guard: a runaway infinite loop becomes a trap, not a hang") {
    val spin = b(0x03, 0x40, 0x0C, 0, 0x0B, 0x0B)
    val m = module(Seq((Seq.empty[Int], Seq.empty[Int])), Seq((0, Nil, spin)))
    val inst = new WasmInstance(m)
    inst.setFuel(100000)
    val t = intercept[WasmTrap] { inst.invoke("f0") }
    assert(t.msg.contains("budget"))
  }

  test("if/else structured control (r18): value-carrying, nested, no-else, " +
    "dead-then revive at else, if inside a loop — the stock-toolchain " +
    "control idiom the r17 surface rejected now EXECUTES") {
    // (func (param i32) (result i32) local.get 0 if(result i32) i32.const 1
    //  else i32.const 2 end end) — the exact body the r17 surface rejected
    val basic = b(0x20, 0, 0x04, 0x7F, 0x41, 1, 0x05, 0x41, 2, 0x0B, 0x0B)
    assert(run1(Seq(I32), Seq(I32), basic)(1L) === Some(1L))
    assert(run1(Seq(I32), Seq(I32), basic)(0L) === Some(2L))
    assert(run1(Seq(I32), Seq(I32), basic)(0xFFFFFFFFL) === Some(1L)) // any nonzero
    // value-carrying f64 arms: if x != 0 then 2.5 else -7.0
    val fsel = b(0x20, 0, 0x04, 0x7C,
      0x44, 0, 0, 0, 0, 0, 0, 0x04, 0x40, // f64.const 2.5
      0x05, 0x44, 0, 0, 0, 0, 0, 0, 0x1C, 0xC0, // f64.const -7.0
      0x0B, 0x0B)
    assert(run1(Seq(I32), Seq(F64), fsel)(3L)
      === Some(java.lang.Double.doubleToRawLongBits(2.5)))
    assert(run1(Seq(I32), Seq(F64), fsel)(0L)
      === Some(java.lang.Double.doubleToRawLongBits(-7.0)))
    // nested: if a then (if b then 10 else 20) else 30
    val nested = b(0x20, 0, 0x04, 0x7F,
      0x20, 1, 0x04, 0x7F, 0x41, 10, 0x05, 0x41, 20, 0x0B,
      0x05, 0x41, 30, 0x0B, 0x0B)
    assert(run1(Seq(I32, I32), Seq(I32), nested)(1L, 1L) === Some(10L))
    assert(run1(Seq(I32, I32), Seq(I32), nested)(1L, 0L) === Some(20L))
    assert(run1(Seq(I32, I32), Seq(I32), nested)(0L, 9L) === Some(30L))
    // if WITHOUT else (arity 0): local set only on the taken path
    val noElse = b(0x41, 5, 0x21, 1,
      0x20, 0, 0x04, 0x40, 0x41, 42, 0x21, 1, 0x0B,
      0x20, 1, 0x0B)
    assert(run1(Seq(I32), Seq(I32), noElse, locals = Seq(I32))(1L) === Some(42L))
    assert(run1(Seq(I32), Seq(I32), noElse, locals = Seq(I32))(0L) === Some(5L))
    // then arm ends DEAD (return) — the else arm must revive and run
    val deadThen = b(0x20, 0, 0x04, 0x7F, 0x41, 11, 0x0F,
      0x05, 0x41, 22, 0x0B, 0x0B)
    assert(run1(Seq(I32), Seq(I32), deadThen)(1L) === Some(11L))
    assert(run1(Seq(I32), Seq(I32), deadThen)(0L) === Some(22L))
    // if driving a loop exit: sum 1..n with an if-based break
    // loop: i += 1; acc += i; if (i >= n) break out of the block
    val loopIf = b(
      0x02, 0x40, 0x03, 0x40,
      0x20, 1, 0x41, 1, 0x6A, 0x21, 1, // i += 1
      0x20, 2, 0x20, 1, 0x6A, 0x21, 2, // acc += i
      0x20, 1, 0x20, 0, 0x4E, // i >= n
      0x04, 0x40, 0x0C, 2, 0x0B, // if: br out of the outer block
      0x0C, 0, 0x0B, 0x0B,
      0x20, 2, 0x0B)
    assert(run1(Seq(I32), Seq(I32), loopIf, locals = Seq(I32, I32))(10L)
      === Some(55L))
  }

  test("0xFC saturating truncations (r18): all 8 forms over NaN/inf/bound " +
    "corners — non-trapping where the 0xA8-0xB1 family traps") {
    val F32 = 0x7D
    def f64c(d: Double): Seq[Byte] = {
      val bits = java.lang.Double.doubleToRawLongBits(d)
      b(0x44) ++ (0 until 8).map(k => ((bits >> (8 * k)) & 0xFF).toByte)
    }
    def sat1(sub: Int, rt: Int, x: Double): Long = {
      val body = f64c(x) ++ b(0xFC, sub, 0x0B)
      run1(Nil, Seq(rt), body)().get
    }
    // i32.trunc_sat_f64_s (0xFC 2)
    assert(sat1(2, I32, 3.9) === 3L)
    assert(sat1(2, I32, -3.9) === ((-3L) & 0xFFFFFFFFL))
    assert(sat1(2, I32, Double.NaN) === 0L)
    assert(sat1(2, I32, 1e300) === 0x7FFFFFFFL)
    assert(sat1(2, I32, -1e300) === 0x80000000L)
    // i32.trunc_sat_f64_u (0xFC 3)
    assert(sat1(3, I32, -0.5) === 0L) // fractional negatives trunc to 0
    assert(sat1(3, I32, -7.0) === 0L)
    assert(sat1(3, I32, 5e9) === 0xFFFFFFFFL) // ≥ 2^32 saturates
    assert(sat1(3, I32, 4.2e9) === 4200000000L) // in u32 range: exact
    assert(sat1(3, I32, 3000000000.0) === 3000000000L)
    assert(sat1(3, I32, Double.NaN) === 0L)
    // i64.trunc_sat_f64_s (0xFC 6)
    assert(sat1(6, I64, 1e300) === Long.MaxValue)
    assert(sat1(6, I64, -1e300) === Long.MinValue)
    assert(sat1(6, I64, Double.NaN) === 0L)
    assert(sat1(6, I64, -123.99) === -123L)
    // i64.trunc_sat_f64_u (0xFC 7)
    assert(sat1(7, I64, 2e19) === -1L) // u64 max
    assert(sat1(7, I64, 1e19) === java.lang.Long.parseUnsignedLong("10000000000000000000"))
    assert(sat1(7, I64, -5.0) === 0L)
    assert(sat1(7, I64, Double.NaN) === 0L)
    // f32-source forms (0xFC 0/1/4/5) via a f64→f32 demote in the body
    def sat32(sub: Int, rt: Int, x: Double): Long = {
      val body = f64c(x) ++ b(0xB6, 0xFC, sub, 0x0B) // f32.demote_f64 first
      run1(Nil, Seq(rt), body)().get
    }
    assert(sat32(0, I32, 2.9) === 2L)
    assert(sat32(0, I32, 1e30) === 0x7FFFFFFFL)
    assert(sat32(0, I32, Double.NaN) === 0L)
    assert(sat32(1, I32, -1e30) === 0L)
    assert(sat32(1, I32, 1e10) === 0xFFFFFFFFL)
    assert(sat32(4, I64, -1e30) === Long.MinValue)
    assert(sat32(5, I64, 1e30) === -1L)
    // the TRAPPING family is untouched: 0xAA on NaN still traps
    val trap = intercept[WasmTrap] {
      run1(Nil, Seq(I32), f64c(Double.NaN) ++ b(0xAA, 0x0B))()
    }
    assert(trap.msg.contains("invalid"))
  }

  test("0xFC memory.copy / memory.fill (r18): overlap-safe memmove " +
    "semantics, fill, zero-length at the boundary, OOB traps") {
    // store a marker i64, copy 4 bytes 0→2 (overlapping forward), read back
    val copyBody = b(0x41, 0) ++ b(0x42) ++ sleb(0x0807060504030201L) ++
      b(0x37, 0x03, 0x00) ++
      b(0x41, 2, 0x41, 0, 0x41, 4, 0xFC, 10, 0x00, 0x00) ++
      b(0x41, 0, 0x29, 0x03, 0x00, 0x0B)
    assert(run1(Nil, Seq(I64), copyBody, memPages = 1)()
      === Some(0x0807040302010201L))
    // backward overlap: copy 4 bytes 2→0
    val copyBack = b(0x41, 0) ++ b(0x42) ++ sleb(0x0807060504030201L) ++
      b(0x37, 0x03, 0x00) ++
      b(0x41, 0, 0x41, 2, 0x41, 4, 0xFC, 10, 0x00, 0x00) ++
      b(0x41, 0, 0x29, 0x03, 0x00, 0x0B)
    assert(run1(Nil, Seq(I64), copyBack, memPages = 1)()
      === Some(0x0807060506050403L))
    // fill [3, 7) with 0xAB and read the i64 at 0
    val fillBody = b(0x41, 3, 0x41) ++ sleb(0xABL) ++ b(0x41, 4, 0xFC, 11, 0x00) ++
      b(0x41, 0, 0x29, 0x03, 0x00, 0x0B)
    assert(run1(Nil, Seq(I64), fillBody, memPages = 1)()
      === Some(0x00ABABABAB000000L))
    // zero-length copy AT the memory end is legal (spec): no trap
    val zeroAtEnd = b(0x41) ++ sleb(65536L) ++ b(0x41, 0, 0x41, 0,
      0xFC, 10, 0x00, 0x00, 0x41, 7, 0x0B)
    assert(run1(Nil, Seq(I32), zeroAtEnd, memPages = 1)() === Some(7L))
    // OOB copy and fill trap with the op named
    val oobCopy = b(0x41, 0, 0x41) ++ sleb(65530L) ++ b(0x41, 16,
      0xFC, 10, 0x00, 0x00, 0x41, 0, 0x0B)
    val t1 = intercept[WasmTrap] { run1(Nil, Seq(I32), oobCopy, memPages = 1)() }
    assert(t1.msg.contains("memory.copy"))
    val oobFill = b(0x41) ++ sleb(65530L) ++ b(0x41, 0, 0x41, 16,
      0xFC, 11, 0x00, 0x41, 0, 0x0B)
    val t2 = intercept[WasmTrap] { run1(Nil, Seq(I32), oobFill, memPages = 1)() }
    assert(t2.msg.contains("memory.fill"))
  }

  test("an artifact using a STILL-unsupported instruction class fails at " +
    "LOAD time with the class NAMED — CREATE-statement surface, not a " +
    "bare hex byte (r19: the SIMD v128 core and typed select moved " +
    "INSIDE the surface; i8x16/i16x8 lanes, shuffle, memory.init, " +
    "reference types remain outside)") {
    // 0xFD SIMD: the v128 core is INSIDE the surface since r19; the
    // i8x16/i16x8/f32x4 lane families remain named rejections
    val simd = b(0xFD, 13, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12,
      13, 14, 15, 0x1A, 0x0B) // i8x16.shuffle
    val e = intercept[WasmModule.WasmParseException] {
      module(Seq((Seq.empty[Int], Seq(I32))), Seq((0, Nil, simd)))
    }
    assert(e.getMessage.contains("shuffle"), e.getMessage)
    val i8splat = b(0x41, 1, 0xFD, 15, 0x1A, 0x1A, 0x41, 1, 0x0B) // i8x16.splat
    val e1b = intercept[WasmModule.WasmParseException] {
      module(Seq((Seq.empty[Int], Seq(I32))), Seq((0, Nil, i8splat)))
    }
    assert(e1b.getMessage.contains("i8x16"), e1b.getMessage)
    // 0xFC 8 = memory.init needs passive segments — named rejection
    val mi = b(0x41, 0, 0x41, 0, 0x41, 0, 0xFC, 8, 0x00, 0x00, 0x0B)
    val e2 = intercept[WasmModule.WasmParseException] {
      module(Seq((Seq.empty[Int], Seq.empty[Int])), Seq((0, Nil, mi)))
    }
    assert(e2.getMessage.contains("memory.init"))
    // reference types (0xD0 ref.null) — still a named rejection
    // (typed select 0x1C moved INSIDE the surface with the r19 SIMD core)
    val rn = b(0xD0, 0x70, 0x1A, 0x41, 1, 0x0B)
    val e3 = intercept[WasmModule.WasmParseException] {
      module(Seq((Seq.empty[Int], Seq(I32))), Seq((0, Nil, rn)))
    }
    assert(e3.getMessage.contains("reference types"))
    // a dangling else still fails structurally
    val badElse = b(0x41, 1, 0x05, 0x0B)
    val e4 = intercept[WasmModule.WasmParseException] {
      module(Seq((Seq.empty[Int], Seq(I32))), Seq((0, Nil, badElse)))
    }
    assert(e4.getMessage.contains("else without open if"))
  }

  test("module-level guards: arity mismatch, unknown export, call-depth cap") {
    val id = b(0x20, 0, 0x0B)
    val m = module(Seq((Seq(I32), Seq(I32))), Seq((0, Nil, id)))
    intercept[WasmTrap] { new WasmInstance(m).invoke("f0") } // 0 args
    intercept[Exception] { new WasmInstance(m).invoke("nope", 1L) }
    // self-recursive function with no base case: call-depth trap
    val rec = b(0x20, 0, 0x10, 0, 0x0B) // f0(x) = f0(x)
    val mr = module(Seq((Seq(I32), Seq(I32))), Seq((0, Nil, rec)))
    val t = intercept[WasmTrap] { new WasmInstance(mr).invoke("f0", 1L) }
    assert(t.msg.contains("depth") || t.msg.contains("stack"))
  }

  // ---- SIMD v128 core (r19) ----------------------------------------------

  private val V128 = 0x7B
  private def fd(sub: Int): Seq[Byte] = Seq(0xFD.toByte) ++ uleb(sub.toLong)
  private def dbits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
  private def dval(l: Long): Double = java.lang.Double.longBitsToDouble(l)
  private def cf64(v: Double): Seq[Byte] =
    b(0x44) ++ (0 until 8).map(k => ((dbits(v) >> (8 * k)) & 0xFF).toByte)

  test("SIMD f64x2: load/store/splat/mul/sqrt/add round-trip through " +
    "linear memory — lanes computed exactly like the scalar ops") {
    // f0(a, b) = (a + sqrt(2a)) + (b + sqrt(2b)), all via v128 lanes;
    // v128.store takes [addr, vec] — the address is pushed first
    val body2 =
      b(0x41, 0) ++ b(0x20, 0) ++ b(0x39, 0x03, 0) ++  // store a @0
      b(0x41, 8) ++ b(0x20, 1) ++ b(0x39, 0x03, 0) ++  // store b @8
      b(0x41, 16) ++                                   // dst addr
      (b(0x41, 0) ++ fd(0) ++ b(0x00, 0x00)) ++        // X = v128.load @0
      (cf64(2.0) ++ fd(20)) ++                         // splat 2
      fd(242) ++ fd(239) ++                            // sqrt(2X)
      (b(0x41, 0) ++ fd(0) ++ b(0x00, 0x00)) ++ fd(240) ++ // + X
      fd(11) ++ b(0x00, 0x00) ++                       // v128.store @16
      b(0x41, 16, 0x2B, 0x03, 0) ++                    // f64.load @16
      b(0x41, 24, 0x2B, 0x03, 0) ++                    // f64.load @24
      b(0xA0, 0x0B)                                    // f64.add, end
    for ((a, bv) <- Seq((1.5, 3.25), (0.0, 9.0), (7.0, 0.125))) {
      val got = run1(Seq(F64, F64), Seq(F64), body2, memPages = 1)(
        dbits(a), dbits(bv)).map(dval)
      val want = (a + math.sqrt(2 * a)) + (bv + math.sqrt(2 * bv))
      assert(got === Some(want), s"($a, $bv): $got != $want")
    }
  }

  test("SIMD i32x4: splat/add/mul/min/max/shifts/compares/bitmask/" +
    "all_true and extract/replace lanes agree with scalar arithmetic") {
    def k32(v: Int): Seq[Byte] = b(0x41) ++ sleb(v.toLong)
    // v = (replace_lane2(splat(x), 100) * splat(2)) + splat(1), held in
    // a v128 LOCAL (decode-time 2-slot mapping); sum its 4 lanes
    val body2 =
      (b(0x20, 0) ++ fd(17) ++
        (k32(100) ++ fd(28) ++ b(2)) ++
        (k32(2) ++ fd(17)) ++ fd(181) ++
        (k32(1) ++ fd(17)) ++ fd(174) ++
        b(0x21, 1)) ++                             // local.set v (v128)
      (b(0x20, 1) ++ fd(27) ++ b(0)) ++            // extract 0
      (b(0x20, 1) ++ fd(27) ++ b(1) ++ b(0x6A)) ++ // + extract 1
      (b(0x20, 1) ++ fd(27) ++ b(2) ++ b(0x6A)) ++
      (b(0x20, 1) ++ fd(27) ++ b(3) ++ b(0x6A)) ++
      b(0x0B)
    for (x <- Seq(0L, 5L, -3L & 0xFFFFFFFFL)) {
      val xi = x.toInt
      val lanes = Array(xi, xi, 100, xi).map(v => v * 2 + 1)
      val want = (lanes.sum.toLong) & 0xFFFFFFFFL
      assert(run1(Seq(I32), Seq(I32), body2, locals = Seq(V128))(x)
        === Some(want), s"x=$xi")
    }
    // compares + bitmask + all_true + shifts: f1(a,b) packs
    // [bitmask(splat(a) < [b,b,b,b]), all_true, (a << 1) lane0 of shl]
    val cmpBody =
      (b(0x20, 0) ++ fd(17)) ++ (b(0x20, 1) ++ fd(17)) ++
      fd(57) ++                                    // lt_s lanewise
      b(0x21, 2) ++
      (b(0x20, 2) ++ fd(164)) ++                   // bitmask → 0 or 15
      (b(0x20, 2) ++ fd(163) ++ b(0x41, 16, 0x6C)) ++ // all_true*16
      b(0x6A) ++
      ((b(0x20, 0) ++ fd(17)) ++ b(0x41, 1) ++ fd(171) ++
        fd(27) ++ b(0) ++ b(0x41, 5, 0x74)) ++     // (a<<1) << 5
      b(0x6A, 0x0B)
    def cmpWant(a: Int, bv: Int): Long = {
      val m = if (a < bv) 15L else 0L
      val at = if (a < bv) 16L else 0L
      ((m + at + ((a << 1) << 5)) & 0xFFFFFFFFL)
    }
    for ((a, bv) <- Seq((1, 2), (5, -7), (-2, -1)))
      assert(run1(Seq(I32, I32), Seq(I32), cmpBody,
        locals = Seq(V128))(a.toLong & 0xFFFFFFFFL, bv.toLong & 0xFFFFFFFFL)
        === Some(cmpWant(a, bv)), s"($a,$bv)")
  }

  test("SIMD v128 control-flow integration: v128.const, value-carrying " +
    "BLOCK returning v128 (branch arity 2), drop of a v128, 2-slot " +
    "select, bitselect/not/and/or/xor/andnot, i64x2 + conversions") {
    // f0(c) -> i64:
    //   v = block(result v128) { v128.const [7, 9]; br 0 }
    //   w = select(v128.const [1,2], v128.const [3,4], c)  (c!=0 → [1,2])
    //   drop v128.const [5,6]
    //   u = bitselect(v, w, v128.const [lo ones, 0])
    //   return extract0(u) + extract1(u)     (i64x2)
    def cv128(lo: Long, hi: Long): Seq[Byte] =
      fd(12) ++ (0 until 8).map(k => ((lo >> (8 * k)) & 0xFF).toByte) ++
        (0 until 8).map(k => ((hi >> (8 * k)) & 0xFF).toByte)
    val body2 =
      (b(0x02, V128) ++ cv128(7, 9) ++ b(0x0C, 0, 0x0B)) ++
      (cv128(1, 2) ++ cv128(3, 4) ++ b(0x20, 0) ++ b(0x1B)) ++
      (cv128(5, 6) ++ b(0x1A)) ++
      cv128(-1L, 0L) ++ fd(82) ++
      b(0x21, 1) ++
      (b(0x20, 1) ++ fd(29) ++ b(0)) ++
      (b(0x20, 1) ++ fd(29) ++ b(1)) ++
      b(0x7C, 0x0B)
    // c != 0: select → [1,2]; bitselect(v=[7,9], w=[1,2], mask=[ones,0])
    //   → [7 (from v), 2 (from w)] → 9
    assert(run1(Seq(I32), Seq(I64), body2, locals = Seq(V128))(1L)
      === Some(9L))
    // c == 0: select → [3,4]; bitselect → [7, 4] → 11
    assert(run1(Seq(I32), Seq(I64), body2, locals = Seq(V128))(0L)
      === Some(11L))
    // typed select (0x1C) — v128 needs it per strict validation
    val tsBody =
      (cv128(10, 20) ++ cv128(30, 40) ++ b(0x20, 0) ++
        b(0x1C, 0x01, V128)) ++
      b(0x21, 1) ++
      (b(0x20, 1) ++ fd(29) ++ b(0)) ++
      (b(0x20, 1) ++ fd(29) ++ b(1)) ++
      b(0x7C, 0x0B)
    assert(run1(Seq(I32), Seq(I64), tsBody, locals = Seq(V128))(1L)
      === Some(30L))
    assert(run1(Seq(I32), Seq(I64), tsBody, locals = Seq(V128))(0L)
      === Some(70L))
    // i64x2 arithmetic + trunc_sat/convert lanes
    // f1(a: f64) = extract0(trunc_sat_f64x2_s_zero(splat(a) * splat(2)))
    //              + extract1(i64x2 shl([a as i64x2 splat of 3], 2))
    val conv =
      (b(0x20, 0) ++ fd(20)) ++ (cf64(2.0) ++ fd(20)) ++ fd(242) ++
      fd(252) ++                                    // i32x4.trunc_sat_s_zero
      fd(27) ++ b(0) ++                             // i32 lane 0
      b(0xAC) ++                                    // i64.extend_i32_s
      ((b(0x42, 3) ++ fd(18)) ++ b(0x41, 2) ++ fd(203) ++
        fd(29) ++ b(1)) ++                          // (3 << 2) lane1
      b(0x7C, 0x0B)
    for (a <- Seq(1.7, -2.9, 1e12))
      assert(run1(Seq(F64), Seq(I64), conv)(dbits(a))
        === Some((a * 2).toInt.toLong + 12L), s"a=$a")
  }

  test("SIMD v128 block-result DROP (r20 ADVICE fix): a block/if whose " +
    "result type is v128 marks the merged 2-slot value at end, so a " +
    "following untyped drop pops both slots instead of desyncing") {
    def cv128(lo: Long, hi: Long): Seq[Byte] =
      fd(12) ++ (0 until 8).map(k => ((lo >> (8 * k)) & 0xFF).toByte) ++
        (0 until 8).map(k => ((hi >> (8 * k)) & 0xFF).toByte)
    // f(c) -> i64: i64.const 5; block(result v128){ v128.const } end;
    // drop; i64.const 37; add — a 1-slot drop would leave half the
    // vector on the stack and return garbage
    val body =
      b(0x42, 5) ++
      (b(0x02, V128) ++ cv128(7, 9) ++ b(0x0B)) ++
      b(0x1A) ++
      b(0x42, 37) ++ b(0x7C, 0x0B)
    assert(run1(Seq(I32), Seq(I64), body)(0L) === Some(42L))
    // same through an if/else merge carrying v128
    val bodyIf =
      b(0x42, 5) ++
      (b(0x20, 0) ++ b(0x04, V128) ++ cv128(1, 2) ++ b(0x05) ++
        cv128(3, 4) ++ b(0x0B)) ++
      b(0x1A) ++
      b(0x42, 37) ++ b(0x7C, 0x0B)
    assert(run1(Seq(I32), Seq(I64), bodyIf)(1L) === Some(42L))
    assert(run1(Seq(I32), Seq(I64), bodyIf)(0L) === Some(42L))
  }

  test("SIMD f32x4 (r19): splat/extract/replace/compares/abs/neg/sqrt/" +
    "add/sub/mul/div/min/max and the i32x4<->f32x4 conversions agree " +
    "with scalar float arithmetic lane-for-lane") {
    val F32 = 0x7D
    def fb(v: Float): Long =
      java.lang.Float.floatToRawIntBits(v).toLong & 0xFFFFFFFFL
    def fv(l: Long): Float = java.lang.Float.intBitsToFloat(l.toInt)
    // f0(a, b) = lane0(sqrt(|splat(a)|) * splat(b)) + lane3(splat(a) /
    //            replace_lane3(splat(b), 2.0f)) — f32 result
    val body =
      (b(0x20, 0) ++ fd(19)) ++ fd(224) ++ fd(227) ++  // sqrt(|splat(a)|)
      (b(0x20, 1) ++ fd(19)) ++ fd(230) ++             // * splat(b)
      fd(31) ++ b(0) ++                                 // lane 0
      ((b(0x20, 0) ++ fd(19)) ++
        (b(0x20, 1) ++ fd(19)) ++
        (b(0x43) ++ Seq[Byte](0, 0, 0, 0x40)) ++        // 2.0f
        fd(32) ++ b(3) ++                               // replace lane 3
        fd(231) ++                                      // div
        fd(31) ++ b(3)) ++                              // lane 3
      b(0x92, 0x0B)                                     // f32.add
    for ((a, bv) <- Seq((4.0f, 3.0f), (-9.0f, 0.5f), (2.25f, -1.5f))) {
      val got = run1(Seq(F32, F32), Seq(F32), body)(fb(a), fb(bv)).map(fv)
      val want = (math.sqrt(math.abs(a).toDouble).toFloat * bv) + (a / 2.0f)
      assert(got === Some(want), s"($a, $bv): $got != $want")
    }
    // compares + min/max + conversions: f1(x) =
    //   bitmask-free check via i32x4 lanes of (splat(x) < splat(1.5f))
    //   + trunc_sat lane0 of splat(x * 4)  (scalar pre-mul)
    val conv =
      ((b(0x20, 0) ++ fd(19)) ++
        (b(0x43) ++ Seq[Byte](0, 0, 0xC0.toByte, 0x3F)) ++ fd(19) ++ // 1.5f
        fd(65) ++                                       // f32x4.eq? no: 65=eq
        fd(27) ++ b(1)) ++                              // i32 lane 1 (mask)
      ((b(0x20, 0) ++ fd(19)) ++
        (b(0x43) ++ Seq[Byte](0, 0, 0x80.toByte, 0x40)) ++ fd(19) ++ // 4.0f
        fd(230) ++                                      // mul
        fd(248) ++                                      // trunc_sat_s
        fd(27) ++ b(2)) ++                              // lane 2
      b(0x6A, 0x0B)                                     // i32.add
    for (x <- Seq(1.5f, -2.75f, 7.1f)) {
      val eqMask = if (x == 1.5f) 0xFFFFFFFFL else 0L
      val want = (eqMask + (x * 4.0f).toInt.toLong) & 0xFFFFFFFFL
      assert(run1(Seq(F32), Seq(I32), conv)(fb(x)) === Some(want), s"x=$x")
    }
  }

  test("SIMD memory shapes (r19): load_splat / extending loads / " +
    "load_zero / load_lane / store_lane and the vector round ops agree " +
    "with scalar arithmetic") {
    // f0(): seed memory bytes 0..15 = 1..16, then:
    //  a = i64x2 lane1 of load8x8_s @0           (bytes 5..8 sign-ext 16-bit)
    //  b = lane0 of load16_splat @2              (0x0403 repeated)
    //  c = lane1 of load64_zero @0               (must be 0)
    //  d = store8_lane(lane 9) of load8_splat @4 → read back byte @40
    val seed: Seq[Byte] = {
      val s = Seq.newBuilder[Byte]
      for (k <- 0 until 16)
        s ++= (b(0x41) ++ sleb(k)) ++ (b(0x41) ++ sleb(k + 1)) ++ b(0x3A, 0x00, 0x00)
      s.result()
    }
    val body = seed ++
      // a: load8x8_s @0 → i16 lanes [1..8]; lane 5 (hi word idx) via
      // i32x4.extract of the packed half: use i64x2.extract lane1
      (b(0x41, 0) ++ fd(1) ++ b(0x00, 0x00) ++ fd(29) ++ b(1)) ++
      // b: load16_splat @2 → lanes 0x0403; i32x4.extract lane 2
      (b(0x41, 2) ++ fd(8) ++ b(0x00, 0x00) ++ fd(27) ++ b(2) ++ b(0xAC)) ++
      b(0x7C) ++
      // c: load64_zero @0 lane1 = 0
      (b(0x41, 0) ++ fd(93) ++ b(0x00, 0x00) ++ fd(29) ++ b(1)) ++
      b(0x7C) ++
      // d: store8_lane lane 9 of load8_splat @4 at addr 40, read back
      (b(0x41, 40) ++
        (b(0x41, 4) ++ fd(7) ++ b(0x00, 0x00)) ++
        fd(88) ++ b(0x00, 0x00, 9) ++
        b(0x41, 40, 0x2D, 0x00, 0x00) ++ b(0xAC)) ++
      b(0x7C, 0x0B)
    // bytes 1..8 → i16 lanes [1..8]; i64 lane1 = lanes 5-8 packed:
    val aWant = 5L | (6L << 16) | (7L << 32) | (8L << 48)
    val bWant = 0x04030403L // each 32-bit lane holds TWO 16-bit copies
    val dWant = 5L // byte @4 is 5; splat stores 5 everywhere
    assert(run1(Seq.empty, Seq(I64), body, memPages = 1)()
      === Some(aWant + bWant + 0L + dWant))
    // extending load signedness: byte 0x80 at addr 0 → load8x8_s lane0
    // = -128 (as 16-bit), _u = 128
    val sgn =
      (b(0x41, 0, 0x41) ++ sleb(0x80) ++ b(0x3A, 0x00, 0x00)) ++
      (b(0x41, 0) ++ fd(1) ++ b(0x00, 0x00) ++ fd(29) ++ b(0) ++
        b(0x42) ++ sleb(0xFFFF) ++ b(0x83)) ++ // & 0xFFFF: lane0 16 bits
      (b(0x41, 0) ++ fd(2) ++ b(0x00, 0x00) ++ fd(29) ++ b(0) ++
        b(0x42) ++ sleb(0xFFFF) ++ b(0x83)) ++
      b(0x7C, 0x0B)
    assert(run1(Seq.empty, Seq(I64), sgn, memPages = 1)()
      === Some((0xFF80L + 0x0080L)))
    // vector rounds: f64x2 lanes of nearest(2.5, 3.5) = (2, 4) —
    // banker's, exactly the scalar 0x9E semantics
    val rnd =
      (cf64(2.5) ++ fd(20)) ++ cf64(3.5) ++ fd(34) ++ b(1) ++ // [2.5, 3.5]
      fd(148) ++                                              // f64x2.nearest
      b(0x21, 0) ++                                           // v128 local 0
      (b(0x20, 0) ++ fd(33) ++ b(0) ++ b(0xB0)) ++            // lane0 → i64
      (b(0x20, 0) ++ fd(33) ++ b(1) ++ b(0xB0)) ++
      b(0x7C, 0x0B)
    assert(run1(Seq.empty, Seq(I64), rnd, locals = Seq(V128), memPages = 1)()
      === Some(6L)) // 2 + 4
    // f32x4.floor on [-1.5f lanes]
    val fl =
      (b(0x43) ++ Seq[Byte](0, 0, 0xC0.toByte, 0xBF.toByte)) ++ fd(19) ++ // -1.5f
      fd(104) ++                                              // f32x4.floor
      fd(31) ++ b(2) ++                                       // lane 2
      b(0x0B)
    val got = run1(Seq.empty, Seq(0x7D), fl, memPages = 1)()
    assert(got.map(v => java.lang.Float.intBitsToFloat(v.toInt))
      === Some(-2.0f))
  }

  // ---- the interpreter's cold-op arms -------------------------------------

  /** Every opcode the interpreter dispatches outside its hot loop, run
    * over fixed operands; the digest was recorded before those arms were
    * split into their own methods and must never move. Each function
    * either uses v128 or declares a v128 local, so WasmJit (which compiles
    * no SIMD function) leaves it to the interpreter. Float results are
    * recorded with every NaN folded to one token: neither the JVM (for
    * its arithmetic and Math intrinsics, which may differ between the
    * bytecode interpreter and compiled code) nor the wasm spec fixes a
    * computed NaN's sign and payload; every non-NaN float keeps its bits.
    * The digest was also checked under -Xint and -XX:-TieredCompilation. */
  test("cold-op semantics pin: every scalar and v128 opcode of the " +
    "interpreter's cold arms, over NaN payloads, -0.0, +-Inf, subnormals, " +
    "integer bounds and mixed lanes, digests to the recorded value") {
    val F32 = 0x7D
    val M32 = 0xFFFFFFFFL
    def fb(v: Float): Long = java.lang.Float.floatToRawIntBits(v).toLong & M32
    val i32s = Seq(0L, 1L, M32, 0x80000000L, 0x7FFFFFFFL, 0x80L, 0xFFFFL, 33L,
      0x00F0F000L)
    val i64s = Seq(0L, 1L, -1L, Long.MinValue, Long.MaxValue, 0x80L,
      0x80000000L, 65L, 0x123456789ABCDEF0L)
    val f32s = Seq(0f, -0f, 1.5f, -2.5f, 0.5f, 3.5f, -0.75f, -1f,
      Float.MaxValue, Float.MinPositiveValue, Float.PositiveInfinity,
      Float.NegativeInfinity, 2147483648f, -2147483904f, 4294967296f,
      9.223372e18f).map(fb) ++
      Seq(0x7FC12345L, 0xFFC00001L, 0x7F812345L, 0x007FFFFFL) // NaNs, max subnormal
    val f64s = Seq(0.0, -0.0, 1.5, -2.5, 0.5, 3.5, -0.75, -1.0,
      Double.MaxValue, Double.MinPositiveValue, Double.PositiveInfinity,
      Double.NegativeInfinity, 2147483647.5, -2147483648.5, 4294967295.5,
      9.223372036854776E18, 1.8446744073709552E19).map(dbits) ++
      Seq(0x7FF8000000012345L, 0xFFF0000000000001L, 0x000FFFFFFFFFFFFFL)
    def grid(t: Int): Seq[Long] = t match {
      case I32 => i32s
      case I64 => i64s
      case F32 => f32s
      case F64 => f64s
    }
    val v128s: Seq[(Long, Long)] = Seq(
      (0L, 0L), (-1L, -1L),
      (Long.MinValue, Long.MaxValue),
      (0x7FFFFFFF80000000L, 0x00000001FFFFFFFFL),
      (0x7FC12345L | (fb(-0f) << 32), fb(Float.PositiveInfinity) | (1L << 32)),
      (fb(1.5f) | (fb(-2.5f) << 32), fb(0.5f) | (fb(-0.75f) << 32)),
      (fb(2147483648f) | (fb(4294967296f) << 32), fb(-1f) | (0xFFC00001L << 32)),
      (0x7FF8000000012345L, dbits(-0.0)),
      (dbits(Double.PositiveInfinity), 1L),
      (dbits(2.5), dbits(-3.5)),
      (dbits(1e10), dbits(-2147483648.5)),
      (0x80FF017F00FE8001L, 0x0123456789ABCDEFL))

    val md = java.security.MessageDigest.getInstance("SHA-256")
    var cases = 0
    def rec(line: String): Unit = {
      md.update(line.getBytes("UTF-8")); md.update('\n'.toByte); cases += 1
    }
    def canon(t: Int, v: Long): String = t match {
      case F32 if java.lang.Float.isNaN(java.lang.Float.intBitsToFloat(v.toInt)) => "nan"
      case F64 if java.lang.Double.isNaN(dval(v)) => "nan"
      case _ => v.toHexString
    }
    def le(bs: Array[Byte], at: Int): Long =
      (0 until 8).map(k => (bs(at + k) & 0xFFL) << (8 * k)).sum
    // linear memory: one page of a fixed byte pattern (sign bits set in
    // every fourth byte or so), restored before every memory-touching call
    val pattern = Array.tabulate[Byte](65536)(k => (k * 37 + 11).toByte)
    def memWindows(inst: WasmInstance): String = {
      val bs = inst.readBytes(0, 32) ++ inst.readBytes(65536 - 32, 32)
      bs.map(x => f"${x & 0xFF}%02x").mkString
    }
    /** run f0 on `inst`; `out` renders a completed call's result */
    def run(tag: String, inst: WasmInstance, args: Seq[Long], mem: Boolean)(
        out: Option[Long] => String): Unit = {
      if (mem) { inst.reset(); inst.writeBytes(0, pattern) }
      val res = try out(inst.invoke("f0", args: _*))
                catch { case t: WasmTrap => "trap:" + t.getMessage }
      rec(s"$tag|${args.map(_.toHexString).mkString(",")}|$res")
    }
    def inst(ps: Seq[Int], rs: Seq[Int], code: Seq[Byte], memPages: Int = 0,
        prefix: Seq[Byte] = Nil): WasmInstance = {
      val body = prefix ++ ps.indices.flatMap(k => b(0x20, k)) ++ code ++ b(0x0B)
      new WasmInstance(module(Seq((ps, rs)), Seq((0, Seq(V128), body)),
        memPages = memPages))
    }
    def product(ts: Seq[Seq[Long]]): Seq[Seq[Long]] =
      ts.foldLeft(Seq(Seq.empty[Long])) { (acc, g) => for (a <- acc; x <- g) yield a :+ x }

    // ---- scalar: (opcode bytes, params, result) --------------------------
    val bin = (lo: Int, hi: Int, t: Int, r: Int) => (lo to hi).map(o => (b(o), Seq(t, t), r))
    val un = (lo: Int, hi: Int, t: Int, r: Int) => (lo to hi).map(o => (b(o), Seq(t), r))
    val conv = Seq(0xA7 -> (I64, I32), 0xA8 -> (F32, I32), 0xA9 -> (F32, I32),
      0xAA -> (F64, I32), 0xAB -> (F64, I32), 0xAC -> (I32, I64),
      0xAD -> (I32, I64), 0xAE -> (F32, I64), 0xAF -> (F32, I64),
      0xB0 -> (F64, I64), 0xB1 -> (F64, I64), 0xB2 -> (I32, F32),
      0xB3 -> (I32, F32), 0xB4 -> (I64, F32), 0xB5 -> (I64, F32),
      0xB6 -> (F64, F32), 0xB7 -> (I32, F64), 0xB8 -> (I32, F64),
      0xB9 -> (I64, F64), 0xBA -> (I64, F64), 0xBB -> (F32, F64),
      0xBC -> (F32, I32), 0xBD -> (F64, I64), 0xC0 -> (I32, I32),
      0xC1 -> (I32, I32), 0xC2 -> (I64, I64), 0xC3 -> (I64, I64),
      0xC4 -> (I64, I64)).map { case (o, (p, r)) => (b(o), Seq(p), r) }
    val satTrunc = Seq(F32 -> I32, F32 -> I32, F64 -> I32, F64 -> I32,
      F32 -> I64, F32 -> I64, F64 -> I64, F64 -> I64).zipWithIndex
      .map { case ((p, r), s) => (b(0xFC, s), Seq(p), r) }
    val scalar = bin(0x48, 0x4F, I32, I32) ++ un(0x50, 0x50, I64, I32) ++
      bin(0x51, 0x5A, I64, I32) ++ bin(0x5B, 0x60, F32, I32) ++
      bin(0x61, 0x66, F64, I32) ++ un(0x67, 0x69, I32, I32) ++
      Seq(0x6C, 0x6D, 0x6E, 0x6F, 0x70, 0x72, 0x73, 0x75, 0x77, 0x78)
        .flatMap(o => bin(o, o, I32, I32)) ++
      un(0x79, 0x7B, I64, I64) ++ bin(0x7C, 0x8A, I64, I64) ++
      un(0x8B, 0x91, F32, F32) ++ bin(0x92, 0x98, F32, F32) ++
      un(0x99, 0x9F, F64, F64) ++ bin(0xA0, 0xA6, F64, F64) ++
      conv ++ satTrunc
    for ((code, ps, r) <- scalar) {
      val in = inst(ps, Seq(r), code)
      for (args <- product(ps.map(grid)))
        run(code.map(_ & 0xFF).mkString("op", ".", ""), in, args, mem = false)(
          v => canon(r, v.get))
    }
    // reinterprets move bits: recorded raw
    for ((o, p, r) <- Seq((0xBE, I32, F32), (0xBF, I64, F64))) {
      val in = inst(Seq(p), Seq(r), b(o))
      for (a <- grid(p) ++ grid(r)) run(s"op$o", in, Seq(a), mem = false)(_.get.toHexString)
    }

    // ---- scalar memory ---------------------------------------------------
    val addrs = Seq(0L, 3L, 65528L, 65533L, 65535L, M32)
    for ((o, r) <- Seq(0x2A -> F32, 0x2B -> F64, 0x2C -> I32, 0x2E -> I32,
        0x2F -> I32, 0x30 -> I64, 0x31 -> I64, 0x32 -> I64, 0x33 -> I64,
        0x34 -> I64, 0x35 -> I64); off <- Seq(0, 7)) {
      val in = inst(Seq(I32), Seq(r), b(o, 0) ++ uleb(off.toLong), memPages = 1)
      for (a <- addrs) run(s"load$o+$off", in, Seq(a), mem = true)(_.get.toHexString)
    }
    for ((o, t) <- Seq(0x38 -> F32, 0x39 -> F64, 0x3A -> I32, 0x3B -> I32,
        0x3C -> I64, 0x3D -> I64, 0x3E -> I64); off <- Seq(0, 7)) {
      val in = inst(Seq(I32, t), Nil, b(o, 0) ++ uleb(off.toLong), memPages = 1)
      for (a <- addrs; v <- grid(t))
        run(s"store$o+$off", in, Seq(a, v), mem = true)(_ => memWindows(in))
    }
    locally { // memory.grow then memory.size
      val in = inst(Seq(I32), Seq(I32), b(0x40, 0, 0x3F, 0, 0x6A), memPages = 1)
      for (d <- Seq(0L, 1L, 3L, 4096L, 0x7FFFFFFFL, M32))
        run("grow+size", in, Seq(d), mem = true)(_.get.toHexString)
    }
    locally { // memory.copy (memmove) and memory.fill
      val cp = inst(Seq(I32, I32, I32), Nil, b(0xFC, 10, 0, 0), memPages = 1)
      for (args <- product(Seq(Seq(0L, 5L, 65530L), Seq(0L, 3L, 65530L),
          Seq(0L, 4L, 16L, M32))))
        run("memory.copy", cp, args, mem = true)(_ => memWindows(cp))
      val fl = inst(Seq(I32, I32, I32), Nil, b(0xFC, 11, 0), memPages = 1)
      for (args <- product(Seq(Seq(0L, 5L, 65530L), Seq(0L, 0xABL, 0x1FFL),
          Seq(0L, 4L, 16L, M32))))
        run("memory.fill", fl, args, mem = true)(_ => memWindows(fl))
    }

    // ---- v128 ------------------------------------------------------------
    val V = V128
    def vargs(ps: Seq[Int]): Seq[Seq[Long]] = product(ps.map {
      case V => v128s.indices.map(_.toLong)
      case t => grid(t)
    }).map(_.zip(ps).flatMap {
      case (k, V) => Seq(v128s(k.toInt)._1, v128s(k.toInt)._2)
      case (x, _) => Seq(x)
    })
    /** a v128 result is stored at address 0 and read back (lanes canon'd
      * by `lane`: I32/I64 raw, F32/F64 NaN-folded) */
    def vres(in: WasmInstance, lane: Int): String = {
      val bs = in.readBytes(0, 16)
      val (lo, hi) = (le(bs, 0), le(bs, 8))
      lane match {
        case F32 => Seq(lo & M32, lo >>> 32, hi & M32, hi >>> 32).map(canon(F32, _)).mkString(":")
        case F64 => Seq(lo, hi).map(canon(F64, _)).mkString(":")
        case _ => s"${lo.toHexString}:${hi.toHexString}"
      }
    }
    def vop(sub: Int, ps: Seq[Int], lane: Int, imm: Seq[Byte] = Nil,
        mem: Boolean = false, argSets: Option[Seq[Seq[Long]]] = None): Unit = {
      val in = inst(ps, Nil, fd(sub) ++ imm ++ fd(11) ++ b(0, 0),
        memPages = 1, prefix = b(0x41, 0))
      for (args <- argSets.getOrElse(vargs(ps)))
        run(s"v$sub${imm.mkString("/", ".", "")}", in, args, mem)(_ => vres(in, lane))
    }
    def vscalar(sub: Int, ps: Seq[Int], r: Int, imm: Seq[Byte] = Nil): Unit = {
      val in = inst(ps, Seq(r), fd(sub) ++ imm)
      for (args <- vargs(ps))
        run(s"v$sub${imm.mkString("/", ".", "")}", in, args, mem = false)(v => v.get.toHexString)
    }
    // loads: v128.load, extending loads, load_splat, load_zero
    for (sub <- (0 to 10) ++ Seq(92, 93); off <- Seq(0, 7))
      vop(sub, Seq(I32), I64, b(0) ++ uleb(off.toLong), mem = true,
        argSets = Some(addrs.map(Seq(_))))
    // load_lane / store_lane (memarg, then lane)
    val laneAddrs = Seq(0L, 5L, 65528L, 65535L)
    for ((sub, lanes) <- Seq(84 -> Seq(0, 7, 8, 15), 85 -> Seq(0, 3, 4, 7),
        86 -> Seq(0, 1, 2, 3), 87 -> Seq(0, 1)); lane <- lanes) {
      val sets = for (a <- laneAddrs; v <- v128s.take(4)) yield Seq(a, v._1, v._2)
      vop(sub, Seq(I32, V), I64, b(0, 0, lane), mem = true, argSets = Some(sets))
    }
    for ((sub, lanes) <- Seq(11 -> Seq(-1), 88 -> Seq(0, 7, 8, 15),
        89 -> Seq(0, 3, 4, 7), 90 -> Seq(0, 1, 2, 3), 91 -> Seq(0, 1));
        lane <- lanes; off <- Seq(0, 7)) {
      val imm = b(0) ++ uleb(off.toLong) ++ (if (lane < 0) Nil else b(lane))
      val in = inst(Seq(I32, V), Nil, fd(sub) ++ imm, memPages = 1)
      for (a <- laneAddrs ++ Seq(M32); v <- v128s.take(5))
        run(s"v$sub${imm.mkString("/", ".", "")}", in, Seq(a, v._1, v._2),
          mem = true)(_ => memWindows(in))
    }
    // splat / extract / replace
    for ((sub, t) <- Seq(17 -> I32, 18 -> I64, 19 -> F32, 20 -> F64))
      vop(sub, Seq(t), I64)
    for ((sub, r, n) <- Seq((27, I32, 4), (29, I64, 2), (31, F32, 4), (33, F64, 2));
         lane <- 0 until n)
      vscalar(sub, Seq(V), r, b(lane))
    for ((sub, t, n) <- Seq((28, I32, 4), (30, I64, 2), (32, F32, 4), (34, F64, 2));
         lane <- 0 until n)
      vop(sub, Seq(V, t), I64, b(lane))
    // compares (masks are raw lanes) and bitwise
    for (sub <- (55 to 76) ++ (78 to 81) ++ (214 to 219)) vop(sub, Seq(V, V), I64)
    vop(77, Seq(V), I64)
    vop(82, Seq(V, V, V), I64)
    for (sub <- Seq(83, 163, 164, 195, 196)) vscalar(sub, Seq(V), I32)
    // integer lanes
    for (sub <- Seq(160, 161, 192, 193)) vop(sub, Seq(V), I64)
    val shifts = Seq(0L, 1L, 31L, 32L, 33L, 63L, 64L, M32)
    for (sub <- Seq(171, 172, 173, 203, 204, 205))
      vop(sub, Seq(V, I32), I64, argSets = Some(
        for (v <- v128s; k <- shifts) yield Seq(v._1, v._2, k)))
    for (sub <- Seq(174, 177, 181, 182, 183, 184, 185, 206, 209, 213))
      vop(sub, Seq(V, V), I64)
    // float lanes
    for (sub <- Seq(103, 104, 105, 106, 224, 225, 227, 250, 251)) vop(sub, Seq(V), F32)
    for (sub <- 228 to 235) vop(sub, Seq(V, V), F32)
    for (sub <- Seq(116, 117, 122, 148, 236, 237, 239, 254, 255)) vop(sub, Seq(V), F64)
    for (sub <- 240 to 247) vop(sub, Seq(V, V), F64)
    for (sub <- Seq(248, 249, 252, 253)) vop(sub, Seq(V), I64)

    val digest = md.digest().map(x => f"${x & 0xFF}%02x").mkString
    assert(cases > 10000, s"only $cases cases ran")
    assert(digest === ColdOpDigest, s"cold-op results moved over $cases cases")
  }

  private val ColdOpDigest =
    "eb58926942cc62ba45abd3b53cd6284dd5c28addd207a988c14e618c65b433f7"

  /** (name + descriptor, code_length) of every method with a Code
    * attribute in one class file (JVM spec 4.1, 4.7.3). */
  private def codeLengths(bytes: Array[Byte]): Seq[(String, Int)] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    in.skipBytes(8) // magic, minor, major
    val n = in.readUnsignedShort()
    val utf8 = new Array[String](n)
    var i = 1
    while (i < n) {
      in.readUnsignedByte() match {
        case 1 => utf8(i) = in.readUTF()
        case 5 | 6 => in.skipBytes(8); i += 1 // long/double take two slots
        case 7 | 8 | 16 | 19 | 20 => in.skipBytes(2)
        case 15 => in.skipBytes(3)
        case _ => in.skipBytes(4)
      }
      i += 1
    }
    in.skipBytes(6) // access flags, this, super
    in.skipBytes(2 * in.readUnsignedShort()) // interfaces
    def skipAttributes(): Unit =
      for (_ <- 0 until in.readUnsignedShort()) { in.skipBytes(2); in.skipBytes(in.readInt()) }
    for (_ <- 0 until in.readUnsignedShort()) { in.skipBytes(6); skipAttributes() } // fields
    (0 until in.readUnsignedShort()).flatMap { _ =>
      in.skipBytes(2)
      val name = utf8(in.readUnsignedShort()) + utf8(in.readUnsignedShort())
      (0 until in.readUnsignedShort()).flatMap { _ =>
        val attr = utf8(in.readUnsignedShort())
        val len = in.readInt()
        if (attr == "Code") {
          in.skipBytes(4) // max_stack, max_locals
          val codeLength = in.readInt()
          in.skipBytes(len - 8)
          Some(name -> codeLength)
        } else { in.skipBytes(len); None }
      }
    }
  }

  test("HotSpot's HugeMethodLimit: no method of a main graft class has " +
    "over 8,000 bytes of bytecode (the JIT never compiles a bigger one, " +
    "so it would run in the bytecode interpreter for the JVM's life)") {
    val root = new java.io.File(classOf[WasmInstance].getProtectionDomain
      .getCodeSource.getLocation.toURI)
    assert(root.isDirectory, s"main classes are not a directory: $root")
    def classFiles(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap { f =>
        if (f.isDirectory) classFiles(f)
        else if (f.getName.endsWith(".class")) Seq(f) else Nil
      }
    val files = classFiles(new java.io.File(root, "graft"))
    assert(files.size > 100, s"found only ${files.size} class files under $root")
    val huge = for {
      f <- files
      (method, size) <- codeLengths(java.nio.file.Files.readAllBytes(f.toPath))
      if size > 8000
    } yield {
      val cls = root.toPath.relativize(f.toPath).toString
        .stripSuffix(".class").replace(java.io.File.separatorChar, '.')
      s"$cls.$method: $size bytes"
    }
    assert(huge.isEmpty, "over the 8,000-byte HugeMethodLimit: " + huge.sorted.mkString("; "))
  }
}
