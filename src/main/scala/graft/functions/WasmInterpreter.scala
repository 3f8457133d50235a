package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

/** Guest trap — unreachable, OOB access, div-by-zero, bad indirect call,
  * stack/fuel exhaustion. The engine maps it to the reference's
  * "[Wasm Invocation Panic]" path (udf.rs:95): a Rust panic inside the
  * guest compiles to an `unreachable` trap in the artifact. */
final case class WasmTrap(msg: String) extends RuntimeException(msg)

/** From-scratch wasm32 interpreter over [[WasmModule]]'s pre-decoded bodies.
  *
  * Execution model (public core spec, exec chapter):
  *  - one uniform Array[Long] value stack; i32 zero-extended in the low 32
  *    bits, f32/f64 as their raw IEEE bits (reinterpret ops are no-ops);
  *  - frames laid out on the shared stack: [params+locals | operands],
  *    static operand heights resolved at decode time so branches are plain
  *    jumps + stack-pointer resets (no runtime control stack);
  *  - linear memory as a byte array behind a little-endian ByteBuffer,
  *    grown by `memory.grow` up to [[WasmInstance.MaxPages]].
  *
  * One instance = one isolated guest "VM" with its own memory/globals. The
  * runtime pools one instance per thread and module
  * (`WasmRuntime.instanceFor`) and [[reset]]s it after every invocation,
  * so guest allocations cannot leak across batches and concurrent Spark
  * tasks never share mutable guest state — observationally equivalent to
  * the reference's one-VM-behind-a-mutex discipline
  * (wasmedge_factory/src/lib.rs:79-100) for the pure functions this ABI
  * carries, and strictly safer at executor concurrency.
  */
final class WasmInstance(val module: WasmModule) {
  import WasmInstance._

  private var mem: Array[Byte] = new Array[Byte](module.memPagesMin * PageSize)
  private var bb: ByteBuffer = ByteBuffer.wrap(mem).order(ByteOrder.LITTLE_ENDIAN)
  module.dataSegs.foreach { case (off, seg) =>
    System.arraycopy(seg, 0, mem, off, seg.length)
  }
  private val globals: Array[Long] = module.globalsInit.clone()
  private val table: Array[Int] = module.table
  private val funcs = module.funcs

  /** shared value stack (locals + operands for all frames) */
  private var stack = new Array[Long](1 << 14)
  /** executed-instruction budget — a runaway guest loop becomes a trap the
    * session survives instead of a hung executor task */
  private var fuel: Long = DefaultFuel

  def setFuel(n: Long): Unit = fuel = n

  def memorySize: Int = mem.length

  /** Current global values (copy) — reset-completeness observability. */
  def globalsSnapshot: Array[Long] = globals.clone()

  /** Restore the exact post-construction state so the instance can be
    * pooled across invocations: linear memory back to its initial size and
    * contents (zeros + data segments), globals re-seeded, fuel refilled.
    * The value stack needs no clearing — `call` zero-fills locals and
    * operand slots are written before they are read (static stack
    * discipline), so stale slots are unobservable; the capacity is kept,
    * which is the point of pooling. Completeness is proven byte-for-byte
    * against a fresh instance in WasmRuntimeSpec. */
  def reset(): Unit = {
    val initLen = module.memPagesMin * PageSize
    if (mem.length != initLen) {
      mem = new Array[Byte](initLen)
      bb = ByteBuffer.wrap(mem).order(ByteOrder.LITTLE_ENDIAN)
    } else java.util.Arrays.fill(mem, 0.toByte)
    module.dataSegs.foreach { case (off, seg) =>
      System.arraycopy(seg, 0, mem, off, seg.length)
    }
    System.arraycopy(module.globalsInit, 0, globals, 0, globals.length)
    fuel = DefaultFuel
  }

  def readBytes(addr: Long, len: Int): Array[Byte] = {
    if (addr < 0 || len < 0 || addr + len > mem.length)
      throw WasmTrap(s"oob host read @$addr+$len")
    val out = new Array[Byte](len)
    System.arraycopy(mem, addr.toInt, out, 0, len)
    out
  }

  def writeBytes(addr: Long, data: Array[Byte]): Unit = {
    if (addr < 0 || addr + data.length > mem.length)
      throw WasmTrap(s"oob host write @$addr")
    System.arraycopy(data, 0, mem, addr.toInt, data.length)
  }

  def readU32(addr: Long): Long = {
    if (addr < 0 || addr + 4 > mem.length) throw WasmTrap(s"oob host read @$addr")
    bb.getInt(addr.toInt).toLong & 0xFFFFFFFFL
  }

  /** Test hook: run function `fidx` (exported or internal) with raw arg
    * bits; returns the raw result bits (0 for void). */
  private[functions] def callForTest(fidx: Int, args: Array[Long]): Long = {
    WasmJitRt.recReset()
    var i = 0
    while (i < args.length) { stack(i) = args(i); i += 1 }
    call(fidx, 0, 0)
    if (module.funcs(fidx).hasResult) stack(0) else 0L
  }

  /** Call an exported function. Args/results as raw value bits. */
  def invoke(name: String, args: Long*): Option[Long] = {
    val fidx = module.exportedFunc(name)
    val f = funcs(fidx)
    if (f.nparams != args.length)
      throw WasmTrap(s"arity mismatch for '$name': expected ${f.nparams}")
    WasmJitRt.recReset()
    var i = 0
    while (i < args.length) { stack(i) = args(i); i += 1 }
    try {
      call(fidx, 0, 0)
      if (f.hasResult) Some(stack(0)) else None
    } catch {
      case e: ArrayIndexOutOfBoundsException =>
        throw WasmTrap(s"out-of-bounds access (${e.getMessage})")
      case e: IndexOutOfBoundsException =>
        throw WasmTrap(s"out-of-bounds memory access (${e.getMessage})")
      case _: StackOverflowError =>
        throw WasmTrap("call stack exhausted")
    }
  }

  private def growMemory(deltaPages: Int): Int = {
    val cur = mem.length / PageSize
    if (deltaPages < 0 || cur + deltaPages > MaxPages) -1
    else if (deltaPages == 0) cur
    else {
      val next = new Array[Byte]((cur + deltaPages) * PageSize)
      System.arraycopy(mem, 0, next, 0, mem.length)
      mem = next
      bb = ByteBuffer.wrap(mem).order(ByteOrder.LITTLE_ENDIAN)
      cur
    }
  }

  @inline private def checkAddr(base: Long, off: Int, sz: Int): Int = {
    val a = (base & 0xFFFFFFFFL) + (off.toLong & 0xFFFFFFFFL)
    if (a + sz > mem.length) throw WasmTrap(s"oob memory access @$a+$sz")
    a.toInt
  }

  /** Where a compiled frame may RE-ENTER the interpreter (the
    * call_indirect bridge): the base of the innermost jit frame —
    * everything at or above it on the value stack is dead while
    * compiled code runs (compiled frames live in JVM locals), so an
    * indirect target's interpreter frame can be laid out there.
    * Saved/restored around each jit entry so the discipline is exact
    * under arbitrary interpreted↔compiled nesting. */
  private var jitBase = 0
  private var jitDepth = 0

  /** Live memory array — compiled frames refresh their memory local
    * through this after any call (an indirect target may grow). */
  private[functions] def memNow: Array[Byte] = mem

  /** The compiled memory.grow — the interpreter arm verbatim (old page
    * count, or -1 & M32 past [[WasmInstance.MaxPages]]); the compiled
    * caller refreshes its memory local right after. */
  private[functions] def growFromJit(delta: Long): Long =
    growMemory((delta & M32).toInt).toLong & M32

  /** Compiled → interpreted DIRECT call (r18): an uncompiled callee
    * (over-bound frame or emit bail-out) no longer demotes its compiled
    * callers — they re-enter the interpreter here, at the saved
    * [[jitBase]], exactly like the indirect bridge minus the table
    * checks. Depth is threaded (`jitDepth + 1`), so recursion cycles
    * that cross the compiled↔interpreted boundary hit the interpreter's
    * depth-4096 guard on every pass through this bridge. */
  private[functions] def directFromJit(fidx: Int, args: Array[Long]): Long = {
    val f = funcs(fidx)
    val base = jitBase
    if (base + f.nparams + 64 > stack.length) {
      val next = new Array[Long](math.max(stack.length * 2, base + f.nparams + 1024))
      System.arraycopy(stack, 0, next, 0, stack.length)
      stack = next
    }
    var k = 0
    while (k < f.nparams) { stack(base + k) = args(k); k += 1 }
    call(fidx, base, jitDepth + 1)
    if (f.hasResult) stack(base) else 0L
  }

  /** The compiled code's call_indirect: same table/null/signature
    * semantics as the interpreter arm, then re-entry at [[jitBase]]
    * (the target may itself be compiled — `call`'s fast path
    * re-dispatches). */
  private[functions] def indirectFromJit(canon: Int, elem: Long,
                                         args: Array[Long]): Long = {
    val eidx = (elem & M32).toInt
    if (eidx < 0 || eidx >= table.length || table(eidx) < 0)
      throw WasmTrap(s"call_indirect: null/oob table entry $eidx")
    val callee = table(eidx)
    if (module.funcCanon(callee) != canon)
      throw WasmTrap("call_indirect: signature mismatch")
    val f = funcs(callee)
    val base = jitBase
    if (base + f.nparams + 64 > stack.length) {
      val next = new Array[Long](math.max(stack.length * 2, base + f.nparams + 1024))
      System.arraycopy(stack, 0, next, 0, stack.length)
      stack = next
    }
    var k = 0
    while (k < f.nparams) { stack(base + k) = args(k); k += 1 }
    call(callee, base, jitDepth + 1)
    if (f.hasResult) stack(base) else 0L
  }

  /** Execute function `fidx` with its frame based at stack(base).
    * Args are already in stack(base until base+nparams). */
  private def call(fidx: Int, base: Int, depth: Int): Unit = {
    if (depth > 4096) throw WasmTrap("call depth exceeded")
    // JIT fast path: eligible leaf functions run as HotSpot-compiled
    // bytecode (WasmJit); same calling convention — args in
    // stack(base..), result back at stack(base)
    val jm = module.jit
    if (jm != null && jm._2(fidx)) {
      val jf = funcs(fidx)
      val args = new Array[Long](jf.nparams)
      var k = 0
      while (k < jf.nparams) { args(k) = stack(base + k); k += 1 }
      val savedBase = jitBase; val savedDepth = jitDepth
      jitBase = base; jitDepth = depth
      val r = try jm._1.call(fidx, mem, globals, this, args)
              finally { jitBase = savedBase; jitDepth = savedDepth }
      if (jf.hasResult) stack(base) = r
      return
    }
    val f = funcs(fidx)
    val ob = base + f.nparams + f.nlocals // operand base
    if (ob + f.maxStack + 64 > stack.length) {
      val next = new Array[Long](math.max(stack.length * 2, ob + f.maxStack + 1024))
      System.arraycopy(stack, 0, next, 0, stack.length)
      stack = next
    }
    java.util.Arrays.fill(stack, base + f.nparams, ob, 0L)
    val ops = f.ops; val argL = f.argL; val argM = f.argM
    // hot-loop locals: the JIT cannot registerize fields across the nested
    // call()s, so hoist the stack array; refreshed after 0x10/0x11 (a callee
    // may grow it). Fuel is audited on BRANCHES and CALLS only — any cycle
    // contains one, so a runaway guest still traps, without paying a
    // decrement+test on every straight-line instruction.
    var st = stack
    var sp = ob
    var i = 0
    var localFuel = fuel
    while (true) {
      val op = ops(i)
      (op: @annotation.switch) match {
        case 0x01 => () // nop / resolved block & loop headers / inner ends
        // decode-time superinstructions (WasmModule.fusePushPairs):
        // two pushes, one dispatch
        case 0x100 => // local.get a; local.get b
          val l = argL(i)
          st(sp) = st(base + (l & 0xFFFFFFFFL).toInt)
          st(sp + 1) = st(base + (l >>> 32).toInt)
          sp += 2
        case 0x101 => // local.get a; i32/i64/f32/f64.const k
          st(sp) = st(base + argM(i))
          st(sp + 1) = argL(i)
          sp += 2
        case 0x102 => // local.tee a; local.get b
          st(base + argM(i)) = st(sp - 1)
          st(sp) = st(base + argL(i).toInt)
          sp += 1
        case 0x20 => st(sp) = st(base + argL(i).toInt); sp += 1
        case 0x21 => sp -= 1; st(base + argL(i).toInt) = st(sp)
        case 0x22 => st(base + argL(i).toInt) = st(sp - 1)
        case 0x41 | 0x42 | 0x43 | 0x44 => st(sp) = argL(i); sp += 1
        case 0x6A => sp -= 1; st(sp - 1) = (st(sp - 1) + st(sp)) & M32
        case 0x6B => sp -= 1; st(sp - 1) = (st(sp - 1) - st(sp)) & M32
        case 0x28 => st(sp - 1) = bb.getInt(checkAddr(st(sp - 1), argM(i), 4)).toLong & M32
        case 0x36 =>
          sp -= 2
          bb.putInt(checkAddr(st(sp), argM(i), 4), st(sp + 1).toInt)
        case 0x0C => // br
          localFuel -= 1
          if (localFuel <= 0) { fuel = 0; throw WasmTrap("instruction budget exhausted") }
          val t = argL(i)
          val h = ((t >> 32) & 0x3FFFFFFF).toInt
          val ar = ((t >>> 62) & 3).toInt
          if (ar == 1) st(ob + h) = st(sp - 1)
          else if (ar == 2) { st(ob + h) = st(sp - 2); st(ob + h + 1) = st(sp - 1) }
          sp = ob + h + ar
          i = (t & M32).toInt
        case 0x0D => // br_if
          sp -= 1
          if (st(sp) != 0) {
            localFuel -= 1
            if (localFuel <= 0) { fuel = 0; throw WasmTrap("instruction budget exhausted") }
            val t = argL(i)
            val h = ((t >> 32) & 0x3FFFFFFF).toInt
            val ar = ((t >>> 62) & 3).toInt
            if (ar == 1) st(ob + h) = st(sp - 1)
            else if (ar == 2) { st(ob + h) = st(sp - 2); st(ob + h + 1) = st(sp - 1) }
            sp = ob + h + ar
            i = (t & M32).toInt
          }
        case 0x0E => // br_table
          localFuel -= 1
          if (localFuel <= 0) { fuel = 0; throw WasmTrap("instruction budget exhausted") }
          sp -= 1
          val tbl = f.brTables(argM(i))
          val v = (st(sp) & M32).toInt
          val t = tbl(if (v >= 0 && v < tbl.length - 1) v else tbl.length - 1)
          val h = ((t >> 32) & 0x3FFFFFFF).toInt
          val ar = ((t >>> 62) & 3).toInt
          if (ar == 1) st(ob + h) = st(sp - 1)
          else if (ar == 2) { st(ob + h) = st(sp - 2); st(ob + h + 1) = st(sp - 1) }
          sp = ob + h + ar
          i = (t & M32).toInt
        case 0x0F => // return (also decoded function end)
          if (f.nres == 1) st(base) = st(sp - 1)
          else if (f.nres == 2) { // v128 result: 2 slots
            st(base) = st(sp - 2); st(base + 1) = st(sp - 1)
          }
          fuel = localFuel
          return
        case 0x10 =>
          localFuel -= 1
          if (localFuel <= 0) { fuel = 0; throw WasmTrap("instruction budget exhausted") }
          val callee = argL(i).toInt
          val cf = funcs(callee)
          val cbase = sp - cf.nparams
          fuel = localFuel
          call(callee, cbase, depth + 1)
          localFuel = fuel
          st = stack
          sp = cbase + cf.nres
        case 0x11 =>
          sp -= 1
          val eidx = (st(sp) & M32).toInt
          if (eidx < 0 || eidx >= table.length || table(eidx) < 0)
            throw WasmTrap(s"call_indirect: null/oob table entry $eidx")
          val callee = table(eidx)
          if (module.funcCanon(callee) != argM(i))
            throw WasmTrap("call_indirect: signature mismatch")
          val cf = funcs(callee)
          val cbase = sp - cf.nparams
          fuel = localFuel
          call(callee, cbase, depth + 1)
          localFuel = fuel
          st = stack
          sp = cbase + cf.nres
        case 0x00 => throw WasmTrap(s"unreachable executed (func $fidx)")
        case 0x1A => sp -= 1
        case 0x1B =>
          sp -= 2
          if (st(sp + 1) == 0) st(sp - 1) = st(sp)
        case 0x23 => st(sp) = globals(argL(i).toInt); sp += 1
        case 0x24 => sp -= 1; globals(argL(i).toInt) = st(sp)
        // ---- loads ----
        case 0x29 => st(sp - 1) = bb.getLong(checkAddr(st(sp - 1), argM(i), 8))
        case 0x2D => st(sp - 1) = (mem(checkAddr(st(sp - 1), argM(i), 1)) & 0xFF).toLong
        case 0x37 => sp -= 2; bb.putLong(checkAddr(st(sp), argM(i), 8), st(sp + 1))
        case 0x45 => st(sp - 1) = b2l((st(sp - 1) & M32) == 0)
        case 0x46 => sp -= 1; st(sp - 1) = b2l((st(sp - 1) & M32) == (st(sp) & M32))
        case 0x47 => sp -= 1; st(sp - 1) = b2l((st(sp - 1) & M32) != (st(sp) & M32))
        case 0x71 => sp -= 1; st(sp - 1) = (st(sp - 1) & st(sp)) & M32
        case 0x74 => sp -= 1; st(sp - 1) = (st(sp - 1).toInt << st(sp).toInt).toLong & M32
        case 0x76 => sp -= 1; st(sp - 1) = (st(sp - 1).toInt >>> st(sp).toInt).toLong & M32
        // ---- v128 locals/select (r19, 2-slot values; argL = slot) ----
        case 0x500 => // local.get of a v128 local
          val s = base + argL(i).toInt
          st(sp) = st(s); st(sp + 1) = st(s + 1); sp += 2
        case 0x501 => // local.set
          sp -= 2
          val s = base + argL(i).toInt
          st(s) = st(sp); st(s + 1) = st(sp + 1)
        case 0x502 => // local.tee
          val s = base + argL(i).toInt
          st(s) = st(sp - 2); st(s + 1) = st(sp - 1)
        case 0x503 => // select over v128 operands: [a.lo a.hi b.lo b.hi c]
          sp -= 3
          if (st(sp + 2) == 0) { st(sp - 2) = st(sp); st(sp - 1) = st(sp + 1) }
        case other =>
          sp = if (other >= 0x300) simdOp(other, argM(i), argL(i), sp)
            else if (other >= 0x200) fcOp(other, sp)
            else scalarOp(other, argM(i), sp)
      }
      i += 1
    }
  }

  /* The cold opcodes live outside `call`, in one method per encoding
   * family: [[scalarOp]] (one-byte MVP ops), [[fcOp]] (the 0xFC prefix,
   * decoded as 0x200|sub) and [[simdOp]] (the 0xFD prefix, 0x300|sub).
   * HotSpot never JIT-compiles a method with more than 8,000 bytes of
   * bytecode (`HugeMethodLimit`, enforced while `DontCompileHugeMethods`
   * is on, the default): such a method runs in the JVM's bytecode
   * interpreter for the JVM's whole life (the SIMD guest ran ~35x slower
   * so). One cold method reached 13,305 bytes once the v128 arms landed,
   * hence one method per family, and WasmInterpreterSpec's
   * HugeMethodLimit test fails on any main method over the limit. Every
   * arm matches exact opcodes (no guards, which would turn the match into
   * a compare chain) and none allocates. Each returns the new sp. */

  private def scalarOp(op: Int, m: Int, sp0: Int): Int = {
    var sp = sp0
    (op: @annotation.switch) match {
      case 0x2A => stack(sp - 1) = bb.getInt(checkAddr(stack(sp - 1), m, 4)).toLong & M32
      case 0x2B => stack(sp - 1) = bb.getLong(checkAddr(stack(sp - 1), m, 8))
      case 0x2C => stack(sp - 1) = mem(checkAddr(stack(sp - 1), m, 1)).toLong & M32
      case 0x2E => stack(sp - 1) = bb.getShort(checkAddr(stack(sp - 1), m, 2)).toLong & M32
      case 0x2F => stack(sp - 1) = (bb.getShort(checkAddr(stack(sp - 1), m, 2)) & 0xFFFF).toLong
      case 0x30 => stack(sp - 1) = mem(checkAddr(stack(sp - 1), m, 1)).toLong
      case 0x31 => stack(sp - 1) = (mem(checkAddr(stack(sp - 1), m, 1)) & 0xFF).toLong
      case 0x32 => stack(sp - 1) = bb.getShort(checkAddr(stack(sp - 1), m, 2)).toLong
      case 0x33 => stack(sp - 1) = (bb.getShort(checkAddr(stack(sp - 1), m, 2)) & 0xFFFF).toLong
      case 0x34 => stack(sp - 1) = bb.getInt(checkAddr(stack(sp - 1), m, 4)).toLong
      case 0x35 => stack(sp - 1) = bb.getInt(checkAddr(stack(sp - 1), m, 4)).toLong & M32
      // ---- stores ----
      case 0x38 => sp -= 2; bb.putInt(checkAddr(stack(sp), m, 4), stack(sp + 1).toInt)
      case 0x39 => sp -= 2; bb.putLong(checkAddr(stack(sp), m, 8), stack(sp + 1))
      case 0x3A => sp -= 2; mem(checkAddr(stack(sp), m, 1)) = stack(sp + 1).toByte
      case 0x3B => sp -= 2; bb.putShort(checkAddr(stack(sp), m, 2), stack(sp + 1).toShort)
      case 0x3C => sp -= 2; mem(checkAddr(stack(sp), m, 1)) = stack(sp + 1).toByte
      case 0x3D => sp -= 2; bb.putShort(checkAddr(stack(sp), m, 2), stack(sp + 1).toShort)
      case 0x3E => sp -= 2; bb.putInt(checkAddr(stack(sp), m, 4), stack(sp + 1).toInt)
      case 0x3F => stack(sp) = (mem.length / PageSize).toLong; sp += 1
      case 0x40 => stack(sp - 1) = growMemory((stack(sp - 1) & M32).toInt).toLong & M32
      // ---- i32 compare ----
      case 0x48 => sp -= 1; stack(sp - 1) = b2l(stack(sp - 1).toInt < stack(sp).toInt)
      case 0x49 => sp -= 1; stack(sp - 1) = b2l((stack(sp - 1) & M32) < (stack(sp) & M32))
      case 0x4A => sp -= 1; stack(sp - 1) = b2l(stack(sp - 1).toInt > stack(sp).toInt)
      case 0x4B => sp -= 1; stack(sp - 1) = b2l((stack(sp - 1) & M32) > (stack(sp) & M32))
      case 0x4C => sp -= 1; stack(sp - 1) = b2l(stack(sp - 1).toInt <= stack(sp).toInt)
      case 0x4D => sp -= 1; stack(sp - 1) = b2l((stack(sp - 1) & M32) <= (stack(sp) & M32))
      case 0x4E => sp -= 1; stack(sp - 1) = b2l(stack(sp - 1).toInt >= stack(sp).toInt)
      case 0x4F => sp -= 1; stack(sp - 1) = b2l((stack(sp - 1) & M32) >= (stack(sp) & M32))
      // ---- i64 compare ----
      case 0x50 => stack(sp - 1) = b2l(stack(sp - 1) == 0L)
      case 0x51 => sp -= 1; stack(sp - 1) = b2l(stack(sp - 1) == stack(sp))
      case 0x52 => sp -= 1; stack(sp - 1) = b2l(stack(sp - 1) != stack(sp))
      case 0x53 => sp -= 1; stack(sp - 1) = b2l(stack(sp - 1) < stack(sp))
      case 0x54 => sp -= 1; stack(sp - 1) = b2l(java.lang.Long.compareUnsigned(stack(sp - 1), stack(sp)) < 0)
      case 0x55 => sp -= 1; stack(sp - 1) = b2l(stack(sp - 1) > stack(sp))
      case 0x56 => sp -= 1; stack(sp - 1) = b2l(java.lang.Long.compareUnsigned(stack(sp - 1), stack(sp)) > 0)
      case 0x57 => sp -= 1; stack(sp - 1) = b2l(stack(sp - 1) <= stack(sp))
      case 0x58 => sp -= 1; stack(sp - 1) = b2l(java.lang.Long.compareUnsigned(stack(sp - 1), stack(sp)) <= 0)
      case 0x59 => sp -= 1; stack(sp - 1) = b2l(stack(sp - 1) >= stack(sp))
      case 0x5A => sp -= 1; stack(sp - 1) = b2l(java.lang.Long.compareUnsigned(stack(sp - 1), stack(sp)) >= 0)
      // ---- f32 compare ----
      case 0x5B => sp -= 1; stack(sp - 1) = b2l(f32(sp - 1) == f32(sp))
      case 0x5C => sp -= 1; stack(sp - 1) = b2l(f32(sp - 1) != f32(sp))
      case 0x5D => sp -= 1; stack(sp - 1) = b2l(f32(sp - 1) < f32(sp))
      case 0x5E => sp -= 1; stack(sp - 1) = b2l(f32(sp - 1) > f32(sp))
      case 0x5F => sp -= 1; stack(sp - 1) = b2l(f32(sp - 1) <= f32(sp))
      case 0x60 => sp -= 1; stack(sp - 1) = b2l(f32(sp - 1) >= f32(sp))
      // ---- f64 compare ----
      case 0x61 => sp -= 1; stack(sp - 1) = b2l(f64(sp - 1) == f64(sp))
      case 0x62 => sp -= 1; stack(sp - 1) = b2l(f64(sp - 1) != f64(sp))
      case 0x63 => sp -= 1; stack(sp - 1) = b2l(f64(sp - 1) < f64(sp))
      case 0x64 => sp -= 1; stack(sp - 1) = b2l(f64(sp - 1) > f64(sp))
      case 0x65 => sp -= 1; stack(sp - 1) = b2l(f64(sp - 1) <= f64(sp))
      case 0x66 => sp -= 1; stack(sp - 1) = b2l(f64(sp - 1) >= f64(sp))
      // ---- i32 arithmetic ----
      case 0x67 => stack(sp - 1) = Integer.numberOfLeadingZeros(stack(sp - 1).toInt).toLong
      case 0x68 => stack(sp - 1) = Integer.numberOfTrailingZeros(stack(sp - 1).toInt).toLong
      case 0x69 => stack(sp - 1) = Integer.bitCount(stack(sp - 1).toInt).toLong
      case 0x6C => sp -= 1; stack(sp - 1) = (stack(sp - 1).toInt * stack(sp).toInt).toLong & M32
      case 0x6D =>
        sp -= 1
        val a = stack(sp - 1).toInt; val b = stack(sp).toInt
        if (b == 0) throw WasmTrap("integer divide by zero")
        if (a == Int.MinValue && b == -1) throw WasmTrap("integer overflow")
        stack(sp - 1) = (a / b).toLong & M32
      case 0x6E =>
        sp -= 1
        val b = stack(sp).toInt
        if (b == 0) throw WasmTrap("integer divide by zero")
        stack(sp - 1) = Integer.divideUnsigned(stack(sp - 1).toInt, b).toLong & M32
      case 0x6F =>
        sp -= 1
        val b = stack(sp).toInt
        if (b == 0) throw WasmTrap("integer divide by zero")
        stack(sp - 1) = (stack(sp - 1).toInt % b).toLong & M32
      case 0x70 =>
        sp -= 1
        val b = stack(sp).toInt
        if (b == 0) throw WasmTrap("integer divide by zero")
        stack(sp - 1) = Integer.remainderUnsigned(stack(sp - 1).toInt, b).toLong & M32
      case 0x72 => sp -= 1; stack(sp - 1) = (stack(sp - 1) | stack(sp)) & M32
      case 0x73 => sp -= 1; stack(sp - 1) = (stack(sp - 1) ^ stack(sp)) & M32
      case 0x75 => sp -= 1; stack(sp - 1) = (stack(sp - 1).toInt >> stack(sp).toInt).toLong & M32
      case 0x77 => sp -= 1; stack(sp - 1) = Integer.rotateLeft(stack(sp - 1).toInt, stack(sp).toInt).toLong & M32
      case 0x78 => sp -= 1; stack(sp - 1) = Integer.rotateRight(stack(sp - 1).toInt, stack(sp).toInt).toLong & M32
      // ---- i64 arithmetic ----
      case 0x79 => stack(sp - 1) = java.lang.Long.numberOfLeadingZeros(stack(sp - 1)).toLong
      case 0x7A => stack(sp - 1) = java.lang.Long.numberOfTrailingZeros(stack(sp - 1)).toLong
      case 0x7B => stack(sp - 1) = java.lang.Long.bitCount(stack(sp - 1)).toLong
      case 0x7C => sp -= 1; stack(sp - 1) = stack(sp - 1) + stack(sp)
      case 0x7D => sp -= 1; stack(sp - 1) = stack(sp - 1) - stack(sp)
      case 0x7E => sp -= 1; stack(sp - 1) = stack(sp - 1) * stack(sp)
      case 0x7F =>
        sp -= 1
        val a = stack(sp - 1); val b = stack(sp)
        if (b == 0) throw WasmTrap("integer divide by zero")
        if (a == Long.MinValue && b == -1L) throw WasmTrap("integer overflow")
        stack(sp - 1) = a / b
      case 0x80 =>
        sp -= 1
        if (stack(sp) == 0) throw WasmTrap("integer divide by zero")
        stack(sp - 1) = java.lang.Long.divideUnsigned(stack(sp - 1), stack(sp))
      case 0x81 =>
        sp -= 1
        if (stack(sp) == 0) throw WasmTrap("integer divide by zero")
        stack(sp - 1) = stack(sp - 1) % stack(sp)
      case 0x82 =>
        sp -= 1
        if (stack(sp) == 0) throw WasmTrap("integer divide by zero")
        stack(sp - 1) = java.lang.Long.remainderUnsigned(stack(sp - 1), stack(sp))
      case 0x83 => sp -= 1; stack(sp - 1) = stack(sp - 1) & stack(sp)
      case 0x84 => sp -= 1; stack(sp - 1) = stack(sp - 1) | stack(sp)
      case 0x85 => sp -= 1; stack(sp - 1) = stack(sp - 1) ^ stack(sp)
      case 0x86 => sp -= 1; stack(sp - 1) = stack(sp - 1) << stack(sp)
      case 0x87 => sp -= 1; stack(sp - 1) = stack(sp - 1) >> stack(sp)
      case 0x88 => sp -= 1; stack(sp - 1) = stack(sp - 1) >>> stack(sp)
      case 0x89 => sp -= 1; stack(sp - 1) = java.lang.Long.rotateLeft(stack(sp - 1), stack(sp).toInt)
      case 0x8A => sp -= 1; stack(sp - 1) = java.lang.Long.rotateRight(stack(sp - 1), stack(sp).toInt)
      // ---- f32 arithmetic (compute in single precision) ----
      case 0x8B => setF32(sp - 1, math.abs(f32(sp - 1)))
      case 0x8C => setF32(sp - 1, -f32(sp - 1))
      case 0x8D => setF32(sp - 1, math.ceil(f32(sp - 1).toDouble).toFloat)
      case 0x8E => setF32(sp - 1, math.floor(f32(sp - 1).toDouble).toFloat)
      case 0x8F => setF32(sp - 1, truncD(f32(sp - 1).toDouble).toFloat)
      case 0x90 => setF32(sp - 1, math.rint(f32(sp - 1).toDouble).toFloat)
      case 0x91 => setF32(sp - 1, math.sqrt(f32(sp - 1).toDouble).toFloat)
      case 0x92 => sp -= 1; setF32(sp - 1, f32(sp - 1) + f32(sp))
      case 0x93 => sp -= 1; setF32(sp - 1, f32(sp - 1) - f32(sp))
      case 0x94 => sp -= 1; setF32(sp - 1, f32(sp - 1) * f32(sp))
      case 0x95 => sp -= 1; setF32(sp - 1, f32(sp - 1) / f32(sp))
      case 0x96 => sp -= 1; setF32(sp - 1, math.min(f32(sp - 1), f32(sp)))
      case 0x97 => sp -= 1; setF32(sp - 1, math.max(f32(sp - 1), f32(sp)))
      case 0x98 => sp -= 1; setF32(sp - 1, math.copySign(f32(sp - 1), f32(sp)))
      // ---- f64 arithmetic ----
      case 0x99 => setF64(sp - 1, math.abs(f64(sp - 1)))
      case 0x9A => setF64(sp - 1, -f64(sp - 1))
      case 0x9B => setF64(sp - 1, math.ceil(f64(sp - 1)))
      case 0x9C => setF64(sp - 1, math.floor(f64(sp - 1)))
      case 0x9D => setF64(sp - 1, truncD(f64(sp - 1)))
      case 0x9E => setF64(sp - 1, math.rint(f64(sp - 1)))
      case 0x9F => setF64(sp - 1, math.sqrt(f64(sp - 1)))
      case 0xA0 => sp -= 1; setF64(sp - 1, f64(sp - 1) + f64(sp))
      case 0xA1 => sp -= 1; setF64(sp - 1, f64(sp - 1) - f64(sp))
      case 0xA2 => sp -= 1; setF64(sp - 1, f64(sp - 1) * f64(sp))
      case 0xA3 => sp -= 1; setF64(sp - 1, f64(sp - 1) / f64(sp))
      case 0xA4 => sp -= 1; setF64(sp - 1, math.min(f64(sp - 1), f64(sp)))
      case 0xA5 => sp -= 1; setF64(sp - 1, math.max(f64(sp - 1), f64(sp)))
      case 0xA6 => sp -= 1; setF64(sp - 1, math.copySign(f64(sp - 1), f64(sp)))
      // ---- conversions ----
      case 0xA7 => stack(sp - 1) &= M32
      case 0xA8 =>
        val d = f32(sp - 1).toDouble
        if (d.isNaN || d >= 2147483648.0 || d <= -2147483649.0) throw WasmTrap("invalid f32->i32")
        stack(sp - 1) = d.toInt.toLong & M32
      case 0xA9 =>
        val d = f32(sp - 1).toDouble
        if (d.isNaN || d >= 4294967296.0 || d <= -1.0) throw WasmTrap("invalid f32->u32")
        stack(sp - 1) = d.toLong & M32
      case 0xAA =>
        val d = f64(sp - 1)
        if (d.isNaN || d >= 2147483648.0 || d <= -2147483649.0) throw WasmTrap("invalid f64->i32")
        stack(sp - 1) = d.toInt.toLong & M32
      case 0xAB =>
        val d = f64(sp - 1)
        if (d.isNaN || d >= 4294967296.0 || d <= -1.0) throw WasmTrap("invalid f64->u32")
        stack(sp - 1) = d.toLong & M32
      case 0xAC => stack(sp - 1) = stack(sp - 1).toInt.toLong
      case 0xAD => stack(sp - 1) &= M32
      case 0xAE =>
        val d = f32(sp - 1).toDouble
        if (d.isNaN || d >= 9.223372036854776E18 || d < -9.223372036854776E18) throw WasmTrap("invalid f32->i64")
        stack(sp - 1) = d.toLong
      case 0xAF =>
        val d = f32(sp - 1).toDouble
        if (d.isNaN || d >= 1.8446744073709552E19 || d <= -1.0) throw WasmTrap("invalid f32->u64")
        stack(sp - 1) = d2u64(d)
      case 0xB0 =>
        val d = f64(sp - 1)
        if (d.isNaN || d >= 9.223372036854776E18 || d < -9.223372036854776E18) throw WasmTrap("invalid f64->i64")
        stack(sp - 1) = d.toLong
      case 0xB1 =>
        val d = f64(sp - 1)
        if (d.isNaN || d >= 1.8446744073709552E19 || d <= -1.0) throw WasmTrap("invalid f64->u64")
        stack(sp - 1) = d2u64(d)
      case 0xB2 => setF32(sp - 1, stack(sp - 1).toInt.toFloat)
      case 0xB3 => setF32(sp - 1, (stack(sp - 1) & M32).toFloat)
      case 0xB4 => setF32(sp - 1, stack(sp - 1).toFloat)
      case 0xB5 => setF32(sp - 1, u64ToDouble(stack(sp - 1)).toFloat)
      case 0xB6 => setF32(sp - 1, f64(sp - 1).toFloat)
      case 0xB7 => setF64(sp - 1, stack(sp - 1).toInt.toDouble)
      case 0xB8 => setF64(sp - 1, (stack(sp - 1) & M32).toDouble)
      case 0xB9 => setF64(sp - 1, stack(sp - 1).toDouble)
      case 0xBA => setF64(sp - 1, u64ToDouble(stack(sp - 1)))
      case 0xBB => setF64(sp - 1, f32(sp - 1).toDouble)
      // reinterprets are identities on raw bits (i32/f32 keep low-32 form)
      case 0xBC | 0xBE => ()
      case 0xBD | 0xBF => ()
      // ---- sign extension ----
      case 0xC0 => stack(sp - 1) = stack(sp - 1).toByte.toLong & M32
      case 0xC1 => stack(sp - 1) = stack(sp - 1).toShort.toLong & M32
      case 0xC2 => stack(sp - 1) = stack(sp - 1).toByte.toLong
      case 0xC3 => stack(sp - 1) = stack(sp - 1).toShort.toLong
      case 0xC4 => stack(sp - 1) = stack(sp - 1).toInt.toLong
      case other => throw WasmTrap(f"unimplemented opcode 0x$other%02x")
    }
    sp
  }

  private def fcOp(op: Int, sp0: Int): Int = {
    var sp = sp0
    (op: @annotation.switch) match {
      // ---- 0xFC saturating truncations (decoded as 0x200|sub, r18):
      // Java's primitive narrowing IS the spec'd behavior for the signed
      // forms (trunc toward zero, NaN→0, saturate at the type bounds) ----
      case 0x200 => stack(sp - 1) = f32(sp - 1).toDouble.toInt.toLong & M32
      case 0x201 => stack(sp - 1) = satU32(f32(sp - 1).toDouble)
      case 0x202 => stack(sp - 1) = f64(sp - 1).toInt.toLong & M32
      case 0x203 => stack(sp - 1) = satU32(f64(sp - 1))
      case 0x204 => stack(sp - 1) = f32(sp - 1).toDouble.toLong
      case 0x205 => stack(sp - 1) = satU64(f32(sp - 1).toDouble)
      case 0x206 => stack(sp - 1) = f64(sp - 1).toLong
      case 0x207 => stack(sp - 1) = satU64(f64(sp - 1))
      // ---- 0xFC bulk memory (r18): arraycopy has memmove semantics,
      // matching the spec's overlap-safe memory.copy ----
      case 0x20A =>
        sp -= 3
        val dst = stack(sp) & M32; val src = stack(sp + 1) & M32
        val n = stack(sp + 2) & M32
        if (dst + n > mem.length || src + n > mem.length)
          throw WasmTrap(s"oob memory.copy @$dst/$src+$n")
        System.arraycopy(mem, src.toInt, mem, dst.toInt, n.toInt)
      case 0x20B =>
        sp -= 3
        val dst = stack(sp) & M32; val v = stack(sp + 1).toByte
        val n = stack(sp + 2) & M32
        if (dst + n > mem.length) throw WasmTrap(s"oob memory.fill @$dst+$n")
        java.util.Arrays.fill(mem, dst.toInt, (dst + n).toInt, v)
      case other => throw WasmTrap(f"unimplemented opcode 0x$other%02x")
    }
    sp
  }

  /** 0xFD SIMD v128 core (r19): a v128 is two adjacent Long slots (lo =
    * lanes 0..1, hi = lanes 2..3 for i32x4; lo/hi = lanes 0/1 for
    * i64x2/f64x2). `m` carries the memarg offset (load/store) or the lane
    * immediate; `l` the lane of load/store_lane. The lane arithmetic is in
    * the companion's pure helpers, one 64-bit half at a time. */
  private def simdOp(op: Int, m: Int, l: Long, sp0: Int): Int = {
    var sp = sp0
    (op: @annotation.switch) match {
      case 0x300 => // v128.load
        val a = checkAddr(stack(sp - 1), m, 16)
        stack(sp - 1) = bb.getLong(a); stack(sp) = bb.getLong(a + 8); sp += 1
      case 0x301 | 0x302 => // load8x8_{s,u}: 8 bytes → 8×i16 lanes
        val w = bb.getLong(checkAddr(stack(sp - 1), m, 8))
        val s = op == 0x301
        stack(sp - 1) = widen8x4(w, s); stack(sp) = widen8x4(w >>> 32, s); sp += 1
      case 0x303 | 0x304 => // load16x4_{s,u}: 4×i16 → 4×i32
        val w = bb.getLong(checkAddr(stack(sp - 1), m, 8))
        val s = op == 0x303
        stack(sp - 1) = widen16x2(w, s); stack(sp) = widen16x2(w >>> 32, s); sp += 1
      case 0x305 => // load32x2_s: 2×i32 → 2×i64
        val w = bb.getLong(checkAddr(stack(sp - 1), m, 8))
        stack(sp - 1) = w.toInt.toLong; stack(sp) = w >> 32; sp += 1
      case 0x306 => // load32x2_u
        val w = bb.getLong(checkAddr(stack(sp - 1), m, 8))
        stack(sp - 1) = w & M32; stack(sp) = w >>> 32; sp += 1
      case 0x307 => // load8_splat
        val v = (mem(checkAddr(stack(sp - 1), m, 1)) & 0xFFL) * 0x0101010101010101L
        stack(sp - 1) = v; stack(sp) = v; sp += 1
      case 0x308 => // load16_splat
        val v = (bb.getShort(checkAddr(stack(sp - 1), m, 2)) & 0xFFFFL) * 0x0001000100010001L
        stack(sp - 1) = v; stack(sp) = v; sp += 1
      case 0x309 => // load32_splat
        val x = bb.getInt(checkAddr(stack(sp - 1), m, 4)).toLong & M32
        val v = x | (x << 32)
        stack(sp - 1) = v; stack(sp) = v; sp += 1
      case 0x30A => // load64_splat
        val v = bb.getLong(checkAddr(stack(sp - 1), m, 8))
        stack(sp - 1) = v; stack(sp) = v; sp += 1
      case 0x35C => // v128.load32_zero
        val a = checkAddr(stack(sp - 1), m, 4)
        stack(sp - 1) = bb.getInt(a).toLong & M32; stack(sp) = 0L; sp += 1
      case 0x35D => // v128.load64_zero
        val a = checkAddr(stack(sp - 1), m, 8)
        stack(sp - 1) = bb.getLong(a); stack(sp) = 0L; sp += 1
      // load{8,16,32,64}_lane — stack: [vec.lo vec.hi addr]; the loaded
      // value replaces lane `l`
      case 0x354 =>
        sp -= 1
        val lane = l.toInt
        val a = checkAddr(stack(sp), m, 1)
        val s = sp - 2 + (lane >> 3)
        val sh = 8 * (lane & 7)
        stack(s) = (stack(s) & ~(0xFFL << sh)) | ((mem(a) & 0xFFL) << sh)
      case 0x355 =>
        sp -= 1
        val lane = l.toInt
        val a = checkAddr(stack(sp), m, 2)
        val s = sp - 2 + (lane >> 2)
        val sh = 16 * (lane & 3)
        stack(s) = (stack(s) & ~(0xFFFFL << sh)) | ((bb.getShort(a) & 0xFFFFL) << sh)
      case 0x356 =>
        sp -= 1
        val lane = l.toInt
        val a = checkAddr(stack(sp), m, 4)
        val s = sp - 2 + (lane >> 1)
        val sh = 32 * (lane & 1)
        stack(s) = (stack(s) & ~(M32 << sh)) | ((bb.getInt(a).toLong & M32) << sh)
      case 0x357 =>
        sp -= 1
        val a = checkAddr(stack(sp), m, 8)
        stack(sp - 2 + (l.toInt & 1)) = bb.getLong(a)
      // store{8,16,32,64}_lane — stack: [addr vec.lo vec.hi]
      case 0x358 =>
        sp -= 3
        val lane = l.toInt
        val a = checkAddr(stack(sp), m, 1)
        mem(a) = ((stack(sp + 1 + (lane >> 3)) >>> (8 * (lane & 7))) & 0xFF).toByte
      case 0x359 =>
        sp -= 3
        val lane = l.toInt
        val a = checkAddr(stack(sp), m, 2)
        bb.putShort(a, ((stack(sp + 1 + (lane >> 2)) >>> (16 * (lane & 3))) & 0xFFFF).toShort)
      case 0x35A =>
        sp -= 3
        val lane = l.toInt
        val a = checkAddr(stack(sp), m, 4)
        bb.putInt(a, ((stack(sp + 1 + (lane >> 1)) >>> (32 * (lane & 1))) & M32).toInt)
      case 0x35B =>
        sp -= 3
        val a = checkAddr(stack(sp), m, 8)
        bb.putLong(a, stack(sp + 1 + (l.toInt & 1)))
      case 0x30B => // v128.store
        sp -= 3
        val a = checkAddr(stack(sp), m, 16)
        bb.putLong(a, stack(sp + 1)); bb.putLong(a + 8, stack(sp + 2))
      case 0x311 | 0x313 => // i32x4.splat / f32x4.splat (low-32 bits)
        val v = stack(sp - 1) & M32
        val pair = v | (v << 32)
        stack(sp - 1) = pair; stack(sp) = pair; sp += 1
      case 0x312 | 0x314 => // i64x2.splat / f64x2.splat (raw bits)
        stack(sp) = stack(sp - 1); sp += 1
      case 0x31B | 0x31F => // i32x4/f32x4.extract_lane (m = lane)
        val w = stack(sp - 2 + ((m >> 1) & 1))
        sp -= 1
        stack(sp - 1) = if ((m & 1) == 0) w & M32 else w >>> 32
      case 0x31C | 0x320 => // i32x4/f32x4.replace_lane
        sp -= 1
        val s = sp - 2 + ((m >> 1) & 1)
        val v = stack(sp) & M32
        stack(s) = if ((m & 1) == 0) (stack(s) & ~M32) | v
          else (stack(s) & M32) | (v << 32)
      case 0x31D | 0x321 => // i64x2/f64x2.extract_lane
        val w = stack(sp - 2 + (m & 1)); sp -= 1; stack(sp - 1) = w
      case 0x31E | 0x322 => // i64x2/f64x2.replace_lane
        sp -= 1; stack(sp - 2 + (m & 1)) = stack(sp)
      // ---- compares: all-ones / all-zeros lane masks ----
      case 0x337 | 0x338 | 0x339 | 0x33A | 0x33B | 0x33C | 0x33D | 0x33E |
          0x33F | 0x340 => // i32x4 eq ne lt_s lt_u gt_s gt_u le_s le_u ge_s ge_u
        sp -= 2
        stack(sp - 2) = i32x2Cmp(op, stack(sp - 2), stack(sp))
        stack(sp - 1) = i32x2Cmp(op, stack(sp - 1), stack(sp + 1))
      case 0x341 | 0x342 | 0x343 | 0x344 | 0x345 | 0x346 => // f32x4 eq ne lt gt le ge
        sp -= 2
        stack(sp - 2) = f32x2Cmp(op, stack(sp - 2), stack(sp))
        stack(sp - 1) = f32x2Cmp(op, stack(sp - 1), stack(sp + 1))
      case 0x347 | 0x348 | 0x349 | 0x34A | 0x34B | 0x34C => // f64x2 eq ne lt gt le ge
        sp -= 2
        stack(sp - 2) = f64Cmp(op, stack(sp - 2), stack(sp))
        stack(sp - 1) = f64Cmp(op, stack(sp - 1), stack(sp + 1))
      case 0x3D6 | 0x3D7 | 0x3D8 | 0x3D9 | 0x3DA | 0x3DB => // i64x2 eq ne lt gt le ge
        sp -= 2
        stack(sp - 2) = i64Cmp(op, stack(sp - 2), stack(sp))
        stack(sp - 1) = i64Cmp(op, stack(sp - 1), stack(sp + 1))
      // ---- bitwise ----
      case 0x34D => // v128.not
        stack(sp - 2) = ~stack(sp - 2); stack(sp - 1) = ~stack(sp - 1)
      case 0x34E => // v128.and
        sp -= 2
        stack(sp - 2) &= stack(sp); stack(sp - 1) &= stack(sp + 1)
      case 0x34F => // v128.andnot
        sp -= 2
        stack(sp - 2) &= ~stack(sp); stack(sp - 1) &= ~stack(sp + 1)
      case 0x350 => // v128.or
        sp -= 2
        stack(sp - 2) |= stack(sp); stack(sp - 1) |= stack(sp + 1)
      case 0x351 => // v128.xor
        sp -= 2
        stack(sp - 2) ^= stack(sp); stack(sp - 1) ^= stack(sp + 1)
      case 0x352 => // v128.bitselect(a, b, c) = (a & c) | (b & ~c)
        sp -= 4
        val cl = stack(sp + 2); val ch = stack(sp + 3)
        stack(sp - 2) = (stack(sp - 2) & cl) | (stack(sp) & ~cl)
        stack(sp - 1) = (stack(sp - 1) & ch) | (stack(sp + 1) & ~ch)
      case 0x353 => // v128.any_true
        sp -= 1
        stack(sp - 1) = b2l((stack(sp - 1) | stack(sp)) != 0L)
      // ---- i32x4 ----
      case 0x3A0 | 0x3A1 => // i32x4.abs / neg
        stack(sp - 2) = i32x2Un(op, stack(sp - 2)); stack(sp - 1) = i32x2Un(op, stack(sp - 1))
      case 0x3A3 => // i32x4.all_true
        sp -= 1
        val lo = stack(sp - 1); val hi = stack(sp)
        stack(sp - 1) = b2l(lo.toInt != 0 && (lo >>> 32) != 0 &&
          hi.toInt != 0 && (hi >>> 32) != 0)
      case 0x3A4 => // i32x4.bitmask: 4 sign bits
        sp -= 1
        val lo = stack(sp - 1); val hi = stack(sp)
        stack(sp - 1) = (((lo >>> 31) & 1) | ((lo >>> 62) & 2) |
          ((hi >>> 29) & 4) | ((hi >>> 60) & 8))
      case 0x3AB | 0x3AC | 0x3AD => // i32x4 shl / shr_s / shr_u
        sp -= 1
        val k = (stack(sp) & 31).toInt
        stack(sp - 2) = i32x2Shift(op, stack(sp - 2), k)
        stack(sp - 1) = i32x2Shift(op, stack(sp - 1), k)
      case 0x3AE | 0x3B1 | 0x3B5 | 0x3B6 | 0x3B7 | 0x3B8 | 0x3B9 =>
        // i32x4 add sub mul min_s min_u max_s max_u
        sp -= 2
        stack(sp - 2) = i32x2Bin(op, stack(sp - 2), stack(sp))
        stack(sp - 1) = i32x2Bin(op, stack(sp - 1), stack(sp + 1))
      // ---- i64x2 ----
      case 0x3C0 => // i64x2.abs
        stack(sp - 2) = math.abs(stack(sp - 2))
        stack(sp - 1) = math.abs(stack(sp - 1))
      case 0x3C1 => // i64x2.neg
        stack(sp - 2) = -stack(sp - 2); stack(sp - 1) = -stack(sp - 1)
      case 0x3C3 => // i64x2.all_true
        sp -= 1
        stack(sp - 1) = b2l(stack(sp - 1) != 0L && stack(sp) != 0L)
      case 0x3C4 => // i64x2.bitmask
        sp -= 1
        stack(sp - 1) = ((stack(sp - 1) >>> 63) | ((stack(sp) >>> 62) & 2))
      case 0x3CB => // i64x2.shl
        sp -= 1
        val k = (stack(sp) & 63).toInt
        stack(sp - 2) = stack(sp - 2) << k; stack(sp - 1) = stack(sp - 1) << k
      case 0x3CC => // i64x2.shr_s
        sp -= 1
        val k = (stack(sp) & 63).toInt
        stack(sp - 2) = stack(sp - 2) >> k; stack(sp - 1) = stack(sp - 1) >> k
      case 0x3CD => // i64x2.shr_u
        sp -= 1
        val k = (stack(sp) & 63).toInt
        stack(sp - 2) = stack(sp - 2) >>> k; stack(sp - 1) = stack(sp - 1) >>> k
      case 0x3CE => // i64x2.add
        sp -= 2
        stack(sp - 2) += stack(sp); stack(sp - 1) += stack(sp + 1)
      case 0x3D1 => // i64x2.sub
        sp -= 2
        stack(sp - 2) -= stack(sp); stack(sp - 1) -= stack(sp + 1)
      case 0x3D5 => // i64x2.mul
        sp -= 2
        stack(sp - 2) *= stack(sp); stack(sp - 1) *= stack(sp + 1)
      // ---- f32x4 ----
      case 0x367 | 0x368 | 0x369 | 0x36A => // f32x4 ceil floor trunc nearest
        stack(sp - 2) = f32x2Un(op, stack(sp - 2)); stack(sp - 1) = f32x2Un(op, stack(sp - 1))
      case 0x3E0 | 0x3E1 | 0x3E3 => // f32x4 abs neg sqrt
        stack(sp - 2) = f32x2Un(op, stack(sp - 2)); stack(sp - 1) = f32x2Un(op, stack(sp - 1))
      case 0x3E4 | 0x3E5 | 0x3E6 | 0x3E7 | 0x3E8 | 0x3E9 | 0x3EA | 0x3EB =>
        // f32x4 add sub mul div min max pmin pmax
        sp -= 2
        stack(sp - 2) = f32x2Bin(op, stack(sp - 2), stack(sp))
        stack(sp - 1) = f32x2Bin(op, stack(sp - 1), stack(sp + 1))
      case 0x3F8 | 0x3F9 | 0x3FA | 0x3FB => // i32x4<->f32x4 conversions
        stack(sp - 2) = i32f32Cvt(op, stack(sp - 2)); stack(sp - 1) = i32f32Cvt(op, stack(sp - 1))
      // ---- f64x2 ----
      case 0x374 | 0x375 | 0x37A | 0x394 | 0x3EC | 0x3ED | 0x3EF =>
        // f64x2 ceil floor trunc nearest abs neg sqrt
        stack(sp - 2) = f64Un(op, stack(sp - 2)); stack(sp - 1) = f64Un(op, stack(sp - 1))
      case 0x3F0 | 0x3F1 | 0x3F2 | 0x3F3 | 0x3F4 | 0x3F5 | 0x3F6 | 0x3F7 =>
        // f64x2 add sub mul div min max pmin pmax
        sp -= 2
        stack(sp - 2) = f64Bin(op, stack(sp - 2), stack(sp))
        stack(sp - 1) = f64Bin(op, stack(sp - 1), stack(sp + 1))
      case 0x3FC => // i32x4.trunc_sat_f64x2_s_zero
        val d0 = java.lang.Double.longBitsToDouble(stack(sp - 2))
        val d1 = java.lang.Double.longBitsToDouble(stack(sp - 1))
        stack(sp - 2) = (d0.toInt.toLong & M32) | ((d1.toInt.toLong & M32) << 32)
        stack(sp - 1) = 0L
      case 0x3FD => // i32x4.trunc_sat_f64x2_u_zero
        val d0 = java.lang.Double.longBitsToDouble(stack(sp - 2))
        val d1 = java.lang.Double.longBitsToDouble(stack(sp - 1))
        stack(sp - 2) = satU32(d0) | (satU32(d1) << 32)
        stack(sp - 1) = 0L
      case 0x3FE => // f64x2.convert_low_i32x4_s
        val lo = stack(sp - 2)
        stack(sp - 2) = java.lang.Double.doubleToRawLongBits(lo.toInt.toDouble)
        stack(sp - 1) = java.lang.Double.doubleToRawLongBits((lo >> 32).toInt.toDouble)
      case 0x3FF => // f64x2.convert_low_i32x4_u
        val lo = stack(sp - 2)
        stack(sp - 2) = java.lang.Double.doubleToRawLongBits((lo & M32).toDouble)
        stack(sp - 1) = java.lang.Double.doubleToRawLongBits((lo >>> 32).toDouble)
      case other => throw WasmTrap(f"unimplemented opcode 0x$other%02x")
    }
    sp
  }

  @inline private def f32(idx: Int): Float =
    java.lang.Float.intBitsToFloat(stack(idx).toInt)
  @inline private def f64(idx: Int): Double =
    java.lang.Double.longBitsToDouble(stack(idx))
  @inline private def setF32(idx: Int, v: Float): Unit =
    stack(idx) = java.lang.Float.floatToRawIntBits(v).toLong & M32
  @inline private def setF64(idx: Int, v: Double): Unit =
    stack(idx) = java.lang.Double.doubleToRawLongBits(v)
}

object WasmInstance {
  val PageSize = 65536
  /** 256 MiB guard for guest memory growth */
  val MaxPages = 4096
  val M32 = 0xFFFFFFFFL
  /** executed-instruction budget per invocation */
  val DefaultFuel = 4_000_000_000L

  @inline def b2l(b: Boolean): Long = if (b) 1L else 0L
  @inline def truncD(d: Double): Double =
    if (d.isNaN || d.isInfinite) d else math.copySign(math.floor(math.abs(d)), d)
  @inline def u64ToDouble(v: Long): Double =
    if (v >= 0) v.toDouble else ((v >>> 1) | (v & 1L)).toDouble * 2.0
  @inline def d2u64(d: Double): Long =
    if (d >= 9.223372036854776E18) (d - 9.223372036854776E18).toLong | Long.MinValue
    else d.toLong

  /** trunc_sat to u32: NaN→0 (both comparisons false), below -1→0,
    * ≥2^32 → UINT32_MAX, else trunc toward zero. */
  @inline def satU32(d: Double): Long =
    if (d >= 4294967296.0) 0xFFFFFFFFL
    else if (d > -1.0) d.toLong & M32
    else 0L

  /** trunc_sat to u64: NaN→0, below -1→0, ≥2^64 → UINT64_MAX. */
  @inline def satU64(d: Double): Long =
    if (d >= 1.8446744073709552E19) -1L
    else if (d > -1.0) d2u64(d)
    else 0L

  // ---- v128 lane helpers: pure functions of one 64-bit half (two i32 or
  // f32 lanes, or one i64/f64 lane), selected by the exact opcode ----

  @inline private def f32Lo(w: Long): Float = java.lang.Float.intBitsToFloat(w.toInt)
  @inline private def f32Hi(w: Long): Float = java.lang.Float.intBitsToFloat((w >>> 32).toInt)
  @inline private def pack32(lo: Int, hi: Int): Long = (lo.toLong & M32) | (hi.toLong << 32)
  @inline private def packF32(lo: Float, hi: Float): Long =
    pack32(java.lang.Float.floatToRawIntBits(lo), java.lang.Float.floatToRawIntBits(hi))
  @inline private def dv(w: Long): Double = java.lang.Double.longBitsToDouble(w)
  @inline private def dl(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** Four bytes of `x` (low first), sign- or zero-extended to i16 lanes. */
  private def widen8x4(x: Long, signed: Boolean): Long = {
    var r = 0L
    var k = 0
    while (k < 4) {
      val v = (x >>> (8 * k)) & 0xFF
      r |= ((if (signed) (v << 56) >> 56 else v) & 0xFFFFL) << (16 * k)
      k += 1
    }
    r
  }

  /** Two i16 of `x` (low first), sign- or zero-extended to i32 lanes. */
  private def widen16x2(x: Long, signed: Boolean): Long = {
    val a = x & 0xFFFF; val b = (x >>> 16) & 0xFFFF
    if (signed) pack32(a.toShort, b.toShort) else a | (b << 32)
  }

  private def i32x2Cmp(op: Int, a: Long, b: Long): Long = {
    def cmp(x: Int, y: Int): Boolean = (op: @annotation.switch) match {
      case 0x337 => x == y
      case 0x338 => x != y
      case 0x339 => x < y
      case 0x33A => Integer.compareUnsigned(x, y) < 0
      case 0x33B => x > y
      case 0x33C => Integer.compareUnsigned(x, y) > 0
      case 0x33D => x <= y
      case 0x33E => Integer.compareUnsigned(x, y) <= 0
      case 0x33F => x >= y
      case _ => Integer.compareUnsigned(x, y) >= 0
    }
    (if (cmp(a.toInt, b.toInt)) M32 else 0L) |
      (if (cmp((a >>> 32).toInt, (b >>> 32).toInt)) M32 << 32 else 0L)
  }

  private def f32x2Cmp(op: Int, a: Long, b: Long): Long = {
    def cmp(x: Float, y: Float): Boolean = (op: @annotation.switch) match {
      case 0x341 => x == y
      case 0x342 => x != y
      case 0x343 => x < y
      case 0x344 => x > y
      case 0x345 => x <= y
      case _ => x >= y
    }
    (if (cmp(f32Lo(a), f32Lo(b))) M32 else 0L) |
      (if (cmp(f32Hi(a), f32Hi(b))) M32 << 32 else 0L)
  }

  private def f64Cmp(op: Int, a: Long, b: Long): Long = {
    val x = dv(a); val y = dv(b)
    val r = (op: @annotation.switch) match {
      case 0x347 => x == y
      case 0x348 => x != y
      case 0x349 => x < y
      case 0x34A => x > y
      case 0x34B => x <= y
      case _ => x >= y
    }
    if (r) -1L else 0L
  }

  private def i64Cmp(op: Int, x: Long, y: Long): Long = {
    val r = (op: @annotation.switch) match {
      case 0x3D6 => x == y
      case 0x3D7 => x != y
      case 0x3D8 => x < y
      case 0x3D9 => x > y
      case 0x3DA => x <= y
      case _ => x >= y
    }
    if (r) -1L else 0L
  }

  private def i32x2Un(op: Int, w: Long): Long =
    if (op == 0x3A0) pack32(math.abs(w.toInt), math.abs((w >>> 32).toInt))
    else pack32(-w.toInt, -(w >>> 32).toInt)

  private def i32x2Shift(op: Int, w: Long, k: Int): Long = {
    val a = w.toInt; val b = (w >>> 32).toInt
    (op: @annotation.switch) match {
      case 0x3AB => pack32(a << k, b << k)
      case 0x3AC => pack32(a >> k, b >> k)
      case _ => pack32(a >>> k, b >>> k)
    }
  }

  private def i32x2Bin(op: Int, a: Long, b: Long): Long = {
    def bin(x: Int, y: Int): Int = (op: @annotation.switch) match {
      case 0x3AE => x + y
      case 0x3B1 => x - y
      case 0x3B5 => x * y
      case 0x3B6 => math.min(x, y)
      case 0x3B7 => if (Integer.compareUnsigned(x, y) <= 0) x else y
      case 0x3B8 => math.max(x, y)
      case _ => if (Integer.compareUnsigned(x, y) >= 0) x else y
    }
    pack32(bin(a.toInt, b.toInt), bin((a >>> 32).toInt, (b >>> 32).toInt))
  }

  /** f32x4 rounding (0x367-0x36A) and abs / neg / sqrt (0x3E0-0x3E3). */
  private def f32x2Un(op: Int, w: Long): Long = {
    def un(v: Float): Float = (op: @annotation.switch) match {
      case 0x367 => math.ceil(v.toDouble).toFloat
      case 0x368 => math.floor(v.toDouble).toFloat
      case 0x369 => truncD(v.toDouble).toFloat
      case 0x36A => math.rint(v.toDouble).toFloat
      case 0x3E0 => math.abs(v)
      case 0x3E1 => -v
      case _ => math.sqrt(v.toDouble).toFloat
    }
    packF32(un(f32Lo(w)), un(f32Hi(w)))
  }

  private def f32x2Bin(op: Int, a: Long, b: Long): Long = {
    def bin(x: Float, y: Float): Float = (op: @annotation.switch) match {
      case 0x3E4 => x + y
      case 0x3E5 => x - y
      case 0x3E6 => x * y
      case 0x3E7 => x / y
      case 0x3E8 => // min: NaN-propagating, -0 < +0
        if (x.isNaN || y.isNaN) Float.NaN
        else if (x == 0.0f && y == 0.0f)
          if ((java.lang.Float.floatToRawIntBits(x) |
            java.lang.Float.floatToRawIntBits(y)) < 0) -0.0f else 0.0f
        else math.min(x, y)
      case 0x3E9 =>
        if (x.isNaN || y.isNaN) Float.NaN
        else if (x == 0.0f && y == 0.0f)
          if ((java.lang.Float.floatToRawIntBits(x) &
            java.lang.Float.floatToRawIntBits(y)) < 0) -0.0f else 0.0f
        else math.max(x, y)
      case 0x3EA => if (y < x) y else x // pmin
      case _ => if (x < y) y else x     // pmax
    }
    packF32(bin(f32Lo(a), f32Lo(b)), bin(f32Hi(a), f32Hi(b)))
  }

  /** i32x4.trunc_sat_f32x4_{s,u} (0x3F8, 0x3F9) and
    * f32x4.convert_i32x4_{s,u} (0x3FA, 0x3FB). */
  private def i32f32Cvt(op: Int, w: Long): Long = (op: @annotation.switch) match {
    case 0x3F8 => pack32(f32Lo(w).toInt, f32Hi(w).toInt)
    case 0x3F9 => satU32(f32Lo(w).toDouble) | (satU32(f32Hi(w).toDouble) << 32)
    case 0x3FA => packF32(w.toInt.toFloat, (w >>> 32).toInt.toFloat)
    case _ => packF32((w & M32).toFloat, (w >>> 32).toFloat)
  }

  /** f64x2 rounding (ceil, floor, trunc, nearest) and abs / neg / sqrt. */
  private def f64Un(op: Int, w: Long): Long = {
    val v = dv(w)
    dl((op: @annotation.switch) match {
      case 0x374 => math.ceil(v)
      case 0x375 => math.floor(v)
      case 0x37A => truncD(v)
      case 0x394 => math.rint(v)
      case 0x3EC => math.abs(v)
      case 0x3ED => -v
      case _ => math.sqrt(v)
    })
  }

  private def f64Bin(op: Int, a: Long, b: Long): Long = {
    val x = dv(a); val y = dv(b)
    dl((op: @annotation.switch) match {
      case 0x3F0 => x + y
      case 0x3F1 => x - y
      case 0x3F2 => x * y
      case 0x3F3 => x / y
      case 0x3F4 => // min: NaN-propagating, -0 < +0 (spec fmin)
        if (x.isNaN || y.isNaN) Double.NaN
        else if (x == 0.0 && y == 0.0)
          if ((dl(x) | dl(y)) < 0) -0.0 else 0.0
        else math.min(x, y)
      case 0x3F5 =>
        if (x.isNaN || y.isNaN) Double.NaN
        else if (x == 0.0 && y == 0.0)
          if ((dl(x) & dl(y)) < 0) -0.0 else 0.0
        else math.max(x, y)
      case 0x3F6 => if (y < x) y else x // pmin
      case _ => if (x < y) y else x     // pmax
    })
  }
}
