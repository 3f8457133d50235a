package graft.functions

/** From-scratch wasm32 binary-format parser and pre-decoder.
  *
  * Loads the reference's actual guest artifact
  * (`/root/reference/wasm_function.wasm`, built from
  * wasm_function/src/lib.rs by `export_udf_function!` —
  * wasm_udf/src/lib.rs:51-67) so its `__wasm_udf_*` functions can run as
  * real WASM bytecode inside [[WasmInterpreter]]. Implemented purely from
  * the public WebAssembly core binary spec
  * (https://webassembly.github.io/spec/core/binary/); no WASM runtime is
  * resolvable offline (build.sbt constraint), so this IS the runtime.
  *
  * Scope (r18: the full core-MVP surface a stock rustc/clang toolchain
  * emits; r19: the opt-in SIMD v128 core): the MVP instruction set +
  * sign-extension ops + if/else structured control (0x04/0x05) + the
  * 0xFC extensions every modern toolchain assumes (saturating
  * float-to-int truncation 0xFC 0-7, memory.copy 0xFC 10, memory.fill
  * 0xFC 11) + the 0xFD v128 core subset a vectorized numeric kernel
  * needs (load/store/const/splat/lane incl. the splat/extending/zero/
  * per-lane memory forms, i32x4/i64x2/f32x4/f64x2 arithmetic +
  * compares + round ops, v128 bitwise/bitselect, sat-trunc/convert;
  * v128 values are
  * TWO adjacent Long slots — see the slot model in decodeBody). The
  * reference artifact itself uses none of the r18/r19 additions
  * (verified by full static decode, tools/wasmproto/wasmdec.py) — they
  * exist so `LANGUAGE WASM AS '<any>.wasm'` accepts guests built
  * outside the artifact's exact recipe. Still outside scope (named
  * rejection classes): threads/atomics, reference types, multi-value,
  * memory.init/data.drop, and the i8x16/i16x8 SIMD lane families
  * (incl. shuffle/swizzle).
  * Unknown opcodes fail at LOAD time, not invoke time, so an incompatible
  * module is rejected at `CREATE FUNCTION`, matching the reference factory
  * (wasmedge_factory/src/lib.rs:111-132).
  *
  * Decoding strategy: structured control (block/loop/end/br*) is resolved
  * ONCE at load time into direct jumps. WASM validation guarantees a static
  * operand-stack height at every instruction, so each branch is precomputed
  * as (target instruction, operand height to unwind to, carried arity) and
  * the interpreter needs no runtime control stack — the dispatch loop is a
  * flat array walk.
  */
object WasmModule {

  final class WasmParseException(msg: String) extends RuntimeException(msg)

  /** One decoded function body with branches resolved to jumps. */
  final class WasmFunc(
      val typeId: Int,          // canonical signature id (for call_indirect)
      val nparams: Int,         // in STACK SLOTS (a v128 param takes 2)
      val nlocals: Int,         // extra local slots beyond params
      val nres: Int,            // result slots: 0, 1, or 2 (v128)
      val ops: Array[Int],      // opcode per instruction
      val argL: Array[Long],    // const value / local slot / call idx / packed br target
      val argM: Array[Int],     // memory offset / br-table index
      val brTables: Array[Array[Long]],
      val maxStack: Int,        // static max operand height
      val usesSimd: Boolean = false) { // v128 anywhere → interpreter-only
    def hasResult: Boolean = nres >= 1
  }

  /** Packed branch target: jump lands at (target+1); operand stack truncates
    * to `height`, carrying `arity` (0|1|2 — a carried v128 is 2 slots) top
    * values. */
  @inline def packTarget(target: Int, height: Int, arity: Int): Long =
    (target.toLong & 0xFFFFFFFFL) | (height.toLong << 32) | (arity.toLong << 62)

  /** Human-readable class for an opcode outside the supported surface, so a
    * CREATE FUNCTION over an incompatible artifact fails with a message that
    * names WHAT the module uses, not just a hex byte (the supported surface
    * is exactly the reference artifact's: MVP + sign-extension, br-based
    * control flow — see the class doc). */
  def opcodeClass(op: Int): String = op match {
    case 0x25 | 0x26 => f"table.get/table.set reference-types ops (opcode 0x$op%02x)"
    case 0xD0 | 0xD1 | 0xD2 => f"reference types (opcode 0x$op%02x)"
    case 0xFE => "0xFE-prefixed threads/atomics instructions"
    case other => f"opcode 0x$other%02x"
  }

  /** Named class for an unsupported 0xFD SIMD sub-opcode — the v128
    * core (load/store/const/splat/lane + i32x4/i64x2/f32x4/f64x2
    * arithmetic, bitwise, compares, sat-trunc/convert) IS supported
    * since r19. */
  def simdClass(sub: Int): String = sub match {
    case 13 | 14 => s"i8x16 shuffle/swizzle (0xFD $sub)"
    case s if (s >= 15 && s <= 16) || (s >= 21 && s <= 26) ||
      (s >= 35 && s <= 54) || (s >= 96 && s <= 159 && s != 103 &&
        s != 104 && s != 105 && s != 106 && s != 116 && s != 117 &&
        s != 122 && s != 148) =>
      s"i8x16/i16x8 lane family (0xFD $s)"
    case other => s"SIMD extension (0xFD $other)"
  }

  /** Named class for an unsupported 0xFC sub-opcode (saturating trunc
    * 0-7, memory.copy 10, and memory.fill 11 ARE supported — r18). */
  def fcClass(sub: Int): String = sub match {
    case 8 => "memory.init (0xFC 8; passive-segment init)"
    case 9 => "data.drop (0xFC 9)"
    case 12 | 13 | 14 | 15 | 16 | 17 =>
      s"table bulk/reference-types op (0xFC $sub)"
    case other => s"0xFC extension $other"
  }

  /** Every malformed binary — truncated sections, LEB prefixes running past
    * a section end, bogus vector counts, raw index escapes — must surface as
    * [[WasmParseException]] so `CREATE FUNCTION` fails with the clean
    * "cannot load wasm module" statement error (the reference factory's
    * load-time contract, wasmedge_factory/src/lib.rs:111-132), never a raw
    * ArrayIndexOutOfBounds/NegativeArraySize from parser internals. */
  def parse(bytes: Array[Byte]): WasmModule =
    try new WasmModule(bytes)
    catch {
      case e: WasmParseException => throw e
      case e: IndexOutOfBoundsException =>
        throw new WasmParseException(s"malformed binary (read out of bounds: ${e.getMessage})")
      case e: NegativeArraySizeException =>
        throw new WasmParseException(s"malformed binary (negative size: ${e.getMessage})")
    }

  def parseFile(path: String): WasmModule = {
    val f = new java.io.File(path)
    if (!f.isFile)
      throw new WasmParseException(s"wasm module not found: '$path'")
    parse(java.nio.file.Files.readAllBytes(f.toPath))
  }
}

final class WasmModule private (bytes: Array[Byte]) {
  import WasmModule._

  // ---- raw section payloads -------------------------------------------
  private var pos = 0
  /** Hard read bound: the end of the section currently being parsed (the
    * whole binary while reading section headers). A LEB whose continuation
    * bits run past this — DuckDB-style truncation fuzz — throws instead of
    * silently consuming the next section's bytes or spinning to EOF. */
  private var limit = bytes.length
  private def u8(): Int = {
    if (pos >= limit) throw new WasmParseException(
      s"truncated read at offset $pos (section bound $limit)")
    val b = bytes(pos) & 0xFF; pos += 1; b
  }
  /** A vector count, sanity-bounded by the bytes remaining in the section:
    * every element is at least one byte, so a count larger than the
    * remaining payload is malformed — reject it BEFORE Array.fill turns it
    * into a multi-GB allocation or a negative-size throw. */
  private def vecLen(): Int = {
    val n = u32()
    if (n < 0 || n > limit - pos) throw new WasmParseException(
      s"vector length $n exceeds section bounds at offset $pos")
    n
  }
  private def u32(): Int = {
    var r = 0; var s = 0; var b = 0
    do { b = u8(); r |= (b & 0x7F) << s; s += 7 } while ((b & 0x80) != 0)
    r
  }
  private def s32leb(): Int = {
    var r = 0; var s = 0; var b = 0
    do { b = u8(); r |= (b & 0x7F) << s; s += 7 } while ((b & 0x80) != 0)
    if (s < 32 && (b & 0x40) != 0) r |= -1 << s
    r
  }
  private def s64leb(): Long = {
    var r = 0L; var s = 0; var b = 0
    do { b = u8(); r |= (b & 0x7FL) << s; s += 7 } while ((b & 0x80) != 0)
    if (s < 64 && (b & 0x40) != 0) r |= -1L << s
    r
  }
  private def rawName(): String = {
    val n = vecLen(); val s = new String(bytes, pos, n, "UTF-8"); pos += n; s
  }

  // parsed structures
  /** (param value types, result value types) per type index */
  private var types: Array[(Array[Int], Array[Int])] = Array.empty
  /** canonical id per type index (structural equality) */
  private var canonTypeId: Array[Int] = Array.empty
  private[functions] var funcTypeIdx: Array[Int] = Array.empty
  private[functions] var table: Array[Int] = Array.empty // -1 = null entry
  private[functions] var memPagesMin: Int = 0
  /** (valtype, mutable, init bits) */
  private[functions] var globalsInit: Array[Long] = Array.empty
  private[functions] var exports: Map[String, (Int, Int)] = Map.empty
  /** single active data segment model: (offset, bytes) list */
  private[functions] var dataSegs: List[(Int, Array[Byte])] = Nil
  private[functions] var funcs: Array[WasmFunc] = Array.empty

  if (!(bytes.length >= 8 &&
    bytes(0) == 0 && bytes(1) == 'a' && bytes(2) == 's' && bytes(3) == 'm' &&
    bytes(4) == 1 && bytes(5) == 0 && bytes(6) == 0 && bytes(7) == 0))
    throw new WasmParseException("not a wasm v1 binary")
  pos = 8
  private val codeOffsets = scala.collection.mutable.ArrayBuffer.empty[(Array[Int], Int, Int)]
  while (pos < bytes.length) {
    val sid = u8(); val len = u32(); val end = pos + len
    if (len < 0 || end > bytes.length) throw new WasmParseException(
      s"section $sid length $len runs past end of binary")
    limit = end
    sid match {
      case 1 => // types
        types = Array.fill(vecLen()) {
          if (u8() != 0x60) throw new WasmParseException("bad functype")
          val ps = Array.fill(vecLen())(u8())
          val rs = Array.fill(vecLen())(u8())
          if (rs.length > 1) throw new WasmParseException("multi-value not supported")
          (ps, rs)
        }
        val canon = scala.collection.mutable.LinkedHashMap.empty[String, Int]
        canonTypeId = types.map { case (ps, rs) =>
          val key = ps.mkString(",") + "->" + rs.mkString(",")
          canon.getOrElseUpdate(key, canon.size)
        }
      case 2 =>
        if (u32() != 0) throw new WasmParseException(
          "imports not supported (reference artifact is import-free)")
      case 3 => funcTypeIdx = Array.fill(vecLen())(u32())
      case 4 =>
        val n = u32()
        if (n > 0) {
          u8() // elemtype (funcref)
          val flags = u8(); val mn = u32(); if ((flags & 1) != 0) u32()
          if (mn < 0 || mn > 16_777_216) throw new WasmParseException(
            s"table min size $mn out of bounds")
          table = Array.fill(mn)(-1)
        }
      case 5 =>
        val n = u32()
        if (n > 0) {
          val flags = u8(); memPagesMin = u32(); if ((flags & 1) != 0) u32()
          if (memPagesMin < 0 || memPagesMin > WasmInstance.MaxPages)
            throw new WasmParseException(
              s"memory min $memPagesMin pages exceeds the ${WasmInstance.MaxPages}-page guard")
        }
      case 6 =>
        globalsInit = Array.fill(vecLen()) {
          u8(); u8() // valtype, mutability (value representation is uniform)
          val v = (u8(): @annotation.switch) match {
            case 0x41 => s32leb().toLong & 0xFFFFFFFFL
            case 0x42 => s64leb()
            case 0x43 => { val b = java.lang.Float.floatToRawIntBits(
              java.lang.Float.intBitsToFloat(readF32Bits())).toLong & 0xFFFFFFFFL; b }
            case 0x44 => readF64Bits()
            case other => throw new WasmParseException(s"global init op $other")
          }
          if (u8() != 0x0B) throw new WasmParseException("bad global init end")
          v
        }
      case 7 =>
        exports = Seq.fill(vecLen()) {
          val nm = rawName(); val k = u8(); val idx = u32(); nm -> (k, idx)
        }.toMap
      case 9 =>
        for (_ <- 0 until vecLen()) {
          if (u32() != 0) throw new WasmParseException("elem flags unsupported")
          if (u8() != 0x41) throw new WasmParseException("elem offset op")
          val off = s32leb()
          if (u8() != 0x0B) throw new WasmParseException("elem offset end")
          val n = vecLen()
          if (off < 0 || off.toLong + n > table.length) throw new WasmParseException(
            s"elem segment [$off, ${off + n}) outside table of ${table.length}")
          var i = 0
          while (i < n) { table(off + i) = u32(); i += 1 }
        }
      case 10 =>
        val n = vecLen()
        for (_ <- 0 until n) {
          val sz = u32(); val bodyEnd = pos + sz
          if (sz < 0 || bodyEnd > limit) throw new WasmParseException(
            s"code body size $sz runs past section end")
          val locals = scala.collection.mutable.ArrayBuffer.empty[Int]
          for (_ <- 0 until vecLen()) {
            val cnt = u32(); val t = u8()
            if (cnt < 0 || locals.length + cnt.toLong > 1_000_000) throw new WasmParseException(
              s"excessive locals declaration ($cnt)")
            var i = 0; while (i < cnt) { locals += t; i += 1 }
          }
          codeOffsets += ((locals.toArray, pos, bodyEnd))
          pos = bodyEnd
        }
      case 11 =>
        for (_ <- 0 until vecLen()) {
          val flags = u32()
          if (flags == 0) {
            if (u8() != 0x41) throw new WasmParseException("data offset op")
            val off = s32leb()
            if (u8() != 0x0B) throw new WasmParseException("data offset end")
            val n = vecLen()
            val seg = new Array[Byte](n)
            System.arraycopy(bytes, pos, seg, 0, n); pos += n
            dataSegs = (off, seg) :: dataSegs
          } else if (flags == 1) { // passive segment: skip (unused without bulk ops)
            val n = vecLen(); pos += n
          } else throw new WasmParseException("data flags unsupported")
        }
      case _ => () // custom / other sections ignored
    }
    pos = end
    limit = bytes.length
  }
  funcs = Array.tabulate(codeOffsets.length) { i =>
    val (locals, s, e) = codeOffsets(i)
    fusePushPairs(compactNops(decodeBody(i, locals, s, e)))
  }

  /** Decode-time superinstruction pass: fuse the dominant push-push bigrams
    * (measured over the reference artifact's pow kernel — get+get 6.6%,
    * get+const 7.5%, tee+get 3.4% of executed pairs) into single synthetic
    * opcodes so the interpreter pays one dispatch for two pushes:
    *   0x100 GET2     argL = loIdx | hiIdx<<32        (local.get a; local.get b)
    *   0x101 GETCONST argM = localIdx, argL = bits    (local.get a; const k)
    *   0x102 TEEGET   argM = teeIdx,   argL = getIdx  (local.tee a; local.get b)
    * A pair is only fused when its second instruction is not a branch
    * landing point (branches land at t and execute t+1, so the landing
    * points are the t+1 of every packed target, plus index 0); targets are
    * then remapped with the same prefix-sum rule as [[compactNops]]. */
  private def fusePushPairs(f: WasmFunc): WasmFunc = {
    val n = f.ops.length
    val landing = new Array[Boolean](n + 1)
    landing(0) = true
    var j = 0
    while (j < n) {
      if (f.ops(j) == 0x0C || f.ops(j) == 0x0D)
        landing(((f.argL(j) & 0xFFFFFFFFL).toInt + 1).min(n)) = true
      j += 1
    }
    f.brTables.foreach(_.foreach(t => landing(((t & 0xFFFFFFFFL).toInt + 1).min(n)) = true))
    @inline def isConst(op: Int) = op >= 0x41 && op <= 0x44
    // mark seconds-of-pairs to drop; rewrite firsts
    val drop = new Array[Boolean](n)
    val ops2 = f.ops.clone(); val argL2 = f.argL.clone(); val argM2 = f.argM.clone()
    j = 0
    while (j < n - 1) {
      val a = f.ops(j); val b = f.ops(j + 1)
      if (!landing(j + 1)) {
        if (a == 0x20 && b == 0x20) {
          ops2(j) = 0x100; argL2(j) = (f.argL(j) & 0xFFFFFFFFL) | (f.argL(j + 1) << 32)
          drop(j + 1) = true; j += 1
        } else if (a == 0x20 && isConst(b)) {
          ops2(j) = 0x101; argM2(j) = f.argL(j).toInt; argL2(j) = f.argL(j + 1)
          drop(j + 1) = true; j += 1
        } else if (a == 0x22 && b == 0x20) {
          ops2(j) = 0x102; argM2(j) = f.argL(j).toInt; argL2(j) = f.argL(j + 1)
          drop(j + 1) = true; j += 1
        }
      }
      j += 1
    }
    var kept = 0
    j = 0
    while (j < n) { if (!drop(j)) kept += 1; j += 1 }
    if (kept == n) return f
    val pos = new Array[Int](n + 1)
    j = 0
    var c = 0
    while (j < n) { pos(j) = c; if (!drop(j)) c += 1; j += 1 }
    pos(n) = c
    def remap(packed: Long): Long = {
      val t = (packed & 0xFFFFFFFFL).toInt
      val newT = pos(t + 1) - 1
      (packed & ~0xFFFFFFFFL) | (newT.toLong & 0xFFFFFFFFL)
    }
    val ops3 = new Array[Int](kept)
    val argL3 = new Array[Long](kept)
    val argM3 = new Array[Int](kept)
    j = 0
    var k = 0
    while (j < n) {
      if (!drop(j)) {
        ops3(k) = ops2(j)
        argL3(k) = if (ops2(j) == 0x0C || ops2(j) == 0x0D) remap(argL2(j)) else argL2(j)
        argM3(k) = argM2(j)
        k += 1
      }
      j += 1
    }
    new WasmFunc(f.typeId, f.nparams, f.nlocals, f.nres,
      ops3, argL3, argM3, f.brTables.map(_.map(remap)), f.maxStack, f.usesSimd)
  }

  /** Decode-time peephole: block/loop headers and inner ends decode to 0x01
    * nops (they only exist so branch targets stay index-aligned); strip
    * them and remap every packed branch target so the interpreter never
    * dispatches them. ~10% of executed instructions in the reference
    * artifact's libm-style kernels are these structural nops. The jump
    * convention (land at target, execute target+1) makes the remap
    * `pos(t+1)-1` where pos = kept-count prefix sum: execution continues at
    * the first surviving instruction at old index ≥ t+1. */
  private def compactNops(f: WasmFunc): WasmFunc = {
    val n = f.ops.length
    var kept = 0
    var j = 0
    while (j < n) { if (f.ops(j) != 0x01) kept += 1; j += 1 }
    if (kept == n) return f
    val pos = new Array[Int](n + 1)
    j = 0
    var c = 0
    while (j < n) { pos(j) = c; if (f.ops(j) != 0x01) c += 1; j += 1 }
    pos(n) = c
    def remap(packed: Long): Long = {
      val t = (packed & 0xFFFFFFFFL).toInt
      val newT = pos(t + 1) - 1
      (packed & ~0xFFFFFFFFL) | (newT.toLong & 0xFFFFFFFFL)
    }
    val ops2 = new Array[Int](kept)
    val argL2 = new Array[Long](kept)
    val argM2 = new Array[Int](kept)
    j = 0
    var k = 0
    while (j < n) {
      if (f.ops(j) != 0x01) {
        ops2(k) = f.ops(j)
        argL2(k) = if (f.ops(j) == 0x0C || f.ops(j) == 0x0D) remap(f.argL(j)) else f.argL(j)
        argM2(k) = f.argM(j)
        k += 1
      }
      j += 1
    }
    new WasmFunc(f.typeId, f.nparams, f.nlocals, f.nres,
      ops2, argL2, argM2, f.brTables.map(_.map(remap)), f.maxStack, f.usesSimd)
  }

  private def readF32Bits(): Int = {
    if (pos + 4 > limit) throw new WasmParseException(s"truncated f32 at offset $pos")
    val v = (bytes(pos) & 0xFF) | ((bytes(pos + 1) & 0xFF) << 8) |
      ((bytes(pos + 2) & 0xFF) << 16) | ((bytes(pos + 3) & 0xFF) << 24)
    pos += 4; v
  }
  private def readF64Bits(): Long = {
    if (pos + 8 > limit) throw new WasmParseException(s"truncated f64 at offset $pos")
    var v = 0L; var i = 0
    while (i < 8) { v |= (bytes(pos + i) & 0xFFL) << (8 * i); i += 1 }
    pos += 8; v
  }

  /** JIT-compiled eligible leaf functions ([[WasmJit]]); null when
    * disabled or none qualify. Compiled once per decoded module and
    * shared by every instance — the generated class is stateless (all
    * state flows through the `mem` array and `long` arguments). */
  private[functions] lazy val jit: (CompiledModule, Array[Boolean]) =
    WasmJit.compile(this)

  def typeOf(fidx: Int): (Array[Int], Array[Int]) = types(funcTypeIdx(fidx))
  def canonOf(typeIdx: Int): Int = canonTypeId(typeIdx)
  def funcCanon(fidx: Int): Int = canonTypeId(funcTypeIdx(fidx))

  /** Exported `__wasm_udf_*` function names, stripped of the prefix — the
    * names `CREATE FUNCTION … AS 'file.wasm!name'` binds (the reference
    * wrapper prepends the prefix the same way, udf.rs:52). */
  def udfExports: Seq[String] =
    exports.keys.toSeq.filter(_.startsWith("__wasm_udf_"))
      .map(_.stripPrefix("__wasm_udf_")).sorted

  def exportedFunc(name: String): Int = exports.get(name) match {
    case Some((0, idx)) => idx
    case _ => throw new WasmParseException(s"no exported function '$name'")
  }

  // ---- body decode: resolve structured control to jumps ----------------

  /** Per-opcode operand-stack delta for the fixed-arity ops; call/call_
    * indirect/br_table/select handled explicitly. */
  private def decodeBody(fidx: Int, localTypes: Array[Int], start: Int, bodyEnd: Int): WasmFunc = {
    val (ps, rs) = typeOf(fidx)
    // slot model (r19 SIMD): a v128 (0x7B) value occupies TWO adjacent
    // Long stack slots (lo first); params/locals/results count in slots,
    // and local.get/set/tee argL is rewritten to the SLOT index here
    @inline def slotsOf(t: Int): Int = if (t == 0x7B) 2 else 1
    val allLocalTypes = ps ++ localTypes
    val localSlot = new Array[Int](allLocalTypes.length)
    locally {
      var acc = 0
      var li = 0
      while (li < allLocalTypes.length) {
        localSlot(li) = acc; acc += slotsOf(allLocalTypes(li)); li += 1
      }
    }
    val paramSlots = ps.map(slotsOf).sum
    val totalLocalSlots =
      if (allLocalTypes.isEmpty) 0
      else localSlot.last + slotsOf(allLocalTypes.last)
    val resSlots = rs.map(slotsOf).sum
    var sawSimd = ps.exists(_ == 0x7B) || rs.exists(_ == 0x7B) ||
      localTypes.exists(_ == 0x7B)
    val ops = scala.collection.mutable.ArrayBuffer.empty[Int]
    val argL = scala.collection.mutable.ArrayBuffer.empty[Long]
    val argM = scala.collection.mutable.ArrayBuffer.empty[Int]
    val brTables = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    // live v128 positions on the decode-time operand stack (a mark at h
    // means slots (h, h+1) hold one v128) — lets `drop`/`select` widen
    // to the 2-slot forms without full type tracking
    val vecAt = scala.collection.mutable.Set.empty[Int]

    // open-block bookkeeping; isIf/elseFix carry the r18 if/else desugar
    // (elseFix = the opIdx of the if's false-path br_if, patched at the
    // else arm or the end; -1 = none pending)
    final case class OpenBlock(isLoop: Boolean, entryHeight: Int, arity: Int,
        startIp: Int, var fixups: List[(Int, Int)], // (opIdx, brTableSlot or -1)
        isIf: Boolean = false, var elseFix: Int = -1,
        var sawElse: Boolean = false)
    val blocks = scala.collection.mutable.ArrayBuffer.empty[OpenBlock]
    blocks += OpenBlock(isLoop = false, 0, resSlots, -1, Nil) // function frame
    var height = 0
    var maxH = 0
    var dead = false
    var deadDepth = 0

    pos = start
    limit = bodyEnd
    def emit(op: Int, l: Long, m: Int, delta: Int): Unit = {
      ops += op; argL += l; argM += m
      if (!dead) {
        height += delta
        if (height > maxH) maxH = height
        if (height < 0) throw new WasmParseException(s"stack underflow f$fidx")
        if (vecAt.nonEmpty) vecAt.filterInPlace(_ + 2 <= height)
      }
    }
    /** mark the value just pushed on top as a v128 (2 slots). */
    def pushVec(): Unit = if (!dead) vecAt += height - 2
    def topIsVec: Boolean = !dead && vecAt.contains(height - 2)
    /** resolve a br depth to a packed target (block targets fixed up at end) */
    def resolveBr(depth: Int, opIdx: Int, tableSlot: Int): Long = {
      val blk = blocks(blocks.length - 1 - depth)
      if (blk.isLoop) packTarget(blk.startIp, blk.entryHeight, 0)
      else { blk.fixups = (opIdx, tableSlot) :: blk.fixups; 0L }
    }
    def enterDead(): Unit = { if (!dead) { dead = true; deadDepth = blocks.length } }

    /** The 0xFD SIMD prefix (r19): the v128 core subset, whose values are
      * 2-slot (lo, hi) pairs on the uniform Long stack. A local def, so
      * scalac emits it as a method of its own and decodeBody stays under
      * HotSpot's 8,000-byte HugeMethodLimit (see WasmInterpreterSpec). */
    def decodeSimd(sub: Int): Unit = {
      @inline def simd(delta: Int, lane: Int = 0, mem: Boolean = false,
          vec: Boolean = false): Unit = {
        // argM carries the memarg offset for load/store and the lane
        // immediate for extract/replace (load/store_lane below keep
        // their lane in argL)
        val m = if (mem) { u32(); u32() } else lane
        emit(0x300 | sub, 0, m, delta)
        if (vec) pushVec()
      }
      sub match {
        case 0 => simd(1, mem = true, vec = true) // v128.load
        case s if s >= 1 && s <= 10 => // load 8x8/16x4/32x2_{s,u},
          simd(1, mem = true, vec = true) // load{8,16,32,64}_splat
        case 11 => simd(-3, mem = true) // v128.store
        case 92 | 93 => simd(1, mem = true, vec = true) // load{32,64}_zero
        case s if s >= 84 && s <= 87 => // load{8,16,32,64}_lane:
          // memarg THEN lane byte; pops vec+addr, pushes vec
          val off = { u32(); u32() }
          val lane = u8()
          emit(0x300 | s, lane.toLong, off, -1); pushVec()
        case s if s >= 88 && s <= 91 => // store{8,16,32,64}_lane
          val off = { u32(); u32() }
          val lane = u8()
          emit(0x300 | s, lane.toLong, off, -3)
        case 12 => // v128.const: 16 LE bytes → two i64 pushes
          val lo = readF64Bits(); val hi = readF64Bits()
          emit(0x42, lo, 0, 1); emit(0x42, hi, 0, 1); pushVec()
        case 17 | 18 | 19 | 20 => simd(1, vec = true) // i32x4/i64x2/f32x4/f64x2.splat
        case 27 | 29 | 31 | 33 => simd(-1, lane = u8()) // extract_lane
        case 28 | 30 | 32 | 34 => simd(-1, lane = u8(), vec = true) // replace_lane
        case s if s >= 55 && s <= 64 => simd(-2, vec = true) // i32x4 cmp
        case s if s >= 65 && s <= 70 => simd(-2, vec = true) // f32x4 cmp
        case s if s >= 71 && s <= 76 => simd(-2, vec = true) // f64x2 cmp
        case s if s >= 214 && s <= 219 => simd(-2, vec = true) // i64x2 cmp
        case 77 => simd(0, vec = true) // v128.not
        case 78 | 79 | 80 | 81 => simd(-2, vec = true) // and/andnot/or/xor
        case 82 => simd(-4, vec = true) // bitselect
        case 83 => simd(-1) // v128.any_true
        case 160 | 161 => simd(0, vec = true) // i32x4.abs/neg
        case 163 | 164 => simd(-1) // i32x4.all_true/bitmask
        case 171 | 172 | 173 => simd(-1, vec = true) // i32x4 shifts
        case 174 | 177 | 181 => simd(-2, vec = true) // i32x4 add/sub/mul
        case s if s >= 182 && s <= 185 => simd(-2, vec = true) // i32x4 min/max
        case 192 | 193 => simd(0, vec = true) // i64x2.abs/neg
        case 195 | 196 => simd(-1) // i64x2.all_true/bitmask
        case 203 | 204 | 205 => simd(-1, vec = true) // i64x2 shifts
        case 206 | 209 | 213 => simd(-2, vec = true) // i64x2 add/sub/mul
        case 103 | 104 | 105 | 106 => simd(0, vec = true) // f32x4 round
        case 116 | 117 | 122 | 148 => simd(0, vec = true) // f64x2 round
        case 224 | 225 | 227 => simd(0, vec = true) // f32x4 abs/neg/sqrt
        case s if s >= 228 && s <= 235 => simd(-2, vec = true) // f32x4 arith
        case 236 | 237 | 239 => simd(0, vec = true) // f64x2 abs/neg/sqrt
        case s if s >= 240 && s <= 247 => simd(-2, vec = true) // f64x2 arith
        case s if s >= 248 && s <= 251 => simd(0, vec = true) // i32x4<->f32x4 cvt
        case 252 | 253 => simd(0, vec = true) // i32x4.trunc_sat_f64x2_{s,u}_zero
        case 254 | 255 => simd(0, vec = true) // f64x2.convert_low_i32x4_{s,u}
        case other => throw new WasmParseException(
          s"unsupported instruction in func $fidx (offset $pos): ${simdClass(other)} — " +
            "outside the supported v128 core subset")
      }
    }

    while (pos < bodyEnd) {
      val op = u8()
      op match {
        case 0x00 => emit(op, 0, 0, 0); enterDead()
        case 0x01 => emit(op, 0, 0, 0)
        case 0x02 | 0x03 =>
          val bt = bytes(pos) & 0xFF
          val arity = if (bt == 0x40) { pos += 1; 0 }
            else if (bt == 0x7F || bt == 0x7E || bt == 0x7D || bt == 0x7C) { pos += 1; 1 }
            else if (bt == 0x7B) { pos += 1; 2 } // v128 result: 2 slots
            else throw new WasmParseException("type-index blocktype unsupported")
          blocks += OpenBlock(op == 0x03, if (dead) -1 else height, arity, ops.length, Nil)
          emit(0x01, 0, 0, 0) // block/loop headers execute as nops
        case 0x04 => // if — desugared to the jump model (r18): the
          // condition inverts through i32.eqz and a br_if skips the then
          // arm when false (to the else arm or the block end), so the
          // interpreter and the JIT run if/else with ZERO new opcodes
          val bt = bytes(pos) & 0xFF
          val arity = if (bt == 0x40) { pos += 1; 0 }
            else if (bt == 0x7F || bt == 0x7E || bt == 0x7D || bt == 0x7C) { pos += 1; 1 }
            else if (bt == 0x7B) { pos += 1; 2 } // v128 result: 2 slots
            else throw new WasmParseException("type-index blocktype unsupported")
          // a DEAD if decodes its eqz+br_if pair as nops (r19): a live
          // br_if here would carry a never-fixed-up packed target
          // (elseFix is only registered when live), poisoning
          // WasmJit.heights() seeding exactly like a dead 0x0C/0x0D —
          // observed as a VerifyError from defineHiddenClass on a valid
          // module with an `if` after `return`
          if (dead) {
            emit(0x01, 0, 0, 0); emit(0x01, 0, 0, 0)
            blocks += OpenBlock(isLoop = false, -1, arity, ops.length, Nil,
              isIf = true)
          } else {
            emit(0x45, 0, 0, 0) // i32.eqz on the condition
            val brIdx = ops.length
            emit(0x0D, 0, 0, -1) // br_if: taken ⇒ condition was zero
            val blk = OpenBlock(isLoop = false, height,
              arity, ops.length, Nil, isIf = true)
            blk.elseFix = brIdx
            blocks += blk
          }
        case 0x05 => // else
          if (blocks.length < 2 || !blocks.last.isIf || blocks.last.sawElse)
            throw new WasmParseException(s"else without open if in f$fidx")
          val blk = blocks.last
          blk.sawElse = true
          // close the then arm: unconditional skip over the else arm —
          // emitted only when the then arm is LIVE here (a then arm that
          // ended in return/br needs no skip, and a dead br would poison
          // the JIT's height seeding; see the dead-branch note below)
          if (!dead) {
            val skipIdx = ops.length
            emit(0x0C, 0, 0, 0)
            blk.fixups = (skipIdx, -1) :: blk.fixups
          }
          // the if's false-path br_if lands one BEFORE the else arm's
          // first instruction (jump convention: land at t, execute t+1)
          if (blk.elseFix >= 0) {
            argL(blk.elseFix) =
              packTarget(ops.length - 1, math.max(blk.entryHeight, 0), 0)
            blk.elseFix = -1
          }
          // the else arm starts live at the entry height even when the
          // then arm ended dead (return/br) — the `end` revive rule
          if (dead && deadDepth >= blocks.length) dead = false
          if (!dead && blk.entryHeight >= 0) {
            height = blk.entryHeight
            if (height > maxH) maxH = height
          }
        case 0x0B => // end
          val blk = blocks.remove(blocks.length - 1)
          val endIp = ops.length
          val isFuncEnd = blocks.isEmpty
          emit(if (isFuncEnd) 0x0F else 0x01, 0, 0, 0) // func end = return
          // fix up forward brs to this block; jump convention is "land at
          // target, executing target+1 next", so a br to the function frame
          // targets endIp-1 to EXECUTE the return op at endIp
          blk.fixups.foreach { case (idx, slot) =>
            val packed = packTarget(if (isFuncEnd) endIp - 1 else endIp,
              math.max(blk.entryHeight, 0), blk.arity)
            if (slot < 0) argL(idx) = packed else brTables(argM(idx))(slot) = packed
          }
          // an if without an else: the false path skips to the end,
          // carrying nothing — and a VALID no-else if always has arity 0
          // (wasm validation: `if (result t) ... end` with no else is
          // malformed), so reject it at CREATE time like other malformed
          // input instead of letting the result slot read stale stack data
          if (blk.isIf && !blk.sawElse && blk.arity > 0)
            throw new WasmParseException(
              s"if with result type but no else in f$fidx")
          if (blk.elseFix >= 0) {
            argL(blk.elseFix) =
              packTarget(endIp, math.max(blk.entryHeight, 0), 0)
            blk.elseFix = -1
          }
          if (dead && blocks.length < deadDepth) dead = false
          if (!dead && blk.entryHeight >= 0) height = blk.entryHeight + blk.arity
          // a block/if with v128 result merges a 2-slot value here: mark
          // it in vecAt, or a following drop/untyped select would emit
          // the 1-slot form and desync the 2-slot v128 stack
          if (!dead && blk.arity == 2) pushVec()
          if (height > maxH) maxH = height
        // DEAD branches decode as nops (compactNops strips them): they can
        // never execute, and keeping them with their never-fixed-up argL=0
        // would poison every downstream static analysis that reads branch
        // targets — WasmJit.heights() seeds operand heights from EVERY
        // 0x0C/0x0D/0x0E packed target, so a garbage (t=0,h=0) target from
        // a dead br silently corrupted the height of instruction 1 and the
        // JIT emitted wrong register code (found via the r18 if/else
        // desugar's dead-then skip; latent for any artifact function with
        // a statically-dead br)
        case 0x0C =>
          val d = u32(); val opIdx = ops.length
          if (dead) emit(0x01, 0, 0, 0)
          else {
            emit(op, 0, 0, 0)
            argL(opIdx) = resolveBr(d, opIdx, -1)
          }
          enterDead()
        case 0x0D =>
          val d = u32(); val opIdx = ops.length
          if (dead) emit(0x01, 0, 0, 0)
          else {
            emit(op, 0, 0, -1)
            argL(opIdx) = resolveBr(d, opIdx, -1)
          }
        case 0x0E =>
          val n = u32()
          if (n < 0 || n > limit - pos) throw new WasmParseException(
            s"br_table with $n targets exceeds body bounds")
          val depths = Array.fill(n + 1)(u32())
          if (dead) emit(0x01, 0, 0, 0)
          else {
            val opIdx = ops.length
            val tbl = new Array[Long](n + 1)
            brTables += tbl
            emit(op, 0, brTables.length - 1, -1)
            var s = 0
            while (s <= n) { tbl(s) = resolveBr(depths(s), opIdx, s); s += 1 }
          }
          enterDead()
        case 0x0F => emit(op, 0, 0, 0); enterDead()
        case 0x10 =>
          val callee = u32()
          val (cp, cr) = typeOf(callee)
          val cps = cp.map(slotsOf).sum; val crs = cr.map(slotsOf).sum
          if (cp.exists(_ == 0x7B) || cr.exists(_ == 0x7B)) sawSimd = true
          emit(op, callee.toLong, 0, crs - cps)
          if (crs == 2) pushVec()
        case 0x11 =>
          val typeIdx = u32(); u8() // table byte
          val (cp, cr) = types(typeIdx)
          val cps = cp.map(slotsOf).sum; val crs = cr.map(slotsOf).sum
          if (cp.exists(_ == 0x7B) || cr.exists(_ == 0x7B)) sawSimd = true
          emit(op, cps.toLong | (crs.toLong << 32), canonTypeId(typeIdx),
            crs - cps - 1)
          if (crs == 2) pushVec()
        case 0x1A => // drop: widens to 2 pops when the top value is v128
          if (topIsVec) { emit(op, 0, 0, -1); emit(op, 0, 0, -1) }
          else emit(op, 0, 0, -1)
        case 0x1C => // typed select (needed for v128 per strict validation)
          val nt = u32()
          if (nt != 1) throw new WasmParseException(
            s"typed select with $nt types in f$fidx")
          val t = u8()
          if (t == 0x7B) { emit(0x503, 0, 0, -3); pushVec() }
          else emit(0x1B, 0, 0, -2)
        case 0x1B => // select: v128 operands take the 2-slot form 0x503
          if (!dead && vecAt.contains(height - 3)) {
            emit(0x503, 0, 0, -3); pushVec()
          } else emit(op, 0, 0, -2)
        case 0x20 =>
          val li = u32()
          if (li >= allLocalTypes.length)
            throw new WasmParseException(s"local index $li out of range in f$fidx")
          if (allLocalTypes(li) == 0x7B) {
            emit(0x500, localSlot(li).toLong, 0, 2); pushVec()
          } else emit(op, localSlot(li).toLong, 0, 1)
        case 0x21 =>
          val li = u32()
          if (li >= allLocalTypes.length)
            throw new WasmParseException(s"local index $li out of range in f$fidx")
          if (allLocalTypes(li) == 0x7B) emit(0x501, localSlot(li).toLong, 0, -2)
          else emit(op, localSlot(li).toLong, 0, -1)
        case 0x22 =>
          val li = u32()
          if (li >= allLocalTypes.length)
            throw new WasmParseException(s"local index $li out of range in f$fidx")
          if (allLocalTypes(li) == 0x7B) emit(0x502, localSlot(li).toLong, 0, 0)
          else emit(op, localSlot(li).toLong, 0, 0)
        case 0x23 => emit(op, u32().toLong, 0, 1)
        case 0x24 => emit(op, u32().toLong, 0, -1)
        case _ if op >= 0x28 && op <= 0x35 => // loads
          u32(); val off = u32(); emit(op, 0, off, 0)
        case _ if op >= 0x36 && op <= 0x3E => // stores
          u32(); val off = u32(); emit(op, 0, off, -2)
        case 0x3F => u8(); emit(op, 0, 0, 1)
        case 0x40 => u8(); emit(op, 0, 0, 0)
        case 0x41 => emit(op, s32leb().toLong & 0xFFFFFFFFL, 0, 1)
        case 0x42 => emit(op, s64leb(), 0, 1)
        case 0x43 => emit(op, readF32Bits().toLong & 0xFFFFFFFFL, 0, 1)
        case 0x44 => emit(op, readF64Bits(), 0, 1)
        case _ if op >= 0x45 && op <= 0xC4 =>
          // numeric ops: unary tests (eqz) and conversions keep height,
          // comparisons and binops consume one
          val delta = op match {
            case 0x45 | 0x50 => 0 // eqz
            case c if c >= 0x46 && c <= 0x66 => -1 // comparisons
            case c if (c >= 0x6A && c <= 0x78) || (c >= 0x7C && c <= 0x8A) => -1 // int binops
            case c if (c >= 0x92 && c <= 0x98) || (c >= 0xA0 && c <= 0xA6) => -1 // float binops
            case _ => 0 // clz..popcnt, float unops, conversions, reinterprets, extends
          }
          emit(op, 0, 0, delta)
        case 0xFC => // extension prefix (r18): saturating trunc + bulk memory
          val sub = u32()
          sub match {
            case s if s >= 0 && s <= 7 =>
              // i32/i64.trunc_sat_f32/f64_s/u — non-trapping conversions,
              // one value in, one out; interpreted/compiled as 0x200|s
              emit(0x200 | s, 0, 0, 0)
            case 10 => // memory.copy (memmove semantics)
              if (u8() != 0 || u8() != 0)
                throw new WasmParseException("memory.copy: nonzero memory index")
              emit(0x20A, 0, 0, -3)
            case 11 => // memory.fill
              if (u8() != 0)
                throw new WasmParseException("memory.fill: nonzero memory index")
              emit(0x20B, 0, 0, -3)
            case other => throw new WasmParseException(
              s"unsupported instruction in func $fidx (offset $pos): ${fcClass(other)} — " +
                "outside the supported MVP+sign-extension+sat-trunc+bulk-memory surface")
          }
        case 0xFD =>
          sawSimd = true
          decodeSimd(u32())
        case other => throw new WasmParseException(
          f"unsupported instruction in func $fidx (offset $pos): ${opcodeClass(other)} — " +
            "module is outside the supported MVP+sign-extension+sat-trunc+bulk-memory surface")
      }
    }
    if (blocks.nonEmpty) throw new WasmParseException(s"unbalanced blocks in f$fidx")

    new WasmFunc(canonTypeId(funcTypeIdx(fidx)), paramSlots,
      totalLocalSlots - paramSlots, resSlots,
      ops.toArray, argL.toArray, argM.toArray,
      brTables.toArray, maxH + 1, sawSimd)
  }
}
