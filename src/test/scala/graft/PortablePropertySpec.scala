package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.DotProduct.dot
import graft.ops.{DedupOps, Portable}

/** Property tests for the engine-portable primitives (SURVEY §5 plan):
  * hash domains, the affine MinHash family, SimHash invariants, and
  * DotProduct vs the interpreted lambda formulation — on generated
  * inputs, complementing the fixture-based golden/oracle suites.
  * (Bare ScalaCheck `Gen` with fixed seeds — the scalatestplus bridge
  * isn't in the offline dependency set, and deterministic seeds make
  * failures reproducible anyway.)
  */
class PortablePropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Env.session(2)

  override def afterAll(): Unit = spark.stop()

  private val words: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)

  /** Draw `trials` samples of `gen` from fixed seeds 0..trials-1. */
  private def samples[A](gen: Gen[A], trials: Int): Seq[A] =
    (0 until trials).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i)))

  test("h60/h32 land in their declared domains and are deterministic") {
    import spark.implicits._
    val ws = samples(Gen.listOfN(20, words), 5).flatten
    val rows = ws.toDF("w")
      .select(Portable.h60(col("w")).as("h60"), Portable.h32(col("w")).as("h32"))
      .collect()
    assert(rows.forall { r =>
      val (h60, h32) = (r.getLong(0), r.getLong(1))
      h60 >= 0 && h60 < (1L << 60) && h32 >= 0 && h32 < (1L << 32)
    })
    // same input twice → same hash (pure function of the value)
    val again = ws.toDF("w").select(Portable.h60(col("w"))).collect()
    assert(rows.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
  }

  test("header parsers never throw on arbitrary bytes (100 TB of crawl is adversarial)") {
    import graft.functions.{ImageDims, WavMeta}
    val bytes: Gen[Array[Byte]] =
      Gen.chooseNum(0, 200).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))
    val raw = samples(bytes, 300)
    // adversarial prefixes: valid magics followed by garbage/truncation,
    // so the chunk/segment walks run off into random declared sizes
    val magic = Seq("RIFF".getBytes, "RIFF1234WAVE".getBytes,
      Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A),
      Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte))
    val all = raw ++ magic.flatMap(m => raw.take(50).map(m ++ _))
    all.foreach { b =>
      (0 to 3).foreach(f => WavMeta.parse(b, f)) // must return, never throw
      ImageDims.parse(b)
    }
    // and through the codegen'd expressions
    import spark.implicits._
    val df = all.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("i", "b")
    // collect() the projected columns — a count() would let column
    // pruning delete the parse expressions and never run the codegen
    val rows = df.select(WavMeta.channels(col("b")), WavMeta.sampleRate(col("b")),
      WavMeta.bits(col("b")), WavMeta.dataSize(col("b")),
      ImageDims.dims(col("b"))).collect()
    assert(rows.length == all.length)
  }

  test("affine minhash family stays in [0, P) across the h32 domain") {
    import spark.implicits._
    val edges = Seq(0L, 1L, (1L << 31) - 1, 1L << 31, (1L << 32) - 1) ++
      samples(Gen.chooseNum(0L, (1L << 32) - 1), 20)
    val df = edges.toDF("h")
    (0 until 12).foreach { j =>
      val vals = df.select(Portable.minhashJ(j, col("h"))).collect().map(_.getLong(0))
      assert(vals.forall(v => v >= 0 && v < Portable.MinhashP),
        s"minhash family $j out of range")
    }
  }

  test("simhash64 is a set function of tokens: permutations and " +
    "duplicates never change the signature") {
    import spark.implicits._
    samples(Gen.listOfN(8, words), 10).foreach { ws =>
      val doc = ws.mkString(" ")
      val perm = new scala.util.Random(42).shuffle(ws).mkString(" ")
      val dups = (ws ++ ws.take(3)).mkString(" ")
      val df = Seq((1L, doc), (2L, perm), (3L, dups)).toDF("doc_id", "text")
      val sig = DedupOps.simhash64(df, "doc_id", "text")
        .orderBy(col("doc_id")).collect().map(_.getAs[Long]("simhash"))
      assert(sig(0) == sig(1) && sig(0) == sig(2),
        s"simhash must be a set function of tokens for $ws")
    }
  }

  test("DotProduct equals the interpreted lambda formulation bit-for-bit") {
    import spark.implicits._
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-100.0, 100.0))
    samples(Gen.zip(vecGen, vecGen), 10).foreach { case (a, b) =>
      val df = Seq((a.toArray, b.toArray)).toDF("a", "b")
        .select(col("a").cast("array<double>").as("a"),
          col("b").cast("array<double>").as("b"))
      val native = df.select(dot(col("a"), col("b"))).head.getDouble(0)
      val lambda = df.select(
        aggregate(zip_with(col("a"), col("b"), _ * _), lit(0.0), _ + _))
        .head.getDouble(0)
      // same fold order → bit-identical, not approximately equal
      assert(java.lang.Double.compare(native, lambda) == 0,
        s"native=$native lambda=$lambda")
    }
  }

  test("m=256 HLL estimate stays inside the 3σ standard-error envelope " +
    "across planted cardinalities") {
    // The p121 pipeline entry REPORTS abs_err_ppm; this pins the
    // envelope: with 256 registers the standard error is 1.04/√256 =
    // 6.5%, so |est − n|/n must stay under 3σ = 19.5% for planted
    // cardinalities well past the low-load bias regime. Same integer
    // kernel as the query: bucket = top 8 bits of h60, rho off the low
    // 52 bits, α₂₅₆ as the exact rational 1846528/2570790, harmonic
    // terms quantized to 2^(20−reg).
    import spark.implicits._
    for (n <- Seq(2000, 20000)) {
      val est = spark.range(0, n)
        .select(Portable.h60(concat(lit("hll:tok"), col("id"))).as("h"))
        .select(expr("h div 4503599627370496").as("bucket"),
          (col("h") % 4503599627370496L).as("sub"))
        .select(col("bucket"),
          when(col("sub") === 0, 53L)
            .otherwise(lit(53L) - length(bin(col("sub")))).as("r"))
        .groupBy(col("bucket")).agg(max(col("r")).as("reg"))
        .agg(
          (sum(when(col("reg") <= 20,
            expr("shiftleft(CAST(1 AS BIGINT), CAST(20 - reg AS INT))"))
            .otherwise(0L))
            // empty buckets contribute the full 2^20 term (reg 0)
            + (lit(256L) - count(lit(1))) * lit(1048576L)).as("dd"))
        .select(expr("126892437938372608L div (2570790 * dd)"))
        .head.getLong(0)
      val err = math.abs(est - n).toDouble / n
      assert(err <= 0.195, s"n=$n est=$est err=$err outside 3σ envelope")
    }
  }
}
