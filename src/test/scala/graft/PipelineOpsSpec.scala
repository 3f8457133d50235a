package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.ops.{DedupOps, SimilarityOps, TextOps}

/** Unit specs for the training-data pipeline operators over planted
  * fixtures (the parquet fixtures contain no exact duplicates, so the
  * merge behavior is proven here).
  */
class PipelineOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Env.session(4)

  override def afterAll(): Unit = spark.stop()

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "The  quick brown fox jumps over the lazy dog"), // ws/case variant
      (3L, "the quick brown fox jumps over the lazy cat"), // near-dup
      (4L, "completely different content about query engines and shuffles here")
    ).toDF("doc_id", "text")
  }

  test("exactGroups merges whitespace/case variants, keeps min id") {
    val g = DedupOps.exactGroups(docs, "doc_id", "text").collect()
    assert(g.length == 3)
    val dup = g.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("jaccardPairs finds the near-dup pair and not the unrelated doc") {
    val p = DedupOps.jaccardPairs(docs, "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(p.contains((1L, 2L)) && p.contains((1L, 3L)) && p.contains((2L, 3L)))
    assert(!p.exists(t => t._1 == 4L || t._2 == 4L))
  }

  test("lshCandidates surfaces exact dups with est_jaccard 1.0") {
    val c = DedupOps.lshCandidates(docs, "doc_id", "text")
      .filter(col("a") === 1 && col("b") === 2).collect()
    assert(c.length == 1)
    assert(c.head.getAs[Double]("est_jaccard") == 1.0)
    assert(c.head.getAs[Long]("n_bands") == 4L)
  }

  test("simhashPairs: identical docs at hamming 0; unrelated doc far") {
    val p = DedupOps.simhashPairs(docs, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(p.contains((1L, 2L)))
  }

  test("SharedStages materialized pair/label tables equal a fresh " +
    "computation and are stable across calls") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.queries.Tables.loadSpread(spark, dir, "documents")
    val freshPairs = DedupOps.simhashPairs(docs, "doc_id", "text",
      maxHamming = 3, maxBucket = 1000)
    val shared = graft.queries.SharedStages.spairs(spark, dir)
    assert(shared.except(freshPairs).isEmpty
      && freshPairs.except(shared).isEmpty,
      "materialized pairs must equal the fresh computation")
    val freshLabels = DedupOps.connectedComponents(freshPairs)
      .select(col("n").as("doc_id"), col("lbl").as("cluster_id"))
    val sharedLabels = graft.queries.SharedStages.labels(spark, dir)
    assert(sharedLabels.except(freshLabels).isEmpty
      && freshLabels.except(sharedLabels).isEmpty,
      "materialized labels must equal the fresh fixpoint")
    // second read = same snapshot (memoized, not recomputed state)
    val again = graft.queries.SharedStages.labels(spark, dir)
    assert(again.except(sharedLabels).isEmpty
      && sharedLabels.except(again).isEmpty)
  }

  test("incrementalNearDups screens the batch against the corpus " +
    "asymmetrically: verdict per incoming doc, corpus never self-paired") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "the quick brown fox jumps over the lazy dog"), // corpus-internal dup
      (12L, "completely unrelated corpus text about engines")).toDF("doc_id", "text")
    val batch = Seq(
      (20L, "The  quick brown fox jumps over the lazy dog"), // dup of 10/11
      (21L, "fresh novel content nothing like anything else")).toDF("doc_id", "text")
    val out = DedupOps.incrementalNearDups(corpus, batch, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_dups"), r.getAs[Long]("min_hamming"),
          r.getAs[Long]("is_dup"))).toMap
    // exactly one verdict row per INCOMING doc — the corpus-internal
    // dup pair (10, 11) produces no output row (never self-paired)
    assert(out.keySet == Set(20L, 21L))
    val (n20, h20, d20) = out(20L)
    assert(d20 == 1L && n20 == 2L && h20 == 0L,
      s"near-dup of two corpus docs must match both at hamming 0, got ($n20, $h20, $d20)")
    assert(out(21L) == ((0L, -1L, 0L)),
      "novel doc: no candidates, sentinel min_hamming = -1")
  }

  test("incrementalNearDups maxBucket caps the EXISTING side: a " +
    "degenerate corpus bucket cannot explode an ingest") {
    import spark.implicits._
    // 8 identical corpus docs = one bucket of 8 per band; cap at 4
    // drops every band bucket → the incoming dup finds nothing
    val corpus = (0 until 8).map(i =>
      (100L + i, "common template text repeated across the corpus"))
      .toDF("doc_id", "text")
    val batch = Seq((200L, "common template text repeated across the corpus"))
      .toDF("doc_id", "text")
    val capped = DedupOps.incrementalNearDups(corpus, batch, "doc_id", "text",
      maxBucket = 4).collect()
    assert(capped.length == 1 && capped(0).getAs[Long]("is_dup") == 0L)
    val uncapped = DedupOps.incrementalNearDups(corpus, batch, "doc_id", "text",
      maxBucket = 1000).collect()
    assert(uncapped(0).getAs[Long]("n_dups") == 8L)
  }

  test("simhash64 band keys span the 2^16 key space (not the 16-key " +
    "degeneracy of a 16-bit signature)") {
    import spark.implicits._
    // 256 documents with disjoint token sets → 256 distinct signatures
    val many = (0 until 256).map(i =>
      (i.toLong, (0 until 12).map(j => s"w${i}_$j").mkString(" "))).toDF("doc_id", "text")
    val keys = DedupOps.simhash64(many, "doc_id", "text")
      .select(col("doc_id"), posexplode(col("qks")).as(Seq("band", "qk")))
      .collect().map(r => (r.getAs[Int]("band"), r.getAs[Long]("qk")))
    assert(keys.forall { case (_, qk) => qk >= 0 && qk < 65536 },
      "band keys must live in the 16-bit domain [0, 2^16)")
    (0 until 4).foreach { b =>
      val distinct = keys.filter(_._1 == b).map(_._2).distinct.length
      // 256 random draws from 2^16 collide rarely; anything >> 16 proves
      // the key space is the full 16-bit band, not a 4-bit quarter
      assert(distinct > 200, s"band $b: only $distinct distinct keys over 256 docs")
    }
  }

  test("simhashPairs bucket cap bounds the fan-out (skew guard)") {
    // with maxBucket = 1 every ≥2-member bucket is dropped → zero pairs,
    // proving a degenerate key can never trigger quadratic blow-up
    assert(DedupOps.simhashPairs(docs, "doc_id", "text",
      maxHamming = 3, maxBucket = 1).count() == 0L)
  }

  test("simhashPairs under adversarial skew: drops are observed and " +
    "fan-out stays flat when the hot group doubles (scale evidence)") {
    import spark.implicits._
    def corpus(giantSize: Int) = (
      (0 until giantSize).map(i =>
        (i.toLong, "alpha beta gamma delta epsilon zeta eta theta")) ++
      (1000 until 1003).map(i =>
        (i.toLong, "completely different words about query engines here now"))
    ).toDF("doc_id", "text")
    // 60 identical docs = one oversized bucket in each of the 4 bands
    // (C(60,2)=1770 would-be pairs); the cap must drop all of them and
    // SAY SO via the observed metric, while the 3-copy group's pairs
    // survive untouched
    val pairs = DedupOps.simhashPairs(corpus(60), "doc_id", "text",
      maxHamming = 3, maxBucket = 20)
    val rows = pairs.collect()
    assert(rows.length == 3, "only the small group's 3 pairs may survive")
    assert(rows.forall(_.getAs[Long]("a") >= 1000L))
    val m = pairs.queryExecution.observedMetrics.get("graft_simhash_buckets")
    assert(m.exists(_.getAs[Long]("dropped_oversized") == 4L),
      s"expected 4 dropped band buckets observed, got $m")
    // the 100-TB property: doubling the hot group must NOT grow the
    // output or the candidate volume — the cap keeps fan-out flat
    assert(DedupOps.simhashPairs(corpus(120), "doc_id", "text",
      maxHamming = 3, maxBucket = 20).count() == 3L)
  }

  test("connectedComponents labels a path graph in O(log diameter) rounds") {
    import spark.implicits._
    // path 1-2-…-16 (diameter 15) plus a disjoint triangle {100,101,102}:
    // plain min-label propagation needs ~15 rounds end to end; pointer
    // jumping must land well under that
    val pairs = ((1L until 16L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L))).toDF("a", "b")
    // localMaxEdges = 0 forces the DISTRIBUTED fixpoint: this lane pins
    // the pointer-jumping round bound, which the r21 small-graph local
    // path (tested separately below) would bypass
    val (labels, rounds) =
      DedupOps.connectedComponentsWithRounds(pairs, "a", "b", maxIter = 25,
        localMaxEdges = 0)
    val m = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 16L).forall(m(_) == 1L), "path collapses to min id 1")
    assert((100L to 102L).forall(m(_) == 100L), "triangle keeps its own min")
    assert(rounds <= 7,
      s"pointer jumping should close a diameter-15 path in ≤7 rounds, took $rounds")
  }

  test("connectedComponents converges immediately on an empty pair list") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(DedupOps.connectedComponents(empty).count() == 0L)
  }

  test("batch-local CC path (r21) is row-identical to the distributed " +
    "fixpoint on a mixed random graph and respects the edge gate") {
    import spark.implicits._
    // deterministic pseudo-random graph: chains, a star, cliques and
    // singleton-free cross edges over a sparse id space — enough
    // structure to catch a wrong union order or a missing endpoint
    val rnd = new scala.util.Random(42)
    val edges = (
      (0 until 200).map(i => (i.toLong * 7, i.toLong * 7 + 7)) ++   // long chain
      (0 until 50).map(i => (5000L, 5000L + rnd.nextInt(400) + 1)) ++ // star
      (0 until 300).map(_ => { val a = rnd.nextInt(1000).toLong + 9000
        (a, rnd.nextInt(1000).toLong + 9000) })                      // random
    ).toDF("a", "b")
    val (local, r0) = DedupOps.connectedComponentsWithRounds(
      edges, "a", "b", maxIter = 25, localMaxEdges = 10000)
    assert(r0 == 0, "gate must take the local path under the cap")
    val (dist, rD) = DedupOps.connectedComponentsWithRounds(
      edges, "a", "b", maxIter = 25, localMaxEdges = 0)
    assert(rD > 0, "localMaxEdges = 0 must force the distributed loop")
    assert(local.except(dist).isEmpty && dist.except(local).isEmpty,
      "local union-find labels must equal the distributed fixpoint")
    // a cap below the edge count must fall through to the distributed
    // path (the fetch IS the proof: > max rows came back)
    val (_, rF) = DedupOps.connectedComponentsWithRounds(
      edges, "a", "b", maxIter = 25, localMaxEdges = 10)
    assert(rF > 0, "graphs over the cap must run distributed")
  }

  test("quality/langId/fingerprint are deterministic and sane") {
    val r = docs.select(
      TextOps.qualityScore(col("text")).as("q"),
      TextOps.langId(col("text")).as("lang"),
      TextOps.fingerprint(col("text")).getField("content").as("c")).collect()
    assert(r.forall(x => x.getAs[Double]("q") >= 0 && x.getAs[Double]("q") <= 1))
    assert(r.take(3).forall(_.getAs[String]("lang") == "en"))
    assert(r(0).getAs[String]("c") == r(1).getAs[String]("c"))
  }

  test("srpNearDupPairs: identical vectors share a bucket and pair at " +
    "sim 1.0; bucket keys stay in the 2^k domain") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array.tabulate(16)(i => (i + 1).toFloat)),
      (1L, Array.tabulate(16)(i => (i + 1).toFloat)), // exact copy of 0
      (2L, Array.tabulate(16)(i => -(i + 1).toFloat)) // antipode: all signs flip
    ).toDF("vec_id", "embedding")
    val pairs = SimilarityOps.srpNearDupPairs(vecs, "vec_id", "embedding",
      k = 8, minSim = 0.9, dim = 16).collect()
    assert(pairs.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
      == Set((0L, 1L)), "only the identical pair may survive")
    assert(pairs.head.getAs[Double]("sim") == 1.0)
    val buckets = vecs
      .select(SimilarityOps.srpBucket(col("embedding").cast("array<double>"),
        SimilarityOps.srpHyperplanes(8, 16)).as("bk"))
      .collect().map(_.getAs[Long]("bk"))
    assert(buckets.forall(b => b >= 0 && b < 256))
    // the antipode flips every sign → bitwise complement of vec 0's bucket
    assert((buckets(0) ^ buckets(2)) == 255L)
  }

  test("DotProduct rejects uncast arrays at analysis; null element → NULL") {
    import spark.implicits._
    import graft.functions.DotProduct.dot
    val floats = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    intercept[Exception] { // AnalysisException: array<float> must be cast
      floats.select(dot(col("a"), col("b"))).collect()
    }
    val withNull = Seq(
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 1.0)),
      (Seq[java.lang.Double](2.0, 3.0), Seq[java.lang.Double](1.0, 1.0))
    ).toDF("a", "b")
    val r = withNull.select(dot(col("a"), col("b")).as("s"))
      .collect().map(row => if (row.isNullAt(0)) None else Some(row.getDouble(0)))
    assert(r.toSeq == Seq(None, Some(5.0)))
  }

  test("cosine top-k: self-similar vectors rank first") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(0.0f, 0.98f, 0.2f), 1)
    ).toDF("vec_id", "embedding", "label")
    val top = SimilarityOps.bruteForceTopK(
      vecs, vecs.filter(col("vec_id") === 0), "vec_id", "embedding", 1).collect()
    assert(top.length == 1 && top.head.getAs[Long]("vec_id") == 1L)
    val ivf = SimilarityOps.partitionedTopK(
      vecs, vecs.filter(col("vec_id") === 2), "vec_id", "embedding", "label", 1)
      .collect()
    assert(ivf.length == 1 && ivf.head.getAs[Long]("vec_id") == 3L)
  }

  test("segments: non-overlapping windows, tail dropped, empty under n") {
    import spark.implicits._
    val t = Seq(
      "a b c d e f g h i j", // 10 tokens → one 8-token segment, tail dropped
      "a b c d e f g h a b c d e f g h x", // 17 → two identical segments
      "too short" // 2 tokens → empty
    ).toDF("text")
    val out = t.select(TextOps.segments(col("text"), 8).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("a b c d e f g h"))
    assert(out(1) == Seq("a b c d e f g h", "a b c d e f g h"))
    assert(out(2).isEmpty)
  }

  test("p33 segment dedup keeps only the first corpus occurrence") {
    // doc 1 and doc 2 share their first segment; doc 2's copy must be
    // removed (first_pos is doc 1), its unique second segment kept.
    import spark.implicits._
    Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h p q r s t u v w")
    ).toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"${sys.props("java.io.tmpdir")}/p33fix_${queries.runToken}/documents.parquet")
    val dir = s"${sys.props("java.io.tmpdir")}/p33fix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    val out = SparkEntry.queries("p33_segment_dedup")(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_segs"), r.getAs[Long]("n_kept"))).toSeq
    assert(out == Seq((1L, 1L, 1L), (2L, 2L, 1L)))
  }

  test("p35 quantization: constant dimension hits the hi=lo guard with " +
    "zero error") {
    import spark.implicits._
    // dim 1 constant across vectors → hi=lo → qv=0, err=0 (not div-by-0);
    // dim 2 spans [-1,1] → 1.0→255 and -1.0→0, both reconstructed exactly.
    // Drives the SHIPPED query (dimension-agnostic), not a copy of it.
    Seq(
      (0L, Array(0.5f, 1.0f), 0),
      (1L, Array(0.5f, -1.0f), 0)
    ).toDF("vec_id", "embedding", "label").write.mode("overwrite")
      .parquet(s"${sys.props("java.io.tmpdir")}/p35fix_${queries.runToken}/embeddings.parquet")
    val dir = s"${sys.props("java.io.tmpdir")}/p35fix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val out = SparkEntry.queries("p35_quantize_int8")(spark, dir)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[String]("q_md5"),
        r.getAs[Long]("sum_q"), r.getAs[Long]("sum_err"))).toSeq
    assert(out == Seq(
      (0L, md5hex("0,255"), 255L, 0L),
      (1L, md5hex("0,0"), 0L, 0L)))
  }

  test("TextKernels shingles/segments are bit-identical to the Column formulation") {
    import spark.implicits._
    // the HOF tree the kernels replaced (kept here as the semantic spec)
    def oldShingles(text: org.apache.spark.sql.Column, n: Int) = {
      val w = split(lower(text), "\\s+")
      when(size(w) >= n,
        transform(sequence(lit(1), size(w) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*)))
        .otherwise(array().cast("array<string>"))
    }
    def oldSegments(text: org.apache.spark.sql.Column, n: Int) = {
      val w = split(lower(text), "\\s+")
      val nSegs = (size(w) / n).cast("int")
      when(size(w) >= n,
        transform(sequence(lit(0), nSegs - 1),
          i => concat_ws(" ", slice(w, i * n + 1, lit(n)))))
        .otherwise(array().cast("array<string>"))
    }
    val edge = Seq(
      "a b c d e f g", "one two", "single", "", " ", "  leading space",
      "trailing space  ", "UPPER Case MiXeD", "tab\tand\nnewline  runs",
      "Ünïcode Tökens ÀÉÎ here", "exactly three toks", "a a a a a",
      null.asInstanceOf[String])
    val df = edge.toDF("text")
    // both ICU and JVM case-mapping modes: the kernel mirrors lower()'s
    // conf dispatch, so parity must hold under either setting
    val icuKey = "spark.sql.icu.caseMappings.enabled"
    val prevIcu = spark.conf.get(icuKey)
    try {
      for (icu <- Seq("true", "false"); n <- Seq(2, 3, 8)) {
        spark.conf.set(icuKey, icu)
        val cmp = df.select(
          TextOps.shingles(col("text"), n).as("ks"),
          oldShingles(col("text"), n).as("os"),
          TextOps.segments(col("text"), n).as("kg"),
          oldSegments(col("text"), n).as("og")).collect()
        cmp.foreach { r =>
          assert(r.getSeq[String](0) == r.getSeq[String](1), s"shingles n=$n icu=$icu: $r")
          assert(r.getSeq[String](2) == r.getSeq[String](3), s"segments n=$n icu=$icu: $r")
        }
      }
    } finally spark.conf.set(icuKey, prevIcu)
  }

  test("Bloom semi-join reduction: no false negatives, lossless vs exact join, selective") {
    import spark.implicits._
    import graft.functions.Bloom
    val keys = (0L until 2000L).map(i => s"key_$i")
    val small = keys.take(100).toDF("s") // build side
    val big = keys.toDF("s") // probe side: 100 members + 1900 non-members
    val bloom = small.agg(Bloom.agg(xxhash64(col("s")), 1000L, 8000L))
    val pre = big.filter(Bloom.mightContain(bloom, xxhash64(col("s"))))
    // NO false negatives: every build-side key survives the pre-filter,
    // so prefilter + exact join ≡ exact join (the losslessness the p39
    // oracle also proves end-to-end)
    val exact = big.join(small, "s").select(col("s")).collect().map(_.getString(0)).toSet
    val reduced = pre.join(small, "s").select(col("s")).collect().map(_.getString(0)).toSet
    assert(exact == keys.take(100).toSet && reduced == exact)
    // and it actually REDUCES: false-positive rate at these sizings is
    // a few percent, nowhere near passing all 1900 non-members
    val passed = pre.count()
    assert(passed >= 100 && passed < 600, s"bloom passed $passed of 2000")
  }

  test("spread widens a narrow scan; no-op (same object) on an already-wide plan") {
    val par = spark.sparkContext.defaultParallelism
    val narrow = spark.range(0, 1000).coalesce(1).toDF("x")
    assert(queries.Tables.spread(narrow).rdd.getNumPartitions == par)
    val wide = spark.range(0, 1000).repartition(par).toDF("x")
    // reference equality: no shuffle is ever added to a wide-enough plan
    assert(queries.Tables.spread(wide) eq wide)
    // the load path (file-backed scans) estimates width from the file
    // listing — no RDD conversion: a 1-file fixture scan widens...
    val dir = s"${sys.props("java.io.tmpdir")}/spreadfix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    spark.range(0, 1000).toDF("x").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/one")
    val oneFile = spark.read.parquet(s"$dir/one")
    assert(queries.Tables.spread(oneFile).rdd.getNumPartitions == par)
    // ...and a scan already wider than the session stays untouched
    spark.range(0, 1000).toDF("x").repartition(par + 1)
      .write.mode("overwrite").parquet(s"$dir/many")
    val manyFiles = spark.read.parquet(s"$dir/many")
    assert(queries.Tables.spread(manyFiles) eq manyFiles)
  }

  test("bloom prefilter plans as a scalar-subquery might_contain below the join") {
    import spark.implicits._
    import graft.functions.Bloom
    val small = (0 until 50).map(i => s"k$i").toDF("s")
    val big = (0 until 500).map(i => s"k$i").toDF("s")
    val bloom = small.agg(Bloom.agg(xxhash64(col("s")), 100L, 800L))
    val reduced = big.filter(Bloom.mightContain(bloom, xxhash64(col("s"))))
      .join(small, "s")
    val optimized = reduced.queryExecution.optimizedPlan.toString
    // the probe survives optimization as a FILTER with the bloom build
    // attached as a scalar subquery — i.e. the prefilter really sits
    // below the join, it is not folded away or collected driver-side
    assert(optimized.contains("might_contain"), optimized)
    assert(optimized.contains("scalar-subquery"), optimized)
    val joinIdx = optimized.indexOf("Join")
    val probeIdx = optimized.indexOf("might_contain")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"bloom probe should be planned under the join:\n$optimized")
  }

  test("plan audit: no Cartesian products; document scans are column-pruned") {
    val dir = "/root/testdata/sf0.001"
    // representative heavy queries: every join family + the shingle
    // pipelines; q20 (the deliberate cross join) is excluded by design
    val audited = Seq("q03_shipping_priority", "q05_local_supplier_volume",
      "q17_full_outer_cte", "p05_jaccard_pairs", "p07_lsh_candidates",
      "p09_simhash_pairs", "p12_embedding_neardup", "p26_srp_neardup",
      "p32_decontam", "p39_bloom_decontam", "p42_dedup_rewrite",
      "p46_bpe_pairs", "p47_bigram_lm", "q56_lateral", "q59_scalar_gap_sweep")
    audited.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a Cartesian product:\n$plan")
      // a documents scan must never read the full row for a projection
      // of (doc_id, text)-derived columns — source would be wasted I/O
      plan.linesIterator.filter(_.contains("FileScan parquet"))
        .filter(_.contains("documents")).foreach { scanLine =>
          assert(!scanLine.contains("source"),
            s"$name reads unused documents columns:\n$scanLine")
        }
    }
  }

  test("p31 repetition stats: planted repetition is measured exactly") {
    import spark.implicits._
    Seq((1L, "x x x x y y z w")) // 8 tokens, top token x=4
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"${sys.props("java.io.tmpdir")}/p31fix_${queries.runToken}/documents.parquet")
    val dir = s"${sys.props("java.io.tmpdir")}/p31fix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    val r = SparkEntry.queries("p31_repetition_stats")(spark, dir).collect().head
    assert(r.getAs[Long]("n_tokens") == 8L)
    assert(r.getAs[Long]("top_token_ppm") == 500000L) // 4*1e6 div 8
    // bigrams: 7 total, "x x" appears 3× → 2 duplicates → 2*1e6 div 7
    assert(r.getAs[Long]("dup_bigram_ppm") == 285714L)
    assert(r.getAs[Long]("dup_seg_ppm") == 0L) // single segment
  }

  test("p236 PPJoin: prefix filter finds EXACTLY the naive pairs, " +
      "including under a corpus-wide hot prefix") {
    import spark.implicits._
    // adversarial shape for a capped index: every doc opens with the
    // same 4 tokens (shared hot shingles a df-capped index would
    // drop); docs 1/2 near-dup, 3 shares only the hot open, 4 small
    val dir = s"${sys.props("java.io.tmpdir")}/p236fix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon" // 20 tokens
    Seq(
      (1L, t1),
      (2L, t1.replace("upsilon", "omega")), // last token differs
      (3L, "alpha beta gamma delta different words follow here now"),
      (4L, "completely unrelated tiny document")
    ).toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("p236_ppjoin_exact")(spark, dir)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("n_inter"), r.getAs[Long]("n_union"))).toList
    // 3-shingle truth: docs 1/2 share 17 of 19 distinct shingles
    // (J = 17/19 = 0.894 >= 0.8); docs 1/3 share only the hot opening
    // 2 shingles (J = 2/23); doc 4 shares nothing. One pair survives.
    assert(got == List((1L, 2L, 17L, 19L)))
  }

  test("p238 magic router: detection is payload-independent — text " +
      "that opens with a container magic, a tab, 'ftyp' bytes, or is " +
      "empty still routes as text; corruption always reads unknown") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/p238fix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    // ids chosen so kind = id%8 (zstd joined the router in r16) and
    // corruption = id%11==0 hit the adversarial cells: 5/13/21/29 are
    // uncorrupted text (kind 5), 77 corrupted text (77%8=5, 77%11=0),
    // 6 mp4, 88 corrupted gzip, 7 zstd, 55 corrupted zstd
    Seq(
      (5L, "BM evil bitmap lookalike"),          // bmp magic inside text
      (13L, "\tstarts with a tab"),              // non-printable first byte
      (21L, "PK\u0003\u0004 zip lookalike"),     // zip magic inside text
      (29L, ""),                                  // empty payload
      (77L, "corrupted text row"),               // kind 5, id%11==0
      (6L, "aftypa — mp4 payload with ftyp-ish bytes"),
      (88L, "gzip row"),                          // kind 0, id%11==0
      (7L, "( zstd-ish printable open"),          // kind 7: real magic framed
      (55L, "corrupted zstd row")                 // kind 7, id%11==0
    ).toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("p238_magic_router")(spark, dir)
      .collect().map(r => (r.getAs[String]("declared"),
        r.getAs[String]("detected"), r.getAs[Long]("n_docs"))).toList
    assert(got == List(
      ("gzip", "unknown", 1L), ("mp4", "mp4", 1L),
      ("text", "text", 4L), ("text", "unknown", 1L),
      ("zstd", "unknown", 1L), ("zstd", "zstd", 1L)))
  }

  test("p254 HITS: a transitive near-dup tournament separates hubs " +
      "from authorities; an isolated source scores zero on both") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/p254fix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    val x = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    // identical texts 1..4 -> all 6 pairs, a<b orientation makes the
    // source graph a transitive tournament srcH->A->B->C; doc 9 shares
    // nothing -> srcE is isolated
    Seq((1L, x, "srcH"), (2L, x, "srcA"), (3L, x, "srcB"),
      (4L, x, "srcC"),
      (9L, "completely different unrelated words appear here now", "srcE"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("p254_hits_scores")(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("hub_ppm"), r.getAs[Long]("auth_ppm"))).toMap
    // pure hub: only out-edges -> max hub, zero authority (and dually)
    assert(got("srcH") == ((1000000L, 0L)))
    assert(got("srcC") == ((0L, 1000000L)))
    // interior nodes are strictly ordered both ways
    assert(got("srcH")._1 > got("srcA")._1 &&
      got("srcA")._1 > got("srcB")._1 && got("srcB")._1 > got("srcC")._1)
    assert(got("srcC")._2 > got("srcB")._2 &&
      got("srcB")._2 > got("srcA")._2 && got("srcA")._2 > got("srcH")._2)
    assert(got("srcE") == ((0L, 0L)))
  }

  test("p255 lang confusion: planted profile texts land on the " +
      "diagonal, a mislabeled doc lands off it, no hits reads 'und'") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/p255fix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    def profile(l: String) =
      TextOps.langProfiles.find(_._1 == l).get._2.mkString(" ")
    Seq((1L, profile("en"), "en"),      // declared en, detected en
      (2L, profile("fr"), "en"),        // declared en, detected fr
      (3L, "qqq zzz xxx www", "zh"))    // no profile hits -> und
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("p255_lang_confusion")(spark, dir)
      .collect().map(r => ((r.getAs[String]("declared"),
        r.getAs[String]("detected")),
        (r.getAs[Long]("n_docs"), r.getAs[Long]("share_ppm")))).toMap
    assert(got(("en", "en")) == ((1L, 500000L)))
    assert(got(("en", "fr")) == ((1L, 500000L)))
    assert(got(("zh", "und")) == ((1L, 1000000L)))
    assert(got.size == 3)
  }

  test("p256 branching diversity: a 3-way branch point scores its " +
      "hand-computed floor-log2 millibits; a deterministic successor " +
      "scores exactly zero") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/p256fix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    // doc 1: x -> {a:2, b:2, c:1} (n_cont 5); doc 2: y -> {z:5} only
    Seq((1L, "x a x b x a x b x c"),
      (2L, "y z y z y z y z y z"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("p256_branching_diversity")(spark, dir)
      .collect().map(r => r.getAs[String]("context") ->
        (r.getAs[Long]("n_cont"), r.getAs[Long]("n_next"),
          r.getAs[Long]("div_millibits"))).toMap
    // x: bits = 2·(len(bin(5//2))−1) + 2·(…) + 1·(len(bin(5))−1)
    //        = 2·1 + 2·1 + 1·2 = 6 → 6·1000 // 5 = 1200
    assert(got("x") == ((5L, 3L, 1200L)))
    // y always continues to z: zero diversity, the collocation case
    assert(got("y") == ((5L, 1L, 0L)))
    // a/b/z have n_cont < 5 and are filtered
    assert(got.size == 2)
  }

  test("p257 fertility census: hand-computed word/bpeish/char ratios " +
      "per language, punctuation splits bpeish but not words") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/p257fix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    Seq((1L, "ab cd", "en"),   // words 2, bpeish 2, chars 5
      (2L, "a,b", "fr"))       // words 1, bpeish 3 (a , b), chars 3
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("p257_fertility_census")(spark, dir)
      .collect().map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_words"),
          r.getAs[Long]("n_bpeish"), r.getAs[Long]("fertility_ppm"),
          r.getAs[Long]("chars_per_word_ppm"))).toMap
    assert(got("en") == ((1L, 2L, 2L, 1000000L, 2500000L)))
    assert(got("fr") == ((1L, 1L, 3L, 3000000L, 3000000L)))
  }

  test("p258 JL fidelity: sign-separated classes of exactly 11 give " +
      "recall@10 = 10 for every panel query — the projection " +
      "preserves the inner-product sign structure exactly") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/p258fix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    // class A = +0.3 everywhere, class B = −0.3 everywhere (projected
    // vectors are exact negations), one tiny per-vector jitter dim to
    // break exact ties; 11 per class so each query's 10 same-class
    // peers are EXACTLY the top-10 in both spaces
    def vec(sign: Double, i: Int): Seq[Float] =
      (0 until 64).map(d =>
        (sign * 0.3 + (if (d == i % 32) sign * 0.001 * (i % 7 + 1)
                       else 0.0)).toFloat)
    val a = (0 until 11).map(i =>
      (if (i < 2) i.toLong else 18L + i, vec(1.0, i), 0))
    val b = (0 until 11).map(i =>
      (if (i < 2) 2L + i else 28L + i, vec(-1.0, i), 1))
    (a ++ b).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("p258_jl_fidelity")(spark, dir)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("recall10"))).toList.sorted
    assert(got == List((0L, 10L), (1L, 10L), (2L, 10L), (3L, 10L)))
  }

  test("p261 mutual kNN: reciprocity filters the planted asymmetric " +
      "neighbor, the member cap reports abstainers via n_eligible, and " +
      "a singleton block abstains entirely") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/p261fix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    // label 0: five scaled copies of the all-positive direction
    // (magnitudes 0.5 > 0.4 > 0.3 > 0.2 > 0.1) share one SRP bucket;
    // every top-3 is the three LARGEST others, so vec 5 points at
    // {1,2,3} but nobody points back — the planted asymmetric edges
    // (1,5)/(2,5)/(3,5) must NOT survive, leaving exactly the 6
    // mutual pairs among {1,2,3,4}∪{(3,4)…}. Vec 6 is the negated
    // direction: opposite SRP signs put it in its own singleton
    // block, so it abstains (n_eligible = 5 < n_vecs = 6). Label 1
    // has one vector: a singleton block, zero eligible, sentinel
    // best pair.
    def flat(x: Float): Seq[Float] = Seq.fill(64)(x)
    Seq((1L, flat(0.5f), 0), (2L, flat(0.4f), 0), (3L, flat(0.3f), 0),
      (4L, flat(0.2f), 0), (5L, flat(0.1f), 0), (6L, flat(-0.1f), 0),
      (7L, flat(0.25f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("p261_mutual_knn")(spark, dir)
      .collect().map(r => r.getAs[Long]("label") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Long]("n_eligible"),
          r.getAs[Long]("n_mutual"), r.getAs[Long]("best_a"),
          r.getAs[Long]("best_b"), r.getAs[Long]("best_dot"))).toMap
    // mutual set = all 6 pairs among {1,2,3,4}; best = (1,2) with
    // dot = 64 · 5000 · 4000 (floor(0.5·10⁴)=5000, floor(0.4f·10⁴)=4000)
    assert(got(0L) == ((6L, 5L, 6L, 1L, 2L, 1280000000L)))
    assert(got(1L) == ((1L, 0L, 0L, -1L, -1L, 0L)))
    assert(got.size == 2)
  }

  test("p260 cluster density: a planted clique lands in the density-1e6 " +
      "band and a planted chain lands in the half-density band") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/p260fix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    // Chain in SIMHASH space, found by exhaustive search over the
    // portable md5 hash (deterministic — the signatures are pure
    // functions of the token sets): base = 40 distinct tokens, each
    // next doc ADDS one token (x026, then x003, then x008). Consecutive
    // hammings are 3,3,3 (pairs at the <=3 threshold); skip hammings
    // are 4,4,7 (NOT pairs) — so the pair graph on docs 1-4 is exactly
    // the path (1,2),(2,3),(3,4): one cluster, s=4, e=3, density
    // 2·3·1e6/(4·3) = 500000 → band 5, size class s4_7. Docs 11-13 are
    // identical (hamming 0, all 3 pairs): s=3, e=3, density
    // 2·3·1e6/(3·2) = 1e6 → band 10, size class s2_3. The q-token
    // clique sits 38-40 bits from every chain doc, so the two clusters
    // cannot merge.
    val base = (0 until 40).map(i => f"w$i%02d")
    val chain = Seq(base, base :+ "x026", base ++ Seq("x026", "x003"),
      base ++ Seq("x026", "x003", "x008"))
    val clique = (0 until 20).map(i => f"q$i%02d").mkString(" ")
    (chain.zipWithIndex.map { case (ws, i) => (i + 1L, ws.mkString(" ")) }
      ++ Seq(11L, 12L, 13L).map(id => (id, clique)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("p260_cluster_density")(spark, dir)
      .collect().map(r => ((r.getAs[String]("size_class"),
        r.getAs[Long]("band")),
        (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs")))).toMap
    assert(got(("s2_3", 10L)) == ((1L, 3L))) // the true duplicate family
    assert(got(("s4_7", 5L)) == ((1L, 4L)))  // the over-merged chain
    assert(got.size == 2)
  }

  test("p259 dp release: the geometric draws equal the JVM md5 " +
      "reference bit-for-bit and the release clamps at zero") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/p259fix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    Seq((1L, "t", "alpha"), (2L, "t", "alpha"), (3L, "t", "alpha"),
      (4L, "t", "beta"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    def g(s: String) = java.lang.Long.numberOfTrailingZeros(h60(s))
    val got = SparkEntry.queries("p259_dp_count_release")(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_true"), r.getAs[Long]("noise"),
          r.getAs[Long]("released"))).toMap
    Seq(("alpha", 3L), ("beta", 1L)).foreach { case (src, n) =>
      val noise = g(s"dp1:$src").toLong - g(s"dp2:$src")
      assert(got(src) == ((n, noise, math.max(n + noise, 0L))),
        s"$src: expected noise $noise from the JVM md5 reference")
    }
  }

  test("p246 rolling distinct: the 7-day window boundary is [g-6, g] " +
      "inclusive — a user exits exactly when their only day falls out") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/p246fix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    // u1 {d1, d8} (gap 7: re-enters), u2 {d1, d7} (gap 6: counted once
    // per window), u3 {d1} (exits the window ending d8)
    val act = Seq((1L, 1), (1L, 8), (2L, 1), (2L, 7), (3L, 1))
    act.zipWithIndex.map { case ((u, d), i) =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-04-0$d 10:00:00"),
        u, "click", 0.0, "")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("p246_rolling_distinct")(spark, dir)
      .collect().map(r => (r.getAs[String]("day"),
        r.getAs[Long]("n_active_7d"))).toMap
    // d1..d7 see all three (u3's d1 is still inside [g-6, g]); at d8
    // u3's d1 = g-7 falls out, u1 re-enters via d8, u2 stays via d7
    (1 to 7).foreach(d => assert(got(f"2024-04-0$d") == 3L, s"day $d"))
    assert(got("2024-04-08") == 2L)
  }

  test("p244 edit distance: whitespace twin pairs at distance 1; a " +
      "token-duplicated twin blows the 200 cap to -1 on both engines") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/p244fix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val t2 = t1.replaceFirst(" ", "  ") // same tokens -> simhash 0; 1 edit
    val t3 = t1 + (" alpha" * 61) // distinct tokens unchanged; +366 chars
    Seq((1L, t1), (2L, t2), (3L, t3)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("p244_pair_edit_distance")(spark, dir)
      .collect().map(r => ((r.getAs[Long]("a"), r.getAs[Long]("b")),
        (r.getAs[Long]("edit_dist"), r.getAs[Long]("rel_ppm")))).toMap
    assert(got((1L, 2L)) == ((1L, 1000000L / t2.length)))
    // 366 inserted chars > 200 cap -> both engines report -1
    assert(got((1L, 3L)) == ((-1L, -1L)))
    assert(got((2L, 3L))._1 == -1L)
  }

  test("p251 waterfilling: small sources cap at availability, the rest " +
      "level off, remainder spreads by name, sum is exactly B") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/p251fix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    def text(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // avail: sA=2, sB=3, sC=50, sD=50 -> T=105, B=42; level t=18, r=1:
    // sA/sB capped, sC gets 19 (first uncapped by name), sD gets 18
    Seq((1L, text(2), "sA"), (2L, text(3), "sB"),
      (3L, text(50), "sC"), (4L, text(50), "sD"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("p251_waterfill_mix")(spark, dir)
      .collect().map(r => (r.getAs[String]("source"),
        r.getAs[Long]("alloc_tokens"), r.getAs[Boolean]("capped"))).toList
    assert(got == List(("sA", 2L, true), ("sB", 3L, true),
      ("sC", 19L, false), ("sD", 18L, false)))
  }

  test("p249 CUSUM: a planted volume burst alarms during the burst, " +
      "never in the flat head, and the stat resets after max(0, .)") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/p249fix_${queries.runToken}"
    queries.cleanupAtExit(dir)
    // 10 flat days of 2 events, then 4 burst days of 30
    val rows = (1 to 10).flatMap(d => Seq.fill(2)(d)) ++
      (11 to 14).flatMap(d => Seq.fill(30)(d))
    rows.zipWithIndex.map { case (d, i) =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-03-$d%02d 12:00:00"),
        1L, "click", 0.0, "")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("p249_cusum_alarm")(spark, dir).collect()
    val alarms = got.filter(_.getAs[Boolean]("alarm"))
      .map(_.getAs[String]("day"))
    assert(alarms.nonEmpty, "burst must alarm")
    assert(alarms.forall(_ >= "2024-03-11"),
      s"alarm before the burst: ${alarms.mkString(",")}")
    // the stat is non-negative everywhere (the max(0,.) reduction)
    assert(got.forall(_.getAs[Long]("cusum_scaled") >= 0L))
    // flat head stays quiet: scaled stat < threshold for days 1-10
    val s = rows.size.toLong
    assert(got.filter(_.getAs[String]("day") < "2024-03-11")
      .forall(_.getAs[Long]("cusum_scaled") < 8 * s))
  }

  test("p51 CMS envelope: every top-20 estimate within [exact, exact+eps*N], " +
    "diagnosable per token") {
    import graft.queries.{CmsProbe, Tables}
    val dir = "/root/testdata/sf0.001"
    val toks = Tables.load(spark, dir, "documents")
      .select(explode(TextOps.tokens(col("text"))).as("token"))
    val row = toks.agg(
      expr("count_min_sketch(token, 0.001d, 0.99d, 42)").as("sk"),
      count(lit(1)).as("total")).collect()(0)
    val bound = row.getLong(1) / 1000 // eps·N, eps = 0.001
    val probe = new CmsProbe(row.getAs[Array[Byte]](0), bound)
    val top = toks.groupBy(col("token")).agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("token")).limit(20).collect()
    // the p51 oracle hardcodes TRUE AS within_bound (holds w.p. 0.99 per
    // point query for the fixed seed+fixture); this spec is the
    // diagnosable version — an envelope escape names the token and the
    // (exact, est, bound) triple instead of an opaque hash mismatch
    top.foreach { r =>
      val (t, exact) = (r.getString(0), r.getLong(1))
      val est = probe.estimate(t)
      assert(est >= exact && est <= exact + bound,
        s"CMS envelope escape for token '$t': exact=$exact est=$est " +
          s"allowed=[$exact, ${exact + bound}] — if the fixture was " +
          "regenerated, re-derive the p51 oracle's within_bound flags")
    }
    val worst = top.map(r => probe.estimate(r.getString(0)) - r.getLong(1)).max
    info(s"p51 envelope: 20/20 within bound; worst overshoot $worst of $bound allowed")
  }

  /** Writes a one-table documents fixture and returns its dir. */
  private def docsFixture(tag: String, rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/${tag}_${queries.runToken}"
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    dir
  }

  test("p46 BPE pairs: planted char pairs counted across word occurrences; " +
    "single-char words contribute nothing") {
    // "abab" → ab, ba, ab; "ab" → ab; "x" → none. Totals: ab=3+1? no —
    // abab yields ab,ba,ab (3 pairs), ab yields ab → ab=3, ba=1.
    val dir = docsFixture("p46fix", Seq((1L, "abab ab x")))
    val r = SparkEntry.queries("p46_bpe_pairs")(spark, dir)
      .collect().map(x => (x.getString(0), x.getLong(1))).toSeq
    assert(r == Seq(("ab", 3L), ("ba", 1L)))
  }

  test("p47 bigram LM: deterministic transition ppm; short docs drop out") {
    // corpus: doc 1 "a b a b", doc 2 "a b", doc 3 "a" (no bigram).
    // bigrams: d1 = [a b, b a, a b], d2 = [a b] → C2(a b)=3, C2(b a)=1;
    // C1(a)=3, C1(b)=1 (prefix occurrences).
    // d1 cond_ppm = [1e6*3//3, 1e6*1//1, 1e6] = [1e6,1e6,1e6] → avg 1e6
    // d2 = [1e6] → avg 1e6; d3 absent.
    val dir = docsFixture("p47fix", Seq((1L, "a b a b"), (2L, "a b"), (3L, "a")))
    val r = SparkEntry.queries("p47_bigram_lm")(spark, dir)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(r == Seq((1L, 3L, 1000000L), (2L, 1L, 1000000L)))
  }

  test("p48 incremental dedup classifies new docs against the ingested corpus") {
    // old corpus: 10, 20; new batch: 18 (dup of old 10), 28 (fresh),
    // 38 (dup of new 28 → later id loses), 48 (unique)
    val dir = docsFixture("p48fix", Seq(
      (10L, "alpha beta gamma"), (20L, "delta epsilon"),
      (18L, "Alpha  beta GAMMA"), // ws/case variant of 10 → dup_existing
      (28L, "fresh new content"), (38L, "fresh  NEW content"), // dup_new
      (48L, "entirely unique doc")))
    val r = SparkEntry.queries("p48_incremental_dedup")(spark, dir)
      .collect().map(x => (x.getLong(0), x.getString(2))).toMap
    assert(r == Map(18L -> "dup_existing", 28L -> "kept",
      38L -> "dup_new", 48L -> "kept"))
  }

  test("p51 CMS top-k: planted counts exact, estimates within the envelope") {
    val dir = docsFixture("p51fix", Seq(
      (1L, "x x x x y y z"), (2L, "x y w")))
    val r = SparkEntry.queries("p51_cms_topk")(spark, dir)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getBoolean(2)))
    assert(r.head == ("x", 5L, true)) // top token, exact count
    assert(r.map(_._1).toSeq == Seq("x", "y", "w", "z")) // count desc, token asc
    assert(r.forall(_._3), "CMS estimate escaped [exact, exact + eps*N]")
  }

  test("bandedIntervalJoin equals the naive interval join, including both " +
    "window edges") {
    import spark.implicits._
    import graft.ops.JoinPatterns
    val w = 100L
    // right rows planted exactly AT both edges (t-100, t), inside, and
    // one tick outside each edge
    val left = Seq((1L, 1000L, "c1")).toDF("k", "lts", "lid")
    val right = Seq(
      (1L, 900L, "r_lo_edge"), (1L, 899L, "r_below"), (1L, 950L, "r_in"),
      (1L, 1000L, "r_hi_edge"), (1L, 1001L, "r_above"), (2L, 950L, "r_wrong_key")
    ).toDF("k", "rts", "rid")
    val banded = JoinPatterns.bandedIntervalJoin(left, right, "k", "lts", "rts", w)
      .select(col("rid")).as[String].collect().sorted.toSeq
    assert(banded == Seq("r_hi_edge", "r_in", "r_lo_edge"))
    val naive = left.join(right,
        left("k") === right("k") &&
          col("rts") >= col("lts") - w && col("rts") <= col("lts"))
      .select(col("rid")).as[String].collect().sorted.toSeq
    assert(banded == naive)

    // pre-epoch (negative) timestamps: floor-banding must not truncate
    // toward zero — a window straddling a negative band edge still matches
    val nleft = Seq((1L, -950L, "c")).toDF("k", "lts", "lid")
    val nright = Seq((1L, -1050L, "n_lo_edge"), (1L, -1051L, "n_below"),
      (1L, -950L, "n_hi_edge"), (1L, -1000L, "n_in")).toDF("k", "rts", "rid")
    val nb = JoinPatterns.bandedIntervalJoin(nleft, nright, "k", "lts", "rts", w)
      .select(col("rid")).as[String].collect().sorted.toSeq
    assert(nb == Seq("n_hi_edge", "n_in", "n_lo_edge"))
  }

  test("saltedJoin matches the plain join and shuffles on the salted key") {
    import spark.implicits._
    import graft.ops.JoinPatterns
    val left = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"))
      .toDF("id", "key")
    val dim = Seq(("A", 10L), ("B", 20L)).toDF("key", "w")
    val salted = JoinPatterns.saltedJoin(left, dim, "key", col("id"), salts = 4)
    val got = salted.select(col("id"), col("w")).as[(Long, Long)]
      .collect().sorted.toSeq
    assert(got == Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L)))
    // the join must shuffle on (key, salt) — the hot key 'A' spreads
    // over salt partitions instead of landing in one task
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"salt column absent from plan:\n$plan")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"salted join did not take the shuffle path:\n$plan")
  }

  test("gcd/lcm kernels: DF38 semantics — non-negative, zero identities, " +
    "null-safe, overflow raises") {
    import spark.implicits._
    import graft.functions.NumberTheory
    val df = Seq(
      (12L, 18L), (0L, 36L), (0L, 0L), (-12L, 18L), (7L, 13L)
    ).toDF("a", "b")
    val r = df.select(NumberTheory.gcdCol(col("a"), col("b")).as("g"),
        NumberTheory.lcmCol(col("a"), col("b")).as("l"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(r == Seq((6L, 36L), (36L, 0L), (0L, 0L), (6L, 36L), (1L, 91L)))
    // null-safe: null in → null out (BinaryExpression default)
    val withNull = Seq((Some(4L), None: Option[Long])).toDF("a", "b")
    assert(withNull.select(NumberTheory.gcdCol(col("a"), col("b")))
      .collect().head.isNullAt(0))
    // lcm overflow must raise, not wrap (3^39 * 2^62 >> 2^63)
    intercept[Exception] {
      Seq((Long.MaxValue, Long.MaxValue - 1L)).toDF("a", "b")
        .select(NumberTheory.lcmCol(col("a"), col("b"))).collect()
    }
    // SQL path (the session's engine extensions): same kernels by name
    assert(spark.sql("SELECT graft_gcd(12L, 18L), graft_lcm(4L, 6L)")
      .collect().head.toSeq == Seq(6L, 12L))
    // DF38 coercion parity: bare INT literals widen to BIGINT via
    // ImplicitCastInputTypes instead of failing analysis
    assert(spark.sql("SELECT graft_gcd(12, 18), graft_lcm(CAST(4 AS SMALLINT), 6)")
      .collect().head.toSeq == Seq(6L, 12L))
  }

  test("measured ANN recall@5: IVF and SRP buckets vs brute-force truth") {
    import spark.implicits._
    // 16 planted clusters of 12 vectors in 16 dims: cluster c peaks on
    // axis c with deterministic LCG noise large enough that cluster
    // boundaries blur (some true top-5 neighbours live in OTHER
    // clusters) — so IVF recall is a real measurement, not a tautology
    val dim = 16; val nClusters = 16; val perCluster = 12
    def lcg(seed: Long): Double = {
      val x = seed * 6364136223846793005L + 1442695040888963407L
      ((x >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
    val rows = for (c <- 0 until nClusters; m <- 0 until perCluster) yield {
      val id = (c * perCluster + m).toLong
      val v = Seq.tabulate(dim) { j =>
        ((if (j == c) 2.5 else 0.0) + 0.9 * lcg(id * 131 + j)).toFloat
      }
      (id, v, c)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val queries = emb.filter(col("vec_id") % perCluster === 0)

    def pairs(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      df.select(col(a), col(b)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val truth = pairs(SimilarityOps.bruteForceTopK(
      emb, queries, "vec_id", "embedding", 5), "query_id", "vec_id")
    assert(truth.size == nClusters * 5)

    // IVF probes only the query's own cluster bucket: misses exactly the
    // true neighbours that fell in another cluster
    val ivf = pairs(SimilarityOps.partitionedTopK(
      emb, queries, "vec_id", "embedding", "label", 5), "query_id", "vec_id")
    val ivfRecall = truth.count(ivf.contains).toDouble / truth.size
    info(f"IVF recall@5 = $ivfRecall%.3f (${truth.count(ivf.contains)}/${truth.size})")
    assert(ivfRecall >= 0.80 && ivfRecall < 1.0,
      f"IVF recall@5 = $ivfRecall%.3f — expected a real (non-tautological) " +
        "measurement in [0.80, 1.0)")

    // SRP candidate recall at two bit-widths: fraction of true neighbour
    // pairs sharing an SRP bucket (minSim = -1 keeps every bucket-mate).
    // One hash table trades recall for candidate volume as k grows —
    // the measured quality-vs-cost curve of the no-label LSH path
    // (production raises recall with multiple tables, not fewer bits)
    val truthPairs = truth.map { case (q, v) => (math.min(q, v), math.max(q, v)) }
    val allPairs = choose2(nClusters * perCluster)
    def srpAt(k: Int): (Double, Int) = {
      val cand = pairs(SimilarityOps.srpNearDupPairs(
        emb, "vec_id", "embedding", k = k, minSim = -1.0, dim = dim), "a", "b")
      (truthPairs.count(cand.contains).toDouble / truthPairs.size, cand.size)
    }
    val (r4, n4) = srpAt(4)
    val (r8, n8) = srpAt(8)
    info(f"SRP(k=4) candidate recall@5 = $r4%.3f over $n4 candidates; " +
      f"SRP(k=8) = $r8%.3f over $n8 candidates (all-pairs $allPairs)")
    assert(r4 >= 0.55, f"SRP(k=4) recall $r4%.3f below the 0.55 floor")
    assert(r8 >= 0.25, f"SRP(k=8) recall $r8%.3f below the 0.25 floor")
    assert(r4 >= r8 && n4 > n8 && n4 < allPairs,
      s"expected the recall/cost tradeoff: k=4 recalls at least as much " +
        s"as k=8 over more (but sub-quadratic) candidates; got " +
        s"r4=$r4 n4=$n4, r8=$r8 n8=$n8, all=$allPairs")

    // the production lever the single-table comment promises: MORE
    // TABLES, not fewer bits. L=1 must degenerate to the single-table
    // operator exactly; L=4 must measurably lift recall at the same
    // per-table bit width while staying sub-quadratic
    def srpMulti(tables: Int): (Double, Int) = {
      val cand = pairs(SimilarityOps.srpMultiTablePairs(
        emb, "vec_id", "embedding", k = 8, minSim = -1.0, dim = dim,
        tables = tables), "a", "b")
      (truthPairs.count(cand.contains).toDouble / truthPairs.size, cand.size)
    }
    val (rL1, nL1) = srpMulti(1)
    val (rL4, nL4) = srpMulti(4)
    info(f"SRP(k=8, L=1) recall = $rL1%.3f over $nL1 candidates; " +
      f"SRP(k=8, L=4) = $rL4%.3f over $nL4 candidates")
    assert(rL1 == r8 && nL1 == n8,
      s"L=1 must equal the single-table operator: got r=$rL1/$r8 n=$nL1/$n8")
    assert(rL4 > rL1,
      f"4 tables must lift candidate recall: L=4 $rL4%.3f vs L=1 $rL1%.3f")
    assert(nL4 < allPairs, s"L=4 candidates must stay sub-quadratic: " +
      s"$nL4 vs all-pairs $allPairs")
  }

  private def choose2(n: Int): Long = n.toLong * (n - 1) / 2

  test("kmeansLloyd separates planted clusters and is deterministic") {
    import spark.implicits._
    import graft.ops.ClusterOps
    // 3 planted blobs in 8 dims at well-separated corners; ids 0,1,2
    // (the deterministic seeds) land one per blob
    def lcg(seed: Long): Double = {
      val x = seed * 6364136223846793005L + 1442695040888963407L
      ((x >>> 11).toDouble / (1L << 53).toDouble) * 0.1
    }
    val rows = (0 until 90).map { i =>
      val blob = i % 3
      val v = Seq.tabulate(8)(j =>
        ((if (j == blob * 2) 0.8 else -0.3) + lcg(i * 17 + j)).toFloat)
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = ClusterOps.kmeansLloyd(df, "vec_id", "embedding", k = 3, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every member joined the cluster seeded inside its own blob
    assert((0 until 90).forall(i => out(i.toLong) == (i % 3).toLong),
      s"planted blobs not separated: ${out.toSeq.sortBy(_._1).take(12)}")
    val again = ClusterOps.kmeansLloyd(df, "vec_id", "embedding", k = 3, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == again, "kmeansLloyd must be bit-deterministic")
    // plan shape: centroids BROADCAST to the vectors (the vector table
    // must never shuffle for assignment) and the argmin runs as a
    // partial-then-final min aggregate, not a window
    val assigned = ClusterOps.kmeansLloyd(df, "vec_id", "embedding",
      k = 3, iters = 0)
    assigned.collect()
    val plan = assigned.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"centroid assign must broadcast, not shuffle:\n$plan")
    assert(plan.contains("partial_min"),
      s"argmin must partial-aggregate map-side:\n$plan")
  }

  test("MinTopNPairs matches the ranked window, skips NULLs, and " +
    "aggregates partially before the shuffle") {
    import spark.implicits._
    import graft.functions.TopN
    // 10k rows over 4 groups, keys from a fixed LCG; some null ids
    def k(i: Int): Long = (i * 6364136223846793005L + 1442695040888963407L) >>> 12
    val rows = (0 until 10000).map(i =>
      (s"g${i % 4}", k(i), if (i % 97 == 0) None else Some(i.toLong)))
    val df = rows.toDF("grp", "h", "id").repartition(8)
    val agg = df.groupBy(col("grp"))
      .agg(TopN.minTopN(col("h"), col("id"), 5).as("top"))
    val got = agg.select(col("grp"), posexplode(col("top")).as(Seq("rk", "p")))
      .select(col("grp"), col("rk"), col("p.h"), col("p.id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    val expect = rows.collect { case (g, h, Some(i)) => (g, h, i) }
      .groupBy(_._1).flatMap { case (g, grp) =>
        grp.map(t => (t._2, t._3)).sorted.take(5).zipWithIndex
          .map { case ((h, i), rk) => (g, rk, h, i) }
      }.toSet
    assert(got == expect)
    // the plan must run the kernel in two phases (partial before the
    // shuffle, merge after) — the entire point vs a ranked window
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_min_top_n") &&
      plan.contains("graft_min_top_n"),
      s"expected a two-phase ObjectHashAggregate over the kernel:\n$plan")
    // SQL path (the session's engine extensions): same kernel by name,
    // analyzer-wrapped agg
    df.createOrReplaceTempView("topn_in")
    val viaSql = spark.sql(
      "SELECT grp, graft_min_top_n(h, id, 5) AS top FROM topn_in GROUP BY grp")
      .select(col("grp"), posexplode(col("top")).as(Seq("rk", "p")))
      .select(col("grp"), col("rk"), col("p.h"), col("p.id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(viaSql == expect)
  }

  test("p47 bigram-LM under a planted hot bigram: AQE skew split can't " +
    "fire on this join shape, the salted path bounds the largest task group") {
    import spark.implicits._
    import graft.ops.LmOps
    // a corpus where one bigram ("aa bb") is ~10x hotter than any other:
    // 500 docs repeat it, 50 docs carry unique filler bigrams
    val hotDocs = (0L until 500L).map(i => (i, "aa bb"))
    val coldDocs = (500L until 550L).map(i => (i, s"u$i v$i w$i"))
    val docs = (hotDocs ++ coldDocs).toDF("doc_id", "text")

    // 1. AQE CANNOT split this join: the count-table side aggregates
    // above its shuffle, and OptimizeSkewedJoin only matches a join
    // whose children are bare (sorted) shuffle stages. Prove it by
    // executing the UNSALTED shape under maximally eager skew configs —
    // the plan must show a sort-merge join and no skew marker.
    val keep = Seq("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    val unsaltedRows = try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1024")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1024")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bg = docs.select(col("doc_id"),
        explode(TextOps.shingles(col("text"), 2)).as("bg"))
      val c2 = bg.groupBy(col("bg")).agg(count(lit(1)).as("n2"))
      val unsalted = bg.join(c2, "bg")
      val out = unsalted.collect() // finalizes the adaptive plan
      val plan = unsalted.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffle join in the unsalted plan:\n$plan")
      assert(!plan.contains("skew=true"),
        "AQE split the aggregate-build join after all — drop the salted " +
          s"path in LmOps.bigramLm and delegate to AQE:\n$plan")
      out.length
    } finally keep.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
    assert(unsaltedRows == 500 + 50 * 2) // hot bigram + 2 bigrams per cold doc

    // 2. the salted path bounds the hot key: the largest (bg, salt)
    // join group is ~hot/salts, not hot
    val salts = 8
    val maxGroup = docs.select(col("doc_id"),
        explode(TextOps.shingles(col("text"), 2)).as("bg"))
      .groupBy(col("bg"), pmod(col("doc_id"), lit(salts)))
      .count().agg(max(col("count"))).collect().head.getLong(0)
    assert(maxGroup <= 500 / salts + salts,
      s"salting left a join group of $maxGroup rows (hot key is 500)")

    // 3. the salted pipeline goes through __salt shuffle joins and its
    // result equals the plain-join reference
    val scored = LmOps.bigramLm(docs, "doc_id", "text", singlePass = false)
    val got = scored.orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"salt column absent from p47 plan:\n$plan")
    // hot docs: 1 bigram "aa bb" with C2=500, C1(aa)=500 → cond_ppm 1e6
    assert(got.take(500).forall { case (_, n, ppm) => n == 1L && ppm == 1000000L })
    // cold docs: 2 unique bigrams, C2=1, C1(prefix)=1 → cond_ppm 1e6
    assert(got.drop(500).forall { case (_, n, ppm) => n == 2L && ppm == 1000000L })
  }

  test("DqSketch: decimal buckets are exact, estimates stay within the " +
    "5% relative-error guarantee, and the aggregate partials map-side") {
    import spark.implicits._
    import graft.functions.{DqSketch, DqSketchQuantiles}
    // bucket math edges: width 1 below 3 digits, then 10^(d-2); the
    // lower bound keeps the digit count (so width is recomputable)
    assert(Seq(1L, 9L, 99L).forall(v => DqSketch.bucketWidth(v) == 1L))
    assert(DqSketch.bucketWidth(100L) == 10L)
    assert(DqSketch.bucketWidth(999L) == 10L)
    assert(DqSketch.bucketWidth(1000L) == 100L)
    assert(DqSketch.bucketWidth(Long.MaxValue) == 100000000000000000L)
    assert(DqSketch.bucketLb(12345L) == 12000L)
    assert(DqSketch.bucketLb(99999L) == 99000L)
    assert(DqSketch.bucketLb(Long.MaxValue) > 0L) // no overflow
    // top-decade midpoint clamps instead of wrapping negative
    val extreme = scala.collection.mutable.LongMap(
      DqSketch.bucketLb(Long.MaxValue) -> 1L)
    assert(DqSketch.quantiles(extreme, Seq(500000)) == Seq(Long.MaxValue))

    // a skewed fixture (LCG^2 → long tail), grouped, vs exact ranks
    def k(i: Int): Long = ((i * 6364136223846793005L + 1442695040888963407L)
      >>> 40) + 1
    val rows = (0 until 20000).map(i => (s"g${i % 3}", k(i) * k(i) % 1000000 + 1))
    val df = rows.toDF("grp", "v").repartition(8)
    val qs = Seq(500000, 900000, 990000)
    val agg = df.groupBy(col("grp"))
      .agg(DqSketch.quantilesCol(col("v"), qs).as("est"))
    val got = agg.collect().map(r =>
      r.getString(0) -> r.getSeq[Long](1)).toMap
    val byGrp = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    byGrp.foreach { case (g, sorted) =>
      qs.zipWithIndex.foreach { case (q, i) =>
        val exact = sorted((((q.toLong * sorted.size + 999999L) / 1000000L)
          .toInt - 1).max(0))
        val est = got(g)(i)
        assert(math.abs(est - exact).toDouble <= 0.05 * exact,
          s"$g q=$q: est $est vs exact $exact breaks the 5% envelope")
      }
    }
    // the whole point vs percentile_disc: partial sketches before the
    // shuffle, merged after
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_dq_quantiles") &&
      plan.contains("graft_dq_quantiles"),
      s"expected two-phase ObjectHashAggregate over the sketch:\n$plan")
    // empty input and all-non-positive input: zero estimates, no throw
    val empty = Seq.empty[(String, Long)].toDF("grp", "v")
      .groupBy(col("grp")).agg(DqSketch.quantilesCol(col("v"), qs))
    assert(empty.collect().isEmpty)
    val nonpos = Seq(("g", -5L), ("g", 0L)).toDF("grp", "v")
      .groupBy(col("grp")).agg(DqSketch.quantilesCol(col("v"), qs).as("est"))
      .collect()
    assert(nonpos.head.getSeq[Long](1) == Seq(0L, 0L, 0L))
    // misuse fails analysis loudly, not silently
    intercept[Exception] {
      Seq(("g", 1L)).toDF("grp", "v").groupBy(col("grp"))
        .agg(org.apache.spark.sql.GraftSql.column(
          DqSketchQuantiles(org.apache.spark.sql.GraftSql.expression(col("v")),
            Seq(0)).toAggregateExpression())).collect()
    }
  }

  test("DqSketch state tables (p77 shape): per-ingest bucket states merge " +
    "to the one-shot sketch bit-for-bit, and the state agg is two-phase") {
    import spark.implicits._
    import graft.functions.DqSketch
    def k(i: Int): Long = ((i * 6364136223846793005L + 1442695040888963407L)
      >>> 40) + 1
    val rows = (0 until 12000).map(i => (s"g${i % 3}", i.toLong, k(i) % 90000 + 1))
    val df = rows.toDF("grp", "id", "v").repartition(8)
    // the column-expression binning must agree with the kernel binning
    // on every row — otherwise state tables and the aggregate silently
    // sketch different buckets
    val lbExpr = col("v") - col("v") % expr(
      "CAST('1' || repeat('0', greatest(length(CAST(v AS STRING)) - 2, 0)) AS BIGINT)")
    df.select(col("v"), lbExpr.as("lb")).collect().foreach { r =>
      assert(r.getLong(1) == DqSketch.bucketLb(r.getLong(0)),
        s"column binning disagrees with kernel at v=${r.getLong(0)}")
    }
    // two ingests -> two explicit state tables -> merged by addition
    def state(f: org.apache.spark.sql.DataFrame) = f.withColumn("lb", lbExpr)
      .groupBy(col("grp"), col("lb")).agg(count(lit(1)).as("cnt"))
    val merged = state(df.filter(col("id") % 2 === 0))
      .union(state(df.filter(col("id") % 2 =!= 0)))
      .groupBy(col("grp"), col("lb")).agg(sum(col("cnt")).as("cnt"))
    // finalizing the merged state through the kernel's own rank
    // arithmetic must equal the one-shot TypedImperativeAggregate
    val qs = Seq(500000, 900000, 990000)
    val mergedMaps = merged.collect()
      .groupBy(_.getString(0)).view.mapValues { rs =>
        val m = scala.collection.mutable.LongMap.empty[Long]
        rs.foreach(r => m.update(r.getLong(1), r.getLong(2)))
        m
      }.toMap
    val fromState = mergedMaps.view.mapValues(DqSketch.quantiles(_, qs)).toMap
    val oneShot = df.groupBy(col("grp"))
      .agg(DqSketch.quantilesCol(col("v"), qs).as("est")).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(fromState == oneShot,
      s"merged state must finalize to the one-shot sketch: $fromState vs $oneShot")
    // the state table itself must partial-aggregate map-side: the merge
    // moves O(buckets) state rows, never data
    val plan = state(df).queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"),
      s"state table must be a two-phase aggregate:\n$plan")
  }

  test("containmentPairs: a planted full quote scores containment 1.0 " +
    "where Jaccard stays below any dedup threshold") {
    import spark.implicits._
    val quote = (1 to 10).map(i => s"q$i").mkString(" ")
    val filler = (1 to 90).map(i => s"f$i").mkString(" ")
    val fixture = Seq(
      (1L, quote), // the short document
      (2L, s"$quote $filler"), // quotes 1 in full, then 10x more text
      (3L, (1 to 40).map(i => s"z$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val got = DedupOps.containmentPairs(fixture, "doc_id", "text",
      minPpm = 900000)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(5), r.getLong(6)))
    // doc1: 10 tokens -> 8 shingles, all inside doc2; doc2: 100 tokens
    // -> 98 shingles => cont(1 in 2) = 1.0, cont(2 in 1) = 8/98
    assert(got.toSeq == Seq((1L, 2L, 1000000L, 81632L)),
      s"quote must contain fully one way, weakly the other: ${got.toSeq}")
    // the same pair under symmetric Jaccard: 8/98 — invisible to p05
    val jac = DedupOps.jaccardPairs(fixture, "doc_id", "text",
      minJaccard = 0.5).collect()
    assert(jac.isEmpty, s"Jaccard should miss the quote: ${jac.toSeq}")
  }

  test("GraphOps.pageRank: exact integer ranks on a planted star, " +
    "isolated nodes settle at the teleport base, bit-deterministic") {
    import spark.implicits._
    import graft.ops.GraphOps
    // star: b, c, d each point at a (weight 1); e is isolated
    val edges = Seq(("b", "a", 1L), ("c", "a", 1L), ("d", "a", 1L))
      .toDF("src", "dst", "w")
    val nodes = Seq("a", "b", "c", "d", "e").toDF("node")
    def ranks(iters: Int): Map[String, Long] =
      GraphOps.pageRank(edges, nodes, iters)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // hand-computed: r0 = 1e6 everywhere;
    // iter1: inflow(a) = 3 * (1e6 * 1 div 1) = 3e6
    //        r(a) = 150000 + (85 * 3e6) div 100 = 2700000; spokes 150000
    assert(ranks(1) == Map("a" -> 2700000L, "b" -> 150000L, "c" -> 150000L,
      "d" -> 150000L, "e" -> 150000L))
    // iter2: inflow(a) = 3 * 150000 = 450000
    //        r(a) = 150000 + (85 * 450000) div 100 = 532500
    val r2 = ranks(2)
    assert(r2("a") == 532500L && r2("e") == 150000L)
    assert(ranks(2) == ranks(2), "pageRank must be bit-deterministic")
    // zero iterations: everyone at scale
    assert(ranks(0).values.toSet == Set(1000000L))
    intercept[IllegalArgumentException] {
      GraphOps.pageRank(edges, nodes, iters = -1)
    }
  }

  test("CharStats: one-pass counts match hand computation, code points " +
    "count surrogate pairs once, empty and NULL are safe") {
    import spark.implicits._
    import graft.functions.CharStats
    // "ab1 a!" → 6 chars, 3 alpha, 1 digit, 1 ws, 1 other;
    // distinct {a,b,1,' ','!'} = 5; collision: only 'a' repeats (2·1)
    val st = CharStats.statsData(
      org.apache.spark.unsafe.types.UTF8String.fromString("ab1 a!"))
    assert(st.toLongArray().toSeq == Seq(6L, 3L, 1L, 1L, 1L, 5L, 2L))
    // an astral-plane emoji is ONE code point (two UTF-16 units) —
    // matching DuckDB's code-point length/substr semantics
    val emoji = CharStats.statsData(
      org.apache.spark.unsafe.types.UTF8String.fromString("a😀a"))
    assert(emoji.toLongArray().toSeq == Seq(3L, 2L, 0L, 0L, 1L, 2L, 2L))
    // empty string: all zeros
    assert(CharStats.statsData(
      org.apache.spark.unsafe.types.UTF8String.fromString(""))
      .toLongArray().toSeq == Seq.fill(7)(0L))
    // NULL propagation + agreement with the explode formulation,
    // through the codegen'd expression
    val df = Seq((1L, "hello world"), (2L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val rows = df.select(col("id"), CharStats.stats(col("text")).as("st"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(2L).isNullAt(1), "NULL text → NULL stats")
    val hello = rows(1L).getSeq[Long](1)
    val exploded = df.filter(col("id") === 1)
      .select(explode(split(col("text"), "")).as("ch"))
      .groupBy(col("ch")).count().collect()
    assert(hello(5) == exploded.length.toLong) // n_distinct
    assert(hello(6) ==
      exploded.map(r => r.getLong(1) * (r.getLong(1) - 1)).sum) // collision
  }

  test("BPE apply (p87 kernel): rank-order cascades, left-to-right " +
    "adjacent merges, and no cross-symbol-boundary matches") {
    import spark.implicits._
    val enc = Seq("the", "spark", "batch", "scan", "anan", "anat", "ban", "x")
      .toDF("w")
      .select(col("w"), graft.queries.Pipeline7.bpeEncode(col("w")).as("e"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // cascading merges: each rank's output feeds later ranks
    assert(enc("the") == "(the)")     // t+h → th, th+e → the
    assert(enc("spark") == "(spark)") // s+p, a+r, sp+ar, spar+k
    assert(enc("batch") == "(batch)") // a+t, c+h, at+ch, b+atch
    assert(enc("scan") == "(scan)")   // a+n, s+c, sc+an
    // ADJACENT occurrences of one pair must BOTH merge in a single
    // rank's pass — the case a space-separated replace scheme gets
    // wrong (the shared separator is consumed by the first match)
    assert(enc("anan") == "(an)(an)")
    // left-to-right within a rank: (a,n) wins the overlapping 'a'
    // before (a,t) ever sees it, then (a,t) takes the remainder
    assert(enc("anat") == "(an)(at)")
    // a merged symbol's interior must not re-match: (an) contains no
    // mergeable (a)(n) once fused, and (b,an) is not in the table
    assert(enc("ban") == "(b)(an)")
    assert(enc("x") == "(x)")
  }

  test("PQ + ADC (p88 kernels): planted clusters retrieve, self ranks " +
    "first, and cross-cluster ADC distances dominate within-cluster") {
    import spark.implicits._
    import graft.ops.SimilarityOps._
    // 12 well-separated cluster centers in 64-dim; 20 members each with
    // small deterministic jitter on a few dims. Quantization error
    // (jitter-sized) ≪ inter-cluster distance, so ADC must keep
    // clusters apart even when the hash-sampled codebook misses some
    // cluster: same-cluster vectors share codes and distance-table
    // rows, different clusters do not.
    val vecs = (0 until 240).map { id =>
      val cl = id % 12
      val v = Array.tabulate(64) { d =>
        val center = if (d / 8 == cl % 8) 10.0 + cl else 0.5 * ((cl + d) % 3)
        center + 0.001 * ((id * 31 + d * 7) % 5)
      }
      (id.toLong, v)
    }.toDF("vec_id", "embedding")
    val c = pqComponents(vecs, "vec_id", "embedding", subDim = 8)
    val cb = pqSeedCodebook(vecs, "vec_id", "embedding",
      subDim = 8, ks = 16, salt = "pqspec")
    val codes = pqEncode(c, cb)
    // every vector gets exactly 8 sub-codes
    assert(codes.groupBy("vec_id").count().filter(col("count") =!= 8).isEmpty)
    val qid = 5L // cluster 5
    val top = pqAdcTopK(codes, cb, c, qid, k = 20).collect()
    assert(top.head.getLong(0) == qid, "query must rank first")
    assert(top.head.getLong(2) == 0L, "self exact distance is zero")
    val topIds = top.map(_.getLong(0)).toSet
    val cluster = (0 until 240).filter(_ % 12 == 5).map(_.toLong).toSet
    assert(topIds == cluster,
      s"ADC top-20 must be exactly the query's 20-member cluster, got $topIds")
    // the quantization gap is bounded: cross-cluster ADC distance
    // dominates every within-cluster one
    val all = pqAdcTopK(codes, cb, c, qid, k = 240).collect()
    val (in, out) = all.partition(r => cluster.contains(r.getLong(0)))
    assert(in.map(_.getLong(1)).max < out.map(_.getLong(1)).min,
      "within-cluster ADC must be strictly below cross-cluster ADC")
  }

  test("Morton interleave (p89 kernel): exact bit patterns and 2-D " +
    "locality of the bucket prefix") {
    import spark.implicits._
    val m = Seq((65535L, 0L), (0L, 65535L), (65535L, 65535L), (0L, 0L),
      (1L, 0L), (0L, 1L), (3L, 1L))
      .toDF("x", "y")
      .select(col("x"), col("y"),
        graft.queries.Pipeline7.morton(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(m((65535L, 0L)) == 0xAAAAAAAAL)  // x → odd bit positions
    assert(m((0L, 65535L)) == 0x55555555L)  // y → even bit positions
    assert(m((65535L, 65535L)) == 0xFFFFFFFFL)
    assert(m((0L, 0L)) == 0L)
    assert(m((1L, 0L)) == 2L && m((0L, 1L)) == 1L)
    assert(m((3L, 1L)) == 11L) // x=11 y=01 → z=1011
    // locality: sharing a long z-prefix bounds BOTH coordinate ranges —
    // the property that makes one sort key skip on two dimensions
    val grid = (for { x <- 0 until 64; y <- 0 until 64 }
      yield (x.toLong * 1024, y.toLong * 1024)).toDF("x", "y")
    val buckets = grid.select(col("x"), col("y"),
        shiftright(graft.queries.Pipeline7.morton(col("x"), col("y")), 26).as("b"))
      .groupBy("b")
      .agg((max("x") - min("x")).as("xr"), (max("y") - min("y")).as("yr"))
      .collect()
    assert(buckets.length == 64)
    // global range is 64513; every z-bucket confines both dims to ≤ 1/8
    assert(buckets.forall(r => r.getLong(1) <= 64513 / 8 &&
      r.getLong(2) <= 64513 / 8))
  }

  test("CDC chunking (p91 kernel): boundaries re-synchronize on a shared " +
    "suffix regardless of prefix length; short texts chunk whole") {
    import spark.implicits._
    val suffix = (1 to 40).map(i => s"boiler plate unit $i").mkString(" ")
    val docs = Seq(
      (1L, "tiny unique prefix one " + suffix),
      (2L, "a completely different and much longer leading preamble " +
        "with extra words in it " + suffix),
      (3L, "short"), // below the 8-char window → single whole chunk
      (4L, "")
    ).toDF("id", "t")
    val chunks = docs
      .select(col("id"), TextOps.cdcChunks(col("t"), 8, 64).as("cs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // reassembly invariant: chunks concatenate back to the input
    assert(chunks(1L).mkString == "tiny unique prefix one " + suffix)
    assert(chunks(3L) == Seq("short"))
    assert(chunks(4L).isEmpty)
    // the resync property: docs 1 and 2 share NO prefix, yet after at
    // most one window-length into the common suffix their boundaries
    // coincide — all later chunks are IDENTICAL strings. Fixed-size
    // blocking would misalign every block after the differing prefix.
    val shared = chunks(1L).toSet.intersect(chunks(2L).toSet)
    assert(shared.nonEmpty, "no chunk re-synchronized on the shared suffix")
    // the shared chunks cover the suffix tail: both docs END with the
    // same run of chunks
    val tail1 = chunks(1L).reverse.takeWhile(shared.contains)
    val tail2 = chunks(2L).reverse.takeWhile(shared.contains)
    assert(tail1 == tail2 && tail1.nonEmpty,
      s"tails must coincide, got $tail1 vs $tail2")
    assert(tail1.map(_.length).sum > suffix.length / 2,
      "resynchronized tail should cover most of the shared suffix")
  }

  test("phrase occurrences (p95 kernel): overlapping repeated-token " +
    "matches all count; partial matches don't") {
    import spark.implicits._
    import graft.ops.IndexOps
    val d = Seq(
      (1L, "batch batch batch batch"), // tri-gram at starts 0 AND 1
      (2L, "hash join beats nested loop hash join"), // two occurrences
      (3L, "hash only then join apart") // both terms, never adjacent
    ).toDF("doc_id", "text")
    val post = IndexOps.positionalPostings(d, "doc_id", TextOps.tokens(col("text")))
    val occ = IndexOps.phraseOccurrences(post, "doc_id",
        Seq("batch batch batch", "hash join"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(occ == Set(
      ("batch batch batch", 1L, 0L), ("batch batch batch", 1L, 1L),
      ("hash join", 2L, 0L), ("hash join", 2L, 5L)))
  }

  test("ragChunks (p96 kernel): full coverage, exact overlap, short-doc " +
    "single chunk, reassembly") {
    import spark.implicits._
    val d = Seq(
      (1L, (1 to 80).map(i => s"t$i").mkString(" ")), // 80 tokens → 3 chunks
      (2L, "just five little tokens here"),           // < window → 1 chunk
      (3L, (1 to 32).map(i => s"u$i").mkString(" "))  // == window → 1 chunk
    ).toDF("doc_id", "text")
    val rows = d.select(col("doc_id"),
        explode(TextOps.ragChunks(col("text"), 32, 24)).as("c"))
      .select(col("doc_id"), col("c.idx"), col("c.toks"))
      .collect().groupBy(_.getLong(0))
    val c1 = rows(1L).sortBy(_.getLong(1)).map(_.getSeq[String](2))
    assert(c1.map(_.length).toSeq == Seq(32, 32, 32)) // starts 1, 25, 49
    // stride overlap: chunk k shares its last 8 tokens with chunk k+1's head
    assert(c1(0).drop(24) == c1(1).take(8) && c1(1).drop(24) == c1(2).take(8))
    // coverage: union of chunks = the original token sequence
    assert((c1(0) ++ c1(1).drop(8) ++ c1(2).drop(8)) ==
      (1 to 80).map(i => s"t$i"))
    assert(rows(2L).length == 1 && rows(2L).head.getSeq[String](2).length == 5)
    assert(rows(3L).length == 1 && rows(3L).head.getSeq[String](2).length == 32)
  }

  test("packShards (p98 kernel): two-phase distributed prefix sum is " +
    "bit-identical to the naive global window; shards contiguous and " +
    "budget-bounded") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.ops.ShardOps
    // deterministic ragged sizes, ids deliberately NOT dense (gaps) and
    // NOT aligned to the bucket width
    val items = (0 until 300).map(i => (i * 3L + (i % 7), (i * 37 % 190 + 10).toLong))
      .toDF("id", "sz").repartition(4)
    val packed = ShardOps.packShards(items, "id", "sz",
      bucketWidth = 64, budget = 500)
    val naive = items.withColumn("pfx",
      coalesce(sum(col("sz")).over(Window.orderBy(col("id"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("shard_id", expr("pfx div 500"))
    val got = packed.select("id", "pfx", "shard_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = naive.select("id", "pfx", "shard_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // shards are contiguous id ranges with at most one straddler over budget
    val byShard = packed.collect().groupBy(_.getAs[Long]("shard_id"))
    val spans = byShard.toSeq.sortBy(_._1)
      .map { case (s, rs) => (s, rs.map(_.getAs[Long]("id")).min,
        rs.map(_.getAs[Long]("id")).max, rs.map(_.getAs[Long]("sz")).sum) }
    spans.sliding(2).foreach {
      case Seq((_, _, hi, _), (_, lo, _, _)) => assert(hi < lo)
      case _ =>
    }
    val maxSz = 199L
    assert(spans.forall { case (_, _, _, tot) => tot <= 500 + maxSz })
  }

  test("bpeTrainMerges (p99 kernel): greedy argmax by weighted pair count, " +
    "and later merges cascade on earlier merge outputs") {
    import spark.implicits._
    import graft.ops.LmOps
    // 'ab' appears 3+1 times as a pair (freq-weighted), so round 1 must
    // merge (a,b); round 2's only remaining pair is (ab, c) — its LEFT
    // SYMBOL is round 1's output, proving merges compose.
    val d = Seq((1L, "ab ab ab abc")).toDF("doc_id", "text")
    val m = LmOps.bpeTrainMerges(d, "text", rounds = 2)
      .orderBy(col("merge_rank")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(m(0) == ((1L, "a", "b", "ab", 4L)))
    assert(m(1) == ((2L, "ab", "c", "abc", 1L)))
  }

  test("CMS sketch (p111 kernel): local h60 mirror matches the engine " +
    "hash; estimates always >= truth with forced collisions; merge is " +
    "partition-independent") {
    import spark.implicits._
    import graft.functions.Cms
    import graft.ops.Portable
    // the local md5 mirror IS the cross-engine bridge — pin it against
    // the Catalyst expression on awkward inputs
    val samples = Seq("0:scan", "3:", "1:a b", "2:ümläut", "0:x'y\"z")
    val engine = samples.toDF("s").select(Portable.h60(col("s")))
      .collect().map(_.getLong(0))
    assert(samples.map(Cms.h60Local).toSeq == engine.toSeq)
    // width 16 + 200 distinct items => collisions guaranteed; CMS must
    // only ever OVERestimate
    val items = (0 until 1000).map(i => (s"g${i % 2}", s"item${i % 200}"))
      .toDF("g", "term").repartition(7)
    val sk = items.groupBy(col("g")).agg(Cms.sketch(col("term"), 4, 16).as("cms"))
    val truth = items.groupBy(col("g"), col("term")).count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val skMap = sk.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    for (((g, t), c) <- truth) {
      val est = (0 until 4).map(r => skMap(g)(r * 16 + Cms.slot(r, t, 16))).min
      assert(est >= c, s"CMS underestimated $g/$t: $est < $c")
    }
    // partition-independence: a single-partition run yields the same state
    val sk1 = items.repartition(1).groupBy(col("g"))
      .agg(Cms.sketch(col("term"), 4, 16).as("cms"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(skMap == sk1)
  }

  test("normalizeObfuscated (p100 kernel): separator, leet, spacing and " +
    "elongation evasions all canonicalize onto the blocklist term") {
    import spark.implicits._
    val letters = "abcefimnoprsuwy".toSeq
    val d = Seq(
      (1L, "b.u.y-n0w"), (2L, "fr33 m0n3y"), (3L, "c a s i n o"),
      (4L, "spaaamc0rp"), (5L, "perfectly ordinary text")
    ).toDF("id", "t")
    val got = d.select(col("id"),
        TextOps.normalizeObfuscated(col("t"), letters).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "buynow")
    assert(got(2L) == TextOps.canonTerm("freemoney", letters)) // "fremony"
    assert(got(3L) == "casino")
    assert(got(4L) == "spamcorp")
    // innocuous text: only spaces removed and the double-l of
    // "perfectly"… has none; "oo"/"tt" collapse only for listed letters
    assert(got(5L) == "perfectlyordinarytext")
  }

  test("p154 winnowing: coverage guarantee (shared 20-token run ⇒ shared " +
    "minimizer), unrelated doc shares none, density bounds hold") {
    // A 20-token run shared by docs 1 and 2 exceeds w+n−1 = 12 tokens,
    // so winnowing's coverage theorem GUARANTEES a common minimizer —
    // not just with high probability. Doc 3 shares no token with
    // anyone, so its sketch must be fully private.
    val run = (1 to 20).map(i => s"r$i").mkString(" ")
    val dir = docsFixture("p154fix", Seq(
      (1L, (1 to 5).map(i => s"a$i").mkString(" ") + " " + run),
      (2L, run + " " + (1 to 7).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 30).map(i => s"c$i").mkString(" "))))
    val out = SparkEntry.queries("p154_winnow_minimizers")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("sketch_size"), r.getAs[Long]("n_shared"))).toMap
    assert(out(1L)._2 >= 1 && out(2L)._2 >= 1,
      s"coverage guarantee violated: $out")
    assert(out(3L)._2 == 0)
    // density: one minimizer per window at most; a single hash serves
    // at most w = 8 consecutive windows, so sketch ≥ ceil(windows/8)
    for ((id, nTok) <- Seq(1L -> 25, 2L -> 27, 3L -> 30)) {
      val grams = nTok - 4
      val windows = grams - 7
      assert(out(id)._1 <= grams && out(id)._1 >= (windows + 7) / 8,
        s"density bound violated for doc $id: $out")
    }
  }

  test("p155 KMV: exact set algebra is exact and estimates sit inside " +
    "the 3-sigma k=64 envelope on planted overlapping sets") {
    import spark.implicits._
    // type x: user-days 0..1999; type y: 1500..2999 on the same day →
    // |x|=2000, |y|=1500, |x∩y|=500, |x∪y|=3000, all on one calendar day
    val ts = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    val rows = (0L until 2000L).map(u => (u, ts, u, "x")) ++
      (1500L until 3000L).map(u => (2000L + u, ts, u, "y"))
    val dir = s"${sys.props("java.io.tmpdir")}/p155fix_${queries.runToken}"
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    queries.cleanupAtExit(dir)
    val r = SparkEntry.queries("p155_kmv_sketch")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("exact_a") == 2000L)
    assert(row.getAs[Long]("exact_b") == 1500L)
    assert(row.getAs[Long]("exact_union") == 3000L)
    assert(row.getAs[Long]("exact_int") == 500L)
    // SE(KMV) ≈ 1/sqrt(k−2) = 12.7% at k=64; assert the 3σ envelope
    def within3s(est: Long, exact: Long): Boolean =
      math.abs(est - exact) <= (3.0 * exact / math.sqrt(62.0)).ceil.toLong
    assert(within3s(row.getAs[Long]("est_a"), 2000L), row.toString)
    assert(within3s(row.getAs[Long]("est_b"), 1500L), row.toString)
    assert(within3s(row.getAs[Long]("est_union"), 3000L), row.toString)
    // the intersection estimator compounds two estimates; give it 4σ
    assert(math.abs(row.getAs[Long]("est_int") - 500L) <=
      (4.0 * 500L / math.sqrt(62.0)).ceil.toLong, row.toString)
  }

  test("p156 Markov: planted sequences yield the exact transition matrix " +
    "with per-state ppm and a single deterministic argmax") {
    import spark.implicits._
    // user 1: A B A B A (A→B ×2, B→A ×2); user 2: A C (A→C ×1)
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def ts(m: Int) = new java.sql.Timestamp(t0 + m * 60000L)
    val rows = Seq(
      (1L, ts(0), 1L, "A"), (2L, ts(1), 1L, "B"), (3L, ts(2), 1L, "A"),
      (4L, ts(3), 1L, "B"), (5L, ts(4), 1L, "A"),
      (6L, ts(0), 2L, "A"), (7L, ts(1), 2L, "C"))
    val dir = s"${sys.props("java.io.tmpdir")}/p156fix_${queries.runToken}"
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p156_markov_transitions")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Long]("n_from"),
          r.getAs[Long]("p_ppm"), r.getAs[Long]("is_top"))).toMap
    assert(got(("A", "B")) == ((2L, 3L, 666666L, 1L)))
    assert(got(("A", "C")) == ((1L, 3L, 333333L, 0L)))
    assert(got(("B", "A")) == ((2L, 2L, 1000000L, 1L)))
    assert(got.size == 3)
  }

  test("p157 span coverage: interval-union sweep is exact on planted " +
    "full-dup and partial-run overlaps") {
    import spark.implicits._
    // docs 1=2: full 15-token copies → covered 15/15. Docs 3/4 share a
    // 12-token run (3 dup 10-gram positions each) → exactly 12 covered
    // of 20 — the interval union must merge the overlapping grams, not
    // triple-count them. Doc 5 is private → 0.
    val x = (1 to 12).map(i => s"x$i").mkString(" ")
    val rows = Seq(
      (1L, "s", (1 to 15).map(i => s"d$i").mkString(" ")),
      (2L, "s", (1 to 15).map(i => s"d$i").mkString(" ")),
      (3L, "s", x + " " + (1 to 8).map(i => s"u$i").mkString(" ")),
      (4L, "s", (1 to 5).map(i => s"v$i").mkString(" ") + " " + x + " " +
        (1 to 3).map(i => s"w$i").mkString(" ")),
      (5L, "s", (1 to 25).map(i => s"z$i").mkString(" ")))
    val dir = s"${sys.props("java.io.tmpdir")}/p157fix_${queries.runToken}"
    rows.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p157_dup_span_coverage")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("covered_tokens"),
          r.getAs[Long]("coverage_ppm"))).toMap
    assert(got(1L) == ((15L, 15L, 1000000L)))
    assert(got(2L) == ((15L, 15L, 1000000L)))
    assert(got(3L) == ((20L, 12L, 600000L)))
    assert(got(4L) == ((20L, 12L, 600000L)))
    assert(got(5L) == ((25L, 0L, 0L)))
  }

  test("p158 basket similarity: exact cos² ppm on planted baskets; the " +
    "co=1 noise tail is trimmed; both directions ranked") {
    import spark.implicits._
    // baskets: {1,2}×3, {1,3}, {3,4} → only (1,2) reaches co ≥ 2 with
    // n1=4, n2=3 → cos² = 9/(4·3) = 750000 ppm, symmetric rank 1
    val rows = Seq((10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L),
      (30L, 1L), (30L, 2L), (40L, 1L), (40L, 3L), (50L, 3L), (50L, 4L))
    val dir = s"${sys.props("java.io.tmpdir")}/p158fix_${queries.runToken}"
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p158_basket_similarity")(spark, dir)
      .collect().map(r => (r.getAs[Long]("item"), r.getAs[Long]("rk")) ->
        (r.getAs[Long]("neighbor"), r.getAs[Long]("co"),
          r.getAs[Long]("cos2_ppm"))).toMap
    assert(got == Map((1L, 1L) -> ((2L, 3L, 750000L)),
      (2L, 1L) -> ((1L, 3L, 750000L))))
  }

  test("p159 A/B chi2: planted 20% vs 60% conversion is significant with " +
    "the exact statistic; a balanced metric is not") {
    import spark.implicits._
    // users 0..199 (variant = parity): everyone fires 'base'; 'x' fires
    // for 20 even and 60 odd users → χ² = 200·(20·40−60·80)²/(100·100·
    // 80·120) = 33.333, well past 3.841; 'base' is exactly balanced
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val base = (0L until 200L).map(u => (u, ts, u, "base"))
    val conv = (0L until 40L by 2).map(u => (1000L + u, ts, u, "x")) ++
      (1L until 120L by 2).map(u => (2000L + u, ts, u, "x"))
    val dir = s"${sys.props("java.io.tmpdir")}/p159fix_${queries.runToken}"
    (base ++ conv).toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p159_ab_chi2")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("k0"), r.getAs[Long]("k1"), r.getAs[Long]("lift_ppm"),
          r.getAs[Long]("chi2_milli"), r.getAs[Long]("significant"))).toMap
    assert(got("x") == ((20L, 60L, 400000L, 33333L, 1L)))
    assert(got("base") == ((100L, 100L, 0L, 0L, 0L)))
  }

  test("p160 drift TV: two disjoint single-bucket sources each sit at " +
    "TV = 500000 ppm from the pooled corpus, worst bucket tie-broken low") {
    import spark.implicits._
    // srcA docs are all 5 tokens (bucket 0), srcB all 10 tokens
    // (bucket 1) → corpus is 50/50 and each source deviates by half
    // its mass: TV = ½(500000 + 500000); both buckets deviate equally
    // so the tie breaks toward bucket 0
    val five = (1 to 5).map(i => s"t$i").mkString(" ")
    val ten = (1 to 10).map(i => s"t$i").mkString(" ")
    val rows = (0L until 4L).map(i => (i, "srcA", five)) ++
      (4L until 8L).map(i => (i, "srcB", ten))
    val dir = s"${sys.props("java.io.tmpdir")}/p160fix_${queries.runToken}"
    rows.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p160_source_drift_tv")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("tv_ppm"),
          r.getAs[Long]("worst_bucket"), r.getAs[Long]("worst_dev_ppm"))).toMap
    assert(got("srcA") == ((4L, 500000L, 0L, 500000L)))
    assert(got("srcB") == ((4L, 500000L, 0L, 500000L)))
  }

  test("p161 surprisal: floor-log2 bits are exact on a planted skewed " +
    "vocabulary") {
    // corpus: 'a' ×7, 'b' ×1 → N=8; bits(a) = floor(log2(8 div 7)) = 0,
    // bits(b) = floor(log2 8) = 3. doc2 = a a a b → mean 3000/4 = 750
    val dir = docsFixture("p161fix", Seq(
      (1L, "a a a a"), (2L, "a a a b")))
    val got = SparkEntry.queries("p161_unigram_surprisal")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("total_bits"),
          r.getAs[Long]("mean_millibits"))).toMap
    assert(got(1L) == ((4L, 0L, 0L)))
    assert(got(2L) == ((4L, 3L, 750L)))
  }

  test("p162 incremental CC: batch edges fold into standing labels via " +
    "contraction — merges, unlabeled-corpus bridge, singletons") {
    // corpus (id%3≠0): {1,2} share T1 (an old component), {4,5} share
    // T2 (untouched), 7 is a pair-less corpus doc on T3. incoming
    // (id%3=0): 3 duplicates T1 (joins component 1), 9 duplicates T3
    // (forms {7,9} through the UNLABELED corpus endpoint), 0 and 6 are
    // novel (singletons). Component {4,5} has no incoming doc and must
    // be absent from the output.
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = "one two three four five six seven eight nine ten"
    val t3 = "red orange yellow green blue indigo violet amber"
    val dir = docsFixture("p162fix", Seq(
      (1L, t1), (2L, t1), (4L, t2), (5L, t2), (7L, t3),
      (0L, "lonely first incoming document with private words"),
      (3L, t1), (6L, "another unrelated incoming text entirely"),
      (9L, t3)))
    val got = SparkEntry.queries("p162_incremental_cc")(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("cluster_id"), r.getString(2))).toSet
    assert(got == Set((0L, 0L, "in"), (1L, 1L, "corpus"),
      (2L, 1L, "corpus"), (3L, 1L, "in"), (6L, 6L, "in"),
      (7L, 7L, "corpus"), (9L, 7L, "in")))
  }

  test("p165 greedy coverage: marginal gain (not raw size) drives picks — " +
    "an exact duplicate of the first pick is never selected") {
    // A and B are identical 20-gram docs; C..F are disjoint and
    // shrinking. Raw-coverage top-5 would take B second (20 grams);
    // greedy must skip it forever (marginal gain 0) and walk C, D, E, F
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val dir = docsFixture("p165fix", Seq(
      (10L, toks("a", 24)), (11L, toks("a", 24)), // 20 grams, B = dup
      (12L, toks("c", 9)), // 5 grams
      (13L, toks("d", 7)), // 3
      (14L, toks("e", 6)), // 2
      (15L, toks("f", 5)))) // 1
    val got = SparkEntry.queries("p165_greedy_coverage")(spark, dir)
      .collect().map(r => r.getAs[Long]("rk") ->
        (r.getAs[Long]("doc_id"), r.getAs[Long]("gain"),
          r.getAs[Long]("cum_covered"), r.getAs[Long]("cum_ppm"))).toMap
    assert(got(1L) == ((10L, 20L, 20L, 645161L)))
    assert(got(2L) == ((12L, 5L, 25L, 806451L)))
    assert(got(3L) == ((13L, 3L, 28L, 903225L)))
    assert(got(4L) == ((14L, 2L, 30L, 967741L)))
    assert(got(5L) == ((15L, 1L, 31L, 1000000L)))
    assert(!got.values.exists(_._1 == 11L))
  }

  test("p166 bitmap index: packed-word set algebra is exact on planted " +
    "overlapping universes, including one-side-only words") {
    import spark.implicits._
    // type x: users 0..9; type y: users 5..14 (same day) → |∩| = 5,
    // |∪| = 15. Users land ~8 words apart (idx = u·512 + doy), so
    // most words exist on ONE side only — the case the union formula
    // must not drop.
    val ts = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    val rows = (0L until 10L).map(u => (u, ts, u, "x")) ++
      (5L until 15L).map(u => (100L + u, ts, u, "y"))
    val dir = s"${sys.props("java.io.tmpdir")}/p166fix_${queries.runToken}"
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    queries.cleanupAtExit(dir)
    val r = SparkEntry.queries("p166_bitmap_index")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("int_bitmap") == 5L)
    assert(row.getAs[Long]("union_bitmap") == 15L)
    assert(row.getAs[Long]("agree") == 1L)
  }

  test("p167 fuzzy join: deletion-neighborhood blocking finds exactly the " +
    "distance-≤1 pairs (substitution, insert/delete, exact dup)") {
    import spark.implicits._
    // abcd~abed (sub), abcd~abc (delete), abcd~abcd (dup, dist 0),
    // abed~abcd(5) (sub), abc~abcd(5) (insert); xyz is isolated
    val rows = Seq((1L, "abcd"), (2L, "abed"), (3L, "abc"),
      (4L, "xyz"), (5L, "abcd"))
    val dir = s"${sys.props("java.io.tmpdir")}/p167fix_${queries.runToken}"
    rows.toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p167_fuzzy_join")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_neighbors"))
      .toMap
    assert(got == Map(1L -> 3L, 2L -> 2L, 3L -> 2L, 4L -> 0L, 5L -> 3L))
  }

  test("p168 Pareto frontier: dominated points drop, incomparable points " +
    "stay, coincident points both survive") {
    import spark.implicits._
    // (n, cents): A(3,300) B(3,200) C(2,400) D(2,400) E(1,100)
    // frontier = {A, C, D}: B loses to A on cents at equal n; E is
    // strictly dominated; C and D share a point — neither dominates
    val ts = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    val rows = Seq(
      (1L, 1L, 1.00), (2L, 1L, 1.00), (3L, 1L, 1.00),
      (4L, 2L, 0.50), (5L, 2L, 0.75), (6L, 2L, 0.75),
      (7L, 3L, 2.00), (8L, 3L, 2.00),
      (9L, 4L, 1.50), (10L, 4L, 2.50),
      (11L, 5L, 1.00)
    ).map { case (e, u, v) => (e, ts, u, "x", v) }
    val dir = s"${sys.props("java.io.tmpdir")}/p168fix_${queries.runToken}"
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p168_pareto_frontier")(spark, dir)
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("n_events"), r.getAs[Long]("cents"))).toSet
    assert(got == Set((1L, 3L, 300L), (3L, 2L, 400L), (4L, 2L, 400L)))
  }

  test("p169 Benford: first significant digit from exact cents, including " +
    "sub-unit amounts; absent digits emit zero rows") {
    import spark.implicits._
    // 1.00 → 1, 19.99 → 1, 2.50 → 2, 0.95 → cents 95 → digit 9 (the
    // sub-1 case the cents representation must get right)
    val rows = Seq((1L, 1.00), (2L, 19.99), (3L, 2.50), (4L, 0.95))
    val dir = s"${sys.props("java.io.tmpdir")}/p169fix_${queries.runToken}"
    rows.toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p169_benford_audit")(spark, dir)
      .collect().map(r => r.getAs[Long]("digit") ->
        (r.getAs[Long]("n"), r.getAs[Long]("obs_ppm"))).toMap
    assert(got.size == 9)
    assert(got(1L) == ((2L, 500000L)))
    assert(got(2L) == ((1L, 250000L)))
    assert(got(9L) == ((1L, 250000L)))
    assert(got(3L) == ((0L, 0L)))
  }

  test("p170 apportionment: the 1/3-split case sums to exactly the budget " +
    "with the leftover seat going to the lexicographically first tie") {
    // three equal sources: floors 3333 each leave one seat; remainders
    // tie, so srcA takes it — and the total is exactly 10000, the
    // invariant per-source rounding violates
    import spark.implicits._
    val rows = Seq((1L, "srcA", "a b c d"), (2L, "srcB", "e f g h"),
      (3L, "srcC", "i j k l"))
    val dir = s"${sys.props("java.io.tmpdir")}/p170fix_${queries.runToken}"
    rows.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p170_sample_apportionment")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("final_alloc"))
      .toMap
    assert(got == Map("srcA" -> 3334L, "srcB" -> 3333L, "srcC" -> 3333L))
  }

  test("p171 gaps and islands: planted runs produce exact island count, " +
    "longest run and missing-id volume") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    // user 1: ids {1,2,3, 7,8, 10} → 3 islands, longest 3, missing 4;
    // user 2: {5} → complete singleton
    val rows = Seq(1L, 2L, 3L, 7L, 8L, 10L).map(i => (i, ts, 1L, "x")) ++
      Seq((5L, ts, 2L, "x"))
    val dir = s"${sys.props("java.io.tmpdir")}/p171fix_${queries.runToken}"
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p171_gaps_islands")(spark, dir)
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_islands"), r.getAs[Long]("longest_island"),
          r.getAs[Long]("n_present"), r.getAs[Long]("n_missing"))).toMap
    assert(got(1L) == ((3L, 3L, 6L, 4L)))
    assert(got(2L) == ((1L, 1L, 1L, 0L)))
  }

  test("p172 pattern funnel: per-step timeouts enforced, strict order " +
    "required, one chain validates several purchases") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def ts(m: Int) = new java.sql.Timestamp(t0 + m * 60000L)
    // u1: view@0 click@30 purchase@50 purchase@80 → both purchases
    //     within 1h of the chain stamp → 2
    // u2: view then purchase with no click → 0
    // u3: click 90min after view (step timeout) → 0
    // u4: click+purchase with no view → 0
    val rows = Seq(
      (1L, ts(0), 1L, "view"), (2L, ts(30), 1L, "click"),
      (3L, ts(50), 1L, "purchase"), (4L, ts(80), 1L, "purchase"),
      (5L, ts(0), 2L, "view"), (6L, ts(10), 2L, "purchase"),
      (7L, ts(0), 3L, "view"), (8L, ts(90), 3L, "click"),
      (9L, ts(100), 3L, "purchase"),
      (10L, ts(0), 4L, "click"), (11L, ts(10), 4L, "purchase"))
    val dir = s"${sys.props("java.io.tmpdir")}/p172fix_${queries.runToken}"
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p172_pattern_funnel")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_funnels")).toMap
    assert(got == Map(1L -> 2L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
  }

  test("p173 FD discovery: the key column determines everything, a " +
    "violated dependency is counted per violating group") {
    import spark.implicits._
    val d = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val rows = Seq(
      (1L, 1L, "O", 1.00, d, "1-URGENT"),
      (2L, 1L, "F", 1.00, d, "1-URGENT"),
      (3L, 2L, "O", 1.00, d, "1-URGENT"))
    val dir = s"${sys.props("java.io.tmpdir")}/p173fix_${queries.runToken}"
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p173_fd_discovery")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_groups"), r.getAs[Long]("n_violating"),
          r.getAs[Long]("holds"))).toMap
    assert(got.size == 30)
    assert(got(("o_orderkey", "o_custkey")) == ((3L, 0L, 1L)))
    assert(got(("o_orderkey", "o_orderstatus")) == ((3L, 0L, 1L)))
    // custkey 1 placed orders in two statuses → one violating group
    assert(got(("o_custkey", "o_orderstatus")) == ((2L, 1L, 0L)))
    // constant columns: one group, violated by any varying dependent
    assert(got(("cents", "o_orderkey")) == ((1L, 1L, 0L)))
    assert(got(("cents", "o_orderpriority")) == ((1L, 0L, 1L)))
  }

  test("p174 attribution: every model distributes exactly 1e6 per " +
    "purchase; the linear leftover unit goes to the last touch") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def ts(m: Int) = new java.sql.Timestamp(t0 + m * 60000L)
    val rows = Seq(
      // u1: view, click → purchase: linear splits 500000/500000
      (1L, ts(0), 1L, "view"), (2L, ts(30), 1L, "click"),
      (3L, ts(60), 1L, "purchase"),
      // u2: view view click → purchase: 666666/333333 floors leave one
      // unit; last touch is the click → click gets 333334
      (4L, ts(0), 2L, "view"), (5L, ts(10), 2L, "view"),
      (6L, ts(20), 2L, "click"), (7L, ts(40), 2L, "purchase"),
      // u3: bare purchase → direct
      (8L, ts(0), 3L, "purchase"),
      // u4: the only view is 8 days before the purchase → outside the
      // 7-day window → direct
      (9L, ts(0), 4L, "view"), (10L, ts(8 * 24 * 60), 4L, "purchase"))
    val dir = s"${sys.props("java.io.tmpdir")}/p174fix_${queries.runToken}"
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p174_attribution_models")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Long]("credit")).toMap
    assert(got(("first_touch", "view")) == 2000000L)
    assert(got(("first_touch", "direct")) == 2000000L)
    assert(got(("last_touch", "click")) == 2000000L)
    assert(got(("last_touch", "direct")) == 2000000L)
    assert(got(("linear", "view")) == 1166666L)
    assert(got(("linear", "click")) == 833334L)
    assert(got(("linear", "direct")) == 2000000L)
    // the conservation law: each model distributed purchases × 1e6
    val sums = got.groupBy(_._1._1).view.mapValues(_.values.sum)
    assert(sums.values.toSet == Set(4000000L))
  }

  test("p175 subsample stability: order statistics are monotone, the " +
    "spread brackets the full mean, and reruns are bit-identical") {
    val run = () => SparkEntry.queries("p175_subsample_stability")(
      spark, "/root/testdata/sf0.001").collect().head
    val r = run()
    val (mn, p05, med, p95, mx) = (r.getAs[Long]("sub_min"),
      r.getAs[Long]("sub_p05"), r.getAs[Long]("sub_med"),
      r.getAs[Long]("sub_p95"), r.getAs[Long]("sub_max"))
    assert(mn <= p05 && p05 <= med && med <= p95 && p95 <= mx)
    // 32 half-samples of 1500 orders: the full mean sits inside the
    // subsample envelope and the spread stays moderate
    val mean = r.getAs[Long]("mean_milli")
    assert(mn <= mean && mean <= mx)
    assert(r.getAs[Long]("spread_ppm") < 200000L)
    // hash-seeded means deterministic: a second run is IDENTICAL —
    // the property an RNG-based bootstrap cannot give
    assert(run().toSeq == r.toSeq)
  }

  test("p176 boilerplate rewrite: the shared segment (df=3) is removed, " +
    "unique segments survive, short docs carry the empty-text hash") {
    import spark.implicits._
    val common = "c1 c2 c3 c4 c5 c6 c7 c8"
    val rows = Seq(
      (1L, s"$common u1 u2 u3 u4 u5 u6 u7 u8", "en", "web", 0L),
      (2L, s"$common v1 v2 v3 v4 v5 v6 v7 v8", "en", "web", 0L),
      (3L, s"$common w1 w2 w3 w4 w5 w6 w7 w8", "en", "web", 0L),
      (4L, "tiny doc", "en", "web", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p176fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p176_segment_boilerplate")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("n_segs"),
        r.getAs[Long]("n_removed"), r.getAs[Long]("removed_ppm"),
        r.getAs[Long]("clean_hash"))).toMap
    assert(got(1L)._1 == 2L && got(1L)._2 == 1L && got(1L)._3 == 500000L)
    assert(got(2L)._2 == 1L && got(3L)._2 == 1L)
    // cleaned texts are the per-doc unique tails, so the hashes differ
    assert(Set(got(1L)._4, got(2L)._4, got(3L)._4).size == 3)
    // the short doc has no segments: empty cleaned text, hash of ''
    val emptyHash = spark.range(1)
      .select(graft.ops.Portable.h60(lit(""))).head.getLong(0)
    assert(got(4L) == ((0L, 0L, 0L, emptyHash)))
  }

  test("p177 sorted-neighborhood linkage: the planted near-pair scores " +
    "match, far cross-role pairs nonmatch, mid scores stay possible") {
    import spark.implicits._
    // sorted by cents: c1(1000) s11(1005) c3(1020) s2(20000) — pairs at
    // rank distance <=3 with different roles score: (c1,s11) 3900 match,
    // (s11,c3) 0 possible, (c3,s2) 600 possible, (c1,s2) -1600 nonmatch
    val cust = Seq((1L, "Customer#1", 1L, 10.00, "B"),
      (3L, "Customer#3", 2L, 10.20, "B"))
    val supp = Seq((11L, "Supplier#11", 1L, 10.05),
      (2L, "Supplier#2", 2L, 200.00))
    val dir = s"${sys.props("java.io.tmpdir")}/p177fix_${queries.runToken}"
    cust.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    supp.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p177_record_linkage")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getAs[Long]("n_pairs"),
        r.getAs[Long]("min_score"), r.getAs[Long]("max_score"))).toMap
    assert(got("match") == ((1L, 3900L, 3900L)))
    assert(got("nonmatch") == ((1L, -1600L, -1600L)))
    assert(got("possible") == ((2L, 0L, 600L)))
  }

  test("p178 two-pass selection: exact k-th smallest across bucket " +
    "boundaries, duplicates counted, ranks = ceil(n*q/100)") {
    import spark.implicits._
    // cents sorted: 100x3 200x2 | 70000x4 100000 — n=10, so k=3/5/8
    // land on 100, 200 (bucket 0) and 70000 (bucket 1): the quantile
    // walk must cross the 2^16 bucket boundary to be right
    val prices = Seq(1.00, 1.00, 1.00, 2.00, 2.00,
      700.00, 700.00, 700.00, 700.00, 1000.00)
    val dir = s"${sys.props("java.io.tmpdir")}/p178fix_${queries.runToken}"
    prices.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("l_orderkey", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p178_twopass_quantiles")(spark, dir)
      .collect().map(r => r.getInt(0) -> (r.getAs[Long]("n_rows"),
        r.getAs[Long]("k"), r.getAs[Long]("value"))).toMap
    assert(got(25) == ((10L, 3L, 100L)))
    assert(got(50) == ((10L, 5L, 200L)))
    assert(got(75) == ((10L, 8L, 70000L)))
  }

  test("p179 quantile normalization: ranks map onto the global value " +
    "ladder, endpoints meet, every source spans the global range") {
    import spark.implicits._
    def words(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    // global sorted raw = [1,2,3,10,20]; source A (n=3) maps ranks to
    // global indices 1,3,5; source B (n=2) to 1,5
    val rows = Seq(
      (1L, words(1), "en", "A", 0L), (2L, words(2), "en", "A", 0L),
      (3L, words(3), "en", "A", 0L), (4L, words(10), "en", "B", 0L),
      (5L, words(20), "en", "B", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p179fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p179_quantile_normalize")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("norm")).toMap
    assert(got == Map(1L -> 1L, 2L -> 3L, 3L -> 20L, 4L -> 1L, 5L -> 20L))
  }

  test("p180 script census: homoglyph-swapped docs are confusable, " +
    "appended-Cyrillic docs are mixed but NOT confusable") {
    import spark.implicits._
    val rows = Seq(
      (1L, "plain text", "en", "web", 0L),       // pure latin
      (7L, "abc abc", "en", "web", 0L),          // %7: a → Cyrillic а
      (11L, "hello world", "en", "web", 0L),     // %11: append ' код 42'
      (77L, "aaa", "en", "web", 0L))             // %7 swap of an all-a doc
    val dir = s"${sys.props("java.io.tmpdir")}/p180fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p180_script_census")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("n_latin"),
        r.getAs[Long]("n_cyr"), r.getAs[Long]("n_digit"),
        r.getAs[String]("dominant"), r.getAs[Boolean]("mixed"),
        r.getAs[Boolean]("confusable"))).toMap
    assert(got(1L) == ((9L, 0L, 0L, "latin", false, false)))
    // 'аbc аbc': per token one Cyrillic а + latin b,c → confusable
    assert(got(7L) == ((4L, 2L, 0L, "latin", true, true)))
    // appended Cyrillic is a separate pure-Cyrillic token: mixed only
    assert(got(11L) == ((10L, 3L, 2L, "latin", true, false)))
    // all-a doc becomes pure Cyrillic: dominant flips, nothing mixes
    assert(got(77L) == ((0L, 3L, 0L, "cyrillic", false, false)))
  }

  test("p181 int8 quantization: hand-computed q/error ladder, zero " +
    "vector hits the amax=0 guard") {
    import spark.implicits._
    val rows = Seq((1L, Seq(1.0f, -0.5f, 0.25f), 0),
      (2L, Seq(0.0f, 0.0f), 0))
    val dir = s"${sys.props("java.io.tmpdir")}/p181fix_${queries.runToken}"
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p181_int8_quantize")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("amax"),
        r.getAs[Long]("sum_err"), r.getAs[Long]("max_err"),
        r.getAs[Long]("err_ppm"))).toMap
    // ri = [1e6, -5e5, 2.5e5]: q = [127, -63, 32] →
    // errs |127·ri − q·amax| = [0, 5e5, 2.5e5]; l1 = 1.75e6
    assert(got(1L) == ((1000000L, 750000L, 500000L, 3374L)))
    assert(got(2L) == ((0L, 0L, 0L, 0L)))
  }

  test("p182 two-phase heavy hitters: exact counts above tot/500, " +
    "singletons pruned, CMS estimate never below truth") {
    import spark.implicits._
    // 500 hots + 499 distinct singletons + 2 warms → tot=1001, thr=2
    val rows = Seq(
      (1L, Seq.fill(500)("hot").mkString(" "), "en", "web", 0L),
      (2L, (1 to 499).map(i => s"u$i").mkString(" "), "en", "web", 0L),
      (3L, "warm warm", "en", "web", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p182fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p182_hh_twophase")(spark, dir).collect()
    val byTok = got.map(r => r.getString(0) -> (r.getAs[Long]("n"),
      r.getAs[Long]("cms_est"), r.getAs[Long]("est_slack"))).toMap
    assert(byTok.keySet == Set("hot", "warm"))
    assert(byTok("hot")._1 == 500L && byTok("warm")._1 == 2L)
    // the CMS overestimate-only guarantee, per survivor
    assert(got.forall(r => r.getAs[Long]("est_slack") >= 0L))
  }

  test("p183 IVM join view: all four delta quadrants contribute and " +
    "the incremental sum equals the full recompute") {
    import spark.implicits._
    // quadrants: (old,old) (ΔA,old) (old,ΔB) (ΔA,ΔB)
    val orders = Seq((1L, 1L, 10.00), (10L, 1L, 7.00),
      (2L, 7L, 5.00), (5L, 7L, 20.00))
    val cust = Seq((1L, "Customer#1", 1L, 0.0, "B"),
      (7L, "Customer#7", 2L, 0.0, "B"))
    val dir = s"${sys.props("java.io.tmpdir")}/p183fix_${queries.runToken}"
    orders.toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    cust.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p183_ivm_join_view")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("full_cents"),
        r.getAs[Long]("ivm_cents"), r.getAs[Boolean]("agree"))).toMap
    assert(got(1L) == ((1700L, 1700L, true)))
    assert(got(2L) == ((2500L, 2500L, true)))
  }

  test("p184 replica digest: exactly the corrupted row's bucket " +
    "mismatches; clean buckets agree") {
    import spark.implicits._
    val rows = Seq((997L, 10.00, "O"), (1L, 5.00, "F"), (2L, 7.00, "O"))
    val dir = s"${sys.props("java.io.tmpdir")}/p184fix_${queries.runToken}"
    rows.toDF("o_orderkey", "o_totalprice", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p184_replica_digest")(spark, dir)
      .collect()
    assert(got.map(_.getAs[Long]("n_rows")).sum == 3L)
    assert(got.map(_.getAs[Long]("n_corrupt")).sum == 1L)
    // agree is false exactly where the corrupt row lives: a one-bit
    // change can never cancel in an xor of distinct-keyed hashes
    got.foreach { r =>
      assert(r.getAs[Boolean]("agree") == (r.getAs[Long]("n_corrupt") == 0L))
    }
  }

  test("p185 serpentine k-fold: exact-dup twins share a fold, the deal " +
    "balances mass within one group per cycle") {
    import spark.implicits._
    def words(pfx: String, n: Int) =
      (1 to n).map(i => s"$pfx$i").mkString(" ")
    // masses desc: 10 9 8 7 6 5 (singletons) 4 (the dup-pair group:
    // 'a b' twice, whitespace/case variants) → serpentine over k=5:
    // ranks 0..6 → folds 0 1 2 3 4 4 3
    val rows = Seq(
      (1L, words("a", 10), "en", "w", 0L), (2L, words("b", 9), "en", "w", 0L),
      (3L, words("c", 8), "en", "w", 0L), (4L, words("d", 7), "en", "w", 0L),
      (5L, words("e", 6), "en", "w", 0L), (6L, words("f", 5), "en", "w", 0L),
      (7L, "dup tok", "en", "w", 0L), (8L, "DUP   tok", "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p185fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p185_group_kfold")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("n_groups"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("mass"))).toMap
    assert(got(0L) == ((1L, 1L, 10L)))
    assert(got(1L) == ((1L, 1L, 9L)))
    assert(got(2L) == ((1L, 1L, 8L)))
    // the serpentine turn: folds 3 and 4 each take two groups and end
    // mass-balanced at 11 — and the dup pair (2 docs) lands whole
    assert(got(3L) == ((2L, 3L, 11L)))
    assert(got(4L) == ((2L, 2L, 11L)))
  }

  test("p186 label propagation: conflicting seeds tie-break to the " +
    "smallest class, seeds stay clamped, seedless components stay -1") {
    import spark.implicits._
    // clique {5,7,10} via identical text: seeds 5→2, 10→1; node 7
    // sees one vote each → smallest class 1 wins. clique {3,4} has no
    // seed → both report -1.
    val rows = Seq(
      (5L, "alpha beta gamma delta", "en", "w", 0L),
      (7L, "alpha beta gamma delta", "en", "w", 0L),
      (10L, "alpha beta gamma delta", "en", "w", 0L),
      (3L, "omega psi chi phi", "en", "w", 0L),
      (4L, "omega psi chi phi", "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p186fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p186_label_propagation")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("label"), r.getAs[Boolean]("seeded"))).toMap
    assert(got(5L) == ((2L, true)))
    assert(got(10L) == ((1L, true)))
    assert(got(7L) == ((1L, false)))
    assert(got(3L) == ((-1L, false)) && got(4L) == ((-1L, false)))
  }

  test("p187 KS census: identical distributions D=0 no reject; fully " +
    "separated distributions D=1e6 ppm reject") {
    import spark.implicits._
    def mk(src: String, ids: Range, n: Int) =
      ids.map(i => (i.toLong, (1 to n).map(j => s"t$j").mkString(" "),
        "en", src, 0L))
    val rows = mk("A", 1 to 5, 3) ++ mk("B", 6 to 10, 3) ++
      mk("C", 11 to 15, 10)
    val dir = s"${sys.props("java.io.tmpdir")}/p187fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p187_ks_census")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("d_ppm"), r.getAs[Boolean]("reject"))).toMap
    assert(got(("A", "B")) == ((0L, false)))
    assert(got(("A", "C")) == ((1000000L, true)))
    assert(got(("B", "C")) == ((1000000L, true)))
  }

  test("p188 skew advisor: hottest-key tie breaks to the smaller key, " +
    "salt factor is the fair-share ceiling") {
    import spark.implicits._
    val rows = Seq.fill(6)(1L) ++ Seq.fill(6)(2L) ++ Seq(3L)
    val dir = s"${sys.props("java.io.tmpdir")}/p188fix_${queries.runToken}"
    rows.zipWithIndex.map { case (k, i) => (i.toLong, k, 1.0) }
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    queries.cleanupAtExit(dir)
    val r = SparkEntry.queries("p188_skew_advisor")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n_rows") == 13L)
    assert(r.getAs[Long]("n_keys") == 3L)
    assert(r.getAs[Long]("top_key") == 1L)   // tie 6=6 → smaller key
    assert(r.getAs[Long]("top_cnt") == 6L)
    assert(r.getAs[Long]("top_ppm") == 461538L)
    assert(r.getAs[Boolean]("skewed"))
    assert(r.getAs[Long]("rec_salt") == 15L) // ceil(6·32/13)
  }

  test("p189 weighted quantiles: weight mass, not row count, drives " +
    "the ranks; selection crosses the bucket boundary") {
    import spark.implicits._
    // (cents, weight): 100·3 200·2 | 70000·4 100000·1 → W=10, k=3/5/8
    val rows = Seq((1L, 1.00, 3.0), (2L, 2.00, 2.0),
      (3L, 700.00, 4.0), (4L, 1000.00, 1.0))
    val dir = s"${sys.props("java.io.tmpdir")}/p189fix_${queries.runToken}"
    rows.toDF("l_orderkey", "l_extendedprice", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p189_weighted_quantiles")(spark, dir)
      .collect().map(r => r.getInt(0) -> (r.getAs[Long]("total_weight"),
        r.getAs[Long]("k"), r.getAs[Long]("value"))).toMap
    assert(got(25) == ((10L, 3L, 100L)))
    assert(got(50) == ((10L, 5L, 200L)))
    assert(got(75) == ((10L, 8L, 70000L)))
  }

  test("p190 bigram surprisal: hand-computed bits for seen bigram, " +
    "backoff, and OOV on a held-out doc") {
    import spark.implicits._
    // train (%3≠0): docs 1,2 = 'a b' → N=4, cu(a)=cu(b)=2, cb(a,b)=2
    // eval doc 3 'a b b c': a:first→ilog2(4/2)=1; b:seen (a,b)→
    // ilog2(2/2)=0; b:(b,b) unseen→1+2=3; c:OOV→ilog2(4)+4=6 → 10 bits
    val rows = Seq((1L, "a b", "en", "w", 0L), (2L, "a b", "en", "w", 0L),
      (3L, "a b b c", "en", "w", 0L), (6L, "a b", "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p190fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p190_bigram_surprisal")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_oov"), r.getAs[Long]("n_backoff"),
        r.getAs[Long]("total_bits"), r.getAs[Long]("mean_millibits")))
      .toMap
    assert(got(3L) == ((4L, 1L, 2L, 10L, 2500L)))
    assert(got(6L) == ((2L, 0L, 0L, 1L, 500L)))
    assert(!got.contains(1L)) // train docs are not scored
  }

  test("p191 streaming CMS: the custom aggregate's state-store path " +
    "reproduces exact probe counts per source") {
    import spark.implicits._
    val rows = Seq((1L, "scan scan batch", "en", "s1", 0L),
      (2L, "other stuff here", "en", "s2", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p191fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p191_stream_cms")(spark, dir).collect()
    assert(got.length == 6) // 2 sources x 3 probes
    val m = got.map(r => (r.getString(0), r.getString(1)) ->
      (r.getAs[Long]("true_count"), r.getAs[Long]("cms_est"))).toMap
    assert(m(("s1", "scan"))._1 == 2L && m(("s1", "batch"))._1 == 1L)
    assert(m(("s2", "scan"))._1 == 0L)
    // CMS can only overestimate — through the streaming state path too
    assert(got.forall(r => r.getAs[Long]("overestimate") >= 0L))
  }

  test("p192 encoding advisor: constant columns → rle, alternating " +
    "low-cardinality → plain, distinct-per-row → plain") {
    import spark.implicits._
    val d = java.sql.Date.valueOf("1995-01-01")
    val rows = (1 to 8).map { i =>
      (i.toLong, i, 100.0 + i, if (i % 2 == 1) 1.0 else 2.0,
        "A", if (i <= 4) "F" else "O", d)
    }
    val dir = s"${sys.props("java.io.tmpdir")}/p192fix_${queries.runToken}"
    rows.toDF("l_orderkey", "l_linenumber", "l_extendedprice",
        "l_quantity", "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p192_encoding_advisor")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getAs[Long]("n_runs"),
        r.getAs[Long]("avg_run_milli"), r.getAs[String]("recommendation")))
      .toMap
    assert(got("l_returnflag") == ((1L, 8000L, "rle")))
    assert(got("l_shipdate") == ((1L, 8000L, "rle")))
    assert(got("l_linestatus") == ((2L, 4000L, "rle")))
    assert(got("l_quantity") == ((8L, 1000L, "plain")))
    assert(got("l_extendedprice") == ((8L, 1000L, "plain")))
  }

  test("p193 streaming KS: the stateful count face reproduces the " +
    "batch face's D and decisions") {
    import spark.implicits._
    def mk(src: String, ids: Range, n: Int) =
      ids.map(i => (i.toLong, (1 to n).map(j => s"t$j").mkString(" "),
        "en", src, 0L))
    val rows = mk("A", 1 to 5, 3) ++ mk("B", 6 to 10, 3) ++
      mk("C", 11 to 15, 10)
    val dir = s"${sys.props("java.io.tmpdir")}/p193fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p193_stream_ks")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("d_ppm"), r.getAs[Boolean]("reject"))).toMap
    assert(got(("A", "B")) == ((0L, false)))
    assert(got(("A", "C")) == ((1000000L, true)))
  }

  test("p194 Markov eval: held-out users score the train-side argmax; " +
    "hits and misses count exactly") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def ts(m: Int) = new java.sql.Timestamp(t0 + m * 60000L)
    // train u1/u2: view→click x3, click→view x1 → pred: view→click,
    // click→view. eval u3: v,c,v (both hit); u6: c,c (miss for click)
    val rows = Seq(
      (1L, ts(0), 1L, "view"), (2L, ts(1), 1L, "click"),
      (3L, ts(2), 1L, "view"), (4L, ts(3), 1L, "click"),
      (5L, ts(0), 2L, "view"), (6L, ts(1), 2L, "click"),
      (7L, ts(0), 3L, "view"), (8L, ts(1), 3L, "click"),
      (9L, ts(2), 3L, "view"),
      (10L, ts(0), 6L, "click"), (11L, ts(1), 6L, "click"))
    val dir = s"${sys.props("java.io.tmpdir")}/p194fix_${queries.runToken}"
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p194_markov_eval")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getAs[String]("predicted"),
        r.getAs[Long]("n_eval"), r.getAs[Long]("n_hit"),
        r.getAs[Long]("acc_ppm"))).toMap
    assert(got("view") == (("click", 1L, 1L, 1000000L)))
    assert(got("click") == (("view", 2L, 1L, 500000L)))
  }

  test("p195 retrieval metrics: hand-computed MRR/DCG/nDCG ladder; a " +
    "query with no relevant corpus scores zeros") {
    import spark.implicits._
    // query 0 (label 1) ranks: v2 (label 0) > v1 (label 1) > v3
    // (label 1) → rel at ranks 2,3: mrr=500, dcg=631+500=1131,
    // idcg=1000+631=1631. query 2 is the only label-0 vector → no
    // relevant exists → all-zero metrics.
    val rows = Seq(
      (0L, Seq(1.0f, 0.0f), 1), (1L, Seq(0.9f, 0.0f), 1),
      (2L, Seq(0.95f, 0.0f), 0), (3L, Seq(0.1f, 0.0f), 1))
    val dir = s"${sys.props("java.io.tmpdir")}/p195fix_${queries.runToken}"
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p195_retrieval_metrics")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("n_rel5"),
        r.getAs[Boolean]("hit5"), r.getAs[Long]("mrr_milli"),
        r.getAs[Long]("dcg_milli"), r.getAs[Long]("idcg_milli"),
        r.getAs[Long]("ndcg_ppm"))).toMap
    assert(got(0L) == ((2L, true, 500L, 1131L, 1631L, 693439L)))
    assert(got(2L) == ((0L, false, 0L, 0L, 0L, 0L)))
  }

  test("p196 hamming operating curve: exact-dup pair present at every " +
    "threshold, curves monotone non-decreasing") {
    import spark.implicits._
    val rows = Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "w", 0L),
      (2L, "alpha beta gamma delta epsilon", "en", "w", 0L),
      (3L, "utterly unrelated content entirely elsewhere", "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p196fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p196_hamming_curve")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_docs")))
    assert(got.length == 9)
    // the identical pair sits at distance 0, so every threshold sees it
    assert(got.head._2 == 1L && got.head._3 == 2L)
    assert(got.sliding(2).forall(w =>
      w(0)._2 <= w(1)._2 && w(0)._3 <= w(1)._3))
  }

  test("p197 TFRecord shards: frame algebra per mode; garbage bytes " +
    "salvage zero records") {
    import spark.implicits._
    val rows = Seq((0L, "hello", "en", "w", 0L),
      (1L, "abc", "en", "w", 0L), (2L, "xy", "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p197fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p197_tfrecord_shards")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("n_records"),
        r.getAs[Long]("payload_bytes"), r.getAs[Long]("blob_bytes"),
        r.getAs[Boolean]("clean"))).toMap
    assert(got(0L) == ((2L, 11L, 43L, true)))   // 32 + 5 + 6, both CRCs ok
    assert(got(1L) == ((1L, 3L, 31L, false)))   // truncated mid-frame
    assert(got(2L) == ((1L, 2L, 40L, false)))   // data-CRC bit flipped
    // raw kernel: garbage bytes can never parse as a record
    val g = spark.range(1)
      .select(graft.functions.TfRecord.walk(
        lit(Array[Byte](1, 2, 3, 4, 5))).as("w"))
      .select(col("w.n_records"), col("w.clean")).head
    assert(g.getLong(0) == 0L && !g.getBoolean(1))
  }

  test("p198 MaxSim: a sub-vector match in a DIFFERENT slot scores — " +
    "the late-interaction property single-vector cosine lacks") {
    import spark.implicits._
    def oneHot(pos: Int) =
      (0 until 64).map(i => if (i == pos) 1.0f else 0.0f)
    // q0 lights sub0/off0; v1 lights sub2/off0 (cosine(q0,v1)=0 but
    // MaxSim pairs q's sub0 with v1's sub2 → full score); v2 lights
    // sub0/off1 (no aligned offset anywhere → zero)
    val rows = Seq((0L, oneHot(0), 0), (1L, oneHot(32), 0),
      (2L, oneHot(1), 0))
    val dir = s"${sys.props("java.io.tmpdir")}/p198fix_${queries.runToken}"
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p198_maxsim_retrieval")(spark, dir)
      .collect().filter(_.getLong(0) == 0L)
      .map(r => r.getAs[Long]("rk") ->
        (r.getAs[Long]("vec_id"), r.getAs[Long]("maxsim"))).toMap
    assert(got(1L) == ((1L, 1000000000000L)))
    assert(got(2L) == ((2L, 0L)))
  }

  test("p199 pair evidence: shared shingles counted, rarest tie-breaks " +
    "lexicographically") {
    import spark.implicits._
    val rows = Seq(
      (1L, "alpha beta gamma delta", "en", "w", 0L),
      (2L, "alpha beta gamma delta", "en", "w", 0L),
      (3L, "totally different words everywhere here", "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p199fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p199_pair_evidence")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_shared"), r.getAs[String]("rare_shingle"),
          r.getAs[Long]("rare_df"))).toMap
    assert(got((1L, 2L)) == ((2L, "alpha beta gamma", 2L)))
  }

  test("p200 epoch shuffle: deterministic across reruns, heads are " +
    "3-long, epochs decorrelate") {
    import spark.implicits._
    val rows = (1L to 5L).map(i => (i, s"doc number $i", "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p200fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val run = () => SparkEntry.queries("p200_epoch_shuffle")(spark, dir)
      .collect().head
    val r = run()
    assert(r.getAs[Long]("n_docs") == 5L)
    assert(r.getAs[String]("head_epoch0").split(",").length == 3)
    assert(r.getAs[String]("head_epoch1").split(",").length == 3)
    // different salts produce different orders for this fixture
    assert(r.getAs[Long]("footrule") > 0L)
    // and the whole thing is bit-reproducible — the loader-crash story
    assert(run().toSeq == r.toSeq)
  }

  test("p201 cluster medoid: a zero-distance clique tie-breaks to the " +
    "smallest id; counts and mean distance are exact") {
    import spark.implicits._
    val rows = Seq(
      (1L, "same text for all three", "en", "w", 0L),
      (2L, "same text for all three", "en", "w", 0L),
      (3L, "same text for all three", "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p201fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p201_cluster_medoid")(spark, dir)
      .collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("cluster_id") == 1L)
    assert(r.getAs[Long]("n_members") == 3L)
    assert(r.getAs[Long]("medoid") == 1L)
    assert(r.getAs[Long]("n_pairs") == 3L)
    assert(r.getAs[Long]("mean_hamming_milli") == 0L)
  }

  test("p202 truncation policies: each policy drops exactly the " +
    "designed positions of an over-limit doc") {
    import spark.implicits._
    // 130 distinct tokens: head drops 2 (pos 129,130), tail drops 2
    // (pos 1,2), mid drops 2 (pos 65,66); the 2-token doc is untouched
    val long = (1 to 130).map(i => s"w$i").mkString(" ")
    val rows = Seq((1L, long, "en", "w", 0L), (2L, "x y", "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p202fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p202_truncation_policies")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getAs[Long]("n_docs_cut"),
        r.getAs[Long]("tokens_dropped"), r.getAs[Long]("info_dropped"),
        r.getAs[Long]("info_lost_ppm"))).toMap
    // all 132 tokens are df=1 → iv=1e6 each; total info 132e6
    for (p <- Seq("head", "mid", "tail"))
      assert(got(p) == ((1L, 2L, 2000000L, 15151L)))
  }

  test("p203 range splitters: equal-mass docs land in the exact " +
    "weighted-rule partitions with the granularity skew visible") {
    import spark.implicits._
    val rows = (1L to 4L).map(i => (i, "a b c d", "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p203fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p203_range_splitters")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("n_docs"),
        r.getAs[Long]("mass"), r.getAs[Long]("skew_ppm"))).toMap
    // W=16, ideal=2: cum 4/8/12/16 → parts (cum-1)·8//16 = 1,3,5,7
    assert(got.keySet == Set(1L, 3L, 5L, 7L))
    assert(got.values.forall(_ == ((1L, 4L, 1000000L))))
  }

  test("p204 dataset card: dup exposure counts pair-graph membership " +
    "per source; token volumes exact") {
    import spark.implicits._
    val rows = Seq(
      (1L, "identical twin text here", "en", "srcA", 0L),
      (2L, "identical twin text here", "en", "srcA", 0L),
      (3L, "a unique document of its own", "de", "srcB", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p204fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p204_dataset_card")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("n_langs"),
        r.getAs[Long]("dup_docs"), r.getAs[Long]("dup_ppm"))).toMap
    assert(got("srcA") == ((2L, 8L, 1L, 2L, 1000000L)))
    assert(got("srcB") == ((1L, 6L, 1L, 0L, 0L)))
  }

  test("p205 Zipf fit: hand-computed integer regression over a planted " +
    "frequency ladder") {
    import spark.implicits._
    // freqs 8,4,2,1 → (x,y) = (0,3)(1,2)(1,1)(2,0): slope = -12/8 =
    // -1.5 → -1500 milli
    val text = (Seq.fill(8)("a") ++ Seq.fill(4)("b") ++
      Seq.fill(2)("c") ++ Seq("d")).mkString(" ")
    val rows = Seq((1L, text, "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p205fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val r = SparkEntry.queries("p205_zipf_fit")(spark, dir).collect().head
    assert(r.getAs[Long]("vocab") == 4L)
    assert(r.getAs[Long]("n_tokens") == 15L)
    assert(r.getAs[String]("top_token") == "a")
    assert(r.getAs[Long]("top_freq") == 8L)
    assert(r.getAs[Long]("slope_milli") == -1500L)
  }

  test("p206 prefix cache: sharing decays with k exactly where the " +
    "planted prefixes diverge") {
    import spark.implicits._
    def tail(p: String) = (1 to 12).map(i => s"$p$i").mkString(" ")
    val rows = Seq(
      (1L, s"p q r s ${tail("x")}", "en", "w", 0L),
      (2L, s"p q r s ${tail("y")}", "en", "w", 0L),
      (3L, "z1 z2 z3", "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p206fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p206_prefix_cache")(spark, dir)
      .collect().map(r => r.getInt(0) -> (r.getAs[Long]("n_shared_groups"),
        r.getAs[Long]("docs_in_shared"), r.getAs[Long]("tokens_saved")))
      .toMap
    assert(got(2) == ((1L, 2L, 2L)))
    assert(got(4) == ((1L, 2L, 4L)))
    assert(got(8) == ((0L, 0L, 0L)))   // diverged at token 5
    assert(got(16) == ((0L, 0L, 0L)))
  }

  test("p207 histogram equalization: lowest gray maps to 0, highest to " +
    "255, remap preserves order — per image") {
    val got = SparkEntry.queries("p207_histogram_equalize")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("gray"), r.getAs[Long]("eq")))
    val byDoc = got.groupBy(_._1)
    assert(byDoc.nonEmpty)
    byDoc.values.foreach { px =>
      assert(px.length == 12)
      if (px.map(_._2).distinct.length >= 2) {
        assert(px.minBy(_._2)._3 == 0L)
        assert(px.maxBy(_._2)._3 == 255L)
      }
      // equalization is monotone in gray
      val sorted = px.sortBy(_._2)
      assert(sorted.sliding(2).forall(w => w(0)._3 <= w(1)._3))
    }
  }

  test("p208 curriculum mixing: epoch sums are exactly the budget, " +
    "epoch 0 is uniform, epoch 3 follows quality mass") {
    import spark.implicits._
    val good = "a solid document with enough reasonable tokens of " +
      "substance and the usual stopwords in it for a fair score"
    val rows = Seq(
      (1L, good, "en", "A", 0L), (2L, good, "en", "A", 0L),
      (3L, good, "en", "A", 0L), (4L, "tiny", "en", "B", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p208fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p208_curriculum_mixing")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        r.getAs[Long]("alloc")).toMap
    for (e <- 0L to 3L)
      assert(got((e, "A")) + got((e, "B")) == 10000L)
    assert(got((0L, "A")) == 5000L && got((0L, "B")) == 5000L)
    // A carries ~3 good docs of quality mass vs B's one tiny doc
    assert(got((3L, "A")) > got((3L, "B")))
    // annealing is monotone toward the quality-heavy source
    assert((0L to 2L).forall(e => got((e, "A")) <= got((e + 1L, "A"))))
  }

  test("p209 template mining: byte-twin clusters are all-template; " +
    "counts are exact per cluster") {
    import spark.implicits._
    def seg(p: String) = (1 to 8).map(i => s"$p$i").mkString(" ")
    val t1 = s"${seg("a")} ${seg("b")}"   // 2 segments
    val t2 = s"${seg("z")}"               // 1 segment
    val rows = Seq(
      (1L, t1, "en", "w", 0L), (2L, t1, "en", "w", 0L),
      (5L, t2, "en", "w", 0L), (6L, t2, "en", "w", 0L),
      (7L, t2, "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p209fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p209_template_mining")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("n_members"),
        r.getAs[Long]("n_distinct_segs"), r.getAs[Long]("n_template_segs")))
      .toMap
    assert(got(1L) == ((2L, 2L, 2L)))
    assert(got(5L) == ((3L, 1L, 1L)))
  }

  test("p210 harmonic centrality: clique members see the full clique " +
    "at distance 1; a lone pair scores one neighbor") {
    import spark.implicits._
    val rows = Seq(
      (1L, "clique text one two three", "en", "w", 0L),
      (2L, "clique text one two three", "en", "w", 0L),
      (3L, "clique text one two three", "en", "w", 0L),
      (8L, "pair text other entirely", "en", "w", 0L),
      (9L, "pair text other entirely", "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p210fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p210_harmonic_centrality")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("d1"),
        r.getAs[Long]("d2"), r.getAs[Long]("d3"),
        r.getAs[Long]("harmonic_milli"))).toMap
    for (n <- Seq(1L, 2L, 3L)) assert(got(n) == ((2L, 0L, 0L, 2000L)))
    for (n <- Seq(8L, 9L)) assert(got(n) == ((1L, 0L, 0L, 1000L)))
  }

  test("p211 CDC sweep: a larger modulus means fewer, longer chunks — " +
    "the curve is monotone and the planted footer dedups") {
    val got = SparkEntry.queries("p211_cdc_param_sweep")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_chunks"),
        r.getAs[Long]("mean_len_milli"), r.getAs[Long]("dup_char_ppm")))
      .toMap
    assert(got(16L)._1 >= got(64L)._1 && got(64L)._1 >= got(256L)._1)
    assert(got(16L)._2 <= got(64L)._2 && got(64L)._2 <= got(256L)._2)
    // the planted per-source ad footer dedups at every modulus
    assert(got.values.forall(_._3 > 0L))
  }

  test("p212 evasion census: punctuation-sprinkled twins surface as a " +
    "family; standard-normal twins alone do not") {
    import spark.implicits._
    val rows = Seq(
      (1L, "buy now", "en", "w", 0L),
      (2L, "b.u.y n.o.w!", "en", "w", 0L),
      (3L, "BUY   NOW", "en", "w", 0L),     // std-equal to doc 1
      (4L, "something else", "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p212fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p212_evasion_census")(spark, dir)
      .collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("n_docs") == 3L)
    assert(r.getAs[Long]("n_raw_variants") == 2L)
    assert(r.getAs[Long]("min_doc") == 1L)
  }

  test("p213 LSH band curve: byte-twins are caught with full precision " +
    "under every layout; candidate recall never rises with rows/band") {
    import spark.implicits._
    val rows = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en", "w", 0L),
      (2L, "alpha beta gamma delta epsilon zeta", "en", "w", 0L),
      (3L, "utterly different content in every way", "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p213fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p213_lsh_band_curve")(spark, dir)
      .collect().map(r => r.getLong(1) -> (r.getAs[Long]("n_candidates"),
        r.getAs[Long]("n_good"), r.getAs[Long]("precision_ppm"))).toMap
    assert(got.keySet == Set(2L, 3L, 4L, 6L))
    assert(got.values.forall(_ == ((1L, 1L, 1000000L))))
    // on real data: more rows per band → no more candidates
    val real = SparkEntry.queries("p213_lsh_band_curve")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(1) -> r.getAs[Long]("n_candidates")).toMap
    assert(real(2L) >= real(3L) && real(3L) >= real(4L)
      && real(4L) >= real(6L))
  }

  test("p214 bitext candidates: shared rare shingles pair across " +
    "languages; the length gate blocks inflated partners") {
    import spark.implicits._
    val core = "alpha beta gamma delta epsilon zeta"
    val rows = Seq(
      (1L, core, "en", "w", 0L),
      (2L, core, "fr", "w", 0L),                      // perfect partner
      (3L, s"$core u1 u2 u3 u4 u5 u6", "es", "w", 0L), // 2x length: gated
      (4L, "nothing shared here at all ever", "de", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p214fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p214_bitext_candidates")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getAs[String]("lang"),
        r.getAs[Long]("best_en"), r.getAs[Long]("n_anchors"),
        r.getAs[Long]("len_ratio_milli"))).toMap
    assert(got(2L) == (("fr", 1L, 4L, 1000L)))
    assert(!got.contains(3L)) // 6-vs-12 tokens fails the 4/3 gate
    assert(!got.contains(4L)) // no shared anchors
  }

  test("p215 referential audit: planted orphans and childless parents " +
    "are counted per relationship") {
    import spark.implicits._
    val d = java.sql.Date.valueOf("1995-01-01")
    val dir = s"${sys.props("java.io.tmpdir")}/p215fix_${queries.runToken}"
    Seq((1L, "Customer#1", 1L, 0.0, "B"), (7L, "Customer#7", 1L, 0.0, "B"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((10L, 1L, 5.0), (11L, 99L, 5.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((10L, 1, 1.0), (555L, 1, 1.0))
      .toDF("l_orderkey", "l_linenumber", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, Seq(1.0f), 0)).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Seq((1L, "x", "en", "w", 0L), (2L, "y", "en", "w", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p215_referential_audit")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getAs[Long]("n_child"),
        r.getAs[Long]("n_orphans"), r.getAs[Long]("orphan_ppm"),
        r.getAs[Long]("n_parents"), r.getAs[Long]("n_childless"))).toMap
    assert(got("orders->customer") == ((2L, 1L, 500000L, 2L, 1L)))
    assert(got("lineitem->orders") == ((2L, 1L, 500000L, 2L, 1L)))
    assert(got("embeddings->documents") == ((1L, 0L, 0L, 2L, 1L)))
  }

  test("p216 embedding outliers: the planted far vector owns the " +
    "cell's worst 3-NN distance") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(1.0f, 0.0f), 0),
      (3L, Seq(1.0f, 0.0f), 0), (4L, Seq(1.0f, 0.0f), 0),
      (5L, Seq(0.0f, 5.0f), 0))
    val dir = s"${sys.props("java.io.tmpdir")}/p216fix_${queries.runToken}"
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p216_embedding_outliers")(spark, dir)
      .collect()
    assert(got.length == 1)
    assert(got.head.getAs[Long]("worst_vec") == 5L)
    // d² = (1e6)² + (5e6)² in micro²-units
    assert(got.head.getAs[Long]("knn3_d2") == 26000000000000L)
  }

  test("p217 autocorrelation: an alternating daily series scores the " +
    "hand-computed negative lag-1 r; too-short lags drop out") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 12:00:00").getTime
    def ts(day: Int) = new java.sql.Timestamp(t0 + day * 86400000L)
    // counts per day: 2,0,2,0,2,0 (zeros come from the day grid)
    val rows = Seq(0, 2, 4).flatMap(d =>
      Seq((d * 10L, ts(d), 1L, "x"), (d * 10L + 1, ts(d), 2L, "x"))) ++
      Seq((100L, ts(5), 3L, "x"), (101L, ts(5), 3L, "x"))
    // make day 5 carry 2 events and day 4 none: adjust — use days
    // 0,2,4 with 2 events and day 5 with 2 → recompute below
    val dir = s"${sys.props("java.io.tmpdir")}/p217fix_${queries.runToken}"
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p217_autocorr")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("n_days"),
        r.getAs[Long]("n_pairs"), r.getAs[Long]("r_milli"))).toMap
    // series over days 0..5 = [2,0,2,0,2,2]: n=6, S=8, z=6x-8 =
    // [4,-8,4,-8,4,4]; den=4·16+2·64=192; lag1 num = -32-32-32-32+16
    // = -112 → r = -(112000//192) = -583
    assert(got(1L) == ((6L, 5L, -583L)))
    assert(!got.contains(7L)) // only 6 days: no lag-7 pairs
  }

  test("p218 shuffle fairness: a 2-doc corpus yields exactly ±1000 " +
    "milli, consistent with its sum of squared rank gaps") {
    import spark.implicits._
    val rows = Seq((1L, "a b", "en", "w", 0L),
      (2L, "c d e f g h i j k l m n o p q r s t u v w x y z a1 a2",
        "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p218fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val r = SparkEntry.queries("p218_shuffle_fairness")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n_docs") == 2L)
    val (sd2, rho) = (r.getAs[Long]("sum_d2"), r.getAs[Long]("rho_milli"))
    // two permutations of 2 elements: identical (sd2=0, ρ=1000) or
    // swapped (sd2=2, ρ=-1000)
    assert((sd2 == 0L && rho == 1000L) || (sd2 == 2L && rho == -1000L))
  }

  test("p219 dedup budget: the duplicated source pays, the unique " +
    "source doesn't") {
    import spark.implicits._
    val rows = Seq(
      (1L, "twin content here now", "en", "srcA", 0L),
      (2L, "twin content here now", "en", "srcA", 0L),
      (3L, "wholly original text of srcB", "en", "srcB", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p219fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p219_dedup_budget")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getAs[Long]("n_docs"),
        r.getAs[Long]("kept_docs"), r.getAs[Long]("doc_removed_ppm"),
        r.getAs[Long]("token_removed_ppm"))).toMap
    assert(got("srcA") == ((2L, 1L, 500000L, 500000L)))
    assert(got("srcB") == ((1L, 1L, 0L, 0L)))
  }

  test("p220 longest shared span: byte-twins share a span equal to " +
    "their full token length in one run") {
    import spark.implicits._
    val text = (1 to 10).map(i => s"t$i").mkString(" ")
    val rows = Seq((1L, text, "en", "w", 0L), (2L, text, "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p220fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p220_longest_shared_span")(spark, dir)
      .collect()
    assert(got.length == 1)
    assert(got.head.getAs[Long]("span_tokens") == 10L)
    assert(got.head.getAs[Long]("n_runs") == 1L)
  }

  test("p221 hybrid RRF: the doc that wins both legs fuses above the " +
    "doc that runs second in both; exact RRF point arithmetic") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma", "en", "w", 0L),     // the query
      (10L, "alpha beta gamma", "en", "w", 0L),    // rank 1 both legs
      (11L, "alpha beta zeta", "en", "w", 0L))     // rank 2 both legs
    val embs = Seq((0L, Seq(1.0f, 0.0f), 0), (10L, Seq(1.0f, 0.0f), 0),
      (11L, Seq(0.0f, 1.0f), 0))
    val dir = s"${sys.props("java.io.tmpdir")}/p221fix_${queries.runToken}"
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    embs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p221_hybrid_rrf")(spark, dir)
      .collect().filter(_.getLong(0) == 0L)
      .map(r => r.getAs[Long]("frank") -> (r.getAs[Long]("doc_id"),
        r.getAs[Long]("rrf"), r.getAs[Boolean]("in_lex"),
        r.getAs[Boolean]("in_ann"))).toMap
    // 2·(1e6//61) = 32786 vs 2·(1e6//62) = 32258
    assert(got(1L) == ((10L, 32786L, true, true)))
    assert(got(2L) == ((11L, 32258L, true, true)))
  }

  test("p222 digest repair: exactly the planted corrupt keys surface, " +
    "and only their buckets were flagged") {
    import spark.implicits._
    val rows = Seq((997L, 10.0, "O"), (1994L, 20.0, "F"), (5L, 7.0, "O"))
    val dir = s"${sys.props("java.io.tmpdir")}/p222fix_${queries.runToken}"
    rows.toDF("o_orderkey", "o_totalprice", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p222_digest_repair")(spark, dir)
      .collect()
    assert(got.map(_.getLong(0)).toSet == Set(997L, 1994L))
    val buckets = got.map(_.getAs[Long]("bucket")).toSet
    assert(got.head.getAs[Long]("n_bad_buckets") == buckets.size.toLong)
  }

  test("p223 salient terms: rare terms beat common ones, zero-salience " +
    "ubiquitous terms drop, ties go lexicographic") {
    import spark.implicits._
    val rows = Seq(
      (1L, "rare rare common", "en", "w", 0L),
      (2L, "common other words here", "en", "w", 0L),
      (3L, "common misc stuff today", "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p223fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p223_salient_terms")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("rk")) ->
        (r.getAs[String]("term"), r.getAs[Long]("salience"))).toMap
    // 'common' has df=3 → ilog2(1)=0 salience → excluded everywhere
    assert(got((1L, 1L)) == (("rare", 2L)))
    assert(!got.contains((1L, 2L)))
    assert(got((2L, 1L)) == (("here", 1L)))
    assert(got((2L, 2L)) == (("other", 1L)))
    assert(got((2L, 3L)) == (("words", 1L)))
  }

  test("p224 signature IVM: touched accounting matches the %7 edit set " +
    "and the spliced digests are rerun-stable") {
    import spark.implicits._
    val rows = (0L to 9L).map(i =>
      (i, s"document number $i with some body tokens t$i u$i v$i",
        "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p224fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val run = () => SparkEntry.queries("p224_signature_ivm")(spark, dir)
      .collect()
    val got = run()
    assert(got.map(_.getAs[Long]("n_rows")).sum == 10L)
    assert(got.map(_.getAs[Long]("touched")).sum == 2L) // docs 0 and 7
    assert(run().map(_.toSeq).toSeq == got.map(_.toSeq).toSeq)
  }

  test("p225 edge support: clique edges carry one triangle each, a " +
    "lone pair's edge carries none") {
    import spark.implicits._
    val rows = Seq(
      (1L, "clique body one two three", "en", "w", 0L),
      (2L, "clique body one two three", "en", "w", 0L),
      (3L, "clique body one two three", "en", "w", 0L),
      (8L, "pair body other entirely", "en", "w", 0L),
      (9L, "pair body other entirely", "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p225fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p225_edge_support")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_edges")).toMap
    assert(got == Map(0L -> 1L, 1L -> 3L))
  }

  test("p226 quality-dup curve: low-quality dups fill the bottom " +
    "deciles, a planted high-quality dup pair trips the inversion") {
    import spark.implicits._
    val bad = "zz zz"
    val good = ("the quick brown fox and the lazy dog is running with " +
      "many fine words here now")
    val rows =
      (1L to 4L).map(i => (i, bad, "en", "w", 0L)) ++
        (5L to 8L).map(i => (i, (1 to 10).map(j => s"u${i}x$j")
          .mkString(" "), "en", "w", 0L)) ++
        Seq((9L, good, "en", "w", 0L), (10L, good, "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p226fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p226_quality_dup_curve")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("dup_ppm"),
        r.getAs[Boolean]("inversion"))).toMap
    for (d <- 1L to 4L) assert(got(d) == ((1000000L, false)))
    for (d <- 5L to 8L) assert(got(d)._1 == 0L)
    assert(got(9L) == ((1000000L, true))) // the assumption breaks HERE
    assert(got(10L) == ((1000000L, false)))
  }

  test("p227 dendrogram profile: identical-doc families are stable " +
    "across every threshold cut") {
    import spark.implicits._
    val rows = Seq(
      (1L, "family one body text", "en", "w", 0L),
      (2L, "family one body text", "en", "w", 0L),
      (3L, "family one body text", "en", "w", 0L),
      (8L, "family two other words", "en", "w", 0L),
      (9L, "family two other words", "en", "w", 0L),
      (20L, "a loner document apart", "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p227fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p227_dendrogram_profile")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("n_components"),
        r.getAs[Long]("n_clustered_docs"), r.getAs[Long]("largest")))
    assert(got.length == 5)
    got.foreach { case (_, nc, nd, lg) =>
      assert(nc == 2L && nd == 5L && lg == 3L)
    }
  }

  test("p228 nearest join: forward click wins when closer, exact tie " +
    "prefers the backward click, out-of-tolerance drops") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def ts(m: Int) = new java.sql.Timestamp(t0 + m * 60000L)
    val rows = Seq(
      (1L, ts(0), 1L, "click"), (2L, ts(30), 1L, "purchase"),
      (3L, ts(40), 1L, "click"),
      (4L, ts(0), 2L, "click"), (5L, ts(150), 2L, "purchase"),
      (7L, ts(0), 3L, "click"), (6L, ts(60), 3L, "purchase"),
      (8L, ts(120), 3L, "click"))
    val dir = s"${sys.props("java.io.tmpdir")}/p228fix_${queries.runToken}"
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p228_nearest_join")(spark, dir)
      .collect().map(r => r.getAs[Long]("purchase_id") ->
        (r.getAs[Long]("click_id"), r.getAs[Long]("gap_us"))).toMap
    assert(got(2L) == ((3L, 600000000L)))  // forward 10 min beats back 30
    assert(!got.contains(5L))              // 150 min: out of tolerance
    assert(got(6L) == ((7L, 3600000000L))) // 60-min tie → backward
  }

  test("p229 int8 fidelity: well-separated candidates keep the full " +
    "top-5 and the top-1 through quantization") {
    import spark.implicits._
    val rows = (0 to 5).map { i =>
      (i.toLong, (0 until 8).map(j =>
        if (j == i) 1.0f else 0.05f * (j + 1)), 0)
    }
    val dir = s"${sys.props("java.io.tmpdir")}/p229fix_${queries.runToken}"
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p229_int8_fidelity")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("n_overlap"),
        r.getAs[Boolean]("top1_kept"))).toMap
    assert(got(0L) == ((5L, true)))
    assert(got.values.forall(_._1 >= 4L)) // int8 may reorder the tail
  }

  test("p230 padding waste: per-bucket caps and the global-max row " +
    "carry exact padding arithmetic") {
    import spark.implicits._
    val rows = Seq((1L, "a b c", "en", "w", 0L),
      (2L, "a b c d e", "en", "w", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p230fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p230_padding_waste")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("n_docs"),
        r.getAs[Long]("real_tokens"), r.getAs[Long]("pad_to"),
        r.getAs[Long]("padding"), r.getAs[Long]("waste_ppm"))).toMap
    assert(got(2L) == ((1L, 3L, 3L, 0L, 0L)))      // len 3 → cap 3
    assert(got(3L) == ((1L, 5L, 7L, 2L, 285714L))) // len 5 → cap 7
    assert(got(-1L) == ((2L, 8L, 5L, 2L, 200000L))) // pad all to max 5
  }

  test("p231 canary probe: every source's injected twin pair is " +
    "recovered by the real banded pipeline") {
    import spark.implicits._
    val rows = Seq((1L, "organic doc for x", "en", "srcX", 0L),
      (2L, "organic doc for y", "en", "srcY", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p231fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p231_canary_probe")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("found_pairs"), r.getAs[Boolean]("recovered")))
      .toMap
    assert(got.keySet == Set("srcX", "srcY"))
    assert(got.values.forall(_ == ((1L, true))))
  }

  test("p232 hash uniformity: single-doc arithmetic is exact; the real " +
    "fixture hashes uniformly") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/p232fix_${queries.runToken}"
    Seq((1L, "x", "en", "w", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val one = SparkEntry.queries("p232_hash_uniformity")(spark, dir)
      .collect().head
    // one row in one bucket: X = 63² + 63·1² = 4032 → 4032·1000/64
    assert(one.getAs[Long]("chi2_milli") == 63000L)
    assert(one.getAs[Boolean]("uniform_ok"))
    val real = SparkEntry.queries("p232_hash_uniformity")(
      spark, "/root/testdata/sf0.001").collect().head
    assert(real.getAs[Boolean]("uniform_ok")) // h60 is uniform, audited
  }

  test("p233 source scorecard: the clean source outranks the " +
    "duplicated low-quality one; Borda totals conserve") {
    import spark.implicits._
    val good = "the quick brown fox and the lazy dog with many fine " +
      "words in this rather long document of substance"
    val rows = Seq(
      (1L, "zz zz", "en", "A", 0L), (2L, "zz zz", "en", "A", 0L),
      (3L, good, "en", "B", 0L))
    val dir = s"${sys.props("java.io.tmpdir")}/p233fix_${queries.runToken}"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p233_source_scorecard")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getAs[Long]("borda"),
        r.getAs[Long]("final_rank"))).toMap
    assert(got("B")._2 == 1L && got("A")._2 == 2L)
    assert(got.values.map(_._1).sum == 9L) // 3 metrics × ranks {1,2}
  }

  test("p234 Theil-Sen: a perfectly linear daily series yields its " +
    "exact slope from every pair") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 12:00:00").getTime
    def ts(day: Int) = new java.sql.Timestamp(t0 + day * 86400000L)
    // counts per day: 1, 3, 5, 7 → every pairwise slope = 2/day
    val rows = (0 to 3).flatMap(d =>
      (0 until (1 + 2 * d)).map(k => (d * 100L + k, ts(d), 1L, "x")))
    val dir = s"${sys.props("java.io.tmpdir")}/p234fix_${queries.runToken}"
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    queries.cleanupAtExit(dir)
    val r = SparkEntry.queries("p234_theilsen_trend")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n_days") == 4L)
    assert(r.getAs[Long]("n_pairs") == 6L)
    assert(r.getAs[Long]("median_slope_milli") == 2000L)
  }

  test("p235 stationary mix: a deterministic 2-cycle settles at the " +
    "exact uniform split with zero drift and exact 1e6 mass") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def ts(m: Int) = new java.sql.Timestamp(t0 + m * 60000L)
    val rows =
      Seq("view", "click", "view", "click", "view").zipWithIndex.map {
        case (t, i) => (i.toLong, ts(i), 1L, t) } ++
      Seq("click", "view", "click", "view").zipWithIndex.map {
        case (t, i) => (10L + i, ts(i), 2L, t) }
    val dir = s"${sys.props("java.io.tmpdir")}/p235fix_${queries.runToken}"
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    queries.cleanupAtExit(dir)
    val got = SparkEntry.queries("p235_stationary_mix")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getAs[Long]("pi_ppm"),
        r.getAs[Long]("delta_ppm"), r.getAs[Boolean]("converged"))).toMap
    assert(got("view") == ((500000L, 0L, true)))
    assert(got("click") == ((500000L, 0L, true)))
    // exact mass conservation — the property float iteration loses
    assert(got.values.map(_._1).sum == 1000000L)
  }
}
