package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Tables

/** Standing sweep for the r11 p261 bug class: a row-level self-join keyed
  * ONLY on O(1)-cardinality fixture columns with no cap/panel on either
  * side — O(corpus²/|blocks|), invisible at sf0.01, fatal at 100 TB.
  * See [[QuadraticJoinLint]] for the rule. The sweep lints the OPTIMIZED
  * logical plan of every declared entry; the negative test proves the
  * exact pre-fix p261 shape trips it.
  */
class QuadraticJoinLintSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  /** Entries allowed to keep a both-sides-unbounded low-card-key join,
    * each with the reason the lint cannot see. Add a name here ONLY
    * with a comment proving the join is bounded in a way the
    * heuristic misses. (The alias-resolving sharpening of this lint
    * caught p12's label-only all-pairs blocking — the p261 bug shape,
    * shipped in round 3, latent for 11 rounds — which was FIXED, not
    * allowlisted: it now blocks on (label, SRP bucket) with the
    * member cap.) */
  private val allowlist: Map[String, String] = Map(
    // probe side is the ≤20-row literal panel `vec_id < 20`: the join
    // is panel × label-block (corpus-LINEAR, the IVF probe shape);
    // boundedness-by-selective-filter is exactly what the heuristic
    // cannot cost
    "p11_knn_ivf" -> "probe side literal-bounded (vec_id < 20 panel)",
    // ---- theta-only rule allowlist (each bounded in a way the
    //      heuristic cannot see; r15 audit) ----
    // the DELIBERATE exact-kNN baseline the brief requires; query side
    // is the ≤10-row literal panel `vec_id < 10` — panel × corpus is
    // corpus-linear (contrast p64, which the rule CAUGHT and which was
    // fixed to SRP-bucketed capped search because its query side grows
    // with the corpus)
    "p10_knn_bruteforce" -> "brute-force baseline; vec_id < 10 query panel",
    // all-pairs slopes over the per-day SERIES (one row per day after
    // the upstream aggregate, hidden behind localCheckpoint):
    // quadratic in the ≤30-day calendar span, corpus-independent
    "p234_theilsen_trend" -> "day-series all-pairs; series = O(days), not O(corpus)",
    // OR-membership probe join against the checkpointed source-pair
    // census: |sources| is O(1) fixture cardinality, census is
    // O(|sources|²) rows — the probe is corpus-linear
    "p253_drift_null_calibration" -> "right side = checkpointed source-pair census (O(1) rows)",
    // JL fidelity queries are the ≤16-row literal panel `vec_id < 16`
    // behind a localCheckpoint; panel × corpus is corpus-linear
    "p258_jl_fidelity" -> "vec_id < 16 query panel behind localCheckpoint",
    // corpus × k-centroid cross: centroids are the k=O(1)-row table
    // recomputed per Lloyd round (checkpointed) — the classic
    // broadcast-kmeans assignment shape
    "p56_kmeans_lloyd" -> "corpus × k centroids (k = O(1), checkpointed)",
    "p60_ivf_trained" -> "corpus × k centroids (k = O(1), checkpointed)",
    // region is TPC-H's CONSTANT 5-row dimension at every SF: the
    // deliberate cross-join demo is 5×5 forever
    "q20_cross_join" -> "region × region; region is a constant 5-row dim")

  private lazy val spark = Env.session(8)

  override def afterAll(): Unit = spark.stop()

  test("no declared entry joins unbounded row-level inputs on " +
    "O(1)-cardinality fixture keys alone") {
    val flagged = QuadraticJoinLint.sweep(spark, sfDir,
      SparkEntry.queries.keys.toSeq.sorted)
    val unexplained = flagged.view.filterKeys(!allowlist.contains(_)).toMap
    assert(unexplained.isEmpty,
      s"quadratic-join lint flagged: ${unexplained.mkString("; ")} — " +
        "block the pair generation on a key whose cardinality grows with " +
        "the corpus (or cap block membership) instead of allowlisting")
    // an allowlist entry that no longer trips is stale — prune it
    val stale = allowlist.keySet -- flagged.keySet
    assert(stale.isEmpty, s"stale allowlist entries: $stale")
  }

  test("the pre-fix p261 shape (label-only self-join, no cap) trips the " +
    "lint; the fixed (label, bucket) blocking passes") {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"))
    // EXACTLY the r11 bug: all pairs within each of the O(1) label blocks
    val preFix = emb.join(emb.withColumnRenamed("vec_id", "vec_id2"), "label")
      .where(col("vec_id") < col("vec_id2"))
    val hits = QuadraticJoinLint.lint(preFix.queryExecution.optimizedPlan)
    assert(hits.nonEmpty, "lint must flag the pre-fix p261 shape")
    assert(hits.head.keys == Seq("label=label"))

    // the r12 fix shape: a derived bucket key joins beside label — the
    // key set is no longer all-low-card, so the blocks scale with data
    val bucketed = emb.withColumn("bucket", pmod(col("vec_id"), lit(256)))
    val postFix = bucketed.join(
      bucketed.withColumnRenamed("vec_id", "vec_id2"),
      Seq("label", "bucket"))
      .where(col("vec_id") < col("vec_id2"))
    assert(QuadraticJoinLint.lint(postFix.queryExecution.optimizedPlan).isEmpty)

    // a bounded side makes a label-only join corpus-linear: not flagged
    val census = emb.groupBy("label").agg(count("*").as("n"))
    assert(QuadraticJoinLint.lint(
      emb.join(census, "label").queryExecution.optimizedPlan).isEmpty)

    // semi-joins emit at most the probe side: not flagged
    assert(QuadraticJoinLint.lint(
      emb.join(emb, Seq("label"), "left_semi").queryExecution.optimizedPlan)
      .isEmpty)

    // RENAMING the fixture key must not evade the lint: the alias chain
    // resolves back to `label`
    val renamed = emb.select(col("vec_id"), col("label").as("grp"))
    val evasion = renamed
      .join(renamed.withColumnRenamed("vec_id", "vec_id2"), "grp")
      .where(col("vec_id") < col("vec_id2"))
    val evHits = QuadraticJoinLint.lint(evasion.queryExecution.optimizedPlan)
    assert(evHits.nonEmpty, "rename evasion must still trip the lint")
    assert(evHits.head.keys == Seq("label=label"))
  }

  test("theta-only rule: a pure range self-join between unbounded inputs " +
    "trips the lint (cartesian-with-residual); an equi conjunct or a " +
    "bounded side clears it") {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"))
    val a = emb.select(col("vec_id").as("va"))
    val b = emb.select(col("vec_id").as("vb"))
    // pure range join: no equality conjunct at all — row×row work no
    // matter how selective the residual looks
    val rangeJoin = a.join(b, col("va") < col("vb"))
    val hits = QuadraticJoinLint.lint(rangeJoin.queryExecution.optimizedPlan)
    assert(hits.nonEmpty, "pure range self-join must trip the theta-only rule")
    assert(hits.head.keys == Seq("<theta-only>"))

    // an unconditioned cross join of unbounded inputs is the same shape
    assert(QuadraticJoinLint.lint(
      a.crossJoin(b).queryExecution.optimizedPlan).nonEmpty)

    // an equality conjunct beside the range residual partitions the work:
    // not a theta-only join (even though the equi key is derived)
    val banded = emb.select(col("vec_id"),
      pmod(col("vec_id"), lit(1024)).as("band"))
    val withEqui = banded.as("x").join(banded.as("y"),
      col("x.band") === col("y.band") && col("x.vec_id") < col("y.vec_id"))
    assert(QuadraticJoinLint.lint(withEqui.queryExecution.optimizedPlan).isEmpty)

    // a literal-range panel side (spark.range) is bounded: not flagged
    val salt = spark.range(0, 8).select(col("id").as("salt"))
    assert(QuadraticJoinLint.lint(
      a.crossJoin(salt).queryExecution.optimizedPlan).isEmpty)

    // semi/anti joins emit at most the probe side: not flagged
    assert(QuadraticJoinLint.lint(
      a.join(b, col("va") < col("vb"), "left_semi")
        .queryExecution.optimizedPlan).isEmpty)
  }
}
