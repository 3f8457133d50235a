package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed
  * around a shuffle plan that survives 100 TB:
  *
  *  - exact dedup: one hash-shuffle on a 128-bit content hash; no
  *    row-to-row comparison ever happens.
  *  - n-gram Jaccard: inverted index grouped by shingle (ONE shuffle),
  *    pairs generated bucket-locally from the sorted posting list —
  *    never a sort-merge self-join, never an all-pairs cross join.
  *    Frequency-capped buckets (shingles shared by > maxDf docs are
  *    dropped) bound the worst-case fan-out — the classic skew guard.
  *  - MinHash + LSH: k-component signatures from ONE md5 per shingle
  *    (affine family, [[Portable.minhashJ]]); banded; candidate pairs
  *    come from a shuffle on (band, bandHash) so cost is O(candidates),
  *    not O(n²). Signatures ride along with the band rows, so nothing
  *    is recomputed or re-joined downstream.
  *  - SimHash: 64-bit signature (the standard width); pairs found by
  *    the pigeonhole block join (hamming ≤ 3 ⇒ at least one of four
  *    16-bit bands equal → 65,536 keys per band), generated bucket-
  *    locally with a size cap, so fan-out is O(candidates) with a
  *    hard skew bound — never ~n²/16. The band streams are deduped by
  *    a pair-key aggregation whose volume the cap bounds.
  *
  * Everything is pure Column expressions over portable md5-derived
  * hashes ([[Portable]]), so every stage is engine-reproducible
  * (DuckDB oracle in `graft.queries.Pipeline`).
  */
object DedupOps {

  /** Exact-duplicate groups: one row per distinct normalized content,
    * with the survivor id (min), copy count, and the hash key.
    */
  def exactGroups(docs: DataFrame, id: String, text: String): DataFrame =
    docs
      .select(col(id), TextOps.contentHash(col(text)).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** doc → exploded 3-gram shingle stream `(did, s)`, built with fully
    * codegen'd expressions: explode a position sequence, then
    * element_at + concat_ws. (The lambda formulation
    * `transform(sequence(...), i -> ...)` is a CodegenFallback and costs
    * ~35µs/shingle interpreted — 36× this path.) May emit duplicate
    * shingles per doc; callers needing set semantics dedup downstream
    * (min / collect_set are duplicate-insensitive).
    */
  private def shingleStream(docs: DataFrame, id: String, text: String): DataFrame =
    docs
      .select(col(id).as("did"), TextOps.tokens(col(text)).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("did"), col("w"),
        explode(sequence(lit(1), size(col("w")) - 2)).as("i"))
      .select(col("did"), expr(
        "concat_ws(' ', element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))"
      ).as("s"))

  /** All pairs (arr(i), arr(j)) with i < j from a (sorted) array column
    * `arr` of `df` — the bucket-local pair generator, emitted as columns
    * `(pa, pb)` of the element type. Two codegen'd Generates (posexplode,
    * then explode of the array's tail slice) — no interpreted lambdas.
    * Output volume is bounded by the caller's bucket cap, never by
    * O(n²) of the table.
    */
  private def explodePairs(df: DataFrame, arr: String): DataFrame =
    df.select(col(arr), posexplode(col(arr)).as(Seq("__i", "pa")))
      .select(col("pa"),
        explode(slice(col(arr), col("__i") + 2, size(col(arr)))).as("pb"))

  /** Document pairs by exact n-gram Jaccard similarity, via inverted
    * index grouped by shingle. `maxDf` drops shingles occurring in more
    * than that many docs (frequency cap = skew guard); `minJaccard`
    * filters the output.
    */
  def jaccardPairs(docs: DataFrame, id: String, text: String,
                   minJaccard: Double, maxDf: Int = 1000): DataFrame = {
    val ds = shingleStream(docs, id, text)
    // per-doc distinct-shingle counts (set semantics via distinct-agg)
    val sizes = ds.groupBy(col("did")).agg(countDistinct(col("s")).as("nsh"))
    // shuffle 1: posting list per shingle; collect_set dedups per-doc
    // repeats, sort → pairs come out a<b
    val buckets = ds
      .groupBy(col("s"))
      .agg(sort_array(collect_set(col("did"))).as("dids"))
      .filter(size(col("dids")).between(2, maxDf))
    // shuffle 2: co-occurrence count per candidate pair
    val inter = explodePairs(buckets, "dids")
      .groupBy(col("pa").as("a"), col("pb").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("did").as("a"), col("nsh").as("na")), "a")
      .join(sizes.select(col("did").as("b"), col("nsh").as("nb")), "b")
      .withColumn("jac", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= minJaccard)
      .select(col("a"), col("b"), col("inter"), col("jac"))
  }

  /** Asymmetric n-gram CONTAINMENT pairs: `containment(a in b) =
    * |Sa ∩ Sb| / |Sa|` — the quote/subset statistic symmetric Jaccard
    * misses (a short document fully quoted inside a long one has low
    * Jaccard but containment 1.0; decontamination cares about exactly
    * that shape). Same two bounded shuffles as [[jaccardPairs]]
    * (inverted index with the `maxDf` skew cap, then one pair-count
    * aggregation); both directions are emitted as EXACT ppm integers
    * (floor division), so the oracle hash-matches. Keeps pairs where
    * either direction reaches `minPpm`.
    */
  def containmentPairs(docs: DataFrame, id: String, text: String,
                       minPpm: Long, maxDf: Int = 1000): DataFrame = {
    val ds = shingleStream(docs, id, text)
    val sizes = ds.groupBy(col("did")).agg(countDistinct(col("s")).as("nsh"))
    val buckets = ds
      .groupBy(col("s"))
      .agg(sort_array(collect_set(col("did"))).as("dids"))
      .filter(size(col("dids")).between(2, maxDf))
    val inter = explodePairs(buckets, "dids")
      .groupBy(col("pa").as("a"), col("pb").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("did").as("a"), col("nsh").as("na")), "a")
      .join(sizes.select(col("did").as("b"), col("nsh").as("nb")), "b")
      .select(col("a"), col("b"), col("inter"), col("na"), col("nb"),
        expr("inter * 1000000 div na").as("cont_ab_ppm"),
        expr("inter * 1000000 div nb").as("cont_ba_ppm"))
      .filter(col("cont_ab_ppm") >= minPpm || col("cont_ba_ppm") >= minPpm)
  }

  /** MinHash signature: k affine hashes of one 32-bit shingle hash
    * ([[Portable.minhashJ]]), each min'd over the doc's distinct 3-gram
    * shingles. Columns m0..m{k-1}; docs with no shingles are absent.
    * One md5 per (doc, shingle), one shuffle total.
    */
  def minhashSignatures(docs: DataFrame, id: String, text: String, k: Int): DataFrame = {
    val hashed = shingleStream(docs, id, text)
      .select(col("did"), Portable.h32(col("s")).as("h"))
    val aggs = (0 until k).map(j => min(Portable.minhashJ(j, col("h"))).as(s"m$j"))
    hashed.groupBy(col("did").as(id)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band rows carrying the full signature: one row per (doc, band)
    * with the band hash (md5 of the band's signature slice) AND the
    * whole signature array `ms`, so candidate scoring never has to
    * re-join the signature table.
    */
  def lshBands(sig: DataFrame, id: String, k: Int, rowsPerBand: Int): DataFrame = {
    require(k % rowsPerBand == 0, "k must be divisible by rowsPerBand")
    val ms = array((0 until k).map(j => col(s"m$j")): _*)
    val bandStructs = array((0 until k / rowsPerBand).map { b =>
      val slice = (0 until rowsPerBand)
        .map(r => col(s"m${b * rowsPerBand + r}").cast("string"))
      struct(lit(b).as("band"), md5(concat_ws("|", slice: _*)).as("bh"))
    }: _*)
    sig
      .select(col(id).as("did"), ms.as("ms"), explode(bandStructs).as("bd"))
      .select(col("did"), col("ms"), col("bd.band").as("band"), col("bd.bh").as("bh"))
  }

  /** LSH candidate pairs: docs sharing ≥1 band, with the number of
    * agreeing bands and the signature-estimated Jaccard (fraction of
    * equal minhash components, computed from the ride-along signatures).
    */
  def lshCandidates(docs: DataFrame, id: String, text: String,
                    k: Int = 12, rowsPerBand: Int = 3): DataFrame =
    lshCandidatesFromSignatures(minhashSignatures(docs, id, text, k),
      id, k, rowsPerBand)

  /** [[lshCandidates]] over a PRECOMPUTED signature table — the entry
    * point for band-layout sweeps (p213): one signature pass (the
    * shingle+hash scan, the expensive part) feeds every (bands, rows)
    * layout, instead of each layout re-shingling the corpus.
    */
  def lshCandidatesFromSignatures(sig: DataFrame, id: String,
                                  k: Int = 12, rowsPerBand: Int = 3): DataFrame = {
    val bands = lshBands(sig, id, k, rowsPerBand)
    // shuffle 1: bucket per (band, bandHash); sorted by did → pairs a<b
    val buckets = bands
      .groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(struct(col("did"), col("ms")))).as("ds"))
      .filter(size(col("ds")) >= 2)
    // shuffle 2: count agreeing bands per pair (signatures ride along)
    val pairs = explodePairs(buckets, "ds")
      .groupBy(col("pa.did").as("a"), col("pb.did").as("b"))
      .agg(count(lit(1)).as("n_bands"),
        first(col("pa.ms")).as("ma"), first(col("pb.ms")).as("mb"))
    val eq = size(filter(zip_with(col("ma"), col("mb"),
      (u, v) => u === v), x => x))
    pairs.select(col("a"), col("b"), col("n_bands"),
      (eq.cast("double") / k).as("est_jaccard"))
  }

  /** 64-bit SimHash over distinct tokens (the standard fingerprint width,
    * Manku et al., WWW'07): bit i is set when the count of token-hashes
    * with bit i set exceeds those without. Per-token randomness comes
    * from TWO portable 32-bit hashes (bits 0-31 from `h32(w)`, bits
    * 32-63 from the salted `h32s(1, w)`), so every one of the 64 bits is
    * independently random and engine-reproducible.
    *
    * Output: `(id, simhash, qks)` where `qks` is the array of four
    * 16-bit pigeonhole band keys (bits 0-15, 16-31, 32-47, 48-63) —
    * 65,536 distinct values per band, precomputed here so the pair join
    * never shifts the (possibly negative) packed signature.
    *
    * Computing `qks` unconditionally is free for signature-only
    * consumers (p08 projects it away): Catalyst column-prunes the
    * band-key array out of the plan entirely — verified by plan
    * inspection (zero `qks` occurrences in p08's optimized plan) and
    * by measurement (p08 steady-state 0.82-0.97 s at sf0.1/local[32],
    * equal to the pre-qks r5 number; the r6 1.44 s bench sample was
    * host noise, not a plan change).
    */
  def simhash64(docs: DataFrame, id: String, text: String): DataFrame = {
    def bitOf(bit: Int): Column =
      if (bit < 32) shiftright(col("h1"), bit).bitwiseAND(1)
      else shiftright(col("h2"), bit - 32).bitwiseAND(1)
    val bitSums = (0 until 64).map(bit =>
      sum(when(bitOf(bit) === 1, 1).otherwise(-1)).as(s"s$bit"))
    // bit 63's weight is Long.MinValue; the fold adds it last, so every
    // partial sum stays in signed-64 range (no ANSI overflow)
    val packed = (0 until 64).map(bit =>
      when(col(s"s$bit") > 0, lit(1L << bit)).otherwise(lit(0L))).reduce(_ + _)
    val bandKeys = (0 until 4).map { q =>
      (0 until 16).map(r =>
        when(col(s"s${16 * q + r}") > 0, lit(1L << r)).otherwise(lit(0L)))
        .reduce(_ + _)
    }
    docs
      .select(col(id).as("did"),
        explode(array_distinct(TextOps.tokens(col(text)))).as("w"))
      .select(col("did"), Portable.h32(col("w")).as("h1"),
        Portable.h32s(1, col("w")).as("h2"))
      .groupBy(col("did"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("did").as(id), packed.as("simhash"), array(bandKeys: _*).as("qks"))
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming (≤ 3),
    * found scalably: hamming ≤ 3 over 64 bits ⇒ at least one 16-bit
    * band is identical (pigeonhole), so candidates come from buckets
    * keyed by (band, bandKey) — a 65,536-value key space per band (vs
    * the 16-value space of a 16-bit signature, which degenerates to
    * ~n²/16 pairs at scale). Pairs are generated bucket-locally from the
    * sorted member list (same inverted-index shape as [[jaccardPairs]]);
    * `maxBucket` caps bucket size (skew guard — one degenerate key can
    * never explode the fan-out). The 4 band streams are deduped by a
    * pair-key aggregation over the CAPPED candidates — a pair survives
    * if ANY surviving bucket contains it. (A keep-first-equal-band
    * filter would be shuffle-free but silently drops a pair whose first
    * equal band got capped while a later band's bucket survived; the
    * dedup shuffle is bounded by the cap, so correctness wins.)
    */
  /** Near-dup pairs over an ARBITRARY 64-bit signature column (SimHash,
    * pHash, …) at hamming ≤ `maxHamming` (≤ 3 for the pigeonhole
    * guarantee): the [[simhashPairs]] banding machinery factored over a
    * precomputed signature — 4 × 16-bit band keys, bucket-local pair
    * generation from the sorted member list, skew-capped buckets, exact
    * `bit_count` verification, dedup across bands.
    */
  def hammingPairs64(sig: DataFrame, id: String, hashCol: String,
                     maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    require(maxHamming <= 3, "pigeonhole recall guarantee needs <= 3")
    val blockArr = array((0 until 4).map(q =>
      struct(lit(q).as("q"),
        shiftrightunsigned(col(hashCol), q * 16).bitwiseAND(0xffffL)
          .as("qk"))): _*)
    val blocks = sig
      .select(col(id).as("did"), col(hashCol).as("sh"),
        explode(blockArr).as("blk"))
      .select(col("did"), col("sh"), col("blk.q").as("q"),
        col("blk.qk").as("qk"))
    val buckets = blocks
      .groupBy(col("q"), col("qk"))
      .agg(sort_array(collect_list(struct(col("did"), col("sh")))).as("ds"))
      // no-silent-caps: dropped oversized buckets surface as an
      // observed metric (the simhashPairs discipline)
      .observe("graft_hamming64_buckets",
        sum(when(size(col("ds")) > maxBucket, 1).otherwise(0))
          .as("dropped_oversized"))
      .filter(size(col("ds")).between(2, maxBucket))
    explodePairs(buckets, "ds")
      .select(col("pa.did").as("a"), col("pb.did").as("b"),
        expr("bit_count(pa.sh ^ pb.sh)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("a"), col("b"))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** RECALL CONTRACT (ADVICE r20): the fixed 4×16-bit band split
    * guarantees full recall only for `maxHamming` ≤ 3 (pigeonhole: ≤ 3
    * flipped bits cannot touch all 4 bands). Callers passing a wider
    * threshold (SharedStages' ≤ 8 capture) get a best-effort CANDIDATE
    * set for hamming 4..8 — pairs whose every band differs are missed.
    * That is exactly what the existing curve/dendrogram consumers
    * (p196, p227) define as their semantics (banded capture, shared
    * with the oracle's identical CTE), but a new caller wanting
    * guaranteed recall above 3 must band differently.
    */
  def simhashPairs(docs: DataFrame, id: String, text: String,
                   maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    val sh = simhash64(docs, id, text)
    val blockArr = array((0 until 4).map(q =>
      struct(lit(q).as("q"), element_at(col("qks"), q + 1).as("qk"))): _*)
    val blocks = sh
      .select(col(id).as("did"), col("simhash"), explode(blockArr).as("blk"))
      .select(col("did"), col("simhash"), col("blk.q").as("q"), col("blk.qk").as("qk"))
    // pair-generating shuffle: bucket per (band, key), members sorted by
    // did → pairs come out a<b; oversized buckets dropped
    val buckets = blocks
      .groupBy(col("q"), col("qk"))
      .agg(sort_array(collect_list(struct(col("did"), col("simhash")))).as("ds"))
      // no-silent-caps: the skew guard voids the pigeonhole recall
      // guarantee for pairs whose every equal band lands in an oversized
      // bucket — surface the drop count as an observed metric
      // (QueryExecutionListener / Observation) so recall loss under skew
      // is measurable, not invisible
      .observe("graft_simhash_buckets",
        sum(when(size(col("ds")) > maxBucket, 1).otherwise(0))
          .as("dropped_oversized"))
      .filter(size(col("ds")).between(2, maxBucket))
    buckets
      .select(col("ds"), posexplode(col("ds")).as(Seq("__i", "pa")))
      .select(col("pa"),
        explode(slice(col("ds"), col("__i") + 2, size(col("ds")))).as("pb"))
      .select(col("pa.did").as("a"), col("pb.did").as("b"),
        expr("bit_count(pa.simhash ^ pb.simhash)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      // dedup shuffle over ≤ 4 occurrences per pair, volume bounded by
      // the bucket cap (hamming is a function of the pair → min == value)
      .groupBy(col("a"), col("b"))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** Connected components over an undirected pair list `(a, b)` —
    * the step that turns near-dup PAIRS (jaccardPairs / lshCandidates /
    * simhashPairs / embedding near-dups) into duplicate CLUSTERS, so a
    * survivor can be picked per cluster.
    *
    * Algorithm: distributed min-label propagation with pointer jumping.
    * Each round every node (1) hooks to the minimum label in its closed
    * neighborhood, then (2) jumps: `lbl := lbl(lbl)`, halving the depth
    * of every label chain. Hook alone needs O(diameter) rounds (a path
    * graph degenerates to O(n)); the jump makes convergence
    * O(log diameter) — the Shiloach–Vishkin shape, all bounded shuffles
    * on the node key. NEVER a driver-side union-find: no component, node
    * list, or edge list is ever collected.
    *
    * Per round: one join edges⋈labels + one groupBy (hook), one
    * self-join (jump), one short-circuit `limit(1)` existence check for
    * convergence. `localCheckpoint` truncates lineage each round so the
    * plan does not grow with iterations (which would re-execute every
    * prior round at each action — the classic iterative-DataFrame trap).
    *
    * Returns one row per node appearing in `pairs`: (n, lbl) where lbl
    * is the component's minimum node id. Nodes with no pairs are absent;
    * callers coalesce to self-labels (see p29).
    */
  def connectedComponents(pairs: DataFrame, a: String = "a", b: String = "b",
                          maxIter: Int = 25, loopPartitions: Int = 8): DataFrame =
    connectedComponentsWithRounds(pairs, a, b, maxIter, loopPartitions)._1

  /** Edge-count ceiling for the batch-local CC path (guide §8 "decide
    * with small rows", r21): a pair graph with at most this many edges
    * is labeled in ONE bounded job (fetch the edges, min-label
    * union-find on the driver, return a LocalRelation) instead of the
    * multi-round distributed fixpoint, whose per-round cost at fixture
    * scale is pure stage/scheduling overhead (~0.7-1.2 s/round measured
    * r20) over near-empty exchanges. The fetch is the proof: the local
    * path is taken only after `limit(max+1)` actually returned ≤ max
    * rows, so driver memory is bounded by construction (~50 MB at the
    * default 1M edges). Larger graphs fall through to the distributed
    * Shiloach–Vishkin loop unchanged — at 100 TB the near-dup pair
    * graph exceeds any driver bound and ONLY the distributed path runs;
    * the env knob lets a fleet deployment lower the ceiling (or 0 to
    * disable the local path outright).
    */
  private[graft] val ccLocalMaxEdges: Int =
    sys.env.get("SPARK_GRAFT_CC_LOCAL_MAX").flatMap(_.toIntOption)
      .getOrElse(1000000)

  /** Driver-side min-label union-find over a fetched edge list —
    * identical output contract to the distributed fixpoint: one row per
    * distinct endpoint, labeled with its component's minimum node id.
    * Path-compressed finds; roots merge toward the smaller id, so the
    * root IS the component min throughout.
    */
  private def localMinLabel(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { x = p; p = parent.getOrDefault(x, x) }
      // path compression back down the chain
      var y = x0
      while (y != x) { val n = parent.get(y); parent.put(y, x); y = n }
      x
    }
    edges.foreach { case (u, v) =>
      parent.putIfAbsent(u, u)
      parent.putIfAbsent(v, v)
      val ru = find(u); val rv = find(v)
      if (ru != rv) {
        if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
      }
    }
    val out = Seq.newBuilder[(Long, Long)]
    parent.keySet().forEach(n => out += ((n, find(n))))
    // deterministic row order: the HashMap iterates in hash order, which
    // could differ across JVMs; downstream consumers are order-
    // insensitive (joins/aggregates) but a sorted LocalRelation keeps
    // materialized outputs (SharedStages labels files) bit-stable
    out.result().sortBy(_._1)
  }

  /** [[connectedComponents]] plus the number of rounds it took to
    * converge — exposed so tests can assert the O(log diameter) bound.
    * Throws if `maxIter` rounds pass without convergence (an unconverged
    * labeling silently under-merges clusters; failing loudly wins).
    * `localMaxEdges` gates the batch-local small-graph path (0 rounds
    * reported); tests of the distributed loop pass 0 to force it.
    */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, a: String, b: String, maxIter: Int,
      loopPartitions: Int = 8,
      localMaxEdges: Int = ccLocalMaxEdges): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    val edges = pairs.select(col(a).cast("long").as("u"), col(b).cast("long").as("v"))
    if (localMaxEdges > 0) {
      // bounded probe: CollectLimit scans incrementally and never
      // returns more than max+1 rows, so both the job and the driver
      // allocation are capped whatever the true graph size is. When the
      // graph IS small (every fixture-scale consumer: the contracted
      // per-batch graphs of p162/p163, p227's lifted 5-cut graph, the
      // SharedStages label builds), this single job replaces the whole
      // fixpoint — init + N×(checkpoint + convergence scan) jobs whose
      // cost was measured (r20, OPTIMIZATION_r20.md) to be per-stage overhead, not
      // data. A graph over the cap pays one partial scan and runs the
      // unchanged distributed loop.
      val probe = edges.limit(localMaxEdges + 1).collect()
      if (probe.length <= localMaxEdges) {
        import spark.implicits._
        val arr = probe.map(r => (r.getLong(0), r.getLong(1)))
        val labels = localMinLabel(arr).toDF("n", "lbl")
        return (labels, 0)
      }
    }
    // symmetrized + deduped once, reused every round. MATERIALIZED as a
    // checkpoint rather than persist()ed: a cached plan would embed the
    // whole upstream pipeline (as InMemoryRelation → nested adaptive
    // plans) into every round's plan tree, and each AQE plan-update
    // event then re-walks that nested tree to build its explain/
    // SparkPlanInfo — measured at 10-100+ s per ROUND on a deep pairs
    // pipeline. A checkpointed edge list is an opaque LogicalRDD, so
    // every round's plan stays a few nodes deep no matter what produced
    // the pairs. (Production swaps localCheckpoint for a reliable
    // checkpoint; either way the iteration must not re-plan upstream.)
    // The loop body is 5+ shuffles per round over a pair graph that is
    // ORDERS of magnitude smaller than the corpus (near-dup pairs, not
    // documents), so per-round task-launch overhead dominates unless
    // the loop's shuffle width matches the GRAPH size, not the corpus
    // default — the same sizing rule runToMemory applies to streaming
    // state stores. The width is pinned with EXPLICIT
    // `repartition(loopPartitions, key)` at each loop shuffle point
    // (never by mutating the session's shuffle-partitions conf, which
    // would silently re-plan any concurrent query on the same session
    // at loop width). Each explicit repartition REPLACES the exchange
    // the downstream join/agg would have inserted — the planner sees
    // the required hash partitioning already present — so the shuffle
    // count per round is unchanged. The upstream pair pipeline keeps
    // the session width; only post-checkpoint loop relations narrow. A
    // fleet run on a billion-edge graph passes a larger loopPartitions.
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .repartition(loopPartitions, col("v")) // baked into the checkpoint once; every round's join reuses it
      .localCheckpoint()
    // hook: adopt the minimum label over {self} ∪ neighbors. The
    // round-start label rides along as `old` (min ignores the nulls on
    // neighbor rows; only the self row carries it) so the fixpoint test
    // reads the materialized checkpoint with NO extra join.
    def hook(lbls: DataFrame): DataFrame = {
      val nbr = sym.join(lbls.select(col("n").as("v2"), col("lbl"))
            .repartition(loopPartitions, col("v2")),
          col("v") === col("v2"))
        .select(col("u").as("n"), col("lbl"), lit(null).cast("long").as("old"))
      lbls.union(nbr).repartition(loopPartitions, col("n")).groupBy(col("n"))
        .agg(min(col("lbl")).as("lbl"), min(col("old")).as("old"))
    }
    // dev-only per-round timing (GRAFT_CC_DEBUG=1)
    val dbg = sys.env.contains("GRAFT_CC_DEBUG")
    var tt = System.nanoTime()
    def lap(tag: String): Unit = if (dbg) {
      println(f"[cc] $tag: ${(System.nanoTime() - tt) / 1e9}%.2fs")
      tt = System.nanoTime()
    }
    var labels = sym.select(col("u").as("n"))
      .repartition(loopPartitions, col("n")).distinct()
      .select(col("n"), col("n").as("lbl")).localCheckpoint()
    lap("init")
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIter) {
      rounds += 1
      // TWO hook steps per round, then one jump. Measured on the sf0.1
      // SimHash pair graph: label flow is bounded by hook-distance in
      // the graph (extra JUMPS compress pointer chains but those stay
      // shallow because hook already takes the neighborhood min), so a
      // second hook halves the round count — and each round is a fixed
      // Spark job/codegen overhead that dwarfs the data at any fixture
      // size, while at 100 TB both hooks are the same bounded shuffles.
      // (r20 note: checkpointing h2 — the jump reads it through two
      // differently-keyed exchanges — was measured at parity with the
      // re-evaluation it avoids (3.17 vs 3.09 s best-of-6 on the sf0.1
      // graph), so the extra materialization job is not kept)
      val h2 = hook(hook(labels.select(col("n"), col("lbl"),
        col("lbl").as("old"))))
      // jump: lbl := lbl(lbl), Shiloach–Vishkin pointer halving — keeps
      // pathological chain graphs (see the path-16 spec) logarithmic.
      // Labels are always node ids of the same component, so the lookup
      // hits (left + coalesce only for safety).
      val m1 = h2.select(col("n").as("j1"), col("lbl").as("l1"))
        .repartition(loopPartitions, col("j1"))
      val hr = h2.repartition(loopPartitions, col("lbl"))
      val jumped = hr.join(m1, hr("lbl") === col("j1"), "left")
        .select(hr("n"), coalesce(col("l1"), hr("lbl")).as("lbl"), col("old"))
        .localCheckpoint()
      lap(s"round $rounds ckpt")
      // fixpoint test: a shuffle-free scan over the checkpointed rows.
      // (r20 note: fusing this into the checkpoint job via an observed
      // metric was tried and reverted — Observation delivery rides the
      // async listener bus, which lags multi-seconds behind after job
      // storms, so the "saved" 0.05 s action occasionally became a 30 s
      // wait inside foreachBatch. The explicit cached scan is bounded.)
      converged = jumped.filter(col("lbl") =!= col("old")).isEmpty
      lap(s"round $rounds check")
      labels = jumped.select(col("n"), col("lbl"))
    }
    require(converged,
      s"connectedComponents did not converge within $maxIter rounds")
    (labels, rounds)
  }

  /** Incremental (ingest-time) near-dup screening: for each INCOMING
    * doc, its SimHash near-dup candidates among the EXISTING corpus —
    * the asymmetric form of [[simhashPairs]]. A production ingest never
    * re-pairs the corpus against itself; the incoming batch's bands
    * probe the (pre-banded, at scale pre-bucketed) corpus, so the join
    * is |batch| × bucket-width, not |corpus|².
    *
    * Banding is identical to [[simhashPairs]] (hamming ≤ 3 over 64 bits
    * ⇒ some 16-bit band equal, pigeonhole), and `maxBucket` caps the
    * EXISTING side's bucket per (band, key) — one degenerate corpus key
    * can never explode an ingest. Every incoming doc appears in the
    * output exactly once: (id, n_dups = distinct existing partners at
    * hamming ≤ maxHamming, min_hamming, is_dup), min_hamming = -1 when
    * no candidate survived.
    */
  /** The banded incoming-vs-corpus near-dup EDGE list underlying
    * [[incrementalNearDups]] — exposed separately so incremental
    * cluster maintenance (p162) can consume the same edges the ingest
    * verdict is built from: (in_id, ex_id, hamming), any-surviving-band
    * deduped, corpus-side buckets capped at `maxBucket`.
    */
  private def ingestBands(sh: DataFrame, id: String,
                          side: String): DataFrame = {
    val blockArr = array((0 until 4).map(q =>
      struct(lit(q).as("q"), element_at(col("qks"), q + 1).as("qk"))): _*)
    sh.select(col(id).as(s"${side}_id"), col("simhash").as(s"${side}_sh"),
        explode(blockArr).as("blk"))
      .select(col(s"${side}_id"), col(s"${side}_sh"),
        col("blk.q").as("q"), col("blk.qk").as("qk"))
  }

  /** The standing corpus's capped band table
    * `(ex_id, ex_sh, q, qk)` — the index an ingest probe hits. At
    * 100 TB (and in the p163 streaming fold) this is MATERIALIZED
    * once and every batch probes it; re-banding the corpus per batch
    * would put the corpus scan back on the per-ingest path.
    */
  def corpusBands(existing: DataFrame, id: String, text: String,
                  maxBucket: Int = 1000): DataFrame = {
    val ex = ingestBands(simhash64(existing, id, text), id, "ex")
    // skew guard on the corpus side: a (band, key) bucket wider than
    // maxBucket is dropped wholesale (same no-silent-degenerate-key
    // contract as simhashPairs; the 4-band any-bucket dedup below keeps
    // a pair alive if ANY of its equal bands survived)
    ex.withColumn("bw", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("q"), col("qk"))))
      .filter(col("bw") <= maxBucket).drop("bw")
  }

  /** [[incrementalPairs]] against a pre-built (materialized) corpus
    * band table from [[corpusBands]].
    */
  def incrementalPairsPreBanded(exCapped: DataFrame, incoming: DataFrame,
                                id: String, text: String,
                                maxHamming: Int = 3): DataFrame = {
    val in = ingestBands(simhash64(incoming, id, text), id, "in")
    in.join(exCapped, Seq("q", "qk"))
      .filter(col("in_id") =!= col("ex_id"))
      .select(col("in_id"), col("ex_id"),
        expr("bit_count(in_sh ^ ex_sh)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      // any-surviving-band dedup
      .distinct()
  }

  def incrementalPairs(existing: DataFrame, incoming: DataFrame,
                       id: String, text: String,
                       maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame =
    incrementalPairsPreBanded(corpusBands(existing, id, text, maxBucket),
      incoming, id, text, maxHamming)

  def incrementalNearDups(existing: DataFrame, incoming: DataFrame,
                          id: String, text: String,
                          maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame =
    incrementalNearDupsPreBanded(corpusBands(existing, id, text, maxBucket),
      incoming, id, text, maxHamming)

  /** [[incrementalNearDups]] against a pre-built (materialized) corpus
    * band table from [[corpusBands]] — the r21 reroute for p122/p152:
    * the standing corpus's banding is a shared materialized table
    * (SharedStages), so an ingest verdict pays only the |batch| ×
    * bucket-width probe join, never a fresh corpus scan + band pass.
    * Row-identical to the self-building form by construction (the band
    * table rows are the same; only where they come from changes).
    */
  def incrementalNearDupsPreBanded(exCapped: DataFrame, incoming: DataFrame,
                                   id: String, text: String,
                                   maxHamming: Int = 3): DataFrame = {
    val hits = incrementalPairsPreBanded(exCapped, incoming, id, text,
        maxHamming)
      .groupBy(col("in_id"))
      .agg(count(lit(1)).as("n_dups"), min(col("hamming")).as("min_hamming"))
    incoming.select(col(id).as("in_id"))
      .join(hits, Seq("in_id"), "left")
      .select(col("in_id").as(id),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("min_hamming"), lit(-1L)).as("min_hamming"),
        when(col("n_dups").isNotNull, 1L).otherwise(0L).as("is_dup"))
  }
}
