package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Entity resolution / record linkage: find records that refer to the
  * same real-world entity despite textual drift (typos, re-keyed ids,
  * format changes). The classic two-phase shape:
  *
  *   1. BLOCKING — candidate generation by an equi key (nation, zip
  *      prefix, phonetic code): only records sharing a block are ever
  *      compared, turning the O(n²) cross product into a keyed
  *      self-join whose cost is Σ blockSize².
  *   2. VERIFICATION — exact pairwise edit distance (codegen'd
  *      `levenshtein`) inside each block, thresholded.
  *
  * Scale posture: the join shuffles ids+strings once on the block key;
  * `maxBlock` is a PLAN SWITCH, not a semantic cap. Blocks at or under
  * it take the segment-salted quadratic verify (cheapest when
  * blockSize² is affordable); blocks OVER it switch to exact
  * deletion-neighborhood candidate generation (SymSpell's invariant:
  * lev(a,b) <= d implies a and b share a string reachable by <= d
  * deletions from each — proof: take an optimal edit script with s
  * substitutions, i insertions, e deletions, s+i+e <= d; removing the
  * substituted+deleted chars from a and the substituted+inserted chars
  * from b leaves the same matched subsequence, <= d deletions per
  * side), so the output is the full uncapped pair set at every block
  * size. The sf3 tier jump caught why this matters: a drop-whole cap
  * zeroed the query the moment blocks crossed it (450k customers / 25
  * nations = 18k per block > 10000 — hash-green against a cap-mirroring
  * oracle, and semantically empty). Only for maxDist > 2 — where the
  * deletion neighborhood grows O(len^maxDist) — are oversized blocks
  * still dropped whole (the legacy skew guard, documented lossy and
  * observed via the shared CapMetrics counter, never silent).
  * Real deployments run several blocking passes with different keys and
  * union the pairs; one pass is the verified building block.
  */
object Linkage {

  /** All within-block record pairs at edit distance <= maxDist.
    * Output: (id_a, id_b, dist) with id_a < id_b — symmetric pairs
    * appear once, self-pairs never. Exact and uncapped for
    * maxDist <= 2: `maxBlock` only picks the plan (quadratic verify
    * vs deletion-neighborhood join — see the object doc); for
    * maxDist > 2 oversized blocks are dropped whole (legacy guard,
    * OBSERVED: a CapMetrics counter WARN-logs every dropped block, so
    * the lossy configuration can never lose rows silently).
    *
    * PRECONDITION: `id` must be unique per record. The two plans agree
    * only under unique ids — the deletion-neighborhood path dedups on
    * (id_a, id_b) (any surviving instance of a pair carries the same
    * dist, which holds only when an id names one text), while the
    * quadratic path emits one row per record instance. With duplicate
    * ids the paths diverge silently; callers own the key contract.
    *
    * The self-join is ADAPTIVELY SEGMENT-SALTED: the block count can be
    * tiny (25 nations, 50 states) no matter how big the data, so joining
    * on the block key alone caps parallelism at #blocks — one straggler
    * task per block doing the whole O(blockSize²) verify. Each block's
    * segment count is derived from its (already computed) size —
    * `min(segments, ceil(size/256))` — so small blocks pay ZERO
    * replication and only oversized blocks fan out: the b-side row gets
    * a deterministic segment `hash(id) mod k(block)`, the a-side
    * replicates across that block's k segments, and the join key is
    * (block, segment). Every pair still matches exactly once (on the
    * a-copy carrying the b-row's segment), and a block's pair work
    * splits into k independent join keys. The ×128 probe with
    * plentiful Poisson(10) blocks showed why adaptivity matters: a
    * FLAT ×16 salt more than doubled its wall time for nothing.
    *
    * Both sides use an EXPLICIT `repartition(n, keys)`: this is an
    * expanding join (tiny shuffle input, huge output), so AQE's
    * byte-based partition coalescing would collapse the small input
    * shuffle to one partition and serialize the verify regardless of
    * key count. REPARTITION_BY_NUM exchanges are exempt from AQE
    * coalescing, and the join reuses them (same keys, same count) with
    * no extra exchange. */
  def blockedFuzzyPairs(df: DataFrame, id: Column, block: Column,
                        text: Column, maxDist: Int,
                        maxBlock: Int = 10000,
                        segments: Int = 16,
                        prefixLen: Int = 32): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(maxBlock >= 2, s"maxBlock must be >= 2, got $maxBlock")
    require(segments >= 1, s"segments must be >= 1, got $segments")
    require(prefixLen >= 1, s"prefixLen must be >= 1, got $prefixLen")
    val t = df.select(block.as("blk"), id.as("rid"), text.as("txt"))
    val bsizes = t.groupBy("blk").agg(count(lit(1)).as("_bn"))
    // the maxDist > 2 path DROPS oversized blocks (legacy skew guard) —
    // observe the drop like every other capped family, so the loss is
    // WARN-logged instead of silent (maxDist <= 2 drops nothing: the
    // deletion-neighborhood plan is exact, no observe needed)
    val counted = t.join(
      if (maxDist > 2) Dedup.observeCap(bsizes, col("_bn"), maxBlock,
        what = "block")
      else bsizes, Seq("blk"))
    val sized = counted.filter(col("_bn") <= maxBlock)
    // per-block segment count: 1 for blocks under 256 rows, capped at
    // `segments`; both sides derive it from the same _bn so the keys agree
    val segOf = least(lit(segments.toLong),
      greatest(lit(1L), ceil(col("_bn").cast("double") / 256d).cast("long")))
    val a = sized.select(col("blk"), col("rid").as("id_a"),
      col("txt").as("txt_a"),
      explode(sequence(lit(0L), segOf - 1)).as("_seg"))
    val b = sized.select(col("blk"), col("rid").as("id_b"),
      col("txt").as("txt_b"),
      pmod(xxhash64(col("rid")), segOf).as("_seg"))
    // exploded-row-aware width (floors at the session default): the
    // segment-replicated verify join scales with the record count, and a
    // cluster-sized corpus must not funnel it through a core-count width
    val parts = Sizing.explodedShuffleParts(df, bytesPerRow = 30L)
    val smallPairs = a.repartition(parts, col("blk"), col("_seg"))
      .join(b.repartition(parts, col("blk"), col("_seg")),
        Seq("blk", "_seg"))
      .filter(col("id_a") < col("id_b"))
      // 3-arg levenshtein runs the BANDED DP — O(len·maxDist) per pair
      // instead of O(len²), and returns -1 past the threshold
      .withColumn("dist",
        levenshtein(col("txt_a"), col("txt_b"), maxDist).cast("long"))
      .filter(col("dist").between(0, maxDist))
      .select("id_a", "id_b", "dist")
    if (maxDist > 2) smallPairs  // drop-whole guard (lossy, observed above)
    else {
      val big = counted.filter(col("_bn") > maxBlock)
        .select(col("blk"), col("rid"), col("txt"))
      smallPairs.unionByName(
        deletionNeighborhoodPairs(df, big, maxDist, prefixLen))
    }
  }

  /** All distinct variants of `s` reachable by deleting up to `maxDist`
    * (<= 2) characters — the SymSpell candidate alphabet. Pure codegen'd
    * expression tree (sequence/transform/substr/flatten), no UDF: size
    * 1 + L + L(L-1)/2 (~172 for an 18-char name), constant per row, so
    * the explode it feeds scales linearly with the corpus. */
  private[graft] def deletionVariants(s: Column, maxDist: Int): Column = {
    require(maxDist >= 0 && maxDist <= 2,
      s"deletion neighborhood supported for maxDist 0..2, got $maxDist")
    val L = length(s)
    val none = array_repeat(s, 0) // typed empty array<string>
    def del1(i: Column): Column = // delete 1-based position i
      concat(s.substr(lit(1), i - 1), s.substr(i + 1, L))
    def del2(i: Column, j: Column): Column = // delete positions i < j
      concat(s.substr(lit(1), i - 1), s.substr(i + 1, j - i - 1),
        s.substr(j + 1, L))
    val d1 = when(L >= 1, transform(sequence(lit(1), L), del1(_)))
      .otherwise(none)
    val d2 = when(L >= 2, flatten(transform(sequence(lit(1), L - 1),
        i => transform(sequence(i + 1, L), j => del2(i, j)))))
      .otherwise(none)
    maxDist match {
      case 0 => array(s)
      case 1 => array_distinct(concat(array(s), d1))
      case _ => array_distinct(concat(array(s), d1, d2))
    }
  }

  /** Exact within-block lev <= maxDist pairs for blocks too big to
    * verify quadratically: explode each record into the deletion
    * variants of its first `prefixLen` chars (hashed to 8-byte keys — a
    * hash collision only adds a candidate the verify kills), equi-join
    * on (block, variantHash), verify the FULL texts with the banded DP,
    * then dedup. Everything is keyed — no cartesian, no per-bucket
    * arrays — and the explode factor is bounded at ~P²/2 variants of
    * <= P chars per record (P = prefixLen), so per-row cost is a
    * CONSTANT O(P³) bytes however long the text — arbitrary-length
    * text columns cannot blow up variant generation (ADVICE r14).
    *
    * PREFIX KEYING IS STILL EXACT (SymSpell's prefix scheme). Proof:
    * take an optimal <= d edit script for (a, b) and its matched-pair
    * alignment p_1<…<p_t ↔ q_1<…<q_t (a(p_j) = b(q_j)). Let m be the
    * matched pairs with BOTH p_j < P and q_j < P — a common
    * subsequence of both prefixes. prefix_P(a) loses only (i) its <= s+e
    * unmatched positions and (ii) boundary-crossing pairs p_j < P <= q_j,
    * which need q_j − p_j >= 1 net insertions so number <= i; total
    * <= s+e+i = lev(a,b) <= d. Symmetrically prefix_P(b) loses <= s+i+e
    * <= d (crossings there consume deletions). So m is reachable by
    * <= d deletions from BOTH prefixes and the key sets intersect, for
    * ANY P >= 1. Verified exhaustively (alphabet 2–3, len <= 9, P 3–5,
    * d <= 2) and by the long-text property spec. Shorter P = cheaper
    * variants but coarser keys: texts sharing a P-prefix all collide,
    * and the candidate volume for such clusters is quadratic — sized
    * so registered name-like corpora (<= 32 chars) key on the full
    * string. Identical texts share the whole ~P²/2 variant set, so
    * duplicate-heavy blocks produce truePairs × ~P²/2 pre-dedup join
    * rows — which is why dedup runs AFTER the cheap verify on 3-column
    * rows rather than shuffling the texts (identical-text buckets stay
    * quadratic in their TRUE pair count — output-bound, same posture
    * as [[Dedup.bucketPairs]] verify). */
  private def deletionNeighborhoodPairs(src: DataFrame, recs: DataFrame,
                                        maxDist: Int,
                                        prefixLen: Int): DataFrame = {
    // ~P²/2 variant rows per record each <= P bytes; width from the
    // ORIGINAL frame's leaf stats (recs sits behind the block-count
    // join, whose size-only estimate is a child PRODUCT — the r13
    // width pathology)
    val parts = Sizing.explodedShuffleParts(src, bytesPerRow = 1L)
    val v = recs.filter(col("txt").isNotNull)
      .select(col("blk"), col("rid"), col("txt"),
        explode(deletionVariants(
          substring(col("txt"), 1, prefixLen), maxDist)).as("_v"))
      .select(col("blk"), col("rid"), col("txt"),
        xxhash64(col("_v")).as("_vh"))
    val a = v.select(col("blk"), col("_vh"), col("rid").as("id_a"),
      col("txt").as("txt_a"))
    val b = v.select(col("blk"), col("_vh"), col("rid").as("id_b"),
      col("txt").as("txt_b"))
    a.repartition(parts, col("blk"), col("_vh"))
      .join(b.repartition(parts, col("blk"), col("_vh")), Seq("blk", "_vh"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist",
        levenshtein(col("txt_a"), col("txt_b"), maxDist).cast("long"))
      .filter(col("dist").between(0, maxDist))
      // dedup on the id pair: dist is a function of the pair, so any
      // surviving instance carries the same value
      .select("id_a", "id_b", "dist")
      .repartition(parts, col("id_a"), col("id_b"))
      .dropDuplicates(Seq("id_a", "id_b"))
  }

  /** Sorted-neighborhood linkage — the complementary candidate generator
    * to [[blockedFuzzyPairs]]: globally sort records by the comparison
    * key itself and compare each record to its next `window` neighbors
    * in that order. Catches matches that equi-key blocking splits (a
    * typo IN the blocking key) at Σ n·window comparisons.
    *
    * Scale: the global order comes from
    * [[Relational.globalRowNumber]] (range shuffle + per-partition rank
    * + offset merge — NO single-partition window), and the neighbor
    * join is a bin equi-join: rows land in rank bins of width `window`,
    * the left side duplicates into its own and the next bin, and the
    * exact `0 < Δrank <= window` predicate filters after — the same
    * re-key-the-non-equi-join pattern as [[RangeJoin]].
    * Output: (id_a, id_b, dist), the pair ordered by rank. */
  def sortedNeighborPairs(df: DataFrame, id: Column, text: Column,
                          window: Int, maxDist: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val ranked = Relational.globalRowNumber(
      df.select(id.as("rid"), text.as("txt")),
      Seq(col("txt"), col("rid")), alias = "rn")
    val a = ranked
      .select(col("rn").as("rn_a"), col("rid").as("id_a"),
        col("txt").as("txt_a"),
        explode(array(lit(0L), lit(1L))).as("_d"))
      .withColumn("_bin", floor(col("rn_a") / window) + col("_d"))
      .drop("_d")
    val b = ranked.select(col("rn").as("rn_b"), col("rid").as("id_b"),
      col("txt").as("txt_b"), floor(col("rn_b") / window).as("_bin"))
    a.join(b, Seq("_bin"))
      .filter(col("rn_b") > col("rn_a") &&
        col("rn_b") <= col("rn_a") + window)
      .withColumn("dist",
        levenshtein(col("txt_a"), col("txt_b"), maxDist).cast("long"))
      .filter(col("dist").between(0, maxDist))
      // no dedup needed: for any pair bin_b - bin_a is one value in
      // {0, 1}, matched by exactly one of the two left-side copies
      .select("id_a", "id_b", "dist")
  }
}
