package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph operators over edge lists — the step that turns pairwise
  * similarity output (minhash/simhash/embedding dup PAIRS) into usable
  * dedup CLUSTERS: connected components with a canonical representative
  * (min id) per component, from which a keep/drop list is one filter
  * (`id === comp` keeps).
  *
  * [[connectedComponents]] is the one components entry. It routes between
  * two algorithms, both Pregel semantics expressed as DataFrame joins:
  *  - min-label propagation (each round every node adopts the smallest
  *    label in its closed neighborhood, one equi-join + one groupBy-min
  *    over the edge list, a one-row convergence sum per round). Rounds
  *    needed = eccentricity of the min-id node within its component;
  *    near-dup clusters are near-cliques, so 2–3 rounds in practice;
  *  - alternating large-star/small-star contraction ([[starContraction]],
  *    O(log² n) rounds on any diameter), for the adversarial long-chain
  *    graphs where label propagation pays one round per hop.
  */
object Graph {

  /** (id, comp) for every node in `edges`, comp = min node id reachable.
    * Edges are treated as undirected; isolated nodes (absent from the
    * edge list) are not emitted.
    *
    * Routing: min-label propagation under a fixed [[LpBudget]]-round
    * budget; if the fixpoint is not reached, the graph has a long path —
    * the partial labels are discarded (never returned: one real cluster
    * reported as several means duplicate keepers downstream) and star
    * contraction runs instead. The common dedup graph is near-clique
    * (minhash clusters, 2–4 propagation rounds at about half a star
    * round's cost each; always-star measured 4.85 s vs 2.83 s label
    * propagation isolated on the sf0.1 cluster_safe_splits chain, r10→r11
    * adjudication), so it never pays the star premium; an adversarial
    * transitive-boilerplate chain pays the budget's cheap rounds (~20% of
    * its star cost). Both routes share one lineage-cut edge list, so the
    * expensive upstream (minhash etc.) runs once regardless of route. */
  def connectedComponents(edges: DataFrame, src: Column, dst: Column)
      : DataFrame =
    connectedComponentsRouted(edges, src, dst)._1

  /** Label-propagation rounds [[connectedComponents]] spends before it
    * re-routes to star contraction. */
  private val LpBudget = 8

  /** [[connectedComponents]] plus the route taken ("lp" | "star") — the
    * spec entry point pinning the routing rule. */
  private[graft] def connectedComponentsRouted(edges: DataFrame, src: Column,
      dst: Column, lpBudget: Int = LpBudget): (DataFrame, String) = {
    require(lpBudget > 0, s"lpBudget must be positive, got $lpBudget")
    // cut the caller's lineage ONCE before symmetrization: both union
    // branches reference the edge list, and similarity-pair inputs carry
    // an expensive pipeline (minhash etc.) that would otherwise run twice
    // inside the first materialization job
    val base = cutEdges(edges, src, dst)
    val (lp, converged) = labelPropagation(base, lpBudget)
    // the losing route's cuts go; star labels still read base
    if (converged) { Checkpoints.release(base); (lp, "lp") }
    else { Checkpoints.release(lp); (starContraction(base, StarMaxIter)._1, "star") }
  }

  /** The (a, b) long edge list every component operator starts from,
    * behind one lineage cut. */
  private def cutEdges(edges: DataFrame, src: Column, dst: Column): DataFrame =
    Checkpoints.cut(edges.select(src.cast("long").as("a"), dst.cast("long").as("b")))

  /** Min-label propagation over a pre-normalized, lineage-cut (a, b) edge
    * list: (labels, reached-fixpoint). Labels are PARTIAL when the flag is
    * false — [[connectedComponentsRouted]] discards them and re-routes.
    * The labels are the only cut left behind; `base` stays the caller's. */
  private def labelPropagation(base: DataFrame, maxIter: Int)
      : (DataFrame, Boolean) = {
    // closed neighborhood via explicit self-loops: each round is then ONE
    // equi-join + ONE groupBy-min (no per-round left join to merge the
    // node's own label back in)
    val undirected = base
      .union(base.select(col("b").as("a"), col("a").as("b")))
    // localCheckpoint (eager), NOT persist: each round's plan references the
    // previous round's labels, so an uncut lineage grows per round —
    // exponential plan size by round ~20. Checkpointing truncates the plan
    // to the materialized result, keeping every round's plan constant-size.
    val initial = Checkpoints.cut(undirected.select(col("a").as("id"))
      .distinct().withColumn("comp", col("id")))
    var labels = initial
    // ONE distinct (r19 opt): the old shape dedup'd the full 4|E|-row
    // symmetrized+self-loop stream AND ran a second distinct for the label
    // init — but the groupBy-min below is idempotent under duplicate
    // edges, so sym needs no dedup of its own: self-loops come one-per-node
    // from the already-distinct label table, and duplicate caller edges
    // only add rows to the min aggregate (same labels, same convergence
    // sums). Callers here feed ordered, distinct similarity pairs anyway.
    val sym = undirected
      .union(labels.select(col("id").as("a"), col("id").as("b")))
      .persist()
    // labels only ever decrease, so an unchanged exact SUM of labels ⇔ no
    // label changed — one scalar aggregate per round instead of a compare
    // join (decimal: a long sum overflows at ~1e6 nodes with 1e15 ids)
    def labelSum(l: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      l.agg(coalesce(sum(col("comp").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).collect()(0)
        .getDecimal(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val next = Checkpoints.cut(sym
        .join(labels, sym("b") === labels("id"))
        .groupBy(sym("a").as("id"))
        .agg(min(col("comp")).as("comp")))
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      // the initial labels stay while the persisted sym may re-read them
      if (labels ne initial) Checkpoints.release(labels)
      labels = next
      iter += 1
    }
    sym.unpersist(blocking = false)
    Checkpoints.release(initial)
    (labels, converged)
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014), always, whatever the diameter: the forced star route of
    * [[connectedComponents]], kept for the `dedup_components_star` query
    * so both algorithms stay under the same oracle. Same output contract:
    * (id, comp), comp = min reachable id, every node that appears in an
    * edge emitted (self-loop-only nodes included).
    *
    * Round shape: each phase is ONE groupBy-min plus ONE equi-join on the
    * SAME key (co-partitioned — the join reuses the groupBy's exchange),
    * over edges kept in canonical child>parent orientation. Edges only
    * ever re-point to smaller ids, no driver-side graph state; the
    * per-round convergence check is a single (count, hash-sum) scalar
    * aggregate, O(1) driver rows. Each round's result is checkpointed
    * ([[Checkpoints.cut]]) so plans stay constant-size. */
  private[graft] def connectedComponentsStar(edges: DataFrame, src: Column,
                                             dst: Column): DataFrame =
    starContraction(cutEdges(edges, src, dst), StarMaxIter)._1

  private val StarMaxIter = 50

  /** [[connectedComponentsStar]] over an already cut (a, b) long edge
    * list, plus the converged round count (round growth is the scale
    * contract). The labels read `base` and the last round's cut; every
    * earlier round's cut is released. */
  private[graft] def starContraction(base: DataFrame, maxIter: Int)
      : (DataFrame, Int) = {
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")
    val nodes = base.select(explode(array(col("a"), col("b"))).as("id"))
      .distinct()
    // canonical orientation child > parent; self-loops carry no
    // connectivity (their nodes re-enter via the final left join)
    var e = Checkpoints.cut(base.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .distinct())

    // large-star: every node strictly LARGER than u re-points to the min
    // of u's closed neighborhood — emitted (v, m), v > u ≥ m keeps the
    // canonical orientation invariant. With edges held child>parent, the
    // larger-neighbor rows ARE the reversed edge list — so the join side
    // reads the |E|-row checkpoint directly instead of filtering the
    // 2|E|-row union back down to the same set every round
    def largeStar(ed: DataFrame): DataFrame = {
      val sym = ed.union(ed.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy("a").agg(min(col("b")).as("mb"))
        .select(col("a"), least(col("a"), col("mb")).as("m"))
      ed.select(col("b").as("a"), col("a").as("b"))
        .join(mins, "a")
        .select(col("b").as("a"), col("m").as("b"))
        .distinct()
    }

    // small-star: every SMALLER neighbor of u (and u itself) re-points to
    // the min of u's smaller neighborhood — with edges already oriented
    // child>parent, every neighbor in the group is smaller by invariant
    def smallStar(ed: DataFrame): DataFrame = {
      val mins = ed.groupBy("a").agg(min(col("b")).as("m"))
      ed.join(mins, "a")
        .select(col("b").as("a"), col("m").as("b"))
        .union(mins.select(col("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
    }

    // a round leaves the edge multiset (distinct, so set) unchanged ⇔
    // converged: compare (count, order-independent hash sum) — one scalar
    // aggregate per round, same O(1)-driver-rows posture as label
    // propagation's sum check (hash SUM in decimal, not xor: xor of an even
    // number of identical values degenerates)
    def checksum(ed: DataFrame): (Long, java.math.BigDecimal) = {
      val r = ed.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).collect()(0)
      (r.getLong(0), r.getDecimal(1))
    }

    var prev = checksum(e)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val next = Checkpoints.cut(smallStar(largeStar(e)))
      val cur = checksum(next)
      converged = cur._1 == prev._1 && cur._2.compareTo(prev._2) == 0
      prev = cur
      Checkpoints.release(e)
      e = next
      iter += 1
    }
    require(converged,
      s"connectedComponentsStar did not converge in $maxIter rounds — " +
        "this should not happen (star contraction is O(log² n) on any " +
        "graph); raise maxIter")
    // converged edge set is a star forest (child, root): every non-root
    // node has exactly one parent edge; roots and self-loop-only nodes
    // label themselves via the left join
    val labels = nodes
      .join(e.select(col("a").as("id"), col("b").as("comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    (labels, iter)
  }

  /** PageRank over a directed edge list, in EXACT integer micro-units —
    * rank mass is carried as BIGINT millionths so every engine (and every
    * partitioning) computes bit-identical results: floating-point PageRank
    * is merge-order-dependent and cannot be oracle-checked.
    *
    * Semantics per iteration (damping 0.85, all in integral arithmetic):
    *   r'(n) = 150000 + (85 * Σ_{(s→n) ∈ E} (r(s) div outdeg(s))) div 100
    * starting from r = 1_000_000 per node; `iterations` is a fixed count,
    * not a convergence test, so the oracle can mirror it exactly. Dangling
    * mass (nodes with no outbound edge) and flooring remainders are
    * dropped, not redistributed — a documented, deterministic variant.
    *
    * This is [[personalizedPageRank]] with EVERY node a seed (teleport
    * base 150000 and r₀ = 1e6 everywhere), so both run the one
    * [[rankLoop]]; the all-seed flag is a literal, not a seed join.
    *
    * `edgesDistinct = true` — caller guarantees the edge list is already a
    * set (e.g. ordered similarity pairs plus their disjoint reversals):
    * skips the full-edge-list dedup shuffle. Semantics are unchanged only
    * under that guarantee (PageRank is defined over the edge SET). */
  def pageRank(edges: DataFrame, src: Column, dst: Column,
               iterations: Int = 5, checkpointInterval: Int = 10,
               edgesDistinct: Boolean = false): DataFrame =
    rankLoop(edges, src, dst, None, iterations, checkpointInterval,
      edgesDistinct)

  /** Personalized PageRank in the same EXACT integer micro-units as
    * [[pageRank]], with teleport restricted to a SEED set — the
    * "expand a curated seed corpus through the similarity/link graph"
    * primitive of a training-data pipeline: scores measure graph
    * proximity to the seeds (docs similar to known-good docs rank high,
    * disconnected regions stay at exactly 0), and the keep-list is one
    * filter on the output.
    *
    * Semantics per iteration (all integral, remainders dropped as in
    * [[pageRank]]):
    *   r'(n) = (n ∈ S ? 150000 : 0) + (85 · Σ_{(s→n)} (r(s) div deg(s))) div 100
    * from r₀ = 1_000_000 on seeds, 0 elsewhere. Seed ids not present in
    * the edge list are ignored (the graph defines the node set). */
  def personalizedPageRank(edges: DataFrame, src: Column, dst: Column,
                           seeds: DataFrame, seed: Column,
                           iterations: Int = 5,
                           checkpointInterval: Int = 10,
                           edgesDistinct: Boolean = false): DataFrame =
    rankLoop(edges, src, dst, Some(seeds.select(seed.cast("long").as("node"))),
      iterations, checkpointInterval, edgesDistinct)

  /** The one integer PageRank iteration behind [[pageRank]] and
    * [[personalizedPageRank]]; `seeds` = None flags every node.
    *
    * Scale shape: each iteration is one equi-join of the rank table
    * against the (cached) augmented edge list plus one partial-aggregated
    * groupBy — linear shuffles on the edge count, no driver-side graph
    * state. Self-loops with weight 0 keep inbound-less nodes in the
    * iteration without a second recursive reference (the same trick lets
    * the DuckDB recursive-CTE oracle express it with one `pr` reference),
    * and the teleport base rides those self-loop rows (one per node), so
    * no per-round seed join is added — `sum(base)` inside the existing
    * aggregate recovers it.
    *
    * Lineage: unlike [[connectedComponents]] (whose convergence check
    * reads each round's labels TWICE, doubling the plan per round), each
    * round references the previous ranks exactly once — the plan grows
    * linearly, so iterations stay LAZY and fuse into one job. An eager
    * cut every `checkpointInterval` rounds bounds plan depth for long
    * runs without paying one materialization job per round. */
  private def rankLoop(edges: DataFrame, src: Column, dst: Column,
                       seeds: Option[DataFrame], iterations: Int,
                       checkpointInterval: Int,
                       edgesDistinct: Boolean): DataFrame = {
    require(iterations > 0, s"iterations must be positive, got $iterations")
    require(checkpointInterval > 0,
      s"checkpointInterval must be positive, got $checkpointInterval")
    val e0 = edges
      .select(src.cast("long").as("src"), dst.cast("long").as("dst"))
    // re-key on src BEFORE caching (r20): the incoming edge list inherits
    // its producer's width (e.g. a pair generator's pinned expansion
    // stages — 64 partitions of ~200 rows each at bench scale), and every
    // aug-build stage below re-reads the cache at that width; measured at
    // local[32], three 64-128-task cache/broadcast-build stages over a
    // 12k-row edge list were ~¾ of doc_pagerank's wall. One hash exchange
    // keyed the way every consumer wants it (outdeg groupBy, aug join)
    // lets AQE size the cached width from bytes, not the producer's task
    // count. AQE only coalesces downward, so the cached width is capped at
    // spark.sql.shuffle.partitions: an edge list far larger than the
    // session default is cached narrower than its producer's width.
    val e = (if (edgesDistinct) e0 else e0.distinct())
      .repartition(col("src")).persist()
    // materialize BEFORE fan-out: aug references e several times (join
    // side, outdegree, node self-loops); without an eager fill those
    // sibling scans race the cold cache and each recompute e's upstream
    // (e.g. a 10 s minhash pipeline) instead of hitting it
    e.count()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct()
    // seed flag resolved ONCE against the node set (seeds are small —
    // broadcast); it then rides the cached self-loop rows below
    val flagged = seeds match {
      case Some(sd) => nodes
        .join(broadcast(sd.distinct().withColumn("_s", lit(1L))),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("_s"), lit(0L)).as("is_seed"))
      case None => nodes.select(col("node"), lit(1L).as("is_seed"))
    }
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("d"))
    // augmented edges: real edges carry the source's outdegree; every node
    // additionally gets a weight-0 self edge carrying its teleport base,
    // so nodes without inbound edges still receive it each round
    // pre-partitioned on src BEFORE caching: the per-iteration join key is
    // src = node, and each iteration's rank table arrives hash-partitioned
    // on node from the previous groupBy — so a co-partitioned cached edge
    // list makes every join exchange-free on both sides (only the groupBy
    // shuffle remains per round)
    val aug = e.join(outdeg, "src")
      .select(col("src"), col("dst"), col("d"), lit(0L).as("base"))
      .union(flagged.select(col("node"), col("node"),
        lit(null).cast("long"), (col("is_seed") * 150000L).as("base")))
      .repartition(col("src"))
      .persist()
    aug.count() // materialize once; every iteration re-reads it
    // initial ranks from aug's OWN self-loop rows (r19 opt): the cached
    // augmented table already carries one (node, node, null, base) row per
    // node, so r₀ = 1e6 exactly on seeds needs no second node-set pass and
    // no extra checkpoint job — its lineage is one filter over the
    // materialized cache, and it arrives already hash-partitioned on the
    // join key (the repartition above), so round 1's join is exchange-free
    // on both sides like every later round
    var ranks = aug.filter(col("d").isNull)
      .select(col("src").as("node"),
        when(col("base") > 0, lit(1000000L)).otherwise(lit(0L)).as("r"))
    var lastCut: Option[DataFrame] = None // superseded by the next cut
    for (i <- 1 to iterations) {
      ranks = aug.join(ranks, aug("src") === ranks("node"))
        .select(aug("dst").as("to"),
          when(col("d").isNotNull, expr("r div d"))
            .otherwise(lit(0L)).as("c"),
          col("base"))
        .groupBy(col("to").as("node"))
        .agg(expr("CAST(sum(base) + (85 * sum(c)) div 100 AS BIGINT)")
          .as("r"))
      if (i % checkpointInterval == 0 && i < iterations) {
        ranks = Checkpoints.cut(ranks)
        lastCut.foreach(Checkpoints.release)
        lastCut = Some(ranks)
      }
    }
    // materialize BEFORE unpersisting: the loop is lazy, so dropping the
    // cached edge list first would force every iteration to rebuild it
    val out = Checkpoints.cut(ranks)
    lastCut.foreach(Checkpoints.release)
    e.unpersist(blocking = false)
    aug.unpersist(blocking = false)
    out
  }

  /** Exact per-node triangle counts over an undirected edge list —
    * (node, triangles) for every node that appears in an edge, zeros
    * included.
    *
    * Degree-ordered orientation (the standard compact-forward scheme):
    * every edge is directed from its (degree, id)-smaller endpoint to the
    * larger, which bounds each node's OUT-degree by O(√m) on any graph —
    * so the wedge join below generates at most O(m^{3/2}) candidate
    * wedges instead of Σ deg² (which a hub node makes quadratic). Each
    * triangle {x ≺ y ≺ z} is then found exactly once, as the wedge
    * (x→y, x→z) closed by the edge y→z.
    *
    * Plan shape: canonicalize + distinct (one shuffle) → degree aggregate
    * (one shuffle) → oriented edges, checkpointed ONCE (the wedge step is
    * a self-join, and both sides plus the closing side must reuse the
    * materialized edges, not re-run the upstream lineage) → wedge
    * equi-join on the common endpoint → closing equi-join on (y, z) →
    * corner explode + count. All joins are equi-joins on edge keys;
    * nothing is ever collected to the driver. */
  def triangleCounts(edges: DataFrame, src: Column, dst: Column): DataFrame = {
    val und = edges
      .select(src.cast("long").as("a"), dst.cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
      .transform(Checkpoints.cut)
    val deg = und.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    // total order ≺ = (deg, id) as a STRUCT (lexicographic comparison) —
    // valid for the full long id range; arithmetic packing would silently
    // mis-orient edges for negative or >= 2^32 ids
    val ord = deg.select(col("n"),
      struct(col("deg"), col("n")).as("ord"))
    val oriented = und
      .join(ord.select(col("n").as("a"), col("ord").as("oa")), "a")
      .join(ord.select(col("n").as("b"), col("ord").as("ob")), "b")
      .select(when(col("oa") < col("ob"),
          struct(col("a").as("u"), col("b").as("v"), col("ob").as("ov")))
        .otherwise(
          struct(col("b").as("u"), col("a").as("v"), col("oa").as("ov")))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.ov").as("ov"))
      .transform(Checkpoints.cut)
    val wedges = oriented.select(col("u"), col("v").as("y"), col("ov").as("oy"))
      .join(oriented.select(col("u"), col("v").as("z"), col("ov").as("oz")), "u")
      .filter(col("oy") < col("oz"))
      .select(col("u").as("x"), col("y"), col("z"))
    val tri = wedges.join(
      oriented.select(col("u").as("y"), col("v").as("z")), Seq("y", "z"))
    val corners = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("t"))
    deg.select(col("n"))
      .join(corners, Seq("n"), "left")
      .select(col("n").as("node"), coalesce(col("t"), lit(0L)).as("triangles"))
      .orderBy("node")
  }
}
