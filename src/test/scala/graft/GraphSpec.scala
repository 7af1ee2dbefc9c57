package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.ops.{Checkpoints, CheckpointsSpec, Graph}

/** Connected components / dedup clustering over similarity-pair edges. */
class GraphSpec extends SparkSpec {

  private def edges(pairs: Seq[(Long, Long)]) =
    spark.createDataFrame(pairs).toDF("a", "b")

  test("components: cliques, chains and a singleton edge") {
    // component {1,2,3} (clique), chain {10-11-12-13}, pair {20,21}
    val e = edges(Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (11L, 10L), (11L, 12L), (12L, 13L), (20L, 21L)))
    val out = Graph.connectedComponents(e, col("a"), col("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("components: long path needs multiple propagation rounds") {
    // path 0-1-2-...-7: min label must travel 7 hops, the longest path
    // label propagation settles inside its budget
    val e = edges((0 until 7).map(i => (i.toLong, i + 1L)))
    val out = Graph.connectedComponents(e, col("a"), col("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 8 && out.values.forall(_ == 0L))
  }

  test("star contraction survives a 10k-node chain in O(log² n) rounds") {
    // one chain of 10k nodes — label propagation would need 9 999 rounds;
    // ONE contraction run supplies both the label assertions and the
    // round-count contract
    val n = 10000L
    val chain = spark.range(n - 1)
      .select(col("id").as("a"), (col("id") + 1L).as("b"))
    val (labels, rounds) = Graph.starContraction(Checkpoints.cut(chain),
      maxIter = 50)
    import org.apache.spark.sql.functions.{count_if, min => fmin, max => fmax}
    val r = labels.agg(count_if(col("comp") === 0L),
      count_if(col("id") === col("comp")), fmin(col("id")), fmax(col("id")))
      .collect()(0)
    assert(r.getLong(0) == n,   "every chain node must label to min id 0")
    assert(r.getLong(1) == 1L,  "exactly one root per component")
    assert(r.getLong(2) == 0L && r.getLong(3) == n - 1)
    // round-count contract measured, not argued: log₂-ish growth — the
    // ×8→×128 probe measured 17→21 rounds on 40k→640k chains, so 10k
    // must converge well under 20 (vs 9 999 for label propagation)
    assert(rounds <= 20, s"star contraction took $rounds rounds on a 10k chain")
  }

  /** The (id, comp) labels of a routed components run, and its route. */
  private def labelled(run: (org.apache.spark.sql.DataFrame, String))
      : (Map[Long, Long], String) =
    (run._1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, run._2)

  test("components route: near-clique takes lp, a long chain takes star") {
    // near-clique similarity shape → label propagation converges inside
    // the budget and the star premium is never paid (localBound = 0 keeps
    // every non-empty graph off the driver route, here and below)
    val clique = edges(Seq((5L, 9L), (9L, 7L), (5L, 7L), (100L, 101L)))
    assert(labelled(Graph.connectedComponentsRouted(clique, col("a"),
      col("b"), localBound = 0)) == (Map(5L -> 5L, 9L -> 5L, 7L -> 5L,
      100L -> 100L, 101L -> 100L), "lp"))
    // 2k-node chain: the lp budget (8 rounds) cannot reach the fixpoint —
    // the partial labels are discarded and star contraction runs, still
    // emitting the exact min-id labels
    val n = 2000L
    val chain = spark.range(n - 1)
      .select(col("id").as("a"), (col("id") + 1L).as("b"))
    val (sOut, sRoute) =
      Graph.connectedComponentsRouted(chain, col("a"), col("b"), localBound = 0)
    assert(sRoute == "star", "long chain must fall back to star contraction")
    import org.apache.spark.sql.functions.count_if
    val r = sOut.agg(count_if(col("comp") === 0L),
        count_if(col("id") === col("comp")))
      .collect()(0)
    assert(r.getLong(0) == n && r.getLong(1) == 1L)
  }

  test("components route at the budget: 7 hops take lp, 8 hops take star") {
    // 7 hops = 7 label-changing rounds + the round that confirms = the
    // whole 8-round budget; one hop more cannot confirm inside it
    def path(hops: Int) = edges((0 until hops).map(i => (i.toLong, i + 1L)))
    def allMin(hops: Int) = (0L to hops.toLong).map(_ -> 0L).toMap
    def route(hops: Int) =
      labelled(Graph.connectedComponentsRouted(path(hops), col("a"), col("b"),
        localBound = 0))
    assert(route(7) == (allMin(7), "lp"))
    assert(route(8) == (allMin(8), "star"))
  }

  test("property: the driver route, lp-forced and star-forced routes emit " +
    "identical labels, self-loops, duplicates and negative ids included") {
    import org.scalacheck.{Gen, Prop}
    // ids in [-8, 12] bound the diameter, so lpBudget=50 always converges
    // (lp route) while lpBudget=1 converges only on already-stable label
    // sets (star route for anything with structure); localBound=64 holds
    // every generated graph on the driver — the same fixpoint must come
    // out all three ways
    val pairGen = Gen.zip(Gen.choose(-8L, 12L), Gen.choose(-8L, 12L))
    val graphGen = Gen.choose(1, 20).flatMap(n => Gen.listOfN(n, pairGen))
    checkProp(Prop.forAll(graphGen) { pairs =>
      val e = edges(pairs ++ pairs.take(2))
      def run(budget: Int, bound: Int) = labelled(Graph.connectedComponentsRouted(
        e, col("a"), col("b"), lpBudget = budget, localBound = bound))
      val (local, route) = run(8, bound = 64)
      route == "local" && local == run(50, 0)._1 && local == run(1, 0)._1
    }, minTests = 6)
  }

  test("components route at the driver bound: bound edges take local, " +
    "bound + 1 take the distributed route") {
    // a 6-edge path: its 7 nodes all label 0 on either route
    val e = edges((0 until 6).map(i => (i.toLong, i + 1L)))
    def route(bound: Int) =
      labelled(Graph.connectedComponentsRouted(e, col("a"), col("b"), localBound = bound))
    val all = (0L to 6L).map(_ -> 0L).toMap
    assert(route(6) == (all, "local"))
    assert(route(5) == (all, "lp"))
  }

  test("components route: a null endpoint takes the distributed route") {
    val e = spark.createDataFrame(Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, null), (3L, 4L))).toDF("a", "b")
    val (labels, route) = Graph.connectedComponentsRouted(e, col("a"), col("b"))
    assert(route == "lp")
    val out = labels.filter(col("id").isNotNull).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("components: an empty edge list gives an empty (id, comp) frame " +
    "with the distributed routes' schema") {
    val (labels, route) = Graph.connectedComponentsRouted(
      edges(Seq.empty[(Long, Long)]), col("a"), col("b"))
    assert(route == "local" && labels.isEmpty)
    val (lp, _) = Graph.connectedComponentsRouted(edges(Seq((1L, 2L))),
      col("a"), col("b"), localBound = 0)
    assert(labels.schema == lp.schema)
  }

  test("pageRank: integer micro-units match the hand/reference computation") {
    // directed 1→2, 2→{1,3}, 3→1; 3 iterations; values independently
    // reproduced in DuckDB with the same integral recurrence
    val e = edges(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L)))
    val out = Graph.pageRank(e, col("a"), col("b"), iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1217281L, 2L -> 1054187L, 3L -> 728531L))
  }

  test("property: pageRank equals personalizedPageRank seeded with every " +
    "node, duplicate edges and self-loops included") {
    import org.scalacheck.{Gen, Prop}
    import spark.implicits._
    // the all-seed literal flag against the broadcast seed-join path;
    // checkpointInterval = 2 < iterations also runs an interior cut
    val pairGen = Gen.zip(Gen.choose(0L, 12L), Gen.choose(0L, 12L))
    val graphGen = Gen.choose(1, 25).flatMap(n => Gen.listOfN(n, pairGen))
    checkProp(Prop.forAll(graphGen) { pairs =>
      val e = edges(pairs)
      val every = pairs.flatMap { case (a, b) => Seq(a, b) }.toDF("id")
      def ranks(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      ranks(Graph.pageRank(e, col("a"), col("b"), iterations = 3,
          checkpointInterval = 2)) ==
        ranks(Graph.personalizedPageRank(e, col("a"), col("b"), every,
          col("id"), iterations = 3, checkpointInterval = 2))
    }, minTests = 6)
  }

  test("triangleCounts: K4 plus a pendant edge — hand-counted") {
    // K4 on {1,2,3,4}: 4 triangles, every node in exactly 3; the pendant
    // edge (10,11) contributes zero but both nodes must still be emitted
    val e = edges(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (10L, 11L)))
    val out = Graph.triangleCounts(e, col("a"), col("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      10L -> 0L, 11L -> 0L))
  }

  test("triangleCounts: duplicate, reversed and self-loop edges collapse") {
    val e = edges(Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L),
      (2L, 2L)))
    val out = Graph.triangleCounts(e, col("a"), col("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangleCounts: negative and >2^32 ids orient correctly " +
    "(struct (deg,id) order, no arithmetic packing)") {
    val big = 5000000000L
    val e = edges(Seq((-5L, -4L), (-4L, big), (big, -5L), (-5L, 7L)))
    val out = Graph.triangleCounts(e, col("a"), col("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(-5L -> 1L, -4L -> 1L, big -> 1L, 7L -> 0L))
  }

  test("triangleCounts: hub star has zero triangles (orientation bounds " +
    "wedges, result exact)") {
    val e = edges((1L to 8L).map(i => (0L, i)))
    val out = Graph.triangleCounts(e, col("a"), col("b"))
      .collect().map(r => r.getLong(1)).toSet
    assert(out == Set(0L))
  }

  test("components run with RELIABLE checkpoints when " +
    "spark.graft.checkpoint.dir is set") {
    // so do the range-ranked Relational operators and countWithin's
    // prefix table: every cut under src/main goes through Checkpoints.cut
    import graft.ops.{RangeJoin, Relational}
    def ckptFiles(): Long = spark.sparkContext.getCheckpointDir.fold(0L) { d =>
      val stream = java.nio.file.Files.walk(
        java.nio.file.Paths.get(new java.net.URI(d)))
      try stream.filter(java.nio.file.Files.isRegularFile(_)).count()
      finally stream.close()
    }
    def landed[T](what: String)(body: => T): T = {
      val before = ckptFiles()
      val out = body
      assert(ckptFiles() > before, s"$what wrote no reliable checkpoint files")
      out
    }
    CheckpointsSpec.withCheckpointDir(spark) {
      val e = edges(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
      val out = landed("connectedComponents") {
        Graph.connectedComponentsRouted(e, col("a"), col("b"), localBound = 0)._1
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      val ranked = landed("globalRowNumber") {
        Relational.globalRowNumber(e, Seq(col("a"), col("b")))
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      }
      assert(ranked == Map(1L -> 1L, 2L -> 2L, 10L -> 3L))
      // pinned sub-bins reach the prefix-sum path (the cut lookup table)
      val ts = spark.range(40).select(col("id"), (col("id") * 3L).as("ts"))
      val counts = landed("countWithin") {
        RangeJoin.countWithin(ts, ts, col("id"), col("ts"), col("id"),
            col("ts"), windowS = 6L, subBinS = 2L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      // ts = 3·id: within ±6 s are the ids ±1 and ±2, minus the row itself
      assert(counts == (0L until 40L).map(i =>
        i -> ((i - 2L).max(0L) to (i + 2L).min(39L)).count(_ != i).toLong).toMap)
    }
  }

  test("star contraction: 100-node path converges in O(log² n) rounds " +
    "with every node labeled 0") {
    // the adversarial shape for label propagation (99 rounds); star
    // contraction must land well under the default budget
    val e = edges((0 until 99).map(i => (i.toLong, i + 1L)))
    val (labels, rounds) = Graph.starContraction(Checkpoints.cut(e),
      maxIter = 50)
    val out = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 100 && out.values.forall(_ == 0L))
    assert(rounds <= 12, s"path-100 took $rounds star rounds")
  }

  /** The cut RDDs `out` reads. */
  private def cutsRead(out: org.apache.spark.sql.DataFrame): Set[Int] =
    out.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet

  test("connectedComponents leaves persisted only the cuts its result " +
    "reads, however many rounds it ran") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // path 0-1-...-6: six propagation rounds plus the one that confirms
    val path = edges((0 until 6).map(i => (i.toLong, i + 1L)))
    val out = Graph.connectedComponentsRouted(path, col("a"), col("b"),
      localBound = 0)._1
    val added = sc.getPersistentRDDs.keySet -- before
    assert(cutsRead(out).nonEmpty)
    assert(added == cutsRead(out))
    assert(out.collect().map(_.getLong(1)).toSet == Set(0L))
    // the driver route reads no cut and leaves none
    val local = Graph.connectedComponents(path, col("a"), col("b"))
    assert(cutsRead(local).isEmpty)
    assert(sc.getPersistentRDDs.keySet -- before == added)
  }

  test("star contraction leaves persisted only the cuts its labels read") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (labels, rounds) = Graph.starContraction(
      Checkpoints.cut(edges((0 until 30).map(i => (i.toLong, i + 1L)))),
      maxIter = 50)
    val added = sc.getPersistentRDDs.keySet -- before
    assert(rounds >= 3)
    // the input edges and the last round's edges
    assert(cutsRead(labels).size == 2)
    assert(added == cutsRead(labels))
    assert(labels.collect().map(_.getLong(1)).toSet == Set(0L))
  }

  test("star contraction agrees with label propagation on mixed shapes") {
    // clique + chain + pair + self-loop-only node + negative ids
    val shapes = Seq(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (11L, 10L), (11L, 12L),
        (12L, 13L), (20L, 21L), (30L, 30L), (-7L, -3L), (-3L, 40L)),
      (0 until 9).map(i => (i.toLong, i + 1L)),
      Seq((5L, 9L), (9L, 7L), (100L, 101L), (101L, 102L), (102L, 100L)))
    shapes.foreach { pairs =>
      val e = edges(pairs)
      val star = Graph.connectedComponentsStar(e, col("a"), col("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // a budget past the 9-hop chain keeps the router on propagation
      val (label, route) = labelled(Graph.connectedComponentsRouted(e,
        col("a"), col("b"), lpBudget = 50, localBound = 0))
      assert(route == "lp")
      assert(star == label, s"divergence on $pairs")
    }
  }

  test("star contraction: self-loop-only node labels itself; empty edge " +
    "set yields empty labels") {
    val out = Graph.connectedComponentsStar(
        edges(Seq((42L, 42L), (1L, 2L))), col("a"), col("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(42L -> 42L, 1L -> 1L, 2L -> 1L))
    val empty = Graph.connectedComponentsStar(
        edges(Seq.empty[(Long, Long)]), col("a"), col("b")).collect()
    assert(empty.isEmpty)
  }

  test("personalizedPageRank: hand-computed seed-restricted teleport; " +
    "components without seeds stay exactly 0; off-graph seeds ignored") {
    import spark.implicits._
    // two disjoint symmetric pairs; seed = node 1 (plus off-graph 99)
    val e = edges(Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L)))
    val seeds = Seq(1L, 99L).toDF("doc_id")
    val out = Graph.personalizedPageRank(e, col("a"), col("b"),
        seeds, col("doc_id"), iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // i1: r1=150000, r2=850000; i2: r1=872500, r2=127500;
    // i3: r1=150000+(85*127500) div 100=258375, r2=(85*872500) div 100=741625
    assert(out == Map(1L -> 258375L, 2L -> 741625L, 3L -> 0L, 4L -> 0L))
  }

  test("pageRank: symmetric pair converges to equal ranks; isolated-in-" +
    "edge-list singleton keeps base-plus-self rank semantics") {
    // 1↔2 symmetric: each sends its whole rank to the other — ranks stay
    // equal every iteration; node 5→6 one-way: 5 has no inbound → after
    // one iteration its rank is the bare base 150000
    val e = edges(Seq((1L, 2L), (2L, 1L), (5L, 6L)))
    val out = Graph.pageRank(e, col("a"), col("b"), iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L))
    assert(out(5L) == 150000L)
    assert(out(6L) > out(5L))
  }
}
