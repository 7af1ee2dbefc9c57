package graft

import org.apache.spark.sql.functions._
import graft.ops.{Layout, TextAnalytics}

/** Physical-plan shape assertions for the global-ranking operators: none
  * of them may plan a single-partition (no-partition-spec) WindowExec —
  * the r6 decile scale-killer shape. The range-shuffle ranking machinery
  * (globalRowNumber / ntileExact) windows only WITHIN _pid partitions. */
class ScaleShapeSpec extends SparkSpec {
  import spark.implicits._

  /** A WindowExec whose partition spec is empty prints as
    * "Window [...], [ordercols...]" with no partition list — detectable
    * as a Window node missing a partitionBy argument list. Spark also
    * WARN-logs "No Partition Defined" when planning one; asserting on the
    * plan text keeps the check deterministic. */
  private def singlePartitionWindows(plan: String): Seq[String] =
    plan.linesIterator.filter { l =>
      val t = l.dropWhile(c => !c.isLetter)
      // physical node renders as: Window [exprs], [partSpec], [orderSpec]
      // — two bracket groups after the exprs; a missing middle group
      // means empty partition spec
      t.startsWith("Window ") && t.count(_ == '[') < 3
    }.toSeq

  test("the detector itself flags a genuine no-partition window") {
    val df = (1L to 50L).map(i => (i, i * 2)).toDF("id", "v")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
    val bad = df.withColumn("rn", row_number().over(w))
    val plan = bad.queryExecution.executedPlan.toString
    assert(singlePartitionWindows(plan).nonEmpty,
      s"detector failed to flag:\n$plan")
  }

  test("bm25TopK plans no single-partition window") {
    val docs = (1L to 100L).map(i => i -> s"spark vector doc $i pad pad")
      .toDF("doc_id", "text")
    val plan = TextAnalytics.bm25TopK(docs, col("doc_id"), col("text"),
      Seq("spark", "vector"), k = 5).queryExecution.executedPlan.toString
    assert(singlePartitionWindows(plan).isEmpty,
      s"single-partition WindowExec in:\n$plan")
  }

  test("decontaminate broadcasts the eval side (corpus never re-shuffles on it)") {
    val corpus = (1L to 200L)
      .map(i => i -> s"alpha beta gamma delta epsilon doc $i filler words here")
      .toDF("doc_id", "text")
    val evalSet = Seq(900L -> "alpha beta gamma delta epsilon")
      .toDF("doc_id", "text")
    val plan = graft.ops.Dedup.decontaminate(corpus, evalSet,
      col("doc_id"), col("text")).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"eval side not broadcast in:\n$plan")
    assert(singlePartitionWindows(plan).isEmpty)
  }

  test("snapshotDiff is one full-outer join keyed on the diff key") {
    val a = (1L to 100L).map(i => (i, i * 2.0)).toDF("k", "v")
    val b = (1L to 100L).map(i => (i, i * 3.0)).toDF("k", "v")
    val plan = graft.ops.Relational.snapshotDiff(a, b, Seq("k"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("FullOuter"), s"no full-outer join in:\n$plan")
    // exactly one join — change classification must not add a second pass
    val joins = plan.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")
        || l.contains("BroadcastHashJoin"))
    assert(joins == 1, s"expected exactly 1 join, got $joins in:\n$plan")
    assert(singlePartitionWindows(plan).isEmpty)
  }

  test("zorderKey + rangeFileStats plan no single-partition window") {
    val df = (0L until 200L).map(i => (i, i % 17, i % 13)).toDF("id", "x", "y")
    val keyed = Layout.zorderKey(df, Seq(col("x"), col("y")), col("id"),
      bits = 4)
    val out = Layout.rangeFileStats(keyed, col("zkey"), col("id"),
      files = 4, stats = Seq("x" -> col("x")))
    val plan = out.queryExecution.executedPlan.toString
    assert(singlePartitionWindows(plan).isEmpty,
      s"single-partition WindowExec in:\n$plan")
  }

  test("sortedNeighborPairs plans no single-partition window and no " +
    "cartesian product") {
    val df = (1L to 200L).map(i => (i, f"name$i%04d")).toDF("id", "name")
    val plan = graft.ops.Linkage.sortedNeighborPairs(df, col("id"),
        col("name"), window = 3, maxDist = 2)
      .queryExecution.executedPlan.toString
    assert(singlePartitionWindows(plan).isEmpty,
      s"single-partition WindowExec in:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"unkeyed join in:\n$plan")
  }

  test("enrichWithDim broadcasts the dimension (facts never shuffle)") {
    val facts = (1L to 500L).map(i => (i, i % 50)).toDF("event_id", "uid")
    val dim = (0L until 50L).map(i => (i, s"seg$i")).toDF("cust_id", "seg")
    val plan = graft.streaming.EventStreams.enrichWithDim(facts, dim,
        col("uid"), col("cust_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"dim not broadcast in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"facts shuffled in:\n$plan")
  }

  test("LM scorers plan no cartesian product beyond the one-row " +
    "broadcast total") {
    val docs = (1L to 100L).map(i => (i, s"alpha beta gamma doc $i"))
      .toDF("doc_id", "text")
    for (scored <- Seq(
        TextAnalytics.unigramLogProb(docs, col("doc_id"), col("text")),
        TextAnalytics.bigramLogProb(docs, col("doc_id"), col("text")))) {
      val plan = scored.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
      assert(singlePartitionWindows(plan).isEmpty)
    }
  }

  test("blockedFuzzyPairs pins its verify join with REPARTITION_BY_NUM " +
    "exchanges (exempt from AQE coalescing)") {
    // expanding join: its shuffle INPUT is tiny, so without the explicit
    // pin AQE's byte-based coalescing would run the O(blockSize²)
    // Levenshtein verify on one task regardless of cluster size
    val df = (1L to 300L).map(i => (i, i % 3, f"name$i%04d"))
      .toDF("id", "blk", "name")
    val plan = graft.ops.Linkage.blockedFuzzyPairs(df, col("id"),
        col("blk"), col("name"), maxDist = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("REPARTITION_BY_NUM"),
      s"verify join exchanges not pinned in:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"unkeyed join in:\n$plan")
  }

  test("psiDrift joins the one-row totals by broadcast, no sort-merge " +
    "join and no single-partition window") {
    val df = (1L to 500L).map(i => (i * 0.5, i % 2 == 0))
      .toDF("value", "is_base")
    val plan = graft.ops.Profiler.psiDrift(df, col("value"), col("is_base"),
        bins = 20, binWidth = 25.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"psiDrift must not sort-merge its O(bins) frames:\n$plan")
    assert(singlePartitionWindows(plan).isEmpty)
  }

  test("retrievalEval broadcasts the k-bounded truth set (system ranking " +
    "never shuffles on it)") {
    val sys = (1L to 10L).map(i => (i, i + 100L)).toDF("rank", "doc_id")
    val rel = (1L to 5L).map(i => (i + 100L, 21L - i)).toDF("doc_id", "rel")
    val plan = graft.ops.Relational.retrievalEval(sys, rel)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"truth set not broadcast in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ in:\n$plan")
  }

  test("shuffle-volume pins: the ten heaviest bench queries move a " +
    "fixed record volume at sf0.01") {
    // wall time on the bench box is noisy; the RECORDS a query writes
    // through its exchanges are a pure function of (data, plan) — a
    // changed pin means the PLAN changed (new exchange, lost broadcast,
    // changed pre-aggregation), which is the regression signal the r10
    // movers lacked. Pinned against the sf0.01 fixture generation; the
    // pin set covers every query that ever exceeded 2 s in-suite (r11
    // verdict #5). Plan-metric read ([[ShuffleMeter.planShuffleWrite]])
    // so parallel suites cannot contaminate. Lineage-cut segments (e.g.
    // cluster_safe_splits' LP rounds, corpus_curation's stage cuts) run
    // as separate executions and are covered by Bench's listener-side
    // detail instead — these pins cover each query's own plan.
    //
    // Partial-aggregation output rows depend on the SCAN SPLIT LAYOUT
    // (one partial row per split per group), not only on (data, plan):
    // a Spark upgrade changing maxPartitionBytes/openCostInBytes
    // defaults would drift entries like props_k_stats without any plan
    // change (ADVICE r11). The queries therefore run on a child session
    // with both split confs pinned to today's defaults — only genuine
    // plan changes can trip the assertion.
    val sf = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$sf/documents.parquet").exists)
    val pinnedSession = spark.newSession()
    pinnedSession.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
    pinnedSession.conf.set("spark.sql.files.openCostInBytes", "4194304")
    // measured 2026-08-13 on the round-10/11 sf0.01 fixture generation;
    // a driver fixture REGENERATION with a new seed legitimately re-pins
    // the content-dependent entries (pair volumes, splits size)
    val expected = Map(
      "props_k_stats" -> 10L,
      "cluster_safe_splits" -> 3000L,
      "price_percentiles" -> 6L,
      // r15: the prefix stream is now checkpointed so the pair-stage
      // width is sized from MEASURED candidate volume (sf3 width audit);
      // this per-plan metric walk stops at the checkpoint, so the
      // gram/window stages (92,518 records at sf0.01) moved into the
      // checkpoint's own query execution — end-to-end listener volume is
      // unchanged (122.2M at sf1.0, PROBE.md r15) and the post-cut plan
      // carries pairs + verify + the tiny Σn² stats job.
      // r19: 27102 → 26490 (−612): the verify is now two
      // BroadcastHashJoins against the signature table, so the two
      // verify-side exchanges (pair stream re-keyed by id_a, then the
      // s-side shuffles) no longer move records — only the pair-dedup
      // exchange, the prefix stages and the Σn² stats job remain.
      // r20: unchanged — measured mode (cuts + Σn² width job) stays
      // this operator's only shape: an sf0.1 A/B read a cut-free variant
      // ~1 s slower in-suite, so only the minhash family's eager
      // machinery was gated, not this one.
      "jaccard_prefix_pairs" -> 26490L,
      "pq_ann_topk" -> 100L,
      "corpus_curation" -> 2152L,
      "doc_pagerank_seeded" -> 1000L,
      // r14: join-based band-bucket pair generation — the Hamming verify
      // sits INSIDE the join, so only verified pairs reach the pair-dedup
      // exchange (6660 -> 3834; the old plan shuffled every candidate)
      "simhash_md5_pairs" -> 3834L,
      "containment_pairs" -> 358L,
      "semantic_decontamination" -> 1000L,
      // r13: bucket-collision pairs (2000 vecs, 40-vec eval) + per-vec
      // audit rows — the prefilter's whole record volume at sf0.01
      "semantic_decontamination_lsh" -> 1112L)
    val actual = expected.keys.toSeq.sorted.map { name =>
      val df = SparkEntry.queries(name)(pinnedSession, sf)
      df.collect()
      name -> ShuffleMeter.planShuffleWrite(df)
    }
    val drifted = actual.filter { case (n, (_, recs)) => recs != expected(n) }
    assert(drifted.isEmpty,
      drifted.map { case (n, (_, recs)) =>
        s"$n shuffle records moved: got $recs, pinned ${expected(n)}"
      }.mkString("; ") +
        " — the plan changed; re-pin only after explaining the delta")
    val zeroByte = actual.filter(_._2._1 == 0L)
    assert(zeroByte.isEmpty, s"zero shuffle bytes for ${zeroByte.map(_._1)}" +
      " — metric names or plan walk broke")
  }

  test("jaccard PRE-checkpoint front end (gram/df-rank/prefix stages) " +
    "moves a fixed record volume at sf0.01") {
    // the jaccard_prefix_pairs pin above walks only the POST-cut plan
    // (the per-plan metric walk stops at Checkpoints.cut), so the
    // gram-explode → doc-frequency → rank-window front end lost shape
    // coverage when the prefix stream was checkpointed in r15 (ADVICE
    // r15). This pin walks jaccardPrefixBuckets' own execution — the
    // exact pre-cut production plan — restoring it.
    val sf = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$sf/documents.parquet").exists)
    val pinnedSession = spark.newSession()
    pinnedSession.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
    pinnedSession.conf.set("spark.sql.files.openCostInBytes", "4194304")
    val docs = Tables.documents(pinnedSession, sf).select("doc_id", "text")
    val parts = graft.ops.Sizing.explodedShuffleParts(docs)
    val s = docs.select(col("doc_id").cast("long").as("doc_id"),
      graft.ops.Dedup.shingleHashes64(col("text"), 3).as("sh"))
    val pre = graft.ops.Dedup.jaccardPrefixBuckets(s, 0.7, parts)
    // 42,381 = tok-stream repartition + doc-frequency agg + rank-window
    // input for the sf0.01 fixture (measured 2026-08-15; the checkpointed
    // production path runs this exact plan once — the smaller figure vs
    // the old 119,620 full-plan walk is the point of the cut: the verify
    // tail no longer re-reads the front end)
    val nRows = pre.collect().length
    val (bytes, recs) = ShuffleMeter.planShuffleWrite(pre)
    assert(recs == 42381L,
      s"jaccard front-end shuffle records moved: got $recs (rows $nRows)" +
        " — the pre-cut plan changed; re-pin only after explaining")
    assert(bytes > 0L, "zero shuffle bytes — metric walk broke")
  }

  test("semanticDecontaminate LSH path replaces the broadcast-NL product " +
    "with a broadcast-hash bucket join") {
    val vecs = (1L to 200L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 31 + j) % 17).toFloat)))
      .toDF("vec_id", "embedding")
    val evalSet = vecs.filter(col("vec_id") % 20 === 0)
    val plan = graft.ops.Dedup.semanticDecontaminate(vecs, evalSet,
        col("vec_id"), col("embedding"), lsh = Some((8, 4)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"NL product survived the prefilter in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket join not broadcast in:\n$plan")
    assert(singlePartitionWindows(plan).isEmpty)
  }

  test("jaccardPrefixPairs pins its pair-expansion stages with " +
    "REPARTITION_BY_NUM exchanges") {
    val docs = (1L to 60L).map(i =>
      (i, s"alpha beta gamma delta epsilon zeta token$i"))
      .toDF("doc_id", "text")
    val plan = graft.ops.Dedup.jaccardPrefixPairs(docs, col("doc_id"),
        col("text")).queryExecution.executedPlan.toString
    assert(plan.contains("REPARTITION_BY_NUM"),
      s"expansion stages not pinned in:\n$plan")
    assert(singlePartitionWindows(plan).isEmpty,
      s"single-partition WindowExec in:\n$plan")
  }
}
