package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge, SparkSession}
import org.apache.spark.sql.functions._

/** Sizing and gating policy shared by the operators: how wide a stage
  * runs, when a shared kernel is materialized, when a verify side is
  * broadcast, and how much disk a quadratic stage may spill.
  *
  * Nothing here runs a job except [[verifyBroadcastOk]]'s exact mode. Every
  * estimate reads Catalyst's LEAF statistics ([[leafPlanBytes]]) — never
  * top-of-plan stats, whose join estimates are size products.
  *
  * Each runtime-settable lever is declared once below and read in one
  * place; the README's Configuration table lists them with their
  * defaults. */
object Sizing {

  /** Target exploded rows per partition for data-sized shuffles
    * (default 1 M ≈ tens of MB of sort input per task at gram-row
    * widths). */
  val RowsPerPartitionConf = "spark.graft.shuffle.rowsPerPartition"
  /** Source leaf bytes at which a shared kernel frame is checkpointed
    * (default 64 MiB; -1 never cuts). */
  val SharedKernelCutBytesConf = "spark.graft.sharedKernelCutBytes"
  /** Budget for broadcasting a (doc_id, sh) signature table into a
    * verify join (default 2 GiB; <= 0 keeps the keyed join). */
  val VerifyBroadcastBytesConf = "spark.graft.verifyBroadcastBytes"
  /** Spill budget of one quadratic candidate stage: bytes (> 0), -1 =
    * unbounded, 0 (default) = a third of the spill dir's usable space. */
  val PairSpillBudgetConf = "spark.graft.pairSpillBudget"
  /** Live usable spill bytes per staged pass: -1 disables the per-pass
    * guard, > 0 overrides the probe, 0 (default) = live probe. */
  val PairSpillUsableConf = "spark.graft.pairSpillUsable"
  /** Upper bound on staged passes over the candidate space (default 256). */
  val PairMaxPassesConf = "spark.graft.pairMaxPasses"
  /** |corpus| × |eval| leaf-byte product past which semantic
    * decontamination routes to the LSH prefilter (default 1e13). */
  val SdeconAutoBytesProductConf = "spark.graft.sdecon.autoBytesProduct"

  /** Compressed-parquet bytes of kernel input per widened task in
    * [[widenKernelStage]]. */
  val KernelBytesPerTask: Long = 256L << 10

  /** Edges up to which [[Graph.connectedComponents]] collects the edge
    * list and labels it on the driver (union-find), in place of the
    * distributed rounds. At this bound a chain labels in 8.5 s on the
    * driver route against 111 s distributed (local[4], 4-core box). */
  val LocalComponentsEdges: Int = 1 << 20

  /** Runtime-conf parse with a clear failure: a typo'd value (e.g.
    * "64m") must name the conf key at the call boundary, not throw a bare
    * NumberFormatException from deep inside a production query
    * (ADVICE r17). */
  private def confLong(spark: SparkSession, key: String,
                       default: Long): Long = {
    val raw = spark.conf.get(key, default.toString)
    try raw.trim.toLong
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(
        s"conf $key must be a long, got '$raw'")
    }
  }

  private[graft] def rowsPerPartition(spark: SparkSession): Long =
    confLong(spark, RowsPerPartitionConf, 1000000L).max(1L)

  private[graft] def pairMaxPasses(spark: SparkSession): Long =
    confLong(spark, PairMaxPassesConf, 256L).max(1L)

  private[graft] def sdeconAutoBytesProduct(spark: SparkSession): Long =
    confLong(spark, SdeconAutoBytesProductConf, 10000000000000L)

  /** Sum of the LEAF byte estimates feeding `src` — the input-volume
    * proxy both [[explodedShuffleParts]] and [[widenKernelStage]] size
    * from (never top-of-plan stats: Spark's size-only visitor estimates
    * a join's output as the PRODUCT of its children). Joins sum their
    * children, leaves report their stats, unknown stats count 0. */
  private[graft] def leafPlanBytes(src: DataFrame): BigInt = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LeafNode, LogicalPlan}
    def sane(b: BigInt): BigInt =
      // unknown stats surface as defaultSizeInBytes (Long.MaxValue) —
      // treat as "no estimate" rather than exploding to the cap
      if (b <= 0 || b >= BigInt(Long.MaxValue) / 2) BigInt(0) else b
    def planBytes(p: LogicalPlan): BigInt = p match {
      case j: Join => j.children.map(planBytes).sum
      case l: LeafNode => sane(try l.stats.sizeInBytes
        catch { case _: Exception => BigInt(0) })
      case o if o.children.nonEmpty => o.children.map(planBytes).sum
      case _ => BigInt(0)
    }
    try planBytes(src.queryExecution.optimizedPlan)
    catch { case _: Exception => BigInt(0) }
  }

  /** Max partition count among lineage-cut ([[org.apache.spark.sql.execution.LogicalRDD]])
    * leaves of `src`'s optimized plan — 0 when none. A checkpointed
    * frame's PARALLELISM is its RDD's partition count, while its leaf
    * STATS still carry the origin plan's (possibly join-inflated) byte
    * estimate (verify skill, round-13 gotcha) — so width decisions on
    * cut inputs must consult the real RDD width, not bytes/splitSize. */
  private def leafRddMaxParts(src: DataFrame): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.LogicalRDD
    def walk(p: LogicalPlan): Int = p match {
      case l: LogicalRDD =>
        try l.rdd.getNumPartitions catch { case _: Exception => 0 }
      case o => if (o.children.isEmpty) 0
                else o.children.map(walk).max
    }
    try walk(src.queryExecution.optimizedPlan)
    catch { case _: Exception => 0 }
  }

  /** Widen the CPU-dense per-document KERNEL stage (shingle + 64-way
    * minhash) above the file scan. Without this the kernel's parallelism
    * is the parquet SPLIT count — a sub-128 MB documents file is a
    * handful of splits on any cluster, so the most expensive per-byte
    * work in the operator serializes onto 1–9 cores no matter how many
    * executors exist (measured: the minhash front end was near-CONSTANT
    * ~17 s across sf0.1/sf1.0/sf3 — PROBE.md round 16 frontwidth family;
    * widening cut the sf1.0 front 3.85 → 2.5 s warm, 10.5 → 4.7 s cold).
    *
    * The round-robin exchange of the raw (id, text) rows is linear in
    * input bytes and far cheaper per byte than the kernel, but it is NOT
    * free at 100 TB — so it only fires when the scan is narrower than
    * the session shuffle width (a large corpus already scans thousands
    * of splits and passes through untouched). The 1 MiB floor keeps
    * micro-fixture plans (unit tests, the sf0.01 gate) byte-identical:
    * below it the kernel is sub-core-second and the exchange's fixed
    * cost dominates. Inputs behind a lineage cut keep their ORIGIN byte
    * estimate in the LogicalRDD leaf (round-13 gotcha — NOT 0 bytes, as
    * this doc once claimed), while their actual parallelism is the
    * checkpointed RDD's partition count — so that count joins scanParts
    * in the already-wide test: a 32-wide cut frame passes through
    * untouched instead of paying a redundant round-robin exchange
    * (ADVICE r17 — e.g. qualityFilter(s1) inside CorpusCuration.curate),
    * while a genuinely narrow cut frame still widens.
    *
    * The widened width is PROPORTIONAL to input bytes, not a jump to the
    * session default: `ceil(bytes / bytesPerTask)` capped at the default
    * and floored above the scan width. Jump-to-target over-widened the
    * SMALL tier — at sf0.1 the 1.17 MB dup'd bench corpus got 32
    * near-empty kernel tasks, regressing doc_pagerank 3.75 → 4.68 s
    * (ADVICE r16) because the iterative tail re-planned off the wider
    * front; proportional sizing keeps the small tier near its old plan
    * while corpora a task-width past the floor still reach the full
    * session width. Tiers at/above sf1.0 are unaffected (their byte
    * estimates already exceed target × bytesPerTask).
    *
    * `bytesPerTask` defaults to [[KernelBytesPerTask]], calibrated for the
    * text kernels; callers whose per-INPUT-byte cost is amplified beyond
    * them pass less — e.g. the semantic decontamination exact path does
    * |eval| cosine folds per corpus row inside the broadcast-NL stage. */
  private[graft] def widenKernelStage(df: DataFrame,
                                      bytesPerTask: Long = KernelBytesPerTask
                                     ): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    val target = conf.numShufflePartitions
    val bytes = leafPlanBytes(df)
    // effective current width: file-split count for scans, the real RDD
    // partition count for lineage-cut (LogicalRDD) leaves — whose byte
    // stats carry the ORIGIN estimate, not their post-shuffle width
    val curWidth = (bytes / BigInt(conf.filesMaxPartitionBytes.max(1L)))
      .max(BigInt(leafRddMaxParts(df)))
    if (bytes >= BigInt(1L << 20) && curWidth < target) {
      val parts = ((bytes + bytesPerTask - 1) / bytesPerTask)
        .min(target).max(curWidth + 1).toInt
      df.repartition(parts)
    } else df
  }

  /** Checkpoint a shared-kernel frame ONLY when the source corpus is big
    * enough that re-running the per-byte kernel once per consumer costs
    * more than one materialization job. Below the threshold the lazy
    * two-pass plan is kept byte-identical (same posture as
    * widenKernelStage's 1 MiB floor): at bench scales a localCheckpoint
    * job costs ~0.2-0.4 s, which is MORE than a second tokenize of a
    * sub-MB corpus, while at 100 TB the duplicated kernel pass dominates
    * by orders of magnitude. [[SharedKernelCutBytesConf]] moves the
    * boundary. */
  private[graft] def cutSharedKernel(df: DataFrame,
                                     src: DataFrame): DataFrame =
    if (sharedKernelCutOk(src)) Checkpoints.cut(df) else df

  /** Whether the shared-kernel gate is open for `src` — exposed separately
    * so operators can hang ALL of their eager machinery (materialization
    * jobs, driver-side scalar probes, broadcast-size measurements) off one
    * condition instead of paying any driver-blocking job on a sub-gate
    * corpus (r19 verdict #1: the ungated minhash signature cut plus its
    * per-call verify aggregate regressed the whole family in-suite). */
  private[graft] def sharedKernelCutOk(src: DataFrame): Boolean = {
    val minBytes = confLong(src.sparkSession, SharedKernelCutBytesConf,
      64L << 20)
    minBytes >= 0 && leafPlanBytes(src) >= BigInt(minBytes)
  }

  /** Shuffle width for a stage whose input EXPLODES (one row per token /
    * gram / shingle): the session default, GROWN — never shrunk — when
    * the estimated exploded row count would overload the default's
    * per-partition sort buffers. The ×128 probe measured the failure
    * mode both ways: 16 partitions × ~128 M exploded gram rows
    * sort-spilled decontamination 12× (41.3 s → 3.31 s once widened,
    * PROBE.md round 8), while at ×32 the session default was FASTER than
    * an oversized width (task overhead) — hence the floor. A real
    * cluster sizes `spark.sql.shuffle.partitions` to the data; local
    * mode defaults it to the core count, so data-sized operators must
    * widen themselves.
    *
    * The estimate is bytes-based — optimizer stats of the text-bearing
    * input (parquet file size, in-memory relation size, or local-relation
    * estimate), one exploded row per `bytesPerRow` input bytes (~6 for
    * token + separator) — so it costs no job. Checkpointed inputs keep
    * their origin stats (Spark carries them into the LogicalRDD). Target
    * rows per partition via [[RowsPerPartitionConf]]. */
  private[graft] def explodedShuffleParts(src: DataFrame,
                                          bytesPerRow: Long = 6L): Int = {
    val spark = src.sparkSession
    val default = spark.sessionState.conf.numShufflePartitions
    val target = rowsPerPartition(spark)
    // INPUT-volume estimate, not top-of-plan stats: Spark's
    // size-only visitor estimates a join's output as the PRODUCT of its
    // children's sizes, so a frame downstream of any equi-join reports
    // petabytes for megabytes of data — measured pinning minhash stages
    // to 32768 near-empty tasks (165 s on 100k rows, PROBE.md round 13).
    // For width sizing the right proxy is the data VOLUME feeding the
    // explode, which a join bounds by the SUM of its inputs — so joins
    // sum, everything else passes through, leaves report their stats.
    // (A join-estimate already swallowed by a lineage cut is invisible
    // here — stage-boundary callers size from their source scan instead,
    // see minhashDupPairs.sizeSrc.)
    // Deliberate trade: summing RAW leaf sizes ignores the projection/
    // filter scaling the old top-of-plan stats applied, so a narrow
    // select over a wide table estimates the full file and can OVER-pin
    // width (more near-empty tasks). That error is bounded by the leaf's
    // real bytes — cheap scheduling overhead — while the product error
    // it replaces was unbounded (petabytes from megabytes, 32768 tasks);
    // in this codebase the explode sources are narrow (id, text)
    // projections of narrow tables, so the gap stays small.
    val bytes = leafPlanBytes(src)
    val rows = bytes / bytesPerRow
    val need = (rows / target + 1).min(32768).toInt
    need.max(default)
  }

  /** Insert an explicit `repartition(keys)` sized by
    * [[explodedShuffleParts]] ONLY when the estimate exceeds the session
    * default: small inputs keep their original plan (AQE coalescing,
    * broadcast choices untouched — the measured ×32 guard case), large
    * ones get a pinned REPARTITION_BY_NUM exchange that the downstream
    * aggregate/join on the same keys reuses. */
  private[graft] def widenForExplosion(df: DataFrame, src: DataFrame,
                                       keys: Column*): DataFrame = {
    val parts = explodedShuffleParts(src)
    if (parts > df.sparkSession.sessionState.conf.numShufflePartitions)
      df.repartition(parts, keys: _*)
    else df
  }

  /** Whether a (doc_id, sh) signature table fits the verify-broadcast
    * budget ([[VerifyBroadcastBytesConf]]).
    *
    * `exact = true` (the table is already materialized behind a lineage
    * cut): size measured as count × 24 B + Σ|sh| × 8 B — one scalar
    * aggregate over the checkpointed blocks, the same arithmetic the
    * jaccard verify ships.
    *
    * `exact = false` (sub-gate corpus, nothing materialized): NO driver
    * job — the r19 per-call `.head` aggregate here re-ran the shingle
    * kernel eagerly on every family call and was half of verdict #1's
    * in-suite regression. Bound the table from the source leaf bytes
    * instead: ≤1 shingle hash (8 B) per ~2 raw text bytes plus the 24 B
    * row struct, times the parquet compression ratio the leaf stats hide.
    * Duplicated text — the very input a dedup operator exists for —
    * dictionary-encodes far past the 4× of ordinary corpora (ADVICE r20
    * #1), so the ceiling is 32 × leaf bytes: a gate-closed (<64 MiB)
    * corpus still bounds inside the 2 GiB default budget, and anything
    * nearer the limit takes the keyed join. Unknown stats (0) refuse the
    * broadcast: the keyed-join shape is correct at any scale. */
  private[graft] def verifyBroadcastOk(s: DataFrame, exact: Boolean,
                                       srcBytes: => BigInt): Boolean = {
    val limit = confLong(s.sparkSession, VerifyBroadcastBytesConf, 2L << 30)
    if (limit <= 0) false
    else if (exact) {
      val r = s.agg(count(lit(1)),
        coalesce(sum(size(col("sh"))), lit(0L))).head
      r.getLong(0) * 24L + r.getLong(1) * 8L <= limit
    } else {
      val b = srcBytes
      b > 0 && b * 32 <= BigInt(limit)
    }
  }

  /** The shuffle spill directory the pair-stage disk guards measure: the
    * first local dir Spark itself resolved for this context. */
  private[graft] def spillDir(spark: SparkSession): java.io.File =
    new java.io.File(GraftExpressionBridge.configuredLocalDirs(spark).head)

  /** Disk budget for one quadratic candidate stage's transient shuffle/
    * sort spill ([[PairSpillBudgetConf]]). The default is a third of the
    * spill dir's currently-usable space, with no floor: a small or
    * RAM-backed spill dir gets a small budget (ADVICE r20 #2), and a full
    * one a budget of 0, which the caller stages at its pass cap. */
  private[graft] def pairSpillBudget(spark: SparkSession): Long = {
    val conf = confLong(spark, PairSpillBudgetConf, 0L)
    if (conf != 0L) conf else spillDir(spark).getUsableSpace / 3
  }

  /** Live usable bytes in the spill dir, re-probed per staged pass (the
    * budget above is composition-time; the disk is shared with dumps and
    * oracle spill, so it can shrink under a running plan). -1 when the
    * per-pass guard is disabled ([[PairSpillUsableConf]]). */
  private[graft] def pairSpillUsable(spark: SparkSession): Long = {
    val conf = confLong(spark, PairSpillUsableConf, 0L)
    if (conf != 0L) { if (conf < 0) -1L else conf }
    else spillDir(spark).getUsableSpace
  }
}
