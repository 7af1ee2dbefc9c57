package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Deduplication suite for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Design for 100 TB: per-document work (shingling, signatures, simhash,
  * hyperplane buckets) runs in native codegen kernels
  * ([[graft.functions.HashFunctions]]) — one scan, zero shuffle. Candidate
  * generation is within-bucket ([[bucketPairs]]): one shuffle of
  * (band, bucket, id) with capped buckets for skew, never an O(n²) pair
  * space and never a self-join that would recompute the kernel lineage.
  * Candidate pairs are `distinct`ed and then verified exactly
  * (Jaccard / Hamming / cosine) ONCE per pair, with payloads joined back
  * only for surviving candidates.
  *
  * MinHash/LSH semantics follow the reference's signature→bands→bucket
  * pipeline (`a2_ahuja.py:99–149,164–170`) re-expressed bucket-first
  * (SURVEY.md §2.3 J3).
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the smallest id as canonical.
    * (`a1p2b_ahuja.py:94` distinct, generalized to content identity.) */
  def exact(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(md5(text).as("h"), id.as("doc_id"))
      .groupBy("h")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dupes"))
      .orderBy("h")

  /** Token n-gram shingles of a text column (per-row, deterministic). */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextAnalytics.tokensCol(text)
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** Distinct 64-bit shingle hashes — native codegen kernel
    * ([[graft.functions.ShingleHash64]]); values equal
    * `xxhash64(concat_ws(" ", <n-token window>))` per window. */
  def shingleHashes64(text: Column, n: Int): Column =
    graft.functions.HashFunctions.shingleHash64(TextAnalytics.tokensCol(text), n)

  /** MinHash signature → LSH band buckets in one native kernel
    * ([[graft.functions.MinHashBuckets]]): sig[i] = min over shingle hashes
    * h of xxhash64(h, i); bucket[b] = xxhash64 of the b-th signature slice.
    * Returns array<long>, band index = position. */
  def minhashBandBuckets(sh64: Column, k: Int, rowsPerBand: Int): Column =
    graft.functions.HashFunctions.minhashBuckets(sh64, k, rowsPerBand)

  /** Ordered within-bucket pairs from a (band, bucket, <id>) DataFrame:
    * group ids per bucket (sorted → id_a < id_b for free), drop singleton
    * buckets, CAP degenerate buckets (boilerplate/empty content makes a
    * bucket quadratic — the standard LSH skew guard is to skip buckets
    * over a size bound), emit each bucket's pairs, dedupe across bands.
    *
    * One shuffle of (band, bucket, id); the per-row hash kernel upstream
    * runs ONCE — a self-join formulation would recompute the whole lineage
    * per join side (Spark does not reuse non-identical exchanges).
    */
  // unique CollectMetrics name per bucketPairs call site (Spark requires
  // observe names to be distinct within one query)
  private val capObsId = new java.util.concurrent.atomic.AtomicInteger()

  /** Execution-time visibility for the skew cap: every [[bucketPairs]] plan
    * carries an `observe` node counting dropped (over-cap) buckets and the
    * largest bucket seen; a per-session listener WARN-logs non-zero drops.
    * No-silent-caps: at 100 TB a boilerplate-heavy corpus WILL hit the cap,
    * and the operator must say so rather than quietly under-report pairs. */
  private object CapMetrics {
    val MetricPrefix = "graft_bucket_caps"
    private val log = org.slf4j.LoggerFactory.getLogger(getClass)
    private val registered = java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

    def ensureListener(spark: SparkSession): Unit =
      if (registered.put(spark, java.lang.Boolean.TRUE) == null) {
        spark.listenerManager.register(new QueryExecutionListener {
          override def onSuccess(funcName: String, qe: QueryExecution,
                                 durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              if (name.startsWith(MetricPrefix) && !row.isNullAt(0)
                  && row.getLong(0) > 0)
                // wording is caller-neutral (the metric name carries the
                // caller's unit label): observeCap guards LSH buckets here
                // AND Linkage's maxDist>2 blocking blocks, whose remedies
                // differ (maxBucket vs maxBlock / pre-reduce the key)
                log.warn(s"$name: ${row.getLong(0)} group(s) exceeded the " +
                  s"skew cap and were dropped (largest group: " +
                  s"${row.get(1)}); results under-report their members — " +
                  "raise the operator's cap (maxBucket / maxBlock) or " +
                  "pre-reduce the skewed key (e.g. pre-dedup exact copies)")
            }
          override def onFailure(funcName: String, qe: QueryExecution,
                                 exception: Exception): Unit = ()
        })
      }
  }

  /** Attach the no-silent-caps observe to a frame carrying a group-size
    * column: counts groups over `cap` plus the largest seen, WARN-logged
    * by the shared [[CapMetrics]] listener. One helper so EVERY capped
    * family — LSH buckets here, the maxDist > 2 drop-whole guard in
    * [[graft.ops.Linkage]] — reports drops the same way. */
  private[ops] def observeCap(sizes: DataFrame, sizeCol: Column,
                              cap: Int, what: String = "bucket"): DataFrame = {
    CapMetrics.ensureListener(sizes.sparkSession)
    sizes.observe(
      s"${CapMetrics.MetricPrefix}_${what}_${capObsId.incrementAndGet()}",
      sum(when(sizeCol > cap, 1L).otherwise(0L)).as("capped_groups"),
      max(sizeCol).as("max_group"))
  }

  /** `pinnedParts = Some(n)` pins the bucket aggregation to an explicit
    * n-way repartition on (band, bucket). Use it when the per-bucket
    * pair EXPANSION dominates the stage: AQE's byte-based coalescing
    * sees only the small pre-aggregation shuffle and would collapse the
    * stage that generates the O(bucketSize²) pairs to a few tasks
    * (REPARTITION_BY_NUM exchanges are exempt; the aggregate reuses the
    * exchange). Leave None for callers in iterative loops — there the
    * many tiny shuffles genuinely want coalescing. */
  /** `pairFilter` — optional exact predicate over (id_a, id_b) applied
    * BETWEEN pair generation and the pair-dedup exchange, so pairs the
    * caller can rule out from id-struct fields alone (e.g. the PPJoin
    * length filter over set sizes carried in the struct) never ride the
    * distinct shuffle — on a dense-vocabulary corpus that exchange is the
    * operator's dominant cost. */
  private[ops] def bucketPairs(banded: DataFrame, idCol: Column,
                               maxBucket: Int,
                               pinnedParts: Option[Int] = None,
                               pairFilter: Option[(Column, Column) => Column]
                                 = None): DataFrame = {
    val pinned = pinnedParts match {
      case Some(n) => banded.repartition(n, col("band"), col("bucket"))
      case None => banded
    }
    val aggregated = pinned.groupBy("band", "bucket")
      .agg(array_sort(collect_list(idCol)).as("ids"))
    val grouped = observeCap(aggregated, size(col("ids")), maxBucket)
      .filter(size(col("ids")).between(2, maxBucket))
    val rawPairs = grouped
      .select(explode(flatten(transform(sequence(lit(0), size(col("ids")) - 2),
        i => transform(slice(col("ids"), i + 2, size(col("ids")) - i - 1),
          b => struct(element_at(col("ids"), i + 1).as("id_a"), b.as("id_b"))))))
        .as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
    val pairs = pairFilter.fold(rawPairs)(f =>
      rawPairs.filter(f(col("id_a"), col("id_b"))))
    // pinned callers also pin the pair dedup: its shuffle input is many
    // 16-byte rows, which AQE's byte-based coalescing would squeeze onto
    // one final-aggregate task
    (pinnedParts match {
      case Some(n) => pairs.repartition(n, col("id_a"), col("id_b"))
      case None => pairs
    }).distinct()
  }

  /** Shared exact-Jaccard verify tail: from a candidate frame carrying
    * both shingle sets (`_sha`, `_shb`), (1) prune by the EXACT size
    * bound — J ≥ t forces |∩| ≥ t·|∪|, and |∩| ≤ min, |∪| ≥ (na+nb)/(1+t)
    * ⟹ min(na,nb) ≥ t·(na+nb)/(1+t); the 1e-9 slack only ever KEEPS
    * borderline candidates (they still face the exact check), never drops
    * a true pair — so the expensive intersection is skipped for pairs the
    * arithmetic already rules out (on a dense-vocabulary corpus most
    * candidates are length-mismatched); (2) compute the intersection ONCE
    * and derive |∪| = na + nb − |∩| (exact under set semantics — the
    * shingle arrays are distinct hashes), halving per-pair kernel work vs
    * an explicit array_union. Value-identical to the intersect/union form
    * (same integer-derived double division the oracles spell out). */
  private def exactJaccardTail(withSets: DataFrame, aCol: String,
                               bCol: String, threshold: Double): DataFrame =
    withSets
      .select(col(aCol), col(bCol), col("_sha"), col("_shb"),
        size(col("_sha")).as("_na"), size(col("_shb")).as("_nb"))
      .filter(lengthOk(col("_na"), col("_nb"), threshold))
      .select(col(aCol), col(bCol),
        size(array_intersect(col("_sha"), col("_shb"))).as("_i"),
        col("_na"), col("_nb"))
      .select(col(aCol), col(bCol),
        (col("_i").cast("double") / (col("_na") + col("_nb") - col("_i")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** The exact PPJoin length bound on two set sizes: J ≥ t forces
    * min(na,nb) ≥ t·(na+nb)/(1+t). The 1e-9 slack only ever KEEPS
    * candidates, so pair generators apply it before their pair-dedup
    * exchange (sizes ride in the id struct) without losing a true pair. */
  private def lengthOk(na: Column, nb: Column, threshold: Double): Column =
    least(na, nb).cast("double") >=
      (na + nb).cast("double") * lit(threshold / (1.0 + threshold)) - 1e-9

  /** The verify join every exact-Jaccard pair generator ends in: attach
    * the `_sha` side to `pairs` on `aCol`, then the `_shb` side on `bCol`,
    * then [[exactJaccardTail]].
    *
    * Shape (r19 opt, the jaccardPrefixPairs sf10 lesson): a sort-merge /
    * shuffled verify carries the a-side shingle ARRAY on every candidate
    * row through the b-side exchange — spill scales with candidates ×
    * array bytes. The signature tables are linear and small, so when
    * `bcast` (the caller's [[Sizing.verifyBroadcastOk]] answer) holds,
    * both sides are BroadcastHashJoins and no shuffle ever carries an
    * array. Otherwise the keyed join runs — correct at any scale, and on
    * a real cluster its spill is aggregate across executors. */
  private def verifyJoin(pairs: DataFrame, aSets: DataFrame,
                         bSets: DataFrame, aCol: String, bCol: String,
                         bcast: Boolean, threshold: Double): DataFrame = {
    def side(sets: DataFrame) = if (bcast) broadcast(sets) else sets
    exactJaccardTail(pairs.join(side(aSets), aCol).join(side(bSets), bCol),
      aCol, bCol, threshold)
  }

  /** MinHash+LSH near-duplicate pairs with exact Jaccard verification.
    *
    * documents → shingles → signature → band buckets (ONE scan, native
    * kernels) → within-bucket pair generation ([[bucketPairs]]: one shuffle
    * of (band, bucket, id), capped buckets for skew) → `distinct` pairs →
    * join the shingle sets back once per side → ONE exact Jaccard check per
    * unique pair. Shingle arrays never ride a shuffle keyed by bucket; a
    * pair colliding in many bands is verified once, not once per band.
    *
    * Band tuning: r=4/b=16 puts the S-curve midpoint at J≈0.5 —
    * P(miss) ≤ 2.2e-4 at J=0.8 and 4e-8 at J=0.9, so recall at a 0.7
    * threshold is ~1 even for short documents (whose tiny shingle sets
    * make minhash noisy); false candidates at the corpus's background
    * J≲0.1 are still vanishingly rare (16·J⁴) and the exact verify
    * removes any that slip through. */
  /** `sizeSrc` — the frame whose size decides the pinned expansion width,
    * the shared-kernel gate and the verify-broadcast bound, when `df`
    * itself sits behind a lineage cut (localCheckpoint/checkpoint): the
    * cut CARRIES the upstream plan's estimated stats, and if those include
    * a join's size-product estimate the estimators here would pin tiny
    * stages to the 32768-task cap (the measured capstone pathology,
    * PROBE.md round 13) and open the gate on a sub-MB corpus. Pipelines
    * pass their source scan. */
  /** `ordered = false` — skip the final deterministic orderBy: for callers
    * that consume the pairs as an order-irrelevant INTERMEDIATE (connected
    * components, pagerank edge lists, triangle counting, split assignment)
    * the sort is a pure range-exchange tax that gets materialized into
    * their own lineage cut. The pair SET is identical either way; terminal
    * (oracle-faced) callers keep the default. */
  def minhashDupPairs(df: DataFrame, id: Column, text: Column,
                      n: Int = 3, k: Int = 64, rowsPerBand: Int = 4,
                      jaccardThreshold: Double = 0.7,
                      maxBucket: Int = 1000,
                      ordered: Boolean = true,
                      sizeSrc: Option[DataFrame] = None): DataFrame = {
    // Shingle sets are carried as 8-byte hashes (set semantics preserved up
    // to negligible 64-bit collisions): cheaper to minhash, cheaper to join,
    // cheaper to intersect at verify time than the raw strings.
    // widenKernelStage: the shingle+minhash kernel must not serialize on
    // the file-split count (r15 verdict #1 — the doc_pagerank front end).
    // CHECKPOINTED PAST THE SHARED-KERNEL GATE (r19 opt, r20 gating): the
    // signature table feeds THREE lineages — the banding stream and both
    // verify sides — and uncut each re-ran the tokenize+shingle kernel,
    // the operator's dominant per-byte cost, over the whole corpus (3 full
    // kernel passes measured in the plan: 6 parquet scans). One
    // materialization pays a linear, small table (count × (24 + 8·avg|sh|),
    // the same ~450 B/doc arithmetic as jaccardPrefixPairs') and every
    // consumer reads it. Below the gate the lazy three-pass plan wins: the
    // r19 UNGATED cut fired on sub-MB corpora — an eager 32-task job plus
    // block registrations per call, 3 reps × 9 family queries — and was
    // the measured cause of the family's in-suite walls running 2-4× their
    // isolated medians at local[32] (r19 verdict #1).
    val sizeDf = sizeSrc.getOrElse(df)
    val doCut = Sizing.sharedKernelCutOk(sizeDf)
    val sig = Sizing.widenKernelStage(df)
      .select(id.as("doc_id"), shingleHashes64(text, n).as("sh"))
    val base = if (doCut) Checkpoints.cut(sig) else sig
    // set size rides in the bucket id struct (doc_id first, so pair order
    // and distinct semantics are unchanged) and the exact length filter —
    // J ≥ t forces min(na,nb) ≥ t·(na+nb)/(1+t) — drops length-mismatched
    // candidates BEFORE the pair-dedup exchange and the verify joins
    val banded = base
      .select(struct(col("doc_id"), size(col("sh")).as("nsh")).as("did"),
        posexplode(minhashBandBuckets(col("sh"), k, rowsPerBand))
          .as(Seq("band", "bucket")))
      .select(col("did"), col("band"), col("bucket"))
    // banded stream ≈ one row per (k/rowsPerBand ≈ 16) per doc — about one
    // row per ~75 input bytes; width floors at the session default and
    // grows with the corpus (same posture as the gram-stream operators)
    val pairs = bucketPairs(banded, col("did"), maxBucket,
        pinnedParts = Some(Sizing.explodedShuffleParts(sizeDf, bytesPerRow = 75L)),
        pairFilter = Some((a, b) => lengthOk(a("nsh"), b("nsh"),
          jaccardThreshold)))
      .select(col("id_a.doc_id").as("id_a"), col("id_b.doc_id").as("id_b"))
    val verified = verifyJoin(pairs,
      base.select(col("doc_id").as("id_a"), col("sh").as("_sha")),
      base.select(col("doc_id").as("id_b"), col("sh").as("_shb")),
      "id_a", "id_b",
      Sizing.verifyBroadcastOk(base, exact = doCut,
        srcBytes = Sizing.leafPlanBytes(sizeDf)),
      jaccardThreshold)
    if (ordered) verified.orderBy("id_a", "id_b") else verified
  }

  /** EXACT all-pairs Jaccard self-join via prefix filtering (the
    * PPJoin-family candidate pruning) — the deterministic-recall
    * alternative to [[minhashDupPairs]]: no probabilistic S-curve, yet
    * still no O(n²) pair space.
    *
    * Prefix-filter lemma: order every shingle set by a GLOBAL token order
    * (ascending document frequency, ties by hash — rare tokens first);
    * if J(A,B) ≥ t then |A∩B| ≥ ⌈t·|A|⌉, so A's first
    * |A| − ⌈t·|A|⌉ + 1 tokens must contain a token of B (pigeonhole) —
    * and symmetrically — hence two similar sets ALWAYS collide on a
    * prefix token. Candidates are therefore generated only from prefix
    * tokens (df-ordering keeps those buckets small: a token shared by
    * every document is never in anyone's prefix unless the set is tiny),
    * then each unique pair is verified with one exact Jaccard.
    *
    * Plan: one scan → shingle sets (checkpointed once — referenced by the
    * index build and both verify sides) → doc-frequency aggregation →
    * per-doc rank window → prefix explode → within-bucket pair generation
    * ([[bucketPairs]], capped + observed) → verify join. Exact integer
    * Jaccard → bit-stable across engines. */
  def jaccardPrefixPairs(docs: DataFrame, id: Column, text: Column,
                         n: Int = 3, threshold: Double = 0.7,
                         maxBucket: Int = 1000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    // no minimum-size filter: a doc with < n tokens gets the whole-doc
    // single-shingle fallback (ShingleKernel), whose prefix length is
    // 1 − ⌈t·1⌉ + 1 = 1 — the lemma covers it, and dropping such docs
    // would silently miss short-doc duplicate pairs the brute-force
    // oracle (and minhashDupPairs) report
    // exploded-row-aware width: equals the session default at bench/test
    // scales, grows with the corpus so the gram-stream shuffles below
    // never sort-spill through a core-count-sized width (PROBE.md r8)
    val parts = Sizing.explodedShuffleParts(docs)
    // MEASURED at every scale: the staging machinery below — two lineage
    // cuts, the pairVol scalar job, the exact verify-broadcast aggregate —
    // sizes/bounds the QUADRATIC candidate stages, whose volume leaf
    // bytes cannot predict (sf3: 1.13B candidates from 34 MB of parquet).
    // Unlike the minhash family's linear verify machinery it is not gated
    // on corpus size: the cuts REUSE the df-rank window across the pairVol
    // job and the pair plan, and an r20 A/B at sf0.1 read a cut-free
    // variant ~1 s SLOWER in-suite (4.23 vs 3.08 s).
    // widenKernelStage: the cut below MATERIALIZES the shingle stream —
    // without widening, that job's parallelism is the file-split count
    val s = Checkpoints.cut(Sizing.widenKernelStage(docs)
      .select(id.cast("long").as("doc_id"), shingleHashes64(text, n).as("sh")))
    // set size rides INSIDE the bucket id struct so the PPJoin length
    // filter — J ≥ t forces min(na,nb) ≥ t·(na+nb)/(1+t), exact, 1e-9
    // slack only ever keeps candidates — runs between pair generation and
    // the pair-dedup exchange: length-mismatched candidates (most of a
    // dense-vocabulary corpus's bucket pairs) never ride the distinct
    // shuffle. Struct sort order is doc_id-first, so id_a < id_b and the
    // distinct semantics are unchanged (nsh is a function of doc_id).
    //
    // CHECKPOINTED: the measured-width job below must not re-run the
    // df-rank window, and the pair plan then reads the same
    // materialization. The stored stream is ~30% of the gram volume
    // (linear in corpus) — the price of sizing the quadratic stages
    // from MEASURED volume instead of a leaf-bytes guess.
    val prefix = Checkpoints.cut(
      jaccardPrefixBuckets(s, threshold, parts)
        .select(col("band"), col("bucket"),
          struct(col("doc_id"), col("nsh")).as("did")))
    // Pair-stage width from the MEASURED candidate volume, not leaf
    // bytes (r14 verdict #3, sf3 width audit): the pinned stages below
    // carry Σ_buckets n(n−1)/2 candidate rows — the sum-df² quadratic,
    // which input bytes cannot predict (sf3 measured: 1.13B candidate
    // records from 34 MB of parquet; the leaf-based width of 32 spilled
    // 155 GB and cost 2.7× the wall of a properly-widthed run, while
    // Σn², a ~one-second scalar job over the checkpointed bucket sizes,
    // sizes it exactly — PROBE.md round 15). Capped buckets are
    // excluded, matching what bucketPairs actually emits. Driver state:
    // ONE scalar.
    val target = Sizing.rowsPerPartition(docs.sparkSession)
    val pairVol = prefix
      .groupBy("band", "bucket").agg(count(lit(1)).as("_n"))
      .filter(col("_n").between(2, maxBucket))
      .agg(coalesce(sum(col("_n") * (col("_n") - 1) / 2), lit(0L))
        .cast("long"))
      .head.getLong(0)
    val pairParts = math.max(parts,
      math.min(32768L, pairVol / target + 1).toInt)
    // verify shape ([[verifyJoin]]): at sf10 a sort-merge verify's spill
    // is the quadratic candidate count × ~450 B of shingle array (what
    // filled the disk on the saturated vocabulary), while the signature
    // table stays linear (~500 MB for the 1M-doc dup'd corpus) — so it is
    // broadcast whenever it fits; past the budget the keyed shape runs and
    // the staged passes below bound its spill per wave
    val useBcast = Sizing.verifyBroadcastOk(s, exact = true,
      srcBytes = Sizing.leafPlanBytes(docs))
    // pin the expansion stages (pair generation, exact-Jaccard verify):
    // their shuffle INPUTS are small, so AQE coalescing would serialize
    // the quadratic work — same pathology as Linkage.blockedFuzzyPairs
    def verified(bkts: DataFrame, w: Int): DataFrame = {
      val pairs = bucketPairs(bkts, col("did"), maxBucket,
          pinnedParts = Some(w),
          pairFilter = Some((a, b) => lengthOk(a("nsh"), b("nsh"), threshold)))
        .select(col("id_a.doc_id").as("id_a"), col("id_b.doc_id").as("id_b"))
      // the keyed shape pins its first join's width like the stages above
      verifyJoin(if (useBcast) pairs else pairs.repartition(w, col("id_a")),
        s.select(col("doc_id").as("id_a"), col("sh").as("_sha")),
        s.select(col("doc_id").as("id_b"), col("sh").as("_shb")),
        "id_a", "id_b", useBcast, threshold)
    }
    // ---- disk-budget staging (r19: the first FULL sf10 pass found it) --
    // On the 31-token fixture at 1M docs the measured candidate volume is
    // ~12B pairs; the dedup exchange plus the two verify joins' transient
    // shuffle/sort spill for that volume exceeds one box's disk (observed:
    // >70 GB spill, then SPILL_OUT_OF_MEMORY "No space left on device" at
    // sf10 — the r18 heap audit bounded MEMORY, never disk). On a real
    // cluster aggregate disk scales with executors, but the same guard
    // applies per-wave there: when the projected spill exceeds the budget,
    // process the bucket space in hash-disjoint PASSES — each pass
    // generates/verifies only the buckets with xxhash64(band,bucket) ≡ p
    // (mod passes), and only its (tiny, output-sized) verified pairs are
    // materialized. Bucket groups are disjoint, so per-pass candidate
    // volume is ~pairVol/passes and peak transient disk is bounded; a pair
    // sharing prefix tokens in two DIFFERENT groups is verified twice and
    // collapsed by the final distinct (identical rows — same integer
    // Jaccard). passes=1 is byte-identical to the unstaged plan, and
    // holds everywhere pairVol is small (sf3's measured 1.13B stays
    // single-digit-pass under the default budget — no bench-wall change
    // at ≤sf3 beyond the per-pass constant).
    //
    // The 96 B/candidate constant is a MEASURED lower bound with 2×
    // headroom, not the first guess: the 16 B calibration was refuted by
    // the second sf10 pass (12 passes of ~1B candidates each still ate
    // ~50 GB before SPILL_OUT_OF_MEMORY — ≥50 B/candidate, because the
    // id_b-side verify exchange carries the id_a shingle ARRAY on every
    // pair row, so spill scales with array bytes, not pair count alone).
    // And because the budget is sized at COMPOSITION time while the disk
    // is shared (Verify dumps, oracle spill, fixture copies), each pass
    // re-probes live usable space just before running and hash-splits
    // itself further (salted second hash — disjoint within the pass) when
    // the disk has shrunk under the plan. Sub-splits are output-identical:
    // same verify, same final distinct.
    val spillBudget = Sizing.pairSpillBudget(docs.sparkSession)
    val maxPasses = Sizing.pairMaxPasses(docs.sparkSession)
    // a negative budget never stages; a zero one (a full spill dir)
    // stages at the pass cap
    val passes =
      if (spillBudget < 0) 1
      else math.min(maxPasses,
        pairVol * 96L / math.max(spillBudget, 1L) + 1).toInt
    if (passes <= 1) verified(prefix, pairParts).orderBy("id_a", "id_b")
    else {
      val w = math.max(parts, pairParts / passes + 1)
      val perPassBytes = pairVol * 96L / passes
      val outs = (0 until passes).flatMap { p =>
        val slice = prefix.filter(
          pmod(xxhash64(col("band"), col("bucket")), lit(passes.toLong))
            === lit(p.toLong))
        // live-disk guard: never plan a pass whose projected spill
        // exceeds half of what is usable RIGHT NOW
        val usable = Sizing.pairSpillUsable(docs.sparkSession)
        val sub =
          if (usable <= 0) 1
          else math.min(16L,
            perPassBytes / math.max(usable / 2, 1L) + 1).toInt
        (0 until sub).map { q =>
          val ss =
            if (sub <= 1) slice
            else slice.filter(
              pmod(xxhash64(col("band"), col("bucket"), lit(7919L)),
                lit(sub.toLong)) === lit(q.toLong))
          // the cut frees this pass's shuffle files before the next pass
          // spills against the same disk budget
          Checkpoints.cut(verified(ss, math.max(parts, w / sub + 1)))
        }
      }
      outs.reduce(_.union(_)).distinct().orderBy("id_a", "id_b")
    }
  }

  /** The prefix-token candidate buckets behind [[jaccardPrefixPairs]], as
    * a (band, bucket, doc_id) frame compatible with [[bucketPairs]] (the
    * df-ordered prefix is exactly the thing that could go quadratic on a
    * boilerplate corpus). `s` is (doc_id: long, sh: array<long>); `parts`
    * is the caller's exploded-row-aware width, estimated off the raw
    * source (a checkpointed `s` carries origin stats). */
  private[graft] def jaccardPrefixBuckets(s: DataFrame, threshold: Double,
                                          parts: Int): DataFrame = {
    val tok = s.select(col("doc_id"), size(col("sh")).as("nsh"),
      explode(col("sh")).as("g"))
    val dfreq = tok.groupBy("g").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("g"))
    // explicit repartition: the exploded token stream is many rows but
    // few bytes, so AQE would coalesce the window's input shuffle down
    // to a couple of tasks and serialize the per-doc rank sort.
    tok.join(dfreq, "g")
      .repartition(parts, col("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <=
        col("nsh") - ceil(col("nsh") * lit(threshold)).cast("long") + 1)
      // nsh rides along so the caller can pack it into the bucket id and
      // length-filter pairs before the dedup exchange (PPJoin length filter)
      .select(lit(0).as("band"), col("g").as("bucket"), col("doc_id"),
        col("nsh"))
  }

  /** Incremental near-dedup: which INCOMING documents near-duplicate the
    * EXISTING corpus — the shape every continuously-ingesting training
    * pipeline runs per batch (dedup the delta against the accumulated
    * corpus, never re-pair the corpus against itself).
    *
    * Same bucket-first skeleton as [[minhashDupPairs]], with the side
    * (0 = existing, 1 = incoming) carried INSIDE the bucket id struct:
    * one (band, bucket, (side, id)) shuffle, capped buckets, distinct
    * pairs — then cross-side pairs only are kept (struct sort order puts
    * existing before incoming, so the filter is two field tests, and
    * existing↔existing pairs are never verified, which is the point of
    * incrementality). At cluster scale the existing side's buckets come
    * from a precomputed signature table; here both sides are hashed in
    * the same job for a self-contained operator.
    *
    * Output: (existing_id, incoming_id, jaccard ≥ threshold). */
  def minhashIncremental(existing: DataFrame, incoming: DataFrame,
                         id: Column, text: Column,
                         n: Int = 3, k: Int = 64, rowsPerBand: Int = 4,
                         jaccardThreshold: Double = 0.7,
                         maxBucket: Int = 1000): DataFrame = {
    def side(df: DataFrame, s: Int) = Sizing.widenKernelStage(df)
      .select(lit(s).as("side"), id.cast("long").as("doc_id"),
        shingleHashes64(text, n).as("sh"))
    // checkpointed for the same reason as minhashDupPairs: three consumers
    // (banding + both verify sides), one kernel pass instead of three —
    // and gated for the same reason (r20): below the shared-kernel gate
    // the eager cut job costs more than re-running the kernel
    val doCut =
      Sizing.sharedKernelCutOk(existing) || Sizing.sharedKernelCutOk(incoming)
    val sides = side(existing, 0).union(side(incoming, 1))
    val base = if (doCut) Checkpoints.cut(sides) else sides
    // side-first struct keeps the cross-side filter two field tests; nsh
    // rides last so the PPJoin length filter can drop length-mismatched
    // candidates before the pair-dedup exchange (exact, as in
    // [[minhashDupPairs]])
    val banded = base
      .select(struct(col("side"), col("doc_id"),
          size(col("sh")).as("nsh")).as("sid"),
        posexplode(minhashBandBuckets(col("sh"), k, rowsPerBand))
          .as(Seq("band", "bucket")))
      .select(col("sid"), col("band"), col("bucket"))
    val pairs = bucketPairs(banded, col("sid"), maxBucket,
        pinnedParts = Some(
          Sizing.explodedShuffleParts(existing, bytesPerRow = 75L)
            .max(Sizing.explodedShuffleParts(incoming, bytesPerRow = 75L))),
        pairFilter = Some((a, b) => lengthOk(a("nsh"), b("nsh"),
          jaccardThreshold)))
      .filter(col("id_a.side") === 0 && col("id_b.side") === 1)
      .select(col("id_a.doc_id").as("existing_id"),
        col("id_b.doc_id").as("incoming_id"))
    val exA = base.filter(col("side") === 0)
      .select(col("doc_id").as("existing_id"), col("sh").as("_sha"))
    val inB = base.filter(col("side") === 1)
      .select(col("doc_id").as("incoming_id"), col("sh").as("_shb"))
    verifyJoin(pairs, exA, inB, "existing_id", "incoming_id",
        Sizing.verifyBroadcastOk(base, exact = doCut,
          srcBytes = Sizing.leafPlanBytes(existing) +
            Sizing.leafPlanBytes(incoming)),
        jaccardThreshold)
      .orderBy("existing_id", "incoming_id")
  }

  /** Exact n-gram Jaccard similarity of a (small, broadcast) query set
    * against the corpus — the verifiable baseline behind [[minhashDupPairs]]
    * (which is its scale path: bucket first, verify the same Jaccard only
    * on collisions). Shingle sets are distinct n-grams carried as 64-bit
    * hashes (set sizes equal the string sets up to negligible collisions,
    * and long intersection beats string intersection); Jaccard =
    * |∩| / (|A| + |B| − |∩|), exact integer arithmetic → bit-stable. */
  def ngramJaccardPairs(corpus: DataFrame, queries: DataFrame,
                        id: Column, text: Column,
                        n: Int = 3, threshold: Double = 0.01): DataFrame = {
    require(threshold > 0.0,
      "inverted-index jaccard never materializes zero-overlap pairs")
    shingleOverlap(corpus, queries, id, text, n)
      .select(col("query_id"), col("doc_id"),
        (col("inter").cast("double")
          / (col("n_q") + col("n_c") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("query_id", "doc_id")
  }

  /** Shared inverted-index core for the set-overlap similarity family:
    * (query_id, doc_id, inter, n_q, n_c) for every query/corpus pair with
    * at least one common n-gram shingle. Explode shingles, equi-join on
    * the shingle hash — |∩| arrives as a count, zero-overlap pairs never
    * exist, and the corpus is scanned once instead of cross-joined. */
  private def shingleOverlap(corpus: DataFrame, queries: DataFrame,
                             id: Column, text: Column, n: Int): DataFrame = {
    // widenKernelStage: the CORPUS side only — it shingles the 100 TB
    // stream. The queries side is COLLECTED into a broadcast below, so
    // widening it would insert a full round-robin exchange whose output
    // is immediately gathered to the driver — pure overhead for any
    // query set past the 1 MiB floor (ADVICE r16)
    def sh(df: DataFrame, idAs: String, widen: Boolean) = {
      val src = if (widen) Sizing.widenKernelStage(df) else df
      src.filter(size(TextAnalytics.tokensCol(text)) >= n)
        .select(id.as(idAs), shingleHashes64(text, n).as("sh"))
    }
    val c = sh(corpus, "doc_id", widen = true)
      .select(col("doc_id"), size(col("sh")).as("n_c"), explode(col("sh")).as("g"))
    val q = sh(queries, "query_id", widen = false)
      .select(col("query_id"), size(col("sh")).as("n_q"), explode(col("sh")).as("g"))
    // the pair aggregate's shuffle input is one row per matched shingle —
    // corpus-exploded volume; widen it with the corpus when the estimate
    // demands (small corpora keep the original plan: broadcast join +
    // partial-agg exchange at the session default)
    Sizing.widenForExplosion(
      c.join(broadcast(q), "g")
        .filter(col("query_id") =!= col("doc_id")),
      corpus, col("query_id"), col("doc_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("inter"),
        first(col("n_q")).as("n_q"), first(col("n_c")).as("n_c"))
  }

  /** Containment (asymmetric Jaccard): |Q ∩ C| / |Q| — how much of the
    * QUERY document appears inside each corpus document. The
    * quote/subset-detection twin of [[ngramJaccardPairs]]: a short passage
    * fully quoted inside a long document scores containment 1.0 while its
    * symmetric Jaccard is tiny (the union is dominated by the long side).
    * Same inverted-index shape — one corpus scan, shingle-hash equi-join,
    * no cross join. */
  def containmentPairs(corpus: DataFrame, queries: DataFrame,
                       id: Column, text: Column,
                       n: Int = 3, threshold: Double = 0.01): DataFrame = {
    require(threshold > 0.0,
      "inverted-index containment never materializes zero-overlap pairs")
    shingleOverlap(corpus, queries, id, text, n)
      .select(col("query_id"), col("doc_id"),
        (col("inter").cast("double") / col("n_q")).as("containment"))
      .filter(col("containment") >= threshold)
      .orderBy("query_id", "doc_id")
  }

  /** Decontamination: flag TRAINING documents that contain an EVAL-set
    * example — the benchmark-leakage gate every training corpus must pass
    * before a model trains on it. A train doc is contaminated when the
    * containment of some eval example's shingle set in the doc's shingle
    * set, |E ∩ D| / |E|, reaches `threshold` (containment, not Jaccard:
    * a short eval question quoted inside a long web page is exactly the
    * leak to catch, and its symmetric Jaccard is tiny).
    *
    * Output: one row per flagged train doc — (doc_id, max containment
    * over the eval set, number of eval examples at/over threshold).
    *
    * Scale shape ([[shingleOverlap]]): eval sets are benchmark-sized
    * (thousands), the corpus is the 100 TB side — the eval shingles
    * broadcast, the corpus streams through one scan + one aggregation;
    * intersection sizes arrive as join-match counts, so zero-overlap
    * (eval, doc) pairs never materialize. The eval-side broadcast is
    * EXPLICIT (no autoBroadcast fallback) and sized O(|eval| ×
    * shingles/doc) — correct because an eval suite is a fixed artifact,
    * not a corpus fraction (the sf-coupled fixture measured ~1.1M
    * hashed shingles at sf3, 8g-safe — PROBE.md r18 heap audit); a
    * genuinely corpus-scale eval set must swap the broadcast for the
    * shuffle shingle join instead of growing the driver collect. */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame,
                    id: Column, text: Column,
                    n: Int = 3, threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    shingleOverlap(corpus, evalSet, id, text, n)
      .select(col("doc_id"),
        (col("inter").cast("double") / col("n_q")).as("c"))
      .groupBy("doc_id")
      .agg(max(col("c")).as("maxc"),
        sum(when(col("c") >= threshold, 1L).otherwise(0L)).as("n_eval_hits"))
      .filter(col("n_eval_hits") > 0)
      .select(col("doc_id"), round(col("maxc"), 6).as("max_containment_r"),
        col("n_eval_hits"))
      .orderBy("doc_id")
  }

  /** Semantic decontamination — the embedding-space twin of
    * [[decontaminate]]: flag TRAINING rows whose embedding is
    * near-identical (cosine ≥ `cosThreshold`) to ANY eval-set
    * embedding. Catches the leak the lexical containment gate misses —
    * a paraphrased or re-tokenized eval example with the same meaning.
    *
    * Output: one AUDIT row per corpus vector — (vec_id,
    * max_eval_cos_r, n_eval_hits, contaminated) — so the caller can
    * both filter and report.
    *
    * Scale shape: eval sets are benchmark-sized, the corpus is the
    * 100 TB side — the eval vectors broadcast, the corpus streams
    * through one scan; the |corpus|·|eval| cosine work happens inside
    * the broadcast nested-loop stage and the per-row aggregate
    * partial-aggregates map-side, so the only shuffle carries ONE row
    * per corpus vector. For eval sets too big for the |corpus|·|eval|
    * broadcast-NL product, `lsh = Some((planes, bands))` switches to the
    * prefilter path: [[hyperplaneBands]] buckets on BOTH sides, candidates
    * are bucket collisions only, each unique (corpus, eval) pair verified
    * ONCE — the [[embeddingNearDupLsh]] discipline. Determinism: max over
    * the ROUNDED cosine (round is monotone, so max∘round = round∘max) and
    * the threshold applied to the rounded value, mirroring the
    * knn_cosine_pairs cross-engine contract. An EMPTY eval set yields no
    * audit rows (the cross join is inner-shaped) — callers gate on
    * eval-set emptiness before relying on the per-vector audit.
    *
    * LSH-path contract differences (both documented, both tested):
    *   - `max_eval_cos_r` is the max over CANDIDATE pairs only — NULL for
    *     a corpus vector colliding with no eval bucket (the exact path
    *     reports the true max over every eval vector). The
    *     `contaminated` / `n_eval_hits` audit columns keep the exact-path
    *     semantics up to the S-curve recall bound below.
    *   - recall: a pair at cosine t collides in one of b bands of p
    *     planes with P = 1 − (1 − q^p)^b, q = 1 − arccos(t)/π. At the
    *     default (p=12, b=24): t=0.95 → miss 4e-4, t=0.99 → miss 1e-9;
    *     background (t≈0) pairs collide at ~0.6%, so the verify work is
    *     ~1/170 of the exact path's product.
    *   - an EMPTY eval set yields one all-clean audit row per corpus
    *     vector (the left join keeps the corpus side), where the exact
    *     path yields none — the LSH path's shape is the audit contract a
    *     pipeline actually wants; the exact path keeps its historical
    *     inner-join shape for oracle stability. */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
                            id: Column, vec: Column,
                            cosThreshold: Double = 0.95,
                            lsh: Option[(Int, Int)] = None): DataFrame = {
    require(cosThreshold > 0.0 && cosThreshold <= 1.0,
      s"cosThreshold must be in (0,1], got $cosThreshold")
    // widenKernelStage on the corpus side: the exact path's
    // |corpus|·|eval| cosine product runs INSIDE the corpus scan stage
    // (broadcast-NL), so its per-corpus-byte cost is |eval|× a text
    // kernel's — hence the 32 KiB caller override (sf1.0: 27.2 s on a
    // one-split embeddings scan → ~2 s widened; the LSH path's banding
    // kernel shares the win). The eval side stays unwidened: it is
    // collected into a broadcast either way.
    val c = Sizing.widenKernelStage(corpus, bytesPerTask = 32L << 10)
      .select(id.as("vec_id"), vec.as("cv"))
    val q = evalSet.select(id.as("eval_id"), vec.as("qv"))
    val pairCos = lsh match {
      case None =>
        c.crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(VectorOps.cosine(col("qv"), col("cv")), 4).as("cos_r"))
      case Some((planes, bands)) =>
        // banded eval side stays broadcast-sized (|eval|·bands rows); the
        // corpus streams through ONE scan — the bucket join is map-side,
        // and the only shuffle keys (vec_id, eval_id) to verify each
        // unique candidate pair once (multi-band collisions dedupe in the
        // aggregate: cos_r is deterministic per pair, so max = the value)
        def banded(df: DataFrame, idName: String, vName: String) = df
          .select(col(idName), col(vName),
            explode(hyperplaneBands(col(vName), planes, bands)).as("bb"))
          .select(col(idName), col(vName), col("bb.band").as("band"),
            col("bb.bucket").as("bucket"))
        banded(c, "vec_id", "cv")
          .join(broadcast(banded(q, "eval_id", "qv")), Seq("band", "bucket"))
          .select(col("vec_id"), col("eval_id"),
            round(VectorOps.cosine(col("qv"), col("cv")), 4).as("cos_r"))
          .groupBy("vec_id", "eval_id").agg(max(col("cos_r")).as("cos_r"))
          .select(col("vec_id"), col("cos_r"))
    }
    val agg = pairCos
      .groupBy("vec_id")
      .agg(max(col("cos_r")).as("max_eval_cos_r"),
        sum(when(col("cos_r") >= cosThreshold, 1L).otherwise(0L))
          .as("n_eval_hits"))
    val audit = lsh match {
      case None => agg
      case Some(_) =>
        // every corpus vector gets its audit row even with zero bucket
        // collisions (max_eval_cos_r stays NULL — candidates-only max)
        c.select(col("vec_id")).join(agg, Seq("vec_id"), "left")
          .select(col("vec_id"), col("max_eval_cos_r"),
            coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"))
    }
    audit
      .select(col("vec_id"), col("max_eval_cos_r"), col("n_eval_hits"),
        (col("n_eval_hits") > 0).as("contaminated"))
      .orderBy("vec_id")
  }

  /** Auto-routed [[semanticDecontaminate]]: picks the exact broadcast-NL
    * path or the LSH prefilter from the ESTIMATED |corpus|×|eval| work
    * product, so a pipeline author does not have to know the crossover.
    *
    * The route statistic is `leafPlanBytes(corpus) × leafPlanBytes(eval)`
    * — pure optimizer stats (parquet/file-relation sizes), zero jobs. Both
    * sides carry the same embedding schema, so the byte product is the
    * row-count product up to a constant, and the threshold is calibrated
    * in the same units. Measured crossover (isolated 8g walls, this repo's
    * probe `sdeconroute`): at sf1.0 (product 4.4e12) exact ≈ LSH
    * (1.28 s vs 0.89 s, inside suite noise — exact kept for its true
    * `max_eval_cos_r` audit); at sf3 (3.9e13) LSH wins 25.0→4.3 s (5.8×);
    * at sf10 (4.3e14) 108.7→5.7 s (19×). Default threshold 1e13 — the
    * geometric midpoint of the bracketing tiers — overridable via
    * [[Sizing.SdeconAutoBytesProductConf]].
    *
    * Route conservatism: an eval set carved from the corpus by a FILTER
    * inherits the full corpus byte estimate (size-only stats do not scale
    * filters), so the product is an upper bound and the auto route flips
    * to LSH early — the safe direction at scale. A caller who KNOWS the
    * eval side is tiny and wants the exact path's true-max audit passes
    * `lsh = None` to [[semanticDecontaminate]] explicitly. Unknown stats
    * (estimate 0 on either side) also route to LSH: at 100 TB the
    * unbounded |corpus|·|eval| broadcast-NL product is the failure mode
    * to avoid, and the prefilter is within noise of exact even at the
    * smallest measured tier.
    *
    * Output contract follows the chosen path (documented on
    * [[semanticDecontaminate]]); the verdict columns (`n_eval_hits`,
    * `contaminated`) are route-stable whenever every true hit collides in
    * some band — at the default (p=12, b=24) a cosine-0.95 pair misses
    * with P ≈ 4e-4. Callers needing route-independent OUTPUT SHAPE should
    * project the verdict columns, as the registered
    * `semantic_decontamination_auto` query does. */
  def semanticDecontaminateAuto(corpus: DataFrame, evalSet: DataFrame,
                                id: Column, vec: Column,
                                cosThreshold: Double = 0.95,
                                planes: Int = 12,
                                bands: Int = 24): DataFrame = {
    val threshold = Sizing.sdeconAutoBytesProduct(corpus.sparkSession)
    val cb = Sizing.leafPlanBytes(corpus)
    val eb = Sizing.leafPlanBytes(evalSet)
    val useLsh = cb == 0 || eb == 0 || cb * eb > BigInt(threshold)
    semanticDecontaminate(corpus, evalSet, id, vec, cosThreshold,
      lsh = if (useLsh) Some((planes, bands)) else None)
  }

  /** 64-bit SimHash as a single long — native codegen kernel
    * ([[graft.functions.SimHash64]]): per token, xxhash64 contributes ±1 to
    * each bit position; final bit = sign of the sum. */
  def simhash64(text: Column): Column =
    graft.functions.HashFunctions.simhash64(TextAnalytics.tokensCol(text))

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: candidates share one of `bands` 16-bit windows
    * of the simhash (pigeonhole: hamming ≤ bands−1 guarantees a shared
    * band), verified by full Hamming distance via `bit_count(xor)`.
    *
    * The 8-byte simhash rides INSIDE the bucket id list, so verification is
    * inline — the whole operator is one scan + one (band, bucket, id, sim)
    * shuffle, no joins at all. */
  def simhashDupPairs(df: DataFrame, id: Column, text: Column,
                      bands: Int = 4, maxHamming: Int = 3,
                      maxBucket: Int = 1000): DataFrame =
    simhashBandedPairs(
      Sizing.widenKernelStage(df)
        .select(id.as("doc_id"), simhash64(text).as("sim")),
      bands, maxHamming, maxBucket)

  /** Banding + pigeonhole + Hamming-verify tail shared by [[simhashDupPairs]]
    * and [[simhashMd5DupPairs]]; `sims` is (doc_id, sim: long). */
  private def simhashBandedPairs(sims: DataFrame, bands: Int, maxHamming: Int,
                                 maxBucket: Int): DataFrame = {
    // bands must tile the 64-bit simhash exactly: a non-divisor leaves the
    // top 64 % bands bits unbanded (voiding the hamming <= bands-1
    // pigeonhole guarantee), and bands = 1 would need a 64-bit mask that
    // (1L << 64) silently wraps to garbage
    require(bands >= 2 && 64 % bands == 0,
      s"bands must be >= 2 and divide 64, got $bands")
    val bandLen = 64 / bands
    // The signature computation above this call can be expensive (the md5
    // twin folds a 64-long vote array per token), and the join plan below
    // scans its output three times (bucket sizes + both self-join sides) —
    // without a lineage cut Spark recomputes it per scan (measured 3.2x
    // wall at sf0.1). sims is 16 bytes/row (id + packed signature) — one
    // executor-storage copy per billion docs is ~16 GB cluster-wide, the
    // canonical cache-the-small-projection trade. Nothing downstream reads
    // the cut frame's stats (no explodedShuffleParts here), so the
    // join-product stats pathology the cut can carry does not apply.
    val simsOnce = graft.ops.Checkpoints.cut(
      sims.select(col("doc_id"), col("sim")))
    val banded = simsOnce
      .select(col("doc_id"), col("sim"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("sim"), b * bandLen)
              .bitwiseAND(lit((1L << bandLen) - 1)).as("bucket"))
        }: _*)).as("bb"))
      .select(col("doc_id"), col("sim"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // Pair generation is a self-JOIN on (band, bucket) with the Hamming
    // verify INSIDE the join predicate — NOT [[bucketPairs]]' per-bucket
    // collect_list + pair explode. That array form builds a bucket's whole
    // O(n²) pair set inside one row before exploding, so one dense bucket
    // (a shared-vocabulary corpus collapses many docs onto near-identical
    // signatures) OOMs a single task no matter the executor size — sf3.0
    // measured: heap death at 64 g. The sort-merge join streams candidates
    // and SPILLS its per-key buffer, so a mega-bucket costs time, not
    // memory, and only verified pairs (hamming <= maxHamming) ever reach
    // the pair-dedup exchange. Same output by construction: within-bucket
    // id_a < id_b pairs, whole buckets over `maxBucket` dropped (the skew
    // guard, observed via CapMetrics like every other capped family).
    val sizes = banded.groupBy("band", "bucket").agg(count(lit(1)).as("_bn"))
    val ok = observeCap(sizes, col("_bn"), maxBucket)
      .filter(col("_bn").between(2, maxBucket))
      .select(col("band"), col("bucket"))
    // no broadcast hint: distinct buckets are data-bounded, not
    // schema-bounded (bands * 2^bandLen can exceed any broadcast budget);
    // the member join and the pair join share the (band, bucket) hash
    // partitioning, and AQE still broadcasts `ok` when it measures small
    val member = banded.join(ok, Seq("band", "bucket"))
    val a = member.select(col("band"), col("bucket"),
      col("doc_id").as("id_a"), col("sim").as("_sa"))
    val b = member.select(col("band"), col("bucket"),
      col("doc_id").as("id_b"), col("sim").as("_sb"))
    a.join(b, Seq("band", "bucket"))
      // one hamming64 expression serving both the verify predicate and
      // the output column (r14 verdict nit: the filter previously spelled
      // bit_count(xor) and the select hamming64 — same value, written
      // twice); Catalyst inlines it into the join condition, so only
      // verified pairs reach the dedup exchange, computed once
      .withColumn("hamming", hamming64(col("_sa"), col("_sb")))
      .filter(col("id_a") < col("id_b") && col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** Cross-engine-recomputable SimHash twin of [[simhashDupPairs]]: token
    * bits come from md5 (the digest's leading 16 hex chars read as a 64-bit
    * value, bit 0 = least significant) instead of the Spark-internal
    * xxhash64, so an independent SQL oracle can replay the WHOLE pipeline —
    * token bit matrix, ±1 vote sums, sign bits, 16-bit banding, pigeonhole
    * candidates, Hamming verify — digest for digest. Same operator shape
    * as the xxhash64 variant (one scan + the one bucketPairs shuffle); the
    * extra cost is md5 per distinct (doc, token) and a 64-way per-token
    * vote explode, partially aggregated map-side into ≤ docs×64 rows per
    * partition before the (doc_id, bit) shuffle.
    *
    * Simhash bit b = [Σ_tokens (2·bit_b(md5(token)) − 1) > 0] over each
    * doc's token BAG — multiplicity-weighted votes (Charikar's tf
    * weighting), which is also what keeps buckets small on template-heavy
    * corpora: set-semantics votes collapse short docs drawn from a shared
    * vocabulary onto identical simhashes (measured: largest 16-bit band
    * bucket 3278 with distinct tokens vs 582 weighted, sf0.1 fixture).
    * Ties at 0 are a 0 bit. */
  def simhashMd5DupPairs(df: DataFrame, id: Column, text: Column,
                         maxHamming: Int = 3,
                         maxBucket: Int = 1000000): DataFrame = {
    // Vote matrix as a PER-ROW array fold — not an explode: a 64-rows-per-
    // token explode pushes tokens×64 rows through two hash-aggregate
    // shuffles (measured 16.6 s at sf0.1 vs ~1 s for the xxhash64 twin).
    // Staging matters inside the fold too: a lambda references are TREES,
    // so md5 mentioned per bit would recompute 64 digests per token
    // (measured just as slow); instead one transform computes each token's
    // 64-bit digest prefix ONCE — hi 8 hex chars << 32 | lo 8 (each half
    // < 2^32 so conv()'s unsigned-string → long cast is exact; the << 32
    // wrap into the sign bit is intended) — and the vote fold then only
    // does long mask tests against the BOUND variable: no dynamic shifts,
    // no string ops, no exchange before banding.
    val bitValues = typedLit(Seq.tabulate(64)(b => 1L << b))
    def h64(t: Column): Column = {
      val hex = md5(encode(t, "UTF-8"))
      shiftleft(conv(substring(hex, 1, 8), 16, 10).cast("long"), 32)
        .bitwiseOR(conv(substring(hex, 9, 8), 16, 10).cast("long"))
    }
    // widenKernelStage: the 64-long vote fold below is the most expensive
    // per-byte kernel in the file — it must not run at file-split width.
    // bytesPerTask is scaled DOWN 8× from the text-kernel default (r20,
    // the r19 verdict's "vote-fold width" item): per input byte this
    // kernel does an md5 digest plus a 64-long array fold per token,
    // roughly an order of magnitude over the tokenize kernels the
    // 256 KiB default is calibrated for — the same caller-hint contract
    // the semantic-decontamination exact path uses.
    val sims = Sizing.widenKernelStage(df, bytesPerTask = 32768L)
      .select(id.as("doc_id"),
        TextAnalytics.tokensCol(text).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), transform(col("toks"), h64(_)).as("hs"))
      .select(col("doc_id"),
        aggregate(col("hs"), array_repeat(lit(0L), 64),
          (acc, h) => zip_with(acc, bitValues,
            (a, mask) => a + when(h.bitwiseAND(mask) =!= 0, 1L).otherwise(-1L)))
          .as("votes"))
      .select(col("doc_id"),
        aggregate(
          zip_with(col("votes"), bitValues,
            (v, bv) => when(v > 0, bv).otherwise(0L)),
          lit(0L), (acc, x) => acc + x).as("sim"))
    simhashBandedPairs(sims, bands = 4, maxHamming, maxBucket)
      // bit_count yields int; long for cross-engine dtype stability
      .withColumn("hamming", col("hamming").cast("long"))
  }

  /** Per-band random-hyperplane buckets: array of `bands` structs
    * (band, bucket), each band using a disjoint plane range — multi-band
    * recovers the recall a single bit-string bucket loses (a near-dup pair
    * only needs ALL planes of ONE band to agree, P(hit) = 1−(1−pᵖ)ᵇ). */
  def hyperplaneBands(vec: Column, planes: Int, bands: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        graft.functions.HashFunctions.hyperplaneBucket(
          vec.cast("array<double>"), planes, b * planes).as("bucket"))
    }: _*)

  /** Embedding near-dup, LSH-bucketed (the scale path): random-hyperplane
    * sign-bit buckets (planes derived from seeded hashes — deterministic,
    * no driver-side matrix), multi-band for recall, dedup-then-verify:
    * within-bucket pair generation carries ids only ([[bucketPairs]]),
    * pairs are `distinct`ed, vectors are joined back once per side and
    * cosine is verified once per pair. */
  def embeddingNearDupLsh(df: DataFrame, id: Column, vec: Column,
                          planes: Int = 16, bands: Int = 1,
                          cosineThreshold: Double = 0.9,
                          maxBucket: Int = 1000): DataFrame = {
    val base = df.select(id.as("vec_id"), vec.as("v"))
    val banded = df.select(id.as("vec_id"),
      explode(hyperplaneBands(vec, planes, bands)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // embedding rows are ~256 bytes (64-float vectors) fanning out `bands`
    // ways — one banded row per ~128 input bytes at the default 1–2 bands
    bucketPairs(banded, col("vec_id"), maxBucket,
        pinnedParts = Some(Sizing.explodedShuffleParts(df, bytesPerRow = 128L)))
      .join(base.select(col("vec_id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(base.select(col("vec_id").as("id_b"), col("v").as("v_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        VectorOps.cosine(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= cosineThreshold)
      // cos rounded for cross-engine comparability (fold order differs);
      // the threshold above is applied to the unrounded value
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_r"))
      .orderBy("id_a", "id_b")
  }

  /** Incremental embedding near-dup: which INCOMING vectors are
    * near-duplicates (cosine ≥ `cosineThreshold`) of the EXISTING corpus —
    * the embedding twin of [[minhashIncremental]] (dedup the ingest delta
    * against the accumulated corpus, never re-pair the corpus against
    * itself). Same side-tagged bucket discipline: hyperplane bands on both
    * sides, the side rides INSIDE the bucket id struct so ONE
    * (band, bucket, (side, id)) shuffle generates candidates, existing↔
    * existing pairs are filtered before any verify work (struct sort order
    * puts existing first, so the filter is two field tests), and each
    * surviving cross-side pair gets ONE cosine verify with vectors joined
    * back per side. At cluster scale the existing side's buckets come from
    * a precomputed signature table; here both sides hash in one job for a
    * self-contained operator.
    *
    * Output: (existing_id, incoming_id, cos_r) for cosine ≥ threshold
    * (threshold applied to the unrounded value, output rounded to 6 —
    * the [[embeddingNearDupLsh]] cross-engine contract). */
  def embeddingNearDupIncremental(existing: DataFrame, incoming: DataFrame,
                                  id: Column, vec: Column,
                                  planes: Int = 16, bands: Int = 2,
                                  cosineThreshold: Double = 0.9,
                                  maxBucket: Int = 1000): DataFrame = {
    def side(df: DataFrame, sd: Int) = df
      .select(lit(sd).as("side"), id.cast("long").as("vec_id"), vec.as("v"))
    val base = side(existing, 0).union(side(incoming, 1))
    val banded = base
      .select(struct(col("side"), col("vec_id")).as("sid"),
        explode(hyperplaneBands(col("v"), planes, bands)).as("bb"))
      .select(col("sid"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
    bucketPairs(banded, col("sid"), maxBucket,
        pinnedParts = Some(
          Sizing.explodedShuffleParts(existing, bytesPerRow = 128L)
            .max(Sizing.explodedShuffleParts(incoming, bytesPerRow = 128L))))
      .filter(col("id_a.side") === 0 && col("id_b.side") === 1)
      .select(col("id_a.vec_id").as("existing_id"),
        col("id_b.vec_id").as("incoming_id"))
      .join(base.filter(col("side") === 0)
        .select(col("vec_id").as("existing_id"), col("v").as("v_a")),
        "existing_id")
      .join(base.filter(col("side") === 1)
        .select(col("vec_id").as("incoming_id"), col("v").as("v_b")),
        "incoming_id")
      .select(col("existing_id"), col("incoming_id"),
        VectorOps.cosine(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= cosineThreshold)
      .select(col("existing_id"), col("incoming_id"),
        round(col("cos"), 6).as("cos_r"))
      .orderBy("existing_id", "incoming_id")
  }

  /** Cross-document duplicated-SPAN removal — the transform behind the
    * "deduplicate repeated substrings" step of training-data curation
    * (Lee et al. 2022, at n-gram granularity): a token position is
    * boilerplate if ANY n-gram covering it occurs in at least
    * `minDocs` distinct documents; those positions are dropped and the
    * surviving tokens reassembled in order. The measurement twin is
    * [[TextAnalytics.duplicatedNgramFraction]] — this one actually
    * cleans the text.
    *
    * Plan: one scan → positional gram stream (explode, n× token rows)
    * → distinct (doc, gram) → gram document-frequency aggregate
    * (partial-agg map-side) → equi-join dup grams back to the
    * positional stream → per-doc covered-position sets via array union
    * (groupBy doc) → left join to the corpus and an in-row filter
    * rebuild. No windows, no pair space — linear in corpus token count.
    * The per-row rebuild is O(tokens · covered) via `array_contains`;
    * documents are bounded (chunk first for pathological lengths).
    *
    * Output per input doc: (doc_id, kept_tokens, dropped_tokens,
    * clean_text) — docs shorter than n tokens (including empty/null
    * text) pass through whole. */
  def removeDuplicatedSpans(docs: DataFrame, id: Column, text: Column,
                            n: Int = 3, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // widenKernelStage: the tokenize + positional gram-hash build AND
    // the per-row keep/rebuild tail both run at file-split width
    // without it (r17 kernelwidth A/B — PROBE.md)
    // cutSharedKernel: the token frame feeds the gram pipeline AND the
    // final rebuild join — past the size gate the tokenizer runs once,
    // below it the lazy two-pass plan is kept (r19 opt)
    val base = Sizing.cutSharedKernel(Sizing.widenKernelStage(docs)
      .select(id.as("doc_id"),
        coalesce(TextAnalytics.tokensCol(text), array()).as("_toks")), docs)
    val nt = size(col("_toks"))
    // grams travel as 64-bit hashes: the strings are built (and
    // discarded) inside the scan stage — the distinct/df-count/join
    // shuffles carry 8 bytes per gram, not ~30-char text. Set semantics
    // up to negligible 64-bit collisions, same trade as shingleHashes64.
    val grams = base
      .filter(nt >= n)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), nt - n),
          s => xxhash64(concat_ws(" ", slice(col("_toks"), s + 1, lit(n)))))))
      .withColumnRenamed("pos", "_start").withColumnRenamed("col", "_gram")
    // every shuffle below carries the exploded gram stream (one row per
    // token position): widen each to the corpus-sized width when the
    // estimate exceeds the session default — at probe ×128 these are the
    // sort-spill sites the shuffle-partition override used to paper over
    val dupGrams = Sizing.widenForExplosion(
        grams.select(col("doc_id"), col("_gram")), docs,
        col("doc_id"), col("_gram"))
      .distinct()
      .groupBy("_gram").agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select("_gram")
    val covered = Sizing.widenForExplosion(
        Sizing.widenForExplosion(grams, docs, col("_gram"))
          .join(dupGrams, "_gram"),
        docs, col("doc_id"))
      .groupBy("doc_id")
      .agg(array_distinct(flatten(collect_list(
        sequence(col("_start"), col("_start") + (n - 1))))).as("_cov"))
    // kept positions via hash-based array_except — O(tokens + covered)
    // per row (array_contains per position would be O(tokens·covered),
    // which dominates on boilerplate-heavy corpora where the cover is
    // most of the doc); order preserved because the left array is the
    // ascending position sequence
    val keptToks = when(nt === 0, array().cast("array<string>"))
      .otherwise(transform(
        array_except(sequence(lit(0), nt - 1),
          coalesce(col("_cov"), array())),
        p => element_at(col("_toks"), p + 1)))
    base.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("_toks"), keptToks.as("_kept"))
      .select(col("doc_id"),
        size(col("_kept")).cast("long").as("kept_tokens"),
        (size(col("_toks")) - size(col("_kept")))
          .cast("long").as("dropped_tokens"),
        concat_ws(" ", col("_kept")).as("clean_text"))
      .orderBy("doc_id")
  }
}
