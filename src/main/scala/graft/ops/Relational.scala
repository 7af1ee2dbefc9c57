package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational operator core (SURVEY.md §2.2–2.5).
  *
  * Re-expresses the reference's hand-rolled RDD patterns as declarative
  * DataFrame plans so Catalyst supplies pushdown, pruning, partial
  * aggregation and join-strategy selection:
  *
  *  - J1 set difference (`Assignment 1/a1p1_ahuja.py:224–239`,
  *    `a1p2a_ahuja.py:34`) → `except` / left-anti join.
  *  - J2 broadcast semi join (`a1p2b_ahuja.py:70,80,99`) → broadcast hint +
  *    left-semi; Catalyst plans `BroadcastHashJoinExec`, no driver
  *    round-trip.
  *  - A1/A2/A3 keyed SUM with map-side combine (`a1p1_ahuja.py:181–192`) →
  *    `groupBy.agg` (HashAggregate partial+final is automatic).
  *  - A5 grouped nesting (`a1p2a_ahuja.py:34`, `a2_ahuja.py:240`) →
  *    `sort_array(collect_list(...))` for deterministic nesting.
  *  - A10 two-level temporal roll-up (`a1p2b_ahuja.py:82`).
  *  - O1 sorts / top-k per group (`a2_ahuja.py:312–314`) → window
  *    `row_number`, rank pushed down so only k rows per group survive.
  *  - P4/P5 post-aggregation filters (`a1p2a_ahuja.py:34`,
  *    `a1p1_ahuja.py:84–88`) → HAVING-shaped `filter` after `agg`.
  *
  * Scale posture: every operator is a pure logical plan — no collect(), no
  * driver state. Small dimension inputs are explicitly `broadcast()`-hinted;
  * everything else shuffles on its natural key.
  */
object Relational {

  /** J1: R − S over whole rows, for any comparable schema. */
  def setDifference(r: DataFrame, s: DataFrame): DataFrame = r.except(s)

  /** J1 dual: R ∩ S over whole rows (set semantics, deduped). */
  def setIntersect(r: DataFrame, s: DataFrame): DataFrame = r.intersect(s)

  /** J1 (keyed form): rows of `r` whose key has no match in `s`.
    * Anti join keeps `r`'s full row width, unlike `except`. */
  def antiJoin(r: DataFrame, s: DataFrame, rKey: Column, sKey: Column): DataFrame =
    r.join(s, rKey === sKey, "left_anti")

  /** J2: rows of `r` whose key appears in the (small) set `s`.
    * `s` is broadcast — at 100 TB the fact side never shuffles. */
  def broadcastSemiJoin(r: DataFrame, s: DataFrame, rKey: Column, sKey: Column): DataFrame =
    r.join(broadcast(s), rKey === sKey, "left_semi")

  /** A6: DISTINCT projection (`a1p2b_ahuja.py:94` used reduceByKey(first)). */
  def distinctOf(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*).distinct()

  /** O1 as window: top-k rows per group, deterministic via tie-breakers. */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[Column],
                   orderCols: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** A5: nest group members into one deterministic string
    * (`sort_array(collect_list)`, pinned order for golden comparison). */
  def groupedConcat(df: DataFrame, groupCols: Seq[Column], item: Column,
                    alias: String): DataFrame =
    df.groupBy(groupCols: _*)
      .agg(concat_ws(",", sort_array(collect_list(item))).as(alias))

  /** A10: two-level temporal roll-up — count by (key, year-month), then nest
    * the per-month series per key (`a1p2b_ahuja.py:82`). One query, two
    * shuffles, both partial-aggregated map-side. */
  def yearMonthRollup(df: DataFrame, key: Column, ts: Column): DataFrame = {
    val monthly = df
      .groupBy(key.as("key"), date_format(ts, "yyyy-MM").as("ym"))
      .agg(count(lit(1)).as("cnt"))
    monthly
      .groupBy(col("key"))
      .agg(concat_ws(",",
        sort_array(collect_list(concat_ws(":", col("ym"), col("cnt")))))
        .as("series"))
  }

  /** A1 under key skew: two-phase "salted" aggregation. Rows are spread
    * over (key, salt) for the first aggregation — a hot key occupies
    * `salts` reducers instead of one — then combined on key alone.
    * Identical results for any associative aggregate.
    *
    * Honest scope note: for algebraic aggregates (sum/count/min/max) Spark
    * already combines map-side, so salting mainly pays off for holistic
    * aggregates (collect_list/distinct counts) and for skewed-join keys;
    * it is exposed here as the standard explicit skew tool. */
  def saltedSum(df: DataFrame, keys: Seq[String], value: Column,
                alias: String, salts: Int = 16): DataFrame =
    df.select(keys.map(col) :+ value.as("_v"): _*)
      .withColumn("_salt", pmod(monotonically_increasing_id(), lit(salts)))
      .groupBy(keys.map(col) :+ col("_salt"): _*)
      .agg(sum(col("_v")).as("_partial"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("_partial")).as(alias))

  /** Skew-resilient equi-join: salt the (large, possibly skewed) left side
    * into `salts` sub-keys and replicate each right row once per salt, so
    * a hot join key spreads over `salts` reducers instead of melting one.
    * Results are identical to `left.join(right, leftKey === rightKey)` for
    * any inputs — replication only multiplies the match space by exactly
    * the salt that each left row carries.
    *
    * This is the explicit form of what AQE skew-join does adaptively; use
    * it when skew is known ahead of time (power-law keys in training-data
    * pipelines) or when AQE's post-shuffle split cannot help (e.g. the
    * skewed side feeds a window). Cost: right side shuffled ×salts — keep
    * `salts` small and the right side the thinner one. */
  def saltedJoin(left: DataFrame, right: DataFrame,
                 leftKey: Column, rightKey: Column,
                 salts: Int = 8): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    val l = left.withColumn("_salt",
      pmod(monotonically_increasing_id(), lit(salts.toLong)))
    val r = right.withColumn("_salt",
      explode(array((0 until salts).map(s => lit(s.toLong)): _*)))
    l.join(r, leftKey === rightKey && l("_salt") === r("_salt"))
      .drop("_salt")
  }

  /** Bucketed table write: pre-shuffle a fact table ONCE by its join key
    * so that every later equi-join or aggregation on that key runs with no
    * exchange at all (the 100 TB pattern for repeatedly-joined tables:
    * pay the shuffle at ingest, never at query time). `sortBy` additionally
    * removes the sort from sort-merge joins. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)

  /** Exact decimal SUM of a 2-dp monetary double, surfaced as double.
    * Decimal accumulation is associative ⇒ the result is independent of
    * partitioning/merge order — required for a bit-stable oracle compare,
    * and the honest answer at 1000-executor scale too. */
  def moneySum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Same, for a product of 2-dp factors (4 fractional digits preserved). */
  def moneySum4(c: Column): Column =
    sum(c.cast(DecimalType(22, 4))).cast("double")

  /** CDC upsert apply: fold an updates log into a base snapshot — for
    * every key, the row with the highest (version, tie-break) across both
    * inputs wins. `MERGE INTO` semantics composed from union +
    * [[latestPerKey]]: one shuffle on the key, works on plain parquet
    * (no table format required), and the same call applies N accumulated
    * update batches at once (union them first — the compaction is
    * associative). */
  def upsert(base: DataFrame, updates: DataFrame, key: Seq[Column],
             version: Column, tieBreak: Column): DataFrame =
    latestPerKey(base.unionByName(updates), key, version, tieBreak)

  /** Latest-snapshot compaction: the single newest row per key by
    * (version, tie-break) — the CDC/upsert-log → current-state operator
    * every incrementally-updated training corpus needs.
    *
    * Shape: `max_by(struct(all columns), struct(version, tie))` under a
    * keyed aggregate — PARTIAL-AGGREGATABLE, so the map side compacts
    * each task's rows to one per locally-seen key before the exchange
    * and per-task memory is one aggregation map entry per key, spillable.
    * The previous `row_number` window form OOM'd outright at the
    * events100 tier (100M change rows → ~3M-row sorts × 32 concurrent
    * tasks exhausted execution memory at the 8g default:
    * UNABLE_TO_ACQUIRE_MEMORY), and the first fix attempt — an explicit
    * volume-sized repartition before the window — cured the OOM but
    * defeated Spark's map-side WindowGroupLimit pushdown and shuffled
    * 325× more records (615k → 200M at the tier). The aggregate form is
    * both: map-side-bounded memory AND map-side-compacted volume.
    * Deterministic whenever (version, tie) is unique per key — the same
    * contract the window form had. */
  def latestPerKey(df: DataFrame, key: Seq[Column],
                   version: Column, tieBreak: Column): DataFrame = {
    val payload = struct(df.columns.toIndexedSeq.map(col): _*)
    df.groupBy(key: _*)
      .agg(max_by(payload, struct(version, tieBreak)).as("_row"))
      .select(col("_row.*"))
  }

  /** MERGE semantics: apply a CDC change batch to a base snapshot. The
    * LATEST change per key wins ([[latestPerKey]] on (version, tie));
    * a delete marker removes the key, anything else upserts the new
    * payload; base rows with no change pass through untouched.
    *
    * `base` and `changes` must share the (key, payload) columns;
    * `changes` additionally carries the delete flag and ordering
    * columns, which do not survive into the output. Plan: one keyed
    * aggregate to compact the batch (map-side combined — the exchange
    * carries ~one row per locally-seen key, not the raw change log), one
    * left-anti join against the compacted keys, one union — base never
    * shuffles on anything but the join key, which at warehouse scale is
    * the bucketed layout's sort key (exchange-free). The operation is
    * idempotent: re-applying the same batch yields the same snapshot.
    */
  def applyChanges(base: DataFrame, changes: DataFrame, keyCol: String,
                   isDelete: Column, version: Column,
                   tieBreak: Column): DataFrame = {
    val payload = base.columns.toSeq
    require(payload.contains(keyCol), s"base must carry key '$keyCol'")
    val latest = latestPerKey(
      changes.select(col(keyCol), isDelete.as("_del"), version.as("_v"),
        tieBreak.as("_tie"),
        struct(payload.filterNot(_ == keyCol).map(col): _*).as("_p")),
      Seq(col(keyCol)), col("_v"), col("_tie"))
    val upserts = latest.filter(!col("_del"))
      .select(col(keyCol) +: payload.filterNot(_ == keyCol)
        .map(c => col(s"_p.$c").as(c)): _*)
    base.join(latest.select(keyCol), Seq(keyCol), "left_anti")
      .unionByName(upserts)
  }

  /** Grouped exact percentiles (linear interpolation — the SQL-standard
    * percentile_cont semantics). Exact, not a sketch: correct at any
    * scale via Spark's built-in `percentile` aggregate (partial
    * aggregation map-side; memory is O(distinct values per group), which
    * for bounded-domain measures is safe — for unbounded hot groups
    * switch to `percentile_approx`, same call shape). */
  def groupedPercentiles(df: DataFrame, key: Column, value: Column,
                         ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
      s"percentiles must be within [0, 1], got $ps")
    require(ps.map(pName).distinct.size == ps.size,
      s"percentiles $ps collide after integer-percent naming " +
        s"(${ps.map(pName).mkString(", ")}) — columns would be ambiguous")
    // widenKernelStage: exact percentile's partial aggregate buffers
    // EVERY row's value in the scan stage — a one-split table builds the
    // whole buffer set on one core (r17 kernelwidth A/B)
    Sizing.widenKernelStage(df).groupBy(key)
      .agg(percentile(value, lit(ps.head)).as(pName(ps.head)),
        ps.tail.map(p => percentile(value, lit(p)).as(pName(p))): _*)
  }

  /** Sketch twin of [[groupedPercentiles]]: `percentile_approx`
    * (Greenwald-Khanna) with a caller-set accuracy — O(accuracy·log n)
    * state per group no matter how hot the group, the switch to make when
    * a group's value domain is unbounded. Rank error is bounded by
    * 1/accuracy of the group size; the spec asserts that bound against
    * the exact operator. Sketch contents depend on merge order, so this
    * is rows-only territory (like HLL) — never hash-compared across
    * engines. */
  def approxGroupedPercentiles(df: DataFrame, key: Column, value: Column,
                               ps: Seq[Double],
                               accuracy: Int = 10000): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
      s"percentiles must be within [0, 1], got $ps")
    require(accuracy > 0, s"accuracy must be positive, got $accuracy")
    df.groupBy(key)
      .agg(percentile_approx(value, lit(ps.head), lit(accuracy))
          .as(pName(ps.head)),
        ps.tail.map(p =>
          percentile_approx(value, lit(p), lit(accuracy)).as(pName(p))): _*)
  }

  private def pName(p: Double): String =
    "p" + math.round(p * 100)

  /** Pivot: one column per (explicitly listed) pivot value, counting rows.
    * The value list is REQUIRED, not discovered: Spark's list-less pivot
    * first runs a driver-side distinct scan (a hidden extra job and a
    * failure mode when the domain is huge); an explicit domain keeps the
    * plan a single partial-aggregated shuffle and the schema stable. Counts
    * are coalesced to 0 so absent combinations are explicit. */
  def pivotCounts(df: DataFrame, key: String, pivotCol: Column,
                  values: Seq[String]): DataFrame = {
    require(values.nonEmpty, "pivot value list must not be empty")
    df.groupBy(col(key))
      .pivot(pivotCol, values)
      .agg(count(lit(1)))
      .select(col(key) +:
        values.map(v => coalesce(col(s"`$v`"), lit(0L)).as(v)): _*)
  }

  /** Multi-level rollup: counts at every prefix level of `groupCols`
    * (finest → grand total), subtotal rows marked with `ALL`. The marker is
    * driven by `grouping()` — the rolled-up-level indicator — NOT by value
    * nullness, so a genuine NULL group value stays distinguishable (it
    * renders as "NULL") instead of colliding with the subtotal rows. One
    * shuffle; Spark expands grouping sets map-side. */
  def rollupCounts(df: DataFrame, groupCols: Seq[(String, Column)]): DataFrame =
    groupingSetCounts(df, groupCols, cube = false)

  /** Full-cube counts: every subset of `groupCols` (2^n grouping sets),
    * not just the rollup prefixes — the OLAP cross-tab. Same `grouping()`
    * based `ALL` markers as [[rollupCounts]]; one shuffle, sets expanded
    * map-side (cost grows 2^n — keep the column list short). */
  def cubeCounts(df: DataFrame, groupCols: Seq[(String, Column)]): DataFrame =
    groupingSetCounts(df, groupCols, cube = true)

  private def groupingSetCounts(df: DataFrame, groupCols: Seq[(String, Column)],
                                cube: Boolean): DataFrame = {
    // grouping() only resolves against the literal rollup/cube columns, so
    // the group expressions are projected (and named) FIRST, and the level
    // flags are surfaced inside the aggregation itself
    val aggs = count(lit(1)).as("cnt") +:
      groupCols.map { case (n, _) => grouping(col(n)).as(s"_lvl_$n") }
    val projected = df.select(groupCols.map { case (n, c) => c.as(n) }: _*)
    val names = groupCols.map { case (n, _) => col(n) }
    (if (cube) projected.cube(names: _*) else projected.rollup(names: _*))
      .agg(aggs.head, aggs.tail: _*)
      .select(groupCols.map { case (n, _) =>
        when(col(s"_lvl_$n") === 1, lit("ALL"))
          .otherwise(coalesce(col(n), lit("NULL"))).as(n)
      } :+ col("cnt"): _*)
  }

  /** Bloom-filter prefiltered equi-join — the explicit runtime-filter
    * pattern for joining a 100 TB fact table against a selective dimension
    * that is too large to broadcast as a hash relation but whose KEY SET
    * fits a few megabytes of bloom bits.
    *
    * A bloom filter over the dimension keys is built once (one pass over
    * the dimension only), shipped to every fact-scan task, and applied
    * BEFORE the join's exchange — so fact rows that cannot match never
    * shuffle. False positives (rate `fpp`) pass the prefilter and are
    * eliminated by the exact join that follows, so the result is
    * bit-identical to `fact.join(dim, ...)` for any inputs; the bloom only
    * changes how many rows move.
    *
    * This is the manual form of Spark's own
    * `spark.sql.optimizer.runtime.bloomFilter` rewrite — exposed as an
    * operator so pipelines can apply it where the optimizer's heuristics
    * (size thresholds, creation-side cost checks) decline to. */
  def bloomPrefilterJoin(fact: DataFrame, dim: DataFrame,
                         factKey: String, dimKey: String,
                         fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    // expected-item count sizes the bit array; the dimension is the small
    // side by contract, so this extra pass is cheap relative to the fact scan
    val n = dim.select(col(dimKey)).na.drop().distinct().count()
    // empty dimension: the inner join is empty regardless — and Spark's
    // stat.bloomFilter NPEs aggregating zero rows, so don't build one
    if (n == 0L) return fact.join(dim, col(factKey) === col(dimKey))
    val bf = dim.stat.bloomFilter(dimKey, n, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val probe = new BloomProbe(bytes)
    val mightContain = udf((k: java.lang.Long) => k != null && probe.contains(k))
    fact.filter(mightContain(col(factKey)))
      .join(dim, col(factKey) === col(dimKey))
  }

  /** One deserialized bloom per executor (transient lazy), shipped as
    * bytes — `BloomFilter`'s in-memory form is rebuilt lazily on first
    * probe rather than Java-serialized per task. */
  private class BloomProbe(bytes: Array[Byte]) extends Serializable {
    @transient private lazy val bf =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes))
    def contains(k: Long): Boolean = bf.mightContainLong(k)
  }

  /** Incremental aggregate maintenance: merge additively-partial aggregate
    * states (sums, counts, decimal sums — anything whose merge is SUM)
    * from a base snapshot and a delta batch into the state the full
    * recompute would produce.
    *
    * This is the materialized-view identity that makes 100 TB rollups
    * affordable: aggregate only the new partition, then merge states —
    * `agg(base ∪ delta) == merge(agg(base), agg(delta))` for algebraic
    * aggregates. The merge itself is a groupBy over |keys| rows, not over
    * the raw data; at steady state the fact table is never rescanned. */
  def mergePartialStates(base: DataFrame, delta: DataFrame,
                         keys: Seq[String], states: Seq[String]): DataFrame = {
    require(states.nonEmpty, "need at least one state column to merge")
    base.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(sum(col(states.head)).as(states.head),
        states.tail.map(s => sum(col(s)).as(s)): _*)
  }

  /** Per-key time-series resampling with linear interpolation: bucket
    * observations to a fixed `stepSec` grid, then fill every interior gap
    * by interpolating between the nearest observed neighbors — the
    * feature-engineering prep that turns irregular event streams into
    * the regular sequences models consume. Grid endpoints are each key's
    * first/last observed bucket, so every gap has both neighbors (no
    * extrapolation — that would be invented data).
    *
    * Plan: one groupBy to bucket (map-side combined), one tiny span
    * aggregate whose `sequence()` explode GENERATES the grid (no
    * calendar table to join), a left join back on (key, bucket), then
    * forward/backward `last/first(ignoreNulls)` over ONE keyed window
    * partitioning — O(1) state per task, no single-partition anything.
    *
    * Determinism: observations reduce to max(value_micro) per bucket
    * (order-independent), and the interpolation runs in ONE fixed
    * double-arithmetic shape — pv + ((nv − pv)·(t − pt)) / (nt − pt) —
    * over exact integers, rounded once to 6 places. Output:
    * (key, t_s, v_r, observed). */
  def resampleInterpolate(df: DataFrame, key: Column, tsSec: Column,
                          value: Column, stepSec: Long): DataFrame = {
    require(stepSec > 0, s"stepSec must be positive, got $stepSec")
    val obs = df
      .select(key.as("key"), tsSec.cast("long").as("_ts"),
        round(value * lit(1e6)).cast("long").as("_v"))
      .select(col("key"),
        expr(s"(_ts div ${stepSec}L) * ${stepSec}L").as("t"), col("_v"))
      .groupBy("key", "t").agg(max(col("_v")).as("v"))
    val grid = obs.groupBy("key").agg(min(col("t")).as("t0"), max(col("t")).as("t1"))
      .select(col("key"),
        explode(sequence(col("t0"), col("t1"), lit(stepSec))).as("t"))
    val back = Window.partitionBy(col("key")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(col("key")).orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsT = when(col("v").isNotNull, col("t"))
    def d(c: Column) = c.cast("double")
    grid.join(obs, Seq("key", "t"), "left")
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
      .withColumn("pt", last(obsT, ignoreNulls = true).over(back))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
      .withColumn("nt", first(obsT, ignoreNulls = true).over(fwd))
      .select(col("key"), col("t").as("t_s"),
        round(
          when(col("v").isNotNull, d(col("v")))
            .otherwise(d(col("pv")) +
              ((d(col("nv")) - d(col("pv"))) * (d(col("t")) - d(col("pt"))))
                / (d(col("nt")) - d(col("pt"))))
          / lit(1e6), 6).as("v_r"),
        col("v").isNotNull.as("observed"))
      .orderBy("key", "t_s")
  }

  /** Snapshot diff — row-level change detection between two versions of a
    * keyed table: one row per key that was `added`, `removed`, or
    * `changed`, with the compared columns' old/new values carried as
    * structs for downstream audit.
    *
    * This is the dataset-versioning primitive of a training-data
    * pipeline: "what changed between crawl N and crawl N+1" drives
    * incremental re-processing (only `added`/`changed` keys re-enter the
    * dedup/quality/embedding stages) and regression forensics.
    *
    * Plan shape: ONE full-outer sort-merge join on the key — each side
    * shuffles once on the key and nothing else moves. At warehouse scale,
    * write both snapshots bucketed by the key ([[writeBucketed]]) and the
    * exchange disappears entirely; for append-only tables the `removed`
    * branch is statically empty and Catalyst prunes the anti-direction.
    * Unchanged rows (the overwhelming majority between adjacent
    * snapshots) are filtered BEFORE the final projection, so output is
    * proportional to the delta, not the table.
    *
    * Change detection is null-safe struct equality (`<=>`) over the
    * non-key columns — NULL-to-value transitions count as changes, and
    * struct comparison short-circuits per row with no hashing, so it is
    * exact for every data type including doubles. */
  def snapshotDiff(base: DataFrame, current: DataFrame,
                   keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff needs at least one key column")
    require(base.columns.sameElements(current.columns),
      s"snapshot schemas differ: ${base.columns.mkString(",")} vs " +
        current.columns.mkString(","))
    val valCols = base.columns.filterNot(keyCols.contains).toSeq
    require(valCols.nonEmpty, "snapshotDiff needs at least one non-key column")
    def packed(df: DataFrame, as: String) =
      df.select(keyCols.map(col) :+ struct(valCols.map(col): _*).as(as): _*)
    packed(base, "old")
      .join(packed(current, "new"), keyCols, "full_outer")
      .withColumn("change",
        when(col("old").isNull, lit("added"))
          .when(col("new").isNull, lit("removed"))
          .when(!(col("old") <=> col("new")), lit("changed")))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) ++ Seq(col("change"), col("old"), col("new")): _*)
      .orderBy(keyCols.map(col): _*)
  }

  /** Ranked-retrieval evaluation: per-rank MRR and DCG contributions of a
    * system ranking against a graded-relevance truth set — the metric
    * step of a retrieval/RAG pipeline (Σ dcg_r over ranks is the DCG@k,
    * the first nonzero rr_r is the reciprocal rank).
    *
    * `sys`: (rank, doc_id), 1-based dense ranks; `rel`: (doc_id, rel)
    * integer gains > 0 for relevant docs (absent = irrelevant). Emitted
    * per system rank: (rank, doc_id, rel, rr_r, dcg_r) with
    * rr_r = 1/rank if relevant else 0, dcg_r = rel/log₂(rank+1), both
    * rounded — exact-integer ratios into one division (+ one log2 per
    * rank on bit-identical arguments), so cross-engine hash-stable.
    * Scale: the truth set is k-bounded by construction — broadcast;
    * the system ranking never shuffles. */
  def retrievalEval(sys: DataFrame, rel: DataFrame): DataFrame =
    sys.select(col("rank"), col("doc_id"))
      .join(broadcast(rel.select(col("doc_id"), col("rel"))),
        Seq("doc_id"), "left")
      .select(col("rank"), col("doc_id"),
        coalesce(col("rel"), lit(0L)).as("rel"))
      .withColumn("rr_r",
        round(when(col("rel") > 0, lit(1.0) / col("rank"))
          .otherwise(lit(0.0)), 6))
      .withColumn("dcg_r",
        round(col("rel").cast("double")
          / log2(col("rank").cast("double") + 1), 6))
      .orderBy("rank")

  /** First-order Markov transition matrix over per-key ordered state
    * sequences — the sequence-modeling prep operator (user journey
    * analysis, synthetic-session generation, next-event baselines).
    *
    * One window pass forms the bigrams (lag over the key's order), one
    * partial-aggregated groupBy counts them, and a second window
    * normalizes rows into probabilities. Probabilities are
    * count/row-total — an exact integer ratio evaluated in one double
    * division and rounded, so results are engine- and
    * partitioning-independent. Output: (prev_state, state, cnt, prob_r). */
  def transitionMatrix(df: DataFrame, key: Column, order: Seq[Column],
                       state: Column): DataFrame = {
    val w = Window.partitionBy(col("_k")).orderBy(order: _*)
    df.select(Seq(key.as("_k"), state.as("state")) ++ order: _*)
      .withColumn("prev_state", lag(col("state"), 1).over(w))
      .filter(col("prev_state").isNotNull)
      .groupBy("prev_state", "state")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("_total",
        sum(col("cnt")).over(Window.partitionBy(col("prev_state"))))
      .select(col("prev_state"), col("state"), col("cnt"),
        round(col("cnt").cast("double") / col("_total").cast("double"), 6)
          .as("prob_r"))
  }

  /** Global row_number over a TOTAL order without a single-partition sort —
    * the scale-safe replacement for `Window.orderBy(...)` with no
    * partitioning (whose physical plan is "move ALL data to one
    * partition": fine at sf0.1, fatal at 100 TB).
    *
    * Range-repartition on the order key (one sampled range shuffle),
    * rank WITHIN each partition in parallel, then add each partition's
    * start offset. The only driver state is one (partition, count) row
    * per shuffle partition — O(partitions), same class as the
    * per-round convergence scalar of [[Graph.connectedComponents]]' label
    * propagation. The checkpoint
    * pins the sampled partition assignment so the offset pass and the
    * rank pass see identical partitioning (range boundary sampling is
    * re-run per action otherwise). Callers should pre-project to the
    * columns they need — the checkpoint materializes the input once.
    *
    * Ranks are assigned in ascending NULLS FIRST order of `order`
    * (matching both `Window.orderBy` and `repartitionByRange` defaults);
    * pass a tie-breaking key for a deterministic total order. */
  def globalRowNumber(df: DataFrame, order: Seq[Column],
                      alias: String = "rn"): DataFrame =
    rankedByRange(df, order, alias)._1

  /** Exact `ntile(buckets)` over a total order, built on
    * [[globalRowNumber]]: identical bucket assignment to the
    * single-partition window `ntile` (the first `n mod buckets` buckets
    * take one extra row), with no global sort. Bucket arithmetic is
    * integer `div` — exact at any row count. */
  def ntileExact(df: DataFrame, order: Seq[Column], buckets: Int,
                 alias: String = "tile"): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val (ranked, n) = rankedByRange(df, order, "_rn")
    val q = n / buckets
    val r = n % buckets
    val cut = r * (q + 1)
    // first r buckets have q+1 rows, the rest q; guard max(q,1) keeps the
    // (unreachable when q = 0) else-branch free of a division by zero
    val qq = math.max(q, 1L)
    ranked
      .withColumn(alias, expr(
        s"CASE WHEN _rn <= ${cut}L THEN (_rn + ${q}L) div ${q + 1}L " +
          s"ELSE ${r}L + (_rn - ${cut}L + ${qq - 1}L) div ${qq}L END"))
      .drop("_rn")
  }

  /** Global INCLUSIVE prefix sum of `value` (an exact integer/decimal
    * column) in `order` order, without a single-partition window — the
    * [[ntileExact]] machinery generalized from row counts to sums: range
    * shuffle on the order keys, per-partition running sums in parallel,
    * then each partition's start offset (the cumsum of whole-partition
    * totals — O(partitions) driver rows) broadcast back and added. Output
    * column `alias`; all input columns retained. */
  def prefixSumByRange(df: DataFrame, order: Seq[Column], value: Column,
                       alias: String): DataFrame =
    prefixSumsByRange(df, order, Seq(value -> alias))

  /** N global prefix sums in ONE range shuffle (the [[prefixSumByRange]]
    * machinery vectorized over value columns): per-partition running sums
    * run in parallel, the O(partitions × N) whole-partition totals come
    * back to the driver once, and each partition's start offsets are
    * broadcast back. Ranking is the N=1, value=1 case; [[Profiler.keySkew]]
    * uses rank + cumulative share in the same pass. */
  def prefixSumsByRange(df: DataFrame, order: Seq[Column],
                        values: Seq[(Column, String)]): DataFrame = {
    require(values.nonEmpty, "need at least one value column")
    val spark = df.sparkSession
    val n = values.size
    val parted = values.zipWithIndex
      .foldLeft(df.repartitionByRange(order: _*)
        .withColumn("_pid", spark_partition_id())) {
        case (acc, ((v, _), i)) => acc.withColumn(s"_v$i", v)
      }
      .transform(Checkpoints.cut)
    val totals = parted.groupBy("_pid")
      .agg(sum(col("_v0")).as("_s0"),
        (1 until n).map(i => sum(col(s"_v$i")).as(s"_s$i")): _*)
      .collect()
      .map(r => r.getInt(0) -> (0 until n).map(i => r.getLong(i + 1)))
      .sortBy(_._1)
    val acc = Array.fill(n)(0L)
    val offsets = totals.map { case (pid, ss) =>
      val row = pid +: acc.toSeq
      (0 until n).foreach(i => acc(i) += ss(i))
      org.apache.spark.sql.Row.fromSeq(row)
    }
    val offSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("_pid",
        org.apache.spark.sql.types.IntegerType) +:
        (0 until n).map(i => org.apache.spark.sql.types.StructField(s"_off$i",
          org.apache.spark.sql.types.LongType)))
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offsets.toSeq, 1), offSchema)
    val w = Window.partitionBy(col("_pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = parted.join(broadcast(offDf), "_pid")
    val withSums = values.zipWithIndex.foldLeft(joined) {
      case (acc2, ((_, alias), i)) =>
        acc2.withColumn(alias, sum(col(s"_v$i")).over(w) + col(s"_off$i"))
    }
    val drops = Seq("_pid") ++ (0 until n).flatMap(i => Seq(s"_v$i", s"_off$i"))
    withSums.drop(drops: _*)
  }

  private def rankedByRange(df: DataFrame, order: Seq[Column],
                            alias: String): (DataFrame, Long) = {
    val spark = df.sparkSession
    val parted = df.repartitionByRange(order: _*)
      .withColumn("_pid", spark_partition_id())
      .transform(Checkpoints.cut)
    val counts = parted.groupBy("_pid").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (pid, c) => val o = acc; acc += c; (pid, o) }
    val offDf = spark.createDataFrame(offsets.toSeq).toDF("_pid", "_off")
    val w = Window.partitionBy(col("_pid")).orderBy(order: _*)
    val ranked = parted
      .join(broadcast(offDf), "_pid")
      .withColumn(alias, row_number().over(w).cast("long") + col("_off"))
      .drop("_pid", "_off")
    (ranked, acc)
  }

  /** O-family running aggregates: cumulative sum plus trailing-k sum/count
    * per key in one window pass. `value` must be an exact (integer or
    * decimal) column — floating accumulation over a window is
    * frame-order-dependent across engines; integer-scale doubles first
    * (the vec_dim_stats pattern). */
  def runningAgg(df: DataFrame, key: Column, order: Seq[Column],
                 value: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = Window.partitionBy(key).orderBy(order: _*)
    df.withColumn("cum_v",
        sum(value).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("trail_v",
        sum(value).over(w.rowsBetween(-(k - 1).toLong, Window.currentRow)))
      .withColumn("trail_n",
        count(lit(1)).over(w.rowsBetween(-(k - 1).toLong, Window.currentRow)))
  }

  /** Reciprocal-rank fusion of ranked lists — the standard hybrid-
    * retrieval combiner (lexical BM25 ⊕ embedding cosine ⊕ …):
    * rrf(id) = Σ_r 1/(kRrf + rank_r(id)) over the rankers that listed
    * the id. Each input frame must carry (id, rank).
    *
    * Scale + determinism: ranked lists are k-bounded by construction,
    * so the full-outer join chain joins small frames; the fusion sum is
    * a FIXED-ORDER expression over the ranker list (not an aggregate),
    * and each term 1/(kRrf+rank) is one double division on small
    * integers — both engines produce the identical value, so the
    * rounded score hash-matches. Final ranking reuses
    * [[globalRowNumber]] (no single-partition window). */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k > 0, s"k must be positive, got $k")
    require(kRrf >= 0, s"kRrf must be >= 0, got $kRrf")
    val prepared = rankings.zipWithIndex.map { case (df, i) =>
      df.select(col("id"),
        (lit(1.0) / (lit(kRrf) + col("rank"))).as(s"_c$i"))
    }
    val joined = prepared.reduce((a, b) => a.join(b, Seq("id"), "full_outer"))
    val rrf = round(prepared.indices
      .map(i => coalesce(col(s"_c$i"), lit(0.0)))
      .reduce(_ + _), 9)
    globalRowNumber(joined.select(col("id"), rrf.as("rrf_r")),
        Seq(col("rrf_r").desc, col("id")), alias = "rank")
      .filter(col("rank") <= k)
      .select(col("rank"), col("id"), col("rrf_r"))
      .orderBy("rank")
  }
}
