package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Data-profiling and data-quality operators for pipeline intake.
  *
  * Before a 100 TB corpus enters a training pipeline the first job run
  * against it is almost always a profile: per-column null rates,
  * cardinalities and value ranges (to catch schema drift and broken
  * upstream extracts), and per-key outlier detection (to catch corrupted
  * measurements). Both are expressed here as single declarative plans —
  * one scan each, no driver-side iteration.
  */
object Profiler {

  /** Per-column profile in long format: one output row per profiled column
    * with row/null/distinct counts and min/max rendered as strings (so
    * heterogeneous column types share one result schema).
    *
    * ONE scan. With `exact`, the distinct counts run as one grouping set
    * per column, in `cols` order: an Expand emits each row once per
    * column carrying only that column's value, one aggregate keeps each
    * (column, value) pair with its multiplicity, and a global aggregate
    * reads every count, min and max off those pairs. Catalyst would plan
    * several DISTINCT aggregates the same way, but it orders the Expand
    * by a hash of expression ids, so each build generated different code
    * and missed the codegen cache. `exact = false` switches to
    * HyperLogLog++ `approx_count_distinct` in a single aggregate, no
    * Expand. The wide single-row result is then exploded to long format —
    * driver cost is O(columns), never O(rows).
    *
    * Numeric render contract: fractional columns are profiled as
    * DECIMAL(18,2) strings so the text form is bit-stable across engines
    * (raw double→string formatting is not). */
  def profile(df: DataFrame, cols: Seq[(String, Column)],
              exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val wide =
      if (exact) {
        val vs = cols.indices.map(j => col(s"_v$j"))
        val pairs = df.select(cols.zipWithIndex.map { case ((_, c), j) => c.as(s"_v$j") }: _*)
          .groupingSets(vs.map(Seq(_)), vs: _*)
          .agg(count(lit(1)).as("_m"), grouping(vs.head).as("_g0"))
        // per-column sums are null on empty input, where count would be 0
        def total(c: Column): Column = coalesce(sum(c), lit(0L))
        val aggs = total(when(col("_g0") === 0, col("_m"))).as("_rows") +:
          cols.indices.flatMap { j => Seq(
            total(when(vs(j).isNotNull, col("_m"))).as(s"_nn_$j"),
            count(vs(j)).as(s"_nd_$j"),
            min(vs(j)).cast("string").as(s"_min_$j"),
            max(vs(j)).cast("string").as(s"_max_$j"))
          }
        pairs.agg(aggs.head, aggs.tail: _*)
      } else {
        val aggs = count(lit(1)).as("_rows") +: cols.zipWithIndex.flatMap {
          case ((_, c), j) => Seq(
            count(c).as(s"_nn_$j"),
            approx_count_distinct(c).as(s"_nd_$j"),
            min(c).cast("string").as(s"_min_$j"),
            max(c).cast("string").as(s"_max_$j"))
        }
        df.agg(aggs.head, aggs.tail: _*)
      }
    wide.select(explode(array(cols.zipWithIndex.map { case ((n, _), j) =>
        struct(
          lit(n).as("column"),
          col("_rows").as("n_rows"),
          (col("_rows") - col(s"_nn_$j")).as("n_null"),
          col(s"_nd_$j").as("n_distinct"),
          col(s"_min_$j").as("min_str"),
          col(s"_max_$j").as("max_str"))
      }: _*)).as("p"))
      .select(col("p.*"))
  }

  /** Data-quality rule audit in ONE scan: each rule is a boolean violation
    * predicate counted via conditional aggregation, so auditing N rules
    * costs exactly one pass over the data regardless of N — the shape that
    * matters when the table is 100 TB and the rule list grows with every
    * incident. Output is long-format (rule, violations, n_rows), one row
    * per rule, so downstream alerting joins on `rule`.
    *
    * Null semantics: a predicate evaluating to NULL (e.g. a range test on
    * a NULL value) counts as NOT violated — write an explicit `isNull`
    * rule to audit missingness itself (mirrors SQL `count(*) FILTER`). */
  def ruleViolations(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "ruleViolations needs at least one rule")
    require(rules.map(_._1).distinct.size == rules.size,
      "rule names must be unique")
    val aggs = count(lit(1)).as("_rows") +: rules.map { case (name, cond) =>
      coalesce(sum(when(cond, 1L).otherwise(0L)), lit(0L)).as(s"_v_$name") }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rules.map { case (name, _) =>
        struct(lit(name).as("rule"), col(s"_v_$name").as("violations"),
          col("_rows").as("n_rows")) }: _*)).as("r"))
      .select(col("r.*"))
      .orderBy("rule")
  }

  /** Exact Pearson correlation matrix over numeric columns — the
    * drift/redundancy signal of intake profiling ("these two features are
    * 0.98-correlated, drop one"; "the corr between price and quantity
    * flipped sign since last snapshot — upstream bug").
    *
    * ONE scan, one `agg`: every pairwise cross-moment Σxy plus per-column
    * Σx and Σx² accumulate in the same pass (O(d²) aggregate states, no
    * per-pair jobs). The dimStats discipline: values are integer-scaled
    * to 1e-6 BIGINTs first and every moment is an exact DECIMAL(38,0)
    * sum, so the only floating point is the final fixed-order covariance
    * ratio, rounded to 6 places — bit-identical on any engine or
    * partitioning. Rows with a NULL in either column of a pair would
    * poison exactness, so the contract is NULL-free numeric columns
    * (profile first; [[profile]] reports null counts).
    *
    * Output long format: (col_a, col_b, corr_r) for a < b. Zero-variance
    * columns yield NULL corr (undefined), surfaced not dropped.
    *
    * Envelope: n·Σ(xy) must stay inside DECIMAL(38,0), i.e.
    * rows·(maxAbs·scale)² ≲ 10³⁸ — corr is scale-invariant (the factors
    * cancel exactly), so for wide-range columns or trillion-row tables
    * pass a coarser `scale`; ANSI mode makes an overflow loud, never
    * silent. */
  def correlations(df: DataFrame, cols: Seq[(String, Column)],
                   scale: Long = 1000000L): DataFrame = {
    require(cols.size >= 2, "correlations needs at least two columns")
    require(cols.map(_._1).distinct.size == cols.size,
      "column names must be unique")
    require(scale > 0, s"scale must be positive, got $scale")
    val dec = DecimalType(38, 0)
    val scaled = cols.map { case (n, c) =>
      n -> round(c * lit(scale.toDouble)).cast("long")
    }
    val pairs = for {
      (a, i) <- scaled.zipWithIndex; (b, j) <- scaled.zipWithIndex if i < j
    } yield (a, b)
    val aggs =
      (count(lit(1)).as("_n") +:
        scaled.flatMap { case (n, c) => Seq(
          sum(c.cast(dec)).as(s"_s_$n"),
          sum(c.cast(dec) * c).as(s"_ss_$n"))
        }) ++
        pairs.map { case ((na, ca), (nb, cb)) =>
          sum(ca.cast(dec) * cb).as(s"_sp_${na}_$nb")
        }
    // widenKernelStage: the decimal multiply-accumulate partial agg runs
    // in the scan stage — a sub-128 MB table (sf1.0 lineitem is ONE
    // split) serializes every cross-moment onto one core (r17 A/B)
    val wide = Sizing.widenKernelStage(df).agg(aggs.head, aggs.tail: _*)
    // corr = (n·Σxy − Σx·Σy) / sqrt(n·Σx² − (Σx)²) / sqrt(n·Σy² − (Σy)²)
    // — numerator/denominators computed exactly in decimal, ONE double
    // division at the end (scale factors cancel)
    def corrCol(na: String, nb: String): Column = {
      val n = col("_n").cast(dec)
      val num = n * col(s"_sp_${na}_$nb") - col(s"_s_$na") * col(s"_s_$nb")
      val da = n * col(s"_ss_$na") - col(s"_s_$na") * col(s"_s_$na")
      val db = n * col(s"_ss_$nb") - col(s"_s_$nb") * col(s"_s_$nb")
      when(da > 0 && db > 0,
        round(num.cast("double")
          / (sqrt(da.cast("double")) * sqrt(db.cast("double"))), 6))
    }
    wide.select(explode(array(pairs.map { case ((na, _), (nb, _)) =>
      struct(lit(na).as("col_a"), lit(nb).as("col_b"),
        corrCol(na, nb).as("corr_r"))
    }: _*)).as("p"))
      .select(col("p.*"))
      .orderBy("col_a", "col_b")
  }

  /** Rolling (trailing-window) z-score outliers: events whose measure
    * deviates from the mean of their key's PRECEDING `lookback` rows by
    * more than `threshold` standard deviations — the time-series anomaly
    * twin of [[zscoreOutliers]] (which scores against the key's global
    * distribution, and so misses a level shift that the trailing window
    * catches, and vice versa). The current row is excluded from its own
    * baseline; rows with fewer than `minPrev` predecessors emit no
    * verdict (cold start).
    *
    * Plan: ONE shuffle on the key, then per-key ordered frame aggregates
    * (`ROWS BETWEEN lookback PRECEDING AND 1 PRECEDING`) — window state
    * is O(lookback) per task. Same exact-integer moment discipline as
    * [[zscoreOutliers]]: measures scaled to 1e-6 BIGINT, sum-of-squares
    * in DECIMAL(38,0), float arithmetic only in the final fixed-order
    * mean/variance/z, rounded to 4 places — bit-stable cross-engine. */
  def rollingOutliers(df: DataFrame, key: Column, order: Seq[Column],
                      id: Column, value: Column,
                      lookback: Int, threshold: Double,
                      minPrev: Int = 5): DataFrame = {
    require(lookback >= minPrev && minPrev >= 2,
      s"need lookback >= minPrev >= 2, got lookback=$lookback minPrev=$minPrev")
    require(threshold > 0, s"threshold must be positive, got $threshold")
    val vs = round(value * lit(1e6)).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_key")).orderBy(order: _*)
      .rowsBetween(-lookback, -1)
    val rows = df.select(Seq(key.as("_key"), id.as("id"), vs.as("_vs"))
      ++ order.map(c => c): _*)
    val mean = (col("_s1").cast("double") / col("_n").cast("double")) / lit(1e6)
    val ex2 = (col("_s2").cast("double") / col("_n").cast("double")) / lit(1e12)
    rows
      .withColumn("_n", count(col("_vs")).over(w))
      .withColumn("_s1", sum(col("_vs")).over(w))
      .withColumn("_s2",
        sum(col("_vs").cast(DecimalType(38, 0)) * col("_vs")).over(w))
      .filter(col("_n") >= minPrev)
      .select(col("_key").as("key"), col("id"),
        (col("_vs").cast("double") / lit(1e6)).as("x"),
        mean.as("mean"), (ex2 - mean * mean).as("variance"))
      .filter(col("variance") > 0)
      .withColumn("z", (col("x") - col("mean")) / sqrt(col("variance")))
      .filter(abs(col("z")) > threshold)
      .select(col("key"), col("id"), round(col("z"), 4).as("z_r"))
  }

  /** Key-skew diagnosis: the top-N hottest keys with their share and
    * cumulative share of all rows — the pre-flight check that decides
    * whether a join/aggregate on this key needs salting or AQE skew
    * handling BEFORE a 100 TB run melts one reducer. ("top key holds 40%
    * of rows" ⇒ salt; "top 20 keys hold 2%" ⇒ plain hash partitioning is
    * fine.)
    *
    * Plan: one partial-aggregated key count (key-cardinality-sized from
    * there on) → rank AND cumulative count in ONE range shuffle
    * ([[Relational.prefixSumsByRange]] — no single-partition window over
    * the unbounded key space) → broadcast one-row total → shares as
    * rounded exact-integer ratios. */
  def keySkew(df: DataFrame, key: Column, topN: Int): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    val counts = df.groupBy(key.as("key")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    Relational.prefixSumsByRange(counts,
      Seq(col("cnt").desc, col("key")),
      Seq(lit(1L) -> "rank", col("cnt") -> "cum"))
      .filter(col("rank") <= topN)
      .crossJoin(broadcast(total))
      .select(col("rank"), col("key"), col("cnt"),
        round(col("cnt").cast("double") / col("total").cast("double"), 6)
          .as("share_r"),
        round(col("cum").cast("double") / col("total").cast("double"), 6)
          .as("cum_share_r"))
      .orderBy("rank")
  }

  /** Per-key z-score outliers: events whose measure deviates from their
    * key's mean by more than `threshold` standard deviations.
    *
    * Plan shape: per-key moments are a partial-aggregated `groupBy`
    * (map-side combine shrinks each key to one state row per task BEFORE
    * the exchange) joined back to the rows — NOT a window over the key.
    * A window puts every row of a key on one reducer, so one
    * pathologically hot key melts a single task; the aggregate+join form
    * moves only moment states for the hot key, and the join itself can
    * salt/AQE-split if the probe side skews. No collect, no second scan.
    *
    * Cross-engine determinism (the dimStats pattern): the measure is
    * integer-scaled to 1e-6 precision FIRST, moments are accumulated
    * exactly (BIGINT sum; DECIMAL(38,0) sum of squares — a BIGINT sum of
    * squares wraps at ~1e18), and only the final mean/variance/z arithmetic
    * runs in floating point, in a fixed operation order, rounded to 4
    * places. Identical integers in, identical doubles out. */
  def zscoreOutliers(df: DataFrame, key: Column, id: Column, value: Column,
                     threshold: Double): DataFrame = {
    require(threshold > 0, s"threshold must be positive, got $threshold")
    val vs = round(value * lit(1e6)).cast("long")
    val rows = df.select(key.as("key"), id.as("id"), vs.as("vs"))
    val moments = rows.groupBy("key").agg(
      count(lit(1)).as("n"), sum(col("vs")).as("s1"),
      sum(col("vs").cast(DecimalType(38, 0)) * col("vs")).as("s2"))
    val mean = (col("s1").cast("double") / col("n").cast("double")) / lit(1e6)
    val ex2 = (col("s2").cast("double") / col("n").cast("double")) / lit(1e12)
    rows.join(moments, "key")
      .select(col("key"), col("id"),
        (col("vs").cast("double") / lit(1e6)).as("x"),
        mean.as("mean"), (ex2 - mean * mean).as("variance"))
      .filter(col("variance") > 0)
      .withColumn("z", (col("x") - col("mean")) / sqrt(col("variance")))
      .filter(abs(col("z")) > threshold)
      .select(col("key"), col("id"), round(col("z"), 4).as("z_r"))
  }

  /** Equi-width histogram in exact integer micro-units — the
    * distribution-shape half of intake profiling ([[profile]] gives
    * bounds and null rates; this gives the shape a skew/outlier decision
    * needs). Two passes over the column, zero driver state: a one-row
    * (min, max) aggregate broadcasts, then the bin index is pure BIGINT
    * arithmetic `((v - lo) · bins) div (hi - lo + 1)` — no float
    * boundaries, so every engine puts every row in the same bin.
    * NULLs are excluded (they are [[profile]]'s `n_null` column, not a
    * bin). Output one row per NON-EMPTY bin: (bin, n, lo_micro,
    * hi_micro) with the bin's actual min/max micro-values. */
  def histogram(df: DataFrame, value: Column, bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val rows = df.select(round(value * 1e6).cast("long").as("v"))
      .filter(col("v").isNotNull)
    val bounds = rows.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    rows.join(broadcast(bounds))
      // floor over the double quotient equals exact integer division
      // here: |p/q - k| >= 1/q ~ 1e-9 for non-exact quotients, six orders
      // above the 1e-15 rounding error of a correctly-rounded divide
      .withColumn("bin",
        floor((col("v") - col("lo")) * bins /
          (col("hi") - col("lo") + 1)).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        min(col("v")).as("lo_micro"), max(col("v")).as("hi_micro"))
  }

  /** Population Stability Index between a base and a current period —
    * THE standard distribution-drift gate of a data intake pipeline
    * (did this crawl's value distribution shift vs the last one?).
    * One scan: rows are flagged base/current, bucketed into fixed-width
    * bins on integer micro-units, and counted with conditional
    * aggregation; per-bin contribution (p−q)·ln(p/q) with add-one
    * smoothing so empty-in-one-period bins stay finite. PSI > 0.25 is
    * the conventional "investigate" threshold — emitted per bin so the
    * alert can name WHERE the mass moved, Σ psi_r is the headline.
    *
    * Cross-engine exactness: bins by INTEGER division of micro-units
    * (clamped, so engines' negative-division conventions never apply);
    * p and q are exact-integer ratios evaluated in one double division
    * each; the single ln per bin runs on a bit-identical argument (the
    * 1-ulp engine spread is six orders below the round(6) grain).
    * Scale: shuffle is O(bins) rows after map-side partial aggregation;
    * the totals join is a one-row broadcast. */
  def psiDrift(df: DataFrame, value: Column, isBase: Column,
               bins: Int, binWidth: Double): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val widthMicro = math.round(binWidth * 1e6)
    // the micro-unit width is what actually divides — a sub-microbin
    // width would round to 0 and divide by zero inside every task
    require(widthMicro > 0,
      s"binWidth $binWidth rounds to 0 micro-units; minimum is 1e-6")
    // the O(bins)-row counts frame feeds BOTH the totals aggregate and
    // the final join — cut its lineage so the input scan runs ONCE, not
    // once per plan subtree (the duplicated-scalar-subtree trap the
    // Explain audit caught on the first version of this operator)
    val counts = Checkpoints.cut(df
      .select(round(value * 1e6).cast("long").as("v"), isBase.as("is_base"))
      .filter(col("v").isNotNull && col("is_base").isNotNull)
      .withColumn("bin",
        least(lit(bins - 1L), greatest(lit(0L), expr(s"v div $widthMicro"))))
      .groupBy("bin")
      .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("base_cnt"),
        sum(when(!col("is_base"), 1L).otherwise(0L)).as("cur_cnt")))
    val tot = counts.agg(
      coalesce(sum("base_cnt"), lit(0L)).as("bt"),
      coalesce(sum("cur_cnt"), lit(0L)).as("ct"))
    val p = (col("base_cnt") + 1).cast("double") /
      (col("bt") + lit(bins.toLong)).cast("double")
    val q = (col("cur_cnt") + 1).cast("double") /
      (col("ct") + lit(bins.toLong)).cast("double")
    counts.join(broadcast(tot))
      .select(col("bin"), col("base_cnt"), col("cur_cnt"),
        round((p - q) * log(p / q), 6).as("psi_r"))
      .orderBy("bin")
  }

  /** Per-key exponentially-weighted moving average of an ordered value
    * stream — the "smoothed activity level" feature (monitoring,
    * per-user signal smoothing). ewma = fold(α·x + (1−α)·acc) over the
    * (order)-sorted values, seeded with the FIRST value: the windowless
    * ordered-fold shape — one shuffle on the key, per-key state is the
    * collected value list (bounded by events-per-key; chunk upstream
    * for pathological keys).
    *
    * Cross-engine determinism: the fold is a left fold in explicit
    * order, mirrored by DuckDB's `list_reduce` (which also seeds with
    * the first element); use an `alpha` whose value AND complement are
    * exact binary doubles (0.5, 0.25, 0.75…) — for any other alpha the
    * two engines may disagree in the last ulp of the literal itself.
    * Null values are excluded before ordering. */
  def ewmaPerKey(df: DataFrame, key: Column, order: Seq[Column],
                 value: Column, alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"alpha must be in (0,1], got $alpha")
    require(order.nonEmpty, "ewmaPerKey needs at least one order column")
    val ordStruct = struct(
      order.zipWithIndex.map { case (c, i) => c.as(s"o$i") } :+
        value.cast("double").as("v"): _*)
    val vs = transform(col("_s"), x => x.getField("v"))
    df.filter(value.isNotNull)
      .groupBy(key.as("key"))
      .agg(array_sort(collect_list(ordStruct)).as("_s"))
      .select(col("key"),
        size(col("_s")).cast("long").as("n_events"),
        round(aggregate(slice(vs, lit(2), size(vs) - 1), element_at(vs, 1),
          (acc, x) => lit(alpha) * x + lit(1.0 - alpha) * acc), 6)
          .as("ewma_r"))
      .orderBy("key")
  }
}
