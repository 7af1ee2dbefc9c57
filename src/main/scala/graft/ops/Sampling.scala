package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling — the reproducibility-critical slice of a
  * training-data pipeline. `sample(fraction)`-style random sampling is
  * seed- and partitioning-dependent; these operators key selection off a
  * content hash instead, so the same row set is selected on any cluster,
  * any partitioning, any engine (md5 is bit-stable everywhere, and the
  * selection predicate is pure per-row — a narrow codegen'd filter that
  * pushes down past joins and survives re-runs byte-identically).
  */
object Sampling {

  /** Content-keyed Bernoulli sample: keep rows whose md5(keyText) first
    * byte < 256·fraction. Per-row, no shuffle, reproducible on any engine.
    * `fraction` granularity is 1/256 — training-corpus sampling does not
    * need finer — and the cutoff compares as a 2-char lowercase-hex string
    * (lexicographic == numeric there), so the predicate is the same single
    * string compare in any SQL dialect. */
  def hashSample(df: DataFrame, keyText: Column, fraction: Double): DataFrame = {
    require(fraction > 0 && fraction <= 1,
      s"fraction must be in (0, 1], got $fraction")
    val cutoff = math.round(fraction * 256).toInt
    require(cutoff >= 1,
      s"fraction $fraction is below the 1/256 granularity — it would " +
        "silently select nothing; use a coarser fraction or a wider hash prefix")
    if (cutoff >= 256) df
    else df.filter(substring(md5(keyText), 1, 2) < f"$cutoff%02x")
  }

  /** Deterministic train/val/test split assignment: the md5 first byte
    * lands each row in the first split whose cumulative 256-scaled cutoff
    * exceeds it ("rest" beyond the listed fractions). Content-keyed like
    * [[hashSample]], so the split is stable across runs, clusters and
    * engines — and a document can never migrate between train and test
    * when the corpus is re-processed (the leakage-prevention property
    * random splits lack). Per-row, no shuffle. */
  def assignSplit(keyText: Column, splits: Seq[(String, Double)]): Column = {
    require(splits.nonEmpty, "need at least one split")
    require(splits.forall(_._2 > 0), s"fractions must be positive: $splits")
    require(splits.map(_._2).sum <= 1.0 + 1e-9,
      s"fractions exceed 1: $splits")
    val cutoffs = splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
      .map(c => math.round(c * 256).toInt)
    // a fraction below the byte granularity collapses its cutoff into the
    // previous one and the split silently gets ZERO rows — fail fast, the
    // same contract as hashSample
    (0 +: cutoffs).sliding(2).zip(splits.iterator).foreach {
      case (Seq(prev, cut), (name, f)) =>
        require(cut > prev,
          s"split '$name' (fraction $f) is below the 1/256 granularity — " +
            "it would silently receive no rows")
      case _ =>
    }
    val byte = substring(md5(keyText), 1, 2)
    splits.zip(cutoffs).foldRight(lit("rest"): Column) {
      case (((name, _), cut), elseCol) =>
        // a cumulative cutoff of 256 covers every byte ("100" would break
        // the 2-char lexicographic compare)
        val cond = if (cut >= 256) lit(true) else byte < f"$cut%02x"
        when(cond, lit(name)).otherwise(elseCol)
    }
  }

  /** Stratified deterministic top-k: `k` rows per stratum, ordered by
    * content hash (uniform within the stratum) with a unique tie-break.
    * One shuffle on the stratum key; rank prunes map-side. */
  def stratifiedTopK(df: DataFrame, stratum: Column, keyText: Column,
                     tieBreak: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = Window.partitionBy(stratum).orderBy(md5(keyText), tieBreak)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }

  /** Per-source TOKEN-budget sampling: walk each source's documents in
    * content-hash order (a uniform random order that is nonetheless
    * deterministic on any engine) and keep documents while the source's
    * running token total stays within its budget — how a training mixture
    * is actually specified ("200M tokens of web, 50M of code"), as
    * opposed to row-count sampling, which over-represents short docs.
    *
    * The first document to EXCEED the budget is included (budgets are
    * met-or-slightly-exceeded, never silently under-filled by a giant
    * doc at the boundary); every later doc drops. One shuffle on the
    * source key; the running sum is a keyed window (O(1) state per task),
    * never a global sort. Output: input columns + n_tokens + cum_tokens.
    */
  def tokenBudgetSample(df: DataFrame, source: Column, keyText: Column,
                        tieBreak: Column, tokens: Column,
                        budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = Window.partitionBy(col("_src"))
      .orderBy(md5(col("_key")), col("_tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_src", source)
      .withColumn("_key", keyText)
      .withColumn("_tie", tieBreak)
      .withColumn("n_tokens", tokens.cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      // keep while the PREVIOUS total was under budget: the boundary doc
      // (first to cross) stays, everything after it goes
      .filter(col("cum_tokens") - col("n_tokens") < budget)
      .drop("_src", "_key", "_tie")
  }

  /** Weighted (importance) Bernoulli sample: each row keeps with its OWN
    * probability `weight` (clamped to [0, 1], 1/256 granularity) instead
    * of one global fraction — e.g. weight = n_tokens/maxTokens samples
    * uniformly over TOKENS rather than documents, the correction for
    * "short docs dominate a row-uniform sample". Same engine-independent
    * selection contract as [[hashSample]]: the decision is a pure per-row
    * compare of the md5 first byte against the row's cutoff, so the
    * sample is identical on any cluster, partitioning, or engine, and
    * weight-raising is monotone (a row kept at weight w stays kept at
    * any w' > w — nested samples for curriculum schedules). */
  def weightedSample(df: DataFrame, keyText: Column,
                     weight: Column): DataFrame = {
    val cut = least(greatest(floor(weight * 256), lit(0L)), lit(256L))
    val byte = substring(md5(keyText), 1, 2)
    df.filter(cut >= 256 || byte < lpad(lower(hex(cut.cast("int"))), 2, "0"))
  }

  /** Leakage-safe split assignment: near-duplicate documents must never
    * straddle train/test (a test doc with a 95%-identical twin in train
    * is contamination [[assignSplit]]'s per-doc content hash cannot
    * prevent — the twins hash differently). Assign splits at the
    * NEAR-DUP-CLUSTER level instead: connected components
    * ([[Graph.connectedComponents]]) over the similarity pairs pick a
    * representative (min id, the `comp` label) per cluster, every
    * member inherits the representative, and the split is keyed off the
    * representative's id — so a whole cluster moves together, and
    * singletons (docs in no pair) behave exactly like [[assignSplit]] on
    * their own id.
    *
    * Output: one (doc_id, rep, split) row per input doc — a doc-level
    * dimension to join back onto the corpus. Scale: components is the
    * lineage-checkpointed iterative operator (pairs-sized, not
    * corpus-sized); the join back is a single keyed shuffle.
    */
  def clusterSafeSplits(docs: DataFrame, id: Column, pairs: DataFrame,
                        idA: Column, idB: Column,
                        splits: Seq[(String, Double)]): DataFrame = {
    val comps = Graph.connectedComponents(pairs, idA, idB)
      .select(col("id").as("_cid"), col("comp"))
    docs.select(id.as("doc_id"))
      .join(comps, col("doc_id") === col("_cid"), "left")
      .withColumn("rep", coalesce(col("comp"), col("doc_id")))
      .withColumn("split", assignSplit(col("rep").cast("string"), splits))
      .select("doc_id", "rep", "split")
  }
}
