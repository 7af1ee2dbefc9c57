package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Checkpoints, Dedup, Graph, Relational, Sampling, TextAnalytics}

/** End-to-end training-corpus curation — the capstone composition of the
  * pipeline operators, in the order a production curation runs:
  *
  *   1. canonical EXACT dedup: md5 of the canonicalized text
  *      ([[TextAnalytics.canonicalize]]), min doc_id per key survives →
  *      dropped rows get status `exact_dup`;
  *   2. quality filter ([[TextAnalytics.qualityFilter]]) on the survivors
  *      → `low_quality`;
  *   3. NEAR-dup: MinHash+LSH pairs ([[Dedup.minhashDupPairs]]) →
  *      connected components ([[Graph.connectedComponents]]), min-id
  *      keeper per cluster, every other member → `near_dup`;
  *   4. survivors (`keep`) get a deterministic train/val/test split
  *      ([[Sampling.assignSplit]]); dropped rows carry split `none`.
  *
  * Every document appears in the output exactly once with its disposition
  * — the audit trail a curation must produce (silently vanishing rows are
  * how corpora rot). NULL text is coalesced to empty at entry so such
  * rows flow to `low_quality` instead of slipping through both sides of a
  * three-valued-logic filter. Each stage is the already-verified operator;
  * the composition is itself oracle-checked end-to-end (`corpus_curation`).
  *
  * Scale notes: stages are narrow or key-shuffled exactly like their
  * underlying operators; the only driver state is the components loop's
  * convergence scalar. The stage boundaries here use `localCheckpoint`
  * (fast, but NOT fault-tolerant: blocks live unreplicated on executors,
  * so a lost executor fails the query); on a real cluster swap in
  * reliable `checkpoint()` to an HDFS/object-store dir, which survives
  * executor loss at the cost of a write per stage.
  */
object CorpusCuration {

  def curate(docs: DataFrame, id: Column, text: Column,
             splits: Seq[(String, Double)] =
               Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)): DataFrame = {
    // NULL text → empty string: a NULL keep verdict passes NEITHER filter
    // branch below and the row would vanish from the audit trail
    val base = docs.select(id.as("doc_id"),
      coalesce(text, lit("")).as("text"))

    // 1. canonical exact dedup. Stage outputs are eagerly checkpointed:
    // three later branches (drop lists, pair generation, keeper split)
    // each read a stage result, and uncut lineage would re-run the whole
    // upstream per branch (see the scaladoc for the cluster-scale
    // fault-tolerant variant).
    val keyed = base.withColumn("ck", md5(TextAnalytics.canonicalize(col("text"))))
    val ranked = keyed.withColumn("rn",
      row_number().over(Window.partitionBy(col("ck")).orderBy(col("doc_id"))))
      .transform(Checkpoints.cut)
    val exactDropped = ranked.filter(col("rn") > 1)
      .select(col("doc_id"), lit("exact_dup").as("status"), lit("none").as("split"))
    val s1 = ranked.filter(col("rn") === 1).select(col("doc_id"), col("text"))

    // 2. quality filter
    val verdicts = TextAnalytics.qualityFilter(s1, col("doc_id"), col("text"))
      .select(col("doc_id"), col("keep"))
    val s1v = Checkpoints.cut(s1.join(verdicts, "doc_id"))
    val lowQuality = s1v.filter(!col("keep"))
      .select(col("doc_id"), lit("low_quality").as("status"), lit("none").as("split"))
    val s2 = s1v.filter(col("keep")).select(col("doc_id"), col("text"))

    // 3. near-dup clustering (pairs → components → min-id keeper).
    // Size source = the SOURCE frame: s2 sits behind two lineage cuts
    // whose carried stats include a join estimate — the width estimator
    // reading them pinned the minhash stages to 32768 near-empty tasks
    // (165 s on 100k rows, PROBE.md round 13), and the same inflated
    // estimate opened the shared-kernel gate on a sub-MB corpus (r20);
    // the corpus scan's own stats are the honest volume signal.
    val pairs = Dedup.minhashDupPairs(s2, col("doc_id"), col("text"),
      sizeSrc = Some(base), ordered = false) // feeds components only
    val nearDropped = Graph.connectedComponents(pairs, col("id_a"), col("id_b"))
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"), lit("near_dup").as("status"),
        lit("none").as("split"))

    // 4. survivors get their split (anti join keyed on a renamed column —
    // both sides descend from s2, so a bare doc_id would be ambiguous)
    val keeps = Relational.antiJoin(s2,
        nearDropped.select(col("doc_id").as("dropped_id")),
        col("doc_id"), col("dropped_id"))
      .select(col("doc_id"), lit("keep").as("status"),
        Sampling.assignSplit(col("text"), splits).as("split"))

    exactDropped.unionByName(lowQuality).unionByName(nearDropped)
      .unionByName(keeps)
      .orderBy("doc_id")
  }
}
