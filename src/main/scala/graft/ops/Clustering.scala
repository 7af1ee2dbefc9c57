package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.RowFunctions

/** Distributed k-means over embedding columns — the clustering primitive
  * behind semantic dedup ("keep one doc per meaning-cluster") and
  * diversity-stratified sampling of a training corpus (complements the
  * pair-oriented near-dup operators in [[Dedup]] and the index-oriented
  * [[Ivf]], whose coarse quantizer trains on a driver-side SAMPLE — here
  * every row participates in every Lloyd iteration).
  *
  * Exactness: classic float k-means is not reproducible across engines or
  * even across runs (cross-row float sums depend on partition merge order).
  * This variant quantizes each coordinate ONCE to shifted micro-units —
  * `floor((x + shift) * scale)` as BIGINT, exact and identical in any
  * IEEE-754 engine — and from then on every distance, sum, and centroid is
  * integer arithmetic: squared L2 in BIGINT, centroid update = per-dim
  * integer sum with floor division (values are positive after the shift, so
  * truncating and floor division agree across engines). Assignment ties
  * break to the lowest cluster index. The whole algorithm is therefore a
  * deterministic function of the input — hash-checkable against an
  * independent SQL oracle, and stable run to run on a real cluster.
  *
  * Scale shape (the same loop as Spark MLlib's KMeans):
  *  - quantized input persisted once, read once per iteration (narrow);
  *  - assignment is a map against k·d broadcast literals — no shuffle —
  *    and each distance is one codegen'd `graft_sq_l2` kernel call, not
  *    Spark's interpreted `zip_with`/`aggregate` (k calls per row, every
  *    Lloyd iteration);
  *  - centroid update is posexplode → groupBy(cluster, dim) → sum: the
  *    shuffle is map-side combined, so each partition emits ≤ k·d rows
  *    regardless of row count;
  *  - per-iteration driver state is the k·d centroid matrix (a few KB) —
  *    the same bounded class as the Gram aggregator's O(d²).
  *
  * Overflow posture (ANSI mode makes violations loud, not silent): with
  * |x| < shift = 8 and scale = 1e6, coordinates are < 1.6e7, so a per-dim
  * cluster sum stays in BIGINT up to ~5.7e11 members and a squared distance
  * up to d = 3.6e4 dimensions.
  */
object Clustering {

  /** Shifted micro-unit quantization: `floor((x + shift) * scale)` as
    * BIGINT. Coordinates with |x| >= shift raise (silent clamping would
    * corrupt distances); pick `shift` from the embedding's known range. */
  def quantize(vec: Column, shift: Double, scale: Double): Column =
    transform(vec, x =>
      when(abs(x.cast("double")) < shift,
        floor((x.cast("double") + shift) * scale).cast("long"))
        .otherwise(raise_error(concat(
          lit(s"kmeansExact: |coordinate| >= $shift (raise shift): "),
          x.cast("string")))))

  /** Exact squared L2 distance between a quantized array column and a
    * centroid literal, folded in array order (BIGINT throughout): the
    * codegen'd `graft_sq_l2` kernel ([[graft.functions.RowFunctions.sqL2]]),
    * which returns what `aggregate(zip_with(q, c, (a, b) -> (a - b) *
    * (a - b)), 0L, (acc, x) -> acc + x)` returns, overflow included. */
  private[ops] def dist2(q: Column, c: Seq[Long]): Column =
    RowFunctions.sqL2(q, RowFunctions.longArray(c))

  /** Nearest-centroid assignment of a quantized (item_id, q) frame against
    * a centroid literal matrix: (item_id, q, cluster, dist2), ties to the
    * lowest index. A pure map against k·d broadcast literals — no shuffle. */
  private[graft] def assignTo(q: DataFrame,
                            centroids: IndexedSeq[Seq[Long]]): DataFrame = {
    val dists = array(centroids.map(c => dist2(col("q"), c)): _*)
    q.select(col("item_id"), col("q"), dists.as("dists"))
      .select(col("item_id"), col("q"),
        (array_position(col("dists"), array_min(col("dists"))) - 1L)
          .as("cluster"),
        array_min(col("dists")).as("dist2"))
  }

  /** Lloyd iterations over an already-quantized persisted (item_id, q)
    * frame; returns the centroid matrix AFTER `iters` updates (init = the
    * k lowest-id vectors). Empty clusters keep their previous centroid. */
  private[graft] def lloyd(q: DataFrame, k: Int,
                         iters: Int): IndexedSeq[Seq[Long]] = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val initRows = q.orderBy("item_id").limit(k).collect()
    require(initRows.length == k,
      s"k-means needs >= $k rows, corpus has ${initRows.length}")
    var centroids: IndexedSeq[Seq[Long]] =
      initRows.map(_.getSeq[Long](1).toIndexedSeq).toIndexedSeq
    var it = 0
    while (it < iters) {
      val sums = assignTo(q, centroids)
        .select(col("cluster"), posexplode(col("q")).as(Seq("dim", "v")))
        .groupBy("cluster", "dim")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = centroids.map(_.toArray).toArray
      sums.foreach { r =>
        // positive values (shift) ⇒ Long truncating division == floor
        next(r.getLong(0).toInt)(r.getInt(1)) = r.getLong(2) / r.getLong(3)
      }
      centroids = next.map(_.toIndexedSeq).toIndexedSeq
      it += 1
    }
    centroids
  }

  /** Lloyd's k-means, integer-exact (see object doc). Deterministic init:
    * the k lowest-id vectors. Returns one row per input row:
    * (item_id, cluster, dist2) for the assignment AFTER `iters` centroid
    * updates; `cluster` is the 0-based centroid index, `dist2` the exact
    * squared micro-unit distance to it. Empty clusters keep their previous
    * centroid (they can re-acquire members later — standard Lloyd's). */
  def kmeansExact(df: DataFrame, id: Column, vec: Column,
                  k: Int, iters: Int,
                  shift: Double = 8.0, scale: Double = 1e6): DataFrame = {
    val q = df.select(id.as("item_id"), quantize(vec, shift, scale).as("q"))
      .persist()
    val centroids = lloyd(q, k, iters)
    val out = Checkpoints.cut(
      assignTo(q, centroids).select(col("item_id"), col("cluster"), col("dist2")))
    q.unpersist()
    out
  }

  /** Diversity sampling: `perCluster` representatives from each k-means
    * cluster, picked in content-hash order within the cluster — the
    * "cover the embedding space" selection step of a training mixture
    * (cluster first so every semantic region is represented, then a
    * uniform deterministic pick within each region; pure row-count
    * sampling over-represents dense regions).
    *
    * Scale: the per-cluster rank is a `row_number <= m` window, which
    * Spark's WindowGroupLimit rewrite prunes map-side to m rows per
    * cluster per task BEFORE the exchange — so the shuffle carries
    * O(k·m·tasks) rows, not the corpus, even with few clusters. Output:
    * (cluster, rank, item_id, dist2), rank 1-based in hash order.
    */
  def diversitySample(df: DataFrame, id: Column, vec: Column,
                      k: Int, iters: Int, perCluster: Int): DataFrame = {
    require(perCluster > 0, s"perCluster must be positive, got $perCluster")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(md5(col("item_id").cast("string")), col("item_id"))
    // filter on the RAW row_number attribute, cast afterwards: the
    // InferWindowGroupLimit rule matches rank-predicate filters on the
    // window expression itself, and an interposed Cast defeats the
    // map-side prune (plan-asserted in ClusteringSpec)
    kmeansExact(df, id, vec, k, iters)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perCluster)
      .withColumn("rank", col("rank").cast("long"))
      .select(col("cluster"), col("rank"), col("item_id"), col("dist2"))
  }
}
