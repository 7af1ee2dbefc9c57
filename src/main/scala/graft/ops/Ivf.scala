package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-flat approximate nearest neighbour — the inverted-file scale path
  * for embedding similarity search, complementing the LSH-bucketed
  * [[VectorOps.annLshTopK]] (training-data-pipeline similarity operators;
  * brute-force baseline at [[VectorOps.knnCosine]]).
  *
  * Shape (FAISS IVF-flat, distributed):
  *   1. Train a spherical k-means coarse quantizer. Centroids live on the
  *      driver as O(nCells·d) doubles — the same bounded-driver-state class
  *      as the Gram aggregator's O(d²) — and ride to executors inside the
  *      UDF closure (an implicit broadcast of a few KB).
  *   2. Assign every corpus vector to its argmax-dot cell: one narrow map,
  *      no shuffle.
  *   3. Each query probes its nProbe nearest cells; candidates are the
  *      corpus rows in probed cells via a broadcast equi-join on cell id.
  *      The corpus is scanned, never cross-joined: at 100 TB the scored
  *      pair space is |corpus ∩ probed cells| ≈ (nProbe/nCells)·|corpus|
  *      per query, not |queries|×|corpus|.
  *   4. Exact cosine on the candidates, window top-k per query — the same
  *      scoring/ranking tail as [[VectorOps.knnCosine]], so the ranking
  *      path is oracle-checked there on non-planted data.
  *
  * Determinism: row vectors need no normalization for assignment (‖v‖
  * scales every centroid dot equally, so the argmax — ties to the lowest
  * cell — is scale-invariant). That same invariance is the recall
  * guarantee the registered query's oracle relies on: a positively-scaled
  * copy of a query has the query's direction, hence the query's argmax
  * cell, which nProbe ≥ 1 always probes.
  */
object Ivf {

  /** Spherical k-means coarse quantizer, trained on a bounded deterministic
    * sample (the `sampleCap` lowest-id vectors).
    *
    * The quantizer only needs the corpus density shape, not every row —
    * the standard IVF practice is to train on a capped sample — so this
    * costs ONE narrow collect (orderBy + limit, no wide shuffle) plus pure
    * driver arithmetic: O(sampleCap·nCells·d·maxIter) flops against
    * O(sampleCap·d) driver memory, the same bounded-driver-state class as
    * the Gram aggregator's O(d²). At 100 TB the sample collect is still a
    * top-k over ids; nothing scales with corpus size.
    *
    * Init is deterministic (the nCells lowest-id vectors, unit-normalized);
    * each Lloyd iteration reassigns the sample to its argmax-dot cell
    * (ties to the lowest cell) and re-normalizes per-cell sums. Empty
    * cells keep their previous centroid.
    */
  def trainCentroids(corpus: DataFrame, id: Column, vec: Column,
                     nCells: Int, maxIter: Int,
                     sampleCap: Int = 4096): Array[Array[Double]] = {
    require(nCells > 0, s"nCells must be positive, got $nCells")
    require(maxIter >= 0, s"maxIter must be >= 0, got $maxIter")
    require(sampleCap >= nCells,
      s"sampleCap=$sampleCap must be >= nCells=$nCells")
    val sample = corpus.select(id.as("id"), vec.cast("array<double>").as("v"))
      .orderBy("id").limit(sampleCap)
      .select("v").collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "corpus is empty — cannot train centroids")
    val d = sample(0).length
    sample.foreach { v =>
      require(v.length == d,
        s"inconsistent embedding dimensions: expected $d, found ${v.length}")
    }
    var centroids = sample.take(nCells).map(unit)
    var iter = 0
    while (iter < maxIter) {
      val acc = Array.fill(centroids.length)(new Array[Double](d))
      val cnt = new Array[Boolean](centroids.length)
      sample.foreach { v =>
        val c = argmaxDot(centroids, v)
        val a = acc(c)
        var i = 0
        while (i < d) { a(i) += v(i); i += 1 }
        cnt(c) = true
      }
      centroids = Array.tabulate(centroids.length) { c =>
        if (cnt(c)) unit(acc(c)) else centroids(c)
      }
      iter += 1
    }
    centroids
  }

  /** argmax over centroids of dot(centroid, v); ties to the lowest cell. */
  private def argmaxDot(centroids: Array[Array[Double]], v: Seq[Double]): Int = {
    var best = 0; var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val ctr = centroids(c)
      val n = math.min(ctr.length, v.length)
      var dot = 0.0; var i = 0
      while (i < n) { dot += ctr(i) * v(i); i += 1 }
      if (dot > bestDot) { bestDot = dot; best = c }
      c += 1
    }
    best
  }

  private def unit(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v.clone() else v.map(_ / n)
  }

  /** UDF form of [[argmaxDot]] for distributed cell assignment. */
  private def cellUdf(centroids: Array[Array[Double]]) = udf { (v: Seq[Double]) =>
    argmaxDot(centroids, v)
  }

  /** The nProbe cells nearest to v, by dot desc then cell asc. */
  private def probeUdf(centroids: Array[Array[Double]], nProbe: Int) =
    udf { (v: Seq[Double]) =>
      val dots = Array.tabulate(centroids.length) { c =>
        val ctr = centroids(c)
        val n = math.min(ctr.length, v.length)
        var d = 0.0; var i = 0
        while (i < n) { d += ctr(i) * v(i); i += 1 }
        (c, d)
      }
      dots.sortBy { case (c, d) => (-d, c) }.take(nProbe).map(_._1).toSeq
    }

  /** IVF-PQ (IVFADC, Jégou et al. 2011) — the layout every billion-vector
    * ANN system runs: an inverted-file coarse quantizer prunes the corpus
    * to the query's nProbe nearest cells, and the survivors are scored by
    * PQ asymmetric distance against their compressed codes — compose the
    * two scale levers ([[ivfTopK]]'s candidate pruning, [[Pq]]'s ×128
    * vector compression) in one operator.
    *
    * Unlike [[ivfTopK]]'s double spherical quantizer, the coarse level
    * here is the INTEGER-exact Lloyd ([[Clustering.lloyd]]) on the same
    * micro-unit grid as the PQ codebooks (FAISS's by_residual=false
    * variant — codes are of raw vectors, not residuals, which is what
    * keeps every step engine-replayable): cell assignment, probe order,
    * ADC sums and rank tie-breaks are all BIGINT-deterministic, so a SQL
    * oracle replays the WHOLE index — build, probe, search — move for
    * move, where ivfTopK needs planted-geometry recall arguments.
    *
    * Scale shape: ONE corpus scan computes cell + codes together (two
    * pure maps against broadcast literals, no index-build join); queries
    * broadcast with their probed cell ids; the scored pair space is
    * |corpus ∩ probed cells| ≈ (nProbe/nCells)·|corpus| per query, over
    * 16-byte codes instead of 256-byte vectors.
    *
    * Output: (query_id, rank, item_id, adist2) — [[Pq.adcTopK]]'s schema
    * and tie-breaks (rank by adist2 then item_id); with nProbe = nCells
    * the result equals adcTopK exactly (no pruning), the spec-pinned
    * equivalence. */
  def ivfAdcTopK(corpus: DataFrame, queries: DataFrame,
                 qid: Column, qvec: Column, cb: Pq.Codebooks, k: Int,
                 nCells: Int, nProbe: Int, coarseIters: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nProbe > 0 && nProbe <= nCells,
      s"nProbe must be in [1, nCells=$nCells], got $nProbe")
    // index: cell (nearest coarse centroid, ties lowest) and PQ codes
    // computed in the SAME corpus scan — both pure maps against broadcast
    // literals
    val cq = corpus.select(qid.as("item_id"),
      Clustering.quantize(qvec, cb.shift, cb.scale).as("q")).persist()
    cq.count()
    val coarse = Clustering.lloyd(cq, nCells, coarseIters)
    val indexed = Clustering.assignTo(cq, coarse)
      .select(col("item_id"), col("cluster").as("cell"),
        Pq.codesFor(col("q"), cb).as("codes"))
    cq.unpersist(blocking = false)
    // search: each query probes its nProbe nearest coarse cells (exact
    // integer dist2, ties to the lowest cell); the cell filter applies
    // BEFORE any ADC arithmetic, so survivors are scored against their
    // 16-byte codes at ≈ (nProbe/nCells)·|corpus| per query
    val qq = queries.select(qid.as("query_id"),
      Clustering.quantize(qvec, cb.shift, cb.scale).as("q"))
    val qd = qq.select(col("query_id"), col("q"),
      posexplode(array(coarse.map(c => Clustering.dist2(col("q"), c)): _*))
        .as(Seq("cell", "qdist2")))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("qdist2"), col("cell"))
    val probed = qd.withColumn("_prn", row_number().over(pw))
      .filter(col("_prn") <= nProbe)
      .select(col("query_id"), col("q"), col("cell"))
    val scored = indexed.join(broadcast(probed), "cell")
      .select(col("query_id"), col("item_id"),
        Pq.adcDist(col("q"), col("codes"), cb).as("adist2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist2"), col("item_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("item_id"), col("adist2"))
      .orderBy("query_id", "rank")
  }

  /** IVF-flat approximate top-k by cosine. Queries must be small (their
    * probe table is broadcast); the corpus side is one assignment map plus
    * one equi-join on cell id. Output schema and tie-breaks match
    * [[VectorOps.knnCosine]] exactly. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 2, maxIter: Int = 3): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(nProbe > 0 && nProbe <= nCells,
      s"nProbe must be in [1, nCells=$nCells], got $nProbe")
    val centroids =
      trainCentroids(corpus, col("vec_id"), col("embedding"), nCells, maxIter)
    val assign = cellUdf(centroids)
    val probe = probeUdf(centroids, nProbe)
    val c = corpus.select(col("vec_id").as("nbr_id"), col("embedding").as("cv"),
      assign(col("embedding").cast("array<double>")).as("cell"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      explode(probe(col("embedding").cast("array<double>"))).as("cell"))
    val scored = c.join(broadcast(q), "cell")
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        round(VectorOps.cosine(col("qv"), col("cv")), 4).as("cos_r"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_r").desc, col("nbr_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }
}
