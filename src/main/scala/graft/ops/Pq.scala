package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the vector-compression half of a
  * large-scale ANN index (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011; the IVF-PQ layout every
  * billion-vector system uses).
  *
  * Each d-dim vector is split into `m` contiguous subvectors; each
  * subspace gets its own k-centroid codebook (k-means), and a vector is
  * stored as its m nearest-centroid indexes — m·log2(k) bits instead of
  * 4·d bytes (64-dim float32 → 2 bytes at m=2/k=256: ×128 compression).
  * Queries score compressed codes with ASYMMETRIC distance (ADC): the
  * query stays full-precision, and its distance to a code is the sum of
  * per-subspace distances to the coded centroids — at 100 TB the corpus
  * side is the thing that must shrink, and ADC loses far less recall
  * than code-vs-code distances.
  *
  * Everything is integer-exact on the [[Clustering]] micro-unit grid:
  * subspace k-means is the same deterministic BIGINT Lloyd loop, codes
  * break ties to the lowest index, and ADC distances are BIGINT sums in
  * fixed subspace order — so codes AND search results are bit-identical
  * in any engine, and the whole pipeline (fit → encode → search) is
  * replayable by a SQL oracle.
  *
  * Scale shape: fit runs m bounded Lloyd loops (driver state = m·k·(d/m)
  * = k·d longs — same class as one k-means); encode is a shuffle-free map
  * against broadcast codebook literals; ADC search is a broadcast of the
  * (small) query side against the code table — one scan, a per-query
  * top-k, no pairwise exchange of full vectors.
  */
object Pq {

  /** Per-subspace codebooks on the quantized integer grid.
    * `centroids(s)(c)` is the c-th centroid of subspace s (d/m longs). */
  case class Codebooks(dims: Int, m: Int, k: Int,
                       shift: Double, scale: Double,
                       centroids: IndexedSeq[IndexedSeq[Seq[Long]]]) {
    def subDim: Int = dims / m
  }

  private def quantized(df: DataFrame, id: Column, vec: Column,
                        cb: Codebooks): DataFrame =
    df.select(id.as("item_id"),
      Clustering.quantize(vec, cb.shift, cb.scale).as("q"))

  private def subVec(q: Column, s: Int, subDim: Int): Column =
    slice(q, s * subDim + 1, subDim)

  /** Fit m subspace codebooks with `iters` integer-exact Lloyd rounds
    * each. `dims` must be the (fixed) vector width and divisible by m. */
  def fit(df: DataFrame, id: Column, vec: Column, dims: Int,
          m: Int, k: Int, iters: Int,
          shift: Double = 8.0, scale: Double = 1e6): Codebooks = {
    require(m >= 1 && dims % m == 0,
      s"m must divide dims, got dims=$dims m=$m")
    val cb0 = Codebooks(dims, m, k, shift, scale, IndexedSeq.empty)
    val q = quantized(df, id, vec, cb0).persist()
    q.count()
    // the m subspace Lloyd loops are independent given the persisted
    // quantized frame — run them as concurrent driver-submitted jobs
    // (guide §2.6: later jobs back-fill executors freed by the current
    // job's tail) instead of m sequential loops of tiny collects. Each
    // loop's own iteration order (and so its centroids) is unchanged —
    // results are bit-identical, only the wall overlaps.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val centroids = Await.result(
      Future.sequence((0 until m).toIndexedSeq.map { s => Future {
        Clustering.lloyd(
          q.select(col("item_id"), subVec(col("q"), s, cb0.subDim).as("q")),
          k, iters)
      }}), Duration.Inf)
    q.unpersist(blocking = false)
    cb0.copy(centroids = centroids)
  }

  /** ADC distance of a full-precision quantized vector `q` to a code
    * array literal-free: Σ_s ||q_s − centroids(s)(codes[s])||², folded in
    * fixed subspace order (BIGINT — engine-identical). Package-visible so
    * [[Ivf.ivfAdcTopK]] scores its cell-pruned candidates with the exact
    * same expression. */
  private[ops] def adcDist(q: Column, codes: Column, cb: Codebooks): Column =
    (0 until cb.m).map { s =>
      val cents = typedLit(cb.centroids(s).map(_.toSeq))
      val cent = element_at(cents, (element_at(codes, s + 1) + 1).cast("int"))
      graft.functions.RowFunctions.sqL2(subVec(q, s, cb.subDim), cent)
    }.reduce(_ + _)

  /** The m nearest-centroid code indexes of a quantized vector column, as
    * one array expression (ties to the lowest index per subspace) — the
    * encode kernel, exposed so [[Ivf.ivfAdcTopK]] can compute cell AND
    * codes in the same single scan. */
  private[ops] def codesFor(q: Column, cb: Codebooks): Column =
    array((0 until cb.m).map { s =>
      val dists = array(cb.centroids(s).map(c =>
        Clustering.dist2(subVec(q, s, cb.subDim), c)): _*)
      array_position(dists, array_min(dists)) - 1L
    }: _*)

  /** Encode every vector as its m nearest-centroid indexes:
    * (item_id, codes array<long>, recon_err = exact ADC distance of the
    * vector to its own code — the quantization error). A pure map against
    * broadcast codebooks: no shuffle at any corpus size. */
  def encode(df: DataFrame, id: Column, vec: Column,
             cb: Codebooks): DataFrame =
    quantized(df, id, vec, cb)
      .select(col("item_id"), col("q"), codesFor(col("q"), cb).as("codes"))
      .select(col("item_id"), col("codes"),
        adcDist(col("q"), col("codes"), cb).as("recon_err"))

  /** ADC top-k search: for each query (full-precision side) the k nearest
    * CODES of the corpus, by exact integer ADC distance, ties to the
    * lowest item_id. `codes` is [[encode]]'s output (or its stored form);
    * queries are broadcast — the corpus code table is scanned once. */
  def adcTopK(codes: DataFrame, queries: DataFrame, qid: Column,
              qvec: Column, cb: Codebooks, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val q = quantized(queries, qid, qvec, cb)
      .select(col("item_id").as("query_id"), col("q"))
    val scored = codes.select(col("item_id"), col("codes"))
      .crossJoin(broadcast(q))
      .select(col("query_id"), col("item_id"),
        adcDist(col("q"), col("codes"), cb).as("adist2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("adist2"), col("item_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("item_id"), col("adist2"))
      .orderBy("query_id", "rank")
  }
}
