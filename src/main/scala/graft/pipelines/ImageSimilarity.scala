package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Checkpoints, ImageOps, Lsh, Projections, VectorOps}
import graft.sources.ZipImages

/** The reference's flagship end-to-end DAG (SURVEY.md §3.3;
  * `a2_ahuja.py:216–319,411–433`):
  *
  *   zips → decode → P8 tiles → M1 intensity → M2 block mean → M3 gradient
  *   features → M4 chunked-md5 signature → M5 LSH bands → J3 candidate join
  *   → M6 sparse random projection → M7 standardize → A9/M8 PCA →
  *   M9 euclidean → O1 distances sorted per query.
  *
  * Spark-first shape (vs the reference's seven collect() round-trips):
  *  - the tile/feature stage is persisted once and shared by the LSH fit
  *    and the projection fit (the reference's rdd6.persist, a2:221);
  *  - J3 is a posexplode + broadcast equi-join — the corpus never shuffles;
  *  - RP and PCA are broadcast affine maps (O(d·k) driver state); the PCA
  *    is FIT on every tile but only query+candidate rows are projected
  *    (a2:289–291) — at 100 TB the distance stage touches only the ≤30
  *    candidates per query, never the corpus.
  * The two semantically-required driver round-trips remain: collecting the
  * tiny query band-bucket side, and the d×d Gram → SVD on the driver.
  */
object ImageSimilarity {

  /** Returns (query_id, candidate_id, dist_r) sorted by distance per query
    * (self-pairs retained at distance 0 — J4). */
  def run(spark: SparkSession, zipDir: String, queryImages: Seq[String],
          tileSize: Int = 50, factor: Int = 5,
          sigIdx: Int = 1, bandwidth: Int = 13, pcaK: Int = 10,
          rpSeed: Long = 42L): DataFrame = {
    val imgs = ZipImages.readImages(spark, zipDir)
    val tiles = ImageOps.tiles(imgs, col("name"), col("img"),
      col("rows"), col("cols"), t = tileSize)
    val feats = ImageOps.tileFeatures(tiles, factor).persist()
    try {
      // feature dim from geometry: s×s grid → s(s−1) row + (s−1)s col diffs
      val s = tileSize / factor
      val d = 2 * s * (s - 1)

      // M4/M5/J3: query tiles = all tiles of the query images — selected by
      // predicate inside the plan (no driver round-trip for the id list)
      val banded = Lsh.withSignatureBuckets(feats, col("tile_name"),
        col("features"), sigIdx, bandwidth)
      // tile ids are "<image name>-<tile index>": strip the LAST -<digits>
      // suffix, so image names containing hyphens still match
      val cands = Lsh.candidatesWhere(banded,
        regexp_extract(col("item_id"), "^(.*)-\\d+$", 1).isin(queryImages: _*))

      // M6 RP: d → ⌊√d⌋, broadcast matmul; M7+M8 fit over ALL projected
      // tiles, then project only the rows the distance stage needs.
      val rp = Projections.sparseRandomProjection(d, rpSeed)
      val k = rp.head.length
      val projected = Projections.project(feats, col("tile_name"),
        col("features").cast("array<double>"), rp)
      val model = Projections.pcaFit(projected, col("proj"), pcaK, k)

      val needed = cands.select(col("query_id").as("vec_id"))
        .union(cands.select(col("candidate_id").as("vec_id")))
        .distinct()
      val reduced = model.transform(
        projected.join(broadcast(needed), "vec_id"),
        col("vec_id"), col("proj"))

      // M9 + O1: euclidean over the k-dim PCA space, sorted per query
      val q = reduced.select(col("vec_id").as("query_id"), col("proj").as("qv"))
      val c = reduced.select(col("vec_id").as("candidate_id"), col("proj").as("cv"))
      val result = cands
        .join(broadcast(q), "query_id").join(broadcast(c), "candidate_id")
        .select(col("query_id"), col("candidate_id"),
          round(VectorOps.euclidean(col("qv"), col("cv")), 6).as("dist_r"))
        .orderBy(col("query_id"), col("dist_r"), col("candidate_id"))
      // The distance set is ≤ |queries|·30 rows — eagerly checkpoint
      // it while `feats` is still cached, then release the cache. The
      // result stays a genuine distributed DataFrame (no driver collect /
      // re-parallelize round-trip) whose lineage is cut, so later actions
      // cannot recompute the whole DAG against the unpersisted stage.
      Checkpoints.cut(result)
    } finally feats.unpersist(blocking = false)
  }
}
