package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Sizing

/** Kernel-stage widening policy ([[Sizing.widenKernelStage]]) — the
  * scan-width lever behind the r16/r17 text-kernel speedups. Pins the
  * lineage-cut behavior fixed for ADVICE r17: a cut frame's leaf stats
  * carry the ORIGIN byte estimate while its parallelism is the
  * checkpointed RDD's width, so the already-wide test must consult the
  * RDD, not bytes/splitSize — an already-wide checkpoint passes through
  * (no redundant round-robin exchange) while a narrow one still widens.
  * Also pins the validated conf parsing (a typo'd lever value must name
  * the key, not surface as a bare NumberFormatException mid-query). */
class WidenKernelSpec extends SparkSpec {

  /** A >1 MiB parquet-backed corpus — past the widening floor with the
    * byte estimate the production operators actually see (file size; a
    * LocalRelation estimates strings at a 20-byte schema default and
    * would sit under the floor no matter the content). The text is
    * md5-hex so parquet compression cannot shrink it below the floor. */
  private lazy val bigDocs: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_widen").toString
    spark.range(30000L)
      .select(col("id").as("doc_id"),
        concat_ws(" ", md5(col("id").cast("string")),
          md5((col("id") + 1).cast("string")),
          md5((col("id") + 2).cast("string")),
          md5((col("id") + 3).cast("string"))).as("text"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def hasShuffle(df: DataFrame): Boolean = {
    val p = df.queryExecution.executedPlan.toString
    p.contains("Exchange") || p.contains("Repartition")
  }

  test("already-wide lineage-cut input passes through unwidened") {
    val cut = bigDocs.repartition(4).localCheckpoint() // width == session target
    assert(cut.rdd.getNumPartitions == 4)
    val w = Sizing.widenKernelStage(cut)
    assert(!hasShuffle(w),
      s"redundant exchange on an already-wide cut:\n${w.queryExecution.executedPlan}")
  }

  test("narrow lineage-cut input above the floor still widens") {
    val cut = bigDocs.coalesce(1).localCheckpoint()
    assert(cut.rdd.getNumPartitions == 1)
    val w = Sizing.widenKernelStage(cut)
    assert(hasShuffle(w),
      s"narrow cut frame should widen:\n${w.queryExecution.executedPlan}")
    // proportional sizing: ceil(bytes / 256 KiB) capped at the session
    // width — never BELOW the input's current width + 1
    assert(w.rdd.getNumPartitions > 1)
    assert(w.rdd.getNumPartitions <= 4)
  }

  test("sub-floor input never widens (micro-fixture plans stay byte-identical)") {
    import spark.implicits._
    val tiny = Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text")
      .coalesce(1).localCheckpoint()
    assert(!hasShuffle(Sizing.widenKernelStage(tiny)))
  }

  test("typo'd conf values fail naming the key, not with a bare NumberFormatException") {
    val key = Sizing.SharedKernelCutBytesConf
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "64m")
      val e = intercept[IllegalArgumentException] {
        Sizing.sharedKernelCutOk(bigDocs)
      }
      assert(e.getMessage.contains(key))
      assert(e.getMessage.contains("64m"))
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
