package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Sizing, TextAnalytics}

/** The shared-kernel checkpoint gate ([[Sizing.cutSharedKernel]]) — the r19
  * optimization that shares one tokenize/gram pass between two consumers of
  * the same subframe at scale, while keeping small-corpus plans
  * byte-identical (a localCheckpoint job costs more than re-tokenizing a
  * sub-MB corpus; measured +0.2–0.9 s per bm25 call at sf0.1 ungated).
  * Pins: (a) the gate is off below the threshold (no lineage cut), (b) on
  * past it (LogicalRDD leaf), (c) results are identical either way, and
  * (d) -1 disables unconditionally. */
class SharedKernelCutSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq((1L, "a b c a b"), (2L, "b c d"), (3L, "a b c a b"), (4L, ""))
      .toDF("doc_id", "text")
  }

  private def isCut(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("LogicalRDD") ||
      df.queryExecution.optimizedPlan.toString.contains("ExistingRDD")

  test("gate off below the threshold: no lineage cut, plan passes through") {
    val slim = docs.select(col("doc_id"),
      TextAnalytics.tokensCol(col("text")).as("_toks"))
    // a LocalRelation estimates a handful of bytes — far under 64 MiB
    val out = Sizing.cutSharedKernel(slim, src = docs)
    assert(!isCut(out), s"tiny corpus must not cut:\n${out.queryExecution}")
  }

  test("gate on when forced (threshold 0): frame is materialized as an RDD leaf") {
    val saved = spark.conf.getOption("spark.graft.sharedKernelCutBytes")
    try {
      spark.conf.set("spark.graft.sharedKernelCutBytes", "0")
      val slim = docs.select(col("doc_id"),
        TextAnalytics.tokensCol(col("text")).as("_toks"))
      val out = Sizing.cutSharedKernel(slim, src = docs)
      assert(isCut(out), s"forced gate must cut:\n${out.queryExecution}")
    } finally saved.fold(
      spark.conf.unset("spark.graft.sharedKernelCutBytes"))(
      spark.conf.set("spark.graft.sharedKernelCutBytes", _))
  }

  test("-1 disables the cut unconditionally") {
    val saved = spark.conf.getOption("spark.graft.sharedKernelCutBytes")
    try {
      spark.conf.set("spark.graft.sharedKernelCutBytes", "-1")
      val out = Sizing.cutSharedKernel(docs.select(col("doc_id")), src = docs)
      assert(!isCut(out))
    } finally saved.fold(
      spark.conf.unset("spark.graft.sharedKernelCutBytes"))(
      spark.conf.set("spark.graft.sharedKernelCutBytes", _))
  }

  test("operator results identical with the cut forced on vs off") {
    val saved = spark.conf.getOption("spark.graft.sharedKernelCutBytes")
    def runAll(): Seq[Array[org.apache.spark.sql.Row]] = Seq(
      TextAnalytics.bm25TopK(docs, col("doc_id"), col("text"),
        Seq("a", "b"), k = 3).collect(),
      TextAnalytics.duplicatedNgramFraction(docs, col("doc_id"),
        col("text"), n = 2).collect(),
      TextAnalytics.unigramLogProb(docs, col("doc_id"), col("text"))
        .orderBy("doc_id").collect(),
      TextAnalytics.bigramLogProb(docs, col("doc_id"), col("text"))
        .orderBy("doc_id").collect(),
      Dedup.removeDuplicatedSpans(docs, col("doc_id"), col("text"), n = 2)
        .collect())
    try {
      spark.conf.set("spark.graft.sharedKernelCutBytes", "-1")
      val off = runAll()
      spark.conf.set("spark.graft.sharedKernelCutBytes", "0")
      val on = runAll()
      off.zip(on).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a.toSeq == b.toSeq, s"operator $i diverged under the cut")
      }
    } finally saved.fold(
      spark.conf.unset("spark.graft.sharedKernelCutBytes"))(
      spark.conf.set("spark.graft.sharedKernelCutBytes", _))
  }
}
