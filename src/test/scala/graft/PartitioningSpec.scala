package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.ops.Relational

/** Partitioned writes + partition pruning, and the CDC upsert composition —
  * the two remaining pieces of the pay-at-ingest storage story
  * (BucketingSpec covers exchange-free joins). */
class PartitioningSpec extends SparkSpec {

  test("partitioned write prunes non-matching partitions at scan time") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_part").toString
    val df = (0 until 2000)
      .map(i => (i.toLong, Seq("a", "b", "c", "d")(i % 4), i * 1.5))
      .toDF("id", "cat", "v")
    df.write.mode("overwrite").partitionBy("cat").parquet(dir)

    val filtered = spark.read.parquet(dir).filter(col("cat") === "b")
    val scan = filtered.queryExecution.executedPlan.toString
    // the filter must reach the scan as a PartitionFilters entry: only
    // cat=b directories are read, 3/4 of the data never touches an
    // executor — the core 100 TB scan lever
    assert(scan.contains("PartitionFilters") && scan.contains("cat"),
      s"expected partition pruning in:\n$scan")
    assert(filtered.count() == 500)
    // pruned read returns exactly the partition's rows
    assert(filtered.agg(sum("id")).collect()(0).getLong(0) ==
      (0 until 2000).filter(_ % 4 == 1).map(_.toLong).sum)
  }

  test("upsert: updates win per key by version, unmatched rows pass through") {
    import spark.implicits._
    val base = Seq((1L, 1L, "one-v1"), (2L, 1L, "two-v1"), (3L, 1L, "three-v1"))
      .toDF("k", "ver", "payload")
    val updates = Seq((2L, 2L, "two-v2"), (4L, 1L, "four-v1"),
      (2L, 2L, "two-v2b")) // same key+version: tie-break decides
    .toDF("k", "ver", "payload")
    val out = Relational.upsert(base, updates, Seq(col("k")),
      version = col("ver"), tieBreak = col("payload"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out == Set((1L, 1L, "one-v1"), (2L, 2L, "two-v2b"),
      (3L, 1L, "three-v1"), (4L, 1L, "four-v1")))
  }

  test("exploded-row-aware width: small corpora keep the session default " +
    "and their original plans; a demanding estimate widens the expansion " +
    "shuffles with pinned exchanges") {
    import graft.ops.{Dedup, Sizing}
    import org.apache.spark.sql.SparkSession
    def corpus(s: SparkSession) = {
      import s.implicits._
      (1L to 200L)
        .map(i => i -> s"alpha beta gamma delta epsilon doc $i filler words")
        .toDF("doc_id", "text")
    }
    def evalSet(s: SparkSession) = {
      import s.implicits._
      Seq(900L -> "alpha beta gamma delta epsilon").toDF("doc_id", "text")
    }
    val default = spark.sessionState.conf.numShufflePartitions
    // small corpus, default target: estimator floors at the session
    // default and the operators' plans carry NO extra pinned exchange
    assert(Sizing.explodedShuffleParts(corpus(spark)) == default)
    val decontPlan = Dedup.decontaminate(corpus(spark), evalSet(spark),
      col("doc_id"), col("text")).queryExecution.executedPlan.toString
    assert(!decontPlan.contains("REPARTITION_BY_NUM"),
      s"small-corpus decontaminate grew a pinned exchange:\n$decontPlan")
    val spanPlan = Dedup.removeDuplicatedSpans(corpus(spark), col("doc_id"),
      col("text")).queryExecution.executedPlan.toString
    assert(!spanPlan.contains("REPARTITION_BY_NUM"),
      s"small-corpus span clean grew a pinned exchange:\n$spanPlan")
    // shrink the per-partition row target: the same corpus now demands
    // more than the default width — the estimator grows and every
    // expansion shuffle is pinned (REPARTITION_BY_NUM, AQE-exempt).
    // The shrunk target lives on a CHILD session (same SparkContext, own
    // conf): suites share one SparkSession, and a conf mutation there
    // would leak into any concurrently-planned Dedup/Linkage plan if the
    // build ever ran suites in parallel (ADVICE r11).
    val widened = spark.newSession()
    widened.conf.set("spark.graft.shuffle.rowsPerPartition", "16")
    assert(Sizing.explodedShuffleParts(corpus(widened)) > default,
      "estimator did not grow under a 16-row/partition target")
    val wideDecon = Dedup.decontaminate(corpus(widened), evalSet(widened),
      col("doc_id"), col("text")).queryExecution.executedPlan.toString
    assert(wideDecon.contains("REPARTITION_BY_NUM"),
      s"widened decontaminate lacks the pinned exchange:\n$wideDecon")
    val wideSpan = Dedup.removeDuplicatedSpans(corpus(widened),
      col("doc_id"), col("text")).queryExecution.executedPlan.toString
    assert(wideSpan.contains("REPARTITION_BY_NUM"),
      s"widened span clean lacks the pinned exchange:\n$wideSpan")
    // and the WIDENED output equals the default-width output row-for-row
    val base = Dedup.removeDuplicatedSpans(corpus(spark), col("doc_id"),
      col("text")).collect().map(_.toSeq).toSeq
    val wide = Dedup.removeDuplicatedSpans(corpus(widened), col("doc_id"),
      col("text")).collect().map(_.toSeq).toSeq
    assert(wide == base, "span clean output changed with shuffle width")
    // the shared session's conf was never touched
    assert(spark.conf.getOption("spark.graft.shuffle.rowsPerPartition").isEmpty)
  }
}
