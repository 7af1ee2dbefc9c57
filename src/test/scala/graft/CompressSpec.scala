package graft

import org.apache.spark.sql.functions._

import graft.functions.CompressFunctions

/** Deflate compression-ratio kernel: ordering, determinism, edges. */
class CompressSpec extends SparkSpec {
  import spark.implicits._

  private def ratios(texts: String*): Seq[Double] =
    texts.toDF("text")
      .select(CompressFunctions.compressRatio(col("text")).as("r"))
      .as[Double].collect().toSeq

  test("boilerplate compresses far below diverse prose") {
    val boiler = "click here to subscribe " * 100
    val prose = (1 to 100).map(i => s"w${i * 37 % 91}x${i * 53 % 97}")
      .mkString(" ")
    val Seq(rb, rp) = ratios(boiler, prose)
    assert(rb < 0.1, s"boilerplate ratio $rb")
    assert(rp > 0.4, s"diverse ratio $rp")
    assert(rb < rp / 3)
  }

  test("empty string is defined (1.0); short strings may exceed 1") {
    val Seq(re, rs) = ratios("", "ab")
    assert(re == 1.0)
    assert(rs > 1.0) // deflate header overhead dominates 2 bytes
  }

  test("deterministic across invocations and null-safe") {
    val a = ratios("some moderately repetitive text text text")
    val b = ratios("some moderately repetitive text text text")
    assert(a == b)
    val n = Seq[String](null).toDF("text")
      .select(CompressFunctions.compressRatio(col("text")).as("r"))
      .collect()
    assert(n.head.isNullAt(0))
  }

  test("callable from spark.sql via the extension registration") {
    val prev = org.apache.spark.sql.SparkSession.getDefaultSession
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    org.apache.spark.sql.SparkSession.clearActiveSession()
    try {
      val ext = LocalDirs.configure(org.apache.spark.sql.SparkSession.builder())
        .master("local[4]").appName("graft-compress-ext")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      val r = ext.sql(
        "SELECT graft_compress_ratio(repeat('na ', 200)) AS r")
        .head().getDouble(0)
      assert(r < 0.1)
    } finally {
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      org.apache.spark.sql.SparkSession.clearActiveSession()
      prev.foreach(org.apache.spark.sql.SparkSession.setDefaultSession)
    }
  }
}
