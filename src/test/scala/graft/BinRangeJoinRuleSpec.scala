package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The BinTemporalRangeJoin optimizer rule: a key-less |Δts| <= w join,
  * which vanilla Spark can only plan as a nested-loop product, must come
  * out as a binned equi (hash) join with identical results. */
class BinRangeJoinRuleSpec extends SparkSpec {

  private def withExtSession[A](f: SparkSession => A): A = {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val ext = SparkSession.builder()
        .master("local[4]")
        .appName("graft-binrule-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config(SparkSpec.CodegenCache, LocalDirs.CodegenCacheEntries.toLong)
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      f(ext)
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("key-less abs-distance join is rewritten to a hash join, same result") {
    withExtSession { ext =>
      import ext.implicits._
      val rng = new scala.util.Random(23)
      val l = (0 until 200).map(i => (i.toLong, rng.nextInt(10000).toLong))
        .toDF("lid", "lts")
      val r = (0 until 300).map(i => (i.toLong + 1000, rng.nextInt(10000).toLong))
        .toDF("rid", "rts")
      val joined = l.join(r, abs(col("lts") - col("rts")) <= 60L)
      val physical = joined.queryExecution.executedPlan.toString
      assert(!physical.contains("BroadcastNestedLoopJoin") &&
        !physical.contains("CartesianProduct"),
        s"rule did not fire — still a nested-loop product:\n$physical")
      assert(physical.contains("Join") && physical.contains("_graft_bin"),
        s"expected binned equi-join:\n$physical")
      // results identical to the naive plan computed WITHOUT the rule
      val got = joined.select("lid", "rid")
        .collect().map(rr => (rr.getLong(0), rr.getLong(1))).toSet
      val naive = spark // the shared plain session has no graft rule
        .createDataFrame(l.collect().toSeq.map(x => (x.getLong(0), x.getLong(1))))
        .toDF("lid", "lts")
        .join(spark.createDataFrame(r.collect().toSeq.map(x => (x.getLong(0), x.getLong(1))))
          .toDF("rid", "rts"), abs(col("lts") - col("rts")) <= 60L)
        .select("lid", "rid")
        .collect().map(rr => (rr.getLong(0), rr.getLong(1))).toSet
      assert(got == naive && got.nonEmpty)
    }
  }

  test("rule leaves equi-keyed range joins alone") {
    withExtSession { ext =>
      import ext.implicits._
      val l = (0 until 50).map(i => (i.toLong, (i % 5).toLong, i.toLong * 10))
        .toDF("lid", "k", "lts")
      val r = (0 until 50).map(i => (i.toLong + 500, (i % 5).toLong, i.toLong * 10 + 3))
        .toDF("rid", "rk", "rts")
      val joined = l.join(r,
        col("k") === col("rk") && abs(col("lts") - col("rts")) <= 100L)
      val physical = joined.queryExecution.executedPlan.toString
      // already hash-joinable on k: no binning columns should appear
      assert(!physical.contains("_graft_bin"), s"rule over-fired:\n$physical")
      assert(joined.count() > 0)
    }
  }
}
