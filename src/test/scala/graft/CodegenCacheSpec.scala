package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}

/** The codegen cache holds a registry slice's whole working set: running
  * the same queries a second time, in the same order, compiles no class.
  * At Spark's default of 100 entries (4 segments evicting at 25 each) the
  * second round recompiled most of the first round's classes. */
class CodegenCacheSpec extends SparkSpec {

  private lazy val sf = "/root/testdata/sf0.01"

  /** Twelve olap-style registry queries: parquet, csv, jsonl, orc and
    * partitioned reads, joins, windows, a range join, an as-of join, the
    * exact column profile (whose plan once changed from build to build)
    * and text operators; and cm_top_term_counts, whose sibling codegen
    * stages trade stage ids from build to build. */
  private val names = Seq(
    "customers_in_region", "custs_no_p_orders", "distinct_segments",
    "asof_purchase_click", "events_near_errors", "sliding_event_counts",
    "csv_event_type_stats", "orc_event_stats", "partitioned_click_stats",
    "profile_customer", "approx_distinct_users", "doc_stats",
    "cm_top_term_counts")

  /** Classes compiled while the queries run and fold, once each. */
  private def round(): Map[String, Long] = names.map { n =>
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val df = SparkEntry.queries(n)(spark, sf)
    df.select(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)).as("h"))
      .agg(bit_xor(col("h"))).collect()
    n -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }.toMap

  test("a second round of the same registry queries compiles no class") {
    round()
    val second = round()
    assert(second.values.sum == 0L, second.filter(_._2 > 0))
  }
}
