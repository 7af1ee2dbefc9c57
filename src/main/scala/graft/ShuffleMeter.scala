package graft

import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftExpressionBridge, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Sums shuffle WRITE bytes/records across all tasks between `reset()`
  * and `snapshot()` — the bench-side plan-shape signal. Wall time on a
  * multi-tenant box is noisy; the bytes a query shuffles are a pure
  * function of (data, plan) and reproduce to the byte run over run, so a
  * regression in them means the PLAN changed (new exchange, lost
  * broadcast, wider row), never "the box was busy".
  *
  * Write side only: every exchange is written exactly once but may be
  * read by several downstream stages (or re-read under AQE stage retry),
  * so the write side is the stable one-number-per-exchange measure.
  *
  * Task-end events arrive on the async listener bus; both `reset` and
  * `snapshot` first drain the bus (`LiveListenerBus.waitUntilEmpty`,
  * `private[spark]`, through [[GraftExpressionBridge]]) so the window is
  * exact: whatever ran strictly between the two calls.
  */
final class ShuffleMeter private (spark: SparkSession) extends SparkListener {
  private val writeBytes = new AtomicLong
  private val writeRecords = new AtomicLong
  private val drainTimedOut = new java.util.concurrent.atomic.AtomicBoolean

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val m = taskEnd.taskMetrics
    // Successful attempts only (r13 verdict #5): a failed attempt's
    // PARTIAL shuffle write is redone in full by its retry, so counting
    // both inflates the fingerprint by the partial — the r13 tfidf flag
    // (2.62 M → 3.56 M in-suite) was exactly one transient retry
    // double-counted, and cost a manual isolated re-run to adjudicate.
    // reason == Success also settles the speculative race: the losing
    // attempt ends TaskKilled (excluded), the winner counts once. The
    // rare both-succeed speculative race would still double-count —
    // acceptable, speculation is off in every graft session.
    if (m != null && taskEnd.reason == org.apache.spark.Success) {
      writeBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      writeRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
    }
  }

  def reset(): Unit = {
    val clean = drain()
    writeBytes.set(0L)
    writeRecords.set(0L)
    // a dirty reset means the PREVIOUS query's in-flight task-end events
    // will land in THIS window — mark it contaminated from the start
    drainTimedOut.set(!clean)
  }

  /** (shuffle bytes written, shuffle records written) since `reset()`. */
  def snapshot(): (Long, Long) = {
    if (!drain()) drainTimedOut.set(true)
    (writeBytes.get, writeRecords.get)
  }

  /** True when any bus drain bounding the current window timed out: the
    * numbers may include a neighbour query's events (or miss this one's
    * tail) and must be reported as contaminated, not exact — the
    * "reproduce to the byte" claim only holds for clean windows. */
  def tainted: Boolean = drainTimedOut.get

  def detach(): Unit = spark.sparkContext.removeSparkListener(this)

  /** Drain the async listener bus; true when it emptied. A saturated bus
    * times out its `waitUntilEmpty` after 10 s — retry once (most
    * saturation clears within the second window) and report failure
    * rather than silently proceeding with a half-delivered window. */
  private def drain(): Boolean = {
    def once(): Boolean =
      try { GraftExpressionBridge.waitUntilEmpty(spark); true }
      catch { case _: TimeoutException => false }
    once() || once()
  }
}

object ShuffleMeter {
  def attach(spark: SparkSession): ShuffleMeter = {
    val m = new ShuffleMeter(spark)
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** Shuffle write (bytes, records) read from a MATERIALIZED DataFrame's
    * executed-plan SQLMetrics — the per-plan twin of the listener: metric
    * accumulators belong to this one query, so concurrent work on the
    * same session (parallel scalatest suites) cannot contaminate the
    * numbers the way the global task listener can.
    *
    * Scope caveat: covers the frame's OWN plan, including AQE stages and
    * subqueries — not work materialized earlier behind a lineage cut
    * (localCheckpoint/checkpoint), which runs as separate query
    * executions; iterative operators' in-loop shuffles are measured by
    * the [[ShuffleMeter]] listener in Bench, which owns its JVM. */
  def planShuffleWrite(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    // adaptive plans and query stages only wrap: the exchange inside
    // carries the shuffle metrics and is visited on its own
    val ops = planNodes(df.queryExecution.executedPlan).filter {
      case _: AdaptiveSparkPlanExec | _: QueryStageExec => false
      case _ => true
    }
    def total(metric: String): Long = ops.flatMap(_.metrics.get(metric)).map(_.value).sum
    (total("shuffleBytesWritten"), total("shuffleRecordsWritten"))
  }

  /** Every node of an executed physical plan, once: adaptive plans are
    * followed into their current plan, query stages into the stage they
    * wrap, and every operator into its subqueries. A reused exchange is
    * not emitted; its original is. */
  private[graft] def planNodes(plan: SparkPlan): Vector[SparkPlan] = {
    val out = Vector.newBuilder[SparkPlan]
    val seen = scala.collection.mutable.HashSet.empty[Int]
    def walk(p: SparkPlan): Unit =
      if (seen.add(System.identityHashCode(p))) {
        p match {
          case a: AdaptiveSparkPlanExec => out += a; walk(a.executedPlan)
          case q: QueryStageExec => out += q; walk(q.plan)
          case _: ReusedExchangeExec =>
          case other => out += other; other.children.foreach(walk)
        }
        p.subqueries.foreach(walk)
      }
    walk(plan)
    out.result()
  }
}
