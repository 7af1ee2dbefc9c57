package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Encoder, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayFilter, Expression, LambdaFunction, Literal, Multiply, StringSplit, Subtract, ZipWith}
import org.apache.spark.sql.catalyst.expressions.codegen.{ByteCodeStats, CodegenFallback}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkSpec

/** No interpreted expressions on the hot paths, counted: every
  * `CodegenFallback` expression node (Spark evaluates those row by row
  * through `eval`, outside whole-stage codegen) in the physical plans a
  * query executes. The tokenizer and the k-means/IVF/PQ squared distance
  * contribute none. */
class CodegenFallbackSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The expressions of every operator: subqueries, adaptive stages and
    * the plans of cached relations included. */
  private def expressions(plan: SparkPlan): Seq[Expression] =
    collectWithSubqueries(plan) {
      case m: InMemoryTableScanExec => m.expressions ++ expressions(m.relation.cachedPlan)
      case p => p.expressions
    }.flatten

  private def fallbackCount(e: Expression): Int =
    e.collect { case f: CodegenFallback => f }.size

  /** The `CodegenFallback` nodes of the plan. */
  private def fallbacks(plan: SparkPlan): Int = expressions(plan).map(fallbackCount).sum

  /** The `CodegenFallback` nodes of the higher-order-function form of the
    * tokenizer, `filter(split(s, TokenPattern), t -> t != "")`, and of the
    * squared distance, `aggregate(zip_with(q, c, (a, b) -> (a - b) *
    * (a - b)), …)`: the higher-order functions and their lambdas, not the
    * array arguments they are applied to. */
  private def fromTokenizerOrDistance(plan: SparkPlan): Int =
    expressions(plan).flatMap(_.collect {
      case ArrayFilter(StringSplit(_, Literal(p, _), _), fn)
          if String.valueOf(p) == TextAnalytics.TokenPattern => 1 + fallbackCount(fn)
      case ArrayAggregate(ZipWith(_, _, fn @ LambdaFunction(
          Multiply(_: Subtract, _: Subtract, _), _, _)), _, merge, finish) =>
        2 + fallbackCount(fn) + fallbackCount(merge) + fallbackCount(finish)
    }).sum

  /** (all fallbacks, tokenizer/distance fallbacks) over every plan run
    * while `body` builds and collects its frame: eager cut and driver
    * jobs included, since those run the k-means distance. */
  private def executed(body: => DataFrame): (Int, Int) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body.collect()
      // QueryExecutionListener delivery is asynchronous; drain the bus
      GraftExpressionBridge.waitUntilEmpty(spark, 60000L)
    } finally spark.listenerManager.unregister(listener)
    val ps = plans.asScala.toSeq
    assert(ps.nonEmpty)
    (ps.map(fallbacks).sum, ps.map(fromTokenizerOrDistance).sum)
  }

  /** The generated source of every whole-stage codegen stage of the
    * frame's plan, each checked to compile (a stage that fails to compile
    * would silently fall back to interpreted evaluation). */
  private def generated(df: DataFrame): String = {
    val stages = codegenStringSeq(df.queryExecution.executedPlan)
    assert(stages.nonEmpty && stages.forall(_._3 != ByteCodeStats.UNAVAILABLE))
    stages.map(_._2).mkString
  }

  /** An RDD-backed frame: over a local Seq the optimizer would fold the
    * projection into the relation and leave no expression to count. */
  private def frame[T: Encoder: ClassTag](rows: Seq[T]): DataFrame =
    spark.sparkContext.parallelize(rows, 1).toDF()

  test("the tokenizer plans no CodegenFallback expression") {
    val df = frame(Seq((1L, "Hello, World 42"), (2L, null))).toDF("id", "text")
      .select(TextAnalytics.tokensCol(col("text")).as("toks"))
    assert(fallbacks(df.queryExecution.executedPlan) == 0)
    assert(generated(df).contains("graft.functions.TokenKernel.compute("))
    assert(df.collect().map(_.getSeq[String](0)).toSeq == Seq(Seq("hello", "world", "42"), null))
  }

  private lazy val q = frame(Seq((0L, Seq(0L, 0L)), (1L, Seq(3L, 4L)), (2L, Seq(9L, 9L))))
    .toDF("item_id", "q")

  test("k-means assignment plans no CodegenFallback expression") {
    val df = Clustering.assignTo(q, IndexedSeq(Seq(0L, 0L), Seq(8L, 8L)))
    assert(fallbacks(df.queryExecution.executedPlan) == 0)
    assert(generated(df).contains("graft.functions.SqL2Kernel.compute("))
    assert(df.select("cluster", "dist2").as[(Long, Long)].collect().toSeq
      == Seq((0L, 0L), (0L, 25L), (1L, 2L)))
  }

  test("the IVF/PQ distance projection plans no CodegenFallback expression") {
    // two subspaces of one dimension, two centroids each
    val cb = Pq.Codebooks(dims = 2, m = 2, k = 2, shift = 8.0, scale = 1e6,
      centroids = IndexedSeq(IndexedSeq(Seq(0L), Seq(9L)), IndexedSeq(Seq(0L), Seq(9L))))
    val coarse = IndexedSeq(Seq(0L, 0L), Seq(9L, 9L))
    val df = q.select(col("item_id"), col("q"),
        posexplode(array(coarse.map(c => Clustering.dist2(col("q"), c)): _*))
          .as(Seq("cell", "qdist2")))
      .select(col("item_id"), col("cell"), col("qdist2"),
        Pq.adcDist(col("q"), Pq.codesFor(col("q"), cb), cb).as("adist2"))
    assert(fallbacks(df.queryExecution.executedPlan) == 0)
    assert(df.filter(col("item_id") === 1L).select("qdist2", "adist2").as[(Long, Long)]
      .collect().toSeq == Seq((25L, 25L), (61L, 25L)))
  }

  test("k-means, doc stats and language ID: the tokenizer and the distance run codegen'd") {
    // the operators behind kmeans_clusters, doc_stats and lang_id, on
    // small RDD-backed inputs
    val vecs = frame((0 until 40).map(i =>
        (i.toLong, Seq.tabulate(4)(j => ((i * 7 + j * 3) % 13 - 6) / 2.0f))))
      .toDF("vec_id", "embedding")
    val docs = frame(Seq((1L, "The cat and the hat."), (2L, "Der Hund, 42 Knochen"),
      (3L, null), (4L, ""))).toDF("doc_id", "text")
    val counts = Seq(
      "kmeans" -> executed(Clustering.kmeansExact(vecs, col("vec_id"), col("embedding"),
        k = 5, iters = 4)),
      "docStats" -> executed(TextAnalytics.docStats(docs, col("doc_id"), col("text"))),
      "languageId" -> executed(TextAnalytics.languageId(docs, col("doc_id"), col("text"))))
    info(counts.map { case (n, (all, ours)) =>
      s"$n: $all CodegenFallback nodes, $ours from the tokenizer or distance" }.mkString("; "))
    assert(counts.forall(_._2._2 == 0), counts)
  }
}
