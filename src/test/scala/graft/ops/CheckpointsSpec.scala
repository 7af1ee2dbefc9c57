package graft.ops

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.MapOutputProbe
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkSpec

/** What a lineage cut leaves behind: not the shuffles its own execution
  * wrote, and nothing at all once released. */
class CheckpointsSpec extends SparkSpec {
  import CheckpointsSpec._

  private def grouped: DataFrame =
    spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k"))
      .agg(sum(col("id")).as("s"))

  private def assertCutFrees(): Unit = {
    val expected = grouped.collect().toSet
    val (cut, ids) = cutShuffles(spark)(Checkpoints.cut(grouped))
    assert(ids.nonEmpty, "the grouped frame must shuffle")
    assert(unfreed(spark, ids).isEmpty)
    assert(cut.collect().toSet == expected)
  }

  test("a local cut unregisters the shuffle its execution wrote and reads " +
    "back the same rows") {
    assertCutFrees()
  }

  test("a reliable cut unregisters the shuffle its execution wrote and " +
    "reads back the same rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.conf.set(Checkpoints.DirConf, dir.toString)
    try assertCutFrees() finally spark.conf.unset(Checkpoints.DirConf)
  }

  test("a released cut is gone from the persistent RDDs") {
    val cut = Checkpoints.cut(spark.range(0, 100, 1, 2).toDF())
    val id = cut.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id
    val sc = spark.sparkContext
    assert(sc.getPersistentRDDs.contains(id))
    Checkpoints.release(cut)
    assert(!sc.getPersistentRDDs.contains(id))
  }
}

object CheckpointsSpec extends AdaptiveSparkPlanHelper {

  /** `body`'s result and the ids of the shuffles every lineage cut run
    * inside it wrote, read off each cut's executed plan. */
  def cutShuffles[T](spark: SparkSession)(body: => T): (T, Set[Int]) = {
    val ids = ConcurrentHashMap.newKeySet[Int]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint" || f == "checkpoint")
          collectWithSubqueries(qe.executedPlan) {
            case s: ShuffleQueryStageExec => s.shuffle.shuffleId
          }.foreach(ids.add)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out = try {
      val r = body
      // QueryExecutionListener delivery is asynchronous; drain the bus
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(60000L))
      r
    } finally spark.listenerManager.unregister(listener)
    (out, ids.asScala.toSet)
  }

  /** The shuffles of `ids` still registered with the map-output tracker. */
  def unfreed(spark: SparkSession, ids: Set[Int]): Set[Int] =
    ids.filter(MapOutputProbe.registered(spark.sparkContext, _))
}
