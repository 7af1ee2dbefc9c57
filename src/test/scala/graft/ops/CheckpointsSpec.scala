package graft.ops

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.MapOutputProbe
import org.apache.spark.sql.{DataFrame, GraftExpressionBridge, SparkSession}
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
    withCheckpointDir(spark)(assertCutFrees())
  }

  test("a released reliable cut's checkpoint files are deleted") {
    withCheckpointDir(spark) {
      val cut = Checkpoints.cut(spark.range(0, 100, 1, 2).toDF())
      val rdd = cut.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
      val files = rdd.getCheckpointFile.map(f => Paths.get(new URI(f)))
      assert(files.exists(Files.isDirectory(_)), s"no rdd-${rdd.id} directory")
      Checkpoints.release(cut)
      assert(!Files.exists(files.get))
    }
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

  /** `body` with reliable cuts written under a fresh temporary directory,
    * deleted afterwards. The context's checkpoint directory is pointed
    * there too: a context otherwise keeps the first one it resolved. */
  def withCheckpointDir[T](spark: SparkSession)(body: => T): T = {
    val dir = Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set(Checkpoints.DirConf, dir.toString)
    try body
    finally {
      spark.conf.unset(Checkpoints.DirConf)
      deleteTree(dir)
    }
  }

  private def deleteTree(root: Path): Unit = {
    val paths = Files.walk(root)
    try paths.iterator.asScala.toSeq.reverse.foreach(Files.delete)
    finally paths.close()
  }

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
      GraftExpressionBridge.waitUntilEmpty(spark, 60000L)
      r
    } finally spark.listenerManager.unregister(listener)
    (out, ids.asScala.toSet)
  }

  /** The shuffles of `ids` still registered with the map-output tracker. */
  def unfreed(spark: SparkSession, ids: Set[Int]): Set[Int] =
    ids.filter(MapOutputProbe.registered(spark.sparkContext, _))
}
