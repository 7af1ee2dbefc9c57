package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftExpressionBridge}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Lineage-cut policy for iterative/staged operators.
  *
  * Default is `localCheckpoint` (eager): blocks live on executor local
  * storage — fast, and correct for single-job local pipelines, but NOT
  * fault-tolerant (a lost executor invalidates the blocks and fails the
  * query). For multi-hour cluster runs set [[DirConf]] to an
  * HDFS/object-store path and every [[cut]] becomes a RELIABLE
  * `checkpoint()` that survives executor loss, at the cost of one
  * distributed write per cut.
  *
  * The SparkContext checkpoint dir is set on first use (Spark appends a
  * per-context UUID subdirectory); a session keeps its first resolved
  * dir — change the conf before the first iterative operator runs.
  *
  * What a cut leaves behind:
  *  - the shuffles its own execution wrote are freed before [[cut]]
  *    returns (adaptive execution, Spark's default, records them).
  *    Nothing reads them again: the cut's rows come from its blocks (a
  *    lost local block fails the query instead of recomputing) or from
  *    its reliable checkpoint files;
  *  - its blocks, or its reliable checkpoint files, stay until
  *    [[release]]; blocks also go when Spark's ContextCleaner finds the
  *    cut unreachable after a driver GC (files only when
  *    `spark.cleaner.referenceTracking.cleanCheckpoints` is set). Release
  *    a cut once no live frame reads it: a loop releases the cut it
  *    replaces, but not one that a persisted frame, a later join or the
  *    result still reads.
  */
object Checkpoints {

  val DirConf = "spark.graft.checkpoint.dir"

  /** Eagerly materialize `df` and truncate its lineage — reliably when
    * [[DirConf]] is set, locally otherwise — then free the shuffles that
    * materialization wrote. */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val out = spark.conf.getOption(DirConf).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }
    GraftExpressionBridge.cleanupShuffles(spark, writtenShuffles(df))
    out
  }

  /** Drop a cut's blocks and delete a reliable cut's checkpoint files.
    * `cutDf` must be a frame [[cut]] returned, and no live frame may still
    * read it: reading a released cut fails. The blocks go through the
    * context directly, not `RDD.unpersist`, which warns on every local cut
    * that its lineage cannot be recomputed — the reason it is released. */
  def release(cutDf: DataFrame): Unit = cutDf.queryExecution.logical match {
    case r: LogicalRDD =>
      GraftExpressionBridge.unpersistRDD(cutDf.sparkSession, r.rdd.id, blocking = false)
      r.rdd.getCheckpointFile.foreach { f =>
        val path = new Path(f)
        path.getFileSystem(cutDf.sparkSession.sparkContext.hadoopConfiguration)
          .delete(path, true)
      }
    case other =>
      throw new IllegalArgumentException(s"not a lineage cut: ${other.nodeName}")
  }

  /** The shuffles `df`'s executed plan wrote: adaptive execution records
    * every shuffle stage it materialized, subqueries' included. */
  private def writtenShuffles(df: DataFrame): Set[Int] =
    graft.ShuffleMeter.planNodes(df.queryExecution.executedPlan).iterator
      .collect { case a: AdaptiveSparkPlanExec => a.context.shuffleIds.keySet.asScala }
      .flatten.toSet
}
