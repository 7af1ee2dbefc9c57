package graft.ops

import org.apache.spark.sql.DataFrame

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
  */
object Checkpoints {

  val DirConf = "spark.graft.checkpoint.dir"

  /** Eagerly materialize `df` and truncate its lineage — reliably when
    * [[DirConf]] is set, locally otherwise. */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(DirConf).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }
  }
}
