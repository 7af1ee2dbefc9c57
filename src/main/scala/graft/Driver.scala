package graft

import org.apache.spark.sql.SparkSession

/** The one session bootstrap of the driver mains (Bench, Verify, Explain,
  * GenData): master, shuffle width, UTC session time zone, UI off, log
  * level and the [[LocalDirs]] builder-time settings (codegen cache size),
  * set the same way for all.
  */
object Driver {

  /** `SPARK_GRAFT_CPUS`, or every core: the default `local[n]` width. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** A session on `master` with `width` shuffle partitions.
    *
    * A `local-cluster[n,c,m]` master runs executors as separate JVMs
    * launched from SPARK_HOME, so the graft classes must ride along on
    * the executor classpath (this JVM's own classpath already holds
    * exactly the classes dir + the Spark jars). ABSOLUTE paths only:
    * ExecutorRunner launches executors with cwd = SPARK_HOME/work/<app>/<n>,
    * so a relative classes dir in the inherited classpath silently drops
    * the graft classes there — every driver-serialized lambda then
    * deserializes as a bare SerializedLambda and fails with
    * ClassCastException on the executor (caught by the local-cluster
    * gate's first run, round 19). */
  def session(master: String = s"local[$cpus]", width: String = cpus,
              logLevel: String = "WARN"): SparkSession = {
    val builder = LocalDirs.configure(SparkSession.builder())
      .master(master)
      .config("spark.sql.shuffle.partitions", width)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (master.startsWith("local-cluster"))
      builder.config("spark.executor.extraClassPath",
        System.getProperty("java.class.path")
          .split(java.io.File.pathSeparator)
          .map(p => new java.io.File(p).getAbsolutePath)
          .mkString(java.io.File.pathSeparator))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Pre-generate the fixture corpora some queries read (content-marker
    * idempotent): the in-query ensure calls then return immediately, so
    * no timed or dumped query pays for test scaffolding. */
  def ensureFixtures(spark: SparkSession, sfDir: String): Unit = {
    graft.sources.BlogCorpus.ensureFixtures(spark, sfDir)
    graft.sources.ZipImages.ensureFixtures()
    graft.sources.CsvTables.ensureEventsCsv(spark, sfDir)
    graft.sources.JsonTables.ensureEventsJsonl(spark, sfDir)
    graft.sources.OrcTables.ensureEventsOrc(spark, sfDir)
    graft.sources.PartitionedTables.ensureEventsPartitioned(spark, sfDir)
  }
}
