package graft

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the harness parquet star schema (TESTDATA.md).
  *
  * All engine operators take DataFrames, not paths — these helpers only bind
  * the driver fixtures. At cluster scale the same operators run over any
  * `spark.read` source; nothing below assumes single-file inputs.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** What a parquet schema is a function of: the qualified path, every
    * file listed under it (markers such as `_SUCCESS` too, which only
    * makes a rewrite surer to re-key) as (relative path, length,
    * modification time), and the session confs that change how a footer
    * maps to Spark types. */
  private final case class SchemaKey(
      path: String, files: Seq[(String, Long, Long)], confs: Seq[(String, String)])

  /** Schemas Spark inferred, most recently used last; a bounded LRU. */
  private val MaxSchemas = 64
  private val schemas =
    new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SchemaKey, StructType]): Boolean = size > MaxSchemas
    }

  private def schemaConf(k: String): Boolean =
    k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
      k == "spark.sql.caseSensitive"

  /** The key for `path`, or None when it cannot be listed. Walked with
    * plain `listStatus`, not `listFiles`: without native Hadoop, the local
    * filesystem's located statuses load each file's permissions by running
    * a shell command (45 ms against 3 ms for the 5-partition events
    * fixture). */
  private def schemaKey(spark: SparkSession, path: String): Option[SchemaKey] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(p)
    def files(dir: Path): Seq[FileStatus] = fs.listStatus(dir).toSeq.flatMap { f =>
      if (f.isDirectory) files(f.getPath) else Seq(f)
    }
    val listing = try Some(files(root)) catch { case _: FileNotFoundException => None }
    listing.map { statuses =>
      val prefix = root.toString
      val confs = spark.conf.getAll.toSeq.filter(kv => schemaConf(kv._1)).sorted
      SchemaKey(prefix, statuses.map(f => (f.getPath.toString.stripPrefix(prefix), f.getLen,
        f.getModificationTime)).sortBy(_._1), confs)
    }
  }

  /** `spark.read.parquet(path)` with the schema resolved once per file set.
    * A plain parquet read runs a one-task footer job to infer the schema on
    * every call; here the first read of a file set keeps the schema Spark
    * inferred, and later reads of the same files under the same confs pass
    * it back as a user schema, which lists the files but runs no job. A
    * rewrite changes the listing and a conf flip changes the key, so either
    * re-infers. A path that is not a listable directory or file (a glob, a
    * missing path) reads plainly, so Spark reports its own errors. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    schemaKey(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(key) =>
        schemas.synchronized(Option(schemas.get(key))) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemas.synchronized(schemas.put(key, df.schema))
            df
        }
    }

  /** Every table reads with `spark.sql.legacy.parquet.nanosAsLong` set
    * (see [[events]]), not only events: the conf is part of the schema
    * memo's key, so a session-wide flip by the first events read would
    * re-infer every table loaded before it. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    parquet(spark, s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` surfaces as a session-zone TimestampType column whatever
    * the parquet physical type: harness generations have shipped it both
    * as TIMESTAMP(NANOS) — which Spark's vectorized reader rejects, so it
    * is read as long nanos (the legacy conf [[load]] sets) and truncated
    * to micros — and as TIMESTAMP(MICROS) without UTC adjustment, which
    * Spark reads as TIMESTAMP_NTZ and DuckDB as naive TIMESTAMP (sessions
    * run UTC, so the NTZ→LTZ cast is value-preserving and both engines
    * agree). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    import org.apache.spark.sql.functions._
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case org.apache.spark.sql.types.TimestampNTZType =>
        // The NTZ→LTZ cast is the ONLY value-altering branch: it is
        // value-preserving solely under a UTC session, so the guard lives
        // here — the nanos-as-long and TIMESTAMP branches load
        // timezone-independent instants and must not be rejected in a
        // non-UTC embedding. Zone spellings normalize via ZoneId (UTC,
        // Etc/UTC, GMT, Z, +00:00, Etc/Universal … all accept).
        val tz = s.conf.get("spark.sql.session.timeZone")
        val isUtc = try {
          java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
        } catch { case _: java.time.DateTimeException => false }
        require(isUtc,
          s"events() requires spark.sql.session.timeZone=UTC (got $tz): " +
            "this fixture generation carries naive timestamps defined in " +
            "UTC, and the NTZ->session-zone cast would shift every instant")
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case other => throw new IllegalArgumentException(
        s"events.ts has unexpected parquet-surfaced type $other — known " +
          "harness generations are nanos-as-long, TIMESTAMP and " +
          "TIMESTAMP_NTZ; refusing to guess a cast")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every table as a temp view so `spark.sql("...")` is a
    * first-class entry point beside the DataFrame API — same loaders
    * (including the events nanos fix), so both surfaces see identical
    * data. Idempotent; views are session-scoped. */
  def registerAll(s: SparkSession, d: String): Unit = {
    val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
      "events" -> events _)
    all.foreach { name =>
      loaders.getOrElse(name, (ss: SparkSession, dd: String) => load(ss, dd, name))
        .apply(s, d).createOrReplaceTempView(name)
    }
  }
}
