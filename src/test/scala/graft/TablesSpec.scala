package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType

import graft.sources.PartitionedTables

/** The parquet loader's schema memo: a memoized read has exactly the schema
  * Spark infers, a rewrite or a conf flip re-infers, and a warm registry
  * builder launches no schema-inference job. */
class TablesSpec extends SparkSpec {

  private lazy val sf = "/root/testdata/sf0.001"

  /** Load twice, so the second read comes from the memo, and compare it
    * with a plain inferring read under the same confs (StructField equality
    * covers field order, types, nullability and metadata). */
  private def assertMemoMatches(path: String, load: () => DataFrame): Unit = {
    load()
    val memo = load().schema
    val inferred = spark.read.parquet(path).schema
    assert(memo == inferred, s"$path:\n$memo\nvs inferred\n$inferred")
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def withNanosAsLong[T](body: => T): T = {
    val was = spark.conf.getOption(NanosAsLong)
    try body finally was.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
  }

  test("memoized schema equals Spark's inference for every table and the " +
    "partitioned events dir") {
    val part = PartitionedTables.ensureEventsPartitioned(spark, sf)
    withNanosAsLong {
      // Tables.load sets nanosAsLong, so the plain read below runs under it too
      for (name <- Tables.all)
        assertMemoMatches(s"$sf/$name.parquet", () => Tables.load(spark, sf, name))
      for (nanosAsLong <- Seq("false", "true")) {
        spark.conf.set(NanosAsLong, nanosAsLong)
        assertMemoMatches(part, () => PartitionedTables.eventsFromPartitioned(spark, part))
      }
    }
    assert(PartitionedTables.eventsFromPartitioned(spark, part).schema.last.name ==
      "event_type")
  }

  test("overwriting a table at the same path re-infers its schema") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-tables").resolve("t.parquet").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(path)
    Tables.parquet(spark, path)
    assert(Tables.parquet(spark, path).columns.toSeq == Seq("id", "name"))
    Seq((1.5, 7, true)).toDF("score", "rank", "flag")
      .write.mode("overwrite").parquet(path)
    val after = Tables.parquet(spark, path)
    assert(after.schema == spark.read.parquet(path).schema)
    assert(after.columns.toSeq == Seq("score", "rank", "flag"))
    assert(after.collect().map(_.getInt(1)).toSeq == Seq(7))
  }

  test("flipping spark.sql.legacy.parquet.nanosAsLong re-resolves a " +
    "TIMESTAMP(NANOS) file's schema") {
    val file = Files.createTempDirectory("graft-nanos").resolve("ns.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(new Path(file.toString))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("ts", 1000000123L))
    finally writer.close()
    withNanosAsLong {
      spark.conf.set(NanosAsLong, "true")
      Tables.parquet(spark, file.toString)
      assert(Tables.parquet(spark, file.toString).schema("ts").dataType == LongType)
      spark.conf.set(NanosAsLong, "false")
      // without the legacy conf Spark rejects the file; a memo keyed on the
      // files alone would hand back the LongType schema instead
      val e = intercept[Exception](Tables.parquet(spark, file.toString).schema)
      assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"), e.getMessage)
      spark.conf.set(NanosAsLong, "true")
      assert(Tables.parquet(spark, file.toString).schema("ts").dataType == LongType)
    }
  }

  /** Jobs launched by one call of a registry builder (building the frame,
    * not running it). A marker property tags the call's jobs; a sentinel job
    * after it proves the listener bus has delivered every earlier start. */
  private def builderJobs(name: String, dir: String): Int = {
    val sc = spark.sparkContext
    val (span, sentinel) = ("graft.spec.span", "graft.spec.sentinel")
    val jobs = new AtomicInteger(0)
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty(sentinel) != null)) done.countDown()
        else if (props.exists(_.getProperty(span) != null)) jobs.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(span, name)
      try SparkEntry.queries(name)(spark, dir) finally sc.setLocalProperty(span, null)
      sc.setLocalProperty(sentinel, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(sentinel, null)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("a warm registry builder launches no schema-inference job") {
    val dir = "/root/testdata/sf0.01"
    val expected = Seq(
      "customers_in_region" -> 0, // three parquet tables
      "doc_stats" -> 0,           // one parquet table
      "events_near_errors" -> 2)  // RangeJoin's two cuts
    for ((name, n) <- expected) {
      builderJobs(name, dir)
      assert(builderJobs(name, dir) == n, name)
    }
  }
}
