package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Hive-style partitioned parquet sink + partition-pruned read — the
  * storage-layout half of data skipping ([[graft.ops.Layout]] is the
  * within-file half). At 100 TB a fact table is written
  * `partitionBy(dims)` so that a dimension predicate prunes whole
  * directories at PLANNING time: the scan never lists, opens, or reads
  * a non-matching partition. The spec asserts the executed plan carries
  * the predicate as a `PartitionFilters` entry (planning-time) rather
  * than a data filter, and that only the matching partition's files are
  * scanned.
  *
  * The fixture writes the harness `events` table partitioned by
  * `event_type` (5 partitions), idempotent behind a content marker like
  * the other source fixtures; the oracle recomputes the same aggregate
  * from the original parquet, hash-checking the partitioned write→read
  * round trip (the partition column round-trips through directory
  * names, everything else through parquet).
  */
object PartitionedTables {

  // bump when the fixture layout below changes
  private val FixtureVersion = "v1"

  /** Write events partitioned by event_type under a fixture dir (ONE
    * file per partition — coalesced first; a fixture, not the write
    * strategy for real loads). Returns the table root path. */
  def ensureEventsPartitioned(spark: SparkSession, sfDir: String): String =
    synchronized {
      val root = Paths.get("/tmp/graft_fixtures/part_events")
      val data = root.resolve("data")
      val marker = root.resolve(".marker_data")
      val want = s"$FixtureVersion|$sfDir"
      if (Files.exists(marker) && Files.exists(data)
          && new String(Files.readAllBytes(marker),
            StandardCharsets.UTF_8) == want)
        return data.toString
      Tables.events(spark, sfDir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("value"), col("event_type"))
        .coalesce(1)
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(data.toString)
      Files.createDirectories(root)
      Files.write(marker, want.getBytes(StandardCharsets.UTF_8))
      data.toString
    }

  /** Read the partitioned events table (partition column `event_type`
    * is recovered from the directory names). */
  def eventsFromPartitioned(spark: SparkSession, path: String): DataFrame =
    Tables.parquet(spark, path)
}
