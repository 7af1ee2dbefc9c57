package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.internal.StaticSQLConf

import scala.jdk.OptionConverters._
import scala.util.Try

/** The builder-time (static) settings of every graft session: the
  * shuffle/spill local dir and the size of Spark's generated-class cache.
  * Both are read once, when the SparkContext starts or when the first
  * class is generated, so neither can be set later with `spark.conf.set`;
  * [[configure]] is the one builder hook that `Driver.session` and the
  * perfbench harness go through.
  *
  * Spill dir (guide §6 — file layout; §2.1 — local disk bandwidth for
  * shuffle files can be the tighter limit).
  * Mechanism, measured at local[32]/sf0.1: every map task of a tiny
  * pinned-width stage was paying a ~0.2-0.35 s constant, most of it
  * Shuffle Write Time — 32 concurrent writers creating and committing
  * small shuffle files on the disk-backed default tmp dir serialize in
  * the filesystem (the c8/c32 anti-scaling signature of r19's verdict:
  * at 8 cores the same stages cost 3× less per task). Pointing
  * `spark.local.dir` at a tmpfs mount removes the disk from that path:
  * doc_pagerank REPS=9 lo/median 3.62/4.04 → 2.91/3.13 s, and the
  * per-task shuffle-write constant collapses.
  *
  * Production posture: on a real cluster `spark.local.dir` is
  * provisioned to fast local disks (NVMe) by the cluster config — this
  * helper is the single-box equivalent and is parameterised, never
  * hard-coded: `SPARK_GRAFT_LOCAL_DIR=<path>` pins a dir,
  * `SPARK_GRAFT_LOCAL_DIR=default` disables the override entirely, unset
  * auto-selects `/dev/shm` only when it is writable with ≥16 GiB usable
  * (sf0.1 suite shuffle volume is a few hundred MB live; blocks are
  * freed per query by the ContextCleaner). Nothing here caches results:
  * shuffle files are per-query transients.
  *
  * Each JVM gets its own `pid-<pid>` subdirectory so a killed JVM's
  * leftovers (Spark's shutdown hook never ran) are identifiable: on
  * startup, sibling dirs whose JVM is gone are purged — tmpfs leaks are
  * RAM leaks. A pid alone does not name a JVM once the OS recycles it, so
  * each dir also holds a marker with its JVM's start instant.
  */
object LocalDirs {

  private def deleteRecursively(f: File): Unit = {
    val fs = Option(f.listFiles()).getOrElse(Array.empty[File])
    fs.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Marker file in each `pid-<n>` dir: the owning JVM's start instant. */
  private val StartMarker = ".start"

  private def startInstant(p: ProcessHandle): Option[String] =
    p.info().startInstant().toScala.map(_.toString)

  /** Delete every `pid-<n>` dir under `root` whose JVM is gone: the pid is
    * dead, or it is alive but started at another instant than the dir's
    * marker records (the OS recycled the pid). A dir without a marker, or
    * a live process whose start instant the OS does not report, is kept:
    * its owner may still be writing the marker. */
  def purgeStale(root: File): Unit =
    for (d <- Option(root.listFiles()).getOrElse(Array.empty[File])) {
      val pid = d.getName.stripPrefix("pid-")
      if (d.getName.startsWith("pid-") && pid.nonEmpty && pid.forall(_.isDigit)) {
        val live = pid.toLongOption.flatMap(n => ProcessHandle.of(n).toScala.filter(_.isAlive))
        // an unreadable marker counts as none (a concurrent purge may be deleting it)
        val recorded = Try(Files.readString(new File(d, StartMarker).toPath).trim).toOption
        val recycled = live.exists(h => recorded.exists(r => startInstant(h).exists(_ != r)))
        if (live.isEmpty || recycled) deleteRecursively(d)
      }
    }

  /** The local-dir override for a SparkSession builder, or None to keep
    * Spark's default resolution. */
  def resolve(): Option[String] = sys.env.get("SPARK_GRAFT_LOCAL_DIR") match {
    case Some("default") | Some("") => None
    case Some(dir) => Some(dir)
    case None =>
      val shm = new File("/dev/shm")
      if (!shm.isDirectory || !shm.canWrite ||
          shm.getUsableSpace < (16L << 30)) None
      else {
        val root = new File(shm, "graft-spark-local")
        root.mkdirs()
        purgeStale(root)
        val self = ProcessHandle.current()
        val mine = new File(root, s"pid-${self.pid()}")
        mine.mkdirs()
        // written beside, then renamed: a concurrent purge never reads half a marker
        startInstant(self).foreach { at =>
          val tmp = new File(mine, StartMarker + ".tmp").toPath
          Files.writeString(tmp, at)
          Files.move(tmp, new File(mine, StartMarker).toPath,
            StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        }
        Some(mine.getAbsolutePath)
      }
  }

  /** Entries of Spark's codegen cache (`spark.sql.codegen.cache.maxEntries`,
    * Spark's default 100). The cache maps generated source to its compiled
    * class; Guava splits it into 4 segments that each evict LRU at a
    * quarter of the maximum. One warm pass over the 144 registry queries
    * needs about 1,858 distinct classes, olap_small alone about 155, so at
    * 100 every pass Janino-recompiled nearly every class it ran (a warm
    * pass of perfbench's olap_small slice compiled 151). 4096 gives each
    * segment about 2× its share of the registry's working set; the
    * classes cost ~14 MB of metaspace.
    * It is a static SQL conf, fixed at the first codegen in the JVM, so
    * it is set here and is not a knob. */
  val CodegenCacheEntries: Int = 4096

  /** Apply the builder-time settings: the [[resolve]]d local dir, if any,
    * and [[CodegenCacheEntries]]. */
  def configure(b: org.apache.spark.sql.SparkSession.Builder)
      : org.apache.spark.sql.SparkSession.Builder = {
    val sized = b.config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries.toLong)
    resolve().fold(sized)(d => sized.config("spark.local.dir", d))
  }
}
