package graft

import org.apache.spark.sql.internal.StaticSQLConf

/** The builder-time (static) settings of every graft session. They are
  * read once, when the SparkContext starts or when the first class is
  * generated, so none can be set later with `spark.conf.set`;
  * [[configure]] is the one builder hook that `Driver.session`, the test
  * sessions and the perfbench harness go through.
  *
  * The shuffle/spill dir is not one of them: Spark's own
  * `SPARK_LOCAL_DIRS` or `spark.local.dir` pins it, and `Sizing.spillDir`
  * reads the dir Spark resolved.
  */
object LocalDirs {

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

  /** Apply the builder-time settings: [[CodegenCacheEntries]]. */
  def configure(b: org.apache.spark.sql.SparkSession.Builder)
      : org.apache.spark.sql.SparkSession.Builder =
    b.config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries.toLong)
}
