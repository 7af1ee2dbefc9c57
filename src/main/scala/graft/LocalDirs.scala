package graft

import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** The builder-time settings of every graft session. The codegen cache
  * size is read once, when the first class is generated, so it cannot be
  * set later with `spark.conf.set`;
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

  /** Apply the builder-time settings: [[CodegenCacheEntries]], and
    * whole-stage codegen class names without the stage id
    * (`spark.sql.codegen.useIdInClassName=false`). AQE numbers codegen
    * stages in the order it plans query stages, so with the id in the
    * generated source two sibling stages that swap places between builds
    * miss the cache and recompile (image_similarity, cm_top_term_counts:
    * 2–8 classes per build). Without it the source of a stage depends only
    * on the stage, and identical stages of different queries share a
    * class. A fixed setting, not a knob: the id is only a debugging aid. */
  def configure(b: org.apache.spark.sql.SparkSession.Builder)
      : org.apache.spark.sql.SparkSession.Builder =
    b.config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries.toLong)
      .config(SQLConf.WHOLESTAGE_CODEGEN_USE_ID_IN_CLASS_NAME.key, false)
}
