package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: graft.Verify <sfDir> <outDir>")
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_MASTER lets the multi-executor gate run the SAME dump
    // under local-cluster[n,c,m] — real serialization, network shuffle and
    // broadcast limits that local[N] never exercises
    val spark = Driver.session(master = sys.env.getOrElse(
      "SPARK_GRAFT_MASTER", s"local[${Driver.cpus}]"))
    new java.io.File(outDir).mkdirs()
    Driver.ensureFixtures(spark, sfDir)
    // local-iteration filter (comma-separated names); driver sets nothing,
    // so the full registry runs in the gate
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(
      s => SparkEntry.queries.view.filterKeys(s).toMap)
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok (${(System.nanoTime() - t0) / 1e9}%.1fs)")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
