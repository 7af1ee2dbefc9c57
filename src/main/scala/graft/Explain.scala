package graft

/** Plan auditor: prints `explain("formatted")` for each query (or the
  * names given as args) so pushdown / broadcast / codegen spans can be
  * inspected. `sbt "runMain graft.Explain [sfDir] [conf:k=v...] [name...]"`
  * — `conf:` args set session confs (e.g. `conf:<key>=0` with the
  * shared-kernel cut key dumps the forced-gate plans). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val (confArgs, nameArgs) = args.drop(1).toSeq.partition(_.startsWith("conf:"))
    val names = if (nameArgs.nonEmpty) nameArgs
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = Driver.session("local[4]", width = "4", logLevel = "ERROR")
    confArgs.map(_.stripPrefix("conf:").split("=", 2)).foreach {
      case Array(k, v) => spark.conf.set(k, v)
      case other => sys.error(s"bad conf arg: ${other.mkString("=")}")
    }
    names.foreach { name =>
      println(s"\n===================== $name =====================")
      try SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"[explain] failed: $e") }
    }
    spark.stop()
  }
}
