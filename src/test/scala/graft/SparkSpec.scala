package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (getOrCreate — one session per
  * test JVM; never stopped so suites can share it safely). It takes its
  * builder-time settings from [[LocalDirs.configure]], like every driver
  * session. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = LocalDirs.configure(SparkSession.builder())
    // local[4, 2]: maxFailures = 2, so an injected single task failure
    // RETRIES instead of failing the job — ShuffleMeterSpec depends on
    // this; tests that assert job failure still fail (after one extra
    // attempt)
    .master("local[4, 2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Run a ScalaCheck property and fail the scalatest test if it fails. */
  def checkProp(prop: org.scalacheck.Prop, minTests: Int = 50): Unit = {
    val params = org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(minTests)
    val res = org.scalacheck.Test.check(params, prop)
    assert(res.passed, res.status.toString)
  }
}
