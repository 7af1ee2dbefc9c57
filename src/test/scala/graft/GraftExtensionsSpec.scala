package graft

import org.apache.spark.sql.SparkSession

/** The kernel expressions exposed as SQL functions through
  * SparkSessionExtensions. */
class GraftExtensionsSpec extends SparkSpec {

  test("kernel functions callable from spark.sql via extensions") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    // force the builder to CREATE (extensions only apply at creation);
    // the new session reuses the existing SparkContext
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val ext = LocalDirs.configure(SparkSession.builder())
        .master("local[4]")
        .appName("graft-ext-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      val one = ext.sql(
        "SELECT graft_simhash64(array('spark', 'catalyst')) AS h").first().getLong(0)
      val two = ext.sql(
        "SELECT graft_simhash64(array('spark', 'catalyst')) AS h").first().getLong(0)
      assert(one == two && one != 0L)
      val sh = ext.sql(
        "SELECT graft_shingle_hash64(array('a','b','c','d'), 3) AS sh")
        .first().getSeq[Long](0)
      assert(sh.length == 2) // two 3-gram windows
      val buckets = ext.sql(
        s"SELECT graft_minhash_buckets(array(${sh.mkString(",")}), 64, 8) AS b")
        .first().getSeq[Long](0)
      assert(buckets.length == 8)
      val hb = ext.sql(
        "SELECT graft_hyperplane_bucket(array(1.0d, -2.0d, 0.5d), 8) AS b," +
          "       graft_hyperplane_bucket(array(1.0d, -2.0d, 0.5d), 8, 8) AS b2")
        .first()
      assert(hb.getLong(0) >= 0 && hb.getLong(0) < 256)
      assert(hb.getLong(0) != hb.getLong(1) || true) // bands may differ
      val sig = ext.sql(
        "SELECT graft_md5_chunk_signature(array(1, 2, 3, 4, 5), 1) AS s")
        .first().getString(0)
      assert(sig.length == 5 && sig.matches("[0-9a-f]+"))
      // composed text-cleaning functions share the DataFrame operators'
      // definitions — same placeholders, same entity contract
      assert(ext.sql(
        "SELECT graft_redact_pii('mail a@b.co or +1-555-0100') AS r")
        .first().getString(0) == "mail <EMAIL> or <PHONE>")
      assert(ext.sql(
        "SELECT graft_html_to_text('<p>a &amp; b</p><script>x<1</script>') AS r")
        .first().getString(0) == "a & b")
      assert(ext.sql(
        "SELECT graft_html_title('<html><title>T</title></html>') AS t")
        .first().getString(0) == "T")
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
