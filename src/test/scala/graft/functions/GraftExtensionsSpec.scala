package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  test("spark.sql.extensions wires vec_* into a pure-SQL session") {
    // getOrCreate would silently reuse another suite's default session
    // (ignoring the extensions conf) — detach first, restore after, and
    // never stop() the possibly-shared context.
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // withExtensions applies even when a SparkContext already exists;
      // the spark.sql.extensions conf form is equivalent but only takes
      // effect on a fresh context (i.e. spark-submit), so tests use the
      // programmatic path.
      val spark = SparkSession.builder()
        .master("local[2]")
        .appName("ext-test")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val r = spark.sql(
        "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d, " +
          "vec_sqdist(array(0.0D), array(3.0D)) AS q, " +
          "size(vec_hp_buckets(array(CAST(1.0 AS FLOAT)), 4, 8)) AS n, " +
          "size(minhash_text('a b c d', 3, 16)) AS m")
        .head()
      assert(r.getDouble(0) == 11.0)
      assert(r.getDouble(1) == 9.0)
      assert(r.getInt(2) == 4)
      assert(r.getInt(3) == 16)
      val agg = spark.sql(
        "SELECT minhash_sig(sh, 4) AS sig FROM " +
          "(SELECT explode(array('a b c', 'b c d')) AS sh)")
      assert(agg.head().getSeq[Long](0).length == 4)
      val sim = spark.sql("SELECT simhash64('hello world') AS f")
      assert(sim.head().getSeq[Long](0).length == 4)
      val sh = spark.sql(
        "SELECT pos, sh FROM (SELECT 'a b c d' AS t) " +
          "LATERAL VIEW shingle_strings(t, 3) AS pos, sh")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(sh == Seq((1, "a b c"), (2, "b c d")))
      // a BIGINT literal argument builds like an INT one
      assert(spark.sql(
        "SELECT shingle_hashes('a b c d e', CAST(3 AS BIGINT))").count() == 3)
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
