package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SparkSessionExtensions surface: native expressions callable from SQL. */
class ExtensionsRegistrySpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)

  test("rolling_hash and dot_f are registered SQL functions with codegen") {
    val h = spark.sql("SELECT rolling_hash('abc') AS h").collect().head.getLong(0)
    def ref(s: String): Long = s.foldLeft(0L)((acc, c) => acc * 1000003L + c)
    assert(h == ref("abc"))
    val d = spark.sql(
      "SELECT dot_f(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .collect().head.getDouble(0)
    assert(d == 11.0)
  }

  test("GraftSession.local builds the one engine configuration, idempotently") {
    val s = graft.core.GraftSession.local(4)
    val conf = s.conf
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(s.sql("SELECT rolling_hash('a')").collect().length == 1)
    assert(org.apache.logging.log4j.LogManager
      .getLogger("org.apache.spark.rdd.MapPartitionsRDD").getLevel ==
      org.apache.logging.log4j.Level.ERROR)
    assert(graft.core.GraftSession.local(4) eq s)
  }

  test("SPARK_GRAFT_CPUS must be a positive integer") {
    import graft.core.GraftSession.parseCpus
    assert(parseCpus(None) == 4 && parseCpus(Some("8")) == 8)
    Seq("abc", "0", "-2", "").foreach { v =>
      val e = intercept[IllegalArgumentException](parseCpus(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), v)
    }
  }
}
