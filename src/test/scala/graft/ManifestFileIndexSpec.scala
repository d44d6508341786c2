package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, GraftShims, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.tables.TableStore

/** Files a DataFrame's file scans opened, read from each executed
  * `FileSourceScanExec`'s own `numFiles` metric. Runs the frame first. */
object ScanFiles extends AdaptiveSparkPlanHelper {
  def apply(df: DataFrame): Long = {
    df.collect()
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum
  }
}

/** Store reads go through a manifest-backed `FileIndex`: every scan —
  * SQL by name, `read(name).filter(…)` — opens only the files whose
  * manifest stats admit the pushed filters, returns the rows an unpruned
  * scan returns, and keeps plan identity per (table, version). */
class ManifestFileIndexSpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)

  /** `db.ix`: 800 rows range-clustered on k into 8 files. */
  private def fixture(): (TableStore, String) = {
    val root = Files.createTempDirectory("graft_index").toString
    val store = new TableStore(spark, root)
    store.createOrReplace("db.ix",
      spark.range(0, 800).select(col("id").as("k"), (col("id") * 3).as("v"),
        concat(lit("s"), col("id")).as("s")).repartitionByRange(8, col("k")),
      sortWithin = Seq("k"))
    (store, root)
  }

  /** The same rows straight from every data file, no index involved. */
  private def unpruned(store: TableStore, root: String, table: String): DataFrame = {
    val dir = Paths.get(root, table.split('.'): _*)
    spark.read.parquet(store.prunedFileList(table, None).map(r => dir.resolve(r).toString): _*)
  }

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getLong(0))

  test("SQL point and range lookups scan exactly the files prunedFileList names") {
    val (store, root) = fixture()
    try {
      assert(store.prunedFileList("db.ix", None).size == 8)
      val cases = Seq(
        ("k = 123", col("k") === 123),
        ("k BETWEEN 150 AND 320", col("k").between(150, 320)))
      cases.foreach { case (where, pred) =>
        val planned = store.prunedFileList("db.ix", Some(pred))
        assert(planned.nonEmpty && planned.size < 8, s"$where planned ${planned.size} files")
        val q = spark.sql(s"SELECT k, v, s FROM db.ix WHERE $where")
        assert(ScanFiles(q) == planned.size, s"$where")
        assert(sorted(q) == sorted(unpruned(store, root, "db.ix").filter(pred)), where)
      }
    } finally store.detach()
  }

  test("a renamed column prunes and returns identical rows through the scan") {
    val (store, root) = fixture()
    try {
      store.renameColumn("db.ix", "k", "kk")
      val pred = col("kk").between(400, 420)
      val planned = store.prunedFileList("db.ix", Some(pred))
      assert(planned.nonEmpty && planned.size <= 2, s"planned ${planned.size} files")
      val q = spark.sql("SELECT kk, v, s FROM db.ix WHERE kk BETWEEN 400 AND 420")
      assert(ScanFiles(q) == planned.size)
      val expected = unpruned(store, root, "db.ix")
        .withColumnRenamed("k", "kk").filter(pred).select("kk", "v", "s")
      assert(sorted(q).size == 21)
      assert(sorted(q) == sorted(expected))
      assert(sorted(store.readWhere("db.ix", pred).select("kk", "v", "s")) == sorted(expected))
    } finally store.detach()
  }

  test("two reads of one version share plan identity and cache; a new commit does not") {
    val (store, _) = fixture()
    try {
      val a = store.read("db.ix")
      val b = store.read("db.ix")
      assert(a.queryExecution.analyzed.canonicalized == b.queryExecution.analyzed.canonicalized)
      a.persist()
      try {
        a.count()
        assert(GraftShims.isCached(store.read("db.ix")))
        store.append("db.ix", spark.range(800, 810).select(col("id").as("k"),
          (col("id") * 3).as("v"), concat(lit("s"), col("id")).as("s")))
        val c = store.read("db.ix")
        assert(c.queryExecution.analyzed.canonicalized != a.queryExecution.analyzed.canonicalized)
        assert(!GraftShims.isCached(c))
        assert(c.count() == 810)
      } finally a.unpersist()
    } finally store.detach()
  }
}
