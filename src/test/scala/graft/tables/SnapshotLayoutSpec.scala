package graft.tables

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A version's write layout (partition, sort and stats columns) is part of
  * its manifest, so it is staged, aborted, restored and cloned together
  * with the version — never a table-wide setting a write can change
  * before its commit is decided:
  *  - an aborted transaction leaves the committed layout in force (the
  *    staged replace's partitioning used to leak into the table);
  *  - RESTORE brings back the restored version's partitioning (it used to
  *    keep the layout of the version it replaced), and clones commit the
  *    layout of the version they copy. */
class SnapshotLayoutSpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)

  private def withStore(prefix: String)(f: TableStore => Unit): Unit = {
    val root = Files.createTempDirectory(prefix).toString
    val store = new TableStore(spark, root)
    try f(store)
    finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(Paths.get(root))
    }
  }

  private def frame: DataFrame = spark.range(0, 40)
    .select(col("id").as("k"), (col("id") % 4).as("par"), lit("v").as("v"))
    .repartition(2)

  private def partitionedFiles(store: TableStore, name: String): Seq[String] =
    store.prunedFileList(name, None).filter(_.contains("__p_par="))

  test("an aborted transaction leaves the committed layout in force") {
    withStore("graft_layout_txn") { store =>
      store.createOrReplace("db.a", frame)
      intercept[IllegalStateException] {
        store.transaction { t =>
          t.createOrReplace("db.a", frame, partitionBy = Seq("par"))
          throw new IllegalStateException("abort after staging")
        }
      }
      assert(store.version("db.a") == Some(1))
      assert(store.partitionColumns("db.a").isEmpty)
      assert(store.detail("db.a")("partition_columns") == "")
      // the next write follows the committed, unpartitioned layout
      store.append("db.a", frame)
      assert(partitionedFiles(store, "db.a").isEmpty)
      assert(store.read("db.a").count() == 80)
    }
  }

  test("RESTORE brings back the restored version's layout; clones carry it") {
    withStore("graft_layout_restore") { store =>
      store.createOrReplace("db.r", frame, partitionBy = Seq("par")) // v1
      store.createOrReplace("db.r", frame) // v2, unpartitioned
      assert(store.partitionColumns("db.r").isEmpty)

      store.restore("db.r", 1)
      assert(store.partitionColumns("db.r") == Seq("par"))
      assert(store.detail("db.r")("partition_columns") == "par")
      // DML on the restored table rewrites under the restored partitioning
      store.update("db.r", col("k") === 3L, Map("v" -> lit("w")))
      val files = store.prunedFileList("db.r", None)
      assert(files.nonEmpty && partitionedFiles(store, "db.r") == files, files)
      assert(store.read("db.r").filter(col("v") === "w").count() == 1)

      // both clones commit the copied version's layout in their manifest
      store.cloneTo("db.r", "db.shallow")
      store.deepCloneTo("db.r", "db.deep")
      assert(store.partitionColumns("db.shallow") == Seq("par"))
      assert(store.partitionColumns("db.deep") == Seq("par"))
      assert(store.versions("db.shallow") == Seq(1))

      // restoring the unpartitioned version takes its layout back too
      store.restore("db.r", 2)
      assert(store.partitionColumns("db.r").isEmpty)
    }
  }
}
