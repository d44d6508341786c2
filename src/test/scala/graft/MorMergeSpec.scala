package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.tables.TableStore
import graft.operators.MergeInto._

/** Merge-on-read MERGE ([[TableStore.setDmlMode]] `mor`): clauses that
  * modify existing rows commit deletion vectors + appended post-images —
  * no existing data file is rewritten. The 100 TB contract under test: a
  * small merge against a large table leaves every pre-merge data file in
  * the manifest (DV'd, not replaced), the result is bit-identical to the
  * copy-on-write twin, row ids survive the update path, the change feed
  * carries full images, and OPTIMIZE folds the DVs back out. */
class MorMergeSpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)
  import spark.implicits._

  /** Run `body` on a fresh store and detach it afterwards, pass or fail:
    * every test names its table `db.t`, and a store left attached would
    * make later SQL on `db.t` in the same JVM ambiguous. */
  private def withStore(body: TableStore => Unit): Unit = {
    val store = new TableStore(spark, Files.createTempDirectory("graft_mormerge").toString)
    try body(store) finally store.detach()
  }

  private def mergeSource = Seq(
    (2, "upd2"), (7, "upd7"), (10, "gone"), (401, "new401"), (455, "new455"))
    .toDF("k", "sv")

  private def runMerge(store: TableStore, table: String): Unit =
    store.merge(table, mergeSource, Seq("k"),
      matched = Seq(
        MatchedDelete(Some(col("s.sv") === "gone")),
        MatchedUpdate(None, Map("v" -> col("s.sv")))),
      notMatched = Seq(NotMatchedInsert(None,
        Map("k" -> col("s.k"), "v" -> col("s.sv"), "g" -> lit(9)))))

  test("mor MERGE == cow MERGE, and rewrites zero existing data files") { withStore { store =>
    val target = (1 to 400).map(i => (i, s"v$i", i % 5)).toDF("k", "v", "g")
      .repartition(4)
    store.createOrReplace("db.cow", target)
    store.createOrReplace("db.mor", target)
    store.setDmlMode("db.mor", "mor")

    val before = store.fileInventory("db.mor")
      .select("file").as[String].collect().toSet
    runMerge(store, "db.cow")
    runMerge(store, "db.mor")

    val after = store.fileInventory("db.mor")
      .select("file", "dv_count").as[(String, Int)].collect()
    // every pre-merge file is still in the manifest — DV'd, never replaced
    assert(before.subsetOf(after.map(_._1).toSet),
      "mor merge rewrote an existing data file")
    assert(after.exists(f => before(f._1) && f._2 > 0),
      "no deletion vector was attached to a touched file")

    val cow = store.read("db.cow").orderBy("k").collect()
    val mor = store.read("db.mor").orderBy("k").collect()
    assert(cow.sameElements(mor), "mor result diverges from the cow twin")
    // spot semantics: k=10 deleted, k=2 updated, k=401 inserted
    val m = store.read("db.mor").as[(Int, String, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(!m.contains(10) && m(2)._2 == "upd2" && m(401)._3 == 9)
  } }

  test("mor MERGE by-source clauses DV vanished keys without a rewrite") { withStore { store =>
    store.createOrReplace("db.t",
      (1 to 100).map(i => (i, s"v$i")).toDF("k", "v").repartition(2))
    store.setDmlMode("db.t", "mor")
    val before = store.fileInventory("db.t").select("file").as[String].collect().toSet
    // source keeps only even keys; by-source DELETE drops the vanished odd
    store.merge("db.t", (2 to 100 by 2).map(i => (i, s"v$i")).toDF("k", "sv"),
      Seq("k"),
      matched = Seq(MatchedUpdate(Some(lit(false)), Map("v" -> col("s.sv")))),
      notMatchedBySource = Seq(BySourceDelete(None)))
    val after = store.fileInventory("db.t").select("file").as[String].collect().toSet
    assert(before.subsetOf(after), "by-source mor merge rewrote a data file")
    assert(store.read("db.t").as[(Int, String)].collect().map(_._1).sorted
      .sameElements(2 to 100 by 2))
  } }

  test("mor MERGE raises on multiple source matches (Delta parity)") { withStore { store =>
    store.createOrReplace("db.t", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    store.setDmlMode("db.t", "mor")
    val dup = Seq((1, "x"), (1, "y")).toDF("k", "sv")
    val e = intercept[IllegalStateException] {
      store.merge("db.t", dup, Seq("k"),
        matched = Seq(MatchedUpdate(None, Map("v" -> col("s.sv")))))
    }
    assert(e.getMessage.contains("multiple source rows"))
    // the aborted merge left the table untouched
    assert(store.read("db.t").orderBy("k").as[(Int, String)].collect()
      .sameElements(Seq((1, "a"), (2, "b"))))
  } }

  test("row ids survive a mor MERGE: updated rows keep theirs, inserts mint") { withStore { store =>
    store.createOrReplace("db.t",
      (1 to 50).map(i => (i, s"v$i")).toDF("k", "v").repartition(2))
    store.enableRowTracking("db.t")
    store.setDmlMode("db.t", "mor")
    val idsBefore = store.readWithRowIds("db.t")
      .select("k", "_row_id").as[(Int, Long)].collect().toMap
    store.merge("db.t", Seq((7, "upd"), (51, "new")).toDF("k", "sv"), Seq("k"),
      matched = Seq(MatchedUpdate(None, Map("v" -> col("s.sv")))),
      notMatched = Seq(NotMatchedInsert(None,
        Map("k" -> col("s.k"), "v" -> col("s.sv")))))
    val after = store.readWithRowIds("db.t")
      .select("k", "v", "_row_id").as[(Int, String, Long)].collect()
    val a = after.map(r => r._1 -> r).toMap
    assert(a(7)._2 == "upd" && a(7)._3 == idsBefore(7),
      "updated row lost its stable id across the mor merge")
    assert(!idsBefore.values.toSet.contains(a(51)._3),
      "inserted row reused an existing id")
    // untouched rows keep theirs
    assert(a(3)._3 == idsBefore(3) && a(50)._3 == idsBefore(50))
  } }

  test("change feed of a mor MERGE: pre/post images, delete, insert") { withStore { store =>
    store.createOrReplace("db.t",
      (1 to 20).map(i => (i, i * 10)).toDF("k", "n"))
    store.enableChangeFeed("db.t")
    store.setDmlMode("db.t", "mor")
    val v0 = store.version("db.t").get
    store.merge("db.t", Seq((3, 999), (5, -1), (21, 210)).toDF("k", "sn"), Seq("k"),
      matched = Seq(
        MatchedDelete(Some(col("s.sn") < 0)),
        MatchedUpdate(None, Map("n" -> col("s.sn")))),
      notMatched = Seq(NotMatchedInsert(None,
        Map("k" -> col("s.k"), "n" -> col("s.sn")))))
    val feed = store.changeFeed("db.t", v0, store.version("db.t").get)
      .select("k", "n", "_change_type").as[(Int, Int, String)].collect().toSet
    assert(feed == Set(
      (3, 30, "update_preimage"), (3, 999, "update_postimage"),
      (5, 50, "delete"), (21, 210, "insert")))
  } }

  test("mor MERGE discovery stats-prunes candidates like the cow path") { withStore { store =>
    // key-sorted multi-file table: a narrow-key source batch must scan
    // only the files whose [min, max] admit its keys
    store.createOrReplace("db.t",
      (1 to 4000).map(i => (i, s"v$i")).toDF("k", "v"),
      sortWithin = Seq("k"), statsFor = Seq("k"))
    store.compact("db.t", targetFiles = 8)
    store.setDmlMode("db.t", "mor")
    val (cand, total) = store.merge("db.t", Seq((10, "u"), (12, "u2")).toDF("k", "sv"), Seq("k"),
      matched = Seq(MatchedUpdate(None, Map("v" -> col("s.sv")))))
    assert(total >= 8 && cand < total,
      s"mor merge discovery scanned $cand of $total files — expected a stats cut")
    val m = store.read("db.t").as[(Int, String)].collect().toMap
    assert(m(10) == "u" && m(12) == "u2" && m.size == 4000)
  } }

  test("OPTIMIZE folds mor-merge DVs back into clean files") { withStore { store =>
    store.createOrReplace("db.t",
      (1 to 300).map(i => (i, s"v$i")).toDF("k", "v").repartition(3))
    store.setDmlMode("db.t", "mor")
    store.merge("db.t", Seq((5, "u5"), (9, "gone")).toDF("k", "sv"), Seq("k"),
      matched = Seq(
        MatchedDelete(Some(col("s.sv") === "gone")),
        MatchedUpdate(None, Map("v" -> col("s.sv")))))
    val expected = store.read("db.t").orderBy("k").collect()
    store.compact("db.t", targetFiles = 2)
    val inv = store.fileInventory("db.t").select("dv_count").as[Int].collect()
    assert(inv.forall(_ == 0), "OPTIMIZE left deletion vectors in place")
    assert(store.read("db.t").orderBy("k").collect().sameElements(expected))
  } }

  private def files(store: TableStore, t: String): Map[String, Long] =
    store.fileInventory(t).select("file", "rows").as[(String, Long)].collect().toMap

  test("mor UPDATE and MERGE append files capped by target_file_rows") { withStore { store =>
    store.createOrReplace("db.t",
      (1 to 200).map(i => (i, s"v$i")).toDF("k", "v").repartition(2))
    store.setTargetFileRows("db.t", 10)
    store.setDmlMode("db.t", "mor")
    val b1 = files(store, "db.t")
    store.update("db.t", col("k") <= 50, Map("v" -> lit("u")))
    val up = files(store, "db.t").filterNot(f => b1.contains(f._1))
    assert(up.values.sum == 50 && up.values.forall(_ <= 10),
      s"mor UPDATE appended files of ${up.values.toSeq.sorted} rows, cap 10")
    val b2 = files(store, "db.t")
    store.merge("db.t", (101 to 150).map(i => (i, "m")).toDF("k", "sv"), Seq("k"),
      matched = Seq(MatchedUpdate(None, Map("v" -> col("s.sv")))))
    val mg = files(store, "db.t").filterNot(f => b2.contains(f._1))
    assert(mg.values.sum == 50 && mg.values.forall(_ <= 10),
      s"mor MERGE appended files of ${mg.values.toSeq.sorted} rows, cap 10")
    val v = store.read("db.t").groupBy("v").count().as[(String, Long)].collect().toMap
    assert(v("u") == 50 && v("m") == 50 && store.read("db.t").count() == 200)
  } }

  test("mor UPDATE post-images carry the bloom index: a point read keeps only their file") { withStore { store =>
    // scattered keys: every file's [min, max] box spans the table, so only
    // the bloom filters can skip
    val data = (1 to 400).map(i => (i, s"v$i")).toDF("k", "v").repartition(4)
    store.createOrReplace("db.t", data)
    store.setBloomFilterIndex("db.t", Seq("k"), ndv = 1000)
    store.createOrReplace("db.t", data) // rewrite so every file carries a bloom
    store.setDmlMode("db.t", "mor")
    val before = files(store, "db.t")
    store.update("db.t", col("k") % 10 === 0, Map("k" -> (col("k") + 1000)))
    val appended = files(store, "db.t").keySet -- before.keySet
    assert(appended.size >= 2, s"post-images landed in ${appended.size} file(s)")
    val (df, (cand, total)) = store.readPointPruned("db.t", Seq(1010).toDF("k"), Seq("k"))
    assert(cand == 1 && total == before.size + appended.size,
      s"point read of a post-image key kept $cand of $total files")
    assert(df.filter(col("k") === 1010).count() == 1)
  } }
}
