package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.tables.TableStore

/** File-level data skipping beyond single-column AND ranges: per-file NULL
  * counts (Delta's `nullCount` statistic) driving IS NULL / IS NOT NULL
  * pruning, disjunctive (OR / IN) pruning, prefix (LIKE 'p%') pruning and
  * != pruning — each asserted at the FILE level (prunedFileList), plus the
  * row-level result equality that makes the pruning conservative-correct.
  *
  * The IS NULL case is the 100 TB motivation: the medallion's hottest
  * predicate is `_tf_valid_to IS NULL` (current SCD2 slice), and a silver
  * file holding only closed history has nullCount == 0 for that column —
  * skippable without opening it. */
class DataSkippingSpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)

  /** One table, three single-file appends with controlled profiles:
    *   f0: k ∈ [0, 99],    v all non-null,  s ∈ ["apple…", "apricot…"]
    *   f1: k ∈ [100, 199], v half null,     s ∈ ["banana…"]
    *   f2: k ∈ [200, 299], v all null,      s ∈ ["cherry…"]
    */
  private def fixture(): (TableStore, String) = {
    val root = Files.createTempDirectory("graft_skip").toString
    val store = new TableStore(spark, root)
    def batch(lo: Int, hi: Int, vExpr: org.apache.spark.sql.Column, sPrefix: String) =
      spark.range(lo, hi).select(
        col("id").as("k"),
        vExpr.as("v"),
        concat(lit(sPrefix), col("id")).as("s")).coalesce(1)
    store.createOrReplace("db.sk",
      batch(0, 100, col("id") * 2, "apple"),
      sortWithin = Seq("k"), statsFor = Seq("s"))
    store.append("db.sk", batch(100, 200,
      when(col("id") % 2 === 0, col("id") * 2), "banana"))
    store.append("db.sk", batch(200, 300, lit(null).cast("long"), "cherry"))
    (store, root)
  }

  test("IS NULL skips files with zero recorded nulls; IS NOT NULL skips all-null files") {
    val (store, _) = fixture()
    val total = store.prunedFileList("db.sk", None).size
    assert(total == 3, s"expected 3 data files, got $total")

    // v IS NULL: f0 (no nulls) is skipped
    assert(store.prunedFileList("db.sk", Some(col("v").isNull)).size == 2)
    // v IS NOT NULL: f2 (all null) is skipped
    assert(store.prunedFileList("db.sk", Some(col("v").isNotNull)).size == 2)
    // row-level correctness unchanged
    assert(store.readWhere("db.sk", col("v").isNull).count() == 150)
    assert(store.readWhere("db.sk", col("v").isNotNull).count() == 150)
    // combined with a range conjunct both prunings stack: one file left
    assert(store.prunedFileList("db.sk",
      Some(col("v").isNull && col("k") >= 200)).size == 1)
    store.detach()
  }

  test("OR and IN prune files only when every disjunct excludes them") {
    val (store, _) = fixture()
    // k < 50 OR k > 250: middle file excluded by both disjuncts
    assert(store.prunedFileList("db.sk",
      Some(col("k") < 50 || col("k") > 250)).size == 2)
    assert(store.readWhere("db.sk", col("k") < 50 || col("k") > 250).count() == 99)
    // IN list hitting two files' ranges
    assert(store.prunedFileList("db.sk",
      Some(col("k").isin(7, 207))).size == 2)
    assert(store.readWhere("db.sk", col("k").isin(7, 207)).count() == 2)
    // point IN entirely outside every range scans nothing
    assert(store.prunedFileList("db.sk", Some(col("k").isin(1000))).isEmpty)
    // an OR with an unanalyzable side prunes nothing (conservative)
    assert(store.prunedFileList("db.sk",
      Some(col("k") < 50 || length(col("s")) > 3)).size == 3)
    store.detach()
  }

  test("prefix predicates (startsWith / LIKE 'p%') prune on string min/max") {
    val (store, _) = fixture()
    assert(store.prunedFileList("db.sk", Some(col("s").startsWith("banana"))).size == 1)
    assert(store.prunedFileList("db.sk", Some(expr("s LIKE 'cherry%'"))).size == 1)
    // a prefix that straddles no file
    assert(store.prunedFileList("db.sk", Some(col("s").startsWith("durian"))).isEmpty)
    // wildcard-bearing prefix cannot prune
    assert(store.prunedFileList("db.sk", Some(expr("s LIKE '%erry1'"))).size == 3)
    assert(store.readWhere("db.sk", col("s").startsWith("banana")).count() == 100)
    assert(store.readWhere("db.sk", expr("s LIKE 'cherry%'")).count() == 100)
    store.detach()
  }

  test("!= skips a file whose min == max == literal; NULL-literal comparisons scan nothing") {
    val root = Files.createTempDirectory("graft_skip_ne").toString
    val store = new TableStore(spark, root)
    store.createOrReplace("db.ne",
      spark.range(0, 10).select(lit(5L).as("c"), col("id").as("k")).coalesce(1),
      sortWithin = Seq("c"))
    store.append("db.ne",
      spark.range(0, 10).select((col("id") % 3 + 6).as("c"), col("id").as("k")).coalesce(1))
    assert(store.prunedFileList("db.ne", Some(col("c") =!= 5L)).size == 1)
    assert(store.readWhere("db.ne", col("c") =!= 5L).count() == 10)
    // `c = NULL` is never TRUE — zero files planned
    assert(store.prunedFileList("db.ne",
      Some(col("c") === lit(null).cast("long"))).isEmpty)
    // null-safe equality against NULL degrades to IS NULL (no nulls → zero files)
    assert(store.prunedFileList("db.ne",
      Some(col("c") <=> lit(null).cast("long"))).isEmpty)
    store.detach()
  }

  test("null counts survive carry-over rewrites (DML on other files) and DVs stay conservative") {
    val (store, _) = fixture()
    // CoW update touching only f0 (k < 100): f1/f2 entries carry over with
    // their null counts intact, so IS NULL still skips the f0 rewrite
    store.update("db.sk", col("k") === 5L, Map("s" -> lit("apple-touched")))
    assert(store.prunedFileList("db.sk", Some(col("v").isNull)).size == 2)
    assert(store.readWhere("db.sk", col("v").isNull).count() == 150)

    // mor DELETE of every null-v row in f1: the DV does not flip the
    // file's "has nulls" witness (deletion only narrows), reads stay right
    store.setDmlMode("db.sk", "mor")
    store.delete("db.sk", col("v").isNull && col("k") < 200)
    assert(store.read("db.sk").filter(col("v").isNull).count() == 100)
    store.detach()
  }

  test("SCD2 silver shape: the current-slice IS NULL filter skips closed-history files") {
    val root = Files.createTempDirectory("graft_skip_scd").toString
    val store = new TableStore(spark, root)
    // file of closed history (valid_to set everywhere) + file of current rows
    val closed = spark.range(0, 500).select(col("id").as("k"),
      lit(java.sql.Date.valueOf("2024-01-01")).as("_tf_valid_to")).coalesce(1)
    val current = spark.range(500, 600).select(col("id").as("k"),
      lit(null).cast("date").as("_tf_valid_to")).coalesce(1)
    store.createOrReplace("db.silver", closed, sortWithin = Seq("k"))
    store.append("db.silver", current)
    val planned = store.prunedFileList("db.silver",
      Some(col("_tf_valid_to").isNull))
    assert(planned.size == 1,
      s"current-slice read should open only the current file, planned $planned")
    assert(store.readWhere("db.silver", col("_tf_valid_to").isNull).count() == 100)
    store.detach()
  }

  test("an IN list past the InSet conversion threshold still prunes") {
    val (store, _) = fixture()
    // 11 keys > spark.sql.optimizer.inSetConversionThreshold (10): the
    // optimizer pushes InSet, not In, into the scan
    val keys = (200L until 211L)
    val inSet = org.apache.spark.sql.GraftShims.column(
      org.apache.spark.sql.catalyst.expressions.InSet(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("k"), keys.toSet[Any]))
    assert(store.prunedFileList("db.sk", Some(inSet)).size == 1)
    val q = store.read("db.sk").filter(col("k").isin(keys: _*))
    assert(q.queryExecution.optimizedPlan.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.InSet]))))
    assert(ScanFiles(q) == 1)
    assert(q.count() == 11)
    store.detach()
  }

  test("statsFor keeps skipping through the rename + cased-spelling combo") {
    // column k is renamed to kk (physical name stays k); a snapshot then
    // declares statsFor with the CASED logical spelling "KK". The
    // logical→physical rename lookup must resolve it (exact first, then
    // case-insensitive — r15 fix), or the name silently falls out of the
    // stats list and every file answers "can't exclude": pruning dead
    // with no error, on a spelling Spark's own resolver accepts.
    val root = Files.createTempDirectory("graft_skip_rn").toString
    val store = new TableStore(spark, root)
    store.createOrReplace("db.rn",
      spark.range(0, 100).select(col("id").as("k"), (col("id") * 3).as("v")))
    store.renameColumn("db.rn", "k", "kk")
    store.createOrReplace("db.rn",
      spark.range(0, 400).select(col("id").as("kk"), (col("id") * 3).as("v"))
        .repartitionByRange(4, col("kk")),
      statsFor = Seq("KK"))
    val total = store.prunedFileList("db.rn", None).size
    val hit = store.prunedFileList("db.rn", Some(col("kk") === 7))
    assert(total >= 4 && hit.size < total,
      s"cased statsFor on a renamed column must still collect stats and prune " +
        s"(${hit.size} of $total files planned)")
    assert(store.readWhere("db.rn", col("kk") === 7).count() == 1)
    store.detach()
  }
}
