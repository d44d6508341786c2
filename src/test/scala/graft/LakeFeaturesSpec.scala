package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.tables.TableStore

/** Round-4 lake-layer features: merge-on-read DML via deletion vectors,
  * metadata-only schema widening, the DESCRIBE HISTORY / OPTIMIZE /
  * VACUUM SQL surface, and Z-order clustering. Each test pins the
  * file-level behavior (what was and wasn't rewritten), not just the
  * row-level result — the file behavior IS the 100 TB design claim. */
class LakeFeaturesSpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)

  private def dataFiles(root: String, db: String, table: String): Map[String, Long] = {
    val dir = java.nio.file.Paths.get(root, db, table)
    val out = scala.collection.mutable.Map.empty[String, Long]
    Files.walk(dir).forEach { p: Path =>
      if (p.getFileName.toString.endsWith(".parquet"))
        out += (dir.relativize(p).toString -> Files.getLastModifiedTime(p).toMillis)
    }
    out.toMap
  }

  test("mor DELETE commits a deletion vector and rewrites no data file") {
    val root = Files.createTempDirectory("graft_mor").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    val df = spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") % 7).as("grp"),
        concat(lit("v"), col("id")).as("v"))
      .repartition(4)
    store.createOrReplace("db.t", df, sortWithin = Seq("k"))
    store.setDmlMode("db.t", "mor")
    val before = dataFiles(root, "db", "t")

    store.delete("db.t", col("k") % 10 === 3)
    val after = dataFiles(root, "db", "t")
    // every pre-existing data file survives bit-identically (same mtime);
    // the only new parquet is the DV sidecar under the new version
    before.foreach { case (rel, mtime) =>
      assert(after.contains(rel), s"mor delete removed data file $rel")
      assert(after(rel) == mtime, s"mor delete rewrote data file $rel")
    }
    assert(store.read("db.t").count() == 900)
    assert(store.read("db.t").filter(col("k") % 10 === 3).count() == 0)
    // plan shape: the DV side is BROADCAST into a left-anti hash join —
    // the main scan stays codegen'd and shuffle-free
    val plan = store.read("db.t").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"DV read should broadcast-anti-join, got:\n${plan.linesIterator.take(8).mkString("\n")}")
    // time travel still sees the pre-delete rows
    assert(store.readVersion("db.t", 1).count() == 1000)

    // a no-match delete commits nothing (no phantom version, no DV)
    val vBefore = store.versions("db.t")
    store.delete("db.t", col("k") === -1L)
    assert(store.versions("db.t") == vBefore, "no-match mor delete committed a version")

    // a second DV on the same files stacks
    store.delete("db.t", col("k") % 10 === 4)
    assert(store.read("db.t").count() == 800)
    assert(store.read("db.t").agg(sum(col("k"))).as[Long].head() ==
      (0L until 1000L).filter(k => k % 10 != 3 && k % 10 != 4).sum)
    store.detach()
  }

  test("mor UPDATE deletion-vectors old rows and appends rewritten ones") {
    val root = Files.createTempDirectory("graft_mor_upd").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    val df = spark.range(0, 500).select(col("id").as("k"), lit("old").as("v"))
      .repartition(3)
    store.createOrReplace("db.u", df)
    store.setDmlMode("db.u", "mor")
    val before = dataFiles(root, "db", "u")

    store.update("db.u", col("k") < 50, Map("v" -> lit("new")))
    val after = dataFiles(root, "db", "u")
    before.foreach { case (rel, mtime) =>
      assert(after.contains(rel) && after(rel) == mtime,
        s"mor update rewrote pre-existing file $rel")
    }
    val t = store.read("db.u")
    assert(t.count() == 500, "row count preserved")
    assert(t.filter(col("v") === "new").count() == 50)
    assert(t.filter(col("k") < 50 && col("v") === "old").count() == 0)

    // CoW semantics parity: a cow twin updated the same way matches
    store.setDmlMode("db.u", "cow")
    store.update("db.u", col("k") >= 450, Map("v" -> lit("new")))
    assert(store.read("db.u").filter(col("v") === "new").count() == 100)

    // change feed across the mor commit shows the update as delete+insert
    val cf = store.changesBetween("db.u", 1, 2)
    assert(cf.filter(col("_change_type") === "delete").count() == 50)
    assert(cf.filter(col("_change_type") === "insert").count() == 50)
    store.detach()
  }

  test("OPTIMIZE folds deletion vectors in; VACUUM keeps live DVs") {
    val root = Files.createTempDirectory("graft_mor_opt").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    store.createOrReplace("db.c",
      spark.range(0, 300).select(col("id").as("k")).repartition(3))
    store.setDmlMode("db.c", "mor")
    store.delete("db.c", col("k") < 100)
    assert(store.read("db.c").count() == 200)

    // vacuum of the DV'd table: old versions retire, current stays
    // readable — the DV sidecar must survive (it's referenced)
    store.vacuum("db.c")
    assert(store.read("db.c").count() == 200, "DV survives vacuum")

    store.compact("db.c")
    assert(store.read("db.c").count() == 200)
    // after compaction no manifest entry carries DVs: a fresh write of the
    // survivors; and the file count is consolidated
    assert(store.prunedFileList("db.c", None).size == 1)
    store.detach()
  }

  test("ALTER TABLE ADD COLUMNS is metadata-only; old files NULL-fill") {
    val root = Files.createTempDirectory("graft_addcol").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    store.createOrReplace("db.w", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    val before = dataFiles(root, "db", "w")

    spark.sql("ALTER TABLE db.w ADD COLUMNS (score DOUBLE, tag STRING)")
    val after = dataFiles(root, "db", "w")
    assert(before == after, "column addition rewrote data files")
    val t = store.read("db.w").orderBy("k")
    assert(t.columns.toSeq == Seq("k", "v", "score", "tag"))
    assert(t.select("score").as[Option[Double]].collect().forall(_.isEmpty),
      "pre-widening rows NULL-fill the new column")

    // new writes carry the column; old files still NULL-fill beside them
    spark.sql("INSERT INTO db.w VALUES (3, 'c', 1.5, 'x')")
    val rows = store.read("db.w").orderBy("k")
      .select("k", "score").as[(Int, Option[Double])].collect().toSeq
    assert(rows == Seq((1, None), (2, None), (3, Some(1.5))))

    // duplicate add errors
    val e = intercept[Exception](store.addColumns("db.w",
      StructType(Seq(StructField("TAG", StringType)))))
    assert(e.getMessage.contains("already exist"))
    store.detach()
  }

  test("DESCRIBE HISTORY reports version, operation and file counts") {
    val root = Files.createTempDirectory("graft_hist").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    store.createOrReplace("db.h", Seq((1, "a")).toDF("k", "v"))
    store.setDmlMode("db.h", "mor")
    spark.sql("UPDATE db.h SET v = 'b' WHERE k = 1")
    spark.sql("ALTER TABLE db.h ADD COLUMNS (x INT)")
    spark.sql("OPTIMIZE db.h")

    val h = spark.sql("DESCRIBE HISTORY db.h")
      .select("version", "operation").as[(Int, String)].collect().toSeq
    assert(h == Seq((4, "optimize"), (3, "add_columns"), (2, "update"), (1, "write")),
      s"unexpected history: $h")
    // timestamps are non-decreasing oldest→newest
    val ts = spark.sql("DESCRIBE HISTORY db.h")
      .select("timestamp").collect().map(_.getTimestamp(0).getTime).toSeq
    assert(ts == ts.sorted.reverse)
    // num_rows: exact from footer counts on clean snapshots, null (never
    // wrong) while deletion vectors make physical ≠ live counts
    val nr = spark.sql("DESCRIBE HISTORY db.h")
      .select("version", "num_rows").as[(Int, Option[Long])].collect().toMap
    assert(nr(1) == Some(1L), s"v1 is one clean row: $nr")
    assert(nr(2).isEmpty && nr(3).isEmpty, s"DV'd snapshots report unknown: $nr")
    assert(nr(4) == Some(1L), s"OPTIMIZE folds DVs, count exact again: $nr")

    // operation metrics from the manifest diff: the mor UPDATE re-keys the
    // DV'd file and appends the rewrite; ADD COLUMNS is metadata-only
    val om = spark.sql("DESCRIBE HISTORY db.h")
      .select("version", "files_added", "files_removed").as[(Int, Int, Int)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(om(1) == ((1, 0)), s"v1 writes one file: $om")
    assert(om(3) == ((0, 0)), s"metadata-only commit moves no files: $om")
    assert(om(2)._1 >= 1 && om(2)._2 >= 1, s"mor update re-keys + appends: $om")
    assert(om(4)._2 >= 1, s"optimize retires rewritten inputs: $om")
    val ra = spark.sql("DESCRIBE HISTORY db.h")
      .select("version", "rows_added").as[(Int, Option[Long])].collect().toMap
    assert(ra(1) == Some(1L) && ra(3) == Some(0L), s"row deltas: $ra")

    spark.sql("VACUUM db.h")
    assert(store.versions("db.h") == Seq(4), "vacuum retires old versions")
    assert(store.read("db.h").count() == 1)

    val detail = spark.sql("DESCRIBE DETAIL db.h")
      .as[(String, String)].collect().toMap
    assert(detail("version") == "4" && detail("dml_mode") == "mor")
    assert(detail("num_files").toInt >= 1 && detail("size_bytes").toLong > 0)
    assert(detail("num_columns") == "3", s"k, v, x after widening: $detail")
    store.detach()
  }

  test("CHECK constraints: enforced in the write pass across every DML path") {
    val root = Files.createTempDirectory("graft_check").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    store.createOrReplace("db.acc", Seq((1, 100.0), (2, 50.0)).toDF("k", "bal"))

    spark.sql("ALTER TABLE db.acc ADD CONSTRAINT bal_nonneg CHECK (bal >= 0)")
    assert(store.checkConstraints("db.acc") == Map("bal_nonneg" -> "bal >= 0"))

    // adding a constraint existing rows violate fails up front
    val bad = intercept[Exception](
      spark.sql("ALTER TABLE db.acc ADD CONSTRAINT bal_big CHECK (bal > 60)"))
    assert(bad.getMessage.contains("existing row"))

    // violating writes abort on every path; the table never changes
    def stateUnchanged(): Unit =
      assert(store.read("db.acc").as[(Int, Double)].collect().toSet ==
        Set((1, 100.0), (2, 50.0)))
    val e1 = intercept[Exception](
      spark.sql("INSERT INTO db.acc VALUES (3, -5.0)"))
    assert(e1.getMessage.contains("bal_nonneg")); stateUnchanged()
    val e2 = intercept[Exception](
      spark.sql("UPDATE db.acc SET bal = bal - 200 WHERE k = 2"))
    assert(e2.getMessage.contains("bal_nonneg")); stateUnchanged()
    val e3 = intercept[Exception](
      store.merge("db.acc", Seq((9, -1.0)).toDF("k", "bal"), Seq("k"),
        notMatched = Seq(graft.operators.MergeInto.NotMatchedInsert(None,
          Map("k" -> col("s.k"), "bal" -> col("s.bal"))))))
    assert(e3.getMessage.contains("bal_nonneg")); stateUnchanged()
    assert(store.versions("db.acc") == Seq(1), "aborted writes left no version")

    // passing writes go through; mor DML enforces too
    spark.sql("UPDATE db.acc SET bal = bal + 10 WHERE k = 1")
    store.setDmlMode("db.acc", "mor")
    val e4 = intercept[Exception](
      spark.sql("UPDATE db.acc SET bal = -1.0 WHERE k = 2"))
    assert(e4.getMessage.contains("bal_nonneg"))
    assert(store.read("db.acc").as[(Int, Double)].collect().toSet ==
      Set((1, 110.0), (2, 50.0)))

    // NULL condition results pass (SQL semantics), and DROP lifts the gate
    spark.sql("ALTER TABLE db.acc DROP CONSTRAINT bal_nonneg")
    store.setDmlMode("db.acc", "cow")
    spark.sql("INSERT INTO db.acc VALUES (3, -5.0)")
    assert(store.read("db.acc").count() == 3)
    store.detach()
  }

  test("multi-table transaction commits all writes together or none") {
    val root = Files.createTempDirectory("graft_txn").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    store.createOrReplace("gold.fact", Seq((1, 10.0)).toDF("k", "amt"))
    store.createOrReplace("gold.dim", Seq((1, "a")).toDF("k", "nm"))

    // happy path: both tables move together
    store.transaction { txn =>
      txn.createOrReplace("gold.fact", Seq((1, 20.0), (2, 30.0)).toDF("k", "amt"))
      txn.append("gold.dim", Seq((2, "b")).toDF("k", "nm"))
    }
    assert(store.read("gold.fact").count() == 2)
    assert(store.read("gold.dim").count() == 2)

    // failure mid-transaction: the already-staged first write must vanish
    val boom = intercept[RuntimeException](store.transaction { txn =>
      txn.createOrReplace("gold.fact", Seq((9, 99.0)).toDF("k", "amt"))
      throw new RuntimeException("boom")
    })
    assert(boom.getMessage == "boom")
    assert(store.read("gold.fact").as[(Int, Double)].collect().toSet ==
      Set((1, 20.0), (2, 30.0)), "aborted transaction leaked a write")
    assert(store.versions("gold.fact").size == 2, "no phantom staged version")

    // concurrent writer between staging and commit: whole txn rolls back
    val cme = intercept[java.util.ConcurrentModificationException](
      store.transaction { txn =>
        txn.createOrReplace("gold.fact", Seq((7, 70.0)).toDF("k", "amt"))
        txn.createOrReplace("gold.dim", Seq((6, "f")).toDF("k", "nm"))
        // a non-transactional writer sneaks in AFTER the txn staged dim
        store.createOrReplace("gold.dim", Seq((5, "e")).toDF("k", "nm"))
      })
    assert(cme.getMessage.contains("rolled back"))
    assert(store.read("gold.fact").count() == 2, "fact write rolled back with the txn")
    assert(store.read("gold.dim").as[(Int, String)].collect().toSet == Set((5, "e")),
      "the concurrent writer's state survives")

    // double-write of one table is rejected up front
    val dup = intercept[IllegalArgumentException](store.transaction { txn =>
      txn.createOrReplace("gold.fact", Seq((1, 1.0)).toDF("k", "amt"))
      txn.createOrReplace("gold.fact", Seq((2, 2.0)).toDF("k", "amt"))
    })
    assert(dup.getMessage.contains("one write per table"))
    store.detach()
  }

  test("auto-compaction bounds small-file accumulation under streaming appends") {
    val root = Files.createTempDirectory("graft_autocompact").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    store.createOrReplace("bronze.feed", Seq((0, "seed")).toDF("id", "v"))
    store.setAutoCompact("bronze.feed", smallFiles = 4)

    (1 to 12).foreach { i =>
      store.append("bronze.feed", Seq((i, s"v$i")).toDF("id", "v"))
    }
    assert(store.read("bronze.feed").count() == 13, "all appended rows survive")
    val files = store.prunedFileList("bronze.feed", None).size
    assert(files < 13, s"auto-compaction never fired: $files files")
    assert(store.history("bronze.feed").exists(_._3 == "optimize"),
      "history records the inline compactions")
    // the streaming sink's exactly-once marker survives compaction commits
    graft.streaming.StreamingIngest.appendBatch(store, "bronze.feed")(
      Seq((100, "s")).toDF("id", "v"), 5L)
    graft.streaming.StreamingIngest.appendBatch(store, "bronze.feed")(
      Seq((101, "dup")).toDF("id", "v"), 5L)
    assert(store.read("bronze.feed").count() == 14, "replayed stream batch skipped")

    // ...and survives VACUUM retiring the manifests that carried it: a
    // replay arriving after a vacuum must still be detected
    store.vacuum("bronze.feed")
    assert(store.lastStreamBatch("bronze.feed").contains(5L),
      "vacuum erased the exactly-once high-water mark")
    graft.streaming.StreamingIngest.appendBatch(store, "bronze.feed")(
      Seq((102, "dup2")).toDF("id", "v"), 5L)
    assert(store.read("bronze.feed").count() == 14, "post-vacuum replay duplicated rows")
    store.detach()
  }

  test("append enforces the table schema; RESTORE SQL re-points a version") {
    val root = Files.createTempDirectory("graft_append_schema").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    store.createOrReplace("db.s", Seq((1, "a")).toDF("k", "v"))

    val missing = intercept[IllegalArgumentException](
      store.append("db.s", Seq(2).toDF("k")))
    assert(missing.getMessage.contains("missing v"))
    val extra = intercept[IllegalArgumentException](
      store.append("db.s", Seq((2, "b", 1.0)).toDF("k", "v", "w")))
    assert(extra.getMessage.contains("unexpected w"))
    // case/order-insensitive append aligns and casts
    store.append("db.s", Seq(("b", 2L)).toDF("V", "K"))
    assert(store.read("db.s").as[(Int, String)].collect().toSet == Set((1, "a"), (2, "b")))

    spark.sql("RESTORE TABLE db.s TO VERSION AS OF 1")
    assert(store.read("db.s").as[(Int, String)].collect().toSeq == Seq((1, "a")))
    assert(store.history("db.s").head._3 == "restore")
    val gone = intercept[Exception](spark.sql("RESTORE db.s TO VERSION AS OF 99"))
    assert(gone.getMessage.contains("no retained version"))

    // DROP TABLE removes the store table wholesale
    spark.sql("DROP TABLE db.s")
    assert(!store.exists("db.s"))
    val resolveGone = intercept[Exception](spark.sql("SELECT * FROM db.s").collect())
    assert(resolveGone.getMessage.toLowerCase.contains("table"), "table truly gone")
    store.detach()
  }

  test("two racing transactions on the same tables: exactly one commits") {
    val root = Files.createTempDirectory("graft_txn_race").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    store.createOrReplace("gold.a", Seq((0, "init")).toDF("k", "v"))
    store.createOrReplace("gold.b", Seq((0, "init")).toDF("k", "v"))

    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val staged = new CountDownLatch(2) // both txns staged before either commits
    def runner(tag: String) = pool.submit(new java.util.concurrent.Callable[Option[String]] {
      def call(): Option[String] =
        try {
          store.transaction { txn =>
            txn.createOrReplace("gold.a", Seq((1, tag)).toDF("k", "v"))
            txn.createOrReplace("gold.b", Seq((1, tag)).toDF("k", "v"))
            staged.countDown()
            // hold the commit until the other txn staged too — guarantees a
            // genuine write-write race on both tables
            staged.await(30, TimeUnit.SECONDS)
          }
          Some(tag)
        } catch { case _: java.util.ConcurrentModificationException => None }
    })
    val (r1, r2) = (runner("t1"), runner("t2"))
    val winners = Seq(r1.get(60, TimeUnit.SECONDS), r2.get(60, TimeUnit.SECONDS)).flatten
    pool.shutdown()
    assert(winners.size == 1, s"exactly one transaction must win, got $winners")
    val tag = winners.head
    // both tables hold the SAME winner — no torn cross-table state
    assert(store.read("gold.a").as[(Int, String)].head() == ((1, tag)))
    assert(store.read("gold.b").as[(Int, String)].head() == ((1, tag)))
    store.detach()
  }

  test("OPTIMIZE ZORDER BY gives file skipping on every curve column") {
    val root = Files.createTempDirectory("graft_zorder").toString
    val store = new TableStore(spark, root)
    // two independent uniform dimensions — sorted by a alone, pruning on b
    // would keep every file
    val df = spark.range(0, 40000).select(
      (col("id") % 200).as("a"), ((col("id") * 7919) % 200).as("b"))
    store.createOrReplace("db.z", df, sortWithin = Seq("a"), statsFor = Seq("a", "b"))
    store.compact("db.z", targetFiles = 16, zorderBy = Seq("a", "b"))

    val total = store.prunedFileList("db.z", None).size
    assert(total >= 8, s"zorder kept multiple files, got $total")
    val prunedA = store.prunedFileList("db.z", Some(col("a") === 7L)).size
    val prunedB = store.prunedFileList("db.z", Some(col("b") === 7L)).size
    assert(prunedA < total, s"a-predicate skips files ($prunedA/$total)")
    assert(prunedB < total, s"b-predicate skips files ($prunedB/$total)")

    // the rewrite is content-preserving
    assert(store.read("db.z").count() == 40000)
    assert(store.readWhere("db.z", col("a") === 7L).count() == 200)
    assert(store.readWhere("db.z", col("b") === 7L).count() ==
      (0L until 40000L).count(i => (i * 7919) % 200 == 7))

    // the SQL spelling executes and reports file counts
    val r = spark.sql("OPTIMIZE db.z ZORDER BY (a, b)").collect()(0)
    assert(r.getInt(1) == total && r.getInt(2) >= 1)
    assert(store.read("db.z").count() == 40000)
    store.detach()
  }

  test("incremental clustering: new files fold into the persisted curve, others untouched") {
    val root = Files.createTempDirectory("graft_zinc").toString
    val store = new TableStore(spark, root)
    val df = spark.range(0, 40000).select(
      (col("id") % 200).as("a"), ((col("id") * 7919) % 200).as("b"))
    store.createOrReplace("db.zi", df, statsFor = Seq("a", "b"))
    store.compact("db.zi", targetFiles = 16, zorderBy = Seq("a", "b"))
    val clustered = store.prunedFileList("db.zi", None).toSet

    // appended backlog: unclustered rows spanning the whole space
    store.append("db.zi", spark.range(40000, 48000).select(
      (col("id") % 200).as("a"), ((col("id") * 7919) % 200).as("b")))
    // a selective read now opens extra files (the unclustered appends)
    val withBacklog = store.prunedFileList("db.zi", Some(col("b") === 7L)).size

    store.clusterNew("db.zi", targetFiles = 4)
    val after = store.prunedFileList("db.zi", None).toSet
    // every originally-clustered file carried over physically
    assert(clustered.subsetOf(after), "clusterNew rewrote already-clustered files")
    // the backlog was re-clustered: selective reads shed the appended spread
    val afterPrune = store.prunedFileList("db.zi", Some(col("b") === 7L)).size
    assert(afterPrune < withBacklog,
      s"incremental pass should restore skipping ($afterPrune vs $withBacklog)")
    assert(store.read("db.zi").count() == 48000)
    assert(store.readWhere("db.zi", col("a") === 7L).count() == 240)

    // the WHERE-bounded SQL spelling re-clusters only candidate files
    store.append("db.zi", spark.range(48000, 49000).select(
      (col("id") % 200).as("a"), ((col("id") * 7919) % 200).as("b")))
    spark.sql("OPTIMIZE db.zi WHERE a >= 0 ZORDER BY (a, b)")
    assert(store.read("db.zi").count() == 49000)
    // repeat pass with no new files is a no-op commit-wise
    val v = store.version("db.zi")
    store.clusterNew("db.zi")
    assert(store.version("db.zi") == v, "clusterNew with no backlog must not commit")
    store.detach()
  }

  test("staged versions are invisible to every reader until the commit swaps") {
    val root = Files.createTempDirectory("graft_stage").toString
    val store = new TableStore(spark, root)
    val df = spark.range(0, 100).select(col("id").as("k"))
    store.createOrReplace("db.s", df)
    store.transaction { txn =>
      txn.append("db.s", spark.range(100, 150).select(col("id").as("k")))
      // the staged version's files + manifest exist on disk at this point,
      // but manifest-existence IS the commit signal — nothing may show it
      assert(store.versions("db.s") == Seq(1),
        "staged version leaked into versions()")
      assert(store.read("db.s").count() == 100,
        "staged rows readable before commit")
      assert(store.history("db.s").map(_._1) == Seq(1),
        "staged version leaked into DESCRIBE HISTORY")
    }
    assert(store.versions("db.s") == Seq(1, 2))
    assert(store.read("db.s").count() == 150)
    store.detach()
  }

  test("vacuum during a staging window leaves the in-flight commit intact") {
    val root = Files.createTempDirectory("graft_vacstage").toString
    val store = new TableStore(spark, root)
    val df = spark.range(0, 100).select(col("id").as("k"))
    store.createOrReplace("db.v", df)
    store.createOrReplace("db.v", df.withColumn("k", col("k") + 1000)) // v2
    store.transaction { txn =>
      txn.append("db.v", spark.range(0, 50).select(col("id").as("k")))
      // ADVICE scenario: a vacuum racing the (arbitrarily long) staging
      // window must not gut the staged directory — its data files carry
      // no committed manifest yet
      store.vacuum("db.v")
      assert(store.versions("db.v") == Seq(2), "vacuum kept only CURRENT")
    }
    assert(store.read("db.v").count() == 150,
      "vacuum deleted the in-flight staged files")
    // while crashed-writer junk past the retention gate is still collected
    val junk = java.nio.file.Paths.get(root, "db", "v", "v_99")
    Files.createDirectories(junk.resolve("data"))
    Files.write(junk.resolve("data").resolve("orphan.parquet"), Array[Byte](1))
    Files.setLastModifiedTime(junk,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 1))
    store.vacuum("db.v", staleStagingMs = 0L)
    assert(!Files.exists(junk), "aged-out crashed stage survived vacuum")
    assert(store.read("db.v").count() == 150)
    store.detach()
  }

  test("zorder caps interleaved bits below the long sign bit for wide keys") {
    val root = Files.createTempDirectory("graft_zwide").toString
    val store = new TableStore(spark, root)
    // 9 numeric columns: 8-bit interleave would wrap shiftleft mod 64 and
    // put bit 63 (the sign) in play — the cap shrinks bits to 63/9 = 7
    val cols = (0 until 9).map(i => ((col("id") * (i + 3)) % 97).as(s"c$i"))
    val df = spark.range(0, 20000).select(cols: _*)
    store.createOrReplace("db.w", df, statsFor = (0 until 9).map(i => s"c$i"))
    store.compact("db.w", targetFiles = 8, zorderBy = (0 until 9).map(i => s"c$i"))
    assert(store.read("db.w").count() == 20000)
    val total = store.prunedFileList("db.w", None).size
    val pruned = store.prunedFileList("db.w", Some(col("c0") === 7L)).size
    assert(pruned < total, s"9-col zorder still skips files ($pruned/$total)")
    store.detach()
  }

  test("RENAME COLUMN is metadata-only: no file touched, reads/pruning/DML speak the new name") {
    val root = Files.createTempDirectory("graft_colmap").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    val df = spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") % 7).as("grp"),
        concat(lit("v"), col("id")).as("v"))
      .repartition(4)
    store.createOrReplace("db.r", df, sortWithin = Seq("k"), statsFor = Seq("k"))
    val before = dataFiles(root, "db", "r")

    store.renameColumn("db.r", "k", "key_id")
    val after = dataFiles(root, "db", "r")
    assert(before == after, "rename rewrote or added data files")
    assert(store.read("db.r").columns.toSeq == Seq("key_id", "grp", "v"))
    assert(store.read("db.r").agg(sum(col("key_id"))).as[Long].head() == (0L until 1000).sum)

    // stats pruning works through the mapping: a selective predicate on
    // the NEW name opens fewer files than the table has
    val total = store.prunedFileList("db.r", None).size
    val pruned = store.prunedFileList("db.r", Some(col("key_id") === 3L)).size
    assert(pruned < total, s"pruning through rename ($pruned/$total)")
    assert(store.readWhere("db.r", col("key_id") === 3L).count() == 1)

    // DML in the new name space: pruned-CoW update, append, merge key
    store.update("db.r", col("key_id") === 3L, Map("v" -> lit("updated")))
    assert(store.read("db.r").filter(col("key_id") === 3L)
      .select(col("v")).as[String].head() == "updated")
    store.append("db.r", Seq((1000L, 1L, "v1000")).toDF("key_id", "grp", "v"))
    assert(store.read("db.r").count() == 1001)
    store.merge("db.r",
      Seq((1000L, 99L, "merged")).toDF("key_id", "grp", "v"),
      keys = Seq("key_id"),
      matched = Seq(graft.operators.MergeInto.MatchedUpdate(None,
        Map("grp" -> col("s.grp"), "v" -> col("s.v")))))
    assert(store.read("db.r").filter(col("key_id") === 1000L)
      .select(col("grp")).as[Long].head() == 99L)

    // appends using the OLD name must fail (it no longer exists)
    intercept[IllegalArgumentException] {
      store.append("db.r", Seq((2000L, 1L, "x")).toDF("k", "grp", "v"))
    }
    // the physical name cannot be reused while old files carry it
    intercept[IllegalArgumentException] {
      store.renameColumn("db.r", "grp", "k")
    }
    // renaming BACK to the physical name clears the mapping entry
    store.renameColumn("db.r", "key_id", "k")
    assert(store.read("db.r").columns.head == "k")

    // history records the renames as commits
    val ops = store.history("db.r").map(_._3)
    assert(ops.count(_ == "rename_column") == 2, s"ops were $ops")
    store.detach()
  }

  test("DROP COLUMN is metadata-only; SQL ALTER rename/drop route through the store") {
    val root = Files.createTempDirectory("graft_colmap2").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    store.createOrReplace("db.d",
      spark.range(0, 100).select(col("id").as("k"), (col("id") * 2).as("twice"),
        concat(lit("v"), col("id")).as("v")))
    val before = dataFiles(root, "db", "d")

    spark.sql("ALTER TABLE db.d DROP COLUMN twice")
    assert(dataFiles(root, "db", "d") == before, "drop rewrote data files")
    assert(store.read("db.d").columns.toSeq == Seq("k", "v"))

    // a dropped column's physical name stays reserved (old files carry it)
    intercept[IllegalArgumentException] {
      store.addColumns("db.d", StructType(Seq(StructField("twice", LongType))))
    }

    // SQL rename over the mapped table; reads + SQL DML use the new name
    spark.sql("ALTER TABLE db.d RENAME COLUMN v TO label")
    assert(store.read("db.d").columns.toSeq == Seq("k", "label"))
    spark.sql("UPDATE db.d SET label = 'x' WHERE k < 10")
    assert(store.read("db.d").filter(col("label") === "x").count() == 10)

    // appends NULL-fill nothing and never resurrect the dropped column
    store.append("db.d", Seq((100L, "v100")).toDF("k", "label"))
    assert(store.read("db.d").count() == 101)

    // a shallow clone carries the mapping
    store.cloneTo("db.d", "db.d2")
    assert(store.read("db.d2").columns.toSeq == Seq("k", "label"))

    // the DSv2 batch source reads the logical view (positional mapping)
    val viaSource = spark.read.format("graft-table")
      .option("root", root).option("table", "db.d").load()
    assert(viaSource.columns.toSeq == Seq("k", "label"))
    assert(viaSource.agg(sum(col("k"))).as[Long].head() ==
      store.read("db.d").agg(sum(col("k"))).as[Long].head())
    store.detach()
  }

  test("generated columns: derived on every write path, dependencies rename-protected") {
    val root = Files.createTempDirectory("graft_gencol").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    store.createOrReplace("db.gc",
      spark.range(0, 100).select(col("id").as("k"), (col("id") * 3).as("amount")))
    store.addColumns("db.gc", StructType(Seq(StructField("doubled", LongType))))
    store.setGeneratedColumn("db.gc", "doubled", "amount * 2")

    // append WITHOUT the generated column: derived
    store.append("db.gc", Seq((100L, 7L)).toDF("k", "amount"))
    assert(store.read("db.gc").filter($"k" === 100L).select($"doubled").as[Long].head() == 14L)
    // append WITH a wrong explicit value: always-derive overwrites it
    store.append("db.gc", Seq((101L, 5L, 999L)).toDF("k", "amount", "doubled"))
    assert(store.read("db.gc").filter($"k" === 101L).select($"doubled").as[Long].head() == 10L)
    // dependency update recomputes in the same rewrite
    store.update("db.gc", $"k" === 100L, Map("amount" -> lit(8L)))
    assert(store.read("db.gc").filter($"k" === 100L).select($"doubled").as[Long].head() == 16L)
    // the dependency cannot be renamed or dropped out from under the expression
    intercept[IllegalArgumentException] { store.renameColumn("db.gc", "amount", "amt") }
    intercept[IllegalArgumentException] { store.dropColumn("db.gc", "amount") }
    // the generated column itself CAN be renamed; generation follows it
    store.renameColumn("db.gc", "doubled", "twice_amount")
    store.append("db.gc", Seq((102L, 9L)).toDF("k", "amount"))
    assert(store.read("db.gc").filter($"k" === 102L)
      .select($"twice_amount").as[Long].head() == 18L)
    // a REPLACE that removes the dependency drops the stale declaration
    store.createOrReplace("db.gc", Seq((1L, "x")).toDF("k", "v"))
    assert(store.generatedColumns("db.gc").isEmpty)
    store.detach()
  }

  test("VACUUM RETAIN keeps the retention window time-travelable") {
    val root = Files.createTempDirectory("graft_vacr").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    store.createOrReplace("db.vr", Seq((1L, "a")).toDF("k", "v"))
    store.append("db.vr", Seq((2L, "b")).toDF("k", "v"))
    store.append("db.vr", Seq((3L, "c")).toDF("k", "v"))
    // within the retention window every snapshot survives the vacuum
    spark.sql("VACUUM db.vr RETAIN 168 HOURS")
    assert(store.versions("db.vr") == Seq(1, 2, 3), "retained versions keep manifests")
    assert(store.readVersion("db.vr", 1).count() == 1, "time travel inside the window works")
    assert(store.readVersion("db.vr", 2).count() == 2)
    // a zero-retention vacuum retires everything but the current snapshot
    spark.sql("VACUUM db.vr")
    assert(store.versions("db.vr") == Seq(3))
    assert(store.read("db.vr").count() == 3)
    store.detach()
  }

  test("OPTIMIZE WHERE compacts only the predicate's candidate files") {
    val root = Files.createTempDirectory("graft_optw").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    // sorted-by-k files → selective per-file k ranges; many small appends
    store.createOrReplace("db.ow",
      spark.range(0, 1000).select(col("id").as("k"), col("id").cast("string").as("v")),
      sortWithin = Seq("k"))
    (0 until 6).foreach { i =>
      store.append("db.ow", spark.range(1000 + i * 100, 1100 + i * 100)
        .select(col("id").as("k"), col("id").cast("string").as("v")))
    }
    val before = dataFiles(root, "db", "ow")
    val filesBefore = store.prunedFileList("db.ow", None).size
    val lowFiles = store.prunedFileList("db.ow", Some(col("k") < 1000L)).toSet

    spark.sql("OPTIMIZE db.ow WHERE k >= 1000")
    val after = dataFiles(root, "db", "ow")
    // the low-range files survive bit-identically
    before.foreach { case (rel, mtime) =>
      if (lowFiles.exists(rel.endsWith)) {
        assert(after.contains(rel) && after(rel) == mtime,
          s"OPTIMIZE WHERE must not touch out-of-range file $rel")
      }
    }
    val filesAfter = store.prunedFileList("db.ow", None).size
    assert(filesAfter < filesBefore, s"high range should consolidate ($filesBefore -> $filesAfter)")
    assert(store.read("db.ow").count() == 1600)
    assert(store.read("db.ow").agg(sum(col("k"))).as[Long].head() == (0L until 1600L).sum)
    store.detach()
  }

  test("identity columns: block-allocated, unique across appends, ALWAYS-enforced") {
    val root = Files.createTempDirectory("graft_ident").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    store.createOrReplace("db.i",
      spark.range(0, 0).select(col("id").as("ik"), col("id").cast("string").as("v")))
    store.setIdentity("db.i", "ik", start = 100L, step = 5L)

    store.append("db.i", (0 until 20).map(i => s"a$i").toDF("v").repartition(4))
    store.append("db.i", (0 until 13).map(i => s"b$i").toDF("v").repartition(3))
    val ids = store.read("db.i").select($"ik").as[Long].collect().sorted
    assert(ids.length == 33 && ids.distinct.length == 33, "identity keys must be unique")
    assert(ids.toSeq == (0 until 33).map(i => 100L + 5L * i), "contiguous arithmetic sequence")
    assert(store.identityColumn("db.i").map(_._4).contains(33L), "high-water advanced")

    // ALWAYS semantics: explicit values refuse
    intercept[IllegalArgumentException] {
      store.append("db.i", Seq((999L, "x")).toDF("ik", "v"))
    }
    // CoW rewrites carry existing keys untouched
    store.update("db.i", $"v" === "a0", Map("v" -> lit("a0+")))
    val ids2 = store.read("db.i").select($"ik").as[Long].collect().sorted
    assert(ids2.toSeq == ids.toSeq, "DML must never reassign identity keys")
    store.detach()
  }

  test("identity append runs one counting pass + one write — no extra materialization job") {
    val root = Files.createTempDirectory("graft_ident_jobs").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    store.createOrReplace("db.ij",
      spark.range(0, 0).select(col("id").as("ik"), col("id").cast("string").as("v")))
    store.setIdentity("db.ij", "ik", start = 1L, step = 1L)
    // count only THIS thread's jobs (tagged via job group): suites run
    // concurrently against the shared context, and a neighbor suite's job
    // landing mid-append must not inflate the count
    val group = s"graft-ident-probe-${System.nanoTime()}"
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties)
            .exists(p => group == p.getProperty("spark.jobGroup.id")))
          counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val jobs = try {
      spark.sparkContext.setJobGroup(group, "identity append probe")
      // shuffle-free 4-partition source: a repartition here would add an
      // AQE exchange-materialization job and blur the identity-path count
      store.append("db.ij",
        spark.range(0, 50, 1, 4).select(concat(lit("r"), col("id")).as("v")))
      org.apache.spark.sql.GraftShims.waitListenerBusEmpty(spark)
      counter.get()
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    // the count pass (which populates the cache) and the keyed write; a
    // third job means the redundant count()/zipWithIndex materialization
    // crept back into the identity path
    assert(jobs <= 2,
      s"identity append ran $jobs jobs; expected the count pass + the keyed write only")
    assert(store.read("db.ij").select($"ik").as[Long].collect().sorted.toSeq
      == (1L to 50L), "keys still a contiguous arithmetic sequence")
    store.detach()
  }

  test("identity high-water: concurrent appends claim disjoint blocks — no duplicate keys") {
    val root = Files.createTempDirectory("graft_ident_conc").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    store.createOrReplace("db.ic",
      spark.range(0, 0).select(col("id").as("ik"), col("id").cast("string").as("v")))
    store.setIdentity("db.ic", "ik")

    // 4 writers × 25 rows, racing: the block claim is serialized under the
    // commit lock, so keys never collide even when a loser's COMMIT must
    // retry (burned ranges may leave gaps — that is the documented trade)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    def appendWithRetry(tag: String): Unit = {
      var done = false
      while (!done) {
        try { store.append("db.ic", (0 until 25).map(i => s"$tag$i").toDF("v")); done = true }
        catch { case _: java.util.ConcurrentModificationException => () }
      }
    }
    Await.result(Future.sequence((1 to 4).map(t => Future(appendWithRetry(s"t$t")))), Duration.Inf)

    val ids = store.read("db.ic").select($"ik").as[Long].collect()
    assert(ids.length == 100, s"all rows landed (${ids.length})")
    assert(ids.distinct.length == 100, "identity keys must be unique under concurrency")
    val issued = store.identityColumn("db.ic").map(_._4).get
    assert(issued >= 100L, s"high-water covers every issued key ($issued)")
    assert(ids.max <= 1L + (issued - 1L), "no key beyond the claimed high-water")
    store.detach()
  }

  test("rename refuses constraint/PK-referenced and colliding names") {
    val root = Files.createTempDirectory("graft_colmap3").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    store.createOrReplace("db.g",
      spark.range(0, 10).select(col("id").as("a"), col("id").as("b")))
    store.addCheckConstraint("db.g", "pos_a", "a >= 0")
    intercept[IllegalArgumentException] { store.renameColumn("db.g", "a", "a2") }
    intercept[IllegalArgumentException] { store.renameColumn("db.g", "b", "a") }
    intercept[IllegalArgumentException] { store.renameColumn("db.g", "nope", "x") }
    store.dropCheckConstraint("db.g", "pos_a")
    store.renameColumn("db.g", "a", "a2") // now allowed
    assert(store.read("db.g").columns.toSeq == Seq("a2", "b"))
    intercept[IllegalArgumentException] { store.dropColumn("db.g", "a2");
      store.dropColumn("db.g", "b") } // cannot drop the last column
    store.detach()
  }

  test("change feed: update images, deletes, inserts and merge clauses, across cow and mor") {
    val root = Files.createTempDirectory("graft_cdf").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    store.createOrReplace("db.cf",                                         // v1
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("k", "v", "x"))
    store.enableChangeFeed("db.cf")
    store.update("db.cf", col("k") === 2L, Map("x" -> lit(99L)))           // v2
    store.delete("db.cf", col("k") === 3L)                                 // v3
    store.append("db.cf", Seq((4L, "d", 40L)).toDF("k", "v", "x"))         // v4
    store.merge("db.cf", Seq((1L, "A", 11L), (5L, "e", 50L)).toDF("k", "v", "x"), // v5
      Seq("k"),
      matched = Seq(graft.operators.MergeInto.MatchedUpdate(None,
        Map("v" -> col("s.v"), "x" -> col("s.x")))),
      notMatched = Seq(graft.operators.MergeInto.NotMatchedInsert(None,
        Map("k" -> col("s.k"), "v" -> col("s.v"), "x" -> col("s.x")))))

    val feed = store.changeFeed("db.cf", 1, 5)
      .select($"_commit_version", $"_change_type", $"k", $"v", $"x")
      .as[(Int, String, Long, String, Long)].collect().toSet
    assert(feed == Set(
      (2, "update_preimage", 2L, "b", 20L), (2, "update_postimage", 2L, "b", 99L),
      (3, "delete", 3L, "c", 30L),
      (4, "insert", 4L, "d", 40L),
      (5, "update_preimage", 1L, "a", 10L), (5, "update_postimage", 1L, "A", 11L),
      (5, "insert", 5L, "e", 50L)), s"feed was $feed")

    // feed from table creation: v1 rows appear as inserts
    assert(store.changeFeed("db.cf", 0, 1).count() == 3)
    // a rewriting DML from BEFORE enablement refuses instead of guessing
    store.createOrReplace("db.cf2", Seq((1L, "a")).toDF("k", "v"))
    store.update("db.cf2", col("k") === 1L, Map("v" -> lit("b")))
    intercept[IllegalStateException] { store.changeFeed("db.cf2", 1, 2).count() }

    // mor mode records the same images without rewriting any file
    store.createOrReplace("db.cfm", Seq((1L, 1L), (2L, 2L)).toDF("k", "x"))
    store.enableChangeFeed("db.cfm")
    store.setDmlMode("db.cfm", "mor")
    store.update("db.cfm", col("k") === 1L, Map("x" -> lit(5L)))
    store.delete("db.cfm", col("k") === 2L)
    val morFeed = store.changeFeed("db.cfm", 1, 3)
      .select($"_commit_version", $"_change_type", $"k", $"x")
      .as[(Int, String, Long, Long)].collect().toSet
    assert(morFeed == Set(
      (2, "update_preimage", 1L, 1L), (2, "update_postimage", 1L, 5L),
      (3, "delete", 2L, 2L)), s"mor feed was $morFeed")
    store.detach()
  }

  test("MERGE discovery stats-prunes candidate files by the source key range") {
    val root = Files.createTempDirectory("graft_mprune").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    // key-clustered target: 8 range-partitioned files, each a narrow k band
    val df = spark.range(0, 10000)
      .select(col("id").as("k"), (col("id") % 5).as("grp"), lit("old").as("v"))
      .repartitionByRange(8, col("k"))
    store.createOrReplace("db.mp", df, sortWithin = Seq("k"), statsFor = Seq("k"))
    val total = store.prunedFileList("db.mp", None).size
    val before = dataFiles(root, "db", "mp").keySet

    // small batch confined to one key band: discovery must not scan the table
    val src = Seq((5L, "new5"), (7L, "new7"), (10001L, "ins")).toDF("k", "v")
    val (cand, tot) = store.merge("db.mp", src, Seq("k"),
      matched = Seq(graft.operators.MergeInto.MatchedUpdate(None, Map("v" -> col("s.v")))),
      notMatched = Seq(graft.operators.MergeInto.NotMatchedInsert(None,
        Map("k" -> col("s.k"), "grp" -> lit(-1L), "v" -> col("s.v")))))

    assert(tot == total, s"discovery saw a different manifest ($tot vs $total)")
    assert(cand < tot, s"merge discovery scanned every file ($cand/$tot)")
    // untouched band files carried over physically (no rewrite)
    val after = dataFiles(root, "db", "mp").keySet
    assert(before.intersect(after).size >= total - cand,
      "merge rewrote files outside the discovery candidate set")
    // semantics intact
    assert(store.read("db.mp").filter(col("k") === 5L)
      .select(col("v")).as[String].head() == "new5")
    assert(store.read("db.mp").filter(col("k") === 10001L).count() == 1)
    assert(store.read("db.mp").filter(col("v") === "old").count() == 9998)

    // multi-match still errors through the pruned inner-join discovery
    intercept[IllegalStateException] {
      store.merge("db.mp", Seq((5L, "a"), (5L, "b")).toDF("k", "v"), Seq("k"),
        matched = Seq(graft.operators.MergeInto.MatchedUpdate(None, Map("v" -> col("s.v")))))
    }
    // an all-NULL-key source can match nothing: no file rewritten, inserts still land
    val nullSrc = Seq((Option.empty[Long], "nul")).toDF("k", "v")
    val (nullCand, _) = store.merge("db.mp", nullSrc, Seq("k"),
      matched = Seq(graft.operators.MergeInto.MatchedUpdate(None, Map("v" -> col("s.v")))))
    assert(nullCand == 0, "all-NULL key source should scan 0 files")
    assert(store.read("db.mp").filter(col("v") === "old").count() == 9998)
    store.detach()
  }

  test("point-pruned read: narrow boxes skip, blind files survive, null keys drop") {
    val root = Files.createTempDirectory("graft_ptprune").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    // 16 range-clustered files with k stats
    store.createOrReplace("db.pp",
      spark.range(0, 16000).select(col("id").as("k"), lit("v").as("v"))
        .repartitionByRange(16, col("k")),
      sortWithin = Seq("k"), statsFor = Seq("k"))
    // plus one stats-BLIND file (appended without k in the stats layout):
    // simulate by appending through a layout that lacks k stats
    val probe = Seq(Some(5L), Some(9500L), Option.empty[Long]).toDF("k")
    val (df, (cand, tot)) = store.readPointPruned("db.pp", probe, Seq("k"))
    assert(tot == 16, s"manifest total $tot")
    // two non-null points -> at most 2 boxes (+boundary ties), never all
    assert(cand <= 4 && cand >= 2, s"expected 2-4 candidates, got $cand")
    // the pruned scan still contains both probe keys' rows
    assert(df.filter(col("k") === 5L || col("k") === 9500L).count() == 2)
    // a probe on a column with no stats anywhere prunes nothing
    val (_, (cv, tv)) = store.readPointPruned("db.pp", probe, Seq("v"))
    assert(cv == tv, "no-stats column must scan everything (conservative)")
    // an all-null probe matches nothing: zero candidate files
    val nullProbe = Seq(Option.empty[Long]).toDF("k")
    val (dfn, (cn, _)) = store.readPointPruned("db.pp", nullProbe, Seq("k"))
    assert(cn == 0 && dfn.count() == 0, "all-NULL probe should scan no files")
    store.detach()
  }

  test("matched-only MERGE discovery joins INNER; by-source discovery joins left-outer") {
    val root = Files.createTempDirectory("graft_mjoin").toString
    // an ISOLATED session (shared context, own listenerManager): the plan
    // capture below must not see merges that OTHER concurrently-running
    // suites execute on the base session
    val session = spark.newSession()
    val store = new TableStore(session, root)
    import session.implicits._
    store.createOrReplace("db.mj",
      session.range(0, 1000).select(col("id").as("k"), lit("old").as("v")))
    // capture every executed plan during the merge; the discovery query is
    // the only one grouping by the hidden (__graft_file, __graft_pos) pair
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    session.listenerManager.register(ql)
    try {
      import graft.operators.MergeInto
      // matched + insert (the reference's SCD upsert shape, no by-source
      // clause): discovery must INNER-join so its shuffle is bounded by the
      // source batch, not the candidate files
      store.merge("db.mj", Seq((5L, "n5"), (2000L, "ins")).toDF("k", "v"), Seq("k"),
        matched = Seq(MergeInto.MatchedUpdate(None, Map("v" -> col("s.v")))),
        notMatched = Seq(MergeInto.NotMatchedInsert(None,
          Map("k" -> col("s.k"), "v" -> col("s.v")))))
      org.apache.spark.sql.GraftShims.waitListenerBusEmpty(session)
      import scala.jdk.CollectionConverters._
      val disc = plans.asScala.filter(p =>
        p.contains("__graft_pos") && p.contains("Join")).toSeq
      assert(disc.nonEmpty, "no discovery plan captured for the matched-only merge")
      assert(disc.forall(p => !p.contains("LeftOuter")),
        s"matched-only discovery must not left-outer join:\n${disc.head.take(1500)}")
      assert(disc.exists(_.contains("Inner")),
        s"matched-only discovery must inner-join:\n${disc.head.take(1500)}")

      plans.clear()
      // a by-source clause must see UNmatched target rows: left-outer stays
      store.merge("db.mj", Seq((5L, "x5")).toDF("k", "v"), Seq("k"),
        matched = Seq(MergeInto.MatchedUpdate(None, Map("v" -> col("s.v")))),
        notMatchedBySource = Seq(MergeInto.BySourceDelete(Some(col("t.k") > 990))))
      org.apache.spark.sql.GraftShims.waitListenerBusEmpty(session)
      val disc2 = plans.asScala.filter(p =>
        p.contains("__graft_pos") && p.contains("Join")).toSeq
      assert(disc2.exists(_.contains("LeftOuter")),
        "by-source discovery must left-outer join to see unmatched rows")
      // semantics held through both merges
      assert(store.read("db.mj").filter(col("k") === 5L)
        .select(col("v")).as[String].head() == "x5")
      assert(store.read("db.mj").filter(col("k") > 990).count() == 0,
        "by-source delete removed every unmatched k>990 (991-999 and 2000)")
    } finally {
      session.listenerManager.unregister(ql)
      store.detach()
    }
  }

  test("bloom filter index skips files whose min/max box admits the key") {
    val root = Files.createTempDirectory("graft_bloom").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    // four files with fully-OVERLAPPING [min, max] key ranges but disjoint
    // key sets (residues 0/5/10/15 mod 20) — the adversarial layout for
    // min/max skipping: every point lookup falls inside every file's box
    def keys = spark.range(0, 400).select(
      ((col("id") / 4).cast("long") * 20 + (col("id") % 4) * 5).as("k"),
      ((col("id") % 4) * 5).as("par"), lit("x").as("v")).coalesce(1)
    store.createOrReplace("db.b", keys, partitionBy = Seq("par"), statsFor = Seq("k"))
    store.setBloomFilterIndex("db.b", Seq("k"), ndv = 1000)
    assert(store.detail("db.b")("bloom_filter_columns") == "k")
    // the index applies from the NEXT write — rewrite to embed the blooms
    store.createOrReplace("db.b", keys, partitionBy = Seq("par"), statsFor = Seq("k"))
    assert(store.prunedFileList("db.b", None).size == 4)

    // min/max alone keeps every file for any in-range key; the bloom
    // proves 20 lives only in the residue-0 file, 25 only in residue-5
    assert(store.prunedFileList("db.b", Some(col("k") === 20L)).size == 1)
    assert(store.prunedFileList("db.b", Some(col("k") === 25L)).size == 1)
    // in-range but absent from EVERY file → zero candidates
    assert(store.prunedFileList("db.b", Some(col("k") === 13L)).isEmpty)
    // non-equality predicates are untouched by the bloom stage
    assert(store.prunedFileList("db.b", Some(col("k") >= 0L)).size == 4)

    // DELETE rewrites only the bloom-hit file; the other survives bit-identically
    val before = dataFiles(root, "db", "b")
    store.delete("db.b", col("k") === 20L)
    val after = dataFiles(root, "db", "b")
    val survivors = before.keySet.filter(rel =>
      after.contains(rel) && after(rel) == before(rel))
    assert(survivors.size >= 3, s"bloom-pruned DELETE rewrote ${4 - survivors.size} files")
    assert(store.read("db.b").count() == 399)
    // absent key → DELETE proves no-match from metadata, commits nothing
    val vBefore = store.versions("db.b")
    store.delete("db.b", col("k") === 13L)
    assert(store.versions("db.b") == vBefore, "bloom-provably-absent DELETE committed")

    // MERGE's per-tuple candidate cut consults the blooms too: a source
    // touching only residue-0 keys scans 1 of 4 files
    val src = Seq((40L, "T"), (60L, "T")).toDF("k", "v")
    val (cand, tot) = store.merge("db.b", src, Seq("k"),
      matched = Seq(graft.operators.MergeInto.MatchedUpdate(None, Map("v" -> col("s.v")))))
    assert(tot == 4 && cand == 1, s"bloom-aware merge discovery scanned $cand/$tot files")
    assert(store.read("db.b").filter(col("v") === "T").count() == 2)

    // SQL surface + rename protection
    spark.sql("DROP BLOOMFILTER INDEX ON TABLE db.b")
    assert(store.detail("db.b")("bloom_filter_columns").isEmpty)
    spark.sql("CREATE BLOOMFILTER INDEX ON TABLE db.b FOR COLUMNS(k) OPTIONS (numItems = 500)")
    assert(store.detail("db.b")("bloom_filter_columns") == "k")
    intercept[IllegalArgumentException] { store.renameColumn("db.b", "k", "kk") }
    store.detach()
  }

  test("COPY INTO loads each source file exactly once, across re-runs and vacuum") {
    val root = Files.createTempDirectory("graft_copy").toString
    val store = new TableStore(spark, root)
    val land = Files.createTempDirectory("graft_land")
    spark.range(0, 100).select(col("id").as("k"), lit("a").as("src"))
      .coalesce(1).write.parquet(land.resolve("batch1").toString)
    spark.range(100, 250).select(col("id").as("k"), lit("b").as("src"))
      .coalesce(1).write.parquet(land.resolve("batch2").toString)
    store.createOrReplace("db.c",
      spark.range(0, 0).select(col("id").as("k"), lit("").as("src")))

    val (f1, r1) = store.copyInto("db.c", land.toString)
    assert(f1 == 2 && r1 == 250, s"first copy loaded ($f1, $r1)")
    assert(store.read("db.c").count() == 250)
    // replaying the same statement is a no-op (file-level idempotence)
    val (f2, r2) = store.copyInto("db.c", land.toString)
    assert(f2 == 0 && r2 == 0, s"replay loaded ($f2, $r2)")
    // a file landing later loads ALONE
    spark.range(250, 300).select(col("id").as("k"), lit("c").as("src"))
      .coalesce(1).write.parquet(land.resolve("batch3").toString)
    val (f3, r3) = store.copyInto("db.c", land.toString)
    assert(f3 == 1 && r3 == 50, s"incremental copy loaded ($f3, $r3)")
    assert(store.read("db.c").count() == 300)
    assert(store.read("db.c").select(col("k")).distinct().count() == 300)
    // vacuum retires the loading commits; the folded ledger still gates
    store.vacuum("db.c")
    val (f4, _) = store.copyInto("db.c", land.toString)
    assert(f4 == 0, s"post-vacuum replay loaded $f4 files")
    // SQL surface: PATTERN filters, metrics row comes back
    val out = spark.sql(
      s"COPY INTO db.c FROM '$land' FILEFORMAT = PARQUET PATTERN = 'nothing/*'")
      .collect()
    assert(out.head.getLong(0) == 0L)
    // force reloads everything (the documented duplicate-on-purpose path)
    val outF = spark.sql(
      s"COPY INTO db.c FROM '$land' FILEFORMAT = PARQUET COPY_OPTIONS ('force' = 'true')")
      .collect()
    assert(outF.head.getLong(0) == 3L && outF.head.getLong(1) == 300L)
    assert(store.read("db.c").count() == 600)
    store.detach()
  }

  test("merge keys self-record into the stats layout; OPTIMIZE backfills the skip") {
    val root = Files.createTempDirectory("graft_adapt").toString
    val store = new TableStore(spark, root)
    import spark.implicits._
    // range-clustered files but NO declared stats anywhere: the first
    // merge cannot prune its discovery
    val df = spark.range(0, 10000)
      .select(col("id").as("k"), lit("old").as("v"))
      .repartitionByRange(8, col("k"))
    store.createOrReplace("db.a", df)
    def mergeBatch(ks: Seq[Long]): (Int, Int) =
      store.merge("db.a", ks.map(k => (k, "new")).toDF("k", "v"), Seq("k"),
        matched = Seq(graft.operators.MergeInto.MatchedUpdate(None, Map("v" -> col("s.v")))))
    val (c1, t1) = mergeBatch(Seq(5L, 7L))
    assert(c1 == t1, s"first merge should have no stats to prune with ($c1/$t1)")
    // the merge recorded k into the layout; OPTIMIZE rewrites every file
    // under that layout, backfilling k stats table-wide
    store.compact("db.a", targetFiles = 8)
    val (c2, t2) = mergeBatch(Seq(11L, 13L))
    assert(c2 < t2, s"post-OPTIMIZE merge discovery did not prune ($c2/$t2)")
    assert(store.read("db.a").filter(col("v") === "new").count() == 4)
    store.detach()
  }

  test("target file rows cap splits oversized writes") {
    val root = Files.createTempDirectory("graft_tfr").toString
    val store = new TableStore(spark, root)
    store.createOrReplace("db.t", spark.range(0, 100).select(col("id").as("k")))
    store.setTargetFileRows("db.t", 1000)
    store.createOrReplace("db.t",
      spark.range(0, 10000).select(col("id").as("k")).coalesce(1))
    val files = store.prunedFileList("db.t", None)
    assert(files.size >= 10, s"10k rows at cap 1000 wrote ${files.size} files")
    assert(store.read("db.t").count() == 10000)
    store.detach()
  }

  test("generated partition column: predicates on the BASE column prune files") {
    val root = Files.createTempDirectory("graft_genprune").toString
    val store = new TableStore(spark, root)
    // day-partitioned by a DERIVED column (day = ts/1000) — the classic
    // timestamp-partitioned layout; stats for the base ts column ride the
    // write automatically as a generation dependency
    val df = spark.range(0, 10000).select(
      col("id").as("ts"), (col("id") / 1000).cast("long").as("day"),
      lit("e").as("v")).coalesce(1)
    store.createOrReplace("db.g", df, partitionBy = Seq("day"))
    store.setGeneratedColumn("db.g", "day", "CAST(ts / 1000 AS BIGINT)")
    // rewrite under the declaration: the write derives day AND collects
    // ts stats per file
    store.createOrReplace("db.g", df.drop("day"), partitionBy = Seq("day"))
    val total = store.prunedFileList("db.g", None).size
    assert(total == 10, s"expected 10 day files, got $total")
    // a predicate on ts alone — no mention of day — prunes to one file
    val hit = store.prunedFileList("db.g",
      Some(col("ts") >= 2100L && col("ts") <= 2200L))
    assert(hit.size == 1, s"ts predicate pruned to ${hit.size} files")
    // appends derive the partition column and keep collecting base stats
    store.append("db.g", spark.range(10000, 11000)
      .select(col("id").as("ts"), lit("n").as("v")).coalesce(1))
    assert(store.prunedFileList("db.g",
      Some(col("ts") >= 10100L && col("ts") <= 10200L)).size == 1)
    assert(store.read("db.g").count() == 11000)
    store.detach()
  }

  test("COPY INTO CSV types rows by the table schema") {
    val root = Files.createTempDirectory("graft_copy_csv").toString
    val store = new TableStore(spark, root)
    val land = Files.createTempDirectory("graft_land_csv")
    Files.write(land.resolve("a.csv"), "k,v\n1,x\n2,y\n".getBytes)
    store.createOrReplace("db.csv",
      spark.range(0, 0).select(col("id").as("k"), lit("").as("v")))
    val (f, r) = store.copyInto("db.csv", land.toString, format = "csv")
    assert(f == 1 && r == 2)
    assert(store.read("db.csv").schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(store.read("db.csv").agg(sum(col("k"))).head().getLong(0) == 3L)
    store.detach()
  }

  test("deep clone is physically independent: source DML, vacuum and drop leave it intact") {
    val root = Files.createTempDirectory("graft_deep").toString
    val store = new TableStore(spark, root)
    store.createOrReplace("db.src",
      spark.range(0, 500).select(col("id").as("k"), (col("id") % 5).as("g")),
      partitionBy = Seq("g"))
    store.deepCloneTo("db.src", "db.deep")
    assert(store.read("db.deep").count() == 500)
    assert(store.history("db.deep").head._3 == "deep_clone")

    // rewrite + vacuum + drop the SOURCE — the clone owns its own files
    store.delete("db.src", col("g") === 2L)
    store.vacuum("db.src", staleStagingMs = 0L)
    store.dropTable("db.src")
    assert(store.read("db.deep").count() == 500)
    assert(store.readWhere("db.deep", col("g") === 2L).count() == 100)
    store.detach()
  }

  test("deep clone commits as the clone's version 1: change feed, DVs and a shallow source " +
      "carry over") {
    val root = Files.createTempDirectory("graft_deep_v1").toString
    val store = new TableStore(spark, root)
    def rows(lo: Long, hi: Long) =
      spark.range(lo, hi).select(col("id").as("k"), (col("id") % 4).as("g"))
    // the source's files span two version directories (v_1 and v_2), and a
    // merge-on-read delete leaves a deletion vector over v_1's files
    store.createOrReplace("db.src", rows(0, 100))
    store.append("db.src", rows(100, 120))
    store.setDmlMode("db.src", "mor")
    store.delete("db.src", col("k") < 10L)
    store.deepCloneTo("db.src", "db.deep")
    assert(store.versions("db.deep") == Seq(1))
    assert(store.changeFeed("db.deep", 0, 1)
      .filter(col("_change_type") === "insert").count() == 110)
    store.dropTable("db.src")
    assert(store.read("db.deep").count() == 110)
    assert(store.read("db.deep").filter(col("k") < 10L).isEmpty)
    // a deep clone of a shallow clone copies the files its `../` paths name
    store.createOrReplace("db.plain", rows(0, 30))
    store.cloneTo("db.plain", "db.shallow")
    store.deepCloneTo("db.shallow", "db.deep2")
    store.dropTable("db.plain")
    store.dropTable("db.shallow")
    assert(store.versions("db.deep2") == Seq(1))
    assert(store.read("db.deep2").count() == 30)
    store.detach()
  }

  test("a shallow clone of a deletion-vector table keeps the deletes; its own DVs compose") {
    val root = Files.createTempDirectory("graft_clone_dv").toString
    val store = new TableStore(spark, root)
    try {
      store.createOrReplace("db.src", spark.range(0, 100).select(col("id").as("k")))
      store.setDmlMode("db.src", "mor")
      store.delete("db.src", col("k") < 10L)
      assert(store.read("db.src").count() == 90)
      // the DV names its rows' files relative to db.src, while the clone's
      // entries are `../src/…`
      store.cloneTo("db.src", "db.clone")
      assert(store.read("db.clone").count() == 90)
      // the clone's own mor delete over the source's files adds a DV of
      // its own on top of the inherited one
      store.delete("db.clone", col("k") >= 90L)
      assert(store.read("db.clone").count() == 80)
      assert(store.read("db.src").count() == 90)
      // a deep clone rewrites both DVs to the moved files
      store.deepCloneTo("db.clone", "db.deep")
      store.dropTable("db.clone")
      store.dropTable("db.src")
      assert(store.read("db.deep").select("k").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().sorted.toSeq == (10L until 90L))
    } finally store.detach()
  }

  test("every parquet file a table commits compresses with zstd: data, DV and change feed") {
    val root = Files.createTempDirectory("graft_codec").toString
    val store = new TableStore(spark, root)
    try {
      store.createOrReplace("db.z", spark.range(0, 500).select(col("id").as("k"),
        concat(lit("row-"), col("id")).as("v")))
      store.enableChangeFeed("db.z")
      store.setDmlMode("db.z", "mor")
      store.delete("db.z", col("k") < 50L)
      import scala.jdk.CollectionConverters._
      val files = Files.walk(Paths.get(root, "db", "z")).iterator().asScala.toSeq
        .filter(_.toString.endsWith(".parquet"))
      val conf = new org.apache.hadoop.conf.Configuration()
      // codec names per file, from the footer's column chunks
      val codecs = files.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toString), conf))
        try f -> r.getFooter.getBlocks.asScala
          .flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
        finally r.close()
      }.filter(_._2.nonEmpty)
      Seq("/data/", "/dv/", "/cdc/").foreach(d =>
        assert(codecs.exists(_._1.toString.contains(d)), s"no $d file among ${codecs.map(_._1)}"))
      assert(codecs.forall(_._2 == Set("ZSTD")), codecs.mkString("\n"))
    } finally store.detach()
  }

  test("SHOW PARTITIONS lists distinct tuples from manifest stats, no scan") {
    val root = Files.createTempDirectory("graft_showpart").toString
    val store = new TableStore(spark, root)
    store.createOrReplace("db.p",
      spark.range(0, 90).select(col("id").as("k"), (col("id") % 3).as("g")),
      partitionBy = Seq("g"))
    val parts = spark.sql("SHOW PARTITIONS db.p").collect().map(_.getString(0)).toSeq
    assert(parts == Seq("g=0", "g=1", "g=2"), parts.mkString(", "))
    // a dynamic overwrite adding a partition shows up
    store.overwritePartitions("db.p",
      spark.range(0, 2).select((col("id") + 900).as("k"), lit(7L).as("g")))
    val parts2 = spark.sql("SHOW PARTITIONS db.p").collect().map(_.getString(0)).toSeq
    assert(parts2 == Seq("g=0", "g=1", "g=2", "g=7"), parts2.mkString(", "))
    // unpartitioned tables are rejected, like Hive
    store.createOrReplace("db.np", spark.range(0, 5).select(col("id").as("k")))
    val e = intercept[IllegalArgumentException] { spark.sql("SHOW PARTITIONS db.np") }
    assert(e.getMessage.contains("not partitioned"))
    store.detach()
  }
}
