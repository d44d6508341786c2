package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.tables.TableStore

/** The store as a Structured Streaming SOURCE (DSv2 micro-batch): offsets
  * are committed snapshot versions, batches are manifest diffs. Pins the
  * Delta-parity semantics — initial snapshot, append increments,
  * layout-only commits skipped, non-append commits refused — and the
  * batch-read twin. */
class TableStreamSpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)
  import spark.implicits._

  private def readTableStream(root: String, table: String,
      extra: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.readStream.format("graft-table")
      .option("root", root).option("table", table)
    extra.foreach { case (k, v) => r.option(k, v) }
    r.load()
  }

  /** Drain the stream once (AvailableNow) into a fresh local buffer —
    * foreachBatch (checkpoint-recoverable, unlike the memory sink), so the
    * same checkpoint can resume across runs while each run observes only
    * its own delivered rows. */
  private def runOnce(df: DataFrame, ckpt: String): Seq[org.apache.spark.sql.Row] = {
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val q = df.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().foreach(buf.add)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    buf.asScala.toSeq
  }

  test("initial snapshot + append increments, exactly once across restarts") {
    val root = java.nio.file.Files.createTempDirectory("graft_tsrc").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tsrc_ckpt").toString
    val store = new TableStore(spark, root)
    // arrays + timestamps in the schema prove the DSv2 reader handles the
    // store's real column types, not just flat primitives
    def rows(a: Int, b: Int) = spark.range(a, b).select(
      col("id").as("k"),
      concat(lit("d"), col("id")).as("txt"),
      array(col("id").cast("float"), lit(0.5f)).as("vec"),
      to_timestamp(lit("2024-03-01 10:00:00")).as("ts"))
    store.createOrReplace("db.docs", rows(0, 100))
    store.append("db.docs", rows(100, 150))

    val got = runOnce(readTableStream(root, "db.docs"), ckpt)
    assert(got.size == 150, "initial snapshot = full current table")
    val gotDf = spark.createDataFrame(
      spark.sparkContext.parallelize(got), store.read("db.docs").schema)
    val want = store.read("db.docs")
    assert(gotDf.exceptAll(want).isEmpty && want.exceptAll(gotDf).isEmpty,
      "streamed rows must equal the table, arrays and timestamps included")

    // append while the stream is down; restart resumes from the checkpoint
    // version offset — ONLY the new files arrive (each run's buffer is
    // fresh, so any replayed old rows would show up here)
    store.append("db.docs", rows(150, 170))
    val inc = runOnce(readTableStream(root, "db.docs"), ckpt)
    assert(inc.size == 20, s"restart must deliver only the appended rows, got ${inc.size}")
    val ks = inc.map(_.getLong(0))
    assert(ks.min == 150L && ks.max == 169L)
    store.detach()
  }

  test("layout-only OPTIMIZE commits are skipped (dataChange=false)") {
    val root = java.nio.file.Files.createTempDirectory("graft_tsrc_opt").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tsrc_opt_ckpt").toString
    val store = new TableStore(spark, root)
    store.createOrReplace("db.t", spark.range(0, 50).toDF("k"))
    assert(runOnce(readTableStream(root, "db.t"), ckpt).size == 50)

    store.compact("db.t", targetFiles = 1) // rewrites every file, moves no data
    store.append("db.t", spark.range(50, 60).toDF("k"))
    val inc = runOnce(readTableStream(root, "db.t"), ckpt)
    assert(inc.size == 10,
      s"optimize must not re-deliver compacted rows, got ${inc.size}")
    store.detach()
  }

  test("a non-append commit fails the stream; ignoreChanges streams added files only") {
    val root = java.nio.file.Files.createTempDirectory("graft_tsrc_del").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tsrc_del_ckpt").toString
    val store = new TableStore(spark, root)
    store.createOrReplace("db.t", spark.range(0, 50).toDF("k"))
    assert(runOnce(readTableStream(root, "db.t"), ckpt).size == 50)

    store.delete("db.t", col("k") < 10) // copy-on-write file rewrite
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce(readTableStream(root, "db.t"), ckpt)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("not append-only")),
      s"expected the append-only refusal, got: ${ex.getMessage}")

    // opting in: the delete's only ADDED file is the rewrite of the one
    // file that held matching rows (file-pruned CoW) — its surviving rows
    // re-deliver, the documented ignoreChanges trade, same as Delta's
    val inc = runOnce(readTableStream(root, "db.t", Map("ignoreChanges" -> "true")), ckpt)
    assert(inc.nonEmpty && inc.size < 50,
      s"only the touched file's rewrite should arrive, got ${inc.size}")
    assert(inc.forall(_.getLong(0) >= 10),
      s"no deleted row may re-deliver: ${inc.map(_.getLong(0)).sorted}")
    store.detach()
  }

  test("startingVersion=latest streams only future commits; batch read matches store.read") {
    val root = java.nio.file.Files.createTempDirectory("graft_tsrc_sv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tsrc_sv_ckpt").toString
    val store = new TableStore(spark, root)
    store.createOrReplace("db.t", spark.range(0, 30).toDF("k"))

    val q = readTableStream(root, "db.t", Map("startingVersion" -> "latest"))
      .writeStream.format("memory").queryName("tsv")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("tsv").count() == 0, "latest skips the existing snapshot")
      store.append("db.t", spark.range(30, 45).toDF("k"))
      q.processAllAvailable()
      assert(spark.table("tsv").count() == 15, "the live stream picks up the append")
    } finally q.stop()

    val batch = spark.read.format("graft-table")
      .option("root", root).option("table", "db.t").load()
    assert(batch.count() == 45)
    assert(batch.exceptAll(store.read("db.t")).isEmpty &&
      store.read("db.t").exceptAll(batch).isEmpty)
    store.detach()
  }

  test("startingVersion streams a table whose first COMMIT is not v1 (aborted first " +
      "stage burned the number) — a benign hole, not a vacuumed predecessor") {
    val root = java.nio.file.Files.createTempDirectory("graft_tsrc_hole").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tsrc_hole_ckpt").toString
    // simulate a first writer that crashed mid-stage: its orphaned v_1 dir
    // (no _MANIFEST) makes the retry's allocateVersion land the CREATION
    // commit at v_2 — prevVersion(v_2) is None but nothing was vacuumed
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "db", "t", "v_1"))
    val store = new TableStore(spark, root)
    store.createOrReplace("db.t", spark.range(0, 10).toDF("k"))
    assert(store.version("db.t").contains(2), "the orphan must burn v1")
    val q = readTableStream(root, "db.t", Map("startingVersion" -> "1"))
      .writeStream.format("memory").queryName("thole")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("thole").count() == 10,
        "the creation commit at v2 must stream in full, not fail as a vacuumed hole")
    } finally q.stop()
    store.detach()
  }

  test("maxFilesPerTrigger splits the initial snapshot into bounded micro-batches") {
    val root = java.nio.file.Files.createTempDirectory("graft_admit").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_admit_ckpt").toString
    val store = new TableStore(spark, root)
    // 8 data files + one append = a snapshot a 100 TB table can't deliver
    // in one batch — the limit must carve it into ≤3-file micro-batches
    store.createOrReplace("db.big", spark.range(0, 800).toDF("k").repartition(8))
    store.append("db.big", spark.range(800, 900).toDF("k"))

    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = spark.readStream.format("graft-table")
      .option("root", root).option("table", "db.big")
      .option("maxFilesPerTrigger", "3")
      .load()
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batchSizes.add((id, batch.count())); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    import scala.jdk.CollectionConverters._
    val sizes = batchSizes.asScala.toSeq.sortBy(_._1).map(_._2)
    assert(sizes.sum == 900, s"every row exactly once across batches: $sizes")
    assert(sizes.length >= 3, s"8 snapshot files + 1 append at 3/trigger needs ≥3 batches: $sizes")
    assert(sizes.forall(_ <= 400), s"no batch may exceed ~3 files of rows: $sizes")
    store.detach()
  }

  test("offset walk: exactly-once, in-order, budget-bounded over random commit histories") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.{GraftFilePartition, GraftTableMicroBatchStream}
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val root = java.nio.file.Files.createTempDirectory(s"graft_walk$trial").toString
      val store = new TableStore(spark, root)
      store.createOrReplace("db.w",
        spark.range(0, 50).toDF("k").repartition(1 + rnd.nextInt(4)))
      for (c <- 1 to 4) {
        store.append("db.w",
          spark.range(c * 100, c * 100 + 30).toDF("k").repartition(1 + rnd.nextInt(3)))
        if (rnd.nextBoolean()) store.compact("db.w", targetFiles = 2) // must not re-deliver
      }
      // ground truth: files the stream must deliver = pinned snapshot at
      // stream start (no later commits exist here)
      val stream = new GraftTableMicroBatchStream(
        new CaseInsensitiveStringMap(java.util.Map.of("root", root, "table", "db.w")),
        factory = null)
      val maxFiles = 1 + rnd.nextInt(3)
      var start = stream.initialOffset()
      val delivered = scala.collection.mutable.ArrayBuffer.empty[String]
      var steps = 0
      var done = false
      while (!done && steps < 100) {
        val end = stream.latestOffset(start, ReadLimit.maxFiles(maxFiles))
        val parts = stream.planInputPartitions(start, end)
        // replay determinism: the same offset pair plans the same files
        assert(stream.planInputPartitions(start, end).toSeq == parts.toSeq)
        assert(parts.length <= maxFiles, s"budget $maxFiles exceeded: ${parts.length}")
        delivered ++= parts.map(_.asInstanceOf[GraftFilePartition].path)
        if (end.json == start.json) done = true
        start = end
        steps += 1
      }
      assert(done, s"walk did not converge in 100 steps (maxFiles=$maxFiles)")
      assert(delivered.distinct.size == delivered.size, "a file was delivered twice")
      val expected = spark.read.parquet(delivered.toSeq: _*).count()
      assert(expected == store.read("db.w").count(),
        s"delivered files must hold exactly the table's rows (trial $trial)")
      store.detach()
    }
  }

  test("batch scan prunes columns and stats-prunes files from pushed filters") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
    import graft.sources.{GraftScanBuilder, GraftFilePartition}
    val root = java.nio.file.Files.createTempDirectory("graft_push").toString
    val store = new TableStore(spark, root)
    // sorted by k with per-file stats → a selective k-predicate must skip files
    store.createOrReplace("db.t",
      spark.range(0, 10000).select(col("id").as("k"),
        concat(lit("v"), col("id")).as("v"), (col("id") % 7).as("g"))
        .repartition(8, col("k")),
      sortWithin = Seq("k"), statsFor = Seq("k"))
    // files don't overlap on k ranges only if partitioned BY RANGE; hash
    // repartition spreads k everywhere — rewrite clustered instead
    store.compact("db.t", targetFiles = 8, zorderBy = Seq("k"))

    val opts = new CaseInsensitiveStringMap(
      java.util.Map.of("root", root, "table", "db.t"))
    val full = store.read("db.t").schema

    def plan(b: GraftScanBuilder) =
      b.build().toBatch.planInputPartitions()

    val unfiltered = plan(new GraftScanBuilder(full, opts))
    val fb = new GraftScanBuilder(full, opts)
    fb.pushFilters(Array(EqualTo("k", 17L)))
    val filtered = plan(fb)
    assert(filtered.length < unfiltered.length,
      s"pushed k=17 must stats-prune files (${filtered.length}/${unfiltered.length})")

    // column pruning reaches the reader: the pruned scan decodes only (g)
    val pb = new GraftScanBuilder(full, opts)
    pb.pruneColumns(org.apache.spark.sql.types.StructType(full.filter(_.name == "g")))
    val scan = pb.build()
    assert(scan.readSchema().fieldNames.toSeq == Seq("g"))

    // end-to-end through the public API: result parity under filter+project
    val viaSource = spark.read.format("graft-table")
      .option("root", root).option("table", "db.t").load()
      .filter(col("k") > 9000).select(col("v"))
    val viaStore = store.read("db.t").filter(col("k") > 9000).select(col("v"))
    assert(viaSource.exceptAll(viaStore).isEmpty && viaStore.exceptAll(viaSource).isEmpty)
    // and the DSv2 explain carries the pushed filter into the scan node
    val planStr = viaSource.queryExecution.executedPlan.toString
    assert(planStr.contains("GraftTableScan"), s"expected our scan in:\n$planStr")
    store.detach()
  }

  test("streaming reads a column-mapped table in logical names, values intact") {
    val root = java.nio.file.Files.createTempDirectory("graft_ts_cm").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ts_cm_ck").toString
    val store = new graft.tables.TableStore(spark, root)
    store.createOrReplace("db.cm",
      spark.range(0, 50).select(col("id").as("k"), concat(lit("v"), col("id")).as("v")))
    store.renameColumn("db.cm", "k", "key_id")
    store.dropColumn("db.cm", "v")
    store.append("db.cm", spark.range(50, 60).toDF("key_id"))

    val stream = readTableStream(root, "db.cm")
    assert(stream.columns.toSeq == Seq("key_id"))
    val rows = runOnce(stream, ckpt)
    assert(rows.map(_.getLong(0)).sorted == (0L until 60L))
    store.detach()
  }

  test("changeFeed=true streams row-level changes with update images across commits") {
    val root = java.nio.file.Files.createTempDirectory("graft_ts_cdf").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ts_cdf_ck").toString
    val store = new TableStore(spark, root)
    store.createOrReplace("db.cdf",                                        // v1
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "x"))
    store.enableChangeFeed("db.cdf")

    val stream = readTableStream(root, "db.cdf", Map("changeFeed" -> "true"))
    assert(stream.columns.toSeq == Seq("k", "x", "_change_type", "_commit_version"))

    // batch 1: the pinned snapshot arrives as inserts of its version
    val snap = runOnce(stream, ckpt)
    assert(snap.size == 3 && snap.forall(r => r.getString(2) == "insert" && r.getInt(3) == 1),
      s"snapshot as inserts, got $snap")

    // subsequent DML arrives as recorded change rows (same checkpoint)
    store.update("db.cdf", col("k") === 2L, Map("x" -> lit(99L)))          // v2
    store.delete("db.cdf", col("k") === 3L)                                // v3
    store.append("db.cdf", Seq((4L, 40L)).toDF("k", "x"))                  // v4
    val changes = runOnce(readTableStream(root, "db.cdf", Map("changeFeed" -> "true")), ckpt)
      .map(r => (r.getInt(3), r.getString(2), r.getLong(0), r.getLong(1))).toSet
    assert(changes == Set(
      (2, "update_preimage", 2L, 20L), (2, "update_postimage", 2L, 99L),
      (3, "delete", 3L, 30L),
      (4, "insert", 4L, 40L)), s"got $changes")

    // exactly-once: nothing new → nothing delivered
    assert(runOnce(readTableStream(root, "db.cdf", Map("changeFeed" -> "true")), ckpt).isEmpty)

    // without CDC recorded (feed disabled) a rewriting commit fails the stream
    store.createOrReplace("db.nof", Seq((1L, 1L)).toDF("k", "x"))
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_ts_cdf_ck2").toString
    runOnce(readTableStream(root, "db.nof", Map("changeFeed" -> "true")), ckpt2)
    store.update("db.nof", col("k") === 1L, Map("x" -> lit(2L)))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce(readTableStream(root, "db.nof", Map("changeFeed" -> "true")), ckpt2)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("enableChangeFeed")), msgs(e).mkString("; "))
    store.detach()
  }

  private def causeMsgs(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ causeMsgs(t.getCause)

  test("a stream behind a vacuumed window fails loudly instead of skipping lost changes") {
    val root = java.nio.file.Files.createTempDirectory("graft_ts_vac").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ts_vac_ck").toString
    val store = new TableStore(spark, root)
    try {
      store.createOrReplace("db.t", Seq((1L, 10L), (2L, 20L)).toDF("k", "x")) // v1
      store.enableChangeFeed("db.t")
      runOnce(readTableStream(root, "db.t", Map("changeFeed" -> "true")), ckpt)
      // three DML commits land while the stream is down...
      store.update("db.t", col("k") === 1L, Map("x" -> lit(11L)))             // v2
      store.update("db.t", col("k") === 2L, Map("x" -> lit(21L)))             // v3
      store.update("db.t", col("k") === 1L, Map("x" -> lit(12L)))             // v4
      // ...and a zero-retention vacuum destroys the middle versions'
      // manifests and cdc sidecars (v4, the current version, keeps its)
      store.vacuum("db.t", retainMs = 0L)
      // v2/v3's changes are unrecoverable: the walk must throw — skipping
      // them as rebase holes would let v4's cdc sidecar satisfy the next
      // batch and the lost changes would never surface anywhere
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        runOnce(readTableStream(root, "db.t", Map("changeFeed" -> "true")), ckpt)
      }
      assert(causeMsgs(e).exists(_.contains("vacuumed")),
        causeMsgs(e).mkString("; "))
    } finally store.detach()
  }

  test("after vacuum retires every stream_append manifest, the exactly-once gate reads " +
      "stream_high_water") {
    val root = java.nio.file.Files.createTempDirectory("graft_ts_hw").toString
    val store = new TableStore(spark, root)
    val sink = graft.streaming.StreamingIngest.appendBatch(store, "db.t") _
    try {
      store.createOrReplace("db.t", Seq((0, "seed")).toDF("id", "v"))
      sink(Seq((1, "a")).toDF("id", "v"), 3L)
      // a plain commit on top, so the vacuum retires the labelled manifest
      store.append("db.t", Seq((2, "b")).toDF("id", "v"))
      store.vacuum("db.t")
      assert(store.versions("db.t") == store.version("db.t").toSeq)
      assert(store.meta("db.t").properties.get("stream_high_water").contains("3"))
      assert(store.lastStreamBatch("db.t").contains(3L))
      sink(Seq((9, "dup")).toDF("id", "v"), 3L) // replay → skipped
      assert(store.read("db.t").count() == 3)
      sink(Seq((4, "c")).toDF("id", "v"), 4L) // fresh id → committed
      assert(store.read("db.t").count() == 4)
      assert(store.lastStreamBatch("db.t").contains(4L))
    } finally store.detach()
  }

  test("ignoreChanges streams DV-carrying ADDED files as-written (restore re-add)") {
    val root = java.nio.file.Files.createTempDirectory("graft_ts_dvadd").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ts_dvadd_ck").toString
    val store = new TableStore(spark, root)
    try {
      store.createOrReplace("db.t", Seq((1L, 10L), (2L, 20L), (3L, 30L))
        .toDF("k", "x"))                                                     // v1
      store.setDmlMode("db.t", "mor")
      store.delete("db.t", col("k") === 2L)                                  // v2: file+DV
      val v2 = store.version("db.t").get
      store.compact("db.t")                                                  // v3: folds DV
      // the pinned initial snapshot is the CURRENT (post-compaction)
      // state: 2 live rows, DVs already folded
      val first = runOnce(
        readTableStream(root, "db.t", Map("ignoreChanges" -> "true")), ckpt)
      assert(first.size == 2, s"initial snapshot, got $first")
      // RESTORE re-adds v2's manifest entries: the original file arrives
      // as an ADDED file CARRYING its deletion vector
      store.restore("db.t", v2)                                             // v4
      val rows = runOnce(
        readTableStream(root, "db.t", Map("ignoreChanges" -> "true")), ckpt)
      // the flag's contract: added files stream AS-WRITTEN — all three
      // raw rows re-deliver (the DV'd row reappears, the documented
      // trade); dropping the file entirely would silently lose k=1, k=3
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((1L, 10L), (2L, 20L), (3L, 30L)),
        s"DV-carrying added file must stream as-written, got $rows")
    } finally store.detach()
  }
}
