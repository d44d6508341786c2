package graft.tables

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge-case semantics of the DML/maintenance surface — each test pins a
  * fixed bug:
  *  - UPDATE evaluates every SET expression (and the WHERE) against the
  *    PRE-image row, in both copy-on-write and merge-on-read modes, and in
  *    the change-feed post-images (a sequential withColumn fold let later
  *    SETs read already-updated columns: SET a=b, b=a could not swap);
  *  - VACUUM keeps the cdc/ sidecars of RETAINED versions (it deleted
  *    them, destroying the feed over a window retention promised);
  *  - RESTORE emits its content delta through the change feed (it was
  *    classified layout-only — feed consumers silently diverged);
  *  - transactional appends honor GENERATED ALWAYS AS IDENTITY exactly
  *    like direct appends (they bypassed the locked counter);
  *  - a NaN/Infinity literal predicate scans conservatively instead of
  *    crashing stats pruning with NumberFormatException;
  *  - a trailing all-NULL z-order column survives the bounds round trip
  *    (split(';') dropped the trailing empty segment → positional lookup
  *    out of range in the incremental clustering pass);
  *  - COPY INTO reports rows loaded from the copy commit's own added
  *    files (a whole-manifest before/after sum corrupts on the rows = -1
  *    sentinel);
  *  - an MV refresh never inserts a zombie count-0 group for a key fully
  *    churned inside the refresh window;
  *  - a by-source MERGE with duplicate source keys follows Delta's
  *    multiple-match rule in memory and in the store alike (the operator
  *    raised; the store's rewrite repeated the matched target row). */
class DmlEdgeSpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)

  private def withStore(prefix: String)(f: (TableStore, String) => Unit): Unit = {
    val root = Files.createTempDirectory(prefix).toString
    val store = new TableStore(spark, root)
    try f(store, root)
    finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(Paths.get(root))
    }
  }

  test("UPDATE SET a=b, b=a swaps (pre-image semantics), cow and mor") {
    for (mode <- Seq("cow", "mor")) withStore(s"graft_dml_swap_$mode") { (store, _) =>
      import spark.implicits._
      store.createOrReplace("db.t", Seq((1L, 10L, 20L), (2L, 30L, 40L))
        .toDF("k", "a", "b"))
      if (mode == "mor") store.setDmlMode("db.t", "mor")
      store.update("db.t", col("k") === 1L,
        Map("a" -> col("b"), "b" -> col("a")))
      val got = store.read("db.t").orderBy("k").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == Seq((1L, 20L, 10L), (2L, 30L, 40L)),
        s"[$mode] SET a=b, b=a must swap against the pre-image, got $got")
    }
  }

  test("UPDATE: later SET and the WHERE see the pre-image; CDF post-images too") {
    withStore("graft_dml_preimage") { (store, _) =>
      import spark.implicits._
      store.createOrReplace("db.t", Seq((1L, 4L, 0L), (2L, 9L, 0L))
        .toDF("k", "a", "b"))
      store.enableChangeFeed("db.t")
      val v0 = store.version("db.t").get
      // a=a+1 makes row k=1's a cross the cond boundary; b must still get
      // the OLD a, and the row must not be skipped by a re-evaluated cond
      store.update("db.t", col("a") < 5L,
        Map("a" -> (col("a") + 1L), "b" -> col("a")))
      val got = store.read("db.t").orderBy("k").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == Seq((1L, 5L, 4L), (2L, 9L, 0L)),
        s"SET b=a must record the pre-image a, got $got")
      val post = store.changeFeed("db.t", v0, store.version("db.t").get)
        .filter(col("_change_type") === "update_postimage")
        .select("k", "a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(post == Seq((1L, 5L, 4L)),
        s"CDF post-image must match the committed row, got $post")
    }
  }

  test("vacuum keeps the cdc sidecars of retained versions — the feed survives") {
    withStore("graft_dml_vac_cdc") { (store, root) =>
      import spark.implicits._
      store.createOrReplace("db.t", Seq((1L, "x"), (2L, "y")).toDF("k", "v"))
      store.enableChangeFeed("db.t")
      val v0 = store.version("db.t").get
      store.update("db.t", col("k") === 1L, Map("v" -> lit("z")))
      val v1 = store.version("db.t").get
      // everything is young: every version is retained by the window
      store.vacuum("db.t", retainMs = 3600L * 1000)
      val feed = store.changeFeed("db.t", v0, v1)
        .filter(col("_change_type") === "update_postimage").collect()
      assert(feed.length == 1 && feed(0).getString(1) == "z",
        s"feed over a retained window must survive vacuum, got ${feed.toSeq}")
    }
  }

  test("restore emits its content delta through the change feed; MV stays exact") {
    withStore("graft_dml_restore_cdf") { (store, _) =>
      import spark.implicits._
      store.createOrReplace("db.src", Seq((1L, 10L), (2L, 20L)).toDF("g", "v"))
      store.createMaterializedView("db.mv", "db.src", Seq("g"),
        Seq(("n", "count", "*"), ("total", "sum", "v")))
      store.append("db.src", Seq((1L, 5L), (3L, 7L)).toDF("g", "v"))
      store.refreshMaterializedView("db.mv")
      val vAppend = store.version("db.src").get
      store.restore("db.src", store.versions("db.src").head)
      val vRestore = store.version("db.src").get
      // the feed over the restore commit must carry the un-appended rows
      val deltas = store.changeFeed("db.src", vAppend, vRestore)
      assert(deltas.filter(col("_change_type") === "delete").count() >= 2,
        "restore must emit the removed rows as deletes, not nothing")
      store.refreshMaterializedView("db.mv")
      val got = store.read("db.mv").select("g", "n", "total").orderBy("g").collect()
      val want = store.read("db.src").groupBy("g")
        .agg(count(lit(1)).as("n"), sum("v").as("total")).orderBy("g").collect()
      assert(got.toSeq == want.toSeq,
        s"MV diverged across a restore:\n got ${got.toSeq}\nwant ${want.toSeq}")
    }
  }

  test("transactional append honors GENERATED ALWAYS AS IDENTITY like a direct append") {
    withStore("graft_dml_txn_ident") { (store, _) =>
      import spark.implicits._
      store.createOrReplace("db.t", Seq((0L, "seed")).toDF("id", "v"))
      store.setIdentity("db.t", "id", start = 1L, step = 1L)
      store.append("db.t", Seq("a", "b").toDF("v")) // direct: allocates 1,2
      store.transaction { t => t.append("db.t", Seq("c", "d").toDF("v")) }
      val ids = store.read("db.t").filter(col("v") =!= "seed")
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(ids.distinct.size == 4 && ids.forall(_ >= 1L),
        s"txn append must block-allocate non-colliding identity keys, got $ids")
      // explicit values stay rejected inside a transaction too
      val e = intercept[IllegalArgumentException] {
        store.transaction { t =>
          t.append("db.t", Seq((99L, "boom")).toDF("id", "v"))
        }
      }
      assert(e.getMessage.contains("GENERATED ALWAYS"),
        s"explicit identity value must be rejected, got: ${e.getMessage}")
    }
  }

  test("a NaN literal predicate scans instead of crashing stats pruning") {
    withStore("graft_dml_nan") { (store, _) =>
      import spark.implicits._
      store.createOrReplace("db.t",
        Seq((1L, 1.5), (2L, Double.NaN), (3L, 2.5)).toDF("k", "x"),
        statsFor = Seq("x"))
      // Spark SQL: NaN = NaN is true and NaN sorts greatest
      assert(store.readWhere("db.t", col("x") === lit(Double.NaN))
        .collect().map(_.getLong(0)).toSeq == Seq(2L))
      assert(store.readWhere("db.t", col("x") > lit(2.0)).count() == 2L)
      store.delete("db.t", col("x") === lit(Double.NaN))
      assert(store.read("db.t").count() == 2L)
    }
  }

  test("a trailing all-NULL z-order column survives the bounds round trip") {
    withStore("graft_dml_znull") { (store, _) =>
      import spark.implicits._
      val df = spark.range(0, 1000).select(col("id").as("a"),
        lit(null).cast("double").as("b"), (col("id") % 7).as("v"))
      store.createOrReplace("db.t", df)
      store.compact("db.t", targetFiles = 4, zorderBy = Seq("a", "b"))
      store.append("db.t", spark.range(1000, 1200).select(col("id").as("a"),
        lit(null).cast("double").as("b"), (col("id") % 7).as("v")))
      store.clusterNew("db.t") // crashed with IndexOutOfBounds pre-fix
      assert(store.read("db.t").count() == 1200L)
      assert(store.readWhere("db.t", col("a") === 1100L).count() == 1L)
    }
  }

  test("COPY INTO reports the rows its own commit loaded; re-copy loads nothing") {
    withStore("graft_dml_copy") { (store, _) =>
      import spark.implicits._
      val landing = Files.createTempDirectory("graft_dml_copy_src")
      try {
        Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
          .write.parquet(landing.resolve("batch1").toString)
        Seq((3L, "c")).toDF("k", "v").coalesce(1)
          .write.parquet(landing.resolve("batch2").toString)
        store.createOrReplace("db.t",
          Seq.empty[(Long, String)].toDF("k", "v"))
        val (files, rows) = store.copyInto("db.t", landing.toString)
        assert(files == 2L && rows == 3L,
          s"first copy must report (2 files, 3 rows), got ($files, $rows)")
        val (f2, r2) = store.copyInto("db.t", landing.toString)
        assert(f2 == 0L && r2 == 0L, s"idempotent re-copy, got ($f2, $r2)")
        assert(store.read("db.t").count() == 3L)
      } finally graft.queries.Scratch.deleteRecursively(landing)
    }
  }

  test("insert-only merge tolerates duplicate source matches; target rows never duplicate") {
    withStore("graft_dml_insonly") { (store, _) =>
      import spark.implicits._
      import graft.operators.MergeInto
      val target = Seq((5L, "t5")).toDF("id", "v")
      // two source rows match target id=5 (legal for insert-only merges —
      // nothing ambiguous exists for them to do); two share unmatched id=6
      // (both insert: multiset semantics, as Delta does)
      val source = Seq((5L, "a"), (5L, "b"), (6L, "c"), (6L, "d")).toDF("id", "v")
      val out = MergeInto(target, source, keys = Seq("id"),
        notMatched = Seq(MergeInto.NotMatchedInsert(None,
          Map("id" -> col("s.id"), "v" -> col("s.v")))))
        .orderBy("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(out == Seq((5L, "t5"), (6L, "c"), (6L, "d")),
        s"insert-only merge must keep the matched target row ONCE and insert " +
          s"both unmatched source rows, got $out")
    }
  }

  test("a by-source merge with duplicate source keys: in memory == store, matched rows once") {
    withStore("graft_dml_bysource_dups") { (store, _) =>
      import spark.implicits._
      import graft.operators.MergeInto
      // Delta's rule: only a matched clause can act ambiguously on a target
      // row that several source rows match, so a merge without one neither
      // raises nor repeats that row (the in-memory operator raised, and
      // the store's rewrite emitted key 1 twice)
      val target = (1 to 6).map(i => (i.toLong, s"t$i")).toDF("id", "v")
      val source = Seq((1L, "a"), (1L, "b"), (2L, "c"), (9L, "n"), (9L, "m")).toDF("id", "v")
      val bySource = Seq(MergeInto.BySourceUpdate(Some(col("t.id") > 3L), Map("v" -> lit("gone"))))
      val inserts = Seq(MergeInto.NotMatchedInsert(None, Map("id" -> col("s.id"), "v" -> col("s.v"))))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val expected = Seq((1L, "t1"), (2L, "t2"), (3L, "t3"), (4L, "gone"), (5L, "gone"),
        (6L, "gone"), (9L, "m"), (9L, "n"))
      assert(rows(MergeInto(target, source, Seq("id"), notMatched = inserts,
        notMatchedBySource = bySource)) == expected)
      Seq("cow", "mor").foreach { mode =>
        val t = s"db.$mode"
        store.createOrReplace(t, target)
        store.setDmlMode(t, mode)
        store.merge(t, source, Seq("id"), notMatched = inserts, notMatchedBySource = bySource)
        assert(rows(store.read(t)) == expected, s"$mode store merge")
      }
    }
  }

  test("insert-only merge rejects t.* references in NOT MATCHED clauses with a named error") {
    import spark.implicits._
    import graft.operators.MergeInto
    // the left-anti fast path has no target side for an unmatched row to
    // bind t.* against; the error must name the offending column instead
    // of surfacing the resolver's generic failure
    val target = Seq((5L, "t5")).toDF("id", "v")
    val source = Seq((6L, "s6")).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      MergeInto(target, source, keys = Seq("id"),
        notMatched = Seq(MergeInto.NotMatchedInsert(None,
          Map("id" -> col("s.id"), "v" -> col("t.v")))))
    }
    assert(e.getMessage.contains("t.v") && e.getMessage.contains("insert-only"),
      s"the error must name the offending target reference, got: ${e.getMessage}")
  }

  test("a store merge whose NOT MATCHED clause reads t.* raises the named error, cow and mor") {
    withStore("graft_dml_tref") { (store, _) =>
      import spark.implicits._
      import graft.operators.MergeInto
      // store merges compute inserts from the unmatched source rows alone,
      // so even with a matched clause present a t.* reference in an insert
      // has nothing to bind to: the error must name it, in either mode and
      // from the API or SQL text, and leave the table unchanged
      Seq("cow", "mor").foreach { mode =>
        store.createOrReplace("db.tref", Seq((5L, "t5")).toDF("id", "v"))
        store.setDmlMode("db.tref", mode)
        val src = Seq((5L, "s5"), (6L, "s6")).toDF("id", "v")
        src.createOrReplaceTempView("tref_src")
        val viaApi = intercept[IllegalArgumentException] {
          store.merge("db.tref", src, Seq("id"),
            matched = Seq(MergeInto.MatchedUpdate(None, Map("v" -> col("s.v")))),
            notMatched = Seq(MergeInto.NotMatchedInsert(None,
              Map("id" -> col("s.id"), "v" -> col("t.v")))))
        }
        val viaSql = intercept[IllegalArgumentException] {
          spark.sql("""MERGE INTO db.tref AS t USING tref_src AS s ON t.id = s.id
                      |WHEN MATCHED THEN UPDATE SET v = s.v
                      |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, t.v)""".stripMargin)
        }
        Seq(viaApi, viaSql).foreach(e => assert(
          e.getMessage.contains("NOT MATCHED clauses may reference only source columns") &&
            e.getMessage.contains("t.v"),
          s"$mode: the error must name the offending target reference, got: ${e.getMessage}"))
        assert(store.read("db.tref").as[(Long, String)].collect().toSeq == Seq((5L, "t5")),
          s"$mode: a rejected merge must leave the table unchanged")
      }
    }
  }

  test("changeFeed over a window with a vacuumed version fails loudly; MV rebuilds") {
    withStore("graft_dml_retired") { (store, _) =>
      import spark.implicits._
      store.createOrReplace("db.src", Seq((1L, 10L)).toDF("g", "v"))
      store.enableChangeFeed("db.src")
      store.createMaterializedView("db.mv", "db.src", Seq("g"),
        Seq(("n", "count", "*"), ("total", "sum", "v")))
      val v0 = store.version("db.src").get
      store.append("db.src", Seq((2L, 20L)).toDF("g", "v"))
      store.update("db.src", col("g") === 1L, Map("v" -> lit(11L)))
      store.append("db.src", Seq((3L, 30L)).toDF("g", "v"))
      val cur = store.version("db.src").get
      // retainMs = 0: only the current version survives — the middle
      // versions' manifests AND cdc sidecars are destroyed, leaving
      // durable _retired markers
      store.vacuum("db.src", retainMs = 0L)
      val e = intercept[IllegalStateException] {
        store.changeFeed("db.src", v0, cur)
      }
      assert(e.getMessage.contains("vacuumed"),
        s"a feed spanning retired versions must fail loudly, got: ${e.getMessage}")
      // the MV consumer degrades to a full rebuild instead of diverging
      store.refreshMaterializedView("db.mv")
      val got = store.read("db.mv").select("g", "n", "total").orderBy("g").collect()
      val want = store.read("db.src").groupBy("g")
        .agg(count(lit(1)).as("n"), sum("v").as("total")).orderBy("g").collect()
      assert(got.toSeq == want.toSeq,
        s"MV must rebuild across the vacuumed window:\n got ${got.toSeq}\nwant ${want.toSeq}")
    }
  }

  test("vacuum folds _retired_v_N markers into the _RETIRED ledger; retirement stays durable") {
    withStore("graft_dml_retired_ledger") { (store, root) =>
      import spark.implicits._
      store.createOrReplace("db.t", Seq((1L, 10L)).toDF("g", "v"))
      val v0 = store.version("db.t").get
      store.append("db.t", Seq((2L, 20L)).toDF("g", "v"))
      store.append("db.t", Seq((3L, 30L)).toDF("g", "v"))
      val v1 = store.version("db.t").get - 1
      store.vacuum("db.t", retainMs = 0L)
      val dir = Paths.get(root, "db", "t")
      import scala.jdk.CollectionConverters._
      def markers = {
        val s = java.nio.file.Files.list(dir)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("_retired_v_")).toList
        finally s.close()
      }
      // the fold keeps the directory listing O(live versions): one ledger
      // file instead of one marker per version ever retired
      assert(markers.isEmpty,
        s"vacuum must fold its own markers into the ledger, left: $markers")
      assert(java.nio.file.Files.exists(dir.resolve("_RETIRED")),
        "the fold must leave a _RETIRED ledger")
      assert(store.wasRetired("db.t", v0) && store.wasRetired("db.t", v1),
        "ledger-recorded retirements must still answer wasRetired")
      // a second vacuum cycle unions into the same ledger
      store.append("db.t", Seq((4L, 40L)).toDF("g", "v"))
      val v2 = store.version("db.t").get - 1
      store.vacuum("db.t", retainMs = 0L)
      assert(markers.isEmpty, "re-vacuum must fold again")
      assert(store.wasRetired("db.t", v0) && store.wasRetired("db.t", v2),
        "the ledger union must keep earlier retirements while adding new ones")
    }
  }

  test("keepRetiredMarkers property retains markers through the fold (mixed-version window)") {
    withStore("graft_dml_retired_keep") { (store, root) =>
      import spark.implicits._
      store.createOrReplace("db.t", Seq((1L, 10L)).toDF("g", "v"))
      val v0 = store.version("db.t").get
      // a pre-ledger build only reads _retired_v_N markers: during an
      // upgrade overlap the fold must not strip the format it understands
      store.setMeta("db.t", store.meta("db.t").copy(properties =
        store.meta("db.t").properties + ("graft.vacuum.keepRetiredMarkers" -> "true")))
      store.append("db.t", Seq((2L, 20L)).toDF("g", "v"))
      store.vacuum("db.t", retainMs = 0L)
      val dir = Paths.get(root, "db", "t")
      import scala.jdk.CollectionConverters._
      def markers = {
        val s = java.nio.file.Files.list(dir)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("_retired_v_")).toList
        finally s.close()
      }
      assert(markers.contains(s"_retired_v_$v0"),
        s"markers must survive the fold while the property is set, saw: $markers")
      assert(java.nio.file.Files.exists(dir.resolve("_RETIRED")),
        "the ledger must still be written for ledger-aware readers")
      assert(store.wasRetired("db.t", v0) && store.retiredVersions("db.t").contains(v0),
        "both read paths must answer retired")
      // transition over: clearing the property lets the next vacuum fold away
      store.setMeta("db.t", store.meta("db.t").copy(properties =
        store.meta("db.t").properties - "graft.vacuum.keepRetiredMarkers"))
      store.append("db.t", Seq((3L, 30L)).toDF("g", "v"))
      store.vacuum("db.t", retainMs = 0L)
      assert(markers.isEmpty, s"post-transition vacuum must fold markers away, saw: $markers")
      assert(store.wasRetired("db.t", v0), "retirement stays durable in the ledger")
    }
  }

  test("MV refresh inserts no zombie count-0 group for a key churned in-window") {
    withStore("graft_dml_mv_churn") { (store, _) =>
      import spark.implicits._
      store.createOrReplace("db.src", Seq((1L, 10L)).toDF("g", "v"))
      store.createMaterializedView("db.mv", "db.src", Seq("g"),
        Seq(("n", "count", "*"), ("total", "sum", "v")))
      // key 7 fully appears AND disappears within one refresh window
      store.append("db.src", Seq((7L, 1L), (7L, 2L)).toDF("g", "v"))
      store.delete("db.src", col("g") === 7L)
      store.refreshMaterializedView("db.mv")
      assert(store.read("db.mv").filter(col("g") === 7L).count() == 0L,
        "a fully-churned key must not surface as a count-0 group")
      val got = store.read("db.mv").select("g", "n", "total").collect().toSeq
      assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ==
        Seq((1L, 1L, 10L)), s"view must match recompute, got $got")
    }
  }
}
