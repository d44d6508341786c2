package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.tables.TableStore

/** SQL-text DML over TableStore: mirrors the reference's SCD2 test flow
  * (23_Testing_SCD2.py — UPDATE / DELETE / PK-rewrite on bronze via SQL,
  * rerun the SCD2 merge, check silver history) with the merge itself issued
  * as the reference's 2-phase SQL MERGE (22_ETL_Silver_PySpark.py:62-101).
  */
class SqlDmlSpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)
  import spark.implicits._

  private val Ts1 = "2024-01-01 00:00:00"
  private val Ts2 = "2024-02-01 00:00:00"

  private def mergeTwoPhaseSql(loadTs: String): Unit = {
    spark.sql(
      s"""MERGE INTO silver.address AS tgt
         |USING src_address AS src
         |ON tgt.address_id = src.address_id AND tgt._tf_valid_to IS NULL
         |WHEN MATCHED AND (tgt.city != src.city OR tgt.postal_code != src.postal_code)
         |  THEN UPDATE SET tgt._tf_valid_to = TIMESTAMP '$loadTs'
         |WHEN NOT MATCHED BY SOURCE AND tgt._tf_valid_to IS NULL
         |  THEN UPDATE SET tgt._tf_valid_to = TIMESTAMP '$loadTs'
         |""".stripMargin)
    spark.sql(
      s"""MERGE INTO silver.address AS tgt
         |USING src_address AS src
         |ON tgt.address_id = src.address_id AND tgt._tf_valid_to IS NULL
         |WHEN NOT MATCHED THEN
         |  INSERT (address_id, city, postal_code, _tf_valid_from, _tf_valid_to)
         |  VALUES (src.address_id, src.city, src.postal_code, TIMESTAMP '$loadTs', NULL)
         |""".stripMargin)
  }

  test("reference SCD2 flow via SQL text: update, delete, PK rewrite, 2-phase merge") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_sqldml_spec").toString)

    val bronze = Seq(
      (1105, "Bothell", "98011"),
      (2001, "Surrey", "V3S"),
      (3001, "Dallas", "75201"))
      .toDF("address_id", "city", "postal_code")
    store.createOrReplace("bronze.address", bronze)

    // Silver initial load from bronze.
    store.read("bronze.address").createOrReplaceTempView("src_address")
    store.createOrReplace("silver.address",
      store.read("bronze.address")
        .withColumn("_tf_valid_from", lit(Ts1).cast("timestamp"))
        .withColumn("_tf_valid_to", lit(null).cast("timestamp")))

    // 23_Testing_SCD2.py:40-45 — simulate an UPDATE in source.
    spark.sql("UPDATE bronze.address SET postal_code = '12345' WHERE city = 'Bothell'")
    // 23:49-51 — simulate a DELETE in source.
    spark.sql("DELETE FROM bronze.address WHERE city = 'Surrey'")
    // 23:59-64 — simulate INSERT+DELETE via PK modification.
    spark.sql("UPDATE bronze.address SET address_id = 11383 WHERE address_id = 1105")

    // Re-run the SCD2 ETL (the reference's 2-phase SQL MERGE).
    store.read("bronze.address").createOrReplaceTempView("src_address")
    mergeTwoPhaseSql(Ts2)

    val silver = store.read("silver.address").cache()
    def rows(df: DataFrame) = df
      .select($"address_id", $"city", $"postal_code",
        $"_tf_valid_from".cast("string"), $"_tf_valid_to".cast("string"))
      .as[(Int, String, String, String, String)].collect().toSet

    // Bothell: PK rewrite closed 1105 and inserted 11383 (postal updated).
    assert(rows(silver.filter($"city" === "Bothell")) == Set(
      (1105, "Bothell", "98011", Ts1, Ts2),
      (11383, "Bothell", "12345", Ts2, null)))
    // Surrey: deleted from source → closed, no current version.
    assert(rows(silver.filter($"city" === "Surrey")) == Set(
      (2001, "Surrey", "V3S", Ts1, Ts2)))
    // Dallas: untouched → single open version.
    assert(rows(silver.filter($"city" === "Dallas")) == Set(
      (3001, "Dallas", "75201", Ts1, null)))
    silver.unpersist()
    store.detach()
  }

  test("MERGE star clauses and unaliased statements lower correctly") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_sqldml_spec2").toString)
    store.createOrReplace("db.kv",
      Seq((1, "a"), (2, "b")).toDF("k", "v"))
    Seq((2, "B"), (3, "c")).toDF("k", "v").createOrReplaceTempView("kv_src")

    spark.sql(
      """MERGE INTO db.kv USING kv_src
        |ON db.kv.k = kv_src.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |""".stripMargin)
    assert(store.read("db.kv").as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "B"), (3, "c")))
    store.detach()
  }

  test("INSERT INTO: seed VALUES, column-list alignment with NULL fill, and OVERWRITE") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_sqldml_spec4").toString)
    store.createOrReplace("gold.dim",
      Seq((1L, "a", "SEG")).toDF("customer_key", "customer_name", "mktsegment"))

    // reference seed shape (01_Init.py:265-321): positional VALUES
    spark.sql("INSERT INTO gold.dim VALUES (-9, 'N/A', 'N/A')")
    // explicit column list: unspecified columns become NULL, ints cast to the schema
    spark.sql("INSERT INTO gold.dim (customer_key, customer_name) VALUES (2, 'b')")
    assert(store.read("gold.dim")
      .as[(Long, String, String)].collect().toSet ==
      Set((1L, "a", "SEG"), (-9L, "N/A", "N/A"), (2L, "b", null)))

    spark.sql("INSERT OVERWRITE gold.dim VALUES (7, 'only', 'ROW')")
    assert(store.read("gold.dim").as[(Long, String, String)].collect().toSeq ==
      Seq((7L, "only", "ROW")))

    // a typo'd column in the explicit list must error, not silently drop
    // the value and NULL-fill the real column
    val e = intercept[Exception] {
      spark.sql("INSERT INTO gold.dim (customer_key, wrong_col) VALUES (9, 'x')")
    }
    assert(e.getMessage.contains("wrong_col"))

    // a column list differing only in CASE assigns the value (Spark SQL
    // is case-insensitive by default) — it must not default/NULL-fill
    // the column it names
    spark.sql("INSERT INTO gold.dim (CUSTOMER_KEY, Customer_Name) VALUES (8, 'cased')")
    assert(store.read("gold.dim").as[(Long, String, String)].collect().toSet
      .contains((8L, "cased", null)),
      "a case-differing column list must assign, not NULL-fill")
    store.detach()
  }

  test("CTAS lowers into existing store namespaces: create, IF NOT EXISTS, OR REPLACE") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_sqldml_spec5").toString)
    // the 'gold' namespace must pre-exist for the rule to claim the CTAS
    store.createOrReplace("gold.seed", Seq((1, "a")).toDF("k", "v"))
    Seq((1, 10.0), (2, 20.0)).toDF("k", "amount").createOrReplaceTempView("ctas_src")

    spark.sql("CREATE TABLE gold.summary AS SELECT k, amount * 2 AS amount FROM ctas_src")
    assert(store.read("gold.summary").as[(Int, Double)].collect().toSet ==
      Set((1, 20.0), (2, 40.0)))

    val e = intercept[Exception] {
      spark.sql("CREATE TABLE gold.summary AS SELECT * FROM ctas_src")
    }
    assert(e.getMessage.contains("already exists"))
    // IF NOT EXISTS: silent no-op
    spark.sql("CREATE TABLE IF NOT EXISTS gold.summary AS SELECT * FROM ctas_src")
    assert(store.read("gold.summary").columns.toSeq == Seq("k", "amount"))
    // OR REPLACE: reference dim_calendar shape (01_Init.py:180)
    spark.sql("CREATE OR REPLACE TABLE gold.summary AS SELECT k FROM ctas_src WHERE k = 1")
    assert(store.read("gold.summary").as[Int].collect().toSeq == Seq(1))

    // PARTITIONED BY is honored (manifest stats on the partition column),
    // and clauses the snapshot store cannot honor error instead of being
    // silently dropped
    spark.sql(
      "CREATE TABLE gold.parted PARTITIONED BY (k) AS SELECT k, amount FROM ctas_src")
    assert(store.read("gold.parted").columns.toSet == Set("k", "amount"))
    assert(store.prunedFileList("gold.parted", Some($"k" === 1)).size <
      store.prunedFileList("gold.parted", None).size,
      "partition column stats must prune files")
    val u = intercept[UnsupportedOperationException] {
      spark.sql("CREATE TABLE gold.nope USING json AS SELECT k FROM ctas_src")
    }
    assert(u.getMessage.contains("USING json"))
    store.detach()
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the target and NULL-backfills history") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_evo").toString)
    try {
      store.createOrReplace("db.evo", Seq((1, "a"), (2, "b")).toDF("k", "v"))
      Seq((2, "B", 20.0), (3, "c", 30.0)).toDF("k", "v", "score")
        .createOrReplaceTempView("evo_spec_src")
      spark.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO db.evo AS t
          |USING evo_spec_src AS s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |""".stripMargin)
      assert(store.read("db.evo").columns.toSeq == Seq("k", "v", "score"))
      assert(store.read("db.evo").as[(Int, String, Option[Double])].collect().toSet ==
        Set((1, "a", None), (2, "B", Some(20.0)), (3, "c", Some(30.0))))

      // API path: scd-style widened merge via store.merge
      store.merge("db.evo", Seq((1, "A", 10.0, "x")).toDF("k", "v", "score", "tag"), Seq("k"),
        matched = Seq(graft.operators.MergeInto.MatchedUpdate(None,
          Map("v" -> col("s.v"), "score" -> col("s.score"), "tag" -> col("s.tag")))),
        schemaEvolution = true)
      assert(store.read("db.evo").columns.toSeq == Seq("k", "v", "score", "tag"))
      assert(store.read("db.evo").filter($"k" === 1).as[(Int, String, Double, String)].head() ==
        ((1, "A", 10.0, "x")))
      assert(store.read("db.evo").filter($"k" === 2).select($"tag").as[Option[String]].head().isEmpty,
        "untouched rows NULL-backfill the new column")
    } finally store.detach()
  }

  test("SQL time travel: VERSION AS OF reads retained snapshots; history lists commits") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_tt").toString)
    try {
      store.createOrReplace("db.tt", Seq((1, "a")).toDF("k", "v"))        // v1
      spark.sql("UPDATE db.tt SET v = 'b' WHERE k = 1")                   // v2
      spark.sql("INSERT INTO db.tt VALUES (2, 'c')")                      // v3
      assert(spark.sql("SELECT v FROM db.tt VERSION AS OF 1").as[String].collect().toSeq
        == Seq("a"))
      assert(spark.sql("SELECT v FROM db.tt VERSION AS OF 2").as[String].collect().toSeq
        == Seq("b"))
      assert(spark.sql("SELECT count(*) FROM db.tt VERSION AS OF 3").as[Long].head() == 2)
      val e = intercept[Exception] {
        spark.sql("SELECT * FROM db.tt VERSION AS OF 9").collect()
      }
      assert(e.getMessage.contains("no such retained version"))
      val h = store.history("db.tt")
      assert(h.map(_._1) == Seq(3, 2, 1), "history newest first")
      assert(h.forall(_._4 >= 1), "every commit lists its files")

      // TIMESTAMP AS OF resolves through commit times (UTC)
      val afterV2 = h.find(_._1 == 2).get._2.plusMillis(1)
      val lit = java.time.LocalDateTime.ofInstant(afterV2, java.time.ZoneOffset.UTC)
        .toString.replace('T', ' ')
      assert(spark.sql(s"SELECT v FROM db.tt TIMESTAMP AS OF '$lit'")
        .as[String].collect().toSeq == Seq("b"), "timestamp lands on v2")
    } finally store.detach()
  }

  test("two stores holding the same table name make SQL DML error instead of guessing") {
    val s1 = new TableStore(spark, Files.createTempDirectory("graft_amb1").toString)
    val s2 = new TableStore(spark, Files.createTempDirectory("graft_amb2").toString)
    try {
      s1.createOrReplace("db.same", Seq((1, "a")).toDF("k", "v"))
      s2.createOrReplace("db.same", Seq((2, "b")).toDF("k", "v"))
      val e = intercept[IllegalStateException] {
        spark.sql("DELETE FROM db.same WHERE k = 1")
      }
      assert(e.getMessage.contains("2 attached TableStores"))
      // detaching the stale store resolves the route
      s1.detach()
      spark.sql("DELETE FROM db.same WHERE k = 2")
      assert(s2.read("db.same").count() == 0)
      assert(s1.read("db.same").count() == 1, "detached store untouched")
    } finally { s1.detach(); s2.detach() }
  }

  test("CTAS outside store namespaces falls back to the session catalog") {
    Seq((1, "x")).toDF("k", "v").createOrReplaceTempView("ctas_fb_src")
    spark.sql("CREATE DATABASE IF NOT EXISTS ctasfb")
    try {
      spark.sql("CREATE TABLE ctasfb.t AS SELECT * FROM ctas_fb_src")
      assert(spark.table("ctasfb.t").count() == 1, "stock Spark CTAS must still work")
      // DROP TABLE is claimed at parse time too; a catalog target runs the
      // stock plan
      spark.sql("DROP TABLE ctasfb.t")
      assert(!spark.catalog.tableExists("ctasfb.t"), "stock DROP TABLE must drop the catalog table")
    } finally spark.sql("DROP DATABASE IF EXISTS ctasfb CASCADE")
  }

  test("plain SELECT resolves store tables by name; catalog objects always win") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_sqldml_sel").toString)
    try {
      store.createOrReplace("db.sel_o", Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("k", "grp"))
      store.createOrReplace("db.sel_d", Seq(("a", 10L), ("b", 20L)).toDF("grp", "w"))
      // bare SELECT, aggregation, and a join between two store tables
      assert(spark.sql("SELECT count(*) AS n FROM db.sel_o").as[Long].head() == 3L)
      val joined = spark.sql(
        """SELECT o.grp, sum(d.w) AS tw FROM db.sel_o o
          |JOIN db.sel_d d ON o.grp = d.grp GROUP BY o.grp ORDER BY o.grp""".stripMargin)
      assert(joined.as[(String, Long)].collect().toSeq == Seq(("a", 20L), ("b", 20L)))
      // qualified star + column mapping compose
      store.renameColumn("db.sel_o", "k", "key_id")
      assert(spark.sql("SELECT key_id FROM db.sel_o WHERE key_id = 2").as[Long].head() == 2L)
      // a temp view with the same dotted name shape cannot be shadowed:
      // make a catalog DATABASE + table of the same name and check it wins
      spark.sql("CREATE DATABASE IF NOT EXISTS selcat")
      try {
        spark.sql("CREATE TABLE selcat.t AS SELECT 42 AS answer")
        val s2 = new TableStore(spark, Files.createTempDirectory("graft_sqldml_sel2").toString)
        try {
          s2.createOrReplace("selcat.t", Seq((7L, "nope")).toDF("k", "v"))
          assert(spark.sql("SELECT answer FROM selcat.t").as[Int].head() == 42,
            "session-catalog table must win over a store table of the same name")
        } finally s2.detach()
      } finally spark.sql("DROP DATABASE IF EXISTS selcat CASCADE")
    } finally store.detach()
  }

  test("MERGE with no key equality in ON is rejected") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_sqldml_spec3").toString)
    store.createOrReplace("db.t1", Seq((1, 2)).toDF("a", "b"))
    Seq((1, 2)).toDF("a", "b").createOrReplaceTempView("t1_src")
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO db.t1 AS t USING t1_src AS s ON t.a < s.b
          |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(e.getMessage.contains("equality"))
    store.detach()
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT FOREIGN KEY lowers onto the store's FK metadata") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_sqldml_fk").toString)
    try {
      store.createOrReplace("gold.dim_c", Seq((1L, "a")).toDF("dim_id", "nm"))
      store.createOrReplace("gold.fact_c", Seq((7L, 1L)).toDF("fact_id", "dim_fk"))
      spark.sql(
        "ALTER TABLE gold.fact_c ADD CONSTRAINT fk_dim FOREIGN KEY (dim_fk) REFERENCES gold.dim_c(dim_id)")
      assert(store.foreignKeys("gold.fact_c") ==
        Map("fk_dim" -> ((Seq("dim_fk"), "gold.dim_c", Seq("dim_id")))))
      // DESCRIBE DETAIL surfaces it through SQL
      val detail = spark.sql("DESCRIBE DETAIL gold.fact_c")
        .filter(col("property") === "foreign_keys").select(col("value")).as[String].head()
      assert(detail == "fk_dim: (dim_fk) REFERENCES gold.dim_c(dim_id)")
      spark.sql("ALTER TABLE gold.fact_c DROP CONSTRAINT fk_dim")
      assert(store.foreignKeys("gold.fact_c").isEmpty)
    } finally store.detach()
  }

  test("table_changes(...) TVF reads the change feed through plain SQL") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_sqldml_tc").toString)
    try {
      store.createOrReplace("db.tc", Seq((1L, 10L), (2L, 20L)).toDF("k", "x")) // v1
      store.enableChangeFeed("db.tc")
      spark.sql("UPDATE db.tc SET x = 99 WHERE k = 2")                         // v2
      spark.sql("INSERT INTO db.tc VALUES (CAST(3 AS BIGINT), CAST(30 AS BIGINT))") // v3
      val rows = spark.sql(
        "SELECT _commit_version, _change_type, k, x FROM table_changes('db.tc', 1, 3) ORDER BY 1, 2")
        .as[(Int, String, Long, Long)].collect().toSeq
      assert(rows == Seq(
        (2, "update_postimage", 2L, 99L), (2, "update_preimage", 2L, 20L),
        (3, "insert", 3L, 30L)), s"got $rows")
      // two-arg form defaults `to` to the current version
      assert(spark.sql("SELECT count(*) FROM table_changes('db.tc', 2)")
        .as[Long].head() == 1L)
      // aggregation over the TVF composes like any relation
      assert(spark.sql(
        "SELECT sum(x) FROM table_changes('db.tc', 1, 3) WHERE _change_type = 'insert'")
        .as[Long].head() == 30L)
    } finally store.detach()
  }

  test("SET/UNSET/SHOW TBLPROPERTIES route knobs through the typed setters") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_sqldml_tp").toString)
    try {
      store.createOrReplace("db.tp",
        spark.range(0, 100).select(col("id").as("k"), lit("a").as("v")).repartition(2))
      spark.sql("ALTER TABLE db.tp SET TBLPROPERTIES " +
        "('dml_mode' = 'mor', 'owner.team' = 'data-eng', 'comment' = 'props demo')")
      // dml_mode took effect as a TYPED knob: a delete commits a DV,
      // rewriting no data file
      val before = store.prunedFileList("db.tp", None).toSet
      spark.sql("DELETE FROM db.tp WHERE k = 7")
      assert(store.prunedFileList("db.tp", None).toSet == before,
        "mor mode set via TBLPROPERTIES should deletion-vector, not rewrite")
      assert(store.read("db.tp").count() == 99)
      // EXPLAIN names the statement and its table, never a function object
      val explained = spark.sql("EXPLAIN DELETE FROM db.tp WHERE k = 8").head().getString(0)
      assert(explained.contains("DELETE") && explained.contains("db.tp") &&
        !explained.contains("Lambda"), explained)
      // SHOW surfaces both the knob and the generic property
      val props = spark.sql("SHOW TBLPROPERTIES db.tp").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props("dml_mode") == "mor" && props("owner.team") == "data-eng")
      assert(spark.sql("SHOW TBLPROPERTIES db.tp ('owner.team')")
        .head().getString(1) == "data-eng")
      spark.sql("ALTER TABLE db.tp UNSET TBLPROPERTIES ('owner.team')")
      assert(!spark.sql("SHOW TBLPROPERTIES db.tp").collect()
        .exists(_.getString(0) == "owner.team"))
      // validation rides the typed setter; internal namespaces are refused
      intercept[Exception] {
        spark.sql("ALTER TABLE db.tp SET TBLPROPERTIES ('dml_mode' = 'bogus')") }
      intercept[Exception] {
        spark.sql("ALTER TABLE db.tp SET TBLPROPERTIES ('bloom.cols' = 'k')") }
    } finally store.detach()
  }

  test("table_files() TVF exposes the manifest: files, rows, stats, DV counts") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_sqldml_tf").toString)
    try {
      store.createOrReplace("db.tf",
        spark.range(0, 1000).select(col("id").as("k"), lit("x").as("v"))
          .repartitionByRange(4, col("k")),
        sortWithin = Seq("k"))
      val inv = spark.sql("SELECT * FROM table_files('db.tf')")
      assert(inv.count() == 4)
      assert(inv.agg(sum(col("rows"))).head().getLong(0) == 1000L)
      // stats carry the pruning boxes: k's min/max per file are disjoint
      // for a range layout, and SQL can reason over them directly
      val boxes = spark.sql(
        "SELECT CAST(stats['k'].min AS BIGINT) AS lo, CAST(stats['k'].max AS BIGINT) AS hi " +
        "FROM table_files('db.tf') ORDER BY lo").collect()
      assert(boxes.length == 4 && boxes.head.getLong(0) == 0L
        && boxes.last.getLong(1) == 999L)
      assert(boxes.sliding(2).forall { case Array(a, b) => a.getLong(1) < b.getLong(0) })
      // a mor DELETE surfaces as a DV count, with no file count change
      store.setDmlMode("db.tf", "mor")
      store.delete("db.tf", col("k") === 5L)
      val after = spark.sql(
        "SELECT count(*) AS n, sum(dv_count) AS dvs FROM table_files('db.tf')").head()
      assert(after.getLong(0) == 4L && after.getLong(1) == 1L, after.toString)
    } finally store.detach()
  }

  test("SHOW CREATE TABLE reconstructs columns, layout, constraints and knobs") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_sqldml_sc").toString)
    try {
      store.createOrReplace("db.sc",
        spark.range(0, 10).select(col("id").as("k"), lit("x").as("v"),
          (col("id") % 2).as("par")),
        partitionBy = Seq("par"))
      store.setPrimaryKey("db.sc", Seq("k"))
      store.addCheckConstraint("db.sc", "k_nonneg", "k >= 0")
      store.setDmlMode("db.sc", "mor")
      store.setMeta("db.sc", store.meta("db.sc").copy(comment = Some("demo table")))
      val ddl = spark.sql("SHOW CREATE TABLE db.sc").head().getString(0)
      assert(ddl.startsWith("CREATE TABLE db.sc ("), ddl)
      assert(ddl.contains("`k` BIGINT") && ddl.contains("`v` STRING"), ddl)
      assert(ddl.contains("PARTITIONED BY (par)"), ddl)
      assert(ddl.contains("CONSTRAINT pk PRIMARY KEY (k)"), ddl)
      assert(ddl.contains("CONSTRAINT k_nonneg CHECK (k >= 0)"), ddl)
      assert(ddl.contains("COMMENT 'demo table'"), ddl)
      assert(ddl.contains("'dml_mode' = 'mor'"), ddl)
      // internal representation state never leaks into the DDL
      assert(!ddl.contains("colmap.") && !ddl.contains("identity."), ddl)
      // every property the DDL declares runs back through CREATE
      store.setTargetFileRows("db.sc", 1000)
      store.enableChangeFeed("db.sc")
      store.setBloomFilterIndex("db.sc", Seq("k"), ndv = 5000)
      val declared = spark.sql("SHOW CREATE TABLE db.sc").head().getString(0)
      spark.sql(declared.replace("CREATE TABLE db.sc (", "CREATE TABLE db.sc2 ("))
      val knobs = Seq("dml_mode", "target_file_rows", "cdf", "bloom.cols", "bloom.ndv")
      assert(knobs.map(store.meta("db.sc2").properties.get) ==
        knobs.map(store.meta("db.sc").properties.get), declared)
    } finally store.detach()
  }

  test("TBLPROPERTIES cannot write engine state: SET, UNSET and CREATE refuse internal keys") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_sqldml_ik").toString)
    try {
      def refused(sql: String, key: String): Unit = {
        val e = intercept[IllegalArgumentException](spark.sql(sql))
        assert(e.getMessage.contains(s"'$key'"), e.getMessage)
      }
      store.createOrReplace("db.ik", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      store.enableRowTracking("db.ik")
      val meta = store.meta("db.ik")
      val version = store.version("db.ik")
      // a lowered high-water mark would hand out row ids already in use
      refused("ALTER TABLE db.ik SET TBLPROPERTIES ('row_high_water' = '0')", "row_high_water")
      assert(store.meta("db.ik") == meta)
      // unsetting an identity counter would restart the surrogate keys
      spark.sql("CREATE TABLE db.idt (id BIGINT GENERATED ALWAYS AS IDENTITY, v STRING)")
      val idMeta = store.meta("db.idt")
      assert(idMeta.properties.contains("identity.id"), idMeta)
      refused("ALTER TABLE db.idt UNSET TBLPROPERTIES ('identity.id')", "identity.id")
      assert(store.meta("db.idt") == idMeta)
      // a CHECK declared as a property would skip its validation; the
      // refusal comes before any write, so neither a new nor a replaced
      // table changes
      refused("CREATE TABLE db.ck TBLPROPERTIES ('check.c' = 'k > 0') AS SELECT 1L AS k",
        "check.c")
      assert(!store.exists("db.ck"))
      refused("CREATE OR REPLACE TABLE db.ik TBLPROPERTIES ('check.c' = 'k > 0') " +
        "AS SELECT 1L AS k", "check.c")
      assert(store.meta("db.ik") == meta && store.version("db.ik") == version)
    } finally store.detach()
  }

  test("INSERT OVERWRITE keeps the table's definition: layout and identity keys") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_sqldml_iow").toString)
    try {
      store.createOrReplace("db.b",
        Seq((1L, "a", 1), (2L, "b", 2)).toDF("k", "v", "par"), partitionBy = Seq("par"))
      spark.sql("INSERT OVERWRITE db.b VALUES (10, 'x', 1), (11, 'y', 2)")
      assert(store.partitionColumns("db.b") == Seq("par"))
      assert(store.history("db.b").head._3 == "write")
      // the partitioning is still there for a dynamic partition overwrite
      spark.sql("INSERT OVERWRITE db.b PARTITION (par) VALUES (12, 'z', 2)")
      assert(store.read("db.b").as[(Long, String, Int)].collect().toSet ==
        Set((10L, "x", 1), (12L, "z", 2)))

      // an identity column the statement omits keeps minting keys
      spark.sql("CREATE TABLE db.i (ik BIGINT GENERATED ALWAYS AS IDENTITY, v STRING)")
      spark.sql("INSERT INTO db.i (v) VALUES ('a'), ('b')")
      val before = store.read("db.i").select("ik").as[Long].collect().toSet
      spark.sql("INSERT OVERWRITE db.i (v) VALUES ('x')")
      spark.sql("INSERT INTO db.i (v) VALUES ('y')")
      val keys = store.read("db.i").select("ik", "v").collect()
        .map(r => r.getString(1) -> Option(r.get(0))).toMap
      assert(keys.keySet == Set("x", "y"), keys)
      assert(keys.values.forall(_.isDefined) && keys.values.toSet.size == 2, keys)
      assert(keys.values.flatten.forall(k => !before.contains(k.asInstanceOf[Long])), keys)
    } finally store.detach()
  }

  test("SHOW CREATE TABLE and DESCRIBE DETAIL name layout columns by their logical names") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_sqldml_rn").toString)
    try {
      store.createOrReplace("db.n",
        spark.range(0, 10).select(col("id").as("k"), (col("id") % 2).as("par")),
        partitionBy = Seq("par"), sortWithin = Seq("k"))
      store.renameColumn("db.n", "par", "bucket")
      store.renameColumn("db.n", "k", "key")
      assert(store.detail("db.n")("partition_columns") == "bucket")
      assert(store.detail("db.n")("sort_columns") == "key")
      val ddl = spark.sql("SHOW CREATE TABLE db.n").head().getString(0)
      assert(ddl.contains("`bucket` BIGINT") && ddl.contains("PARTITIONED BY (bucket)"), ddl)
      // the DDL is valid: it runs back through CREATE
      spark.sql(ddl.replace("CREATE TABLE db.n (", "CREATE TABLE db.n2 ("))
      assert(store.partitionColumns("db.n2") == Seq("bucket"))
    } finally store.detach()
  }

  test("TBLPROPERTIES isolation and rowtracking run their store calls; zorder is internal") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_sqldml_tk").toString)
    try {
      store.createOrReplace("db.tk",
        spark.range(0, 50).select(col("id").as("k"), lit("a").as("v")).repartition(2))
      val meta = store.meta("db.tk")
      intercept[IllegalArgumentException] {
        spark.sql("ALTER TABLE db.tk SET TBLPROPERTIES ('isolation' = 'bogus')") }
      assert(store.meta("db.tk") == meta)
      spark.sql("ALTER TABLE db.tk SET TBLPROPERTIES ('isolation' = 'Serializable')")
      assert(store.meta("db.tk").properties.get("isolation").contains("serializable"))
      // the persisted ZORDER curve is OPTIMIZE's state, not a declaration
      val e = intercept[IllegalArgumentException] {
        spark.sql("ALTER TABLE db.tk SET TBLPROPERTIES ('zorder.bits' = '99')") }
      assert(e.getMessage.contains("'zorder.bits'"), e.getMessage)
      intercept[IllegalArgumentException] {
        spark.sql("ALTER TABLE db.tk SET TBLPROPERTIES ('rowtracking' = 'false')") }
      // enabling through SQL backfills: every current row has an id
      spark.sql("ALTER TABLE db.tk SET TBLPROPERTIES ('rowtracking' = 'true')")
      val ids = store.readWithRowIds("db.tk")
      assert(ids.count() == 50 && ids.filter(col("_row_id").isNull).count() == 0)
      assert(ids.select("_row_id").distinct().count() == 50)
    } finally store.detach()
  }

  test("TBLPROPERTIES auto_compact_* and numeric knobs are validated before they are stored") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_sqldml_ac").toString)
    try {
      store.createOrReplace("db.ac", Seq((1L, "a")).toDF("k", "v"))
      val meta = store.meta("db.ac")
      for ((k, v) <- Seq("auto_compact_files" -> "x", "auto_compact_files" -> "0",
          "auto_compact_bytes" -> "-5", "target_file_rows" -> "x", "bloom.ndv" -> "x")) {
        val e = intercept[IllegalArgumentException] {
          spark.sql(s"ALTER TABLE db.ac SET TBLPROPERTIES ('$k' = '$v')") }
        assert(e.getMessage.contains("db.ac") && e.getMessage.contains(s"'$k'"), e.getMessage)
        assert(store.meta("db.ac") == meta, s"$k = $v was stored")
      }
      // a bad value stored before the knob was validated (one the store
      // decodes as no Int) fails the append before it commits, naming the
      // table; SET of a valid value repairs it
      for ((k, v) <- Seq("auto_compact_bytes" -> "x", "auto_compact_files" -> "3000000000")) {
        store.updateMeta("db.ac")(_.withProperties(_ + ("auto_compact_files" -> "3") + (k -> v)))
        val e = intercept[IllegalArgumentException] {
          store.append("db.ac", Seq((9L, "z")).toDF("k", "v")) }
        assert(e.getMessage.contains("db.ac") && e.getMessage.contains(s"'$k'"), e.getMessage)
        assert(store.read("db.ac").count() == 1)
        spark.sql(s"ALTER TABLE db.ac SET TBLPROPERTIES ('$k' = '1000')")
        assert(store.meta("db.ac").properties.get(k).contains("1000"))
        store.setMeta("db.ac", meta)
      }
      // a valid pair is stored as given: the third small file an append
      // leaves triggers the inline compaction
      spark.sql("ALTER TABLE db.ac SET TBLPROPERTIES " +
        "('auto_compact_bytes' = '1000000', 'auto_compact_files' = '3')")
      assert(store.meta("db.ac").properties.get("auto_compact_files").contains("3"))
      assert(store.meta("db.ac").properties.get("auto_compact_bytes").contains("1000000"))
      store.append("db.ac", Seq((2L, "b")).toDF("k", "v"))
      assert(store.detail("db.ac")("num_files") == "2")
      store.append("db.ac", Seq((3L, "c")).toDF("k", "v"))
      assert(store.detail("db.ac")("num_files") == "1")
      assert(store.read("db.ac").count() == 3)
    } finally store.detach()
  }

  test("readStream.table over a store table is NOT silently lowered to a batch read") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_sqldml_rs").toString)
    try {
      store.createOrReplace("db.rs", Seq((1L, "a")).toDF("k", "v"))
      // batch name resolution works…
      assert(spark.sql("SELECT v FROM db.rs").as[String].head() == "a")
      // …but the streaming path must fail analysis (routing users to the
      // graft-table DSv2 source), never return a batch plan that later
      // dies with "writeStream on a non-streaming Dataset"
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.readStream.table("db.rs")
      }
      assert(!e.getMessage.toLowerCase.contains("non-streaming"),
        s"must fail as unresolved, not as a mis-lowered batch plan: ${e.getMessage}")
    } finally store.detach()
  }
}
