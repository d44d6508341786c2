package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables.t

/** The reference's SQL-text write path, executed verbatim: two consecutive
  * `spark.sql("MERGE INTO …")` statements perform the silver SCD2 load
  * exactly as 22_ETL_Silver_PySpark.py:62-101 writes them (alias quals,
  * current-row pin inside ON, qualified SET keys, explicit INSERT list
  * carrying the `_tf_create_date`/`_tf_update_date` audit pair), plus SQL
  * UPDATE/DELETE (23_Testing_SCD2.py:40-64). Timestamps are pinned
  * literals in place of `current_timestamp()` so DuckDB can replay the
  * exact state.
  *
  * Source batches reuse the deterministic customer slices from
  * [[MergeQueries]] (batch 2 adds keys ≡8 (mod 10), drops keys ≡0
  * (mod 17), bumps acctbal by 100 for keys ≡0 (mod 7)).
  */
object SqlDmlQueries {

  private val Ts1 = "2024-01-01 00:00:00"
  private val Ts2 = "2024-02-01 00:00:00"

  private def batch1(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .filter(col("c_custkey") % 10 < 8)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))

  private def batch2(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .filter(col("c_custkey") % 10 < 9 && col("c_custkey") % 17 =!= 0)
      .select(
        col("c_custkey"), col("c_name"),
        when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")).as("c_acctbal"))

  // q34: the reference's 2-phase SCD2 as verbatim SQL MERGE text.
  def q34SqlMergeScd2(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_sqldml_q")

    store.createOrReplace("silver.customer",
      batch1(s, dir)
        .withColumn("_tf_valid_from", lit(Ts1).cast("timestamp"))
        .withColumn("_tf_valid_to", lit(null).cast("timestamp"))
        .withColumn("_tf_create_date", lit(Ts1).cast("timestamp"))
        .withColumn("_tf_update_date", lit(Ts1).cast("timestamp")))
    batch2(s, dir).createOrReplaceTempView("src_customer")

    // Phase 1 — close changed + vanished current rows (ref 22:62-82).
    s.sql(
      s"""MERGE INTO silver.customer AS tgt
         |USING src_customer AS src
         |ON tgt.c_custkey = src.c_custkey AND tgt._tf_valid_to IS NULL
         |WHEN MATCHED AND (
         |       tgt.c_name != src.c_name OR
         |       tgt.c_acctbal != src.c_acctbal
         |) THEN UPDATE SET
         |    tgt._tf_valid_to = TIMESTAMP '$Ts2',
         |    tgt._tf_update_date = TIMESTAMP '$Ts2'
         |WHEN NOT MATCHED BY SOURCE AND tgt._tf_valid_to IS NULL THEN
         |  UPDATE SET
         |    tgt._tf_valid_to = TIMESTAMP '$Ts2',
         |    tgt._tf_update_date = TIMESTAMP '$Ts2'
         |""".stripMargin)

    // Phase 2 — insert the new current versions (ref 22:86-101).
    s.sql(
      s"""MERGE INTO silver.customer AS tgt
         |USING src_customer AS src
         |ON tgt.c_custkey = src.c_custkey AND tgt._tf_valid_to IS NULL
         |WHEN NOT MATCHED THEN
         |  INSERT (
         |    c_custkey, c_name, c_acctbal,
         |    _tf_valid_from, _tf_valid_to, _tf_create_date, _tf_update_date
         |  )
         |  VALUES (
         |    src.c_custkey, src.c_name, src.c_acctbal,
         |    TIMESTAMP '$Ts2', NULL, TIMESTAMP '$Ts2', TIMESTAMP '$Ts2'
         |  )
         |""".stripMargin)

    Scratch.seal(
    store.read("silver.customer").orderBy(col("c_custkey"), col("_tf_valid_from")),
      store)
  }

  // q35: SQL-text UPDATE + DELETE (copy-on-write rewrites, ref 23:40-64).
  def q35SqlUpdateDelete(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_sqldml_q")
    store.createOrReplace("silver.orders",
      t(s, dir, "orders")
        .filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")))

    s.sql("UPDATE silver.orders SET o_totalprice = o_totalprice * CAST(1.1 AS DOUBLE) WHERE o_orderstatus = 'O'")
    s.sql("DELETE FROM silver.orders WHERE o_totalprice < CAST(100000 AS DOUBLE)")

    Scratch.seal(
    store.read("silver.orders").orderBy(col("o_orderkey")),
      store)
  }

  // q37: SQL-text INSERT — the reference's unknown-member seed statement
  // (01_Init.py:265-321) plus a bulk INSERT…SELECT append.
  def q37SqlInsert(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_sqldml_q")
    store.createOrReplace("gold.dim_customer",
      t(s, dir, "customer")
        .filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey").as("customer_key"), col("c_name").as("customer_name"),
          col("c_mktsegment").as("mktsegment")))

    s.sql("INSERT INTO gold.dim_customer VALUES (-9, 'N/A', 'N/A')")
    t(s, dir, "customer").filter(col("c_custkey") % 5 === 1)
      .createOrReplaceTempView("ins_cust_src")
    s.sql(
      """INSERT INTO gold.dim_customer (customer_key, customer_name, mktsegment)
        |SELECT c_custkey, c_name, c_mktsegment FROM ins_cust_src""".stripMargin)

    Scratch.seal(
    store.read("gold.dim_customer").orderBy(col("customer_key")),
      store)
  }

  // q41: MERGE WITH SCHEMA EVOLUTION — the source carries a column the
  // target lacks (c_acctbal); the merge widens the schema, NULL-backfills
  // unmatched target history, and star clauses expand over the widened set.
  def q41MergeEvolution(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_sqldml_q")
    store.createOrReplace("gold.cust_profile",
      t(s, dir, "customer").filter(col("c_custkey") % 4 === 0)
        .select(col("c_custkey"), col("c_name")))
    t(s, dir, "customer")
      .filter(col("c_custkey") % 8 === 0 || col("c_custkey") % 4 === 2)
      .select(col("c_custkey"), upper(col("c_name")).as("c_name"), col("c_acctbal"))
      .createOrReplaceTempView("evo_src")

    s.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO gold.cust_profile AS tgt
        |USING evo_src AS src
        |ON tgt.c_custkey = src.c_custkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |""".stripMargin)

    Scratch.seal(
    store.read("gold.cust_profile").orderBy(col("c_custkey")),
      store)
  }

  // q42: row-level change feed from the manifest diff — the q35 flow
  // (UPDATE then DELETE), then changesBetween(initial, current): updates
  // surface as delete+insert pairs, deletions as deletes, untouched rows
  // (and untouched FILES, which are never even opened) cancel out.
  def q42ChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_sqldml_q")
    store.createOrReplace("silver.orders",
      t(s, dir, "orders")
        .filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")))
    val v0 = store.version("silver.orders").get

    s.sql("UPDATE silver.orders SET o_totalprice = o_totalprice * CAST(1.1 AS DOUBLE) WHERE o_orderstatus = 'O'")
    s.sql("DELETE FROM silver.orders WHERE o_totalprice < CAST(100000 AS DOUBLE)")

    val out = store.changesBetween("silver.orders", v0, store.version("silver.orders").get)
      .orderBy(col("o_orderkey"), col("_change_type"))
    Scratch.seal(out, store)
  }

  // q49: Delta-CDF-parity row-level change feed WITH update images — the
  // q42 flow re-run with enableChangeFeed on, plus a trailing INSERT. The
  // UPDATE's changes surface as (update_preimage, update_postimage) pairs
  // recorded atomically with the commit (not reconstructed diffs), the
  // DELETE as deletes, the INSERT as manifest-diff inserts, each row
  // stamped with its commit version. (reference parity:
  // delta.enableChangeDataFeed + table_changes(...))
  def q49CdfFeed(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_sqldml_q")
    store.createOrReplace("silver.orders_cdf",                              // v1
      t(s, dir, "orders")
        .filter(col("o_orderkey") % 3 === 2)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")))
    store.enableChangeFeed("silver.orders_cdf")
    val v0 = store.version("silver.orders_cdf").get

    s.sql("UPDATE silver.orders_cdf SET o_totalprice = o_totalprice * CAST(1.1 AS DOUBLE) WHERE o_orderstatus = 'O'") // v2
    s.sql("DELETE FROM silver.orders_cdf WHERE o_totalprice < CAST(100000 AS DOUBLE)") // v3
    s.sql("INSERT INTO silver.orders_cdf VALUES (CAST(-1 AS BIGINT), 'Z', CAST(1.5 AS DOUBLE))") // v4

    val out = store.changeFeed("silver.orders_cdf", v0, store.version("silver.orders_cdf").get)
      .orderBy(col("_commit_version"), col("_change_type"), col("o_orderkey"))
    Scratch.seal(out, store)
  }

  // q43: the q35 statement shapes executed in MERGE-ON-READ mode — the
  // UPDATE/DELETEs commit deletion vectors (plus appended rewrites)
  // instead of rewriting files; the stacked second DELETE layers a second
  // DV onto files already carrying one. Same SQL in, same rows out — the
  // mode changes the file-level cost, never the answer.
  // q50: point DML + keyed MERGE against a bloom-indexed table laid out so
  // every file's [min, max] key box overlaps (residue partitioning) —
  // min/max skipping is blind on this layout and the parquet-native bloom
  // filters carry the file pruning (LakeFeaturesSpec pins the file counts;
  // this query gates the row-level SEMANTICS under the skipping path).
  def q50BloomPointDml(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val store = Scratch.store(s, "graft_sqldml_q")
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        (col("o_orderkey") % 8).as("par"))
    // declare the index on the empty table so the ONE data write embeds
    // the blooms (the create-then-rewrite shape is only for retrofits)
    store.createOrReplace("silver.orders_bloom", base.limit(0))
    store.setBloomFilterIndex("silver.orders_bloom", Seq("o_orderkey"), ndv = 200000)
    store.createOrReplace("silver.orders_bloom", base,
      partitionBy = Seq("par"), statsFor = Seq("o_orderkey"))

    s.sql("DELETE FROM silver.orders_bloom WHERE o_orderkey = 7")
    s.sql("UPDATE silver.orders_bloom SET o_orderstatus = 'X' WHERE o_orderkey = 32")
    Seq((64L, "M", 111.5), (97L, "M", 222.25), (150000000L, "N", 1.0))
      .toDF("o_orderkey", "st", "tp").createOrReplaceTempView("bloom_src")
    s.sql(
      """MERGE INTO silver.orders_bloom AS tgt USING bloom_src AS src
        |ON tgt.o_orderkey = src.o_orderkey
        |WHEN MATCHED THEN UPDATE SET o_orderstatus = src.st, o_totalprice = src.tp
        |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus, o_totalprice, par)
        |  VALUES (src.o_orderkey, src.st, src.tp, src.o_orderkey % 8)""".stripMargin)
    Scratch.seal(
    store.read("silver.orders_bloom")
      .filter(col("o_orderkey") < 200 || col("o_orderkey") === 150000000L)
      .orderBy(col("o_orderkey")),
      store)
  }

  // q51: COPY INTO idempotence at the statement level — the same landing
  // path copied twice loads the source exactly once (file-tracked ledger;
  // LakeFeaturesSpec pins ledger persistence across vacuum and FORCE).
  def q51CopyInto(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_sqldml_q")
    store.createOrReplace("bronze.nation_land", t(s, dir, "nation").limit(0))
    val copy =
      s"COPY INTO bronze.nation_land FROM '$dir' FILEFORMAT = PARQUET PATTERN = 'nation.parquet'"
    s.sql(copy)
    s.sql(copy) // dup statement — the ledger must make this a no-op
    Scratch.seal(
    store.read("bronze.nation_land")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey")),
      store)
  }

  // q52: incremental materialized view — create over a snapshot, run mixed
  // DML (DELETE / UPDATE with change images / INSERT), refresh, read the
  // maintained aggregate. The refresh applies the change feed as signed
  // deltas through one MERGE (MaterializedViewSpec pins the path); this
  // oracle gates that the maintained numbers equal a full recompute of
  // the post-DML state. Prices sum as DECIMAL(18,6) so the cross-engine
  // compare is order-independent and exact.
  def q52MvRefresh(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_sqldml_q")
    store.createOrReplace("silver.orders_mv_src",
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,6)").as("price")))
    s.sql("CREATE MATERIALIZED VIEW gold.mv_status AS " +
      "SELECT o_orderstatus, count(*) AS n, sum(price) AS total " +
      "FROM silver.orders_mv_src GROUP BY o_orderstatus")
    s.sql("DELETE FROM silver.orders_mv_src WHERE o_orderkey % 11 = 3")
    s.sql("UPDATE silver.orders_mv_src SET o_orderstatus = 'Z' WHERE o_orderkey % 13 = 1")
    s.sql("INSERT INTO silver.orders_mv_src VALUES (9000000, 'Q', CAST(123.45 AS DECIMAL(18,6)))")
    s.sql("REFRESH MATERIALIZED VIEW gold.mv_status")
    Scratch.seal(
    store.read("gold.mv_status")
      .select(col("o_orderstatus"), col("n"), col("total").cast("double").as("total"))
      .orderBy(col("o_orderstatus")),
      store)
  }

  def q43MorDml(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_sqldml_q")
    store.createOrReplace("silver.orders_mor",
      t(s, dir, "orders")
        .filter(col("o_orderkey") % 3 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")))
    store.setDmlMode("silver.orders_mor", "mor")

    s.sql("UPDATE silver.orders_mor SET o_totalprice = o_totalprice * CAST(1.1 AS DOUBLE) WHERE o_orderstatus = 'O'")
    s.sql("DELETE FROM silver.orders_mor WHERE o_totalprice < CAST(100000 AS DOUBLE)")
    s.sql("DELETE FROM silver.orders_mor WHERE o_orderkey % 7 = 0")

    Scratch.seal(
    store.read("silver.orders_mor").orderBy(col("o_orderkey")),
      store)
  }

  // q44: OPTIMIZE … ZORDER BY re-clusters lineitem along a 2-D Z-curve
  // (orderkey × partkey), then a partkey-range read — served by manifest
  // stats pruning over the curve's per-file ranges — aggregates per part.
  // The oracle sees only the final relation: Z-ordering must be purely a
  // layout change.
  def q44ZorderRead(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_sqldml_q")
    store.createOrReplace("silver.li_z",
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity")))
    store.compact("silver.li_z", targetFiles = 16,
      zorderBy = Seq("l_orderkey", "l_partkey"))

    val out = store.readWhere("silver.li_z", col("l_partkey") <= 100)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).cast("long").as("sum_ok"))
      .orderBy(col("l_partkey"))
    Scratch.seal(out, store)
  }

  // q45: metadata-only ALTER TABLE ADD COLUMNS, then INSERT and UPDATE
  // over the widened schema — pre-widening files NULL-fill the new
  // columns at read time and are never rewritten by the widening itself.
  def q45AddColumns(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_sqldml_q")
    store.createOrReplace("gold.cust_tier",
      t(s, dir, "customer").filter(col("c_custkey") % 6 === 0)
        .select(col("c_custkey"), col("c_name")))

    s.sql("ALTER TABLE gold.cust_tier ADD COLUMNS (loyalty_tier STRING, score DOUBLE)")
    t(s, dir, "customer").filter(col("c_custkey") % 6 === 3)
      .select(col("c_custkey"), col("c_name"))
      .createOrReplaceTempView("tier_src")
    s.sql(
      """INSERT INTO gold.cust_tier (c_custkey, c_name, loyalty_tier)
        |SELECT c_custkey, c_name, 'member' FROM tier_src""".stripMargin)
    s.sql("UPDATE gold.cust_tier SET score = CAST(c_custkey AS DOUBLE) / 100 WHERE c_custkey % 2 = 0")

    Scratch.seal(
    store.read("gold.cust_tier").orderBy(col("c_custkey")),
      store)
  }

  // q46: metadata-only column mapping — SQL RENAME COLUMN + DROP COLUMN
  // never rewrite a data file (old files keep the physical name; the
  // sidecar maps it to the visible one); reads, SQL UPDATE and appends
  // all speak the new names. The oracle replays the same dataflow over
  // the reference names — mapping must be invisible in the result.
  def q46ColumnMapping(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_sqldml_q")
    store.createOrReplace("gold.cust_cm",
      t(s, dir, "customer").filter(col("c_custkey") % 4 === 1)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment")))
    s.sql("ALTER TABLE gold.cust_cm RENAME COLUMN c_custkey TO customer_id")
    s.sql("ALTER TABLE gold.cust_cm DROP COLUMN c_mktsegment")
    s.sql("UPDATE gold.cust_cm SET c_acctbal = c_acctbal + CAST(50 AS DOUBLE) WHERE customer_id % 3 = 0")
    store.append("gold.cust_cm",
      t(s, dir, "customer").filter(col("c_custkey") % 4 === 2)
        .select(col("c_custkey").as("customer_id"), col("c_name"), col("c_acctbal")))
    Scratch.seal(
    store.read("gold.cust_cm").orderBy(col("customer_id")),
      store)
  }

  // q47: GENERATED ALWAYS AS columns — the value is always derived at
  // write time (append without the column computes it; an UPDATE of a
  // dependency recomputes it in the same rewrite), and a backfill of
  // pre-declaration files is one file-pruned UPDATE. The oracle computes
  // the band from the FINAL price — any stale value breaks the hash.
  def q47GeneratedColumn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val store = Scratch.store(s, "graft_sqldml_q")
    store.createOrReplace("gold.ord_gen",
      t(s, dir, "orders").filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_totalprice")))
    store.addColumns("gold.ord_gen", StructType(Seq(StructField("price_band", StringType))))
    store.setGeneratedColumn("gold.ord_gen", "price_band",
      "CASE WHEN o_totalprice >= CAST(200000 AS DOUBLE) THEN 'high' " +
        "WHEN o_totalprice >= CAST(100000 AS DOUBLE) THEN 'mid' ELSE 'low' END")
    // backfill the pre-declaration files (their rows carry NULL until a
    // write touches them) — the touch recomputes, whatever SET says
    store.update("gold.ord_gen", col("price_band").isNull,
      Map("price_band" -> lit("ignored")))
    // appended rows omit the generated column entirely — derived at write
    store.append("gold.ord_gen",
      t(s, dir, "orders").filter(col("o_orderkey") % 5 === 1)
        .select(col("o_orderkey"), col("o_totalprice")))
    // updating a DEPENDENCY recomputes the generated value in the rewrite
    store.update("gold.ord_gen", col("o_orderkey") % 10 === 0,
      Map("o_totalprice" -> col("o_totalprice") * lit(2.0)))
    Scratch.seal(
    store.read("gold.ord_gen").orderBy(col("o_orderkey")),
      store)
  }

  // q48: the SQL warehouse reads store tables BY NAME — no temp-view
  // registration, no catalog entry: the analyzer rule resolves the bare
  // identifier to the store's (pruned, mapped) read plan, catalog objects
  // always winning. The statement is plain ANSI over two store tables.
  def q48SqlSelectStore(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_sqldml_q")
    store.createOrReplace("silver.li_sel",
      t(s, dir, "lineitem").filter(col("l_orderkey") % 3 === 0)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity")))
    store.createOrReplace("silver.ord_sel",
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")))
    val out = s.sql(
      """SELECT o.o_orderpriority, l.l_returnflag,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(l.l_quantity AS DECIMAL(18,6))), 6) AS DOUBLE) AS sum_qty
        |FROM silver.li_sel l JOIN silver.ord_sel o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority, l.l_returnflag
        |ORDER BY o.o_orderpriority, l.l_returnflag""".stripMargin)
    Scratch.seal(out, store)
  }

  // q53: selective overwrite — Delta's replaceWhere / Spark's INSERT
  // OVERWRITE … PARTITION, the statement shape of a daily slice reload.
  // Static SQL form replaces partition 2 with its recomputed open orders;
  // the dynamic API form replaces partition 1 with a filtered slice and
  // lands a brand-new partition 9 — all other partitions' files carry
  // over physically (ReplaceWhereSpec pins the file-level behavior).
  def q53ReplaceWhere(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_sqldml_q")
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        (col("o_orderkey") % 4).as("par"))
    store.createOrReplace("lake.orders_p", base, partitionBy = Seq("par"))
    t(s, dir, "orders").createOrReplaceTempView("orders_src")
    s.sql(
      """INSERT OVERWRITE lake.orders_p PARTITION (par = 2)
        |SELECT o_orderkey, o_orderstatus, o_totalprice * CAST(1.1 AS DOUBLE)
        |FROM orders_src WHERE o_orderkey % 4 = 2 AND o_orderstatus = 'O'""".stripMargin)
    store.overwritePartitions("lake.orders_p",
      base.filter(col("par") === 1 && col("o_totalprice") < lit(50000.0))
        .unionByName(s.range(1).select(
          lit(999999999L).as("o_orderkey"), lit("Z").as("o_orderstatus"),
          lit(7.5).as("o_totalprice"), lit(9L).as("par"))))
    Scratch.seal(
    store.read("lake.orders_p")
      .orderBy(col("o_orderkey"), col("par"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("par")),
      store)
  }

  // q54: enforced NOT NULL + column DEFAULT through the SQL ALTER COLUMN
  // surface — omitted INSERT columns take their declared defaults, an
  // explicit NULL stays NULL, and the NOT NULL declaration gates every
  // subsequent write inside the write job itself.
  def q54ColumnDefaults(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_sqldml_q")
    store.createOrReplace("lake.cust_d",
      t(s, dir, "customer").filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")))
    s.sql("ALTER TABLE lake.cust_d ALTER COLUMN c_acctbal SET DEFAULT 100.0")
    s.sql("ALTER TABLE lake.cust_d ALTER COLUMN c_name SET DEFAULT 'UNKNOWN'")
    s.sql("ALTER TABLE lake.cust_d ALTER COLUMN c_custkey SET NOT NULL")
    s.sql("INSERT INTO lake.cust_d (c_custkey) VALUES (9000001), (9000002)")
    s.sql("INSERT INTO lake.cust_d (c_custkey, c_name) VALUES (9000003, NULL)")
    Scratch.seal(
    store.read("lake.cust_d").orderBy(col("c_custkey")),
      store)
  }

  // q55: SHOW PARTITIONS — a metadata-only listing from manifest stats
  // (no data file is opened; the 100 TB cost is the manifest read).
  def q55ShowPartitions(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_sqldml_q")
    store.createOrReplace("lake.ord_parts",
      t(s, dir, "orders").select(col("o_orderkey"), (col("o_orderkey") % 6).as("par")),
      partitionBy = Seq("par"))
    val out = s.sql("SHOW PARTITIONS lake.ord_parts").orderBy(col("partition"))
    Scratch.seal(out, store)
  }

  // q56: row tracking — stable `_row_id` across append, copy-on-write
  // UPDATE and DELETE. The initial snapshot is ONE sorted file, so the
  // backfilled ids equal rank-1 and DuckDB can replay them exactly; the
  // appended batch mints ids at the high water (= initial row count); the
  // subsequent DML rewrites files but must move no surviving id.
  def q56RowTracking(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_sqldml_q")
    store.createOrReplace("lake.cust_rt",
      t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
        .repartition(1),
      sortWithin = Seq("c_custkey"))
    store.enableRowTracking("lake.cust_rt")
    store.append("lake.cust_rt",
      s.range(0, 3).select((col("id") + 9000000L).as("c_custkey"),
        lit(1.5).as("c_acctbal")).coalesce(1))
    store.update("lake.cust_rt", col("c_custkey") % 5 === 0,
      Map("c_acctbal" -> (col("c_acctbal") + lit(100.0))))
    store.delete("lake.cust_rt", col("c_custkey") % 7 === 0)
    Scratch.seal(
    store.readWithRowIds("lake.cust_rt")
      .select(col("c_custkey"), col("c_acctbal"), col("_row_id"))
      .orderBy(col("c_custkey")),
      store)
  }

  // q57: the reference's declarative DDL shape (01_Init.py) — a
  // column-defined CREATE TABLE whose inline NOT NULL / DEFAULT /
  // GENERATED / CHECK / PRIMARY KEY declarations all lower onto the
  // enforcing store features, then an INSERT…SELECT that exercises them.
  def q57CreateTableDdl(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_sqldml_q")
    store.createOrReplace("lake.seed",
      t(s, dir, "region").select(col("r_regionkey"), col("r_name")))
    s.sql(
      """CREATE TABLE lake.nat (
        |  n_nationkey BIGINT NOT NULL,
        |  n_name STRING,
        |  n_regionkey BIGINT,
        |  tag STRING DEFAULT 'base',
        |  nkey2 BIGINT GENERATED ALWAYS AS (n_nationkey * 100 + n_regionkey),
        |  CONSTRAINT pk_n PRIMARY KEY (n_nationkey),
        |  CONSTRAINT fk_r FOREIGN KEY (n_regionkey) REFERENCES lake.seed (r_regionkey),
        |  CONSTRAINT nk_pos CHECK (n_nationkey >= 0)
        |) USING parquet""".stripMargin)
    t(s, dir, "nation").createOrReplaceTempView("nat_src")
    s.sql(
      """INSERT INTO lake.nat (n_nationkey, n_name, n_regionkey)
        |SELECT n_nationkey, n_name, n_regionkey FROM nat_src""".stripMargin)
    Scratch.seal(
    store.read("lake.nat").orderBy(col("n_nationkey")),
      store)
  }

  // q58: MERGE INTO against a merge-on-read table — the full clause
  // surface (matched delete + update, insert, by-source delete) commits
  // one deletion-vector sidecar plus appended post-image/insert files;
  // no pre-merge data file is rewritten (MorMergeSpec pins the manifest
  // shape — the oracle sees only the final relation, which must be
  // identical to the copy-on-write semantics).
  def q58MorMerge(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_sqldml_q")
    store.createOrReplace("silver.cust_mor",
      t(s, dir, "customer").filter(col("c_custkey") % 4 === 1)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")))
    store.setDmlMode("silver.cust_mor", "mor")
    t(s, dir, "customer")
      .filter((col("c_custkey") % 4 === 1 || col("c_custkey") % 4 === 2) &&
        col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .createOrReplaceTempView("cust_mor_src")
    s.sql(
      """MERGE INTO silver.cust_mor AS t
        |USING cust_mor_src AS s
        |ON t.c_custkey = s.c_custkey
        |WHEN MATCHED AND s.c_acctbal < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.c_acctbal = s.c_acctbal * 2
        |WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_acctbal)
        |  VALUES (s.c_custkey, s.c_name, s.c_acctbal)
        |WHEN NOT MATCHED BY SOURCE AND t.c_custkey % 10 = 7 THEN DELETE
        |""".stripMargin)
    Scratch.seal(
    store.read("silver.cust_mor").orderBy(col("c_custkey")),
      store)
  }

  // q60: DESCRIBE HISTORY's operation metrics under the hard oracle gate —
  // a known DML sequence (create, insert, update, delete, merge) replayed
  // on a scratch table; the ledger's data-deterministic invariants
  // (version order, operation labels, post-commit row count, net row
  // delta) must equal DuckDB's arithmetic over the same batch
  // definitions. rows_added / rows_removed INDIVIDUALLY are layout facts
  // (a CoW update's rows_added counts the rewritten files' rows, which
  // depends on how many files the touched rows lived in), so the gate
  // pins their data-deterministic combination net = added − removed and
  // the running num_rows — exactly the quantities a user audits a ledger
  // with. LakeFeaturesSpec keeps the file-level assertions.
  def q60HistoryMetrics(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_sqldml_q")
    store.createOrReplace("lake.hist",
      t(s, dir, "customer").filter(col("c_custkey") % 10 < 8)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")))
    t(s, dir, "customer").filter(col("c_custkey") % 10 >= 8)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .createOrReplaceTempView("hist_b2")
    s.sql("INSERT INTO lake.hist SELECT * FROM hist_b2")
    s.sql("UPDATE lake.hist SET c_acctbal = 0.0 WHERE c_custkey % 7 = 0")
    s.sql("DELETE FROM lake.hist WHERE c_custkey % 5 = 0")
    t(s, dir, "customer").filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .createOrReplaceTempView("hist_src")
    s.sql(
      """MERGE INTO lake.hist AS t
        |USING hist_src AS s
        |ON t.c_custkey = s.c_custkey
        |WHEN MATCHED THEN UPDATE SET t.c_acctbal = s.c_acctbal + 1.0
        |WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_acctbal)
        |  VALUES (s.c_custkey, s.c_name, s.c_acctbal)
        |""".stripMargin)
    Scratch.seal(
      s.sql("DESCRIBE HISTORY lake.hist")
        .select(col("version"),
          col("operation"),
          col("num_rows").cast("long").as("num_rows"),
          (col("rows_added") - col("rows_removed")).cast("long").as("net_rows"))
        .orderBy(col("version")),
      store)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q60_history_metrics" -> q60HistoryMetrics _,
    "q58_mor_merge" -> q58MorMerge _,
    "q57_create_table_ddl" -> q57CreateTableDdl _,
    "q56_row_tracking" -> q56RowTracking _,
    "q55_show_partitions" -> q55ShowPartitions _,
    "q54_column_defaults" -> q54ColumnDefaults _,
    "q53_replace_where" -> q53ReplaceWhere _,
    "q48_sql_select_store" -> q48SqlSelectStore _,
    "q47_generated_column" -> q47GeneratedColumn _,
    "q46_column_mapping" -> q46ColumnMapping _,
    "q42_change_feed" -> q42ChangeFeed _,
    "q49_cdf_feed" -> q49CdfFeed _,
    "q34_sql_merge_scd2" -> q34SqlMergeScd2 _,
    "q35_sql_update_delete" -> q35SqlUpdateDelete _,
    "q37_sql_insert" -> q37SqlInsert _,
    "q41_merge_evolution" -> q41MergeEvolution _,
    "q43_mor_dml" -> q43MorDml _,
    "q50_bloom_dml" -> q50BloomPointDml _,
    "q51_copy_into" -> q51CopyInto _,
    "q52_mv_refresh" -> q52MvRefresh _,
    "q44_zorder_read" -> q44ZorderRead _,
    "q45_add_columns" -> q45AddColumns _)

  private val B1 = "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 10 < 8"
  private val B2 =
    """SELECT c_custkey, c_name,
      |  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
      |FROM customer WHERE c_custkey % 10 < 9 AND c_custkey % 17 <> 0""".stripMargin

  val oracles: Map[String, String] = Map(
    "q60_history_metrics" ->
      """WITH
        |n1 AS (SELECT count(*) AS n FROM customer WHERE c_custkey % 10 < 8),
        |n2 AS (SELECT count(*) AS n FROM customer WHERE c_custkey % 10 >= 8),
        |nd AS (SELECT count(*) AS n FROM customer WHERE c_custkey % 5 = 0),
        |ni AS (SELECT count(*) AS n FROM customer
        |       WHERE c_custkey % 3 = 0 AND c_custkey % 5 = 0),
        |tot AS (SELECT count(*) AS n FROM customer)
        |SELECT CAST(version AS INT) AS version, operation,
        |       CAST(num_rows AS BIGINT) AS num_rows,
        |       CAST(net_rows AS BIGINT) AS net_rows
        |FROM (
        |  SELECT 1 AS version, 'write' AS operation,
        |         (SELECT n FROM n1) AS num_rows, (SELECT n FROM n1) AS net_rows
        |  UNION ALL SELECT 2, 'append', (SELECT n FROM tot), (SELECT n FROM n2)
        |  UNION ALL SELECT 3, 'update', (SELECT n FROM tot), 0
        |  UNION ALL SELECT 4, 'delete',
        |         (SELECT n FROM tot) - (SELECT n FROM nd), -(SELECT n FROM nd)
        |  UNION ALL SELECT 5, 'merge',
        |         (SELECT n FROM tot) - (SELECT n FROM nd) + (SELECT n FROM ni),
        |         (SELECT n FROM ni)
        |) ORDER BY version""".stripMargin,
    "q58_mor_merge" ->
      """WITH tgt AS (
        |  SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 4 = 1),
        |src AS (
        |  SELECT c_custkey, c_name, c_acctbal FROM customer
        |  WHERE c_custkey % 4 IN (1, 2) AND c_custkey % 3 = 0),
        |merged AS (
        |  SELECT t.c_custkey, t.c_name,
        |    CASE WHEN s.c_custkey IS NOT NULL AND NOT (s.c_acctbal < 0)
        |         THEN s.c_acctbal * 2 ELSE t.c_acctbal END AS c_acctbal
        |  FROM tgt t LEFT JOIN src s ON t.c_custkey = s.c_custkey
        |  WHERE NOT (s.c_custkey IS NOT NULL AND s.c_acctbal < 0)
        |    AND NOT (s.c_custkey IS NULL AND t.c_custkey % 10 = 7)
        |  UNION ALL
        |  SELECT s.c_custkey, s.c_name, s.c_acctbal
        |  FROM src s LEFT JOIN tgt t ON s.c_custkey = t.c_custkey
        |  WHERE t.c_custkey IS NULL)
        |SELECT c_custkey, c_name, c_acctbal FROM merged ORDER BY c_custkey""".stripMargin,
    "q57_create_table_ddl" ->
      """SELECT n_nationkey, n_name, n_regionkey, 'base' AS tag,
        |       n_nationkey * 100 + n_regionkey AS nkey2
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "q56_row_tracking" ->
      """WITH base AS (
        |  SELECT c_custkey, c_acctbal,
        |         row_number() OVER (ORDER BY c_custkey) - 1 AS _row_id
        |  FROM customer),
        |appended AS (
        |  SELECT CAST(9000000 + i AS BIGINT) AS c_custkey,
        |         CAST(1.5 AS DOUBLE) AS c_acctbal,
        |         (SELECT count(*) FROM customer) + i AS _row_id
        |  FROM generate_series(0, 2) AS t(i)),
        |merged AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
        |updated AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0
        |              ELSE c_acctbal END AS c_acctbal,
        |         _row_id
        |  FROM merged)
        |SELECT c_custkey, c_acctbal, _row_id FROM updated
        |WHERE c_custkey % 7 <> 0
        |ORDER BY c_custkey""".stripMargin,
    "q55_show_partitions" ->
      """SELECT DISTINCT 'par=' || CAST(o_orderkey % 6 AS VARCHAR) AS partition
        |FROM orders ORDER BY partition""".stripMargin,
    "q54_column_defaults" ->
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer WHERE c_custkey % 5 = 0
        |UNION ALL SELECT CAST(9000001 AS BIGINT), 'UNKNOWN', CAST(100.0 AS DOUBLE)
        |UNION ALL SELECT CAST(9000002 AS BIGINT), 'UNKNOWN', CAST(100.0 AS DOUBLE)
        |UNION ALL SELECT CAST(9000003 AS BIGINT), NULL, CAST(100.0 AS DOUBLE)
        |ORDER BY c_custkey""".stripMargin,
    "q53_replace_where" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderkey % 4 AS par
        |  FROM orders),
        |p2 AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice,
        |         CAST(2 AS BIGINT) AS par
        |  FROM orders WHERE o_orderkey % 4 = 2 AND o_orderstatus = 'O'),
        |dyn AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, par FROM base
        |  WHERE par = 1 AND o_totalprice < CAST(50000 AS DOUBLE)
        |  UNION ALL
        |  SELECT CAST(999999999 AS BIGINT), 'Z', CAST(7.5 AS DOUBLE), CAST(9 AS BIGINT))
        |SELECT o_orderkey, o_orderstatus, o_totalprice, par
        |FROM (SELECT * FROM base WHERE par IN (0, 3)
        |      UNION ALL SELECT * FROM p2
        |      UNION ALL SELECT * FROM dyn)
        |ORDER BY o_orderkey, par""".stripMargin,
    "q48_sql_select_store" ->
      """SELECT o.o_orderpriority, l.l_returnflag,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(l.l_quantity AS DECIMAL(18,6))), 6) AS DOUBLE) AS sum_qty
        |FROM (SELECT * FROM lineitem WHERE l_orderkey % 3 = 0) l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority, l.l_returnflag
        |ORDER BY o.o_orderpriority, l.l_returnflag""".stripMargin,
    "q47_generated_column" ->
      """WITH rows0 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 5 IN (0, 1))
        |SELECT o_orderkey, o_totalprice,
        |  CASE WHEN o_totalprice >= CAST(200000 AS DOUBLE) THEN 'high'
        |       WHEN o_totalprice >= CAST(100000 AS DOUBLE) THEN 'mid'
        |       ELSE 'low' END AS price_band
        |FROM rows0 ORDER BY o_orderkey""".stripMargin,
    "q46_column_mapping" ->
      """SELECT * FROM (
        |  SELECT c_custkey AS customer_id, c_name,
        |    CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + CAST(50 AS DOUBLE)
        |         ELSE c_acctbal END AS c_acctbal
        |  FROM customer WHERE c_custkey % 4 = 1
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal
        |  FROM customer WHERE c_custkey % 4 = 2)
        |ORDER BY customer_id""".stripMargin,
    "q34_sql_merge_scd2" ->
      s"""WITH b1 AS ($B1), b2 AS ($B2)
         |SELECT * FROM (
         |  -- unchanged current rows from batch 1
         |  SELECT b1.c_custkey, b1.c_name, b1.c_acctbal,
         |    TIMESTAMP '$Ts1' AS _tf_valid_from, CAST(NULL AS TIMESTAMP) AS _tf_valid_to,
         |    TIMESTAMP '$Ts1' AS _tf_create_date, TIMESTAMP '$Ts1' AS _tf_update_date
         |  FROM b1 JOIN b2 ON b1.c_custkey = b2.c_custkey
         |  WHERE b1.c_name = b2.c_name AND b1.c_acctbal = b2.c_acctbal
         |  UNION ALL
         |  -- closed: changed in batch 2
         |  SELECT b1.c_custkey, b1.c_name, b1.c_acctbal,
         |    TIMESTAMP '$Ts1', TIMESTAMP '$Ts2', TIMESTAMP '$Ts1', TIMESTAMP '$Ts2'
         |  FROM b1 JOIN b2 ON b1.c_custkey = b2.c_custkey
         |  WHERE b1.c_name <> b2.c_name OR b1.c_acctbal <> b2.c_acctbal
         |  UNION ALL
         |  -- closed: deleted from batch 2
         |  SELECT b1.c_custkey, b1.c_name, b1.c_acctbal,
         |    TIMESTAMP '$Ts1', TIMESTAMP '$Ts2', TIMESTAMP '$Ts1', TIMESTAMP '$Ts2'
         |  FROM b1 WHERE NOT EXISTS (SELECT 1 FROM b2 WHERE b2.c_custkey = b1.c_custkey)
         |  UNION ALL
         |  -- new current version: changed keys
         |  SELECT b2.c_custkey, b2.c_name, b2.c_acctbal,
         |    TIMESTAMP '$Ts2', CAST(NULL AS TIMESTAMP), TIMESTAMP '$Ts2', TIMESTAMP '$Ts2'
         |  FROM b1 JOIN b2 ON b1.c_custkey = b2.c_custkey
         |  WHERE b1.c_name <> b2.c_name OR b1.c_acctbal <> b2.c_acctbal
         |  UNION ALL
         |  -- inserted keys
         |  SELECT b2.c_custkey, b2.c_name, b2.c_acctbal,
         |    TIMESTAMP '$Ts2', CAST(NULL AS TIMESTAMP), TIMESTAMP '$Ts2', TIMESTAMP '$Ts2'
         |  FROM b2 WHERE NOT EXISTS (SELECT 1 FROM b1 WHERE b1.c_custkey = b2.c_custkey))
         |ORDER BY c_custkey, _tf_valid_from""".stripMargin,
    "q37_sql_insert" ->
      """SELECT * FROM (
        |  SELECT c_custkey AS customer_key, c_name AS customer_name, c_mktsegment AS mktsegment
        |  FROM customer WHERE c_custkey % 5 IN (0, 1)
        |  UNION ALL
        |  SELECT CAST(-9 AS BIGINT), 'N/A', 'N/A')
        |ORDER BY customer_key""".stripMargin,
    "q41_merge_evolution" ->
      """WITH t AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 4 = 0),
        |s AS (SELECT c_custkey, upper(c_name) AS c_name, c_acctbal
        |      FROM customer WHERE c_custkey % 8 = 0 OR c_custkey % 4 = 2)
        |SELECT COALESCE(t.c_custkey, s.c_custkey) AS c_custkey,
        |       COALESCE(s.c_name, t.c_name) AS c_name,
        |       s.c_acctbal AS c_acctbal
        |FROM t FULL OUTER JOIN s ON t.c_custkey = s.c_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q42_change_feed" ->
      """WITH v0 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |v2 AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderstatus = 'O' THEN o_totalprice * CAST(1.1 AS DOUBLE)
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM v0
        |  WHERE NOT (CASE WHEN o_orderstatus = 'O' THEN o_totalprice * CAST(1.1 AS DOUBLE)
        |                  ELSE o_totalprice END < CAST(100000 AS DOUBLE)))
        |SELECT * FROM (
        |  SELECT *, 'insert' AS _change_type FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v0)
        |  UNION ALL
        |  SELECT *, 'delete' AS _change_type FROM (SELECT * FROM v0 EXCEPT ALL SELECT * FROM v2))
        |ORDER BY o_orderkey, _change_type""".stripMargin,
    "q49_cdf_feed" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 2),
        |pre2 AS (SELECT * FROM v1 WHERE o_orderstatus = 'O'),
        |v2 AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderstatus = 'O' THEN o_totalprice * CAST(1.1 AS DOUBLE)
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM v1),
        |pre3 AS (SELECT * FROM v2 WHERE o_totalprice < CAST(100000 AS DOUBLE)),
        |feed AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |         'update_preimage' AS _change_type, 2 AS _commit_version FROM pre2
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice * CAST(1.1 AS DOUBLE),
        |         'update_postimage', 2 FROM pre2
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 'delete', 3 FROM pre3
        |  UNION ALL
        |  SELECT CAST(-1 AS BIGINT), 'Z', CAST(1.5 AS DOUBLE), 'insert', 4)
        |SELECT * FROM feed
        |ORDER BY _commit_version, _change_type, o_orderkey""".stripMargin,
    "q35_sql_update_delete" ->
      """WITH updated AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderstatus = 'O' THEN o_totalprice * CAST(1.1 AS DOUBLE)
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM updated
        |WHERE NOT (o_totalprice < CAST(100000 AS DOUBLE))
        |ORDER BY o_orderkey""".stripMargin,
    "q50_bloom_dml" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderkey % 8 AS par
        |  FROM orders),
        |dml AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey = 32 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |    o_totalprice, par
        |  FROM base WHERE o_orderkey <> 7),
        |merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey IN (64, 97) THEN 'M' ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey = 64 THEN CAST(111.5 AS DOUBLE)
        |         WHEN o_orderkey = 97 THEN CAST(222.25 AS DOUBLE)
        |         ELSE o_totalprice END AS o_totalprice,
        |    par
        |  FROM dml
        |  UNION ALL
        |  SELECT 150000000, 'N', CAST(1.0 AS DOUBLE), 150000000 % 8)
        |SELECT o_orderkey, o_orderstatus, o_totalprice, par FROM merged
        |WHERE o_orderkey < 200 OR o_orderkey = 150000000
        |ORDER BY o_orderkey""".stripMargin,
    "q51_copy_into" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "q52_mv_refresh" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(18,6)) AS price
        |  FROM orders),
        |dml AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 13 = 1 THEN 'Z' ELSE o_orderstatus END AS o_orderstatus,
        |    price
        |  FROM base WHERE o_orderkey % 11 <> 3
        |  UNION ALL SELECT 9000000, 'Q', CAST(123.45 AS DECIMAL(18,6)))
        |SELECT o_orderstatus, count(*) AS n, CAST(sum(price) AS DOUBLE) AS total
        |FROM dml GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q43_mor_dml" ->
      """WITH updated AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderstatus = 'O' THEN o_totalprice * CAST(1.1 AS DOUBLE)
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 1)
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM updated
        |WHERE NOT (o_totalprice < CAST(100000 AS DOUBLE))
        |  AND NOT (o_orderkey % 7 = 0)
        |ORDER BY o_orderkey""".stripMargin,
    "q44_zorder_read" ->
      """SELECT l_partkey, count(*) AS n, CAST(sum(l_orderkey) AS BIGINT) AS sum_ok
        |FROM lineitem WHERE l_partkey <= 100
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin,
    "q45_add_columns" ->
      """WITH widened AS (
        |  SELECT c_custkey, c_name, CAST(NULL AS VARCHAR) AS loyalty_tier,
        |         CAST(NULL AS DOUBLE) AS score
        |  FROM customer WHERE c_custkey % 6 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, 'member', CAST(NULL AS DOUBLE)
        |  FROM customer WHERE c_custkey % 6 = 3)
        |SELECT c_custkey, c_name, loyalty_tier,
        |  CASE WHEN c_custkey % 2 = 0 THEN CAST(c_custkey AS DOUBLE) / 100
        |       ELSE score END AS score
        |FROM widened
        |ORDER BY c_custkey""".stripMargin)
}
