package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}

/** SCD (slowly-changing-dimension) merges — the reference's silver/gold
  * incremental-load semantics rebuilt as Spark-first operators.
  *
  *  - SCD2 (reference: notebooks/22_ETL_Silver_PySpark.py:62-101): full
  *    history, "current" = `_tf_valid_to IS NULL`; change detection is the
  *    reference's null-unsafe `!=` OR-chain (SURVEY.md §2.3 F4) with an
  *    opt-in null-safe mode.
  *  - SCD1 (reference: notebooks/33_ETL_Gold_Dim_PySpark.py:61-104):
  *    update-in-place + insert, no delete.
  *
  * [[scd2Merge]] is the scale path: ONE full-outer join of the *current*
  * slice against the source; each joined row emits 0–2 output rows
  * (closed version and/or new version) through a single
  * `explode(array(struct…))` projection, so the join output is never
  * re-executed per branch. History rows union in untouched (their
  * `_tf_valid_to IS NOT NULL` filter prunes at the scan). Property tests
  * cross-check it against a faithful re-expression of the reference's
  * two consecutive MERGE statements via [[MergeInto]] (test sources).
  *
  * Timestamps are caller-supplied batch constants (`loadTs`), reproducing
  * Delta's statement-level `current_timestamp()` semantics explicitly
  * (SURVEY.md §2.9 note).
  */
object Scd {

  val ValidFrom = "_tf_valid_from"
  val ValidTo = "_tf_valid_to"
  /** Audit pair the reference carries on every table (01_Init.py:231-233)
    * and touches on every write (22_ETL_Silver_PySpark.py:76-77,99): set at
    * insert, bumped on every version-closing or payload-changing write.
    * Opt-in: the merge operators maintain the pair whenever the target
    * carries both columns. */
  val CreateDate = "_tf_create_date"
  val UpdateDate = "_tf_update_date"

  private[graft] def hasAudit(df: DataFrame): Boolean =
    df.columns.contains(CreateDate) && df.columns.contains(UpdateDate)

  /** Initial SCD2 load: every source row becomes a current version. */
  def scd2Init(source: DataFrame, loadTs: Column, audit: Boolean = false): DataFrame = {
    val base = source
      .withColumn(ValidFrom, loadTs.cast(TimestampType))
      .withColumn(ValidTo, lit(null).cast(TimestampType))
    if (audit)
      base.withColumn(CreateDate, loadTs.cast(TimestampType))
        .withColumn(UpdateDate, loadTs.cast(TimestampType))
    else base
  }

  private[graft] def changePredicate(payload: Seq[String], nullSafe: Boolean): Column =
    payload
      .map(c => if (nullSafe) !(col(s"t.$c") <=> col(s"s.$c")) else col(s"t.$c") =!= col(s"s.$c"))
      .reduceOption(_ || _)
      .getOrElse(lit(false))

  /** Incremental SCD2 merge (fused single-join path). `source` columns =
    * natural key + payload; `target` = same + envelope. */
  def scd2Merge(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      loadTs: Column,
      nullSafeCompare: Boolean = false): DataFrame = {

    val payload = source.columns.filterNot(keys.contains).toSeq
    val naturalCols = source.columns.toSeq
    val audit = hasAudit(target)
    val envelope = Seq(ValidFrom, ValidTo) ++ (if (audit) Seq(CreateDate, UpdateDate) else Nil)
    require(
      target.columns.toSet == (naturalCols ++ envelope).toSet,
      s"target must carry source columns + envelope; got ${target.columns.mkString(",")}")

    val hist = target.filter(col(ValidTo).isNotNull)
    val cur = target.filter(col(ValidTo).isNull)

    val t = cur.withColumn("__t", lit(true)).alias("t")
    val s = source.withColumn("__s", lit(true)).alias("s")
    val j = t.join(s, keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _), "full_outer")

    val isMatched = col("t.__t").isNotNull && col("s.__s").isNotNull
    val tOnly = col("t.__t").isNotNull && col("s.__s").isNull
    val sOnly = col("t.__t").isNull
    // Null-unsafe `!=` chain evaluates to NULL when only a NULL↔value flip
    // occurred — `<=> true` collapses NULL to "unchanged", matching the
    // reference's WHEN-clause skip behavior (SURVEY.md §2.3 F4).
    val changed = changePredicate(payload, nullSafeCompare) <=> true

    val outSchema = StructType(target.schema.fields.sortBy(f => target.columns.indexOf(f.name)))
    def mkStruct(cols: Seq[Column]): Column = struct(
      cols.zip(target.columns).map { case (c, n) => c.cast(outSchema(n).dataType).as(n) }: _*)

    val keepStruct = mkStruct(target.columns.toSeq.map(c => col(s"t.$c")))
    val closedStruct = mkStruct(target.columns.toSeq.map {
      case ValidTo => loadTs.cast(TimestampType)
      case UpdateDate if audit => loadTs.cast(TimestampType)
      case c => col(s"t.$c")
    })
    val newStruct = mkStruct(target.columns.toSeq.map {
      case ValidFrom => loadTs.cast(TimestampType)
      case ValidTo => lit(null).cast(TimestampType)
      case CreateDate if audit => loadTs.cast(TimestampType)
      case UpdateDate if audit => loadTs.cast(TimestampType)
      case c => col(s"s.$c")
    })

    val emitted =
      when(isMatched && !changed, array(keepStruct))
        .when(isMatched && changed, array(closedStruct, newStruct))
        .when(tOnly, array(closedStruct))
        .when(sOnly, array(newStruct))
    val merged = j.select(explode(emitted).as("__row")).select(col("__row.*"))

    hist.unionByName(merged)
  }

  /** Apply one source batch to a STORED SCD2 table as a single atomic,
    * file-pruned merge — the shared engine behind the streaming SCD2 sink
    * ([[graft.streaming.StreamingUpsert]]) and the batch medallion's
    * silver loads ([[graft.pipeline.Medallion.runSilver]]).
    *
    * The reference's SCD2 semantics (close changed + vanished current
    * rows, insert the new current versions — 22_ETL_Silver_PySpark.py:
    * 62-101) land as ONE store merge using null-merge-key duplication:
    * batch rows whose key exists with a changed payload appear in the
    * merge source twice — once under their real key (matches → closes the
    * old current row) and once with the key columns nulled (null never
    * equi-matches → falls to the insert clause, carrying the real key in
    * `__nk_*` side columns). One merge = one atomic snapshot commit: no
    * window where a key's current row is closed but its replacement not
    * yet inserted.
    *
    * Scale shape: the store's discovery rewrites only files holding rows
    * some matched CLAUSE applies to — for a full-snapshot source (the
    * medallion's daily load) that is files containing actually-CHANGED
    * current rows, not the whole current slice; inserts append. Replaying
    * an identical batch is a no-op by SCD2 idempotence, which is what
    * makes the streaming sink safe under foreachBatch's at-least-once
    * contract. */
  /** @param pruneCurrentByBatchKeyRange gate the change-detection pre-join
    *   below by the BATCH's per-key [min, max] box (read off a held
    *   batch's rows, else one tiny batch aggregation — the
    *   mergeCandidates cut applied one layer up): the
    *   pre-join only needs current rows whose key exists in the batch, so
    *   the box is a pure superset filter — semantics unchanged — and on a
    *   key-clustered table it turns a per-batch scan of the WHOLE current
    *   slice into the overlapping files only. Off by default: the batch
    *   pipeline's full-snapshot loads touch every key anyway (the box
    *   covers everything and the extra driver job is pure cost); the
    *   STREAMING sink turns it on, where micro-batches are narrow and
    *   per-batch cost must track the batch, not the table. Random
    *   (unclustered) keys degrade gracefully — the box covers the table
    *   and only the small aggregation is wasted. */
  def scd2ApplyBatch(store: graft.tables.TableStore, table: String, batch: DataFrame,
      keys: Seq[String], loadTs: Column, initAudit: Boolean = false,
      txn: Option[graft.tables.Txn] = None,
      closeVanished: Boolean = true,
      pruneCurrentByBatchKeyRange: Boolean = false): Unit = {
    val ts = loadTs.cast(TimestampType)
    // one dispatch for both paths: staged into the transaction when given
    // one, an immediate per-table commit otherwise (see TableWriter)
    val writer: graft.tables.TableWriter = txn.getOrElse(store)
    if (!store.exists(table)) {
      writer.createOrReplace(table, scd2Init(batch, ts, audit = initAudit))
      return
    }
    val payload = batch.columns.filterNot(keys.contains).toSeq
    val audit = hasAudit(store.read(table))
    val currentOnly = col(s"t.$ValidTo").isNull
    val closeSet = Map(ValidTo -> (ts: Column)) ++
      (if (audit) Map(UpdateDate -> (ts: Column)) else Map.empty)

    // a bounded batch (a micro-batch of rows) is held on the driver: its
    // box comes off the held rows with no job
    val held = graft.tables.HeldSource(batch)
    val batchDf = held.map(_.df).getOrElse(batch)
    val boxPred: Option[Column] =
      if (!pruneCurrentByBatchKeyRange) None
      else graft.tables.KeyStats.of(batchDf, held, keys, maxTuples = 0).box // None: empty batch
    // readWhere: the IS NULL predicate hits null-count file skipping, so
    // closed-history files never open for the change-detection join
    val current = store.readWhere(table,
      boxPred.map(col(ValidTo).isNull && _).getOrElse(col(ValidTo).isNull))
    // batch rows whose key already has a current row with a different
    // payload: these need BOTH a close of the old version (their real-key
    // copy matches) and an insert of the new one (their null-key copy
    // cannot match, so it reaches the insert clause). A semi-join, so the
    // merge source below stays bounded by twice a bounded batch and the
    // store merge holds it: the batch and the change-detection join run
    // once per statement.
    val changed = batchDf.alias("s")
      .join(current.alias("t"),
        keys.map(k => col(s"s.$k") === col(s"t.$k")).reduce(_ && _) &&
          changePredicate(payload, nullSafe = false), "left_semi")

    // every source row carries its real key in __nk_* side columns; the
    // duplicates null the join keys themselves
    def withNk(df: DataFrame, nullKeys: Boolean): DataFrame = df.select(
      (df.columns.map(c =>
        if (nullKeys && keys.contains(c)) lit(null).cast(df.schema(c).dataType).as(c)
        else col(c)) ++
        keys.map(k => col(k).as(s"__nk_$k"))).toSeq: _*)
    val source = withNk(batchDf, nullKeys = false)
      .unionByName(withNk(changed, nullKeys = true))

    val insertValues: Map[String, Column] =
      keys.map(k => k -> col(s"s.__nk_$k")).toMap ++
        payload.map(c => c -> col(s"s.$c")) +
        (ValidFrom -> (ts: Column)) +
        (ValidTo -> lit(null).cast(TimestampType)) ++
        (if (audit) Map(CreateDate -> (ts: Column), UpdateDate -> (ts: Column))
         else Map.empty)

    writer.merge(table, source, keys, Some(currentOnly),
      matched = Seq(MergeInto.MatchedUpdate(
        Some(changePredicate(payload, nullSafe = false)), closeSet)),
      notMatched = Seq(MergeInto.NotMatchedInsert(None, insertValues)),
      // close-vanished is FULL-SNAPSHOT semantics: every current row whose
      // key is absent from `batch` closes. Correct only when the batch is
      // a complete key snapshot (the reference's daily loads); an
      // incremental/CDC-style batch must pass closeVanished = false or
      // every key that merely sat out one batch loses its current row
      notMatchedBySource =
        if (closeVanished)
          Seq(MergeInto.BySourceUpdate(Some(currentOnly), closeSet))
        else Nil)
  }

  /** SCD1 merge: matched-and-changed → update payload, unmatched → insert;
    * rows missing from the source are kept (reference 33:61-104). When the
    * target carries the audit pair, pass `auditTs` to bump `_tf_update_date`
    * on changed rows and stamp both dates on inserts (reference 33:80,99). */
  def scd1Merge(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      nullSafeCompare: Boolean = false,
      auditTs: Option[Column] = None): DataFrame = {

    val payload = source.columns.filterNot(keys.contains).toSeq
    val ts = auditTs.map(_.cast(TimestampType))
    require(ts.isEmpty || hasAudit(target),
      s"auditTs requires the target to carry $CreateDate and $UpdateDate")
    MergeInto(
      target, source, keys,
      matched = Seq(MergeInto.MatchedUpdate(
        Some(changePredicate(payload, nullSafeCompare)),
        payload.map(c => c -> col(s"s.$c")).toMap ++
          ts.map(UpdateDate -> _).toMap)),
      notMatched = Seq(MergeInto.NotMatchedInsert(
        None, (keys ++ payload).map(c => c -> col(s"s.$c")).toMap ++
          ts.map(t => Map(CreateDate -> t, UpdateDate -> t)).getOrElse(Map.empty))),
      failOnMultipleMatches = false)
  }
}
