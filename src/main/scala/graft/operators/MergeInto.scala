package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}

/** SQL `MERGE INTO` semantics as a DataFrame-level operator — the one real
  * capability gap vs the reference, which runs Delta MERGE on Databricks
  * (reference: notebooks/22_ETL_Silver_PySpark.py:62-101,
  * 33_ETL_Gold_Dim_PySpark.py:61-104, 34_ETL_Gold_Fact_PySpark.py:90-139).
  * Our environment has no Delta, so merge is rebuilt as a declarative plan:
  * one full-outer join on the ON predicate, per-row first-match clause
  * dispatch, single `select` + `filter` output (SURVEY.md §7.3).
  *
  * [[ClausePlan]] is the one definition of clause semantics: the in-memory
  * operator, the table store's copy-on-write and merge-on-read merges and
  * the change feed all read the ON condition, the first-match dispatch,
  * each row's disposition, the post-images and the multiple-match error
  * from it. Semantics mirror SQL MERGE:
  *  - clauses are evaluated in declaration order, first match wins;
  *  - `WHEN NOT MATCHED BY SOURCE` sees every target row whose join
  *    condition found no source row (including extra non-equi ON conjuncts);
  *  - a target row matching >1 source row is an error when a matched
  *    clause exists (Delta parity, SURVEY.md §7.4) — detected up front
  *    when `failOnMultipleMatches`.
  *
  * Scale shape: the join shuffles both sides by the equi-keys once (or
  * broadcasts a small source); clause dispatch is pure projection —
  * whole-stage-codegen friendly, no driver-side iteration. Conditions and
  * set-expressions reference the two sides via the `t`/`s` aliases, e.g.
  * `col("s.qty") - col("t.qty")`.
  */
object MergeInto {

  sealed trait MatchedAction { def cond: Option[Column] }
  /** `WHEN MATCHED [AND cond] THEN UPDATE SET …` — unspecified columns keep
    * the target value. */
  final case class MatchedUpdate(cond: Option[Column], set: Map[String, Column]) extends MatchedAction
  /** `WHEN MATCHED [AND cond] THEN DELETE`. */
  final case class MatchedDelete(cond: Option[Column]) extends MatchedAction

  /** `WHEN NOT MATCHED [AND cond] THEN INSERT (…)` — unspecified target
    * columns become NULL. */
  final case class NotMatchedInsert(cond: Option[Column], values: Map[String, Column])

  sealed trait BySourceAction { def cond: Option[Column] }
  /** `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET …`. */
  final case class BySourceUpdate(cond: Option[Column], set: Map[String, Column]) extends BySourceAction
  /** `WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE`. */
  final case class BySourceDelete(cond: Option[Column]) extends BySourceAction

  private val TMark = "__graft_t"
  private val SMark = "__graft_s"

  /** Resolve a user-written column reference against `fields` under the
    * session resolver: exact match first, else the unique case-insensitive
    * match (Spark's default resolution), else a named error. The r14
    * INSERT column-list bug (`ext/SqlDml.scala:898`) was an instance of a
    * CLASS — string-keyed Map lookups against schema-cased names silently
    * no-op on a cased identifier (`SET ACCTBAL = 0` leaving `acctbal`
    * untouched) — so every clause map funnels through this before any
    * `.get`/`.getOrElse` against schema names. */
  private[graft] def resolveColumn(fields: Seq[String], ref: String,
      caseSensitive: Boolean, ctx: String): String =
    fields.find(_ == ref).getOrElse {
      if (caseSensitive)
        throw new IllegalArgumentException(
          s"$ctx: column $ref not found among (${fields.mkString(", ")})")
      else fields.filter(_.equalsIgnoreCase(ref)) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"$ctx: column $ref not found among (${fields.mkString(", ")})")
        case many => throw new IllegalArgumentException(
          s"$ctx: column $ref is ambiguous under case-insensitive " +
            s"resolution: ${many.mkString(", ")}")
      }
    }

  private[graft] def normalizeSet(fields: Seq[String], set: Map[String, Column],
      caseSensitive: Boolean, ctx: String): Map[String, Column] = {
    val resolved = set.toSeq.map { case (k, v) =>
      resolveColumn(fields, k, caseSensitive, ctx) -> v }
    val dups = resolved.groupBy(_._1).filter(_._2.size > 1).keys
    require(dups.isEmpty,
      s"$ctx: multiple assignments target the same column(s) ${dups.mkString(", ")}")
    resolved.toMap
  }

  /** Build the [[ClausePlan]] of one MERGE: the only place its ON keys
    * (against `targetCols`) and SET/INSERT maps (against `targetCols` ++
    * `newCols`, the schema-evolution columns a clause may assign but an
    * ON key may not name) are normalized to the schema's spelling.
    * `ctx` prefixes resolution errors. */
  def plan(
      targetCols: Seq[String],
      caseSensitive: Boolean,
      keys: Seq[String],
      extraOn: Option[Column],
      matched: Seq[MatchedAction],
      notMatched: Seq[NotMatchedInsert],
      notMatchedBySource: Seq[BySourceAction],
      newCols: Seq[String] = Nil,
      ctx: String = "MERGE"): ClausePlan = {
    require(keys.nonEmpty, "merge keys must be non-empty")
    def norm(set: Map[String, Column], clause: String) =
      normalizeSet(targetCols ++ newCols, set, caseSensitive, s"$ctx $clause")
    new ClausePlan(
      keys.map(resolveColumn(targetCols, _, caseSensitive, s"$ctx ON")),
      extraOn,
      matched.map {
        case MatchedUpdate(c, set) => MatchedUpdate(c, norm(set, "UPDATE SET"))
        case d => d
      },
      notMatched.map(i => NotMatchedInsert(i.cond, norm(i.values, "INSERT"))),
      notMatchedBySource.map {
        case BySourceUpdate(c, set) => BySourceUpdate(c, norm(set, "BY SOURCE UPDATE SET"))
        case d => d
      },
      ctx)
  }

  /** The one definition of MERGE clause semantics, shared by the in-memory
    * operator ([[merge]]), the table store's copy-on-write and
    * merge-on-read merges and the change feed ([[changeSet]]):
    *
    *  - the ON condition ([[on]]) over the `t`/`s` aliases;
    *  - first-match dispatch: clauses apply in declaration order, an
    *    absent condition is TRUE and a NULL one falls through;
    *  - a matched or by-source row's disposition ([[disposition]]):
    *    updated, deleted, or untouched when no clause applies;
    *  - each column's post-image ([[postImage]]) — unset columns keep the
    *    target value — and insert value (unset columns are NULL);
    *  - the multiple-match error ([[multipleMatches]]).
    *
    * Built only by [[MergeInto.plan]], so every clause map is already in
    * the target schema's spelling. */
  final class ClausePlan private[MergeInto] (
      val keys: Seq[String],
      extraOn: Option[Column],
      val matched: Seq[MatchedAction],
      notMatched: Seq[NotMatchedInsert],
      notMatchedBySource: Seq[BySourceAction],
      ctx: String) {

    /** No matched and no by-source clause: the merge only appends. */
    def insertOnly: Boolean = matched.isEmpty && notMatchedBySource.isEmpty

    /** The same clauses without the inserts: the rewrite of existing rows
      * when inserts are computed separately ([[insertedRows]]). */
    def withoutInserts: ClausePlan =
      new ClausePlan(keys, extraOn, matched, Nil, notMatchedBySource, ctx)

    /** The ON condition: key equality AND the extra ON conjuncts. */
    val on: Column = {
      val keyCond = keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
      extraOn.map(keyCond && _).getOrElse(keyCond)
    }

    /** Some matched clause applies: a matched row is updated or deleted. */
    def matchedApplies: Column =
      matched.map(_.cond.getOrElse(lit(true))).reduceOption(_ || _).getOrElse(lit(false))

    /** Some by-source clause applies (TRUE when one is unconditioned);
      * None when there are no by-source clauses. */
    def bySourceApplies: Option[Column] =
      if (notMatchedBySource.isEmpty) None
      else if (notMatchedBySource.exists(_.cond.isEmpty)) Some(lit(true))
      else Some(notMatchedBySource.flatMap(_.cond).reduce(_ || _))

    /** Delta parity: a target row matching more than one source row. */
    def multipleMatches: IllegalStateException = new IllegalStateException(
      s"MERGE: multiple source rows match a single target row on keys ${keys.mkString(",")}")

    // update/delete clauses as (condition, Some(SET) = update | None = delete)
    private val matchedSpecs = matched.map {
      case MatchedUpdate(c, set) => (c, Some(set))
      case MatchedDelete(c) => (c, None)
    }
    private val bySourceSpecs = notMatchedBySource.map {
      case BySourceUpdate(c, set) => (c, Some(set))
      case BySourceDelete(c) => (c, None)
    }

    /** First-match dispatch: `when(c1, v1).when(c2, v2)….otherwise(none)`. */
    private def firstMatch(arms: Seq[(Option[Column], Column)], none: Column): Column =
      arms.foldLeft(Option.empty[Column]) { case (acc, (cond, v)) =>
        val w = cond.getOrElse(lit(true))
        Some(acc.map(_.when(w, v)).getOrElse(when(w, v)))
      }.map(_.otherwise(none)).getOrElse(none)

    private def dispatch(specs: Seq[(Option[Column], Option[Map[String, Column]])])(
        upd: Map[String, Column] => Column, del: Column, none: Column): Column =
      firstMatch(specs.map { case (c, set) => (c, set.map(upd).getOrElse(del)) }, none)

    /** Dispatch of a target row joined to the source: the matched clauses
      * when `isMatched`, else the by-source clauses. */
    private def perRow(isMatched: Column)(
        upd: Map[String, Column] => Column, del: Column, none: Column): Column =
      when(isMatched, dispatch(matchedSpecs)(upd, del, none))
        .otherwise(dispatch(bySourceSpecs)(upd, del, none))

    private def keepValue(c: String) = col(s"t.$c")
    private def matchedValue(c: String) =
      dispatch(matchedSpecs)(_.getOrElse(c, keepValue(c)), keepValue(c), keepValue(c))
    private def bySourceValue(c: String) =
      dispatch(bySourceSpecs)(_.getOrElse(c, keepValue(c)), keepValue(c), keepValue(c))
    private def insertValue(c: String, dt: DataType): Column = {
      val none = lit(null).cast(dt)
      firstMatch(notMatched.map(i => (i.cond, i.values.getOrElse(c, none))), none)
    }
    private def matchedKeep = dispatch(matchedSpecs)(_ => lit(true), lit(false), lit(true))
    private def bySourceKeep = dispatch(bySourceSpecs)(_ => lit(true), lit(false), lit(true))
    private def insertKeep = firstMatch(notMatched.map(i => (i.cond, lit(true))), lit(false))

    /** A target row's disposition: "u" (updated), "d" (deleted) or NULL
      * (untouched); `isMatched` says whether it found a source partner. */
    def disposition(isMatched: Column): Column =
      perRow(isMatched)(_ => lit("u"), lit("d"), lit(null).cast(StringType))

    /** Column `c` of an updated row's post-image (uncast). */
    def postImage(c: String, isMatched: Column): Column =
      when(isMatched, matchedValue(c)).otherwise(bySourceValue(c))

    /** Inserts read the unmatched source rows alone, which have no target
      * side: reject a `t.*` reference with a named error rather than the
      * resolver's generic one. The alias match is case-insensitive (the
      * full-outer plan resolves `T.v` against alias `t`), and a head that
      * also names a top-level source column (a struct called `t`) is
      * exempt — it resolves against the source. */
    private def requireSourceOnlyInserts(source: DataFrame): Unit = {
      val tIsSourceCol = source.columns.exists(_.equalsIgnoreCase("t"))
      val targetRefs = notMatched
        .flatMap(i => i.cond.toSeq ++ i.values.values)
        .flatMap(org.apache.spark.sql.GraftShims.catalystExpr(_).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if a.nameParts.length > 1 && a.nameParts.head.equalsIgnoreCase("t") &&
                !tIsSourceCol => a.name
        }).distinct
      require(targetRefs.isEmpty,
        s"$ctx: NOT MATCHED clauses may reference only source columns; found " +
          s"${targetRefs.mkString(", ")}. Inserts are computed from the unmatched " +
          "source rows alone (an insert-only merge, and every table-store merge), " +
          "which have no target side; use typed NULL literals instead.")
    }

    /** Only the rows the merge would INSERT: source rows with no match
      * under [[on]], projected through the first applicable NOT MATCHED
      * clause (target schema). The anti-join needs just the ON columns of
      * the target, so Catalyst prunes the target scan to them — how the
      * table store appends inserts without rewriting an existing file. */
    def insertedRows(target: DataFrame, source: DataFrame): DataFrame = {
      if (notMatched.isEmpty)
        return target.filter(lit(false)) // no insert clauses → empty, target schema
      requireSourceOnlyInserts(source)
      source.alias("s").join(target.alias("t"), on, "left_anti").alias("s")
        .select(target.schema.fields.toSeq.map(f =>
          insertValue(f.name, f.dataType).cast(f.dataType).as(f.name)) :+
          insertKeep.as("__graft_keep"): _*)
        .filter(col("__graft_keep"))
        .drop("__graft_keep")
    }

    /** Delta parity: error when a target row would match multiple source
      * rows. An up-front check (one cheap extra job) rather than fused
      * into the merge join — fusing needs a per-target-row window count,
      * a second full-size shuffle on every merge. */
    def checkMultipleMatches(target: DataFrame, source: DataFrame): Unit = {
      val dup = extraOn match {
        case None =>
          // fast path: key-duplicated source rows that hit any target key
          source.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
            .filter(col("__n") > 1)
            .join(target.select(keys.map(col): _*), keys, "left_semi")
            .limit(1).count()
        case Some(_) =>
          // extra ON conjuncts can disambiguate key-duplicated source rows,
          // so count matches from the REAL join condition per target row
          target.withColumn("__graft_tid", monotonically_increasing_id()).alias("t")
            .join(source.alias("s"), on)
            .groupBy(col("__graft_tid")).agg(count(lit(1)).as("__n"))
            .filter(col("__n") > 1).limit(1).count()
      }
      if (dup > 0) throw multipleMatches
    }

    /** Row-level change set of the merge over `target` (Delta CDF
      * semantics): an updated row emits an (`update_preimage`,
      * `update_postimage`) pair, a deleted row one `delete` row, an
      * untouched row nothing. Insert rows are not produced here — label
      * [[insertedRows]] with `insert` and union. Output = target schema +
      * `_change_type`.
      *
      * Same join shape as the merge itself (left-outer from the target,
      * one explode projection); the caller passes the file-pruned target
      * subset, so this costs the touched rows, not the table. */
    def changeSet(target: DataFrame, source: DataFrame): DataFrame = {
      val fields = target.schema.fields.toSeq
      val j = target.alias("t").join(source.withColumn(SMark, lit(true)).alias("s"), on, "left_outer")
      def img(ct: String, set: Map[String, Column]): Column = struct(
        fields.map(f => set.getOrElse(f.name, col(s"t.${f.name}")).cast(f.dataType).as(f.name)) :+
          lit(ct).as("_change_type"): _*)
      val emit = perRow(col(s"s.$SMark").isNotNull)(
        set => array(img("update_preimage", Map.empty), img("update_postimage", set)),
        array(img("delete", Map.empty)), lit(null))
      // explode(null array) emits nothing — untouched rows vanish
      j.select(explode(emit).as("__c")).select(col("__c.*"))
    }

    /** The post-merge target state (target schema preserved): one
      * full-outer join on [[on]] and one projection. Delta's multiple-match
      * rule: only a matched clause can do something ambiguous with a
      * target row that several source rows match, so only merges with
      * matched clauses are checked. A merge without them never joins
      * matched rows into its output: an insert-only merge is target ∪
      * [[insertedRows]], and a by-source merge keeps the matched target
      * rows (left-semi) and dispatches the unmatched ones (left-anti), so
      * each target row appears once however many source rows match it. */
    def merge(target: DataFrame, source: DataFrame,
        failOnMultipleMatches: Boolean = true): DataFrame = {
      if (insertOnly) return target.unionByName(insertedRows(target, source))
      if (matched.isEmpty) {
        val t = target.alias("t")
        val unmatched = t.join(source.alias("s"), on, "left_anti").alias("t")
        return t.join(source.alias("s"), on, "left_semi")
          .unionByName(unmatched
            .select(target.columns.toSeq.map(c =>
              bySourceValue(c).cast(target.schema(c).dataType).as(c)) :+
              bySourceKeep.as("__graft_keep"): _*)
            .filter(col("__graft_keep")).drop("__graft_keep"))
          .unionByName(insertedRows(target, source))
      }
      if (failOnMultipleMatches) checkMultipleMatches(target, source)

      val t = target.withColumn(TMark, lit(true)).alias("t")
      val s = source.withColumn(SMark, lit(true)).alias("s")
      val isMatched = col(s"t.$TMark").isNotNull && col(s"s.$SMark").isNotNull
      val sourceOnly = col(s"t.$TMark").isNull
      val projected = target.schema.fields.toSeq.map { f =>
        when(isMatched, matchedValue(f.name))
          .when(sourceOnly, insertValue(f.name, f.dataType))
          .otherwise(bySourceValue(f.name))
          .cast(f.dataType).as(f.name)
      }
      val keep = when(isMatched, matchedKeep)
        .when(sourceOnly, insertKeep)
        .otherwise(bySourceKeep)
      t.join(s, on, "full_outer")
        .select(projected :+ keep.as("__graft_keep"): _*)
        .filter(col("__graft_keep"))
        .drop("__graft_keep")
    }
  }

  /** Returns the post-merge target state (target schema preserved): the
    * [[ClausePlan]] of these clauses, normalized against `target`'s
    * columns under the session resolver, applied by
    * [[ClausePlan.merge]].
    *
    * Contract note: NOT MATCHED clauses of an INSERT-ONLY merge may
    * reference only SOURCE (`s.*`) columns — Delta's contract. A `t.*`
    * reference raises a named-column error. */
  def apply(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      extraOn: Option[Column] = None,
      matched: Seq[MatchedAction] = Nil,
      notMatched: Seq[NotMatchedInsert] = Nil,
      notMatchedBySource: Seq[BySourceAction] = Nil,
      failOnMultipleMatches: Boolean = true): DataFrame =
    plan(target.columns.toSeq,
      target.sparkSession.conf.get("spark.sql.caseSensitive", "false").toBoolean,
      keys, extraOn, matched, notMatched, notMatchedBySource)
      .merge(target, source, failOnMultipleMatches)
}
