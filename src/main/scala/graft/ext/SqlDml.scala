package graft.ext

import java.util.Locale

import org.apache.spark.sql.{Column, GraftShims, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute,
  UnresolvedFunction, UnresolvedIdentifier, UnresolvedRelation, UnresolvedStar, UnresolvedTable,
  UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Cast,
  CheckConstraint, EqualTo, Expression, ForeignKeyConstraint, Literal, PrimaryKeyConstraint}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField,
  StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.MergeInto
import graft.tables.{TableMeta, TableStore}

/** SQL over [[TableStore]] tables. The reference declares and loads its
  * whole model in SQL: CREATE OR REPLACE TABLE with identity columns,
  * comments and PK/FK constraints (01_Init.py), and every silver/gold load
  * is a SQL MERGE (22_ETL_Silver_PySpark.py:62-101,
  * 33_ETL_Gold_Dim_PySpark.py:61-104, 34_ETL_Gold_Fact_PySpark.py:90-139;
  * 23_Testing_SCD2.py:40-64 issues SQL UPDATE/DELETE).
  *
  * Every statement on a store table lowers to one [[StoreCommand]]: the
  * statement's label, its table and a body run against the store that
  * holds the table. The statements are DML (MERGE, UPDATE, DELETE, INSERT),
  * DDL (CREATE / REPLACE TABLE with columns or AS SELECT, DROP TABLE,
  * ALTER TABLE column, constraint and property changes), inspection
  * (DESCRIBE HISTORY / DETAIL, SHOW TBLPROPERTIES / CREATE TABLE /
  * PARTITIONS) and maintenance (OPTIMIZE, VACUUM, RESTORE, bloom-index and
  * materialized-view statements, COPY INTO). Two front doors build them:
  *  - [[GraftSqlDml]], an analyzer rule, lowers the statements Spark parses
  *    itself whenever the one target resolver finds the table in an
  *    attached store; anything else is left for Spark;
  *  - [[GraftSqlParser]] claims at parse time the statements Spark has no
  *    grammar for, and CREATE / REPLACE / DROP TABLE, which the analyzer
  *    would convert for the session catalog first; those re-run Spark's own
  *    plan when no store owns the target.
  *
  * MERGE lowering: SQL qualifiers (aliases or table names) are rewritten
  * onto the operator's `t`/`s` sides; the ON conjunction splits into
  * equi-key conjuncts `t.k = s.k` (the shuffle keys) and residual conjuncts
  * (`extraOn`, e.g. the reference's `tgt._tf_valid_to IS NULL` current-row
  * pin); WHEN clauses map 1:1 onto [[MergeInto]] clauses in order (first
  * match wins); `UPDATE SET *` / `INSERT *` expand against the live target
  * schema at run time. Execution inherits the operator's scale shape: one
  * key-shuffled (or broadcast) join plus projection, never a driver loop.
  *
  * Table properties follow one policy: typed knobs route through their
  * validating setters, and the engine-internal keys ([[SqlDml.InternalKeys]])
  * are refused by SET, UNSET and CREATE and left out of SHOW CREATE TABLE.
  */
object SqlDml {

  /** A statement with no result rows. */
  private[ext] def command(statement: String, table: String)(act: TableStore => Unit): StoreCommand =
    StoreCommand(statement, table, (_, st) => { act(st); Nil })

  private[ext] def attr(name: String, t: DataType, nullable: Boolean = false): Attribute =
    AttributeReference(name, t, nullable)()

  /** Re-run Spark's own plan for a claimed statement no store owns. */
  private[ext] def sparkPlan(original: LogicalPlan): Option[SparkSession => Seq[Row]] =
    Some(spark => { GraftShims.ofRows(spark, original).collect(); Nil })

  /** The session's column-name resolver: exact under
    * `spark.sql.caseSensitive`, else case-insensitive. */
  private def resolver(spark: SparkSession): (String, String) => Boolean =
    if (spark.conf.get("spark.sql.caseSensitive", "false").toBoolean) _ == _
    else _.equalsIgnoreCase(_)

  // ------------------------------------------------------ table properties

  /** Table-property keys that are engine state, not declaration: each is
    * owned by its own DDL (bloom index, constraints, generated and identity
    * columns, column mapping, NOT NULL and DEFAULT, materialized views,
    * the persisted ZORDER curve) or by the write path (row and stream
    * high-water marks). Writing one directly skips the checks its DDL
    * runs, so SET / UNSET TBLPROPERTIES and CREATE refuse them and SHOW
    * CREATE TABLE leaves them out. */
  private[ext] val InternalKeys = Seq("mv.*", "bloom.*", "fk.*", "colmap.*", "coldrop.*",
    "gencol.*", "check.*", "identity.*", "notnull.*", "coldefault.*", "zorder.*",
    "primary_key", "row_high_water", "stream_high_water")

  /** The bloom index's keys: SET / UNSET leave them to the BLOOMFILTER
    * INDEX statements, but SHOW CREATE TABLE emits them and CREATE declares
    * the index from them. */
  private val BloomKeys = Set("bloom.cols", "bloom.ndv")

  private def internalKey(k: String): Option[String] =
    InternalKeys.find(p => if (p.endsWith("*")) k.startsWith(p.init) else k == p)

  private def refuseInternal(statement: String, table: String, k: String): Unit =
    internalKey(k).foreach(p => throw new IllegalArgumentException(
      s"$statement $table: '$k' is engine-internal ($p) — use its DDL " +
        "(BLOOMFILTER INDEX / CONSTRAINT / GENERATED / MATERIALIZED VIEW statements)"))

  /** One property as the store call that sets it: typed knobs (dml_mode,
    * target_file_rows, isolation, comment) go through their validating
    * setters, `rowtracking` = 'true' through `enableRowTracking` (the
    * footer-count check and backfill commit), anything else is a generic
    * property, Delta-style. Building the call refuses internal keys and
    * checks typed values, so a statement builds every call before it
    * changes anything. */
  private def propertySetter(statement: String, table: String, k: String,
      v: String): TableStore => Unit = {
    refuseInternal(statement, table, k)
    TableStore.checkKnob(table, k, v)
    k match {
      case "dml_mode" => _.setDmlMode(table, v)
      case "target_file_rows" => _.setTargetFileRows(table, v.toLong)
      case "isolation" => _.setIsolation(table, v)
      case "rowtracking" => _.enableRowTracking(table)
      case "comment" => st => st.setMeta(table, st.meta(table).copy(comment = Some(v)))
      case _ => _.updateProperties(table)(_ + (k -> v))
    }
  }

  // ------------------------------------------------------- target resolver

  /** The store table a statement targets: the first table leaf under
    * `plan` (constraint nodes wrap it in helper operators, e.g.
    * AddCheckConstraint's existing-row validation scan), as `db.table`
    * plus the qualifier spellings the statement text may use for it (an
    * alias shadows the table name, as in SQL). None unless an attached
    * store holds the table: the statement is then left for Spark. */
  private def storeTarget(plan: LogicalPlan,
      spark: SparkSession): Option[(String, Seq[Seq[String]])] =
    plan.collectFirst {
      case SubqueryAlias(id, u: UnresolvedRelation) => (u.multipartIdentifier, Seq(Seq(id.name)))
      case u: UnresolvedRelation =>
        (u.multipartIdentifier, Seq(u.multipartIdentifier, Seq(u.multipartIdentifier.last)).distinct)
      case u: UnresolvedTable => (u.multipartIdentifier, Nil)
      case u: UnresolvedTableOrView => (u.multipartIdentifier, Nil)
    }.map { case (parts, quals) => (parts.mkString("."), quals) }
      .filter { case (name, _) => name.contains(".") && TableStore.resolve(spark, name).isDefined }

  private def sourceQuals(plan: LogicalPlan): Seq[Seq[String]] = plan match {
    case SubqueryAlias(id, _) => Seq(Seq(id.name))
    case u: UnresolvedRelation =>
      Seq(u.multipartIdentifier, Seq(u.multipartIdentifier.last)).distinct
    case _ => Nil
  }

  private def lc(parts: Seq[String]): Seq[String] = parts.map(_.toLowerCase(Locale.ROOT))

  /** Rewrite statement-text qualifiers onto the operator's `t`/`s` sides. */
  private def requalify(e: Expression, tQuals: Seq[Seq[String]], sQuals: Seq[Seq[String]]): Expression = {
    val tq = tQuals.map(lc)
    val sq = sQuals.map(lc)
    e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.length > 1 =>
        val prefix = lc(a.nameParts.init)
        if (tq.contains(prefix)) UnresolvedAttribute(Seq("t", a.nameParts.last))
        else if (sq.contains(prefix)) UnresolvedAttribute(Seq("s", a.nameParts.last))
        else a
    }
  }

  /** Drop target qualifiers entirely (single-table UPDATE/DELETE rewrite). */
  private def unqualify(e: Expression, tQuals: Seq[Seq[String]]): Column = {
    val tq = tQuals.map(lc)
    GraftShims.column(e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.length > 1 && tq.contains(lc(a.nameParts.init)) =>
        UnresolvedAttribute(Seq(a.nameParts.last))
    })
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def assignKey(k: Expression): String = k match {
    case ua: UnresolvedAttribute => ua.nameParts.last
    case at: Attribute => at.name
    case other => throw new UnsupportedOperationException(s"unsupported assignment key: $other")
  }

  // -------------------------------------------- statements Spark parses

  /** Lower one parsed statement onto a [[StoreCommand]] when its target is
    * a store table; None leaves it to Spark. Nested fields, explicit column
    * positions, type changes and `PARTITION (…)` patterns stay with Spark
    * (which rejects them for a non-catalog table). */
  private[ext] def lower(plan: LogicalPlan, spark: SparkSession): Option[LogicalPlan] = {
    def on(target: LogicalPlan) = storeTarget(target, spark)
    def table(target: LogicalPlan) = on(target).map(_._1)
    plan match {
      case m: MergeIntoTable => on(m.targetTable).map { case (t, q) => merge(t, q, m) }

      // UPDATE / DELETE: copy-on-write or deletion vectors, per dml_mode
      case u: UpdateTable => on(u.table).map { case (t, q) =>
        val set = u.assignments.map { case Assignment(k, v) => assignKey(k) -> unqualify(v, q) }.toMap
        val cond = u.condition.map(unqualify(_, q)).getOrElse(lit(true))
        command("UPDATE", t)(_.update(t, cond, set))
      }
      case d: DeleteFromTable => on(d.table).map { case (t, q) =>
        val cond = unqualify(d.condition, q)
        command("DELETE FROM", t)(_.delete(t, cond))
      }
      case i: InsertIntoStatement => table(i.table).map(t =>
        StoreCommand("INSERT INTO", t, (spark, st) => { insert(spark, st, t, i); Nil },
          shown = Seq(i.query)))

      // ALTER TABLE … ADD COLUMNS: metadata-only schema widening, no file
      // is rewritten
      case a: AddColumns if a.columnsToAdd.forall(c => c.name.length == 1 && c.position.isEmpty) =>
        table(a.table).map { t =>
          val cols = StructType(a.columnsToAdd.map(c => StructField(c.name.head, c.dataType)))
          command("ADD COLUMNS", t)(_.addColumns(t, cols))
        }
      // RENAME COLUMN / DROP COLUMN: metadata-only column mapping
      case r: RenameColumn if r.column.name.length == 1 =>
        table(r.table).map(t => command("RENAME COLUMN", t)(
          _.renameColumn(t, r.column.name.head, r.newName)))
      case d: DropColumns if d.columnsToDrop.forall(_.name.length == 1) =>
        table(d.table).map(t => command("DROP COLUMN", t)(st =>
          d.columnsToDrop.foreach(c => st.dropColumn(t, c.name.head))))
      // ALTER COLUMN c SET/DROP NOT NULL | SET/DROP DEFAULT | COMMENT:
      // nullability lowers to the ENFORCED not-null constraint (validated at
      // declaration, enforced in every write), defaults to the metadata the
      // INSERT path applies when a statement omits the column, comments to
      // the column-comment sidecar
      case a: AlterColumns if a.specs.forall(s => s.newDataType.isEmpty && s.newPosition.isEmpty) =>
        table(a.table).map(t => command("ALTER COLUMN", t)(st => a.specs.foreach { s =>
          val c = s.column.name.mkString(".")
          require(!c.contains("."),
            s"ALTER COLUMN on nested field $c: store tables hold top-level columns only")
          s.newNullability.foreach {
            case false => st.setNotNull(t, c)
            case true => st.dropNotNull(t, c)
          }
          s.newDefaultExpression.foreach(d => st.setColumnDefault(t, c, d.originalSQL))
          if (s.dropDefault) st.dropColumnDefault(t, c)
          s.newComment.foreach(st.setColumnComment(t, c, _))
        }))

      // ADD CONSTRAINT c CHECK (…): the enforced check, carried as its SQL
      // text and re-parsed at each write (like Delta's
      // `delta.constraints.*` properties)
      case c: AddCheckConstraint => table(c.child).map(t => command("ADD CONSTRAINT", t)(
        _.addCheckConstraint(t, c.checkConstraint.userProvidedName, c.checkConstraint.condition)))
      // ADD CONSTRAINT c FOREIGN KEY (…) REFERENCES p(…): the reference's
      // informational FK (01_Init.py:336-341) in the metadata sidecar
      case a: AddConstraint => a.tableConstraint match {
        case fk: ForeignKeyConstraint => table(a.child).map(t => command("ADD CONSTRAINT", t)(
          _.setForeignKey(t, fk.userProvidedName, fk.childColumns,
            fk.parentTableId.mkString("."), fk.parentColumns)))
        case _ => None
      }
      // DROP CONSTRAINT c: CHECK or FOREIGN KEY, whichever `c` names
      case d: DropConstraint => table(d.child).map(t => command("DROP CONSTRAINT", t)(st =>
        if (st.foreignKeys(t).contains(d.name)) st.dropForeignKey(t, d.name)
        else st.dropCheckConstraint(t, d.name)))

      case s: SetTableProperties => table(s.table).map(t => command("SET TBLPROPERTIES", t)(st =>
        s.properties.map { case (k, v) => propertySetter("SET TBLPROPERTIES", t, k, v) }
          .foreach(_(st))))
      case s: UnsetTableProperties => table(s.table).map(t => command("UNSET TBLPROPERTIES", t) { st =>
        s.propertyKeys.foreach(refuseInternal("UNSET TBLPROPERTIES", t, _))
        st.updateProperties(t)(_ -- s.propertyKeys)
      })
      // SHOW TBLPROPERTIES [('key')]: the metadata sidecar as rows, internal
      // keys included — the sidecar IS the table's configuration, and
      // hiding it would make debugging blind
      case s: ShowTableProperties => table(s.table).map(t =>
        StoreCommand("SHOW TBLPROPERTIES", t, (_, st) => {
          val all = st.meta(t).properties
          s.propertyKey match {
            case Some(k) => Seq(Row(k, all.getOrElse(k, s"Table $t does not have property: $k")))
            case None => all.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
          }
        }, output = Seq(attr("key", StringType), attr("value", StringType))))
      case s: ShowCreateTable => table(s.child).map(t =>
        StoreCommand("SHOW CREATE TABLE", t, (_, st) => Seq(Row(showCreate(st, t))),
          output = Seq(attr("createtab_stmt", StringType))))
      // SHOW PARTITIONS: one Hive-style `col=value` row per distinct
      // partition tuple, from manifest stats (no data scan)
      case s: ShowPartitions if s.pattern.isEmpty => table(s.table).map(t =>
        StoreCommand("SHOW PARTITIONS", t, (_, st) => st.partitionValues(t).map(Row(_)),
          output = Seq(attr("partition", StringType))))

      case tt: RelationTimeTravel => timeTravel(tt, spark)
      case u: UnresolvedRelation => relation(u, spark)
      case _ => None
    }
  }

  /** MERGE INTO: the source resolves against the executing session (temp
    * views included) and star clauses expand against the live target
    * schema at run time; then `TableStore.merge` → [[MergeInto]]. */
  private def merge(table: String, tQuals: Seq[Seq[String]], m: MergeIntoTable): StoreCommand = {
    val sQuals = sourceQuals(m.sourceTable)
    def cv(e: Expression): Column = GraftShims.column(requalify(e, tQuals, sQuals))

    val (keyEqs, extras) = conjuncts(requalify(m.mergeCondition, tQuals, sQuals)).partition {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
        if a.nameParts.length == 2 && b.nameParts.length == 2 &&
          a.nameParts.last == b.nameParts.last =>
        Set(a.nameParts.head, b.nameParts.head) == Set("t", "s")
      case _ => false
    }
    if (keyEqs.isEmpty) throw new UnsupportedOperationException(
      s"MERGE INTO $table: ON must contain at least one target.key = source.key equality")
    val keys = keyEqs.map { case EqualTo(a: UnresolvedAttribute, _) => a.nameParts.last }
    val extraOn = extras.reduceOption(And.apply).map(GraftShims.column)

    // each clause as a function of the star assignments (`UPDATE SET *` /
    // `INSERT *`), which only exist once the live schema is read
    type Star = Map[String, Column]
    def cond(a: MergeAction) = a.condition.map(cv)
    def set(as: Seq[Assignment]): Star = as.map { case Assignment(k, v) => assignKey(k) -> cv(v) }.toMap
    def fixed[A](clause: A): Star => A = _ => clause
    val matched: Seq[Star => MergeInto.MatchedAction] = m.matchedActions.map {
      case a: UpdateAction => fixed(MergeInto.MatchedUpdate(cond(a), set(a.assignments)))
      case a: UpdateStarAction => val c = cond(a); MergeInto.MatchedUpdate(c, _)
      case a: DeleteAction => fixed(MergeInto.MatchedDelete(cond(a)))
      case a => throw new UnsupportedOperationException(s"WHEN MATCHED does not allow $a")
    }
    val notMatched: Seq[Star => MergeInto.NotMatchedInsert] = m.notMatchedActions.map {
      case a: InsertAction => fixed(MergeInto.NotMatchedInsert(cond(a), set(a.assignments)))
      case a: InsertStarAction => val c = cond(a); MergeInto.NotMatchedInsert(c, _)
      case a => throw new UnsupportedOperationException(s"WHEN NOT MATCHED does not allow $a")
    }
    val bySource: Seq[MergeInto.BySourceAction] = m.notMatchedBySourceActions.map {
      case a: UpdateAction => MergeInto.BySourceUpdate(cond(a), set(a.assignments))
      case a: DeleteAction => MergeInto.BySourceDelete(cond(a))
      case a => throw new UnsupportedOperationException(s"WHEN NOT MATCHED BY SOURCE does not allow $a")
    }
    val evolve = m.withSchemaEvolution

    StoreCommand("MERGE INTO", table, (spark, store) => {
      val source = GraftShims.ofRows(spark, m.sourceTable)
      // source↔target column matching uses the session's resolver: an exact
      // `contains` would silently skip a source column differing only in
      // case — UPDATE SET * would keep the stale value and INSERT * write
      // NULL instead of assigning. WITH SCHEMA EVOLUTION: star clauses
      // expand over the widened column set (target + new source columns),
      // matching the store's widening.
      val resolves = resolver(spark)
      val baseCols = store.read(table).columns.toSeq
      val targetCols = baseCols ++
        (if (evolve) source.columns.toSeq.filterNot(sc => baseCols.exists(resolves(sc, _)))
         else Nil)
      // Delta star semantics: only columns the source actually carries are
      // assigned; UPDATE keeps the target value for the rest, INSERT NULLs
      val star = targetCols.flatMap(c =>
        source.columns.find(resolves(c, _)).map(sc => c -> col(s"s.$sc"))).toMap
      store.merge(table, source, keys, extraOn, matched.map(_(star)), notMatched.map(_(star)),
        bySource, evolve)
      Nil
    }, shown = Seq(m.sourceTable))
  }

  /** INSERT INTO / INSERT OVERWRITE (the reference's seed-row statements,
    * 01_Init.py:265-321): the source query (VALUES lists included) resolves
    * against the executing session; columns align positionally or by the
    * explicit column list / BY NAME and cast to the target schema.
    *
    * A `PARTITION (…)` clause follows Spark/Hive semantics: static entries
    * (`p = v`) are filled as literals and must NOT appear in the query
    * output; dynamic entries (`p`) are supplied by the query's TRAILING
    * columns, in clause order. `INSERT OVERWRITE … PARTITION` replaces only
    * the named region — static specs lower to
    * [[graft.tables.TableStore.overwriteWhere]], dynamic specs to
    * [[graft.tables.TableStore.overwritePartitions]] — so every other
    * partition's files carry over untouched (the selective-overwrite path a
    * daily reload needs at 100 TB, vs the full snapshot an unqualified
    * INSERT OVERWRITE takes). */
  private def insert(spark: SparkSession, store: TableStore, table: String,
      i: InsertIntoStatement): Unit = {
    val target = store.read(table)
    val data = GraftShims.ofRows(spark, i.query)
    val resolves = resolver(spark)
    // reject column names absent from the target — silently dropping a
    // typo'd column (and NULL-filling the real one) loses data; ANSI
    // INSERT raises an unresolved-column error here
    def requireKnown(cols: Seq[String]): Unit = {
      val unknown = cols.filterNot(c => target.columns.exists(resolves(c, _)))
      require(unknown.isEmpty,
        s"INSERT INTO $table: unknown column(s) ${unknown.mkString(", ")} — " +
          s"target columns are ${target.columns.mkString(", ")}")
    }
    // PARTITION clause: every key must be a declared partition column of
    // the store table (Spark raises the same analysis error)
    val partitionSpec = i.partitionSpec
    val statics: Seq[(String, String)] =
      partitionSpec.toSeq.collect { case (k, Some(v)) => (k, v) }
    val dynamics: Seq[String] = partitionSpec.toSeq.collect { case (k, None) => k }
    if (partitionSpec.nonEmpty) {
      requireKnown(partitionSpec.keys.toSeq)
      val pcols = store.partitionColumns(table)
      val notPart = partitionSpec.keys.filterNot(k => pcols.exists(resolves(k, _)))
      require(notPart.isEmpty,
        s"INSERT … PARTITION on $table: ${notPart.mkString(", ")} " +
          s"is not a partition column (partitioned by ${pcols.mkString(", ")})")
    }
    def isStatic(c: String) = statics.exists(kv => resolves(kv._1, c))
    val userCols = i.userSpecifiedCols
    val named =
      if (userCols.nonEmpty) {
        require(userCols.length == data.columns.length,
          s"INSERT INTO $table: ${userCols.length} columns specified, query returns ${data.columns.length}")
        requireKnown(userCols)
        require(!userCols.exists(isStatic),
          s"INSERT INTO $table: a static PARTITION column may not also be listed")
        data.toDF(userCols: _*)
      } else if (i.byName) {
        requireKnown(data.columns.toSeq)
        require(!data.columns.exists(isStatic),
          s"INSERT INTO $table: a static PARTITION column may not also be in the query")
        data
      } else {
        // positional: table order minus static-filled columns, with the
        // dynamic partition columns moved to the END in clause order
        // (Hive/Spark dynamic-partition positional contract)
        val expected = target.columns.toSeq
          .filterNot(c => isStatic(c) || dynamics.exists(resolves(_, c))) ++
          dynamics.flatMap(d => target.columns.find(resolves(d, _)))
        require(data.columns.length == expected.length,
          s"INSERT INTO $table: expected ${expected.length} columns " +
            s"(${expected.mkString(", ")}), query returns ${data.columns.length}")
        data.toDF(expected: _*)
      }
    // align to the target schema: absent columns become NULL, all cast.
    // A GENERATED ALWAYS AS IDENTITY column the statement did not name is
    // OMITTED (the append derives it); naming it explicitly errors there,
    // Delta's ALWAYS semantics.
    val provided: Set[String] =
      (named.columns.toSeq ++ statics.map(_._1)).map(_.toLowerCase).toSet
    val identity = store.identityColumn(table).map(_._1)
    val outFields = target.schema.fields.toSeq.filterNot(f =>
      identity.exists(resolves(_, f.name)) && !provided(f.name.toLowerCase))
    // a column the statement omits takes its declared DEFAULT (standard
    // semantics: defaults apply on omission only — an explicit NULL stays
    // NULL), falling back to NULL when none is declared
    val defaults = store.columnDefaults(table)
    val aligned = named.select(outFields.map { f =>
      statics.find(kv => resolves(kv._1, f.name)) match {
        // static PARTITION value: parser-text literal cast to the column
        case Some((_, v)) => lit(v).cast(f.dataType).as(f.name)
        case None =>
          // resolver-matched, NOT exact `contains`: a column list / BY
          // NAME spelling differing only in case would otherwise silently
          // default- or NULL-fill the column it named (the same trap the
          // MERGE star expansion documents)
          (named.columns.find(resolves(_, f.name)).map(col)
            .orElse(defaults.collectFirst {
              case (c, sql) if resolves(c, f.name) => expr(sql)
            }).getOrElse(lit(null)))
            .cast(f.dataType).as(f.name)
      }
    }: _*)
    // INSERT INTO is an APPEND — new files only, existing files carried
    // over by the manifest (a 1-row insert into a 100 TB table costs one
    // file). INSERT OVERWRITE replaces every row but keeps the table's
    // definition (layout, identity keys, change feed) — a `write` commit
    // of the whole region — and a PARTITION-qualified overwrite replaces
    // just the named region.
    if (!i.overwrite) store.append(table, aligned)
    else if (partitionSpec.isEmpty) store.overwriteWhere(table, aligned, lit(true), op = "write")
    else if (dynamics.isEmpty) {
      val cond = statics.map { case (k, v) =>
        val f = target.schema.fields.find(x => resolves(k, x.name)).get
        col(f.name) <=> lit(v).cast(f.dataType)
      }.reduce(_ && _)
      store.overwriteWhere(table, aligned, cond, op = "insert_overwrite_partition")
    } else store.overwritePartitions(table, aligned, op = "insert_overwrite_partition")
  }

  /** SHOW CREATE TABLE: executable DDL from the current manifest (schema
    * and layout) and the metadata sidecar — columns with GENERATED / NOT
    * NULL / DEFAULT / COMMENT, PRIMARY KEY / FOREIGN KEY / CHECK
    * constraints (the reference declares all three inline, 01_Init.py),
    * partitioning by logical column names, table comment and the
    * declarable properties. Internal keys are state, not
    * declaration, and are left out. */
  private def showCreate(store: TableStore, table: String): String = {
    val m = store.meta(table)
    val schema = store.read(table).schema
    val notNull = store.notNullColumns(table).map(_.toLowerCase).toSet
    val defaults = store.columnDefaults(table)
    // GENERATED clauses are DECLARATION, not state (the reference's most
    // distinctive DDL — GENERATED ALWAYS AS IDENTITY, 01_Init.py:59):
    // omitting them would round-trip to a table whose surrogate keys stop
    // generating. Only the identity's issued-count is state and stays out.
    val identity = store.identityColumn(table)
    val gencols = store.generatedColumns(table)
    val cols = schema.fields.map { f =>
      val nn = if (notNull(f.name.toLowerCase)) " NOT NULL" else ""
      val gen = identity.collect {
        case (c, start, step, _) if c.equalsIgnoreCase(f.name) =>
          s" GENERATED ALWAYS AS IDENTITY (START WITH $start INCREMENT BY $step)"
      }.orElse(gencols.collectFirst {
        case (c, sql) if c.equalsIgnoreCase(f.name) => s" GENERATED ALWAYS AS ($sql)"
      }).getOrElse("")
      val dflt = defaults.collectFirst {
        case (c, sql) if c.equalsIgnoreCase(f.name) => s" DEFAULT $sql"
      }.getOrElse("")
      val comment = m.columnComments.get(f.name)
        .map(c => s" COMMENT '${c.replace("'", "''")}'").getOrElse("")
      s"  `${f.name}` ${f.dataType.sql}$gen$nn$dflt$comment"
    }
    val pk = m.properties.get("primary_key").map(k =>
      s"  CONSTRAINT pk PRIMARY KEY ($k)").toSeq
    val fks = store.foreignKeys(table).toSeq.sortBy(_._1).map {
      case (c, (child, ref, refCols)) =>
        s"  CONSTRAINT $c FOREIGN KEY (${child.mkString(", ")}) " +
          s"REFERENCES $ref (${refCols.mkString(", ")})"
    }
    val checks = store.checkConstraints(table).toSeq.sortBy(_._1).map {
      case (c, sql) => s"  CONSTRAINT $c CHECK ($sql)"
    }
    val partitionBy = Option(store.detail(table)("partition_columns")).filter(_.nonEmpty)
      .map(p => s"\nPARTITIONED BY ($p)").getOrElse("")
    val comment = m.comment
      .map(c => s"\nCOMMENT '${c.replace("'", "''")}'").getOrElse("")
    val props = m.properties.filter { case (k, _) => BloomKeys(k) || internalKey(k).isEmpty }
      .toSeq.sortBy(_._1)
    val tblProps = if (props.isEmpty) "" else
      props.map { case (k, v) => s"'$k' = '$v'" }
        .mkString("\nTBLPROPERTIES (", ", ", ")")
    val body = (cols.toSeq ++ pk ++ fks ++ checks).mkString(",\n")
    s"CREATE TABLE $table (\n$body)\nUSING parquet$partitionBy$comment$tblProps"
  }

  // ---------------------------------------------------------- read plans

  /** `SELECT … FROM db.t VERSION AS OF n` / `TIMESTAMP AS OF ts` over a
    * store table resolves to the matching retained snapshot (Delta's
    * time-travel surface; the store keeps every version until vacuum).
    * Timestamps resolve against manifest commit times, interpreted UTC. */
  private def timeTravel(tt: RelationTimeTravel, spark: SparkSession): Option[LogicalPlan] = {
    def tsInstant(e: Expression): Option[java.time.Instant] = e match {
      case Literal(v, t) => t match {
        case StringType =>
          scala.util.Try(java.time.LocalDateTime
            .parse(v.toString.replace(' ', 'T'))
            .toInstant(java.time.ZoneOffset.UTC)).toOption
        case _: TimestampType =>
          Some(java.time.Instant.EPOCH.plusNanos(v.asInstanceOf[Long] * 1000L))
        case _ => None
      }
      case c: Cast => tsInstant(c.child)
      case _ => None
    }
    (tt.relation match {
      case u: UnresolvedRelation => Some(u.multipartIdentifier.mkString("."))
      case _ => None
    }).filter(_.contains("."))
      .flatMap(name => TableStore.resolve(spark, name).map(name -> _))
      .flatMap { case (name, store) =>
        tt.version.map { v =>
          val version = v.toString.toInt
          require(store.versions(name).contains(version),
            s"$name VERSION AS OF $version: no such retained version " +
              s"(have ${store.versions(name).mkString(", ")})")
          version
        }.orElse(tt.timestamp.flatMap(tsInstant).map(store.versionAsOf(name, _)))
          .map(v => GraftShims.analyzedPlan(store.readVersion(name, v)))
      }
  }

  /** Plain `SELECT … FROM db.t` over a store table: resolve the relation
    * to the store's read plan, so the SQL warehouse surface reads store
    * tables BY NAME — no manual temp-view registration. Session-catalog
    * tables and (temp) views always win: the lowering only fires when the
    * catalog cannot resolve the identifier, so a store table can never
    * shadow a catalog object. */
  private def relation(u: UnresolvedRelation, spark: SparkSession): Option[LogicalPlan] = {
    val name = u.multipartIdentifier.mkString(".")
    // isStreaming: spark.readStream.table("db.t") must NOT be substituted
    // with the batch read plan (it would surface later as a confusing
    // "writeStream on a non-streaming Dataset") — streaming reads of store
    // tables go through the graft-table DSv2 source instead
    if (u.isStreaming || !name.contains(".") || u.multipartIdentifier.length > 2) None
    else if (scala.util.Try(spark.catalog.tableExists(name)).getOrElse(false)) None
    else TableStore.resolve(spark, name).map { st =>
      SubqueryAlias(u.multipartIdentifier, GraftShims.analyzedPlan(st.read(name)))
    }
  }

  private def strArg(e: Expression): Option[String] = e match {
    case Literal(s: UTF8String, _) => Some(s.toString)
    case _ => None
  }

  /** `SELECT … FROM table_changes('db.t', from[, to])` — Delta's CDF
    * table-valued function over a store table's [[TableStore.changeFeed]],
    * registered via `SparkSessionExtensions.injectTableFunction`. */
  private[ext] def tableChangesPlan(args: Seq[Expression]): LogicalPlan = {
    val spark = SparkSession.active
    def intArg(e: Expression): Option[Int] = e match {
      case Literal(v: Int, _) => Some(v)
      case Literal(v: Long, _) => Some(v.toInt)
      case _ => None
    }
    val parsed = args match {
      case Seq(t, f, rest @ _*) if rest.size <= 1 =>
        for {
          table <- strArg(t)
          st <- TableStore.resolve(spark, table)
          from <- intArg(f)
          to <- rest.headOption.map(intArg).getOrElse(st.version(table))
        } yield (st, table, from, to)
      case _ => None
    }
    val (st, table, from, to) = parsed.getOrElse(throw new IllegalArgumentException(
      "table_changes('db.table', fromVersion[, toVersion]): the table must live in an " +
        "attached TableStore and the versions must be integer literals"))
    GraftShims.analyzedPlan(st.changeFeed(table, from, to))
  }

  /** `SELECT … FROM table_files('db.t')` — the current manifest as rows
    * (file, rows, size_bytes, dv_count, stats map): the Iceberg-`.files`
    * style inspection surface over [[TableStore.fileInventory]]. */
  private[ext] def tableFilesPlan(args: Seq[Expression]): LogicalPlan = {
    val spark = SparkSession.active
    val parsed = args match {
      case Seq(t) => strArg(t).flatMap(table => TableStore.resolve(spark, table).map(st => (st, table)))
      case _ => None
    }
    val (st, table) = parsed.getOrElse(throw new IllegalArgumentException(
      "table_files('db.table'): the table must live in an attached TableStore"))
    GraftShims.analyzedPlan(st.fileInventory(table))
  }

  // ------------------------------------------- statements claimed at parse

  /** CREATE [OR REPLACE] TABLE db.t, column-defined or AS SELECT, claimed
    * at parse time: the analyzer converts (or rejects) these nodes for the
    * session catalog before an injected resolution rule can see them. The
    * command decides at run time: a target inside an attached store's
    * namespace is created there (the reference's dim_calendar CTAS,
    * 01_Init.py:180, and its column-defined model DDL), anything else
    * re-runs the untouched original plan. */
  private[ext] def captureCreate(plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case c: CreateTableAsSelect => create(c.name, Some(c.query), Nil, orReplace = false,
      orCreate = true, c.ignoreIfExists, c.partitioning, c.tableSpec, c)
    case r: ReplaceTableAsSelect => create(r.name, Some(r.query), Nil, orReplace = true,
      r.orCreate, ignoreIfExists = false, r.partitioning, r.tableSpec, r)
    case c: CreateTable => create(c.name, None, c.columns, orReplace = false,
      orCreate = true, c.ignoreIfExists, c.partitioning, c.tableSpec, c)
    case r: ReplaceTable => create(r.name, None, r.columns, orReplace = true,
      r.orCreate, ignoreIfExists = false, r.partitioning, r.tableSpec, r)
    case _ => None
  }

  /** The one create step. Every clause lowers onto the store feature that
    * implements it — inline NOT NULL, DEFAULT, COMMENT, GENERATED ALWAYS
    * AS (expr | IDENTITY), PRIMARY KEY / FOREIGN KEY / CHECK, PARTITIONED
    * BY, TBLPROPERTIES — so the declared DDL and the enforced behavior are
    * the same thing and SHOW CREATE TABLE round-trips it. A clause the
    * store cannot honor is refused, never dropped: silently ignoring a
    * user's partitioning would write an unpartitioned table with no
    * warning. The TBLPROPERTIES bag is checked before any data is written,
    * so a refused bag leaves no table and an unchanged one. */
  private def create(name: LogicalPlan, query: Option[LogicalPlan], columns: Seq[ColumnDefinition],
      orReplace: Boolean, orCreate: Boolean, ignoreIfExists: Boolean, partitioning: Seq[Transform],
      tableSpec: TableSpecBase, original: LogicalPlan): Option[LogicalPlan] =
    (name match {
      case u: UnresolvedIdentifier if u.nameParts.length == 2 => Some(u.nameParts.mkString("."))
      case _ => None
    }).map { table =>
      val unsupported = scala.collection.mutable.ArrayBuffer.empty[String]
      val (identityT, otherT) = partitioning.partition(t =>
        t.name == "identity" && t.references.length == 1)
      val partCols = identityT.map(_.references()(0).fieldNames.mkString("."))
      otherT.foreach(t => unsupported += s"partition transform $t")
      columns.filter(_.identityColumnSpec.exists(_.isAllowExplicitInsert)).foreach(c =>
        unsupported += s"${c.name} GENERATED BY DEFAULT AS IDENTITY (ALWAYS only)")
      val (props, comment, constraints) = tableSpec match {
        case u: UnresolvedTableSpec =>
          u.provider.filterNot(_.equalsIgnoreCase("parquet"))
            .foreach(p => unsupported += s"USING $p")
          u.location.foreach(l => unsupported += s"LOCATION $l")
          if (u.external) unsupported += "EXTERNAL"
          u.serde.foreach(_ => unsupported += "row-format/serde clause")
          val cs = u.constraints.flatMap {
            case pk: PrimaryKeyConstraint => Some((st: TableStore) => st.setPrimaryKey(table, pk.columns))
            case fk: ForeignKeyConstraint => Some((st: TableStore) => st.setForeignKey(table,
              fk.userProvidedName, fk.childColumns, fk.parentTableId.mkString("."), fk.parentColumns))
            case ck: CheckConstraint => Some((st: TableStore) =>
              st.addCheckConstraint(table, ck.userProvidedName, ck.condition))
            case other => unsupported += s"constraint $other"; None
          }
          (u.properties, u.comment, cs)
        case _ => (Map.empty[String, String], None, Nil)
      }
      val unsupportedClauses = unsupported.toSeq

      StoreCommand(if (orReplace) "REPLACE TABLE" else "CREATE TABLE", table, (spark, store) => {
        if (unsupportedClauses.nonEmpty) throw new UnsupportedOperationException(
          s"CREATE TABLE $table: the snapshot store cannot honor " +
            unsupportedClauses.mkString(", "))
        val exists = store.exists(table)
        if (!orReplace && exists && !ignoreIfExists)
          throw new IllegalStateException(s"CREATE TABLE $table: table already exists")
        if (orReplace && !orCreate && !exists)
          throw new IllegalArgumentException(s"REPLACE TABLE $table: table not found")
        if (orReplace || !exists) {
          val (bloom, knobs) = props.partition { case (k, _) => BloomKeys(k) }
          val setters = knobs.map { case (k, v) => propertySetter("CREATE TABLE", table, k, v) }
          require(bloom.isEmpty || bloom.contains("bloom.cols"),
            s"CREATE TABLE $table: 'bloom.ndv' sizes the index 'bloom.cols' declares")
          bloom.get("bloom.ndv").foreach(TableStore.checkKnob(table, "bloom.ndv", _))
          val data = query.map(GraftShims.ofRows(spark, _)).getOrElse(store.emptyFrame(
            StructType(columns.map(c => StructField(c.name, c.dataType, c.nullable)))))
          val bloomCols = bloom.get("bloom.cols").map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
          bloomCols.foreach(_.foreach(MergeInto.resolveColumn(data.columns.toSeq, _,
            spark.conf.get("spark.sql.caseSensitive", "false").toBoolean,
            s"$table bloom index")))
          store.createOrReplace(table, data, partitionBy = partCols)
          if (props.nonEmpty || comment.isDefined)
            store.setMeta(table, TableMeta(comment = comment))
          setters.foreach(_(store))
          bloomCols.foreach(store.setBloomFilterIndex(table, _,
            bloom.get("bloom.ndv").map(_.toLong).getOrElse(100000L)))
          columns.foreach { c =>
            if (!c.nullable) store.setNotNull(table, c.name)
            c.comment.foreach(store.setColumnComment(table, c.name, _))
            c.defaultValue.foreach(d => store.setColumnDefault(table, c.name, d.originalSQL))
            c.generationExpression.foreach(store.setGeneratedColumn(table, c.name, _))
            c.identityColumnSpec.foreach(s =>
              store.setIdentity(table, c.name, s.getStart, s.getStep))
          }
          constraints.foreach(_(store))
        }
        Nil
      }, shown = query.toSeq, inNamespace = true, orElse = sparkPlan(original))
    }

  /** CREATE MATERIALIZED VIEW db.mv AS SELECT k…, agg… FROM db.src GROUP BY
    * k… — an incrementally-maintained aggregate view over a store table
    * (TableStore.createMaterializedView). The defining SELECT must be a
    * single-table GROUP BY whose aggregates are count(*) / count(col) /
    * sum(col), each aliased — the self-maintainable shapes a change-feed
    * refresh can keep exact. Anything else is rejected with the reason. */
  private[ext] def createMaterializedView(view: String, parsed: LogicalPlan): StoreCommand = {
    def bad(why: String) = throw new IllegalArgumentException(
      s"CREATE MATERIALIZED VIEW $view: $why (the defining query must be " +
        "SELECT keys…, count/sum aggregates… FROM one store table GROUP BY keys…)")
    val (groupExprs, aggExprs, source) = parsed match {
      case Aggregate(g, a, u: UnresolvedRelation, _) => (g, a, u.multipartIdentifier.mkString("."))
      case _ => bad("not a single-table GROUP BY aggregation")
    }
    val keys = groupExprs.map {
      case a: UnresolvedAttribute => a.nameParts.last
      case e => bad(s"GROUP BY expression $e is not a plain column")
    }
    val aggs = aggExprs.flatMap {
      case a: UnresolvedAttribute =>
        if (keys.exists(_.equalsIgnoreCase(a.nameParts.last))) None
        else bad(s"${a.nameParts.last} is neither a grouping key nor an aggregate")
      case Alias(f: UnresolvedFunction, out) if f.nameParts.length == 1 =>
        val fn = f.nameParts.head.toLowerCase(Locale.ROOT)
        val arg = f.arguments match {
          case Seq(_: UnresolvedStar) => "*"
          // count(1)-style constants; count(NULL) is always 0, NOT
          // count(*) — mapping it to "*" would maintain the wrong value
          case Seq(Literal(v, _)) if v != null => "*"
          case Seq(a: UnresolvedAttribute) => a.nameParts.last
          case other => bad(s"$fn argument $other is not a plain column")
        }
        Some((out, fn, arg))
      case e => bad(s"projection $e must be a grouping key or an aliased aggregate")
    }
    command("CREATE MATERIALIZED VIEW", source)(_.createMaterializedView(view, source, keys, aggs))
      .copy(orElse = Some(_ => bad(s"source $source is not a table in the attached store")))
  }
}

/** The one command node for SQL on store tables. At run time it resolves
  * the attached store holding `table` — for a CREATE (`inNamespace`), the
  * store owning the table's namespace — and runs `body` on it with the
  * executing session; it is the one place that reports a statement whose
  * table no store holds. A statement claimed before its target could be
  * checked runs `orElse` instead (Spark's own plan for CREATE and DROP
  * TABLE). Plan strings name the statement and the table; `shown` are the
  * plans the body runs (a MERGE source, an INSERT or CTAS query), which
  * EXPLAIN prints beneath it. */
final case class StoreCommand(
    statement: String,
    table: String,
    body: (SparkSession, TableStore) => Seq[Row],
    override val output: Seq[Attribute] = Nil,
    shown: Seq[LogicalPlan] = Nil,
    inNamespace: Boolean = false,
    orElse: Option[SparkSession => Seq[Row]] = None) extends LeafRunnableCommand {

  override def innerChildren: Seq[QueryPlan[_]] = shown

  override protected def stringArgs: Iterator[Any] = Iterator(statement, table)

  override def run(spark: SparkSession): Seq[Row] =
    (if (inNamespace) TableStore.resolveDb(spark, table.split('.').head)
     else TableStore.resolve(spark, table)) match {
      case Some(store) => body(spark, store)
      case None => orElse.getOrElse(throw new IllegalStateException(
        s"no attached TableStore holds $table for $statement"))(spark)
    }
}

/** Delegating parser: claims the store statements Spark has no grammar for
  * (Delta's and Databricks' maintenance surface) and CREATE / REPLACE /
  * DROP TABLE (see [[SqlDml.captureCreate]]); everything else passes
  * through untouched. */
class GraftSqlParser(delegate: org.apache.spark.sql.catalyst.parser.ParserInterface)
  extends org.apache.spark.sql.catalyst.parser.ParserInterface {

  import SqlDml.{attr, command}

  private val HistoryRe =
    """(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+([\w.]+)\s*;?\s*$""".r
  private val DetailRe =
    """(?is)^\s*DESC(?:RIBE)?\s+DETAIL\s+([\w.]+)\s*;?\s*$""".r
  private val OptimizeRe =
    """(?is)^\s*OPTIMIZE\s+([\w.]+)(?:\s+WHERE\s+(.+?))?(?:\s+ZORDER\s+BY\s*\(?\s*([\w.\s,]+?)\s*\)?)?\s*;?\s*$""".r
  private val VacuumRe =
    """(?is)^\s*VACUUM\s+([\w.]+)(?:\s+RETAIN\s+(\d+)\s+HOURS)?\s*;?\s*$""".r
  private val RestoreRe =
    """(?is)^\s*RESTORE\s+(?:TABLE\s+)?([\w.]+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""".r
  // Databricks' bloom-index DDL, simplified: one global OPTIONS clause
  // (numItems sizes the per-file filter) instead of per-column options.
  private val CreateBloomRe =
    """(?is)^\s*CREATE\s+BLOOMFILTER\s+INDEX\s+ON\s+(?:TABLE\s+)?([\w.]+)\s+FOR\s+COLUMNS\s*\(\s*([\w\s,]+?)\s*\)(?:\s+OPTIONS\s*\(\s*['`"]?numItems['`"]?\s*=\s*(\d+)\s*\))?\s*;?\s*$""".r
  private val DropBloomRe =
    """(?is)^\s*DROP\s+BLOOMFILTER\s+INDEX\s+ON\s+(?:TABLE\s+)?([\w.]+)\s*;?\s*$""".r
  private val CreateMvRe =
    """(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s+AS\s+(.+?)\s*;?\s*$""".r
  private val RefreshMvRe =
    """(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*;?\s*$""".r
  // Databricks' idempotent ingestion statement, core surface: source path,
  // FILEFORMAT, optional glob PATTERN, optional force copy-option.
  private val CopyIntoRe =
    """(?is)^\s*COPY\s+INTO\s+([\w.]+)\s+FROM\s+'([^']+)'\s+FILEFORMAT\s*=\s*(\w+)(?:\s+PATTERN\s*=\s*'([^']+)')?(?:\s+COPY_OPTIONS\s*\(\s*'force'\s*=\s*'(true|false)'\s*\))?\s*;?\s*$""".r
  // DROP TABLE must be claimed at PARSE time: the analyzer resolves the
  // identifier against the session catalog before extension rules fire
  // (unlike DML on an unresolvable relation).
  private val DropTableRe =
    """(?is)^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$""".r

  private def list(cols: String): Seq[String] = cols.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    // DESCRIBE HISTORY: one row per retained commit, newest first (Delta's
    // shape over the manifest store)
    case HistoryRe(t) => StoreCommand("DESCRIBE HISTORY", t, (_, st) =>
      st.history(t).map { case (v, ts, op, n, rows) =>
        val (fa, fr, ra, rr) = st.operationMetrics(t, v)
        Row(v, java.sql.Timestamp.from(ts), op, n, if (rows < 0) null else rows,
          fa, fr, if (ra < 0) null else ra, if (rr < 0) null else rr)
      }, output = Seq(attr("version", IntegerType), attr("timestamp", TimestampType),
        attr("operation", StringType), attr("num_files", IntegerType),
        attr("num_rows", LongType, nullable = true), attr("files_added", IntegerType),
        attr("files_removed", IntegerType), attr("rows_added", LongType, nullable = true),
        attr("rows_removed", LongType, nullable = true)))
    // DESCRIBE DETAIL: current-snapshot facts, driver-side metadata only
    case DetailRe(t) => StoreCommand("DESCRIBE DETAIL", t, (_, st) =>
      st.detail(t).toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) },
      output = Seq(attr("property", StringType), attr("value", StringType)))
    // OPTIMIZE [WHERE …] [ZORDER BY (c, …)]: ZORDER keeps the file count
    // (clustering, not consolidation: the curve needs multiple files to
    // give every column selective ranges); plain OPTIMIZE consolidates per
    // partition (deletion vectors folded in); WHERE bounds the work to the
    // predicate's candidate files — with ZORDER, the candidates are
    // re-clustered INTO the persisted curve (incremental clustering)
    case OptimizeRe(t, w, z) =>
      val zorderBy = Option(z).map(list).getOrElse(Nil)
      val where = Option(w).map(_.trim).filter(_.nonEmpty)
      StoreCommand("OPTIMIZE", t, (_, st) => {
        val before = st.history(t).headOption.map(_._4).getOrElse(0)
        (where, zorderBy) match {
          case (Some(c), Nil) => st.compactWhere(t, expr(c))
          case (Some(c), _) => st.zorderWhere(t, expr(c))
          case (None, Nil) => st.compact(t)
          case (None, _) => st.compact(t, targetFiles = math.max(1, before), zorderBy)
        }
        Seq(Row(t, before, st.history(t).headOption.map(_._4).getOrElse(0)))
      }, output = Seq(attr("table", StringType), attr("files_before", IntegerType),
        attr("files_after", IntegerType)))
    // VACUUM: drop data files the current manifest does not reference and
    // retire non-current versions
    case VacuumRe(t, hours) =>
      val retainMs = Option(hours).map(_.toLong * 3600 * 1000).getOrElse(0L)
      command("VACUUM", t)(_.vacuum(t, retainMs = retainMs))
    // RESTORE: metadata-only re-point of a retained snapshot as the new
    // current version (the restore itself becomes a history entry)
    case RestoreRe(t, v) => command("RESTORE", t) { st =>
      require(st.versions(t).contains(v.toInt),
        s"RESTORE $t: no retained version $v (have ${st.versions(t).mkString(", ")})")
      st.restore(t, v.toInt)
    }
    // parquet-native bloom filters for point-lookup file skipping
    case CreateBloomRe(t, cols, ndv) => command("CREATE BLOOMFILTER INDEX", t)(
      _.setBloomFilterIndex(t, list(cols), Option(ndv).map(_.toLong).getOrElse(100000L)))
    case DropBloomRe(t) => command("DROP BLOOMFILTER INDEX", t)(_.dropBloomFilterIndex(t))
    // COPY INTO: idempotent file-tracked ingestion; reports what this run
    // loaded
    case CopyIntoRe(t, from, fmt, pat, force) =>
      val (format, forced) = (fmt.toLowerCase, Option(force).exists(_.equalsIgnoreCase("true")))
      StoreCommand("COPY INTO", t, (_, st) => {
        val (files, rows) = st.copyInto(t, from, format, Option(pat), forced)
        Seq(Row(files, rows))
      }, output = Seq(attr("num_loaded_files", LongType), attr("num_inserted_rows", LongType)))
    case CreateMvRe(t, query) => SqlDml.createMaterializedView(t, delegate.parsePlan(query))
    // REFRESH: apply the source's change feed since the last refresh as
    // signed per-group deltas (one small MERGE); full pinned rebuild only
    // when the feed cannot supply the delta
    case RefreshMvRe(t) => command("REFRESH MATERIALIZED VIEW", t)(_.refreshMaterializedView(t))
    // a store table drops its versions wholesale; any other target runs
    // the stock plan, preserving session-catalog behavior exactly
    case DropTableRe(_, t) if t.contains(".") =>
      command("DROP TABLE", t)(_.dropTable(t))
        .copy(orElse = SqlDml.sparkPlan(delegate.parsePlan(sqlText)))
    case _ =>
      val plan = delegate.parsePlan(sqlText)
      SqlDml.captureCreate(plan).getOrElse(plan)
  }

  override def parseExpression(s: String) = delegate.parseExpression(s)
  override def parseTableIdentifier(s: String) = delegate.parseTableIdentifier(s)
  override def parseFunctionIdentifier(s: String) = delegate.parseFunctionIdentifier(s)
  override def parseMultipartIdentifier(s: String) = delegate.parseMultipartIdentifier(s)
  override def parseQuery(s: String) = delegate.parseQuery(s)
  override def parseRoutineParam(s: String) = delegate.parseRoutineParam(s)
  override def parseTableSchema(s: String) = delegate.parseTableSchema(s)
  override def parseDataType(s: String) = delegate.parseDataType(s)
}

/** Analyzer rule: lower parsed SQL on store tables onto [[StoreCommand]]s
  * and store reads ([[SqlDml.lower]]). Fires only when the target table
  * exists in an attached store; every other statement is left untouched
  * for Spark to handle. */
class GraftSqlDml(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsDown { case p => SqlDml.lower(p, spark).getOrElse(p) }
}
