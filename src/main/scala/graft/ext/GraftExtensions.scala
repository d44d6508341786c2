package graft.ext

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BoundedTopK, DotProductFloat, RollingHash}

/** SparkSessionExtensions entry point: registers the engine's native
  * Catalyst expressions in the SQL function registry, so the SQL warehouse
  * surface (SURVEY.md §7.1 step 5) can call them by name —
  * `SELECT rolling_hash(text), dot_f(a, b) FROM …` — with full codegen,
  * and injects the [[GraftSqlDml]] analyzer rule and the [[GraftSqlParser]]
  * that lower SQL statements on TableStore tables onto [[StoreCommand]]s
  * (the reference's workhorse statement shapes; see [[SqlDml]]).
  *
  * Wire up with `.withExtensions(new GraftExtensions)` on the session
  * builder, or `spark.sql.extensions=graft.ext.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    // statements Spark parses (MERGE INTO, UPDATE, DELETE, INSERT, ALTER,
    // SHOW) over TableStore tables — the reference's workhorse statement
    // shape (22_ETL_Silver_PySpark.py:62).
    e.injectResolutionRule(new GraftSqlDml(_))
    // CREATE / REPLACE / DROP TABLE must be claimed at parse time (the
    // analyzer's session-catalog conversion wins otherwise; non-store
    // targets fall back to stock behavior at run time), as must the
    // statements Spark has no grammar for (OPTIMIZE, VACUUM, …).
    e.injectParser((_, parser) => new GraftSqlParser(parser))
    e.injectFunction((
      FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (exprs: Seq[Expression]) => RollingHash(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("dot_f"),
      new ExpressionInfo(classOf[DotProductFloat].getName, "dot_f"),
      (exprs: Seq[Expression]) => DotProductFloat(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("bounded_topk"),
      new ExpressionInfo(classOf[BoundedTopK].getName, "bounded_topk"),
      (exprs: Seq[Expression]) => BoundedTopK(exprs(0), exprs(1))))
    // Delta's CDF table-valued function: SELECT … FROM
    // table_changes('db.t', from[, to]) over a store table's change feed.
    e.injectTableFunction((
      FunctionIdentifier("table_changes"),
      new ExpressionInfo(classOf[GraftSqlDml].getName, "table_changes"),
      (exprs: Seq[Expression]) => SqlDml.tableChangesPlan(exprs)))
    // Iceberg-`.files`-style manifest inspection: SELECT … FROM
    // table_files('db.t') lists the current snapshot's data files with
    // row/byte counts, DV counts and the min/max stats pruning consults.
    e.injectTableFunction((
      FunctionIdentifier("table_files"),
      new ExpressionInfo(classOf[GraftSqlDml].getName, "table_files"),
      (exprs: Seq[Expression]) => SqlDml.tableFilesPlan(exprs)))
  }
}
