package graft.tables

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, RowOrdering}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.{approx_count_distinct, col, lit, max, min, struct}
import graft.operators.MergeInto

/** A write source that Catalyst bounds to at most [[HeldSource.MaxRows]]
  * rows, run ONCE and held on the driver: `df` reads a local relation of
  * those rows, so every later use of the source (a MERGE's discovery
  * join, rewrite, insert anti-join and change feed) sees the same rows
  * without re-running the source, and its key stats come from the held
  * rows with no Spark job.
  *
  * Not a cache: no cache-manager entry is created, so no later query pays
  * plan matching against it, and a source Catalyst cannot bound (a file
  * scan, a join of scans) is never collected. */
private[graft] final class HeldSource private (val df: DataFrame, rows: Seq[InternalRow]) {

  /** [[KeyStats]] of `keys` from the held rows, or None when some key's
    * type has no interpreted ordering (the caller's aggregation then
    * reports it as it always has). */
  def keyStats(keys: Seq[String], maxTuples: Int): Option[KeyStats] = {
    val caseSensitive =
      df.sparkSession.conf.get("spark.sql.caseSensitive", "false").toBoolean
    val names = df.columns.toSeq
    val idx = keys.map(k =>
      names.indexOf(MergeInto.resolveColumn(names, k, caseSensitive, "merge source")))
    val types = idx.map(i => df.schema(i).dataType)
    if (!types.forall(RowOrdering.isOrderable)) return None
    val bounds = idx.zip(types).map { case (i, dt) =>
      val vs = rows.iterator.filterNot(_.isNullAt(i)).map(_.get(i, dt)).toSeq
      if (vs.isEmpty) None
      else {
        val ord = TypeUtils.getInterpretedOrdering(dt)
        Some((KeyStats.literal(vs.min(ord), dt), KeyStats.literal(vs.max(ord), dt)))
      }
    }
    Some(new KeyStats(keys, if (bounds.exists(_.isEmpty)) None else Some(bounds.flatten),
      () => {
        val tuples = rows.iterator
          .filterNot(r => idx.exists(r.isNullAt))
          .map(r => idx.zip(types).map { case (i, dt) => r.get(i, dt) })
          .distinct.take(maxTuples + 1).toSeq
        if (tuples.length > maxTuples) None
        else Some(tuples.map(_.zip(types).map { case (v, dt) => KeyStats.literal(v, dt) }))
      }))
  }
}

private[graft] object HeldSource {

  /** The most rows a source may have to be held. A MERGE's source is used
    * three to four times (discovery join, rewrite, insert anti-join,
    * change feed), and each use of a `VALUES` or micro-batch source costs
    * fixed per-job overhead, not data; 10,000 rows of a few dozen columns
    * stay a few MB on the driver and inside the plans that embed them,
    * while a source past the cap is a bulk load whose re-evaluation is
    * cheaper than shipping it through the driver. */
  val MaxRows = 10000L

  /** Run `source` once and hold its rows when Catalyst bounds it to
    * [[MaxRows]]: a `VALUES` list, a `createDataFrame(Seq)`, a `range`, a
    * `LIMIT`, a union of bounded sides or a semi-join of a bounded left
    * side. A local relation's rows are read without a job. None
    * otherwise. The bound is read off the ANALYZED plan, which every
    * DataFrame already carries: asking an unbounded source (a deep
    * store-read plan) for its optimized plan would cost it an optimizer
    * pass it never needs (r17 measured that extra pass on staged writes
    * at 74.0 → 87.6 s over the store family). */
  def apply(source: DataFrame): Option[HeldSource] =
    if (source.isStreaming ||
        !source.queryExecution.analyzed.maxRows.exists(_ <= MaxRows)) None
    else {
      val (df, rows) = GraftShims.holdRows(source)
      Some(new HeldSource(df, rows))
    }
}

/** Per-key [min, max] literals of a source's key columns and, computed on
  * first use, its distinct all-non-NULL key tuples (None when there are
  * more than the `maxTuples` the stats were taken with). The file-pruning
  * inputs of a MERGE's candidate cut and of the SCD2 current-slice box. */
private[graft] final class KeyStats(keys: Seq[String],
    bounds: Option[Seq[(Column, Column)]],
    distinctTuples: () => Option[Seq[Seq[Column]]]) {

  /** The box `lo_i <= k_i <= hi_i` over every key; None when some key has
    * no non-null value, so no row can match under `t.k = s.k`. */
  val box: Option[Column] = bounds.map(_.zip(keys).map { case ((lo, hi), k) =>
    col(k) >= lo && col(k) <= hi
  }.reduce(_ && _))

  lazy val tuples: Option[Seq[Seq[Column]]] = distinctTuples()
}

private[graft] object KeyStats {

  private[tables] def literal(v: Any, dt: org.apache.spark.sql.types.DataType): Column =
    GraftShims.column(Literal(v, dt))

  /** Key stats of `source`: from `held`'s rows when given and orderable
    * (no job), else ONE aggregation of per-key min/max plus, when
    * `maxTuples` > 0, an approximate distinct-tuple count that decides
    * whether the distinct tuples are worth a second, limited collect. */
  def of(source: DataFrame, held: Option[HeldSource], keys: Seq[String],
      maxTuples: Int): KeyStats =
    held.flatMap(_.keyStats(keys, maxTuples)).getOrElse {
      val exprs = keys.flatMap(k => Seq(min(col(k)), max(col(k)))) ++
        (if (maxTuples > 0) Seq(approx_count_distinct(struct(keys.map(col): _*))) else Nil)
      val r = source.agg(exprs.head, exprs.tail: _*).head()
      val bounds =
        if (keys.indices.exists(i => r.isNullAt(2 * i))) None
        else Some(keys.indices.map(i => (lit(r.get(2 * i)), lit(r.get(2 * i + 1)))))
      new KeyStats(keys, bounds, () =>
        // ±5% HLL slack: past twice the cap the collect cannot pay
        if (maxTuples <= 0 || r.getLong(2 * keys.length) > maxTuples * 2L) None
        else {
          val ts = source.select(keys.map(col): _*).na.drop("any", keys)
            .distinct().limit(maxTuples + 1).collect()
          if (ts.length > maxTuples) None
          else Some(ts.toSeq.map(t => keys.indices.map(i => lit(t.get(i)))))
        })
    }
}
