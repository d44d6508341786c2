package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (backward) join: for every left row, attach the latest right row
  * whose timestamp is ≤ the left timestamp, per key — the time-series
  * primitive Spark lacks as a built-in operator.
  *
  * Implementation is the union-carry-forward plan, not a join: tag both
  * sides, single shuffle on the key, sort within partitions by
  * (ts, side) and carry the last right payload forward with
  * `last(ignoreNulls)` over a running window, then keep left rows. Cost is
  * ONE shuffle of |L|+|R| rows and a partition-local sort — no row
  * multiplication, no range-join quadratic blowup, skew bounded by the key
  * distribution. This is the formulation that survives 100 TB of events:
  * a naive `l JOIN r ON key AND rt <= lt` + max() explodes quadratically
  * within key groups.
  *
  * Tie semantics: right rows sort before left rows at equal timestamps, so
  * `rt == lt` matches (inclusive ≤, same as SQL ASOF JOIN).
  */
object AsOfJoin {

  /** @param rightPayload right columns to carry onto left rows (renamed as
    *                     given); right rows must be unique per (keys, ts) —
    *                     pre-dedupe deterministically if not. */
  def asofBackward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      rightPayload: Map[String, String]): DataFrame = {

    val payloadStruct = struct(rightPayload.toSeq.sortBy(_._2).map {
      case (src, dst) => col(src).as(dst)
    }: _*)
    val lCols = left.columns.toSeq
    val l = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
      .withColumn("__payload", lit(null).cast(
        right.select(payloadStruct).schema.head.dataType))
    val r = right
      .select((keys.map(col) :+ col(rightTs).as("__ts") :+ lit(0).as("__side") :+
        payloadStruct.as("__payload")): _*)
    // align schemas: right side carries nulls for non-key left columns
    val rAligned = lCols.foldLeft(r) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }.select((lCols.map(col) ++ Seq(col("__ts"), col("__side"), col("__payload"))): _*)
    val unioned = l.select((lCols.map(col) ++ Seq(col("__ts"), col("__side"), col("__payload"))): _*)
      .unionByName(rAligned)

    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    unioned
      .withColumn("__carried", last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select((lCols.map(col) ++
        rightPayload.values.toSeq.sorted.map(dst => col(s"__carried.$dst").as(dst))): _*)
  }
}
