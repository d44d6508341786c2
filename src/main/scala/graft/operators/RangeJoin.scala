package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Banded point-in-interval range join.
  *
  * A naive `points JOIN intervals ON p BETWEEN s AND e` has no equi-key, so
  * Spark plans it as a broadcast nested-loop join — O(|P|·|I|), which melts
  * at scale. This operator band-partitions the time axis: every interval
  * explodes into the bands it overlaps, every point maps to its single
  * band, and the join becomes an EQUI-join on the band id followed by the
  * exact between-filter. Cost: |P| + Σ(interval span/band) rows through one
  * hash join — linear, shuffle-partitionable, skew-safe for bounded
  * interval lengths (pick bandWidth ≈ median interval length).
  */
object RangeJoin {

  /** @param bandWidth band size in the same units as the (numeric) point /
    *                  interval bound columns. */
  def pointInInterval(
      points: DataFrame,
      intervals: DataFrame,
      pointCol: String,
      startCol: String,
      endCol: String,
      bandWidth: Long): DataFrame = {

    val p = points.withColumn("__band", (col(pointCol) / bandWidth).cast("long"))
    val i = intervals.withColumn("__band",
      explode(sequence(
        (col(startCol) / bandWidth).cast("long"),
        (col(endCol) / bandWidth).cast("long"))))
    p.join(i, Seq("__band"))
      .filter(col(pointCol) >= col(startCol) && col(pointCol) <= col(endCol))
      .drop("__band")
  }
}
