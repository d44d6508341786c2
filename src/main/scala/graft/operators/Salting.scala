package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities: salted two-phase aggregation and salted
  * replicated joins (SURVEY.md §4 / the 100 TB design point — AQE's skew
  * handling covers sort-merge joins, but hot-key aggregations and
  * broadcast-averse joins still need explicit salting).
  *
  * Salts are derived from `xxhash64` of row content — deterministic, so
  * results are reproducible and oracle-checkable (the salt only changes
  * physical distribution, never the logical result).
  */
object Salting {

  /** Deterministic salt in [0, buckets). */
  def saltCol(buckets: Int, from: Column*): Column =
    pmod(xxhash64(from: _*), lit(buckets.toLong)).cast("int")

  /** Two-phase salted SUM/COUNT aggregation: phase 1 aggregates on
    * (keys, salt) — spreading each hot key over `buckets` reducers — and
    * phase 2 combines the partials. Logical result identical to a direct
    * groupBy; physical max-partition size divided by `buckets`. */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: Column,
      buckets: Int): DataFrame = {
    val salted = df.withColumn("__salt", saltCol(buckets, df.columns.map(col): _*))
    salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(sum(valueCol).as("__psum"), count(lit(1)).as("__pcnt"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__psum")).as("sum_value"), sum(col("__pcnt")).as("n"))
  }

  /** Salted join for a skewed big side against a non-broadcastable small
    * side: the big side gets a content-derived salt, the small side is
    * replicated `buckets`× with every salt value, and the join key becomes
    * (keys, salt) — each hot key's rows land on `buckets` different
    * reducers instead of one. */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      buckets: Int, joinType: String = "inner"): DataFrame = {
    val bigSalted = big.withColumn("__salt", saltCol(buckets, big.columns.map(col): _*))
    val smallReplicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    bigSalted.join(smallReplicated, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Pre-flight result of one [[autoSaltedJoinWithStats]] call: how many
    * keys crossed the threshold and how many big-side rows they carry
    * (measured at plan-construction time). */
  final case class AutoSaltStats(hotKeys: Long, hotRows: Long, buckets: Int)

  /** [[saltedJoin]] with the replication bill paid ONLY where skew lives —
    * the x103 skew report's per-key pre-flight count wired directly into
    * the remedy. One map-side-combined count over the big side finds the
    * keys with more than `hotThreshold` rows; those keys' rows spread
    * over `buckets` reducers and ONLY their small-side partners replicate,
    * while cold keys join untouched on salt 0. The hot set is bounded by
    * |big| / hotThreshold keys — broadcastable by CONSTRUCTION, whatever
    * the corpus size — and the logical result is bit-identical to the
    * plain equi-join (pinned by the x104 oracle).
    *
    * Against blanket [[saltedJoin]]: that replicates the ENTIRE small
    * side `buckets`× — at a 1e8-row "small" side and 16 salts that is
    * 1.6e9 shuffled rows for keys that were never skewed. Against AQE
    * skew-split: AQE only splits sort-merge partitions after the skewed
    * shuffle is already materialized, and does nothing for hot-key
    * aggregations stacked on the join output; explicit hot-key salting
    * moves the fix before the shuffle.
    *
    * `joinType` may be `inner` or a left join — right/full would need the
    * BIG side replicated (use [[saltedJoin]] if that is really wanted).
    * Key columns must share names across the two sides (usingColumns
    * semantics, as in [[saltedJoin]]). */
  def autoSaltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      hotThreshold: Long, buckets: Int, joinType: String = "inner"): DataFrame =
    autoSaltedJoinWithStats(big, small, keys, hotThreshold, buckets, joinType)._1

  /** [[autoSaltedJoin]] returning the pre-flight skew diagnosis WITH the
    * frame it describes. */
  def autoSaltedJoinWithStats(big: DataFrame, small: DataFrame,
      keys: Seq[String], hotThreshold: Long, buckets: Int,
      joinType: String = "inner"): (DataFrame, AutoSaltStats) = {
    require(hotThreshold > 0, "hotThreshold must be positive")
    require(buckets > 1, "salting needs at least 2 buckets")
    require(Set("inner", "left", "left_outer")(joinType),
      "right/full joins would replicate unmatched rows — use saltedJoin")
    // the pre-flight count IS x103's diagnosis, consumed by the operator
    // instead of a human. The hot set is broadcastable by construction
    // (≤ |big| / hotThreshold keys), so collect it ONCE: the same rows
    // feed the stats hook and become the broadcast literal — the big-side
    // count agg runs exactly one time, not once for stats and again
    // inside the returned plan
    val hotRows = big.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > hotThreshold)
      .collect()
    val stats = AutoSaltStats(
      hotRows.length.toLong, hotRows.map(_.getLong(keys.length)).sum, buckets)
    val s = big.sparkSession
    val hotSchema = org.apache.spark.sql.types.StructType(
      keys.map(k => big.schema(k)) :+
        org.apache.spark.sql.types.StructField("__cnt",
          org.apache.spark.sql.types.LongType, nullable = false))
    val hotKeys = broadcast(
      s.createDataFrame(java.util.Arrays.asList(hotRows: _*), hotSchema)
        .select(keys.map(col) :+ lit(1).as("__hot"): _*))
    val bigS = big.join(hotKeys, keys, "left_outer")
      .withColumn("__salt", when(col("__hot").isNull, lit(0))
        .otherwise(saltCol(buckets, big.columns.map(col): _*)))
      .drop("__hot")
    val smallS = small.join(hotKeys, keys, "left_outer")
      .withColumn("__salt", explode(when(col("__hot").isNull, array(lit(0)))
        .otherwise(sequence(lit(0), lit(buckets - 1)))))
      .drop("__hot")
    (bigS.join(smallS, keys :+ "__salt", joinType).drop("__salt"), stats)
  }
}
