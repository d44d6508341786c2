package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered funnel analysis over an event stream: how many users reach
  * step i having performed steps 1..i-1 in order, each step within
  * `windowSecs` of the previous one. The standard product-analytics
  * query (view → click → purchase) the reference's Power BI layer would
  * issue against the gold warehouse (tb-lakehouse-enhanced
  * README.md:143-161) — expressed here as a chain of per-step
  * earliest-qualifying-event aggregations.
  *
  * Semantics: step 1's timestamp is the user's earliest event of that
  * type; step i's is the earliest event of type i STRICTLY AFTER the
  * user's step i-1 time and within the window of it. "Earliest
  * qualifying" makes the funnel greedy-deterministic — no RNG, no tie
  * ambiguity at microsecond event resolution — and matches the usual
  * "first conversion" product definition.
  *
  * Scale shape: each step is one filtered partial-agg groupBy on the
  * user key plus an equi-join back on that same key — every shuffle in
  * the chain hashes on user_id, so Catalyst reuses one exchange layout
  * across all steps instead of re-partitioning per step, and AQE
  * collapses the later (funnel-shrunk) sides to broadcasts when they
  * fall under the threshold. State per user is one timestamp per step,
  * never the event history.
  */
object Funnel {

  /** Per-step conversion counts. Returns (step, step_name, users)
    * ordered by step — one row per funnel step, counting distinct users
    * whose ordered journey reached it. */
  def conversion(events: DataFrame, steps: Seq[String], windowSecs: Long,
      userCol: String = "user_id", typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val first = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("t"))
    // fold: each stage joins candidates to the previous stage's per-user
    // time and keeps the earliest in-window follow-up
    val stages = steps.tail.scanLeft(first) { (prev, step) =>
      events.filter(col(typeCol) === step).as("e")
        .join(prev.select(col(userCol), col("t").as("t_prev")), userCol)
        .filter(col(tsCol) > col("t_prev") &&
          col(tsCol) <= col("t_prev") + expr(s"INTERVAL $windowSecs SECONDS"))
        .groupBy(col(userCol)).agg(min(col(tsCol)).as("t"))
    }
    stages.zip(steps).zipWithIndex
      .map { case ((stage, name), i) =>
        stage.agg(count(lit(1)).as("users"))
          .select(lit(i + 1L).as("step"), lit(name).as("step_name"), col("users"))
      }
      .reduce(_.unionAll(_))
      .orderBy(col("step"))
  }

  /** First-order Markov transition matrix over per-user event sequences
    * — the "what happens after X" complement to [[conversion]]'s fixed
    * funnel: for every ordered pair of event types, how often does the
    * second immediately follow the first in some user's timeline, and
    * with what conditional probability. The exploratory path-analysis
    * query behind sankey/flow dashboards (the reference's Power BI layer,
    * README.md:143-161).
    *
    * Sequencing is total-ordered by (ts, event id) so simultaneous
    * events — real at microsecond resolution — break ties
    * deterministically and the SQL-window oracle replays the exact same
    * neighbor pairs. Probabilities are integer per-mille-of-a-thousand
    * micro-units (`1e6 · n div Σn` per source type): long division, no
    * floats, order-independent.
    *
    * Scale shape: ONE user-keyed window (the shuffle Structured
    * Streaming / sessionization already pays — partitionBy user hashes
    * the same key as every other per-user analytic, so AQE reuses the
    * exchange when composed), then a map-side-combined count on the
    * (prev, next) pair key — cardinality |types|², tiny — and a
    * broadcast-sized per-source total joined back. State per row is one
    * lag value; nothing accumulates per user.
    */
  /** Top-k most frequent length-`depth` event paths — the generalization
    * of [[transitionMatrix]] from adjacent pairs to short journeys
    * ("view > click > purchase"), the input to any path-explorer / sankey
    * with more than one hop. Same total order (ts, event id), same single
    * user-keyed window shuffle: each event row looks back depth−1 lags,
    * so path formation is row-local after the one sort — no self-joins,
    * no per-user collect. The count agg is map-side combined on the path
    * string and the final cut is a TakeOrdered (k constant, never a
    * global sort).
    */
  def topPaths(events: DataFrame, depth: Int, k: Int,
      userCol: String = "user_id", typeCol: String = "event_type",
      tsCol: String = "ts", idCol: String = "event_id"): DataFrame = {
    require(depth >= 2, "a path needs at least two steps")
    require(k > 0, "k must be positive")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val lagCols = (depth - 1 to 1 by -1).map(i => s"__lag$i")
    val withLags = lagCols.zip(depth - 1 to 1 by -1).foldLeft(
        events.select(col(userCol), col(tsCol), col(idCol), col(typeCol))) {
      case (df, (name, i)) => df.withColumn(name, lag(col(typeCol), i).over(w))
    }
    withLags
      // a row whose earliest lag is NULL has fewer than `depth` predecessors
      .filter(col(lagCols.head).isNotNull)
      .withColumn("path",
        concat_ws(" > ", lagCols.map(col) :+ col(typeCol): _*))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(k)
      .withColumn("rk", row_number().over(Window.orderBy(col("n").desc, col("path"))))
  }

  def transitionMatrix(events: DataFrame, userCol: String = "user_id",
      typeCol: String = "event_type", tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val pairs = events
      .select(col(userCol), col(tsCol), col(idCol), col(typeCol).as("next_type"))
      .withColumn("prev_type", lag(col("next_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("prev_type"))
      .agg(sum(col("n")).as("n_from"))
    pairs.join(broadcast(totals), "prev_type")
      .select(col("prev_type"), col("next_type"), col("n"), col("n_from"),
        expr("(n * 1000000L) div n_from").as("p_micro"))
  }
}
