package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Fluent MERGE builder mirroring the SQL/Delta surface (SURVEY.md §7.1
  * module 3): clause order is preserved and first-match-wins, exactly as
  * [[MergeInto]] executes it.
  *
  * {{{
  * Merge.into(target).using(source).on(Seq("id"))
  *   .whenMatched(col("s.ts") > col("t.ts")).update(Map("v" -> col("s.v")))
  *   .whenMatched().delete()
  *   .whenNotMatched().insert(Map("id" -> col("s.id"), "v" -> col("s.v")))
  *   .whenNotMatchedBySource().delete()
  *   .merge()
  * }}}
  */
object Merge {
  def into(target: DataFrame): MergeBuilder = MergeBuilder(target)
}

final case class MergeBuilder(
    target: DataFrame,
    source: Option[DataFrame] = None,
    keys: Seq[String] = Nil,
    extraOn: Option[Column] = None,
    matched: Seq[MergeInto.MatchedAction] = Nil,
    notMatched: Seq[MergeInto.NotMatchedInsert] = Nil,
    bySource: Seq[MergeInto.BySourceAction] = Nil,
    failOnMultipleMatches: Boolean = true) {

  def using(src: DataFrame): MergeBuilder = copy(source = Some(src))
  def on(ks: Seq[String], extra: Option[Column] = None): MergeBuilder =
    copy(keys = ks, extraOn = extra)

  def whenMatched(cond: Column): MatchedClause = MatchedClause(this, Some(cond))
  def whenMatched(): MatchedClause = MatchedClause(this, None)
  def whenNotMatched(cond: Column): NotMatchedClause = NotMatchedClause(this, Some(cond))
  def whenNotMatched(): NotMatchedClause = NotMatchedClause(this, None)
  def whenNotMatchedBySource(cond: Column): BySourceClause = BySourceClause(this, Some(cond))
  def whenNotMatchedBySource(): BySourceClause = BySourceClause(this, None)

  /** Execute: returns the post-merge target state. */
  def merge(): DataFrame = MergeInto(
    target,
    source.getOrElse(throw new IllegalStateException("merge needs .using(source)")),
    keys, extraOn, matched, notMatched, bySource, failOnMultipleMatches)
}

final case class MatchedClause(b: MergeBuilder, cond: Option[Column]) {
  def update(set: Map[String, Column]): MergeBuilder =
    b.copy(matched = b.matched :+ MergeInto.MatchedUpdate(cond, set))
  def delete(): MergeBuilder =
    b.copy(matched = b.matched :+ MergeInto.MatchedDelete(cond))
}

final case class NotMatchedClause(b: MergeBuilder, cond: Option[Column]) {
  def insert(values: Map[String, Column]): MergeBuilder =
    b.copy(notMatched = b.notMatched :+ MergeInto.NotMatchedInsert(cond, values))
}

final case class BySourceClause(b: MergeBuilder, cond: Option[Column]) {
  def update(set: Map[String, Column]): MergeBuilder =
    b.copy(bySource = b.bySource :+ MergeInto.BySourceUpdate(cond, set))
  def delete(): MergeBuilder =
    b.copy(bySource = b.bySource :+ MergeInto.BySourceDelete(cond))
}
