package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import graft.operators.{MergeInto, Scd}
import graft.operators.Scd.{CreateDate, UpdateDate, ValidFrom, ValidTo}

/** The semantic oracle of the SCD2 specs: the reference's two consecutive
  * MERGE statements re-expressed through [[MergeInto]], against which the
  * fused [[Scd.scd2Merge]] is cross-checked. */
object ScdTwoPhase {

  /** Faithful two-phase SCD2 (reference 22:62-82 then 22:86-101): phase 1
    * closes changed + deleted current rows, phase 2 inserts new current
    * versions against the post-phase-1 state. */
  def scd2MergeTwoPhase(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      loadTs: Column,
      nullSafeCompare: Boolean = false): DataFrame = {

    val payload = source.columns.filterNot(keys.contains).toSeq
    val currentOnly = col(s"t.$ValidTo").isNull
    val audit = Scd.hasAudit(target)
    val ts = loadTs.cast(TimestampType)
    val closeSet = Map(ValidTo -> ts) ++ (if (audit) Map(UpdateDate -> ts) else Map.empty)

    // MERGE #1: close changed rows; close rows deleted from the source.
    val phase1 = MergeInto(
      target, source, keys,
      extraOn = Some(currentOnly),
      matched = Seq(MergeInto.MatchedUpdate(
        Some(Scd.changePredicate(payload, nullSafeCompare)), closeSet)),
      notMatchedBySource = Seq(MergeInto.BySourceUpdate(Some(currentOnly), closeSet)),
      failOnMultipleMatches = false)

    // MERGE #2: insert the new current version for new/changed keys.
    val insertValues: Map[String, Column] =
      (keys ++ payload).map(c => c -> col(s"s.$c")).toMap +
        (ValidFrom -> ts) +
        (ValidTo -> lit(null).cast(TimestampType)) ++
        (if (audit) Map(CreateDate -> ts, UpdateDate -> ts) else Map.empty)
    MergeInto(
      phase1, source, keys,
      extraOn = Some(currentOnly),
      notMatched = Seq(MergeInto.NotMatchedInsert(None, insertValues)),
      failOnMultipleMatches = false)
  }
}
