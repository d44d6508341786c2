package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.operators.Scd

/** ScalaCheck property suite for the SCD2 state machine (SURVEY.md §5):
  * for ARBITRARY batch sequences — any subset of keys, any payload values —
  * the invariants hold: at most one current row per key, validity intervals
  * never overlap, and the fused build equals the faithful two-phase build.
  */
class ScdPropertySpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)
  import spark.implicits._

  private val batchGen: Gen[Seq[(Int, String)]] = for {
    keys <- Gen.someOf(1 to 8)
    vals <- Gen.listOfN(keys.size, Gen.oneOf("a", "b", "c"))
  } yield keys.toSeq.zip(vals)

  private def df(rows: Seq[(Int, String)]): DataFrame = rows.toDF("k", "v")

  test("SCD2 invariants hold for arbitrary 3-batch sequences; fused == two-phase") {
    val ts = Seq("2024-01-01 00:00:00", "2024-02-01 00:00:00", "2024-03-01 00:00:00")
      .map(t => lit(t).cast("timestamp"))
    val prop = Prop.forAll(batchGen, batchGen, batchGen) { (b0, b1, b2) =>
      val fused = Scd.scd2Merge(
        Scd.scd2Merge(Scd.scd2Init(df(b0), ts(0)), df(b1), Seq("k"), ts(1)),
        df(b2), Seq("k"), ts(2))
      val phased = ScdTwoPhase.scd2MergeTwoPhase(
        ScdTwoPhase.scd2MergeTwoPhase(Scd.scd2Init(df(b0), ts(0)), df(b1), Seq("k"), ts(1)),
        df(b2), Seq("k"), ts(2))
      val equal = fused.exceptAll(phased).isEmpty && phased.exceptAll(fused).isEmpty
      val singleCurrent = fused.filter(col(Scd.ValidTo).isNull)
        .groupBy($"k").count().filter($"count" > 1).isEmpty
      val noOverlap = fused.alias("a").join(fused.alias("b"),
        col("a.k") === col("b.k") &&
          col(s"a.${Scd.ValidFrom}") < col(s"b.${Scd.ValidFrom}") &&
          (col(s"a.${Scd.ValidTo}").isNull || col(s"a.${Scd.ValidTo}") > col(s"b.${Scd.ValidFrom}")))
        .isEmpty
      equal && singleCurrent && noOverlap
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8).withInitialSeed(42L), prop)
    assert(result.passed, s"property failed: ${result.status}")
  }
}
