package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.operators.{Fuzzy, Salting}

/** ScalaCheck property suite for the round-11 scale-shape operators:
  *
  *  - the fuzzy hot-block cap is SOUND for arbitrary corpora — capping may
  *    reduce recall (rerouted/dropped blocks) but must never invent a pair,
  *    and when no block is hot the capped plan is bit-identical to the
  *    uncapped one;
  *  - [[Salting.autoSaltedJoin]] is semantically INVISIBLE for arbitrary
  *    skew shapes, thresholds and bucket counts — the salt must never leak
  *    into the joined relation, for inner and left joins alike.
  *
  * Both operators' sf-corpus behavior is oracle-gated (x84/x97/x104); these
  * properties cover the input shapes the fixed corpus can't: degenerate
  * all-identical keys, every-block-hot, zero-hot, missing partners.
  */
class SkewFuzzyPropertySpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)
  import spark.implicits._

  // --- fuzzy hot-block cap -------------------------------------------------

  /** Corpora engineered to stress blocking: a few shared prefixes/suffixes
    * (so prefix/suffix blocks aggregate many rows and go hot under a small
    * cap) around short random middles (so real near-pairs exist). */
  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    n <- Gen.choose(8, 40)
    pre <- Gen.listOfN(n, Gen.oneOf("AAAA", "BBBB", "CCCC"))
    mid <- Gen.listOfN(n, Gen.listOfN(3, Gen.oneOf('a', 'b')).map(_.mkString))
    suf <- Gen.listOfN(n, Gen.oneOf("XXXX", "YYYY"))
  } yield (0 until n).map(i => (i.toLong, pre(i) + mid(i) + suf(i)))

  private def pairs(df: DataFrame): Set[(Long, Long, Int)] =
    df.select($"id_a", $"id_b", $"dist").as[(Long, Long, Int)].collect().toSet

  test("fuzzy cap soundness: capped pairs are a subset of uncapped; zero hot blocks " +
      "means bit-identical results; stats account for every row") {
    val prop = Prop.forAll(corpusGen, Gen.oneOf(4, 8, 64)) { (rows, cap) =>
      val d = rows.toDF("id", "k")
      val capped = pairs(Fuzzy.fuzzySelfJoin(d, "id", "k", maxDist = 2,
        blockLen = 4, maxBlock = cap))
      val st = Fuzzy.lastBlockStats.get
      val uncapped = pairs(Fuzzy.fuzzySelfJoin(d, "id", "k", maxDist = 2,
        blockLen = 4, maxBlock = 1 << 30))
      val sound = capped.subsetOf(uncapped)
      val exactWhenCold = st.hotBlocks > 0 || capped == uncapped
      val statsSane = st.reroutedRows >= st.droppedRows &&
        st.candidatePairBound >= 0 && st.maxBlockRows <= rows.size.toLong
      sound && exactWhenCold && statsSane
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8).withInitialSeed(11L), prop)
    assert(r.passed, s"property failed: ${r.status}")
  }

  // --- auto-salted join ----------------------------------------------------

  /** Skewed big sides: a hot key carrying most rows, a spread of cold keys,
    * and keys with no small-side partner (exercise the outer path). */
  private val bigGen: Gen[Seq[(Long, Long)]] = for {
    hotRows <- Gen.choose(20, 120)
    coldKeys <- Gen.choose(1, 20)
    orphanRows <- Gen.choose(0, 5)
  } yield (0 until hotRows).map(i => (7L, i.toLong)) ++
    (1 to coldKeys).map(k => (100L + k, k.toLong)) ++
    (0 until orphanRows).map(i => (99999L, i.toLong))

  test("auto-salted join == plain join for arbitrary skew shapes, thresholds and " +
      "bucket counts (inner and left)") {
    val smallRows = ((1 to 30).map(k => (100L + k, k * 10L)) :+ ((7L, 700L))).toSeq
    val prop = Prop.forAll(bigGen, Gen.oneOf(5L, 10L, 1000L), Gen.oneOf(2, 4, 16)) {
      (bigRows, threshold, buckets) =>
        val big = bigRows.toDF("k", "v")
        val small = smallRows.toDF("k", "w")
        val expectHot = bigRows.groupBy(_._1).count(_._2.size > threshold)
        Seq("inner", "left_outer").forall { jt =>
          val plain = big.join(small, Seq("k"), jt)
          val (salted, st) = Salting.autoSaltedJoinWithStats(big, small, Seq("k"),
            threshold, buckets, jt)
          salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty &&
            st.hotKeys == expectHot.toLong
        }
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8).withInitialSeed(12L), prop)
    assert(r.passed, s"property failed: ${r.status}")
  }
}
