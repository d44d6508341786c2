package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{MergeInto, Scd}

/** SCD2/SCD1/MERGE semantics — automates the reference's manual scenario
  * notebook (reference: notebooks/23_Testing_SCD2.py; FIXTURES.md §A.4):
  * update detection, delete detection, insert detection, PK rewrite —
  * asserting row shapes instead of eyeballing `show()`. Plus randomized
  * cross-checks of the fused single-join SCD2 against the faithful
  * two-phase build, and the SCD2 invariants (≤1 current row per key,
  * contiguous non-overlapping intervals, idempotent replay).
  */
class ScdSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.core.GraftSession.local(4)
  import spark.implicits._

  private val ts1 = lit("2024-01-01 00:00:00")
  private val ts2 = lit("2024-02-01 00:00:00")
  private val ts3 = lit("2024-03-01 00:00:00")

  private def addr(rows: (Int, String, String)*): DataFrame =
    rows.toDF("address_id", "city", "postal_code")

  private def sortedOut(df: DataFrame): Array[(Int, String, String, String, String)] =
    df.select($"address_id", $"city", $"postal_code",
        date_format(col(Scd.ValidFrom), "yyyy-MM").as("vf"),
        coalesce(date_format(col(Scd.ValidTo), "yyyy-MM"), lit("-")).as("vt"))
      .as[(Int, String, String, String, String)]
      .collect().sortBy(r => (r._1, r._4))

  test("scd2: update closes old version and inserts new current (23:40-44)") {
    val init = Scd.scd2Init(addr((1, "Bothell", "98011"), (2, "Surrey", "V3T")), ts1)
    val out = Scd.scd2Merge(init, addr((1, "Bothell", "12345"), (2, "Surrey", "V3T")), Seq("address_id"), ts2)
    assert(sortedOut(out).toSeq == Seq(
      (1, "Bothell", "98011", "2024-01", "2024-02"),
      (1, "Bothell", "12345", "2024-02", "-"),
      (2, "Surrey", "V3T", "2024-01", "-")))
  }

  test("scd2: delete closes the row with no successor (23:49-50, NOT MATCHED BY SOURCE)") {
    val init = Scd.scd2Init(addr((1, "Bothell", "98011"), (2, "Surrey", "V3T")), ts1)
    val out = Scd.scd2Merge(init, addr((1, "Bothell", "98011")), Seq("address_id"), ts2)
    assert(sortedOut(out).toSeq == Seq(
      (1, "Bothell", "98011", "2024-01", "-"),
      (2, "Surrey", "V3T", "2024-01", "2024-02")))
  }

  test("scd2: new source key appears as current row (23:55)") {
    val init = Scd.scd2Init(addr((1, "Bothell", "98011")), ts1)
    val out = Scd.scd2Merge(init, addr((1, "Bothell", "98011"), (3, "Renton", "98055")), Seq("address_id"), ts2)
    assert(sortedOut(out).toSeq == Seq(
      (1, "Bothell", "98011", "2024-01", "-"),
      (3, "Renton", "98055", "2024-02", "-")))
  }

  test("scd2: PK rewrite = delete old key + insert new key (23:60-64)") {
    val init = Scd.scd2Init(addr((1105, "Milton", "98354")), ts1)
    val out = Scd.scd2Merge(init, addr((11383, "Milton", "98354")), Seq("address_id"), ts2)
    assert(sortedOut(out).toSeq == Seq(
      (1105, "Milton", "98354", "2024-01", "2024-02"),
      (11383, "Milton", "98354", "2024-02", "-")))
  }

  test("scd2: null-unsafe != does not fire on NULL↔value alone (SURVEY §2.3 F4)") {
    val init = Scd.scd2Init(
      Seq((1, Option.empty[String], "98011")).toDF("address_id", "city", "postal_code"), ts1)
    val src = Seq((1, Some("Bothell"), "98011")).toDF("address_id", "city", "postal_code")
    val out = Scd.scd2Merge(init, src, Seq("address_id"), ts2)
    assert(out.filter(col(Scd.ValidTo).isNotNull).count() == 0, "no row should close")
    val nullSafe = Scd.scd2Merge(init, src, Seq("address_id"), ts2, nullSafeCompare = true)
    assert(nullSafe.filter(col(Scd.ValidTo).isNotNull).count() == 1, "null-safe mode closes it")
  }

  test("scd2: replaying an identical source is a no-op (idempotence)") {
    val src = addr((1, "Bothell", "98011"), (2, "Surrey", "V3T"))
    val s1 = Scd.scd2Merge(Scd.scd2Init(src, ts1), src, Seq("address_id"), ts2)
    val s2 = Scd.scd2Merge(s1, src, Seq("address_id"), ts3)
    assert(s2.count() == 2 && s2.filter(col(Scd.ValidTo).isNotNull).count() == 0)
  }

  test("scd2: fused and two-phase builds agree on randomized batch sequences") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      def randBatch(): DataFrame = addr(
        (1 to 20).filter(_ => rnd.nextBoolean()).map(i =>
          (i, s"city${rnd.nextInt(3)}", s"zip${rnd.nextInt(3)}")): _*)
      val b0 = randBatch(); val b1 = randBatch(); val b2 = randBatch()
      val fused = Scd.scd2Merge(
        Scd.scd2Merge(Scd.scd2Init(b0, ts1), b1, Seq("address_id"), ts2),
        b2, Seq("address_id"), ts3)
      val phased = ScdTwoPhase.scd2MergeTwoPhase(
        ScdTwoPhase.scd2MergeTwoPhase(Scd.scd2Init(b0, ts1), b1, Seq("address_id"), ts2),
        b2, Seq("address_id"), ts3)
      assert(fused.exceptAll(phased).isEmpty && phased.exceptAll(fused).isEmpty,
        s"trial $trial: fused and two-phase disagree")
      // invariants: ≤1 current row per key; intervals don't overlap
      val perKey = fused.groupBy($"address_id")
        .agg(sum(when(col(Scd.ValidTo).isNull, 1).otherwise(0)).as("n_current"))
      assert(perKey.filter($"n_current" > 1).count() == 0, s"trial $trial: >1 current row")
      val overlaps = fused.alias("a").join(fused.alias("b"),
        col("a.address_id") === col("b.address_id") &&
          col(s"a.${Scd.ValidFrom}") < col(s"b.${Scd.ValidFrom}") &&
          (col(s"a.${Scd.ValidTo}").isNull || col(s"a.${Scd.ValidTo}") > col(s"b.${Scd.ValidFrom}")))
      assert(overlaps.count() == 0, s"trial $trial: overlapping validity intervals")
    }
  }

  test("scd2 audit pair: create date sticks, update date bumps on close (01_Init.py:231-233)") {
    import org.apache.spark.sql.functions.{col, lit}
    val ts1 = lit("2024-01-01 00:00:00")
    val ts2 = lit("2024-02-01 00:00:00")
    val b0 = addr((1, "Bothell", "98011"), (2, "Surrey", "V3S"))
    val b1 = addr((1, "Bothell", "12345")) // 1 changes, 2 vanishes
    val fused = Scd.scd2Merge(
      Scd.scd2Init(b0, ts1, audit = true), b1, Seq("address_id"), ts2)
    val phased = ScdTwoPhase.scd2MergeTwoPhase(
      Scd.scd2Init(b0, ts1, audit = true), b1, Seq("address_id"), ts2)
    assert(fused.exceptAll(phased).count() == 0 && phased.exceptAll(fused).count() == 0,
      "fused and two-phase audit maintenance must agree")
    val got = fused
      .select(col("address_id"), col(Scd.ValidTo).cast("string"),
        col(Scd.CreateDate).cast("string"), col(Scd.UpdateDate).cast("string"))
      .as[(Int, String, String, String)].collect().toSet
    assert(got == Set(
      (1, "2024-02-01 00:00:00", "2024-01-01 00:00:00", "2024-02-01 00:00:00"), // closed v1
      (1, null, "2024-02-01 00:00:00", "2024-02-01 00:00:00"), // new version
      (2, "2024-02-01 00:00:00", "2024-01-01 00:00:00", "2024-02-01 00:00:00"))) // deleted
  }

  test("scd1 audit pair: inserts stamp both dates, changed rows bump update only") {
    import org.apache.spark.sql.functions.{col, lit}
    val tgt = Scd.scd1Merge(
      addr((1, "Bothell", "98011")).withColumn(Scd.CreateDate, lit("2024-01-01 00:00:00").cast("timestamp"))
        .withColumn(Scd.UpdateDate, lit("2024-01-01 00:00:00").cast("timestamp")),
      addr((1, "Bothell", "12345"), (3, "Dallas", "75201")),
      Seq("address_id"), auditTs = Some(lit("2024-02-01 00:00:00")))
    val got = tgt.select(col("address_id"), col("postal_code"),
        col(Scd.CreateDate).cast("string"), col(Scd.UpdateDate).cast("string"))
      .as[(Int, String, String, String)].collect().toSet
    assert(got == Set(
      (1, "12345", "2024-01-01 00:00:00", "2024-02-01 00:00:00"),
      (3, "75201", "2024-02-01 00:00:00", "2024-02-01 00:00:00")))
  }

  test("scd1: update-in-place + insert, keep missing keys (33:61-104)") {
    val target = addr((1, "Bothell", "98011"), (2, "Surrey", "V3T"))
    val source = addr((1, "Bothell", "12345"), (3, "Renton", "98055"))
    val out = Scd.scd1Merge(target, source, Seq("address_id"))
      .as[(Int, String, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1, "Bothell", "12345"), (2, "Surrey", "V3T"), (3, "Renton", "98055")))
  }

  test("merge: duplicate source keys matching the target fail (Delta parity, SURVEY §7.4)") {
    val target = addr((1, "Bothell", "98011"))
    val dupSource = addr((1, "A", "1"), (1, "B", "2"))
    assertThrows[IllegalStateException] {
      MergeInto(target, dupSource, Seq("address_id"),
        matched = Seq(MergeInto.MatchedUpdate(None, Map("city" -> col("s.city")))))
    }
  }

  test("merge: extra ON conjuncts that disambiguate duplicated keys do not false-positive") {
    val target = Seq((1, "x", 10.0)).toDF("address_id", "city", "bal")
    // both source rows share the key, but only the city='x' row satisfies ON
    val dupSource = Seq((1, "x", 1.0), (1, "y", 2.0)).toDF("address_id", "city", "bal")
    val out = MergeInto(target, dupSource, Seq("address_id"),
      extraOn = Some(col("t.city") === col("s.city")),
      matched = Seq(MergeInto.MatchedUpdate(None, Map("bal" -> col("s.bal")))))
    assert(out.as[(Int, String, Double)].collect().toSeq == Seq((1, "x", 1.0)))
    // and a genuinely ambiguous match under the full condition still fails
    val ambiguous = Seq((1, "x", 1.0), (1, "x", 2.0)).toDF("address_id", "city", "bal")
    assertThrows[IllegalStateException] {
      MergeInto(target, ambiguous, Seq("address_id"),
        extraOn = Some(col("t.city") === col("s.city")),
        matched = Seq(MergeInto.MatchedUpdate(None, Map("bal" -> col("s.bal")))))
    }
  }

  test("merge: clause order — first matching WHEN wins") {
    val target = Seq((1, 10.0)).toDF("k", "v")
    val source = Seq((1, 99.0)).toDF("k", "v")
    val out = MergeInto(target, source, Seq("k"),
      matched = Seq(
        MergeInto.MatchedUpdate(Some(col("s.v") > 50.0), Map("v" -> lit(111.0))),
        MergeInto.MatchedUpdate(None, Map("v" -> lit(222.0)))))
    assert(out.as[(Int, Double)].collect().toSeq == Seq((1, 111.0)))
  }
}
