package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.operators.MergeInto
import graft.tables.TableStore

/** ScalaCheck property suite for the SQL-text MERGE lowering
  * (ext/SqlDml.scala): for ARBITRARY statement spellings — target/source
  * aliased or referred to by table name, qualified or bare assignment
  * keys, any clause subset in any order, star or explicit forms,
  * with/without clause conditions and residual ON conjuncts — executing
  * the SQL text against the store equals calling the [[MergeInto]]
  * operator directly with the canonical t/s Columns — on a copy-on-write
  * table and on its merge-on-read twin, whose change feeds must agree.
  */
class SqlMergePropertySpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)
  import spark.implicits._

  // ---- clause model: each case renders SQL text (with the statement's
  // qualifier spellings) AND the equivalent API action -------------------

  private type Render = (String, String) => String // (tQual, sQual) => clause SQL

  private case class MC(render: Render, api: MergeInto.MatchedAction)
  private case class IC(render: Render, api: MergeInto.NotMatchedInsert)
  private case class BC(render: Render, api: MergeInto.BySourceAction)

  private val targetCols = Seq("k", "v", "w")
  private def starMap = targetCols.map(c => c -> col(s"s.$c")).toMap

  private val matchedGen: Gen[MC] = Gen.oneOf(
    // explicit UPDATE, conditioned, qualified assignment keys
    MC((t, s) => s"WHEN MATCHED AND ${s}w > ${t}w THEN UPDATE SET ${t}v = upper(${s}v), ${t}w = ${s}w + 1",
      MergeInto.MatchedUpdate(Some(col("s.w") > col("t.w")),
        Map("v" -> upper(col("s.v")), "w" -> col("s.w").plus(lit(1))))),
    // explicit UPDATE, unconditioned, bare assignment keys
    MC((t, s) => s"WHEN MATCHED THEN UPDATE SET v = ${s}v, w = ${t}w",
      MergeInto.MatchedUpdate(None, Map("v" -> col("s.v"), "w" -> col("t.w")))),
    // star UPDATE
    MC((t, s) => s"WHEN MATCHED AND ${s}w < 70 THEN UPDATE SET *",
      MergeInto.MatchedUpdate(Some(col("s.w") < 70), starMap)),
    // DELETE, conditioned and not
    MC((t, s) => s"WHEN MATCHED AND ${t}w > 40 THEN DELETE",
      MergeInto.MatchedDelete(Some(col("t.w") > 40))),
    MC((_, _) => "WHEN MATCHED THEN DELETE", MergeInto.MatchedDelete(None)))

  private val insertGen: Gen[IC] = Gen.oneOf(
    IC((_, s) => s"WHEN NOT MATCHED AND ${s}w > 20 THEN INSERT (k, v, w) VALUES (${s}k, ${s}v, ${s}w)",
      MergeInto.NotMatchedInsert(Some(col("s.w") > 20),
        Map("k" -> col("s.k"), "v" -> col("s.v"), "w" -> col("s.w")))),
    IC((_, s) => s"WHEN NOT MATCHED THEN INSERT (k, v) VALUES (${s}k, lower(${s}v))",
      MergeInto.NotMatchedInsert(None, Map("k" -> col("s.k"), "v" -> lower(col("s.v"))))),
    IC((_, _) => "WHEN NOT MATCHED THEN INSERT *",
      MergeInto.NotMatchedInsert(None, starMap)))

  private val bySourceGen: Gen[BC] = Gen.oneOf(
    BC((t, _) => s"WHEN NOT MATCHED BY SOURCE AND ${t}w < 30 THEN UPDATE SET v = 'gone'",
      MergeInto.BySourceUpdate(Some(col("t.w") < 30), Map("v" -> lit("gone")))),
    BC((t, _) => s"WHEN NOT MATCHED BY SOURCE AND ${t}w >= 80 THEN DELETE",
      MergeInto.BySourceDelete(Some(col("t.w") >= 80))))

  private case class Stmt(
      tAlias: Option[String], sAlias: Option[String], fullTableQual: Boolean,
      extraOn: Boolean, matched: List[MC], insert: Option[IC], bySource: Option[BC],
      tRows: List[(Int, String, Double)], sRows: List[(Int, String, Double)])

  private val stmtGen: Gen[Stmt] = for {
    tAlias <- Gen.oneOf(Some("tgt"), Some("T"), None)
    sAlias <- Gen.oneOf(Some("src"), None)
    fullQual <- Gen.oneOf(true, false)
    extraOn <- Gen.oneOf(true, false)
    matched0 <- Gen.choose(0, 2).flatMap(n => Gen.listOfN(n, matchedGen))
    // SQL grammar: only the LAST matched clause may omit its condition —
    // keep conditioned clauses first and at most one unconditioned tail
    // (identical order feeds both the SQL text and the API call)
    matched = {
      val (condY, condN) = matched0.partition(_.api.cond.isDefined)
      condY ++ condN.take(1)
    }
    insert <- Gen.option(insertGen)
    bySource <- Gen.option(bySourceGen)
    tKeys <- Gen.someOf(1 to 8)
    tVals <- Gen.listOfN(tKeys.size, Gen.zip(Gen.oneOf("a", "b", "C"), Gen.choose(0, 100)))
    sKeys <- Gen.someOf(1 to 8) // distinct keys: no multi-match ambiguity
    sVals <- Gen.listOfN(sKeys.size, Gen.zip(Gen.oneOf("x", "Y", "z"), Gen.choose(0, 100)))
  } yield Stmt(tAlias, sAlias, fullQual, extraOn, matched, insert, bySource,
    tKeys.toList.zip(tVals).map { case (k, (v, w)) => (k, v, w.toDouble) },
    sKeys.toList.zip(sVals).map { case (k, (v, w)) => (k, v, w.toDouble) })

  private def df(rows: List[(Int, String, Double)]): DataFrame = rows.toDF("k", "v", "w")

  test("random SQL MERGE spellings lower to the same result as the MergeInto API") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_mprop").toString)
    try {
      val prop = Prop.forAll(stmtGen) { st =>
        // at least one clause, or the statement is vacuous and Spark rejects it
        val stmt = if (st.matched.isEmpty && st.insert.isEmpty && st.bySource.isEmpty)
          st.copy(insert = Some(IC((_, _) => "WHEN NOT MATCHED THEN INSERT *",
            MergeInto.NotMatchedInsert(None, starMap))))
        else st
        df(stmt.sRows).createOrReplaceTempView("prop_merge_src")

        // the same statement on a copy-on-write table and its mor twin,
        // both recording the change feed: (rows after, the merge's feed)
        def run(table: String, mode: String): (DataFrame, DataFrame) = {
          val full = s"db.$table"
          store.createOrReplace(full, df(stmt.tRows))
          store.setDmlMode(full, mode)
          store.enableChangeFeed(full)
          val before = store.version(full).get
          // qualifier spellings actually usable in the statement text
          val tQual = stmt.tAlias.getOrElse(if (stmt.fullTableQual) full else table) + "."
          val sQual = stmt.sAlias.getOrElse("prop_merge_src") + "."
          val onSql = s"${tQual}k = ${sQual}k" +
            (if (stmt.extraOn) s" AND ${tQual}w >= 0" else "")
          val sql =
            s"""MERGE INTO $full${stmt.tAlias.map(a => s" AS $a").getOrElse("")}
               |USING prop_merge_src${stmt.sAlias.map(a => s" AS $a").getOrElse("")}
               |ON $onSql
               |${stmt.matched.map(_.render(tQual, sQual)).mkString("\n")}
               |${stmt.insert.map(_.render(tQual, sQual)).getOrElse("")}
               |${stmt.bySource.map(_.render(tQual, sQual)).getOrElse("")}
               |""".stripMargin
          spark.sql(sql)
          val feed = store.changeFeed(full, before, store.version(full).get)
            .select((targetCols :+ "_change_type").map(col): _*)
          (store.read(full), feed)
        }
        val (cowRows, cowFeed) = run("pt", "cow")
        val (morRows, morFeed) = run("pt_mor", "mor")

        val viaApi = MergeInto(
          df(stmt.tRows), df(stmt.sRows), Seq("k"),
          extraOn = if (stmt.extraOn) Some(col("t.w") >= 0) else None,
          matched = stmt.matched.map(_.api),
          notMatched = stmt.insert.map(_.api).toSeq,
          notMatchedBySource = stmt.bySource.map(_.api).toSeq)

        def same(a: DataFrame, b: DataFrame) = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
        val failed = Seq(
          "cow rows vs api" -> same(cowRows, viaApi),
          "mor rows vs cow rows" -> same(morRows, cowRows),
          "mor feed vs cow feed" -> same(morFeed, cowFeed)).filterNot(_._2).map(_._1)
        if (failed.nonEmpty) {
          def show(d: DataFrame) = d.collect().toSeq.sortBy(_.toString)
          System.err.println(s"MISMATCH (${failed.mkString(", ")}) for $stmt")
          System.err.println(s"api: ${show(viaApi)}\ncow: ${show(cowRows)}\nmor: ${show(morRows)}")
          System.err.println(s"cow feed: ${show(cowFeed)}\nmor feed: ${show(morFeed)}")
        }
        failed.isEmpty
      }
      val result = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(25).withInitialSeed(7L), prop)
      assert(result.passed, s"property failed: ${result.status}")
    } finally store.detach()
  }

  test("random SQL UPDATE/DELETE spellings equal their DataFrame twins") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_udprop").toString)
    try {
      // (render(qual), equivalent Column) condition variants; None = no WHERE
      val conds: Gen[Option[(String => String, org.apache.spark.sql.Column)]] = Gen.oneOf(
        Some(((q: String) => s"${q}w > 50", col("w") > 50)),
        Some(((q: String) => s"${q}v = 'a'", col("v") === "a")),
        Some(((q: String) => s"${q}w <= 30 AND ${q}v <> 'b'", col("w") <= 30 && col("v") =!= "b")),
        None)
      val sets: Gen[(String => String, DataFrame => org.apache.spark.sql.Column => DataFrame)] =
        Gen.oneOf[(String => String, DataFrame => org.apache.spark.sql.Column => DataFrame)](
          ((q: String) => s"${q}v = upper(v)",
            (df: DataFrame) => (c: org.apache.spark.sql.Column) =>
              df.withColumn("v", when(c, upper(col("v"))).otherwise(col("v")))),
          ((q: String) => s"v = 'Z', ${q}w = w + 1.5",
            // ONE projection: SQL UPDATE evaluates every SET (and the
            // WHERE) against the PRE-image row. A withColumn chain would
            // re-evaluate a v-referencing cond against the already-set
            // v='Z' and skip the w assignment — the exact fold bug the
            // engine itself once had.
            (df: DataFrame) => (c: org.apache.spark.sql.Column) =>
              df.select(df("k"),
                when(c, lit("Z")).otherwise(df("v")).as("v"),
                when(c, df("w") + 1.5).otherwise(df("w")).as("w"))))
      val gen = for {
        alias <- Gen.oneOf(Some("u"), None)
        fullQual <- Gen.oneOf(true, false)
        isUpdate <- Gen.oneOf(true, false)
        cond <- conds
        set <- sets
        keys <- Gen.someOf(1 to 8)
        vals <- Gen.listOfN(keys.size, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(0, 100)))
      } yield (alias, fullQual, isUpdate, cond, set,
        keys.toList.zip(vals).map { case (k, (v, w)) => (k, v, w.toDouble) })

      val prop = Prop.forAll(gen) { case (alias, fullQual, isUpdate, cond, set, rows) =>
        store.createOrReplace("db.ud", df(rows))
        val qual = alias.getOrElse(if (fullQual) "db.ud" else "ud") + "."
        val aliasSql = alias.map(a => s" AS $a").getOrElse("")
        val whereSql = cond.map(c => s" WHERE ${c._1(qual)}").getOrElse("")
        val condCol = cond.map(_._2).getOrElse(lit(true))
        val expected =
          if (isUpdate) set._2(df(rows))(condCol)
          else df(rows).filter(!condCol || condCol.isNull)
        if (isUpdate) spark.sql(s"UPDATE db.ud$aliasSql SET ${set._1(qual)}$whereSql")
        else spark.sql(s"DELETE FROM db.ud$aliasSql$whereSql")
        val got = store.read("db.ud")
        val same = got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty
        if (!same) System.err.println(
          s"MISMATCH alias=$alias fullQual=$fullQual upd=$isUpdate where=$whereSql rows=$rows\n" +
            s"got: ${got.collect().toSeq}\nexp: ${expected.collect().toSeq}")
        same
      }
      val result = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(25).withInitialSeed(11L), prop)
      assert(result.passed, s"property failed: ${result.status}")
    } finally store.detach()
  }
}
