package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftShims}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.MergeInto._
import graft.tables.TableStore

object MergeLocalSourceSpec {
  /** Evaluations of the nondeterministic source column below. */
  val evaluations = new AtomicLong()
}

/** A MERGE whose source Catalyst bounds (a `VALUES` list, a micro-batch)
  * runs from driver-held rows: its key stats cost no Spark job, every use
  * of the source sees one evaluation of it, and the insert anti-join reads
  * only the files a source row can match. The held path and the lazy path
  * of an unbounded (file) source commit the same table. */
class MergeLocalSourceSpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)
  import spark.implicits._

  private def withStore(body: TableStore => Unit): Unit = {
    val store = new TableStore(spark, Files.createTempDirectory("graft_mergelocal").toString)
    try body(store) finally store.detach()
  }

  /** 4,000 key-sorted rows in 8 files with `k` stats: a narrow source
    * matches one file. */
  private def makeTable(store: TableStore, name: String): Unit = {
    store.createOrReplace(name, (1 to 4000).map(i => (i, s"v$i")).toDF("k", "v"),
      sortWithin = Seq("k"), statsFor = Seq("k"))
    store.compact(name, targetFiles = 8)
  }

  private def upsert(store: TableStore, name: String, source: DataFrame) =
    store.merge(name, source, Seq("k"),
      matched = Seq(MatchedUpdate(None, Map("v" -> col("s.sv")))),
      notMatched = Seq(NotMatchedInsert(None, Map("k" -> col("s.k"), "v" -> col("s.sv")))))

  /** The physical plan of each Spark job `body` starts on this thread, in
    * start order (jobs are tagged through a job group, so a neighbour
    * suite's jobs are not counted). */
  private def jobPlans(body: => Unit): Seq[String] = {
    val group = s"graft-mergelocal-${System.nanoTime()}"
    val plans = new ConcurrentHashMap[Long, String]()
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.physicalPlanDescription)
        case _ => ()
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).filter(p => group == p.getProperty("spark.jobGroup.id"))
          .foreach(p => execs.add(
            Option(p.getProperty("spark.sql.execution.id")).fold(-1L)(_.toLong)))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "merge job probe")
      body
      GraftShims.waitListenerBusEmpty(spark)
      execs.asScala.toSeq.map(id => Option(plans.get(id)).getOrElse(""))
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("a VALUES MERGE into a table of more than 2 files starts no job before discovery") {
    withStore { store =>
      makeTable(store, "db.t")
      val source = spark.sql("SELECT * FROM VALUES (10, 'u10'), (4001, 'n4001') AS v(k, sv)")
      val plans = jobPlans(upsert(store, "db.t", source))
      // the discovery join groups matches by target (file, position); a
      // job computing the source's key stats would come before it
      assert(plans.nonEmpty && plans.head.contains("__graft_pos"),
        s"the merge's first job is not the discovery join:\n${plans.headOption.getOrElse("")}")
      val m = store.read("db.t").as[(Int, String)].collect().toMap
      assert(m.size == 4001 && m(10) == "u10" && m(4001) == "n4001")
    }
  }

  test("the insert scan reads only candidate files: cow, mor and an unbounded source") {
    withStore { store =>
      // non-candidate files are moved away while the merge runs: a read of
      // any of them fails the merge
      def withOnlyCandidates(name: String)(body: => Unit): Unit = {
        val dir = Paths.get(store.rootDir, name.split('.'): _*)
        val cand = store.prunedFileList(name, Some(col("k") === 10)).toSet
        val others = store.fileInventory(name).select("file").as[String].collect()
          .filterNot(cand).map(dir.resolve(_))
        assert(cand.size == 1 && others.length >= 7)
        others.foreach(p => Files.move(p, Paths.get(s"$p.aside")))
        try body finally others.foreach(p => Files.move(Paths.get(s"$p.aside"), p))
      }
      val rows = Seq((10, "u10"), (4001, "n4001"))
      val pq = Files.createTempDirectory("graft_mergelocal_src").resolve("pq").toString
      rows.toDF("k", "sv").coalesce(1).write.parquet(pq)
      val sources: Seq[(String, String, DataFrame)] = Seq(
        ("db.cow", "cow", rows.toDF("k", "sv")),
        ("db.mor", "mor", rows.toDF("k", "sv")),
        ("db.unbounded", "cow", spark.read.parquet(pq)))
      sources.foreach { case (name, mode, source) =>
        makeTable(store, name)
        store.setDmlMode(name, mode)
        withOnlyCandidates(name)(upsert(store, name, source))
        val m = store.read(name).as[(Int, String)].collect().toMap
        assert(m.size == 4001 && m(10) == "u10" && m(4001) == "n4001" && m(11) == "v11",
          s"$name: wrong merge result")
      }
    }
  }

  test("a bounded source and a parquet-file source commit identical tables: row tracking, " +
      "change feed, schema evolution, Txn.merge") {
    withStore { store =>
      val batch1 = Seq((10, "u10", 1.5), (11, "gone", 2.5), (3000, "u3000", 0.5),
        (4001, "n4001", 9.0), (4002, "n4002", 8.0))
      val batch2 = Seq((12, "w12", 3.5), (4001, "w4001", 4.5), (4003, "n4003", 7.0))
      def fileSource(rows: Seq[(Int, String, Double)], tag: String): DataFrame = {
        val p = Files.createTempDirectory("graft_mergelocal_src").resolve(tag).toString
        rows.toDF("k", "sv", "extra").coalesce(1).write.parquet(p)
        spark.read.parquet(p)
      }
      val matched = Seq(
        MatchedDelete(Some(col("s.sv") === "gone")),
        MatchedUpdate(None, Map("v" -> col("s.sv"), "extra" -> col("s.extra"))))
      val notMatched = Seq(NotMatchedInsert(None,
        Map("k" -> col("s.k"), "v" -> col("s.sv"), "extra" -> col("s.extra"))))
      val runs = Seq(
        "db.held" -> ((rows: Seq[(Int, String, Double)], _: String) => rows.toDF("k", "sv", "extra")),
        "db.lazy" -> ((rows: Seq[(Int, String, Double)], tag: String) => fileSource(rows, tag)))
      def ids(name: String) = store.readWithRowIds(name).select("k", "_row_id")
        .as[(Int, Long)].collect().toMap
      runs.foreach { case (name, source) =>
        makeTable(store, name)
        store.enableRowTracking(name)
        store.enableChangeFeed(name)
        val idsBefore = ids(name)
        val s1 = source(batch1, "1")
        assert(s1.queryExecution.analyzed.maxRows.isDefined == (name == "db.held"))
        store.merge(name, s1, Seq("k"), matched = matched, notMatched = notMatched,
          schemaEvolution = true)
        store.transaction(_.merge(name, source(batch2, "2"), Seq("k"),
          matched = matched, notMatched = notMatched))
        // row ids: an updated or untouched row keeps its id, inserts mint
        // fresh distinct ones
        val after = ids(name)
        assert(after.filter(_._1 <= 4000) == idsBefore - 11, s"$name: row ids moved")
        assert(after.values.toSet.size == after.size, s"$name: duplicate row ids")
      }
      def rowsOf(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      def table(name: String) = store.read(name).select("k", "v", "extra")
      assert(rowsOf(table("db.held")) == rowsOf(table("db.lazy")))
      assert(store.read("db.held").count() == 4002)
      assert(store.versions("db.held") == store.versions("db.lazy"))
      def feed(name: String) = {
        val vs = store.versions(name)
        store.changeFeed(name, vs(vs.size - 3), vs.last)
          .select("k", "v", "extra", "_change_type", "_commit_version")
      }
      assert(rowsOf(feed("db.held")) == rowsOf(feed("db.lazy")))
      assert(rowsOf(feed("db.held")).nonEmpty)
    }
  }

  test("a bounded nondeterministic source updates exactly one evaluation's rows") {
    withStore { store =>
      makeTable(store, "db.t")
      store.enableChangeFeed("db.t")
      val next = udf(() => MergeLocalSourceSpec.evaluations.incrementAndGet()).asNondeterministic()
      val source = spark.range(1, 21).select(col("id").cast("int").as("k"), next().as("sv"))
      val before = MergeLocalSourceSpec.evaluations.get()
      store.merge("db.t", source, Seq("k"),
        matched = Seq(MatchedUpdate(None, Map("v" -> col("s.sv").cast("string")))))
      assert(MergeLocalSourceSpec.evaluations.get() - before == 20,
        "the source ran more than once")
      val table = store.read("db.t").filter(col("k") <= 20).as[(Int, String)].collect().toMap
      assert(table.values.toSet.size == 20 && table.values.forall(_.toLong > before))
      val vs = store.versions("db.t")
      val post = store.changeFeed("db.t", vs(vs.size - 2), vs.last)
        .filter(col("_change_type") === "update_postimage")
        .select("k", "v").as[(Int, String)].collect().toMap
      assert(post == table, "the change feed saw another evaluation than the table")
    }
  }
}
