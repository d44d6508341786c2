package graft.tables

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MergeInto

/** Latches that hold a transaction's source open: the first row it
  * evaluates opens `staging` and then waits on `landed`. They live in
  * this object, not in the UDF's closure, so the executor-side copy of
  * the closure reaches the same latches as the test thread. */
object TxnConflictSpec {
  @volatile var staging = new CountDownLatch(1)
  @volatile var landed = new CountDownLatch(1)

  def gate(v: String): String = {
    staging.countDown()
    require(landed.await(60, TimeUnit.SECONDS), "the direct append never committed")
    v
  }
}

/** A direct commit that lands while a transactional write is staging
  * aborts the transaction: the transaction observed the table's version
  * before it began staging, so its commit finds the table moved and
  * rolls back with `ConcurrentModificationException`. Had the base been
  * read after staging, the transaction would publish over the append and
  * lose its rows. Covers each write a transaction runs. */
class TxnConflictSpec extends AnyFunSuite {
  import TxnConflictSpec._

  lazy val spark = graft.core.GraftSession.local(4)

  /** The version directories on disk under table `db.t`. */
  private def versionDirs(root: String): Set[Int] = {
    val s = Files.list(Paths.get(root, "db", "t"))
    try s.iterator().asScala.map(_.getFileName.toString)
      .collect { case d if d.matches("v_\\d+") => d.stripPrefix("v_").toInt }.toSet
    finally s.close()
  }

  /** Run `write` inside a transaction on `db.t` = {(1, a)} with a source
    * whose evaluation blocks until a direct append of (2, b) committed. */
  private def raced(label: String)(write: (Txn, DataFrame) => Unit): Unit = {
    import spark.implicits._
    val root = Files.createTempDirectory(s"graft_txn_race_$label").toString
    val store = new TableStore(spark, root)
    staging = new CountDownLatch(1)
    landed = new CountDownLatch(1)
    try {
      store.createOrReplace("db.t", Seq((1L, "a")).toDF("k", "v"))
      val gated = udf(gate _).asNondeterministic()
      val source = Seq((1L, "x"), (3L, "c")).toDF("k", "v").withColumn("v", gated(col("v")))
      val direct = Future {
        require(staging.await(60, TimeUnit.SECONDS), "the transaction never evaluated its source")
        try store.append("db.t", Seq((2L, "b")).toDF("k", "v")) finally landed.countDown()
      }
      val e = intercept[java.util.ConcurrentModificationException](
        store.transaction(txn => write(txn, source)))
      Await.result(direct, 60.seconds)
      assert(e.getMessage.contains("rolled back"), e.getMessage)
      assert(store.read("db.t").as[(Long, String)].collect().sorted.toSeq ==
        Seq((1L, "a"), (2L, "b")), "the direct append's rows must survive")
      assert(versionDirs(root) == store.versions("db.t").toSet,
        s"staged version directory left behind: ${versionDirs(root)} vs ${store.versions("db.t")}")
    } finally {
      landed.countDown()
      store.detach()
      graft.queries.Scratch.deleteRecursively(Paths.get(root))
    }
  }

  test("a commit landing while a transactional replace stages aborts the transaction") {
    raced("replace")((txn, src) => txn.createOrReplace("db.t", src))
  }

  test("a commit landing while a transactional append stages aborts the transaction") {
    raced("append")((txn, src) => txn.append("db.t", src))
  }

  test("a commit landing while a transactional merge stages aborts the transaction") {
    raced("merge")((txn, src) => txn.merge("db.t", src, Seq("k"),
      matched = Seq(MergeInto.MatchedUpdate(None, Map("v" -> col("s.v")))),
      notMatched = Seq(MergeInto.NotMatchedInsert(None,
        Map("k" -> col("s.k"), "v" -> col("s.v"))))))
  }
}
