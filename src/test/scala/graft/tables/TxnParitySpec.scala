package graft.tables

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MergeInto

/** A write commits the same result directly and inside a transaction: a
  * transaction runs the store's own write paths, so twin tables written
  * once each way end with equal rows, layout and change feed, and differ
  * only in the operation label history records (`append`/`txn_append`,
  * `write`/`txn_write`, `merge`/`txn_merge`). A transaction that fails
  * in its second staged write leaves every table as it was. */
class TxnParitySpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)

  private val (direct, staged) = ("db.d", "db.x")

  private def withStore(label: String)(f: (TableStore, String) => Unit): Unit = {
    val root = Files.createTempDirectory(s"graft_txn_parity_$label").toString
    val store = new TableStore(spark, root)
    try f(store, root) finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(Paths.get(root))
    }
  }

  /** The version directories on disk under table `db.<t>`. */
  private def versionDirs(root: String, name: String): Set[Int] = {
    val s = Files.list(Paths.get(root, name.split('.').toSeq: _*))
    try s.iterator().asScala.map(_.getFileName.toString)
      .collect { case d if d.matches("v_\\d+") => d.stripPrefix("v_").toInt }.toSet
    finally s.close()
  }

  private def rows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col).toSeq: _*).collect().map(_.toString).sorted.toSeq
  }

  /** Run `write` on the direct twin, then inside a transaction on the
    * staged twin, and check the twins against each other (`ignore`: the
    * columns whose values may differ, such as identity keys). */
  private def compare(store: TableStore, directOp: String, stagedOp: String,
      ignore: Seq[String] = Nil)(write: (Option[Txn], String) => Unit): Unit = {
    val before = Seq(direct, staged).map(t => t -> store.version(t).get).toMap
    write(None, direct)
    store.transaction(txn => write(Some(txn), staged))
    assert(rows(store.read(direct).drop(ignore: _*)) == rows(store.read(staged).drop(ignore: _*)))
    assert(store.partitionColumns(direct) == store.partitionColumns(staged))
    val layout = Seq("partition_columns", "sort_columns", "num_files", "num_columns")
    assert(store.detail(direct).view.filterKeys(layout.contains).toMap ==
      store.detail(staged).view.filterKeys(layout.contains).toMap)
    def feed(t: String) =
      rows(store.changeFeed(t, before(t), store.version(t).get)
        .drop(("_commit_version" +: ignore): _*))
    assert(feed(direct).nonEmpty && feed(direct) == feed(staged))
    assert(store.history(direct).head._3 == directOp)
    assert(store.history(staged).head._3 == stagedOp)
  }

  test("an append to an identity, CHECK and NOT NULL table commits alike both ways") {
    withStore("append") { (store, _) =>
      import spark.implicits._
      Seq(direct, staged).foreach { t =>
        store.createOrReplace(t, spark.range(0, 0).select(col("id").as("ik"),
          col("id").as("amt"), col("id").cast("string").as("v")))
        store.setIdentity(t, "ik")
        store.addCheckConstraint(t, "amt_nonneg", "amt >= 0")
        store.setNotNull(t, "v")
        store.append(t, Seq((5L, "s1"), (6L, "s2")).toDF("amt", "v"))
      }
      val seedKeys = store.read(direct).select("ik").as[Long].collect().toSet
      val batch = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("amt", "v")
      compare(store, "append", "txn_append", ignore = Seq("ik")) { (txn, t) =>
        txn.fold(store.append(t, batch))(_.append(t, batch))
      }
      Seq(direct, staged).foreach { t =>
        val keys = store.read(t).select("ik").as[Long].collect().toSeq
        assert(keys.distinct.size == 5, s"$t reissued an identity key: $keys")
        val batchKeys = store.read(t).filter(col("v").isin("a", "b", "c"))
          .select("ik").as[Long].collect().toSet
        assert(batchKeys.size == 3 && batchKeys.intersect(seedKeys).isEmpty,
          s"$t: the append's keys $batchKeys overlap the earlier $seedKeys")
      }
    }
  }

  test("a partitioned, sortWithin replace commits alike both ways") {
    withStore("replace") { (store, _) =>
      import spark.implicits._
      Seq(direct, staged).foreach(t =>
        store.createOrReplace(t, Seq((0L, "z", 9)).toDF("k", "v", "p")))
      val df = (0 until 30).map(i => (i.toLong, s"v$i", i % 3)).toDF("k", "v", "p")
      compare(store, "write", "txn_write") { (txn, t) =>
        (txn.getOrElse(store): TableWriter)
          .createOrReplace(t, df, partitionBy = Seq("p"), sortWithin = Seq("k"))
      }
      assert(store.partitionColumns(staged) == Seq("p"))
      assert(store.detail(staged)("sort_columns") == "k")
    }
  }

  test("a MERGE with the change feed on commits alike both ways") {
    withStore("merge") { (store, _) =>
      import spark.implicits._
      Seq(direct, staged).foreach { t =>
        store.createOrReplace(t, (1 to 6).map(i => (i.toLong, s"v$i")).toDF("k", "v"))
        store.enableChangeFeed(t)
      }
      val src = Seq((2L, "u2"), (4L, "u4"), (9L, "n9")).toDF("k", "v")
      compare(store, "merge", "txn_merge") { (txn, t) =>
        (txn.getOrElse(store): TableWriter).merge(t, src, Seq("k"),
          matched = Seq(MergeInto.MatchedUpdate(None, Map("v" -> col("s.v")))),
          notMatched = Seq(MergeInto.NotMatchedInsert(None,
            Map("k" -> col("s.k"), "v" -> col("s.v")))))
      }
      val feed = store.changeFeed(staged, 1, store.version(staged).get)
        .select("_change_type").as[String].collect().toSeq
      assert(feed.count(_ == "update_postimage") == 2 && feed.count(_ == "insert") == 1, feed)
    }
  }

  test("a CHECK violation in a transaction's second staged write leaves every table unchanged") {
    withStore("check") { (store, root) =>
      import spark.implicits._
      Seq("db.a", "db.b").foreach(t => store.createOrReplace(t, Seq((1L, "a")).toDF("k", "v")))
      store.addCheckConstraint("db.b", "k_pos", "k > 0")
      val before = Seq("db.a", "db.b").map(t =>
        t -> (store.versions(t), rows(store.read(t)))).toMap
      val e = intercept[Exception](store.transaction { txn =>
        txn.append("db.a", Seq((2L, "b")).toDF("k", "v"))
        txn.merge("db.b", Seq((-1L, "bad")).toDF("k", "v"), Seq("k"),
          notMatched = Seq(MergeInto.NotMatchedInsert(None,
            Map("k" -> col("s.k"), "v" -> col("s.v")))))
      })
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(x => Option(x.getMessage).exists(_.contains("k_pos"))), e)
      Seq("db.a", "db.b").foreach { t =>
        assert((store.versions(t), rows(store.read(t))) == before(t), s"$t changed")
        assert(versionDirs(root, t) == store.versions(t).toSet,
          s"$t: staged version directory left behind")
      }
    }
  }
}
