package graft.tables

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Executable all-or-nothing argument for MULTI-TABLE TRANSACTIONS — the
  * sibling of [[CommitLockPropertySpec]], one level up: that suite proves
  * the per-table commit lock under chaos; this one drives N writer
  * threads through whole `store.transaction` blocks over THREE tables,
  * with two chaos shapes mixed in, and asserts the transactional
  * invariant observably:
  *
  *  - ATOMIC VISIBILITY: a committed transaction's tag row appears in
  *    ALL three tables; an aborted one's (user code throwing mid-block)
  *    in NONE — the final per-table tag sets are identical and equal to
  *    the set of commits the writers observed succeeding;
  *  - ISOLATION UNDER CONTENTION: concurrent transactions conflicting on
  *    the same tables either commit wholly or roll back with
  *    ConcurrentModificationException and can be retried from staging —
  *    no partial state ever leaks from a loser;
  *  - CRASH ROLL-FORWARD: a transaction killed BETWEEN its pointer swaps
  *    (the `crashAfterSwapsForTest` seam — the real torn-publish window)
  *    leaves a detectable tear on disk, and a fresh store attach
  *    completes the publish (intent-journal recovery), after which all
  *    three tables carry the row and no intent file survives.
  *
  * PipelineSpec pins the crash edges on the medallion pipeline's own
  * transaction; this property drives the edges INTERLEAVED with real
  * contention, where a bug (a loser publishing one table, recovery
  * double-applying, an abort leaking staged files into a manifest)
  * surfaces as a tag-set mismatch across tables. */
class TxnPropertySpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)

  test("N concurrent multi-table transactions with aborts: committed tags " +
      "land in ALL tables, aborted in NONE; mid-publish crash rolls forward " +
      "on re-attach") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_txnprop").toString
    val store = new TableStore(spark, root)
    try {
      val tables = Seq("db.t1", "db.t2", "db.t3")
      tables.foreach(t => store.createOrReplace(t, Seq((0, 0)).toDF("w", "k")))

      val threads = 4
      val txnsPer = 4
      val committed = java.util.Collections.synchronizedList(
        new java.util.ArrayList[(Int, Int)]())
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val writers = (1 to threads).map { w =>
        new Thread(new Runnable { def run(): Unit = {
          try {
            for (k <- 1 to txnsPer) {
              // every 4th (writer, seq) aborts from inside the block —
              // the user-code-throws chaos shape
              val abortThis = (w + k) % 4 == 0
              var done = false
              var attempts = 0
              while (!done && attempts < 80) {
                attempts += 1
                try {
                  store.transaction { txn =>
                    tables.foreach(t => txn.append(t, Seq((w, k)).toDF("w", "k")))
                    if (abortThis) throw new RuntimeException("chaos abort")
                  }
                  committed.add((w, k)); done = true
                } catch {
                  // a concurrent commit moved a base table between staging
                  // and publish — the documented retry-from-staging path
                  case _: java.util.ConcurrentModificationException => ()
                  case e: RuntimeException if e.getMessage == "chaos abort" =>
                    done = true
                }
              }
              if (!done) errors.add(s"writer $w seq $k starved after $attempts attempts")
            }
          } catch { case t: Throwable => errors.add(s"writer $w died: $t") }
        }})
      }
      writers.foreach(_.start())
      writers.foreach(_.join(300000))
      assert(errors.isEmpty, s"writer errors: ${errors.asScala.mkString("; ")}")

      val wantTags = committed.asScala.toSet
      assert(wantTags.nonEmpty, "at least one transaction must have committed")
      for (t <- tables) {
        val got = store.read(t).filter(col("w") > 0).collect()
          .map(r => (r.getInt(0), r.getInt(1))).toSet
        assert(got == wantTags,
          s"$t: visible tags must equal the committed set exactly " +
            s"(visible ${got.size}, committed ${wantTags.size}; " +
            s"extra=${(got -- wantTags).take(3)}, missing=${(wantTags -- got).take(3)})")
      }

      // crash BETWEEN pointer swaps: publish tears after table 1 of 3
      store.log.crashAfterSwapsForTest = 1
      val e = intercept[IllegalStateException] {
        store.transaction { txn =>
          tables.foreach(t => txn.append(t, Seq((99, 1)).toDF("w", "k")))
        }
      }
      assert(e.getMessage.contains("publish interrupted"), s"got: ${e.getMessage}")
      store.log.crashAfterSwapsForTest = -1
      def crashTag(s: TableStore, t: String): Long =
        s.read(t).filter(col("w") === 99).count()
      assert(crashTag(store, "db.t1") == 1L && crashTag(store, "db.t3") == 0L,
        "the seam must leave a REAL tear (first table published, last not) " +
          "or the roll-forward assertion below proves nothing")
      // fresh attach = crashed-process restart: intent recovery completes
      // the remaining swaps before the store serves queries
      val store2 = new TableStore(spark, root)
      try {
        for (t <- tables)
          assert(crashTag(store2, t) == 1L,
            s"$t: attach-time recovery must roll the torn publish forward")
        val intents = Paths.get(root, "_txn_intents")
        val leftover =
          if (!Files.exists(intents)) Nil
          else { val s = Files.list(intents); try s.iterator().asScala.toList finally s.close() }
        assert(leftover.isEmpty, s"recovery must consume the intent, left: $leftover")
      } finally store2.detach()
    } finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(Paths.get(root))
    }
  }
}
