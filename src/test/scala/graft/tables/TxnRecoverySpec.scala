package graft.tables

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The transaction intent journal: a multi-table commit is per-table
  * atomic pointer swaps issued back-to-back, so a crash BETWEEN swaps
  * would leave the tables mutually inconsistent — unless the durable
  * intent written before the first swap lets the next attach roll the
  * publish FORWARD. This spec kills the publish after one swap (via the
  * test seam) and asserts a fresh store completes the rest. */
class TxnRecoverySpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)

  test("a commit killed between pointer swaps is completed by the next attach") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_txn_rec").toString
    val store = new TableStore(spark, root)
    try {
      store.createOrReplace("db.a", Seq((1L, "x")).toDF("k", "v"))
      store.createOrReplace("db.b", Seq((1L, "y")).toDF("k", "v"))
      store.log.crashAfterSwapsForTest = 1 // die after the FIRST table publishes
      val e = intercept[Exception] {
        store.transaction { txn =>
          txn.createOrReplace("db.a", Seq((2L, "x2")).toDF("k", "v"))
          txn.createOrReplace("db.b", Seq((2L, "y2")).toDF("k", "v"))
        }
      }
      store.log.crashAfterSwapsForTest = -1
      assert(e.getMessage.contains("intent") && e.getMessage.contains("roll-forward"),
        s"the interrupted publish must say how it recovers, got: ${e.getMessage}")
      // the torn state a reader could observe before recovery: exactly one
      // of the two tables shows the new version (commit order is sorted)
      val torn = Seq("db.a", "db.b").map(t =>
        store.read(t).agg(max(col("k"))).head().getLong(0))
      assert(torn.count(_ == 2L) == 1, s"expected a torn mid-publish state, got $torn")
      store.detach()
      // attach-time recovery completes the remaining swap and drops the intent
      val recovered = new TableStore(spark, root)
      try {
        assert(recovered.read("db.a").agg(max(col("k"))).head().getLong(0) == 2L)
        assert(recovered.read("db.b").agg(max(col("k"))).head().getLong(0) == 2L)
        assert(!java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(root, "_txn_intents")) ||
          !java.nio.file.Files.list(java.nio.file.Paths.get(root, "_txn_intents"))
            .iterator().hasNext,
          "a completed recovery must consume its intent file")
        // and a normal transaction leaves no intent behind either
        recovered.transaction { txn =>
          txn.createOrReplace("db.a", Seq((3L, "x3")).toDF("k", "v"))
          txn.createOrReplace("db.b", Seq((3L, "y3")).toDF("k", "v"))
        }
        assert(recovered.read("db.b").agg(max(col("k"))).head().getLong(0) == 3L)
        assert(!java.nio.file.Files.list(java.nio.file.Paths.get(root, "_txn_intents"))
          .iterator().hasNext, "a clean commit deletes its intent")
      } finally recovered.detach()
    } finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  test("a FOREIGN host's intent is never recovered — its liveness is unknowable here") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_txn_rec3").toString
    val store = new TableStore(spark, root)
    try {
      store.createOrReplace("db.a", Seq((1L, "x")).toDF("k", "v"))
      store.detach()
      // an intent minted elsewhere, pointing at a version that does not
      // exist: recovering it would raise the store-corruption error, so a
      // clean attach PROVES the foreign intent was skipped, not replayed
      val dir = java.nio.file.Paths.get(root, "_txn_intents")
      java.nio.file.Files.createDirectories(dir)
      val intent = dir.resolve(
        s"intent.definitely-not-${TableLog.localHost}~${ProcessHandle.current().pid()}_1")
      java.nio.file.Files.write(intent, "db.a\t99".getBytes("UTF-8"))
      val reattached = new TableStore(spark, root)
      try {
        assert(reattached.read("db.a").agg(max(col("k"))).head().getLong(0) == 1L)
        assert(java.nio.file.Files.exists(intent),
          "a foreign-host intent must be left for its own writer's recovery")
      } finally reattached.detach()
    } finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  test("a failure BEFORE the intent is durable still aborts cleanly (nothing publishes)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_txn_rec2").toString
    val store = new TableStore(spark, root)
    try {
      store.createOrReplace("db.a", Seq((1L, "x")).toDF("k", "v"))
      intercept[Exception] {
        store.transaction { txn =>
          txn.createOrReplace("db.a", Seq((2L, "x2")).toDF("k", "v"))
          sys.error("staging-time failure")
        }
      }
      assert(store.read("db.a").agg(max(col("k"))).head().getLong(0) == 1L,
        "a pre-intent failure publishes nothing")
      val intents = java.nio.file.Paths.get(root, "_txn_intents")
      assert(!java.nio.file.Files.isDirectory(intents) ||
        !java.nio.file.Files.list(intents).iterator().hasNext,
        "no intent may outlive a pre-publish abort")
    } finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }
}
