package graft.tables

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The commit-lock liveness protocol: `_COMMIT_LOCK` records its holder
  * (`host~pid_nanos`), a waiter breaks the lock only after proving that
  * holder DEAD — same host, process gone — re-verified under an OS
  * advisory lock on the `.breaklock` sidecar, and nothing ever deletes a
  * live (or liveness-unknowable foreign-host) writer's held lock — the
  * mutex-breaking hazard a blind "recovery deletes stale locks" policy
  * carries. */
class CommitLockSpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)

  /** A pid no live process owns (probe upward from an unlikely base). */
  private def deadPid(): Long =
    Iterator.iterate(4000000L)(_ + 7).find(p =>
      !ProcessHandle.of(p).map[java.lang.Boolean](_.isAlive).orElse(false)).get

  /** A COMPLETE dead-writer token in the fixed-width format writerToken
    * mints (19-digit nanos tail). */
  private def deadToken(): String =
    f"${TableLog.localHost}~${deadPid()}_${123L}%019d"

  test("a dead holder's LEGACY-format lock (unpadded nanos) is broken — an upgrade " +
      "overlap must not wedge the table") {
    import spark.implicits._
    // pre-hardening builds wrote host~pid_<unpadded nanos>; a lock such a
    // build's crashed writer left behind must still parse as that dead
    // writer, or the table wedges until the manual remedy
    val root = Files.createTempDirectory("graft_lock_legacy").toString
    val store = new TableStore(spark, root)
    try {
      store.createOrReplace("db.t", Seq((1L, "a")).toDF("k", "v"))
      val lock = Paths.get(root, "db", "t", "_COMMIT_LOCK")
      Files.write(lock, s"${TableLog.localHost}~${deadPid()}_123".getBytes(UTF_8))
      store.createOrReplace("db.t", Seq((2L, "b")).toDF("k", "v"))
      assert(store.read("db.t").agg(max($"k")).head().getLong(0) == 2L)
      assert(!Files.exists(lock), "a finished commit releases its lock")
    } finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(Paths.get(root))
    }
  }

  test("a dead holder's retained lock is broken and the commit proceeds") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_lock_dead").toString
    val store = new TableStore(spark, root)
    try {
      store.createOrReplace("db.t", Seq((1L, "a")).toDF("k", "v"))
      val lock = Paths.get(root, "db", "t", "_COMMIT_LOCK")
      Files.write(lock, deadToken().getBytes(UTF_8))
      // the next commit must self-heal the dead lock instead of timing out
      store.createOrReplace("db.t", Seq((2L, "b")).toDF("k", "v"))
      assert(store.read("db.t").agg(max($"k")).head().getLong(0) == 2L)
      assert(!Files.exists(lock), "a finished commit releases its lock")
    } finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(Paths.get(root))
    }
  }

  test("a LIVE holder's lock is never broken — the commit waits for release") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_lock_live").toString
    val store = new TableStore(spark, root)
    try {
      store.createOrReplace("db.t", Seq((1L, "a")).toDF("k", "v"))
      val lock = Paths.get(root, "db", "t", "_COMMIT_LOCK")
      // held by THIS (live) process, as during any healthy commit window
      // (a COMPLETE token, so survival exercises the pid-liveness check
      // itself, not the malformed-token guard)
      Files.write(lock,
        f"${TableLog.localHost}~${ProcessHandle.current().pid()}_${999L}%019d"
          .getBytes(UTF_8))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val commit = Future {
        store.createOrReplace("db.t", Seq((2L, "b")).toDF("k", "v"))
      }
      // stage the write plan, then give the waiter time to (wrongly) break
      Thread.sleep(1500)
      assert(!commit.isCompleted && Files.exists(lock),
        "a live holder's lock must survive a contending commit's wait")
      assert(new String(Files.readAllBytes(lock), UTF_8)
          .endsWith(f"_${999L}%019d"),
        "the waiting commit must not have re-acquired over the live holder")
      Files.delete(lock) // the holder releases; the waiter now acquires
      Await.result(commit, 30.seconds)
      assert(store.read("db.t").agg(max($"k")).head().getLong(0) == 2L)
    } finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(Paths.get(root))
    }
  }

  test("vacuum reads the pointer under the lock: a commit that lands while it waits " +
      "keeps its manifest and data") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = Files.createTempDirectory("graft_lock_vacuum").toString
    val store = new TableStore(spark, root)
    try {
      store.createOrReplace("db.t", Seq((1L, "a")).toDF("k", "v"))
      val txn = new Txn(store)
      txn.append("db.t", Seq((2L, "b")).toDF("k", "v"), "append")
      val Seq((_, v, dir, base)) = txn.writes
      // the publish runs this callback holding `_COMMIT_LOCK`: the vacuum
      // starts while v1 is still current, then waits on the lock until
      // the commit of v2 has swapped the pointer
      var vacuum: Future[Unit] = null
      store.log.txnCommit(Seq(("db.t", v, dir, base)), () => {
        vacuum = Future(store.vacuum("db.t"))
        Thread.sleep(1500)
        assert(!vacuum.isCompleted, "vacuum must wait for the held commit lock")
      })
      Await.result(vacuum, 30.seconds)
      assert(store.version("db.t").contains(v))
      assert(Files.exists(Paths.get(root, "db", "t", s"v_$v", "_MANIFEST")),
        "vacuum deleted the live version's manifest")
      assert(store.read("db.t").as[(Long, String)].collect().sorted.toSeq ==
        Seq((1L, "a"), (2L, "b")))
    } finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(Paths.get(root))
    }
  }

  test("8 contending commits racing over a pre-placed dead lock: all land, no lost update") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_lock_race").toString
    val store = new TableStore(spark, root)
    try {
      store.createOrReplace("db.t", Seq((0L, "init")).toDF("k", "v"))
      val v0 = store.version("db.t").get
      Files.write(Paths.get(root, "db", "t", "_COMMIT_LOCK"),
        deadToken().getBytes(UTF_8))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val commits = (1 to 8).map(i => Future {
        store.createOrReplace("db.t", Seq((i.toLong, s"w$i")).toDF("k", "v"))
      })
      Await.result(Future.sequence(commits), 120.seconds)
      // all 9 commits (init + 8) must be in the history — a broken mutex
      // loses one to a concurrent clobber; version numbers need not be
      // dense (renumbering past an interloper burns numbers) but the
      // POINTER must be the newest committed version: a backward swap
      // would break history/CDF/time-travel's v-against-v-1 diffing
      val hist = store.history("db.t")
      assert(hist.size == 9, s"expected 9 commits in history, got ${hist.size}: $hist")
      val cur = store.version("db.t").get
      assert(cur == hist.map(_._1).max && cur > v0,
        s"pointer must sit at the newest committed version, got v$cur of $hist")
      // the surviving snapshot is ONE writer's intact replace, not a blend
      val row = store.read("db.t").collect()
      assert(row.length == 1 && row(0).getString(1) == s"w${row(0).getLong(0)}",
        s"final content must be a single writer's snapshot, got ${row.toSeq}")
      assert(!Files.exists(Paths.get(root, "db", "t", "_COMMIT_LOCK")),
        "the last commit releases the lock")
    } finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(Paths.get(root))
    }
  }

  test("a pre-existing (unheld) breaklock sidecar with junk content does not wedge the break") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_lock_sidecar").toString
    val store = new TableStore(spark, root)
    try {
      store.createOrReplace("db.t", Seq((1L, "a")).toDF("k", "v"))
      val lock = Paths.get(root, "db", "t", "_COMMIT_LOCK")
      Files.write(lock, deadToken().getBytes(UTF_8))
      // the sidecar persists between breaks by design (an OS advisory
      // lock, not a marker file — it cannot go stale); junk content and
      // prior existence must be irrelevant, only a HELD lock matters
      Files.write(lock.resolveSibling("_COMMIT_LOCK.breaklock"),
        "leftover garbage".getBytes(UTF_8))
      store.createOrReplace("db.t", Seq((2L, "b")).toDF("k", "v"))
      assert(store.read("db.t").agg(max($"k")).head().getLong(0) == 2L)
    } finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(Paths.get(root))
    }
  }

  test("a HOST-LESS token is liveness-unknowable and never broken") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_lock_hostless").toString
    val store = new TableStore(spark, root)
    try {
      store.createOrReplace("db.t", Seq((1L, "a")).toDF("k", "v"))
      val lock = Paths.get(root, "db", "t", "_COMMIT_LOCK")
      // no host tag: could be a live writer on any host — assuming "local"
      // would judge a foreign pid and re-enable cross-host breaking
      Files.write(lock, s"${deadPid()}_1".getBytes(UTF_8))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val commit = Future {
        store.createOrReplace("db.t", Seq((2L, "b")).toDF("k", "v"))
      }
      Thread.sleep(1500)
      assert(!commit.isCompleted && Files.exists(lock),
        "a host-less lock token must survive a contending commit's wait")
      Files.delete(lock)
      Await.result(commit, 30.seconds)
      assert(store.read("db.t").agg(max($"k")).head().getLong(0) == 2L)
    } finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(Paths.get(root))
    }
  }

  test("a FOREIGN host's lock is never broken, even for a pid that is dead here") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_lock_foreign").toString
    val store = new TableStore(spark, root)
    try {
      store.createOrReplace("db.t", Seq((1L, "a")).toDF("k", "v"))
      val lock = Paths.get(root, "db", "t", "_COMMIT_LOCK")
      // the pid is provably dead ON THIS HOST — but the token says the
      // lock was minted elsewhere, where that pid may be a live writer:
      // liveness is unknowable across a shared filesystem, so no break
      Files.write(lock,
        s"definitely-not-${TableLog.localHost}~${deadPid()}_1".getBytes(UTF_8))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val commit = Future {
        store.createOrReplace("db.t", Seq((2L, "b")).toDF("k", "v"))
      }
      Thread.sleep(1500)
      assert(!commit.isCompleted && Files.exists(lock),
        "a foreign-host lock must survive a contending commit's wait")
      Files.delete(lock) // the (unknowable) holder releases
      Await.result(commit, 30.seconds)
      assert(store.read("db.t").agg(max($"k")).head().getLong(0) == 2L)
    } finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(Paths.get(root))
    }
  }

  test("a TRUNCATED token is never broken, even when its pid-prefix parses dead") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_lock_truncated").toString
    val store = new TableStore(spark, root)
    try {
      store.createOrReplace("db.t", Seq((1L, "a")).toDF("k", "v"))
      val lock = Paths.get(root, "db", "t", "_COMMIT_LOCK")
      // a partially-visible write cut right before the nanos separator:
      // 'host~pid' with a pid that IS dead here (as when a live pid 421
      // is cut to '42'). A prefix-tolerant parser would judge it dead and
      // break — letting a second writer into the commit window while the
      // real (live) acquirer finishes its token write. The breaker must
      // treat any malformed token as a live acquirer mid-write.
      val truncated = deadToken().takeWhile(_ != '_')
      Files.write(lock, truncated.getBytes(UTF_8))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val commit = Future {
        store.createOrReplace("db.t", Seq((2L, "b")).toDF("k", "v"))
      }
      Thread.sleep(1500)
      assert(!commit.isCompleted && Files.exists(lock),
        "a truncated token must survive a contending commit's wait")
      assert(new String(Files.readAllBytes(lock), UTF_8) == truncated,
        "the truncated token must be untouched, not re-acquired over")
      Files.delete(lock) // the (unknowable) holder releases
      Await.result(commit, 30.seconds)
      assert(store.read("db.t").agg(max($"k")).head().getLong(0) == 2L)
    } finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(Paths.get(root))
    }
  }

  /** Stage every writer before any publishes: the table's commit lock is
    * held by a LIVE token while the writers run, released once `staged`
    * staged manifests exist, and each writer's outcome is returned.
    * `rest` start only after `first` has staged, so a slow data write
    * cannot push a metadata-only writer past the lock-wait timeout. */
  private def contend(root: String, staged: Int)(first: () => Unit,
      rest: (() => Unit)*): Seq[scala.util.Try[Unit]] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val dir = Paths.get(root, "db", "t")
    def stagedNow: Int = {
      val s = Files.list(dir)
      try s.iterator().asScala.count(p => p.getFileName.toString.startsWith("v_") &&
        Files.exists(p.resolve("_MANIFEST.staged")))
      finally s.close()
    }
    def await(n: Int): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (stagedNow < n && System.nanoTime() < deadline) Thread.sleep(5)
      assert(stagedNow >= n, s"only $stagedNow of $n writers staged")
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1 + rest.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val lock = dir.resolve("_COMMIT_LOCK")
    Files.write(lock, f"${TableLog.localHost}~${ProcessHandle.current().pid()}_${777L}%019d"
      .getBytes(UTF_8))
    try {
      val f0 = Future(scala.util.Try(first()))
      await(1)
      val fs = f0 +: rest.map(w => Future(scala.util.Try(w())))
      await(staged)
      Files.delete(lock)
      fs.map(Await.result(_, 120.seconds))
    } finally {
      Files.deleteIfExists(lock)
      pool.shutdown()
    }
  }

  test("contending restores never move the pointer backward or lose a commit") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_lock_restore").toString
    val store = new TableStore(spark, root)
    try {
      store.createOrReplace("db.t", Seq((1L, "a")).toDF("k", "v"))
      store.createOrReplace("db.t", Seq((2L, "b")).toDF("k", "v"))
      (1 to 2).foreach { round =>
        val commitsBefore = store.history("db.t").size
        // writer i starts ~20 ms after writer i-1, so it claims the next
        // version number, but with a 1 ms EARLIER phase in the 10 ms
        // lock-wait poll: once the lock frees, the writers publish roughly
        // in the reverse of their version order
        val t0 = System.nanoTime()
        val restores = (1 to 8).map(i => () => {
          val wait = t0 + (20L * i + 9 - i) * 1000000L - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          store.restore("db.t", 1 + i % 2)
        })
        val out = contend(root, staged = 8)(restores.head, restores.tail: _*)
        assert(out.forall(_.isSuccess), s"round $round: a restore failed: $out")
        val hist = store.history("db.t")
        assert(hist.size == commitsBefore + 8,
          s"round $round: expected ${commitsBefore + 8} commits, got ${hist.size}: $hist")
        assert(store.version("db.t").get == hist.map(_._1).max,
          s"round $round: pointer v${store.version("db.t").get} is behind the newest " +
            s"committed version ${hist.map(_._1).max}")
      }
    } finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(Paths.get(root))
    }
  }

  test("ADD COLUMNS racing a blind append never drops the appended rows") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_lock_addcol").toString
    val store = new TableStore(spark, root)
    try {
      store.createOrReplace("db.t", Seq((0L, "init")).toDF("k", "v"))
      var landed = 0
      (1 to 8).foreach { round =>
        // the append carries every column the table has when it starts
        val extra = store.read("db.t").schema.fields.drop(2)
        val rows = spark.range(round * 100L, round * 100L + 5)
          .select((col("id").as("k") +: lit(s"r$round").as("v") +:
            extra.map(f => lit(null).cast(f.dataType).as(f.name)).toSeq): _*)
        val Seq(app, add) = contend(root, staged = 2)(
          () => store.append("db.t", rows),
          () => store.addColumns("db.t",
            new org.apache.spark.sql.types.StructType().add(s"c$round", "int")))
        assert(add.isSuccess, s"round $round: ADD COLUMNS failed: $add")
        val now = store.read("db.t")
        assert(now.columns.contains(s"c$round"), s"round $round: column c$round missing")
        if (app.isSuccess) {
          landed += 1
          val got = now.filter(col("v") === s"r$round")
          assert(got.count() == 5,
            s"round $round: the append returned normally but its rows are gone")
          assert(got.filter(col(s"c$round").isNotNull).count() == 0)
        } else assert(app.failed.get.isInstanceOf[java.util.ConcurrentModificationException],
          s"round $round: unexpected append failure ${app.failed.get}")
        val hist = store.history("db.t")
        assert(store.version("db.t").get == hist.map(_._1).max,
          s"round $round: pointer is behind the newest committed version: $hist")
      }
      info(s"appends that landed: $landed of 8")
    } finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(Paths.get(root))
    }
  }
}
