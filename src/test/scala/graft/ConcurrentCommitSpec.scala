package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.CountDownLatch
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.tables.TableStore

/** WriteSerializable conflict resolution ([[TableStore]] rebase): commits
  * that lose the compare-and-swap race but COMMUTE with the interleaved
  * commits rebase and land, instead of aborting — Delta's default
  * isolation level. The 100 TB contract under test: a blind append never
  * loses a race, a long DML survives concurrent appends of files it never
  * read, and a genuine overlap (two writers rewriting the same file)
  * still raises instead of silently losing one writer's changes.
  *
  * Determinism: the "slow" writer's predicate UDF blocks until a marker
  * file exists; the "fast" writer creates the marker right after its own
  * commit. The slow writer therefore ALWAYS reads its base snapshot
  * before the fast commit and ALWAYS reaches its own commit after it —
  * the race outcome is pinned, not timed. */
class ConcurrentCommitSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {

  lazy val spark = graft.core.GraftSession.local(4)
  import spark.implicits._

  // every store this suite attaches, detached at suite end even when a
  // test fails mid-assert — a leaked attached store holding `db.t` makes
  // the SQL DML resolver in LATER suites see the name as ambiguous
  private val opened =
    scala.collection.mutable.ArrayBuffer.empty[(TableStore, String)]

  private def newStore(prefix: String): (TableStore, String) = {
    val root = Files.createTempDirectory(prefix).toString
    val s = new TableStore(spark, root)
    opened.synchronized { opened += ((s, root)) }
    (s, root)
  }

  override def afterAll(): Unit = {
    opened.foreach { case (s, root) =>
      try s.detach() catch { case _: Throwable => () }
      try graft.queries.Scratch.deleteRecursively(java.nio.file.Paths.get(root))
      catch { case _: Throwable => () }
    }
    super.afterAll()
  }

  /** TRUE for `keys`, but every evaluation first waits for `marker`.
    * When `started` is given, the FIRST evaluation creates it — the
    * "I am scanning under my snapshot" signal the fast writer waits for
    * before committing. Without that handshake the test is a timing
    * race: under JVM pressure the slow writer can open its snapshot
    * AFTER the fast writer's commit+marker, see the post-commit version,
    * and (correctly) not conflict — flaking the must-abort assertion. */
  private def gatedCond(marker: Path, keys: Seq[Int],
      started: Option[Path] = None) = {
    val m = marker.toString
    val st = started.map(_.toString)
    val f = udf { (k: Int) =>
      st.foreach { p =>
        try Files.createFile(java.nio.file.Paths.get(p))
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
      }
      var waited = 0
      while (!Files.exists(java.nio.file.Paths.get(m)) && waited < 60000) {
        Thread.sleep(10); waited += 10
      }
      keys.contains(k)
    }
    f(col("k"))
  }

  /** Block until `p` exists (the slow writer's scan has started). */
  private def awaitFile(p: Path): Unit = {
    var waited = 0
    while (!Files.exists(p) && waited < 60000) { Thread.sleep(10); waited += 10 }
    assert(Files.exists(p), s"scan-start signal $p never appeared")
  }

  private def run2(a: () => Unit, b: () => Unit): (Option[Throwable], Option[Throwable]) = {
    val gate = new CountDownLatch(1)
    @volatile var ea: Option[Throwable] = None
    @volatile var eb: Option[Throwable] = None
    val ta = new Thread(() => { gate.await(); try a() catch { case t: Throwable => ea = Some(t) } })
    val tb = new Thread(() => { gate.await(); try b() catch { case t: Throwable => eb = Some(t) } })
    ta.start(); tb.start(); gate.countDown(); ta.join(120000); tb.join(120000)
    (ea, eb)
  }

  test("concurrent blind appends both commit — neither loses the race") {
    val (store, root) = newStore("graft_occ")
    store.createOrReplace("db.t", Seq((0, 0L)).toDF("k", "n"))
    val (ea, eb) = run2(
      () => store.append("db.t", (1 to 100).map(i => (i, i.toLong)).toDF("k", "n")),
      () => store.append("db.t", (101 to 200).map(i => (i, i.toLong)).toDF("k", "n")))
    assert(ea.isEmpty && eb.isEmpty, s"appends must both commit: $ea $eb")
    assert(store.read("db.t").count() == 201)
    // history is linear and version numbers are monotone in commit order
    val vs = store.versions("db.t")
    assert(vs == vs.sorted && vs.distinct == vs, s"versions not linear: $vs")
  }

  test("a DML that loses the race to an append it never read rebases: both survive") {
    val (store, root) = newStore("graft_occ2")
    val marker = java.nio.file.Paths.get(root, "appended.marker")
    val started = java.nio.file.Paths.get(root, "appended.marker.started")
    store.createOrReplace("db.t",
      (1 to 40).map(i => (i, 0L)).toDF("k", "n").repartition(2))
    val (ea, eb) = run2(
      () => store.update("db.t", gatedCond(marker, Seq(7), Some(started)), Map("n" -> lit(99L))),
      () => {
        awaitFile(started) // the slow scan holds its snapshot
        store.append("db.t", Seq((1000, 5L)).toDF("k", "n"))
        Files.createFile(marker)
      })
    assert(ea.isEmpty && eb.isEmpty, s"update and append must both commit: $ea $eb")
    val rows = store.read("db.t").as[(Int, Long)].collect().toMap
    assert(rows(7) == 99L, "the rebased update's change was lost")
    assert(rows(1000) == 5L, "the concurrent append's rows were lost")
    assert(store.read("db.t").count() == 41)
  }

  test("two writers rewriting the SAME file: the loser raises, nothing is merged") {
    val (store, root) = newStore("graft_occ3")
    val marker = java.nio.file.Paths.get(root, "updated.marker")
    val started = java.nio.file.Paths.get(root, "updated.marker.started")
    // one file — both updates must rewrite it, a genuine conflict
    store.createOrReplace("db.t", (1 to 10).map(i => (i, 0L)).toDF("k", "n").coalesce(1))
    val (ea, eb) = run2(
      () => store.update("db.t", gatedCond(marker, Seq(1), Some(started)), Map("n" -> lit(111L))),
      () => {
        awaitFile(started) // the slow scan holds its snapshot
        store.update("db.t", col("k") === 2, Map("n" -> lit(222L)))
        Files.createFile(marker)
      })
    assert(eb.isEmpty, s"the fast update must commit: $eb")
    assert(ea.exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
      s"the gated update rewrote a file the winner also rewrote — must raise: $ea")
    val rows = store.read("db.t").as[(Int, Long)].collect().toMap
    assert(rows(2) == 222L && rows(1) == 0L, s"only the winner's change may land: $rows")
  }

  test("serializable isolation: a rewriting commit that loses any race aborts") {
    val (store, root) = newStore("graft_occ4")
    val marker = java.nio.file.Paths.get(root, "ser.marker")
    val started = java.nio.file.Paths.get(root, "ser.marker.started")
    // 2 partitions, NOT the default 4: the gated scan's sleeping UDF tasks
    // must never occupy every local core, or the fast append STARVES in
    // the scheduler queue until the UDF's wait budget expires and the
    // race collapses (the sibling tests coalesce/repartition for the same
    // reason)
    store.createOrReplace("db.t",
      (1 to 10).map(i => (i, 0L)).toDF("k", "n").repartition(2))
    store.setIsolation("db.t", "serializable")
    val (ea, eb) = run2(
      () => store.update("db.t", gatedCond(marker, Seq(3), Some(started)), Map("n" -> lit(9L))),
      () => {
        awaitFile(started) // the slow scan holds its snapshot
        store.append("db.t", Seq((99, 1L)).toDF("k", "n"))
        Files.createFile(marker)
      })
    assert(eb.isEmpty, s"the blind append must commit: $eb")
    assert(ea.exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
      s"under serializable the racing update must abort: $ea")
    // blind appends still rebase even under serializable
    val (e2a, e2b) = run2(
      () => store.append("db.t", Seq((100, 1L)).toDF("k", "n")),
      () => store.append("db.t", Seq((101, 1L)).toDF("k", "n")))
    assert(e2a.isEmpty && e2b.isEmpty, s"appends must rebase under serializable: $e2a $e2b")
  }

  test("rebase stress: three appenders interleave, zero retries, linear history") {
    val (store, root) = newStore("graft_occ5")
    store.createOrReplace("db.t", Seq((0, 0L)).toDF("k", "n"))
    val gate = new CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 3).map { t =>
      new Thread(() => {
        gate.await()
        try (0 until 4).foreach { i =>
          store.append("db.t", Seq((t * 1000 + i, t.toLong)).toDF("k", "n"))
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"no append may fail under contention: ${errs.size} did")
    assert(store.read("db.t").count() == 13)
    val vs = store.versions("db.t")
    assert(vs == vs.sorted && vs.size == 13, s"13 linear commits expected: $vs")
    // the change feed reconstructs every interleaved append correctly
    val feed = store.changeFeed("db.t", 1, vs.max)
    assert(feed.filter(col("_change_type") === "insert").count() == 12)
  }

  test("renumber stress: six appenders hammer the rebase-renumber path without " +
      "version-directory collisions") {
    // regression guard for the delete-then-rename race: the renumber step
    // used to free its allocated version number for a concurrent stager
    // and then rename(2) on top of the stager's freshly-claimed empty
    // directory — two writers co-owned one version, one failed on data/,
    // and its abort cleanup deleted the other's committed files. Six
    // writers x four appends drive the renumber path (a stager must hold
    // a lower number than the committer that beats it) far harder than
    // the three-writer case ever did.
    val (store, root) = newStore("graft_occ7")
    store.createOrReplace("db.t", Seq((0, 0L)).toDF("k", "n"))
    val gate = new CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 6).map { t =>
      new Thread(() => {
        gate.await()
        try (0 until 4).foreach { i =>
          store.append("db.t", Seq((t * 1000 + i, t.toLong)).toDF("k", "n"))
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join(180000))
    assert(errs.isEmpty, s"no append may fail under contention: ${errs.size} did " +
      errs.asScala.map(_.getMessage).mkString("; ").take(300))
    assert(store.read("db.t").count() == 25)
    val vs = store.versions("db.t")
    assert(vs == vs.sorted && vs.size == 25, s"25 linear commits expected: $vs")
  }

  test("change feed and time travel stay correct across a rebased update") {
    val (store, root) = newStore("graft_occ6")
    val marker = java.nio.file.Paths.get(root, "cdf.marker")
    val started = java.nio.file.Paths.get(root, "cdf.marker.started")
    store.createOrReplace("db.t", (1 to 20).map(i => (i, 0L)).toDF("k", "n").coalesce(1))
    store.enableChangeFeed("db.t")
    val (ea, eb) = run2(
      () => store.update("db.t", gatedCond(marker, Seq(5), Some(started)), Map("n" -> lit(50L))),
      () => {
        awaitFile(started) // the slow scan holds its snapshot
        store.append("db.t", Seq((500, 1L)).toDF("k", "n"))
        Files.createFile(marker)
      })
    assert(ea.isEmpty && eb.isEmpty, s"$ea $eb")
    val vmax = store.versions("db.t").max
    val feed = store.changeFeed("db.t", 1, vmax)
      .select(col("_change_type"), col("k"), col("n")).as[(String, Int, Long)]
      .collect().toSet
    assert(feed.contains(("update_preimage", 5, 0L)), s"missing preimage: $feed")
    assert(feed.contains(("update_postimage", 5, 50L)), s"missing postimage: $feed")
    assert(feed.contains(("insert", 500, 1L)), s"missing concurrent insert: $feed")
    // every retained version reads a consistent snapshot
    store.versions("db.t").foreach { v =>
      val c = store.readVersion("db.t", v).count()
      assert(c >= 20 && c <= 21, s"v$v reads $c rows")
    }
  }

  test("a blind append racing a re-partitioning replace rebases onto the replace's layout") {
    val (store, root) = newStore("graft_occ_layout")
    val marker = java.nio.file.Paths.get(root, "replaced.marker")
    val started = java.nio.file.Paths.get(root, "replaced.marker.started")
    def rows = (1 to 20).map(i => (i, (i % 2).toLong)).toDF("k", "n")
    store.createOrReplace("db.t", rows)
    val (ea, eb) = run2(
      // the append stages under the layout it read (none) while the
      // replace commits a partitioned version
      () => store.append("db.t", Seq((100, 1L), (101, 0L)).toDF("k", "n")
        .filter(gatedCond(marker, Seq(100, 101), Some(started)))),
      () => {
        awaitFile(started) // the slow append holds its snapshot
        store.createOrReplace("db.t", rows, partitionBy = Seq("n"))
        Files.createFile(marker)
      })
    assert(ea.isEmpty && eb.isEmpty, s"append and replace must both commit: $ea $eb")
    // the append left the layout as it read it, so the rebase takes the
    // current version's: the replace's partitioning survives
    assert(store.partitionColumns("db.t") == Seq("n"))
    assert(store.read("db.t").count() == 22)
  }
}
