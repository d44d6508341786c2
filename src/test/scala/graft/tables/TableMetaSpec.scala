package graft.tables

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** Table metadata is replaced, never rewritten in place: a reader racing
  * a writer sees the old or the new properties, never a truncated file.
  * Row tracking's base-id claim, the identity counter and every read's
  * column-mapping renames read it while other writers may be writing.
  * Every write is one read-modify-write under the table's commit lock, so
  * concurrent writers of different keys never lose each other's change
  * (the last two cases drive the log alone, without a SparkSession). */
class TableMetaSpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)

  /** Run `bodies` on their own threads, all released at once; rethrows
    * the first failure. */
  private def race(bodies: Seq[() => Unit]): Unit = {
    val start = new java.util.concurrent.CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = bodies.map(b => new Thread(() =>
      try { start.await(); b() } catch { case t: Throwable => failures.add(t); () }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    Option(failures.peek()).foreach(t => throw t)
  }

  private def withLog(body: TableLog => Unit): Unit = {
    val root = Files.createTempDirectory("graft_meta_locked")
    try body(new TableLog(root.toString))
    finally graft.queries.Scratch.deleteRecursively(root)
  }

  test("two writers each adding 200 distinct keys through updateProperties keep all 400") {
    withLog { log =>
      race((0 until 2).map(w => () =>
        (0 until 200).foreach(i => log.updateProperties("db.t")(_ + (s"w$w.k$i" -> "v")))))
      val lost = 400 - log.meta("db.t").properties.size
      assert(lost == 0, s"$lost of 400 keys were lost")
    }
  }

  test("identity claims racing property writes get disjoint key blocks and keep the property") {
    withLog { log =>
      log.updateProperties("db.t")(_ + ("identity.id" -> "1,1,0"))
      val blocks = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      // an identity append's claim: n keys from the issued count it replaced
      def claim(n: Long): Unit =
        blocks.add((log.updateMeta("db.t")(_.claimIdentity(n)).identity.get._4, n))
      race(Seq(
        () => (1 to 100).foreach(i => claim(i.toLong)),
        () => (1 to 100).foreach(i => claim(i.toLong)),
        () => (0 until 200).foreach(i => log.updateProperties("db.t")(_ + (s"prop.$i" -> "v")))))
      val sorted = blocks.toArray(Array.empty[(Long, Long)]).sortBy(_._1).toSeq
      val total = sorted.map(_._2).sum
      val misplaced = sorted.map(_._1).zip(sorted.scanLeft(0L)(_ + _._2)).count { case (a, b) => a != b }
      assert(misplaced == 0, s"$misplaced of ${sorted.size} claimed key blocks overlap or leave gaps")
      assert(log.meta("db.t").identity.map(_._4).contains(total))
      assert((0 until 200).forall(i => log.meta("db.t").properties.contains(s"prop.$i")),
        "a property write was lost")
    }
  }

  test("a reader looping meta beside a writer looping setMeta of the same content " +
      "never sees a key go missing") {
    val root = Files.createTempDirectory("graft_meta_atomic").toString
    val store = new TableStore(spark, root)
    try {
      val m = TableMeta(comment = Some("c"),
        properties = (1 to 50).map(i => s"key.$i" -> ("v" * 40)).toMap)
      store.setMeta("db.t", m)
      val stop = new AtomicBoolean(false)
      val writer = new Thread(() => while (!stop.get) store.setMeta("db.t", m))
      writer.start()
      var reads = 0
      var torn = 0
      val deadline = System.nanoTime() + 2000000000L
      try while (System.nanoTime() < deadline) {
        reads += 1
        if (store.meta("db.t") != m) torn += 1
      } finally { stop.set(true); writer.join() }
      assert(torn == 0, s"$torn of $reads reads saw a partial table metadata file")
    } finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(Paths.get(root))
    }
  }
}
