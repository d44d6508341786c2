package graft.tables

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Executable soundness argument for the commit-lock protocol: for
  * ARBITRARY concurrent schedules — N writer threads hammering commits
  * while a chaos injector plants crashed-writer debris (dead-holder lock
  * tokens in both the fixed-width and the legacy unpadded format, junk
  * bytes in the `.breaklock` sidecar) between their acquisitions — the
  * single-writer invariant must hold observably:
  *
  *  - NO LOST UPDATE: every append lands exactly once (the final table is
  *    exactly the initial row plus one row per (writer, seq) pair), which
  *    is what mutual exclusion plus rebase buys;
  *  - SELF-HEALING: every planted dead lock is broken by some contender
  *    (no commit times out on debris) — acquire/crash/break/recover as a
  *    sequence any thread may drive at any point;
  *  - CLEAN EXIT: no `_COMMIT_LOCK` survives the last commit.
  *
  * CommitLockSpec pins each protocol edge in isolation; this property
  * drives them INTERLEAVED, where a breaking bug (a breaker deleting a
  * LIVE holder's lock, two breakers letting two writers in) surfaces as
  * a duplicate version or a lost row. */
class CommitLockPropertySpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)

  /** A pid no live process owns. */
  private def deadPid(): Long =
    Iterator.iterate(4000000L)(_ + 7).find(p =>
      !ProcessHandle.of(p).map[java.lang.Boolean](_.isAlive).orElse(false)).get

  private def deadToken(legacy: Boolean): String =
    if (legacy) s"${TableLog.localHost}~${deadPid()}_123"
    else f"${TableLog.localHost}~${deadPid()}_${123L}%019d"

  /** One full concurrent trial; returns an error description or None. */
  private def trial(threads: Int, appends: Int, chaosDebris: Int,
      junkSidecar: Boolean): Option[String] = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_lockprop").toString
    val store = new TableStore(spark, root)
    try {
      store.createOrReplace("db.t", Seq((0, 0)).toDF("w", "k"))
      val lock = Paths.get(root, "db", "t", "_COMMIT_LOCK")
      if (junkSidecar)
        Files.write(Paths.get(root, "db", "t", "_COMMIT_LOCK.breaklock"),
          "not-a-token\u0000junk".getBytes(UTF_8))
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val writersDone = new java.util.concurrent.atomic.AtomicInteger(0)
      val planted = new java.util.concurrent.atomic.AtomicInteger(0)
      val writers = (1 to threads).map { w =>
        new Thread(() => {
          try {
            for (k <- 1 to appends)
              store.append("db.t", Seq((w, k)).toDF("w", "k"))
          } catch { case t: Throwable =>
            errors.add(s"writer $w: ${t.getMessage}"); ()
          } finally { writersDone.incrementAndGet(); () }
        })
      }
      // chaos: whenever the lock file is ABSENT, plant a crashed writer's
      // token (alternating formats) — contenders must prove it dead and
      // break it; planting over a LIVE holder is impossible by CREATE_NEW
      val chaos = new Thread(() => {
        var i = 0
        while (writersDone.get() < threads && i < chaosDebris) {
          try {
            Files.write(lock, deadToken(legacy = i % 2 == 1).getBytes(UTF_8),
              StandardOpenOption.CREATE_NEW)
            planted.incrementAndGet()
            i += 1
          } catch { case _: java.io.IOException => () } // holder is live
          Thread.sleep(3)
        }
      })
      (writers :+ chaos).foreach(_.start())
      writers.foreach(_.join(120000))
      chaos.join(120000)
      val got = store.read("db.t").select($"w", $"k")
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      val want = (for (w <- 1 to threads; k <- 1 to appends) yield (w, k))
        .toSet + ((0, 0))
      if (!errors.isEmpty)
        Some(s"commit errors: ${errors.toArray.mkString("; ")}")
      else if (got != want)
        Some(s"lost/duplicated updates: missing=${want -- got} extra=${got -- want}")
      else if (Files.exists(lock))
        Some(s"residual lock after all commits: ${new String(Files.readAllBytes(lock), UTF_8)}")
      else None
    } finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(Paths.get(root))
    }
  }

  test("single-writer invariant holds under arbitrary concurrent schedules with " +
      "crashed-writer debris (both token formats) and sidecar junk") {
    val gen = for {
      threads <- Gen.choose(2, 4)
      appends <- Gen.choose(2, 3)
      debris <- Gen.choose(1, 4)
      junk <- Gen.oneOf(true, false)
    } yield (threads, appends, debris, junk)
    val prop = Prop.forAll(gen) { case (t, a, d, j) =>
      trial(t, a, d, j) match {
        case Some(err) => Prop.falsified :| err
        case None => Prop.passed
      }
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5).withInitialSeed(421L),
      prop)
    assert(result.passed, s"property failed: ${result.status}")
  }
}
