package lakebench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile and the samples beyond it") {
    val xs = (1 to 200).map(_.toDouble)
    assert(Stats.percentile(xs, 95) == 190.0)
    assert(Stats.beyond(xs, 95) == 10)
    assert(Stats.percentile(xs, 50) == 100.0)
    assert(Stats.median(xs) == 100.5)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
  }

  test("the mix median weights each kind's median by its share of the cycle") {
    // pooled, the median of these ten would sit on the fast/slow boundary
    val xs = Seq.fill(4)("fast" -> 100.0) ++ Seq("fast" -> 140.0) ++
      Seq("slow" -> 300.0, "slow" -> 310.0, "slow" -> 900.0, "slow" -> 320.0, "slow" -> 290.0)
    assert(Stats.mixMedian(xs, Seq("fast", "slow")) == (100.0 + 310.0) / 2)
    assert(Stats.mixMedian(xs, Seq("fast", "fast", "slow", "other")) == (2 * 100.0 + 310.0) / 3)
    assert(Stats.mixMedian(Seq("a" -> 5.0, "a" -> 7.0), Seq("a")) == 6.0)
    assertThrows[IllegalArgumentException](Stats.mixMedian(Nil, Seq("a")))
  }

  test("the reported tail is the highest percentile with at least ten samples beyond it") {
    // 200 samples: p95 leaves exactly 10 above it
    assert(Stats.tailPercentile((1 to 200).map(_.toDouble)).contains(95.0))
    // 199 samples: p95 leaves 9, so p90 (19 beyond) is reported
    assert(Stats.tailPercentile((1 to 199).map(_.toDouble)).contains(90.0))
    // 40 samples: only p75 leaves 10
    assert(Stats.tailPercentile((1 to 40).map(_.toDouble)).contains(75.0))
    // ties at the percentile value are not beyond it
    val tied = Seq.fill(185)(1.0) ++ Seq.fill(15)(2.0)
    assert(Stats.beyond(tied, 95) == 0)
    assert(Stats.tailPercentile(tied).contains(90.0))
    // too few samples for any: the worst sample, labelled as such
    assert(Stats.tail(Seq(3.0, 9.0, 4.0)) == (9.0, "max"))
    assert(Stats.tail((1 to 200).map(_.toDouble)) == (190.0, "p95"))
  }

  test("job-interval union counts overlapping jobs once") {
    // three stages of one load run two jobs concurrently, as inParallel does
    val jobs = Seq((0L, 10L), (5L, 15L), (20L, 30L), (22L, 25L), (30L, 31L))
    assert(Stats.unionLength(jobs) == 15 + 11)
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0)
    assert(Stats.unionLength(Stats.clip(jobs, 8, 24)) == (15 - 8) + (24 - 20))
  }

  test("span self time subtracts the union of its children, clipped to the span") {
    val spans = Seq(
      Span(1, 1, None, "bench", "load", 0, 100),
      Span(2, 1, Some(1), "graft.pipeline", "silver", 10, 60),
      Span(3, 1, Some(1), "graft.pipeline", "fact", 60, 95),
      Span(4, 1, Some(2), "spark.job", "job 1", 15, 40),
      Span(5, 1, Some(2), "spark.job", "job 2", 30, 50),
      // a child reaching past its parent counts only inside it
      Span(6, 1, Some(3), "spark.job", "job 3", 90, 120))
    val self = Stats.selfTimes(spans)
    assert(self(1) == 100 - 85)
    assert(self(2) == 50 - 35)
    assert(self(3) == 35 - 5)
    assert(self(4) == 25 && self(6) == 30)
    assert(Stats.selfTimeByLayer(spans) ==
      Map("bench" -> 15L, "graft.pipeline" -> 45L, "spark.job" -> (25L + 20L + 30L)))
  }

  test("a job is owned by the op named on it while that op runs, else by the only op running") {
    val a = OpRecord(1, 1, "merge", 0L, 100000000L, ok = true)
    val b = OpRecord(2, 2, "read", 50000000L, 150000000L, ok = true)
    val ops = Seq(a, b)
    assert(Ledger.jobOwner(ops, JobRecord(1, 60000000L, 70000000L, Some(2), Nil)).contains(b))
    // a stale property from a pooled thread falls back to time, which is ambiguous here
    assert(Ledger.jobOwner(ops, JobRecord(2, 60000000L, 70000000L, Some(9), Nil)).isEmpty)
    assert(Ledger.jobOwner(ops, JobRecord(3, 120000000L, 130000000L, Some(1), Nil)).contains(b))
  }
}
