package graft

import graft.core.GraftSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark main: measures steady-state wall time per query (one warmup
  * execution, then the timed run) at SPARK_GRAFT_SF_DIR, prints one JSON
  * line. Warmup excludes JVM/codegen cold-start — the throughput a resident
  * engine process delivers, which is what a single-node baseline comparison
  * measures; the cold total is reported alongside for transparency.
  *
  * Regression detection: per-query warm floors (the min over prior rounds'
  * batch + recheck columns) live in BENCH_FLOOR.json. Any query whose
  * batch-warm time reads >2x its floor is re-measured in a FRESH
  * SparkSession after the batch session is stopped and GC'd — a 90-query
  * shared-JVM batch accumulates old-gen/JIT/page-cache pressure that can
  * inflate individual queries 4-8x over their isolated time, and a recheck
  * inside the same JVM inherits that pressure. Both numbers are reported,
  * so a phantom (environmental) regression shows as batch-high/recheck-
  * at-floor while a real one stays high in both columns.
  */
/** The one parser for BENCH_FLOOR.json, shared by [[Bench]] (regression
  * flags, sf-gated) and [[Verify]] (heaviest-first scheduling, any sf) so
  * the two cannot drift on the file's shape. */
private[graft] object BenchFloors {
  /** name → floor seconds; empty if the file is missing or, when
    * `requireSf` is set, recorded at a different scale factor. */
  def read(path: String, requireSf: Option[String]): Map[String, Double] = {
    val f = new java.io.File(path)
    if (!f.exists()) return Map.empty
    val txt = new String(java.nio.file.Files.readAllBytes(f.toPath))
    val floorSf = """"_sf"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
    if (requireSf.exists(sf => !floorSf.contains(sf))) Map.empty
    else """"([\w]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }
}

/** Janino compiles: Spark's compile-time histogram counts every generated
  * class compiled (a miss in the generated-class cache), and
  * `CodeGenerator.compileTime` sums their nanoseconds (the histogram keeps
  * only a sample of its values, so its sum is not exact). [[since]] gives
  * the compiles between a mark and now. */
private[graft] final case class Compiles(count: Long, ms: Double) {
  def since: Compiles = {
    val now = Compiles.mark()
    Compiles(now.count - count, now.ms - ms)
  }
}

private[graft] object Compiles {
  def mark(): Compiles =
    Compiles(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e6)
}

object Bench {
  private def runOnce(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val err = try { fn(spark, sfDir).count(); None } catch {
      case e: Throwable =>
        System.err.println(s"[bench] query failed: $e")
        Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(120))
    }
    ((System.nanoTime() - t0) / 1e9, err)
  }

  /** Machine-day calibration probe: a fixed, plan-stable reference query
    * (parquet scan + 3-way aggregate over lineitem, no graft operators)
    * measured FIRST and LAST in every batch. Floors and batches measured
    * on different machine-days have shown ±20-35% ambient spread for
    * byte-identical code (BENCH_QUERIES_r14 note: 198.6-242.9 s same-code
    * totals), which forced narrative adjudication of every >2×-floor
    * flag; the probe's ratio against its own recorded floor (`_calib` in
    * BENCH_FLOOR.json) turns that into a measured drift divisor. */
  private def calibProbe(spark: SparkSession, sfDir: String): Double = {
    import org.apache.spark.sql.functions._
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .agg(sum(col("l_quantity")), sum(col("l_extendedprice")), count(lit(1)))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    once() // codegen/IO warmup, same discipline as the queries
    math.min(once(), once())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.local()
    val calibFirst = calibProbe(spark, sfDir)

    // optional comma-separated query filter for local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    // A failed query must fail the BENCH, not just stderr — otherwise a
    // regression silently reports a fast "time" for a broken query. The
    // error is carried per-query into the JSON and the process exits 1.
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      val (cold, coldErr) = runOnce(spark, sfDir, fn)
      // steady-state = best of two warm runs: single warm samples showed
      // ±3s run-to-run swings on a loaded 32-thread JVM (GC, compilation,
      // page cache) that made cross-round comparisons read as phantom
      // regressions; the min is the reproducible floor a resident engine
      // delivers. Classes compiled during the warm runs are ones the
      // generated-class cache evicted since the cold run.
      val compiles0 = Compiles.mark()
      val (warm1, warmErr1) = runOnce(spark, sfDir, fn)
      val (warm2, warmErr2) = runOnce(spark, sfDir, fn)
      val warmCompiles = compiles0.since
      val (warm, warmErr) = (math.min(warm1, warm2), warmErr1.orElse(warmErr2))
      // then drop cached frames + checkpointed RDDs so queries don't degrade
      // each other under accumulated memory pressure across the 100+ entries,
      // and nudge a GC so one query's garbage isn't billed to the next
      // (observed: late-run queries measuring 4-8x their isolated time from
      // old-gen churn alone)
      GraftSession.clearState(spark)
      (name, cold, warm, coldErr.orElse(warmErr), warmCompiles)
    }
    // The driver keeps only the last ~2000 bytes of process output, so the
    // final JSON line must stay well under that or it is clipped at the
    // front and unparseable (BENCH_r01..r04 captured `parsed: null`; by
    // r11 even the short-id per-query map outgrew the window at 174
    // queries and truncated again). The artifact is therefore split:
    // (a) full-name per-query lines print first, for the human log;
    // (b) the FULL per-query map (cold+warm+recheck+errors, and the
    //     warm runs' Janino compiles: codegen_compiles/codegen_ms) is written to
    //     a committed file (GRAFT_BENCH_QUERIES_JSON, default
    //     BENCH_QUERIES.json) so the run self-describes durably;
    // (c) the final stdout line is a compact summary — totals, count,
    //     rechecked map, errors — that stays parseable at any query count.
    def r2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    results.foreach { case (k, c, w, e, _) =>
      println(f"[bench] $k%-26s cold=${r2(c)}%-8s warm=${r2(w)}%-8s${e.fold("")("ERR " + _)}")
    }
    val shortIds = {
      val pref = results.map { case (k, _, _, _, _) => k -> k.takeWhile(_ != '_') }
      val collide = pref.groupBy(_._2).filter(_._2.size > 1).keySet
      pref.map { case (full, p) => full -> (if (collide(p)) full else p) }.toMap
    }
    // floors only compare within the scale factor they were measured at
    val floors: Map[String, Double] =
      BenchFloors.read("BENCH_FLOOR.json", requireSf = Some(sfDir.split('/').last))
    val calibLast = { GraftSession.clearState(spark); calibProbe(spark, sfDir) }
    // drift divisor: this batch's calibration readings over the floor
    // file's recorded `_calib` (same machine, floor-setting day). Capped
    // at [1, 2]: drift below 1 never TIGHTENS the gate (a fast day must
    // not un-flag a real regression), and past 2× the divisor stays
    // CLAMPED at 2 — a machine so disturbed gets at most a 4×-floor gate,
    // never a looser one, which errs toward extra flags that the fresh-
    // session rechecks then adjudicate.
    val drift: Option[Double] = floors.get("_calib")
      .map(cf => ((calibFirst + calibLast) / 2) / cf)
    val driftAdj = drift.map(d => math.min(2.0, math.max(1.0, d))).getOrElse(1.0)
    // every query whose batch-warm reads >2x its drift-normalized floor is
    // re-measured (the 0.15s absolute guard only drops sub-tick jitter on
    // ~0.1s queries, where 2x is within scheduler granularity)
    val flagged = results.collect {
      case (k, _, w, None, _)
        if floors.get(shortIds(k))
          .exists(fl => w > 2 * fl * driftAdj && w - fl > 0.15) => k
    }
    // recheck OUTSIDE the batch JVM session: stop it, drop its executor
    // state, GC, and measure each flagged query in a fresh session — the
    // only way to tell "this code got slower" from "the 100-query batch
    // left the JVM hot"
    val rechecked: Seq[(String, Double)] =
      if (flagged.isEmpty) Nil
      else {
        spark.stop()
        System.gc()
        val fresh = GraftSession.local()
        val out = flagged.map { k =>
          val fn = SparkEntry.queries(k)
          val (a, _) = runOnce(fresh, sfDir, fn) // session-cold: codegen+IO warm-up
          val (b, _) = runOnce(fresh, sfDir, fn)
          GraftSession.clearState(fresh)
          (shortIds(k), math.min(a, b))
        }
        fresh.stop()
        out
      }
    val recheckJson =
      if (rechecked.isEmpty) ""
      else rechecked.map { case (id, re) => "\"" + id + "\":" + r2(re) }
        .mkString(""","rechecked":{""", ",", "}")
    val errs = results.collect { case (k, _, _, Some(e), _) =>
      "\"" + shortIds(k) + "\":\"" + e.replaceAll("[\"\\\\\n\r\t]", " ").take(60) + "\"" }
    val errJson = if (errs.isEmpty) "" else errs.mkString(""","errors":{""", ",", "}")
    val coldTotal = results.map(_._2).sum
    val warmTotal = results.map(_._3).sum
    val sfShort = sfDir.split('/').last
    // the durable full per-query record (FULL names, cold+warm, recheck)
    val qFile = sys.env.getOrElse("GRAFT_BENCH_QUERIES_JSON", "BENCH_QUERIES.json")
    val recheckByFull = rechecked.toMap
    val qRows = results.map { case (k, c, w, e, cg) =>
      val re = recheckByFull.get(shortIds(k))
        .fold("")(v => s""", "recheck_warm": ${r2(v)}""")
      val er = e.fold("")(m =>
        s""", "err": "${m.replaceAll("[\"\\\\\n\r\t]", " ").take(60)}"""")
      s"""  "$k": {"cold": ${r2(c)}, "warm": ${r2(w)}, """ +
        s""""codegen_compiles": ${cg.count}, "codegen_ms": ${r2(cg.ms)}$re$er}"""
    }.mkString(",\n")
    val driftJson = drift.fold("")(d => s""", "_drift": ${r2(d)}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(qFile),
      (s"""{\n  "_sf": "$sfShort", "_total_warm": ${r2(warmTotal)}, """ +
        s""""_total_cold": ${r2(coldTotal)}, "_count": ${results.size}, """ +
        s""""_calib_first": ${r2(calibFirst)}, "_calib_last": ${r2(calibLast)}$driftJson,\n""" +
        qRows + "\n}\n").getBytes("UTF-8"))
    // compact machine summary — MUST be the final stdout line
    println(s"""{"metric":"total_warm","value":${r2(warmTotal)},"unit":"sec","cold_total_sec":${r2(coldTotal)},"count":${results.size},"calib_first":${r2(calibFirst)},"calib_last":${r2(calibLast)}${drift.fold("")(d => s""","drift":${r2(d)}""")}$errJson$recheckJson,"queries_file":"$qFile","sf":"$sfShort"}""")
    if (rechecked.isEmpty) spark.stop()
    if (results.exists(_._4.isDefined)) sys.exit(1)
  }
}
