package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Kill-resilience contract (CORRECTNESS_r12..r14 all came back `{}`
  * despite the run being 181/181 green locally — the driver's kill lands
  * somewhere before the artifacts are complete, and the artifact can't
  * say where): every phase now leaves a durable, immediately-flushed
  * trace so ANY kill point is diagnosable from the output dir alone:
  *
  *   - `_STARTED` is written before the SparkSession is even built
  *     (epoch + pid). Absent ⇒ the kill landed in sbt compile/startup,
  *     outside this program's control.
  *   - `oracle_sql.json` is written right after (needs no session).
  *   - `progress.jsonl` gets one flushed+fsynced line per query as it
  *     finishes (name, rows, seconds, error) — a mid-loop kill leaves a
  *     partial but parseable record of everything that completed.
  *   - `_HEARTBEAT` is rewritten every 2 s by a daemon thread with
  *     elapsed seconds + done/total + the queries in flight — the file's
  *     last content IS the kill location.
  *   - `_FINISHED` closes the run with totals.
  *
  * Wall-clock: the queries run on a bounded thread pool (default 8,
  * `SPARK_GRAFT_VERIFY_THREADS`; =1 restores the sequential loop), each
  * in its own `spark.newSession()` — temp views, SQL conf, and the
  * [[graft.tables.TableStore]] attach registry are all session-scoped,
  * and no query touches the shared external catalog (the one
  * `saveAsTable` path, bucketed fact publish, is test-only), so queries
  * are mutually isolated. The sequential loop left local[N] mostly idle
  * (per-query fixed cost: analysis, file listing, a coalesce(1) write);
  * the pool cuts the sf0.01 drive ~4x, shrinking the window a driver
  * kill can land in. Any query that fails in the pool is retried once,
  * sequentially, on the root session after the pool drains — so an
  * isolation bug in the parallel path can slow the run but never turn a
  * green query red (both attempts are recorded in progress.jsonl).
  *
  * Sharding: `SPARK_GRAFT_SHARD=i/n` (0-based) keeps only queries whose
  * rank in sorted name order ≡ i (mod n), so a driver can split the
  * drive into kill-proof chunks; `SPARK_GRAFT_ONLY=a,b` filters by name
  * for local iteration. Both compose.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def r2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)

    Files.writeString(Paths.get(s"$outDir/_STARTED"),
      s"""{"pid":${ProcessHandle.current().pid()},"epoch_ms":${System.currentTimeMillis()},"sf_dir":${q(sfDir)}}""")

    // oracle_sql.json needs no Spark session, so it is dumped before the
    // session is built: the one repo-side failure shape that produces an
    // exactly-`{}` driver artifact is a kill before this file exists
    // (no oracle map → nothing to compare). After this line any kill
    // yields a PARTIAL record instead of a silent zero.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // optional comma-separated query filter for local iteration (the
    // driver runs unfiltered) + optional i/n shard over sorted names
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val shard = sys.env.get("SPARK_GRAFT_SHARD").map { s =>
      val Array(i, n) = s.split('/').map(_.trim.toInt)
      require(n > 0 && i >= 0 && i < n, s"bad SPARK_GRAFT_SHARD=$s (want i/n, 0<=i<n)")
      (i, n)
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .zipWithIndex
      .filter { case (_, idx) => shard.forall { case (i, n) => idx % n == i } }
      .map(_._1)
    // schedule heaviest-first when a floor file is around (pure makespan
    // optimization — a 7 s query starting last stalls the whole pool)
    // any sf's floors are fine here — they only order the schedule
    val floors: Map[String, Double] =
      BenchFloors.read("BENCH_FLOOR.json", requireSf = None)
    def weight(name: String): Double =
      floors.getOrElse(name, floors.getOrElse(name.takeWhile(_ != '_'), 0.0))
    val ordered = selected.sortBy { case (n, _) => (-weight(n), n) }

    // progress.jsonl: one flushed+fsynced line per finished query.
    // TRUNCATED at open — a rerun into the same outDir (the natural
    // post-kill move) must not interleave a dead run's lines with this
    // one's (stale errors, elapsed values from another t0); the other
    // sentinels are overwritten on the same principle. Each line also
    // carries this run's pid for belt-and-braces attribution.
    val progress = java.nio.channels.FileChannel.open(
      Paths.get(s"$outDir/progress.jsonl"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    val progressLock = new Object
    def record(line: String): Unit = progressLock.synchronized {
      progress.write(java.nio.ByteBuffer.wrap((line + "\n").getBytes("UTF-8")))
      progress.force(false)
    }

    val done = new AtomicInteger(0)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val inFlight = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val heartbeat = new Thread(new Runnable { def run(): Unit = {
      while (true) {
        val running = inFlight.iterator().asScala.toSeq.sorted.map(q).mkString("[", ",", "]")
        try Files.writeString(Paths.get(s"$outDir/_HEARTBEAT"),
          s"""{"elapsed_s":${r2(elapsed)},"done":${done.get()},"total":${ordered.size},"running":$running}""")
        catch { case _: Throwable => () }
        Thread.sleep(2000)
      }
    }})
    heartbeat.setDaemon(true)
    heartbeat.start()

    val spark = graft.core.GraftSession.local()

    /** Run one query on `sess`, dump its parquet, record one JSONL line.
      * Returns true on success. The row count re-reads the just-written
      * parquet — a footer-only count, and it doubles as a "the file the
      * driver will read is intact" check. */
    def runOne(sess: SparkSession, name: String, attempt: Int): Boolean = {
      val fn = SparkEntry.queries(name)
      val s0 = System.nanoTime()
      inFlight.add(name)
      try {
        SparkSession.setActiveSession(sess)
        fn(sess, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val rows = sess.read.parquet(s"$outDir/$name").count()
        record(s"""{"q":${q(name)},"rows":$rows,"sec":${r2((System.nanoTime() - s0) / 1e9)},"elapsed_s":${r2(elapsed)},"attempt":$attempt,"pid":${ProcessHandle.current().pid()}}""")
        true
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $e")
        record(s"""{"q":${q(name)},"error":${q(msg.take(300))},"sec":${r2((System.nanoTime() - s0) / 1e9)},"elapsed_s":${r2(elapsed)},"attempt":$attempt,"pid":${ProcessHandle.current().pid()}}""")
        false
      } finally {
        inFlight.remove(name)
        // `done` counts QUERIES, not attempts — a sequential retry of a
        // pool failure must not push done past total in the sentinels
        if (attempt == 1) done.incrementAndGet()
        SparkSession.clearActiveSession()
      }
    }

    val threads = sys.env.get("SPARK_GRAFT_VERIFY_THREADS").map(_.toInt).getOrElse(8)
    if (threads <= 1) {
      ordered.foreach { case (name, _) => runOne(spark, name, attempt = 1) }
    } else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      ordered.foreach { case (name, _) =>
        pool.execute(() => { if (!runOne(spark.newSession(), name, attempt = 1)) failed.add(name) })
      }
      pool.shutdown()
      pool.awaitTermination(6, java.util.concurrent.TimeUnit.HOURS)
      // one sequential retry on the root session: a parallel-isolation
      // bug may slow the run but must never turn a green query red
      failed.iterator().asScala.toSeq.sorted.foreach(runOne(spark, _, attempt = 2))
    }
    Files.writeString(Paths.get(s"$outDir/_FINISHED"),
      s"""{"elapsed_s":${r2(elapsed)},"done":${done.get()},"total":${ordered.size},"retried":${failed.size()}}""")
    progress.close()
    spark.stop()
  }
}
