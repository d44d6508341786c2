package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine: the one place a session is
  * built, and the one reader of the settings every main shares
  * (`SPARK_GRAFT_CPUS`, `SPARK_GRAFT_SF_DIR`). Setup is idempotent: a
  * second [[local]] returns the live session, and after `stop()` it builds
  * a fresh one with the same config.
  *
  * Design point (SURVEY.md §4): the engine leans on Catalyst + AQE for all
  * physical planning. Local mode is a stand-in for a multi-executor cluster:
  * shuffle partitions track the core count here, and would track
  * `spark.sql.shuffle.partitions` sized to cluster cores at scale; AQE
  * coalesces / skew-splits at runtime either way.
  *
  * Config reasons:
  *  - AQE partition coalescing INSIDE persisted plans: the dedup/ANN
  *    family persists small intermediates (shingle sets, signatures)
  *    whose 32-way shuffles are otherwise task-overhead-bound at high
  *    core counts — default false only to keep cached partitioning
  *    stable for reuse, which no bench query depends on
  *  - AQE's parallelism-first coalescing heuristic stays at its default
  *    (true). r17 A/B'd flipping it to the byte target suite-wide: the
  *    store-DML subset won (30-query interleaved A/B, warm 99.6→93.5 s)
  *    but the FULL suite lost — warm 192.3→206.5, cold 351→378 —
  *    because the dedup/graph/BPE family's CPU-dense, small-BYTE
  *    shuffle stages (md5 shingling, pair explodes, replace chains)
  *    collapse to one task under a byte-only target (x121 +4.3 s,
  *    x68 +2.5 s, x2/x4 +1.9 s each). Small-write output sizing is
  *    handled structurally in TableStore.stageVersion instead.
  *  - The generated-class cache holds 1,000 classes, not Spark's 100:
  *    one Medallion load uses more than 100 distinct classes, so at 100
  *    the LRU evicts each before the next load or statement can reuse it.
  *    lakebench nightly_refresh (seed 7, local[4], --seconds 60) compiled
  *    295/381/382 classes on loads 1-3 at 100 and 213/84/52 at both 1,000
  *    and 10,000; trickle_dml op_p50_ms fell 1,064 -> 877 ms (medians of
  *    10 interleaved pairs, 10 of 10 won). 1,000 is the smallest size
  *    tried that keeps the win; a larger cache keeps more classes and
  *    their JIT code alive for the JVM's life. The conf is static —
  *    Spark's CodeGenerator reads it once per JVM from the conf active
  *    where code is first generated — so it is set here on the session
  *    builder, before any query runs (CodegenCacheSpec pins it)
  *  - Releasing a superseded localCheckpoint (the dedup/clustering loops do
  *    it every round, deliberately, AFTER the successor materializes) makes
  *    Spark WARN that the truncated lineage cannot be recomputed — benign
  *    by construction here, and ~100 repeats per bench run bury real
  *    warnings, so that one logger is raised to ERROR
  */
object GraftSession {
  /** Local core count: `SPARK_GRAFT_CPUS`, default 4. */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** Scale-factor data directory the benchmark and dev mains read:
    * `SPARK_GRAFT_SF_DIR`, default the sf0.1 test data. */
  lazy val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  private[graft] def parseCpus(v: Option[String]): Int = v.fold(4) { s =>
    s.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  def local(cores: Int = cpus): SparkSession = {
    val spark = SparkSession
      .builder()
      .withExtensions(new graft.ext.GraftExtensions)
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // let AQE coalesce partitions inside persisted plans too: the
      // dedup/ANN operators persist small intermediates whose full-width
      // shuffles are task-overhead-bound at high core counts (measured
      // 3x on minhash LSH at local[32]); nothing in the engine depends
      // on a cached plan's output partitioning
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse_${ProcessHandle.current().pid()}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Drop cached frames and persisted RDDs, then nudge a GC, so one
    * query's memory and garbage are not billed to the next. */
  def clearState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    System.gc()
  }
}
