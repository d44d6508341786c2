package lakebench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Scd, SurrogateKeys}
import graft.pipeline.Medallion
import graft.tables.TableStore

/** What a run measured: operations attempted and failed (failed output
  * checks included), its metrics by name with unit, and a human report. */
final case class Outcome(attempted: Long, failed: Long, metrics: Seq[(String, Double, String)],
    report: Seq[(String, String)])

/** State shared by a run: the engine session, the seed, the tracer and a
  * work directory inside the checkout. */
final class Run(val spark: SparkSession, val seed: Long, val tracer: Tracer, val work: Path,
    val seconds: Int) {
  private val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val checked = new java.util.concurrent.atomic.AtomicLong()

  /** One output check; a failing or throwing check counts against the run. */
  def check(name: String)(body: => Option[String]): Unit = {
    checked.incrementAndGet()
    val err = try body catch { case e: Throwable => Some(Main.describe(e)) }
    err.foreach(msg => failures.add(s"$name: $msg"))
  }
  def fail(name: String, e: Throwable): Unit = failures.add(s"$name: ${Main.describe(e)}")

  /** Runs `checks` (each a [[check]] call) on [[Workloads.Cores]] threads
    * and waits for all of them. Checks are untimed, and most of their time
    * is per-job driver work that overlaps well, so this shortens the run. */
  def concurrently(checks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Workloads.Cores)
    try checks.map(c => pool.submit(new Runnable { def run(): Unit = c() })).foreach(_.get())
    finally pool.shutdown()
  }
  def checks: Long = checked.get

  private var phaseStart = System.nanoTime()
  private val phaseTimes = mutable.LinkedHashMap.empty[String, Double]
  /** Closes the current phase of the run and adds its time to `name`, for
    * the report. */
  def phase(name: String): Unit = {
    val now = System.nanoTime()
    phaseTimes(name) = phaseTimes.getOrElse(name, 0.0) + (now - phaseStart) / 1e9
    phaseStart = now
  }
  def phases: String = phaseTimes.map { case (n, s) => f"$n=$s%.1f" }.mkString(" ")
  def failureList: Seq[String] = failures.asScala.toSeq

  def dir(name: String): Path = {
    val p = work.resolve(name)
    Main.deleteTree(p)
    Files.createDirectories(p)
  }

  /** Runs `build` [[Workloads.Setups]] times, each into a fresh directory,
    * and returns the median wall time with the last result; earlier results
    * are discarded by `drop`. */
  def timedSetup[A](build: Path => A)(drop: A => Unit): (Double, A) = {
    var last: Option[A] = None
    val times = (1 to Workloads.Setups).map { i =>
      last.foreach(drop)
      val d = dir(s"setup-$i")
      val t0 = System.nanoTime()
      last = Some(build(d))
      (System.nanoTime() - t0) / 1e9
    }
    (Stats.median(times), last.get)
  }
}

object Workloads {
  val Cores = 4
  /** Set-ups per run; `setup_s` is their median. The first pays the
    * process's class loading and code generation, as a user's first does. */
  val Setups = 2
  val names: Seq[String] = Seq("nightly_refresh", "trickle_dml")
  /** Dashboard cycles the morning after each nightly load. */
  val ReadCycles = 2

  /** Source sizes: sf0.01 for the daily refresh, whose every load is a full
    * four-stage pipeline run, and sf0.1 for the serving store, whose
    * statements and queries touch a few files each. */
  val refreshScale = Scale(customers = 1500, orders = 15000, newOrdersPerDay = 150)
  val servingScale = Scale(customers = 3000, orders = 30000, newOrdersPerDay = 0)

  def run(name: String, r: Run): Outcome = name match {
    case "nightly_refresh" => nightlyRefresh(r)
    case "trickle_dml" => trickleDml(r)
    case other => throw new IllegalArgumentException(s"unknown workload $other; expected one of ${names.mkString(", ")}")
  }

  private val SetupTs = "2024-01-01 00:00:00"
  private def dayTs(day: Int): String = java.time.LocalDate.parse("2024-01-01").plusDays(day) + " 00:00:00"

  /** The medallion's cleansing contract, restated: one row per natural key,
    * the survivor being the first by every payload column in order. */
  def dedup(raw: DataFrame, keys: Seq[String]): DataFrame = {
    val order = raw.columns.filterNot(keys.contains).map(col).toSeq
    raw.withColumn("__rn", row_number().over(Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))
      .filter(col("__rn") === 1).drop("__rn")
  }

  private val naturalKeys = Seq("customer" -> Seq("c_custkey"), "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"), "nation" -> Seq("n_nationkey"),
    "region" -> Seq("r_regionkey"))

  private def src(spark: SparkSession, dir: Path, t: String): DataFrame =
    spark.read.parquet(dir.resolve(s"$t.parquet").toString)

  private def netPrice(price: Column, disc: Column): Column =
    (coalesce(price, lit(0.0)) * (lit(1.0) - coalesce(disc, lit(0.0)))).cast("decimal(38,6)")

  private def rssPeakMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  private def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def isRead(o: OpRecord): Boolean = o.kind.startsWith("read:")

  /** The end-to-end metrics of a run: write operations (daily loads or DML
    * statements) and dashboard reads, each as (kind, ms) samples whose
    * typical latency is the [[Stats.mixMedian]] over the kinds of its mix. */
  private def endToEnd(setupS: Double, writes: Seq[(String, Double)], writeMix: Seq[String],
      writeS: Double, reads: Seq[(String, Double)], readMix: Seq[String],
      storeAmp: Double): Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("op_p50_ms", Stats.mixMedian(writes, writeMix), "ms"),
    ("ops_per_s", writes.size / writeS, "1/s"),
    ("read_p50_ms", Stats.mixMedian(reads, readMix), "ms"),
    ("store_amp", storeAmp, "ratio"))

  private def timed(ops: Seq[OpRecord]): Seq[(String, Double)] = ops.map(o => o.kind -> o.durNs / 1e6)

  private def latencyReport(label: String, xs: Seq[Double]): (String, String) = {
    val (t, which) = Stats.tail(xs)
    val beyond = Stats.tailPercentile(xs).map(Stats.beyond(xs, _)).getOrElse(0)
    label -> f"p50=${Stats.median(xs)}%.2f ms tail=$t%.2f ms ($which, $beyond beyond) n=${xs.size}"
  }

  private def perKind(ops: Seq[OpRecord]): Seq[(String, String)] =
    ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
      val l = os.map(_.durNs / 1e6)
      s"kind.$k" -> f"n=${l.size} p50=${Stats.median(l)}%.2f ms max=${l.max}%.2f ms"
    }

  // ------------------------------------------------------ nightly_refresh

  /** Daily bronze → silver → gold loads, one after another, each on a new
    * generated snapshot and each followed by the morning's dashboard reads
    * from the same caller. The four `Medallion` stage calls are the load. */
  private def nightlyRefresh(r: Run): Outcome = {
    val spark = r.spark
    val gen = new Gen(r.seed, refreshScale)
    r.tracer.attach(spark, 0)
    val (setupS, (root, store, day0Bytes)) = r.timedSetup { d =>
      val data = d.resolve("data-0")
      val bytes = gen.writeSnapshot(spark, data.toString, 0)
      val store = new TableStore(spark, d.resolve("store").toString)
      new Medallion(spark, store, data.toString).run(lit(SetupTs))
      Main.deleteTree(data)
      (d, store, bytes)
    } { case (d, s, _) => s.detach(); Main.deleteTree(d) }
    r.phase("setup")
    warmUp(gen, spark, DashboardCycle)
    r.phase("warmup")

    var sourceBytes = day0Bytes
    val loadNs = mutable.ArrayBuffer.empty[Long]
    val stageNs = mutable.ArrayBuffer.empty[(Seq[Long], Long)]
    val commits = mutable.Map.empty[Long, CommitInfo]
    val live = mutable.Map.empty[Long, Long]
    val gc0 = gcSeconds
    var day = 0
    // the window is whole days, a load and its reads, until `seconds` have
    // been measured: one day at the lengths this benchmark runs
    var measuredNs = 0L
    while (measuredNs < r.seconds * 1000000000L) {
      day += 1
      val data = root.resolve(s"data-$day")
      sourceBytes += gen.writeSnapshot(spark, data.toString, day)
      r.phase("generate")
      val m = new Medallion(spark, store, data.toString)
      val ts = lit(dayTs(day))
      val before = if (r.tracer.traced) versions(store, allTables) else Map.empty[String, Int]
      val stages = mutable.ArrayBuffer.empty[Long]
      def stage(name: String)(body: => Unit): Unit = {
        val t0 = System.nanoTime()
        r.tracer.span("graft.pipeline", s"Medallion.$name")(body)
        stages += System.nanoTime() - t0
      }
      val ok = try {
        r.tracer.op(spark, 0, "load") {
          stage("runBronze")(m.runBronze())
          stage("runSilver")(m.runSilver(ts))
          stage("runGoldDims")(m.runGoldDims(ts))
          stage("runGoldFact")(m.runGoldFact(ts))
        }
        true
      } catch { case e: Exception => r.fail(s"load day $day", e); false }
      val load = r.tracer.opList.find(_.id == r.tracer.lastOp).get
      val loadEndNs = load.end
      loadNs += load.durNs
      measuredNs += load.durNs
      r.phase("load")
      if (ok) {
        stageNs += stages.toSeq -> loadNs.last
        if (r.tracer.traced) commits(r.tracer.lastOp) = commitInfo(store, before, changed = 0)
        val morning = Seq.fill(ReadCycles)(DashboardCycle).flatten
        val queries = new Queries(gen, s"reads-$day", morning)
        val first = mutable.LinkedHashMap.empty[String, (Query, Array[Row])]
        morning.foreach { _ =>
          val q = queries.next()
          try {
            val rows = runQuery(r, spark, 0, q)
            first.getOrElseUpdate(q.template, (q, rows))
            if (r.tracer.traced) live(r.tracer.lastOp) = liveFiles(store, q)
          } catch { case e: Exception => r.fail(s"day $day ${q.template}", e) }
        }
        r.phase("reads")
        measuredNs += r.tracer.opList.filter(o => isRead(o) && o.start >= loadEndNs).map(_.durNs).sum
        val oracle = registerOracle(spark, data)
        r.concurrently(refreshChecks(r, store, data, day) ++ first.toSeq.map { case (t, (q, rows)) =>
          () => r.check(s"day $day query $t") { sameRows(rows, oracle.sql(q.oracle).collect()) }
        })
      }
      Main.deleteTree(data)
      r.phase("checks")
    }
    val gcS = gcSeconds - gc0
    val ops = r.tracer.opList
    val loads = loadNs.map(_ / 1e6).toSeq
    val reads = timed(ops.filter(o => isRead(o) && o.ok))
    val storeAmp = Gen.bytesUnder(root.resolve("store")).toDouble / sourceBytes
    val stageMed = (i: Int) => if (stageNs.isEmpty) 0.0 else Stats.median(stageNs.map(_._1(i) / 1e9).toSeq)
    val extra = Map(
      "pipeline.bronze_s" -> stageMed(0), "pipeline.silver_s" -> stageMed(1),
      "pipeline.gold_dims_s" -> stageMed(2), "pipeline.gold_fact_s" -> stageMed(3),
      "pipeline.stage_coverage" -> stageNs.map { case (s, l) => s.sum.toDouble / l }.minOption.getOrElse(0.0))
    finish(r, ops.size.toLong, endToEnd(setupS, loads.map("load" -> _), Seq("load"), loads.sum / 1e3,
        reads, DashboardCycle.map("read:" + _), storeAmp), writeMix = Seq("load"),
      reads = live.toMap, commits = commits.toMap, st = store, gcS = gcS,
      extra = extra, report = Seq(
        latencyReport("refresh_ms", loads), latencyReport("query_ms", reads.map(_._2)),
        "store_amp" -> f"$storeAmp%.3f", "rss_peak_mb" -> f"$rssPeakMb%.1f",
        "source_scale" -> refreshScale.toString) ++ perKind(ops))
  }

  private val allTables = Seq("bronze.region", "bronze.nation", "bronze.customer", "bronze.orders",
    "bronze.lineitem", "silver.customer", "silver.orders", "silver.lineitem", "silver.nation",
    "silver.region", "gold.dim_calendar", "gold.dim_geography", "gold.dim_customer", "gold.fact_sales")

  /** The checks after each load: every key of the day's deduplicated input
    * has exactly one current silver row carrying its payload, and the gold
    * fact's row count, measure sums and unknown-customer lines equal a
    * plain-Spark computation of the fact's lineage over the day's files. */
  private def refreshChecks(r: Run, store: TableStore, data: Path, day: Int): Seq[() => Unit] = {
    val spark = r.spark
    naturalKeys.map { case (t, keys) => () =>
      r.check(s"day $day silver.$t current rows") {
        // one pass over both sides: row count, distinct keys and a sum of
        // row hashes, so equal results mean one current row per input key
        // carrying the input's payload
        val inp = dedup(src(spark, data, t), keys)
        val cur = store.readWhere(s"silver.$t", col(Scd.ValidTo).isNull).select(inp.columns.map(col).toSeq: _*)
        val fp = inp.withColumn("__side", lit("input")).unionByName(cur.withColumn("__side", lit("silver")))
          .groupBy("__side").agg(count(lit(1)).as("rows"), countDistinct(keys.map(col).head, keys.tail.map(col): _*).as("keys"),
            sum(xxhash64(inp.columns.map(col).toSeq: _*).cast("decimal(38,0)")).as("hash"))
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDecimal(3))).toMap
        if (fp.get("input") == fp.get("silver") && fp.get("silver").exists(f => f._1 == f._2)) None
        else Some(s"input (rows, keys, hash) ${fp.get("input")}, current silver ${fp.get("silver")}")
      }
    } :+ { () =>
      r.check(s"day $day gold.fact_sales") {
        val li = dedup(src(spark, data, "lineitem"), Seq("l_orderkey", "l_linenumber"))
        val custs = src(spark, data, "customer").select(col("c_custkey"))
        val orphan = src(spark, data, "orders").join(custs, col("o_custkey") === col("c_custkey"), "left_anti")
          .select(col("o_orderkey").as("orphan"))
        val exp = li.join(orphan, col("l_orderkey") === col("orphan"), "left").agg(
          count(lit(1)), sum(coalesce(col("l_quantity"), lit(0.0)).cast("decimal(19,4)")),
          sum(coalesce(col("l_extendedprice"), lit(0.0)).cast("decimal(19,4)")),
          sum(coalesce(col("l_discount"), lit(0.0)).cast("decimal(19,4)")),
          sum(netPrice(col("l_extendedprice"), col("l_discount"))),
          count(col("orphan"))).head()
        val got = store.read("gold.fact_sales").agg(
          count(lit(1)), sum(col("sales_qty")), sum(col("sales_extended_price")),
          sum(col("sales_discount")), sum(col("sales_net_price")),
          count(when(col("_tf_dim_customer_id") === -9, 1))).head()
        if (exp == got) None else Some(s"expected $exp, store holds $got")
      }
    }
  }

  // ------------------------------------------------------ serving store

  /** The store `trickle_dml` serves from: its directory, the source files
    * it was built from and a handle on the building session. */
  final case class Serving(dir: Path, data: Path, store: TableStore, sourceBytes: Long) {
    def root: String = dir.resolve("store").toString
    /** Bytes under the store root per byte of source parquet loaded. */
    def amp: Double = Gen.bytesUnder(dir.resolve("store")).toDouble / sourceBytes
  }

  private def dropServing(s: Serving): Unit = { s.store.detach(); Main.deleteTree(s.dir) }

  /** The gold star and the silver customer history, built through the store
    * and operator APIs with the medallion's table shapes. The fact is
    * range-clustered on its order key, as a served table is after OPTIMIZE,
    * so key lookups and trickle statements touch few files. */
  private def buildServingStore(spark: SparkSession, gen: Gen, d: Path): Serving = {
    val data = d.resolve("data")
    val bytes = gen.writeSnapshot(spark, data.toString, 0)
    val st = new TableStore(spark, d.resolve("store").toString)
    val ts = lit(SetupTs).cast("timestamp")
    def audit(df: DataFrame) = df.withColumn(Scd.CreateDate, ts).withColumn(Scd.UpdateDate, ts)
    Scd.scd2ApplyBatch(st, "silver.customer", dedup(src(spark, data, "customer"), Seq("c_custkey")),
      Seq("c_custkey"), ts, initAudit = true)
    val geo = src(spark, data, "nation").join(src(spark, data, "region"), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("nation_key"), col("n_name").as("nation_name"), col("r_name").as("region_name"))
    st.createOrReplace("gold.dim_geography", audit(spark.sql(
      "SELECT CAST(-9 AS BIGINT) AS _tf_dim_geography_id, CAST(-9 AS INT) AS nation_key, 'N/A' AS nation_name, 'N/A' AS region_name")
      .unionByName(SurrogateKeys.assignOrdered(geo, "_tf_dim_geography_id", Seq(col("nation_key"))))))
    val cust = st.readWhere("silver.customer", col(Scd.ValidTo).isNull).select(col("c_custkey").as("customer_key"),
      col("c_name").as("customer_name"), col("c_mktsegment").as("mktsegment"), col("c_nationkey").as("nation_key"))
    st.createOrReplace("gold.dim_customer", audit(spark.sql(
      "SELECT CAST(-9 AS BIGINT) AS _tf_dim_customer_id, CAST(-9 AS BIGINT) AS customer_key, 'N/A' AS customer_name, 'N/A' AS mktsegment, CAST(-9 AS INT) AS nation_key")
      .unionByName(SurrogateKeys.assignOrdered(cust, "_tf_dim_customer_id", Seq(col("customer_key"))))))
    val li = dedup(src(spark, data, "lineitem"), Seq("l_orderkey", "l_linenumber")).alias("li")
    val o = dedup(src(spark, data, "orders"), Seq("o_orderkey")).alias("o")
    val dc = st.read("gold.dim_customer").alias("dc")
    val dg = st.read("gold.dim_geography").alias("dg")
    val fact = li.join(o, col("li.l_orderkey") === col("o.o_orderkey"), "left_outer")
      .join(broadcast(dc), col("o.o_custkey") === col("dc.customer_key"), "left_outer")
      .join(broadcast(dg), col("dc.nation_key") === col("dg.nation_key"), "left_outer")
      .select(col("li.l_orderkey").as("sales_order_key"), col("li.l_linenumber").as("sales_line_number"),
        coalesce((year(col("o.o_orderdate")) * 10000 + month(col("o.o_orderdate")) * 100 +
          dayofmonth(col("o.o_orderdate"))).cast("int"), lit(-9)).as("_tf_dim_calendar_id"),
        coalesce(col("dc._tf_dim_customer_id"), lit(-9L)).as("_tf_dim_customer_id"),
        coalesce(col("dg._tf_dim_geography_id"), lit(-9L)).as("_tf_dim_geography_id"),
        coalesce(col("li.l_quantity"), lit(0.0)).cast("decimal(19,4)").as("sales_qty"),
        coalesce(col("li.l_extendedprice"), lit(0.0)).cast("decimal(19,4)").as("sales_extended_price"),
        coalesce(col("li.l_discount"), lit(0.0)).cast("decimal(19,4)").as("sales_discount"),
        netPrice(col("li.l_extendedprice"), col("li.l_discount")).as("sales_net_price"))
    st.createOrReplace("gold.fact_sales", audit(fact).repartitionByRange(FactFiles, col("sales_order_key")),
      sortWithin = Seq("sales_order_key", "sales_line_number"))
    Serving(d, data, st, bytes)
  }

  /** Files of the served fact: about 25k lines each at sf0.1. */
  private val FactFiles = 24

  // ------------------------------------------------------ queries

  /** One dashboard query: its template, the SQL sent to the store, the same
    * question over the source files, and the store tables it reads. */
  final case class Query(template: String, sql: String, oracle: String, tables: Seq[String])

  /** The dashboard mix, one cycle: star aggregates by region and year (3),
    * top customers over a calendar range (2), point (5) and range (4)
    * drill-downs on the order key and current-customer lookups (6).
    * Templates follow the cycle so every run reads the same mix;
    * parameters are seeded. */
  val DashboardCycle: Seq[String] = Seq("customer_current", "order_point", "star", "order_range",
    "customer_current", "order_point", "top_customers", "order_range", "customer_current", "star",
    "order_point", "customer_current", "order_range", "top_customers", "order_point",
    "customer_current", "star", "order_range", "order_point", "customer_current")
  /** The key-lookup templates of the mix, in the same proportions. */
  val LookupCycle: Seq[String] = DashboardCycle.filterNot(Set("star", "top_customers"))

  /** A seeded stream of dashboard queries following `cycle`. */
  final class Queries(gen: Gen, stream: String, cycle: Seq[String]) {
    private val rnd = gen.rng(stream)
    private var n = 0
    def next(): Query = {
      n += 1
      query(gen, rnd, cycle((n - 1) % cycle.size))
    }
  }

  /** One query of `template` with parameters drawn from `rnd`. */
  def query(gen: Gen, rnd: java.util.SplittableRandom, template: String): Query = {
    val s = gen.scale
    val srcDateKey = "(year(o.o_orderdate) * 10000 + month(o.o_orderdate) * 100 + dayofmonth(o.o_orderdate))"
    val srcNet = "CAST(coalesce(l.l_extendedprice, 0D) * (1D - coalesce(l.l_discount, 0D)) AS DECIMAL(38,6))"
    template match {
      case "star" =>
        val y0 = 1995 + rnd.nextInt(3)
        val y1 = y0 + 1 + rnd.nextInt(2)
        val seg = Gen.Segments(rnd.nextInt(Gen.Segments.size))
        Query("star",
          s"""SELECT g.region_name, CAST(f._tf_dim_calendar_id DIV 10000 AS INT) AS yr, count(*) AS lines,
             |  sum(f.sales_net_price) AS net
             |FROM gold.fact_sales f
             |JOIN gold.dim_customer c ON f._tf_dim_customer_id = c._tf_dim_customer_id
             |JOIN gold.dim_geography g ON f._tf_dim_geography_id = g._tf_dim_geography_id
             |WHERE f._tf_dim_calendar_id BETWEEN ${y0 * 10000 + 101} AND ${y1 * 10000 + 1231}
             |  AND c.mktsegment = '$seg'
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
          s"""SELECT r.r_name, CAST(year(o.o_orderdate) AS INT), count(*), sum($srcNet)
             |FROM li l JOIN ord o ON l.l_orderkey = o.o_orderkey
             |JOIN cust c ON o.o_custkey = c.c_custkey
             |JOIN nation n ON c.c_nationkey = n.n_nationkey JOIN region r ON n.n_regionkey = r.r_regionkey
             |WHERE $srcDateKey BETWEEN ${y0 * 10000 + 101} AND ${y1 * 10000 + 1231} AND c.c_mktsegment = '$seg'
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
          Seq("gold.fact_sales", "gold.dim_customer", "gold.dim_geography"))
      case "top_customers" =>
        val y = 1995 + rnd.nextInt(4)
        val m0 = 1 + rnd.nextInt(12)
        val m1 = math.min(12, m0 + rnd.nextInt(6))
        val (lo, hi) = (y * 10000 + m0 * 100 + 1, y * 10000 + m1 * 100 + 31)
        Query("top_customers",
          s"""SELECT c.customer_key, sum(f.sales_net_price) AS net
             |FROM gold.fact_sales f JOIN gold.dim_customer c ON f._tf_dim_customer_id = c._tf_dim_customer_id
             |WHERE f._tf_dim_calendar_id BETWEEN $lo AND $hi
             |GROUP BY c.customer_key ORDER BY net DESC, c.customer_key LIMIT 10""".stripMargin,
          // lines of a customer missing from the snapshot belong to the
          // dimension's unknown member, -9
          s"""SELECT coalesce(c.c_custkey, -9) AS k, sum($srcNet) AS net
             |FROM li l JOIN ord o ON l.l_orderkey = o.o_orderkey LEFT JOIN cust c ON o.o_custkey = c.c_custkey
             |WHERE $srcDateKey BETWEEN $lo AND $hi
             |GROUP BY 1 ORDER BY net DESC, k LIMIT 10""".stripMargin,
          Seq("gold.fact_sales", "gold.dim_customer"))
      case "order_point" =>
        val k = 1 + rnd.nextLong(s.orders)
        Query("order_point",
          s"SELECT sales_order_key, sales_line_number, sales_qty, sales_net_price FROM gold.fact_sales WHERE sales_order_key = $k ORDER BY 2",
          s"SELECT l.l_orderkey, l.l_linenumber, CAST(l.l_quantity AS DECIMAL(19,4)), $srcNet FROM li l WHERE l.l_orderkey = $k ORDER BY 2",
          Seq("gold.fact_sales"))
      case "order_range" =>
        val k = 1 + rnd.nextLong(s.orders)
        val w = 5 + rnd.nextInt(46)
        Query("order_range",
          s"SELECT sales_order_key, sales_line_number, sales_qty, sales_net_price FROM gold.fact_sales WHERE sales_order_key BETWEEN $k AND ${k + w} ORDER BY 1, 2",
          s"SELECT l.l_orderkey, l.l_linenumber, CAST(l.l_quantity AS DECIMAL(19,4)), $srcNet FROM li l WHERE l.l_orderkey BETWEEN $k AND ${k + w} ORDER BY 1, 2",
          Seq("gold.fact_sales"))
      case "customer_current" =>
        val k = 1 + rnd.nextLong(s.customers)
        Query("customer_current",
          s"SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM silver.customer WHERE c_custkey = $k AND _tf_valid_to IS NULL",
          s"SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM cust WHERE c_custkey = $k",
          Seq("silver.customer"))
    }
  }

  /** Runs `q` as one timed read of `client` on session `s`. */
  private def runQuery(r: Run, s: SparkSession, client: Int, q: Query): Array[Row] =
    r.tracer.op(s, client, "read:" + q.template) {
      val df = r.tracer.span("graft.ext", "SparkSession.sql")(s.sql(q.sql))
      r.tracer.span("spark", "Dataset.collect")(df.collect())
    }

  /** Files live in the tables `q` reads, from the store's manifests. */
  private def liveFiles(st: TableStore, q: Query): Long =
    q.tables.map(t => st.prunedFileList(t, None).size.toLong).sum

  /** The first run of each template: class loading and code generation,
    * which a process pays once, not per query. Code generated for one
    * session is reused by the others. */
  private def warmUp(gen: Gen, s: SparkSession, cycle: Seq[String]): Unit = {
    val rnd = gen.rng("warmup")
    cycle.distinct.foreach(t => s.sql(query(gen, rnd, t).sql).collect())
  }

  /** Plain-Spark views over the source files for the query oracles. */
  private def registerOracle(spark: SparkSession, data: Path): SparkSession = {
    val o = spark.newSession()
    dedup(src(o, data, "lineitem"), Seq("l_orderkey", "l_linenumber")).createOrReplaceTempView("li")
    dedup(src(o, data, "orders"), Seq("o_orderkey")).createOrReplaceTempView("ord")
    dedup(src(o, data, "customer"), Seq("c_custkey")).createOrReplaceTempView("cust")
    src(o, data, "nation").createOrReplaceTempView("nation")
    src(o, data, "region").createOrReplaceTempView("region")
    o
  }

  private def sameRows(got: Array[Row], exp: Array[Row]): Option[String] =
    if (got.map(_.toSeq).toSeq == exp.map(_.toSeq).toSeq) None
    else Some(s"store returned ${got.take(3).mkString(", ")} (${got.length} rows), " +
      s"source gives ${exp.take(3).mkString(", ")} (${exp.length} rows)")

  /** A client of the serving store: its own session and its own store
    * handle over the shared root, as a separate process has. */
  private def client(r: Run, sv: Serving, id: Int): (SparkSession, TableStore) = {
    val s = r.spark.newSession()
    val st = new TableStore(s, sv.root)
    r.tracer.attach(s, id)
    (s, st)
  }

  /** Closed loop of one writer and one reader with zero think time. The
    * writer runs until the window has passed and it has sent whole cycles of
    * statement kinds, so every run measures the same mix; the reader runs
    * for as long as the writer does. A step that throws counts as a failure
    * and the loop goes on. */
  private def closedLoop(r: Run, write: () => Unit, read: () => Unit): (Long, Long) = {
    val t0 = System.nanoTime()
    val deadline = t0 + r.seconds * 1000000000L
    @volatile var writing = true
    def loop(name: String)(body: => Unit): Thread = {
      val t = new Thread(() => body, name)
      t.start()
      t
    }
    val writer = loop("writer") {
      var sent = 0
      while (System.nanoTime() < deadline || sent % Dml.Cycle.size != 0) {
        try write() catch { case e: Exception => r.fail("writer", e) }
        sent += 1
      }
      writing = false
    }
    val reader = loop("reader") {
      while (writing) try read() catch { case e: Exception => r.fail("reader", e) }
    }
    writer.join()
    reader.join()
    (t0, System.nanoTime())
  }

  // ------------------------------------------------------ trickle_dml

  /** One writer sending seeded MERGE / UPDATE / DELETE / SCD2 statements and
    * one reader running the key-lookup templates, both with zero think time. */
  private def trickleDml(r: Run): Outcome = {
    val gen = new Gen(r.seed, servingScale)
    val (setupS, sv) = r.timedSetup(buildServingStore(r.spark, gen, _))(dropServing)
    r.phase("setup")
    val (ws, wst) = client(r, sv, 1)
    val (rs, rst) = client(r, sv, 2)
    val dml = new Dml(gen)
    // the stream's first statements, one of each kind, run untimed, to
    // load classes, generate code and compile the statement paths; the
    // model replays them like the rest. Any whole cycles after them send
    // the cycle's mix.
    val kinds = Dml.Cycle.distinct.size
    require(Dml.Cycle.take(kinds).distinct.size == kinds, "the cycle must open with one statement of each kind")
    (1 to kinds).foreach(_ => apply(r, ws, wst, dml.next(), warmup = true))
    warmUp(gen, rs, LookupCycle)
    r.phase("warmup")
    val commits = new java.util.concurrent.ConcurrentHashMap[Long, CommitInfo]()
    val live = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val lookups = new Queries(gen, "reader", LookupCycle)
    val gc0 = gcSeconds
    val (w0, w1) = closedLoop(r,
      write = () => {
        val s = dml.next()
        val table = if (s.kind == "scd2") "silver.customer" else "gold.fact_sales"
        val before = if (r.tracer.traced) versions(wst, Seq(table)) else Map.empty[String, Int]
        apply(r, ws, wst, s, warmup = false)
        if (r.tracer.traced) commits.put(r.tracer.lastOp, commitInfo(wst, before, s.changed))
      },
      read = () => {
        val q = lookups.next()
        runQuery(r, rs, 2, q)
        if (r.tracer.traced) live.put(r.tracer.lastOp, liveFiles(rst, q))
      })
    val gcS = gcSeconds - gc0
    r.phase("window")
    checkTrickle(r, wst, dml)
    r.phase("checks")
    val ops = r.tracer.opList
    val writes = timed(ops.filter(o => !isRead(o) && o.ok))
    val reads = timed(ops.filter(o => isRead(o) && o.ok))
    val storeAmp = sv.amp
    finish(r, ops.size.toLong, endToEnd(setupS, writes, Dml.Cycle, (w1 - w0) / 1e9,
        reads, LookupCycle.map("read:" + _), storeAmp), writeMix = Dml.Cycle,
      reads = live.asScala.toMap.map { case (k, v) => k -> v }, commits = commits.asScala.toMap,
      st = wst, gcS = gcS, extra = Map.empty,
      report = Seq(latencyReport("commit_ms", writes.map(_._2)), latencyReport("read_ms", reads.map(_._2)),
        "commits_per_s" -> f"${writes.size / ((w1 - w0) / 1e9)}%.3f",
        "store_amp" -> f"$storeAmp%.3f", "rss_peak_mb" -> f"$rssPeakMb%.1f") ++ perKind(ops))
  }

  /** Sends one statement: SQL text through the session, an SCD2 batch
    * through the operator. Warm-up statements are untimed. */
  private def apply(r: Run, s: SparkSession, st: TableStore, stmt: Stmt, warmup: Boolean): Unit = {
    val body: () => Unit = stmt match {
      case q: SqlStmt => () => r.tracer.span("graft.ext", "SparkSession.sql")(s.sql(q.sql))
      case b: Scd2Batch =>
        val batch = s.createDataFrame(b.rows.map(c => (c.key, c.name, c.nation, c.acctbal, c.segment)))
          .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        () => r.tracer.span("graft.operators", "Scd.scd2ApplyBatch")(
          Scd.scd2ApplyBatch(st, "silver.customer", batch, Seq("c_custkey"), lit(b.loadTs),
            closeVanished = false, pruneCurrentByBatchKeyRange = true))
    }
    if (warmup) body() else r.tracer.op(s, 1, stmt.kind)(body())
  }

  /** The store's final state against the model replay of every statement
    * sent, the untimed first ones included. */
  private def checkTrickle(r: Run, st: TableStore, dml: Dml): Unit = {
    val fact = st.read("gold.fact_sales")
    r.check("fact row count") {
      val n = fact.count()
      if (n == dml.factCount) None else Some(s"store holds $n rows, model replay gives ${dml.factCount}")
    }
    r.check("touched fact rows") {
      val touched = dml.factRows.keySet.toSeq
      val keys = touched.map(_._1).distinct
      val got = fact.filter(col("sales_order_key").isin(keys: _*))
        .select("sales_order_key", "sales_line_number", "sales_qty", "sales_extended_price",
          "sales_discount", "sales_net_price").collect()
        .map(row => (row.getLong(0), row.getInt(1)) -> row).toMap
      val bad = touched.flatMap { k =>
        (dml.factRows(k), got.get(k)) match {
          case (None, None) => None
          case (None, Some(_)) => Some(s"$k deleted but present")
          case (Some(_), None) => Some(s"$k missing")
          case (Some(v), Some(row)) =>
            val cols = Seq(v.qty -> 2, v.price -> 3, v.disc -> 4, v.net -> 5)
            cols.collectFirst { case (Some(e), i) if BigDecimal(row.getDecimal(i)) != e =>
              s"$k column $i is ${row.getDecimal(i)}, model gives $e" }
        }
      }
      if (bad.isEmpty) None else Some(s"${bad.size} of ${touched.size} touched rows differ: ${bad.take(3).mkString("; ")}")
    }
    r.check("silver.customer current rows") {
      val cur = st.read("silver.customer").filter(col(Scd.ValidTo).isNull)
      val touched = dml.customers.keySet.toSeq
      val rows = cur.filter(col("c_custkey").isin(touched: _*)).select("c_custkey", "c_acctbal").collect()
      val bad = touched.filterNot(k => rows.count(_.getLong(0) == k) == 1 &&
        rows.find(_.getLong(0) == k).exists(_.getDouble(1) == dml.customers(k)))
      val n = cur.count()
      val versions = st.read("silver.customer").count()
      val expVersions = servingScale.customers + dml.customerVersions
      if (bad.nonEmpty) Some(s"${bad.size} touched customers lack exactly one current row with the model's balance")
      else if (n != servingScale.customers) Some(s"$n current customer rows, expected ${servingScale.customers}")
      else if (versions != expVersions) Some(s"$versions customer versions, model replay gives $expVersions")
      else None
    }
  }

  // ------------------------------------------------------ layer metrics

  final case class CommitInfo(filesAdded: Long, filesRemoved: Long, rowsWritten: Long, changed: Long)

  private def versions(st: TableStore, tables: Seq[String]): Map[String, Int] =
    tables.flatMap(t => st.version(t).map(t -> _)).toMap

  /** Files and rows of every commit made since `before`, from the store's
    * own per-version operation metrics. */
  private def commitInfo(st: TableStore, before: Map[String, Int], changed: Long): CommitInfo = {
    val per = before.keys.toSeq.flatMap { t =>
      st.versions(t).filter(_ > before(t)).map(v => st.operationMetrics(t, v))
    }
    CommitInfo(per.map(_._1.toLong).sum, per.map(_._2.toLong).sum, per.map(_._3.max(0L)).sum, changed)
  }

  /** The run's outcome. Traced runs report the per-layer metrics: means per
    * write operation (a daily load or a DML statement), per read and per
    * commit, and the versions and manifest size of `st`'s fact table; zero
    * where a workload does not exercise the layer. */
  private def finish(r: Run, attempted: Long, e2e: Seq[(String, Double, String)],
      writeMix: Seq[String], reads: Map[Long, Long], commits: Map[Long, CommitInfo], st: TableStore,
      gcS: Double, extra: Map[String, Double], report: Seq[(String, String)]): Outcome = {
    val failed = r.failureList.size.toLong
    val total = attempted + r.checks
    val errorRatio = failed.toDouble / math.max(1L, total)
    val layer: Seq[(String, Double, String)] =
      if (!r.tracer.traced) Nil
      else {
        val costs = Ledger.costs(r.tracer)
        val writeCosts = costs.filter(c => !isRead(c.op))
        val readCosts = costs.filter(c => isRead(c.op))
        def mean(cs: Seq[OpCost])(f: OpCost => Double): Double =
          if (cs.isEmpty) 0.0 else cs.map(f).sum / cs.size
        val w = mean(writeCosts) _
        val rd = mean(readCosts) _
        val liveMean = if (reads.isEmpty) 0.0 else reads.values.sum.toDouble / reads.size
        val scannedMean = mean(readCosts.filter(c => reads.contains(c.op.id)))(_.filesScanned.toDouble)
        val cs = commits.values.toSeq
        def cmean(f: CommitInfo => Double) = if (cs.isEmpty) 0.0 else cs.map(f).sum / cs.size
        val writeIds = writeCosts.map(_.op.id).toSet
        val spans = (r.tracer.spanList ++ Ledger.jobSpans(r.tracer)).filter(s => writeIds(s.op) && s.end > s.start)
        val self = Stats.selfTimeByLayer(spans)
        def selfS(l: String) = if (writeIds.isEmpty) 0.0 else self.getOrElse(l, 0L) / 1e9 / writeIds.size
        val t = "gold.fact_sales"
        val manifest = st.version(t).map(v => java.nio.file.Paths.get(st.rootDir, t.split('.'): _*)
          .resolve(s"v_$v").resolve("_MANIFEST")).filter(Files.exists(_)).map(Files.size(_) / 1024.0)
        val lat = writeCosts.filter(_.op.ok).map(c => c.op.kind -> c.op.durNs / 1e6)
        val values = Map(
          "spark.jobs" -> w(_.jobs), "spark.stages" -> w(_.stages), "spark.tasks" -> w(_.tasks),
          "spark.job_s" -> w(_.jobS), "spark.driver_gap_s" -> w(_.driverGapS),
          "spark.executor_run_s" -> w(_.executorRunS), "spark.executor_cpu_s" -> w(_.executorCpuS),
          "spark.shuffle_write_mb" -> w(_.shuffleWriteMb), "spark.shuffle_read_mb" -> w(_.shuffleReadMb),
          "spark.spill_mb" -> w(_.spillMb),
          "plan.queries" -> w(_.planQueries), "plan.analysis_ms" -> w(_.analysisMs),
          "plan.optimization_ms" -> w(_.optimizationMs), "plan.planning_ms" -> w(_.planningMs),
          "read.spark.jobs" -> rd(_.jobs), "read.spark.job_s" -> rd(_.jobS),
          "read.spark.driver_gap_s" -> rd(_.driverGapS), "read.spark.executor_cpu_s" -> rd(_.executorCpuS),
          "read.plan.queries" -> rd(_.planQueries), "read.plan.analysis_ms" -> rd(_.analysisMs),
          "read.plan.optimization_ms" -> rd(_.optimizationMs), "read.plan.planning_ms" -> rd(_.planningMs),
          "tables.files_live" -> liveMean, "tables.files_scanned" -> scannedMean,
          "tables.skip_ratio" -> (if (liveMean > 0) scannedMean / liveMean else 0.0),
          "tables.files_added" -> cmean(_.filesAdded), "tables.files_removed" -> cmean(_.filesRemoved),
          "tables.rows_rewritten" -> cmean(_.rowsWritten),
          "tables.rewrite_amp" -> cmean(c => if (c.changed > 0) c.rowsWritten.toDouble / c.changed else 0.0),
          "tables.versions" -> st.versions(t).size.toDouble,
          "tables.manifest_kb" -> manifest.getOrElse(0.0),
          "self.bench_s" -> selfS("bench"), "self.pipeline_s" -> selfS("graft.pipeline"),
          "self.operators_s" -> selfS("graft.operators"), "self.ext_s" -> selfS("graft.ext"),
          "self.spark_driver_s" -> selfS("spark"), "self.spark_jobs_s" -> selfS("spark.job"),
          "jvm.gc_s" -> gcS, "jvm.rss_peak_mb" -> rssPeakMb, "error_ratio" -> errorRatio,
          "trace.op_p50_ms" -> (if (lat.isEmpty) 0.0 else Stats.mixMedian(lat, writeMix))) ++ extra
        Metrics.perLayer.filterNot(_._1 == "trace.overhead_pct").map { case (k, u) => (k, values.getOrElse(k, 0.0), u) }
      }
    Outcome(total, failed, if (r.tracer.traced) layer else e2e,
      report ++ Seq("phases_s" -> r.phases, "error_ratio" -> f"$errorRatio%.4f ($failed of $total)",
        "setup_s" -> f"${e2e.head._2}%.3f s (median of $Setups)") ++ r.failureList.map("failure" -> _))
  }
}

/** The metric names and units `BENCHMARK.json` declares. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "op_p50_ms" -> "ms", "ops_per_s" -> "1/s",
    "read_p50_ms" -> "ms", "store_amp" -> "ratio")
  val perLayer: Seq[(String, String)] = Seq(
    "pipeline.bronze_s" -> "s", "pipeline.silver_s" -> "s", "pipeline.gold_dims_s" -> "s",
    "pipeline.gold_fact_s" -> "s", "pipeline.stage_coverage" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_s" -> "s", "spark.driver_gap_s" -> "s", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "plan.queries" -> "count", "plan.analysis_ms" -> "ms",
    "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "read.spark.jobs" -> "count", "read.spark.job_s" -> "s", "read.spark.driver_gap_s" -> "s",
    "read.spark.executor_cpu_s" -> "s", "read.plan.queries" -> "count", "read.plan.analysis_ms" -> "ms",
    "read.plan.optimization_ms" -> "ms", "read.plan.planning_ms" -> "ms",
    "tables.files_live" -> "count", "tables.files_scanned" -> "count", "tables.skip_ratio" -> "ratio",
    "tables.files_added" -> "count", "tables.files_removed" -> "count", "tables.rows_rewritten" -> "count",
    "tables.rewrite_amp" -> "ratio", "tables.versions" -> "count", "tables.manifest_kb" -> "KiB",
    "self.bench_s" -> "s", "self.pipeline_s" -> "s", "self.operators_s" -> "s", "self.ext_s" -> "s",
    "self.spark_driver_s" -> "s", "self.spark_jobs_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.rss_peak_mb" -> "MB", "error_ratio" -> "ratio",
    "trace.op_p50_ms" -> "ms", "trace.overhead_pct" -> "%")
}
