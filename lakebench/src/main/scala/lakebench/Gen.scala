package lakebench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row counts of a generated source snapshot. Lines per order average four,
  * as in TPC-H; `newOrdersPerDay` orders arrive with every daily snapshot. */
final case class Scale(customers: Int, orders: Int, newOrdersPerDay: Int)

/** The seeded generator of every input the benchmark feeds the engine:
  * source snapshots (the TPC-H-shaped star the medallion pipeline loads),
  * dashboard query parameters and DML statement streams. Everything is a
  * pure function of the seed, so one seed gives byte-identical inputs.
  *
  * Structural columns (lines per order, an order's customer, a customer's
  * nation and segment) use [[Gen.mix]], which has an exact Scala twin, so
  * statement generators and model replays know the key space without
  * reading the store. Payload columns use Spark's `xxhash64`. */
final class Gen(val seed: Long, val scale: Scale) {
  import Gen._

  private def mixCol(salt: Int, k: Column): Column =
    pmod(pmod(k.cast("long") * lit(A1) + lit(mixBase(seed, salt)), lit(P1)) * lit(A2) + lit(C2), lit(P2))

  /** Uniform integer in [0, n) from the seed, a salt and key columns. */
  private def h(n: Long, salt: String, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: cols): _*), lit(n))

  /** Whether row `k` changes payload on `day`, or vanishes, at `perMille`. */
  private def on(day: Int, salt: String, perMille: Int, k: Column*): Column =
    if (day == 0) lit(false) else h(1000, salt, (lit(day) +: k): _*) < perMille

  /** Day the payload of `k` was last drawn: `day` when it changes today,
    * else 0, so a change lasts one snapshot and the next one restores it. */
  private def version(day: Int, salt: String, k: Column*): Column =
    when(on(day, s"chg-$salt", ChangePerMille, k: _*), lit(day)).otherwise(lit(0))

  private def pick(values: Seq[String], idx: Column): Column =
    element_at(array(values.map(lit): _*), (idx + 1).cast("int"))

  def region(spark: SparkSession): DataFrame =
    spark.range(0, 5, 1, 1).select(col("id").cast("int").as("r_regionkey"),
      pick(Regions, col("id")).as("r_name"))

  def nation(spark: SparkSession): DataFrame =
    spark.range(0, 25, 1, 1).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), lpad(col("id").cast("string"), 2, "0")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

  def customer(spark: SparkSession, day: Int): DataFrame = {
    val k = col("id")
    val v = version(day, "c", k)
    spark.range(1, scale.customers + 1L, 1, Parts)
      .filter(!on(day, "vanish", VanishPerMille, k))
      .select(k.as("c_custkey"),
        custName(k).as("c_name"),
        (mixCol(1, k) % 25).cast("int").as("c_nationkey"),
        (h(1100000, "acctbal", k, v) / 100.0 - 999.99).as("c_acctbal"),
        pick(Segments, mixCol(2, k) % Segments.size).as("c_mktsegment"))
  }

  /** Orders of the snapshot for `day`: the base set, plus `newOrdersPerDay`
    * per day with keys above every earlier one and later order dates. */
  def orderCount(day: Int): Long = scale.orders.toLong + day.toLong * scale.newOrdersPerDay

  private def orderDay(k: Column): Column = {
    val arrival = ((k - scale.orders - 1) / scale.newOrdersPerDay).cast("int") + 1
    when(k <= scale.orders, date_add(lit(java.sql.Date.valueOf("1995-01-01")), h(1461, "odate", k).cast("int")))
      .otherwise(date_add(lit(java.sql.Date.valueOf("1999-01-01")), arrival))
  }

  def orders(spark: SparkSession, day: Int): DataFrame = {
    val k = col("id")
    val v = version(day, "o", k)
    spark.range(1, orderCount(day) + 1, 1, Parts)
      .select(k.as("o_orderkey"),
        (mixCol(3, k) % scale.customers + 1).as("o_custkey"),
        pick(Statuses, h(3, "status", k, v)).as("o_orderstatus"),
        (h(50000000, "total", k, v) / 100.0 + 1000.0).as("o_totalprice"),
        orderDay(k).cast("timestamp").as("o_orderdate"),
        pick(Priorities, h(5, "prio", k)).as("o_orderpriority"))
  }

  /** Lines of the snapshot for `day`; about one line in a thousand appears
    * twice with a different quantity, as the testdata's lineitem does, so
    * loads must deduplicate on the natural key. */
  def lineitem(spark: SparkSession, day: Int): DataFrame = {
    val o = col("o")
    val ln = col("ln")
    val v = version(day, "l", o, ln)
    val base = spark.range(1, orderCount(day) + 1, 1, Parts).select(col("id").as("o"))
      .select(o, explode(sequence(lit(1), (mixCol(4, o) % 7 + 1).cast("int"))).as("ln"))
    val qty = (h(50, "qty", o, ln, v) + 1).cast("double")
    val rows = base.select(
      o.as("l_orderkey"),
      (h(20000, "part", o, ln) + 1).as("l_partkey"),
      (h(1000, "supp", o, ln) + 1).as("l_suppkey"),
      ln.as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (h(100000, "price", o, ln, v) / 100.0 + 900.0), 2).as("l_extendedprice"),
      (h(11, "disc", o, ln, v) / 100.0).as("l_discount"),
      (h(9, "tax", o, ln) / 100.0).as("l_tax"),
      pick(Seq("R", "A", "N"), h(3, "rflag", o, ln)).as("l_returnflag"),
      pick(Seq("O", "F"), h(2, "lstatus", o, ln)).as("l_linestatus"),
      date_add(orderDay(o), (h(121, "ship", o, ln) + 1).cast("int")).cast("timestamp").as("l_shipdate"))
    val dups = rows.filter(h(1000, "dup", col("l_orderkey"), col("l_linenumber")) === 0)
      .withColumn("l_quantity", col("l_quantity") + 1)
    rows.unionByName(dups)
  }

  def tables(spark: SparkSession, day: Int): Seq[(String, DataFrame)] = Seq(
    "region" -> region(spark), "nation" -> nation(spark), "customer" -> customer(spark, day),
    "orders" -> orders(spark, day), "lineitem" -> lineitem(spark, day))

  /** Writes the snapshot for `day` as one parquet directory per table, in
    * the layout `graft.sources.Tables` reads. Returns the bytes written. */
  def writeSnapshot(spark: SparkSession, dir: String, day: Int): Long = {
    tables(spark, day).foreach { case (n, df) => df.write.mode("overwrite").parquet(s"$dir/$n.parquet") }
    Gen.bytesUnder(java.nio.file.Paths.get(dir))
  }

  // ------------------------------------------------------ Scala twins

  def linesOf(order: Long): Int = (mix(seed, 4, order) % 7 + 1).toInt
  def custNation(k: Long): Int = (mix(seed, 1, k) % 25).toInt
  def custSegment(k: Long): String = Segments((mix(seed, 2, k) % Segments.size).toInt)

  /** Distinct natural keys of the base lineitem: one per (order, line). */
  def baseLineCount: Long = (1L to scale.orders).map(linesOf(_).toLong).sum

  /** A reproducible random stream for one consumer of this seed. */
  def rng(stream: String, client: Int = 0): SplittableRandom =
    new SplittableRandom(seed * 1000003L + stream.hashCode * 7919L + client)
}

object Gen {
  val Parts = 4
  val ChangePerMille = 30
  val VanishPerMille = 5
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Statuses = Seq("F", "O", "P")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  // Two rounds of an affine map modulo primes: every product stays below
  // 2^63 for keys under 10^9, so the Spark column form needs no overflow
  // semantics and matches the Scala form exactly.
  private val A1 = 2654435761L
  private val P1 = 4294967291L
  private val A2 = 1103515245L
  private val C2 = 12345L
  private val P2 = 2147483629L
  private def mixBase(seed: Long, salt: Int): Long =
    Math.floorMod(seed, 1000003L) * 40503L + salt * 7919L

  def mix(seed: Long, salt: Int, k: Long): Long =
    Math.floorMod(Math.floorMod(k * A1 + mixBase(seed, salt), P1) * A2 + C2, P2)

  def custName(k: Column): Column = concat(lit("Customer#"), lpad(k.cast("string"), 9, "0"))
  def custName(k: Long): String = f"Customer#$k%09d"

  def bytesUnder(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
}
