package lakebench

import scala.collection.mutable

/** One writer statement of `trickle_dml`. `changed` is the number of rows
  * the statement changes; every statement names only keys that exist, so
  * it is never zero. */
sealed trait Stmt { def kind: String; def changed: Long }
final case class SqlStmt(kind: String, sql: String, changed: Long) extends Stmt
/** An SCD2 micro-batch of customer rows, each with a new account balance. */
final case class Scd2Batch(rows: Seq[CustomerRow], loadTs: String) extends Stmt {
  def kind: String = "scd2"
  // each row closes one current version and inserts one
  def changed: Long = 2L * rows.size
}
final case class CustomerRow(key: Long, name: String, nation: Int, acctbal: Double, segment: String)

/** The measures of one fact line the model knows; `None` where no bench
  * statement has set the column, so the store's value is not checked. */
final case class FactVals(qty: Option[BigDecimal], price: Option[BigDecimal],
    disc: Option[BigDecimal], net: Option[BigDecimal])

/** The seeded statement stream of `trickle_dml` and the model it replays
  * them into. Statements are drawn from keys the model holds live, so each
  * one changes rows; the model's final state is what the store must hold.
  *
  * MERGE windows and SCD2 batches draw from a narrow run of neighbouring
  * keys, as late-arriving corrections to recent orders do, so a statement
  * touches few files of a key-clustered table. */
final class Dml(gen: Gen) {
  private val rnd = gen.rng("dml")
  private var stmtNo = 0

  /** Lines per touched order; untouched orders still have their base lines. */
  private val lines = mutable.Map.empty[Long, mutable.SortedSet[Int]]
  private val deleted = mutable.Set.empty[Long]
  /** Touched fact keys: `None` once deleted. */
  val factRows = mutable.Map.empty[(Long, Int), Option[FactVals]]
  /** Account balance of each customer a batch has touched. */
  val customers = mutable.Map.empty[Long, Double]
  var factCount: Long = gen.baseLineCount
  var customerVersions: Long = 0

  private def linesOf(o: Long): mutable.SortedSet[Int] =
    lines.getOrElseUpdate(o, mutable.SortedSet((1 to gen.linesOf(o)): _*))

  private def liveOrder(from: Long): Long = {
    var o = from
    while (deleted(o) || linesOf(o).isEmpty) o = o % gen.scale.orders + 1
    o
  }

  private def ts: String = f"2024-02-01 00:${stmtNo / 60 % 60}%02d:${stmtNo % 60}%02d"

  private def dec(unscaled: Long, scale: Int): BigDecimal = BigDecimal(unscaled, scale)

  /** The next statement. Kinds follow a fixed cycle, so every run sends
    * the same mix whatever its length; keys and values are seeded. */
  def next(): Stmt = {
    stmtNo += 1
    Dml.Cycle((stmtNo - 1) % Dml.Cycle.size) match {
      case "merge" => merge()
      case "update" => update()
      case "delete" => delete()
      case _ => scd2()
    }
  }

  private def merge(): Stmt = {
    val target = 20 + rnd.nextInt(31)
    var o = liveOrder(1 + rnd.nextLong(gen.scale.orders))
    val keys = mutable.ArrayBuffer.empty[(Long, Int)]
    while (keys.size < target) {
      val ls = linesOf(o).toSeq
      keys ++= ls.take(target - keys.size).map(o -> _)
      // about one order in six gains a new line
      if (keys.size < target && rnd.nextInt(6) == 0) keys += (o -> (ls.max + 1))
      o = liveOrder(o % gen.scale.orders + 1)
    }
    val rows = keys.toSeq.map { case (k, ln) =>
      val qty = dec(1 + rnd.nextInt(50), 0).setScale(4)
      val price = dec(90000 + rnd.nextInt(10000000), 2).setScale(4)
      val disc = dec(rnd.nextInt(11), 2).setScale(4)
      val net = (price * (1 - disc)).setScale(6)
      ((k, ln), FactVals(Some(qty), Some(price), Some(disc), Some(net)))
    }
    rows.foreach { case ((k, ln), v) =>
      if (!linesOf(k).contains(ln)) { linesOf(k) += ln; factCount += 1 }
      factRows((k, ln)) = Some(v)
    }
    val values = rows.map { case ((k, ln), v) =>
      s"($k, $ln, ${v.qty.get}BD, ${v.price.get}BD, ${v.disc.get}BD, ${v.net.get}BD)"
    }.mkString(",\n    ")
    val t = ts
    SqlStmt("merge",
      s"""MERGE INTO gold.fact_sales AS t
         |USING (SELECT CAST(k AS BIGINT) AS sales_order_key, CAST(ln AS INT) AS sales_line_number,
         |    CAST(q AS DECIMAL(19,4)) AS sales_qty, CAST(p AS DECIMAL(19,4)) AS sales_extended_price,
         |    CAST(d AS DECIMAL(19,4)) AS sales_discount, CAST(n AS DECIMAL(38,6)) AS sales_net_price
         |  FROM VALUES
         |    $values
         |  AS v(k, ln, q, p, d, n)) AS s
         |ON t.sales_order_key = s.sales_order_key AND t.sales_line_number = s.sales_line_number
         |WHEN MATCHED THEN UPDATE SET t.sales_qty = s.sales_qty,
         |  t.sales_extended_price = s.sales_extended_price, t.sales_discount = s.sales_discount,
         |  t.sales_net_price = s.sales_net_price, t._tf_update_date = TIMESTAMP '$t'
         |WHEN NOT MATCHED THEN INSERT (sales_order_key, sales_line_number, _tf_dim_calendar_id,
         |  _tf_dim_customer_id, _tf_dim_geography_id, sales_qty, sales_extended_price,
         |  sales_discount, sales_net_price, _tf_create_date, _tf_update_date)
         |  VALUES (s.sales_order_key, s.sales_line_number, -9, -9, -9, s.sales_qty,
         |  s.sales_extended_price, s.sales_discount, s.sales_net_price, TIMESTAMP '$t', TIMESTAMP '$t')
         |""".stripMargin, rows.size.toLong)
  }

  private def update(): Stmt = {
    val o = liveOrder(1 + rnd.nextLong(gen.scale.orders))
    val qty = dec(1 + rnd.nextInt(50), 0).setScale(4)
    linesOf(o).foreach { ln =>
      val prev = factRows.get((o, ln)).flatten.getOrElse(FactVals(None, None, None, None))
      factRows((o, ln)) = Some(prev.copy(qty = Some(qty)))
    }
    SqlStmt("update",
      s"UPDATE gold.fact_sales SET sales_qty = CAST(${qty}BD AS DECIMAL(19,4)), " +
        s"_tf_update_date = TIMESTAMP '$ts' WHERE sales_order_key = $o", linesOf(o).size.toLong)
  }

  private def delete(): Stmt = {
    val o = liveOrder(1 + rnd.nextLong(gen.scale.orders))
    val ls = linesOf(o).toSeq
    ls.foreach(ln => factRows((o, ln)) = None)
    factCount -= ls.size
    deleted += o
    lines(o) = mutable.SortedSet.empty
    SqlStmt("delete", s"DELETE FROM gold.fact_sales WHERE sales_order_key = $o", ls.size.toLong)
  }

  private def scd2(): Stmt = {
    val n = 5 + rnd.nextInt(16)
    val c = gen.scale.customers
    val from = 1 + rnd.nextLong(math.max(1, c - 200))
    val keys = Iterator.continually(from + rnd.nextLong(math.min(200L, c.toLong)))
      .map(k => (k - 1) % c + 1).distinct.take(n).toSeq.sorted
    // balances above any generated one, unique per statement: every row changes
    val rows = keys.zipWithIndex.map { case (k, i) =>
      CustomerRow(k, Gen.custName(k), gen.custNation(k), 20000.0 + stmtNo + i / 100.0, gen.custSegment(k))
    }
    rows.foreach(r => customers(r.key) = r.acctbal)
    customerVersions += rows.size
    Scd2Batch(rows, ts)
  }
}

object Dml {
  /** Statement kinds in the order the writer sends them: MERGE upserts
    * most often, as trickle corrections arrive, then SCD2 batches. */
  val Cycle: Seq[String] = Seq("merge", "scd2", "update", "delete", "merge", "scd2")
}
