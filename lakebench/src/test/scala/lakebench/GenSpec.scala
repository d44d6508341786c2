package lakebench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  // the build points java.io.tmpdir inside target/, which may not exist yet
  Files.createDirectories(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
  private lazy val spark: SparkSession = graft.core.GraftSession.local(2)
  override def afterAll(): Unit = spark.stop()

  private val scale = Scale(customers = 60, orders = 400, newOrdersPerDay = 20)

  /** SHA-256 of every data file, by table and task number (file names
    * otherwise carry a random id). */
  private def digests(dir: Path): Map[String, String] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(p => p.getFileName.toString.startsWith("part-")).map { p =>
      val name = p.getFileName.toString
      val key = dir.relativize(p.getParent).toString + "/" + name.take("part-00000".length)
      key -> MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
    }.toMap
    finally s.close()
  }

  test("one seed writes byte-identical snapshots; another seed does not") {
    val base = Files.createTempDirectory("lakebench_gen")
    def snap(seed: Long, day: Int, name: String): Map[String, String] = {
      val d = base.resolve(name)
      new Gen(seed, scale).writeSnapshot(spark, d.toString, day)
      digests(d)
    }
    val a = snap(7, 2, "a")
    assert(a.size >= 5)
    assert(snap(7, 2, "b") == a)
    assert(snap(8, 2, "c") != a)
    assert(snap(7, 3, "d") != a)
    Main.deleteTree(base)
  }

  test("daily snapshots change a few percent of rows, drop customers and add orders") {
    val g = new Gen(11, scale)
    val c0 = g.customer(spark, 0)
    val c1 = g.customer(spark, 1)
    assert(c0.count() == scale.customers)
    assert(c1.count() < scale.customers)
    val o1 = g.orders(spark, 1)
    assert(o1.count() == scale.orders + scale.newOrdersPerDay)
    assert(o1.agg(max("o_orderkey")).head().getLong(0) == scale.orders + scale.newOrdersPerDay)
    val keys = Seq("l_orderkey", "l_linenumber")
    val l0 = Workloads.dedup(g.lineitem(spark, 0), keys).alias("a")
    val l1 = Workloads.dedup(g.lineitem(spark, 1), keys).alias("b")
    val changed = l0.join(l1, keys)
      .filter(col("a.l_quantity") =!= col("b.l_quantity") || col("a.l_discount") =!= col("b.l_discount"))
      .count().toDouble / l0.count()
    assert(changed > 0.005 && changed < 0.1, s"changed share $changed")
  }

  test("the Scala twins agree with the generated data") {
    val g = new Gen(5, scale)
    val lines = g.lineitem(spark, 0).groupBy("l_orderkey").agg(max("l_linenumber"), countDistinct("l_linenumber"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    (1L to scale.orders).foreach { o =>
      assert(lines(o) == ((g.linesOf(o), g.linesOf(o).toLong)), s"order $o")
    }
    assert(g.baseLineCount == lines.values.map(_._2).sum)
    g.customer(spark, 0).collect().foreach { r =>
      val k = r.getAs[Long]("c_custkey")
      assert(r.getAs[String]("c_name") == Gen.custName(k))
      assert(r.getAs[Int]("c_nationkey") == g.custNation(k))
      assert(r.getAs[String]("c_mktsegment") == g.custSegment(k))
    }
  }

  test("statement and query streams are a function of the seed") {
    def stmts(seed: Long): Seq[String] = {
      val d = new Dml(new Gen(seed, scale))
      Seq.fill(24)(d.next()).map {
        case s: SqlStmt => s.sql
        case b: Scd2Batch => b.toString
      }
    }
    assert(stmts(3) == stmts(3))
    assert(stmts(3) != stmts(4))
    def queries(seed: Long): Seq[String] = {
      val q = new Workloads.Queries(new Gen(seed, scale), "reads", Workloads.DashboardCycle)
      Seq.fill(50)(q.next().sql)
    }
    assert(queries(3) == queries(3))
    assert(queries(3) != queries(4))
  }

  test("every statement changes rows that exist, and the model tracks the row count") {
    val g = new Gen(9, scale)
    val d = new Dml(g)
    var count = g.baseLineCount
    Seq.fill(60)(d.next()).foreach { s =>
      assert(s.changed > 0, s.kind)
      s match {
        case q: SqlStmt if q.kind == "delete" => count -= q.changed
        case _ =>
      }
    }
    assert(d.factCount <= g.baseLineCount + 60 * 50 && d.factCount >= count)
  }

  test("the declared metrics match what the harness reports") {
    val json = new String(Files.readAllBytes(java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")
    def names(kind: String): Seq[String] = {
      val block = json.substring(json.indexOf("\"" + kind + "\""))
      val body = block.substring(block.indexOf('['), block.indexOf(']'))
      "\"name\": \"([^\"]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
    }
    assert(names("end_to_end") == Metrics.endToEnd.map(_._1))
    assert(names("per_layer") == Metrics.perLayer.map(_._1))
  }
}
