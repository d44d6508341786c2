package graft

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets
import org.scalatest.funsuite.AnyFunSuite
import graft.serving.SqlServer

/** Live-TCP tests of the SQL serving endpoint: real sockets, real
  * concurrent clients, warehouse session semantics (shared catalog,
  * isolated temp state), error transport, and the driver-memory result
  * cap. */
class SqlServerSpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)

  private class Client(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    private val out = new PrintWriter(sock.getOutputStream, true, StandardCharsets.UTF_8)
    private val in = new BufferedReader(
      new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
    def sql(q: String): String = { out.println(q); in.readLine() }
    def close(): Unit = sock.close()
  }

  private def withServer(f: Int => Unit): Unit = {
    val srv = new SqlServer(spark, port = 0, maxRows = 100).start()
    try f(srv.boundPort) finally srv.stop()
  }

  test("round trip: literal select over the wire") {
    withServer { port =>
      val c = new Client(port)
      try {
        val r = c.sql("SELECT 1 AS one, 'a' AS s, CAST(NULL AS INT) AS n")
        assert(r.contains(""""columns":["one","s","n"]"""), r)
        assert(r.contains("""["1","a",null]"""), r)
        assert(r.contains(""""rowCount":1"""), r)
      } finally c.close()
    }
  }

  test("a store table attached to the server session is readable over the wire") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_srv").toString)
    try {
      // a name no other spec's store holds: the suite shares one session
      store.createOrReplace("srvspec.t", spark.range(0, 10).toDF("k"))
      withServer { port =>
        val c = new Client(port)
        try {
          val r = c.sql("SELECT count(*) AS n FROM srvspec.t WHERE k < 4")
          assert(r.contains("""["4"]"""), r)
        } finally c.close()
      }
    } finally store.detach()
  }

  test("temp views are session-isolated; saved tables are shared (warehouse semantics)") {
    withServer { port =>
      val a = new Client(port); val b = new Client(port)
      try {
        a.sql("CREATE TEMP VIEW mine AS SELECT 42 AS v")
        assert(a.sql("SELECT v FROM mine").contains("\"42\""))
        assert(b.sql("SELECT v FROM mine").contains("error"),
          "client B must not see client A's temp view")
        // shared catalog: a real (session-independent) view is visible to both
        a.sql("CREATE OR REPLACE VIEW shared_v AS SELECT 7 AS v")
        assert(b.sql("SELECT v FROM shared_v").contains("\"7\""),
          "catalog objects must be shared across sessions")
        a.sql("DROP VIEW shared_v")
      } finally { a.close(); b.close() }
    }
  }

  test("a runaway query is cancelled at the timeout; other sessions keep serving") {
    val srv = new SqlServer(spark, port = 0, maxRows = 100,
      queryTimeoutSec = 2).start()
    try {
      val slow = new Client(srv.boundPort)
      val fast = new Client(srv.boundPort)
      try {
        // ~1e11 generated rows — minutes of work if uncancelled. The agg
        // is modulo-bounded so ANSI mode can never overflow it into an
        // early error: the statement must die by CANCELLATION, not by
        // arithmetic
        val runaway = new Thread {
          var resp: String = _
          override def run(): Unit = resp = slow.sql(
            "SELECT sum((a.id + b.id) % 7) FROM range(1000000) a CROSS JOIN range(100000) b")
        }
        val t0 = System.nanoTime()
        runaway.start()
        // the other connection stays responsive WHILE the runaway burns
        Thread.sleep(500)
        assert(fast.sql("SELECT 7 AS v").contains("\"7\""),
          "a second session must answer while the runaway query runs")
        runaway.join(90000)
        val wall = (System.nanoTime() - t0) / 1e9
        assert(runaway.resp != null, "runaway client never got an answer")
        assert(runaway.resp.contains("cancelled"), runaway.resp)
        assert(wall < 90, f"cancellation took $wall%.1fs — not a cancel")
        // the slow CONNECTION survives its cancelled statement
        assert(slow.sql("SELECT 1 AS v").contains("\"1\""),
          "a cancelled statement must not kill the connection")
      } finally { slow.close(); fast.close() }
    } finally srv.stop()
  }

  test("statements from concurrent clients interleave without cross-talk") {
    withServer { port =>
      val threads = (0 until 4).map { i =>
        new Thread {
          var ok = false
          override def run(): Unit = {
            val c = new Client(port)
            try {
              c.sql(s"CREATE TEMP VIEW t$i AS SELECT $i AS v")
              ok = (0 until 5).forall { _ =>
                c.sql(s"SELECT v + 0 FROM t$i").contains("\"" + i + "\"")
              }
            } finally c.close()
          }
        }
      }
      threads.foreach(_.start()); threads.foreach(_.join(60000))
      assert(threads.forall(_.ok), "every client must read only its own session state")
    }
  }

  test("errors travel as JSON, the connection survives, results cap at maxRows") {
    withServer { port =>
      val c = new Client(port)
      try {
        assert(c.sql("SELECT * FROM nope_not_here").contains("error"))
        // connection still usable after an error
        assert(c.sql("SELECT 5").contains("\"5\""))
        val big = c.sql("SELECT explode(sequence(1, 500)) AS v")
        assert(big.contains(""""rowCount":100""") && big.contains(""""truncated":true"""),
          "serving endpoints must never buffer unbounded results")
      } finally c.close()
    }
  }
}
