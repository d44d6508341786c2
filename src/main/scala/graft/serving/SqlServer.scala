package graft.serving

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeoutException, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.SparkSession

/** Minimal network SQL serving endpoint — the role the reference fills
  * with a serverless SQL warehouse in front of Power BI
  * (finalize_databricks_deployment.py:330-361, README.md:143-161): remote
  * clients submit SQL text over TCP and get result sets back, each client
  * in its own session against the shared catalog.
  *
  * The environment ships no Hive thriftserver jars, so the wire protocol
  * is deliberately simple and dependency-free: newline-delimited UTF-8.
  * The client sends one SQL statement per line; the server answers with
  * exactly one JSON line — `{"columns":[…],"rows":[[…],…],"rowCount":n,
  * "truncated":bool}` on success, `{"error":"…"}` on failure — and keeps
  * the connection open for the next statement.
  *
  * Session semantics match a warehouse endpoint: every connection gets
  * `spark.newSession()` — isolated temp views, isolated SQL conf, SHARED
  * catalog and shared cached data, plus every `TableStore` attached to
  * the server's session — so two clients see each other's saved tables
  * and the stores' tables but never each other's temp state. Statement
  * execution is fully concurrent (Spark's scheduler multiplexes jobs from all
  * sessions); the server adds no global lock.
  *
  * Scale notes: the result set is capped at `maxRows` (row 10_001 sets
  * `truncated` — a serving endpoint must never buffer an unbounded query
  * result in driver memory; clients page with LIMIT/OFFSET like they do
  * against any warehouse). Values cross the wire as strings (exact
  * `CAST(x AS STRING)` of each column) — a BI client's display layer, not
  * an exchange format.
  *
  * Runaway isolation: every statement runs under its own Spark job group
  * (keyed by connection + statement ordinal) with a wall-clock budget of
  * `queryTimeoutSec`. On expiry the server `cancelJobGroup`s it —
  * `interruptOnCancel` kills its tasks — and answers that client with an
  * error line; every other connection's statements keep running untouched
  * (job groups are per-thread, cancellation is per-group). One hung or
  * hostile client can therefore never wedge the warehouse role.
  */
final class SqlServer(spark: SparkSession, port: Int = 0, maxRows: Int = 10000,
    queryTimeoutSec: Int = 300) {

  private val server = new ServerSocket(port)
  private val pool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-sql-server")
    t.setDaemon(true)
    t
  }
  private val running = new AtomicBoolean(false)

  /** The bound port (useful with port=0 for an ephemeral choice). */
  def boundPort: Int = server.getLocalPort

  def start(): this.type = {
    running.set(true)
    pool.submit(new Runnable {
      def run(): Unit =
        while (running.get()) {
          try {
            val sock = server.accept()
            pool.submit(new Runnable { def run(): Unit = serve(sock) })
          } catch {
            case _: SocketException => () // closed during stop()
          }
        }
    })
    this
  }

  def stop(): Unit = {
    running.set(false)
    server.close()
    pool.shutdownNow()
  }

  private val connSeq = new AtomicLong(0L)

  private def serve(sock: Socket): Unit = {
    val session = spark.newSession()
    // store tables resolve by name through the session's attached stores
    graft.tables.TableStore.attachAll(spark, session)
    val connId = connSeq.incrementAndGet()
    var stmtSeq = 0L
    val in = new BufferedReader(
      new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
    val out = new PrintWriter(sock.getOutputStream, true, StandardCharsets.UTF_8)
    try {
      var line = in.readLine()
      while (line != null) {
        val sql = line.trim
        if (sql.nonEmpty) {
          stmtSeq += 1
          out.println(executeGoverned(session, sql, s"graft-sql-$connId-$stmtSeq"))
        }
        line = in.readLine()
      }
    } catch {
      case _: SocketException => () // client went away mid-statement
    } finally sock.close()
  }

  /** Run one statement under its own job group with a wall-clock budget.
    * The statement executes on a pool thread (job groups are thread-local,
    * so the group is set THERE); this thread owns the clock and, on
    * expiry, cancels exactly that group — tasks of every other connection
    * are in other groups and unaffected. */
  private def executeGoverned(session: SparkSession, sql: String,
      group: String): String = {
    val finished = new AtomicBoolean(false)
    val task = pool.submit(new java.util.concurrent.Callable[String] {
      def call(): String = {
        session.sparkContext.setJobGroup(group,
          s"sql: ${sql.take(80)}", interruptOnCancel = true)
        try execute(session, sql)
        finally {
          finished.set(true)
          session.sparkContext.clearJobGroup()
        }
      }
    })
    try task.get(queryTimeoutSec.toLong, TimeUnit.SECONDS)
    catch {
      case _: TimeoutException =>
        session.sparkContext.cancelJobGroup(group)
        task.cancel(true) // interrupts the statement thread too
        // RACE GUARD: if the timeout fired while the statement was still
        // PLANNING, no job existed to cancel and one submitted a moment
        // later would run as an orphan hogging the cluster. Keep
        // re-cancelling the group until the statement thread actually
        // exits (bounded; daemon pool).
        pool.submit(new Runnable {
          def run(): Unit = {
            var tries = 0
            while (!finished.get() && tries < 600) {
              Thread.sleep(500)
              session.sparkContext.cancelJobGroup(group)
              tries += 1
            }
          }
        })
        s"""{"error":${jstr(s"query exceeded ${queryTimeoutSec}s and was cancelled")}}"""
      case e: java.util.concurrent.ExecutionException =>
        // execute() catches per-statement errors itself; this is the
        // pool-level belt-and-braces path
        s"""{"error":${jstr(Option(e.getCause).getOrElse(e).getMessage.take(500))}}"""
    }
  }

  private def execute(session: SparkSession, sql: String): String =
    try {
      val df = session.sql(sql)
      val cols = df.columns.toSeq
      // cast every column to string so the wire format is type-agnostic;
      // take maxRows + 1 to detect truncation without a count() job
      val strung = df.selectExpr(
        cols.map(c => s"CAST(`${c.replace("`", "``")}` AS STRING)"): _*)
      val rows = strung.take(maxRows + 1)
      val truncated = rows.length > maxRows
      val kept = if (truncated) rows.take(maxRows) else rows
      val sb = new StringBuilder("{\"columns\":[")
      sb.append(cols.map(jstr).mkString(","))
      sb.append("],\"rows\":[")
      var first = true
      kept.foreach { r =>
        if (!first) sb.append(',')
        first = false
        sb.append('[')
        var i = 0
        while (i < r.length) {
          if (i > 0) sb.append(',')
          if (r.isNullAt(i)) sb.append("null") else sb.append(jstr(r.getString(i)))
          i += 1
        }
        sb.append(']')
      }
      sb.append("],\"rowCount\":").append(kept.length)
      sb.append(",\"truncated\":").append(truncated).append('}')
      sb.toString
    } catch {
      case e: Throwable =>
        s"""{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(500))}}"""
    }

  private def jstr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
