package lakebench

import java.nio.file.{Files, Path, Paths}

import graft.core.GraftSession

/** Runs one workload of the lakehouse benchmark and prints its result as
  * the last line of standard output:
  *
  * {{{
  * lakebench.Main --workload nightly_refresh|bi_dashboard|trickle_dml
  *   --seed N --seconds S --trace 0|1 --work DIR
  *   [--untraced-op-p50 MS] [--commit SHA]
  * }}}
  *
  * With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
  * the bench registers its listeners and spans and reports the per-layer
  * ones, plus the tracing overhead against `--untraced-op-p50`. Earlier
  * lines carry the run's configuration and a readable report. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = opt("workload")
    if (!Workloads.names.contains(workload))
      usage(s"unknown workload $workload; expected one of ${Workloads.names.mkString(", ")}")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val code = try {
      Files.createDirectories(work)
      val spark = GraftSession.local(Workloads.Cores)
      try {
        val sqlConf = spark.conf.getAll.filter(_._1.startsWith("spark.sql.")).toSeq.sorted
        val config = Seq(
          "workload" -> workload, "seed" -> seed.toString, "seconds" -> seconds.toString,
          "trace" -> traced.toString, "setups" -> Workloads.Setups.toString,
          "cores" -> Workloads.Cores.toString, "master" -> spark.sparkContext.master,
          "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
          "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
          "jdk" -> System.getProperty("java.version"),
          "commit" -> opts.getOrElse("commit", "unknown")) ++ sqlConf
        println("lakebench config " + Json.obj(config.map { case (k, v) => k -> Json.str(v) }))
        val tracer = new Tracer(traced)
        val run = new Run(spark, seed, tracer, work, seconds)
        val out = Workloads.run(workload, run)
        out.report.foreach { case (k, v) => println(s"lakebench report $k: $v") }
        val metrics = if (!traced) out.metrics else {
          val p50 = out.metrics.find(_._1 == "trace.op_p50_ms").map(_._2).getOrElse(0.0)
          val overhead = opts.get("untraced-op-p50").map(_.toDouble).filter(_ > 0)
            .map(ref => (p50 / ref - 1) * 100).getOrElse(0.0)
          writeSpans(work.resolve(s"spans-$workload-$seed.jsonl"), tracer)
          out.metrics :+ (("trace.overhead_pct", overhead, "%"))
        }
        val bad = metrics.filterNot(m => java.lang.Double.isFinite(m._2))
        require(bad.isEmpty, s"metrics without a finite value: ${bad.map(_._1).mkString(", ")}")
        println(Json.obj(Seq(
          "correct" -> (if (out.failed == 0) "true" else "false"),
          "attempted" -> out.attempted.toString,
          "failed" -> out.failed.toString,
          "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
            k -> Json.obj(Seq("value" -> v.toString, "unit" -> Json.str(u)))
          }))))
        0
      } finally spark.stop()
    } catch {
      case e: Throwable =>
        System.err.println("lakebench failure: " + describe(e))
        e.printStackTrace()
        1
    }
    System.out.flush()
    // ends any thread a failed run left behind, so the process always exits
    sys.exit(code)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"lakebench: $msg")
    sys.exit(2)
  }

  /** Exception class and message, then those of each cause: the header a
    * failure prints before any stack frame. */
  def describe(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(5)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString(" | caused by ")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  /** Every span of the traced run, job spans included, one JSON object a
    * line: written once, when the run ends. */
  private def writeSpans(path: Path, t: Tracer): Unit = {
    val lines = (t.spanList ++ Ledger.jobSpans(t)).sortBy(_.start).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "op" -> s.op.toString,
        "parent" -> s.parent.map(_.toString).getOrElse("null"), "layer" -> Json.str(s.layer),
        "name" -> Json.str(s.name), "start_ns" -> s.start.toString, "end_ns" -> s.end.toString))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Just enough JSON writing for the result line: values arrive encoded. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
