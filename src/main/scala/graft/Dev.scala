package graft

import graft.core.GraftSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import scala.collection.concurrent.TrieMap

/** Dev tools over [[SparkEntry.queries]]. The subcommands share one
  * [[GraftSession]] session (`SPARK_GRAFT_CPUS` cores) and read the data
  * at `SPARK_GRAFT_SF_DIR`. Usage:
  *   SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.Dev <subcommand>"
  *
  *  - `plans <outDir> <suffix> <query...>`: dump `.explain("formatted")`
  *    for named queries into files — the plan evidence the optimization
  *    rounds commit under plans/rNN/. E.g.
  *    `plans plans/r16 before q23_pipeline_fact x68_pagerank` writes
  *    plans/r16/<query>_before.txt per query. Queries that drive scratch
  *    stores execute their DML during construction — the dumped plan is
  *    the RETURNED frame's, the artifact plan claims are checked against.
  *  - `profile <query>`: run one named query twice with a job-level
  *    listener, printing each Spark job's wall time and call site — the
  *    quickest way to see which phase of a multi-job operator (quantile
  *    sketch, rewrite, commit, read-back) actually costs the seconds the
  *    bench reports. E.g. `profile q44_zorder_read`. Each run also
  *    prints its Janino compiles (`codegen_compiles`, `codegen_ms`).
  *  - `inspect`: run the medallion pipeline (q23's body) into a scratch
  *    store and print every table's file count and byte sizes — the §6
  *    output-sizing evidence the optimization round needs (the bench's
  *    Scratch.seal deletes the store before it can be inspected).
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args.toList match {
      case "plans" :: outDir :: suffix :: names if names.nonEmpty =>
        plans(_, outDir, suffix, names)
      case List("profile", name) => profile(_, name)
      case List("inspect") => inspect(_)
      case _ => throw new IllegalArgumentException(
        "usage: Dev plans <outDir> <suffix> <query...> | profile <query> | inspect")
    }
    val spark = GraftSession.local()
    try run(spark) finally spark.stop()
  }

  private def query(name: String) =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))

  private def plans(spark: SparkSession, outDir: String, suffix: String,
      names: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = query(name)(spark, GraftSession.sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plans] wrote $outDir/${name}_$suffix.txt (${txt.length} chars)")
      GraftSession.clearState(spark)
    }
  }

  private def profile(spark: SparkSession, name: String): Unit = {
    val fn = query(name)
    val runStart = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    def off(t: Long): Double = (t - runStart.get()) / 1e9
    val starts = TrieMap.empty[Int, (Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))
            .orElse(Option(p.getProperty("callSite.short"))))
          // fall back to the result stage's call site — SQL-executed jobs
          // carry no description but every stage names its action site
          .orElse(js.stageInfos.lastOption.map(si =>
            si.name + " [" + js.stageInfos.map(_.numTasks).sum + " tasks/" +
              js.stageInfos.size + " stages]"))
          .getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.get(je.jobId).foreach { case (t0, site) =>
          val now = System.nanoTime()
          println(f"[job ${je.jobId}%3d] ${(now - t0) / 1e9}%7.3f s  " +
            f"(at ${off(t0)}%6.3f..${off(now)}%6.3f)  $site")
        }
    })

    (1 to 2).foreach { i =>
      println(s"=== run $i of $name ===")
      val t0 = System.nanoTime()
      runStart.set(t0)
      val compiles0 = Compiles.mark()
      val n = fn(spark, GraftSession.sfDir).count()
      val cg = compiles0.since
      println(f"=== run $i total ${(System.nanoTime() - t0) / 1e9}%.3f s, $n rows, " +
        f"codegen_compiles=${cg.count} codegen_ms=${cg.ms}%.1f ===")
      GraftSession.clearState(spark)
    }
  }

  private def inspect(spark: SparkSession): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_inspect")
    val store = new graft.tables.TableStore(spark, root.toString)
    val t0 = System.nanoTime()
    new graft.pipeline.Medallion(spark, store, GraftSession.sfDir)
      .run(org.apache.spark.sql.functions.lit("2024-01-01 00:00:00"))
    println(f"medallion run: ${(System.nanoTime() - t0) / 1e9}%.2f s")

    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator().asScala.toVector finally walk.close()
    val parquets = files.filter(_.getFileName.toString.endsWith(".parquet"))
    parquets.groupBy(p => root.relativize(p).toString.split('/').take(2).mkString("/"))
      .toSeq.sortBy(_._1)
      .foreach { case (tbl, fs) =>
        val sizes = fs.map(f => java.nio.file.Files.size(f))
        println(f"$tbl%-40s files=${fs.size}%4d total=${sizes.sum / 1024}%8d KB " +
          f"min=${sizes.min / 1024}%6d KB max=${sizes.max / 1024}%6d KB")
      }
    store.detach()
    queries.Scratch.deleteRecursively(root)
  }
}
