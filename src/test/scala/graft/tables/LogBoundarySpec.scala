package graft.tables

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The table log's files are named in one place: no main source other
  * than `TableLog.scala` may name them on a code line (comments may), so
  * every read and write of a pointer, manifest, lock, metadata file,
  * retirement record or transaction intent goes through [[TableLog]]. */
class LogBoundarySpec extends AnyFunSuite {

  private val logFiles = Seq("_CURRENT", "_MANIFEST", "_COMMIT_LOCK", "_META",
    "_RETIRED", "_retired_v_", "_txn_intents")

  /** A source line without its comment (`//` tails, scaladoc and block
    * comment lines). */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
    else t.indexOf("//") match { case -1 => t; case i => t.substring(0, i) }
  }

  private def namedIn(f: Path): Seq[(Int, String)] =
    Files.readAllLines(f, UTF_8).asScala.toSeq.zipWithIndex.collect {
      case (l, i) if logFiles.exists(code(l).contains) => (i + 1, l.trim)
    }

  test("only TableLog.scala names the table log's files on a code line") {
    val main = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(main), s"run from the project root (no $main)")
    val sources = TableLog.walkAll(main).filter(_.toString.endsWith(".scala"))
    val (log, others) = sources.partition(_.getFileName.toString == "TableLog.scala")
    // the scan is live: the owner itself names every file
    assert(log.size == 1)
    val owned = namedIn(log.head).map(_._2)
    assert(logFiles.forall(n => owned.exists(_.contains(n))),
      s"TableLog.scala no longer names ${logFiles.filterNot(n => owned.exists(_.contains(n)))}")
    val offenders = others.flatMap(f => namedIn(f).map { case (i, l) => s"$f:$i: $l" })
    assert(offenders.isEmpty,
      s"table log files named outside TableLog:\n${offenders.mkString("\n")}")
  }
}
