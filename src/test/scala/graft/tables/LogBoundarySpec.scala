package graft.tables

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The table log's files are named in one place: no main source other
  * than `TableLog.scala` may name them on a code line (comments may), so
  * every read and write of a pointer, manifest, lock, metadata file,
  * retirement record or transaction intent goes through [[TableLog]].
  * Likewise the metadata's internal key prefixes are named only beside
  * [[TableMeta]], and a version directory is allocated only by the log's
  * one staging step ([[TableLog.stage]]). */
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

  /** The prefixes of the engine-internal table-property keys: named on a
    * code line (in a string literal) only by the file that holds
    * [[TableMeta]], the one codec of `_META`'s key scheme. */
  private val keyPrefixes = Seq("colmap.", "coldrop.", "gencol.", "identity.", "notnull.",
    "coldefault.", "check.", "fk.", "mv.", "zorder.", "bloom.")

  private def prefixesIn(f: Path): Seq[(Int, String)] =
    Files.readAllLines(f, UTF_8).asScala.toSeq.zipWithIndex.collect {
      case (l, i) if keyPrefixes.exists(p => code(l).contains("\"" + p)) => (i + 1, l.trim)
    }

  test("only the file holding TableMeta names an internal property-key prefix on a code line") {
    val main = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(main), s"run from the project root (no $main)")
    val sources = TableLog.walkAll(main).filter(_.toString.endsWith(".scala"))
    val (owner, others) = sources.partition(f =>
      Files.readAllLines(f, UTF_8).asScala.exists(_.startsWith("final case class TableMeta(")))
    // the scan is live: the owner itself names every prefix
    assert(owner.size == 1, s"TableMeta is declared in ${owner.size} files")
    val owned = prefixesIn(owner.head).map(_._2)
    val missing = keyPrefixes.filterNot(p => owned.exists(_.contains("\"" + p)))
    assert(missing.isEmpty, s"${owner.head} no longer names $missing")
    val offenders = others.flatMap(f => prefixesIn(f).map { case (i, l) => s"$f:$i: $l" })
    assert(offenders.isEmpty,
      s"internal property keys named outside TableMeta's file:\n${offenders.mkString("\n")}")
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

  test("only TableLog.scala allocates a version directory (names allocateVersion on a code line)") {
    val main = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(main), s"run from the project root (no $main)")
    val sources = TableLog.walkAll(main).filter(_.toString.endsWith(".scala"))
    val (log, others) = sources.partition(_.getFileName.toString == "TableLog.scala")
    def allocating(f: Path): Seq[(Int, String)] =
      Files.readAllLines(f, UTF_8).asScala.toSeq.zipWithIndex.collect {
        case (l, i) if code(l).contains("allocateVersion") => (i + 1, l.trim)
      }
    // the scan is live: the owner itself calls it
    assert(log.size == 1 && allocating(log.head).nonEmpty,
      "TableLog.scala no longer names allocateVersion on a code line")
    val offenders = others.flatMap(f => allocating(f).map { case (i, l) => s"$f:$i: $l" })
    assert(offenders.isEmpty,
      s"version directories allocated outside TableLog.stage:\n${offenders.mkString("\n")}")
  }
}
