package graft.tables

import java.nio.file.{Files, Path}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.hadoop.fs.{FileStatus, Path => HadoopPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** Spark `FileIndex` over one committed manifest of a store table: the
  * file list comes from the manifest, so a read never globs or lists the
  * filesystem, and `listFiles` keeps only the files whose manifest stats
  * admit the data filters `FileSourceStrategy` pushes. SQL lookups,
  * `read(name).filter(…)` and the scans inside MERGE/UPDATE/DELETE all
  * reach this one pruning point.
  *
  * `select` maps a pushed filter (physical column names, the relation's
  * output) to the manifest-relative paths it may touch; the store builds
  * it once per index with column mapping and bloom columns already
  * resolved, so a scan does no metadata reads of its own.
  *
  * The index is a value: two indexes are equal exactly when table
  * directory, manifest version and file list are equal. Two reads of one
  * version therefore keep equal canonicalized plans (cache lookups,
  * pinned-generation keys, exchange reuse), and a read after a new commit
  * does not match. Files are stat-ed lazily, once per index: `listFiles`
  * stats only the files it keeps, `sizeInBytes` all of them. */
final class ManifestFileIndex private[tables] (
    val tableDir: Path,
    val version: Int,
    val files: Seq[String],
    select: Expression => Seq[String]) extends FileIndex {

  private val statuses = new java.util.concurrent.ConcurrentHashMap[String, FileStatus]()

  private def status(rel: String): FileStatus = statuses.computeIfAbsent(rel, r => {
    val p = tableDir.resolve(r)
    val a = Files.readAttributes(p, classOf[BasicFileAttributes])
    new FileStatus(a.size, false, 1, 32L << 20, a.lastModifiedTime.toMillis,
      new HadoopPath(p.toUri))
  })

  override def rootPaths: Seq[HadoopPath] = Seq(new HadoopPath(tableDir.toUri))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = if (dataFilters.isEmpty) files else select(dataFilters.reduce(And))
    Seq(PartitionDirectory(InternalRow.empty, kept.map(r => FileStatusWithMetadata(status(r)))))
  }

  override def inputFiles: Array[String] = files.map(status(_).getPath.toString).toArray

  /** A committed manifest never changes. */
  override def refresh(): Unit = ()

  override lazy val sizeInBytes: Long = files.iterator.map(status(_).getLen).sum

  override def partitionSchema: StructType = new StructType()

  override def equals(other: Any): Boolean = other match {
    case o: ManifestFileIndex =>
      version == o.version && tableDir == o.tableDir && files == o.files
    case _ => false
  }

  override def hashCode: Int = (tableDir, version, files).##

  override def toString: String = s"ManifestFileIndex($tableDir@v$version, ${files.size} files)"
}
