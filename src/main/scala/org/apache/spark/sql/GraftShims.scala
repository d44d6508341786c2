package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `private[sql]` classic Column↔Expression converters —
  * the supported extension-point pattern for libraries that add native
  * Catalyst expressions on Spark 4's unified Column API. */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** Build a DataFrame over a logical plan (resolves against the session's
    * live catalog, temp views included). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** A parquet scan over `index` with an explicit data schema and no
    * partition columns — the relation `spark.read.schema(s).parquet(…)`
    * builds, minus the path listing: the index alone decides which files
    * the scan opens. The schema is made nullable as the reader does for a
    * user-specified schema, so a file missing a column NULL-fills it. */
  def parquetScan(spark: SparkSession, index: execution.datasources.FileIndex,
      dataSchema: types.StructType): DataFrame = {
    val relation = execution.datasources.HadoopFsRelation(index,
      partitionSchema = new types.StructType(),
      dataSchema = catalyst.util.CharVarcharUtils
        .replaceCharVarcharWithStringInSchema(dataSchema).asNullable,
      bucketSpec = None,
      fileFormat = new execution.datasources.parquet.ParquetFileFormat(),
      options = Map.empty)(spark)
    ofRows(spark, execution.datasources.LogicalRelation(relation))
  }
  /** The analyzed logical plan of a DataFrame — for splicing a
    * library-built relation into an analyzer rule's output. */
  def analyzedPlan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed
  /** Eagerly convert a Column to its resolved-at-the-leaves Catalyst tree
    * (`expression` returns a lazy ColumnNode wrapper whose operators are
    * still unresolved function names — useless for structural matching). */
  def catalystExpr(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)
  /** Drain the async listener bus — lets tests read SparkListener counters
    * deterministically instead of sleeping. */
  def waitListenerBusEmpty(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Whether the cache manager already holds an entry answering this
    * frame's plan — the guard that makes re-persisting an already-cached
    * plan a true no-op instead of a WARN ("Asked to cache already cached
    * data") plus a redundant registration attempt. Used by the pinned-
    * generation cache so a REPEATED operator call on the same input finds
    * and reuses the previous call's materialized blocks. */
  def isCached(df: DataFrame): Boolean = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds).isDefined
  }

  /** Release the storage behind a checkpointed DataFrame
    * (`Dataset.unpersist` only talks to the cache manager, which never
    * sees checkpoint state): drops the executor-storage blocks of a
    * `localCheckpoint()`, and — with `deleteFiles = true` — ALSO deletes
    * the `ReliableCheckpointRDD` files a reliable `checkpoint()` wrote
    * under the session's checkpoint dir. Spark never deletes those on its
    * own, so without the file delete every superseded loop round (BPE
    * segments, dupClusters labels, incremental indexes) would leave a
    * dead table copy on HDFS/S3 for the job's lifetime.
    *
    * `deleteFiles` defaults to FALSE because the file delete is
    * unrecoverable: a checkpoint has no lineage to recompute from, so if
    * two Datasets share the checkpointed RDD (or the frame is not truly
    * dead) the survivor fails on next access. Loop-internal
    * superseded-state callers — the only sites that KNOW the previous
    * round's state is dead — opt in explicitly. No-op on non-checkpoint
    * plans. */
  def unpersistCheckpoint(df: DataFrame, deleteFiles: Boolean = false): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        if (deleteFiles) l.rdd.getCheckpointFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
          fs.delete(p, true)
          ()
        }
      case _ => ()
    }

  /** Executor-shippable parquet file reader over a fixed schema — the
    * bridge a DSv2 `PartitionReaderFactory` needs to read the store's data
    * files with Spark's own parquet machinery (predicate/NULL-fill
    * semantics identical to `spark.read.schema(...).parquet(...)`: a file
    * missing one of `schema`'s columns NULL-fills it, which is what makes
    * the streaming source read correctly across metadata-only schema
    * evolution). Built on `FileFormat.buildReaderWithPartitionValues`, the
    * same `private[sql]` entry point `FileSourceScanExec` uses; row-based
    * output is forced (`OPTION_RETURNING_BATCH -> false`) because the DSv2
    * row contract wants `InternalRow`s, not disguised `ColumnarBatch`es. */
  def parquetFileReader(spark: SparkSession,
      dataSchema: org.apache.spark.sql.types.StructType,
      requiredSchema: org.apache.spark.sql.types.StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil):
      (String, Long) => Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val classicSpark = spark.asInstanceOf[classic.SparkSession]
    val fmt = new ParquetFileFormat()
    val readFn = fmt.buildReaderWithPartitionValues(
      sparkSession = classicSpark,
      dataSchema = dataSchema,
      partitionSchema = new org.apache.spark.sql.types.StructType(),
      requiredSchema = requiredSchema,
      filters = filters,
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = classicSpark.sessionState.newHadoopConfWithOptions(Map.empty))
    (path: String, length: Long) => readFn(PartitionedFile(
      partitionValues = org.apache.spark.sql.catalyst.InternalRow.empty,
      filePath = org.apache.spark.paths.SparkPath.fromPathString(path),
      start = 0L,
      length = length))
  }
}
