package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` API surface, the standard pattern for Spark
  * extension libraries: `classic.ExpressionUtils.column/expression` are the
  * supported way to wrap a custom Catalyst Expression as a user-facing
  * Column in Spark 4.x, but they are package-private to org.apache.spark.sql.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `StructType.asNullable` is `private[sql]`; it is exactly the
    * transformation `DataSource.resolveRelation` applies to every
    * file-source data schema, which footer-derived schemas must replay
    * before they are cached or served (r20 ADVICE high). */
  def forceNullable(schema: types.StructType): types.StructType =
    schema.asNullable

  /** `StructType.merge` is `private[sql]`; it is exactly the per-footer
    * fold `SchemaMergeUtils.mergeSchemasInParallel` applies (reduceLeft
    * in file order, caseSensitive from the session conf), so a
    * driver-side fold over cached footer schemas reproduces mergeSchema
    * inference byte-for-byte without the distributed job (round 21).
    * Throws on incompatible types, exactly like the inference job. */
  def mergeSchemas(a: types.StructType, b: types.StructType,
      caseSensitive: Boolean): types.StructType = a.merge(b, caseSensitive)

  /** The partition `repartition(n, col)` sends a LONG value to: exactly
    * Spark's HashPartitioning — pmod(Murmur3Hash(v, seed=42), n). Lets
    * the driver pick sentinel longs that land on chosen partitions, so a
    * rewrite whose output ranges are ALREADY known (merge: the touched
    * files' manifest bounds) can place rows deterministically with a
    * plain hash exchange instead of repartitionByRange, whose
    * RangePartitioner SAMPLES the child — i.e. computes the whole
    * rewrite plan twice (round 21). */
  def hashPartitionOfLong(v: Long, n: Int): Int = {
    val h = catalyst.expressions.Murmur3HashFunction
      .hash(v, types.LongType, 42L).toInt
    val p = h % n
    if (p < 0) p + n else p
  }

  /** Wrap a (fully resolved) LogicalPlan as a DataFrame —
    * `classic.Dataset.ofRows` is the supported internal constructor for
    * extension libraries shipping custom plan nodes, but it is
    * `private[sql]`.
    */
  def ofRows(s: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  /** A parquet DataFrame over a MANIFEST-KNOWN file list (round 19,
    * Delta's TahoeLogFileIndex pattern): `spark.read.parquet(paths)`
    * re-stats every path through InMemoryFileIndex — at >32 paths a
    * distributed LISTING JOB per call (measured 1.1 s at 600 local
    * files; minutes at 10^6 remote ones) to learn lengths the manifest
    * already stamps exactly (`Files.size` at commit). This builds the
    * HadoopFsRelation directly over a FileIndex fed from the manifest
    * entries — ZERO filesystem listing at plan time; the scan,
    * pushdown, and `_metadata` behave exactly as the listed reader.
    * Callers must pass EXACT lengths (a wrong length truncates or
    * over-reads the file) — the graft caller guards on stamped
    * bytes > 0 for every entry and falls back to the listing reader
    * otherwise.
    *
    * KNOWN DEVIATION (r19 ADVICE low #4): the fabricated FileStatus
    * carries modificationTime = 0, so `_metadata.file_modification_time`
    * reads 1970-01-01 on this path while the listed-reader fallback
    * returns real mtimes. The manifest stamps no mtime (adding one is a
    * format change), and no declared query or engine-internal reader
    * consumes `_metadata.file_modification_time` (`file_path` /
    * `row_index`, which the DV machinery uses, are exact). Documented
    * rather than fixed.
    */
  def manifestParquetFrame(s: SparkSession, schema: types.StructType,
      files: Seq[(String, Long)]): DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
    val cs = s.asInstanceOf[classic.SparkSession]
    val statuses = files.map { case (p, len) =>
      new FileStatus(len, false, 1, 134217728L, 0L, new Path(p))
    }
    val index = new FileIndex {
      override def rootPaths: Seq[Path] = statuses.map(_.getPath)
      override def listFiles(
          partitionFilters: Seq[Expression],
          dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
        Seq(PartitionDirectory(InternalRow.empty, statuses.toArray))
      override def inputFiles: Array[String] = files.map(_._1).toArray
      override def refresh(): Unit = ()
      override def sizeInBytes: Long = files.map(_._2).sum
      override def partitionSchema: types.StructType = new types.StructType()
    }
    // dataSchema is forced nullable exactly as DataSource.resolveRelation
    // does for file-source relations (r20 ADVICE medium): parquet can
    // null-fill any column on a multi-file read, so a non-nullable caller
    // schema must not reach the optimizer as non-nullable relation output
    // (it would fold `col IS NULL` to false).
    val rel = HadoopFsRelation(index, new types.StructType(), schema.asNullable, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      Map.empty)(cs)
    classic.Dataset.ofRows(cs, LogicalRelation(rel))
  }

  /** Write `df` as parquet into `absDir` (replacing the directory if it
    * exists) and return per-file aggregates computed inside the write
    * tasks: one `(absolute file path, row)` per written file that
    * received rows, or per (file, value of `groupCol`) when a group
    * column is set. Each row carries the group column's value first (when
    * set), then `aggs` by alias.
    *
    * This is what `df.write.options(options).mode("overwrite")
    * .parquet(absDir)` runs — Spark's `FileFormatWriter.write` with the
    * session's commit protocol, `ParquetFileFormat`, the options folded
    * into the Hadoop conf and the optimized plan's output as the written
    * columns — so the data files are the same bytes. The aggregates run
    * in a `WriteJobStatsTracker` beside the basic one, as Delta's
    * `DeltaJobStatisticsTracker` does, instead of a second job that
    * reads the files back. `aggs` must be plain (no DISTINCT or FILTER)
    * aggregates over `df`'s columns. */
  def writeParquetWithStats(df: DataFrame, absDir: String, options: Map[String, String],
      aggs: Seq[Column], groupCol: Option[String]): Seq[(String, Row)] = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.internal.io.FileCommitProtocol
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val cs = ds.sparkSession
    val qe = ds.queryExecution
    // the written columns are the optimized plan's output, as in
    // InsertIntoHadoopFsRelationCommand (its query is optimized with it)
    val dataCols = qe.optimizedPlan.output
    require(dataCols.map(_.name).distinct.size == dataCols.size,
      s"duplicate column names in ${dataCols.map(_.name).mkString(",")}")
    // resolve the aggregates over a leaf with exactly the written
    // attributes (analysing them over df's whole plan costs more), then
    // replace runtime-replaceable expressions, which only the optimizer
    // turns evaluable
    val bound = ReplaceExpressions(classic.Dataset.ofRows(cs, LocalRelation(dataCols))
      .agg(aggs.head, aggs.tail: _*).queryExecution.analyzed)
      .asInstanceOf[Aggregate].aggregateExpressions
    val groupOrdinal = groupCol.map(c => dataCols.indexWhere(_.name == c))
    require(!groupOrdinal.contains(-1), s"group column ${groupCol.get} is not written")

    val hadoopConf = cs.sessionState.newHadoopConfWithOptions(options)
    val path = new Path(absDir)
    val fs = path.getFileSystem(hadoopConf)
    val qualified = path.makeQualified(fs.getUri, fs.getWorkingDirectory)
    if (fs.exists(qualified)) fs.delete(qualified, true)
    val committer = FileCommitProtocol.instantiate(
      cs.sessionState.conf.fileCommitProtocolClass,
      jobId = java.util.UUID.randomUUID().toString,
      outputPath = absDir)
    val tracker = new GraftStatsJobTracker(dataCols, bound, groupOrdinal)
    SQLExecution.withNewExecutionId(qe) {
      FileFormatWriter.write(cs, qe.executedPlan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(qualified.toString, Map.empty, dataCols), hadoopConf,
        Nil, None,
        Seq(new BasicWriteJobStatsTracker(
          new org.apache.spark.util.SerializableConfiguration(hadoopConf),
          BasicWriteJobStatsTracker.metrics), tracker),
        options)
    }
    val groupField = groupOrdinal.map(i => types.StructField(dataCols(i).name, dataCols(i).dataType))
    val aggSchema = types.StructType(bound.map(n => types.StructField(n.name, n.dataType)))
    val schema = types.StructType(groupField.toSeq ++ aggSchema.fields)
    val toRow = CatalystTypeConverters.createToScalaConverter(aggSchema)
    tracker.results.map { case (name, g, r) =>
      val aggRow = toRow(r).asInstanceOf[Row].toSeq
      val values = groupField.fold(aggRow)(f =>
        CatalystTypeConverters.convertToScala(g, f.dataType) +: aggRow)
      (s"$absDir/$name", new catalyst.expressions.GenericRowWithSchema(values.toArray, schema): Row)
    }
  }

  /** `lr` over another RDD with another output. `LogicalRDD`'s session is
    * a second-list constructor argument without an accessor; `makeCopy`
    * carries it (and the origin stats and constraints) over. */
  def withRdd(lr: execution.LogicalRDD,
      output: Seq[catalyst.expressions.Attribute],
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow])
      : execution.LogicalRDD =
    lr.makeCopy(Array[AnyRef](output, rdd, lr.outputPartitioning, lr.outputOrdering,
      java.lang.Boolean.valueOf(lr.isStreaming), lr.stream)).asInstanceOf[execution.LogicalRDD]

  /** Wrap an InternalRow RDD as a DataFrame: a `LogicalRDD`, which
    * Spark's own `RDDScanExec` plans, with no encoder in between. A V1
    * streaming `Source.getBatch` must return one with `isStreaming`
    * (MicroBatchExecution asserts it), the same call the built-in
    * file/rate sources make. `internalCreateDataFrame` is public on
    * `classic.SparkSession` but not on the api surface, hence this bridge.
    */
  def rowFrame(s: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType, isStreaming: Boolean): DataFrame =
    s.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema, isStreaming)
}
