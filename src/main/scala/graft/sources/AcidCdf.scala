package graft.sources

import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset => StreamOffset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The `<cat>.t.changes` METADATA TABLE — change-data-feed through the
  * catalog (SURVEY round-7 plan #3), the Iceberg-metadata-table idiom
  * (`db.table.files`/`.history`) applied to Delta's `table_changes`
  * surface:
  *
  * {{{
  *   SELECT * FROM cat.t.changes                       -- batch, all commits
  *   spark.read.option("startingVersion", 2).table("cat.t.changes")
  *   spark.readStream.table("cat.t.changes")           -- micro-batch CDF
  * }}}
  *
  * Rows are DELTA-SHAPED: the base table's columns carry the pre- or
  * post-image, `_change_type` ∈ {insert, update_preimage,
  * update_postimage, delete}, `_commit_version` the commit that produced
  * the change. This shape (vs the pair-shaped `old_*`/`new_*` rows the
  * library `changeFeed` emits) is what makes a TABLE-level surface
  * possible: the CDF schema is the data schema plus two columns, so it
  * binds at analysis like any other table.
  *
  * Why a metadata table and not `option("readChangeFeed", true)` on the
  * base table: a V2 relation's output is fixed from `Table.schema()` at
  * analysis, while scan options only reach `newScanBuilder` — an
  * option-driven schema swap would desynchronize the relation's output
  * from the scan's rows (the row-misalignment trap AcidSql.scala
  * documents for row-level ops). Delta routes the option through its own
  * injected analyzer rule (`DeltaAnalysis`) for exactly this reason; a
  * library that cannot assume `spark.sql.extensions` puts the schema swap
  * where analysis already looks — in the loaded table.
  *
  * Scale: a batch over versions (v0, v1] reads ONLY the persisted
  * per-commit CDC files (cost ∝ changed rows) plus, for pure-append
  * commits, the appended data files themselves (Delta's
  * no-change-file-for-appends optimization, re-derived) — never a table
  * scan, never a diff join. Commits that REWROTE data without persisting
  * CDC refuse with a pointer at the deriving `graft-acid-cdf` source:
  * inside a V2 `InputPartition` there is no distributed join to fall
  * back on, and silently recomputing the diff driver-side would not
  * survive 100 TB.
  */
class AcidCdfTable(dir: String, dataSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft-acid-changes:$dir"

  override def schema(): StructType = AcidCdf.cdfSchema(dataSchema)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AcidCdfScanBuilder(dir, schema(), dataSchema.fields.head.name, options)
}

object AcidCdf {
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  def cdfSchema(dataSchema: StructType): StructType = StructType(
    dataSchema.fields.map(f => f.copy(nullable = true)) :+
      StructField(ChangeTypeCol, StringType, nullable = false) :+
      StructField(CommitVersionCol, LongType, nullable = false))

  /** Driver-side partition planning for the version range (v0, v1]:
    * per version, the persisted CDC directory's part files (pair-shaped
    * change rows), or — for a commit that only ADDED files (append) —
    * the added data files read as inserts. Metadata cost is two manifest
    * reads per version; no data moves on the driver.
    */
  def partitionsFor(dir: String, v0: Int, v1: Int): Array[InputPartition] =
    ((v0 + 1) to v1).flatMap { v =>
      val m = Acid.readManifest(dir, v)
      m.cdcPath.filter(p => Files.exists(Paths.get(dir, p))) match {
        case Some(p) => listParquet(s"$dir/$p")
            .map(f => AcidCdfInputPartition(f, v.toLong, cdc = true))
        case None =>
          val prev = Acid.readManifest(dir, v - 1)
          val before = prev.files.map(f => (f.path, f.dv)).toSet
          val removed = prev.files.exists(f => !m.files.map(e => (e.path, e.dv))
            .toSet.contains((f.path, f.dv)))
          val added = m.files.filterNot(f => before((f.path, f.dv)))
          require(!removed && added.forall(_.dv.isEmpty),
            s"graft-acid changes: version $v of $dir rewrote data without " +
              "persisted CDC (writeCdf=false) - enable writeCdf on the " +
              "writer, or derive the diff with the graft-acid-cdf stream " +
              "source / Acid.changeFeed")
          added.map(f => AcidCdfInputPartition(s"$dir/${f.path}", v.toLong,
            cdc = false))
      }
    }.toArray

  private def listParquet(d: String): Seq[String] = {
    val s = Files.list(Paths.get(d))
    try s.iterator().asScala.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS")).toSeq.sorted
    finally s.close()
  }
}

class AcidCdfScanBuilder(dir: String, full: StructType, keyCol: String,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    // `startingTimestamp` (Delta's spelling): resolved to the greatest
    // version committed at or before the timestamp, then applied as the
    // same EXCLUSIVE lower bound `startingVersion` uses (Round6Spec pins
    // that contract) — changes committed strictly after the timestamp.
    // A timestamp predating the first commit resolves to bound 0: the
    // initial CREATE is table bootstrap, not a change increment.
    val fromTs = Option(options.get("startingTimestamp")).map { t =>
      // full microsecond precision — versionAtTimestamp compares micros,
      // and commit mtimes carry a sub-millisecond fraction that a
      // millis-truncating parse would round BELOW the pinned commit
      val ldt = java.time.LocalDateTime.parse(t,
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss[.SSSSSS]"))
      val inst = ldt.atZone(java.time.ZoneId.systemDefault()).toInstant
      val micros = inst.getEpochSecond * 1000000L + inst.getNano / 1000L
      Acid.versionAtTimestamp(dir, micros).getOrElse(0)
    }
    new AcidCdfScan(dir, required, keyCol,
      Option(options.get("startingVersion")).map(_.toInt)
        .orElse(fromTs).getOrElse(0),
      Option(options.get("endingVersion")).map(_.toInt),
      Option(options.get("maxVersionsPerTrigger")).map(_.toInt))
  }
}

class AcidCdfScan(dir: String, required: StructType, keyCol: String,
    startingVersion: Int, endingVersion: Option[Int],
    maxVersionsPerTrigger: Option[Int]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val end = endingVersion.getOrElse(Acid.latestVersion(dir))
    AcidCdf.partitionsFor(dir, startingVersion, end)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new AcidCdfReaderFactory(required, keyCol)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new AcidCdfMicroBatchStream(dir, required, keyCol, startingVersion,
      maxVersionsPerTrigger)
}

/** Micro-batch CDF stream behind `readStream.table("<cat>.t.changes")`:
  * offsets are committed table versions (immutable manifests, so
  * checkpoint resume replays exactly); `maxVersionsPerTrigger` bounds a
  * deep backlog to N commits per trigger. `SupportsTriggerAvailableNow`
  * is implemented directly because the engine's AvailableNow wrapper
  * discards read limits (same finding as the `graft-acid-cdf` source).
  */
class AcidCdfMicroBatchStream(dir: String, required: StructType, keyCol: String,
    startingVersion: Int, maxVersionsPerTrigger: Option[Int])
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  override def initialOffset(): StreamOffset =
    AcidVersionOffset(startingVersion.toLong)
  override def deserializeOffset(json: String): StreamOffset =
    AcidVersionOffset(json.trim.toLong)

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(n => ReadLimit.maxRows(n.toLong))
      .getOrElse(ReadLimit.allAvailable())

  @volatile private var availableNowEnd: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(Acid.latestVersion(dir))

  override def latestOffset(): StreamOffset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-controlled entry point")

  override def latestOffset(start: StreamOffset, limit: ReadLimit): StreamOffset = {
    val v0 = start.asInstanceOf[AcidVersionOffset].v.toInt
    val latest0 = Acid.latestVersion(dir)
    val latest = availableNowEnd.map(math.min(_, latest0)).getOrElse(latest0)
    val capped = limit match {
      case mr: ReadMaxRows => math.min(latest.toLong, v0 + mr.maxRows()).toInt
      case _               => latest
    }
    if (capped <= v0) null else AcidVersionOffset(capped.toLong)
  }

  override def planInputPartitions(start: StreamOffset, end: StreamOffset)
      : Array[InputPartition] =
    AcidCdf.partitionsFor(dir,
      start.asInstanceOf[AcidVersionOffset].v.toInt,
      end.asInstanceOf[AcidVersionOffset].v.toInt)

  override def createReaderFactory(): PartitionReaderFactory =
    new AcidCdfReaderFactory(required, keyCol)

  override def commit(end: StreamOffset): Unit = ()
  override def stop(): Unit = ()
}

/** `cdc = true`: `absPath` is a pair-shaped CDC part file (`old_*`/`new_*`
  * columns + `change_type`) the reader UNPAIRS into Delta-shaped rows.
  * `cdc = false`: a data file appended by a CDC-less pure-append commit,
  * read directly as `insert` rows. */
case class AcidCdfInputPartition(absPath: String, version: Long, cdc: Boolean)
  extends InputPartition

class AcidCdfReaderFactory(required: StructType, keyCol: String)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[AcidCdfInputPartition]
    new AcidCdfPartitionReader(part.absPath, required, keyCol, part.version,
      part.cdc)
  }
}

/** Unpairing reader: each pair-shaped CDC row becomes one Delta-shaped
  * row (`insert` → post-image, `delete` → pre-image) or two (`update` →
  * `update_preimage` + `update_postimage`), in that order. Append-mode
  * (`cdc = false`) reads the data file's own columns as `insert` rows.
  * The file is decoded by the scan's columnar reader over exactly the
  * physical columns the query needs, at their declared types
  * (`change_type`, the key, `old_*`/`new_*`): a column the file predates
  * reads as NULL, matching the mergeSchema snapshot, and each emitted
  * value is one type-generic `InternalRow.getAccessor` read off the
  * batch row. Spark
  * projects every emitted row to an UnsafeRow before the next `next()`,
  * so values may point into the current batch.
  */
class AcidCdfPartitionReader(absPath: String, required: StructType,
    keyCol: String, version: Long, cdc: Boolean)
    extends PartitionReader[InternalRow] {
  import AcidCdf.{ChangeTypeCol, CommitVersionCol}

  // the physical read: (name, type) once each, in first-use order
  private val physical: StructType = {
    val data = required.fields.toSeq
      .filter(f => f.name != ChangeTypeCol && f.name != CommitVersionCol)
    val cols =
      if (!cdc) data
      else StructField("change_type", StringType) +: data.flatMap { f =>
        if (f.name == keyCol) Seq(f)
        else Seq(f.copy(name = s"old_${f.name}"), f.copy(name = s"new_${f.name}"))
      }
    StructType(cols.map(_.copy(nullable = true)).distinctBy(_.name))
  }
  // per required column, its physical ordinal on each side (-1 =
  // synthesized: the change type or the commit version)
  private def ordinals(side: String): Array[Int] = required.fields.map { f =>
    f.name match {
      case ChangeTypeCol | CommitVersionCol => -1
      case n if !cdc || n == keyCol => physical.fieldIndex(n)
      case n => physical.fieldIndex(s"${side}_$n")
    }
  }
  private val oldOrd = ordinals("old")
  private val newOrd = ordinals("new")
  // one type-generic, NULL-aware getter per physical column
  private val access = physical.fields.map(f =>
    InternalRow.getAccessor(f.dataType, nullable = true))

  private val reader = new AcidSqlColumnarReader(absPath, physical)
  private var batch: org.apache.spark.sql.vectorized.ColumnarBatch = _
  private var rowIdx = 0

  // up to two emissions per source row, kept in arrival order
  private val pending = new java.util.ArrayDeque[InternalRow](2)

  private def emit(row: InternalRow, ord: Array[Int], changeType: String)
      : InternalRow = {
    val vals = new Array[Any](required.length)
    var i = 0
    while (i < vals.length) {
      vals(i) = required.fields(i).name match {
        case ChangeTypeCol    => UTF8String.fromString(changeType)
        case CommitVersionCol => version
        case _                => access(ord(i))(row, ord(i))
      }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def next(): Boolean = {
    if (!pending.isEmpty) return true
    while (batch == null || rowIdx >= batch.numRows()) {
      if (!reader.next()) return false
      batch = reader.get(); rowIdx = 0
    }
    val row = batch.getRow(rowIdx)
    rowIdx += 1
    if (!cdc) pending.add(emit(row, newOrd, "insert"))
    else row.getUTF8String(0).toString match {
      case "insert" => pending.add(emit(row, newOrd, "insert"))
      case "delete" => pending.add(emit(row, oldOrd, "delete"))
      case "update" =>
        pending.add(emit(row, oldOrd, "update_preimage"))
        pending.add(emit(row, newOrd, "update_postimage"))
      case other => throw new IllegalStateException(
        s"graft-acid changes: unknown change_type '$other' in $absPath")
    }
    true
  }

  override def get(): InternalRow = pending.poll()

  override def close(): Unit = reader.close()
}
