package graft.sources

import java.nio.file.{Files, Path => JPath, Paths}
import java.util
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{ColumnDefaultValue, FunctionCatalog, Identifier, StagedTable, StagingTableCatalog, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalogCapability, TableChange, TableInfo}
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A `StagingTableCatalog` plugin over the ACID manifest-log format — the
  * atomic-CTAS surface (SURVEY §2.10 tbl_sql_ctas, round-7 plan item #1):
  *
  * {{{
  *   spark.sql.catalog.graft      = graft.sources.AcidCatalog
  *   spark.sql.catalog.graft.root = /data/graft
  *
  *   CREATE TABLE graft.docs AS SELECT ...   -- atomic create-with-data
  *   SELECT * FROM graft.docs                -- V2 scan, manifest pruning
  *   INSERT INTO graft.docs SELECT ...       -- committed append
  *   DROP TABLE graft.docs
  * }}}
  *
  * Atomicity is the lakehouse one (Delta/Iceberg CTAS, re-derived): a
  * table EXISTS iff its `_log` holds a committed v0 manifest, and
  * `stageCreate` returns a staged table whose query writes land data
  * files under the table directory WITHOUT a manifest — invisible to
  * every reader and to `tableExists`. The write job's driver-side commit
  * only parks the assembled file entries in the staged handle;
  * `commitStagedChanges` then lands v0 through the same put-if-absent
  * rename every other commit uses. A failing query (or a rival that
  * committed v0 first) reaches `abortStagedChanges`, which removes the
  * orphaned directory — no half-created table ever becomes visible. At
  * 100 TB the commit is one manifest rename, independent of data size.
  *
  * Identifiers map to directories under `root` (namespace levels become
  * path levels), so the catalog is just a naming layer over the same
  * table dirs the library API uses — `Acid.snapshot(dir)` and
  * `SELECT ... FROM graft.t` read the identical committed state.
  */
class AcidCatalog extends StagingTableCatalog with FunctionCatalog {
  private var catName: String = _
  private var root: String = _

  /** Column DEFAULT support (round-17): declaring the capability makes
    * Spark route `DEFAULT <expr>` through CREATE/ADD COLUMN (and fill
    * INSERTs that omit the column from the CURRENT_DEFAULT field
    * metadata this catalog serves). */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** Persist one column's DEFAULT: the analyzer hands a pre-folded
    * constant (`getValue`); non-constant defaults refuse loudly, and
    * `DEFAULT NULL` is the plain nullable add (readers serve NULL
    * without a sidecar entry). The EXISTS default fills files that
    * predate the column at read time; the CURRENT_DEFAULT SQL rides the
    * schema's field metadata for Spark's own INSERT filling. */
  private def persistDefault(dir: String, phys: String,
      dt: org.apache.spark.sql.types.DataType, dv: ColumnDefaultValue): Unit = {
    val lit = dv.getValue()
    if (lit == null)
      throw new UnsupportedOperationException(
        s"$catName: DEFAULT must fold to a constant, got '${dv.getSql}'")
    require(lit.dataType() == dt,
      s"$catName: default type ${lit.dataType()} does not match column $dt")
    Acid.encodeDefault(dt, lit.value()) match {
      case Some(repr) =>
        val sql = Option(dv.getSql).getOrElse(String.valueOf(lit.value()))
        Acid.writeDefaults(dir,
          Acid.defaultsEncoded(dir).filterNot(_._1 == phys) :+
            ((phys, dt, Some(sql), Some(repr))))
      case None if lit.value() == null => () // DEFAULT NULL
      case None => throw new UnsupportedOperationException(
        s"$catName: unsupported DEFAULT type ${dt.sql} — integral, " +
          "float/double, decimal, string, binary, boolean, date and " +
          "timestamp defaults are supported")
    }
  }

  /** The format's partition-transform functions (round-11 verdict #3):
    * resolving `bucket`/`days` through the TABLE's catalog is what lets
    * Spark turn a scan-reported KeyGroupedPartitioning into a
    * storage-partitioned join — two bucket(8, k) tables join with zero
    * exchanges. Served from the top-level namespace, matching where
    * transform resolution looks (`Identifier.of(Array.empty, name)`). */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      // every FIXED name loadFunction serves (round-18 — months/years
      // were loadable but unlisted, a catalog-discovery gap). The
      // width-specialized truncate_N / truncstr_N spellings are a
      // parametric family (one name per width), so they cannot be
      // enumerated here; loadFunction resolves them on demand.
      Array("bucket", "days", "hours", "months", "years", "truncate")
        .map(Identifier.of(Array.empty[String], _))
    else Array.empty

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.namespace().isEmpty) ident.name() match {
      case "bucket"   => AcidFunctions.BucketUnbound
      case "days"     => AcidFunctions.DaysUnbound
      case "hours"    => AcidFunctions.HoursUnbound
      case "months"   => AcidFunctions.MonthsUnbound
      case "years"    => AcidFunctions.YearsUnbound
      case "truncate" => AcidFunctions.TruncateUnbound
      // width-specialized SPJ spelling (see TruncateNUnbound's scaladoc).
      // The width is validated like partColFrom's require(n >= 1):
      // truncate_0 would throw ArithmeticException at execution
      // (floorMod(v, 0)) and an over-Int width would NumberFormatException
      // here — both resolve to NoSuchFunctionException instead (r12 advice)
      case tn if tn.startsWith("truncate_") &&
          tn.drop("truncate_".length).forall(_.isDigit) &&
          tn.length > "truncate_".length &&
          scala.util.Try(tn.drop("truncate_".length).toInt).toOption
            .exists(_ >= 1) =>
        AcidFunctions.TruncateNUnbound(tn.drop("truncate_".length).toInt)
      // the string flavor's SPJ spelling, same width discipline
      case tn if tn.startsWith("truncstr_") &&
          tn.drop("truncstr_".length).forall(_.isDigit) &&
          tn.length > "truncstr_".length &&
          scala.util.Try(tn.drop("truncstr_".length).toInt).toOption
            .exists(_ >= 1) =>
        AcidFunctions.TruncStrNUnbound(tn.drop("truncstr_".length).toInt)
      case _          => throw new NoSuchFunctionException(ident)
    } else throw new NoSuchFunctionException(ident)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    root = Option(options.get("root")).getOrElse(throw new IllegalArgumentException(
      s"catalog $name: spark.sql.catalog.$name.root is required"))
  }
  override def name(): String = catName

  private def dirOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name())
      .foldLeft(Paths.get(root)) { (p, part) => p.resolve(part) }.toString

  private def exists(dir: String): Boolean = Acid.latestVersion(dir) >= 0

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = namespace.foldLeft(Paths.get(root))(_.resolve(_))
    if (!Files.isDirectory(nsDir)) Array.empty
    else {
      val s = Files.list(nsDir)
      try s.iterator().asScala
        .filter(p => exists(p.toString))
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray
      finally s.close()
    }
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    if (exists(dir))
      new AcidSqlTable(dir,
        Acid.schemaVia(dir, Acid.latestVersion(dir), pinned = false)(
          Acid.withDefaultsMeta(dir, Acid.tableSchema(SparkSession.active, dir))))
    else if (ident.name() == "files" && ident.namespace().nonEmpty) {
      // `<cat>.t.files` — live manifest entries as a metadata table
      val base = dirOf(Identifier.of(
        ident.namespace().dropRight(1), ident.namespace().last))
      if (!exists(base)) throw new NoSuchTableException(ident)
      new AcidFilesTable(base)
    } else if (ident.name() == "history" && ident.namespace().nonEmpty) {
      // `<cat>.t.history` — DESCRIBE HISTORY as a metadata table (same
      // idiom as `.changes` below; a literal table named `history` wins).
      val base = dirOf(Identifier.of(
        ident.namespace().dropRight(1), ident.namespace().last))
      if (!exists(base)) throw new NoSuchTableException(ident)
      new AcidHistoryTable(base)
    } else if (ident.name() == "partitions" && ident.namespace().nonEmpty) {
      // `<cat>.t.partitions` — per-partition-value totals (Iceberg's
      // `db.table.partitions` idiom); a literal table named `partitions`
      // wins, same shadowing rule as the other metadata tables.
      val base = dirOf(Identifier.of(
        ident.namespace().dropRight(1), ident.namespace().last))
      if (!exists(base)) throw new NoSuchTableException(ident)
      new AcidPartitionsTable(base)
    } else if (ident.name() == "refs" && ident.namespace().nonEmpty) {
      // `<cat>.t.refs` — branches and tags as a metadata table (Iceberg's
      // `db.table.refs` idiom); a literal table named `refs` wins.
      val base = dirOf(Identifier.of(
        ident.namespace().dropRight(1), ident.namespace().last))
      if (!exists(base)) throw new NoSuchTableException(ident)
      new AcidRefsTable(base)
    } else if (ident.name() == "changes" && ident.namespace().nonEmpty) {
      // `<cat>.t.changes` — the change-data-feed METADATA TABLE (Iceberg's
      // `db.table.files` idiom): the trailing name selects the CDF view of
      // the table named by the namespace. Only reached when no real table
      // shadows the name (a literal table called `changes` wins).
      val base = dirOf(Identifier.of(
        ident.namespace().dropRight(1), ident.namespace().last))
      if (!exists(base)) throw new NoSuchTableException(ident)
      new AcidCdfTable(base, Acid.snapshot(SparkSession.active, base).schema)
    } else throw new NoSuchTableException(ident)
  }

  /** `SELECT ... FROM <cat>.t VERSION AS OF <v>` — a time-traveled load:
    * the returned handle pins every scan to that immutable manifest. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    val v = try version.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$catName.$ident: VERSION AS OF expects an integer version, got '$version'")
    }
    if (Acid.latestVersion(dir) < v || v < 0) throw new NoSuchTableException(ident)
    // the schema (and write-default metadata) DECLARED at v (round-18):
    // a pin between an ALTER ADD COLUMN and its first INSERT serves the
    // declared shape; pre-ALTER pins stay file-derived
    new AcidSqlTable(dir, Acid.schemaVia(dir, v, pinned = true)(
      Acid.withDefaultsMetaAt(dir, v,
        Acid.tableSchemaAt(SparkSession.active, dir, v))), v)
  }

  /** `TIMESTAMP AS OF` (epoch micros): resolves to the greatest version
    * committed at or before the timestamp, Delta-style. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirOf(ident)
    if (!exists(dir)) throw new NoSuchTableException(ident)
    val v = Acid.versionAtTimestamp(dir, timestampMicros).getOrElse(
      throw new IllegalArgumentException(
        s"$catName.$ident: timestamp predates the table's first commit"))
    new AcidSqlTable(dir, Acid.schemaVia(dir, v, pinned = true)(
      Acid.withDefaultsMetaAt(dir, v,
        Acid.tableSchemaAt(SparkSession.active, dir, v))), v)
  }

  /** `PARTITIONED BY` support: any combination of single-column identity
    * / days / bucket transforms (round-10 verdict #4 widened this from
    * one transform). The rendered spec persists as a `_log` sidecar;
    * from then on every insert rolls segments on the transform-value
    * tuple — leading transform's stats in stats2, the rest tagged in
    * pstats — and every scan intersects the transforms' pruning
    * verdicts. Unsupported transform shapes refuse loudly. */
  private def partColFrom(info: TableInfo): Option[String] = {
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    def fieldOf(t: Transform): org.apache.spark.sql.types.StructField = {
      val c = t.references().head.fieldNames().mkString(".")
      info.schema().fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"$catName: PARTITIONED BY ($c) — no such column"))
    }
    def labelOf(t: Transform): String = t match {
      case t if t.name() == "identity" && t.references().length == 1 =>
        val f = fieldOf(t)
        f.dataType match {
          case LongType => Acid.PartIdentity(f.name).label
          // STRING identity stores as the identstr flavor (packed-prefix
          // segment cells + cstats value evidence — see
          // Acid.PartIdentityStr's scaladoc); round-17, the lang/region/
          // tenant layout
          case org.apache.spark.sql.types.StringType =>
            Acid.PartIdentityStr(f.name).label
          case other => throw new UnsupportedOperationException(
            s"$catName: PARTITIONED BY needs a BIGINT or STRING column, " +
              s"${f.name} is ${other.sql}")
        }
      case t if t.name() == "days" && t.references().length == 1 =>
        val f = fieldOf(t)
        if (f.dataType != TimestampType && f.dataType != TimestampNTZType)
          throw new UnsupportedOperationException(
            s"$catName: PARTITIONED BY (days(c)) needs a TIMESTAMP column, " +
              s"${f.name} is ${f.dataType.sql}")
        Acid.PartDays(f.name).label
      case t if t.name() == "hours" && t.references().length == 1 =>
        val f = fieldOf(t)
        if (f.dataType != TimestampType && f.dataType != TimestampNTZType)
          throw new UnsupportedOperationException(
            s"$catName: PARTITIONED BY (hours(c)) needs a TIMESTAMP column, " +
              s"${f.name} is ${f.dataType.sql}")
        Acid.PartHours(f.name).label
      case t if (t.name() == "months" || t.name() == "years") &&
          t.references().length == 1 =>
        val f = fieldOf(t)
        if (f.dataType != TimestampType && f.dataType != TimestampNTZType)
          throw new UnsupportedOperationException(
            s"$catName: PARTITIONED BY (${t.name()}(c)) needs a TIMESTAMP " +
              s"column, ${f.name} is ${f.dataType.sql}")
        if (t.name() == "months") Acid.PartMonths(f.name).label
        else Acid.PartYears(f.name).label
      case t if t.name() == "truncate" && t.references().length == 1 =>
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value().toString.toInt
        }.getOrElse(throw new IllegalArgumentException(
          s"$catName: truncate transform needs a literal width"))
        require(n >= 1,
          s"$catName: truncate width must be positive, got $n")
        val f = fieldOf(t)
        f.dataType match {
          case LongType => Acid.PartTruncate(n, f.name).label
          // STRING truncate stores as the truncstr flavor (packed-prefix
          // partition values — see Acid.PartTruncateStr's scaladoc).
          // Widths above the 8-byte packing grain are REFUSED at DDL time
          // (r13 advice): accepting truncate(16, c) would silently serve
          // 8-byte-grain partitions while DESCRIBE advertises 16 — a
          // consumer aligning SPJ or layouts against the advertised
          // transform would mismatch the stored values.
          case org.apache.spark.sql.types.StringType =>
            if (n > 8) throw new UnsupportedOperationException(
              s"$catName: truncate($n, ${f.name}) over STRING exceeds the " +
                "packed-prefix partition grain — values are packed from the " +
                "first min(n, 8) UTF-8 bytes, so widths above 8 cannot be " +
                "honored; declare truncate(8, ...) or narrower")
            Acid.PartTruncateStr(n, f.name).label
          case other => throw new UnsupportedOperationException(
            s"$catName: PARTITIONED BY (truncate(n, c)) needs a BIGINT " +
              s"or STRING column, ${f.name} is ${other.sql}")
        }
      case t if t.name() == "bucket" && t.references().length == 1 =>
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value().toString.toInt
        }.getOrElse(throw new IllegalArgumentException(
          s"$catName: bucket transform needs a literal bucket count"))
        require(n >= 1 && n <= 1024,
          s"$catName: bucket count must be in [1, 1024], got $n")
        val f = fieldOf(t)
        if (f.dataType != LongType)
          throw new UnsupportedOperationException(
            s"$catName: PARTITIONED BY (bucket(n, c)) needs a BIGINT column, " +
              s"${f.name} is ${f.dataType.sql}")
        Acid.PartBucket(n, f.name).label
      case other => throw new UnsupportedOperationException(
        s"$catName: only single-column identity / days / hours / bucket " +
          s"/ truncate transforms are supported, got $other")
    }
    info.partitions() match {
      case ps if ps.isEmpty => None
      case ps =>
        val labels = ps.map(labelOf)
        require(labels.map(l => Acid.parsePartSpec(l).col).distinct.length
          == labels.length,
          s"$catName: each partition transform needs a distinct source column")
        Some(labels.mkString(","))
    }
  }

  /** Plain CREATE TABLE (no data): persists the DECLARED schema (the
    * empty manifest has no data files to derive one from — the schema
    * sidecar lands before v0, so any reader of v0 sees it) and commits an
    * empty v0 so the table is immediately visible and insertable. */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    val dir = dirOf(ident)
    if (exists(dir)) throw new TableAlreadyExistsException(ident.toString)
    // eager schema validation (round-12 advice): every declared type —
    // including composite element/value types — must be one the V2
    // writer/reader cover, or CREATE refuses here instead of data
    // silently failing at the first INSERT/read
    AcidSql.toParquetSchema(info.schema()): Unit
    Files.createDirectories(Paths.get(dir))
    Acid.writeDeclaredSchema(dir, info.schema())
    // CREATE TABLE (c T DEFAULT <expr>): persist each column's default
    info.columns().toSeq.filter(_.defaultValue() != null).foreach(c =>
      persistDefault(dir, c.name(), c.dataType(), c.defaultValue()))
    partColFrom(info).foreach(Acid.writePartCol(dir, _))
    Acid.appendCommitAt(dir, -1, Seq.empty) match {
      case Right(_) => new AcidSqlTable(dir, info.schema())
      case Left(_)  => throw new TableAlreadyExistsException(ident.toString)
    }
  }

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable = {
    val dir = dirOf(ident)
    if (exists(dir)) throw new TableAlreadyExistsException(ident.toString)
    AcidSql.toParquetSchema(info.schema()): Unit // same eager check as createTable
    Files.createDirectories(Paths.get(dir))
    // CTAS with a zero-row SELECT commits an empty v0 too — persist the
    // declared schema so the created table is still readable/insertable.
    Acid.writeDeclaredSchema(dir, info.schema())
    info.columns().toSeq.filter(_.defaultValue() != null).foreach(c =>
      persistDefault(dir, c.name(), c.dataType(), c.defaultValue()))
    partColFrom(info).foreach(Acid.writePartCol(dir, _))
    new AcidStagedTable(dir, info.schema())
  }

  /** `REPLACE TABLE ... AS SELECT` / `CREATE OR REPLACE TABLE ... AS
    * SELECT` (round 19): the staged query's files land beside the live
    * table's (UUID-unique stage names — no collisions), and NOTHING
    * about the live table changes until `commitStagedChanges`, which
    * resets the identity sidecars to the NEW definition and commits a
    * REPLACE manifest listing only the staged files (constraint and
    * streaming high-water marks cleared). An abort deletes only the
    * staged files — the old table is untouched. Prior versions stay
    * time-travelable: each manifest stamps the schema metadata in
    * effect at its own commit. */
  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    val dir = dirOf(ident)
    if (!exists(dir)) throw new NoSuchTableException(ident)
    stagedReplace(dir, info)
  }

  override def stageCreateOrReplace(ident: Identifier,
      info: TableInfo): StagedTable = {
    val dir = dirOf(ident)
    if (exists(dir)) stagedReplace(dir, info) else stageCreate(ident, info)
  }

  private def stagedReplace(dir: String, info: TableInfo): StagedTable = {
    AcidSql.toParquetSchema(info.schema()): Unit
    val label = partColFrom(info)
    val prepare = () => {
      Acid.resetIdentitySidecars(dir)
      Acid.writeDeclaredSchema(dir, info.schema())
      info.columns().toSeq.filter(_.defaultValue() != null).foreach(c =>
        persistDefault(dir, c.name(), c.dataType(), c.defaultValue()))
      Acid.replacePartCol(dir, label)
    }
    new AcidStagedTable(dir, info.schema(),
      specs = label.map(Acid.parseSpecLine).getOrElse(Seq.empty),
      replace = true, prepare = prepare)
  }

  /** `ALTER TABLE <cat>.t ADD COLUMN c T` — additive schema evolution as
    * a metadata-only commit: the declared-schema sidecar widens (no data
    * rewrite), `loadTable` serves declared ∪ file-derived from then on,
    * and every reader surfaces NULL for the new column until the next
    * insert writes it (at which point mergeSchema derivation takes over —
    * the same contract as tbl_schema_evolve / session-catalog
    * tbl_sql_alter). Only top-level nullable appended columns are
    * additive. RENAME COLUMN is served by the column-mapping sidecar
    * (see the RenameColumn case). Anything else (drops, type changes,
    * nested or positioned adds) would need versioned schema metadata to
    * stay time-travel-consistent, so it refuses loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!exists(dir)) throw new NoSuchTableException(ident)
    val evolved = changes.foldLeft(Acid.tableSchema(SparkSession.active, dir)) {
      case (sch, add: TableChange.AddColumn) =>
        if (!add.isNullable)
          throw new UnsupportedOperationException(
            s"$catName: ADD COLUMN must be nullable — existing rows have no value")
        if (add.position() != null)
          throw new UnsupportedOperationException(
            s"$catName: ADD COLUMN FIRST/AFTER would reorder existing data; " +
              "only appended columns are additive")
        if (add.fieldNames().length > 1) {
          // ADD COLUMN INTO A STRUCT (round-11 verdict #6): splice the
          // new field into the declared schema — metadata-only; readers
          // NULL-fill the leaf on files that predate it (the nested
          // projection intersect in the V2 columnar reader / the library's
          // widenToDeclared splice). Shares Acid.addColumnInto so SQL
          // ALTER and Acid.addColumn stay one implementation.
          if (add.defaultValue() != null)
            throw new UnsupportedOperationException(
              s"$catName: DEFAULT on a nested field is not supported — " +
                "only top-level column defaults")
          Acid.addColumnInto(sch, add.fieldNames().toSeq, add.dataType())
        } else {
        val name = add.fieldNames().head
        if (sch.fieldNames.exists(_.equalsIgnoreCase(name)))
          throw new IllegalArgumentException(
            s"$catName.$ident: column $name already exists")
        // Re-ADD of a previously DROPPED name: allocate a FRESH physical
        // name so the dropped column's dead bytes in old files can never
        // resurface under the new logical column (Delta's physical-id
        // discipline, re-derived with generation-suffixed names).
        val dropped = Acid.droppedOf(dir)
        val gens = dropped.count(d => d == name || d.startsWith(s"${name}__v"))
        if (gens > 0)
          Acid.writeColMap(dir,
            Acid.colMapOf(dir) + (name -> s"${name}__v$gens"))
        // ADD COLUMN ... DEFAULT (round-17): persist under the PHYSICAL
        // name (a re-add's fresh generation keys its own default)
        Option(add.defaultValue()).foreach { dv =>
          persistDefault(dir,
            if (gens > 0) s"${name}__v$gens" else name, add.dataType(), dv)
        }
        sch.add(name, add.dataType(), nullable = true)
        }
      case (sch, rn: TableChange.RenameColumn) =>
        // RENAME via column mapping (Delta's column-mapping mode): data
        // files keep their PHYSICAL field name forever; the rename edits
        // the logical→physical sidecar — O(1) metadata, zero rewrite.
        // Chained renames keep pointing at the ORIGINAL physical name.
        if (rn.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            s"$catName: only top-level RENAME COLUMN is supported")
        val from = rn.fieldNames().head
        val to = rn.newName()
        if (!sch.fieldNames.contains(from))
          throw new IllegalArgumentException(
            s"$catName.$ident: no such column $from")
        if (sch.fieldNames.exists(_.equalsIgnoreCase(to)))
          throw new IllegalArgumentException(
            s"$catName.$ident: column $to already exists")
        // The new LOGICAL name must also avoid every live PHYSICAL field
        // name (rename a->b then c->a: files still carry physical 'a', so
        // snapshot's rename fold would produce duplicate/ambiguous
        // columns). The column's own physical name is exempt — renaming
        // back to it is the identity mapping.
        val cmPre = Acid.colMapOf(dir)
        val livePhys = sch.fieldNames.map(n => cmPre.getOrElse(n, n)).toSet -
          cmPre.getOrElse(from, from)
        if (livePhys.contains(to))
          throw new IllegalArgumentException(
            s"$catName.$ident: $to collides with a live physical column " +
              "name carried by existing data files — pick another name")
        // a CHECK constraint references columns by name in SQL text the
        // mapping layer cannot rewrite — refuse rather than break it
        val v = Acid.latestVersion(dir)
        val cstr = if (v >= 0) Acid.readManifest(dir, v).constraint else None
        cstr.filter(_.contains(from)).foreach { c =>
          throw new UnsupportedOperationException(
            s"$catName.$ident: column $from is referenced by the CHECK " +
              s"constraint '$c' — drop the constraint before renaming")
        }
        val physical = cmPre.getOrElse(from, from)
        Acid.writeColMap(dir, (cmPre - from) + (to -> physical))
        // the ALTER version (round-17 for the mapping; round-18 moved
        // the commit to the END of alterTable so it stamps EVERY updated
        // sidecar — colmap, dropped, declared schema, defaults — in one
        // place): `VERSION AS OF` any earlier version reads the OLD
        // logical names while latest reads the new ones
        StructType(sch.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))
      case (sch, del: TableChange.DeleteColumn) =>
        // DROP COLUMN via the mapping layer: metadata-only — the physical
        // column joins the dropped list (no reader surfaces it again; the
        // bytes die at the next OPTIMIZE rewrite). Key / partition
        // columns and CHECK-constrained columns refuse.
        if (del.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            s"$catName: only top-level DROP COLUMN is supported")
        val from = del.fieldNames().head
        if (!sch.fieldNames.contains(from))
          throw new IllegalArgumentException(
            s"$catName.$ident: no such column $from")
        val cmD = Acid.colMapOf(dir)
        val physD = cmD.getOrElse(from, from)
        // Guard EVERY merge-key column (physical names — keyColsOf reads
        // the keycols sidecar / file footers): on a composite-key table the
        // positional-first check alone would let key columns 2..n drop,
        // after which every subsequent merge mis-keys.
        if (Acid.keyColsOf(SparkSession.active, dir).contains(physD))
          throw new UnsupportedOperationException(
            s"$catName.$ident: $from is a merge-key column — it cannot be " +
              "dropped")
        // every spec version's source columns are guarded: an old spec's
        // column still prunes the files written under it
        if (Acid.partColsOf(dir).contains(physD))
          throw new UnsupportedOperationException(
            s"$catName.$ident: $from is a partition source column — it " +
              "cannot be dropped")
        val vD = Acid.latestVersion(dir)
        val cstrD = if (vD >= 0) Acid.readManifest(dir, vD).constraint else None
        cstrD.filter(_.contains(from)).foreach { c =>
          throw new UnsupportedOperationException(
            s"$catName.$ident: column $from is referenced by the CHECK " +
              s"constraint '$c' — drop the constraint first")
        }
        Acid.writeDropped(dir, Acid.droppedOf(dir) :+ physD)
        Acid.writeColMap(dir, cmD - from)
        // a dropped column's default dies with it (a later re-ADD keys a
        // fresh physical generation)
        Acid.writeDefaults(dir,
          Acid.defaultsEncoded(dir).filterNot(_._1 == physD))
        // the drop's ALTER version commits at the END of alterTable
        // (round-18 — see the closing commit below): earlier versions
        // keep surfacing the column with its real values
        StructType(sch.fields.filterNot(_.name == from))
      case (sch, ud: TableChange.UpdateColumnDefaultValue) =>
        // ALTER COLUMN ... SET/DROP DEFAULT (round-17): edits the
        // CURRENT default only — future INSERTs that omit the column
        // fill the new value; the EXISTS default (what pre-ALTER files
        // read) is fixed at ADD time, Iceberg's initial-default
        // discipline, so changing the write default never rewrites
        // history. SET on a column added WITHOUT a default creates a
        // CURRENT-only entry: pre-existing rows correctly stay NULL.
        if (ud.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            s"$catName: only top-level SET/DROP DEFAULT is supported")
        val name = ud.fieldNames().head
        val fld = sch.fields.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(
            s"$catName.$ident: no such column $name"))
        val physU = Acid.colMapOf(dir).getOrElse(name, name)
        val rest = Acid.defaultsEncoded(dir)
        val existing = rest.find(_._1 == physU)
        val newSql = Option(ud.newCurrentDefault()).map(_.getSql)
          .orElse(Option(ud.newDefaultValue())).filter(_.nonEmpty)
        val entry = (physU, fld.dataType, newSql,
          existing.flatMap(_._4))
        // an entry with neither side is dead weight — drop it
        val updated = rest.filterNot(_._1 == physU) ++
          (if (entry._3.isEmpty && entry._4.isEmpty) Nil else Seq(entry))
        Acid.writeDefaults(dir, updated)
        sch
      case (sch, up: TableChange.UpdateColumnType) =>
        // ALTER COLUMN ... TYPE — Delta's explicit type-widening DDL
        // re-derived (round 9): metadata-only, the declared sidecar
        // records the wide type; narrow data files upcast at scan time
        // (readMerged's declared-schema fallback for the library/V1
        // paths, per-file width adaptation in the V2 readers). Only
        // same-family numeric WIDENINGS are accepted — a narrowing or
        // cross-family change would corrupt values. Merge-key columns
        // refuse: file stats and pruning are keyed on them.
        if (up.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            s"$catName: only top-level ALTER COLUMN TYPE is supported")
        val name = up.fieldNames().head
        if (!sch.fieldNames.contains(name))
          throw new IllegalArgumentException(
            s"$catName.$ident: no such column $name")
        val cur = sch(name).dataType
        val to = up.newDataType()
        if (!Acid.widens(cur, to))
          throw new UnsupportedOperationException(
            s"$catName.$ident: cannot change $name from $cur to $to — " +
              "only same-family numeric widenings (e.g. INT to BIGINT, " +
              "FLOAT to DOUBLE) are metadata-only")
        val physW = Acid.colMapOf(dir).getOrElse(name, name)
        if (Acid.keyColsOf(SparkSession.active, dir).contains(physW))
          throw new UnsupportedOperationException(
            s"$catName.$ident: $name is a merge-key column — it cannot " +
              "be widened")
        StructType(sch.fields.map(f =>
          if (f.name == name) f.copy(dataType = to) else f))
      case (_, other) =>
        throw new UnsupportedOperationException(
          s"$catName: unsupported ALTER TABLE change $other — only " +
            "ADD COLUMN, RENAME COLUMN, DROP COLUMN, and ALTER COLUMN TYPE")
    }
    Acid.writeDeclaredSchema(dir, evolved)
    // EVERY schema change is a VERSION (round-18, the Delta
    // metadata-action semantic completed — round 17 versioned only
    // RENAME/DROP, and committed mid-fold BEFORE the declared sidecar
    // updated, which would stamp a stale schema record): one ALTER
    // manifest per alterTable call, committed AFTER all sidecar writes
    // so commitManifest stamps the colmap, dropped list, declared schema
    // and defaults exactly as this ALTER left them. Same file list as
    // the parent (a metadata-only commit — the delta encodes empty);
    // pinned reads of earlier versions serve THEIR schemas, and a pin
    // taken between this ALTER and its first INSERT serves the
    // just-declared shape.
    val vEnd = Acid.latestVersion(dir)
    if (vEnd >= 0) {
      val mm = Acid.readManifest(dir, vEnd)
      Acid.commitManifest(dir, mm.copy(version = vEnd + 1, batchId = -1L,
        cdcPath = None, op = "ALTER", colMap = None, dropped = None,
        declared = None, defaultsRec = None))
    }
    new AcidSqlTable(dir, Acid.withDefaultsMeta(dir, evolved))
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = Paths.get(dirOf(ident))
    if (!exists(dir.toString)) false
    else { deleteRecursively(dir); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = dirOf(oldIdent); val to = dirOf(newIdent)
    if (!exists(from)) throw new NoSuchTableException(oldIdent)
    if (exists(to)) throw new TableAlreadyExistsException(newIdent.toString)
    Files.createDirectories(Paths.get(to).getParent)
    Files.move(Paths.get(from), Paths.get(to)): Unit
  }

  private def deleteRecursively(p: JPath): Unit = {
    val w = Files.walk(p)
    try w.sorted(Comparator.reverseOrder[JPath]()).iterator().asScala
      .foreach(Files.deleteIfExists(_))
    finally w.close()
  }
}

/** The CTAS staging handle: writable before it exists. The batch write
  * reuses the V2 task protocol (per-task parquet file + metadata-only
  * commit message) but its driver commit PARKS the entries here instead
  * of touching the log; visibility happens only in commitStagedChanges.
  */
class AcidStagedTable(dir: String, tableSchema: StructType,
    specs: Seq[Acid.PartSpec] = Seq.empty, replace: Boolean = false,
    prepare: () => Unit = () => ())
    extends StagedTable with SupportsWrite with SupportsRead {
  @volatile private var pending: Seq[Acid.FileEntry] = Seq.empty

  override def name(): String = s"graft-acid-staged:$dir"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    // TRUNCATE: RTAS plans its staged write truncate-then-write
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.BATCH_READ,
      TableCapability.TRUNCATE)

  // CTAS never reads the staged table, but SupportsRead + a real builder
  // keeps the handle honest if an engine change ever validates it.
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AcidSqlTable(dir, tableSchema).newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    // SupportsTruncate: RTAS plans its staged write as truncate-then-
    // write; the staged handle has no prior data and the REPLACE commit
    // swaps the file list wholesale, so accepting it is a no-op
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          private val stageDir = s"d0_ctas_${java.util.UUID.randomUUID().toString.take(8)}"
          override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
            // a REPLACE stages under the NEW definition's spec — the
            // sidecar still carries the old one until commit
            new AcidSqlWriterFactory(dir, stageDir, info.schema(),
              if (replace) specs else Acid.partSpecsOf(dir))
          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            pending = AcidWriteMessages.entriesOf(messages)
          }
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            AcidWriteMessages.pathsOf(messages).foreach { p =>
              Files.deleteIfExists(Paths.get(dir, p)): Unit
            }
        }
      }
    }

  override def commitStagedChanges(): Unit =
    if (replace) {
      // identity reset + new definition land immediately before the
      // REPLACE manifest — an abort before this point leaves the old
      // table byte-identical
      prepare()
      Acid.replaceTableCommit(dir, pending): Unit
    } else Acid.appendCommitAt(dir, -1, pending) match {
      case Right(_) => ()
      case Left(err) => throw new IllegalStateException(
        s"CTAS commit lost the table-creation race: $err")
    }

  override def abortStagedChanges(): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(Comparator.reverseOrder[JPath]()).iterator().asScala
        .foreach(Files.deleteIfExists(_))
      finally w.close()
    }
  }
}
