package graft.spark

import java.util

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{
  Identifier, SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability,
  TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{
  LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.datasources.v2.FileTable
import org.apache.spark.sql.execution.datasources.v2.orc.OrcTable
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, raise_error, when}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core._
import graft.core.TableVersions.{CommitId, TableOperation, TableUpdate, UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

/**
 * DataSource V2 `TableCatalog` over the versioning layer (SURVEY.md §4.3
 * "proper integration"): versioned tables become first-class SQL citizens —
 *
 * {{{
 *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftTableCatalog].getName)
 *   GraftTableCatalog.bind("graft", log)
 *   GraftTableCatalog.register("graft", tableDefinition)
 *
 *   spark.sql("SELECT * FROM graft.db.events")                       // current version
 *   spark.sql("SELECT * FROM graft.db.events VERSION AS OF '<id>'")  // time travel
 * }}}
 *
 * `loadTable` resolves the commit log to concrete version directories and
 * returns Spark's own V2 parquet/ORC file table over them, so scans get the
 * stock pushdown/pruning/vectorization path; the `VERSION AS OF` overload
 * resolves the log AT that commit — the SQL-native spelling of
 * [[VersionedReader.readAsOf]] (reference read model:
 * `spark/src/main/scala/com/gu/tableversions/spark/SparkHiveMetastore.scala:16-43`,
 * which can only ever expose the latest synced version).
 *
 * SQL DML routes onto the SAME versioned write path the Scala API uses
 * (`versionedInsertInto`, via a `V1Write` fallback that hands the resolved
 * DataFrame back to the driver):
 *  - `INSERT OVERWRITE` = standard SQL STATIC overwrite — the whole table
 *    is replaced (new versions for written partitions plus a metadata-only
 *    prune commit removing partitions absent from the data). Hive-style
 *    replace-touched-only semantics stay available through the Scala
 *    `versionedInsertInto`;
 *  - `INSERT INTO` = copy-on-write append — the touched partitions' new
 *    version carries their current rows plus the inserted ones (untouched
 *    partitions keep their version), so SQL append never mutates an
 *    immutable version dir.
 * DDL: `CREATE TABLE … LOCATION` builds + inits + registers an external
 * versioned table (the SQL spelling of the reference's caller-side DDL,
 * `examples/.../TableLoader.scala:29-35`); `DROP TABLE` unregisters without
 * touching data or history; ALTER/RENAME reject.
 */
final class GraftTableCatalog extends TableCatalog {
  import GraftTableCatalog._

  private var catalogName: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    // allow a pure-conf setup: spark.sql.catalog.<name>.logDir=<dir> binds
    // the durable JSON log without any programmatic bind() call
    Option(options.get("logDir")).foreach { dir =>
      bindings.putIfAbsent(name, Binding(JsonFileTableVersions(dir), TrieMap.empty))
    }
  }

  override def name(): String = catalogName

  private def binding: Binding =
    bindings.getOrElse(catalogName,
      throw new IllegalStateException(
        s"GraftTableCatalog '$catalogName' is not bound: call GraftTableCatalog.bind " +
          s"or set spark.sql.catalog.$catalogName.logDir"))

  /** None when the identifier cannot name a graft table (depth ≠ 1): such
    * identifiers must surface as not-found, never as an analysis-aborting
    * IllegalArgumentException — `IF EXISTS` and analyzer fallbacks only
    * suppress NoSuchTableException. */
  private def tableNameOf(ident: Identifier): Option[TableName] =
    if (ident.namespace.length == 1) Some(TableName(ident.namespace.head, ident.name))
    else None

  private def definitionOf(ident: Identifier): (TableDefinition, Option[StructType]) =
    tableNameOf(ident)
      .flatMap(n => binding.tables.get(n.fullyQualifiedName))
      .getOrElse(
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] =
    binding.tables.keys.toArray.sorted.flatMap { fqn =>
      TableName.fromFullyQualified(fqn).toOption.collect {
        case t if namespace.isEmpty || namespace.sameElements(Array(t.schema)) =>
          Identifier.of(Array(t.schema), t.name)
      }
    }

  override def tableExists(ident: Identifier): Boolean =
    tableNameOf(ident).exists(n => binding.tables.contains(n.fullyQualifiedName))

  /** `REFRESH TABLE`: drop the cached version-dir listings and schemas
    * ([[SchemaCache]]). Never needed for correctness — published dirs are
    * immutable — it is the operator's reset for hand-edited storage. */
  override def invalidateTable(ident: Identifier): Unit = SchemaCache.invalidateAll()

  override def loadTable(ident: Identifier): Table = {
    val (defn, schema) = definitionOf(ident)
    // wrapped: reads delegate to Spark's own file table, writes route onto
    // the versioned write path (the raw FileTable would happily append
    // files INTO an immutable version dir). Merge-on-read deletion vectors
    // apply at PLAN level: [[GraftDvScanRule]] rewrites scans of wrapped
    // tables whose state carries a live sidecar into the DV anti-join.
    val tv = binding.log.currentVersion(defn.name)
    new GraftV2Table(defn, binding, fileTable(defn, tv, schema),
      mixedFold = isMixed(tv), catalogName = Some(catalogName))
  }

  /** `VERSION AS OF '<commitId>'` — time travel through the commit log.
    * Read-only by construction: SQL has no INSERT-into-the-past. Wrapped
    * like the current-state load (with the resolved commit pinned) so
    * [[GraftDvScanRule]] can apply that STATE's deletion vectors — a
    * post-delete state time-traveled to must keep hiding its rows. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val (defn, schema) = definitionOf(ident)
    // `VERSION AS OF` accepts a REF NAME (branch/tag), an all-digits
    // DESCRIBE HISTORY commit_index (1-based, oldest = 1), or a raw
    // commit id — the shared resolution of every AS OF surface
    val resolved =
      GraftMaintenanceSql.resolveVersionTarget(binding.log, defn.name, version)
    val tv = binding.log.versionAt(defn.name, resolved)
    // nested evolution: declare the addressed commit's struct shapes
    val schemaAt = SchemaStates.schemaFor(
      SparkSession.active, binding.log, defn, schema, resolved)
    new GraftV2Table(defn, binding,
      fileTable(defn, tv, schemaAt, Some(resolved)),
      Some(resolved), mixedFold = isMixed(tv))
  }

  /** `TIMESTAMP AS OF <ts>` — resolves to the LAST commit at or before the
    * given instant (Spark hands the timestamp in microseconds), then time
    * travels to it; before the first commit there is nothing to read. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val (defn, schema) = definitionOf(ident)
    val asOf = java.time.Instant.EPOCH.plusNanos(timestampMicros * 1000L)
    val commit = binding.log.updates(defn.name) // most recent first
      .find(!_.timestamp.isAfter(asOf))
      .getOrElse(throw new IllegalArgumentException(
        s"table ${defn.name.fullyQualifiedName} has no commit at or before $asOf"))
    val tvAt = binding.log.versionAt(defn.name, commit.id)
    val schemaAt = SchemaStates.schemaFor(
      SparkSession.active, binding.log, defn, schema, commit.id)
    new GraftV2Table(defn, binding,
      fileTable(defn, tvAt, schemaAt, Some(commit.id)),
      Some(commit.id), mixedFold = isMixed(tvAt))
  }

  private def fileTable(
      defn: TableDefinition,
      tv: TableVersion,
      registered: Option[StructType],
      at: Option[CommitId] = None): Table = {
    // MIXED fold (metadata-only partition evolution, pre-consolidation):
    // one delegate file table cannot span two layouts (conflicting
    // partition-column inference). The delegate narrows to the CURRENT
    // definition's era — a schema carrier only: [[GraftDvScanRule]]
    // rewrites every scan of a mixed table onto the era-union read, and
    // [[GraftV2Table.newScanBuilder]] refuses if that rule is absent.
    val sigs = PartitionEvolution.eraSignatures(tv)
    val servedTv =
      if (sigs.size <= 1) tv
      else {
        val currentSig = defn.partitionSchema.columns.map(_.name)
        tv match {
          case PartitionedTableVersion(pvs) =>
            val own = pvs.filter {
              case (p, _) => p.columnValues.map(_.column.name) == currentSig
            }
            // before the new era's first write, any one era works as the
            // schema carrier (every era holds the full logical column set)
            if (own.nonEmpty) PartitionedTableVersion(own)
            else {
              val firstSig = pvs.keys.head.columnValues.map(_.column.name)
              PartitionedTableVersion(pvs.filter {
                case (p, _) => p.columnValues.map(_.column.name) == firstSig
              })
            }
          case other => other
        }
      }
    val (paths, opts) = pathsFor(defn, servedTv)
    // a schema source for states with no files to infer from (never-written
    // snapshot, all-partitions-deleted, time travel to init): the
    // registered schema, else the newest data-bearing version in history
    val schema = registered.orElse(if (paths.isEmpty) schemaFromHistory(defn) else None)
    // TYPE WIDENING: the relation must DECLARE the wide type — files from
    // before the widen carry the narrow physical type, and a narrow
    // declaration would make consumers (and the scan-rule re-alias cast)
    // truncate post-widen values. Same override as
    // VersionedReader.withWidening; zero cost when nothing is widened.
    val widenMap = ColumnMapping.widenedTypesAt(
      SparkSession.active, binding.log, defn, at)
    val finalSchema =
      if (widenMap.isEmpty) schema
      else {
        val base = schema.getOrElse(buildFileTable(defn, paths, opts, None).schema())
        Some(ColumnMapping.applyWideningToSchema(base, widenMap))
      }
    buildFileTable(defn, paths, opts, finalSchema)
  }

  /** 2+ partition-column signatures in the state a load serves — the
    * mixed-fold marker [[GraftV2Table]] refuses raw scans on. */
  private def isMixed(tv: TableVersion): Boolean =
    PartitionEvolution.eraSignatures(tv).size > 1

  private def pathsFor(
      defn: TableDefinition, tv: TableVersion): (Seq[String], Map[String, String]) =
    tv match {
      case SnapshotTableVersion(v) if v == Version.Unversioned =>
        // never-written snapshot: the Unversioned sentinel maps to the BARE
        // table location, which by now holds the version subdirs — listing
        // it would union every version's rows. An empty path list reads as
        // an empty table.
        (Nil, Map.empty[String, String])
      case SnapshotTableVersion(v) =>
        (Seq(VersionPaths.pathFor(defn.location, v).toString), Map.empty[String, String])
      case PartitionedTableVersion(pvs) if pvs.isEmpty =>
        // nothing written yet (or every partition deleted): no basePath —
        // the location may not exist, and there is nothing to infer from
        (Nil, Map.empty[String, String])
      case PartitionedTableVersion(pvs) =>
        // leaf version dirs + basePath so `k=v` segments become partition
        // columns (same layout contract as VersionedReader.doMaterialize)
        (pvs.toSeq.map { case (p, v) => SparkPaths.dirFor(defn.location, p, v) }.sorted,
          Map("basePath" -> defn.location.toString))
    }

  /** Schema of the newest version that actually holds data — walked from
    * the commit history, read from that version's own files. Only consulted
    * for file-less states, so the extra footer read never lands on the hot
    * path. */
  private def schemaFromHistory(defn: TableDefinition): Option[StructType] = {
    val name = defn.name
    binding.log.updates(name).iterator
      .map(u => binding.log.versionAt(name, u.id))
      .collectFirst {
        case tv @ SnapshotTableVersion(v) if v != Version.Unversioned =>
          val (paths, opts) = pathsFor(defn, tv)
          buildFileTable(defn, paths, opts, None).schema()
        case tv @ PartitionedTableVersion(pvs) if pvs.nonEmpty =>
          val (paths, opts) = pathsFor(defn, tv)
          buildFileTable(defn, paths, opts, None).schema()
      }
  }

  private def buildFileTable(
      defn: TableDefinition,
      paths: Seq[String],
      opts: Map[String, String],
      schema: Option[StructType]): Table = {
    val spark = SparkSession.active
    val options = new CaseInsensitiveStringMap(opts.asJava)
    defn.format match {
      case FileFormat.Orc =>
        new GraftOrcTable(defn.name.fullyQualifiedName, spark, options, paths, schema)
      case _ =>
        new GraftParquetTable(defn.name.fullyQualifiedName, spark, options, paths, schema)
    }
  }

  /** Some(state) when the commit log already tracks `name`. Only the
    * unknown-table error maps to None — a corrupt/unreadable log must NOT
    * pass for "untracked" and slip past the CREATE adoption guard. */
  private def existingState(name: TableName): Option[TableVersion] =
    try Some(binding.log.currentVersion(name))
    catch { case _: NoSuchElementException => None } // untracked — fresh create

  /** `CREATE TABLE … USING parquet|orc [PARTITIONED BY (identity cols)]
    * LOCATION '…'` — the SQL spelling of caller-side table creation (the
    * reference initialises its tables with exactly such DDL,
    * `examples/.../TableLoader.scala:29-35`): build the `TableDefinition`,
    * init the commit log (idempotent), register the schema so the empty
    * table is immediately addressable. Tables are always external — DROP
    * unregisters without touching data or history. */
  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val tableName = tableNameOf(ident).getOrElse(
      throw new IllegalArgumentException(
        s"graft tables are schema.name; got ${ident.toString}"))
    val location = Option(properties.get(TableCatalog.PROP_LOCATION)).getOrElse(
      throw new IllegalArgumentException(
        "graft tables are external: CREATE TABLE requires a LOCATION"))
    val uri = {
      val raw = new java.net.URI(location)
      if (raw.getScheme != null) raw
      else java.nio.file.Paths.get(location).toAbsolutePath.toUri
    }
    val partCols = partitions.toList.map { t =>
      require(t.name == "identity",
        s"graft tables support identity partitioning only, got $t")
      PartitionColumn(t.references.head.fieldNames.mkString("."))
    }
    val format = Option(properties.get(TableCatalog.PROP_PROVIDER)).map(_.toLowerCase) match {
      case Some("orc")             => FileFormat.Orc
      case None | Some("parquet")  => FileFormat.Parquet
      case Some(other) =>
        throw new IllegalArgumentException(s"unsupported graft table format: $other")
    }
    val defn = TableDefinition(
      tableName, uri,
      if (partCols.isEmpty) PartitionSchema.snapshot else PartitionSchema(partCols),
      format)
    // init is idempotent, so a name whose commit history survived an
    // earlier DROP (external semantics) would be silently ADOPTED — and a
    // shape or location mismatch would resolve old version labels against
    // the new definition. Surface the conflict instead of handing back a
    // "fresh" table that reads someone else's history.
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val fs = org.apache.hadoop.fs.FileSystem.get(uri, conf)
    existingState(tableName).foreach { state =>
      val wasSnapshot = state.isInstanceOf[SnapshotTableVersion]
      if (wasSnapshot != defn.isSnapshot)
        throw new IllegalStateException(
          s"table ${tableName.fullyQualifiedName} already has " +
            s"${if (wasSnapshot) "snapshot" else "partitioned"} commit history in this log; " +
            "CREATE TABLE with a different partitioning cannot adopt it — " +
            "use a fresh table name or the matching partitioning")
      // shape matches: the history's version dirs must live under THIS
      // location, or every read would resolve labels to nonexistent paths
      val referenced = state match {
        case SnapshotTableVersion(v) if v != Version.Unversioned =>
          Some(new org.apache.hadoop.fs.Path(VersionPaths.pathFor(uri, v).toString))
        case PartitionedTableVersion(pvs) =>
          pvs.headOption.map { case (p, v) =>
            new org.apache.hadoop.fs.Path(SparkPaths.dirFor(uri, p, v))
          }
        case _ => None
      }
      referenced.filterNot(fs.exists).foreach { missing =>
        throw new IllegalStateException(
          s"table ${tableName.fullyQualifiedName} has commit history whose version " +
            s"directories are not under '$uri' (checked $missing); CREATE TABLE at a " +
            "different location cannot adopt that history")
      }
    }
    // external tables still need their root to exist for the first insert
    fs.mkdirs(new org.apache.hadoop.fs.Path(uri))
    // the Scala API's init sequence, reused verbatim: metastore registration
    // (in-memory impls) + idempotent log init
    VersionContext(GraftV2Table.metastoreFor(binding, defn))
      .init(defn, UserId("sql"), UpdateMessage("CREATE TABLE (SQL)"))
    binding.tables.put(tableName.fullyQualifiedName, (defn, Some(schema)))
    // CREATE TABLE … TBLPROPERTIES('k'='v'): user properties (everything
    // that isn't Spark's reserved location/provider/ownership plumbing)
    // seed the table's own property file ([[TableProperties]])
    val reserved = Set(
      TableCatalog.PROP_LOCATION, TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_COMMENT, TableCatalog.PROP_IS_MANAGED_LOCATION)
    val userProps = properties.asScala.toMap.filterNot { case (k, _) =>
      reserved.contains(k) || k.startsWith("option.")
    }
    TableProperties.seed(SparkSession.active, defn, userProps)
    // CREATE-time column comments (`c INT COMMENT '…'`) ride the schema's
    // field metadata — seed the durable sidecar so they survive the
    // session and emit from SHOW CREATE ([[Comments]])
    Comments.seed(SparkSession.active, defn,
      schema.fields.flatMap(f => f.getComment().map(f.name -> _)).toMap)
    loadTable(ident)
  }

  /** `ALTER TABLE … ADD COLUMN(S)` — the SQL spelling of the engine's
    * ADDITIVE schema evolution (Q37 proved the read side: footer-union
    * reads surface later-added columns as NULL on older files). The change
    * lands in the catalog's declared-schema slot — every subsequent read,
    * current or time-traveled, projects the widened schema, so pre-ALTER
    * versions show the new column as NULL — and is recorded as a
    * metadata-only commit (no version pointer moves, no data touched), so
    * the evolution is an auditable entry in DESCRIBE HISTORY. Only
    * top-level nullable adds are accepted: anything else (drop, rename,
    * type change) would invalidate immutable version dirs retroactively. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val tableName = tableNameOf(ident).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident))
    val (defn, declared) = definitionOf(ident)
    val setProps = changes.collect {
      case p: TableChange.SetProperty => p.property() -> p.value()
    }.toMap
    val unsetProps = changes.collect {
      case p: TableChange.RemoveProperty => p.property()
    }
    // ATOMICITY DISCIPLINE for a mixed ALTER: property values validate
    // FIRST (pure — a bad value refuses with nothing applied), the schema
    // fold runs next, and the property write lands LAST — a failing
    // schema change therefore never leaves half a statement applied
    if (setProps.nonEmpty) TableProperties.validate(defn, setProps)
    def applyProps(): Unit =
      if (setProps.nonEmpty || unsetProps.nonEmpty)
        TableProperties.applyChanges(
          SparkSession.active,
          VersionContext(GraftV2Table.metastoreFor(binding, defn)),
          defn, setProps, unsetProps, UserId("sql"))
    val schemaChanges = changes.filterNot(c =>
      c.isInstanceOf[TableChange.SetProperty] || c.isInstanceOf[TableChange.RemoveProperty])
    if (schemaChanges.isEmpty) { applyProps(); return loadTable(ident) }
    val base = declared.getOrElse(loadTable(ident).asInstanceOf[GraftV2Table].schema())
    // captured BEFORE the fold: TYPE WIDENING commits its audit entry
    // right after the fold (below), and the schema-state baseline must
    // anchor at-or-before that commit
    val preFold = binding.log.currentCommit(defn.name)
    // TYPE widenings VALIDATE inside the fold (pure — ColumnMapping.
    // validateWiden against the folding schema) but COMMIT only after the
    // whole fold passes: a multi-change ALTER that fails on a later
    // change must not leave a widen durably applied
    val pendingWidens =
      scala.collection.mutable.ListBuffer.empty[(Seq[String], org.apache.spark.sql.types.DataType)]
    // COLUMN REORDER audit texts, collected in the fold and committed after
    // it (one audit entry for the statement, like the widen discipline)
    val reorders = scala.collection.mutable.ListBuffer.empty[String]
    val widened = schemaChanges.foldLeft(base) {
      case (schema, add: TableChange.AddColumn) if add.fieldNames().length > 1 =>
        // NESTED ADD (`ADD COLUMN s.x T`) — additive struct evolution:
        // the declared struct widens (nullable, appended at its parent's
        // end), old files read the new field as a typed NULL (by-name
        // parquet clipping), and the pre-change shape is recorded as a
        // commit-anchored schema state so time travel reads the addressed
        // commit's struct shape ([[SchemaStates]])
        val path = add.fieldNames().toSeq
        require(add.isNullable,
          s"added field ${path.mkString(".")} must be nullable — existing rows hold no values for it")
        require(add.position() == null,
          s"ALTER TABLE ADD COLUMN ${path.mkString(".")} FIRST/AFTER is not supported — " +
            "fields append at their parent's end")
        // a dropped nested field cannot be reborn: old files still carry
        // the physical field, and a by-name clip would resurrect pre-drop
        // values into the new field
        require(!ColumnMapping.nestedDroppedAt(
          SparkSession.active, binding.log, defn, path),
          s"field ${path.mkString(".")} was dropped via column mapping and cannot be re-added")
        StructEvolution.addField(schema, path, add.dataType())
      case (schema, add: TableChange.AddColumn) =>
        require(add.isNullable,
          s"added column ${add.fieldNames()(0)} must be nullable — existing versions hold no values for it")
        require(add.position() == null,
          s"ALTER TABLE ADD COLUMN ${add.fieldNames()(0)} FIRST/AFTER is not supported — " +
            "columns append at the end (accepting the statement but placing the column " +
            "elsewhere would misalign positional INSERTs)")
        val n = add.fieldNames()(0)
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(n)), s"column $n already exists")
        // a dropped logical name cannot be reborn: old files still carry
        // its physical column, and a by-name footer union would resurrect
        // pre-drop values into the new column
        val spark = SparkSession.active
        require(!ColumnMapping.stateAt(spark, binding.log, defn, None)
          .exists(_.entries.exists(e => e.dropped && e.logical.equalsIgnoreCase(n))),
          s"column $n was dropped via column mapping and cannot be re-added")
        schema.add(org.apache.spark.sql.types.StructField(n, add.dataType(), nullable = true))
      case (schema, ren: TableChange.RenameColumn) if ren.fieldNames().length > 1 =>
        // NESTED rename: a column-mapping path entry (physical path frozen
        // in every file generation; reads rebuild the struct logical-named)
        val path = ren.fieldNames().toSeq
        val renamed = StructEvolution.renameField(schema, path, ren.newName())
        ColumnMapping.renameNested(
          SparkSession.active,
          VersionContext(GraftV2Table.metastoreFor(binding, defn)),
          defn, path, ren.newName(), UserId("sql"))
        renamed
      case (schema, ren: TableChange.RenameColumn) =>
        // COLUMN MAPPING rename: metadata-only, zero file rewrites — the
        // physical name stays frozen in every file generation
        val from = ren.fieldNames()(0)
        val spark = SparkSession.active
        ColumnMapping.rename(
          spark, VersionContext(GraftV2Table.metastoreFor(binding, defn)),
          defn, from, ren.newName(), UserId("sql"))
        org.apache.spark.sql.types.StructType(schema.map(f =>
          if (f.name.equalsIgnoreCase(from)) f.copy(name = ren.newName()) else f))
      case (schema, del: TableChange.DeleteColumn) if del.fieldNames().length > 1 =>
        // NESTED drop: metadata-only — the physical field keeps its bytes
        // (time travel to a pre-drop commit still shows it); reads omit it
        // from the struct rebuild
        val path = del.fieldNames().toSeq
        val dropped = StructEvolution.dropField(schema, path)
        ColumnMapping.dropNested(
          SparkSession.active,
          VersionContext(GraftV2Table.metastoreFor(binding, defn)),
          defn, path, UserId("sql"))
        dropped
      case (schema, del: TableChange.DeleteColumn) =>
        val name = del.fieldNames()(0)
        val spark = SparkSession.active
        ColumnMapping.dropColumn(
          spark, VersionContext(GraftV2Table.metastoreFor(binding, defn)),
          defn, name, UserId("sql"))
        org.apache.spark.sql.types.StructType(
          schema.filterNot(_.name.equalsIgnoreCase(name)))
      case (schema, upd: TableChange.UpdateColumnType) =>
        // TYPE WIDENING via column mapping — top-level or a NESTED struct
        // field (`ALTER COLUMN meta.cnt TYPE BIGINT`, a path-keyed
        // mapping entry): metadata-only, no file rewrite; narrowing/lossy
        // changes refuse HERE (pure), the commit lands after the fold
        val path = upd.fieldNames().toSeq
        ColumnMapping.validateWiden(defn, schema, path, upd.newDataType())
        pendingWidens += ((path, upd.newDataType()))
        StructEvolution.setFieldType(schema, path, upd.newDataType())
      case (schema, pos: TableChange.UpdateColumnPosition) =>
        // COLUMN REORDER (`ALTER COLUMN c FIRST | AFTER x`) — metadata-only
        // logical reorder of the DECLARED schema: reads project the new
        // order (parquet resolves requested columns by name, so every file
        // generation serves it), by-name writes are order-blind, and
        // positional INSERTs follow the new declaration — which is what a
        // reorder REQUESTS, unlike the silent misplacement an ADD ... FIRST
        // would be (that one still refuses above). The change commits as an
        // audit entry and records a schema state, so time travel and
        // SHOW CREATE ... VERSION AS OF replay the addressed commit's order.
        require(pos.fieldNames().length == 1,
          s"ALTER COLUMN ${pos.fieldNames().mkString(".")} FIRST/AFTER is not " +
            "supported — a nested field's position is the struct's own " +
            "declaration; reorder top-level columns only")
        val name = pos.fieldNames()(0)
        val idx = schema.fields.indexWhere(_.name.equalsIgnoreCase(name))
        require(idx >= 0, s"column $name does not exist")
        // partition columns render at the table's END (the Hive-layout
        // delegate contract) — a reorder naming one, or anchoring a data
        // column after one, could not be honored and refuses instead of
        // silently landing elsewhere
        val partCols = defn.partitionSchema.columns.map(_.name.toLowerCase).toSet
        require(!partCols.contains(name.toLowerCase),
          s"cannot reorder partition column $name — partition columns " +
            "render at the table's end")
        pos.position() match {
          case a: TableChange.After =>
            require(!partCols.contains(a.column().toLowerCase),
              s"cannot position $name AFTER partition column ${a.column()} — " +
                "partition columns render at the table's end")
          case _ => ()
        }
        val moved = schema.fields(idx)
        val rest = schema.fields.patch(idx, Nil, 1)
        val (rebuilt, text) = pos.position() match {
          case _: TableChange.First => (moved +: rest, s"ALTER COLUMN $name FIRST")
          case a: TableChange.After =>
            require(!a.column().equalsIgnoreCase(name),
              s"cannot position column $name after itself")
            val t = rest.indexWhere(_.name.equalsIgnoreCase(a.column()))
            require(t >= 0, s"AFTER column ${a.column()} does not exist")
            (rest.patch(t + 1, Seq(moved), 0), s"ALTER COLUMN $name AFTER ${a.column()}")
        }
        reorders += text
        org.apache.spark.sql.types.StructType(rebuilt)
      case (schema, nn: TableChange.UpdateColumnNullability) =>
        // SET / DROP NOT NULL — the declared-nullability spelling of the
        // write-path constraint machinery. SET validates EXISTING data
        // (Constraints.add scans for violations and refuses with the
        // count) and lands its audit commit; from SQL this arm is only
        // reachable as DROP NOT NULL (Spark's own analyzer refuses SET
        // NOT NULL over a nullable column before any catalog sees it —
        // the `ADD CONSTRAINT … CHECK (c IS NOT NULL)` spelling stands,
        // pinned in ConstraintsSpec), so SET serves the programmatic
        // DSv2 path. DROP removes the convention-named constraint when
        // one exists, else commits a plain audit entry (a CREATE-time
        // NOT NULL column has no constraint row to drop). The declared
        // slot flips either way, so SHOW CREATE and the analyzer agree.
        require(nn.fieldNames().length == 1,
          s"ALTER COLUMN ${nn.fieldNames().mkString(".")} SET/DROP NOT NULL " +
            "is top-level only — nested fields stay nullable by the " +
            "additive-evolution contract")
        val n = nn.fieldNames()(0)
        require(schema.fields.exists(_.name.equalsIgnoreCase(n)),
          s"column $n does not exist")
        val spark = SparkSession.active
        val ctx = VersionContext(GraftV2Table.metastoreFor(binding, defn))
        if (!nn.nullable())
          Constraints.add(spark, ctx, defn, Constraints.notNull(n), UserId("sql"))
        else {
          val nm = s"${n}_not_null"
          if (Constraints.list(spark, defn).exists(_.name == nm))
            Constraints.drop(spark, ctx, defn, nm, UserId("sql"))
          else
            GraftV2Table.metastoreFor(binding, defn).commit(defn.name, TableUpdate(
              UserId("sql"), UpdateMessage(s"ALTER COLUMN $n DROP NOT NULL"),
              java.time.Instant.now(), Nil))
        }
        org.apache.spark.sql.types.StructType(schema.map(f =>
          if (f.name.equalsIgnoreCase(n)) f.copy(nullable = nn.nullable()) else f))
      case (schema, cm: TableChange.UpdateColumnComment) =>
        // COLUMN COMMENT — durable free-text documentation ([[Comments]]):
        // audited, clone-carried, DESCRIBE-visible, SHOW CREATE-emitted.
        // Purely descriptive, so the declared schema is unchanged (the
        // served schema decorates from the sidecar). The SQL path arrives
        // analyzer-resolved; a programmatic top-level typo still refuses.
        val path = cm.fieldNames().toSeq
        require(path.length > 1 ||
          schema.fields.exists(_.name.equalsIgnoreCase(path.head)),
          s"column ${path.head} does not exist")
        Comments.set(
          SparkSession.active,
          VersionContext(GraftV2Table.metastoreFor(binding, defn)),
          defn, path.mkString("."),
          Option(cm.newComment()).filter(_.nonEmpty), UserId("sql"))
        schema
      case (_, other) =>
        throw new UnsupportedOperationException(
          s"graft catalog supports ALTER TABLE ADD/RENAME/DROP COLUMN, " +
            s"ALTER COLUMN TYPE (widening), ALTER COLUMN FIRST/AFTER " +
            s"(reorder), ALTER COLUMN SET/DROP NOT NULL, and ALTER COLUMN " +
            s"COMMENT only, got ${other.getClass.getSimpleName}")
    }
    // the whole fold validated — the collected widens commit now (their
    // audit entries anchor after preFold, before the schema-state record)
    pendingWidens.foreach { case (path, dt) =>
      ColumnMapping.widenPath(
        SparkSession.active, VersionContext(GraftV2Table.metastoreFor(binding, defn)),
        defn, path, dt.catalogString, UserId("sql"))
    }
    binding.tables.put(tableName.fullyQualifiedName, (defn, Some(widened)))
    val added = changes.collect { case a: TableChange.AddColumn => a.fieldNames().mkString(".") }
    val nestedAdd = changes.exists {
      case a: TableChange.AddColumn => a.fieldNames().length > 1
      case _ => false
    }
    val typeChanged = schemaChanges.exists(_.isInstanceOf[TableChange.UpdateColumnType])
    if (added.nonEmpty)
      GraftV2Table.metastoreFor(binding, defn).commit(defn.name, TableUpdate(
        UserId("sql"), UpdateMessage(s"ALTER TABLE ADD COLUMNS (${added.mkString(", ")})"),
        java.time.Instant.now(), Nil))
    if (reorders.nonEmpty)
      GraftV2Table.metastoreFor(binding, defn).commit(defn.name, TableUpdate(
        UserId("sql"), UpdateMessage(s"ALTER TABLE ${reorders.mkString("; ")}"),
        java.time.Instant.now(), Nil))
    // nested adds, TYPE widenings, and column reorders anchor a schema
    // state at their audit commit (plus the pre-change baseline), so a
    // time-traveled load declares the ADDRESSED commit's struct shape /
    // column width / column order — rename/drop shape travel stays with
    // the column-mapping states
    if (nestedAdd || typeChanged || reorders.nonEmpty)
      SchemaStates.record(
        SparkSession.active, defn, base, preFold, widened,
        binding.log.currentCommit(defn.name))
    applyProps()
    loadTable(ident)
  }

  /** External-table semantics: forget the catalog entry; data, versions,
    * and commit history stay on disk untouched. */
  override def dropTable(ident: Identifier): Boolean =
    tableNameOf(ident)
      .exists(n => binding.tables.remove(n.fullyQualifiedName).isDefined)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft catalog does not support RENAME")
}

/** Spark's own file table over a state's version dirs, with the listing
  * served through [[SchemaCache]]'s shared cache: the stock `fileIndex`
  * lists every dir again on each load (one Spark job above 32 dirs). The
  * existence check of the stock index still runs on every load. */
private[spark] trait GraftFileTable extends FileTable {
  // the case-class fields of ParquetTable / OrcTable
  def sparkSession: SparkSession
  def options: CaseInsensitiveStringMap
  def paths: Seq[String]
  def userSpecifiedSchema: Option[StructType]

  override lazy val fileIndex: PartitioningAwareFileIndex =
    SchemaCache.fileIndex(
      sparkSession, paths, options.asCaseSensitiveMap.asScala.toMap, userSpecifiedSchema)

  // no files and no declared schema: nothing can type the table (the
  // stock error names neither the cause nor the way out)
  abstract override def inferSchema(
      files: Seq[org.apache.hadoop.fs.FileStatus]): Option[StructType] =
    if (paths.nonEmpty) super.inferSchema(files)
    else
      throw new IllegalStateException(
        s"table ${name()} has no schema: it was registered without one and no " +
          "version holding data has been written yet. Register it with a schema " +
          "(GraftTableCatalog.register(catalog, table, Some(schema)) or CREATE " +
          "TABLE with columns), or write it once through versionedInsertInto")
}

private[spark] final class GraftParquetTable(
    name: String,
    spark: SparkSession,
    options: CaseInsensitiveStringMap,
    paths: Seq[String],
    schema: Option[StructType])
  extends ParquetTable(name, spark, options, paths, schema, classOf[
    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])
  with GraftFileTable

private[spark] final class GraftOrcTable(
    name: String,
    spark: SparkSession,
    options: CaseInsensitiveStringMap,
    paths: Seq[String],
    schema: Option[StructType])
  extends OrcTable(name, spark, options, paths, schema, classOf[
    org.apache.spark.sql.execution.datasources.orc.OrcFileFormat])
  with GraftFileTable

/** V2 table wrapper: reads pass straight through to Spark's file table;
  * writes become versioned commits (see the catalog scaladoc); DELETE over
  * partition-value predicates is METADATA-ONLY — it commits
  * `RemovePartition` operations, so the delete is one more time-travelable
  * entry in the history and no data file is touched (vacuum reclaims
  * unreferenced version dirs later). Row-level DELETE (and UPDATE / MERGE)
  * never reach this class's `SupportsDelete` path: [[GraftDmlRule]]
  * intercepts them post-analysis and executes partition-granular
  * copy-on-write rewrites. `SHOW PARTITIONS` resolves from the commit log
  * ([[org.apache.spark.sql.connector.catalog.SupportsPartitionManagement]],
  * read-only). */
private[spark] final class GraftV2Table(
    defn: TableDefinition,
    binding: GraftTableCatalog.Binding,
    delegate: Table,
    asOf: Option[CommitId] = None,
    mixedFold: Boolean = false,
    catalogName: Option[String] = None)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {

  // exposed for the SQL DML resolution rule (GraftDmlRule), which routes
  // MERGE/UPDATE/DELETE statements onto the copy-on-write write path
  private[spark] def tableDefinition: TableDefinition = defn
  private[spark] def tableBinding: GraftTableCatalog.Binding = binding
  // the pinned commit for a time-travel load (None = current pointer):
  // GraftDvScanRule resolves THIS state's deletion-vector sidecar
  private[spark] def tableAsOf: Option[CommitId] = asOf
  // mixed-era state (metadata-only partition evolution): the delegate
  // carries ONE era's files as a schema source; only the scan rule's
  // era-union rewrite may serve rows
  private[spark] def isMixedFold: Boolean = mixedFold

  // ---- SupportsPartitionManagement: READ-ONLY — `SHOW PARTITIONS` lists
  // the CURRENT version's partition set straight from the commit log
  // (metadata-only, no file listing); partition mutation stays the job of
  // versioned writes and DELETE commits, so the DDL mutators reject.

  override def partitionSchema(): StructType =
    StructType(defn.partitionSchema.columns.map { c =>
      schema().find(_.name.equalsIgnoreCase(c.name))
        .getOrElse(org.apache.spark.sql.types.StructField(
          c.name, org.apache.spark.sql.types.StringType))
    })

  private def currentPartitions: Seq[Partition] =
    binding.log.currentVersion(defn.name) match {
      case PartitionedTableVersion(pvs) => pvs.keys.toSeq
      case _                            => Nil
    }

  /** Stored partition values are strings; cast each to the partition
    * schema's type so SHOW PARTITIONS renders what a scan would. */
  private def toIdent(p: Partition): org.apache.spark.sql.catalyst.InternalRow = {
    import org.apache.spark.sql.catalyst.expressions.{Cast => CastExpr, Literal => Lit}
    val byName = p.columnValues.map(cv => cv.column.name -> cv.value).toMap
    val values = partitionSchema().map { f =>
      val raw = byName.getOrElse(f.name, null)
      if (raw == null) null
      else CastExpr(
        Lit(org.apache.spark.unsafe.types.UTF8String.fromString(raw),
          org.apache.spark.sql.types.StringType),
        f.dataType, Some("UTC")).eval(null)
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values.toArray)
  }

  override def listPartitionIdentifiers(
      names: Array[String],
      ident: org.apache.spark.sql.catalyst.InternalRow):
      Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val ps = partitionSchema()
    val positions = names.map(n => ps.fieldIndex(n))
    currentPartitions.map(toIdent).filter { row =>
      positions.zipWithIndex.forall { case (pos, i) =>
        val want = ident.get(i, ps(positions(i)).dataType)
        val have = row.get(pos, ps(pos).dataType)
        want == have || (want != null && want.equals(have))
      }
    }.toArray
  }

  override def partitionExists(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean =
    listPartitionIdentifiers(partitionSchema().fieldNames, ident).nonEmpty

  private def readOnlyPartitions: Nothing =
    throw new UnsupportedOperationException(
      "graft partitions are managed by versioned writes and DELETE commits, " +
        "not partition DDL")

  override def createPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit = readOnlyPartitions

  override def dropPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean = readOnlyPartitions

  override def replacePartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit = readOnlyPartitions

  override def loadPartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow): util.Map[String, String] =
    util.Collections.emptyMap()

  override def name(): String = delegate.name()
  // the engine's row-tracking id is a real file column but NOT part of
  // the table's SQL surface: SELECT * never shows it, INSERT never names
  // it (the write path stamps it like any GENERATED ALWAYS identity)
  override def schema(): StructType =
    // declared column DEFAULTs ride the schema as CURRENT_DEFAULT field
    // metadata, so SQL INSERT column lists and the DEFAULT keyword fill
    // through the analyzer's own machinery; declared column COMMENTs
    // decorate too (DESCRIBE visibility)
    Comments.decorate(
      org.apache.spark.sql.SparkSession.active, defn,
      ColumnDefaults.decorate(
        org.apache.spark.sql.SparkSession.active, defn,
        StructType(delegate.schema().filterNot(
          _.name.equalsIgnoreCase(RowTracking.RowIdCol)))))
  override def partitioning(): Array[Transform] = delegate.partitioning()
  override def properties(): util.Map[String, String] = {
    // table properties (TBLPROPERTIES) overlay the file table's own —
    // SHOW TBLPROPERTIES serves the declared set through the stock path
    val merged = new util.HashMap[String, String](delegate.properties())
    TableProperties.list(org.apache.spark.sql.SparkSession.active, defn)
      .foreach { case (k, v) => merged.put(k, v) }
    merged
  }

  // deliberately NOT the delegate's capabilities: the file table's own
  // BATCH_WRITE would write files into an immutable version dir. No
  // OVERWRITE_DYNAMIC either — Spark would then plan
  // OverwritePartitionsDynamicExec, which has no V1 fallback and would
  // crash on write.toBatch; without the capability, dynamic conf falls
  // back to the truncate path below
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  // wrapped for DYNAMIC PARTITION PRUNING: Spark's V2 FileScan exposes no
  // runtime-filtering interface, so without this a star join against the
  // versioned table scans every partition the log references even when the
  // dim filter admits two (see GraftRuntimeFiltering). Pushdown forwards
  // through untouched (pinned in GraftTableCatalogSpec).
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // a mixed-era scan must never execute raw: the delegate holds ONE
    // era's files (a schema carrier). GraftDvScanRule replaces the
    // relation with the era-union read during analysis; reaching here
    // means the graft extensions are not installed on this session.
    if (mixedFold)
      throw new IllegalStateException(
        s"table ${defn.name.fullyQualifiedName} holds mixed partition-scheme " +
          "eras (metadata-only evolution): scans require the graft session " +
          "extensions (GraftDvScanRule) or PartitionEvolution.consolidateEras")
    // `readStream.table("cat.db.t")`: the NET-CONTENTS stream, options
    // maxCommitsPerTrigger / startingCommit / startingTimestamp. The feed
    // modes add a `_change_type` column the fixed relation schema here
    // cannot carry — refuse with the handle-API pointer instead of
    // silently serving the wrong shape. Time-travel loads never stream.
    Seq("changefeed", "feedkeys", "trackedfeed").foreach { k =>
      if (options.containsKey(k))
        throw new UnsupportedOperationException(
          s"readStream.table does not support option '$k' (the change-feed " +
            "stream carries an extra _change_type column): use " +
            "VersionedStream.readChangeFeed / readTrackedChangeFeed")
    }
    val streamInfo = catalogName.filter(_ => asOf.isEmpty).map(c =>
      VersionedStream.GraftStreamInfo(
        c, defn.name.fullyQualifiedName, schema(),
        Option(options.get("maxCommitsPerTrigger")).map(_.toInt),
        Option(options.get("startingCommit")),
        Option(options.get("startingTimestamp"))))
    new org.apache.spark.sql.execution.datasources.v2.GraftDppScanBuilder(
      delegate.asInstanceOf[SupportsRead].newScanBuilder(options), streamInfo)
  }

  private val partitionColNames = defn.partitionSchema.columns.map(_.name).toSet

  /** True only for predicates decidable from partition VALUES alone. */
  private def partitionOnly(f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, _) => partitionColNames(a)
      case In(a, _)      => partitionColNames(a)
      case And(l, r)     => partitionOnly(l) && partitionOnly(r)
      case Or(l, r)      => partitionOnly(l) && partitionOnly(r)
      case _: AlwaysTrue => true // unconditional DELETE = remove every partition
      case _             => false
    }
  }

  /** Partition values are STRINGS in the version model, but Spark's
    * partition-type inference may hand the literal back typed — and
    * re-rendered: `hour=01` infers as int 1, whose `String.valueOf` ("1")
    * no longer equals the stored "01". Compare in the LITERAL's domain by
    * parsing the stored string, so a canonical-form mismatch can't turn a
    * DELETE into a silent no-op. */
  private def valueMatches(stored: String, literal: Any): Boolean = literal match {
    case null => false
    case v: java.lang.Number =>
      // tolerate padded/decimal renderings: compare numerically
      scala.util.Try(BigDecimal(stored.trim) == BigDecimal(v.toString)).getOrElse(false)
    case v: java.lang.Boolean =>
      stored.trim.equalsIgnoreCase(v.toString)
    case v: java.sql.Date =>
      scala.util.Try(java.sql.Date.valueOf(stored.trim).equals(v)).getOrElse(false)
    case v: java.time.LocalDate =>
      scala.util.Try(java.time.LocalDate.parse(stored.trim) == v).getOrElse(false)
    case v => stored == String.valueOf(v)
  }

  private def matches(p: Partition, f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    val values = p.columnValues.map(cv => cv.column.name -> cv.value).toMap
    f match {
      case EqualTo(a, v) => values.get(a).exists(valueMatches(_, v))
      case In(a, vs)     => vs.exists(v => values.get(a).exists(valueMatches(_, v)))
      case And(l, r)     => matches(p, l) && matches(p, r)
      case Or(l, r)      => matches(p, l) || matches(p, r)
      case _: AlwaysTrue => true
      case _             => false
    }
  }

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    !defn.isSnapshot && filters.forall(partitionOnly)

  /** `TRUNCATE TABLE t` — one metadata-only, time-travelable commit:
    * partitioned tables remove every partition of every era (the
    * unconditional-delete shape below); snapshot tables point back at the
    * `Unversioned` sentinel, which reads as empty. No data file moves —
    * the pre-truncate state stays addressable until vacuum. */
  override def truncateTable(): Boolean = {
    require(asOf.isEmpty, "cannot TRUNCATE a time-travel view")
    if (defn.isSnapshot) {
      GraftV2Table.metastoreFor(binding, defn).commit(defn.name, TableUpdate(
        UserId("sql"), UpdateMessage("TRUNCATE TABLE (SQL)"),
        java.time.Instant.now(),
        List(TableOperation.AddTableVersion(Version.Unversioned))))
      ()
    } else deleteWhere(
      Array[org.apache.spark.sql.sources.Filter](
        new org.apache.spark.sql.sources.AlwaysTrue))
    true
  }

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    // belt-and-braces twin of the rule-side routing: a VALUE-matching
    // partition delete keys on the CURRENT scheme's columns, so a mixed
    // fold's old-era dirs would silently survive — refuse here too for
    // any direct SupportsDelete caller. An UNCONDITIONAL delete (no
    // value filters) drops every dir of every era and stays legal.
    if (filters.exists(f => !f.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
      PartitionEvolution.requireUniformFold(
        binding.log, defn, "partition-granular DELETE")
    val current = binding.log.currentVersion(defn.name) match {
      case PartitionedTableVersion(pvs) => pvs
      case other => sys.error(s"partition delete does not apply to $other")
    }
    val doomed = current.keys.filter(p => filters.forall(matches(p, _))).toList
    if (doomed.nonEmpty) {
      val update = TableUpdate(
        UserId("sql"), UpdateMessage("DELETE (SQL)"), java.time.Instant.now(),
        doomed.map(TableOperation.RemovePartition(_)))
      GraftV2Table.metastoreFor(binding, defn).commit(defn.name, update)
      ()
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwriteArg: Boolean): Unit =
              GraftV2Table.insertVersioned(defn, binding, data, overwrite || overwriteArg)
          }
      }
    }
}

private[spark] object GraftV2Table {

  /** The current table contents, or None while the table has never been
    * written (reading an unversioned/empty state has no schema to offer). */
  private def currentOrNone(
      spark: SparkSession, binding: GraftTableCatalog.Binding, defn: TableDefinition): Option[DataFrame] =
    binding.log.currentVersion(defn.name) match {
      case SnapshotTableVersion(v) if v == Version.Unversioned => None
      case PartitionedTableVersion(m) if m.isEmpty             => None
      // DV-aware + column-mapped: INSERT's copy-on-write carry-union must
      // not resurrect merge-on-read-deleted rows, and must carry LOGICAL
      // names so the union with the (logical) insert batch lines up.
      // CURRENT-SCHEME DIRS ONLY: on a mixed era fold (metadata-only
      // evolution) the old-era dirs are NOT replaced by this write —
      // carrying their rows into a fresh current-scheme dir would serve
      // them TWICE (both dirs stay referenced). Overlay rows of the
      // current-scheme partitions ride along (readPartitions) — those ARE
      // absorbed when their partition re-lands.
      case PartitionedTableVersion(m) =>
        val curSig = defn.partitionSchema.columns.map(_.name)
        val schemeParts = m.keys
          .filter(_.columnValues.map(_.column.name) == curSig).toList
        if (schemeParts.isEmpty) None
        else Some(ColumnMapping.applyLogical(
          DeletionVectors.readPartitions(spark, binding.log, defn, schemeParts),
          spark, binding.log, defn, None))
      case _ => Some(ColumnMapping.applyLogical(
        DeletionVectors.read(spark, binding.log, defn),
        spark, binding.log, defn, None))
    }

  /** The caller's metastore when one is bound — SQL writes then sync their
    * catalog exactly like the Scala API — else a throwaway in-memory one
    * (the commit-log append IS the commit, SURVEY §7.2). */
  private[spark] def metastoreFor(
      binding: GraftTableCatalog.Binding, defn: TableDefinition): VersionedMetastore =
    binding.vms.getOrElse {
      val ms = new InMemoryMetastore
      ms.register(defn)
      VersionedMetastore(binding.log, ms)
    }

  private[spark] def insertVersioned(
      defn: TableDefinition,
      binding: GraftTableCatalog.Binding,
      data: DataFrame,
      overwrite: Boolean): Unit = GeneratedColumns.withSqlNullFill {
    val spark = data.sparkSession
    val ctx = VersionContext(metastoreFor(binding, defn))
    val message =
      UpdateMessage(if (overwrite) "INSERT OVERWRITE (SQL)" else "INSERT INTO (SQL)")
    // a DECLARED identity column stamps engine-assigned ids into the batch
    // (GENERATED ALWAYS: the batch may omit the column or carry it
    // all-NULL — the analyzer's fill for an omitted column-list entry — a
    // supplied value rejects); the carried current rows below keep the ids
    // they already own
    val identity = IdentityColumns.declared(spark, defn)
    var hwmAtStamp = -1L
    val data0 = identity match {
      case None => data
      case Some(c) =>
        val supplied = data.columns.find(_.equalsIgnoreCase(c))
        // a supplied non-NULL id rejects INSIDE the staged write's own
        // pass (the Constraints.enforced raise_error posture) — a
        // separate pre-pass action would execute the source query twice
        // and, for a nondeterministic source, check different rows than
        // the write lands
        val checked = supplied.fold(data) { cc =>
          data.filter(coalesce(
            when(col(cc).isNotNull, raise_error(lit(
              s"identity column $c is GENERATED ALWAYS — the batch must " +
                "not supply values"))),
            lit(true)))
        }
        hwmAtStamp = IdentityColumns.effectiveHighWaterMark(spark, binding.log, defn, c)
        IdentityColumns.stamped(supplied.map(checked.drop(_)).getOrElse(checked), c, hwmAtStamp)
    }
    // MERGE-ON-READ append (`SET spark.graft.dml.mergeOnRead=true`): the
    // batch lands as a row-overlay sidecar ([[RowOverlay]]) plus real dirs
    // only for partitions that don't exist yet — O(batch) written, NO
    // partition rewritten (the copy-on-write carry below re-lands every
    // touched partition wholesale). Not for OVERWRITE (a replace must move
    // pointers) and not for the table's first write (nothing to carry —
    // the ordinary path is already O(batch) there).
    if (!overwrite &&
        TableProperties.effectiveFlag(spark, defn, TableProperties.MergeOnRead) &&
        currentOrNone(spark, binding, defn).isDefined) {
      RowOverlay.append(
        data0.toDF(), ctx, defn, UserId("sql"),
        UpdateMessage("INSERT INTO (SQL, merge-on-read)"),
        identity = identity.map(c => (c, hwmAtStamp)))
      return
    }
    val (toWrite, pinned) =
      if (overwrite) (data0, None)
      else currentOrNone(spark, binding, defn) match {
        case None => (data0, None)
        // allowMissingColumns: after ALTER TABLE ADD COLUMN the batch
        // carries the widened schema but pre-ALTER files don't — their
        // rows union in with NULL for the new column (the analyzer already
        // guarantees the batch side is never narrower than the table)
        case Some(current) if defn.isSnapshot =>
          (data0.unionByName(current, allowMissingColumns = true), None)
        case Some(current) =>
          // copy-on-write append: the touched partitions' fresh version must
          // carry their current rows too; `touched` is #partitions rows —
          // metadata-sized, safe to broadcast at any corpus scale. The batch
          // is pinned to ONE materialization first: `touched` and the union
          // otherwise evaluate `data` independently, and a non-deterministic
          // source could write a partition `touched` missed — silently
          // dropping that partition's current rows from the fresh version
          // (the same hazard the overwrite prune below avoids by diffing
          // commit metadata instead of re-reading `data`).
          val cached = data0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val partCols = defn.partitionSchema.columns.map(_.name)
          val touched = cached.select(partCols.map(col): _*).distinct()
          (cached.unionByName(
            current.join(broadcast(touched), partCols, "left_semi"),
            allowMissingColumns = true),
            Some(cached))
      }
    // SQL INSERT OVERWRITE is a STATIC whole-table replace: partitions
    // absent from the new data must go too (the Scala API's
    // versionedInsertInto keeps Hive-style replace-touched-only
    // semantics). The doomed set is every CURRENT partition; alsoRemove
    // drops the ones the write job did NOT produce — decided from the
    // staged-output ops, never from re-evaluating `data` (a
    // non-deterministic source re-run could disagree with what was
    // written) — in the SAME commit: one atomic replace, no transient
    // merged state between a write and a follow-up prune.
    val doomed: Seq[Partition] =
      if (overwrite && !defn.isSnapshot)
        binding.log.currentVersion(defn.name) match {
          case PartitionedTableVersion(pvs) => pvs.keys.toList
          case _                            => Nil
        }
      else Nil
    // an identity write commits through the stage→derive-hwm→commit path
    // so the advanced high-water mark rides the same atomic commit
    try identity match {
      case Some(c) => IdentityColumns.stageAndCommit(
        toWrite.toDF(), ctx, defn, c, UserId("sql"), message,
        alsoRemove = doomed, hwmAtStamp = hwmAtStamp)
      case None => toWrite.versionedInsertInto(
        ctx, defn, UserId("sql"), message, alsoRemove = doomed)
    } finally pinned.foreach { df => df.unpersist(); () }
    ()
  }
}

object GraftTableCatalog {

  private[spark] final case class Binding(
      log: TableVersions,
      tables: TrieMap[String, (TableDefinition, Option[StructType])],
      vms: Option[VersionedMetastore] = None)

  private val bindings = TrieMap[String, Binding]()

  /** Bind a commit log to a catalog name (programmatic alternative to the
    * `spark.sql.catalog.<name>.logDir` conf). */
  def bind(catalogName: String, log: TableVersions): Unit =
    bindings.put(catalogName, Binding(log, TrieMap.empty))

  /** Bind with a full [[VersionedMetastore]]: SQL writes then sync the
    * caller's catalog after each commit, exactly like the Scala write API. */
  def bind(catalogName: String, vms: VersionedMetastore): Unit =
    bindings.put(catalogName, Binding(vms.tableVersions, TrieMap.empty, Some(vms)))

  /** Expose a versioned table through catalog `catalogName`. Pass `schema`
    * (full columns, partition columns included) to make a NEVER-written
    * table SQL-addressable — schema inference has no files to look at until
    * the first insert. */
  def register(
      catalogName: String,
      table: TableDefinition,
      schema: Option[StructType] = None): Unit =
    bindings.getOrElse(catalogName,
      throw new IllegalStateException(s"catalog '$catalogName' is not bound"))
      .tables.put(table.name.fullyQualifiedName, (table, schema))

  /** The schema a table was registered (or ALTERed) with, if any — the
    * declared-schema source COPY INTO pins text-format ingests to. */
  private[spark] def registeredSchema(
      catalogName: String, table: TableName): Option[StructType] =
    bindings.get(catalogName)
      .flatMap(_.tables.get(table.fullyQualifiedName))
      .flatMap(_._2)

  /** Execution-time lookup for the maintenance SQL commands
    * ([[GraftMaintenanceSql]]): binding + definition by catalog and name. */
  private[spark] def lookup(
      catalogName: String, table: TableName): Option[(Binding, TableDefinition)] =
    bindings.get(catalogName).flatMap(b =>
      b.tables.get(table.fullyQualifiedName).map { case (d, _) => (b, d) })

  /** Parse-time disambiguation for `DESCRIBE HISTORY`: is this name a
    * bound graft catalog? */
  private[spark] def isBound(catalogName: String): Boolean =
    bindings.contains(catalogName)

  /** The binding itself, for commands that create a table from nothing
    * (CONVERT TO GRAFT has no source table to [[lookup]] through). */
  private[spark] def bindingFor(catalogName: String): Option[Binding] =
    bindings.get(catalogName)
}
