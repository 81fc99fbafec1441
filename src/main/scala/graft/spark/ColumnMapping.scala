package graft.spark

import com.fasterxml.jackson.annotation.{JsonIgnore, JsonProperty}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core._
import graft.core.TableVersions.{CommitId, TableUpdate, UpdateMessage, UserId}

/**
 * COLUMN-MAPPING schema evolution (rename / drop) — the Delta
 * name-mapping pattern: files always store a column's PHYSICAL name
 * (frozen at column creation), while table metadata maps physical →
 * LOGICAL per commit. A rename or drop is then metadata-only — no file
 * rewrite, ever, at any scale:
 *
 *  - RENAME appends a mapping state (anchored to its audit commit) where
 *    the physical column carries a new logical name; old and new files
 *    agree on the physical name, so reads across generations stay
 *    correct;
 *  - DROP marks the physical column dropped — it stops projecting, while
 *    the bytes stay in the immutable version dirs (time travel to a
 *    pre-drop commit still shows them);
 *  - TIME TRAVEL resolves the mapping state AT-OR-BEFORE the addressed
 *    commit (the deletion-vector resolution discipline), so a read as of
 *    a pre-rename commit sees the old logical schema.
 *
 * The write path ([[VersionContext]]) translates logical → physical
 * before staging; the read path ([[read]], and the SQL scan rule for
 * catalog tables) projects physical → logical after scanning. Partition
 * columns are never mappable (their names are baked into the `k=v` dir
 * layout), and a dropped logical name cannot be re-added (old files
 * still carry the physical column of the same name — a by-name footer
 * union would resurrect pre-drop values into the reborn column).
 */
object ColumnMapping {

  /** One column's mapping; `dropped` columns stop projecting. `widened`
    * (a Catalyst type string, e.g. "bigint") is TYPE WIDENING: files
    * written before the widen keep their narrow physical type, and every
    * scan of a widened state requests the wide type — the parquet reader's
    * upcast (int→bigint, float→double) serves old files, so the change is
    * metadata-only at any scale.
    *
    * NESTED fields map through DOTTED paths: `logical` / `physical` are
    * full paths (`meta.lang`), physical segments frozen at field creation.
    * Nested entries never join the top-level select — the read side
    * REBUILDS the owning struct (physical field names → logical, dropped
    * fields omitted) and the write side rebuilds it the other way
    * ([[applyLogical]] / [[toPhysical]]); both are column-expression
    * algebra, metadata-only at any scale. */
  final case class Entry(
      logical: String, physical: String, dropped: Boolean,
      widened: Option[String] = None) {
    @JsonIgnore def isNested: Boolean = physical.contains('.') || logical.contains('.')
  }

  /** The full mapping in force from `commit` onward. `owner` names the
    * table whose lineage anchored the state — shared-location forks
    * (shallow clones) write into one file, and the retention fallback
    * must never adopt another lineage's state (absent = legacy entry,
    * single-table usage). */
  final case class State(
      commit: String, entries: List[Entry], @JsonProperty("table") owner: Option[String] = None)

  /** All recorded states, oldest first (empty = identity mapping). */
  def states(spark: SparkSession, table: TableDefinition): List[State] =
    MetadataFiles.columnMapping.read(spark, table)

  /** The mapping in force at `at` (default: the current pointer): the
    * newest state whose anchor commit is at-or-before `at` in the lineage.
    * None = identity.
    *
    * RETENTION FALLBACK: a log checkpoint folds old commits — and the
    * anchors riding them — away. When no anchor survives in `at`'s
    * lineage but states whose anchors predate the whole retained history
    * exist, the NEWEST such pre-horizon state still governs (everything
    * retained is at-or-after it); without this, a checkpoint would
    * silently revert renames/drops to the identity mapping. */
  def stateAt(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      at: Option[CommitId]): Option[State] = {
    val all = states(spark, table)
    if (all.isEmpty) return None
    val byAnchor = all.map(s => s.commit -> s).toMap
    val retained = log.updates(table.name) // newest first
    val pointer = at.getOrElse(log.currentCommit(table.name))
    retained
      .dropWhile(_.id != pointer)
      .iterator
      .map(m => byAnchor.get(m.id.id))
      .collectFirst { case Some(s) => s }
      .orElse {
        // only MY lineage's pre-horizon states are eligible: a shared-file
        // fork's states carry its own owner name
        val ids = retained.map(_.id.id).toSet
        all.filter(_.owner.forall(_ == table.name.fullyQualifiedName))
          .filterNot(s => ids(s.commit)).lastOption // states are oldest-first
      }
  }

  /** SHALLOW-CLONE carry: append the source's effective mapping state
    * re-anchored at the CLONE's state commit. The mapping file is shared
    * (same location), but states resolve through each table's OWN log
    * lineage — the re-anchored copy is visible only to the clone, and
    * later renames/drops on either side append states under their own
    * anchors: independent evolution over one file. */
  private[spark] def cloneStateTo(
      spark: SparkSession,
      table: TableDefinition,
      state: State,
      anchor: CommitId,
      owner: TableName): Unit = {
    MetadataFiles.columnMapping.update(spark, table)(
      _ :+ State(anchor.id, state.entries, Some(owner.fullyQualifiedName)))
    ()
  }

  /** RENAME COLUMN (metadata-only). Refuses partition columns, unknown
    * columns, and name collisions. */
  def rename(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      from: String,
      to: String,
      user: UserId): Unit = {
    require(!table.partitionSchema.columns.exists(_.name.equalsIgnoreCase(from)),
      s"cannot rename partition column $from — its name is baked into the dir layout")
    val log = ctx.metastore.tableVersions
    // engine-owned and rule-referenced columns are addressed by NAME in
    // their registrations; renaming out from under them would silently
    // desynchronize stamping/derivation/enforcement — checked FIRST (the
    // registration exists even before any file carries the column)
    IdentityColumns.declared(spark, table).foreach(c =>
      require(!c.equalsIgnoreCase(from),
        s"cannot rename $from: it is the table's identity (row-tracking) " +
          "column — the engine stamps it by name"))
    val gens = GeneratedColumns.list(spark, table)
    gens.foreach { g =>
      require(!g.column.equalsIgnoreCase(from),
        s"cannot rename $from: it carries a generation rule (${g.expr}) — " +
          "drop the rule first")
      require(!exprReferences(spark, g.expr, from),
        s"cannot rename $from: generation rule for ${g.column} references " +
          s"it (${g.expr}) — drop and re-declare the rule first")
    }
    Constraints.list(spark, table).foreach { c =>
      val refs = c.kind match {
        case "notnull" => c.expr.equalsIgnoreCase(from)
        case _         => exprReferences(spark, c.expr, from)
      }
      require(!refs,
        s"cannot rename $from: constraint ${c.name} references it " +
          s"(${c.kind} ${c.expr}) — drop and re-add the constraint first")
    }
    val current = effectiveEntries(spark, log, table, None)
    val entry = current.find(_.logical.equalsIgnoreCase(from)).getOrElse(
      throw new IllegalArgumentException(
        s"no column $from on ${table.name.fullyQualifiedName}"))
    require(!entry.dropped, s"column $from was dropped")
    require(!current.exists(e => !e.dropped && e.logical.equalsIgnoreCase(to)),
      s"column $to already exists on ${table.name.fullyQualifiedName}")
    val next = current.map {
      case e if !e.isNested && e.logical.equalsIgnoreCase(from) => e.copy(logical = to)
      // nested entries' LOGICAL prefixes follow the parent's rename
      // (their physical paths stay frozen)
      case e if e.isNested &&
          e.logical.toLowerCase.startsWith(from.toLowerCase + ".") =>
        e.copy(logical = to + e.logical.drop(from.length))
      case e => e
    }
    commitState(spark, ctx, table, next,
      UpdateMessage(s"ALTER TABLE RENAME COLUMN $from TO $to"), user)
  }

  /** Resolve a LOGICAL dotted path to its PHYSICAL path through the
    * entries (segments with no entry map to themselves — physical names
    * are frozen at creation). */
  private def physicalPathOf(entries: List[Entry], logicalPath: Seq[String]): Seq[String] = {
    val top = entries.find(e => !e.isNested && !e.dropped &&
      e.logical.equalsIgnoreCase(logicalPath.head)).map(_.physical)
      .getOrElse(logicalPath.head)
    logicalPath.drop(1).foldLeft((Seq(top), Seq(logicalPath.head))) {
      case ((phys, logi), seg) =>
        val lpath = (logi :+ seg).mkString(".")
        val pseg = entries.find(e => e.isNested && !e.dropped &&
            e.logical.equalsIgnoreCase(lpath))
          .map(_.physical.split('.').last).getOrElse(seg)
        (phys :+ pseg, logi :+ seg)
    }._1
  }

  /** `element` / `key` / `value` are STRUCTURAL segments (the Spark/Delta
    * nested addressing for arrays and maps) — they address through a
    * container, they are not fields, so they can never be renamed or
    * dropped themselves. */
  private val StructuralSegments = Set("element", "key", "value")

  /** RENAME a NESTED struct field (`meta.lang TO language`, and through
    * containers: `arr.element.x TO y` renames a field inside an
    * `array<struct>`) — metadata only, the top-level discipline at depth:
    * the physical path stays frozen in every file generation, reads
    * rebuild the struct with the logical name (a `transform` lambda
    * rebuild inside arrays/maps), writes translate it back. Schema-level
    * validation (path exists, no collision) is the caller's job
    * ([[GraftTableCatalog.alterTable]] holds the declared schema). */
  def renameNested(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      path: Seq[String],
      to: String,
      user: UserId): Unit = {
    require(path.length >= 2, s"not a nested path: ${path.mkString(".")}")
    require(!StructuralSegments.contains(path.last.toLowerCase),
      s"cannot rename ${path.mkString(".")}: '${path.last}' is a structural " +
        "segment (array element / map key / map value), not a field — " +
        "rename the container column instead")
    require(!StructuralSegments.contains(to.toLowerCase),
      s"cannot rename to '$to': it is a reserved structural segment name")
    val log = ctx.metastore.tableVersions
    val current = effectiveEntries(spark, log, table, None)
    val lpath = path.mkString(".")
    val newLogical = (path.dropRight(1) :+ to).mkString(".")
    require(!current.exists(e => e.isNested && !e.dropped &&
      e.logical.equalsIgnoreCase(newLogical)),
      s"field $newLogical already exists on ${table.name.fullyQualifiedName}")
    val next = current.find(e => e.isNested && !e.dropped &&
        e.logical.equalsIgnoreCase(lpath)) match {
      case Some(e) => current.map(x => if (x eq e) x.copy(logical = newLogical) else x)
      case None => current :+ Entry(
        newLogical, physicalPathOf(current, path).mkString("."), dropped = false)
    }
    commitState(spark, ctx, table, next,
      UpdateMessage(s"ALTER TABLE RENAME COLUMN $lpath TO $to"), user)
  }

  /** DROP a NESTED struct field (metadata-only; files keep the bytes —
    * time travel to a pre-drop commit still shows the field). Works
    * through array `element` and map `value` segments; dropping a field
    * inside map KEYS refuses — removing part of a key can collapse
    * distinct keys into duplicates, which no metadata-only change may
    * do. */
  def dropNested(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      path: Seq[String],
      user: UserId): Unit = {
    require(path.length >= 2, s"not a nested path: ${path.mkString(".")}")
    require(!StructuralSegments.contains(path.last.toLowerCase),
      s"cannot drop ${path.mkString(".")}: '${path.last}' is a structural " +
        "segment (array element / map key / map value), not a field — " +
        "drop the container column instead")
    require(!path.dropRight(1).exists(_.equalsIgnoreCase("key")),
      s"cannot drop ${path.mkString(".")}: dropping a field inside map " +
        "KEYS could collapse distinct keys into duplicates")
    val log = ctx.metastore.tableVersions
    val current = effectiveEntries(spark, log, table, None)
    val lpath = path.mkString(".")
    val next = current.find(e => e.isNested && !e.dropped &&
        e.logical.equalsIgnoreCase(lpath)) match {
      case Some(e) => current.map(x => if (x eq e) x.copy(dropped = true) else x)
      case None => current :+ Entry(
        lpath, physicalPathOf(current, path).mkString("."), dropped = true)
    }
    commitState(spark, ctx, table, next,
      UpdateMessage(s"ALTER TABLE DROP COLUMN $lpath"), user)
  }

  /** A dropped nested entry whose PHYSICAL path matches — the nested
    * re-add guard (old files still carry the physical field; a by-name
    * clip would resurrect pre-drop values into the reborn field). */
  private[spark] def nestedDroppedAt(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      path: Seq[String]): Boolean = {
    val entries = stateAt(spark, log, table, None).map(_.entries).getOrElse(Nil)
    val phys = physicalPathOf(entries, path).mkString(".")
    entries.exists(e => e.isNested && e.dropped && e.physical.equalsIgnoreCase(phys))
  }

  /** Does `sqlExpr` reference column `name`? Parsed, not analyzed: the
    * registered rule texts speak the table's logical names verbatim. */
  private def exprReferences(
      spark: SparkSession, sqlExpr: String, name: String): Boolean =
    try {
      spark.sessionState.sqlParser.parseExpression(sqlExpr).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.last
      }.exists(_.equalsIgnoreCase(name))
    } catch { case _: Exception => true } // unparseable => conservative refuse

  /** The widening pairs the parquet/ORC readers upcast natively — the
    * set is deliberately LOSSLESS-only. */
  private val WideningAllowed: Set[(String, String)] =
    Set("int" -> "bigint", "float" -> "double", "int" -> "double")

  /** ALTER COLUMN TYPE — lossless TYPE WIDENING (int→bigint, float→double,
    * int→double), metadata-only: no file rewrite at any scale. Old files
    * keep the narrow physical type; scans of widened states request the
    * wide type and the columnar readers upcast. Time travel to a
    * pre-widen commit reads the narrow type (the at-or-before mapping
    * discipline). Narrowing and lossy changes refuse. */
  def widen(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      column: String,
      newType: String,
      user: UserId): Unit =
    widenPath(spark, ctx, table, Seq(column), newType, user)

  /** [[widen]] for an arbitrary field path: a one-segment path is the
    * top-level form; a longer path widens a NESTED struct field
    * (`meta.cnt` int→bigint) as a path-keyed entry — the same
    * metadata-only contract at depth: old files keep the narrow leaf,
    * every scan of a widened state requests the wide struct (the columnar
    * readers upcast per leaf), post-widen writes cast to the wide type
    * ([[toPhysical]]), and time travel at-or-before the widen reads the
    * narrow struct. */
  def widenPath(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      path: Seq[String],
      newType: String,
      user: UserId): Unit = {
    require(path.nonEmpty, "empty field path")
    val lpath = path.mkString(".")
    require(!table.partitionSchema.columns.exists(_.name.equalsIgnoreCase(path.head)),
      s"cannot change the type of partition column ${path.head} (partition values are strings)")
    val log = ctx.metastore.tableVersions
    val target = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseDataType(newType).catalogString
    val current = effectiveEntries(spark, log, table, None)
    val entry =
      if (path.length == 1)
        Some(current.find(e => !e.dropped && !e.isNested &&
            e.logical.equalsIgnoreCase(lpath))
          .getOrElse(throw new IllegalArgumentException(
            s"no column $lpath on ${table.name.fullyQualifiedName}")))
      else current.find(e => e.isNested && !e.dropped &&
        e.logical.equalsIgnoreCase(lpath))
    // the field's CURRENT effective type: the mapped read already serves
    // prior widens, and a recorded `widened` wins by construction
    val fileType = fieldTypeAt(read(spark, log, table).schema, path)
      .map(_.catalogString)
      .getOrElse(throw new IllegalArgumentException(
        s"column $lpath has no readable type on ${table.name.fullyQualifiedName}"))
    val from = entry.flatMap(_.widened).getOrElse(fileType)
    require(from != target, s"column $lpath is already $target")
    require(WideningAllowed.contains(from -> target),
      s"ALTER COLUMN TYPE supports lossless widening only " +
        s"(${WideningAllowed.map(p => s"${p._1}→${p._2}").mkString(", ")}); " +
        s"got $from→$target for $lpath")
    val next = entry match {
      case Some(e) => current.map {
        case x if x.physical == e.physical => x.copy(widened = Some(target))
        case x                             => x
      }
      case None => current :+ Entry(
        lpath, physicalPathOf(current, path).mkString("."),
        dropped = false, widened = Some(target))
    }
    commitState(spark, ctx, table, next,
      UpdateMessage(s"ALTER TABLE ALTER COLUMN $lpath TYPE $target"), user)
  }

  /** Pure pre-flight for [[widenPath]] against a DECLARED schema: the
    * path resolves, the column is not a partition key, and the change is
    * a lossless widening. Lets a multi-change ALTER validate every widen
    * BEFORE any of the statement's commits land (the
    * never-half-applied-ALTER discipline — [[GraftTableCatalog]] collects
    * widens during its schema fold and commits them only after the whole
    * fold validates). */
  private[spark] def validateWiden(
      table: TableDefinition,
      schema: org.apache.spark.sql.types.StructType,
      path: Seq[String],
      newType: org.apache.spark.sql.types.DataType): Unit = {
    require(path.nonEmpty, "empty field path")
    val lpath = path.mkString(".")
    require(!table.partitionSchema.columns.exists(_.name.equalsIgnoreCase(path.head)),
      s"cannot change the type of partition column ${path.head} (partition values are strings)")
    val target = newType.catalogString
    val from = fieldTypeAt(schema, path).map(_.catalogString).getOrElse(
      throw new IllegalArgumentException(
        s"no column $lpath on ${table.name.fullyQualifiedName}"))
    require(from != target, s"column $lpath is already $target")
    require(WideningAllowed.contains(from -> target),
      s"ALTER COLUMN TYPE supports lossless widening only " +
        s"(${WideningAllowed.map(p => s"${p._1}→${p._2}").mkString(", ")}); " +
        s"got $from→$target for $lpath")
  }

  /** The type at dotted `path` in `schema` (struct descent; the `element`
    * segment steps into an array's element type — the Spark/Delta nested
    * addressing convention, so `arr.element.x` reaches a struct field
    * inside an array); case-insensitive; None when the path doesn't
    * resolve. */
  private def fieldTypeAt(
      dt: org.apache.spark.sql.types.DataType,
      path: Seq[String]): Option[org.apache.spark.sql.types.DataType] =
    path match {
      case Seq() => Some(dt)
      case head +: rest => dt match {
        case st: org.apache.spark.sql.types.StructType =>
          st.fields.find(_.name.equalsIgnoreCase(head))
            .flatMap(f => fieldTypeAt(f.dataType, rest))
        case at: org.apache.spark.sql.types.ArrayType
            if head.equalsIgnoreCase("element") =>
          fieldTypeAt(at.elementType, rest)
        case mt: org.apache.spark.sql.types.MapType
            if head.equalsIgnoreCase("key") =>
          fieldTypeAt(mt.keyType, rest)
        case mt: org.apache.spark.sql.types.MapType
            if head.equalsIgnoreCase("value") =>
          fieldTypeAt(mt.valueType, rest)
        case _ => None
      }
    }

  /** Dotted LOGICAL paths where `source` carries a losslessly WIDER
    * numeric leaf than `current` (the [[WideningAllowed]] matrix), with
    * the target catalog type — the ingest auto-widening probe (MERGE /
    * COPY INTO under `graft.dml.typeWidening`). Struct fields descend by
    * name; array/map leaves address as `element`/`key`/`value`. Lossy or
    * unrelated differences yield nothing (the caller's cast-down/refusal
    * semantics stay in charge of those). */
  def numericWidenings(
      current: org.apache.spark.sql.types.StructType,
      source: org.apache.spark.sql.types.StructType): List[(Seq[String], String)] = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    def walk(c: DataType, s: DataType, path: Seq[String]): List[(Seq[String], String)] =
      (c, s) match {
        case (ct, st) if ct == st => Nil
        case (ct: StructType, st: StructType) =>
          ct.fields.toList.flatMap(cf =>
            st.fields.find(_.name.equalsIgnoreCase(cf.name)).toList
              .flatMap(sf => walk(cf.dataType, sf.dataType, path :+ cf.name)))
        case (ca: ArrayType, sa: ArrayType) =>
          walk(ca.elementType, sa.elementType, path :+ "element")
        case (cm: MapType, sm: MapType) =>
          walk(cm.keyType, sm.keyType, path :+ "key") ++
            walk(cm.valueType, sm.valueType, path :+ "value")
        case (ct, st)
            if WideningAllowed.contains(ct.catalogString -> st.catalogString) =>
          List((path, st.catalogString))
        case _ => Nil
      }
    walk(current, source, Nil)
  }

  /** Rebuild `schema` with widened types applied — keys are dotted
    * (lower-cased) field paths; nested keys rebuild STRUCT FIELD types in
    * place. Unresolvable paths skip (a projection need not carry every
    * widened column). Every scan-schema override (VersionedReader, the
    * DSv2 relation) and cast site shares this. */
  def applyWideningToSchema(
      schema: org.apache.spark.sql.types.StructType,
      widened: Map[String, org.apache.spark.sql.types.DataType])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
    def walkType(dt: DataType, p: String): DataType = dt match {
      case inner: StructType if widened.keys.exists(_.startsWith(p + ".")) =>
        walk(inner, p + ".")
      // `element` steps into arrays (arr.element / arr.element.x keys);
      // `key`/`value` step into maps — the Spark nested addressing
      case at: ArrayType if widened.contains(p + ".element") =>
        at.copy(elementType = widened(p + ".element"))
      case at: ArrayType if widened.keys.exists(_.startsWith(p + ".element.")) =>
        at.copy(elementType = walkType(at.elementType, p + ".element"))
      case mt: org.apache.spark.sql.types.MapType
          if widened.keys.exists(k => k == p + ".key" || k == p + ".value" ||
            k.startsWith(p + ".key.") || k.startsWith(p + ".value.")) =>
        mt.copy(
          keyType = widened.getOrElse(p + ".key", walkType(mt.keyType, p + ".key")),
          valueType = widened.getOrElse(p + ".value", walkType(mt.valueType, p + ".value")))
      case _ => dt
    }
    def walk(st: StructType, prefix: String): StructType =
      StructType(st.fields.map { f =>
        val p = prefix + f.name.toLowerCase
        widened.get(p) match {
          case Some(t) => f.copy(dataType = t)
          case None    => f.copy(dataType = walkType(f.dataType, p))
        }
      })
    if (widened.isEmpty) schema else walk(schema, "")
  }

  /** Apply widening as CASTS on an already-loaded frame (overlay leaves,
    * write batches) — nested keys cast the whole owning struct to its
    * widened type (field count unchanged, so a plain struct cast serves).
    * Identity for columns the map doesn't touch. */
  private[spark] def applyWideningCasts(
      df: DataFrame,
      widened: Map[String, org.apache.spark.sql.types.DataType]): DataFrame = {
    if (widened.isEmpty) return df
    val target = applyWideningToSchema(df.schema, widened)
    df.schema.fields.zip(target.fields).collect {
      case (a, b) if a.dataType != b.dataType => b
    }.foldLeft(df)((d, f) => d.withColumn(f.name, col(f.name).cast(f.dataType)))
  }

  /** physical-name-lower → widened Catalyst type for the state at `at`
    * (empty = no widening in force; the scan needs no override). */
  def widenedTypesAt(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      at: Option[CommitId]): Map[String, org.apache.spark.sql.types.DataType] =
    stateAt(spark, log, table, at) match {
      case None => Map.empty
      case Some(s) =>
        s.entries.collect {
          case e if e.widened.isDefined && !e.dropped =>
            e.physical.toLowerCase ->
              org.apache.spark.sql.catalyst.parser.CatalystSqlParser
                .parseDataType(e.widened.get)
        }.toMap
    }

  /** DROP COLUMN (metadata-only; files keep the bytes for time travel). */
  def dropColumn(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      name: String,
      user: UserId): Unit = {
    require(!table.partitionSchema.columns.exists(_.name.equalsIgnoreCase(name)),
      s"cannot drop partition column $name")
    val log = ctx.metastore.tableVersions
    val current = effectiveEntries(spark, log, table, None)
    val entry = current.find(e => !e.dropped && e.logical.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(
        s"no column $name on ${table.name.fullyQualifiedName}"))
    val next = current.map {
      case e if e.physical == entry.physical => e.copy(dropped = true)
      case e                                 => e
    }
    commitState(spark, ctx, table, next,
      UpdateMessage(s"ALTER TABLE DROP COLUMN $name"), user)
  }

  private def commitState(
      spark: SparkSession,
      ctx: VersionContext,
      table: TableDefinition,
      entries: List[Entry],
      message: UpdateMessage,
      user: UserId): Unit = {
    val (_, _) = ctx.metastore.commit(table.name, TableUpdate(
      user, message, java.time.Instant.now(), Nil))
    val anchor = ctx.metastore.tableVersions.currentCommit(table.name)
    MetadataFiles.columnMapping.update(spark, table)(
      _ :+ State(anchor.id, entries, Some(table.name.fullyQualifiedName)))
    ()
  }

  /** The mapping entries in force at `at`, seeded from the PHYSICAL schema
    * (current data columns) for columns with no recorded entry. */
  private def effectiveEntries(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      at: Option[CommitId]): List[Entry] =
    stateAt(spark, log, table, at) match {
      case Some(s) => s.entries
      case None =>
        val phys = VersionedReader(spark, log).read(table).columns
        val parts = table.partitionSchema.columns.map(_.name.toLowerCase).toSet
        phys.toList
          .filterNot(c => parts.contains(c.toLowerCase))
          .map(c => Entry(c, c, dropped = false))
    }

  /** READ-side struct rebuild for NESTED entries under `prefix` (a
    * PHYSICAL path): physical field names project as their logical names,
    * dropped fields omit, recursion covers struct-in-struct; a NULL
    * struct stays NULL. ARRAY and MAP types rebuild THROUGH their
    * `element` / `key` / `value` segments with `transform` /
    * `transform_keys` / `transform_values` lambdas (still pure
    * column-expression algebra — codegen'd, metadata-only at any scale),
    * so a rename/drop inside an `array<struct>` serves old files under
    * the new logical shape. Returns the rebuilt column and its logical
    * type. Identity (no rebuild) when no nested entry lives under the
    * prefix. */
  private def readMapped(
      c: org.apache.spark.sql.Column,
      dt: org.apache.spark.sql.types.DataType,
      prefix: String,
      nested: List[Entry]): (org.apache.spark.sql.Column, org.apache.spark.sql.types.DataType) =
    dt match {
      case st: org.apache.spark.sql.types.StructType
          if nested.exists(_.physical.toLowerCase.startsWith(prefix.toLowerCase + ".")) =>
        import org.apache.spark.sql.functions.{lit, struct, when}
        val parts = st.fields.toSeq.flatMap { f =>
          val p = s"$prefix.${f.name}"
          val entry = nested.find(_.physical.equalsIgnoreCase(p))
          if (entry.exists(_.dropped)) Nil
          else {
            val logicalName = entry.map(_.logical.split('.').last).getOrElse(f.name)
            val (cc, ct) = readMapped(c.getField(f.name), f.dataType, p, nested)
            List((cc.as(logicalName),
              org.apache.spark.sql.types.StructField(logicalName, ct, f.nullable)))
          }
        }
        val lt = org.apache.spark.sql.types.StructType(parts.map(_._2).toArray)
        (when(c.isNull, lit(null).cast(lt)).otherwise(struct(parts.map(_._1): _*)), lt)
      case at: org.apache.spark.sql.types.ArrayType
          if nested.exists(_.physical.toLowerCase.startsWith(prefix.toLowerCase + ".element.")) =>
        import org.apache.spark.sql.functions.{lit, transform}
        val p = s"$prefix.element"
        val et = readMapped(lit(null), at.elementType, p, nested)._2
        (transform(c, x => readMapped(x, at.elementType, p, nested)._1),
          at.copy(elementType = et))
      case mt: org.apache.spark.sql.types.MapType
          if nested.exists(e =>
            e.physical.toLowerCase.startsWith(prefix.toLowerCase + ".key.") ||
              e.physical.toLowerCase.startsWith(prefix.toLowerCase + ".value.")) =>
        import org.apache.spark.sql.functions.{lit, transform_keys, transform_values}
        val (pk, pv) = (s"$prefix.key", s"$prefix.value")
        val kt = readMapped(lit(null), mt.keyType, pk, nested)._2
        val vt = readMapped(lit(null), mt.valueType, pv, nested)._2
        val rekeyed =
          if (kt == mt.keyType) c
          else transform_keys(c, (k, _) => readMapped(k, mt.keyType, pk, nested)._1)
        val revalued =
          if (vt == mt.valueType) rekeyed
          else transform_values(rekeyed, (_, v) => readMapped(v, mt.valueType, pv, nested)._1)
        (revalued, mt.copy(keyType = kt, valueType = vt))
      case other => (c, other)
    }

  /** WRITE-side struct rebuild: logical field names translate back to
    * their frozen physical names; a batch naming a DROPPED nested field
    * refuses (the top-level discipline at depth). ARRAY/MAP types rebuild
    * through `element`/`key`/`value` with transform lambdas, mirroring
    * [[readMapped]]. */
  private def writeMapped(
      c: org.apache.spark.sql.Column,
      dt: org.apache.spark.sql.types.DataType,
      prefix: String,
      nested: List[Entry],
      table: TableDefinition): (org.apache.spark.sql.Column, org.apache.spark.sql.types.DataType) =
    dt match {
      case st: org.apache.spark.sql.types.StructType
          if nested.exists(_.logical.toLowerCase.startsWith(prefix.toLowerCase + ".")) =>
        import org.apache.spark.sql.functions.{lit, struct, when}
        val parts = st.fields.toSeq.map { f =>
          val lp = s"$prefix.${f.name}"
          if (nested.exists(e => e.dropped && e.logical.equalsIgnoreCase(lp)))
            throw new IllegalArgumentException(
              s"write to ${table.name.fullyQualifiedName} names dropped field $lp")
          val physName = nested.find(e => !e.dropped && e.logical.equalsIgnoreCase(lp))
            .map(_.physical.split('.').last).getOrElse(f.name)
          val (cc, ct) = writeMapped(c.getField(f.name), f.dataType, lp, nested, table)
          (cc.as(physName),
            org.apache.spark.sql.types.StructField(physName, ct, f.nullable))
        }
        val pt = org.apache.spark.sql.types.StructType(parts.map(_._2).toArray)
        (when(c.isNull, lit(null).cast(pt)).otherwise(struct(parts.map(_._1): _*)), pt)
      case at: org.apache.spark.sql.types.ArrayType
          if nested.exists(_.logical.toLowerCase.startsWith(prefix.toLowerCase + ".element.")) =>
        import org.apache.spark.sql.functions.{lit, transform}
        val p = s"$prefix.element"
        val et = writeMapped(lit(null), at.elementType, p, nested, table)._2
        (transform(c, x => writeMapped(x, at.elementType, p, nested, table)._1),
          at.copy(elementType = et))
      case mt: org.apache.spark.sql.types.MapType
          if nested.exists(e =>
            e.logical.toLowerCase.startsWith(prefix.toLowerCase + ".key.") ||
              e.logical.toLowerCase.startsWith(prefix.toLowerCase + ".value.")) =>
        import org.apache.spark.sql.functions.{lit, transform_keys, transform_values}
        val (pk, pv) = (s"$prefix.key", s"$prefix.value")
        val kt = writeMapped(lit(null), mt.keyType, pk, nested, table)._2
        val vt = writeMapped(lit(null), mt.valueType, pv, nested, table)._2
        val rekeyed =
          if (kt == mt.keyType) c
          else transform_keys(c, (k, _) => writeMapped(k, mt.keyType, pk, nested, table)._1)
        val revalued =
          if (vt == mt.valueType) rekeyed
          else transform_values(rekeyed, (_, v) => writeMapped(v, mt.valueType, pv, nested, table)._1)
        (revalued, mt.copy(keyType = kt, valueType = vt))
      case other => (c, other)
    }

  /** Logical → physical translation for a batch about to be written.
    * Identity when the table has no mapping states. A write naming a
    * DROPPED logical column refuses (silently storing bytes into a
    * dead physical slot would corrupt a future un-drop). */
  def toPhysical[T](ds: Dataset[T], table: TableDefinition, log: TableVersions): DataFrame = {
    val spark = ds.sparkSession
    val df = ds.toDF()
    stateAt(spark, log, table, None) match {
      case None => df
      case Some(s) =>
        val (nested, top) = s.entries.partition(_.isNested)
        val byLogical = top.map(e => e.logical.toLowerCase -> e).toMap
        val cols = df.columns.toList.map { c =>
          val (base, _) =
            if (nested.isEmpty) (col(c), df.schema(c).dataType)
            else writeMapped(col(c), df.schema(c).dataType, c, nested, table)
          byLogical.get(c.toLowerCase) match {
            case Some(e) if e.dropped =>
              throw new IllegalArgumentException(
                s"write to ${table.name.fullyQualifiedName} names dropped column $c")
            case Some(e) =>
              // widened columns write the WIDE type from now on (an int
              // batch into a bigint column upcasts; old narrow files
              // upcast at scan instead)
              e.widened.foldLeft(base)((cc, t) => cc.cast(t)).as(e.physical)
            case None    => base.as(c) // partition cols + never-mapped columns
          }
        }
        val result = df.select(cols: _*)
        // NESTED widened fields cast the same way — the batch is in
        // physical names now, matching the path-keyed entries
        val nestedWidened = nested.collect {
          case e if e.widened.isDefined && !e.dropped =>
            e.physical.toLowerCase ->
              org.apache.spark.sql.catalyst.parser.CatalystSqlParser
                .parseDataType(e.widened.get)
        }.toMap
        applyWideningCasts(result, nestedWidened)
    }
  }

  /** Physical → logical projection over a scan of the state at `at`.
    * Identity when no mapping applies. */
  def applyLogical(
      df: DataFrame,
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      at: Option[CommitId]): DataFrame =
    stateAt(spark, log, table, at) match {
      case None => df
      case Some(s) =>
        val (nested, top) = s.entries.partition(_.isNested)
        val byPhysical = top.map(e => e.physical.toLowerCase -> e).toMap
        val cols = df.columns.toList.flatMap { c =>
          val (base, _) =
            if (nested.isEmpty) (col(c), df.schema(c).dataType)
            else readMapped(col(c), df.schema(c).dataType, c, nested)
          byPhysical.get(c.toLowerCase) match {
            case Some(e) if e.dropped => Nil
            case Some(e)              => List(base.as(e.logical))
            case None                 => List(base.as(c))
          }
        }
        df.select(cols: _*)
    }

  /** The mapped (logical-schema) read at `at` — merge-on-read deletes
    * applied, then the mapping of the addressed commit: a read as of a
    * pre-rename commit shows the old names, a post-drop read stops
    * projecting the column. */
  def read(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      asOf: Option[CommitId] = None,
      mergeSchema: Boolean = false): DataFrame =
    applyLogical(
      DeletionVectors.read(spark, log, table, asOf, mergeSchema),
      spark, log, table, asOf)

  /** The PHYSICAL (in-file) name behind logical `column` at `at`
    * (default: current) — identity when no mapping entry covers it.
    * Physical names are stable across renames, so artifacts keyed at
    * write time (zone-map sidecars) resolve through this. */
  private[spark] def physicalName(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      column: String,
      at: Option[CommitId] = None): String =
    stateAt(spark, log, table, at)
      .flatMap(_.entries.find(e => !e.dropped && e.logical.equalsIgnoreCase(column)))
      .map(_.physical).getOrElse(column)

  /** Top-level RENAME lineage between the addressed commit and the current
    * state: current logical name (lowercased) → the name the SAME frozen
    * physical column carried at `at` (its at-state logical; the physical
    * name itself when the column was unmapped then). Only names that
    * actually differ appear, so the map is empty unless a rename landed
    * AFTER the addressed commit. Callers use this to resolve a relation
    * column a time-traveled read would otherwise NULL-blank: the values
    * exist in every file generation under the frozen physical name. */
  private[spark] def renamedSince(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      at: Option[CommitId]): Map[String, String] =
    if (at.isEmpty) Map.empty
    else stateAt(spark, log, table, None) match {
      case None => Map.empty
      case Some(cur) =>
        val atEntries = stateAt(spark, log, table, at).map(_.entries).getOrElse(Nil)
        cur.entries.iterator.filter(e => !e.isNested && !e.dropped).flatMap { e =>
          val atName = atEntries.find(a =>
            !a.isNested && !a.dropped && a.physical.equalsIgnoreCase(e.physical))
            .map(_.logical).getOrElse(e.physical)
          if (atName.equalsIgnoreCase(e.logical)) None
          else Some(e.logical.toLowerCase -> atName)
        }.toMap
    }

  /** Whether any mapping state applies at `at` — the SQL scan rule's cheap
    * probe (a driver-side metadata-file read). */
  def hasMapping(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      at: Option[CommitId]): Boolean =
    stateAt(spark, log, table, at).isDefined
}
