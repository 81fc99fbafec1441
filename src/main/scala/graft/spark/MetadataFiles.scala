package graft.spark

import java.time.Instant

import scala.annotation.tailrec
import scala.util.control.NonFatal

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.{DeserializationFeature, JavaType, JsonNode, ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.databind.node.MissingNode
import com.fasterxml.jackson.module.scala.{DefaultScalaModule, JavaTypeable}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.core.{Partition, TableDefinition, TableName, TableVersions, VersionedMetastore}
import graft.core.TableVersions.{CommitFacts, CommitId, ConcurrentWriteException, MetadataFold, TableUpdate, UpdateMessage, UserId}

/** THE TABLE of table metadata: every declaration graft keeps about a
  * table is one of the families below, and its value rides the commit
  * that changes it — the commit line's `tableMetadata` (the Delta
  * `metaData` action) — resolved by the log's one metadata fold
  * ([[graft.core.TableVersions.foldMetadata]]). A family module keeps
  * only its rules (validation, enforcement, decoration).
  *
  * | family           | carried by                                   | resolved at        |
  * |------------------|----------------------------------------------|--------------------|
  * | `constraints`    | ADD/DROP CONSTRAINT (and NOT NULL) commits   | the log head       |
  * | `generated`      | ADD GENERATED COLUMN commits                 | the log head       |
  * | `identity`       | ADD IDENTITY COLUMN commits                  | the log head       |
  * | `defaults`       | SET/DROP DEFAULT commits                     | the log head       |
  * | `comments`       | COMMENT commits; CREATE's init commit        | the log head       |
  * | `tblproperties`  | SET/UNSET TBLPROPERTIES; CREATE's init commit| the log head       |
  * | `mv`             | the view's init commit                       | the log head       |
  * | `column_mapping` | RENAME / DROP / widen commits                | the addressed commit |
  * | `partitioning`   | EVOLVE PARTITIONING boundary commits         | the addressed commit |
  * | `schema_states`  | a schema-changing ALTER's last commit        | the addressed commit |
  * | `schema`         | a data write changing the files' columns     | the addressed commit |
  * | `deletes`        | a commit publishing `_deletes/commit-<id>`   | walked back from the addressed commit |
  * | `appends`        | a commit publishing `_appends/commit-<id>`   | walked back from the addressed commit |
  * | `format`         | the init commit of a table this version made | the log head       |
  *
  * Each entry holds the family's whole new value. The first seven are
  * CURRENT DECLARATIONS: they resolve at the log head, so a rollback,
  * RESTORE or `VERSION AS OF` never changes which rules are in force; the
  * next four resolve at the commit a read addresses ([[DataSchema]] owns
  * `schema`). `deletes` and `appends` are not values in force but facts of
  * their own commit — it published that sidecar dir, `{"complete": …}`
  * — and a full rewrite's `absorbed` entry is one too: [[sidecars]] walks
  * them back. `format` is not a family: 1 marks a log whose table was
  * created by a writer that never wrote metadata files, 2 one whose every
  * data sidecar is named by its commit. Each table's log is its own
  * lineage, so a clone owns its values (a clone's state commit carries the
  * source's, all but the MV definition), and a log checkpoint keeps every
  * family's value on its base commit, but no older commit's sidecar
  * facts ([[graft.core.TableVersions.CommitFacts]]).
  *
  * CHANGE: [[Family.commit]] — fold at the head, apply the statement's
  * pure transform (which re-checks its preconditions), then `commitIf` on
  * the pointer that was read; a lost race re-folds and retries, bounded.
  * The value and its audit commit are one append, so they cannot diverge.
  *
  * LEGACY FILES: an earlier store kept these families in files beside the
  * data. A table whose log carries no value for a family but whose
  * location still holds that family's file is REFUSED with an error
  * naming the file (one probe per file, only while the log carries none
  * and no `format` entry): reading it would resurrect declarations this
  * log never recorded.
  */
object MetadataFiles {

  private val MaxAttempts = 20

  private val mapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.setSerializationInclusion(JsonInclude.Include.NON_ABSENT)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m.configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)
    m
  }

  /** The value a statement changed a table's metadata from and to. */
  final case class Change[A](before: A, after: A)

  /** One family: its commit-line entry, its fold, its change commit. */
  final class Family[A] private[MetadataFiles] (
      val name: String, val empty: A,
      legacy: TableDefinition => List[Path], javaType: JavaType) {

    /** The commit-line entry recording `value` as this family's new value. */
    def entry(value: A): Map[String, String] = Map(name -> mapper.writeValueAsString(value))

    /** The entry recording that the table declares nothing of this family. */
    def emptyEntry: Map[String, String] = entry(empty)

    /** The family folded at `at` (None: the current pointer). */
    def fold(
        spark: SparkSession, log: TableVersions, table: TableDefinition,
        at: Option[CommitId]): MetadataFold[A] =
      decode(spark, log, table, log.metadataAt(table.name, name, at))

    /** The family folded at the log head. */
    def foldAtHead(
        spark: SparkSession, log: TableVersions, table: TableDefinition): MetadataFold[A] =
      decode(spark, log, table, log.metadataAtHead(table.name, name))

    /** The declaration in force: the value at the log head, else [[empty]]. */
    def current(spark: SparkSession, log: TableVersions, table: TableDefinition): A =
      foldAtHead(spark, log, table).inForce.getOrElse(empty)

    /** Land `transform` of the current declaration on a metadata-only
      * audit commit (see the object doc); returns the new value. */
    def commit(
        spark: SparkSession, ms: VersionedMetastore, table: TableDefinition,
        message: UpdateMessage, user: UserId)(transform: A => A): A = {
      var next = empty
      commitDerived(ms, table.name, message, user) {
        next = transform(current(spark, ms.tableVersions, table))
        entry(next)
      }
      next
    }

    private[MetadataFiles] def refuseLegacyFile(spark: SparkSession, table: TableDefinition): Unit = {
      val conf = spark.sessionState.newHadoopConf()
      legacy(table).find(p => p.getFileSystem(conf).exists(p)).foreach { p =>
        throw new IllegalStateException(
          s"table ${table.name.fullyQualifiedName} has a legacy metadata file $p, " +
            s"which this version no longer reads: its $name now rides the commit " +
            "log. Move the file away, then redo the change (or recreate the " +
            "table) with this version")
      }
    }

    private def decode(
        spark: SparkSession, log: TableVersions, table: TableDefinition,
        f: MetadataFold[String]): MetadataFold[A] = {
      if (f.oldest.isEmpty && formatOf(log, table) < 1) refuseLegacyFile(spark, table)
      try f.map(v => mapper.readValue[A](v, javaType))
      catch {
        case NonFatal(e) =>
          throw new IllegalStateException(
            s"table ${table.name.fullyQualifiedName} carries an unreadable $name " +
              s"value in its commit log: ${e.getMessage}", e)
      }
    }
  }

  private def root(table: TableDefinition): String =
    Partition.normalizedDir(table.location).toString

  private def family[A](name: String, empty: A, legacy: String*)(
      implicit jt: JavaTypeable[A]): Family[A] =
    new Family(name, empty,
      t => legacy.toList.map(rel => new Path(root(t) + rel.replace("<table>", t.name.fullyQualifiedName))),
      jt.asJavaType(mapper.getTypeFactory))

  val constraints: Family[List[Constraints.Constraint]] =
    family("constraints", Nil, "_constraints/<table>.json", "_constraints.json")
  val generated: Family[List[GeneratedColumns.GeneratedColumn]] =
    family("generated", Nil, "_generated/<table>.json", "_generated.json")
  /** `{"column": <name>}` — the table's declared identity column. */
  val identity: Family[Map[String, String]] =
    family("identity", Map.empty, "_identity/<table>.json", "_identity.json")
  val defaults: Family[List[ColumnDefaults.ColumnDefault]] =
    family("defaults", Nil, "_defaults/<table>.json")
  /** Dotted field path → comment. */
  val comments: Family[Map[String, String]] =
    family("comments", Map.empty, "_comments/<table>.json")
  val tblProperties: Family[Map[String, String]] =
    family("tblproperties", Map.empty, "_tblproperties/<table>.json")
  /** The view definition as a JSON tree: its stored shape is not
    * [[MaterializedView.MvDef]], so that module keeps its own codec. */
  val mv: Family[JsonNode] =
    family[JsonNode]("mv", MissingNode.getInstance(), "_mv.json")
  /** Mapping entries, on each RENAME / DROP / widen audit commit. */
  val columnMapping: Family[List[ColumnMapping.Entry]] =
    family("column_mapping", Nil, "_column_mapping.json")
  /** Partition columns, on each EVOLVE PARTITIONING boundary commit. */
  val partitioning: Family[Change[List[String]]] =
    family("partitioning", Change(Nil, Nil), "_partitioning.json")
  /** Declared-schema JSON, on the last audit commit of a nested ADD,
    * struct/type widening or reorder. */
  val schemaStates: Family[Change[String]] =
    family("schema_states", Change("", ""), "_schema_states/<table>.json")

  /** The declarations a clone inherits; the MV definition stays with the view. */
  val cloned: List[Family[_]] =
    List(constraints, generated, identity, defaults, comments, tblProperties)

  /** The families an earlier store kept in files. */
  val families: List[Family[_]] = cloned ++ List(mv, columnMapping, partitioning, schemaStates)

  /** The data-column schema of the state's files ([[DataSchema]]). */
  val schema: Family[JsonNode] = family[JsonNode]("schema", MissingNode.getInstance())

  /** On the init commit of every table this version creates: no probe.
    * 1: no metadata files; 2: every data sidecar is named by its commit. */
  private[spark] val Format = "format"
  private val FormatVersion = "2"

  private def formatOf(log: TableVersions, table: TableDefinition): Int =
    log.metadataAtHead(table.name, Format).inForce.flatMap(_.toIntOption).getOrElse(0)

  /** The value governing a [[Change]] family's fold: the in-force
    * carrier's `after`, or — before the first carrier — the oldest
    * carrier's `before`. None: the family never changed. */
  def governing[A](f: MetadataFold[Change[A]]): Option[A] =
    f.inForce.map(_.after).orElse(f.oldest.map(_.before))

  /** The [[cloned]] declarations of `src` in force at its log head, as
    * commit-line entries: what a clone's state commit carries. */
  def declared(spark: SparkSession, log: TableVersions, src: TableDefinition): Map[String, String] = {
    def one[A](f: Family[A]) =
      f.foldAtHead(spark, log, src).inForce.filter(_ != f.empty).fold(Map.empty[String, String])(f.entry)
    cloned.flatMap(f => one(f)).toMap
  }

  /** What a table this version creates records on its init commit: the
    * [[Format]] entry and every [[cloned]] family's empty value. */
  val undeclared: Map[String, String] =
    cloned.flatMap(_.emptyEntry).toMap + (Format -> FormatVersion)

  // ---- data sidecars ------------------------------------------------------

  /** The deletion-vector (`_deletes/commit-<id>`) and row-overlay
    * (`_appends/commit-<id>`) sidecar families. */
  val Deletes: String = CommitFacts.Deletes
  val Appends: String = CommitFacts.Appends

  /** `<table>/_deletes/` or `<table>/_appends/`. */
  private[spark] def sidecarRoot(table: TableDefinition, family: String): String =
    root(table) + "_" + family

  /** The dir of `family`'s sidecar published by commit `id`. */
  private[spark] def sidecarDir(table: TableDefinition, family: String, id: CommitId): String =
    sidecarRoot(table, family) + "/commit-" + id.id

  /** The entries a commit carries when it publishes its `family` sidecar
    * dir. `complete`: the dir holds the family's whole live state at its
    * commit (a squash, a clone carry), so resolution stops there. Call it
    * BEFORE the dir is written: on a log below format 2 it runs the legacy
    * probe of both roots (see [[requireNamedSidecars]]) and the same
    * commit lifts the log to format 2. */
  private[spark] def published(
      spark: SparkSession, log: TableVersions, table: TableDefinition,
      family: String, complete: Boolean = false): Map[String, String] = {
    val entry = Map(family -> s"""{"complete":$complete}""")
    val format = formatOf(log, table)
    if (format >= 2) entry
    else {
      if (format < 1) families.foreach(_.refuseLegacyFile(spark, table))
      requireNamedSidecars(spark.sessionState.newHadoopConf(), log, table)
      entry + (Format -> FormatVersion)
    }
  }

  /** The entry a full rewrite carries: every older deletion vector is
    * absorbed into the files it wrote. */
  private[spark] val absorbed: Map[String, String] = Map(CommitFacts.Absorbed -> "true")

  /** Whether `m` publishes a sidecar of `family`, and whether it is complete. */
  private[spark] def sidecarOf(m: TableVersions.TableUpdateMetadata, family: String): Option[Boolean] =
    m.tableMetadata.get(family).map(v => mapper.readTree(v).path("complete").asBoolean(false))

  /** The commits at or before `at` (default: the current pointer — after
    * a rollback the head's sidecars are not visible), most recent first,
    * behind the legacy refusal of a log below format 2 (`conf` is read
    * only for such a log). */
  private[spark] def lineage(
      conf: => Configuration, log: TableVersions, table: TableDefinition,
      at: Option[CommitId]): List[TableVersions.TableUpdateMetadata] = {
    requireNamedSidecars(conf, log, table)
    val pointer = at.getOrElse(log.currentCommit(table.name))
    log.updates(table.name).dropWhile(_.id != pointer)
  }

  /** THE SIDECAR FOLD: the `family` sidecars serving the state at `at`, most
    * recent first, as (anchor commit, complete). One walk back over the
    * cached commit lines ([[lineage]]; no file-system call on a format-2
    * log), stopping after the first complete sidecar and, for deletion
    * vectors, at a commit that absorbed every older one. */
  private[spark] def sidecars(
      conf: => Configuration, log: TableVersions, table: TableDefinition, family: String,
      at: Option[CommitId]): List[(CommitId, Boolean)] = {
    val out = List.newBuilder[(CommitId, Boolean)]
    val it = lineage(conf, log, table, at).iterator
    var stop = false
    while (!stop && it.hasNext) {
      val m = it.next()
      sidecarOf(m, family).foreach { complete =>
        out += (m.id -> complete)
        stop = complete
      }
      stop ||= family == Deletes && m.tableMetadata.contains(CommitFacts.Absorbed)
    }
    out.result()
  }

  /** LEGACY SIDECARS: an earlier version found a table's sidecars by
    * probing for `commit-<id>` dirs at its own commits' ids and kept
    * `_absorbed` / `_squashed` marker files in them. A log below format 2
    * whose `_deletes` or `_appends` root holds such a dir is REFUSED with
    * an error naming the root (one listing per root, only for such logs):
    * its sidecars are not named by its commits, and reading around them
    * would resurrect deleted rows or drop appended ones. Dirs at other ids
    * — a shallow clone's, which shares the location, or a lost writer's
    * orphan — were never this table's and stay out of the check. */
  private[spark] def requireNamedSidecars(
      conf: => Configuration, log: TableVersions, table: TableDefinition): Unit =
    if (formatOf(log, table) < 2) {
      lazy val c = conf
      val own = log.updates(table.name).iterator.map("commit-" + _.id.id).toSet
      List(Deletes, Appends).foreach { family =>
        val dir = new Path(sidecarRoot(table, family))
        val held =
          try dir.getFileSystem(c).listStatus(dir).exists(st => own(st.getPath.getName))
          catch { case _: java.io.FileNotFoundException => false }
        if (held)
          throw new IllegalStateException(
            s"table ${table.name.fullyQualifiedName} has sidecars under $dir that " +
              "its commit log does not name; this version finds them only through " +
              "the log. Compact the table with the version that wrote them " +
              "(OPTIMIZE absorbs every vector and overlay row), move the dir " +
              "away, then use the table with this version")
      }
    }

  /** THE DECLARATION COMMIT: read the pointer, `derive` the commit-line
    * entries from the state it names, and `commitIf` on that pointer; a
    * writer that landed in between fails the CAS and `derive` re-runs on
    * the fresh fold, so no change is lost and every precondition `derive`
    * checks holds at the commit. */
  private[spark] def commitDerived(
      ms: VersionedMetastore, table: TableName, message: UpdateMessage, user: UserId)(
      derive: => Map[String, String]): Unit = {
    @tailrec def attempt(n: Int): Unit = {
      val pointer = ms.tableVersions.currentCommit(table)
      val update = TableUpdate(user, message, Instant.now(), Nil).withTableMetadata(derive)
      if (ms.commitIf(table, update, pointer).isEmpty) {
        if (n >= MaxAttempts)
          throw new ConcurrentWriteException(
            s"table ${table.fullyQualifiedName}: '${message.content}' lost the commit " +
              s"race $n times; re-run the statement")
        attempt(n + 1)
      }
    }
    attempt(1)
  }
}
