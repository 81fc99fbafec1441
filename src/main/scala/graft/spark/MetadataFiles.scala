package graft.spark

import java.time.Instant

import scala.annotation.tailrec
import scala.util.control.NonFatal

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.{DeserializationFeature, JavaType, JsonNode, ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.databind.node.MissingNode
import com.fasterxml.jackson.module.scala.{DefaultScalaModule, JavaTypeable}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.core.{Partition, TableDefinition, TableName, TableVersions, VersionedMetastore}
import graft.core.TableVersions.{CommitId, ConcurrentWriteException, MetadataFold, TableUpdate, UpdateMessage, UserId}

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
  * | `format`         | the init commit of a table this version made | (presence only)    |
  *
  * Each entry holds the family's whole new value. The first seven are
  * CURRENT DECLARATIONS: they resolve at the log head, so a rollback,
  * RESTORE or `VERSION AS OF` never changes which rules are in force; the
  * next four resolve at the commit a read addresses ([[DataSchema]] owns
  * `schema`). `format` is not a family: it marks a log whose table was
  * created by a writer that never wrote metadata files. Each table's log is
  * its own lineage, so a clone owns its values (a clone's state commit
  * carries the source's, all but the MV definition), and a log checkpoint
  * keeps every family's value on its base commit.
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

    private def decode(
        spark: SparkSession, log: TableVersions, table: TableDefinition,
        f: MetadataFold[String]): MetadataFold[A] = {
      if (f.oldest.isEmpty &&
          !log.metadataAtHead(table.name, Format).oldest.contains(FormatVersion)) {
        val conf = spark.sessionState.newHadoopConf()
        legacy(table).find(p => p.getFileSystem(conf).exists(p)).foreach { p =>
          throw new IllegalStateException(
            s"table ${table.name.fullyQualifiedName} has a legacy metadata file $p, " +
              s"which this version no longer reads: its $name now rides the commit " +
              "log. Move the file away, then redo the change (or recreate the " +
              "table) with this version")
        }
      }
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

  /** On the init commit of every table this version creates: no probe. */
  private[spark] val Format = "format"
  private val FormatVersion = "1"

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
