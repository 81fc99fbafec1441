package graft.spark

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.annotation.tailrec
import scala.util.DynamicVariable
import scala.util.control.NonFatal

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.{DeserializationFeature, JavaType, JsonNode, ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.databind.node.MissingNode
import com.fasterxml.jackson.module.scala.{DefaultScalaModule, JavaTypeable}
import org.apache.commons.io.IOUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, Options, Path}
import org.apache.spark.sql.SparkSession

import graft.core.{Partition, TableDefinition, TableVersions}
import graft.core.TableVersions.{CommitId, MetadataFold}

/** THE STORE for table metadata: every declaration graft keeps beside a
  * table's version dirs is one of the families below, and this module
  * alone decides where a family's file lives, how it is read, how it is
  * updated, which families a clone carries, and where VACUUM looks for a
  * crashed writer's temp files. The family modules keep only their rules
  * (validation, enforcement, decoration).
  *
  * | family           | file (under the table location)      | legacy fallback      |
  * |------------------|--------------------------------------|----------------------|
  * | `constraints`    | `_constraints/<schema.table>.json`   | `_constraints.json`  |
  * | `generated`      | `_generated/<schema.table>.json`     | `_generated.json`    |
  * | `identity`       | `_identity/<schema.table>.json`      | `_identity.json`     |
  * | `defaults`       | `_defaults/<schema.table>.json`      | –                    |
  * | `comments`       | `_comments/<schema.table>.json`      | –                    |
  * | `tblproperties`  | `_tblproperties/<schema.table>.json` | –                    |
  * | `mv`             | `_mv.json`                           | –                    |
  *
  * NAME-KEYED families live under the (possibly shared) location keyed by
  * table name, so a shallow clone and its source own independent sets.
  * A keyed family with a legacy fallback reads the location-global file
  * while no keyed file exists; every update writes the keyed file, so
  * legacy metadata migrates on the first DDL that changes it.
  *
  * COMMIT-CARRIED families (column mapping, partitioning, schema states)
  * have no file: their value rides the commit that changes it, in the
  * commit line's `tableMetadata`, and resolves through the log's one
  * metadata fold ([[graft.core.TableVersions.foldMetadata]]) — see
  * [[CommitCarried]]. Each table's log is its own lineage, so a clone
  * owns its values, and a log checkpoint keeps them on its base commit.
  *
  * READ: one open of the keyed file (a missing file is the empty value;
  * the legacy file is tried only when the keyed one is missing), then a
  * Jackson data-binding parse. A file that exists but cannot be read or
  * parsed throws an `IOException` naming it — never an empty value, so a
  * write gate cannot skip rules it failed to read.
  *
  * UPDATE: one fresh read → pure transform → atomic publish cycle under
  * the file's [[MetadataLock]], so concurrent writers of one file never
  * lose each other's edits. Transforms re-check their own preconditions
  * on the fresh value (expensive validation scans stay outside the lock).
  * After publishing, the cycle re-reads and retries when a writer that
  * bypasses the lock (a hand edit, an older binary) clobbered the edit.
  *
  * ATOMIC PUBLISH: a naive `fs.create(path, overwrite = true)` truncates
  * in place, and a crash mid-write leaves torn JSON that fails every later
  * read. [[publish]] writes a hidden `.<name>.tmp-<uuid>` file in the
  * target's directory, then moves it over the target — `rename(2)`
  * (java.nio ATOMIC_MOVE) for `file:` paths, `FileContext.rename(...,
  * OVERWRITE)` (atomic on HDFS) otherwise — so a reader sees the previous
  * state or the new one, never a partial or a missing file. The temp is
  * written through the RAW filesystem and any checksum sidecar left by an
  * earlier in-place writer is dropped before the move: a stale `.crc`
  * would fail every later checksummed read. A crashed writer's temp is
  * harmless and VACUUM reclaims it from [[tempDirs]].
  *
  * MEMO: `tblproperties` (consulted inside analyzer rules) and `comments`
  * (consulted on every served-schema resolution) are memoized per file
  * for [[MemoTtlMs]]; an update through this process refreshes the entry,
  * another process's edit is seen within one TTL. Both are advisory
  * (behavior toggles, descriptive text), so a one-TTL lag is benign.
  *
  * CLONE CARRY: [[carry]] copies the current-declaration families
  * (constraints, generated, identity, defaults, comments, tblproperties)
  * to the clone's own keyed files. A shallow clone's state commit carries
  * the source's commit-carried values.
  */
object MetadataFiles {

  private val MemoTtlMs = 30000L
  private val MaxAttempts = 20

  private val mapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.setSerializationInclusion(JsonInclude.Include.NON_ABSENT)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m.configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)
    m
  }

  private val memo = new ConcurrentHashMap[String, (Long, Any)]()

  /** Test seams: run inside an update, with the new content staged
    * (before) or published (after) and the file's lock held. Throwing
    * from `beforePublishForTest` is a crash at the worst moment. */
  private[spark] val beforePublishForTest = new DynamicVariable[Path => Unit](_ => ())
  private[spark] val afterPublishForTest = new DynamicVariable[Path => Unit](_ => ())

  /** One metadata family: where its file lives and how its value binds. */
  final class Family[A] private[MetadataFiles] (
      val name: String,
      val keyed: Boolean,
      legacyFallback: Boolean,
      val carried: Boolean,
      memoized: Boolean,
      val empty: A,
      javaType: JavaType) {

    /** `_<name>/<schema.table>.json` when keyed, else `_<name>.json`. */
    def path(table: TableDefinition): Path =
      if (keyed) new Path(s"${root(table)}_$name/${table.name.fullyQualifiedName}.json")
      else globalPath(table)

    private def globalPath(table: TableDefinition): Path =
      new Path(s"${root(table)}_$name.json")

    /** The family's value for `table`; [[empty]] when it has no file. */
    def read(spark: SparkSession, table: TableDefinition): A = {
      if (!memoized) return load(spark.sessionState.newHadoopConf(), table)
      val key = path(table).toString
      val now = System.currentTimeMillis()
      val hit = memo.get(key)
      if (hit != null && now - hit._1 < MemoTtlMs) hit._2.asInstanceOf[A]
      else {
        val v = load(spark.sessionState.newHadoopConf(), table)
        memo.put(key, (now, v))
        v
      }
    }

    /** Locked read → `transform` → atomic publish; returns the new value.
      * An unchanged value publishes nothing. */
    def update(spark: SparkSession, table: TableDefinition)(transform: A => A): A = {
      val conf = spark.sessionState.newHadoopConf()
      val p = path(table)
      @tailrec def cycle(attempt: Int): A = {
        val fresh = load(conf, table)
        val next = transform(fresh)
        if (next == fresh) next
        else {
          publish(conf, p, mapper.writeValueAsString(next))
          afterPublishForTest.value(p)
          if (load(conf, table) == next) next
          else if (attempt >= MaxAttempts)
            throw new IllegalStateException(
              s"$p kept changing under $attempt update attempts — " +
                "a writer bypassing its lock is racing; re-run the operation")
          else cycle(attempt + 1)
        }
      }
      val next = MetadataLock.withLock(conf, p)(cycle(1))
      if (memoized) memo.put(p.toString, (System.currentTimeMillis(), next))
      next
    }

    private[MetadataFiles] def carry(
        spark: SparkSession, src: TableDefinition, dst: TableDefinition): Unit = {
      val v = read(spark, src)
      if (v != empty) { update(spark, dst)(_ => v); () }
    }

    private def load(conf: Configuration, table: TableDefinition): A =
      parse(conf, path(table))
        .orElse(if (legacyFallback) parse(conf, globalPath(table)) else None)
        .getOrElse(empty)

    private def parse(conf: Configuration, p: Path): Option[A] = {
      val in =
        try p.getFileSystem(conf).open(p)
        catch { case _: FileNotFoundException => return None }
      try {
        val text = new String(IOUtils.toByteArray(in), StandardCharsets.UTF_8)
        Some(mapper.readValue[A](text, javaType))
      } catch {
        case NonFatal(e) =>
          throw new IOException(s"unreadable table metadata file $p: ${e.getMessage}", e)
      } finally in.close()
    }
  }

  private def root(table: TableDefinition): String =
    Partition.normalizedDir(table.location).toString

  private def family[A](
      name: String, keyed: Boolean, empty: A, legacyFallback: Boolean = false,
      carried: Boolean = false, memoized: Boolean = false)(
      implicit jt: JavaTypeable[A]): Family[A] =
    new Family(name, keyed, legacyFallback, carried, memoized, empty,
      jt.asJavaType(mapper.getTypeFactory))

  val constraints: Family[List[Constraints.Constraint]] =
    family("constraints", keyed = true, Nil, legacyFallback = true, carried = true)
  val generated: Family[List[GeneratedColumns.GeneratedColumn]] =
    family("generated", keyed = true, Nil, legacyFallback = true, carried = true)
  /** `{"column": <name>}` — the table's declared identity column. */
  val identity: Family[Map[String, String]] =
    family("identity", keyed = true, Map.empty, legacyFallback = true, carried = true)
  val defaults: Family[List[ColumnDefaults.ColumnDefault]] =
    family("defaults", keyed = true, Nil, carried = true)
  /** Dotted field path → comment. */
  val comments: Family[Map[String, String]] =
    family("comments", keyed = true, Map.empty, carried = true, memoized = true)
  val tblProperties: Family[Map[String, String]] =
    family("tblproperties", keyed = true, Map.empty, carried = true, memoized = true)
  /** The view definition as a JSON tree: its stored shape is not
    * [[MaterializedView.MvDef]], so that module keeps its own codec. */
  val mv: Family[JsonNode] =
    family[JsonNode]("mv", keyed = false, MissingNode.getInstance())

  val families: List[Family[_]] = List(
    constraints, generated, identity, defaults, comments, tblProperties, mv)

  /** The value a statement changed a table's metadata from and to. */
  final case class Change[A](before: A, after: A)

  /** A COMMIT-CARRIED family: [[entry]] is what the changing commit
    * carries, [[fold]] resolves it at a commit. `legacy` is the file the
    * earlier sidecar store kept the family in — a table whose log carries
    * no value but whose location still holds that file is REFUSED with an
    * error naming the file (one probe, only while the log carries none):
    * reading it would resurrect sidecar anchors this log never wrote. */
  final class CommitCarried[A] private[MetadataFiles] (
      val name: String, legacy: TableDefinition => Path, javaType: JavaType) {

    /** The commit-line entry recording `value` as this family's new value. */
    def entry(value: A): Map[String, String] = Map(name -> mapper.writeValueAsString(value))

    /** The family folded at `at` (None: the current pointer). */
    def fold(
        spark: SparkSession, log: TableVersions, table: TableDefinition,
        at: Option[CommitId]): MetadataFold[A] =
      decode(spark, table, log.metadataAt(table.name, name, at))

    /** The family folded at the log head. */
    def foldAtHead(
        spark: SparkSession, log: TableVersions, table: TableDefinition): MetadataFold[A] =
      decode(spark, table, log.metadataAtHead(table.name, name))

    private def decode(
        spark: SparkSession, table: TableDefinition, f: MetadataFold[String]): MetadataFold[A] = {
      if (f.oldest.isEmpty) {
        val p = legacy(table)
        if (p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
          throw new IllegalStateException(
            s"table ${table.name.fullyQualifiedName} has a legacy metadata file $p, " +
              s"which this version no longer reads: its $name now rides the commit " +
              "log. Move the file away, then redo the change (or recreate the " +
              "table) with this version")
      }
      f.map(v => mapper.readValue[A](v, javaType))
    }
  }

  private def commitCarried[A](name: String, legacy: TableDefinition => Path)(
      implicit jt: JavaTypeable[A]): CommitCarried[A] =
    new CommitCarried(name, legacy, jt.asJavaType(mapper.getTypeFactory))

  /** Mapping entries, on each RENAME / DROP / widen audit commit. */
  val columnMapping: CommitCarried[List[ColumnMapping.Entry]] =
    commitCarried("column_mapping", t => new Path(s"${root(t)}_column_mapping.json"))
  /** Partition columns, on each EVOLVE PARTITIONING boundary commit. */
  val partitioning: CommitCarried[Change[List[String]]] =
    commitCarried("partitioning", t => new Path(s"${root(t)}_partitioning.json"))
  /** Declared-schema JSON, on the last audit commit of a nested ADD,
    * struct/type widening or reorder. */
  val schemaStates: CommitCarried[Change[String]] =
    commitCarried("schema_states",
      t => new Path(s"${root(t)}_schema_states/${t.name.fullyQualifiedName}.json"))

  /** The value governing a [[Change]] family's fold: the in-force
    * carrier's `after`, or — before the first carrier — the oldest
    * carrier's `before`. None: the family never changed. */
  def governing[A](f: MetadataFold[Change[A]]): Option[A] =
    f.inForce.map(_.after).orElse(f.oldest.map(_.before))

  /** Copy the current-declaration families of a clone source into the
    * clone's own keyed files (the clone inherits them at clone time and
    * owns them independently from then on). */
  def carry(spark: SparkSession, src: TableDefinition, dst: TableDefinition): Unit =
    families.filter(_.carried).foreach(_.carry(spark, src, dst))

  /** Where a crashed [[publish]] can leave a temp file: the table root
    * (location-global files) and every keyed family's dir. */
  def tempDirs(root: Path): List[Path] =
    root :: families.filter(_.keyed).map(f => new Path(root, s"_${f.name}"))

  def isTempFile(name: String): Boolean = name.startsWith(".") && name.contains(".tmp-")

  /** Test/ops hook: forget every memoized value. */
  private[graft] def invalidateMemo(): Unit = memo.clear()

  /** Atomically replace `path` with `content` (see the class doc). */
  private[spark] def publish(conf: Configuration, path: Path, content: String): Unit = {
    val outer = path.getFileSystem(conf)
    val fs = outer match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other                 => other
    }
    val target = fs.makeQualified(path)
    val tmp = new Path(target.getParent, s".${target.getName}.tmp-${UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    outer match {
      case c: ChecksumFileSystem =>
        // stale checksum from a pre-atomic writer; absence = no verify
        fs.delete(c.getChecksumFile(target), false)
      case _ => ()
    }
    beforePublishForTest.value(path)
    val uri = target.toUri
    if (uri.getScheme == null || uri.getScheme == "file") {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(target.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      FileContext.getFileContext(uri, conf).rename(tmp, target, Options.Rename.OVERWRITE)
    }
    ()
  }
}
