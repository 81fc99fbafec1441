package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{Row, SparkSession}

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.{GraftTableCatalog, VersionContext}

/** Seeded, stateless value generator (splitmix64): the same seed, stream
  * and index always give the same value, on the driver and in tasks. */
object Gen {
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def long(seed: Long, stream: Long, k: Long): Long =
    mix(mix(seed * 0x632BE59BD9B4E019L + stream) + k)
  def int(seed: Long, stream: Long, k: Long, n: Int): Int =
    java.lang.Math.floorMod(long(seed, stream, k), n.toLong).toInt

  private val words = Array("quick", "ironic", "final", "furious", "pending",
    "regular", "special", "express", "bold", "silent", "even", "careful",
    "blithe", "daring", "ruthless", "slyly", "fluffily", "deposits",
    "packages", "accounts", "requests", "foxes", "theodolites", "pinto")
  /** A TPC-H-like comment: a few words from a small vocabulary. */
  def comment(seed: Long, stream: Long, k: Long): String = {
    val n = 3 + int(seed, stream, k, 5)
    (0 until n).map(i => words(int(seed, stream + 1 + i, k, words.length))).mkString(" ")
  }
}

/** A closed-loop workload over graft tables in its own directory, with its
  * own durable JSON commit log bound to the SQL catalog [[Workload.Catalog]]. */
abstract class Workload(val spark: SparkSession, val seed: Long, val dir: Path) {
  import Workload._

  val log: TableVersions = JsonFileTableVersions(dir.resolve("_log").toString)
  val ctx: VersionContext = VersionContext(VersionedMetastore(log, new InMemoryMetastore))
  GraftTableCatalog.bind(Catalog, ctx.metastore)

  /** Tables whose storage the run measures. */
  def tables: Seq[TableDefinition]
  /** The table whose log replay the traced run times. */
  def main: TableDefinition

  /** Data generation and the initial load: the timed set-up. */
  def setup(): Unit
  /** Builds the model of the state [[setup]] left, outside its timing. */
  def model(): Unit
  /** One round of ops; its composition is fixed, the seed picks values. */
  def cycle(h: Harness, round: Int): Unit
  /** Compares the whole final table state against the model. */
  def finalCheck(h: Harness): Unit

  protected def table(name: String, partitionCols: String*): TableDefinition = {
    val t = TableDefinition(
      TableName(Namespace, name), dir.resolve(name).toUri,
      PartitionSchema(partitionCols.map(PartitionColumn(_)).toList), FileFormat.Parquet)
    ctx.init(t, User, UpdateMessage("init"))
    GraftTableCatalog.register(Catalog, t)
    t
  }

  protected def sqlName(t: TableDefinition): String = s"$Catalog.$Namespace.${t.name.name}"

  /** The table's current commit id (bookkeeping, outside op timing). */
  protected def head(t: TableDefinition): String = log.currentCommit(t.name).id

  /** Runs OPTIMIZE then VACUUM as one maintenance op. */
  protected def maintain(h: Harness, t: TableDefinition, where: String, keep: Int): Unit =
    h.op("maint", "optimize+vacuum") { op =>
      op.command("optimize", s"OPTIMIZE ${sqlName(t)}$where")
      var before = 0L
      op.untimed { before = storageBytes(h) }
      op.command("vacuum", s"VACUUM ${sqlName(t)} RETAIN $keep COMMITS GRACE 0 MINUTES")
      op.untimed { op.rec.reclaimed = before - storageBytes(h) }
    }

  def storageBytes(h: Harness): Long = tables.map(t => h.walk(Paths.get(t.location)).bytes).sum

  /** Bytes, files and partitions of the versions the tables' current
    * states reference. */
  def live(h: Harness): (Long, Long, Long) = {
    val dirs = tables.flatMap { t =>
      log.currentVersion(t.name) match {
        case PartitionedTableVersion(pvs) =>
          pvs.toSeq.map { case (p, v) => VersionPaths.pathFor(t.location, p, v) }
        case SnapshotTableVersion(v) => Seq(VersionPaths.pathFor(t.location, v))
      }
    }
    val walks = dirs.map(d => h.walk(Paths.get(d)))
    (walks.map(_.bytes).sum, walks.map(_.files).sum, dirs.size.toLong)
  }

  /** `table_changes` over the commit `kind` made: its net row and value
    * change must equal the model's, whatever rows a rewrite re-emits. */
  protected def changes(
      h: Harness, kind: String, t: TableDefinition, from: String, to: String,
      valueCol: String, netRows: Long, netValue: Long): Unit =
    h.op("cdc", s"table_changes of $kind") { op =>
      val rows = op.query(
        s"""SELECT _change_type, count(*), sum($valueCol)
           |FROM table_changes('${sqlName(t)}', '$from', '$to') GROUP BY _change_type""".stripMargin)
      def net(r: Row, i: Int): Long = {
        val v = if (r.isNullAt(i)) 0L else r.getLong(i)
        r.getString(0) match {
          case "insert" | "update_postimage" => v
          case "delete" | "update_preimage" => -v
          case other => sys.error(s"unknown change type $other")
        }
      }
      op.expect("cdc net rows", rows.map(net(_, 1)).sum, netRows)
      op.expect("cdc net value", rows.map(net(_, 2)).sum, netValue)
    }

  protected def finalOp(h: Harness)(body: Op => Unit): Unit = h.op("check", "final state")(body)
}

object Workload {
  val Catalog = "bench"
  val Namespace = "db"
  val User: UserId = UserId("perfbench")

  def apply(name: String, spark: SparkSession, seed: Long, dir: Path, initialDays: Int): Workload =
    name match {
      case "ingest" => new Ingest(spark, seed, dir, initialDays)
      case "analytics" => new Analytics(spark, seed, dir)
      case "mutate" => new Mutate(spark, seed, dir)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
}
