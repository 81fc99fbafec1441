package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.TableDefinition
import graft.core.TableVersions.UpdateMessage
import graft.spark.VersionContext.DatasetVersionOps

/** `ingest`: small versioned commits into a day-partitioned table, each
  * followed by a point read of the day it wrote. Per-commit fixed cost and
  * driver-side metadata work dominate; every commit changes the path list,
  * so metadata caches keyed on it never hit.
  *
  * A round is [[Steps]] commits (one of them, at a seeded position, a late
  * correction that rewrites an existing day), each followed by a point
  * read of its day and `table_changes` over it; then a whole-table
  * aggregate, `VERSION AS OF` reads of the round's first and middle
  * commits, `DESCRIBE HISTORY`, a DELETE retracting a whole day, and
  * OPTIMIZE of the corrected day + VACUUM. */
final class Ingest(spark: SparkSession, seed: Long, dir: Path, initialDays: Int)
    extends Workload(spark, seed, dir) {
  import Ingest._
  import spark.implicits._

  private val events = table("events", "day")
  override def tables: Seq[TableDefinition] = Seq(events)
  override def main: TableDefinition = events
  private val name = sqlName(events)

  /** The model: every live row per day, and the totals of each commit. */
  private val days = mutable.Map.empty[Int, Vector[(Long, Long)]]
  private val totalsAt = mutable.Map.empty[String, (Long, Long)]
  private var nextDay = 0
  private var nextId = 0L

  private def batch(day: Int): Seq[Event] =
    (0 until RowsPerDay).map { _ =>
      nextId += 1
      Event.gen(seed, nextId - 1, day)
    }

  private def dayTotals(d: Int): (Long, Long) = {
    val rows = days.getOrElse(d, Vector.empty)
    (rows.size.toLong, rows.map(_._2).sum)
  }
  private def totals: (Long, Long) = {
    val all = days.keys.toSeq.map(dayTotals)
    (all.map(_._1).sum, all.map(_._2).sum)
  }
  private def remember(): String = {
    val c = head(events)
    totalsAt(c) = totals
    c
  }

  private def write(rows: Seq[Event], msg: String): Unit = {
    rows.toDS().versionedInsertInto(ctx, events, Workload.User, UpdateMessage(msg))
    keep(rows)
  }
  private def keep(rows: Seq[Event]): Unit =
    rows.groupBy(_.day).foreach { case (d, rs) => days(d) = rs.map(r => (r.id, r.amount)).toVector }

  override def setup(): Unit = {
    val s = seed
    spark.range(initialDays.toLong * InitialRowsPerDay).as[Long]
      .map(id => Event.gen(s, id, (id / InitialRowsPerDay).toInt))
      .versionedInsertInto(ctx, events, Workload.User, UpdateMessage("initial load"))
  }

  override def model(): Unit = {
    nextId = initialDays.toLong * InitialRowsPerDay
    keep((0L until nextId).map(id => Event.gen(seed, id, (id / InitialRowsPerDay).toInt)))
    nextDay = initialDays
    remember()
  }

  override def cycle(h: Harness, round: Int): Unit = {
    val roundStart = head(events)
    val lateAt = Gen.int(seed, 3, round, Steps)
    var corrected = 0
    var midRound = roundStart
    (0 until Steps).foreach { s =>
      val late = s == lateAt
      val d = if (late) Gen.int(seed, 4, round, nextDay) else { nextDay += 1; nextDay - 1 }
      if (late) corrected = d
      val rows = batch(d)
      val (n0, s0) = dayTotals(d)
      val from = head(events)
      val kind = if (late) "late correction" else "new day"
      val w = h.op("write", kind) { op =>
        op.run("write")(write(rows, s"day $d"))
      }
      val to = if (w.ok) remember() else from
      if (s == Steps / 2 - 1) midRound = to
      val (n, sum) = dayTotals(d)
      h.op("read", "point") { op =>
        val r = op.query(s"SELECT count(*), sum(amount) FROM $name WHERE day = $d").head
        op.expect(s"day $d count", r.getLong(0), n)
        op.expect(s"day $d sum", r.getLong(1), sum)
      }
      if (to != from) changes(h, kind, events, from, to, "amount", n - n0, sum - s0)
    }

    val (n, sum) = totals
    h.op("read", "aggregate") { op =>
      val r = op.query(s"SELECT count(*), sum(amount) FROM $name").head
      op.expect("count", r.getLong(0), n)
      op.expect("sum", r.getLong(1), sum)
    }
    Seq("round start" -> roundStart, "mid-round" -> midRound).foreach { case (kind, c) =>
      val (tn, tsum) = totalsAt(c)
      h.op("travel", s"version as of $kind") { op =>
        val r = op.query(s"SELECT count(*), sum(amount) FROM $name VERSION AS OF '$c'").head
        op.expect("travel count", r.getLong(0), tn)
        op.expect("travel sum", r.getLong(1), tsum)
      }
    }
    val current = head(events)
    h.op("history", "describe history") { op =>
      val r = op.query(s"DESCRIBE HISTORY $name")
      op.expect("history head", r.head.getAs[String]("commit_id"), current)
    }

    // retract a whole day other than the corrected one, which OPTIMIZE packs
    val retracted = (corrected + 1 + Gen.int(seed, 5, round, nextDay - 1)) % nextDay
    val del = h.op("dml", "retract day") { op =>
      op.command("delete", s"DELETE FROM $name WHERE day = $retracted")
    }
    if (del.ok) {
      days.remove(retracted)
      remember()
    }
    maintain(h, events, s" WHERE day = '$corrected'", Retain)
    remember()
  }

  override def finalCheck(h: Harness): Unit = finalOp(h) { op =>
    val got = op.query(s"SELECT day, count(*), sum(amount) FROM $name GROUP BY day")
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = days.collect { case (d, rows) if rows.nonEmpty => d -> dayTotals(d) }.toMap
    op.expect("final per-day totals", got, want)
  }
}

final case class Event(id: Long, amount: Long, tag: String, day: Int)

object Event {
  def gen(seed: Long, id: Long, day: Int): Event =
    Event(id, Gen.int(seed, 1, id, 100000).toLong, s"t${Gen.int(seed, 2, id, 20)}", day)
}

object Ingest {
  /** Rows of each commit in the timed phase. */
  val RowsPerDay = 2000
  /** Rows per day of the initial load: fewer, so set-up stays cheap. */
  val InitialRowsPerDay = 500
  /** Days of the initial load; `--initial-days` overrides it for a
    * partition-count sweep. */
  val InitialDays = 100
  val Steps = 3
  /** VACUUM keeps this many commits: more than one round makes, so the
    * next round's `VERSION AS OF` target survives. */
  val Retain = 10
}
