package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.TableDefinition
import graft.core.TableVersions.UpdateMessage
import graft.spark.VersionContext.DatasetVersionOps

final case class LineItem(
    l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_quantity: Long,
    l_extendedprice: Long, l_discount: Int, l_returnflag: String,
    l_linestatus: String, l_shipmode: String, l_comment: String, ship_year: Int)

object LineItem {
  val Flags = Array("A", "N", "R")
  val Statuses = Array("F", "O")
  val Modes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  /** Row `k` of source `stream`; `year` pins the ship year when set. */
  def gen(seed: Long, stream: Long, k: Long, orders: Long, year: Int): LineItem = {
    val s = stream * 100
    val qty = 1L + Gen.int(seed, s + 1, k, 50)
    LineItem(
      java.lang.Math.floorMod(Gen.long(seed, s + 2, k), orders),
      Gen.int(seed, s + 3, k, 20000).toLong,
      Gen.int(seed, s + 4, k, 1000).toLong,
      qty,
      qty * (90000L + Gen.int(seed, s + 5, k, 10000000)),
      Gen.int(seed, s + 6, k, 11),
      Flags(Gen.int(seed, s + 7, k, Flags.length)),
      Statuses(Gen.int(seed, s + 8, k, Statuses.length)),
      Modes(Gen.int(seed, s + 9, k, Modes.length)),
      Gen.comment(seed, s + 10, k),
      if (year > 0) year else 1992 + Gen.int(seed, s + 11, k, Order.Years))
  }
}

/** `analytics`: Spark execution and write distribution dominate, the log
  * stays short and the paths stable, so metadata caches hit. Setup writes
  * a seeded lineitem-like parquet source larger than the session's advisory
  * partition size, and a small one-year source below it. A round replaces
  * the table from the large source (`INSERT OVERWRITE`) and appends the
  * small source (`INSERT INTO`), so commits fall on both sides of the
  * versioned write's size gate. The append is followed by `table_changes`
  * over its commit and the query mix: a group-by aggregate, a join to
  * orders and a partition-pruned filter. A DELETE of a slice of one year
  * is followed by `table_changes` over its commit. `VERSION AS OF`
  * reads the overwrite and the last append; OPTIMIZE + VACUUM on the
  * deleted year closes the round. */
final class Analytics(spark: SparkSession, seed: Long, dir: Path)
    extends Workload(spark, seed, dir) {
  import Analytics._
  import spark.implicits._

  private val lineitem = table("lineitem", "ship_year")
  private val orders = table("orders")
  override def tables: Seq[TableDefinition] = Seq(lineitem, orders)
  override def main: TableDefinition = lineitem
  private val li = sqlName(lineitem)
  private val bigSrc = dir.resolve("src_big").toString
  private val smallSrc = dir.resolve("src_small").toString


  private def buckets(stream: Long, rows: Long, year: Int): Buckets = {
    val m = mutable.HashMap.empty[Key, Acc]
    var k = 0L
    while (k < rows) {
      val r = LineItem.gen(seed, stream, k, OrderCount, year)
      val a = m.getOrElseUpdate(Key(r.ship_year, r.l_returnflag, r.l_linestatus,
        Order.gen(seed, r.l_orderkey).o_priority, r.l_discount >= 5 && r.l_discount <= 7,
        r.l_quantity >= 50), new Acc)
      a.n += 1; a.qty += r.l_quantity; a.price += r.l_extendedprice
      k += 1
    }
    m.toMap
  }
  private lazy val big = buckets(BigStream, BigRows, 0)
  private lazy val small = buckets(SmallStream, SmallRows, SmallYear)
  private var state: Buckets = Map.empty
  private val stateAt = mutable.Map.empty[String, Buckets]

  private def plus(a: Buckets, b: Buckets): Buckets =
    (a.keySet ++ b.keySet).map { k =>
      val acc = new Acc
      a.get(k).foreach(acc.add); b.get(k).foreach(acc.add)
      k -> acc
    }.toMap
  private def sumBy[G](b: Buckets)(g: Key => G): Map[G, (Long, Long, Long)] =
    b.groupBy(kv => g(kv._1)).map { case (gk, kvs) =>
      gk -> (kvs.values.map(_.n).sum, kvs.values.map(_.qty).sum, kvs.values.map(_.price).sum)
    }.filter(_._2._1 > 0)
  private def remember(): String = {
    val c = head(lineitem)
    stateAt(c) = state
    c
  }

  override def setup(): Unit = {
    val s = seed
    spark.range(OrderCount).as[Long].map(k => Order.gen(s, k))
      .versionedInsertInto(ctx, orders, Workload.User, UpdateMessage("orders"))
    spark.range(BigRows).as[Long].map(k => LineItem.gen(s, BigStream, k, OrderCount, 0))
      .write.parquet(bigSrc)
    spark.range(SmallRows).as[Long]
      .map(k => LineItem.gen(s, SmallStream, k, OrderCount, SmallYear))
      .repartition(1).write.parquet(smallSrc)
    spark.read.parquet(bigSrc)
      .versionedInsertInto(ctx, lineitem, Workload.User, UpdateMessage("initial load"))
  }

  override def model(): Unit = {
    state = big
    remember()
  }

  private def queries(h: Harness, round: Int, step: Int): Unit = {
    val byFlag = sumBy(state)(k => (k.flag, k.status))
    h.op("read", "group-by aggregate") { op =>
      val got = op.query(s"""SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity),
                            |sum(l_extendedprice) FROM $li GROUP BY 1, 2""".stripMargin)
        .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      op.expect("aggregate", got, byFlag)
    }
    val byPriority = sumBy(state)(_.priority).map { case (p, (n, _, s)) => p -> (n, s) }
    h.op("read", "join orders") { op =>
      val got = op.query(
        s"""SELECT o.o_priority, count(*), sum(l.l_extendedprice)
           |FROM $li l JOIN ${sqlName(orders)} o ON l.l_orderkey = o.o_orderkey
           |GROUP BY o.o_priority""".stripMargin)
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      op.expect("join", got, byPriority)
    }
    val y = steadyYear(round * 10L + step)
    val (n, _, s) = sumBy(state.filter { case (k, _) => k.year == y && k.discount57 })(_ => 0)
      .getOrElse(0, (0L, 0L, 0L))
    h.op("read", "pruned filter") { op =>
      val r = op.query(s"""SELECT count(*), coalesce(sum(l_extendedprice), 0) FROM $li
                          |WHERE ship_year = $y AND l_discount BETWEEN 5 AND 7""".stripMargin).head
      op.expect(s"year $y count", r.getLong(0), n)
      op.expect(s"year $y sum", r.getLong(1), s)
    }
  }

  private def commit(h: Harness, name: String, sql: String)(next: => Buckets): Unit = {
    val w = h.op("write", name)(_.command("insert", sql))
    if (w.ok) state = next
    remember()
  }

  /** A seeded year other than the one the appends grow, so the cost of
    * the ops on it does not depend on the seed. */
  private def steadyYear(k: Long): Int = {
    val y = 1992 + Gen.int(seed, 50, k, Order.Years - 1)
    if (y >= SmallYear) y + 1 else y
  }

  private def travel(h: Harness, kind: String, commit: String): Unit = {
    val (n, _, s) = sumBy(stateAt(commit))(_ => 0).getOrElse(0, (0L, 0L, 0L))
    h.op("travel", s"version as of $kind") { op =>
      val r = op.query(
        s"SELECT count(*), sum(l_extendedprice) FROM $li VERSION AS OF '$commit'").head
      op.expect("travel count", r.getLong(0), n)
      op.expect("travel sum", r.getLong(1), s)
    }
  }

  override def cycle(h: Harness, round: Int): Unit = {
    commit(h, "insert overwrite", s"INSERT OVERWRITE $li SELECT * FROM parquet.`$bigSrc`")(big)
    val replaced = head(lineitem)
    (1 to Appends).foreach { i =>
      val from = head(lineitem)
      commit(h, "insert into", s"INSERT INTO $li SELECT * FROM parquet.`$smallSrc`")(
        plus(state, small))
      val (n, _, s) = sumBy(small)(_ => 0)(0)
      val to = head(lineitem)
      if (to != from) changes(h, "insert into", lineitem, from, to, "l_extendedprice", n, s)
      queries(h, round, i)
    }
    val appended = head(lineitem)
    travel(h, "overwrite", replaced)

    val y = steadyYear(1000L + round)
    val from = head(lineitem)
    val doomed = state.filter { case (k, _) => k.year == y && k.qty50 }
    val (dn, _, ds) = sumBy(doomed)(_ => 0).getOrElse(0, (0L, 0L, 0L))
    val del = h.op("dml", "delete slice") { op =>
      op.command("delete", s"DELETE FROM $li WHERE ship_year = $y AND l_quantity >= 50")
    }
    if (del.ok) state = state.filter { case (k, _) => !(k.year == y && k.qty50) }
    val to = remember()
    if (to != from) changes(h, "delete", lineitem, from, to, "l_extendedprice", -dn, -ds)
    travel(h, "append", appended)
    maintain(h, lineitem, s" WHERE ship_year = '$y'", Retain)
    remember()
  }

  override def finalCheck(h: Harness): Unit = finalOp(h) { op =>
    val got = op.query(
      s"""SELECT ship_year, l_returnflag, l_linestatus, count(*), sum(l_quantity),
         |sum(l_extendedprice) FROM $li GROUP BY 1, 2, 3""".stripMargin)
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    op.expect("final per-year totals", got, sumBy(state)(k => (k.year, k.flag, k.status)))
  }
}

object Analytics {
  /** Totals of the rows in one bucket: every query and DML predicate
    * selects whole buckets, so the model is a bucket map. */
  final case class Key(year: Int, flag: String, status: String, priority: String,
      discount57: Boolean, qty50: Boolean)
  final class Acc(var n: Long = 0, var qty: Long = 0, var price: Long = 0) {
    def add(o: Acc): Unit = { n += o.n; qty += o.qty; price += o.price }
  }
  type Buckets = Map[Key, Acc]

  /** The session's `spark.sql.adaptive.advisoryPartitionSizeInBytes`: the
    * versioned write's size gate sits here, between the two sources. */
  val AdvisoryBytes = "4MB"
  val OrderCount = 50000L
  val BigRows = 200000L
  val SmallRows = 20000L
  val SmallYear = 1998
  val Appends = 1
  val BigStream = 1L
  val SmallStream = 2L
  val Retain = 10
}
