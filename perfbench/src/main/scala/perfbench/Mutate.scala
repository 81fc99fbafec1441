package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.TableDefinition
import graft.core.TableVersions.UpdateMessage
import graft.spark.VersionContext.DatasetVersionOps

final case class Order(
    o_orderkey: Long, o_custkey: Long, o_status: String, o_totalprice: Long,
    o_priority: String, o_year: Int)

object Order {
  val Years = 7
  val Statuses = Array("O", "F", "P")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  def gen(seed: Long, k: Long): Order = Order(
    k,
    Gen.int(seed, 30, k, 15000).toLong,
    Statuses(Gen.int(seed, 31, k, Statuses.length)),
    100000L + Gen.int(seed, 32, k, 50000000),
    Priorities(Gen.int(seed, 33, k, Priorities.length)),
    1992 + Gen.int(seed, 34, k, Years))
}

/** `mutate`: corrections in place beside reads of the same table. Orders
  * are loaded once; each round runs a MERGE upsert and an UPDATE
  * copy-on-write and a DELETE under `spark.graft.dml.mergeOnRead=true`,
  * on seeded rows. Every DML op
  * is followed by an aggregate read and a `table_changes` read of its
  * commit. Each round also appends new orders, reads the round's first
  * commit `VERSION AS OF`, and runs OPTIMIZE + VACUUM. A change that makes
  * writes cheaper by deferring work onto reads shows here as slower read
  * or cdc latency. */
final class Mutate(spark: SparkSession, seed: Long, dir: Path)
    extends Workload(spark, seed, dir) {
  import Mutate._
  import spark.implicits._

  private val orders = table("orders", "o_year")
  override def tables: Seq[TableDefinition] = Seq(orders)
  override def main: TableDefinition = orders
  private val name = sqlName(orders)

  /** The model: key → (custkey, price, year) for every live order. */
  private val live = mutable.LongMap.empty[(Long, Long, Int)]
  private val totalsAt = mutable.Map.empty[String, (Long, Long)]
  private var nextKey = InitialOrders.toLong
  private var view = 0

  private def totals: (Long, Long) = {
    var n, sum = 0L
    live.valuesIterator.foreach { v => n += 1; sum += v._2 }
    (n, sum)
  }
  private def remember(): String = {
    val c = head(orders)
    totalsAt(c) = totals
    c
  }
  private def put(o: Order): Unit = live(o.o_orderkey) = (o.o_custkey, o.o_totalprice, o.o_year)

  override def setup(): Unit = {
    val s = seed
    spark.range(InitialOrders).as[Long].map(k => Order.gen(s, k))
      .versionedInsertInto(ctx, orders, Workload.User, UpdateMessage("initial load"))
  }

  override def model(): Unit = {
    (0L until InitialOrders).foreach(k => put(Order.gen(seed, k)))
    remember()
  }

  /** Registers `rows` as a temp view for a statement to read. */
  private def source(rows: Seq[Order]): String = {
    view += 1
    val v = s"perfbench_src_$view"
    rows.toDS().createOrReplaceTempView(v)
    v
  }

  /** A DML statement, then an aggregate read and the change feed of the
    * commit it made, each checked against the model. */
  private def dml(h: Harness, kind: String, mor: Boolean, sql: String)(applyModel: => Unit): Unit = {
    val (n0, s0) = totals
    val from = head(orders)
    val rec = h.op("dml", if (mor) s"$kind merge-on-read" else kind) { op =>
      spark.conf.set("spark.graft.dml.mergeOnRead", mor.toString)
      try op.command(kind.toLowerCase, sql)
      finally spark.conf.unset("spark.graft.dml.mergeOnRead")
    }
    if (rec.ok) applyModel
    val to = remember()
    val (n, s) = totals
    h.op("read", s"aggregate after $kind") { op =>
      val r = op.query(s"SELECT count(*), sum(o_totalprice) FROM $name").head
      op.expect("count", r.getLong(0), n)
      op.expect("sum", r.getLong(1), s)
    }
    if (to != from) changes(h, kind, orders, from, to, "o_totalprice", n - n0, s - s0)
  }

  private def merge(h: Harness, round: Int, mor: Boolean): Unit = {
    val keys = live.keysIterator.toArray
    val matched = (0 until MergeMatched).map { i =>
      val k = keys(Gen.int(seed, 40, round * 1000L + i, keys.length))
      val (cust, _, year) = live(k)
      Order(k, cust, "F", 100000L + Gen.int(seed, 41, k + round, 50000000), "2-HIGH", year)
    }.distinctBy(_.o_orderkey)
    val fresh = (0 until MergeNew).map(_ => { nextKey += 1; Order.gen(seed, nextKey - 1) })
    val src = source(matched ++ fresh)
    dml(h, "MERGE", mor,
      s"""MERGE INTO $name t USING $src s ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin) {
      (matched ++ fresh).foreach(put)
    }
  }

  private def update(h: Harness, round: Int, mor: Boolean): Unit = {
    val r = Gen.int(seed, 42, round, UpdateMod)
    dml(h, "UPDATE", mor,
      s"UPDATE $name SET o_totalprice = o_totalprice + 100 WHERE o_custkey % $UpdateMod = $r") {
      live.keysIterator.toArray.foreach { k =>
        val (c, p, y) = live(k)
        if (c % UpdateMod == r) live(k) = (c, p + 100, y)
      }
    }
  }

  private def delete(h: Harness, round: Int, mor: Boolean): Unit = {
    val r = Gen.int(seed, 43, round, DeleteMod)
    dml(h, "DELETE", mor, s"DELETE FROM $name WHERE o_orderkey % $DeleteMod = $r") {
      live.keysIterator.toArray.foreach(k => if (k % DeleteMod == r) live.remove(k))
    }
  }

  override def cycle(h: Harness, round: Int): Unit = {
    val roundStart = head(orders)
    merge(h, round, mor = false)
    update(h, round, mor = false)
    delete(h, round, mor = true)

    val fresh = (0 until AppendRows).map(_ => { nextKey += 1; Order.gen(seed, nextKey - 1) })
    val src = source(fresh)
    val w = h.op("write", "insert into") { op =>
      op.command("insert", s"INSERT INTO $name SELECT * FROM $src")
    }
    if (w.ok) fresh.foreach(put)
    remember()

    val (tn, ts) = totalsAt(roundStart)
    h.op("travel", "version as of") { op =>
      val r = op.query(
        s"SELECT count(*), sum(o_totalprice) FROM $name VERSION AS OF '$roundStart'").head
      op.expect("travel count", r.getLong(0), tn)
      op.expect("travel sum", r.getLong(1), ts)
    }
    maintain(h, orders, "", Retain)
    remember()
  }

  override def finalCheck(h: Harness): Unit = finalOp(h) { op =>
    val got = op.query(
      s"SELECT o_year, count(*), sum(o_totalprice), sum(o_custkey) FROM $name GROUP BY o_year")
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val want = live.values.groupBy(_._3).map { case (y, vs) =>
      y -> (vs.size.toLong, vs.map(_._2).sum, vs.map(_._1).sum)
    }
    op.expect("final per-year totals", got, want)
  }
}

object Mutate {
  val InitialOrders = 40000L
  val MergeMatched = 300
  val MergeNew = 100
  val AppendRows = 500
  val UpdateMod = 97
  val DeleteMod = 1009
  /** More commits than one round makes, so the round's travel target
    * survives VACUUM. */
  val Retain = 10
}
