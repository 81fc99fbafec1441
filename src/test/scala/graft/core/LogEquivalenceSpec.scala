package graft.core

import java.nio.file.Files
import java.time.Instant
import java.util.UUID

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import TableVersions._

/** Randomized cross-implementation equivalence: the SAME seeded operation
  * sequence (mixed add/remove commits, rollbacks to random earlier commits,
  * roll-forward commits after rollback) is driven through the in-memory and
  * durable-JSON logs in lockstep, asserting after EVERY step that the two
  * folds agree — current version, commit metadata, and `versionAt` time
  * travel for every commit in the history. The JSON side is additionally
  * restarted (new instance, same dir) and checkpointed mid-sequence, both
  * of which must be invisible to the fold. Seeded, so a failure replays
  * exactly; this is the property-level safety net under the example-based
  * contract suite. */
class LogEquivalenceSpec extends AnyFunSuite with Matchers {

  private val who = UserId("equiv-test")

  private def assertEquivalent(
      mem: TableVersions, json: TableVersions, tbl: TableName): Unit = {
    json.currentVersion(tbl) shouldBe mem.currentVersion(tbl)
    val mu = mem.updates(tbl) // newest first; the OLDEST entry is init
    val ju = json.updates(tbl)
    // every shared TableUpdate commit carries one id in both logs; only the
    // init commit's id is minted per-log — align it by position
    ju.dropRight(1) shouldBe mu.dropRight(1)
    ju.last.copy(id = mu.last.id) shouldBe mu.last
    mu.dropRight(1).foreach(u => json.versionAt(tbl, u.id) shouldBe mem.versionAt(tbl, u.id))
    json.versionAt(tbl, ju.last.id) shouldBe mem.versionAt(tbl, mu.last.id)
  }

  /** A cold instance opened now folds exactly as the long-lived `warm`
    * one, whose log cache has seen every earlier step. */
  private def warmMatchesCold(warm: TableVersions, dir: String, tbl: TableName): Unit = {
    val cold = JsonFileTableVersions(dir)
    warm.updates(tbl) shouldBe cold.updates(tbl)
    warm.currentVersion(tbl) shouldBe cold.currentVersion(tbl)
    cold.updates(tbl).foreach(u => warm.versionAt(tbl, u.id) shouldBe cold.versionAt(tbl, u.id))
  }

  test("seeded random op sequences fold identically in both impls; restart is invisible") {
    for (round <- 0 until 3) {
      val rnd = new scala.util.Random(20260813L + round)
      val dir = Files.createTempDirectory(s"graft_equiv_$round").toString
      var json: TableVersions = JsonFileTableVersions(dir)
      val mem = new InMemoryTableVersions
      val tbl = TableName("db", s"t$round")
      val initInstant = Instant.ofEpochSecond(0)
      json.init(tbl, isSnapshot = false, who, UpdateMessage("init"), initInstant)
      mem.init(tbl, isSnapshot = false, who, UpdateMessage("init"), initInstant)
      val warm = JsonFileTableVersions(dir)
      val parts = (1 to 6).map(i => Partition(PartitionColumn("date"), f"2026-01-$i%02d"))

      for (step <- 1 to 40) {
        rnd.nextInt(10) match {
          case r if r < 7 => // a commit mixing adds and removes
            val ops = (0 to rnd.nextInt(2)).map { _ =>
              val p = parts(rnd.nextInt(parts.size))
              if (rnd.nextInt(4) == 0) TableOperation.RemovePartition(p)
              else TableOperation.AddPartitionVersion(
                p, Version(Instant.ofEpochSecond(step.toLong), new UUID(rnd.nextLong(), rnd.nextLong())))
            }.toList
            // one TableUpdate VALUE for both logs — shared commit id
            val u = TableUpdate(who, UpdateMessage(s"step $step"), Instant.ofEpochSecond(step.toLong), ops)
            json.commit(tbl, u); mem.commit(tbl, u)
          case 7 | 8 => // rollback to a random commit (same chronological position in each log)
            val idx = rnd.nextInt(mem.updates(tbl).size)
            mem.setCurrentVersion(tbl, mem.updates(tbl)(idx).id)
            json.setCurrentVersion(tbl, json.updates(tbl)(idx).id)
          case _ => // JSON restart: re-open from disk, must change nothing
            json = JsonFileTableVersions(dir)
        }
        assertEquivalent(mem, json, tbl)
        warmMatchesCold(warm, dir, tbl)
      }
      mem.updates(tbl).size should be > 10 // the sequence really committed
    }
  }

  test("checkpoint mid-sequence is invisible to the fold of the retained tail") {
    val rnd = new scala.util.Random(9L)
    val dir = Files.createTempDirectory("graft_equiv_ckpt").toString
    val log = JsonFileTableVersions(dir)
    val tbl = TableName("db", "ct")
    log.init(tbl, isSnapshot = false, who, UpdateMessage("init"), Instant.ofEpochSecond(0))
    val p = Partition(PartitionColumn("date"), "2026-02-01")
    for (step <- 1 to 12) {
      log.commit(tbl, TableUpdate(who, UpdateMessage(s"s$step"), Instant.ofEpochSecond(step.toLong),
        List(TableOperation.AddPartitionVersion(
          p, Version(Instant.ofEpochSecond(step.toLong), new UUID(rnd.nextLong(), rnd.nextLong()))))))
      warmMatchesCold(log, dir, tbl)
    }
    val before = log.currentVersion(tbl)
    val retained = log.updates(tbl).take(3)
    val beforeAt = retained.map(u => u.id -> log.versionAt(tbl, u.id)).toMap

    log.checkpoint(tbl, keepLast = 3) shouldBe true
    warmMatchesCold(log, dir, tbl)

    val reopened = JsonFileTableVersions(dir)
    reopened.currentVersion(tbl) shouldBe before
    retained.foreach(u => reopened.versionAt(tbl, u.id) shouldBe beforeAt(u.id))
  }

  test("seeded op sequences carrying table metadata fold it identically in both impls, through a checkpoint") {
    val rnd = new scala.util.Random(20261017L)
    val dir = Files.createTempDirectory("graft_equiv_meta").toString
    val json = JsonFileTableVersions(dir)
    val mem = new InMemoryTableVersions
    val tbl = TableName("db", "meta")
    json.init(tbl, isSnapshot = false, who, UpdateMessage("init"), Instant.ofEpochSecond(0))
    mem.init(tbl, isSnapshot = false, who, UpdateMessage("init"), Instant.ofEpochSecond(0))
    val families = List("f", "g")
    // both folds at every commit, the init commit aligned by position
    def foldsAt(log: TableVersions): List[List[MetadataFold[String]]] =
      log.updates(tbl).map(u => families.map(f => log.metadataAt(tbl, f, Some(u.id))))
    def current(log: TableVersions) = families.map(f => log.metadataAt(tbl, f))

    for (step <- 1 to 40) {
      rnd.nextInt(10) match {
        case r if r < 8 =>
          val values = families.filter(_ => rnd.nextInt(3) == 0).map(_ -> s"v$step").toMap
          val ops =
            if (rnd.nextBoolean()) Nil
            else List(TableOperation.AddPartitionVersion(
              Partition(PartitionColumn("date"), s"2026-01-0${1 + rnd.nextInt(6)}"),
              Version(Instant.ofEpochSecond(step.toLong), new UUID(rnd.nextLong(), rnd.nextLong()))))
          val u = TableUpdate(who, UpdateMessage(s"step $step"), Instant.ofEpochSecond(step.toLong), ops)
            .withTableMetadata(values)
          json.commit(tbl, u); mem.commit(tbl, u)
        case _ => // rollback to the same chronological position in each log
          val idx = rnd.nextInt(mem.updates(tbl).size)
          mem.setCurrentVersion(tbl, mem.updates(tbl)(idx).id)
          json.setCurrentVersion(tbl, json.updates(tbl)(idx).id)
      }
      assertEquivalent(mem, json, tbl)
      warmMatchesCold(json, dir, tbl)
      foldsAt(JsonFileTableVersions(dir)) shouldBe foldsAt(mem)
      foldsAt(json) shouldBe foldsAt(mem)
      current(json) shouldBe current(mem)
    }
    foldsAt(mem).flatten.exists(_.inForce.isDefined) shouldBe true

    // a checkpoint keeps the in-force value at every retained commit
    val head = TableUpdate(who, UpdateMessage("head"), Instant.ofEpochSecond(99), Nil)
    json.commit(tbl, head); mem.commit(tbl, head)
    val retained = mem.updates(tbl).take(4).map(_.id)
    json.checkpoint(tbl, keepLast = 3) shouldBe true
    val reopened = JsonFileTableVersions(dir)
    retained.foreach(id => families.foreach { f =>
      reopened.metadataAt(tbl, f, Some(id)).inForce shouldBe mem.metadataAt(tbl, f, Some(id)).inForce
      json.metadataAt(tbl, f, Some(id)) shouldBe reopened.metadataAt(tbl, f, Some(id))
    })
  }
}
