package graft.core

import java.time.Instant
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import TableVersions._

/** Black-box contract of any commit-log implementation, ported from the
  * reference's shared behaviour suite
  * (`core/src/test/scala/com/gu/tableversions/core/TableVersionsSpec.scala:19-470`):
  * idempotent init, last-writer-wins partition folds, remove+re-add,
  * snapshot cycling, rollback + roll-forward resurrection, commit ordering,
  * and error cases. Instantiated for the in-memory and durable-JSON logs.
  */
trait TableVersionsContract extends Matchers { self: AnyFunSuite =>

  def implName: String
  def newLog(): TableVersions

  private val who = UserId("contract-test")
  private def at(s: Long) = Instant.ofEpochSecond(s)
  private def msg(s: String) = UpdateMessage(s)

  private val tbl = TableName("db", "t")
  private val datePart = PartitionColumn("date")
  private def p(d: String) = Partition(datePart, d)
  private def v() = Version(Instant.now(), UUID.randomUUID())

  private def initSnapshot(log: TableVersions, name: TableName = tbl): Unit =
    log.init(name, isSnapshot = true, who, msg("init"), at(0))
  private def initPartitioned(log: TableVersions, name: TableName = tbl): Unit =
    log.init(name, isSnapshot = false, who, msg("init"), at(0))

  private def addPartitions(log: TableVersions, pvs: (Partition, Version)*): TableUpdate = {
    val u = TableUpdate(who, msg("add"), Instant.now(),
      pvs.toList.map { case (pp, vv) => TableOperation.AddPartitionVersion(pp, vv) })
    log.commit(tbl, u)
    u
  }

  test(s"$implName: a fresh partitioned table has no partition versions") {
    val log = newLog()
    initPartitioned(log)
    log.currentVersion(tbl) shouldBe PartitionedTableVersion(Map.empty)
  }

  test(s"$implName: a fresh snapshot table is Unversioned") {
    val log = newLog()
    initSnapshot(log)
    log.currentVersion(tbl) shouldBe SnapshotTableVersion(Version.Unversioned)
  }

  test(s"$implName: init is idempotent — re-init does not clobber history") {
    val log = newLog()
    initPartitioned(log)
    val v1 = v()
    addPartitions(log, p("2024-01-01") -> v1)
    log.init(tbl, isSnapshot = false, who, msg("re-init"), at(99))
    log.currentVersion(tbl) shouldBe PartitionedTableVersion(Map(p("2024-01-01") -> v1))
    log.updates(tbl) should have size 2
  }

  test(s"$implName: partition versions fold last-writer-wins") {
    val log = newLog()
    initPartitioned(log)
    val (v1, v2, v3) = (v(), v(), v())
    addPartitions(log, p("2024-01-01") -> v1, p("2024-01-02") -> v1)
    addPartitions(log, p("2024-01-02") -> v2)
    addPartitions(log, p("2024-01-03") -> v3)
    log.currentVersion(tbl) shouldBe PartitionedTableVersion(Map(
      p("2024-01-01") -> v1, p("2024-01-02") -> v2, p("2024-01-03") -> v3))
  }

  test(s"$implName: a removed partition disappears and can be re-added") {
    val log = newLog()
    initPartitioned(log)
    val (v1, v2) = (v(), v())
    addPartitions(log, p("2024-01-01") -> v1)
    log.commit(tbl, TableUpdate(who, msg("rm"), Instant.now(),
      List(TableOperation.RemovePartition(p("2024-01-01")))))
    log.currentVersion(tbl) shouldBe PartitionedTableVersion(Map.empty)
    addPartitions(log, p("2024-01-01") -> v2)
    log.currentVersion(tbl) shouldBe PartitionedTableVersion(Map(p("2024-01-01") -> v2))
  }

  test(s"$implName: snapshot tables keep the latest AddTableVersion") {
    val log = newLog()
    initSnapshot(log)
    val (v1, v2) = (v(), v())
    log.commit(tbl, TableUpdate(who, msg("v1"), Instant.now(), List(TableOperation.AddTableVersion(v1))))
    log.currentVersion(tbl) shouldBe SnapshotTableVersion(v1)
    log.commit(tbl, TableUpdate(who, msg("v2"), Instant.now(), List(TableOperation.AddTableVersion(v2))))
    log.currentVersion(tbl) shouldBe SnapshotTableVersion(v2)
  }

  test(s"$implName: commitIf applies on a fresh expectation, refuses a stale one, and the retry wins") {
    val log = newLog()
    initSnapshot(log)
    val base = TableUpdate(who, msg("v1"), Instant.now(),
      List(TableOperation.AddTableVersion(v())))
    log.commit(tbl, base)
    val observed = log.currentCommit(tbl)

    // two writers race from the same observed commit: one winner...
    val a = TableUpdate(who, msg("writer-a"), Instant.now(),
      List(TableOperation.AddTableVersion(v())))
    log.commitIf(tbl, a, observed) shouldBe true
    log.currentCommit(tbl) shouldBe a.metadata.id
    // ...and one loud refusal that changes NOTHING
    val b = TableUpdate(who, msg("writer-b"), Instant.now(),
      List(TableOperation.AddTableVersion(v())))
    log.commitIf(tbl, b, observed) shouldBe false
    log.currentCommit(tbl) shouldBe a.metadata.id
    log.updates(tbl).map(_.message.content) shouldBe List("writer-a", "v1", "init")

    // the loser re-reads and retries against the fresh commit
    log.commitIf(tbl, b, log.currentCommit(tbl)) shouldBe true
    log.currentCommit(tbl) shouldBe b.metadata.id

    // same duplicate-id guard as plain commit
    an[IllegalArgumentException] should be thrownBy
      log.commitIf(tbl, b, log.currentCommit(tbl))
  }

  test(s"$implName: commitIf under thread contention — every writer lands exactly once via the OCC retry loop") {
    val log = newLog()
    initSnapshot(log)
    log.commit(tbl, TableUpdate(who, msg("v1"), Instant.now(),
      List(TableOperation.AddTableVersion(v()))))
    val n = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val attempts = (1 to n).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            // the standard OCC loop: observe, attempt, re-observe on refusal
            var tries = 0
            var done = false
            while (!done) {
              val observed = log.currentCommit(tbl)
              tries += 1
              done = log.commitIf(tbl,
                TableUpdate(who, msg(s"w$i-$tries"), Instant.now(),
                  List(TableOperation.AddTableVersion(v()))),
                observed)
            }
            tries
          }
        })
      }.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      attempts.sum should be >= n // refusals force extra tries, never duplicates
    } finally { pool.shutdown(); () }
    // init + v1 + exactly one commit per writer — no lost updates, no dupes
    val msgs = log.updates(tbl).map(_.message.content)
    msgs.size shouldBe n + 2
    (1 to n).foreach(i => msgs.count(_.startsWith(s"w$i-")) shouldBe 1)
  }

  test(s"$implName: commitRebase rebases over disjoint partitions, refuses overlap/rollback/empty-ops, loudly") {
    val log = newLog()
    initPartitioned(log)
    val (pa, pb, pc) = (p("2024-01-01"), p("2024-01-02"), p("2024-01-03"))
    addPartitions(log, pa -> v(), pb -> v())
    val readAt = log.currentCommit(tbl)

    // an intervening DISJOINT-partition commit lands...
    val theirs = addPartitions(log, pb -> v())
    // ...and a rewrite of pa derived from readAt REBASES over it
    val mineV = v()
    val mine = TableUpdate(who, msg("rewrite-pa"), Instant.now(),
      List(TableOperation.AddPartitionVersion(pa, mineV)))
    log.commitRebase(tbl, mine, readAt) shouldBe mine.metadata.id
    log.currentCommit(tbl) shouldBe mine.metadata.id
    // both effects survive: theirs on pb, ours on pa
    val folded = log.currentVersion(tbl).asInstanceOf[PartitionedTableVersion].partitionVersions
    folded(pa) shouldBe mineV
    folded(pb) shouldBe theirs.operations.collectFirst {
      case TableOperation.AddPartitionVersion(`pb`, vv) => vv }.get

    // OVERLAPPING scope: someone rewrote pa after our read → loud conflict
    val readAt2 = log.currentCommit(tbl)
    addPartitions(log, pa -> v())
    val stale = TableUpdate(who, msg("stale-pa"), Instant.now(),
      List(TableOperation.AddPartitionVersion(pa, v())))
    a[ConcurrentWriteException] should be thrownBy log.commitRebase(tbl, stale, readAt2)
    // the refusal changed nothing
    log.updates(tbl).head.message.content shouldBe "add"

    // WHOLE-TABLE scope on either side conflicts: an intervening
    // EMPTY-ops commit (deletion-vector delete shape) blocks any rebase
    val readAt3 = log.currentCommit(tbl)
    log.commit(tbl, TableUpdate(who, msg("dv-delete"), Instant.now(), Nil))
    val disjoint = TableUpdate(who, msg("rewrite-pc"), Instant.now(),
      List(TableOperation.AddPartitionVersion(pc, v())))
    a[ConcurrentWriteException] should be thrownBy log.commitRebase(tbl, disjoint, readAt3)

    // ROLLBACK since read: appending would resurrect the rolled-back tail
    val readAt4 = log.currentCommit(tbl)
    log.setCurrentVersion(tbl, readAt3)
    a[ConcurrentWriteException] should be thrownBy log.commitRebase(tbl, TableUpdate(
      who, msg("after-rollback"), Instant.now(),
      List(TableOperation.AddPartitionVersion(pc, v()))), readAt4)

    // head == readCommit degenerates to a plain OCC commit
    val head = log.currentCommit(tbl)
    val ok = TableUpdate(who, msg("plain"), Instant.now(),
      List(TableOperation.AddPartitionVersion(pc, v())))
    log.commitRebase(tbl, ok, head) shouldBe ok.metadata.id
  }

  test(s"$implName: commitRebase ignores DETACHED intervening commits (staged work conflicts with nobody)") {
    val log = newLog()
    initPartitioned(log)
    val pa = p("2024-01-01")
    addPartitions(log, pa -> v())
    val readAt = log.currentCommit(tbl)
    // a staged (branch) commit on the SAME partition lands after our read —
    // no pointer-based fold sees it, so the rebase must not conflict
    log.commitDetached(tbl, TableUpdate(who, msg("staged-pa"), Instant.now(),
      List(TableOperation.AddPartitionVersion(pa, v()))))
    val mine = TableUpdate(who, msg("rewrite-pa"), Instant.now(),
      List(TableOperation.AddPartitionVersion(pa, v())))
    log.commitRebase(tbl, mine, readAt) shouldBe mine.metadata.id
  }

  test(s"$implName: commitRebase under contention — disjoint writers all land, same-partition lost updates impossible") {
    val log = newLog()
    initPartitioned(log)
    val base = log.currentCommit(tbl)
    val n = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      (1 to n).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            // every writer derived from the SAME base state but touches its
            // own partition: all must land via rebase, none may conflict
            log.commitRebase(tbl, TableUpdate(who, msg(s"writer-$i"), Instant.now(),
              List(TableOperation.AddPartitionVersion(p(f"2024-02-$i%02d"), v()))),
              base, maxRetries = 64)
            ()
          }
        })
      }.foreach(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally { pool.shutdown(); () }
    val folded = log.currentVersion(tbl).asInstanceOf[PartitionedTableVersion].partitionVersions
    folded.keySet.size shouldBe n // no writer lost
    log.updates(tbl).size shouldBe n + 1
  }

  test(s"$implName: setCurrentVersion rolls back, and versionAt time-travels without mutation") {
    val log = newLog()
    initSnapshot(log)
    val (v1, v2) = (v(), v())
    val u1 = TableUpdate(who, msg("v1"), Instant.now(), List(TableOperation.AddTableVersion(v1)))
    val u2 = TableUpdate(who, msg("v2"), Instant.now(), List(TableOperation.AddTableVersion(v2)))
    log.commit(tbl, u1)
    log.commit(tbl, u2)

    log.versionAt(tbl, u1.metadata.id) shouldBe SnapshotTableVersion(v1)
    log.currentVersion(tbl) shouldBe SnapshotTableVersion(v2) // versionAt mutated nothing

    log.setCurrentVersion(tbl, u1.metadata.id)
    log.currentVersion(tbl) shouldBe SnapshotTableVersion(v1)
  }

  test(s"$implName: commit after rollback resurrects intermediate history (reference quirk)") {
    val log = newLog()
    initPartitioned(log)
    val (v1, v2, v3) = (v(), v(), v())
    val u1 = addPartitions(log, p("2024-01-01") -> v1)
    addPartitions(log, p("2024-01-02") -> v2) // the "intermediate" commit

    log.setCurrentVersion(tbl, u1.metadata.id)
    log.currentVersion(tbl) shouldBe PartitionedTableVersion(Map(p("2024-01-01") -> v1))

    // committing after rollback appends at the tail and moves the pointer
    // there, so the rolled-past commit's effects come back into view
    addPartitions(log, p("2024-01-03") -> v3)
    log.currentVersion(tbl) shouldBe PartitionedTableVersion(Map(
      p("2024-01-01") -> v1, p("2024-01-02") -> v2, p("2024-01-03") -> v3))
  }

  test(s"$implName: updates lists commit metadata most recent first, stable under load") {
    val log = newLog()
    initPartitioned(log)
    val committed = (1 to 100).map { i =>
      val u = TableUpdate(who, msg(s"commit $i"), at(i),
        List(TableOperation.AddPartitionVersion(p(f"2024-01-$i%02d"), v())))
      log.commit(tbl, u)
      u.metadata
    }
    val expected = (log.updates(tbl).reverse.take(1) ++ committed).reverse
    log.updates(tbl).map(_.message) shouldBe expected.map(_.message)
    log.updates(tbl).head.message shouldBe msg("commit 100")
  }

  test(s"$implName: one commit may mix adds and removes; ops apply in order") {
    val log = newLog()
    initPartitioned(log)
    val (v1, v2) = (v(), v())
    addPartitions(log, p("2024-01-01") -> v1, p("2024-01-02") -> v1)
    // one atomic commit: remove 01-01, re-add it at v2, add 01-03
    log.commit(tbl, TableUpdate(who, msg("mixed"), Instant.now(), List(
      TableOperation.RemovePartition(p("2024-01-01")),
      TableOperation.AddPartitionVersion(p("2024-01-01"), v2),
      TableOperation.AddPartitionVersion(p("2024-01-03"), v2))))
    log.currentVersion(tbl) shouldBe PartitionedTableVersion(Map(
      p("2024-01-01") -> v2, p("2024-01-02") -> v1, p("2024-01-03") -> v2))
  }

  test(s"$implName: tables are isolated — commits to one never affect another") {
    val log = newLog()
    val other = TableName("db", "other")
    initPartitioned(log)
    log.init(other, isSnapshot = true, who, msg("init"), at(0))
    val v1 = v()
    addPartitions(log, p("2024-01-01") -> v1)
    log.currentVersion(other) shouldBe SnapshotTableVersion(Version.Unversioned)
    log.updates(other) should have size 1
  }

  test(s"$implName: operations on an untracked table fail") {
    val log = newLog()
    an[Exception] should be thrownBy log.currentVersion(TableName("db", "ghost"))
    an[Exception] should be thrownBy log.updates(TableName("db", "ghost"))
    an[Exception] should be thrownBy log.commit(
      TableName("db", "ghost"),
      TableUpdate(who, msg("x"), Instant.now(), List(TableOperation.AddTableVersion(v()))))
    an[Exception] should be thrownBy log.setCurrentVersion(
      TableName("db", "ghost"), CommitId("nope"))
  }

  test(s"$implName: rollback to an unknown commit fails and changes nothing") {
    val log = newLog()
    initSnapshot(log)
    val v1 = v()
    log.commit(tbl, TableUpdate(who, msg("v1"), Instant.now(), List(TableOperation.AddTableVersion(v1))))
    an[Exception] should be thrownBy log.setCurrentVersion(tbl, CommitId("no-such-commit"))
    log.currentVersion(tbl) shouldBe SnapshotTableVersion(v1)
  }
  test(s"$implName: detached commits stay invisible until publish attaches them (WAP)") {
    val log = newLog()
    initPartitioned(log)
    val v1 = v()
    addPartitions(log, p("2024-01-01") -> v1)
    val mainCommit = log.currentCommit(tbl)
    val mainState = log.currentVersion(tbl)

    // branch write: detached commit + branch ref; main pointer unmoved
    val v2 = v()
    val staged = TableUpdate(who, msg("staged"), Instant.now(),
      List(TableOperation.AddPartitionVersion(p("2024-01-02"), v2)))
    log.commitDetached(tbl, staged)
    log.setRef(tbl, "audit", staged.metadata.id)
    log.currentCommit(tbl) shouldBe mainCommit
    log.currentVersion(tbl) shouldBe mainState

    // the staged state is addressable via the ref for auditing
    log.versionAt(tbl, log.refCommit(tbl, "audit")) match {
      case PartitionedTableVersion(pvs) =>
        pvs shouldBe Map(p("2024-01-01") -> v1, p("2024-01-02") -> v2)
      case other => fail(s"unexpected $other")
    }

    // a plain checkout must REFUSE a staged commit (publish is the only door)
    an[IllegalArgumentException] should be thrownBy
      log.setCurrentVersion(tbl, staged.metadata.id)

    // publish = attach + atomic pointer swap; main now serves the audited state
    log.publish(tbl, log.refCommit(tbl, "audit"))
    log.currentVersion(tbl) match {
      case PartitionedTableVersion(pvs) => pvs should have size 2
      case other                        => fail(s"unexpected $other")
    }
    // once published, the commit is an ordinary checkout target (rollback works)
    log.setCurrentVersion(tbl, mainCommit)
    log.currentVersion(tbl) shouldBe mainState
    log.setCurrentVersion(tbl, staged.metadata.id)
    log.currentVersion(tbl) match {
      case PartitionedTableVersion(pvs) => pvs should have size 2
      case other                        => fail(s"unexpected $other")
    }
  }

  test(s"$implName: a later main commit does NOT leak staged data into main reads") {
    val log = newLog()
    initPartitioned(log)
    val v1 = v()
    addPartitions(log, p("2024-01-01") -> v1)

    // stage a branch write, then land an unrelated MAIN commit: the pointer
    // now sits PAST the staged commit in the linear history — the exact
    // shape that used to fold staged ops into every main read
    val staged = TableUpdate(who, msg("staged"), Instant.now(),
      List(TableOperation.AddPartitionVersion(p("2024-01-02"), v())))
    log.commitDetached(tbl, staged)
    log.setRef(tbl, "audit", staged.metadata.id)
    val v3 = v()
    addPartitions(log, p("2024-01-03") -> v3)

    log.currentVersion(tbl) match {
      case PartitionedTableVersion(pvs) =>
        pvs shouldBe Map(p("2024-01-01") -> v1, p("2024-01-03") -> v3)
      case other => fail(s"unexpected $other")
    }
    // abandoning the branch (ref delete) must leave main unaffected forever
    log.deleteRef(tbl, "audit")
    log.currentVersion(tbl) match {
      case PartitionedTableVersion(pvs) => pvs.keySet should not contain p("2024-01-02")
      case other                        => fail(s"unexpected $other")
    }
    // publishing AFTER the interleaved main commit attaches the staged chain;
    // the pointer lands on the staged commit, so the later main commit is
    // not in the fold prefix (ordinary checkout semantics)
    log.publish(tbl, staged.metadata.id)
    log.currentVersion(tbl) match {
      case PartitionedTableVersion(pvs) =>
        pvs.keySet should contain(p("2024-01-02"))
        pvs.keySet should not contain p("2024-01-03")
      case other => fail(s"unexpected $other")
    }
  }

  test(s"$implName: refs survive ordinary commits and commitIf") {
    val log = newLog()
    initPartitioned(log)
    val u1 = addPartitions(log, p("2024-01-01") -> v())
    log.setRef(tbl, "prod", u1.metadata.id, isTag = true)
    log.setRef(tbl, "dev", u1.metadata.id)

    // every state-rebuilding mutation must carry the refs along
    addPartitions(log, p("2024-01-02") -> v())
    log.refs(tbl).keySet shouldBe Set("prod", "dev")
    val ok = log.commitIf(
      tbl,
      TableUpdate(who, msg("cas"), Instant.now(),
        List(TableOperation.AddPartitionVersion(p("2024-01-03"), v()))),
      expected = log.currentCommit(tbl))
    ok shouldBe true
    log.refs(tbl).keySet shouldBe Set("prod", "dev")
    log.refCommit(tbl, "prod") shouldBe u1.metadata.id
  }

  test(s"$implName: publish attaches a multi-commit staged chain as one audited state") {
    val log = newLog()
    initPartitioned(log)
    addPartitions(log, p("2024-01-01") -> v())

    val s1 = TableUpdate(who, msg("stage 1"), Instant.now(),
      List(TableOperation.AddPartitionVersion(p("2024-01-02"), v())))
    log.commitDetached(tbl, s1)
    val s2v = v()
    val s2 = TableUpdate(who, msg("stage 2"), Instant.now(),
      List(TableOperation.AddPartitionVersion(p("2024-01-02"), s2v),
        TableOperation.AddPartitionVersion(p("2024-01-03"), v())))
    log.commitDetached(tbl, s2)
    log.setRef(tbl, "audit", s2.metadata.id)

    // the audit read folds the WHOLE staged chain (s1 then s2)
    val audited = log.versionAt(tbl, s2.metadata.id)
    audited match {
      case PartitionedTableVersion(pvs) =>
        pvs.keySet shouldBe Set(p("2024-01-01"), p("2024-01-02"), p("2024-01-03"))
        pvs(p("2024-01-02")) shouldBe s2v // last staged writer wins
      case other => fail(s"unexpected $other")
    }
    // published state == audited state, by construction
    log.publish(tbl, s2.metadata.id)
    log.currentVersion(tbl) shouldBe audited
  }

  test(s"$implName: tags are immutable, branches move, kinds are stable, targets must exist") {
    val log = newLog()
    initPartitioned(log)
    val u1 = addPartitions(log, p("2024-01-01") -> v())
    val u2 = addPartitions(log, p("2024-01-02") -> v())

    log.setRef(tbl, "training-v1", u1.metadata.id, isTag = true)
    log.setRef(tbl, "dev", u1.metadata.id)
    log.setRef(tbl, "dev", u2.metadata.id) // branches move freely
    log.refCommit(tbl, "dev") shouldBe u2.metadata.id
    log.refs(tbl)("training-v1") shouldBe RefEntry(u1.metadata.id, isTag = true)

    an[IllegalArgumentException] should be thrownBy
      log.setRef(tbl, "training-v1", u2.metadata.id, isTag = true) // tag re-point
    an[IllegalArgumentException] should be thrownBy
      log.setRef(tbl, "dev", u2.metadata.id, isTag = true) // kind change
    an[Exception] should be thrownBy
      log.setRef(tbl, "nope", CommitId("no-such-commit"))
    an[IllegalArgumentException] should be thrownBy log.deleteRef(tbl, "ghost")

    log.deleteRef(tbl, "training-v1") // delete-then-recreate is the re-point path
    log.setRef(tbl, "training-v1", u2.metadata.id, isTag = true)
    log.refCommit(tbl, "training-v1") shouldBe u2.metadata.id
  }

  test(s"$implName: commitAll moves every table's pointer; all tables land") {
    val log = newLog()
    val ta = TableName("db", "txn_a")
    val tb = TableName("db", "txn_b")
    log.init(ta, isSnapshot = false, who, msg("init a"), at(0))
    log.init(tb, isSnapshot = true, who, msg("init b"), at(0))
    val va = v(); val vb = v()
    val ua = TableUpdate(who, msg("txn a"), Instant.now(),
      List(TableOperation.AddPartitionVersion(p("2024-01-01"), va)))
    val ub = TableUpdate(who, msg("txn b"), Instant.now(),
      List(TableOperation.AddTableVersion(vb)))
    log.commitAll(Seq(ta -> ua, tb -> ub))
    log.currentVersion(ta) shouldBe PartitionedTableVersion(Map(p("2024-01-01") -> va))
    log.currentVersion(tb) shouldBe SnapshotTableVersion(vb)
    log.currentCommit(ta) shouldBe ua.metadata.id
    log.currentCommit(tb) shouldBe ub.metadata.id
    log.updates(ta).head.message shouldBe msg("txn a")
  }

  test(s"$implName: commitAll races plain single-table commits without losing either") {
    val log = newLog()
    val ta = TableName("db", "txn_race_a")
    val tb = TableName("db", "txn_race_b")
    log.init(ta, isSnapshot = false, who, msg("init a"), at(0))
    log.init(tb, isSnapshot = false, who, msg("init b"), at(0))
    def pv(d: String) = TableOperation.AddPartitionVersion(p(d), v())
    val txnThreads = (1 to 4).map { i =>
      new Thread(() => log.commitAll(Seq(
        ta -> TableUpdate(who, msg(s"txn$i a"), Instant.now(), List(pv(s"t$i-a"))),
        tb -> TableUpdate(who, msg(s"txn$i b"), Instant.now(), List(pv(s"t$i-b"))))))
    }
    val plainThreads = (1 to 4).map { i =>
      new Thread(() => log.commit(ta,
        TableUpdate(who, msg(s"plain$i"), Instant.now(), List(pv(s"p$i")))))
    }
    (txnThreads ++ plainThreads).foreach(_.start())
    (txnThreads ++ plainThreads).foreach(_.join())
    // every commit landed: 4 txn + 4 plain on a, 4 txn on b (+ inits)
    log.updates(ta) should have size 9
    log.updates(tb) should have size 5
    log.currentVersion(ta) match {
      case PartitionedTableVersion(pvs) => pvs should have size 8
      case other                        => fail(s"unexpected $other")
    }
    log.currentVersion(tb) match {
      case PartitionedTableVersion(pvs) => pvs should have size 4
      case other                        => fail(s"unexpected $other")
    }
  }

  test(s"$implName: commitAll validation is all-or-nothing") {
    val log = newLog()
    val ta = TableName("db", "txn_v")
    log.init(ta, isSnapshot = false, who, msg("init"), at(0))
    val before = log.currentCommit(ta)
    val good = TableUpdate(who, msg("ok"), Instant.now(),
      List(TableOperation.AddPartitionVersion(p("2024-01-01"), v())))
    // unknown second table: nothing commits anywhere
    an[Exception] should be thrownBy log.commitAll(Seq(
      ta -> good,
      TableName("db", "ghost") -> TableUpdate(who, msg("x"), Instant.now(), Nil)))
    log.currentCommit(ta) shouldBe before
    // a table may appear at most once
    an[IllegalArgumentException] should be thrownBy log.commitAll(Seq(
      ta -> good,
      ta -> TableUpdate(who, msg("y"), Instant.now(), Nil)))
    log.currentCommit(ta) shouldBe before
    // a reused commit id is rejected before visibility
    log.commit(ta, good)
    val tb = TableName("db", "txn_v2")
    log.init(tb, isSnapshot = true, who, msg("init"), at(0))
    an[IllegalArgumentException] should be thrownBy log.commitAll(Seq(
      ta -> good,
      tb -> TableUpdate(who, msg("z"), Instant.now(), Nil)))
    log.currentCommit(tb) should not be good.metadata.id
  }

  // ---- commit-carried table metadata and its fold ----

  private def carrying(values: (String, String)*): TableUpdate =
    TableUpdate(who, msg("meta"), Instant.now(), Nil).withTableMetadata(values.toMap)

  test(s"$implName: table metadata round-trips on its commit") {
    val log = newLog()
    initPartitioned(log)
    val u = carrying("mapping" -> """[{"logical":"b","physical":"a"}]""", "scheme" -> "{}")
    log.commit(tbl, u)
    addPartitions(log, p("2024-01-01") -> v())
    log.updates(tbl).map(_.tableMetadata) shouldBe
      List(Map.empty, u.metadata.tableMetadata, Map.empty)
  }

  test(s"$implName: the metadata fold resolves at or before a commit in its lineage, after a rollback too") {
    val log = newLog()
    initPartitioned(log)
    val init = log.currentCommit(tbl)
    val c1 = carrying("f" -> "1")
    log.commit(tbl, c1)
    val c2 = addPartitions(log, p("2024-01-01") -> v())
    val c3 = carrying("f" -> "3")
    log.commit(tbl, c3)
    log.metadataAt(tbl, "f") shouldBe MetadataFold(Some("3"), Some("1"))
    log.metadataAt(tbl, "f", Some(c2.metadata.id)) shouldBe MetadataFold(Some("1"), Some("1"))
    log.metadataAt(tbl, "f", Some(init)) shouldBe MetadataFold(None, Some("1"))
    log.metadataAt(tbl, "g") shouldBe MetadataFold(None, None)
    log.metadataAt(tbl, "f", Some(CommitId("elsewhere"))).inForce shouldBe None

    // rollback: the pointer's lineage ends at c2; the head still carries 3
    log.setCurrentVersion(tbl, c2.metadata.id)
    log.metadataAt(tbl, "f").inForce shouldBe Some("1")
    log.metadataAtHead(tbl, "f").inForce shouldBe Some("3")
    // a commit after the rollback resurrects c3 into the lineage, as it
    // does c3's operations
    addPartitions(log, p("2024-01-02") -> v())
    log.metadataAt(tbl, "f").inForce shouldBe Some("3")
  }

  test(s"$implName: the metadata fold ignores a detached commit until it is published") {
    val log = newLog()
    initPartitioned(log)
    log.commit(tbl, carrying("f" -> "main"))
    val staged = carrying("f" -> "staged", "g" -> "staged")
    log.commitDetached(tbl, staged)
    log.metadataAt(tbl, "f") shouldBe MetadataFold(Some("main"), Some("main"))
    log.metadataAt(tbl, "g") shouldBe MetadataFold(None, None)
    // the audit read of the staged commit sees it, like its data
    log.metadataAt(tbl, "f", Some(staged.metadata.id)).inForce shouldBe Some("staged")
    log.publish(tbl, staged.metadata.id)
    log.metadataAt(tbl, "f").inForce shouldBe Some("staged")
    log.metadataAt(tbl, "g") shouldBe MetadataFold(Some("staged"), Some("staged"))
  }
}

class InMemoryTableVersionsSpec extends AnyFunSuite with TableVersionsContract {
  val implName = "InMemoryTableVersions"
  def newLog(): TableVersions = new InMemoryTableVersions

  test("InMemoryTableVersions: CAS loop keeps all commits under thread contention") {
    val log = new InMemoryTableVersions
    val tbl = TableName("db", "cas")
    log.init(tbl, isSnapshot = false, UserId("u"), UpdateMessage("init"), Instant.now())
    val threads = (1 to 8).map { i =>
      new Thread(() => (1 to 50).foreach { j =>
        log.commit(tbl, TableUpdate(UserId(s"t$i"), UpdateMessage(s"c$i-$j"), Instant.now(),
          List(TableOperation.AddPartitionVersion(
            Partition(PartitionColumn("d"), s"$i-$j"),
            Version(Instant.now(), UUID.randomUUID())))))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    log.updates(tbl) should have size 401 // init + 8×50
    log.currentVersion(tbl) match {
      case PartitionedTableVersion(pvs) => pvs should have size 400
      case other                        => fail(s"unexpected $other")
    }
  }
}

class JsonFileTableVersionsSpec extends AnyFunSuite with TableVersionsContract {
  val implName = "JsonFileTableVersions"
  def newLog(): TableVersions =
    new JsonFileTableVersions(java.nio.file.Files.createTempDirectory("graft_log"))

  test("JsonFileTableVersions: concurrent commits from many threads all land (lock file)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log_concurrent")
    val tbl = TableName("db", "contended")
    new JsonFileTableVersions(dir)
      .init(tbl, isSnapshot = false, UserId("u"), UpdateMessage("init"), Instant.now())

    val threads = (1 to 8).map { i =>
      new Thread(() => {
        val ownLog = new JsonFileTableVersions(dir) // separate instance = separate "process"
        (1 to 5).foreach { j =>
          ownLog.commit(tbl, TableUpdate(UserId(s"t$i"), UpdateMessage(s"c$i-$j"), Instant.now(),
            List(TableOperation.AddPartitionVersion(
              Partition(PartitionColumn("d"), s"$i-$j"),
              Version(Instant.now(), UUID.randomUUID())))))
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())

    val reopened = new JsonFileTableVersions(dir)
    reopened.updates(tbl) should have size 41 // init + 8×5, none lost
    reopened.currentVersion(tbl) match {
      case PartitionedTableVersion(pvs) => pvs should have size 40
      case other                        => fail(s"unexpected $other")
    }
  }

  test("JsonFileTableVersions: state survives process restart (new instance, same dir)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log_durable")
    val first = new JsonFileTableVersions(dir)
    val tbl = TableName("db", "durable")
    first.init(tbl, isSnapshot = false, UserId("u"), UpdateMessage("init"), Instant.now())
    val ver = Version(Instant.now(), UUID.randomUUID())
    val u = TableUpdate(UserId("u"), UpdateMessage("add"), Instant.now(),
      List(TableOperation.AddPartitionVersion(Partition(PartitionColumn("d"), "1"), ver)))
    first.commit(tbl, u)

    val reopened = new JsonFileTableVersions(dir)
    reopened.currentVersion(tbl) shouldBe PartitionedTableVersion(
      Map(Partition(PartitionColumn("d"), "1") -> ver))
    reopened.updates(tbl).head.id shouldBe u.metadata.id
  }

  test("JsonFileTableVersions: commits append, and a torn tail is tolerated then repaired") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log_torn")
    val log = new JsonFileTableVersions(dir)
    val tbl = TableName("db", "torn")
    log.init(tbl, isSnapshot = true, UserId("u"), UpdateMessage("init"), Instant.now())
    val v1 = Version(Instant.now(), UUID.randomUUID())
    log.commit(tbl, TableUpdate(UserId("u"), UpdateMessage("v1"), Instant.now(),
      List(TableOperation.AddTableVersion(v1))))

    val file = dir.resolve("db.torn.jsonl")
    val intact = java.nio.file.Files.readString(file)
    intact.count(_ == '\n') shouldBe 2 // init + commit, one line each

    // simulate a writer crashing mid-append: a partial JSON line, no newline
    java.nio.file.Files.writeString(file, intact + """{"record":"commit","id":"trunc""")

    // replay ignores the torn tail — state is exactly the pre-crash state
    val reopened = new JsonFileTableVersions(dir)
    reopened.currentVersion(tbl) shouldBe SnapshotTableVersion(v1)
    reopened.updates(tbl) should have size 2

    // the next commit truncates the torn tail before appending
    val v2 = Version(Instant.now(), UUID.randomUUID())
    reopened.commit(tbl, TableUpdate(UserId("u"), UpdateMessage("v2"), Instant.now(),
      List(TableOperation.AddTableVersion(v2))))
    reopened.currentVersion(tbl) shouldBe SnapshotTableVersion(v2)
    reopened.updates(tbl) should have size 3
    val repaired = java.nio.file.Files.readString(file)
    repaired should not include "trunc"
    repaired.endsWith("\n") shouldBe true
    // and the repaired file is a strict extension of the intact prefix
    repaired.startsWith(intact) shouldBe true
  }

  test("an unterminated but COMPLETE final line is invisible until repaired (monotonic reads)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log_unterm")
    val log = new JsonFileTableVersions(dir)
    val tbl = TableName("db", "unterm")
    log.init(tbl, isSnapshot = true, UserId("u"), UpdateMessage("init"), Instant.now())
    val v1 = Version(Instant.now(), UUID.randomUUID())
    log.commit(tbl, TableUpdate(UserId("u"), UpdateMessage("v1"), Instant.now(),
      List(TableOperation.AddTableVersion(v1))))

    // crash persisted a full commit line's JSON but NOT its newline: if a
    // reader trusted it, the next writer's tail repair would delete a
    // commit that was already observed — so it must stay invisible
    val file = dir.resolve("db.unterm.jsonl")
    val intact = java.nio.file.Files.readString(file)
    val phantom = intact.trim.linesIterator.toList.last
      .replace(""""record":"commit"""", """"record":"commit"""") // same shape, new id below
      .replaceAll(""""id":"[^"]+"""", "\"id\":\"phantom\"")
    java.nio.file.Files.writeString(file, intact + phantom) // no trailing \n
    val reopened = new JsonFileTableVersions(dir)
    reopened.currentVersion(tbl) shouldBe SnapshotTableVersion(v1)
    an[Exception] should be thrownBy reopened.versionAt(tbl, CommitId("phantom"))
  }

  test("JsonFileTableVersions: a line without table metadata replays unchanged, and none is written") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log_meta_fmt")
    val tbl = TableName("db", "fmt")
    // the commit-line shape written before commits carried table metadata
    val ver = Version(Instant.EPOCH, new UUID(1L, 2L))
    java.nio.file.Files.writeString(dir.resolve("db.fmt.jsonl"),
      """{"record":"commit","id":"c0","user":"u","message":"init","timestamp":"1970-01-01T00:00:00Z",""" +
        """"operations":[{"op":"init","table":"db.fmt","snapshot":false}]}""" + "\n" +
        """{"record":"commit","id":"c1","user":"u","message":"v1","timestamp":"1970-01-01T00:00:01Z",""" +
        s""""operations":[{"op":"add-partition-version","partition":"d=1","version":"${ver.label}"}]}""" +
        "\n")
    val log = new JsonFileTableVersions(dir)
    log.updates(tbl).map(u => (u.id.id, u.tableMetadata)) shouldBe
      List("c1" -> Map.empty, "c0" -> Map.empty)
    log.currentVersion(tbl) shouldBe PartitionedTableVersion(
      Map(Partition(PartitionColumn("d"), "1") -> ver))
    log.metadataAt(tbl, "f") shouldBe MetadataFold(None, None)
    // a commit without metadata writes no field; one with metadata does
    log.commit(tbl, TableUpdate(UserId("u"), UpdateMessage("plain"), Instant.now(), Nil))
    log.commit(tbl, TableUpdate(UserId("u"), UpdateMessage("meta"), Instant.now(), Nil)
      .withTableMetadata(Map("f" -> "[1]")))
    val lines = java.nio.file.Files.readAllLines(dir.resolve("db.fmt.jsonl")).asScala.toList
    lines.map(_.contains("tableMetadata")) shouldBe List(false, false, false, true)
    new JsonFileTableVersions(dir).metadataAt(tbl, "f").inForce shouldBe Some("[1]")
  }

  test("JsonFileTableVersions: a checkpoint base carries the newest value of each metadata family") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log_meta_ckpt")
    val log = new JsonFileTableVersions(dir)
    val tbl = TableName("db", "metackpt")
    log.init(tbl, isSnapshot = false, UserId("u"), UpdateMessage("init"), Instant.now())
    def commit(values: (String, String)*): CommitId = {
      val u = TableUpdate(UserId("u"), UpdateMessage("c"), Instant.now(),
        List(TableOperation.AddPartitionVersion(
          Partition(PartitionColumn("d"), UUID.randomUUID().toString),
          Version(Instant.now(), UUID.randomUUID())))).withTableMetadata(values.toMap)
      log.commit(tbl, u)
      u.metadata.id
    }
    commit("f" -> "f1", "g" -> "g1")
    commit("f" -> "f2")
    val base = commit()
    val head = commit("h" -> "h4")
    log.checkpoint(tbl, keepLast = 1) shouldBe true

    val reopened = new JsonFileTableVersions(dir)
    reopened.updates(tbl).map(_.id) shouldBe List(head, base)
    reopened.updates(tbl).last.tableMetadata shouldBe Map("f" -> "f2", "g" -> "g1")
    reopened.metadataAt(tbl, "f", Some(base)) shouldBe MetadataFold(Some("f2"), Some("f2"))
    reopened.metadataAt(tbl, "g").inForce shouldBe Some("g1")
    reopened.metadataAt(tbl, "h", Some(base)) shouldBe MetadataFold(None, Some("h4"))
    reopened.metadataAt(tbl, "h").inForce shouldBe Some("h4")
  }

  test("JsonFileTableVersions: a torn final line carrying table metadata is ignored") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log_meta_torn")
    val log = new JsonFileTableVersions(dir)
    val tbl = TableName("db", "metatorn")
    log.init(tbl, isSnapshot = true, UserId("u"), UpdateMessage("init"), Instant.now())
    log.commit(tbl, TableUpdate(UserId("u"), UpdateMessage("m1"), Instant.now(), Nil)
      .withTableMetadata(Map("f" -> "one")))
    val file = dir.resolve("db.metatorn.jsonl")
    val intact = java.nio.file.Files.readString(file)
    // a crash left a whole commit line carrying a new value, minus its newline
    val torn = intact.trim.linesIterator.toList.last
      .replaceAll(""""id":"[^"]+"""", "\"id\":\"torn\"").replace("\"one\"", "\"two\"")
    torn should include("two")
    java.nio.file.Files.writeString(file, intact + torn)
    val reopened = new JsonFileTableVersions(dir)
    reopened.metadataAt(tbl, "f") shouldBe MetadataFold(Some("one"), Some("one"))
    reopened.updates(tbl) should have size 2
    // the next append repairs the tail: the torn value never lands
    reopened.commit(tbl, TableUpdate(UserId("u"), UpdateMessage("m2"), Instant.now(), Nil))
    reopened.metadataAt(tbl, "f").inForce shouldBe Some("one")
    java.nio.file.Files.readString(file) should not include "two"
  }

  test("JsonFileTableVersions: checkpoint folds old history, keeps the retained tail replayable") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log_ckpt")
    val log = new JsonFileTableVersions(dir)
    val tbl = TableName("db", "ckpt")
    log.init(tbl, isSnapshot = false, UserId("u"), UpdateMessage("init"), Instant.now())
    val firstPartition = Partition(PartitionColumn("d"), "2024-01-01")
    (0 until 6).foreach { i =>
      val p = Partition(PartitionColumn("d"), s"2024-01-0${i + 1}")
      log.commit(tbl, TableUpdate(UserId("u"), UpdateMessage(s"c$i"), Instant.now(),
        List(TableOperation.AddPartitionVersion(p, Version(Instant.now(), UUID.randomUUID())))))
    }
    val metas = log.updates(tbl) // newest first: 6 commits + init
    val keepIds = metas.take(2).map(_.id)
    val baseId = metas(2).id
    val oldId = metas.last.id // the init commit — folded away
    val before = log.currentVersion(tbl)
    val beforeKept = keepIds.map(id => log.versionAt(tbl, id))
    val beforeBase = log.versionAt(tbl, baseId)
    val file = dir.resolve("db.ckpt.jsonl")
    val linesBefore = java.nio.file.Files.readAllLines(file).size

    log.checkpoint(tbl, keepLast = 2) shouldBe true

    val reopened = new JsonFileTableVersions(dir)
    reopened.currentVersion(tbl) shouldBe before
    keepIds.zip(beforeKept).foreach { case (id, tv) => reopened.versionAt(tbl, id) shouldBe tv }
    reopened.versionAt(tbl, baseId) shouldBe beforeBase // the base commit stays addressable
    reopened.updates(tbl) should have size 3 // folded base + 2 retained
    an[Exception] should be thrownBy reopened.versionAt(tbl, oldId) // outside retention
    java.nio.file.Files.readAllLines(file).size should be < linesBefore
    // post-checkpoint commits keep working on the rewritten log
    reopened.commit(tbl, TableUpdate(UserId("u"), UpdateMessage("after"), Instant.now(),
      List(TableOperation.AddPartitionVersion(firstPartition, Version(Instant.now(), UUID.randomUUID())))))
    reopened.updates(tbl) should have size 4
    reopened.checkpoint(tbl, keepLast = 10) shouldBe false // already minimal
  }

  test("JsonFileTableVersions: checkpoint refuses while the pointer sits before the base") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log_ckpt_ptr")
    val log = new JsonFileTableVersions(dir)
    val tbl = TableName("db", "ckptptr")
    log.init(tbl, isSnapshot = true, UserId("u"), UpdateMessage("init"), Instant.now())
    (0 until 3).foreach { i =>
      log.commit(tbl, TableUpdate(UserId("u"), UpdateMessage(s"c$i"), Instant.now(),
        List(TableOperation.AddTableVersion(Version(Instant.now(), UUID.randomUUID())))))
    }
    val oldest = log.updates(tbl).last.id
    log.setCurrentVersion(tbl, oldest) // rollback to the init commit
    an[IllegalArgumentException] should be thrownBy log.checkpoint(tbl, keepLast = 1)
    // and the refused checkpoint left the log fully intact
    log.updates(tbl) should have size 4
    log.currentVersion(tbl) shouldBe SnapshotTableVersion(Version.Unversioned)
  }

  test("JsonFileTableVersions: checkpoint refuses to fold away a staged commit; staged survives rewrite + reopen") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log_ckpt_staged")
    val log = new JsonFileTableVersions(dir)
    val tbl = TableName("db", "ckptstaged")
    log.init(tbl, isSnapshot = false, UserId("u"), UpdateMessage("init"), Instant.now())
    def part(d: String) = Partition(PartitionColumn("date"), d)
    def add(d: String): TableUpdate = {
      val u = TableUpdate(UserId("u"), UpdateMessage(d), Instant.now(),
        List(TableOperation.AddPartitionVersion(part(d), Version(Instant.now(), UUID.randomUUID()))))
      log.commit(tbl, u); u
    }
    add("2024-01-01")
    val staged = TableUpdate(UserId("u"), UpdateMessage("staged"), Instant.now(),
      List(TableOperation.AddPartitionVersion(part("2024-01-09"), Version(Instant.now(), UUID.randomUUID()))))
    log.commitDetached(tbl, staged)
    log.setRef(tbl, "audit", staged.metadata.id)
    (2 to 4).foreach(i => add(s"2024-01-0$i"))

    // folding the staged commit into the base would silently attach it
    an[IllegalStateException] should be thrownBy log.checkpoint(tbl, keepLast = 1)

    // with the staged commit in the retained tail the checkpoint proceeds,
    // and the staged commit is STILL staged after rewrite + reopen
    log.checkpoint(tbl, keepLast = 4) shouldBe true
    val reopened = new JsonFileTableVersions(dir)
    reopened.currentVersion(tbl) match {
      case PartitionedTableVersion(pvs) => pvs.keySet should not contain part("2024-01-09")
      case other                        => fail(s"unexpected $other")
    }
    // and publish still attaches it
    reopened.publish(tbl, staged.metadata.id)
    new JsonFileTableVersions(dir).currentVersion(tbl) match {
      case PartitionedTableVersion(pvs) => pvs.keySet should contain(part("2024-01-09"))
      case other                        => fail(s"unexpected $other")
    }
  }

  test("a duplicate commit id is rejected by both log implementations") {
    val inMem = new InMemoryTableVersions
    val dir = java.nio.file.Files.createTempDirectory("graft_log_dup")
    val onDisk = new JsonFileTableVersions(dir)
    for (log <- Seq[TableVersions](inMem, onDisk)) {
      val tbl = TableName("db", "dup")
      log.init(tbl, isSnapshot = true, UserId("u"), UpdateMessage("init"), Instant.now())
      val u = TableUpdate(UserId("u"), UpdateMessage("v1"), Instant.now(),
        List(TableOperation.AddTableVersion(Version(Instant.now(), UUID.randomUUID()))))
      log.commit(tbl, u)
      // a blind retry reusing the same update must fail, not silently make
      // "current" resolve to the FIRST occurrence of the id
      an[IllegalArgumentException] should be thrownBy log.commit(tbl, u)
    }
  }

  test("JsonFileTableVersions: a prepared-but-unmarked transaction is invisible; the marker flips all tables atomically") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log_txn")
    val log = new JsonFileTableVersions(dir)
    val ta = TableName("db", "txn_crash_a")
    val tb = TableName("db", "txn_crash_b")
    log.init(ta, isSnapshot = false, UserId("u"), UpdateMessage("init"), Instant.now())
    log.init(tb, isSnapshot = true, UserId("u"), UpdateMessage("init"), Instant.now())
    def part(d: String) = Partition(PartitionColumn("date"), d)
    val va = Version(Instant.now(), UUID.randomUUID())
    val vb = Version(Instant.now(), UUID.randomUUID())
    val ua = TableUpdate(UserId("u"), UpdateMessage("a"), Instant.now(),
      List(TableOperation.AddPartitionVersion(part("2024-01-01"), va)))
    val ub = TableUpdate(UserId("u"), UpdateMessage("b"), Instant.now(),
      List(TableOperation.AddTableVersion(vb)))

    // CRASH SIMULATION: phase 1 lands, the process dies before the marker
    val txnId = log.txnPrepare(Seq(ta -> ua, tb -> ub))
    val reader = new JsonFileTableVersions(dir) // fresh "process"
    reader.currentVersion(ta) shouldBe PartitionedTableVersion(Map.empty)
    reader.currentVersion(tb) shouldBe SnapshotTableVersion(Version.Unversioned)
    // the pending commit is not even addressable
    an[Exception] should be thrownBy reader.versionAt(ta, ua.metadata.id)
    // a checkpoint would drop the pending line — it must refuse
    an[IllegalStateException] should be thrownBy reader.checkpoint(ta, keepLast = 0)

    // RECOVERY: the marker lands (retry of phase 2) — both tables flip
    log.txnMarkerCreate(txnId)
    val after = new JsonFileTableVersions(dir)
    after.currentVersion(ta) shouldBe PartitionedTableVersion(Map(part("2024-01-01") -> va))
    after.currentVersion(tb) shouldBe SnapshotTableVersion(vb)
    after.currentCommit(ta) shouldBe ua.metadata.id
    // and the now-committed history checkpoints normally
    after.commit(ta, TableUpdate(UserId("u"), UpdateMessage("more"), Instant.now(),
      List(TableOperation.AddPartitionVersion(part("2024-01-02"),
        Version(Instant.now(), UUID.randomUUID())))))
    after.checkpoint(ta, keepLast = 1) shouldBe true
    new JsonFileTableVersions(dir).currentVersion(ta) match {
      case PartitionedTableVersion(pvs) => pvs.keySet shouldBe Set(part("2024-01-01"), part("2024-01-02"))
      case other                        => fail(s"unexpected $other")
    }
  }

  test("JsonFileTableVersions: a mid-file corrupt line still fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log_corrupt")
    val log = new JsonFileTableVersions(dir)
    val tbl = TableName("db", "corrupt")
    log.init(tbl, isSnapshot = true, UserId("u"), UpdateMessage("init"), Instant.now())
    val file = dir.resolve("db.corrupt.jsonl")
    val intact = java.nio.file.Files.readString(file)
    java.nio.file.Files.writeString(file, "not json at all\n" + intact)
    an[Exception] should be thrownBy new JsonFileTableVersions(dir).currentVersion(tbl)
  }

  test("vacuum treats version dirs of a prepared-but-unmarked transaction as live") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log_txn_vac")
    val log = new JsonFileTableVersions(dir)
    val loc = java.nio.file.Files.createTempDirectory("graft_txn_vac_data")
    val ta = TableName("db", "txn_vac_a")
    log.init(ta, isSnapshot = false, UserId("u"), UpdateMessage("init"), Instant.now())
    def part(d: String) = Partition(PartitionColumn("date"), d)

    // a committed v1 so the table has normal retained state
    val v1 = Version(Instant.now().minusSeconds(3600), UUID.randomUUID())
    java.nio.file.Files.createDirectories(loc.resolve(s"date=2024-01-01/${v1.label}"))
    java.nio.file.Files.writeString(
      loc.resolve(s"date=2024-01-01/${v1.label}/part-0.parquet"), "d1")
    log.commit(ta, TableUpdate(UserId("u"), UpdateMessage("v1"), Instant.now(),
      List(TableOperation.AddPartitionVersion(part("2024-01-01"), v1))))

    // phase 1 of a transaction references a STAGED dir whose label clock is
    // far older than any grace window (a long multi-table write job)
    val vStaged = Version(Instant.now().minusSeconds(7200), UUID.randomUUID())
    val stagedDir = loc.resolve(s"date=2024-01-02/${vStaged.label}")
    java.nio.file.Files.createDirectories(stagedDir)
    java.nio.file.Files.writeString(stagedDir.resolve("part-0.parquet"), "d2")
    val ua = TableUpdate(UserId("u"), UpdateMessage("txn a"), Instant.now(),
      List(TableOperation.AddPartitionVersion(part("2024-01-02"), vStaged)))
    val tb = TableName("db", "txn_vac_b")
    log.init(tb, isSnapshot = true, UserId("u"), UpdateMessage("init"), Instant.now())
    val ub = TableUpdate(UserId("u"), UpdateMessage("txn b"), Instant.now(),
      List(TableOperation.AddTableVersion(Version(Instant.now(), UUID.randomUUID()))))
    val txnId = log.txnPrepare(Seq(ta -> ua, tb -> ub))

    log.pendingOperations(ta) should contain(
      TableOperation.AddPartitionVersion(part("2024-01-02"), vStaged))

    // an aggressive vacuum (zero grace) past the label clock must NOT
    // reclaim the pending dir: the marker can land at any moment
    val defn = TableDefinition(ta, loc.toUri, 
      PartitionSchema(List(PartitionColumn("date"))), FileFormat.Parquet)
    val rep = graft.spark.Vacuum.vacuum(
      defn, log, new org.apache.hadoop.conf.Configuration(),
      keepLast = 3, graceMs = 0L)
    java.nio.file.Files.exists(stagedDir) shouldBe true
    rep.deleted.exists(_.contains(vStaged.label)) shouldBe false

    // marker lands: the dir is now referenced by a committed state and the
    // transaction's data reads normally
    log.txnMarkerCreate(txnId)
    log.pendingOperations(ta) shouldBe Nil
    new JsonFileTableVersions(dir).currentVersion(ta) match {
      case PartitionedTableVersion(pvs) => pvs(part("2024-01-02")) shouldBe vStaged
      case other                        => fail(s"unexpected $other")
    }
  }

  // ---- the log cache: a warm instance must never serve a stale read ----

  private def sameLog(warm: TableVersions, dir: java.nio.file.Path, tbl: TableName): Unit = {
    val cold = new JsonFileTableVersions(dir)
    warm.updates(tbl) shouldBe cold.updates(tbl)
    warm.currentVersion(tbl) shouldBe cold.currentVersion(tbl)
    warm.currentCommit(tbl) shouldBe cold.currentCommit(tbl)
    warm.refs(tbl) shouldBe cold.refs(tbl)
    warm.pendingOperations(tbl) shouldBe cold.pendingOperations(tbl)
  }

  private def addOne(log: TableVersions, tbl: TableName, day: Int): TableUpdate = {
    val u = TableUpdate(UserId("u"), UpdateMessage(s"d$day"), Instant.now(),
      List(TableOperation.AddPartitionVersion(
        Partition(PartitionColumn("d"), s"$day"), Version(Instant.now(), UUID.randomUUID()))))
    log.commit(tbl, u)
    u
  }

  test("JsonFileTableVersions: a warm instance sees another instance's append") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cache_append")
    val tbl = TableName("db", "cache_append")
    val warm = new JsonFileTableVersions(dir)
    warm.init(tbl, isSnapshot = false, UserId("u"), UpdateMessage("init"), Instant.now())
    addOne(warm, tbl, 1)
    sameLog(warm, dir, tbl) // warms the cache
    val other = new JsonFileTableVersions(dir)
    val u = addOne(other, tbl, 2)
    warm.updates(tbl).head.id shouldBe u.metadata.id
    other.setRef(tbl, "b", u.metadata.id)
    warm.refs(tbl).keySet shouldBe Set("b")
    sameLog(warm, dir, tbl)
  }

  test("JsonFileTableVersions: a warm instance sees another instance's checkpoint, run twice") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cache_ckpt")
    val tbl = TableName("db", "cache_ckpt")
    val warm = new JsonFileTableVersions(dir)
    warm.init(tbl, isSnapshot = false, UserId("u"), UpdateMessage("init"), Instant.now())
    (1 to 3).foreach(addOne(warm, tbl, _))
    sameLog(warm, dir, tbl)
    val other = new JsonFileTableVersions(dir)
    // two rewrites with no read in between: the second temp file may take
    // the inode number the warm instance cached, and the rewritten file
    // outgrows the cached offset
    (4 to 12).foreach(addOne(other, tbl, _))
    other.checkpoint(tbl, keepLast = 6) shouldBe true
    (13 to 20).foreach(addOne(other, tbl, _))
    other.checkpoint(tbl, keepLast = 6) shouldBe true
    warm.updates(tbl) should have size 7
    sameLog(warm, dir, tbl)
    // and a rewrite to a file SHORTER than the cached one
    other.checkpoint(tbl, keepLast = 1) shouldBe true
    warm.updates(tbl) should have size 2
    sameLog(warm, dir, tbl)
  }

  test("JsonFileTableVersions: a warm instance tolerates a torn tail, then sees its repair by the next append") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cache_torn")
    val tbl = TableName("db", "cache_torn")
    val warm = new JsonFileTableVersions(dir)
    warm.init(tbl, isSnapshot = false, UserId("u"), UpdateMessage("init"), Instant.now())
    addOne(warm, tbl, 1)
    val before = warm.updates(tbl)
    val file = dir.resolve("db.cache_torn.jsonl")
    java.nio.file.Files.write(file,
      """{"record":"commit","id":"torn","user":"u","message":"torn","timestamp":"2026-01-01T00:00:00Z","operations":[]}"""
        .getBytes("UTF-8"), java.nio.file.StandardOpenOption.APPEND)
    warm.updates(tbl) shouldBe before
    sameLog(warm, dir, tbl)
    val u = addOne(new JsonFileTableVersions(dir), tbl, 2)
    warm.updates(tbl).map(_.id) shouldBe u.metadata.id :: before.map(_.id)
    sameLog(warm, dir, tbl)
  }

  test("JsonFileTableVersions: a warm instance sees a pending transaction's marker land") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cache_txn")
    val ta = TableName("db", "cache_txn_a")
    val tb = TableName("db", "cache_txn_b")
    val warm = new JsonFileTableVersions(dir)
    Seq(ta, tb).foreach(t =>
      warm.init(t, isSnapshot = false, UserId("u"), UpdateMessage("init"), Instant.now()))
    val other = new JsonFileTableVersions(dir)
    def txnUpdate(day: Int) = TableUpdate(UserId("u"), UpdateMessage(s"txn $day"), Instant.now(),
      List(TableOperation.AddPartitionVersion(
        Partition(PartitionColumn("d"), s"$day"), Version(Instant.now(), UUID.randomUUID()))))
    val txnId = other.txnPrepare(Seq(ta -> txnUpdate(1), tb -> txnUpdate(2)))
    warm.updates(ta) should have size 1 // pending: invisible
    warm.pendingOperations(ta) should have size 1
    sameLog(warm, dir, ta)
    // the marker lands: the log files do not change, the fold does
    other.txnMarkerCreate(txnId)
    warm.updates(ta) should have size 2
    warm.updates(tb) should have size 2
    warm.pendingOperations(ta) shouldBe Nil
    sameLog(warm, dir, ta)
    sameLog(warm, dir, tb)
  }
}
