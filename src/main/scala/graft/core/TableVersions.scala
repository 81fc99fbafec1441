package graft.core

import java.time.Instant
import java.util.UUID

/**
 * Commit-log interface: querying and updating the version history of tables.
 *
 * Semantics mirror the reference implementation
 * (guardian/table-versions, `core/src/main/scala/com/gu/tableversions/core/TableVersions.scala:14-164`):
 *  - `init` is idempotent (re-init of a tracked table is a no-op);
 *  - `commit` appends an update and always moves the current pointer to it;
 *  - `currentVersion` folds the history *up to and including* the update the
 *    current pointer names — so after a rollback the fold sees only a prefix,
 *    but a later commit appends at the end AND moves the pointer there,
 *    resurrecting every intermediate update (the fold passes through them).
 *    This rollback-then-commit quirk is deliberate and test-pinned.
 *
 * Differences: plain synchronous Scala instead of `F[_]`/cats-effect
 * (errors are thrown), `List` + require instead of `NonEmptyList`.
 */
trait TableVersions {
  import TableVersions._

  /** Start tracking version information for the given table.
   * Must be called before any other operation on the table. Idempotent.
   * `tableMetadata` rides the init commit (the table's declarations at
   * creation). Returns false — landing nothing — when the table was
   * already tracked. */
  def init(
      table: TableName,
      isSnapshot: Boolean,
      userId: UserId,
      message: UpdateMessage,
      timestamp: Instant,
      tableMetadata: Map[String, String] = Map.empty): Boolean =
    handleInit(table) {
      val initialUpdate =
        TableUpdate(userId, message, timestamp, operations = List(TableOperation.InitTable(table, isSnapshot)))
          .withTableMetadata(tableMetadata)
      TableState(currentVersion = initialUpdate.metadata.id, updates = List(initialUpdate))
    }

  /** Current version state of the table, derived by folding the history up to
   * the current-version pointer (reference `TableVersions.scala:29-41`). */
  def currentVersion(table: TableName): TableVersion =
    currentVersionFromState(tableState(table))

  /** History of updates, most recent first (reference `TableVersions.scala:44-45`). */
  def updates(table: TableName): List[TableUpdateMetadata] =
    tableState(table).updates.map(_.metadata).reverse

  /** The highest micro-batch id the writer identified by `appId` has
    * durably committed to this table, or None — the read side of the
    * [[TableVersions.StreamTxn]] idempotence marker. O(history) metadata
    * fold; callers check once per micro-batch. NOTE: log checkpointing
    * folds away commits older than its retention, and their txn markers
    * with them (the Delta setTransaction-expiry analog) — replay detection
    * spans the retained history, which is always ≥ the streaming engine's
    * own replay window of one batch. */
  def lastTxnBatch(table: TableName, appId: String): Option[Long] =
    tableState(table).updates.iterator
      .flatMap(_.metadata.txn)
      .filter(_.appId == appId)
      .map(_.batchId)
      .maxOption

  /** The commit the current pointer names — the state `currentVersion`
    * folds. ≠ `updates(table).head.id` after a rollback: consumers that key
    * per-state artifacts (zone-map sidecars) must use THIS, not the head. */
  def currentCommit(table: TableName): CommitId =
    tableState(table).currentVersion

  /** Table metadata `family` folded at `at` (default: the current pointer)
    * from one read of the table's state — see [[TableVersions.foldMetadata]]. */
  def metadataAt(
      table: TableName, family: String, at: Option[CommitId] = None): MetadataFold[String] = {
    val state = tableState(table)
    foldMetadata(state, family, at.getOrElse(state.currentVersion))
  }

  /** [[metadataAt]] the log HEAD (the newest appended commit), which a
    * commit after a rollback resurrects into the fold. */
  def metadataAtHead(table: TableName, family: String): MetadataFold[String] = {
    val state = tableState(table)
    foldMetadata(state, family, state.updates.last.metadata.id)
  }

  /** Version state as of a specific commit, regardless of the current pointer
   * (time-travel reads, Q26). Pure fold over the history prefix. */
  def versionAt(table: TableName, id: CommitId): TableVersion = {
    val state = tableState(table)
    if (!state.updates.exists(_.metadata.id == id)) throw unknownCommitId(id)
    currentVersionFromState(state.copy(currentVersion = id))
  }

  /** Append an update atomically; the new commit becomes current. */
  def commit(table: TableName, update: TableUpdate): Unit

  /** Optimistic-concurrency commit: append `update` (pointer moves to it)
    * ONLY if `expected` still names the current commit; returns false —
    * committing nothing — when another writer moved the pointer first. The
    * check and the append are one atomic step (the CAS loop for the
    * in-memory log, the table lock for the file log), so two racing
    * snapshot writers resolve to exactly one winner and one loud,
    * retryable loser instead of a silent last-write-wins lost update.
    * Disjoint-partition writers don't need it: their commits compose by
    * construction and use plain [[commit]]. */
  def commitIf(table: TableName, update: TableUpdate, expected: CommitId): Boolean

  /**
   * Read-modify-write OCC commit with SEMANTIC conflict detection — the
   * transaction discipline COW rewrites (MERGE / UPDATE / row-DELETE)
   * need that [[commitIf]] alone cannot give them. A rewrite derives its
   * output from the state it READ (`readCommit`); by commit time other
   * writers may have appended. [[commit]] would silently clobber their
   * work on shared partitions (lost update); bare [[commitIf]] would
   * refuse even when the intervening commits touch DISJOINT partitions,
   * serializing the whole table through one writer — at 1000 concurrent
   * pipeline writers that is the difference between a working table and a
   * retry storm. The Delta/Iceberg answer, replayed here: check the
   * intervening commits' partition scope against ours; disjoint → REBASE
   * (retry the CAS against the new head — our ops are still valid because
   * partition pointer writes compose); overlapping → throw
   * [[TableVersions.ConcurrentWriteException]] loudly so the caller
   * re-reads and re-derives. Never a silent lost update, never a spurious
   * serialization of independent writers.
   *
   * Conflict rules (scope of an update = what its ops touch):
   *  - `AddTableVersion` / `InitTable` scope the WHOLE table (a snapshot
   *    rewrite conflicts with any intervening commit, and vice versa);
   *  - partition ops scope their partitions; two sets conflict iff they
   *    intersect;
   *  - an intervening commit with EMPTY ops is a metadata commit whose
   *    row effect we cannot see from ops alone (deletion-vector deletes
   *    commit this shape) — treated as whole-table, conservatively;
   *  - a pointer that moved BACKWARDS past `readCommit` (rollback since
   *    our read) conflicts: appending would resurrect what the operator
   *    explicitly rolled back;
   *  - DETACHED intervening commits don't conflict (no pointer-based fold
   *    sees them until publish).
   *
   * `metadata` adds commit-line metadata derived INSIDE each attempt,
   * after `revalidate` and before the CAS: a value that depends on the
   * state the commit lands on is computed against exactly the state the
   * CAS swaps, never a stale read.
   *
   * Returns the new head commit id on success. O(intervening) metadata
   * work per attempt; `maxRetries` bounds CAS contention loops. Throws
   * [[TableVersions.ConcurrentWriteException]] on a semantic conflict and
   * `unknownCommitId` if `readCommit` was checkpoint-folded away.
   */
  final def commitRebase(
      table: TableName,
      update: TableUpdate,
      readCommit: CommitId,
      maxRetries: Int = 8,
      wholeTableScope: Boolean = false,
      revalidate: () => Unit = () => (),
      scopeOverride: Option[TableVersions.ConflictScope] = None,
      metadata: () => Map[String, String] = () => Map.empty): CommitId = {
    import TableVersions._
    // `wholeTableScope` widens THIS update's scope to the whole table
    // regardless of its ops — a restructuring commit (partition-scheme
    // evolution) must conflict with EVERY intervening commit, including
    // disjoint new partitions its rewrite could not have seen.
    // `scopeOverride` NARROWS it instead: a merge-on-read append's ops
    // cannot express the overlay-touched partitions (no pointer moves),
    // so the empty op list would default to whole-table and serialize
    // every concurrent appender; the caller declares the true scope and
    // pairs it with a `revalidate` guard for the declared partitions.
    // `revalidate` runs once per CAS attempt after the state snapshot and
    // before the conditional commit: a guard that throws here is ordered
    // strictly before this attempt's head check, so a concurrent commit
    // landing after the guard passed simply fails the CAS and re-runs the
    // guard — the validate-then-commit TOCTOU window is closed.
    val mine =
      if (wholeTableScope) (WholeTable: ConflictScope)
      else scopeOverride.getOrElse(conflictScope(update.operations))
    var attempts = 0
    while (true) {
      val state = tableState(table)
      revalidate()
      val idxRead = state.updates.indexWhere(_.metadata.id == readCommit)
      if (idxRead < 0) throw unknownCommitId(readCommit)
      val head = state.currentVersion
      val idxHead = state.updates.indexWhere(_.metadata.id == head)
      if (idxHead < idxRead)
        throw new ConcurrentWriteException(
          s"table ${table.fullyQualifiedName} was rolled back (current " +
            s"${head.id} precedes the read state ${readCommit.id}); committing " +
            "would resurrect the rolled-back commits — re-read and re-derive")
      val intervening =
        state.updates.slice(idxRead + 1, idxHead + 1).filterNot(_.metadata.detached)
      intervening.foreach { u =>
        // a declared-scope caller (scopeOverride) composes with op-less
        // intervening commits: those move NO pointer (merge-on-read
        // appends/deletes, metadata markers), so they cannot invalidate a
        // write whose own validity the caller re-checks per attempt via
        // `revalidate` — declared partitions unchanged AND the scheme
        // still current (a metadata-only evolution is op-less too).
        // Default callers keep the conservative empty-ops-is-whole-table
        // reading: a rewrite derived before a deletion-vector delete would
        // resurrect its hidden rows.
        val theirs =
          if (scopeOverride.isDefined && u.operations.isEmpty)
            (Partitions(Set.empty): ConflictScope)
          else conflictScope(u.operations)
        val clash = (mine, theirs) match {
          case (WholeTable, _) | (_, WholeTable) => true
          case (Partitions(a), Partitions(b))    => a.exists(b)
        }
        if (clash)
          throw new ConcurrentWriteException(
            s"concurrent commit ${u.metadata.id.id} ('${u.metadata.message.content}') " +
              s"on table ${table.fullyQualifiedName} overlaps this write's scope " +
              s"($mine); derived from ${readCommit.id} — re-read and re-derive")
      }
      if (commitIf(table, update.withTableMetadata(metadata()), head)) return update.metadata.id
      attempts += 1
      if (attempts > maxRetries)
        throw new ConcurrentWriteException(
          s"table ${table.fullyQualifiedName}: CAS lost $attempts times under " +
            "contention; giving up (maxRetries exceeded)")
    }
    sys.error("unreachable")
  }

  /** ATOMIC MULTI-TABLE COMMIT: append one update to EACH named table and
    * move every pointer, all-or-nothing — no reader ever observes some of
    * the tables committed and others not, and a crash mid-protocol aborts
    * the whole transaction (the staged version dirs stay unreferenced,
    * vacuum's ordinary posture). The tables must share THIS log instance —
    * that shared log is what arbitrates the transaction.
    *
    * Implementations: the in-memory log commits under one CAS over the
    * whole table map; the durable file log stages per-table commit lines
    * marked with a transaction id (invisible to every fold while pending)
    * and then creates the transaction's COMMITTED marker with one atomic
    * file create — the commit point all tables' replays gate on.
    *
    * Validation: `commits` must name distinct, tracked tables with fresh
    * commit ids; violations throw before anything becomes visible.
    * Conflict posture is plain [[commit]] (partition ops compose);
    * read-modify-write transactions should derive per-table updates from
    * freshly read states. */
  def commitAll(commits: Seq[(TableName, TableUpdate)]): Unit

  /** Move the current pointer to an existing PUBLISHED commit (rollback /
    * checkout). Errors on an unknown table or commit id, and on a DETACHED
    * (staged) commit — staged work enters the mainline only through
    * [[publish]], which attaches it first. */
  def setCurrentVersion(table: TableName, id: CommitId): Unit

  /** Append a commit WITHOUT moving the current pointer — the branch-write
    * primitive of WRITE-AUDIT-PUBLISH: the data lands in the history (its
    * version dirs referenced only by this commit), marked DETACHED so no
    * pointer-based fold ever includes it, and the staged state stays
    * addressable via `versionAt`/a branch ref until [[publish]] attaches
    * it. The detached mark is stamped by the implementation — callers
    * build an ordinary [[TableUpdate]]. */
  def commitDetached(table: TableName, update: TableUpdate): Unit

  /** PUBLISH staged work: atomically attach (clear the detached mark of)
    * every staged commit at-or-before `id` in the history, then move the
    * current pointer to `id`. Attaching exactly the at-or-before set makes
    * the published state identical to what the audit read (`versionAt` on
    * the branch head) served — in a linear history, independent branches
    * staged on one table are not isolated from each other: an earlier
    * branch's staged commits are part of both the audit fold and the
    * publish. Errors on an unknown table/commit. Idempotent for already-
    * attached prefixes; publishing a non-detached commit degrades to a
    * plain checkout. */
  def publish(table: TableName, id: CommitId): Unit

  /** Operations staged by NOT-YET-COMMITTED state the implementation keeps
    * outside every fold — e.g. a multi-table transaction's per-table commit
    * lines appended by prepare whose commit-point marker has not landed.
    * Storage GC must treat the version dirs these reference as LIVE: the
    * marker can land at any moment, and reclaiming the dirs in the
    * prepare-to-marker window would leave freshly committed versions
    * pointing at deleted data (the checkpoint already refuses on the same
    * condition). Default: none (single-step logs have no pending window). */
  def pendingOperations(table: TableName): List[TableOperation] = Nil

  /** Create or move a named ref to an existing commit. Branches move
    * freely; a TAG is immutable once created (re-pointing it errors), and
    * a name cannot change kind. Errors on unknown table/commit. */
  def setRef(table: TableName, name: String, id: CommitId, isTag: Boolean = false): Unit

  /** Drop a named ref (branch or tag). The commits it named stay in
    * history. Errors if the ref does not exist. */
  def deleteRef(table: TableName, name: String): Unit

  /** All named refs of the table. */
  final def refs(table: TableName): Map[String, RefEntry] = tableState(table).refs

  /** Resolve a ref name to its commit; loud on a missing ref. */
  final def refCommit(table: TableName, name: String): CommitId =
    refs(table).getOrElse(name, throw new IllegalArgumentException(
      s"table ${table.fullyQualifiedName} has no ref named '$name'")).id

  /** Shared ref validation for implementations (call under their write
    * exclusion): target must exist; tags are immutable; kinds are stable. */
  protected final def validateRef(
      state: TableState, name: String, id: CommitId, isTag: Boolean): Unit = {
    require(name.nonEmpty && !name.exists(c => c == '\n' || c == '\r'),
      s"invalid ref name '$name'")
    if (!state.updates.exists(_.metadata.id == id)) throw unknownCommitId(id)
    state.refs.get(name).foreach { existing =>
      if (existing.isTag)
        throw new IllegalArgumentException(s"tag '$name' is immutable (delete it first)")
      if (isTag)
        throw new IllegalArgumentException(s"'$name' is a branch; cannot re-create it as a tag")
    }
  }

  // Internal operations provided by implementations

  /** Full persisted state of the table; throws `unknownTableError` if untracked. */
  protected[core] def tableState(table: TableName): TableState

  /** Initialise a new table unless it already exists (idempotent);
    * true when this call created it. */
  protected[core] def handleInit(table: TableName)(newTableState: => TableState): Boolean
}

object TableVersions {

  final case class CommitId(id: String)
  final case class UserId(value: String)
  final case class UpdateMessage(content: String)

  /** Idempotent-writer marker carried IN a commit's metadata (the Delta
    * `txnAppId`/`txnVersion` pattern): a streaming sink records its stable
    * application id and the micro-batch id it committed, so a batch
    * REPLAYED after a crash-between-commit-and-checkpoint is detected
    * (`batchId <= lastTxnBatch(appId)`) and skipped instead of committing
    * twice. Distinct writers feeding one table must use distinct appIds. */
  final case class StreamTxn(appId: String, batchId: Long)

  final case class TableUpdateMetadata(
      id: CommitId,
      userId: UserId,
      message: UpdateMessage,
      timestamp: Instant,
      txn: Option[StreamTxn] = None,
      /** A DETACHED (staged, branch-write) commit: present in the history
        * but excluded from every pointer-based fold until [[TableVersions.publish]]
        * attaches it. Without this flag a staged commit would silently fold
        * into main reads as soon as any LATER normal commit moved the
        * pointer past it in the list — unpublished data served with no
        * checkout ever issued. */
      detached: Boolean = false,
      /** Table metadata this commit changes: family name → the family's
        * new value as opaque JSON (the Delta `metaData` action). The log
        * never reads the values; [[TableVersions.foldMetadata]] resolves
        * them per family. */
      tableMetadata: Map[String, String] = Map.empty
  )

  object TableUpdateMetadata {
    def apply(userId: UserId, message: UpdateMessage, timestamp: Instant): TableUpdateMetadata =
      TableUpdateMetadata(CommitId(UUID.randomUUID().toString), userId, message, timestamp)
  }

  /** Commit-line entries that describe their OWN commit — the data
    * sidecars it publishes (`deletes`, `appends`) and a full rewrite's
    * `absorbed` flag — rather than a value in force: a checkpoint keeps
    * them only on the commit that carries them. */
  object CommitFacts {
    val Deletes = "deletes"
    val Appends = "appends"
    val Absorbed = "absorbed"
    def apply(key: String): Boolean = key == Deletes || key == Appends || key == Absorbed
  }

  /** A set of operations applied and tracked as one atomic commit. */
  final case class TableUpdate(metadata: TableUpdateMetadata, operations: List[TableOperation]) {
    def withTableMetadata(values: Map[String, String]): TableUpdate =
      copy(metadata = metadata.copy(tableMetadata = metadata.tableMetadata ++ values))
  }

  object TableUpdate {
    def apply(
        userId: UserId,
        message: UpdateMessage,
        timestamp: Instant,
        operations: List[TableOperation]): TableUpdate =
      TableUpdate(TableUpdateMetadata(userId, message, timestamp), operations)

    def apply(
        userId: UserId,
        message: UpdateMessage,
        timestamp: Instant,
        operations: List[TableOperation],
        txn: Option[StreamTxn]): TableUpdate =
      TableUpdate(
        TableUpdateMetadata(CommitId(UUID.randomUUID().toString), userId, message, timestamp, txn),
        operations)
  }

  /** ADT of operations recorded in the history
   * (reference `TableVersions.scala:112-119`). */
  sealed trait TableOperation

  object TableOperation {
    final case class InitTable(tableName: TableName, isSnapshot: Boolean) extends TableOperation
    final case class AddTableVersion(version: Version) extends TableOperation
    final case class AddPartitionVersion(partition: Partition, version: Version) extends TableOperation
    final case class RemovePartition(partition: Partition) extends TableOperation
  }

  /** Loud refusal of a read-modify-write commit whose read state was
    * concurrently invalidated (see [[TableVersions.commitRebase]]). The
    * caller's recovery is always the same: re-read the table, re-derive
    * the rewrite, re-commit. */
  final class ConcurrentWriteException(msg: String)
    extends java.util.ConcurrentModificationException(msg)

  /** What a commit's operations touch, for conflict detection. */
  sealed trait ConflictScope
  case object WholeTable extends ConflictScope {
    override def toString: String = "whole-table"
  }
  final case class Partitions(set: Set[Partition]) extends ConflictScope {
    override def toString: String =
      set.toList.map(_.hivePath).sorted.mkString("partitions{", ", ", "}")
  }

  /** Scope of an op list: any whole-table op (or an EMPTY list — metadata
    * commits like deletion-vector deletes whose row effect the ops don't
    * express) scopes the whole table; else the touched partition set. */
  def conflictScope(ops: List[TableOperation]): ConflictScope = {
    import TableOperation._
    if (ops.isEmpty || ops.exists {
          case _: AddTableVersion | _: InitTable => true
          case _                                 => false
        }) WholeTable
    else Partitions(ops.collect {
      case AddPartitionVersion(p, _) => p
      case RemovePartition(p)        => p
    }.toSet)
  }

  /** A named ref into a table's commit history: a BRANCH is a movable
    * pointer (write-audit-publish staging), a TAG is frozen at creation
    * (reproducibility anchors — "the state we trained on"). Refs never
    * affect what the current pointer serves; they only NAME commits. */
  final case class RefEntry(id: CommitId, isTag: Boolean)

  /**
   * Persisted state of a table: the full ordered update history plus the
   * current-version pointer (≠ head only after a rollback) and the named
   * refs (branches/tags) into that history.
   */
  final case class TableState(
      currentVersion: CommitId,
      updates: List[TableUpdate],
      refs: Map[String, RefEntry] = Map.empty)

  /** Replay history up to (and including) the commit the pointer names.
   *
   * The visible prefix is everything before the pointer plus the pointed-at
   * commit itself; after a rollback this is a strict prefix of the log, and
   * a subsequent commit (appended at the tail, pointer moved there) brings
   * every intermediate commit back into view — the reference's deliberate
   * rollback-then-commit behavior (reference `TableVersions.scala:32-41`).
   */
  def currentVersionFromState(state: TableState): TableVersion =
    replay(visibleUpdates(state, state.currentVersion).flatMap(_.operations))

  /** One metadata family folded at a commit: `inForce` is the value of
    * the newest commit at or before it that carries the family, `oldest`
    * the value of the family's oldest carrier in the log. Both None: no
    * visible commit carries the family. */
  final case class MetadataFold[+A](inForce: Option[A], oldest: Option[A]) {
    def map[B](f: A => B): MetadataFold[B] = MetadataFold(inForce.map(f), oldest.map(f))
  }

  /** THE metadata fold: resolve `family` at `at` over the same prefix the
    * version fold sees (so a rollback, a resurrecting commit and a staged
    * commit resolve exactly as the data does). An `at` outside the history
    * has nothing in force. A log checkpoint writes each family's newest
    * folded value onto its base commit, so the fold survives it. */
  def foldMetadata(state: TableState, family: String, at: CommitId): MetadataFold[String] = {
    def carried(us: Iterator[TableUpdate]) = us.flatMap(_.metadata.tableMetadata.get(family))
    val known = state.updates.exists(_.metadata.id == at)
    MetadataFold(
      if (known) carried(visibleUpdates(state, at).reverseIterator).nextOption() else None,
      carried(state.updates.iterator.filterNot(_.metadata.detached)).nextOption())
  }

  /** The prefix of updates a fold at `at` may see.
    *
    * DETACHED (staged) commits are excluded: they are history entries whose
    * data main readers must never serve until published — and because the
    * fold is a PREFIX of a linear list, a staged commit would otherwise
    * become visible the moment any later normal commit moved the pointer
    * past it. The one exception is an AUDIT READ: when the fold target
    * itself is a detached commit (`versionAt` on a branch ref), every
    * staged commit in the prefix is included — which is exactly the set
    * [[TableVersions.publish]] attaches, so the audited state and the
    * published state are the same state by construction. */
  private def visibleUpdates(state: TableState, at: CommitId): List[TableUpdate] = {
    val idx = state.updates.indexWhere(_.metadata.id == at)
    val visible = if (idx < 0) state.updates else state.updates.take(idx + 1)
    val auditRead = idx >= 0 && state.updates(idx).metadata.detached
    if (auditRead) visible else visible.filterNot(_.metadata.detached)
  }

  /** Fold a linear operation history into the table version it produces.
   * The head operation must be the table's `InitTable`, which fixes whether
   * we replay snapshot-style (keep the last full-table version) or
   * partitioned-style (last-writer-wins per partition). */
  def replay(operations: List[TableOperation]): TableVersion = {
    import TableOperation._
    operations match {
      case InitTable(_, true) :: rest =>
        val last = rest.foldLeft(Version.Unversioned) {
          case (_, AddTableVersion(v)) => v
          case (acc, _)                => acc
        }
        SnapshotTableVersion(last)
      case InitTable(_, false) :: rest =>
        val perPartition = rest.foldLeft(Map.empty[Partition, Version]) {
          case (acc, AddPartitionVersion(p, v)) => acc.updated(p, v)
          case (acc, RemovePartition(p))        => acc.removed(p)
          case (acc, _)                         => acc
        }
        PartitionedTableVersion(perPartition)
      case _ =>
        throw new IllegalStateException(
          "corrupt history: expected the table's init record at the head of the log")
    }
  }

  def unknownTableError(table: TableName): Exception =
    new NoSuchElementException(
      s"table ${table.fullyQualifiedName} is not tracked; call init first")

  def unknownCommitId(id: CommitId): Exception =
    new NoSuchElementException(s"no commit with id ${id.id} in this table's history")
}
