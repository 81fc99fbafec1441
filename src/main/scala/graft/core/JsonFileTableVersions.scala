package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.time.Instant

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import TableVersions._

/**
 * Durable commit log: one JSON-lines file per table under `logDir`, e.g.
 * `<warehouse>/_versions/schema.name.jsonl`. Each line is a self-contained
 * record — a commit (with its operations) or a checkout (pointer move) —
 * and replaying the lines in order reconstructs the exact `TableState`.
 *
 * The reference keeps its log in memory only
 * (`core/src/main/scala/com/gu/tableversions/core/InMemoryTableVersions.scala:11-13`
 * — "Does not persist state") and relies on the metastore as durable truth;
 * this impl adds the durability the reference lacks (SURVEY.md §7.2 step 2).
 *
 * Crash safety: every mutation is a single fsync'd APPEND of whole lines —
 * O(commit) bytes, not O(history) (a rewrite-per-commit log pays
 * O(history²) bytes over a table's life). A crash mid-append can leave at
 * most one torn final line, which replay detects and ignores; every
 * complete line is durable.
 *
 * Concurrency: mutations take a per-table create-exclusive lock file
 * (optimistic, bounded retries) so concurrent writers — threads or
 * processes — serialize their read-append cycles instead of losing
 * updates. Readers never lock; whole-line appends plus torn-tail-tolerant
 * replay keep them consistent. A crashed writer's stale lock is broken
 * after [[JsonFileTableVersions.LockTimeoutMs]], with a token re-check
 * across a grace delay so a released-and-reacquired lock is never the one
 * broken.
 */
final class JsonFileTableVersions(logDir: Path) extends TableVersions {
  import JsonFileTableVersions._

  Files.createDirectories(logDir)
  private val mapper = new ObjectMapper()

  private def fileFor(table: TableName): Path =
    logDir.resolve(s"${table.fullyQualifiedName}.jsonl")

  // ------------------------------------------------------------- encoding

  private def opToJson(node: ObjectNode, op: TableOperation): ObjectNode = {
    import TableOperation._
    op match {
      case InitTable(name, snap) =>
        node.put("op", "init").put("table", name.fullyQualifiedName).put("snapshot", snap)
      case AddTableVersion(v) =>
        node.put("op", "add-table-version").put("version", v.label)
      case AddPartitionVersion(p, v) =>
        node.put("op", "add-partition-version").put("partition", p.hivePath).put("version", v.label)
      case RemovePartition(p) =>
        node.put("op", "remove-partition").put("partition", p.hivePath)
    }
  }

  private def opFromJson(node: ObjectNode): TableOperation = {
    import TableOperation._
    def partition = Partition.parse(node.get("partition").asText()).fold(sys.error, identity)
    def version   = Version.parse(node.get("version").asText()).fold(sys.error, identity)
    node.get("op").asText() match {
      case "init" =>
        val name = TableName.fromFullyQualified(node.get("table").asText()).fold(sys.error, identity)
        InitTable(name, node.get("snapshot").asBoolean())
      case "add-table-version"     => AddTableVersion(version)
      case "add-partition-version" => AddPartitionVersion(partition, version)
      case "remove-partition"      => RemovePartition(partition)
      case other                   => sys.error(s"unknown log operation: $other")
    }
  }

  private def commitLine(update: TableUpdate, txnPending: Option[String] = None): String = {
    val node = mapper.createObjectNode()
    node.put("record", "commit")
    node.put("id", update.metadata.id.id)
    node.put("user", update.metadata.userId.value)
    node.put("message", update.metadata.message.content)
    node.put("timestamp", update.metadata.timestamp.toString)
    // multi-table transaction membership: the line is INVISIBLE to replay
    // until `_txns/<id>.committed` exists (the transaction's commit point)
    txnPending.foreach { t => node.put("txnPending", t); () }
    if (update.metadata.detached) { node.put("detached", true); () }
    update.metadata.txn.foreach { t =>
      node.put("txnApp", t.appId)
      node.put("txnBatch", t.batchId)
      ()
    }
    if (update.metadata.tableMetadata.nonEmpty) {
      val m = node.putObject("tableMetadata")
      update.metadata.tableMetadata.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
    }
    val ops = node.putArray("operations")
    update.operations.foreach(op => ops.add(opToJson(mapper.createObjectNode(), op)))
    mapper.writeValueAsString(node)
  }

  private def checkoutLine(id: CommitId): String = {
    val node = mapper.createObjectNode()
    node.put("record", "checkout").put("id", id.id)
    mapper.writeValueAsString(node)
  }

  private def refLine(name: String, id: CommitId, isTag: Boolean): String = {
    val node = mapper.createObjectNode()
    node.put("record", "ref").put("name", name).put("id", id.id).put("tag", isTag)
    mapper.writeValueAsString(node)
  }

  private def refDeleteLine(name: String): String = {
    val node = mapper.createObjectNode()
    node.put("record", "ref-delete").put("name", name)
    mapper.writeValueAsString(node)
  }

  /** PUBLISH's attach record: clears a staged commit's detached mark in
    * place — the commit id, operations, and any sidecars keyed by the id
    * are untouched; only its fold visibility changes. */
  private def attachLine(id: CommitId): String = {
    val node = mapper.createObjectNode()
    node.put("record", "attach").put("id", id.id)
    mapper.writeValueAsString(node)
  }

  // -------------------------------------------------------------- replay

  private def parseLine(line: String): Rec = {
    val node = mapper.readTree(line).asInstanceOf[ObjectNode]
    node.get("record").asText() match {
      case "commit" =>
        val meta = TableUpdateMetadata(
          CommitId(node.get("id").asText()),
          UserId(node.get("user").asText()),
          UpdateMessage(node.get("message").asText()),
          Instant.parse(node.get("timestamp").asText()),
          // optional stream-txn marker (absent in pre-r11 logs)
          txn = Option(node.get("txnApp")).map(app =>
            StreamTxn(app.asText(), node.get("txnBatch").asLong())),
          detached = Option(node.get("detached")).exists(_.asBoolean()),
          // optional commit-carried table metadata (absent when none)
          tableMetadata = Option(node.get("tableMetadata")).map(_.properties.asScala
            .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty))
        val ops = node.get("operations").asInstanceOf[ArrayNode]
        CommitRec(
          TableUpdate(meta, (0 until ops.size()).toList
            .map(i => opFromJson(ops.get(i).asInstanceOf[ObjectNode]))),
          Option(node.get("txnPending")).map(_.asText()))
      case "checkout"   => CheckoutRec(CommitId(node.get("id").asText()))
      case "attach"     => AttachRec(CommitId(node.get("id").asText()))
      case "ref"        =>
        RefRec(node.get("name").asText(),
          RefEntry(CommitId(node.get("id").asText()), node.get("tag").asBoolean()))
      case "ref-delete" => RefDeleteRec(node.get("name").asText())
      case other        => sys.error(s"unknown log record: $other")
    }
  }

  /** A commit line of a multi-table transaction whose commit point never
    * landed: pending or aborted — invisible to every fold, not
    * addressable, exactly as if the append never happened. */
  private def pendingTxn(r: Rec): Boolean = r match {
    case CommitRec(_, Some(t)) => !txnCommitted(t)
    case _                     => false
  }

  /** Fold parsed lines into (updates, pointer, refs); None while no
    * visible commit moved the pointer. */
  private def fold(records: Vector[Rec]): Option[TableState] = {
    val updates = scala.collection.mutable.ListBuffer.empty[TableUpdate]
    var pointer: Option[CommitId] = None
    var refs = Map.empty[String, RefEntry]
    records.foreach {
      case r if pendingTxn(r) => ()
      case CommitRec(u, _) =>
        updates += u
        // a DETACHED commit (branch write) is history without a pointer
        // move — main readers never see it until published
        if (!u.metadata.detached) pointer = Some(u.metadata.id)
      case CheckoutRec(id) => pointer = Some(id)
      case AttachRec(id) =>
        // publish cleared a staged commit's detached mark in place
        val i = updates.indexWhere(_.metadata.id == id)
        if (i >= 0) {
          val u = updates(i)
          updates(i) = u.copy(metadata = u.metadata.copy(detached = false))
        }
      case RefRec(name, e)    => refs += name -> e
      case RefDeleteRec(name) => refs -= name
    }
    pointer.map(p => TableState(p, updates.toList, refs))
  }

  /** The parsed lines of one log file as of its `(fileKey, size, mtime)`
    * stat: `consumed` bytes (through the last newline) parsed into
    * `records`, `head` the file's first line. */
  private final class Parsed(
      val fileKey: AnyRef, val size: Long, val mtime: FileTime, val consumed: Long,
      val head: Array[Byte], val records: Vector[Rec]) {
    private val mayHidePending = records.exists {
      case CommitRec(_, Some(_)) => true
      case _                     => false
    }
    private lazy val stable = fold(records)
    /** The folded state. Lines of a multi-table transaction re-check its
      * marker on every fold; without them the fold cannot change until
      * the file does. */
    def state: Option[TableState] = if (mayHidePending) fold(records) else stable
  }

  /** THE LOG CACHE: each file's parsed lines, exact against the file.
    * One stat per read; an unchanged `(fileKey, size, mtime)` serves the
    * cached lines. A grown file with the same key and first line parses
    * only the newline-terminated bytes after `consumed`. Anything else — a
    * checkpoint or init rewrite (an atomic rename, which may reuse an
    * inode number of an older generation, but always writes a new first
    * line), a truncated or a vanished file — parses from scratch. */
  private val parsed = new java.util.concurrent.ConcurrentHashMap[TableName, Parsed]()

  /** Replay the file into (updates, pointer). Missing file → None.
    *
    * Only NEWLINE-TERMINATED lines are trusted: an unterminated tail is the
    * torn remainder of a crashed append, which [[appendLines]] removes
    * before the next write. Parsing it when it happens to be
    * complete JSON would let readers observe a commit the repair then
    * deletes — non-monotonic history. A malformed TERMINATED line is real
    * corruption and throws. */
  private def loadState(table: TableName): Option[TableState] =
    load(table).flatMap(_.state)

  private def load(table: TableName): Option[Parsed] = {
    val f = fileFor(table)
    val attrs =
      try Some(Files.readAttributes(f, classOf[BasicFileAttributes]))
      catch { case _: java.nio.file.NoSuchFileException => None }
    attrs match {
      case None =>
        parsed.remove(table)
        None
      case Some(a) =>
        val cached = Option(parsed.get(table))
        cached match {
          case Some(c) if c.fileKey == a.fileKey && c.size == a.size &&
              c.mtime == a.lastModifiedTime => cached
          case _ =>
            val next = reparse(f, a, cached)
            if (next.consumed == 0) parsed.remove(table) else parsed.put(table, next)
            Some(next)
        }
    }
  }

  private def reparse(f: Path, a: BasicFileAttributes, cached: Option[Parsed]): Parsed = {
    val ch = java.nio.channels.FileChannel.open(f, java.nio.file.StandardOpenOption.READ)
    try {
      def read(from: Long, until: Long): Array[Byte] = {
        val buf = java.nio.ByteBuffer.allocate((until - from).toInt)
        var p = from
        var n = 0
        while (buf.hasRemaining && n >= 0) {
          n = ch.read(buf, p)
          if (n > 0) p += n
        }
        java.util.Arrays.copyOf(buf.array(), buf.position())
      }
      val grown = cached.filter(c => c.fileKey == a.fileKey && a.size >= c.consumed &&
        java.util.Arrays.equals(read(0, c.head.length), c.head))
      val from = grown.fold(0L)(_.consumed)
      val raw = read(from, a.size)
      val end = raw.lastIndexOf('\n'.toByte) + 1
      val lines = new String(raw, 0, end, StandardCharsets.UTF_8)
        .split("\n").iterator.filter(_.nonEmpty).map(parseLine).toVector
      val head = grown.fold(raw.take(raw.indexOf('\n'.toByte) + 1))(_.head)
      new Parsed(a.fileKey, a.size, a.lastModifiedTime, from + end, head,
        grown.fold(lines)(_.records ++ lines))
    } finally ch.close()
  }

  /** Best-effort directory fsync: without it a crash can lose the DIRECTORY
    * ENTRY of a freshly created (and data-fsync'd) log file — the table
    * would reboot as "not tracked" with its acknowledged commits gone.
    * Opening a directory read-only works on Linux; platforms that refuse
    * simply skip (same best-effort posture as Lucene/Kafka). */
  private def fsyncDir(dir: Path = logDir): Unit =
    try {
      val ch = java.nio.channels.FileChannel.open(
        dir, java.nio.file.StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    } catch { case _: java.io.IOException => () }

  /** All-or-nothing (re)write of a table's log file: temp + data fsync +
    * ATOMIC_MOVE + directory fsync — the crash-safe sequence both init and
    * checkpoint rely on (a multi-line state must never surface torn, and
    * an un-fsync'd file could reboot as missing after a crash). */
  private def atomicWrite(table: TableName, content: String): Unit = {
    val tmp = Files.createTempFile(logDir, s".${table.fullyQualifiedName}", ".tmp")
    Files.writeString(tmp, content)
    locally {
      val ch = java.nio.channels.FileChannel.open(
        tmp, java.nio.file.StandardOpenOption.WRITE)
      try ch.force(true) finally ch.close()
    }
    Files.move(tmp, fileFor(table),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    fsyncDir()
  }

  /** True append: O(lines) bytes per commit, fsync'd before returning.
    * Runs under the table lock after the caller's read, which parsed the
    * file through its last newline: bytes past that are the torn tail of
    * a crashed append, truncated first so our lines start on a clean
    * boundary. */
  private def appendLines(table: TableName, lines: Seq[String]): Unit = {
    val clean = load(table).fold(0L)(_.consumed)
    val bytes = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    val ch = java.nio.channels.FileChannel.open(
      fileFor(table), java.nio.file.StandardOpenOption.WRITE)
    try {
      if (ch.size() > clean) ch.truncate(clean)
      val buf = java.nio.ByteBuffer.wrap(bytes)
      var at = clean
      while (buf.hasRemaining) at += ch.write(buf, at)
      ch.force(true)
    } finally ch.close()
  }

  /** Serialize a read-modify-rename cycle under a create-exclusive lock
    * file carrying a unique owner token.
    *
    * REQUIREMENT — POSIX/HDFS filesystem semantics: correctness rests on
    * atomic CREATE_NEW (the lock acquire), atomic whole-file rename (the
    * stale-lock break and checkpoint/init rewrites), and read-after-write
    * visibility of appends. Plain S3 provides none of these (CREATE_NEW is
    * not atomic, rename is copy+delete): do NOT point `logDir` at a bare
    * object-store path with concurrent writers. The production posture
    * there is the same as Delta's: either a consistency layer that restores
    * atomic create (S3A + a DynamoDB-style lock client), or a single-writer
    * deployment where this lock only guards against same-host races. The
    * data plane is unaffected — version dirs are never referenced until
    * the commit lands, whatever the store.
    *
    * Guarantee (and its limit): critical sections here are small-file reads
    * and an atomic rename — milliseconds — and `LockTimeoutMs` (30 s) is the
    * liveness bound a holder must finish within; a lock older than that is
    * treated as a crashed holder's. Breaking is itself race-free: the
    * breaker must win an ATOMIC_MOVE of the stale lock to a unique name, so
    * of N waiters exactly one breaks it and the others loop back to the
    * create-exclusive acquire. Release deletes the lock only while it still
    * carries our token. */
  private def withTableLock[A](table: TableName)(body: => A): A = {
    val lock = logDir.resolve(s".${table.fullyQualifiedName}.lock")
    val token = java.util.UUID.randomUUID().toString
    var acquired = false
    while (!acquired) {
      try {
        Files.write(lock, token.getBytes(StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        acquired = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val stale =
            try {
              val age = System.currentTimeMillis() -
                Files.getLastModifiedTime(lock).toMillis
              age > LockTimeoutMs
            } catch { case _: java.io.IOException => false } // lock vanished — retry
          if (stale) {
            // before breaking, confirm the SAME holder is still stuck: read
            // the token, wait a grace beat, re-read. A lock that was
            // released and re-acquired in between carries a new token and
            // is never broken. Then the break itself is atomic: only the
            // waiter whose rename succeeds removes the corpse; a lost race
            // means someone else broke or holds it.
            val tokenOf: () => Option[String] = () =>
              try Some(new String(Files.readAllBytes(lock), StandardCharsets.UTF_8))
              catch { case _: java.io.IOException => None }
            val before = tokenOf()
            Thread.sleep(LockBreakRecheckMs)
            val after = tokenOf()
            if (before.isDefined && before == after) {
              val corpse = logDir.resolve(s"${lock.getFileName}.broken.${java.util.UUID.randomUUID()}")
              try {
                Files.move(lock, corpse, StandardCopyOption.ATOMIC_MOVE)
                // post-move token check closes the remaining TOCTOU window:
                // if the old holder released and a NEW writer acquired
                // between the re-read and the move, the moved file carries
                // the new writer's token — restore it rather than admitting
                // a second writer. The restore is a PLAIN move (refuses an
                // existing target): an ATOMIC_MOVE maps to rename(2) on
                // Linux, which silently REPLACES a third waiter's freshly
                // created lock — exactly the double-writer admission this
                // path exists to prevent. If the restore loses that race,
                // the corpse is left for inspection; deleting it would
                // release a live writer's lock.
                val movedToken =
                  try Some(new String(Files.readAllBytes(corpse), StandardCharsets.UTF_8))
                  catch { case _: java.io.IOException => None }
                if (movedToken == after) Files.deleteIfExists(corpse)
                else Files.move(corpse, lock)
              } catch { case _: java.io.IOException => () }
            }
          } else Thread.sleep(LockRetryMs)
      }
    }
    try body
    finally {
      try {
        if (Files.exists(lock) &&
          new String(Files.readAllBytes(lock), StandardCharsets.UTF_8) == token)
          Files.deleteIfExists(lock)
      } catch { case _: java.io.IOException => () }
    }
  }

  // ------------------------------------------------------------ contract

  /** The table's state, refusing `id` if it already names a commit: ids
    * resolve by FIRST occurrence in the fold, so a duplicate (e.g. a blind
    * retry reusing the same TableUpdate) would make the pointer silently
    * resolve to the OLD commit, hiding everything after it. */
  private def freshState(table: TableName, id: CommitId): TableState = {
    val state = tableState(table)
    if (state.updates.exists(_.metadata.id == id))
      throw new IllegalArgumentException(
        s"commit id ${id.id} already exists in the history of ${table.fullyQualifiedName}")
    state
  }

  override def commit(table: TableName, update: TableUpdate): Unit =
    withTableLock(table) {
      freshState(table, update.metadata.id)
      appendLines(table,
        Seq(commitLine(update.copy(metadata = update.metadata.copy(detached = false)))))
    }

  /** Multi-table transaction, two phases with a single atomic commit point
    * (WAL-marker protocol):
    *
    *  1. PREPARE — per table (name-ordered, each under its own lock), append
    *     a commit line carrying `txnPending = <txn id>`. Replay skips such
    *     lines while the marker is absent, so nothing is visible yet; a
    *     crash here aborts the transaction wholesale (the lines stay as
    *     dead weight, the staged version dirs unreferenced — vacuum's
    *     ordinary posture).
    *  2. COMMIT POINT — one atomic CREATE_NEW of `_txns/<id>.committed`.
    *     Every table's replay flips together on that single filesystem
    *     event: all-or-nothing visibility with no cross-table lock.
    *
    * All tables are validated (tracked, fresh commit ids) before any line
    * is appended, so validation failures leave no trace at all. */
  override def commitAll(commits: Seq[(TableName, TableUpdate)]): Unit = {
    require(commits.map(_._1).distinct.size == commits.size,
      "commitAll: each table may appear at most once per transaction")
    if (commits.isEmpty) return
    if (commits.size == 1) return commit(commits.head._1, commits.head._2)
    txnMarkerCreate(txnPrepare(commits))
  }

  /** Phase 1 (package-visible so the contract suite can simulate a crash
    * between prepare and commit point). Returns the transaction id. */
  private[core] def txnPrepare(commits: Seq[(TableName, TableUpdate)]): String = {
    // validate everything first — a failed transaction should leave nothing
    commits.foreach { case (t, u) => freshState(t, u.metadata.id) }
    val txnId = java.util.UUID.randomUUID().toString
    commits.sortBy(_._1.fullyQualifiedName).foreach { case (t, u) =>
      withTableLock(t) {
        freshState(t, u.metadata.id)
        appendLines(t, Seq(commitLine(
          u.copy(metadata = u.metadata.copy(detached = false)), txnPending = Some(txnId))))
      }
    }
    txnId
  }

  /** Phase 2: the commit point. Create-exclusive + dir fsync — after this
    * returns, every table's pending lines replay as ordinary commits. */
  private[core] def txnMarkerCreate(txnId: String): Unit = {
    Files.createDirectories(txnDir)
    Files.write(txnDir.resolve(s"$txnId.committed"), Array.emptyByteArray,
      java.nio.file.StandardOpenOption.CREATE_NEW)
    // the marker's directory entry must survive a crash, like the log's
    fsyncDir(txnDir)
  }

  private def txnDir: Path = logDir.resolve("_txns")

  /** Committed-marker check; positives cache forever (a marker is never
    * deleted — the cheap, immutable record that the transaction landed). */
  private def txnCommitted(txnId: String): Boolean =
    JsonFileTableVersions.committedTxns.contains(txnId) || {
      val yes = Files.exists(txnDir.resolve(s"$txnId.committed"))
      if (yes) JsonFileTableVersions.committedTxns.add(txnId)
      yes
    }

  /** Does the log hold pending-transaction lines (marker absent)?
    * Replay skips them, so [[checkpoint]] must refuse rather than rewrite
    * them away — a marker landing later would otherwise resurrect the
    * transaction on SOME tables only. */
  private def hasPendingTxnLines(table: TableName): Boolean =
    load(table).exists(_.records.exists(pendingTxn))

  /** The ops of every pending-transaction line (marker absent) — the
    * version dirs they reference are live-in-waiting; see
    * [[TableVersions.pendingOperations]]. */
  override def pendingOperations(table: TableName): List[TableOperation] =
    load(table).toList.flatMap(_.records.collect {
      case r @ CommitRec(u, _) if pendingTxn(r) => u.operations
    }.flatten)

  override def commitIf(
      table: TableName, update: TableUpdate, expected: CommitId): Boolean =
    withTableLock(table) {
      // state re-loads INSIDE the lock, so the pointer check and the append
      // are one serialized step against every other mutating writer
      val state = freshState(table, update.metadata.id)
      if (state.currentVersion != expected) false
      else {
        appendLines(table,
          Seq(commitLine(update.copy(metadata = update.metadata.copy(detached = false)))))
        true
      }
    }

  override def setCurrentVersion(table: TableName, id: CommitId): Unit =
    withTableLock(table) {
      val state = tableState(table)
      state.updates.find(_.metadata.id == id) match {
        case None => throw unknownCommitId(id)
        case Some(u) if u.metadata.detached =>
          throw new IllegalArgumentException(
            s"commit ${id.id} is a staged (detached) commit; use publish to attach it")
        case Some(_) => appendLines(table, Seq(checkoutLine(id)))
      }
    }

  override def commitDetached(table: TableName, update: TableUpdate): Unit =
    withTableLock(table) {
      freshState(table, update.metadata.id)
      appendLines(table,
        Seq(commitLine(update.copy(metadata = update.metadata.copy(detached = true)))))
    }

  override def publish(table: TableName, id: CommitId): Unit =
    withTableLock(table) {
      val state = tableState(table)
      val idx = state.updates.indexWhere(_.metadata.id == id)
      if (idx < 0) throw unknownCommitId(id)
      // one fsync'd append: attach records for the at-or-before staged set,
      // then the checkout that swaps the pointer. A crash mid-append can at
      // worst leave some attach records without the checkout — staged
      // commits the user was publishing anyway become attached and the
      // retryable publish completes the swap; no unaudited data gains
      // visibility (the attach set IS the audit-read set).
      val attaches = state.updates.take(idx + 1)
        .filter(_.metadata.detached).map(u => attachLine(u.metadata.id))
      appendLines(table, attaches :+ checkoutLine(id))
    }

  override def setRef(table: TableName, name: String, id: CommitId, isTag: Boolean): Unit =
    withTableLock(table) {
      val state = tableState(table)
      validateRef(state, name, id, isTag)
      appendLines(table, Seq(refLine(name, id, isTag)))
    }

  override def deleteRef(table: TableName, name: String): Unit =
    withTableLock(table) {
      val state = tableState(table)
      if (!state.refs.contains(name))
        throw new IllegalArgumentException(
          s"table ${table.fullyQualifiedName} has no ref named '$name'")
      appendLines(table, Seq(refDeleteLine(name)))
    }

  /** Fold the oldest history into a synthetic BASE commit, keeping the last
    * `keepLast` commits individually replayable — the log checkpoint that
    * bounds replay cost: without it every read folds O(#commits) lines over
    * a table's life; after a checkpoint the file holds one folded base plus
    * the retained tail (Delta/Iceberg checkpoint semantics, metadata-only).
    *
    * Contract changes, by design: `versionAt`/`setCurrentVersion` for
    * commits OLDER than the base now fail with the unknown-commit error —
    * checkpointing IS the time-travel retention knob (pair it with
    * [[graft.spark.Vacuum]], which reclaims the data dirs of the same
    * horizon). The base keeps the folded-at commit's id/metadata, so that
    * commit itself stays addressable and the current pointer — required to
    * sit at or after the base — keeps resolving. The base also carries the
    * newest value of every table-metadata family the folded prefix
    * carried, so [[TableVersions.foldMetadata]] resolves the same at every
    * retained commit; of the [[TableVersions.CommitFacts]] it keeps only
    * its own. The rewrite is temp + fsync + atomic rename under
    * the table lock; readers replay either the old file or the new one,
    * never a mix.
    *
    * @return true if the log was rewritten, false if already minimal. */
  def checkpoint(table: TableName, keepLast: Int): Boolean = withTableLock(table) {
    require(keepLast >= 0, s"keepLast must be non-negative, got $keepLast")
    // a pending multi-table transaction line is invisible to replay, so the
    // rewrite would silently drop it — and a marker landing later would
    // then resurrect the transaction on some tables but not this one
    if (hasPendingTxnLines(table))
      throw new IllegalStateException(
        s"table ${table.fullyQualifiedName} holds commit lines of a PENDING " +
          "multi-table transaction; commit or abandon it (vacuum) before checkpointing")
    val state = tableState(table)
    val n = state.updates.size
    if (n <= keepLast + 1) false
    else {
      val (prefix, tail) = state.updates.splitAt(n - keepLast)
      val base = prefix.last
      // an unpublished STAGED commit must never fold into the base: its ops
      // would silently join the mainline state the fold excludes them from
      prefix.filter(_.metadata.detached).foreach { u =>
        throw new IllegalStateException(
          s"staged (detached) commit ${u.metadata.id.id} is older than the checkpoint " +
            "base; publish it or delete its ref and vacuum, or raise keepLast")
      }
      require(
        state.currentVersion == base.metadata.id ||
          tail.exists(_.metadata.id == state.currentVersion),
        s"current pointer ${state.currentVersion.id} names a commit older than the " +
          s"checkpoint base; roll forward or raise keepLast")
      val ops = TableVersions.replay(prefix.flatMap(_.operations)) match {
        case SnapshotTableVersion(v) =>
          TableOperation.InitTable(table, isSnapshot = true) ::
            (if (v == Version.Unversioned) Nil else List(TableOperation.AddTableVersion(v)))
        case PartitionedTableVersion(pvs) =>
          TableOperation.InitTable(table, isSnapshot = false) ::
            pvs.toList.sortBy(_._1.hivePath)
              .map { case (p, v) => TableOperation.AddPartitionVersion(p, v) }
      }
      // refs must survive the fold: a ref naming a folded-away commit would
      // dangle (its fold prefix is gone) — refuse loudly, like the pointer
      state.refs.foreach { case (name, r) =>
        require(
          r.id == base.metadata.id || tail.exists(_.metadata.id == r.id),
          s"ref '$name' names commit ${r.id.id}, older than the checkpoint base; " +
            "delete or advance the ref, or raise keepLast")
      }
      // newest wins; a folded commit's own facts would name sidecars at the
      // base commit that do not exist
      val carried = prefix.flatMap(_.metadata.tableMetadata)
        .filterNot { case (k, _) => CommitFacts(k) }.toMap ++ base.metadata.tableMetadata
      val rewritten = TableUpdate(base.metadata.copy(tableMetadata = carried), ops) :: tail
      // commits re-emit with their TRUE detached flags (a staged tail
      // commit must stay staged through a checkpoint) and one explicit
      // checkout pins the pointer wherever the original history left it
      val refLines = state.refs.toList.sortBy(_._1)
        .map { case (name, r) => refLine(name, r.id, r.isTag) }
      atomicWrite(table,
        (rewritten.map(commitLine(_)) ++ refLines ++
          List(checkoutLine(state.currentVersion))).mkString("", "\n", "\n"))
      true
    }
  }

  override protected[core] def tableState(table: TableName): TableState =
    loadState(table).getOrElse(throw unknownTableError(table))

  override protected[core] def handleInit(table: TableName)(newTableState: => TableState): Boolean =
    withTableLock(table) {
      loadState(table).isEmpty && {
        val state = newTableState
        // init creates the file whole (appends are single-line afterwards)
        atomicWrite(table, state.updates.map(commitLine(_)).mkString("", "\n", "\n"))
        true
      }
    }
}

object JsonFileTableVersions {
  import TableVersions._

  private[core] val LockTimeoutMs = 30000L
  private[core] val LockRetryMs = 5L
  private[core] val LockBreakRecheckMs = 50L

  /** One parsed log line. A commit keeps its multi-table transaction id
    * while it carries one: whether the line is visible depends on the
    * transaction's marker, which is re-checked on every fold. */
  private sealed trait Rec
  private final case class CommitRec(update: TableUpdate, txnPending: Option[String]) extends Rec
  private final case class CheckoutRec(id: CommitId) extends Rec
  private final case class AttachRec(id: CommitId) extends Rec
  private final case class RefRec(name: String, entry: RefEntry) extends Rec
  private final case class RefDeleteRec(name: String) extends Rec

  /** Positive-only marker cache shared across instances (a committed
    * transaction never un-commits; negatives are re-checked on disk). */
  private val committedTxns =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def apply(logDir: String): JsonFileTableVersions =
    new JsonFileTableVersions(Paths.get(logDir))
}
