package graft.core

import java.util.concurrent.atomic.AtomicReference
import scala.annotation.tailrec

import TableVersions._

/**
 * In-memory commit log guarded by an `AtomicReference` CAS loop. Does not
 * persist state.
 *
 * Mirrors the reference implementation's `InMemoryTableVersions`
 * (`core/src/main/scala/com/gu/tableversions/core/InMemoryTableVersions.scala:11-71`),
 * with `AtomicReference` replacing cats-effect `Ref` + `modifyEither`
 * (`core/.../util/RichRef.scala:17-24`).
 */
final class InMemoryTableVersions extends TableVersions {

  private val ref = new AtomicReference[Map[TableName, TableState]](Map.empty)

  @tailrec
  private def modify(f: Map[TableName, TableState] => Either[Exception, Map[TableName, TableState]]): Unit = {
    val current = ref.get()
    f(current) match {
      case Left(e) => throw e
      case Right(updated) =>
        if (!ref.compareAndSet(current, updated)) modify(f)
    }
  }

  override def commit(table: TableName, update: TableUpdate): Unit =
    modify { states =>
      states.get(table) match {
        case None => Left(unknownTableError(table))
        case Some(state) if state.updates.exists(_.metadata.id == update.metadata.id) =>
          // ids resolve by first occurrence in the fold — a duplicate would
          // silently point "current" at the OLD commit (see the file log
          // impl for the same guard)
          Left(new IllegalArgumentException(
            s"commit id ${update.metadata.id.id} already exists in the history of ${table.fullyQualifiedName}"))
        case Some(state) =>
          // copy() — NOT a fresh TableState — so refs survive: rebuilding
          // the state from scratch silently wiped every branch/tag on each
          // ordinary commit
          val attached = update.copy(metadata = update.metadata.copy(detached = false))
          val newState = state.copy(
            currentVersion = attached.metadata.id, updates = state.updates :+ attached)
          Right(states + (table -> newState))
      }
    }

  /** One CAS over the whole table map IS the transaction: every reader
    * sees either the pre-image of all tables or the post-image of all. */
  override def commitAll(commits: Seq[(TableName, TableUpdate)]): Unit = {
    require(commits.map(_._1).distinct.size == commits.size,
      "commitAll: each table may appear at most once per transaction")
    if (commits.isEmpty) return
    modify { states =>
      val bad = commits.collectFirst {
        case (t, _) if !states.contains(t) => Left(unknownTableError(t))
        case (t, u) if states(t).updates.exists(_.metadata.id == u.metadata.id) =>
          Left(new IllegalArgumentException(
            s"commit id ${u.metadata.id.id} already exists in the history of ${t.fullyQualifiedName}"))
      }
      bad.getOrElse(Right(commits.foldLeft(states) { case (acc, (t, u)) =>
        val attached = u.copy(metadata = u.metadata.copy(detached = false))
        val s = acc(t)
        acc + (t -> s.copy(
          currentVersion = attached.metadata.id, updates = s.updates :+ attached))
      }))
    }
  }

  override def commitIf(
      table: TableName, update: TableUpdate, expected: CommitId): Boolean = {
    // the flag rides the CAS loop: only the attempt that wins the
    // compareAndSet leaves its value behind
    var applied = false
    modify { states =>
      states.get(table) match {
        case None => Left(unknownTableError(table))
        case Some(state) if state.updates.exists(_.metadata.id == update.metadata.id) =>
          Left(new IllegalArgumentException(
            s"commit id ${update.metadata.id.id} already exists in the history of ${table.fullyQualifiedName}"))
        case Some(state) if state.currentVersion != expected =>
          applied = false
          Right(states) // conflict: another writer moved the pointer — no-op
        case Some(state) =>
          applied = true
          val attached = update.copy(metadata = update.metadata.copy(detached = false))
          Right(states + (table -> state.copy(
            currentVersion = attached.metadata.id, updates = state.updates :+ attached)))
      }
    }
    applied
  }

  override def setCurrentVersion(table: TableName, id: CommitId): Unit =
    modify { states =>
      states.get(table) match {
        case None => Left(unknownTableError(table))
        case Some(state) =>
          state.updates.find(_.metadata.id == id) match {
            case None => Left(unknownCommitId(id))
            case Some(u) if u.metadata.detached =>
              Left(new IllegalArgumentException(
                s"commit ${id.id} is a staged (detached) commit; use publish to attach it"))
            case Some(_) =>
              Right(states + (table -> state.copy(currentVersion = id)))
          }
      }
    }

  override def commitDetached(table: TableName, update: TableUpdate): Unit =
    modify { states =>
      states.get(table) match {
        case None => Left(unknownTableError(table))
        case Some(state) if state.updates.exists(_.metadata.id == update.metadata.id) =>
          Left(new IllegalArgumentException(
            s"commit id ${update.metadata.id.id} already exists in the history of ${table.fullyQualifiedName}"))
        case Some(state) =>
          // the pointer does NOT move, and the update is STAMPED detached so
          // no pointer-based fold ever includes it until publish
          val staged = update.copy(metadata = update.metadata.copy(detached = true))
          Right(states + (table -> state.copy(updates = state.updates :+ staged)))
      }
    }

  override def publish(table: TableName, id: CommitId): Unit =
    modify { states =>
      states.get(table) match {
        case None => Left(unknownTableError(table))
        case Some(state) =>
          val idx = state.updates.indexWhere(_.metadata.id == id)
          if (idx < 0) Left(unknownCommitId(id))
          else {
            // one CAS: attach the at-or-before staged set and move the
            // pointer together — no interleaving where an attached commit
            // is mainline-visible before the pointer swap completes
            val attached = state.updates.zipWithIndex.map {
              case (u, i) if i <= idx && u.metadata.detached =>
                u.copy(metadata = u.metadata.copy(detached = false))
              case (u, _) => u
            }
            Right(states + (table -> state.copy(currentVersion = id, updates = attached)))
          }
      }
    }

  override def setRef(table: TableName, name: String, id: CommitId, isTag: Boolean): Unit =
    modify { states =>
      states.get(table) match {
        case None => Left(unknownTableError(table))
        case Some(state) =>
          try {
            validateRef(state, name, id, isTag)
            Right(states + (table -> state.copy(refs = state.refs + (name -> RefEntry(id, isTag)))))
          } catch { case e: Exception => Left(e) }
      }
    }

  override def deleteRef(table: TableName, name: String): Unit =
    modify { states =>
      states.get(table) match {
        case None => Left(unknownTableError(table))
        case Some(state) if !state.refs.contains(name) =>
          Left(new IllegalArgumentException(
            s"table ${table.fullyQualifiedName} has no ref named '$name'"))
        case Some(state) =>
          Right(states + (table -> state.copy(refs = state.refs - name)))
      }
    }

  override protected[core] def tableState(table: TableName): TableState =
    ref.get().getOrElse(table, throw unknownTableError(table))

  override protected[core] def handleInit(table: TableName)(newTableState: => TableState): Boolean = {
    var created = false
    modify { states =>
      created = !states.contains(table)
      if (created) Right(states + (table -> newTableState)) else Right(states)
    }
    created
  }
}
