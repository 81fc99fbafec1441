package graft.core

import TableVersions._

/** A [[TableVersions]] that delegates to `inner` and runs `beforeAppend`
  * once, just ahead of the next `commit` / `commitIf` — i.e. after the
  * committing writer read the log and before its append. Tests arm it to
  * land another writer's commit, or a failure, in exactly that window.
  * The hook disarms before it runs, so a commit it makes passes through. */
final class HookedTableVersions(inner: TableVersions) extends TableVersions {
  @volatile var beforeAppend: TableName => Unit = _ => ()

  private def fire(table: TableName): Unit = {
    val hook = beforeAppend
    beforeAppend = _ => ()
    hook(table)
  }

  override def commit(table: TableName, update: TableUpdate): Unit = {
    fire(table)
    inner.commit(table, update)
  }
  override def commitIf(table: TableName, update: TableUpdate, expected: CommitId): Boolean = {
    fire(table)
    inner.commitIf(table, update, expected)
  }
  override def commitAll(commits: Seq[(TableName, TableUpdate)]): Unit = inner.commitAll(commits)
  override def setCurrentVersion(table: TableName, id: CommitId): Unit =
    inner.setCurrentVersion(table, id)
  override def commitDetached(table: TableName, update: TableUpdate): Unit =
    inner.commitDetached(table, update)
  override def publish(table: TableName, id: CommitId): Unit = inner.publish(table, id)
  override def pendingOperations(table: TableName): List[TableOperation] =
    inner.pendingOperations(table)
  override def setRef(table: TableName, name: String, id: CommitId, isTag: Boolean): Unit =
    inner.setRef(table, name, id, isTag)
  override def deleteRef(table: TableName, name: String): Unit = inner.deleteRef(table, name)
  override protected[core] def tableState(table: TableName): TableState = inner.tableState(table)
  override protected[core] def handleInit(table: TableName)(newTableState: => TableState): Boolean =
    inner.handleInit(table)(newTableState)
}
