package graft.spark

import graft.core.{InMemoryMetastore, Metastore, TableDefinition, TableName, TableVersion}
import graft.core.Metastore.TableChanges

/** An in-memory catalog that runs `afterUpdate` once each catalog sync has
  * applied — i.e. right after the log append of the commit being synced,
  * before the committing call returns. Tests arm it to land another
  * writer's commit, or a failure, in exactly that window. */
final class HookedMetastore extends Metastore {
  private val inner = new InMemoryMetastore
  @volatile var afterUpdate: TableName => Unit = _ => ()

  override def register(table: TableDefinition): Unit = inner.register(table)
  override def currentVersion(table: TableName): TableVersion = inner.currentVersion(table)
  override def update(table: TableName, changes: TableChanges): Unit = {
    inner.update(table, changes)
    afterUpdate(table)
  }
}
