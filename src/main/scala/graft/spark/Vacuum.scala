package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import graft.core._

/**
 * Offline storage GC. The versioned layout never deletes data on write
 * (reference `VersionPaths.scala:15-22` — no delete code anywhere, flagged
 * in SURVEY.md §6 as unbounded storage overhead); `vacuum` reclaims space
 * by deleting version directories that no retained commit references.
 *
 * Retention: the states produced by the current pointer and by each of the
 * most recent `keepLast` commits are kept (so `checkout` to any of them
 * still works); everything older is deleted.
 *
 * Listing scale: the version-dir walk (the only part proportional to
 * #partitions × #versions) runs as ONE SPARK JOB PER LAYOUT LEVEL when a
 * session is supplied and the current fold crosses
 * `spark.graft.vacuum.distributedMinDirs` (default 1024) — the
 * [[Compaction]] distributed-listing shape: the frontier of partition
 * dirs fans out across executors, each listing its own subtree level,
 * and only (relative path, age) pairs return to the driver. Below the
 * threshold (or with no session) the walk stays a driver-side recursion
 * — cheaper than a job for small layouts. The sidecar listings
 * (`_stats`/`_deletes`/`_appends`, one single-level listing per root)
 * stay driver-side always; which `_deletes`/`_appends` dirs are live is a
 * fold of the log, not a probe. Both version-dir walks produce the SAME
 * set (pinned in `VacuumSpec`).
 *
 * Shallow-clone links: linked tables share one storage namespace, so
 * vacuum REFERENCE-COUNTS across the whole transitively linked family —
 * a dir reclaims only when no retained commit of ANY linked table
 * references it (retention parameters apply per table, per call). A link
 * naming an untracked table refuses loudly.
 *
 * Concurrent-writer safety: a `versionedInsertInto` in flight has written
 * (or is renaming) its version directories BEFORE its commit lands in the
 * log, so those dirs look unreferenced. A version dir younger than
 * `graceMs` is therefore never deleted. Age comes from the VERSION LABEL's
 * embedded timestamp (minted when the write begins), not the directory
 * mtime — rename preserves the staged mtime, so a long write job's early
 * partitions would look hours old the moment they land. The label clock
 * starts at write BEGIN, so the safety contract is: set `graceMs` larger
 * than your longest write job's duration (default 10 min); pass
 * `graceMs = 0` only when no writer can be running.
 */
object Vacuum {

  /** Default deletion grace for young version dirs (ms). */
  val DefaultGraceMs: Long = 10 * 60 * 1000L

  /** The version-dir walk as ONE SPARK JOB PER LAYOUT LEVEL (the
    * [[Compaction]] listedCounts shape): each round fans the frontier of
    * partition dirs (`k=v` path segments) across executors; version dirs
    * classify on the executor (label parse + age against `cutoff`) and
    * only (relative path, oldEnough) pairs return. Depth is bounded by
    * the partition-column count, so a 10⁶-partition table pays
    * #partition-columns jobs instead of 10⁶ driver round-trips. Produces
    * EXACTLY the driver recursion's set. */
  private def versionDirsDistributed(
      spark: org.apache.spark.sql.SparkSession,
      rootStr: String,
      cutoff: Long): List[(String, Boolean)] = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    var out = List.newBuilder[(String, Boolean)]
    var frontier: List[String] = List("")
    while (frontier.nonEmpty) {
      val slices = math.max(1,
        math.min(frontier.size, spark.sparkContext.defaultParallelism))
      val batch: Array[Either[(String, Boolean), String]] =
        spark.sparkContext.parallelize(frontier, slices).flatMap { rel =>
          val dir =
            if (rel.isEmpty) new HPath(rootStr) else new HPath(rootStr, rel)
          val dfs = dir.getFileSystem(conf.value)
          if (!dfs.exists(dir)) Iterator.empty
          else dfs.listStatus(dir).iterator.filter(_.isDirectory).flatMap { st =>
            val name = st.getPath.getName
            val childRel = if (rel.isEmpty) name else s"$rel/$name"
            Version.parse(name) match {
              case Right(v) =>
                Iterator(Left(childRel -> (v.timestamp.toEpochMilli < cutoff)))
              case Left(_) if name.contains("=") => Iterator(Right(childRel))
              case Left(_) => Iterator.empty
            }
          }
        }.collect()
      out ++= batch.collect { case Left(x) => x }
      frontier = batch.collect { case Right(d) => d }.toList
    }
    out.result()
  }

  /** Every table transitively linked to `start` by shallow-clone tags
    * (`clone:`/`cloned-from:`), `start` included — the tables whose
    * histories share one storage namespace and therefore vote on every
    * reclaim. A link naming a table the log does not track refuses
    * loudly: an unverifiable claim on shared dirs cannot be reference-
    * counted. */
  private[spark] def linkedFamily(
      log: TableVersions, start: TableName): List[TableName] = {
    def partnersOf(name: TableName): List[TableName] =
      log.refs(name).keys.toList.flatMap { tag =>
        val fq =
          if (tag.startsWith(ShallowClone.CloneTagPrefix))
            Some(tag.stripPrefix(ShallowClone.CloneTagPrefix))
          else if (tag.startsWith(ShallowClone.ClonedFromTagPrefix))
            Some(tag.stripPrefix(ShallowClone.ClonedFromTagPrefix))
          else None
        fq.map { f =>
          val parts = f.split("\\.", 2)
          require(parts.length == 2, s"malformed clone tag '$tag' on ${name.fullyQualifiedName}")
          val partner = TableName(parts(0), parts(1))
          try { log.currentCommit(partner); partner }
          catch {
            case _: NoSuchElementException =>
              throw new IllegalStateException(
                s"cannot vacuum ${start.fullyQualifiedName}: clone link names " +
                  s"${partner.fullyQualifiedName}, which this log does not track — " +
                  "sever the link (ShallowClone.unlink) first")
          }
        }.toList
      }
    var seen = Set(start)
    var frontier = List(start)
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(partnersOf).filterNot(seen)
      seen ++= next
      frontier = next
    }
    seen.toList.sortBy(_.fullyQualifiedName)
  }

  final case class Report(
      examined: Int, deleted: List[String], failed: List[String],
      /** true = nothing was touched; `deleted` is the WOULD-delete set */
      dryRun: Boolean = false)

  /** `keepLast` retains by commit COUNT; `retainMs` additionally retains by
    * commit AGE (every commit whose recorded timestamp is within the
    * window — the SQL `RETAIN n HOURS` spelling, Delta's wall-clock
    * contract). When both apply the retained set is the UNION: age-based
    * retention can only widen the count-based window, never narrow it
    * below the latest `keepLast` commits. */
  /** Fold size at which the version-dir walk becomes a Spark job. */
  val DefaultDistributedMinDirs: Int = 1024

  def vacuum(
      table: TableDefinition,
      log: TableVersions,
      hadoopConf: Configuration,
      keepLast: Int = 3,
      graceMs: Long = DefaultGraceMs,
      retainMs: Option[Long] = None,
      dryRun: Boolean = false,
      spark: Option[org.apache.spark.sql.SparkSession] = None): Report = {

    // a live shallow-clone link means MULTIPLE tables' histories reference
    // dirs under this shared location (the linked logs share one
    // namespace). Vacuum is REFERENCE-COUNTED across the link: every
    // transitively linked table contributes its retained states, stats
    // commits, and DV anchors, and a dir reclaims only when EVERY side
    // considers it dead. A link whose partner no longer resolves in the
    // log refuses loudly (a clone dropped without ShallowClone.unlink
    // leaves an unverifiable claim on the shared dirs).
    val family: List[TableName] = linkedFamily(log, table.name)

    // retained-commit rule, applied PER TABLE of the family: the newest
    // keepLast commits, the age window, every named ref, and the pointer
    def retainedIdsOf(name: TableName): List[TableVersions.CommitId] = {
      val updates = log.updates(name) // most recent first
      val byCount = updates.take(math.max(keepLast, 1))
      val byAge = retainMs.toList.flatMap { ms =>
        val cut = System.currentTimeMillis() - math.max(ms, 0L)
        // filter, NOT takeWhile: commit timestamps are minted by writers
        // BEFORE the table-lock append, so two racing writers can land in
        // the log out of timestamp order — a prefix scan would stop at the
        // first out-of-window stamp and silently drop an in-window commit
        // from retention
        updates.filter(_.timestamp.toEpochMilli >= cut)
      }
      // named refs PIN retention: a tag's state must stay readable for as
      // long as the tag exists (reproducibility is the tag's whole point),
      // and a staged branch commit under audit must not lose its data dirs
      // just because keepLast newer commits landed on main. versionAt on a
      // staged commit is the audit-read fold, so everything that read
      // serves is retained.
      val refIds = log.refs(name).values.map(_.id).toList
      ((byCount ++ byAge).map(_.id) ++ refIds).distinct
    }
    val retainedIds = retainedIdsOf(table.name)
    val states = family.flatMap { name =>
      log.currentVersion(name) ::
        retainedIdsOf(name).map(id => log.versionAt(name, id))
    }

    // every (relative dir, label) any retained state references — in the
    // ESCAPED on-disk form, which is what the directory listing yields
    // (raw hivePath here would doom live dirs of partitions whose values
    // need Hive escaping)
    // pending multi-table-transaction lines (prepare done, commit-point
    // marker not yet landed) reference dirs no fold sees — the marker can
    // land any moment, so those dirs are live-in-waiting, NOT orphans; a
    // vacuum past the grace window must not reclaim data of a transaction
    // whose marker then lands (checkpoint refuses on the same condition)
    val pendingRefs: Set[String] =
      family.flatMap(name => log.pendingOperations(name).collect {
        case TableVersions.TableOperation.AddTableVersion(v) => v.label
        case TableVersions.TableOperation.AddPartitionVersion(p, v) =>
          s"${SparkPaths.escapedPartitionPath(p)}/${v.label}"
      }).toSet
    val referenced: Set[String] = states.flatMap {
      case SnapshotTableVersion(v) => List(v.label)
      case PartitionedTableVersion(pvs) =>
        pvs.map { case (p, v) => s"${SparkPaths.escapedPartitionPath(p)}/${v.label}" }
    }.toSet ++ pendingRefs

    val fs = FileSystem.get(table.location, hadoopConf)
    val root = new HPath(table.location.toString.stripSuffix("/"))

    val cutoff = System.currentTimeMillis() - math.max(graceMs, 0L)

    // (relative dir, old enough to delete) — age from the label's embedded
    // creation instant (see the concurrent-writer note above)
    def versionDirsUnder(dir: HPath, prefix: String): List[(String, Boolean)] =
      if (!fs.exists(dir)) Nil
      else
        fs.listStatus(dir).toList.filter(_.isDirectory).flatMap { st =>
          val name = st.getPath.getName
          val rel = if (prefix.isEmpty) name else s"$prefix/$name"
          Version.parse(name) match {
            case Right(v) =>
              List(rel -> (v.timestamp.toEpochMilli < cutoff))
            case Left(_) if name.contains("=") => versionDirsUnder(st.getPath, rel)
            case Left(_) => Nil // _staging remnants etc. are not version dirs
          }
        }

    val foldSize = log.currentVersion(table.name) match {
      case PartitionedTableVersion(pvs) => pvs.size
      case _                            => 1
    }
    val distribute = spark.exists { s =>
      foldSize >= s.conf.get(
        "spark.graft.vacuum.distributedMinDirs",
        DefaultDistributedMinDirs.toString).toInt
    }
    val onDisk =
      if (distribute) versionDirsDistributed(spark.get, root.toString, cutoff)
      else versionDirsUnder(root, "")

    // zone-map sidecars ([[FileStats]]) follow their state's lifecycle:
    // `_stats/<label>` (snapshot states) reclaim when the label is
    // unreferenced; `_stats/commit-<id>` (partitioned states) reclaim when
    // the commit falls outside the keepLast window — both under a grace
    // rule (label clock for versions, dir mtime for commit sidecars, whose
    // ids carry no timestamp). The CURRENT POINTER's commit is always
    // retained: after a rollback its state's data dirs are deliberately
    // kept, and reclaiming its sidecar would orphan a live state's stats.
    val retainedCommitIds: Set[String] =
      family.flatMap(name =>
        log.currentCommit(name).id :: retainedIdsOf(name).map(_.id)).toSet
    val statsRoot = new HPath(root, "_stats")
    val statsOnDisk: List[(String, Boolean)] =
      if (!fs.exists(statsRoot)) Nil
      else fs.listStatus(statsRoot).toList.filter(_.isDirectory).flatMap { st =>
        val name = st.getPath.getName
        Version.parse(name) match {
          case Right(v) => List(s"_stats/$name" -> (v.timestamp.toEpochMilli < cutoff))
          case Left(_) if name.startsWith("commit-") &&
            !retainedCommitIds.contains(name.stripPrefix("commit-")) =>
            List(s"_stats/$name" -> (st.getModificationTime < cutoff))
          case Left(_) => Nil
        }
      }

    // deletion-vector and row-overlay sidecars (`_deletes` / `_appends`
    // `/commit-<id>`): a retained state resolves through EVERY sidecar its
    // walk names ([[MetadataFiles.sidecars]]) back to the nearest complete
    // one (or, for vectors, to a full rewrite that absorbed them), and
    // those anchors can be OLDER than the retention window — keeping only
    // retained ids would silently un-delete rows from live states. Keep
    // exactly the dirs some retained state (or the pointer) resolves
    // through, a fold of the log; each root is listed once, only to find
    // the rest — orphans of lost races and crashes, and dirs whose anchors
    // aged out of every retained walk — which reclaim under the mtime
    // grace.
    def sidecarsOnDisk(kind: String): List[(String, Boolean)] = {
      val needed: Set[String] = family.flatMap { name =>
        val defn = table.copy(name = name) // linked tables share the location
        (log.currentCommit(name) :: retainedIdsOf(name)).distinct
          .flatMap(c => MetadataFiles.sidecars(hadoopConf, log, defn, kind, Some(c)).map(_._1.id))
      }.toSet
      val listed =
        try fs.listStatus(new HPath(MetadataFiles.sidecarRoot(table, kind))).toList
        catch { case _: java.io.FileNotFoundException => Nil }
      listed.filter(_.isDirectory).flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("commit-") && !needed.contains(name.stripPrefix("commit-")))
          List(s"_$kind/$name" -> (st.getModificationTime < cutoff))
        else Nil
      }
    }
    val deletesOnDisk = sidecarsOnDisk(MetadataFiles.Deletes)
    val appendsOnDisk = sidecarsOnDisk(MetadataFiles.Appends)

    val doomed = (onDisk ++ statsOnDisk ++ deletesOnDisk ++ appendsOnDisk).collect {
      case (rel, oldEnough)
        if oldEnough && !referenced.contains(rel.stripPrefix("_stats/")) => rel
    }
    // DRY RUN reports the reclaim set without touching a byte — the
    // operator's pre-flight check (Delta's VACUUM ... DRY RUN)
    if (dryRun)
      return Report(
        examined = onDisk.size + statsOnDisk.size + deletesOnDisk.size + appendsOnDisk.size,
        deleted = doomed.sorted, failed = Nil, dryRun = true)
    // honor the delete result: a false return (permissions, races) must not
    // be reported as reclaimed space
    val (deleted, failed) =
      doomed.partition(rel => fs.delete(new HPath(root, rel), true))
    Report(
      examined = onDisk.size + statsOnDisk.size + deletesOnDisk.size + appendsOnDisk.size,
      deleted = deleted.sorted, failed = failed.sorted)
  }
}
