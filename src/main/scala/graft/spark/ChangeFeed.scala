package graft.spark

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{abs, array_repeat, col, explode, lit, row_number, sum, when}

import graft.core._
import graft.core.TableVersions.CommitId

/**
 * ROW-LEVEL change feed (CDF) between two table states — the Delta
 * `table_changes` parity surface, and the fix for the one blind spot of
 * the partition-granular diff ([[VersionedReader.readChanges]]): a
 * deletion-vector DELETE moves no version pointer, so the partition diff
 * is empty while the logical table content changed.
 *
 * The feed carries every table column plus `_change_type`:
 *  - `insert` — a row visible at `to` that was not visible at `from`;
 *  - `delete` — a row visible at `from` that is not visible at `to`.
 *
 * Classification is at PARTITION-REFRESH granularity, the engine's write
 * model (there is no primary-key concept to pair an update's pre/post
 * images): a partition whose version moved emits its old visible contents
 * as `delete` and its new visible contents as `insert`; a partition whose
 * version did NOT move but whose rows were hidden by deletion vectors in
 * the range emits exactly the newly-hidden rows as `delete`. Replaying
 * the feed over the `from` state — drop the `delete` rows, add the
 * `insert` rows — reconstructs the `to` state EXACTLY (row-multiset
 * equality), which is the contract an incremental consumer (materialized
 * view, downstream merge) needs to converge.
 *
 * Scale shape: the version diff is O(#partitions) metadata; only moved
 * partitions' files are scanned (both endpoints' versions — the same
 * bound a partition-refresh emits); the DV diff is a set-difference of
 * two metadata-sized pair sidecars, and only the unchanged partitions
 * that actually own newly-hidden rows are scanned (file-list-scale
 * driver-side pruning, then one `(file, pos)` semi-join). Nothing here
 * reads partitions that didn't change.
 */
object ChangeFeed {

  val ChangeTypeCol = "_change_type"
  val Insert = "insert"
  val Delete = "delete"
  val UpdatePre = "update_preimage"
  val UpdatePost = "update_postimage"

  /** The change feed from `from` (exclusive; None = the pre-init void, so
    * everything visible at `to` is an insert) to `to` (inclusive). The
    * feed speaks the LOGICAL schema of the `to` state ([[ColumnMapping]]):
    * one uniform column set for every emitted row — a rename inside the
    * range projects the old generations' deletes under the current
    * logical names, the Delta-CDF latest-schema posture. */
  def read(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      from: Option[CommitId],
      to: CommitId): DataFrame = {
    val raw = read0(spark, log, table, from, to)
    if (raw.columns.isEmpty) raw
    else ColumnMapping.applyLogical(raw, spark, log, table, Some(to))
  }

  /** The KEYED change feed — the full Delta-CDF type vocabulary, derivable
    * only when the caller declares a row identity (`keys`, e.g. the
    * table's natural primary key). Two refinements over [[read]]:
    *
    *  1. NO-OP SUPPRESSION. A partition rewrite re-emits every row of the
    *     partition; rows whose full value is unchanged appear once as
    *     `delete` and once as `insert`. The keyed feed nets identical
    *     values out (multiset-correct: k deletes against n inserts of the
    *     same value leave |n-k| survivors), so untouched rows vanish from
    *     the feed — the minimal logical diff.
    *  2. UPDATE PAIRING. A surviving `delete` and `insert` sharing a key
    *     are the two halves of an in-place change: they re-emerge as
    *     `update_preimage` / `update_postimage`. Duplicate keys stay
    *     safe — each side is row-numbered deterministically (ordered by
    *     the full row value) within the key and paired 1-1 on
    *     `(key, rank)`; unpaired remainders stay plain insert/delete.
    *
    * Both steps are feed-sized (the changed rows, never the table): one
    * hash aggregate and one `(key)`-partitioned window + self-join.
    * [[replay]] understands the extended vocabulary, so the reconstruction
    * contract (from-state + feed == to-state) is preserved verbatim. */
  def readKeyed(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      from: Option[CommitId],
      to: CommitId,
      keys: Seq[String]): DataFrame = {
    val raw = read(spark, log, table, from, to)
    if (raw.columns.isEmpty) return raw
    val dataCols = raw.columns.filterNot(_ == ChangeTypeCol).toSeq
    require(keys.nonEmpty && keys.forall(dataCols.contains),
      s"change-feed keys $keys must be table columns $dataCols")
    keyedOn(raw, dataCols, keys, bypassNullKeys = false)
  }

  /** The KEYLESS keyed feed — ROW TRACKING ([[RowTracking]]): the
    * engine's stamped row id is the pairing key, so no caller-declared
    * key is needed. Rows whose id is NULL (written outside the stamping
    * paths) never pair — two unrelated untracked rows must not masquerade
    * as one update — and emit as plain insert/delete; everything else
    * gets exact per-row update classification. Same replay contract. */
  def readTracked(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      from: Option[CommitId],
      to: CommitId): DataFrame = {
    val idCol = RowTracking.trackingColumn(spark, log, table).getOrElse(sys.error(
      s"table ${table.name.fullyQualifiedName} has no row tracking — " +
        "RowTracking.enable (or declare an identity column) first"))
    val raw = read(spark, log, table, from, to)
    if (raw.columns.isEmpty) return raw
    val dataCols = raw.columns.filterNot(_ == ChangeTypeCol).toSeq
    require(dataCols.exists(_.equalsIgnoreCase(idCol)),
      s"tracking column $idCol missing from the feed columns $dataCols")
    keyedOn(raw, dataCols, Seq(idCol), bypassNullKeys = true)
  }

  /** Shared netting + pairing core of [[readKeyed]]/[[readTracked]]. */
  private def keyedOn(
      raw: DataFrame,
      dataCols: Seq[String],
      keys: Seq[String],
      bypassNullKeys: Boolean): DataFrame = {
    // 1. net identical full-row values: +1 per insert, -1 per delete;
    //    net 0 disappears, survivors re-expand to |net| rows of one type
    val netted = raw
      .groupBy(dataCols.map(col): _*)
      .agg(sum(when(col(ChangeTypeCol) === Insert, 1).otherwise(-1)).as("__cf_net"))
      .where(col("__cf_net") =!= 0)
      .withColumn(ChangeTypeCol,
        when(col("__cf_net") > 0, lit(Insert)).otherwise(lit(Delete)))
      .withColumn("__cf_dup", explode(array_repeat(lit(1), abs(col("__cf_net")).cast("int"))))
      .drop("__cf_net", "__cf_dup")
    // NULL-keyed rows: GROUP BY semantics pair them for DECLARED keys (a
    // null key is a group); for row tracking a NULL id means untracked —
    // bypass the pairing entirely
    val anyNullKey = keys.map(col(_).isNull).reduceLeft(_ || _)
    val pairable = if (bypassNullKeys) netted.where(!anyNullKey) else netted

    // 2. pair per key: rank each side deterministically, full-outer on
    //    (key, rank); both present = an update's two images
    val keyCols = keys.map(col)
    val ordered = Window.partitionBy(keyCols: _*)
      .orderBy(dataCols.map(c => col(c).asc_nulls_first): _*)
    val del = pairable.where(col(ChangeTypeCol) === Delete)
      .withColumn("__cf_rk", row_number().over(ordered))
    val ins = pairable.where(col(ChangeTypeCol) === Insert)
      .withColumn("__cf_rk", row_number().over(ordered))
    val joinCond = keys.map(k => del(k) <=> ins(k))
      .reduce(_ && _) && del("__cf_rk") === ins("__cf_rk")
    val paired = del.as("d").join(ins.as("i"), joinCond, "full_outer")

    def side(alias: String, tpe: Column): DataFrame = paired
      .where(col(s"$alias.$ChangeTypeCol").isNotNull)
      .select(dataCols.map(c => col(s"$alias.$c").as(c)) :+ tpe.as(ChangeTypeCol): _*)
    val dBoth = col(s"d.$ChangeTypeCol").isNotNull && col(s"i.$ChangeTypeCol").isNotNull
    val out = side("d", when(dBoth, lit(UpdatePre)).otherwise(lit(Delete)))
      .unionByName(side("i", when(dBoth, lit(UpdatePost)).otherwise(lit(Insert))))
    if (bypassNullKeys) out.unionByName(netted.where(anyNullKey)) else out
  }

  private def read0(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      from: Option[CommitId],
      to: CommitId): DataFrame = {
    // a range crossing a partition-evolution boundary has no single
    // logical schema to speak (the eras' reconstructed rows differ by
    // their partition columns) — refuse with the re-anchor remediation
    if (PartitionEvolution.crossesBoundary(spark, log, table, from, to))
      throw new IllegalStateException(
        s"change feed ${from.map(_.id).getOrElse("<void>")} -> ${to.id} on " +
          s"${table.name.fullyQualifiedName} crosses a partition-evolution " +
          "boundary: the two eras reconstruct different logical schemas — " +
          "re-anchor at-or-after the boundary commit, or rebuild the " +
          "consumer (REFRESH ... FULL)")
    val vFrom: TableVersion = from
      .map(log.versionAt(table.name, _))
      .getOrElse(emptyStateLike(log.versionAt(table.name, to)))
    val vTo = log.versionAt(table.name, to)
    val pairsFrom = from.flatMap(f => DeletionVectors.resolvePairs(spark, log, table, Some(f)))
    val pairsTo = DeletionVectors.resolvePairs(spark, log, table, Some(to))
    // pairs newly hidden inside the range; vector ABSORPTION (tombstones,
    // absorbing rewrites) only removes pairs and never re-exposes rows, so
    // the except direction is the whole story
    val newHidden = pairsTo.map(t => pairsFrom.fold(t)(f => t.exceptAll(f)))

    // merge-on-read row overlays ([[RowOverlay]]): dirs anchored inside the
    // range are INSERTS (minus rows already hidden at `to`); rows visible
    // at `from` whose overlay contribution ends inside the range — hidden
    // by a vector, or their partition replaced/removed — are DELETES. An
    // overlay SQUASH inside the range re-homes older rows under an
    // in-range anchor, which anchor-based attribution cannot express — so
    // ranged reads resolve against the PRE-squash dirs instead (they stay
    // on disk for time travel; [[RowOverlay.contributionsAcrossSquash]]
    // refuses only when vacuum reclaimed them). A void `from` needs no
    // attribution: the complete overlay state at `to` — squash folds
    // included — is all inserts.
    val fromAnchors: Set[CommitId] = from
      .map(f => log.updates(table.name).dropWhile(_.id != f).map(_.id).toSet)
      .getOrElse(Set.empty)
    val contribsTo = from match {
      case Some(_) =>
        val (contribs, skipped) =
          RowOverlay.contributionsAcrossSquash(spark, log, table, to, fromAnchors)
        // raw-dir rows key by their ORIGINAL (file, pos); the pair state
        // must not have moved since the skipped squash (a post-squash hide
        // references the re-landed file, a post-squash absorb tombstones
        // the raw one — either re-keys hiding invisibly to raw resolution)
        skipped.foreach { s =>
          val pairsAtSquash = DeletionVectors.resolvePairs(spark, log, table, Some(s))
          val moved = (pairsTo, pairsAtSquash) match {
            case (None, None)       => false
            case (Some(a), Some(b)) =>
              a.exceptAll(b).limit(1).count() > 0 || b.exceptAll(a).limit(1).count() > 0
            case _                  => true
          }
          if (moved)
            throw new IllegalStateException(
              s"change feed ${from.map(_.id).getOrElse("<void>")} -> ${to.id} on " +
                s"${table.name.fullyQualifiedName}: deletion vectors moved after the " +
                s"in-range row-overlay squash ${s.id}, which re-keys hiding in a way " +
                "pre-squash resolution cannot express — re-anchor the consumer " +
                "at-or-after the squash commit")
        }
        contribs
      case None => RowOverlay.contributions(spark, log, table, Some(to))
    }
    // one scan of a state's sources at `at`: physical names, the state's
    // own vectors applied unless `vectors` says otherwise
    def scan(
        at: CommitId,
        dirs: TableVersion = VersionedScan.NoDirs,
        overlays: List[RowOverlay.Contribution] = Nil,
        vectors: VersionedScan.Vectors = VersionedScan.Vectors.Live): DataFrame =
      VersionedScan(
        spark, log, table, Some(at), dirs = Some(dirs), overlays = Some(overlays),
        vectors = vectors)
    val overlayInserts: Option[DataFrame] = {
      val inRange = contribsTo.filterNot(c => fromAnchors.contains(c.anchor))
      if (inRange.isEmpty) None else Some(tag(scan(to, overlays = inRange), Insert))
    }
    val overlayDeletes: Option[DataFrame] = from.flatMap { f =>
      val contribsFrom = RowOverlay.contributions(spark, log, table, Some(f))
      if (contribsFrom.isEmpty) None
      else {
        val pvsOfF = log.versionAt(table.name, f)
        def leafAlive(p: Option[Partition]): Boolean = (pvsOfF, vTo) match {
          case (SnapshotTableVersion(a), SnapshotTableVersion(b)) => a == b
          case (PartitionedTableVersion(pa0), PartitionedTableVersion(pb0)) =>
            p.forall(pp => pa0.get(pp) == pb0.get(pp) && pa0.contains(pp))
          case _ => false
        }
        // a died leaf's every from-visible row is a delete (the overlay
        // contribution ended with the partition's replacement/removal);
        // a kept leaf's rows delete only when newly vector-hidden
        val split = contribsFrom.map(c => c.leaves.partition { case (p, _) => leafAlive(p) })
        val died = contribsFrom.zip(split).collect {
          case (c, (_, d)) if d.nonEmpty => c.copy(leaves = d)
        }
        val kept = contribsFrom.zip(split).collect {
          case (c, (k, _)) if k.nonEmpty => c.copy(leaves = k)
        }
        val diedRows = if (died.isEmpty) None else Some(scan(f, overlays = died))
        val keptRows = newHidden.filter(_ => kept.nonEmpty)
          .map(nh => scan(f, overlays = kept, vectors = VersionedScan.Vectors.Only(nh)))
        (diedRows.toList ++ keptRows.toList)
          .reduceOption(_.unionByName(_, allowMissingColumns = true))
          .map(tag(_, Delete))
      }
    }
    (vFrom, vTo) match {
      case (SnapshotTableVersion(a), SnapshotTableVersion(b)) if a != b =>
        // full replace: the whole visible-at-from state deletes, the whole
        // visible-at-to state inserts — both endpoint reads are already
        // overlay-inclusive, so the overlay branches must NOT add here
        val deletes = from
          .map(f => tag(DeletionVectors.read(spark, log, table, Some(f)), Delete))
        val inserts = tag(DeletionVectors.read(spark, log, table, Some(to)), Insert)
        deletes.fold(inserts)(_ unionByName inserts)

      case (SnapshotTableVersion(_), SnapshotTableVersion(b)) =>
        // version unchanged: DV hiding and overlay appends. The hidden-row
        // scan reads the state at `to` overlay-inclusive, so it already
        // covers newly-hidden overlay rows — only the in-range overlay
        // INSERTS need adding.
        val dvDel = newHidden
          .filter(_ => b != Version.Unversioned)
          .map(nh => tag(
            VersionedScan(
              spark, log, table, Some(to), vectors = VersionedScan.Vectors.Only(nh)),
            Delete))
        (dvDel.toList ++ overlayInserts.toList) match {
          case Nil          => emptyFeed(spark, log, table, to)
          case head :: rest =>
            rest.foldLeft(head)(_.unionByName(_, allowMissingColumns = true))
        }

      case (PartitionedTableVersion(pa), PartitionedTableVersion(pb)) =>
        val changedNew = pb.filter { case (p, v) => !pa.get(p).contains(v) }
        val changedOld = pa.filter { case (p, v) => !pb.get(p).contains(v) }
        val unchanged = pa.filter { case (p, v) => pb.get(p).contains(v) }

        val inserts =
          if (changedNew.isEmpty) None
          else Some(tag(scan(to, dirs = PartitionedTableVersion(changedNew)), Insert))
        val deletesOld =
          if (changedOld.isEmpty) None
          else Some(tag(
            scan(from.getOrElse(to), dirs = PartitionedTableVersion(changedOld)), Delete))
        // rows newly hidden in partitions that did NOT move: prune to the
        // partitions that own an affected file (driver-side on the
        // metadata-sized distinct-file list), then semi-join
        val dvDeletes = newHidden.flatMap { nh =>
          if (unchanged.isEmpty) None
          else {
            val files = nh.select(col("file")).distinct()
              .collect().map(_.getString(0))
            val affected = unchanged.filter { case (p, v) =>
              val seg = s"/${SparkPaths.escapedPartitionPath(p)}/${v.label}/"
              files.exists(_.contains(seg))
            }
            if (affected.isEmpty) None
            else Some(tag(
              scan(
                to, dirs = PartitionedTableVersion(affected),
                vectors = VersionedScan.Vectors.Only(nh)),
              Delete))
          }
        }
        (deletesOld.toList ++ dvDeletes.toList ++ inserts.toList ++
          overlayDeletes.toList ++ overlayInserts.toList) match {
          case Nil          => emptyFeed(spark, log, table, to)
          case head :: rest =>
            rest.foldLeft(head)(_.unionByName(_, allowMissingColumns = true))
        }

      case _ =>
        sys.error(
          s"table ${table.name.fullyQualifiedName} changed partitioning shape between commits")
    }
  }

  /** Replay `feed` over `base` (the `from` state): drop the delete rows,
    * add the insert rows — multiset semantics, the reconstruction contract
    * consumers verify against. */
  def replay(base: DataFrame, feed: DataFrame): DataFrame = {
    val deletes = feed
      .where(col(ChangeTypeCol).isin(Delete, UpdatePre)).drop(ChangeTypeCol)
    val inserts = feed
      .where(col(ChangeTypeCol).isin(Insert, UpdatePost)).drop(ChangeTypeCol)
    base.exceptAll(deletes).unionByName(inserts)
  }

  private def tag(df: DataFrame, tpe: String): DataFrame =
    df.withColumn(ChangeTypeCol, lit(tpe))

  /** Zero rows, schema = table columns + `_change_type` (quiet ranges must
    * keep resolving downstream references). */
  private def emptyFeed(
      spark: SparkSession,
      log: TableVersions,
      table: TableDefinition,
      to: CommitId): DataFrame = {
    val base = VersionedReader(spark, log).readAsOf(table, to)
    if (base.columns.isEmpty) base else tag(base.limit(0), Insert).limit(0)
  }

  /** The void twin of `shape` — an empty state of the same partitioning
    * kind, so the match arms below stay total. */
  private def emptyStateLike(shape: TableVersion): TableVersion = shape match {
    case SnapshotTableVersion(_)    => SnapshotTableVersion(Version.Unversioned)
    case PartitionedTableVersion(_) => PartitionedTableVersion(Map.empty)
  }
}
