package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, monotonically_increasing_id, when}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core._
import graft.core.TableVersions.{UpdateMessage, UserId}
import graft.spark.VersionContext.DatasetVersionOps

/**
 * MERGE (upsert) onto a versioned table — the `MERGE INTO t USING s ON
 * t.k = s.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`
 * of Delta/Iceberg, expressed as copy-on-write over the versioned layout
 * (the reference has per-partition version commits but no row-level DML;
 * this composes its write primitive — `spark/.../VersionContext.scala:53-90`
 * overwrite-partitions-present — into the table-format operation users
 * reach for first).
 *
 * Copy-on-write granularity: for a partitioned table, ONLY the partitions
 * present in the source are read and rewritten; every other partition's
 * version pointer is untouched, so a merge that updates one partition of a
 * 100 TB table reads and writes one partition, not the table. Snapshot
 * tables rewrite the whole snapshot (their commit granularity is the table).
 *
 * The result is an ordinary commit: time travel shows the pre-merge state,
 * checkout rolls it back, and readers flip atomically at the commit.
 *
 * Plan shape: one shuffle equi-join (anti) on the merge key between the
 * touched-partition scan and the source, then the standard versioned write.
 * Nothing row-sized reaches the driver; the only collect is the source's
 * distinct partition values (#partitions rows, same bound as the write
 * path's own discovery).
 */
object Merge {

  /** The pointer columns of a pointed [[VersionedScan]], which the
    * merge-on-read MERGE threads through the clause join (always dropped
    * before output). */
  private val MorFileCol = VersionedScan.FileCol
  private val MorPosCol = VersionedScan.PosCol

  /** Apply `source` to `table` by `keyCols`: matched current rows are
    * replaced by their source row, unmatched source rows are inserted,
    * unmatched current rows are kept. The source must be unique per key —
    * duplicate source keys would both survive (pre-aggregate if unsure).
    * The source must carry exactly the table's columns (including the
    * partition columns for a partitioned table). */
  def mergeInto(
      ctx: VersionContext,
      log: TableVersions,
      table: TableDefinition,
      source: DataFrame,
      keyCols: Seq[String],
      userId: UserId,
      message: UpdateMessage,
      txn: Option[TableVersions.StreamTxn] = None): Unit = {
    require(keyCols.nonEmpty, "merge requires at least one key column")
    require(
      keyCols.forall(source.columns.contains),
      s"merge key columns ${keyCols.mkString(", ")} must all exist in the source")
    PartitionEvolution.requireUniformFold(log, table, "MERGE")
    val spark = source.sparkSession
    // the state this rewrite derives from: the commit below REBASES over
    // concurrent disjoint-partition commits and refuses loudly if anything
    // landed on the partitions being rewritten (the lost-update window
    // between this read and the commit, closed)
    val readCommit = log.currentCommit(table.name)
    // persist across touched-partition discovery and the final write: a
    // non-deterministic source re-evaluated between the two could touch
    // partitions the discovery never saw (same guard as SQL INSERT INTO)
    val src = source.persist()
    try {
      // DV-aware: a raw read would resurrect merge-on-read-deleted rows
      // into the rewritten partitions (and match them as upsert targets)
      val current = VersionedScan(
        spark, log, table,
        partitions =
          if (table.isSnapshot) None
          else Some(VersionContext.partitionValues(src, table.partitionSchema).toSet),
        names = VersionedScan.Names.AtState)
      // a source missing one of the table's columns would silently REWRITE
      // the touched partitions without it (kept rows are projected to the
      // source's columns) — refuse instead; additive evolution goes the
      // other way (extra source columns), via readMergedSchema on the read
      // the ENGINE-OWNED identity / row-tracking column is never the
      // source's to supply (GENERATED ALWAYS): it is exempt from the
      // every-column rule and rejected if present
      val idCol = IdentityColumns.declared(spark, log, table)
      idCol.foreach(c => require(!source.columns.exists(_.equalsIgnoreCase(c)),
        s"identity column $c is GENERATED ALWAYS — the merge source must not supply it"))
      if (current.columns.nonEmpty) {
        val missing = current.columns.filterNot(c =>
          source.columns.exists(_.equalsIgnoreCase(c)) ||
            idCol.exists(_.equalsIgnoreCase(c)))
        require(missing.isEmpty,
          s"merge source must carry every current table column; missing: ${missing.mkString(", ")}")
      }
      // WHEN MATCHED UPDATE SET * ≡ drop the matched current rows and take
      // the source row instead; the anti-join tolerates duplicate source
      // keys without inflating, so no distinct pass is needed on the keys
      val kept =
        if (current.columns.isEmpty) src.limit(0) // never-written table
        else current.join(src.select(keyCols.map(col): _*), keyCols, "left_anti")
      // ADDITIVE SCHEMA EVOLUTION through the merge: a source carrying a
      // NEW column widens the rewrite — carried rows, whose files predate
      // the column, project it as a typed NULL (the q37/q62 read contract
      // applied in write position). NESTED evolution likewise: a source
      // STRUCT column widened with extra fields lifts the kept rows' narrow
      // struct by rebuild ([[StructEvolution.conform]] — carried fields
      // keep their values, new fields inject typed NULLs; a struct cast
      // would refuse on the field-count mismatch). The other direction
      // still refuses above (a source MISSING current columns would drop
      // data).
      def keptAligned(extraCols: Seq[org.apache.spark.sql.Column]): DataFrame =
        kept.select(src.schema.map { f =>
          kept.schema.fields.find(_.name.equalsIgnoreCase(f.name)) match {
            case Some(k) if k.dataType != f.dataType &&
                StructEvolution.isWidening(k.dataType, f.dataType) =>
              StructEvolution.conform(col(k.name), k.dataType, f.dataType).as(f.name)
            case Some(_) => col(f.name)
            case None    => lit(null).cast(f.dataType).as(f.name)
          }
        } ++ extraCols: _*)
      idCol match {
        case None =>
          keptAligned(Nil)
            .unionByName(src)
            .versionedInsertIntoRebase(ctx, table, userId, message, readCommit, txn)
          ()
        case Some(c) =>
          // row-tracked / identity table: KEPT rows keep their ids; every
          // source row minted fresh — UPDATE SET * is replacement, so the
          // tracked change feed sees it as delete+insert (the id-preserving
          // update path is mergeConditional's SET, or RowTracking.insert).
          // Commit = rebase anchored at readCommit with the hwm check in
          // the CAS critical section (stageAndCommit's rebase mode).
          val hwm = IdentityColumns.effectiveHighWaterMark(spark, log, table, c)
          val merged =
            (if (current.columns.isEmpty) kept.withColumn(c, lit(null).cast("long"))
             else keptAligned(Seq(col(c))))
              .unionByName(IdentityColumns.stamped(src, c, hwm))
          IdentityColumns.stageAndCommit(
            merged, ctx, table, c, userId, message,
            hwmAtStamp = hwm, rebaseAt = Some(readCommit), txn = txn)
          ()
      }
    } finally { src.unpersist(); () }
  }

  /** Target/source column references for conditional-merge clause
    * expressions: [[mergeConditional]] joins the two sides under prefixed
    * column names, so `tcol("flag") =!= scol("flag")` spells the SQL
    * `t.flag <> s.flag`. */
  def tcol(name: String): Column = col(s"__t_$name")
  def scol(name: String): Column = col(s"__s_$name")

  /** A `WHEN MATCHED [AND cond]` (or `WHEN NOT MATCHED BY SOURCE`) clause:
    * `set = Some(assignments)` is UPDATE (unassigned columns carry their
    * target value), `set = None` is DELETE. Conditions and assignment
    * values reference columns through [[tcol]]/[[scol]]
    * (`NOT MATCHED BY SOURCE` clauses may reference only [[tcol]]s — no
    * source row exists for them). */
  final case class WhenMatched(cond: Option[Column], set: Option[Seq[(String, Column)]])

  /** A `WHEN NOT MATCHED [AND cond] THEN INSERT` clause: `values` must
    * assign every partition column (rows need a partition to land in);
    * unassigned data columns insert as NULL. Conditions and values may
    * reference only [[scol]]s — there is no target row. */
  final case class WhenNotMatched(cond: Option[Column], values: Seq[(String, Column)])

  /** CONDITIONAL MERGE — the full Delta/Iceberg-style clause algebra
    * (`WHEN MATCHED [AND c] THEN UPDATE SET …/DELETE`, repeated;
    * `WHEN NOT MATCHED [AND c] THEN INSERT …`; `WHEN NOT MATCHED BY
    * SOURCE [AND c] THEN UPDATE/DELETE`) over the same partition-granular
    * copy-on-write write primitive as [[mergeInto]]. First matching clause
    * wins per row, SQL-standard; a NULL condition does not fire.
    *
    * Unlike [[mergeInto]] (whose documented contract scopes matching to
    * the partitions present in the source), this is TABLE-WIDE matching —
    * the honest `MERGE` semantics: a narrow DISCOVERY pass (key + partition
    * columns only, column-pruned scan + shuffled semi join — the Delta
    * touched-file-discovery analog) finds every partition holding a matched
    * key; insert placement partitions are computed from the source alone
    * (`NOT MATCHED` clauses may only reference the source, so their
    * partition values need no target row). The full-outer clause join then
    * reads ONLY those partitions, and only partitions with at least one
    * actioned row are rewritten — the rest keep their version pointers.
    * `WHEN NOT MATCHED BY SOURCE` necessarily scopes to the whole table
    * (any partition may hold unmatched rows — the same full scan Delta
    * pays for it), but still rewrites only affected partitions.
    *
    * Fully-deleted partitions produce no surviving rows; their
    * `RemovePartition` ops ride the same atomic rebase-checked commit
    * (`alsoRemove`). Without a residual condition, duplicate source keys
    * are rejected up front — one target row matching two source rows is
    * ambiguous under UPDATE. With one, the equi keys alone no longer
    * decide matching, so the check moves AFTER the clause join: a target
    * row matched by >1 source row refuses (the Delta posture), while
    * duplicate source keys disambiguated by the residual are legal.
    *
    * `sourceKeys`: per-position source-side names for `keyCols` when the
    * two sides spell the join keys differently (`ON t.id = s.src_id`);
    * defaults to `keyCols`. `residual`: extra ON conjuncts beyond the key
    * equalities ([[tcol]]/[[scol]] terms — e.g. `t.region === s.region`
    * restricted forms, one-sided filters, non-equi comparisons); a row
    * pair failing it is NOT matched, SQL-standard, so the target row falls
    * to `WHEN NOT MATCHED BY SOURCE` and the source row to `WHEN NOT
    * MATCHED`. Discovery still scopes by the equi keys alone — a superset
    * of the true matched partitions; unneeded ones fall out at the
    * affected filter.
    *
    * `emptySchema`: the table's declared schema, used only when merging
    * into a never-written table (everything inserts). */
  def mergeConditional(
      ctx: VersionContext,
      log: TableVersions,
      table: TableDefinition,
      source: DataFrame,
      keyCols: Seq[String],
      matched: Seq[WhenMatched],
      notMatched: Seq[WhenNotMatched],
      notMatchedBySource: Seq[WhenMatched] = Nil,
      userId: UserId = UserId("merge"),
      message: UpdateMessage = UpdateMessage("MERGE (conditional)"),
      emptySchema: Option[StructType] = None,
      txn: Option[TableVersions.StreamTxn] = None,
      mergeOnRead: Option[Boolean] = None,
      sourceKeys: Option[Seq[String]] = None,
      residual: Option[Column] = None): Unit = {
    require(keyCols.nonEmpty, "merge requires at least one key column")
    val srcKeys = sourceKeys.getOrElse(keyCols)
    require(srcKeys.length == keyCols.length,
      s"sourceKeys must pair one-to-one with keyCols (${srcKeys.length} vs ${keyCols.length})")
    require(srcKeys.forall(source.columns.contains),
      s"merge key columns ${srcKeys.mkString(", ")} must all exist in the source")
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "merge requires at least one WHEN clause")
    // MERGE-ON-READ mode (`spark.graft.dml.mergeOnRead`): matched
    // preimages hide behind deletion vectors, postimages + inserts land
    // as a row overlay ([[RowOverlay]]) — one atomic strict-OCC commit,
    // O(changed rows) written, NO partition rewritten. That also lifts
    // two copy-on-write restrictions: mixed era folds are legal (pairs
    // hide by file regardless of era; new rows land current-scheme), and
    // partition-column SETs migrate rows by hide + re-land.
    val morMode = mergeOnRead.getOrElse(TableProperties.effectiveFlag(
      source.sparkSession, log, table, TableProperties.MergeOnRead))
    // same refusal as mergeInto: the clause join's partition arithmetic
    // (touched-partition discovery, alsoRemove) assumes ONE layout — on a
    // mixed fold the rewrite would re-land old-era rows into new-scheme
    // dirs and leave the old copies referenced (silent duplication)
    if (!morMode)
      PartitionEvolution.requireUniformFold(log, table, "conditional MERGE")
    val partCols = table.partitionSchema.columns.map(_.name)
    val partSet = partCols.map(_.toLowerCase).toSet
    (matched ++ notMatchedBySource).foreach(_.set.foreach(_.foreach { case (n, _) =>
      require(morMode || !partSet.contains(n.toLowerCase),
        s"UPDATE of partition column $n (rows would migrate between partitions; " +
          "SET spark.graft.dml.mergeOnRead=true to allow)")
    }))
    if (!table.isSnapshot) notMatched.foreach { cl =>
      val assigned = cl.values.map(_._1.toLowerCase).toSet
      require(partSet.subsetOf(assigned),
        s"INSERT clause must assign every partition column (${partCols.mkString(", ")})")
    }

    val spark = source.sparkSession
    // the state this rewrite derives from (rebase discipline, see mergeInto)
    val readCommit = log.currentCommit(table.name)
    val src = source.persist()
    val acted =
      try {
        // one target row matching two source rows is ambiguous under UPDATE
        // (and would double-insert under NOT MATCHED): reject, SQL-standard.
        // NULL keys never match (===), so multiple null-key rows are fine.
        // With a residual the keys alone do not decide matching — duplicate
        // source keys may be disambiguated by it — so the ambiguity check
        // moves AFTER the clause join (per-target-row match counts).
        if (residual.isEmpty) {
          val nonNullKeys = srcKeys.map(col(_).isNotNull).reduce(_ && _)
          require(
            src.where(nonNullKeys).groupBy(srcKeys.map(col): _*)
              .count().where(col("count") > 1).isEmpty,
            "merge source has duplicate key values — ambiguous match (pre-aggregate the source)")
        }

        // DV-aware: a hidden row must neither match as an UPDATE/DELETE
        // target nor count toward touched-partition discovery. In
        // merge-on-read mode the target read ALSO carries row pointers —
        // the preimage pairs come straight off the clause join's target
        // side (pointer columns ride the __t_ prefix like any column and
        // never reach the output projection).
        val current0 =
          if (morMode) VersionedScan(
            spark, log, table, pointers = true, names = VersionedScan.Names.AtState)
          else ColumnMapping.read(spark, log, table)
        val neverWritten = current0.columns.isEmpty
        // the versioned reader surfaces partition columns as strings (they
        // come from k=v dirs); mirror that in the never-written schema so
        // both paths project identically
        val current =
          if (!neverWritten) current0
          else {
            val schema = emptySchema.getOrElse(sys.error(
              s"merge into never-written ${table.name.fullyQualifiedName} needs its declared schema"))
            val stringed = StructType(schema.map(f =>
              if (partSet.contains(f.name.toLowerCase)) StructField(f.name, StringType)
              else f))
            spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), stringed)
          }
        if (!neverWritten)
          require(keyCols.forall(k => current.columns.exists(_.equalsIgnoreCase(k))),
            s"merge key columns ${keyCols.mkString(", ")} must all exist in the target")

        val srcPref = src.select(src.columns.map(c => col(c).as(s"__s_$c")): _*)
        // a mixed era fold (merge-on-read only — copy-on-write refused
        // above) has no single partition keying for the narrow scope's
        // dir-subset read: scan the whole era-union state instead
        val mixedFold = !table.isSnapshot &&
          PartitionEvolution.eraSignatures(log.currentVersion(table.name)).size > 1
        // ---- scope: which partitions the clause join must read ----
        val scoped =
          if (table.isSnapshot || neverWritten) current
          else if (notMatchedBySource.nonEmpty || (morMode && mixedFold)) current
          else {
            // DISCOVERY (narrow): partitions holding a matched key — a
            // column-pruned scan of (keys ∪ partition cols) semi-joined to
            // the distinct source keys; collects O(#partitions) rows.
            // Discovery reads the logical view without pointers: its scan
            // carries `(file, pos)` only while a vector is live (for the
            // anti-join), and sees the same rows as the clause join
            // (overlay-unioned, DV-applied)
            // differing-name keys: project the source's key columns under
            // the TARGET names so the semi join stays a plain by-name join
            val srcKeyDf =
              src.select(srcKeys.map(col): _*).toDF(keyCols: _*).distinct()
            val discovery = if (morMode) ColumnMapping.read(spark, log, table) else current
            val matchedParts = VersionContext.partitionValues(
              discovery.select((keyCols ++ partCols).distinct.map(col): _*)
                .join(srcKeyDf, keyCols, "left_semi"),
              table.partitionSchema)
            // insert placement: NOT MATCHED clauses reference only the
            // source, so their partition values come from the source alone
            // (a SUPERSET of the partitions real inserts land in — unneeded
            // scope partitions fall out at the affected filter)
            val insertParts = notMatched.flatMap { cl =>
              val vals = cl.values.map { case (n, v) => n.toLowerCase -> v }.toMap
              srcPref.where(coalesce(cl.cond.getOrElse(lit(true)), lit(false)))
                .select(partCols.map(p => vals(p.toLowerCase).cast("string").as(p)): _*)
                .distinct().collect().toList
                .filter(r => (0 until r.length).forall(i => !r.isNullAt(i) && r.getString(i).nonEmpty))
                .map(r => Partition(table.partitionSchema.columns.zipWithIndex.map {
                  case (c, i) => ColumnValue(c, r.getString(i))
                }))
            }
            val wanted = (matchedParts ++ insertParts).distinct
            VersionedScan(
              spark, log, table, partitions = Some(wanted.toSet), pointers = morMode,
              names = VersionedScan.Names.AtState)
          }

        // ---- the clause join: one shuffled full-outer equi-join ----
        // (the equi keys still drive the shuffle; a residual rides along
        // as a post-probe filter inside the same join, so a pair failing
        // it surfaces as two unmatched rows — exactly MERGE semantics)
        val tgtPref0 = scoped.select(scoped.columns.map(c => col(c).as(s"__t_$c")): _*)
          .withColumn("__t_present", lit(true))
        // row identity for the post-join ambiguity check (residual mode
        // only): ids materialize with the `acted` persist below, so every
        // downstream read sees one consistent assignment
        val tgtPref =
          if (residual.isDefined)
            tgtPref0.withColumn("__graft_t_rid", monotonically_increasing_id())
          else tgtPref0
        val srcSide = srcPref.withColumn("__s_present", lit(true))
        val keyCond = keyCols.zip(srcKeys)
          .map { case (t, s) => col(s"__t_$t") === col(s"__s_$s") }.reduce(_ && _)
        val joinCond = residual.fold(keyCond)(r => keyCond && r)
        val joined = tgtPref.join(srcSide, joinCond, "full_outer")

        // first matching clause wins; a NULL condition does not fire.
        // codes: u<i>/n<k> update, i<j> insert, del delete,
        // carry = untouched target row, skip = unmatched source row
        def firstHit(clauses: Seq[(Option[Column], String)], default: String): Column =
          clauses.foldRight(lit(default): Column) { case ((c, code), els) =>
            when(coalesce(c.getOrElse(lit(true)), lit(false)), lit(code)).otherwise(els)
          }
        val matchedCodes = matched.zipWithIndex.map { case (cl, i) =>
          cl.cond -> (if (cl.set.isDefined) s"u$i" else "del") }
        val insertCodes = notMatched.zipWithIndex.map { case (cl, j) => cl.cond -> s"i$j" }
        val nmbsCodes = notMatchedBySource.zipWithIndex.map { case (cl, k) =>
          cl.cond -> (if (cl.set.isDefined) s"n$k" else "del") }
        val isMatchedRow = col("__t_present").isNotNull && col("__s_present").isNotNull
        val action =
          when(isMatchedRow, firstHit(matchedCodes, "carry"))
            .when(col("__t_present").isNull, firstHit(insertCodes, "skip"))
            .otherwise(firstHit(nmbsCodes, "carry"))
        joined.withColumn("__action", action).persist()
      } catch { case e: Throwable => src.unpersist(); throw e }

    try {
      // residual-mode ambiguity check (the Delta posture): the pre-join
      // duplicate-key check was skipped — a target row matched by MORE
      // THAN ONE source row under the full ON condition refuses here,
      // against the persisted join (row ids are stable post-persist)
      if (residual.isDefined)
        require(
          acted.where(col("__t_present").isNotNull && col("__s_present").isNotNull)
            .groupBy(col("__graft_t_rid")).count().where(col("count") > 1).isEmpty,
          "merge ON condition matches multiple source rows to one target row — " +
            "ambiguous match (tighten the ON condition or pre-aggregate the source)")
      val current0 = ColumnMapping.read(spark, log, table)
      val neverWritten = current0.columns.isEmpty
      val outSchema: Seq[StructField] = {
        val base = emptySchema.filter(_ => neverWritten)
          .map(s => StructType(s.map(f =>
            if (partSet.contains(f.name.toLowerCase)) StructField(f.name, StringType) else f)))
          .getOrElse(current0.schema)
        // merge-on-read pointer columns are plumbing, never output
        base.toSeq.filterNot(f => f.name == MorFileCol || f.name == MorPosCol)
      }
      // per-column projection: the winning clause's value, else carry
      def projected(c: StructField): Column = {
        val lc = c.name.toLowerCase
        def from(set: Seq[(String, Column)], dflt: Column): Column =
          set.collectFirst { case (n, v) if n.toLowerCase == lc => v }.getOrElse(dflt)
        val cases: Seq[(String, Column)] =
          matched.zipWithIndex.collect { case (WhenMatched(_, Some(set)), i) =>
            s"u$i" -> from(set, col(s"__t_${c.name}")) } ++
          notMatched.zipWithIndex.map { case (cl, j) =>
            s"i$j" -> from(cl.values, lit(null)) } ++
          notMatchedBySource.zipWithIndex.collect { case (WhenMatched(_, Some(set)), k) =>
            s"n$k" -> from(set, col(s"__t_${c.name}")) }
        cases.foldRight(col(s"__t_${c.name}"): Column) { case ((code, v), els) =>
          when(col("__action") === code, v).otherwise(els)
        }.cast(c.dataType).as(c.name)
      }
      // an assignment naming a column the table doesn't have would be
      // silently ignored by the per-column projection — reject instead
      val outNames = outSchema.map(_.name.toLowerCase).toSet
      val idColC = IdentityColumns.declared(spark, log, table)
      ((matched ++ notMatchedBySource).flatMap(_.set.toSeq.flatten) ++
        notMatched.flatMap(_.values)).foreach { case (n, _) =>
        require(outNames.contains(n.toLowerCase),
          s"merge assignment targets unknown column $n (table has ${outNames.mkString(", ")})")
        idColC.foreach(c => require(!n.equalsIgnoreCase(c),
          s"identity column $c is GENERATED ALWAYS — merge clauses must not assign it"))
      }
      val actioned = acted.where(col("__action") =!= "carry" && col("__action") =!= "skip")

      // identity / row-tracked tables: UPDATE SET rows and carried rows
      // keep their ids (they flow from the target side), NOT MATCHED
      // inserts stamp fresh — so the tracked feed classifies a
      // conditional-merge UPDATE as a true update pair. The commit rides
      // stageAndCommit's rebase mode: partition conflicts throw, and the
      // hwm check runs inside the CAS critical section.
      def commitMerged(out: DataFrame, emptiable: Seq[Partition]): Unit =
        idColC match {
          case None =>
            out.versionedInsertIntoRebase(
              ctx, table, userId, message, readCommit, txn = txn,
              alsoRemove = emptiable)
            ()
          case Some(c) =>
            val hwm = IdentityColumns.effectiveHighWaterMark(spark, log, table, c)
            IdentityColumns.stageAndCommit(
              IdentityColumns.stampedPreserving(out, c, hwm),
              ctx, table, c, userId, message,
              alsoRemove = emptiable, hwmAtStamp = hwm, rebaseAt = Some(readCommit),
              txn = txn)
            ()
        }
      // ---- MERGE-ON-READ output: pairs hide the changed target rows,
      // postimages + inserts land via the row overlay, one atomic commit.
      // Carried rows stay PUT (copy-on-write re-lands them; here nothing
      // else in their partitions moves). A never-written target falls back
      // to the copy-on-write first write (already O(batch) there).
      if (morMode && !neverWritten) {
        if (!actioned.isEmpty) {
          val preRows = actioned.where(col("__t_present").isNotNull)
          val pre = preRows
            .select(
              col(s"__t_$MorFileCol").as("file"),
              col(s"__t_$MorPosCol").as("pos"))
          val pairsOpt =
            if (pre.isEmpty) None
            else Some(DeletionVectors.foldedPairs(spark, log, table, pre))
          // scoped OCC (q72 composition): declare the preimage partitions
          // so disjoint concurrent writers land without retry
          val preimageParts: Set[Partition] =
            if (table.isSnapshot || pre.isEmpty) Set.empty
            else VersionContext.partitionValues(
              preRows.select(table.partitionSchema.columns.map(c =>
                col(s"__t_${c.name}").as(c.name)): _*),
              table.partitionSchema).toSet
          val post = actioned.where(col("__action") =!= "del")
            .select(outSchema.map(projected): _*)
          idColC match {
            case None =>
              RowOverlay.append(
                post, ctx, table, userId, message,
                extraPairs = pairsOpt, expectedOverride = Some(readCommit),
                txn = txn, pairScope = Some(preimageParts))
            case Some(c) =>
              val hwm = IdentityColumns.effectiveHighWaterMark(spark, log, table, c)
              RowOverlay.append(
                IdentityColumns.stampedPreserving(post, c, hwm), ctx, table, userId, message,
                extraPairs = pairsOpt, identity = Some((c, hwm)),
                expectedOverride = Some(readCommit),
                txn = txn, pairScope = Some(preimageParts))
          }
          ()
        }
      } else if (table.isSnapshot) {
        if (!actioned.isEmpty) {
          commitMerged(
            acted.where(col("__action") =!= "del" && col("__action") =!= "skip")
              .select(outSchema.map(projected): _*),
            Nil)
        }
      } else {
        // affected partitions: only these rewrite — O(#partitions) metadata
        val affected = actioned
          .select(partCols.map(p => projected(outSchema.find(_.name.equalsIgnoreCase(p)).get)): _*)
          .distinct().collect()
        if (affected.nonEmpty) {
          // reject loudly, like partitionValues does on the write path: a
          // NULL/empty partition value (e.g. a NOT MATCHED insert of a null
          // source column) would otherwise fall out of the equi-semi-join
          // below (null never equals null) — the row neither written nor
          // reported, a silent drop
          affected.foreach { r =>
            (0 until r.length).foreach { i =>
              if (r.isNullAt(i) || r.getString(i).isEmpty)
                throw new IllegalArgumentException(
                  s"MERGE produced a row with a null or empty value for partition " +
                    s"column ${partCols(i)}; null partition values are not supported " +
                    "by the versioned layout")
            }
          }
          val affectedDf = spark.createDataFrame(
            java.util.Arrays.asList(affected: _*),
            StructType(partCols.map(StructField(_, StringType))))
          val result = acted.where(col("__action") =!= "del" && col("__action") =!= "skip")
            .select(outSchema.map(projected): _*)
            .join(broadcast(affectedDf), partCols.toSeq, "left_semi")
          val before = log.currentVersion(table.name) match {
            case PartitionedTableVersion(pvs) => pvs
            case _ if neverWritten            => Map.empty[Partition, Version]
            case other                        => sys.error(s"unexpected $other")
          }
          // fully-deleted partitions produce no staged dir, so the write
          // alone would leave their pointers unmoved; alsoRemove folds
          // their RemovePartition ops into the SAME commit — one atomic
          // rebase-checked commit, no transient emptied-partition window,
          // and the emptied partitions sit in the conflict scope (a racer
          // deriving from the pre-merge state cannot resurrect them)
          val affectedParts = affected.map(r => Partition(
            table.partitionSchema.columns.zipWithIndex.map { case (c, i) =>
              ColumnValue(c, r.getString(i)) })).toList
          val emptiable = affectedParts.filter(before.contains)
          commitMerged(result, emptiable)
        }
      }
    } finally { acted.unpersist(); src.unpersist(); () }
  }
}
