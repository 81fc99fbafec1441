package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.core.TableVersions.{StreamTxn, UpdateMessage, UserId}
import graft.core.TableDefinition
import graft.spark.VersionContext
import graft.spark.VersionContext.DatasetVersionOps

/**
 * Structured Streaming surface (SURVEY.md §2.3 "Streaming" — optional EXT;
 * absent from the reference, which is batch-only by grep). Transforms are
 * plain `DataFrame => DataFrame` so the same code serves `readStream`
 * pipelines and batch backfills; state lives in Spark's state store,
 * watermarks bound it.
 *
 * The versioned sink closes the loop with the versioning layer: every
 * micro-batch lands as a fresh commit via `versionedInsertInto`, making
 * stream output reproducible and roll-back-able like any other table.
 */
object Streams {

  /** Tumbling-window event counts with a watermark bounding state. */
  def tumblingCounts(events: DataFrame, tsCol: String, width: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(
        col("window.start").as("w_start"),
        col("window.end").as("w_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Sliding-window variant (width, slide). */
  def slidingCounts(
      events: DataFrame, tsCol: String, width: String, slide: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n_events"))

  /** Session windows per user: a session closes after `gap` of inactivity. */
  def sessionized(events: DataFrame, tsCol: String, gap: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n_events"))

  /** Stream-stream inner join: each left event pairs with right events of
    * the same key whose time falls in `[left - window, left]`. Watermarks
    * plus the explicit time-range predicate let the engine evict right-side
    * state once the watermark passes `rightTime + window` — the bounded-state
    * shape a perpetual click/view correlation needs. Inner joins emit each
    * match as soon as both sides arrive. */
  def intervalJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      window: String, watermark: String): DataFrame = {
    // callers pass disjoint column names on the two sides so the (possibly
    // same-source) stream self-join resolves without lineage ambiguity
    val lw = left.withWatermark(leftTime, watermark)
    val rw = right.withWatermark(rightTime, watermark)
    lw.join(rw,
      col(leftKey) === col(rightKey) &&
        col(rightTime) >= col(leftTime) - expr(s"INTERVAL $window") &&
        col(rightTime) <= col(leftTime),
      "inner")
  }

  /** Stream-static enrichment join: attach dimension attributes to a
    * stream. The static side re-resolves every micro-batch (Spark re-plans
    * the batch side per trigger — a dim table updated between batches is
    * picked up) and broadcasts to the executors, so enrichment adds ZERO
    * shuffle to the stream: no state store, no watermark needed — the
    * standard shape for decorating events with user/product/geo dims. */
  def staticEnrich(
      stream: DataFrame, dim: DataFrame, streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), "inner")

  /** Stateful exact dedup bounded by the watermark. */
  def dedupWithinWatermark(
      events: DataFrame, tsCol: String, watermark: String, keys: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keys)

  /** Custom keyed state via `mapGroupsWithState`: a monotone running count +
    * running sum per user that survives across micro-batches (the shape any
    * bespoke session/state machine takes when windows can't express it). */
  def runningUserTotals(
      events: Dataset[(Long, Double)]): Dataset[(Long, Long, Double)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupState
    events
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (Long, Long, Double)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (userId: Long, batch: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          // one streaming pass, O(1) memory: in batch-backfill mode this
          // iterator holds a user's ENTIRE history — buffering it to a Seq
          // would hold a hot user's rows in task memory
          val next = batch.foldLeft(state.getOption.getOrElse((0L, 0.0))) {
            case ((n, s), (_, v)) => (n + 1, s + v)
          }
          state.update(next)
          (userId, next._1, next._2)
      }
  }

  /** Custom state with selective emission via `flatMapGroupsWithState`:
    * emits a row only when a user's running total first crosses
    * `threshold` — the emit-on-condition shape (alerts, debouncing) that
    * `mapGroupsWithState`'s one-row-per-group contract can't express. */
  def thresholdAlerts(
      events: Dataset[(Long, Double)],
      threshold: Double): Dataset[(Long, Double)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Double, Boolean), (Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (userId: Long, batch: Iterator[(Long, Double)], state: GroupState[(Double, Boolean)]) =>
          val (prevSum, alreadyAlerted) = state.getOption.getOrElse((0.0, false))
          val total = prevSum + batch.map(_._2).sum
          val crossing = !alreadyAlerted && total >= threshold
          state.update((total, alreadyAlerted || crossing))
          if (crossing) Iterator((userId, total)) else Iterator.empty
      }
  }

  /** The stable writer identity a sink records in its commits' [[StreamTxn]]
    * markers. The default is keyed on the STREAMING QUERY ID (read at batch
    * time from the `sql.streaming.queryId` local property the stream
    * execution thread carries — the id is minted once per checkpoint and
    * survives restarts), NOT on the table alone: a table-keyed default
    * would make a NEW query with a fresh checkpoint — whose batch ids
    * restart at 0 — silently skip every batch at or below the OLD query's
    * high-water mark, and two live queries feeding one table would shadow
    * each other's replay detection. A fresh checkpoint ⇒ fresh query id ⇒
    * fresh marker sequence; a restart of the SAME checkpoint keeps the id
    * and replay detection works. Callers wanting cross-checkpoint
    * continuity pass an explicit `txnAppId`. */
  private def defaultAppId(
      spark: org.apache.spark.sql.SparkSession, table: TableDefinition): String = {
    val queryId = Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
    s"stream:${table.name.fullyQualifiedName}" + queryId.map(":" + _).getOrElse("")
  }

  /** One versioned-sink micro-batch, REPLAY-IDEMPOTENT: the commit records
    * `(appId, batchId)` in its metadata, and a batch id at or below the
    * last durably committed one for this appId is SKIPPED — the
    * crash-between-commit-and-checkpoint replay would otherwise commit the
    * same batch twice (harmless for this sink's replace-partitions content,
    * but a duplicate commit in history; fatal for append semantics).
    * Extracted from the `foreachBatch` closure so the replay path is
    * directly testable. */
  private[graft] def applyVersionedBatch[T](
      batch: Dataset[T],
      batchId: Long,
      ctx: VersionContext,
      table: TableDefinition,
      user: UserId,
      appId: String): Unit = {
    val replayed = ctx.metastore.tableVersions
      .lastTxnBatch(table.name, appId).exists(_ >= batchId)
    if (!replayed && !batch.isEmpty) {
      batch.versionedInsertInto(
        ctx, table, user, UpdateMessage(s"micro-batch $batchId"),
        txn = Some(StreamTxn(appId, batchId)))
      ()
    }
  }

  /** Versioned sink: each micro-batch commits one new version of `table`.
    * Exactly-once at the version level — a replayed batch is detected by
    * its [[StreamTxn]] marker and skipped ([[applyVersionedBatch]]), so
    * recovery after a crash between commit and checkpoint re-runs the
    * batch without committing it twice.
    *
    * SEMANTICS — full-recompute outputs only: `versionedInsertInto`
    * REPLACES the partitions present in each batch (the whole table for
    * snapshot tables), so the stream must emit complete current state per
    * batch — complete-mode aggregations, or partitioned outputs where each
    * batch fully owns the partitions it touches (e.g. one batch per date).
    * Attaching an append-mode row stream here loses every earlier batch's
    * rows per partition — by the write model's design, not by accident. */
  def versionedSink[T](
      stream: Dataset[T],
      ctx: VersionContext,
      table: TableDefinition,
      user: UserId,
      txnAppId: Option[String] = None): DataStreamWriter[T] =
    // appId resolves INSIDE the batch closure: the query id property only
    // exists on the stream execution thread, not at sink-construction time
    stream.writeStream.foreachBatch { (batch: Dataset[T], batchId: Long) =>
      val appId = txnAppId.getOrElse(defaultAppId(batch.sparkSession, table))
      applyVersionedBatch(batch, batchId, ctx, table, user, appId)
    }

  /** APPEND sink (merge-on-read): each micro-batch lands as a ROW OVERLAY
    * ([[graft.spark.RowOverlay.append]]) — O(batch) written per trigger,
    * NO partition rewritten, the streaming-ingest shape at 100 TB (the
    * [[versionedSink]] replace-partitions contract would re-land every
    * touched partition per micro-batch; an append-mode row stream there
    * LOSES earlier batches' rows). Exactly-once via the same
    * [[StreamTxn]] replay detection; a lost strict-OCC race fails the
    * query loudly and the restarted batch (never committed) retries.
    *
    * SELF-MAINTAINING: overlay dirs accumulate one per trigger, and each
    * live dir adds its leaves to every read's listing and scan — at a
    * 1-minute cadence that is ~1.4k dirs/day of read debt. So after each
    * batch the sink runs [[graft.spark.RowOverlay.autoSquash]] (folding
    * the dirs to ONE once more than `autoSquashMaxDirs` contribute — the
    * [[graft.spark.Compaction.autoCompact]] posture for sidecar pressure;
    * `autoSquashMaxDirs = 0` disables). The squash is OCC'd and
    * best-effort: a racing external commit makes it refuse, the batch
    * still succeeds, and the next trigger retries the fold. */
  def appendSink[T](
      stream: Dataset[T],
      ctx: VersionContext,
      table: TableDefinition,
      user: UserId,
      txnAppId: Option[String] = None,
      autoSquashMaxDirs: Int = 16): DataStreamWriter[T] =
    stream.writeStream.foreachBatch { (batch: Dataset[T], batchId: Long) =>
      val appId = txnAppId.getOrElse(defaultAppId(batch.sparkSession, table))
      applyAppendBatch(batch, batchId, ctx, table, user, appId)
      if (autoSquashMaxDirs > 0) {
        try {
          graft.spark.RowOverlay.autoSquash(
            batch.sparkSession, ctx, table, user, maxDirs = autoSquashMaxDirs)
          ()
        } catch {
          // maintenance must never fail the ingest: a racing commit made
          // the fold refuse (nothing changed) — the next trigger retries
          case _: graft.core.TableVersions.ConcurrentWriteException => ()
        }
      }
    }

  /** One append-sink micro-batch, REPLAY-IDEMPOTENT like
    * [[applyVersionedBatch]] — without the marker a crash between commit
    * and checkpoint would land the batch's rows TWICE (append semantics
    * make duplicate commits fatal, not merely cosmetic). */
  private[graft] def applyAppendBatch[T](
      batch: Dataset[T],
      batchId: Long,
      ctx: VersionContext,
      table: TableDefinition,
      user: UserId,
      appId: String): Unit = {
    val replayed = ctx.metastore.tableVersions
      .lastTxnBatch(table.name, appId).exists(_ >= batchId)
    if (!replayed && !batch.isEmpty) {
      graft.spark.RowOverlay.append(
        batch.toDF(), ctx, table, user,
        UpdateMessage(s"append micro-batch $batchId"),
        txn = Some(StreamTxn(appId, batchId)))
      ()
    }
  }

  /** MERGE sink: each micro-batch UPSERTS into `table` by `keyCols`
    * through [[graft.spark.Merge.mergeInto]] — the production CDC-apply
    * shape, complementing [[versionedSink]]'s replace-partitions contract:
    * matched keys take the batch's row, unmatched existing rows SURVIVE
    * (including in the partitions the batch touches), unmatched batch rows
    * insert. Each batch is one ordinary commit reading and rewriting ONLY
    * the partitions present in the batch, so applying a keyed change feed
    * to a 100 TB table costs O(touched partitions) per micro-batch.
    *
    * The batch must be unique per key (pre-aggregate upstream if the feed
    * can carry multiple changes per key in one batch — last-write-wins
    * collapsing is the caller's policy, not the sink's). */
  def mergeSink[T](
      stream: Dataset[T],
      ctx: VersionContext,
      log: graft.core.TableVersions,
      table: TableDefinition,
      keyCols: Seq[String],
      user: UserId,
      txnAppId: Option[String] = None): DataStreamWriter[T] =
    stream.writeStream.foreachBatch { (batch: Dataset[T], batchId: Long) =>
      val appId = txnAppId.getOrElse(defaultAppId(batch.sparkSession, table))
      applyMergeBatch(batch, batchId, ctx, log, table, keyCols, user, appId)
    }

  /** MERGE-ON-READ upsert sink: each micro-batch UPSERTS into `table` by
    * `keyCols` through the conditional merge engine in merge-on-read mode
    * — matched preimages hide behind deletion vectors, postimages and
    * inserts land as a row overlay, ONE strict-OCC commit of O(changed
    * rows), NO partition rewritten. This is [[mergeSink]]'s 100 TB
    * complement: applying a keyed change feed at a 1-minute cadence
    * through copy-on-write re-lands every touched partition per trigger;
    * here each trigger writes only its changes, wherever their keys live.
    * Zero target pointer moves, period — the feed/time-travel surface
    * sees true update pairs (the preimage pairs ride the commit).
    *
    * Exactly-once via the same [[StreamTxn]] replay detection, and
    * SELF-MAINTAINING like [[appendSink]]: overlay/vector debt accrues
    * per trigger, so the sink folds it through
    * [[graft.spark.RowOverlay.autoSquash]] once more than
    * `autoSquashMaxDirs` dirs contribute (0 disables).
    *
    * The batch must be unique per key (pre-aggregate upstream —
    * last-write-wins collapsing is the caller's policy, not the sink's). */
  def upsertSink[T](
      stream: Dataset[T],
      ctx: VersionContext,
      log: graft.core.TableVersions,
      table: TableDefinition,
      keyCols: Seq[String],
      user: UserId,
      txnAppId: Option[String] = None,
      autoSquashMaxDirs: Int = 16): DataStreamWriter[T] =
    stream.writeStream.foreachBatch { (batch: Dataset[T], batchId: Long) =>
      val appId = txnAppId.getOrElse(defaultAppId(batch.sparkSession, table))
      applyUpsertBatch(batch, batchId, ctx, log, table, keyCols, user, appId)
      if (autoSquashMaxDirs > 0) {
        try {
          graft.spark.RowOverlay.autoSquash(
            batch.sparkSession, ctx, table, user, maxDirs = autoSquashMaxDirs)
          ()
        } catch {
          case _: graft.core.TableVersions.ConcurrentWriteException => ()
        }
      }
    }

  /** One upsert-sink micro-batch, REPLAY-IDEMPOTENT like
    * [[applyVersionedBatch]]: the canonical `UPDATE SET * / INSERT *`
    * clauses built from the batch's columns, executed merge-on-read. */
  private[graft] def applyUpsertBatch[T](
      batch: Dataset[T],
      batchId: Long,
      ctx: VersionContext,
      log: graft.core.TableVersions,
      table: TableDefinition,
      keyCols: Seq[String],
      user: UserId,
      appId: String): Unit = {
    val replayed = log.lastTxnBatch(table.name, appId).exists(_ >= batchId)
    if (!replayed) {
      // persist ONCE before the empty probe: the merge engine's own
      // src.persist() resolves to this same cache entry, so the batch
      // computes a single time instead of once per driver-side probe
      val df = batch.toDF().persist()
      try {
        if (!df.isEmpty) {
          val cols = df.columns.toSeq
          val nonKey = cols.filterNot(c => keyCols.exists(_.equalsIgnoreCase(c)))
          graft.spark.Merge.mergeConditional(
            ctx, log, table, df, keyCols,
            matched = Seq(graft.spark.Merge.WhenMatched(
              None, Some(nonKey.map(c => c -> graft.spark.Merge.scol(c))))),
            notMatched = Seq(graft.spark.Merge.WhenNotMatched(
              None, cols.map(c => c -> graft.spark.Merge.scol(c)))),
            userId = user,
            message = UpdateMessage(s"upsert micro-batch $batchId"),
            emptySchema = Some(df.schema),
            txn = Some(StreamTxn(appId, batchId)),
            mergeOnRead = Some(true))
        }
      } finally { df.unpersist(); () }
    }
    ()
  }

  /** One merge-sink micro-batch, REPLAY-IDEMPOTENT like
    * [[applyVersionedBatch]]. The upsert content is key-idempotent anyway;
    * the txn marker keeps the COMMIT HISTORY exactly-once too. */
  private[graft] def applyMergeBatch[T](
      batch: Dataset[T],
      batchId: Long,
      ctx: VersionContext,
      log: graft.core.TableVersions,
      table: TableDefinition,
      keyCols: Seq[String],
      user: UserId,
      appId: String): Unit = {
    val replayed = log.lastTxnBatch(table.name, appId).exists(_ >= batchId)
    if (!replayed) {
      // persist before the probe (see applyUpsertBatch): one batch
      // computation shared by the probe and the merge's own passes
      val df = batch.toDF().persist()
      try {
        if (!df.isEmpty)
          graft.spark.Merge.mergeInto(
            ctx, log, table, df, keyCols, user,
            UpdateMessage(s"merge micro-batch $batchId"),
            txn = Some(StreamTxn(appId, batchId)))
      } finally { df.unpersist(); () }
    }
    ()
  }
}
