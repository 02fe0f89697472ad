package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured Streaming extension (beyond reference parity — the reference
  * is strictly batch, SURVEY.md §0; the `events` test table is the intended
  * streaming shape: event_id, ts, user_id, event_type, value, props).
  *
  * Everything composes the engine's batch operators with `readStream`/
  * `writeStream`: same DataFrame surface, incremental execution. State is
  * bounded by watermarks (windowed aggs) or explicit timeouts (custom
  * state), so these run indefinitely on a cluster without state blow-up.
  */
object Streams {

  /** File-based streaming source over a directory of event files — new files
    * are discovered incrementally; schema must be declared (streaming scans
    * can't infer). `maxFilesPerTrigger` caps each micro-batch to that many
    * files (oldest modification time first) — both the production backfill
    * throttle and the deterministic-replay knob the streaming oracle gates
    * use to feed pre-cut files one batch at a time.
    */
  def fileSource(spark: SparkSession, dir: String, schema: StructType,
      format: String = "parquet",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.format(format).schema(schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.load(dir)
  }

  /** Streaming exact dedup: drop rows whose key was already seen within the
    * event-time watermark horizon — `dropDuplicatesWithinWatermark`, so the
    * dedup state is bounded by the watermark instead of growing forever
    * (the ingest-time shape of Dedup.exactNewOnly: dedupe the stream itself,
    * then anti-join against the lake's digests in foreachBatch if needed).
    */
  def dedupedStream(
      events: DataFrame,
      tsCol: String,
      keyCols: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Tumbling-window event counts + value sums with watermark-bounded state.
    * Late events beyond `watermark` are dropped; completed windows emit once
    * (append mode) — the canonical streaming aggregation shape.
    */
  def windowedEventStats(
      events: DataFrame,
      windowLength: String = "1 minute",
      watermark: String = "2 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("value_sum"))

  final case class UserEvent(user_id: Long, event_type: String, value: Double)
  final case class UserStats(user_id: Long, n_events: Long, total_value: Double)

  /** Custom stateful aggregation: running per-user totals via
    * mapGroupsWithState.
    *
    * `idleTimeout = Some(duration)` evicts idle users' state via
    * processing-time timeouts — required for unbounded key spaces on a
    * long-running cluster. Note the timeout keeps the micro-batch engine
    * perpetually scheduling (timeouts may fire without data), so
    * `processAllAvailable`-style draining never settles; finite/test
    * workloads should use `None` (NoTimeout).
    */
  def runningUserStats(
      events: Dataset[UserEvent],
      idleTimeout: Option[String] = None): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    val timeoutConf = if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(timeoutConf) {
        (userId: Long, batch: Iterator[UserEvent], state: GroupState[UserStats]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            last
          } else {
            val prev = state.getOption.getOrElse(UserStats(userId, 0L, 0.0))
            val updated = batch.foldLeft(prev)((acc, e) =>
              UserStats(userId, acc.n_events + 1, acc.total_value + e.value))
            state.update(updated)
            idleTimeout.foreach(state.setTimeoutDuration)
            updated
          }
      }
  }

  /** Watermarked stream-stream join: both sides carry an event-time
    * watermark and the join predicate bounds right-side time to
    * `[l.ts, l.ts + within]`, so Spark can expire buffered state once the
    * watermark passes — state is bounded by (watermark + within) of data,
    * not the streams' history. `left_outer` additionally emits unmatched
    * left rows (nulls on the right) once the watermark proves no match can
    * arrive — the attribution shape ("which impressions never converted")
    * that a batch join can only answer after the day closes.
    *
    * Columns come out prefixed (`l_`/`r_`) because both sides share names
    * by design (same event schema, two roles).
    */
  def joinedStreams(
      left: DataFrame, right: DataFrame,
      key: String, ts: String,
      within: String = "10 minutes",
      joinType: String = "inner",
      watermark: String = "10 minutes"): DataFrame = {
    // left_semi completes Spark's supported stream-stream matrix: each left
    // row emits AT MOST ONCE (first proof of a match, right columns never
    // exposed) — the "did this click ever convert" shape without the inner
    // join's per-match fan-out. left_anti has no bounded-state streaming
    // meaning (absence is only provable at watermark close; Spark rejects
    // it), so it is intentionally absent.
    require(Seq("inner", "left_outer", "right_outer", "full_outer",
      "left_semi").contains(joinType),
      s"joinType must be inner/left_outer/right_outer/full_outer/left_semi, " +
        s"got $joinType")
    val l = left.withWatermark(ts, watermark)
      .select(left.columns.map(c => col(c).as(s"l_$c")).toIndexedSeq: _*)
    val r = right.withWatermark(ts, watermark)
      .select(right.columns.map(c => col(c).as(s"r_$c")).toIndexedSeq: _*)
    l.join(r,
      col(s"l_$key") === col(s"r_$key") &&
        col(s"r_$ts") >= col(s"l_$ts") &&
        col(s"r_$ts") <= col(s"l_$ts") + expr(s"INTERVAL $within"),
      joinType)
  }

  /** Stream-static join: every micro-batch of `stream` joins the batch
    * `static` frame — the enrichment shape (events × dimension table).
    * STATELESS: no watermark, no join state, nothing buffered — the static
    * side is re-planned per trigger, so a Delta/parquet dim picks up new
    * files between batches. The static side is explicitly broadcast: a
    * dimension small enough to enrich a stream belongs on every executor,
    * not behind a per-batch shuffle (the 1000-executor cost model; callers
    * with a genuinely huge static side should pre-bucket instead and pass
    * `broadcastStatic = false`).
    *
    * Spark supports inner and left_outer for a left-side stream — the
    * right_outer/full variants would need unmatched-STATIC tracking, which
    * has no bounded-state meaning (Spark rejects them too).
    */
  def streamStaticJoin(
      stream: DataFrame, static: DataFrame,
      keys: Seq[String],
      joinType: String = "inner",
      broadcastStatic: Boolean = true): DataFrame = {
    require(Seq("inner", "left_outer").contains(joinType),
      s"stream-static joinType must be inner/left_outer, got $joinType")
    val s = if (broadcastStatic) broadcast(static) else static
    stream.join(s, keys, joinType)
  }

  final case class SessionEvent(user_id: Long, ts_ms: Long)
  final case class SessionState(start_ms: Long, last_ms: Long, n_events: Long)
  final case class ClosedSession(user_id: Long, start_ms: Long, end_ms: Long, n_events: Long)

  /** Streaming gap sessionization via flatMapGroupsWithState: a session
    * closes after `gapMs` of user inactivity (event-time, driven by
    * arriving batches) and is emitted exactly once. State per user is one
    * small struct — bounded by active users, not event volume.
    */
  def streamingSessionize(
      events: Dataset[SessionEvent], gapMs: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val sorted = batch.toSeq.sortBy(_.ts_ms)
          var closed = List.empty[ClosedSession]
          var cur = state.getOption
          sorted.foreach { e =>
            cur match {
              case Some(s) if e.ts_ms - s.last_ms <= gapMs =>
                cur = Some(SessionState(s.start_ms, e.ts_ms, s.n_events + 1))
              case Some(s) =>
                closed ::= ClosedSession(userId, s.start_ms, s.last_ms, s.n_events)
                cur = Some(SessionState(e.ts_ms, e.ts_ms, 1))
              case None =>
                cur = Some(SessionState(e.ts_ms, e.ts_ms, 1))
            }
          }
          cur.foreach(state.update)
          closed.reverseIterator
      }
  }

  /** EXACTLY-ONCE streaming upsert into a REAL Delta table — the standard
    * `foreachBatch` + `txnAppId` + MERGE recipe as one helper. Every
    * micro-batch MERGEs by key ([[graft.destinations.DeltaWrite.upsert]]),
    * and the commit carries a SetTransaction keyed on (`txnAppId`,
    * batchId): a batch that LANDED in Delta but crashed before the
    * engine's offset commit is recognized on replay (the recorded batch
    * id is already at or past the replayed one) and SKIPPED — no lost
    * rows, no double-applied batches, no extra table versions, even under
    * crash-replay. Update output mode, the streaming-upsert contract.
    */
  def deltaUpsertSink(
      df: DataFrame,
      tablePath: String,
      keys: Seq[String],
      checkpointDir: String,
      txnAppId: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        val applied = graft.sources.DeltaLog.lazySnapshot(sp, tablePath)
          .meta.txns.getOrElse(txnAppId, -1L)
        if (batchId > applied && !batch.isEmpty)
          graft.destinations.DeltaWrite.upsert(sp, tablePath, batch, keys,
            txn = Some((txnAppId, batchId))): Unit
      }
      .start()

  /** EXACTLY-ONCE streaming MERGE into a REAL Delta table — the full
    * multi-clause MERGE as a sink (CDC apply: upserts AND deletes in one
    * stream, or aggregation-style `SET t.c = t.c + s.c` updates that
    * plain upsert idempotence cannot protect). Each micro-batch runs
    * [[graft.destinations.DeltaWrite.merge]] with the caller's clauses;
    * the commit carries a SetTransaction on (`txnAppId`, batchId), so a
    * batch that LANDED but crashed before the engine's offset commit is
    * SKIPPED on replay — non-idempotent merge effects (deletes,
    * accumulating updates) apply exactly once. `clauses` builds the
    * WHEN lists from each batch's alias pair (target `t`, source `s`).
    */
  def deltaMergeSink(
      df: DataFrame,
      tablePath: String,
      condition: String,
      matched: Seq[graft.destinations.DeltaWrite.MergeClause],
      notMatched: Seq[graft.destinations.DeltaWrite.MergeClause.Insert],
      checkpointDir: String,
      txnAppId: String,
      notMatchedBySource: Seq[graft.destinations.DeltaWrite.MergeClause] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        val applied = graft.sources.DeltaLog.lazySnapshot(sp, tablePath)
          .meta.txns.getOrElse(txnAppId, -1L)
        if (batchId > applied && !batch.isEmpty)
          graft.destinations.DeltaWrite.merge(sp, tablePath, batch,
            condition, matched = matched, notMatched = notMatched,
            notMatchedBySource = notMatchedBySource,
            txn = Some((txnAppId, batchId))): Unit
      }
      .start()

  /** Streaming append into a native ICEBERG table, exactly-once per
    * micro-batch: each batch commits one snapshot stamping the stream's
    * id + batch id into the snapshot summary (Iceberg's commit-dedup
    * convention, the analog of Delta's SetTransaction); on restart, a
    * replayed batch id at or below the table's recorded high-water is
    * skipped — crash-replays neither duplicate nor lose rows. Keep
    * snapshot retention past the checkpoint recovery horizon
    * ([[graft.destinations.IcebergWrite.lastAppliedBatch]] caveat).
    */
  def icebergAppendSink(
      df: DataFrame,
      tablePath: String,
      checkpointDir: String,
      appId: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        val applied = graft.destinations.IcebergWrite
          .lastAppliedBatch(sp, tablePath, appId)
        if (batchId > applied && !batch.isEmpty)
          graft.destinations.IcebergWrite.append(sp, tablePath, batch,
            summary = Seq("graft.txn-app-id" -> appId,
              "graft.txn-batch" -> batchId.toString)): Unit
      }
      .start()

  /** EXACTLY-ONCE streaming CDC apply into a native ICEBERG table — the
    * Iceberg twin of [[deltaMergeSink]] (r17, completing the sink
    * matrix): each micro-batch commits ONE `overwrite` snapshot
    * ([[graft.destinations.IcebergWrite.mergeBatch]]) holding an
    * equality delete over the batch's keys AND the replacement rows at
    * the same sequence number, so upserts and tombstone deletes land
    * atomically — no crash window between "old rows deleted" and "new
    * rows appended". The snapshot summary carries (`appId`, batchId)
    * (Iceberg's commit-dedup convention); a replayed batch at or below
    * the recorded high-water is SKIPPED, so non-idempotent effects apply
    * exactly once under crash-replay. `opCol`/`deleteOp` mark CDC
    * tombstones; when `orderCol` is set, the LATEST event per key within
    * the batch wins (ties broken arbitrarily-but-deterministically by
    * Spark's row_number) — the standard CDC compaction before apply.
    */
  def icebergMergeSink(
      df: DataFrame,
      tablePath: String,
      keys: Seq[String],
      checkpointDir: String,
      appId: String,
      opCol: Option[String] = None,
      deleteOp: String = "D",
      orderCol: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        val applied = graft.destinations.IcebergWrite
          .lastAppliedBatch(sp, tablePath, appId)
        if (batchId > applied && !batch.isEmpty) {
          import org.apache.spark.sql.expressions.Window
          import org.apache.spark.sql.functions.{col, row_number}
          val compacted = orderCol match {
            case Some(o) =>
              batch.withColumn("_rn", row_number().over(
                  Window.partitionBy(keys.map(col): _*)
                    .orderBy(col(o).desc)))
                .filter(col("_rn") === 1).drop("_rn")
            case None => batch
          }
          graft.destinations.IcebergWrite.mergeBatch(sp, tablePath,
            compacted, keys, opCol = opCol, deleteOp = deleteOp,
            summary = Seq("graft.txn-app-id" -> appId,
              "graft.txn-batch" -> batchId.toString)): Unit
        }
      }
      .start()

  /** Streaming append into a REAL Delta table (`foreachBatch` →
    * [[graft.destinations.DeltaWrite.append]]): each micro-batch is one
    * protocol commit, so any Delta reader tails the stream's output and
    * the auto-checkpoint cadence keeps replay bounded as versions pile
    * up. At-least-once per batch (a replayed batch re-appends); use
    * [[deltaUpsertSink]] when exactly-once per key matters.
    */
  def deltaAppendSink(
      df: DataFrame,
      tablePath: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.destinations.DeltaWrite.append(batch.sparkSession, tablePath, batch): Unit
      }
      .start()

  /** One INCREMENTAL-BATCH pass (`Trigger.AvailableNow`): process every
    * file in `srcDir` the durable checkpoint has not seen yet — as
    * rate-limited micro-batches when `maxFilesPerTrigger` caps it — commit
    * each batch to the Delta table, then STOP. This is the scheduled-job
    * complement to a resident stream: each run resumes exactly where the
    * previous one stopped (source offsets live under `checkpointDir`), so
    * a cron'd backfill gets streaming's bookkeeping — no re-reads, no
    * gaps, bounded per-run work — without a 24/7 driver. At 100 TB this
    * is the shape nightly ingest actually runs as.
    */
  def availableNowAppend(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      tablePath: String,
      checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    // exactly-once across crashes, not just across clean runs: the append
    // commit carries a SetTransaction (version = batchId), so a batch that
    // landed in Delta but died before the checkpoint's offset commit is
    // SKIPPED on replay instead of double-appended — the delta-spark sink
    // discipline. The appId is the STREAM's own id (the uuid Spark persists
    // in <checkpoint>/metadata), NOT a hash of the checkpoint path: batch
    // ids are only monotonic within one checkpoint lifetime, so a path-
    // derived appId would make a RECREATED checkpoint's batch 0 look
    // already-applied and silently drop never-processed data. With the
    // stream id, a wiped checkpoint gets a fresh id and reprocesses
    // (at-least-once across checkpoint loss; exactly-once within one).
    var appId: String = null
    def resolveAppId(sp: SparkSession): String = {
      if (appId == null) {
        val p = new org.apache.hadoop.fs.Path(checkpointDir, "metadata")
        val f = p.getFileSystem(sp.sessionState.newHadoopConf())
        val in = f.open(p)
        val content = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        val id = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
          .readTree(content).get("id").asText
        appId = s"graft-availablenow-$id"
      }
      appId
    }
    val q = fileSource(spark, srcDir, schema,
        maxFilesPerTrigger = maxFilesPerTrigger)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        val id = resolveAppId(sp)
        val applied = graft.sources.DeltaLog.lazySnapshot(sp, tablePath)
          .meta.txns.getOrElse(id, -1L)
        if (batchId > applied && !batch.isEmpty)
          graft.destinations.DeltaWrite.append(sp, tablePath, batch,
            txn = Some((id, batchId))): Unit
      }
      .start()
    q.awaitTermination()
  }

  /** Drain the CONTINUOUS Delta tail ([[DeltaTailSource]],
    * `format("graft-delta")`) into another Delta table with
    * `Trigger.AvailableNow`: initial snapshot + incremental commits, in
    * micro-batches of at most `maxFilesPerTrigger` source files, stopping
    * once everything up to run-start is processed. Offsets live in the
    * query checkpoint, so successive runs resume exactly where the last
    * stopped — even mid-log — and the appends carry a SetTransaction
    * keyed on the stream's batch id, so a batch that committed to Delta
    * but crashed before the offset write is SKIPPED on replay (the same
    * exactly-once discipline as [[availableNowAppend]]). Returns the
    * number of non-empty micro-batches this run processed.
    */
  def deltaTailToDelta(
      spark: SparkSession,
      sourceTable: String,
      destTable: String,
      checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      options: Map[String, String] = Map.empty): Int = {
    val batches = new java.util.concurrent.atomic.AtomicInteger
    val appId = s"graft-delta-tail-$checkpointDir"
    val q = spark.readStream.format("graft-delta")
      .options(options ++ maxFilesPerTrigger.map(n =>
        "maxFilesPerTrigger" -> n.toString))
      .load(sourceTable)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        val applied = graft.sources.DeltaLog.lazySnapshot(sp, destTable)
          .meta.txns.getOrElse(appId, -1L)
        if (batchId > applied && !batch.isEmpty) {
          batches.incrementAndGet()
          graft.destinations.DeltaWrite.append(sp, destTable, batch,
            txn = Some((appId, batchId))): Unit
        }
      }
      .start()
    q.awaitTermination()
    batches.get()
  }

  /** Incrementally consume a Delta table's CHANGE DATA FEED with a durable
    * offset: reads the change rows in `(last consumed version, latest]`
    * ([[graft.sources.DeltaLog.readCdf]] — inserts, update pre/post
    * images, deletes, each stamped `_commit_version`), hands them to `fn`,
    * then advances the offset. Delivery is at-least-once — the offset
    * write follows `fn` — and exactly-once when `fn` is idempotent (e.g.
    * an upsert keyed on the source keys, the CDC-apply shape). The offset
    * lives in a one-row Delta table at `offsetDir`, so consumers
    * survive restarts; each call is one bounded batch, the polling
    * complement to the push-based sinks above (downstream syncs typically
    * run on a schedule, not a resident stream). Returns the new offset
    * (unchanged when there was nothing to consume — `fn` is not called).
    */
  def cdfConsume(
      spark: SparkSession,
      sourceTable: String,
      offsetDir: String,
      initialVersion: Long = 0L)(fn: DataFrame => Unit): Long = {
    import graft.destinations.DeltaWrite
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import spark.implicits._
    DeltaWrite.createIfAbsent(spark, offsetDir,
      StructType(Seq(StructField("last_version", LongType, nullable = false))))
    val last = graft.sources.DeltaLog.read(spark, offsetDir).collect() match {
      case rows if rows.isEmpty => initialVersion
      case rows => rows.map(_.getLong(0)).max
    }
    val latest = graft.sources.DeltaLog.lazySnapshot(spark, sourceTable).meta.version
    if (latest <= last) return last
    fn(graft.sources.DeltaLog.readCdf(spark, sourceTable, last, Some(latest)))
    DeltaWrite.overwrite(spark, offsetDir, Seq(latest).toDF("last_version"))
    latest
  }

  /** Streaming near-dup-filtered ingest: each micro-batch is exact-checked
    * against the STATIC lake corpus — content digests (exact dups) AND
    * cross-corpus n-gram jaccard (near-dups) — and only the survivors reach
    * `write`. Runs the full batch operators per micro-batch via
    * `foreachBatch` (the standard shape for stream-vs-static dedup: micro-
    * batches are bounded, so the prefix-filtered jaccard join is a small
    * batch job; no stream-stream join restrictions, no unbounded state).
    * The corpus frame is re-read per batch — point it at the lake table the
    * survivors land in to also catch dups against earlier batches.
    */
  def nearDupFilteredSink(
      df: DataFrame,
      corpus: () => DataFrame,
      idCol: String,
      textCol: String,
      checkpointDir: String,
      n: Int = 3,
      threshold: Double = 0.8)(
      write: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val c = corpus()
          // batch-scoped persist: the exact-dedup result feeds the cap
          // count, the profile build, and the final anti-join — and is
          // released before the next batch. persistProfiles=false keeps the
          // jaccard miner from accumulating one cached profile frame per
          // micro-batch (nothing here can safely clearCache a shared
          // session).
          val fresh = graft.ops.Dedup.exactNewOnly(batch, c, textCol)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val nearIds = graft.ops.Dedup.ngramJaccardAgainst(
                fresh, c, idCol, textCol, n = n, threshold = threshold,
                persistProfiles = false)
              .select(org.apache.spark.sql.functions.col("id_in").as(idCol)).distinct()
            write(fresh.join(nearIds, Seq(idCol), "left_anti"))
          } finally fresh.unpersist()
        }
      }
      .start()

  /** Drive a streaming frame into an in-memory sink and block until all
    * currently-available input is processed (test/debug harness).
    */
  def runToMemory(df: DataFrame, name: String, outputMode: OutputMode): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .start()
    q.processAllAvailable()
    q.stop()
    df.sparkSession.table(name)
  }
}
