package graft

import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import scala.collection.immutable.ListMap

/** Streaming paths through the DuckDB oracle gate (round 9): the events
  * table replays through `Streams.fileSource` as deterministic event-time-
  * ordered micro-batches (QueryHelpers.writeReplay + maxFilesPerTrigger=1)
  * and the FINAL materialized result must hash-match the equivalent batch
  * SQL. Previously the watermarked join and the sessionizer were
  * test-gated only (StreamsSpec).
  *
  * Semantics that make the gates exact:
  *   - q119 (stream-stream inner join): with a watermark wider than the
  *     whole replayed history nothing is dropped, so the incremental join
  *     must emit exactly the batch theta-join — arrival order only changes
  *     WHEN pairs emit, not whether.
  *   - q120 (gap sessionization): flatMapGroupsWithState closes a session
  *     only when a later-than-gap event arrives, so after a fully-ordered
  *     replay the output is every session EXCEPT each user's last (still
  *     open) — which the oracle states directly in SQL.
  */
private[graft] object StreamingQueries {
  import QueryHelpers._

  def queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(

    // Watermarked stream-stream join, gated: clicks and purchases replay as
    // 2 in-order micro-batch files per side; every purchase within 30
    // minutes after a click by the same user must pair exactly once.
    "q119_stream_join" -> ((s, dir) => withStreamGate(s, dir) { s =>
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      // 2 files per side: the minimum that still crosses a micro-batch
      // boundary (join state must carry batch 1 rows into batch 2)
      val replay = cachedReplay(s"q119-$dir") { d =>
        writeReplay(clicks, "ts", d.resolve("l"), n = 2)
        writeReplay(purchases, "ts", d.resolve("r"), n = 2)
      }
      val l = Streams.fileSource(s, replay.resolve("l").toString, clicks.schema,
        maxFilesPerTrigger = Some(1))
      val r = Streams.fileSource(s, replay.resolve("r").toString, purchases.schema,
        maxFilesPerTrigger = Some(1))
      val joined = Streams.joinedStreams(l, r, key = "user_id", ts = "ts",
        within = "30 minutes", joinType = "inner", watermark = "40 days")
      Streams.runToMemory(joined,
        s"q119_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}",
        OutputMode.Append())
        .select(col("l_event_id").as("click_id"),
          col("l_user_id").as("user_id"),
          col("r_event_id").as("purchase_id"))
        .orderBy(col("click_id"), col("purchase_id"))
    }),

    // Stream-stream FULL OUTER join, gated (r10 — completes the join-type
    // matrix): BOTH sides' unmatched rows may only emit once the
    // watermark finalizes them, so the final table must equal the batch
    // FULL JOIN exactly. Same sentinel machinery as q121; null join
    // columns surface on whichever side missed, and the oracle pins the
    // cross-engine null sort order explicitly.
    "q133_stream_full_outer" -> ((s, dir) => withStreamGate(s, dir) { s =>
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      def sentinel(uid: Long, plusDays: Int) = ev
        .agg(max(col("ts")).as("m"))
        .select(lit(-uid * 1000 - plusDays).as("event_id"), lit(uid).as("user_id"),
          (col("m") + expr(s"INTERVAL $plusDays DAYS")).as("ts"))
      val replay = cachedReplay(s"q133-$dir") { rd =>
        writeReplay(clicks, "ts", rd.resolve("l"), n = 2)
        writeReplay(purchases, "ts", rd.resolve("r"), n = 2)
        Seq(60, 120).zipWithIndex.foreach { case (d, i) =>
          appendReplayFile(sentinel(-21L - i, d), rd.resolve("l"), 100 + i)
          appendReplayFile(sentinel(-31L - i, d), rd.resolve("r"), 100 + i)
        }
      }
      val l = Streams.fileSource(s, replay.resolve("l").toString, clicks.schema,
        maxFilesPerTrigger = Some(1))
      val r = Streams.fileSource(s, replay.resolve("r").toString, purchases.schema,
        maxFilesPerTrigger = Some(1))
      val joined = Streams.joinedStreams(l, r, key = "user_id", ts = "ts",
        within = "30 minutes", joinType = "full_outer", watermark = "1 hour")
      Streams.runToMemory(joined,
        s"q133_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}",
        OutputMode.Append())
        .filter(coalesce(col("l_user_id"), col("r_user_id")) >= 0)
        .select(col("l_event_id").as("click_id"),
          coalesce(col("l_user_id"), col("r_user_id")).as("user_id"),
          col("r_event_id").as("purchase_id"))
        .orderBy(col("click_id").asc_nulls_first, col("purchase_id").asc_nulls_first)
    }),


    // Stream-stream LEFT OUTER join, gated — the subtler half of the join
    // state machine: an unmatched click may only emit (with nulls on the
    // right) once the watermark PROVES no purchase can still arrive.
    // Watermark-advancing sentinel batches (far-future rows on impossible
    // user ids, two rounds because state eviction lags the watermark by a
    // batch) flush every pending outer row, so the final table must equal
    // the batch LEFT JOIN exactly.
    "q121_stream_outer_join" -> ((s, dir) => withStreamGate(s, dir) { s =>
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      // sentinels: negative user ids never join real rows (and each side
      // uses distinct ids so the sentinels cannot join each other)
      def sentinel(uid: Long, plusDays: Int) = ev
        .agg(max(col("ts")).as("m"))
        .select(lit(-uid * 1000 - plusDays).as("event_id"), lit(uid).as("user_id"),
          (col("m") + expr(s"INTERVAL $plusDays DAYS")).as("ts"))
      val replay = cachedReplay(s"q121-$dir") { rd =>
        writeReplay(clicks, "ts", rd.resolve("l"), n = 2)
        writeReplay(purchases, "ts", rd.resolve("r"), n = 2)
        Seq(60, 120).zipWithIndex.foreach { case (d, i) =>
          appendReplayFile(sentinel(-1L - i, d), rd.resolve("l"), 100 + i)
          appendReplayFile(sentinel(-11L - i, d), rd.resolve("r"), 100 + i)
        }
      }
      val l = Streams.fileSource(s, replay.resolve("l").toString, clicks.schema,
        maxFilesPerTrigger = Some(1))
      val r = Streams.fileSource(s, replay.resolve("r").toString, purchases.schema,
        maxFilesPerTrigger = Some(1))
      val joined = Streams.joinedStreams(l, r, key = "user_id", ts = "ts",
        within = "30 minutes", joinType = "left_outer", watermark = "1 hour")
      Streams.runToMemory(joined,
        s"q121_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}",
        OutputMode.Append())
        .filter(col("l_user_id") >= 0)
        .select(col("l_event_id").as("click_id"),
          col("l_user_id").as("user_id"),
          col("r_event_id").as("purchase_id"))
        .orderBy(col("click_id"), col("purchase_id"))
    }),

    // Watermarked tumbling-window aggregation, gated: in append mode a
    // window emits exactly once, when the watermark passes its end. Two
    // sentinel batches on a reserved event_type push the watermark past
    // every real window; sentinel windows themselves never close and are
    // filtered from the output, so the final table must equal the batch
    // 1-day tumbling aggregate exactly. (Counts only — double value sums
    // are order-sensitive across engines, and the batch window-sum path is
    // already decimal-gated by q43.)
    "q122_stream_window" -> ((s, dir) => withStreamGate(s, dir) { s =>
      val ev = t(s, dir, "events").select(col("ts"), col("event_type"), col("value"))
      def sentinel(plusDays: Int) = ev.agg(max(col("ts")).as("m"))
        .select((col("m") + expr(s"INTERVAL $plusDays DAYS")).as("ts"),
          lit("__sentinel").as("event_type"), lit(0.0).as("value"))
      val replay = cachedReplay(s"q122-$dir") { rd =>
        writeReplay(ev, "ts", rd.resolve("e"), n = 2)
        appendReplayFile(sentinel(60), rd.resolve("e"), 100)
        appendReplayFile(sentinel(120), rd.resolve("e"), 101)
      }
      val stream = Streams.fileSource(s, replay.resolve("e").toString, ev.schema,
        maxFilesPerTrigger = Some(1))
      val agg = Streams.windowedEventStats(stream,
        windowLength = "1 day", watermark = "1 hour")
      Streams.runToMemory(agg,
        s"q122_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}",
        OutputMode.Append())
        .filter(col("event_type") =!= "__sentinel")
        .select(col("window_start"), col("event_type"), col("n_events"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // Cross-batch streaming exact dedup, gated on the surviving KEY SET:
    // dropDuplicatesWithinWatermark admits each key once across the whole
    // replay (the horizon spans the history), so the distinct key set must
    // equal batch SELECT DISTINCT. Keys only — which physical row survives
    // a same-batch tie is legitimately engine-internal.
    "q123_stream_dedup" -> ((s, dir) => withStreamGate(s, dir) { s =>
      val ev = t(s, dir, "events").select(col("ts"), col("user_id"), col("event_type"))
      val replay = cachedReplay(s"q123-$dir") { rd =>
        writeReplay(ev, "ts", rd.resolve("e"), n = 2)
      }
      val stream = Streams.fileSource(s, replay.resolve("e").toString, ev.schema,
        maxFilesPerTrigger = Some(1))
      val deduped = Streams.dedupedStream(stream, "ts",
        Seq("user_id", "event_type"), watermark = "60 days")
      Streams.runToMemory(deduped,
        s"q123_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}",
        OutputMode.Append())
        .select(col("user_id"), col("event_type"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // mapGroupsWithState running totals, gated on the exactly-once
    // invariant: in update mode every batch re-emits each touched user's
    // running count, so the MAX over a user's emitted rows equals the batch
    // COUNT(*) iff every event incremented state exactly once — no drops,
    // no double-counts across micro-batches. (Double value totals are
    // arrival-order-sensitive, so the count carries the gate.)
    "q124_stream_running_totals" -> ((s, dir) => withStreamGate(s, dir, exprOnly = false) { s =>
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("ts"), col("user_id"), col("event_type"), col("value"))
      val replay = cachedReplay(s"q124-$dir") { rd =>
        writeReplay(ev, "ts", rd.resolve("e"), n = 2)
      }
      val stream = Streams.fileSource(s, replay.resolve("e").toString, ev.schema,
        maxFilesPerTrigger = Some(1))
        .select(col("user_id"), col("event_type"), col("value"))
        .as[Streams.UserEvent]
      val stats = Streams.runningUserStats(stream, idleTimeout = None)
      Streams.runToMemory(stats.toDF(),
        s"q124_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}",
        OutputMode.Update())
        .groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"))
        .orderBy(col("user_id"))
    }),

    // Stream-STATIC join, gated (r13 — completes the production join set):
    // every event micro-batch enriches against a broadcast customer
    // dimension; stateless, so the final table must equal the batch LEFT
    // JOIN row for row. The dim drops every third customer so both the
    // matched and the null-extended paths carry rows.
    "q137_stream_static_join" -> ((s, dir) => withStreamGate(s, dir, exprOnly = false) { s =>
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val dim = s.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
      val replay = cachedReplay(s"q137-$dir") { rd =>
        writeReplay(ev, "ts", rd.resolve("e"), n = 2)
      }
      val stream = Streams.fileSource(s, replay.resolve("e").toString, ev.schema,
        maxFilesPerTrigger = Some(1))
      val joined = Streams.streamStaticJoin(stream, dim, Seq("user_id"), "left_outer")
      Streams.runToMemory(joined,
        s"q137_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}",
        OutputMode.Append())
        .select(col("event_id"), col("user_id"), col("segment"))
        .orderBy(col("event_id"))
    }),

    // dropDuplicatesWithinWatermark state EXPIRY, gated (r13): q123 pins
    // the admit-once semantics under a horizon spanning the history; this
    // gate pins the other half — state that outlives its watermark horizon
    // is EVICTED, and the same key arriving after the horizon is admitted
    // AGAIN. Replay: the full event set as one batch (1-hour horizon), two
    // watermark-advancing sentinel batches (+60/+90 days — eviction lags
    // the watermark by a batch), then the same events shifted +150 days:
    // the shift clears the +90d sentinel watermark by (150-90 days minus
    // the event span), so no replayed row can be dropped as late even if
    // the generated span grows past a month. Every key must be admitted
    // exactly twice; a dedup that never expires state (or evicts too
    // early) shifts the count.
    "q138_stream_dedup_expiry" -> ((s, dir) => withStreamGate(s, dir) { s =>
      val ev = t(s, dir, "events").select(col("ts"), col("user_id"), col("event_type"))
      def sentinel(uid: Long, plusDays: Int) = ev.agg(max(col("ts")).as("m"))
        .select((col("m") + expr(s"INTERVAL $plusDays DAYS")).as("ts"),
          lit(uid).as("user_id"), lit("__sentinel").as("event_type"))
      val replay = cachedReplay(s"q138-$dir") { rd =>
        appendReplayFile(ev, rd.resolve("e"), 0)
        appendReplayFile(sentinel(-1L, 60), rd.resolve("e"), 100)
        appendReplayFile(sentinel(-2L, 90), rd.resolve("e"), 101)
        appendReplayFile(
          ev.withColumn("ts", col("ts") + expr("INTERVAL 150 DAYS")),
          rd.resolve("e"), 102)
      }
      val stream = Streams.fileSource(s, replay.resolve("e").toString, ev.schema,
        maxFilesPerTrigger = Some(1))
      val deduped = Streams.dedupedStream(stream, "ts",
        Seq("user_id", "event_type"), watermark = "1 hour")
      Streams.runToMemory(deduped,
        s"q138_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}",
        OutputMode.Append())
        .filter(col("event_type") =!= "__sentinel")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n_admissions"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // Stream-stream LEFT SEMI join, gated (r13 — completes Spark's
    // supported stream-stream matrix next to q119/q121/q133): each click
    // emits AT MOST ONCE when its first in-window purchase arrives, right
    // columns never exposed. The batch oracle is EXISTS over the same
    // time bound — an extra emission per extra match (inner-join leak) or
    // a dropped converting click hash-mismatches.
    "q143_stream_semi_join" -> ((s, dir) => withStreamGate(s, dir) { s =>
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val replay = cachedReplay(s"q143-$dir") { d =>
        writeReplay(clicks, "ts", d.resolve("l"), n = 2)
        writeReplay(purchases, "ts", d.resolve("r"), n = 2)
      }
      val l = Streams.fileSource(s, replay.resolve("l").toString, clicks.schema,
        maxFilesPerTrigger = Some(1))
      val r = Streams.fileSource(s, replay.resolve("r").toString, purchases.schema,
        maxFilesPerTrigger = Some(1))
      val joined = Streams.joinedStreams(l, r, key = "user_id", ts = "ts",
        within = "30 minutes", joinType = "left_semi", watermark = "40 days")
      Streams.runToMemory(joined,
        s"q143_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}",
        OutputMode.Append())
        .select(col("l_event_id").as("click_id"), col("l_user_id").as("user_id"))
        .orderBy(col("click_id"))
    }),

    // Trigger.AvailableNow incremental batch, gated (r13): the cron'd-
    // backfill shape — run 1 processes the first half of the events into a
    // real Delta table and STOPS; the second half lands in the source dir;
    // run 2 resumes from the SAME durable checkpoint and must process ONLY
    // the new file (a re-read duplicates event_ids, a gap drops them —
    // either hash-mismatches the batch oracle). Exactly-once across two
    // separate query lifetimes is the whole point of the gate.
    "q142_stream_availablenow" -> ((s, dir) => withStreamGate(s, dir, exprOnly = false) { s =>
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val root = tmp("graft-q142")
      val src = root.resolve("src")
      val tbl = root.resolve("t").toString
      val ck = root.resolve("ck").toString
      graft.destinations.DeltaWrite.createIfAbsent(s, tbl,
        ev.schema.asInstanceOf[org.apache.spark.sql.types.StructType])
      appendReplayFile(ev.filter(col("event_id") % 2 === 0), src, 0)
      Streams.availableNowAppend(s, src.toString, ev.schema, tbl, ck)
      appendReplayFile(ev.filter(col("event_id") % 2 === 1), src, 1)
      Streams.availableNowAppend(s, src.toString, ev.schema, tbl, ck)
      graft.sources.DeltaLog.read(s, tbl)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))
    }),

    // Continuous Delta streaming source, gated (r14): a rate-limited
    // TAILING read of a Delta table (format("graft-delta") —
    // [[graft.streaming.DeltaTailSource]]). Run 1 drains the initial
    // snapshot (4 files at 1 file/trigger = exactly 4 batches) and stops;
    // while the stream is down the table is COMPACTED (layout-only — must
    // stay invisible) and a third of the rows lands as a new commit; run 2
    // resumes from the same durable checkpoint and must deliver ONLY the
    // new commit's 2 files (2 batches). Re-reads duplicate o_orderkeys,
    // gaps drop them, a leaked compaction re-delivers everything — all
    // hash-mismatch; the pinned batch counts prove the admission control.
    "q146_delta_tail" -> ((s, dir) => withStreamGate(s, dir, Seq("orders"), exprOnly = false) { s =>
      import graft.destinations.DeltaWrite
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val sch = orders.schema.asInstanceOf[org.apache.spark.sql.types.StructType]
      val root = tmp("graft-q146")
      val src = root.resolve("src").toString
      val dst = root.resolve("dst").toString
      val ck = root.resolve("ck").toString
      DeltaWrite.createIfAbsent(s, src, sch)
      DeltaWrite.createIfAbsent(s, dst, sch)
      DeltaWrite.append(s, src,
        orders.filter(col("o_orderkey") % 3 === 0).repartition(2))     // v1
      DeltaWrite.append(s, src,
        orders.filter(col("o_orderkey") % 3 === 1).repartition(2))     // v2
      val b1 = Streams.deltaTailToDelta(s, src, dst, ck,
        maxFilesPerTrigger = Some(1))
      DeltaWrite.compact(s, src, targetFileBytes = 1L << 30)           // v3
      DeltaWrite.append(s, src,
        orders.filter(col("o_orderkey") % 3 === 2).repartition(2))     // v4
      val b2 = Streams.deltaTailToDelta(s, src, dst, ck,
        maxFilesPerTrigger = Some(1))
      graft.sources.DeltaLog.read(s, dst)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          lit(b1).as("batches_run1"), lit(b2).as("batches_run2"))
        .orderBy(col("o_orderkey"))
    }),

    // Streaming gap sessionization, gated: the full event stream replays in
    // order; 30-minute-gap sessions close exactly once, each user's final
    // session stays open (NoTimeout) and is excluded by the oracle too.
    "q120_stream_sessionize" -> ((s, dir) => withStreamGate(s, dir, exprOnly = false) { s =>
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"),
          (unix_micros(col("ts")) / lit(1000L)).cast("long").as("ts_ms"))
      val replay = cachedReplay(s"q120-$dir") { rd =>
        writeReplay(ev, "ts", rd.resolve("e"), n = 2)
      }
      val stream = Streams.fileSource(s, replay.resolve("e").toString, ev.schema,
        maxFilesPerTrigger = Some(1))
        .select(col("user_id"), col("ts_ms"))
        .as[Streams.SessionEvent]
      val closed = Streams.streamingSessionize(stream, gapMs = 30L * 60 * 1000)
      Streams.runToMemory(closed.toDF(),
        s"q120_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}",
        OutputMode.Append())
        .orderBy(col("user_id"), col("start_ms"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q119_stream_join" ->
      """SELECT c.event_id AS click_id, c.user_id AS user_id,
                p.event_id AS purchase_id
         FROM events c JOIN events p
           ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
         WHERE c.event_type = 'click' AND p.event_type = 'purchase'
         ORDER BY click_id, purchase_id""",
    "q121_stream_outer_join" ->
      """SELECT c.event_id AS click_id, c.user_id AS user_id,
                p.event_id AS purchase_id
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
         ORDER BY click_id, purchase_id""",
    "q133_stream_full_outer" ->
      """SELECT c.event_id AS click_id,
                coalesce(c.user_id, p.user_id) AS user_id,
                p.event_id AS purchase_id
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
         ORDER BY click_id NULLS FIRST, purchase_id NULLS FIRST""",
    "q122_stream_window" ->
      """SELECT date_trunc('day', ts) AS window_start, event_type,
                count(*) AS n_events
         FROM events
         GROUP BY window_start, event_type
         ORDER BY window_start, event_type""",
    "q123_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",
    "q137_stream_static_join" ->
      """SELECT e.event_id, e.user_id,
                CASE WHEN c.c_custkey % 3 <> 0 THEN c.c_mktsegment END AS segment
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
         ORDER BY event_id""",
    // the semi join's batch truth: clicks with ANY purchase in-window,
    // each exactly once
    "q143_stream_semi_join" ->
      """SELECT c.event_id AS click_id, c.user_id AS user_id
         FROM events c
         WHERE c.event_type = 'click' AND EXISTS (
           SELECT 1 FROM events p
           WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
         ORDER BY click_id""",

    // two incremental AvailableNow runs must reconstruct the batch table
    // exactly once — any re-read or gap across the checkpoint boundary
    // duplicates or drops event_ids
    "q142_stream_availablenow" ->
      """SELECT event_id, user_id, event_type, value
         FROM events ORDER BY event_id""",

    // the tail reconstructs the source table exactly once; 4 + 2 are the
    // pinned per-run batch counts under 1-file-per-trigger admission
    "q146_delta_tail" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
                CAST(4 AS INT) AS batches_run1,
                CAST(2 AS INT) AS batches_run2
         FROM orders ORDER BY o_orderkey""",

    // each (user_id, event_type) admitted once per horizon epoch: the base
    // replay and the +150-day replay = exactly two admissions per key
    "q138_stream_dedup_expiry" ->
      """SELECT user_id, event_type, CAST(2 AS BIGINT) AS n_admissions
         FROM (SELECT DISTINCT user_id, event_type FROM events)
         ORDER BY user_id, event_type""",
    "q124_stream_running_totals" ->
      """SELECT user_id, count(*) AS n_events FROM events
         GROUP BY user_id ORDER BY user_id""",
    // gaps-and-islands sessions minus each user's last (still-open) session
    "q120_stream_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
         flagged AS (
           SELECT user_id, ms,
             CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 1800000
                  THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
         sess AS (
           SELECT user_id, ms,
                  sum(new_s) OVER (PARTITION BY user_id ORDER BY ms
                                   ROWS UNBOUNDED PRECEDING) AS sid
           FROM flagged),
         agg AS (
           SELECT user_id, sid, min(ms) AS start_ms, max(ms) AS end_ms,
                  count(*) AS n_events
           FROM sess GROUP BY user_id, sid)
         SELECT user_id, start_ms, end_ms, n_events FROM agg
         WHERE sid < (SELECT max(sid) FROM agg a2 WHERE a2.user_id = agg.user_id)
         ORDER BY user_id, start_ms"""
  )
}
