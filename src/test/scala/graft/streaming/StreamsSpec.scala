package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("writeReplay files feed the source oldest-mtime-first, one per trigger, in ts order") {
    // the streaming oracle gates (q119-q124) are only deterministic if the
    // replay files arrive as in-order micro-batches — pin that contract
    val dir = tmpDir("replay-order").resolve("e")
    val df = (1 to 400).map(i => (new Timestamp(1700000000000L + i * 60000L), i.toLong))
      .toDF("ts", "n")
    graft.QueryHelpers.writeReplay(df, "ts", dir, n = 4)
    val files = new java.io.File(dir.toString).listFiles()
      .filter(_.getName.startsWith("batch-")).sortBy(_.getName)
    assert(files.length == 4)
    assert(files.map(_.lastModified()).toSeq == files.map(_.lastModified()).sorted.toSeq)

    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = Streams.fileSource(spark, dir.toString, df.schema,
        maxFilesPerTrigger = Some(1))
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!b.isEmpty) {
          val r = b.agg(min(col("n")), max(col("n"))).head()
          batches.synchronized { batches += ((id, r.getLong(0), r.getLong(1))) }
        }
        ()
      }.start()
    q.processAllAvailable()
    q.stop()
    // one file per trigger, batches in ascending ts-range order, no overlap
    val ordered = batches.sortBy(_._1)
    assert(ordered.size == 4, ordered.toString)
    assert(ordered.map(_._2).toSeq == ordered.map(_._2).sorted.toSeq)
    ordered.sliding(2).foreach {
      case scala.collection.mutable.ArrayBuffer((_, _, hi1), (_, lo2, _)) =>
        assert(hi1 < lo2, s"batch ranges overlap: $ordered")
      case _ => ()
    }
    assert(ordered.map(t => t._3 - t._2 + 1).sum == 400L)
  }

  test("windowed aggregation with watermark drops late events in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val agg = Streams.windowedEventStats(events, "1 minute", "1 minute")

    val q = agg.writeStream.format("memory").queryName("win_append")
      .outputMode(OutputMode.Append).start()
    // batch 1: events in minute 0
    input.addData(
      (ts("2024-01-01 00:00:10"), "click", 1.0),
      (ts("2024-01-01 00:00:40"), "click", 2.0))
    q.processAllAvailable()
    // batch 2: an event far enough ahead to close minute-0's window...
    input.addData((ts("2024-01-01 00:05:00"), "view", 5.0))
    q.processAllAvailable()
    // ...and a LATE event for minute 0 that the watermark must drop
    input.addData((ts("2024-01-01 00:00:50"), "click", 99.0))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 00:10:00"), "view", 1.0)) // close minute-5 window
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("win_append")
      .orderBy("window_start", "event_type").collect()
    val clicks = rows.filter(_.getString(2) == "click")
    assert(clicks.length == 1)
    assert(clicks.head.getLong(3) == 2L)          // late 99.0 event NOT counted
    assert(clicks.head.getDouble(4) == 3.0)
  }

  test("curation expressions run unchanged over a stream (quality filter at ingest)") {
    // the per-row curation surface (normalize, language ID, Gopher rules,
    // quality score) is pure expression work, so the same columns drive a
    // streaming ingest filter with no stateful operator at all
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val g = graft.functions.Text.gopherFlags(col("text"))
    val curated = docs.select(col("doc_id"),
        graft.functions.Text.normalizeText(col("text")).as("norm"),
        graft.functions.Text.langId(col("text")).as("lid"),
        g.getField("pass").as("keep"))
      .filter(col("keep"))
    val q = curated.writeStream.format("memory").queryName("curated_stream")
      .outputMode(OutputMode.Append).start()
    val good = (Seq.fill(8)("the quality of the data and the model have") :+
      "improved with that scale").mkString(" ")
    input.addData((1L, good), (2L, "too short to pass"))
    q.processAllAvailable()
    input.addData((3L, good + "  with   extra\tspaces"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("curated_stream").orderBy("doc_id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 3L)) // short doc filtered
    assert(rows.forall(_.getString(2) == "en"))
    assert(rows(1).getString(1).endsWith("with extra spaces")) // normalized
  }

  test("cdfConsume: durable-offset CDC apply — each change consumed exactly once") {
    import graft.destinations.DeltaWrite
    import graft.sources.DeltaLog
    val src = tmpDir("cdf-consume-src").toString
    val off = tmpDir("cdf-consume-off").resolve("offsets").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    DeltaWrite.createIfAbsent(spark, src, schema,
      properties = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaWrite.append(spark, src, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))

    // the idempotent CDC-apply target: replayed changes land in a map
    val applied = scala.collection.mutable.Map.empty[Long, String]
    def apply(changes: org.apache.spark.sql.DataFrame): Unit =
      changes.orderBy("_commit_version").collect().foreach { r =>
        r.getAs[String]("_change_type") match {
          case "delete" => applied.remove(r.getLong(0))
          case "update_preimage" => ()
          case _ => applied(r.getLong(0)) = r.getString(1)
        }
      }

    val o1 = Streams.cdfConsume(spark, src, off)(apply)
    assert(o1 == 1L && applied.toMap == Map(1L -> "a", 2L -> "b"))
    // nothing new: fn not called, offset unchanged
    val o2 = Streams.cdfConsume(spark, src, off)(_ => fail("must not be called"))
    assert(o2 == 1L)
    // two more commits, consumed in ONE batch; only the new versions arrive
    DeltaWrite.upsert(spark, src, Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"))
    DeltaWrite.delete(spark, src, "id = 1")
    var seenVersions: Set[Long] = Set.empty
    val o3 = Streams.cdfConsume(spark, src, off) { df =>
      seenVersions = df.collect().map(_.getAs[Long]("_commit_version")).toSet
      apply(df)
    }
    assert(o3 == 3L && seenVersions == Set(2L, 3L))
    assert(applied.toMap == Map(2L -> "B", 3L -> "c"))
    // the applied state equals the source table — the CDC sync contract
    val state = DeltaLog.read(spark, src).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state == applied.toMap)
  }

  test("split/shard assignment routes a stream identically to the batch expression") {
    // hashSplit/shard are pure scan expressions, so ingest-time routing
    // (e.g. writing arriving docs straight into their split/shard) needs no
    // stateful operator and agrees with any later batch re-derivation
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val docs = input.toDF().toDF("doc_id")
    val routed = docs.select(col("doc_id"),
      graft.ops.Splits.hashSplit(col("doc_id"),
        Seq("train" -> 0.9, "test" -> 0.1), seed = 3L).as("split"),
      graft.ops.Splits.shard(col("doc_id"), nShards = 4, seed = 3L).as("shard"))
    val q = routed.writeStream.format("memory").queryName("routed_stream")
      .outputMode(OutputMode.Append).start()
    input.addData(1L to 50L: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("routed_stream").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    val batch = spark.range(1, 51).select(col("id").as("doc_id"),
        graft.ops.Splits.hashSplit(col("doc_id"),
          Seq("train" -> 0.9, "test" -> 0.1), seed = 3L).as("split"),
        graft.ops.Splits.shard(col("doc_id"), nShards = 4, seed = 3L).as("shard"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(streamed == batch)
    assert(streamed.size == 50)
  }

  test("approx_top_terms aggregates over a stream (trending terms, complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    graft.functions.HeavyHitters.register(spark, 64)
    val input = MemoryStream[String]
    val words = input.toDF().toDF("w")
    val top = words.groupBy().agg(expr("approx_top_terms(w)").as("s"))
    val q = top.writeStream.format("memory").queryName("trending")
      .outputMode(OutputMode.Complete).start()
    try {
      input.addData("a", "a", "b")
      q.processAllAvailable()
      input.addData("a", "c", "c", "c", "c")
      q.processAllAvailable()
      val hits = spark.table("trending").head().getSeq[org.apache.spark.sql.Row](0)
      val byTerm = hits.map(h => h.getString(0) -> h.getLong(1)).toMap
      // counts accumulate across micro-batches: a=3, c=4, b=1
      assert(byTerm == Map("c" -> 4L, "a" -> 3L, "b" -> 1L))
      assert(hits.map(_.getString(0)).toSeq == Seq("c", "a", "b")) // count-desc order
    } finally {
      // even on assertion failure: stop the query and restore the
      // default-capacity registration — the session is JVM-shared, and a
      // lingering 64-slot sketch would silently approximate any later
      // Runner-driven test that assumes capacity >> vocabulary
      q.stop()
      graft.functions.HeavyHitters.register(spark)
    }
  }

  test("nearDupFilteredSink drops exact and near dups vs the static corpus per batch") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (101L, "completely unrelated corpus text about spark engines and big data")
    ).toDF("doc_id", "text")

    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val landed = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ckpt = tmpDir("graft-neardup-ckpt").toString
    val q = Streams.nearDupFilteredSink(stream, () => corpus, "doc_id", "text",
        ckpt, n = 3, threshold = 0.5) { batch =>
      landed.synchronized { landed ++= batch.select("doc_id").collect().map(_.getLong(0)) }
    }
    input.addData(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home"), // exact dup
      (2L, "the quick brown fox jumps over the lazy dog and runs far away now"),  // near dup
      (3L, "a genuinely fresh document with entirely novel words nobody wrote"))
    q.processAllAvailable()
    input.addData((4L, "another fresh one arriving in a later micro batch entirely"))
    q.processAllAvailable()
    q.stop()
    assert(landed.sorted == Seq(3L, 4L), landed)
  }

  test("dedupedStream drops in-horizon duplicate keys, state bounded by watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val events = input.toDF().toDF("ts", "doc_id", "text")
    val dedup = Streams.dedupedStream(events, "ts", Seq("doc_id"), "1 minute")
    val q = dedup.writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).start()
    input.addData(
      (ts("2024-01-01 00:00:10"), 1L, "a"),
      (ts("2024-01-01 00:00:20"), 1L, "a dup"),   // same key within horizon: dropped
      (ts("2024-01-01 00:00:30"), 2L, "b"))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 00:00:40"), 2L, "b dup")) // still within horizon
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup_stream").orderBy("doc_id").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(1L, 2L))
    assert(rows.map(_.getString(2)).toSeq == Seq("a", "b")) // first occurrence kept
  }

  test("windowed aggregation in complete mode reflects every on-time event") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    input.addData(
      (ts("2024-01-01 00:00:05"), "click", 1.0),
      (ts("2024-01-01 00:00:55"), "view", 2.0),
      (ts("2024-01-01 00:01:05"), "click", 4.0))
    val out = Streams.runToMemory(
      Streams.windowedEventStats(events, "1 minute", "10 minutes"),
      "win_complete", OutputMode.Complete)
    val m = out.collect().map(r => (r.getTimestamp(0).toString, r.getString(2)) -> r.getLong(3)).toMap
    assert(m(("2024-01-01 00:00:00.0", "click")) == 1L)
    assert(m(("2024-01-01 00:00:00.0", "view")) == 1L)
    assert(m(("2024-01-01 00:01:00.0", "click")) == 1L)
  }

  test("mapGroupsWithState keeps running per-user totals across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.UserEvent]
    val stats = Streams.runningUserStats(input.toDS()) // NoTimeout: drains deterministically

    val q = stats.writeStream.format("memory").queryName("user_stats")
      .outputMode(OutputMode.Update).start()
    input.addData(
      Streams.UserEvent(1L, "click", 1.0), Streams.UserEvent(1L, "view", 2.0),
      Streams.UserEvent(2L, "click", 10.0))
    q.processAllAvailable()
    input.addData(Streams.UserEvent(1L, "click", 4.0))
    q.processAllAvailable()
    q.stop()

    val last = spark.table("user_stats")
      .groupBy("user_id").agg(max("n_events").as("n"), max("total_value").as("v"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(last(1L) == (3L, 7.0))
    assert(last(2L) == (1L, 10.0))
  }

  test("flatMapGroupsWithState sessionization emits closed sessions exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.SessionEvent]
    val sessions = Streams.streamingSessionize(input.toDS(), gapMs = 1000L)
    val q = sessions.writeStream.format("memory").queryName("closed_sessions")
      .outputMode(OutputMode.Append).start()
    // session 1: three events within the gap; then a jump closes it
    input.addData(
      Streams.SessionEvent(1L, 100L), Streams.SessionEvent(1L, 500L),
      Streams.SessionEvent(1L, 1200L))
    q.processAllAvailable()
    input.addData(Streams.SessionEvent(1L, 10000L)) // gap > 1000ms → closes first session
    q.processAllAvailable()
    input.addData(Streams.SessionEvent(1L, 20000L)) // closes second session
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("closed_sessions").orderBy("start_ms").collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(1) == 100L && rows(0).getLong(2) == 1200L && rows(0).getLong(3) == 3L)
    assert(rows(1).getLong(1) == 10000L && rows(1).getLong(3) == 1L)
  }

  test("foreachBatch upsert sink merges micro-batches into a managed table by key") {
    import graft.destinations.DeltaWrite
    import graft.sources.DeltaLog
    import org.apache.spark.sql.types._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("stream-upsert")
    val table = root.resolve("tbl").toString
    DeltaWrite.createIfAbsent(spark, table, StructType(Seq(
      StructField("user_id", LongType), StructField("total", DoubleType))))

    val input = MemoryStream[(Long, Double)]
    val df = input.toDF().toDF("user_id", "total")
    val q = Streams.deltaUpsertSink(df, table, keys = Seq("user_id"),
      checkpointDir = root.resolve("ckpt").toString, txnAppId = "stream-upsert")
    input.addData((1L, 10.0), (2L, 20.0))
    q.processAllAvailable()
    input.addData((2L, 25.0), (3L, 30.0)) // 2 updated in place, 3 inserted
    q.processAllAvailable()
    q.stop()

    val rows = DeltaLog.read(spark, table).orderBy("user_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(rows.toSeq == Seq(1L -> 10.0, 2L -> 25.0, 3L -> 30.0))
    // each micro-batch committed one table version on top of create
    assert(DeltaWrite.history(spark, table).orderBy("version").collect()
      .map(_.getAs[String]("operation")).toSeq == Seq("CREATE TABLE", "MERGE", "MERGE"))
  }

  test("deltaUpsertSink crash-replay: replayed batch is skipped — no dup/lost rows, no extra versions") {
    import graft.destinations.DeltaWrite
    import graft.sources.DeltaLog
    import org.apache.spark.sql.types._
    val root = tmpDir("delta-upsert-xo")
    val src = root.resolve("in")
    java.nio.file.Files.createDirectories(src)
    val table = root.resolve("t").toString
    val cp = root.resolve("ckpt")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("total", DoubleType)))
    DeltaWrite.createIfAbsent(spark, table, schema)
    import spark.implicits._
    def drain(): Unit = {
      val q = Streams.deltaUpsertSink(
        Streams.fileSource(spark, src.toString, schema),
        table, keys = Seq("user_id"), checkpointDir = cp.toString, txnAppId = "xo-test")
      q.processAllAvailable()
      q.stop()
    }
    Seq((1L, 10.0), (2L, 20.0)).toDF("user_id", "total")
      .coalesce(1).write.mode("append").parquet(src.toString)
    drain()
    // snapshot the checkpoint BEFORE batch 1 so we can roll the engine
    // back to a "crashed after Delta commit, before offset commit" state
    val cpCopy = root.resolve("ckpt-copy")
    def copyDir(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      java.nio.file.Files.walk(from).forEach { p =>
        val dst = to.resolve(from.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
        else { java.nio.file.Files.createDirectories(dst.getParent)
          java.nio.file.Files.copy(p, dst): Unit }
      }
    }
    copyDir(cp, cpCopy)
    Seq((2L, 25.0), (3L, 30.0)).toDF("user_id", "total")
      .coalesce(1).write.mode("append").parquet(src.toString)
    drain() // batch 1 lands in Delta AND the engine checkpoint
    val versionAfter = DeltaLog.snapshot(spark, table).version
    def state() = DeltaLog.read(spark, table).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(state() == Map(1L -> 10.0, 2L -> 25.0, 3L -> 30.0))
    // crash simulation: restore the PRE-batch-1 checkpoint; the restarted
    // engine replays batch 1, but the SetTransaction bookmark says it
    // already landed — the sink must skip it, committing NOTHING
    org.apache.commons.io.FileUtils.deleteDirectory(cp.toFile)
    copyDir(cpCopy, cp)
    drain()
    assert(state() == Map(1L -> 10.0, 2L -> 25.0, 3L -> 30.0), "replay changed rows")
    assert(DeltaLog.snapshot(spark, table).version == versionAfter,
      "replayed batch must not commit a new version")
  }

  test("deltaMergeSink crash-replay: non-idempotent MERGE effects (deletes, accumulating updates) apply exactly once") {
    import graft.destinations.DeltaWrite
    import graft.destinations.DeltaWrite.MergeClause
    import graft.sources.DeltaLog
    import org.apache.spark.sql.types._
    val root = tmpDir("delta-merge-xo")
    val src = root.resolve("in")
    java.nio.file.Files.createDirectories(src)
    val table = root.resolve("t").toString
    val cp = root.resolve("ckpt")
    val srcSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("total", DoubleType),
      StructField("op", StringType)))
    DeltaWrite.createIfAbsent(spark, table, StructType(Seq(
      StructField("user_id", LongType), StructField("total", DoubleType))))
    import spark.implicits._
    def drain(): Unit = {
      val q = Streams.deltaMergeSink(
        Streams.fileSource(spark, src.toString, srcSchema),
        table, condition = "t.user_id = s.user_id",
        // CDC apply: delete on op='D', otherwise ACCUMULATE (t.total +
        // s.total — visibly double-applies if a replay is not skipped)
        matched = Seq(
          MergeClause.Delete(Some("s.op = 'D'")),
          MergeClause.Update(None, Map("total" -> "t.total + s.total"))),
        notMatched = Seq(MergeClause.Insert(Some("s.op <> 'D'"),
          Map("user_id" -> "s.user_id", "total" -> "s.total"))),
        checkpointDir = cp.toString, txnAppId = "merge-xo")
      q.processAllAvailable()
      q.stop()
    }
    Seq((1L, 10.0, "I"), (2L, 20.0, "I")).toDF("user_id", "total", "op")
      .coalesce(1).write.mode("append").parquet(src.toString)
    drain()
    val cpCopy = root.resolve("ckpt-copy")
    def copyDir(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      java.nio.file.Files.walk(from).forEach { p =>
        val dst = to.resolve(from.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
        else { java.nio.file.Files.createDirectories(dst.getParent)
          java.nio.file.Files.copy(p, dst): Unit }
      }
    }
    copyDir(cp, cpCopy)
    Seq((1L, 5.0, "U"), (2L, 0.0, "D"), (3L, 30.0, "I"))
      .toDF("user_id", "total", "op")
      .coalesce(1).write.mode("append").parquet(src.toString)
    drain() // batch 1: 1 accumulates to 15, 2 deleted, 3 inserted
    def state() = DeltaLog.read(spark, table).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(state() == Map(1L -> 15.0, 3L -> 30.0))
    val versionAfter = DeltaLog.snapshot(spark, table).version
    // crash simulation: restore the PRE-batch-1 checkpoint; the replayed
    // merge would re-accumulate (1 -> 20.0) and re-insert 3 — the
    // SetTransaction bookmark must skip it outright
    org.apache.commons.io.FileUtils.deleteDirectory(cp.toFile)
    copyDir(cpCopy, cp)
    drain()
    assert(state() == Map(1L -> 15.0, 3L -> 30.0), "replay re-applied MERGE")
    assert(DeltaLog.snapshot(spark, table).version == versionAfter,
      "replayed batch must not commit a new version")
  }

  test("icebergAppendSink crash-replay: summary-stamped batch ids dedupe — no dup/lost rows, no extra snapshots") {
    import graft.destinations.IcebergWrite
    import graft.sources.IcebergRead
    import org.apache.spark.sql.types._
    val root = tmpDir("iceberg-sink-xo")
    val src = root.resolve("in")
    java.nio.file.Files.createDirectories(src)
    val table = root.resolve("t").toString
    val cp = root.resolve("ckpt")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("total", DoubleType)))
    IcebergWrite.create(spark, table, schema)
    import spark.implicits._
    def drain(): Unit = {
      val q = Streams.icebergAppendSink(
        Streams.fileSource(spark, src.toString, schema),
        table, checkpointDir = cp.toString, appId = "ice-xo")
      q.processAllAvailable()
      q.stop()
    }
    Seq((1L, 10.0), (2L, 20.0)).toDF("user_id", "total")
      .coalesce(1).write.mode("append").parquet(src.toString)
    drain()
    val cpCopy = root.resolve("ckpt-copy")
    def copyDir(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      java.nio.file.Files.walk(from).forEach { p =>
        val dst = to.resolve(from.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
        else { java.nio.file.Files.createDirectories(dst.getParent)
          java.nio.file.Files.copy(p, dst): Unit }
      }
    }
    copyDir(cp, cpCopy)
    Seq((3L, 30.0)).toDF("user_id", "total")
      .coalesce(1).write.mode("append").parquet(src.toString)
    drain() // batch 1 lands in Iceberg AND the engine checkpoint
    def state() = IcebergRead.read(spark, table).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val snapsAfter = IcebergRead.snapshots(spark, table).count()
    assert(state() == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
    // crash simulation: pre-batch-1 checkpoint restored; the replayed
    // batch's id is at the table's summary high-water — skipped entirely
    org.apache.commons.io.FileUtils.deleteDirectory(cp.toFile)
    copyDir(cpCopy, cp)
    drain()
    assert(state() == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0), "replay changed rows")
    assert(IcebergRead.snapshots(spark, table).count() == snapsAfter,
      "replayed batch must not commit a new snapshot")
  }

  // r17 (VERDICT item 3): the Iceberg CDC sink — upserts + tombstones in
  // ONE snapshot per micro-batch, exactly-once under crash-replay.
  test("icebergMergeSink crash-replay: CDC apply is atomic per batch and replays are skipped") {
    import graft.destinations.IcebergWrite
    import graft.sources.IcebergRead
    import org.apache.spark.sql.types._
    val root = tmpDir("iceberg-merge-xo")
    val src = root.resolve("in")
    java.nio.file.Files.createDirectories(src)
    val table = root.resolve("t").toString
    val cp = root.resolve("ckpt")
    val tblSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("total", DoubleType)))
    val evSchema = StructType(tblSchema.fields.toSeq ++ Seq(
      StructField("op", StringType), StructField("ver", LongType)))
    IcebergWrite.create(spark, table, tblSchema)
    import spark.implicits._
    def drain(): Unit = {
      val q = Streams.icebergMergeSink(
        Streams.fileSource(spark, src.toString, evSchema),
        table, keys = Seq("user_id"), checkpointDir = cp.toString,
        appId = "ice-merge-xo", opCol = Some("op"), orderCol = Some("ver"))
      q.processAllAvailable()
      q.stop()
    }
    Seq((1L, 10.0, "U", 1L), (2L, 20.0, "U", 2L))
      .toDF("user_id", "total", "op", "ver")
      .coalesce(1).write.mode("append").parquet(src.toString)
    drain()
    val cpCopy = root.resolve("ckpt-copy")
    def copyDir(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      java.nio.file.Files.walk(from).forEach { p =>
        val dst = to.resolve(from.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
        else { java.nio.file.Files.createDirectories(dst.getParent)
          java.nio.file.Files.copy(p, dst): Unit }
      }
    }
    copyDir(cp, cpCopy)
    // batch 1: two versions of key 1 in ONE batch (latest wins via ver),
    // a tombstone for key 2, a fresh key 3
    Seq((1L, 11.0, "U", 3L), (1L, 12.0, "U", 4L),
        (2L, 0.0, "D", 5L), (3L, 30.0, "U", 6L))
      .toDF("user_id", "total", "op", "ver")
      .coalesce(1).write.mode("append").parquet(src.toString)
    drain() // batch 1 lands in Iceberg AND the engine checkpoint
    def state() = IcebergRead.read(spark, table).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(state() == Map(1L -> 12.0, 3L -> 30.0))
    // atomicity: one snapshot per micro-batch, operation=overwrite
    val snaps = IcebergRead.snapshots(spark, table).collect()
    assert(snaps.length == 2, s"one snapshot per batch, got ${snaps.length}")
    assert(snaps.forall(_.getAs[String]("operation") == "overwrite"))
    // crash simulation: pre-batch-1 checkpoint restored; the replayed
    // batch's id is at the summary high-water — skipped entirely (a
    // re-applied delete would otherwise kill batch 1's own rows)
    org.apache.commons.io.FileUtils.deleteDirectory(cp.toFile)
    copyDir(cpCopy, cp)
    drain()
    assert(state() == Map(1L -> 12.0, 3L -> 30.0), "replay changed rows")
    assert(IcebergRead.snapshots(spark, table).count() == 2,
      "replayed batch must not commit a new snapshot")
  }

  test("foreachBatch delta sink appends micro-batches as real Delta commits") {
    import graft.destinations.DeltaWrite
    import graft.sources.DeltaLog
    import org.apache.spark.sql.types._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("stream-delta")
    val tbl = root.resolve("tbl").toString
    DeltaWrite.createIfAbsent(spark, tbl, StructType(Seq(
      StructField("user_id", LongType), StructField("total", DoubleType))))

    val input = MemoryStream[(Long, Double)]
    val df = input.toDF().toDF("user_id", "total")
    val q = Streams.deltaAppendSink(df, tbl, root.resolve("ckpt").toString)
    input.addData((1L, 10.0), (2L, 20.0))
    q.processAllAvailable()
    input.addData((3L, 30.0))
    q.processAllAvailable()
    q.stop()

    val snap = DeltaLog.snapshot(spark, tbl)
    assert(snap.version == 2L) // create + one commit per micro-batch
    val rows = DeltaLog.read(spark, tbl).orderBy("user_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(rows.toSeq == Seq(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
    // a Delta reader can tail the stream's output version by version
    assert(DeltaLog.read(spark, tbl, versionAsOf = Some(1L)).count() == 2)
  }

  test("availableNowAppend: two runs share one checkpoint — each file processed exactly once") {
    import graft.destinations.DeltaWrite
    import graft.sources.DeltaLog
    import org.apache.spark.sql.types._
    val root = tmpDir("stream-availnow")
    val src = root.resolve("src")
    val tbl = root.resolve("tbl").toString
    val ck = root.resolve("ck").toString
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, tbl, schema)

    graft.QueryHelpers.appendReplayFile(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), src, 0)
    Streams.availableNowAppend(spark, src.toString, schema, tbl, ck)
    val v1 = DeltaLog.snapshot(spark, tbl).version
    assert(DeltaLog.read(spark, tbl).count() == 2)

    // run 2 with NO new input: the checkpoint makes it a no-op (no empty
    // commits, no re-reads)
    Streams.availableNowAppend(spark, src.toString, schema, tbl, ck)
    assert(DeltaLog.snapshot(spark, tbl).version == v1, "no-op run must not commit")

    // run 3 after a new file arrives: ONLY the new file lands
    graft.QueryHelpers.appendReplayFile(Seq((3L, "c")).toDF("id", "v"), src, 1)
    Streams.availableNowAppend(spark, src.toString, schema, tbl, ck)
    val rows = DeltaLog.read(spark, tbl).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // exactly one more data commit, carrying exactly the new row
    assert(DeltaLog.snapshot(spark, tbl).version == v1 + 1)
    assert(DeltaLog.read(spark, tbl, versionAsOf = Some(v1)).count() == 2)

    // the SetTransaction bookmark rode the commits (appId = the stream's
    // persisted id, version = batchId)
    val txns = DeltaLog.snapshot(spark, tbl).txns
    assert(txns.size == 1 && txns.head._2 == 1L, txns.toString)
    assert(txns.head._1.startsWith("graft-availablenow-"), txns.head._1)

    // checkpoint LOSS must mean reprocess, never skip: a wiped checkpoint
    // gets a fresh stream id, so its batch 0 (everything, including any
    // data that never processed) re-appends under a NEW appId —
    // at-least-once across checkpoint loss, duplicates for downstream
    // dedup, but no silent data loss (a path-derived appId would have
    // marked never-processed files as already-applied)
    def rmrf(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    rmrf(java.nio.file.Paths.get(ck))
    Streams.availableNowAppend(spark, src.toString, schema, tbl, ck)
    assert(DeltaLog.read(spark, tbl).count() == 6,
      "checkpoint loss must reprocess, not silently skip")
    val txns2 = DeltaLog.snapshot(spark, tbl).txns
    assert(txns2.size == 2, txns2.toString)
    // …and the NEW checkpoint's own replay protection still holds: a
    // no-new-data rerun with the fresh checkpoint is a no-op
    val vAfter = DeltaLog.snapshot(spark, tbl).version
    Streams.availableNowAppend(spark, src.toString, schema, tbl, ck)
    assert(DeltaLog.snapshot(spark, tbl).version == vAfter)
  }

  test("file streaming source processes incrementally-arriving files") {
    val dir = tmpDir("stream-files")
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    Seq((ts("2024-01-01 00:00:10"), "click", 1.0)).toDF("ts", "event_type", "value")
      .write.mode("append").parquet(dir.toString)
    val streamed = Streams.fileSource(spark, dir.toString, schema)
    assert(streamed.isStreaming)
    val out = Streams.runToMemory(
      Streams.windowedEventStats(streamed, "1 minute", "1 minute"),
      "file_stream_out", OutputMode.Complete)
    assert(out.collect().map(_.getLong(3)).sum == 1L)
  }

  test("watermarked stream-stream inner join matches within the time bound only") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, Long, String)]
    val clicks = MemoryStream[(Timestamp, Long, String)]
    val joined = Streams.joinedStreams(
      imps.toDF().toDF("ts", "user_id", "kind"),
      clicks.toDF().toDF("ts", "user_id", "kind"),
      key = "user_id", ts = "ts", within = "5 minutes", watermark = "2 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj_inner")
      .outputMode(OutputMode.Append).start()
    imps.addData(
      (ts("2024-01-01 00:00:00"), 1L, "imp"),
      (ts("2024-01-01 00:00:00"), 2L, "imp"))
    clicks.addData(
      (ts("2024-01-01 00:03:00"), 1L, "click"),   // within 5 min → match
      (ts("2024-01-01 00:09:00"), 2L, "click"),   // beyond 5 min → no match
      (ts("2024-01-01 00:02:00"), 3L, "click"))   // no impression → no match
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssj_inner").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("l_user_id") == 1L &&
      rows.head.getAs[String]("r_kind") == "click")
  }

  test("stream-stream left_outer emits unmatched rows once the watermark closes them") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, Long, String)]
    val clicks = MemoryStream[(Timestamp, Long, String)]
    val joined = Streams.joinedStreams(
      imps.toDF().toDF("ts", "user_id", "kind"),
      clicks.toDF().toDF("ts", "user_id", "kind"),
      key = "user_id", ts = "ts", within = "5 minutes",
      joinType = "left_outer", watermark = "1 minute")
    val q = joined.writeStream.format("memory").queryName("ssj_outer")
      .outputMode(OutputMode.Append).start()
    imps.addData(
      (ts("2024-01-01 00:00:00"), 1L, "imp"),     // will match
      (ts("2024-01-01 00:00:00"), 2L, "imp"))     // never clicks
    clicks.addData((ts("2024-01-01 00:03:00"), 1L, "click"))
    q.processAllAvailable()
    // advance BOTH watermarks far past imp-2's join window so the outer
    // row can be finalized as unmatched
    imps.addData((ts("2024-01-01 01:00:00"), 99L, "imp"))
    clicks.addData((ts("2024-01-01 01:00:00"), 98L, "click"))
    q.processAllAvailable()
    imps.addData((ts("2024-01-01 02:00:00"), 97L, "imp"))
    clicks.addData((ts("2024-01-01 02:00:00"), 96L, "click"))
    q.processAllAvailable()
    q.stop()
    val byUser = spark.table("ssj_outer").collect()
      .groupBy(_.getAs[Long]("l_user_id"))
    assert(byUser(1L).head.getAs[String]("r_kind") == "click")
    assert(byUser.contains(2L) && byUser(2L).head.isNullAt(
      spark.table("ssj_outer").columns.indexOf("r_kind")))
  }
}
