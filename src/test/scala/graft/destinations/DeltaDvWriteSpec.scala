package graft.destinations

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.sources.{DeletionVectors, DeltaLog}

/** Write-side deletion vectors: merge-on-read DELETE commits that mark rows
  * in roaring bitmaps instead of rewriting data files. Every table written
  * here is read back through [[DeltaLog]] (the DV-aware read path), and the
  * raw `_delta_log` JSON is parsed to pin the protocol shape a foreign
  * reader would see. Formats per the public Delta spec (Deletion Vector
  * Descriptor Schema / Deletion Vector Format / RoaringFormatSpec).
  */
class DeltaDvWriteSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private def logLines(table: java.nio.file.Path, version: Long): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val f = table.resolve("_delta_log").resolve(f"$version%020d.json")
    java.nio.file.Files.readString(f).linesIterator
      .filter(_.trim.nonEmpty).map(mapper.readTree).toSeq
  }

  private def action(nodes: Seq[com.fasterxml.jackson.databind.JsonNode], name: String) =
    nodes.flatMap(n => Option(n.get(name)).filterNot(_.isNull))

  private val dvProps = Map("delta.enableDeletionVectors" -> "true")

  private def mkTable(name: String, rows: Seq[(Long, String)], parts: Int = 2): java.nio.file.Path = {
    import spark.implicits._
    val table = tmpDir(name)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema, properties = dvProps)
    DeltaWrite.append(spark, table.toString, rows.toDF("id", "v").repartition(parts))
    table
  }

  test("roaring serialize/decode round-trip across container types") {
    // array container, bitmap container (>4096 dense values), high-32 split
    val sparse = Array(0L, 1L, 5L, 65535L, 65536L, 1000000L)
    val dense = (0L until 5000L).toArray
    val high = Array(3L, (1L << 32) + 7L, (2L << 32))
    for (idxs <- Seq(sparse, dense, high, sparse ++ dense)) {
      val arr = DeletionVectors.decode(DeletionVectors.serialize(idxs))
      assert(arr.cardinality == idxs.distinct.length.toLong)
      idxs.foreach(i => assert(arr.contains(i), s"missing $i"))
      assert(!arr.contains(123456789L))
      assert(arr.toLongArray.toSeq == idxs.distinct.sorted.toSeq)
    }
  }

  test("roaring serialize/decode property: random index sets round-trip exactly") {
    val rnd = new scala.util.Random(0xD17AL)
    // regimes: sparse scattered, dense runs, sign-boundary lows (low-32
    // values past 2^31), cross-high-32, container-boundary cardinalities
    val cases: Seq[Array[Long]] = Seq(
      Array.fill(200)(rnd.nextLong(1L << 33)).map(math.abs),
      (10000L until 10000L + 4096L).toArray, // exactly one full array container
      (10000L until 10000L + 4097L).toArray, // tips into a bitmap container
      Array.tabulate(300)(i => (1L << 31) + i * 7L), // low-32 sign boundary
      Array.tabulate(50)(i => i.toLong * (1L << 30))) // spread across highs
    cases.foreach { idxs =>
      val arr = DeletionVectors.decode(DeletionVectors.serialize(idxs))
      val expect = idxs.distinct.sorted
      assert(arr.cardinality == expect.length.toLong)
      assert(arr.toLongArray.toSeq == expect.toSeq)
      expect.foreach(i => assert(arr.contains(i)))
      // absent neighbors stay absent
      expect.take(50).foreach { i =>
        if (!expect.contains(i + 1)) assert(!arr.contains(i + 1), s"${i + 1}")
      }
    }
  }

  test("DV delete marks rows without rewriting data files; protocol set at create") {
    val table = mkTable("dv-basic", (1L to 100L).map(i => (i, s"v$i")))
    val dataFilesBefore = DeltaLog.snapshot(spark, table.toString).files.map(_.path).toSet

    // delta.enableDeletionVectors at CREATE enables the feature immediately —
    // and deletionVectors is reader-WRITER, so it must appear in BOTH lists
    // (ADVICE r13: an asymmetric protocol lets non-DV-aware foreign writers
    // corrupt the table)
    val createProto = action(logLines(table, 0L), "protocol").head
    assert(createProto.get("minReaderVersion").asInt == 3)
    assert(createProto.get("minWriterVersion").asInt == 7)
    assert(createProto.get("readerFeatures").toString.contains("deletionVectors"))
    assert(createProto.get("writerFeatures").toString.contains("deletionVectors"))

    val v = DeltaWrite.delete(spark, table.toString, "id % 10 = 0")
    assert(v == 2L)

    // data files unchanged, re-added with DV descriptors
    val snap = DeltaLog.snapshot(spark, table.toString)
    assert(snap.files.map(_.path).toSet == dataFilesBefore)
    assert(snap.files.forall(_.deletionVector.isDefined))
    val lines = logLines(table, 2L)
    val adds = action(lines, "add")
    assert(adds.nonEmpty && adds.forall(a => a.get("deletionVector") != null))
    assert(action(lines, "remove").nonEmpty)
    // no second upgrade needed: the create protocol already carries DV in
    // both lists
    assert(action(lines, "protocol").isEmpty)

    val back = DeltaLog.read(spark, table.toString).collect().map(_.getLong(0)).toSet
    assert(back == (1L to 100L).filterNot(_ % 10 == 0).toSet)
  }

  test("a table path with a space and a comma: DV delete, upsert and row ids find the files") {
    import spark.implicits._
    // `_metadata.file_path` percent-encodes the space; the log's paths do not
    val table = tmpDir("dv path, spaced").toString
    DeltaWrite.createIfAbsent(spark, table, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      properties = dvProps + ("delta.enableRowTracking" -> "true"))
    DeltaWrite.append(spark, table, (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v").repartition(2))
    DeltaWrite.delete(spark, table, "id % 5 = 0")
    DeltaWrite.upsert(spark, table, Seq((1L, "u"), (21L, "n")).toDF("id", "v"), Seq("id"))
    val rows = DeltaLog.readWithRowIds(spark, table).select("id", "v", "_row_id")
      .as[(Long, String, Long)].collect().toSeq
    assert(rows.map(_._1).sorted == (1L to 21L).filterNot(_ % 5 == 0))
    assert(rows.collect { case (1L, v, _) => v } == Seq("u"))
    assert(rows.map(_._3).distinct.size == rows.size, rows)
  }

  test("second delete unions into existing DVs; time travel sees each state") {
    val table = mkTable("dv-union", (1L to 50L).map(i => (i, s"v$i")), parts = 1)
    DeltaWrite.delete(spark, table.toString, "id <= 10")
    DeltaWrite.delete(spark, table.toString, "id > 40")
    val back = DeltaLog.read(spark, table.toString).collect().map(_.getLong(0)).toSet
    assert(back == (11L to 40L).toSet)
    // the single file's DV now carries both deletes
    val snap = DeltaLog.snapshot(spark, table.toString)
    assert(snap.files.size == 1)
    val d = DeletionVectors.parse(snap.files.head.deletionVector.get)
    assert(d.cardinality == 20L)
    // versionAsOf replays the intermediate DV state
    val mid = DeltaLog.read(spark, table.toString, versionAsOf = Some(2L))
      .collect().map(_.getLong(0)).toSet
    assert(mid == (11L to 50L).toSet)
  }

  test("a fully-deleted file is removed outright, not re-added with a full DV") {
    import spark.implicits._
    val table = tmpDir("dv-dead")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema,
      partitionBy = Seq("v"), properties = dvProps)
    DeltaWrite.append(spark, table.toString,
      ((1L to 10L).map(i => (i, "a")) ++ (11L to 20L).map(i => (i, "b"))).toDF("id", "v"))
    DeltaWrite.delete(spark, table.toString, "v = 'a'")
    val snap = DeltaLog.snapshot(spark, table.toString)
    assert(snap.files.forall(_.partitionValues.get("v").contains("b")),
      snap.files.map(f => f.path -> f.partitionValues).toString)
    assert(snap.files.forall(_.deletionVector.isEmpty))
    val back = DeltaLog.read(spark, table.toString).collect().map(_.getLong(0)).toSet
    assert(back == (11L to 20L).toSet)
  }

  test("large DVs go to a .bin sidecar that vacuum protects") {
    val table = mkTable("dv-bin", (1L to 30000L).map(i => (i, s"v$i")), parts = 1)
    // delete a scattered half: serialized bitmap exceeds the inline cap
    DeltaWrite.delete(spark, table.toString, "id % 2 = 0")
    val snap = DeltaLog.snapshot(spark, table.toString)
    val d = DeletionVectors.parse(snap.files.head.deletionVector.get)
    assert(d.storageType == "u", d.toString)
    assert(d.cardinality == 15000L)
    val bin = DeletionVectors.dvFilePath(table.toString, d)
    val fs = bin.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(bin))
    // vacuum with zero retention: tombstoned nothing is at risk here, but
    // the .bin must survive the referenced-file sweep
    DeltaWrite.vacuum(spark, table.toString, retainMs = 0L)
    assert(fs.exists(bin), "vacuum deleted a live deletion vector")
    val back = DeltaLog.read(spark, table.toString).collect().map(_.getLong(0)).toSet
    assert(back == (1L to 30000L).filter(_ % 2 == 1).toSet)
  }

  test("checkpoint carries DVs and configuration; replay from checkpoint alone is exact") {
    val table = mkTable("dv-cp", (1L to 100L).map(i => (i, s"v$i")))
    DeltaWrite.delete(spark, table.toString, "id <= 25")
    DeltaWrite.checkpoint(spark, table.toString)
    // simulate log cleanup: drop every JSON commit at/below the checkpoint
    val logDir = table.resolve("_delta_log")
    java.nio.file.Files.list(logDir).forEach { p =>
      if (p.getFileName.toString.endsWith(".json")) java.nio.file.Files.delete(p)
    }
    val snap = DeltaLog.snapshot(spark, table.toString)
    assert(snap.configuration.get("delta.enableDeletionVectors").contains("true"))
    assert(snap.files.forall(_.deletionVector.isDefined))
    val back = DeltaLog.read(spark, table.toString).collect().map(_.getLong(0)).toSet
    assert(back == (26L to 100L).toSet)
  }

  test("multi-part checkpoint replays exactly (incl. DVs) once JSON commits are gone") {
    import spark.implicits._
    val table = mkTable("dv-multipart", (1L to 60L).map(i => (i, s"v$i")), parts = 1)
    // five more single-file appends → 6 live files
    (1 to 5).foreach(i => DeltaWrite.append(spark, table.toString,
      Seq((100L + i, s"x$i")).toDF("id", "v").repartition(1)))
    DeltaWrite.delete(spark, table.toString, "id <= 10")
    // force the multi-part form: 2 adds per checkpoint part
    DeltaWrite.checkpoint(spark, table.toString, partActions = 2L)
    val logDir = table.resolve("_delta_log")
    val names = java.nio.file.Files.list(logDir).map[String](_.getFileName.toString)
      .toArray.map(_.toString).toSeq
    val cpParts = names.filter(n => n.contains(".checkpoint.") && n.endsWith(".parquet"))
    assert(cpParts.size == 3, cpParts.toString) // 6 files / 2 per part
    assert(cpParts.forall(_.matches("""\d{20}\.checkpoint\.\d{10}\.\d{10}\.parquet""")), cpParts)
    val lc = java.nio.file.Files.readString(logDir.resolve("_last_checkpoint"))
    assert(lc.contains("\"parts\":3"), lc)
    // drop the JSON commits: the checkpoint alone must reconstruct state
    java.nio.file.Files.list(logDir).forEach { p =>
      if (p.getFileName.toString.endsWith(".json")) java.nio.file.Files.delete(p)
    }
    val back = DeltaLog.read(spark, table.toString).collect().map(_.getLong(0)).toSet
    assert(back == ((11L to 60L).toSet ++ (101L to 105L).toSet))
  }

  test("restore across a DV delete resurrects rows; restore back re-deletes them") {
    val table = mkTable("dv-restore", (1L to 40L).map(i => (i, s"v$i")))
    val vDel = DeltaWrite.delete(spark, table.toString, "id > 30") // v2
    val vBack = DeltaWrite.restore(spark, table.toString, 1L) // undo the delete
    assert(vBack == vDel + 1)
    assert(DeltaLog.read(spark, table.toString).count() == 40L)
    DeltaWrite.restore(spark, table.toString, vDel) // redo: DV must come back
    val back = DeltaLog.read(spark, table.toString).collect().map(_.getLong(0)).toSet
    assert(back == (1L to 30L).toSet)
  }

  test("copy-on-write delete without the table property; NULL predicate rows kept") {
    import spark.implicits._
    val table = tmpDir("dv-cow")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("n", LongType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema)
    DeltaWrite.append(spark, table.toString,
      Seq((1L, Some(5L)), (2L, Some(50L)), (3L, None: Option[Long]))
        .toDF("id", "n").repartition(1))
    DeltaWrite.delete(spark, table.toString, "n > 10")
    val lines = logLines(table, 2L)
    assert(action(lines, "add").forall(a => a.get("deletionVector") == null))
    assert(action(lines, "remove").nonEmpty) // file rewritten, not DV'd
    val back = DeltaLog.read(spark, table.toString).collect()
      .map(_.getLong(0)).toSet
    assert(back == Set(1L, 3L)) // row 3 has NULL n: kept, per SQL DELETE
  }

  test("upsert and compact on a DV table fold deletions into rewrites") {
    import spark.implicits._
    val table = mkTable("dv-upsert", (1L to 20L).map(i => (i, s"v$i")), parts = 1)
    DeltaWrite.delete(spark, table.toString, "id <= 5")
    // upsert touches the DV'd file: rewrite must not resurrect ids 1-5
    DeltaWrite.upsert(spark, table.toString,
      Seq((10L, "TEN"), (99L, "NEW")).toDF("id", "v"), keys = Seq("id"))
    val back = DeltaLog.read(spark, table.toString).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back.keySet == ((6L to 20L).toSet + 99L))
    assert(back(10L) == "TEN" && back(99L) == "NEW")
  }

  test("REORG APPLY PURGE rewrites every DV-carrying file; dataChange=false; rows exact") {
    val table = mkTable("dv-reorg", (1L to 100L).map(i => (i, s"v$i")), parts = 2)
    DeltaWrite.delete(spark, table.toString, "id % 3 = 0")
    val before = DeltaLog.snapshot(spark, table.toString)
    assert(before.files.exists(_.deletionVector.isDefined))
    val v = DeltaWrite.reorgPurge(spark, table.toString)
    val lines = logLines(table, v)
    // all actions layout-only: REORG must stay invisible to CDF/streams
    assert(action(lines, "add").forall(a => !a.get("dataChange").asBoolean(true)))
    assert(action(lines, "remove").forall(r => !r.get("dataChange").asBoolean(true)))
    assert(action(lines, "commitInfo").head.get("operation").asText == "REORG")
    val after = DeltaLog.snapshot(spark, table.toString)
    assert(after.files.forall(_.deletionVector.isEmpty), "no DV survives a purge")
    val back = DeltaLog.read(spark, table.toString).collect().map(_.getLong(0)).toSet
    assert(back == (1L to 100L).filterNot(_ % 3 == 0).toSet)
    assert(DeltaLog.verifyChecksum(spark, table.toString, None))
    // idempotent: nothing left to purge
    assert(DeltaWrite.reorgPurge(spark, table.toString) == v)
  }

  test("DV read plan: row filter is the native codegen'd predicate, no UDF node") {
    val table = mkTable("dv-plan", (1L to 100L).map(i => (i, s"v$i")), parts = 1)
    DeltaWrite.delete(spark, table.toString, "id % 3 = 0")
    val df = DeltaLog.read(spark, table.toString)
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("UDF"), physical)
    assert(physical.contains("dv_live_row"), physical)
    // the DV filter stays inside a whole-stage-codegen span (the `*` prefix
    // in formatted explain marks codegen'd operators)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.linesIterator.exists(l =>
      l.contains("* Filter") || l.contains("*(")), formatted)
    assert(formatted.linesIterator
      .dropWhile(!_.startsWith("(4) Filter")).take(1)
      .forall(_.contains("codegen id")), formatted)
    assert(df.collect().map(_.getLong(0)).toSet == (1L to 100L).filter(_ % 3 != 0).toSet)
  }
}
