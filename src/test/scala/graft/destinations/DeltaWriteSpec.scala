package graft.destinations

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.config.{Location, ManagedTableDestination, ReplaceCondition, TableAppend, TableUpsert, Types}
import graft.sources.DeltaLog

/** The Delta WRITE half of the protocol bridge: every table written here is
  * read back through [[DeltaLog]] (the independent read path), and the raw
  * `_delta_log` JSON is parsed directly to pin protocol conformance — the
  * shape any external Delta reader would see.
  */
class DeltaWriteSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private def logLines(table: java.nio.file.Path, version: Long): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val f = table.resolve("_delta_log").resolve(f"$version%020d.json")
    java.nio.file.Files.readString(f).linesIterator
      .filter(_.trim.nonEmpty).map(mapper.readTree).toSeq
  }

  private def action(nodes: Seq[com.fasterxml.jackson.databind.JsonNode], name: String) =
    nodes.flatMap(n => Option(n.get(name)))

  test("write obligations enforced: CHECK constraints, invariants, generated columns") {
    import spark.implicits._
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      val sb = new StringBuilder
      while (c != null) { sb.append(String.valueOf(c.getMessage)); c = c.getCause }
      sb.toString
    }

    // CHECK constraint declared at create: protocol jumps to writer 3,
    // conforming writes land, a violating row aborts with no commit
    val ck = tmpDir("dw-oblig-check")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("price", DoubleType)))
    DeltaWrite.createIfAbsent(spark, ck.toString, schema,
      properties = Map("delta.constraints.pos_price" -> "price > 0"))
    val proto = action(logLines(ck, 0L), "protocol").head
    assert(proto.get("minWriterVersion").asInt == 3, proto.toString)
    DeltaWrite.append(spark, ck.toString, Seq((1L, 10.0), (2L, 0.5)).toDF("id", "price"))
    val bad = intercept[Exception](DeltaWrite.append(spark, ck.toString,
      Seq((3L, -1.0)).toDF("id", "price")))
    assert(rootMsg(bad).contains("pos_price"), rootMsg(bad))
    // NULL passes, per spec
    DeltaWrite.append(spark, ck.toString,
      Seq((4L, Option.empty[Double])).toDF("id", "price"))
    assert(DeltaLog.read(spark, ck.toString).count() == 3)
    // upsert and replace paths enforce too
    val up = intercept[Exception](DeltaWrite.upsert(spark, ck.toString,
      Seq((1L, -5.0)).toDF("id", "price"), Seq("id")))
    assert(rootMsg(up).contains("pos_price"), rootMsg(up))

    // legacy column invariant in field metadata: enforced on append
    val inv = tmpDir("dw-oblig-inv")
    val invMeta = new MetadataBuilder().putString("delta.invariants",
      """{"expression":{"expression":"id < 100"}}""").build()
    DeltaWrite.createIfAbsent(spark, inv.toString, StructType(Seq(
      StructField("id", LongType, nullable = true, invMeta),
      StructField("v", StringType))))
    DeltaWrite.append(spark, inv.toString, Seq((1L, "ok")).toDF("id", "v"))
    val ib = intercept[Exception](DeltaWrite.append(spark, inv.toString,
      Seq((200L, "too big")).toDF("id", "v")))
    assert(rootMsg(ib).contains("id < 100"), rootMsg(ib))

    // generated column: computed when absent, verified when provided
    val gen = tmpDir("dw-oblig-gen")
    val genMeta = new MetadataBuilder().putString("delta.generationExpression",
      "id * 2").build()
    DeltaWrite.createIfAbsent(spark, gen.toString, StructType(Seq(
      StructField("id", LongType),
      StructField("doubled", LongType, nullable = true, genMeta))))
    DeltaWrite.append(spark, gen.toString, Seq(Tuple1(3L)).toDF("id"))
    val got = DeltaLog.read(spark, gen.toString).orderBy("id").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((3L, 6L)))
    DeltaWrite.append(spark, gen.toString, Seq((4L, 8L)).toDF("id", "doubled"))
    val gb = intercept[Exception](DeltaWrite.append(spark, gen.toString,
      Seq((5L, 11L)).toDF("id", "doubled")))
    assert(rootMsg(gb).contains("doubled"), rootMsg(gb))
    assert(DeltaLog.read(spark, gen.toString).count() == 2)
  }

  test("change data feed: appends derive, partial rewrites emit cdc, readCdf round-trips") {
    import spark.implicits._
    val t = tmpDir("dw-cdf")
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, t.toString, schema,
      properties = Map("delta.enableChangeDataFeed" -> "true"))
    assert(action(logLines(t, 0L), "protocol").head.get("minWriterVersion").asInt == 4)

    // v1 append: no cdc action by spec — readers derive inserts from adds
    DeltaWrite.append(spark, t.toString, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    assert(action(logLines(t, 1L), "cdc").isEmpty)
    val c1 = DeltaLog.readCdf(spark, t.toString, 0L).collect()
    assert(c1.length == 3 && c1.forall(_.getAs[String]("_change_type") == "insert"))
    assert(c1.forall(_.getAs[Long]("_commit_version") == 1L))
    assert(c1.forall(_.getAs[java.sql.Timestamp]("_commit_timestamp") != null))

    // v2 upsert (update id=2, insert id=4): cdc files carry exactly the
    // pre/post images + insert — copied-over survivors (1, 3) must NOT
    // surface as changes (they share the rewritten file with id=2)
    DeltaWrite.upsert(spark, t.toString, Seq((2L, "B"), (4L, "d")).toDF("id", "v"), Seq("id"))
    val cdcActions = action(logLines(t, 2L), "cdc")
    assert(cdcActions.nonEmpty)
    cdcActions.foreach { c =>
      assert(c.get("path").asText.startsWith("_change_data/"), c.toString)
      assert(!c.get("dataChange").asBoolean)
    }
    val c2 = DeltaLog.readCdf(spark, t.toString, 1L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[String]("_change_type"))).toSet
    assert(c2 == Set((2L, "b", "update_preimage"), (2L, "B", "update_postimage"),
      (4L, "d", "insert")), c2)

    // v3 copy-on-write delete: only the deleted row in cdc
    DeltaWrite.delete(spark, t.toString, "id = 1")
    val c3 = DeltaLog.readCdf(spark, t.toString, 2L).collect()
      .map(r => (r.getLong(0), r.getAs[String]("_change_type"))).toSet
    assert(c3 == Set((1L, "delete")), c3)

    // whole tail in one read; table state still correct
    assert(DeltaLog.readCdf(spark, t.toString, 0L).count() == 3 + 3 + 1)
    assert(DeltaLog.read(spark, t.toString).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "B"), (3L, "c"), (4L, "d")))

    // v4 full overwrite: derivation mode again — old rows delete (read from
    // the still-retained removed files via the v3 index), new rows insert
    DeltaWrite.overwrite(spark, t.toString, Seq((9L, "z")).toDF("id", "v"))
    assert(action(logLines(t, 4L), "cdc").isEmpty)
    val c4 = DeltaLog.readCdf(spark, t.toString, 3L).collect()
      .map(r => (r.getLong(0), r.getAs[String]("_change_type"))).toSet
    assert(c4 == Set((2L, "delete"), (3L, "delete"), (4L, "delete"), (9L, "insert")), c4)

    // readCdf refuses tables without the property
    val plain = tmpDir("dw-cdf-plain")
    DeltaWrite.createIfAbsent(spark, plain.toString, schema)
    DeltaWrite.append(spark, plain.toString, Seq((1L, "x")).toDF("id", "v"))
    val e = intercept[IllegalArgumentException](
      DeltaLog.readCdf(spark, plain.toString, 0L))
    assert(e.getMessage.contains("enableChangeDataFeed"), e.getMessage)
  }

  test("change data feed + deletion vectors: a DV delete emits cdc; masked rows not resurrected") {
    import spark.implicits._
    val t = tmpDir("dw-cdf-dv")
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, t.toString, schema,
      properties = Map("delta.enableChangeDataFeed" -> "true",
        "delta.enableDeletionVectors" -> "true"))
    DeltaWrite.append(spark, t.toString,
      (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"))
    // v2: DV delete — no data rewritten, cdc names the two rows
    DeltaWrite.delete(spark, t.toString, "id IN (2, 5)")
    assert(action(logLines(t, 2L), "cdc").nonEmpty)
    val c2 = DeltaLog.readCdf(spark, t.toString, 1L).collect()
      .map(r => (r.getLong(0), r.getAs[String]("_change_type"))).toSet
    assert(c2 == Set((2L, "delete"), (5L, "delete")), c2)
    // the v7 protocol (complete at CREATE since the r13 feature-symmetry
    // fix) keeps the CDF obligation visible; the delete itself needs no
    // upgrade action
    assert(action(logLines(t, 2L), "protocol").isEmpty)
    val proto = action(logLines(t, 0L), "protocol").head
    val wf = (0 until proto.get("writerFeatures").size)
      .map(proto.get("writerFeatures").get(_).asText).toSet
    assert(wf.contains("changeDataFeed") && wf.contains("deletionVectors"), wf.toString)
    // v3 full overwrite: derivation must read the DV'd file WITHOUT
    // resurrecting rows 2 and 5 as deletes
    DeltaWrite.overwrite(spark, t.toString, Seq((10L, "w")).toDF("id", "v"))
    val c3 = DeltaLog.readCdf(spark, t.toString, 2L).collect()
      .map(r => (r.getLong(0), r.getAs[String]("_change_type"))).toSet
    assert(c3 == Set((1L, "delete"), (3L, "delete"), (4L, "delete"), (6L, "delete"),
      (10L, "insert")), c3)
  }

  test("create + append round-trips through the read bridge; v0 is protocol-conformant") {
    import spark.implicits._
    val table = tmpDir("dw-basic")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    assert(DeltaWrite.createIfAbsent(spark, table.toString, schema))
    assert(!DeltaWrite.createIfAbsent(spark, table.toString, schema)) // idempotent

    val v0 = logLines(table, 0L)
    val proto = action(v0, "protocol").head
    assert(proto.get("minReaderVersion").asInt == 1 && proto.get("minWriterVersion").asInt == 2)
    val meta = action(v0, "metaData").head
    assert(meta.get("format").get("provider").asText == "parquet")
    assert(meta.get("schemaString").asText.contains("\"id\""))
    assert(meta.get("id").asText.nonEmpty)
    assert(action(v0, "commitInfo").nonEmpty)

    val ver1 = DeltaWrite.append(spark, table.toString,
      Seq((1L, "one"), (2L, "two")).toDF("id", "v"))
    assert(ver1 == 1L)
    val adds = action(logLines(table, 1L), "add")
    assert(adds.nonEmpty)
    adds.foreach { a =>
      assert(!a.get("path").asText.startsWith("/")) // table-relative
      assert(a.get("size").asLong > 0)
      assert(a.get("modificationTime").asLong > 0)
      assert(a.get("dataChange").asBoolean)
      assert(a.get("partitionValues").size == 0)
    }

    DeltaWrite.append(spark, table.toString, Seq((3L, "three")).toDF("id", "v"))
    val back = DeltaLog.read(spark, table.toString).orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "one"), (2L, "two"), (3L, "three")))
    // time travel still works against our own commits
    assert(DeltaLog.read(spark, table.toString, versionAsOf = Some(1L)).count() == 2)
  }

  test("partitioned writes: hive layout, partitionValues in the log, null partitions") {
    import spark.implicits._
    val table = tmpDir("dw-part")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("part", StringType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema, partitionBy = Seq("part"))
    DeltaWrite.append(spark, table.toString,
      Seq((1L, "one", "a"), (2L, "two", "b"), (3L, "three", null))
        .toDF("id", "v", "part"))

    val adds = action(logLines(table, 1L), "add")
    val pvs = adds.map(a => Option(a.get("partitionValues").get("part"))
      .filterNot(_.isNull).map(_.asText))
    assert(pvs.toSet == Set(Some("a"), Some("b"), None))
    adds.foreach(a => assert(a.get("path").asText.contains("part=")))

    // data files must NOT embed the partition column (spec: log-only)
    val firstData = adds.head.get("path").asText
    val raw = spark.read.parquet(table.resolve(
      java.net.URLDecoder.decode(firstData, "UTF-8")).toString)
    assert(!raw.columns.contains("part"))

    val back = DeltaLog.read(spark, table.toString).orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), Option(r.getString(2)))).toSeq ==
      Seq((1L, Some("a")), (2L, Some("b")), (3L, None)))
  }

  test("overwrite removes the previous snapshot's files in the log") {
    import spark.implicits._
    val table = tmpDir("dw-ow")
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema)
    DeltaWrite.append(spark, table.toString, Seq((1L, "old")).toDF("id", "v"))
    val addedV1 = action(logLines(table, 1L), "add").map(_.get("path").asText).toSet

    DeltaWrite.overwrite(spark, table.toString, Seq((9L, "new")).toDF("id", "v"))
    val v2 = logLines(table, 2L)
    val removed = action(v2, "remove").map(_.get("path").asText).toSet
    assert(removed == addedV1)
    action(v2, "remove").foreach { r =>
      assert(r.get("deletionTimestamp").asLong > 0 && r.get("dataChange").asBoolean)
    }
    val back = DeltaLog.read(spark, table.toString).collect()
    assert(back.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((9L, "new")))
    // the overwritten history is still readable (no physical delete)
    assert(DeltaLog.read(spark, table.toString, versionAsOf = Some(1L))
      .collect().head.getString(1) == "old")
  }

  test("upsert and replace compose to ManagedTable semantics over the Delta protocol") {
    import spark.implicits._
    val table = tmpDir("dw-merge")
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema)
    DeltaWrite.append(spark, table.toString,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))

    DeltaWrite.upsert(spark, table.toString,
      Seq((2L, "B"), (4L, "D")).toDF("k", "v"), keys = Seq("k"))
    val afterUpsert = DeltaLog.read(spark, table.toString).orderBy("k").collect()
    assert(afterUpsert.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D")))

    DeltaWrite.replace(spark, table.toString,
      Seq((7L, "r")).toDF("k", "v"), Seq(ReplaceCondition("v", "B")))
    val afterReplace = DeltaLog.read(spark, table.toString).orderBy("k").collect()
    assert(afterReplace.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (3L, "c"), (4L, "D"), (7L, "r")))
  }

  test("append survives a lost commit race by rebasing onto the new version") {
    import spark.implicits._
    val table = tmpDir("dw-race")
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema)
    // steal version 1 the way a concurrent writer would
    val log = table.resolve("_delta_log")
    java.nio.file.Files.writeString(log.resolve(f"${1L}%020d.json"),
      """{"commitInfo":{"operation":"WRITE"}}""" + "\n")
    val v = DeltaWrite.append(spark, table.toString, Seq((1L, "one")).toDF("id", "v"))
    assert(v == 2L)
    assert(DeltaLog.read(spark, table.toString).count() == 1)
  }

  test("a `type: delta` destination writes the real Delta protocol when the target is one") {
    import spark.implicits._
    val table = tmpDir("dw-dest")
    val fields = Seq(
      Types.FieldSpec("id", LongType), Types.FieldSpec("v", StringType))
    val dest = ManagedTableDestination("dw_tbl", Location(table.toString), TableAppend,
      schema = fields)
    Destinations.prepare(spark, dest)
    assert(DeltaLog.isDeltaTable(spark, table.toString)) // created as REAL Delta
    Destinations.write(spark, dest, Seq((1L, "one")).toDF("id", "v"))
    Destinations.write(spark,
      dest.copy(writeMode = TableUpsert(Seq("id"))),
      Seq((1L, "ONE"), (2L, "two")).toDF("id", "v"))
    // no managed-table log was ever created — this is pure Delta protocol
    assert(!java.nio.file.Files.exists(table.resolve("_log")))
    val back = DeltaLog.read(spark, table.toString).orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "ONE"), (2L, "two")))
  }

  test("a `type: delta` destination stores table_properties and metadata in the table configuration") {
    import spark.implicits._
    val table = tmpDir("dw-dest-meta")
    val dest = ManagedTableDestination("dw_meta", Location(table.toString), TableAppend,
      schema = Seq(Types.FieldSpec("id", LongType)),
      tableProperties = Map("delta.appendOnly" -> "false"),
      metadata = Map("owner" -> "etl", "source" -> "orders"))
    Destinations.prepare(spark, dest)
    Destinations.write(spark, dest, Seq(1L).toDF("id"))
    val props = DeltaWrite.describeDetail(spark, table.toString).head()
      .getAs[scala.collection.Map[String, String]]("properties")
    assert(props.get("owner").contains("etl") && props.get("source").contains("orders"), props)
    assert(props.get("delta.appendOnly").contains("false"), props)
  }

  test("broadcastIfSmall hints only estimate-reliable plans (r19)") {
    // small leaf-backed frame: estimate is real file/local bytes → hinted
    val small = spark.range(100).toDF("id").select(col("id")).distinct()
    assert(!(DeltaWrite.broadcastIfSmall(small) eq small),
      "a provably small frame should carry the broadcast hint")
    // a Generate (explode) fans out past what size-only estimation models:
    // the estimate may be tiny while the true frame is unbounded — the
    // explicit hint (which bypasses AQE's runtime size checks) must NOT
    // be added, however small the estimate reads
    val exploded = spark.range(100)
      .select(explode(array_repeat(col("id"), 3)).as("id")).distinct()
    assert(
      exploded.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(32L << 20),
      "precondition: the fan-out frame must look small to the estimator")
    assert(DeltaWrite.broadcastIfSmall(exploded) eq exploded,
      "a fan-out (Generate) frame must never be hint-broadcast")
    // a join's output can dwarf its inputs: same rule
    val other = spark.range(100).toDF("id2")
    val joined = spark.range(100).toDF("id")
      .join(other, col("id") === col("id2")).select(col("id")).distinct()
    assert(DeltaWrite.broadcastIfSmall(joined) eq joined,
      "a join-bearing frame must never be hint-broadcast")
  }

  test("add actions carry pruning stats; upsert/replace rewrite only the files that hold hits") {
    import spark.implicits._
    val table = tmpDir("dw-prune")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema)
    // two appends → two files with disjoint id ranges
    DeltaWrite.append(spark, table.toString,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1))
    DeltaWrite.append(spark, table.toString,
      Seq((100L, "x"), (200L, "y")).toDF("id", "v").repartition(1))

    val adds1 = action(logLines(table, 1L), "add")
    assert(adds1.size == 1)
    val stats = mapper.readTree(adds1.head.get("stats").asText)
    assert(stats.get("numRecords").asLong == 2L)
    assert(stats.get("minValues").get("id").asLong == 1L)
    assert(stats.get("maxValues").get("id").asLong == 2L)
    assert(stats.get("nullCount").get("id").asLong == 0L)
    assert(stats.get("minValues").get("v").asText == "a")

    val lowFile = adds1.head.get("path").asText
    val highFile = action(logLines(table, 2L), "add").head.get("path").asText

    // upsert hitting only the high range: the low file must survive untouched
    DeltaWrite.upsert(spark, table.toString,
      Seq((100L, "X"), (150L, "Z")).toDF("id", "v"), keys = Seq("id"))
    val v3 = logLines(table, 3L)
    val removed = action(v3, "remove").map(_.get("path").asText).toSet
    assert(removed == Set(highFile), s"expected only $highFile removed, got $removed")
    assert(!removed.contains(lowFile))
    val afterUpsert = DeltaLog.read(spark, table.toString).orderBy("id").collect()
    assert(afterUpsert.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (100L, "X"), (150L, "Z"), (200L, "y")))

    // a null incoming key must reach files that hold null keys (null-safe merge)
    DeltaWrite.append(spark, table.toString,
      Seq((null.asInstanceOf[java.lang.Long], "n1")).toDF("id", "v").repartition(1))
    DeltaWrite.upsert(spark, table.toString,
      Seq((null.asInstanceOf[java.lang.Long], "N2")).toDF("id", "v"), keys = Seq("id"))
    val nullRows = DeltaLog.read(spark, table.toString).filter(col("id").isNull).collect()
    assert(nullRows.map(_.getString(1)).toSeq == Seq("N2"))

    // replace on a stats-pruned value: only the file containing it rewrites
    val before = DeltaLog.snapshot(spark, table.toString)
    DeltaWrite.replace(spark, table.toString,
      Seq((2L, "b2")).toDF("id", "v"), Seq(graft.config.ReplaceCondition("id", "2")))
    val after = DeltaLog.snapshot(spark, table.toString)
    val removedNow = before.files.map(_.path).toSet -- after.files.map(_.path).toSet
    assert(removedNow.size == 1) // only the low file held id=2
    val res = DeltaLog.read(spark, table.toString).filter(col("id") === 2L).collect()
    assert(res.map(_.getString(1)).toSeq == Seq("b2"))
  }

  test("row-level rewrites: SQL executions and jobs per op on a plain table") {
    import spark.implicits._
    val table = tmpDir("dw-exec-count").toString
    DeltaWrite.createIfAbsent(spark, table, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    DeltaWrite.append(spark, table,
      (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v").repartition(2))
    DeltaWrite.append(spark, table,
      (100L to 140L).map(i => (i, s"w$i")).toDF("id", "v").repartition(2))
    val executions = new java.util.concurrent.atomic.AtomicInteger
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            executions.incrementAndGet(): Unit
          case _ =>
        }
    }
    def counted(op: => Long): (Int, Int) = {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      executions.set(0); jobs.set(0)
      spark.sparkContext.addSparkListener(listener)
      try {
        op
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      (executions.get, jobs.get)
    }
    // a broadcast-sized upsert: the key-range aggregate (which also
    // collects the key set), hit detection, write
    val upsert = counted(DeltaWrite.upsert(spark, table,
      Seq((5L, "u"), (120L, "u"), (500L, "n")).toDF("id", "v"), Seq("id")))
    // the same under the small-input policy's settings: one job per execution
    val small = spark.newSession()
    small.conf.set("spark.sql.adaptive.enabled", "false")
    small.conf.set("spark.sql.shuffle.partitions", "1")
    val smallUpsert = counted(DeltaWrite.upsert(small, table,
      small.createDataFrame(Seq((6L, "s"), (121L, "s"), (501L, "n"))).toDF("id", "v"),
      Seq("id")))
    // the semi/anti join a source above the estimate runs
    val joinUpsert = counted(DeltaWrite.upsertMatching(spark, table,
      Seq((7L, "j"), (122L, "j"), (502L, "n")).toDF("id", "v"), Seq("id"), None,
      DeltaWrite.KeyMatch.Join))
    // copy-on-write delete: hit detection, write
    val delete = counted(DeltaWrite.delete(spark, table, "id = 7"))
    // replace: hit detection, write
    val replace = counted(DeltaWrite.replace(spark, table,
      Seq((130L, "r")).toDF("id", "v"), Seq(ReplaceCondition("id", "130"))))
    info(s"(executions, jobs): upsert $upsert, small-input upsert $smallUpsert, " +
      s"join upsert $joinUpsert, delete $delete, replace $replace")
    // executions are exact; jobs depend on adaptive execution's stage
    // splitting, so they are bounds (exact without it)
    assert(upsert._1 == 3 && upsert._2 <= 6, s"upsert $upsert")
    assert(smallUpsert == ((3, 3)), s"small-input upsert $smallUpsert")
    assert(joinUpsert._1 == 3 && joinUpsert._2 <= 10, s"join upsert $joinUpsert")
    assert(delete._1 == 2 && delete._2 <= 3, s"delete $delete")
    assert(replace._1 == 2 && replace._2 <= 3, s"replace $replace")
  }

  test("row-level rewrites write each row once: set-equal list keys, insert-only merge") {
    import spark.implicits._
    // a tracked table holding one key set in two orders: the incoming row
    // replaces both and inherits the smaller row id
    val arr = tmpDir("dw-once-array").toString
    DeltaWrite.createIfAbsent(spark, arr, StructType(Seq(StructField("k", LongType),
      StructField("tags", ArrayType(IntegerType)))),
      properties = Map("delta.enableRowTracking" -> "true"))
    DeltaWrite.append(spark, arr, Seq((1L, Seq(1, 2)), (2L, Seq(2, 1))).toDF("k", "tags"))
    val ids0 = DeltaLog.readWithRowIds(spark, arr).select("_row_id").as[Long].collect()
    DeltaWrite.upsert(spark, arr, Seq((9L, Seq(1, 2))).toDF("k", "tags"), Seq("tags"))
    val after = DeltaLog.readWithRowIds(spark, arr).select("k", "_row_id").as[(Long, Long)]
      .collect().toSeq
    assert(after == Seq((9L, ids0.min)), after)
    // a target row matched by two source rows, no MATCHED clause: kept once
    val ins = tmpDir("dw-once-merge").toString
    DeltaWrite.createIfAbsent(spark, ins, StructType(Seq(StructField("k", LongType),
      StructField("v", StringType))))
    DeltaWrite.append(spark, ins, Seq((1L, "a")).toDF("k", "v"))
    DeltaWrite.merge(spark, ins, Seq((1L, "x"), (1L, "y"), (2L, "z")).toDF("k", "v"),
      "t.k = s.k", notMatched = Seq(DeltaWrite.MergeClause.Insert(None,
        Map("k" -> "s.k", "v" -> "s.v"))))
    assert(DeltaLog.read(spark, ins).as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "z")))
  }

  test("an empty upsert changes nothing and commits nothing") {
    import spark.implicits._
    val table = tmpDir("dw-empty-upsert").toString
    DeltaWrite.createIfAbsent(spark, table, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    val v1 = DeltaWrite.append(spark, table, Seq((1L, "a")).toDF("id", "v"))
    val v2 = DeltaWrite.upsert(spark, table,
      Seq.empty[(Long, String)].toDF("id", "v"), Seq("id"))
    assert(v2 == v1)
    assert(DeltaLog.read(spark, table).collect().map(_.getString(1)).toSeq == Seq("a"))
  }

  test("partition-condition replace prunes by partitionValues before any scan") {
    import spark.implicits._
    val table = tmpDir("dw-prune-part")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("part", StringType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema, partitionBy = Seq("part"))
    DeltaWrite.append(spark, table.toString,
      Seq((1L, "a"), (2L, "b"), (3L, null)).toDF("id", "part"))
    val before = DeltaLog.snapshot(spark, table.toString)
    DeltaWrite.replace(spark, table.toString,
      Seq((9L, "b")).toDF("id", "part"), Seq(graft.config.ReplaceCondition("part", "b")))
    val after = DeltaLog.snapshot(spark, table.toString)
    val removed = before.files.map(_.path).toSet -- after.files.map(_.path).toSet
    assert(removed.size == 1 && removed.head.contains("part=b"))
    // null-partition and 'a' files untouched; contents correct
    val back = DeltaLog.read(spark, table.toString).orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), Option(r.getString(1)))).toSeq ==
      Seq((1L, Some("a")), (3L, None), (9L, Some("b"))))
  }

  test("checkpoint seeds replay after JSON-commit cleanup; auto-checkpoint fires at the interval") {
    import spark.implicits._
    val table = tmpDir("dw-cp")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("part", StringType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema, partitionBy = Seq("part"))
    DeltaWrite.append(spark, table.toString, Seq((1L, "a"), (2L, null)).toDF("id", "part"))
    DeltaWrite.append(spark, table.toString, Seq((3L, "b")).toDF("id", "part"))

    val cpVersion = DeltaWrite.checkpoint(spark, table.toString)
    assert(cpVersion == 2L)
    val log = table.resolve("_delta_log")
    val cpFile = log.resolve(f"${2L}%020d.checkpoint.parquet")
    assert(java.nio.file.Files.exists(cpFile))
    val lc = mapper.readTree(java.nio.file.Files.readString(log.resolve("_last_checkpoint")))
    assert(lc.get("version").asLong == 2L && lc.get("size").asLong > 0)

    // checkpoint content: protocol + metaData rows present, adds carry
    // dataChange=false and real sizes — what an external reader expects
    val cp = spark.read.parquet(cpFile.toString)
    assert(cp.filter(col("protocol.minReaderVersion") === 1).count() == 1)
    val metaRows = cp.filter(col("metaData.schemaString").isNotNull)
    assert(metaRows.count() == 1)
    assert(metaRows.select("metaData.partitionColumns").as[Seq[String]].head == Seq("part"))
    val addRows = cp.filter(col("add.path").isNotNull)
    assert(addRows.count() == 3) // a, null, b partitions — one file each
    assert(addRows.filter(col("add.size") <= 0 || col("add.dataChange")).count() == 0)

    // delete the JSON commits the checkpoint covers (log cleanup) — the
    // snapshot must rebuild from the checkpoint alone and replay the tail
    (0L to 2L).foreach(v => java.nio.file.Files.delete(log.resolve(f"$v%020d.json")))
    val back = DeltaLog.read(spark, table.toString).orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), Option(r.getString(1)))).toSeq ==
      Seq((1L, Some("a")), (2L, None), (3L, Some("b"))))
    // the table identity survives the checkpoint round trip
    val snap = DeltaLog.snapshot(spark, table.toString)
    assert(snap.metaDataRaw.exists(m => mapper.readTree(m).get("id").asText.nonEmpty))
    // and writes continue on top of a checkpoint-seeded snapshot
    DeltaWrite.append(spark, table.toString, Seq((4L, "a")).toDF("id", "part"))
    assert(DeltaLog.read(spark, table.toString).count() == 4)

    // auto-checkpoint: cross version 10 with appends → checkpoint appears
    (DeltaLog.snapshot(spark, table.toString).version until 10L).foreach { _ =>
      DeltaWrite.append(spark, table.toString, Seq((9L, "a")).toDF("id", "part"))
    }
    assert(DeltaLog.snapshot(spark, table.toString).version >= 10L)
    assert(java.nio.file.Files.exists(log.resolve(f"${10L}%020d.checkpoint.parquet")))
  }

  test("readWhere skips files by stats; clustered compaction makes skipping possible") {
    import spark.implicits._
    val table = tmpDir("dw-skip")
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema)
    DeltaWrite.append(spark, table.toString,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1))
    DeltaWrite.append(spark, table.toString,
      Seq((100L, "x"), (200L, "y")).toDF("id", "v").repartition(1))

    val lowFile = action(logLines(table, 1L), "add").head.get("path").asText
    val highFile = action(logLines(table, 2L), "add").head.get("path").asText
    // read the scanned file list from the executed plan — explain-string
    // Location lines truncate and would hide paths
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.toSeq
      }.flatten

    // range predicate: only the high-range file is opened
    val hi = DeltaLog.readWhere(spark, table.toString, "id >= 150")
    assert(scannedFiles(hi).forall(_.endsWith(highFile)) && scannedFiles(hi).size == 1)
    assert(hi.collect().map(_.getLong(0)).toSeq == Seq(200L))

    // reversed operand order and null guards prune the same way
    val eq = DeltaLog.readWhere(spark, table.toString, "50 > id AND v IS NOT NULL")
    assert(scannedFiles(eq).forall(_.endsWith(lowFile)) && scannedFiles(eq).size == 1)
    assert(eq.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))

    // an OR that spans both files keeps both; an unprunable conjunct never drops rows
    val both = DeltaLog.readWhere(spark, table.toString, "id = 2 OR id = 100")
    assert(scannedFiles(both).size == 2)
    assert(both.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(2L, 100L))
    assert(DeltaLog.readWhere(spark, table.toString, "length(v) = 1").count() == 4)

    // interleave the ranges, compact WITH clustering → stats disjoint again
    DeltaWrite.append(spark, table.toString,
      Seq((3L, "c"), (150L, "z")).toDF("id", "v").repartition(1))
    DeltaWrite.append(spark, table.toString,
      Seq((4L, "d"), (160L, "w")).toDF("id", "v").repartition(1))
    // pick the target so every file is "small" (target/2 > max size) and
    // the bin-packing lands on exactly two outputs (total/2 <= target < total)
    val sizes = DeltaLog.snapshot(spark, table.toString).files.map(_.size)
    val target = sizes.sum * 3 / 4
    assert(target / 2 > sizes.max, s"fixture sizes defeat the small-file cut: $sizes")
    DeltaWrite.compact(spark, table.toString, targetFileBytes = target,
      clusterBy = Seq("id"))
    val snap = DeltaLog.snapshot(spark, table.toString)
    val intervals = snap.files.map { f =>
      val s = mapper.readTree(f.stats.get)
      (s.get("minValues").get("id").asLong, s.get("maxValues").get("id").asLong)
    }.sortBy(_._1)
    assert(intervals.size >= 2, s"expected multiple clustered files, got $intervals")
    intervals.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 < lo2, s"overlapping clusters: $intervals")
      case _ => ()
    }
    assert(DeltaLog.read(spark, table.toString).count() == 8)
  }

  test("z-order compaction: predicates on EITHER clustered column skip files") {
    import spark.implicits._
    val table = tmpDir("dw-zorder")
    val schema = StructType(Seq(
      StructField("x", LongType), StructField("y", LongType),
      StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema)
    // 20x20 grid appended in 8 striped slices: every input file spans the
    // FULL x and y ranges, so before compaction nothing can be skipped
    val grid = for (x <- 0L until 20L; y <- 0L until 20L) yield (x, y, s"$x/$y")
    grid.groupBy(t => (t._1 + t._2) % 8).toSeq.sortBy(_._1).foreach { case (_, slice) =>
      DeltaWrite.append(spark, table.toString,
        slice.toDF("x", "y", "v").repartition(1))
    }

    def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.toSeq
      }.flatten
    assert(scannedFiles(DeltaLog.readWhere(spark, table.toString, "y < 3")).size == 8)

    val sizes = DeltaLog.snapshot(spark, table.toString).files.map(_.size)
    val target = sizes.sum * 3 / 10 // nOut = ceil(10/3) = 4 clustered files
    assert(target / 2 > sizes.max, s"fixture sizes defeat the small-file cut: $sizes")
    DeltaWrite.compact(spark, table.toString, targetFileBytes = target,
      clusterBy = Seq("x", "y"))

    val snap = DeltaLog.snapshot(spark, table.toString)
    assert(snap.files.size >= 3, s"expected multiple z-ordered files, got ${snap.files.size}")
    // z-order boxes: some file's x-interval AND some file's y-interval
    // exclude the low corner — linear clustering on (x, y) would only ever
    // skip on x, never on y
    val xScan = DeltaLog.readWhere(spark, table.toString, "x < 3")
    val yScan = DeltaLog.readWhere(spark, table.toString, "y < 3")
    assert(scannedFiles(xScan).size < snap.files.size, "x predicate skipped nothing")
    assert(scannedFiles(yScan).size < snap.files.size, "y predicate skipped nothing")
    assert(xScan.count() == 60 && yScan.count() == 60)
    val corner = DeltaLog.readWhere(spark, table.toString, "x >= 15 AND y >= 15")
    assert(scannedFiles(corner).size < snap.files.size)
    assert(corner.count() == 25)
    assert(DeltaLog.read(spark, table.toString).count() == 400)
  }

  test("liquid clustering: hilbert compact records the spec; a bare compact re-clusters by it") {
    import spark.implicits._
    val table = tmpDir("dw-liquid")
    val schema = StructType(Seq(
      StructField("x", LongType), StructField("y", LongType),
      StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema)
    val grid = for (x <- 0L until 20L; y <- 0L until 20L) yield (x, y, s"$x/$y")
    val stripes = grid.groupBy(t => (t._1 + t._2) % 8).toSeq.sortBy(_._1)
    stripes.foreach { case (_, slice) =>
      DeltaWrite.append(spark, table.toString,
        slice.toDF("x", "y", "v").repartition(1))
    }
    val sizes = DeltaLog.snapshot(spark, table.toString).files.map(_.size)
    val target = sizes.sum * 3 / 10
    assert(target / 2 > sizes.max, s"fixture sizes defeat the small-file cut: $sizes")

    // explicit hilbert clusterBy: rewrite + record the clustering spec
    DeltaWrite.compact(spark, table.toString, targetFileBytes = target,
      clusterBy = Seq("x", "y"), curve = "hilbert")
    val snap1 = DeltaLog.snapshot(spark, table.toString)
    assert(DeltaLog.clusteringColumns(snap1) == Seq("x", "y"))
    val p = snap1.protocol.get
    assert(p.minWriterVersion == 7 && p.writerFeatures("clusteredTable") &&
      p.writerFeatures("domainMetadata"), s"protocol not upgraded: $p")

    def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.toSeq
      }.flatten
    // hilbert boxes skip on EITHER clustered column, same as z-order
    assert(scannedFiles(DeltaLog.readWhere(spark, table.toString, "x < 3")).size <
      snap1.files.size, "x predicate skipped nothing")
    assert(scannedFiles(DeltaLog.readWhere(spark, table.toString, "y < 3")).size <
      snap1.files.size, "y predicate skipped nothing")

    // fresh small stripes, then a BARE compact: the recorded spec drives
    // the re-cluster (liquid OPTIMIZE), and the domain survives the commit
    stripes.take(4).foreach { case (_, slice) =>
      DeltaWrite.append(spark, table.toString,
        slice.map { case (x, y, _) => (x, y, "fresh") }
          .toDF("x", "y", "v").repartition(1))
    }
    DeltaWrite.compact(spark, table.toString, targetFileBytes = target)
    val snap2 = DeltaLog.snapshot(spark, table.toString)
    assert(DeltaLog.clusteringColumns(snap2) == Seq("x", "y"))
    assert(scannedFiles(DeltaLog.readWhere(spark, table.toString, "x < 3")).size <
      snap2.files.size)
    assert(scannedFiles(DeltaLog.readWhere(spark, table.toString, "y < 3")).size <
      snap2.files.size)
    val expected = 400L + stripes.take(4).map(_._2.size).sum
    assert(DeltaLog.read(spark, table.toString).count() == expected)

    // guard rails: unknown / partition cluster columns refuse loudly
    intercept[IllegalArgumentException](
      DeltaWrite.compact(spark, table.toString, clusterBy = Seq("nope")))
    intercept[IllegalArgumentException](
      DeltaWrite.compact(spark, table.toString, clusterBy = Seq("x"),
        curve = "not-a-curve"))

    // ALTER-CLUSTER-BY semantics: an explicit clusterBy with NOTHING to
    // compact (tiny target ⇒ no small files) still RECORDS the new spec
    // as a metadata-only commit
    val vBefore = DeltaLog.snapshot(spark, table.toString).version
    DeltaWrite.compact(spark, table.toString, targetFileBytes = 2L,
      clusterBy = Seq("y", "x"))
    val snap3 = DeltaLog.snapshot(spark, table.toString)
    assert(snap3.version == vBefore + 1)
    assert(DeltaLog.clusteringColumns(snap3) == Seq("y", "x"))
    assert(DeltaLog.read(spark, table.toString).count() == expected)
  }

  test("mergeSchema append widens the table; old files null-fill and still prune sanely") {
    import spark.implicits._
    val table = tmpDir("dw-merge-schema")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema)
    DeltaWrite.append(spark, table.toString, Seq((1L, "one"), (2L, "two")).toDF("id", "v"))

    // extra column WITHOUT mergeSchema: dropped (cast-to-schema semantics)
    DeltaWrite.append(spark, table.toString,
      Seq((3L, "three", 0.5)).toDF("id", "v", "score"))
    assert(DeltaLog.snapshot(spark, table.toString).schema.fieldNames.toSeq ==
      Seq("id", "v"))

    // WITH mergeSchema: schema widens, a new metaData action records it
    val v = DeltaWrite.append(spark, table.toString,
      Seq((4L, "four", 0.9), (5L, "five", 0.1)).toDF("id", "v", "score"),
      mergeSchema = true)
    val snap = DeltaLog.snapshot(spark, table.toString)
    assert(snap.schema.fieldNames.toSeq == Seq("id", "v", "score"))
    assert(snap.schema("score").nullable)
    assert(action(logLines(table, v), "metaData").nonEmpty,
      "widening append must re-emit metaData")

    // old rows read back null-filled; new rows carry their values
    val rows = DeltaLog.read(spark, table.toString).orderBy("id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(rows.toSeq == Seq(
      (1L, None), (2L, None), (3L, None), (4L, Some(0.9)), (5L, Some(0.1))))

    // stats pruning on the NEW column: old files have no interval for it
    // (unknown ⇒ always scanned), new files prune by range — and results
    // stay exact either way
    val hi = DeltaLog.readWhere(spark, table.toString, "score > 0.5")
    assert(hi.collect().map(_.getLong(0)).toSeq == Seq(4L))

    // the incoming frame keeps the TABLE's type for existing columns
    val v2 = DeltaWrite.append(spark, table.toString,
      Seq(("6", "six", 1)).toDF("id", "v", "score"), mergeSchema = true)
    assert(DeltaLog.snapshot(spark, table.toString).schema("id").dataType == LongType)
    assert(DeltaLog.read(spark, table.toString).filter("id = 6").count() == 1)
    assert(v2 == v + 1)
  }

  test("restore rewinds to an old version as a new commit; history survives") {
    import spark.implicits._
    val table = tmpDir("dw-restore")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema)
    DeltaWrite.append(spark, table.toString, Seq((1L, "one"), (2L, "two")).toDF("id", "v")) // v1
    DeltaWrite.append(spark, table.toString, Seq((3L, "three")).toDF("id", "v")) // v2
    DeltaWrite.upsert(spark, table.toString,
      Seq((2L, "TWO"), (4L, "four")).toDF("id", "v"), Seq("id")) // v3: rewrites

    val v = DeltaWrite.restore(spark, table.toString, 2L)
    assert(v == 4L)
    val rows = DeltaLog.read(spark, table.toString).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "one"), (2L, "two"), (3L, "three")))
    // history intact: v3's state is still reachable
    val atV3 = DeltaLog.read(spark, table.toString, versionAsOf = Some(3L))
      .orderBy("id").collect().map(_.getString(1)).toSeq
    assert(atV3 == Seq("one", "TWO", "three", "four"))
    // restore moved zero bytes: the restored files were re-added by path
    val restoreAdds = action(logLines(table, 4L), "add")
    assert(restoreAdds.nonEmpty && restoreAdds.forall(_.get("stats") != null))
    // restoring to the current version is a no-op
    assert(DeltaWrite.restore(spark, table.toString, 4L) == 4L)

    // restoring to before a mergeSchema append narrows the schema again
    DeltaWrite.append(spark, table.toString,
      Seq((9L, "nine", 0.5)).toDF("id", "v", "score"), mergeSchema = true) // v5
    assert(DeltaLog.snapshot(spark, table.toString).schema.fieldNames.length == 3)
    DeltaWrite.restore(spark, table.toString, 4L) // v6
    assert(DeltaLog.snapshot(spark, table.toString).schema.fieldNames.toSeq ==
      Seq("id", "v"))
  }

  test("vacuum streams the listing in batches against the distributed live set") {
    import spark.implicits._
    val table = tmpDir("dw-vacuum-batched")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema)
    // 8 single-file appends, then one overwrite tombstones them all
    (1 to 8).foreach { i =>
      DeltaWrite.append(spark, table.toString,
        Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1))
    }
    DeltaWrite.overwrite(spark, table.toString,
      Seq((100L, "kept")).toDF("id", "v").coalesce(1))
    // a listing batch smaller than the dead-file count forces several
    // anti-join flushes; every dead file must still go, every live one stay
    val removed = DeltaWrite.vacuum(spark, table.toString,
      retainMs = 0L, listingBatch = 3)
    assert(removed == 8, s"removed=$removed")
    val rows = DeltaLog.read(spark, table.toString).collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("kept"))
    // the delta-spark audit trail: VACUUM START (intent, before deletion)
    // and VACUUM END (outcome) as dataChange=false metadata commits
    val hist = DeltaWrite.history(spark, table.toString)
      .orderBy("version").collect()
    val ops = hist.map(_.getString(2)).toSeq
    assert(ops.takeRight(2) == Seq("VACUUM START", "VACUUM END"), ops.toString)
    val startM = hist(hist.length - 2).getMap[String, String](6)
    val endM = hist.last.getMap[String, String](6)
    assert(startM.get("numFilesToDelete").contains("8"), startM.toString)
    assert(startM.get("sizeOfDataToDelete").exists(_.toLong > 0), startM.toString)
    assert(endM.get("numDeletedFiles").contains("8"), endM.toString)
    // the metadata-only commits keep the checksum chain intact
    assert(DeltaLog.verifyChecksum(spark, table.toString, None))
    // idempotent: nothing dead remains, and a no-op vacuum commits NOTHING
    val vBefore = DeltaLog.snapshot(spark, table.toString).version
    assert(DeltaWrite.vacuum(spark, table.toString, retainMs = 0L) == 0)
    assert(DeltaLog.snapshot(spark, table.toString).version == vBefore)
  }

  test("partition-scoped compact merges only the targeted partition; dry-run vacuum deletes nothing") {
    import spark.implicits._
    val table = tmpDir("dw-compact-where")
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema, partitionBy = Seq("k"))
    // 3 small files in each of two partitions
    (1 to 3).foreach { i =>
      DeltaWrite.append(spark, table.toString,
        Seq(("a", i.toLong), ("b", i.toLong)).toDF("k", "v").repartition(1))
    }
    def filesOf(part: String): Seq[String] =
      DeltaLog.snapshot(spark, table.toString).files
        .filter(_.partitionValues.get("k").contains(part)).map(_.path)
    assert(filesOf("a").size == 3 && filesOf("b").size == 3)

    val e = intercept[IllegalArgumentException](
      DeltaWrite.compact(spark, table.toString, where = Map("v" -> "1")))
    assert(e.getMessage.contains("non-partition"))

    DeltaWrite.compact(spark, table.toString, where = Map("k" -> "a"))
    assert(filesOf("a").size == 1, filesOf("a").toString)
    assert(filesOf("b").size == 3, "partition b must be untouched")
    val rows = DeltaLog.read(spark, table.toString)
      .groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("a" -> 3L, "b" -> 3L))

    // the compaction tombstoned partition a's 3 small files: dry run counts
    // them without deleting, the real vacuum then removes exactly those
    val dry = DeltaWrite.vacuum(spark, table.toString, retainMs = 0L, dryRun = true)
    assert(dry == 3, s"dry=$dry")
    assert(DeltaLog.read(spark, table.toString).count() == 6)
    assert(DeltaWrite.vacuum(spark, table.toString, retainMs = 0L) == 3)
    assert(DeltaLog.read(spark, table.toString).count() == 6)

    // WHERE composes with range clustering: partition b's files merge
    // sorted on v; a's single compacted file is untouched
    DeltaWrite.compact(spark, table.toString, clusterBy = Seq("v"),
      where = Map("k" -> "b"))
    assert(filesOf("a").size == 1 && filesOf("b").size == 1)
    assert(DeltaLog.read(spark, table.toString)
      .groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("a" -> 3L, "b" -> 3L))
  }

  test("convertFromParquet: plain partitioned parquet becomes a Delta table in place") {
    import spark.implicits._
    val dir = tmpDir("dw-convert-pq").resolve("t")
    Seq((1L, "x", "2024-01-01"), (2L, "y", "2024-01-01"), (3L, "z", "2024-01-02"))
      .toDF("id", "v", "day")
      .write.partitionBy("day").parquet(dir.toString)

    // partition declaration must match the layout
    val bad = intercept[IllegalArgumentException](
      DeltaWrite.convertFromParquet(spark, dir.toString))
    assert(bad.getMessage.contains("partition"), bad.getMessage)

    val n = DeltaWrite.convertFromParquet(spark, dir.toString, Seq("day"))
    assert(n >= 2)
    assert(DeltaLog.isDeltaTable(spark, dir.toString))
    // partition inference types `day` as DATE; compare through a string cast
    val got = DeltaLog.read(spark, dir.toString).orderBy("id")
      .select(col("id"), col("v"), col("day").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq((1L, "x", "2024-01-01"), (2L, "y", "2024-01-01"),
      (3L, "z", "2024-01-02")))

    // the converted table is a first-class write target
    DeltaWrite.append(spark, dir.toString,
      Seq((4L, "w", "2024-01-03")).toDF("id", "v", "day"))
    assert(DeltaLog.read(spark, dir.toString).count() == 4)
    // stats-less converted adds stay conservatively readable under pruning
    assert(DeltaLog.readWhere(spark, dir.toString, "id = 1").count() == 1)
    // re-converting refuses
    val again = intercept[IllegalArgumentException](
      DeltaWrite.convertFromParquet(spark, dir.toString, Seq("day")))
    assert(again.getMessage.contains("already"), again.getMessage)
  }

  test("shallowClone forks a table by reference; writes copy-on-write, source untouched") {
    import spark.implicits._
    val src = tmpDir("dw-clone-src").toString
    val dst = tmpDir("dw-clone-dst").resolve("c").toString
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, src, schema,
      properties = Map("delta.enableDeletionVectors" -> "true"))
    DeltaWrite.append(spark, src, (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    DeltaWrite.append(spark, src, (21L to 40L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    DeltaWrite.delete(spark, src, "id % 10 = 0") // DV-marked rows

    val n = DeltaWrite.shallowClone(spark, src, dst)
    assert(n == 2, s"cloned $n refs")
    // no data files under the clone root — manifest only
    val dataFiles = new java.io.File(dst).listFiles().filterNot(_.getName.startsWith("_"))
    assert(dataFiles.isEmpty, dataFiles.mkString(","))
    def ids(path: String): Seq[Long] =
      DeltaLog.read(spark, path).orderBy("id").collect().map(_.getLong(0)).toSeq
    val expect = (1L to 40L).filterNot(_ % 10 == 0)
    assert(ids(dst) == expect)

    // clone diverges copy-on-write; the source never changes
    DeltaWrite.append(spark, dst, Seq((100L, "new")).toDF("id", "v"))
    DeltaWrite.delete(spark, dst, "id <= 5")
    assert(ids(dst) == (expect.filter(_ > 5) :+ 100L))
    assert(ids(src) == expect, "source must be untouched by clone writes")
    // the clone's vacuum reclaims nothing of the source
    DeltaWrite.vacuum(spark, dst, retainMs = 0L)
    assert(ids(src) == expect)
    assert(ids(dst) == (expect.filter(_ > 5) :+ 100L))

    // the clone manifest must store FULLY-QUALIFIED add paths — scheme
    // intact in the raw log JSON (a scheme-less absolute path happens to
    // resolve on the local fs but breaks cross-filesystem clones)
    val v0 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dst, "_delta_log", "00000000000000000000.json"))
    val clonedAdds = v0.linesIterator.filter(_.contains("\"add\"")).toSeq
    assert(clonedAdds.size == 2)
    assert(clonedAdds.forall(_.contains("\"path\":\"file:")), clonedAdds.head)
  }

  test("collectStats on a clone re-adds with the qualified scheme intact") {
    import spark.implicits._
    val srcDir = tmpDir("dw-clone-stats-src").resolve("t")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1)
      .write.mode("append").parquet(srcDir.toString)
    Seq((100L, "x")).toDF("id", "v").repartition(1)
      .write.mode("append").parquet(srcDir.toString)
    DeltaWrite.convertFromParquet(spark, srcDir.toString) // stat-less adds
    val dst = tmpDir("dw-clone-stats-dst").resolve("c").toString
    DeltaWrite.shallowClone(spark, srcDir.toString, dst)
    // the backfilled re-adds must keep the fully-qualified source refs
    assert(DeltaWrite.collectStats(spark, dst) == 2)
    val snap = DeltaLog.snapshot(spark, dst)
    assert(snap.files.forall(a => a.stats.isDefined && a.path.startsWith("file:")),
      snap.files.map(_.path).mkString(","))
    assert(DeltaLog.read(spark, dst).count() == 3)
    assert(DeltaLog.readWhere(spark, dst, "id >= 50").collect()
      .map(_.getLong(0)).toSeq == Seq(100L))
  }

  test("in-commit timestamps: monotonic clock in commitInfo, v7 feature protocol") {
    import spark.implicits._
    val table = tmpDir("dw-ict").resolve("t").toString
    DeltaWrite.createIfAbsent(spark, table,
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      properties = Map("delta.enableInCommitTimestamps" -> "true"))
    DeltaWrite.append(spark, table, Seq((1L, "a")).toDF("id", "v"))   // v1
    DeltaWrite.append(spark, table, Seq((2L, "b")).toDF("id", "v"))   // v2
    DeltaWrite.delete(spark, table, "id = 1")                          // v3 (no config passed)
    def ict(v: Long): Option[Long] = {
      val line = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(table, "_delta_log", f"$v%020d.json")).get(0)
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
      Option(n.get("commitInfo")).flatMap(ci =>
        Option(ci.get("inCommitTimestamp")).map(_.asLong()))
    }
    val stamps = (0L to 3L).map(v => ict(v).getOrElse(fail(s"v$v missing ICT")))
    assert(stamps == stamps.sorted && stamps.distinct == stamps,
      s"not strictly increasing: $stamps")
    val proto = DeltaLog.snapshot(spark, table).protocol.get
    assert(proto.minWriterVersion == 7 &&
      proto.writerFeatures.contains("inCommitTimestamp"), proto.toString)
    // the in-commit clock is authoritative for timestamp travel even when
    // file mtimes lie (restore/copy): zero every mtime and travel to v1
    val logDir = java.nio.file.Paths.get(table, "_delta_log")
    val listing = java.nio.file.Files.list(logDir)
    try listing.forEach(p => p.toFile.setLastModified(1000L))
    finally listing.close()
    val atV1 = DeltaLog.read(spark, table,
      timestampAsOf = Some(java.time.Instant.ofEpochMilli(stamps(1))))
    assert(atV1.collect().map(_.getLong(0)).toSet == Set(1L))
    // a table without the property never writes the field
    val plain = tmpDir("dw-noict").resolve("t").toString
    DeltaWrite.createIfAbsent(spark, plain,
      StructType(Seq(StructField("id", LongType))))
    DeltaWrite.append(spark, plain, Seq(Tuple1(1L)).toDF("id"))
    val line = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(plain, "_delta_log", f"${1L}%020d.json")).get(0)
    assert(!line.contains("inCommitTimestamp"), line)
  }

  test("feature matrix: identity + mapping + CDF + ICT compose in one table") {
    import spark.implicits._
    val table = tmpDir("dw-matrix").resolve("t").toString
    DeltaWrite.createIfAbsent(spark, table, StructType(Seq(
      DeltaWrite.identityField("row_id"),
      StructField("k", LongType), StructField("v", StringType))),
      properties = Map(
        "delta.enableChangeDataFeed" -> "true",
        "delta.enableInCommitTimestamps" -> "true"),
      columnMapping = true)
    val proto = DeltaLog.snapshot(spark, table).protocol.get
    assert(proto.minReaderVersion == 2 && proto.minWriterVersion == 7)
    assert(Set("inCommitTimestamp", "identityColumns", "changeDataFeed",
      "columnMapping").subsetOf(proto.writerFeatures), proto.toString)
    DeltaWrite.append(spark, table,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)) // row_id 1, 2
    DeltaWrite.delete(spark, table, "k = 1")
    val rows = DeltaLog.read(spark, table)
      .select("row_id", "k", "v").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(rows == Set((2L, 2L, "b")), rows.toString)
    // the change stream works on the mapped identity table, and every
    // commit carries a strictly increasing in-commit clock
    val cdf = DeltaLog.readCdf(spark, table, 0L)
      .select("row_id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(cdf == Set((1L, "insert", 1L), (2L, "insert", 1L),
      (1L, "delete", 2L)), cdf.toString)
    val stamps = (0L to 2L).map { v =>
      val line = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(table, "_delta_log", f"$v%020d.json")).get(0)
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
        .get("commitInfo").get("inCommitTimestamp").asLong()
    }
    assert(stamps == stamps.sorted && stamps.distinct == stamps, stamps.toString)
  }

  test("identity columns: GENERATED ALWAYS assigns past the high-water mark") {
    import spark.implicits._
    val table = tmpDir("dw-identity").resolve("t").toString
    val schema = StructType(Seq(
      DeltaWrite.identityField("id", start = 10L, step = 5L),
      StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, table, schema)
    DeltaWrite.append(spark, table, Seq("a", "b", "c").toDF("v").coalesce(1))
    def rows() = DeltaLog.read(spark, table).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows() == Seq((10L, "a"), (15L, "b"), (20L, "c")))
    // the mark rode the same commit's metaData — the next append continues
    DeltaWrite.append(spark, table, Seq("d").toDF("v"))
    assert(rows().map(_._1) == Seq(10L, 15L, 20L, 25L))
    val f = DeltaLog.snapshot(spark, table).schema.fields.find(_.name == "id").get
    assert(f.metadata.getLong("delta.identity.highWaterMark") == 25L)
    // GENERATED ALWAYS refuses explicit values
    val e = intercept[IllegalArgumentException](
      DeltaWrite.append(spark, table, Seq((99L, "x")).toDF("id", "v")))
    assert(e.getMessage.contains("GENERATED ALWAYS"), e.getMessage)
    // ...and the row-adding merge paths refuse rather than bypass the mark
    for (op <- Seq(
        () => DeltaWrite.upsert(spark, table, Seq((1L, "u")).toDF("id", "v"), Seq("id")),
        () => DeltaWrite.overwrite(spark, table, Seq((1L, "o")).toDF("id", "v")),
        () => DeltaWrite.replace(spark, table, Seq((1L, "r")).toDF("id", "v"),
          Seq(graft.config.ReplaceCondition("id", "1"))))) {
      val err = intercept[IllegalArgumentException](op())
      assert(err.getMessage.contains("identity"), err.getMessage)
    }
    // delete is value-preserving and allowed
    DeltaWrite.delete(spark, table, "id = 15")
    assert(rows().map(_._1) == Seq(10L, 20L, 25L))
    // empty append moves nothing
    DeltaWrite.append(spark, table, Seq.empty[String].toDF("v"))
    assert(DeltaLog.snapshot(spark, table).schema.fields.find(_.name == "id").get
      .metadata.getLong("delta.identity.highWaterMark") == 25L)
  }

  test("identity columns: mergeSchema evolution and the mark share one metaData") {
    import spark.implicits._
    val table = tmpDir("dw-identity-ms").resolve("t").toString
    DeltaWrite.createIfAbsent(spark, table, StructType(Seq(
      DeltaWrite.identityField("id"), StructField("v", StringType))))
    DeltaWrite.append(spark, table, Seq("a").toDF("v")) // id 1
    // one commit that BOTH widens the schema and advances the mark
    DeltaWrite.append(spark, table,
      Seq(("b", 7.5)).toDF("v", "score"), mergeSchema = true)
    val snap = DeltaLog.snapshot(spark, table)
    assert(snap.schema.fieldNames.toSeq == Seq("id", "v", "score"))
    assert(snap.schema.fields.find(_.name == "id").get
      .metadata.getLong("delta.identity.highWaterMark") == 2L)
    val got = DeltaLog.read(spark, table).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b")))
  }

  test("identity columns: overwrite assigns past the never-retreating mark") {
    import spark.implicits._
    val table = tmpDir("dw-identity-ow").resolve("t").toString
    DeltaWrite.createIfAbsent(spark, table, StructType(Seq(
      DeltaWrite.identityField("id"), StructField("v", StringType))))
    DeltaWrite.append(spark, table, Seq("a", "b", "c").toDF("v").coalesce(1)) // ids 1..3
    // overwrite removes every row, but the mark NEVER resets (spec):
    // freshly assigned ids continue past 3
    DeltaWrite.overwrite(spark, table, Seq("x", "y").toDF("v").coalesce(1))
    val got = DeltaLog.read(spark, table).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((4L, "x"), (5L, "y")), got.toString)
    assert(DeltaLog.snapshot(spark, table).schema.fields.find(_.name == "id").get
      .metadata.getLong("delta.identity.highWaterMark") == 5L)
    // GENERATED ALWAYS still refuses explicit values on overwrite
    val e = intercept[IllegalArgumentException](
      DeltaWrite.overwrite(spark, table, Seq((9L, "z")).toDF("id", "v")))
    assert(e.getMessage.contains("GENERATED ALWAYS"), e.getMessage)
    // ...and a schema-replacing overwrite refuses rather than silently
    // dropping the identity column and its mark
    val e2 = intercept[IllegalArgumentException](
      DeltaWrite.overwrite(spark, table, Seq((1L, "q")).toDF("k", "v"), newSchema = true))
    assert(e2.getMessage.contains("identity"), e2.getMessage)
  }

  test("identity columns: GENERATED BY DEFAULT accepts explicit values and advances the mark") {
    import spark.implicits._
    val table = tmpDir("dw-identity-bd").resolve("t").toString
    val schema = StructType(Seq(
      DeltaWrite.identityField("id", start = 1L, step = 1L, allowExplicitInsert = true),
      StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, table, schema)
    DeltaWrite.append(spark, table, Seq((100L, "x"), (42L, "y")).toDF("id", "v"))
    // the mark jumped past the explicit max, so generation cannot collide
    DeltaWrite.append(spark, table, Seq("gen").toDF("v"))
    val got = DeltaLog.read(spark, table).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((42L, "y"), (100L, "x"), (101L, "gen")), got.toString)
    // a lower explicit value does NOT retreat the mark
    DeltaWrite.append(spark, table, Seq((7L, "low")).toDF("id", "v"))
    DeltaWrite.append(spark, table, Seq("gen2").toDF("v"))
    val ids = DeltaLog.read(spark, table).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(7L, 42L, 100L, 101L, 102L), ids.toString)
  }

  test("identity columns: negative step descends; non-bigint or zero step refused") {
    import spark.implicits._
    val table = tmpDir("dw-identity-neg").resolve("t").toString
    val schema = StructType(Seq(
      DeltaWrite.identityField("id", start = 0L, step = -3L),
      StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, table, schema)
    DeltaWrite.append(spark, table, Seq("a", "b").toDF("v").coalesce(1))
    assert(DeltaLog.read(spark, table).orderBy(col("id").desc)
      .collect().map(_.getLong(0)).toSeq == Seq(0L, -3L))
    intercept[IllegalArgumentException](DeltaWrite.identityField("z", step = 0L))
    intercept[IllegalArgumentException](DeltaWrite.createIfAbsent(spark,
      tmpDir("dw-identity-bad").resolve("t").toString,
      StructType(Seq(StructField("id", IntegerType, nullable = true,
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("delta.identity.start", 1L)
          .putLong("delta.identity.step", 1L).build()),
        StructField("v", StringType)))))
  }

  test("encodePath preserves scheme+authority of qualified clone refs and round-trips") {
    def roundTrip(p: String): String = DeltaLog.decodePath(DeltaWrite.encodePath(p))
    // table-relative paths: percent-encoded, '/' preserved
    assert(DeltaWrite.encodePath("day=2024-01-01/part 1.parquet")
      == "day=2024-01-01/part%201.parquet")
    assert(roundTrip("x y/a+b.parquet") == "x y/a+b.parquet")
    // scheme-qualified (local fs) — scheme survives
    assert(DeltaWrite.encodePath("file:/src/tbl/part.parquet")
      .startsWith("file:/"))
    assert(roundTrip("file:/src/tbl/part.parquet") == "file:/src/tbl/part.parquet")
    // authority-bearing object-store URI — scheme AND bucket survive
    val s3 = "s3a://bucket/tbl/day=2024-01-01/part 1.parquet"
    val enc = DeltaWrite.encodePath(s3)
    assert(enc == "s3a://bucket/tbl/day=2024-01-01/part%201.parquet", enc)
    assert(roundTrip(s3) == new org.apache.hadoop.fs.Path(
      new java.net.URI("s3a", "bucket", "/tbl/day=2024-01-01/part 1.parquet", null)).toString)
  }

  test("collectStats backfills converted tables; readWhere then prunes files") {
    import spark.implicits._
    val dir = tmpDir("dw-stats-backfill").resolve("t")
    // two disjoint id-range files, written as plain parquet then converted
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1)
      .write.mode("append").parquet(dir.toString)
    Seq((100L, "x"), (200L, "y")).toDF("id", "v").repartition(1)
      .write.mode("append").parquet(dir.toString)
    DeltaWrite.convertFromParquet(spark, dir.toString)
    assert(DeltaLog.snapshot(spark, dir.toString).files.forall(_.stats.isEmpty))
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.toSeq
      }.flatten
    // stat-less: conservative — both files open
    assert(scannedFiles(DeltaLog.readWhere(spark, dir.toString, "id >= 150")).size == 2)

    assert(DeltaWrite.collectStats(spark, dir.toString) == 2)
    // idempotent: second run finds nothing stat-less
    assert(DeltaWrite.collectStats(spark, dir.toString) == 0)
    val snap = DeltaLog.snapshot(spark, dir.toString)
    assert(snap.files.size == 2 && snap.files.forall(_.stats.isDefined))
    // same rows, and the range predicate now opens ONE file
    assert(DeltaLog.read(spark, dir.toString).count() == 4)
    val hi = DeltaLog.readWhere(spark, dir.toString, "id >= 150")
    assert(scannedFiles(hi).size == 1, scannedFiles(hi).toString)
    assert(hi.collect().map(_.getLong(0)).toSeq == Seq(200L))
  }

  test("restore by timestamp resolves the version the log had at that instant") {
    import spark.implicits._
    val table = tmpDir("dw-restore-ts")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema)
    DeltaWrite.append(spark, table.toString, Seq((1L, "one")).toDF("id", "v")) // v1
    Thread.sleep(150)
    val atV1 = java.time.Instant.now()
    Thread.sleep(150)
    DeltaWrite.append(spark, table.toString, Seq((2L, "two")).toDF("id", "v")) // v2
    val v = DeltaWrite.restore(spark, table.toString, atV1)
    assert(v == 3L)
    assert(DeltaLog.read(spark, table.toString).collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("readChanges tails appended rows, ignores compaction, refuses non-append ranges") {
    import spark.implicits._
    val table = tmpDir("dw-changes")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema)
    DeltaWrite.append(spark, table.toString, Seq((1L, "one")).toDF("id", "v")) // v1
    val v1 = DeltaLog.snapshot(spark, table.toString).version
    DeltaWrite.append(spark, table.toString,
      Seq((2L, "two"), (3L, "three")).toDF("id", "v").repartition(1)) // v2
    DeltaWrite.append(spark, table.toString, Seq((4L, "four")).toDF("id", "v")) // v3

    val tail = DeltaLog.readChanges(spark, table.toString, v1)
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(tail == Seq(2L, 3L, 4L))
    assert(DeltaLog.readChanges(spark, table.toString,
      DeltaLog.snapshot(spark, table.toString).version).count() == 0)

    // layout-only compaction in range stays invisible
    DeltaWrite.compact(spark, table.toString) // v4 (dataChange=false)
    assert(DeltaLog.snapshot(spark, table.toString).version == 4L)
    val tail2 = DeltaLog.readChanges(spark, table.toString, v1)
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(tail2 == Seq(2L, 3L, 4L))

    // a data-changing remove in range refuses
    DeltaWrite.upsert(spark, table.toString, Seq((2L, "TWO")).toDF("id", "v"), Seq("id")) // v5
    val e = intercept[IllegalArgumentException](
      DeltaLog.readChanges(spark, table.toString, v1).count())
    assert(e.getMessage.contains("full refresh"), e.getMessage)
  }

  test("convertFromManaged promotes a managed table to Delta in place, zero bytes moved") {
    import spark.implicits._
    import graft.config.{Location, Types}
    val root = tmpDir("dw-convert")
    val loc = Location(root.toString)
    LegacyManagedTable.write(root,
      Seq((1L, "a"), (2L, "b"), (3L, null)).toDF("id", "part"), partitionColumns = Seq("part"))
    val beforeFiles = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => p -> java.nio.file.Files.getLastModifiedTime(p)).toMap

    val n = DeltaWrite.convertFromManaged(spark, loc)
    assert(n == 3)
    assert(DeltaLog.isDeltaTable(spark, root.toString))
    assert(!java.nio.file.Files.exists(root.resolve("_log"))) // frozen, not live
    assert(java.nio.file.Files.exists(root.resolve("_log_converted")))
    // identical data through the Delta log, partition values recovered
    val back = DeltaLog.read(spark, root.toString).orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), Option(r.getString(1)))).toSeq ==
      Seq((1L, Some("a")), (2L, Some("b")), (3L, None)))
    // no data file moved or rewritten
    beforeFiles.foreach { case (p, mt) =>
      assert(java.nio.file.Files.exists(p) && java.nio.file.Files.getLastModifiedTime(p) == mt)
    }
    // the converted table is immediately writable as Delta
    DeltaWrite.append(spark, root.toString, Seq((4L, "a")).toDF("id", "part"))
    assert(DeltaLog.read(spark, root.toString).count() == 4)
    intercept[IllegalArgumentException](DeltaWrite.convertFromManaged(spark, loc))
  }

  test("maintenance: history lists commits, compact bin-packs with dataChange=false, vacuum reclaims") {
    import spark.implicits._
    val table = tmpDir("dw-maint")
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema)
    (1L to 3L).foreach(i =>
      DeltaWrite.append(spark, table.toString, Seq((i, s"v$i")).toDF("id", "v").repartition(1)))

    val hist = DeltaWrite.history(spark, table.toString).orderBy("version").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(hist.map(_.getString(2)).toSeq == Seq("CREATE TABLE", "WRITE", "WRITE", "WRITE"))
    assert(hist.map(_.getInt(3)).toSeq == Seq(0, 1, 1, 1)) // files added per commit
    // operationParameters / operationMetrics ride commitInfo (DESCRIBE
    // HISTORY fidelity): appends declare their mode and count their output
    val p1 = hist(1).getMap[String, String](5)
    val m1 = hist(1).getMap[String, String](6)
    assert(p1.get("mode").contains("Append"), p1.toString)
    assert(m1.get("numAddedFiles").contains("1") &&
      m1.get("numOutputRows").contains("1"), m1.toString)

    val cv = DeltaWrite.compact(spark, table.toString)
    assert(cv == 4L)
    val snap = DeltaLog.snapshot(spark, table.toString)
    assert(snap.files.size == 1, s"expected 1 compacted file, got ${snap.files.size}")
    // compaction commits must be invisible to incremental consumers
    val v4 = logLines(table, 4L)
    assert(action(v4, "add").forall(!_.get("dataChange").asBoolean))
    assert(action(v4, "remove").size == 3)
    assert(action(v4, "remove").forall(!_.get("dataChange").asBoolean))
    val back = DeltaLog.read(spark, table.toString).orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "v1"), (2L, "v2"), (3L, "v3")))

    def dataFilesOnDisk: Int = {
      val it = java.nio.file.Files.walk(table)
      try it.iterator().asScala.count { p =>
        val n = p.getFileName.toString
        java.nio.file.Files.isRegularFile(p) && n.endsWith(".parquet") &&
          !p.toString.contains("_delta_log")
      } finally it.close()
    }
    assert(dataFilesOnDisk == 4) // 3 tombstoned + 1 live
    assert(DeltaWrite.vacuum(spark, table.toString) == 0) // retention guards recent files
    assert(DeltaWrite.vacuum(spark, table.toString, retainMs = 0L) == 3)
    assert(dataFilesOnDisk == 1)
    assert(DeltaLog.read(spark, table.toString).count() == 3) // live data intact
  }

  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }

  test("hive-escaped partition values unescape into the log (and '+' survives)") {
    assert(DeltaWrite.unescapePathName("a%20b") == "a b")
    assert(DeltaWrite.unescapePathName("a+b") == "a+b") // URLDecoder would break this
    assert(DeltaWrite.unescapePathName("plain") == "plain")
    assert(DeltaWrite.unescapePathName("bad%zz") == "bad%zz")
    import spark.implicits._
    val table = tmpDir("dw-esc")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("part", StringType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema, partitionBy = Seq("part"))
    DeltaWrite.append(spark, table.toString,
      Seq((1L, "x y"), (2L, "a+b")).toDF("id", "part"))
    val pvs = action(logLines(table, 1L), "add")
      .map(_.get("partitionValues").get("part").asText).toSet
    assert(pvs == Set("x y", "a+b"))
    val back = DeltaLog.read(spark, table.toString).orderBy("id").collect()
    assert(back.map(_.getString(1)).toSeq == Seq("x y", "a+b"))
  }

  test("v2 checkpoint WRITE round-trips through the reader in both manifest flavors") {
    import spark.implicits._
    for (json <- Seq(false, true)) {
      val table = tmpDir(s"dw-v2cp-$json").resolve("t").toString
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("v", StringType)))
      DeltaWrite.createIfAbsent(spark, table, schema,
        properties = Map("delta.checkpointPolicy" -> "v2"))
      val proto = DeltaLog.snapshot(spark, table).protocol.get
      assert(proto.minReaderVersion == 3 &&
        proto.readerFeatures.contains("v2Checkpoint") &&
        proto.writerFeatures.contains("v2Checkpoint"), proto.toString)
      (1 to 6).foreach { i =>
        DeltaWrite.append(spark, table,
          Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1))
      }
      DeltaWrite.delete(spark, table, "id = 3") // v7
      // small partActions forces MULTIPLE sidecars
      val cpv = DeltaWrite.checkpointV2(spark, table,
        jsonManifest = json, partActions = 2L)
      assert(cpv == 7L)
      val logDir = java.nio.file.Paths.get(table, "_delta_log")
      val sidecarDir = logDir.resolve("_sidecars")
      val nSidecars = {
        val l = java.nio.file.Files.list(sidecarDir)
        try l.count() finally l.close()
      }
      assert(nSidecars >= 2, s"expected multiple sidecars, got $nSidecars")
      // metadata cleanup: the v2 checkpoint alone must seed the snapshot
      val deleted = DeltaWrite.cleanupMetadata(spark, table)
      // commits 0..7 plus version checksums 0..6 (the newest crc stays so
      // post-cleanup readers can still audit the seed state)
      assert(deleted == 15, s"deleted=$deleted")
      assert(java.nio.file.Files.exists(logDir.resolve("00000000000000000007.crc")))
      def state() = DeltaLog.read(spark, table)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(state() == (1 to 6).filter(_ != 3)
        .map(i => (i.toLong, s"v$i")).toSet)
      // stats survive through sidecars: range predicate prunes
      assert(DeltaLog.readWhere(spark, table, "id >= 5").collect()
        .map(_.getLong(0)).toSet == Set(5L, 6L))
      // the checkpoint-seeded table keeps accepting commits, and the next
      // AUTO checkpoint (interval crossing) also comes out v2
      (8 to 10).foreach { i =>
        DeltaWrite.append(spark, table,
          Seq((i.toLong, s"w$i")).toDF("id", "v").coalesce(1))
      }
      val names = {
        val l = java.nio.file.Files.list(logDir)
        try {
          val b = Seq.newBuilder[String]
          l.forEach(p => { b += p.getFileName.toString; () })
          b.result()
        } finally l.close()
      }
      assert(names.exists(_.matches(f"${10L}%020d\\.checkpoint\\.[^.]+\\.parquet")),
        s"auto-checkpoint at v10 missing/classic: ${names.sorted.mkString(", ")}")
      assert(state().size == 8)
      // identity (metaData id) survives the checkpoint round-trip
      val lines = java.nio.file.Files.readAllLines(logDir.resolve("_last_checkpoint"))
      assert(mapper.readTree(lines.get(0)).get("version").asLong == 10L)
    }
  }

  test("setProperties flips config mid-life; restore across the ICT boundary re-commits the config") {
    import spark.implicits._
    val table = tmpDir("dw-setprops")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    DeltaWrite.createIfAbsent(spark, table.toString, schema)           // v0, no ICT
    DeltaWrite.append(spark, table.toString, Seq((1L, "a")).toDF("id", "v")) // v1
    def ictOf(v: Long): Option[Long] =
      action(logLines(table, v), "commitInfo")
        .flatMap(ci => Option(ci.get("inCommitTimestamp")).map(_.asLong())).headOption

    // enable ICT mid-life: metaData + feature-listed v7 protocol carrying
    // the legacy-implied features, and the enablement commit itself stamps
    val v2 = DeltaWrite.setProperties(spark, table.toString,
      Map("delta.enableInCommitTimestamps" -> "true"))
    assert(v2 == 2L)
    val proto = DeltaLog.snapshot(spark, table.toString).protocol.get
    assert(proto.minWriterVersion == 7 &&
      Set("inCommitTimestamp", "appendOnly", "invariants")
        .subsetOf(proto.writerFeatures), proto.toString)
    assert(ictOf(2L).nonEmpty, "enablement commit must carry the in-commit clock")
    DeltaWrite.append(spark, table.toString, Seq((2L, "b")).toDF("id", "v")) // v3
    assert(ictOf(3L).nonEmpty)

    // a no-op property set commits nothing
    assert(DeltaWrite.setProperties(spark, table.toString,
      Map("delta.enableInCommitTimestamps" -> "true")) == 3L)

    // restore to the PRE-enablement version: the config change must be
    // COMMITTED (metaData without the flag) in the same commit that stops
    // stamping, or readers see an enabled table with no in-commit clock
    val v4 = DeltaWrite.restore(spark, table.toString, 1L)
    assert(v4 == 4L)
    val metas = action(logLines(table, 4L), "metaData")
    assert(metas.nonEmpty, "restore across a config change must re-emit metaData")
    assert(Option(metas.head.get("configuration")
      .get("delta.enableInCommitTimestamps")).isEmpty, metas.head.toString)
    assert(ictOf(4L).isEmpty, "post-restore commit must not stamp ICT")
    assert(!DeltaLog.snapshot(spark, table.toString).configuration
      .contains("delta.enableInCommitTimestamps"))
    DeltaWrite.append(spark, table.toString, Seq((5L, "e")).toDF("id", "v")) // v5
    assert(ictOf(5L).isEmpty)

    // restore FORWARD over the boundary: ICT re-enables atomically
    val v6 = DeltaWrite.restore(spark, table.toString, 3L)
    assert(ictOf(v6).nonEmpty, "restoring to an ICT version must resume stamping")
    assert(DeltaLog.read(spark, table.toString).collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))

    // column-mapping mode cannot flip via properties
    val e = intercept[IllegalArgumentException](DeltaWrite.setProperties(
      spark, table.toString, Map("delta.columnMapping.mode" -> "name")))
    assert(e.getMessage.contains("columnMapping"))
  }

  test("explicit identity values: high-water mark and written rows observe the same evaluation") {
    import spark.implicits._
    val table = tmpDir("dw-ident-nondet")
    DeltaWrite.createIfAbsent(spark, table.toString, StructType(Seq(
      DeltaWrite.identityField("id", allowExplicitInsert = true),
      StructField("v", LongType))))
    // a NONDETERMINISTIC source: re-evaluating between the extremum
    // aggregate and the data write would let written ids exceed (or trail)
    // the recorded mark — the persist-before-agg contract pins them equal
    val df = spark.range(0, 2000, 1, 8)
      .withColumn("id", (rand() * 1000000L).cast("long"))
      .where(rand() < 0.5)
      .select(col("id"), col("id").as("v"))
    DeltaWrite.append(spark, table.toString, df)
    val snap = DeltaLog.snapshot(spark, table.toString)
    val hwm = snap.schema("id").metadata.getLong("delta.identity.highWaterMark")
    val written = DeltaLog.read(spark, table.toString)
      .agg(max("id")).head().getLong(0)
    assert(hwm == written,
      s"recorded mark $hwm must equal the written extremum $written")
  }

  test("describeDetail: partition/clustering columns, features, id, and index-aggregated file stats") {
    import spark.implicits._
    val table = tmpDir("dw-detail")
    DeltaWrite.createIfAbsent(spark, table.toString, StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("x", DoubleType))),
      partitionBy = Seq("g"),
      properties = Map("delta.enableDeletionVectors" -> "true"))
    val df = (1L to 400L).map(i => (i, if (i % 2 == 0) "a" else "b", i * 1.5))
      .toDF("k", "g", "x")
    DeltaWrite.append(spark, table.toString, df.repartition(2))
    DeltaWrite.compact(spark, table.toString, clusterBy = Seq("k", "x"),
      curve = "hilbert")
    val d = DeltaWrite.describeDetail(spark, table.toString).collect()(0)
    assert(d.getAs[String]("format") == "delta")
    assert(d.getAs[String]("id") == DeltaLog.tableId(
      DeltaLog.snapshot(spark, table.toString)).get)
    assert(d.getAs[scala.collection.Seq[String]]("partitionColumns").toSeq == Seq("g"))
    assert(d.getAs[scala.collection.Seq[String]]("clusteringColumns").toSeq == Seq("k", "x"))
    assert(d.getAs[scala.collection.Seq[String]]("tableFeatures").contains("deletionVectors"))
    assert(d.getAs[scala.collection.Seq[String]]("tableFeatures").contains("clusteredTable"))
    // 2 partitions × (≤2 input splits) compacted to one file per partition
    val live = DeltaLog.snapshot(spark, table.toString).files
    assert(d.getAs[Long]("numFiles") == live.size.toLong)
    assert(d.getAs[Long]("sizeInBytes") == live.map(_.size).sum)
    assert(d.getAs[scala.collection.Map[String, String]]("properties")
      .get("delta.enableDeletionVectors").contains("true"))
    assert(d.getAs[java.sql.Timestamp]("lastModified").getTime >=
      d.getAs[java.sql.Timestamp]("createdAt").getTime)
  }
}
