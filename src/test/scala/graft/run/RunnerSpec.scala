package graft.run

import graft.SparkSpec
import graft.config._
import org.apache.spark.sql.Row

class RunnerSpec extends SparkSpec {

  /** Runs `body` and counts the Spark jobs it started. */
  private def countJobs[A](body: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Bytes read so far through Hadoop's local file system, in this JVM. */
  private def localBytesRead(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  /** A tracker that counts the RDDs persisted beyond those persisted when
    * it was made: when the second stage group starts, when the destination
    * write completes, and on demand. It also notes the local bytes read
    * when the second group starts.
    */
  private final class CacheProbe extends ProgressTracker {
    private val sc = spark.sparkContext
    private val before = sc.getPersistentRDDs.size
    val inner = new CollectingTracker
    @volatile var cachedAtGroup1: Int = -1
    @volatile var bytesReadAtGroup1: Long = -1
    @volatile var cachedAtWrite: Int = -1
    def cachedNow: Int = sc.getPersistentRDDs.size - before
    override def onProgress(e: ProgressEvent): Unit = {
      e match {
        case ProgressEvent.StageStarted(_, 1) =>
          cachedAtGroup1 = cachedNow
          bytesReadAtGroup1 = localBytesRead()
        case ProgressEvent.DestinationCompleted(_) => cachedAtWrite = cachedNow
        case _ => ()
      }
      inner.onProgress(e)
    }
    override def onOutput(stage: String, t: OutputType, body: String): Unit =
      inner.onOutput(stage, t, body)
  }

  test("e2e: CSV source → SQL stage → in-memory destination (reference integration.rs:13-52)") {
    val dir = tmpDir("runner-mem")
    val csv = writeFixtureCsv(dir)
    val aq = Aqueduct(
      sources = Seq(FileSource("raw_mem", CsvFormat(), Location(csv.toString))),
      stages = Seq(Seq(Stage("filtered_mem",
        "SELECT id, name, value FROM raw_mem WHERE active = true ORDER BY id"))),
      destination = Some(InMemoryDestination("result_mem")))
    val out = Runner.run(spark, aq, new CollectingTracker)
    assert(out.nonEmpty)
    val rows = spark.table("result_mem").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("alpha", "gamma", "epsilon"))
    // destination stage view was deregistered after the write
    assert(!spark.catalog.tableExists("filtered_mem"))
  }

  test("e2e: no destination leaves the last stage registered (integration.rs:96-122)") {
    val dir = tmpDir("runner-nodest")
    val csv = writeFixtureCsv(dir)
    val aq = Aqueduct(
      sources = Seq(FileSource("raw_nd", CsvFormat(), Location(csv.toString))),
      stages = Seq(Seq(Stage("summary_nd",
        "SELECT count(*) AS n, round(sum(value), 2) AS total FROM raw_nd"))))
    Runner.run(spark, aq)
    val r = spark.table("summary_nd").collect().head
    assert(r.getLong(0) == 5L && r.getDouble(1) == 151.5)
  }

  test("e2e: parquet source → filter stage → single-file CSV destination (integration.rs:54-94)") {
    val dir = tmpDir("runner-file")
    writeFixtureCsv(dir)
    spark.read.option("header", "true").option("inferSchema", "true")
      .csv(dir.resolve("data.csv").toString)
      .write.mode("overwrite").parquet(dir.resolve("in.parquet").toString)
    val target = dir.resolve("out").resolve("result.csv")
    val aq = Aqueduct(
      sources = Seq(FileSource("raw_pq", ParquetFormat(), Location(dir.resolve("in.parquet").toString))),
      stages = Seq(Seq(Stage("active_rows",
        "SELECT id, name FROM raw_pq WHERE active = true ORDER BY id"))),
      destination = Some(FileDestination("result", Location(target.toString), CsvDestFormat())))
    Runner.run(spark, aq)
    assert(java.nio.file.Files.isRegularFile(target)) // exact path, not a directory
    val back = spark.read.option("header", "true").csv(target.toString).collect()
    assert(back.length == 3)
  }

  test("file destination: partitioned multi-file parquet with writer options") {
    val dir = tmpDir("runner-part")
    val csv = writeFixtureCsv(dir)
    val outDir = dir.resolve("out_part")
    val aq = Aqueduct(
      sources = Seq(FileSource("raw_part", CsvFormat(), Location(csv.toString))),
      stages = Seq(Seq(Stage("all_rows", "SELECT * FROM raw_part"))),
      destination = Some(FileDestination("out", Location(outDir.toString),
        ParquetDestFormat(Map("compression" -> "snappy")),
        singleFile = false, partitionColumns = Seq("active"))))
    Runner.run(spark, aq)
    val sub = outDir.toFile.list().toSeq
    assert(sub.exists(_.startsWith("active=true")) && sub.exists(_.startsWith("active=false")))
    val back = spark.read.parquet(outDir.toString)
    assert(back.count() == 5)
    assert(back.columns.contains("active")) // partition column recovered
  }

  test("parallel stage groups + TTL eviction + stage chaining") {
    val dir = tmpDir("runner-groups")
    val csv = writeFixtureCsv(dir)
    val tracker = new CollectingTracker
    val aq = Aqueduct(
      sources = Seq(FileSource("raw_g", CsvFormat(), Location(csv.toString))),
      stages = Seq(
        Seq( // concurrent group
          Stage("actives_g", "SELECT * FROM raw_g WHERE active = true"),
          Stage("inactives_g", "SELECT * FROM raw_g WHERE active = false")),
        Seq(Stage("unioned_g",
          "SELECT * FROM actives_g UNION ALL SELECT * FROM inactives_g")),
        Seq(Stage("final_g", "SELECT count(*) AS n FROM unioned_g"))),
      destination = None)
    Runner.run(spark, aq, tracker)
    assert(spark.table("final_g").collect().head.getLong(0) == 5L)
    // TTL: intermediates evicted after their last consumer group
    assert(!spark.catalog.tableExists("actives_g"))
    assert(!spark.catalog.tableExists("inactives_g"))
    assert(!spark.catalog.tableExists("unioned_g"))
    assert(spark.catalog.tableExists("final_g"))
    // progress event sequence sanity
    val evts = tracker.events
    assert(evts.contains(ProgressEvent.Started))
    assert(evts.exists { case ProgressEvent.SourceRegistered("raw_g") => true; case _ => false })
    assert(evts.count { case _: ProgressEvent.StageCompleted => true; case _ => false } == 4)
    assert(evts.exists { case _: ProgressEvent.Completed => true; case _ => false })
  }

  test("debug outputs: show (cap 500 at 0), explain, print_schema routed to tracker") {
    val dir = tmpDir("runner-debug")
    val csv = writeFixtureCsv(dir)
    val tracker = new CollectingTracker
    val aq = Aqueduct(
      sources = Seq(FileSource("raw_dbg", CsvFormat(), Location(csv.toString))),
      stages = Seq(Seq(Stage("dbg", "SELECT id, name FROM raw_dbg ORDER BY id",
        show = Some(0), explain = true, printSchema = true))))
    Runner.run(spark, aq, tracker)
    val byType = tracker.outputs.groupBy(_._2)
    assert(byType(OutputType.Show).head._3.contains("alpha"))
    assert(byType(OutputType.Explain).head._3.contains("Physical Plan"))
    assert(byType(OutputType.PrintSchema).head._3.contains("id"))
  }

  test("JSONL source and JSON destination round-trip") {
    val dir = tmpDir("runner-jsonl")
    val jsonl = dir.resolve("in.jsonl")
    java.nio.file.Files.writeString(jsonl,
      """{"id": 1, "name": "a", "score": 1.5}
        |{"id": 2, "name": "b", "score": 2.5}
        |{"id": 3, "name": "c", "score": 3.5}
        |""".stripMargin)
    val out = dir.resolve("out.jsonl")
    val aq = Aqueduct(
      sources = Seq(FileSource("raw_jl", JsonFormat(), Location(jsonl.toString))),
      stages = Seq(Seq(Stage("jl_sel", "SELECT id, name FROM raw_jl WHERE score > 2 ORDER BY id"))),
      destination = Some(FileDestination("jl_out", Location(out.toString), JsonDestFormat)))
    Runner.run(spark, aq)
    val back = spark.read.json(out.toString)
    assert(back.count() == 2)
    assert(back.select("name").collect().map(_.getString(0)).sorted.toSeq == Seq("b", "c"))
  }

  test("ORC source and partitioned ORC destination round-trip (beyond reference)") {
    val dir = tmpDir("runner-orc")
    val in = dir.resolve("in.orc")
    spark.range(1, 21)
      .selectExpr("id", "concat('n', id) AS name",
        "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS parity",
        "CAST(id AS DOUBLE) * 1.5 AS score")
      .coalesce(1).write.mode("overwrite").orc(in.toString)
    val out = dir.resolve("out")
    Runner.run(spark, Aqueduct(
      sources = Seq(FileSource("raw_orc", OrcFormat(), Location(in.toString))),
      stages = Seq(Seq(Stage("orc_sel",
        "SELECT id, name, parity, score FROM raw_orc WHERE id <= 10"))),
      destination = Some(FileDestination("orc_out", Location(out.toString),
        OrcDestFormat(Map("compression" -> "zlib")),
        singleFile = false, partitionColumns = Seq("parity")))))
    // hive layout on disk, lossless read-back through a typed directory source
    assert(java.nio.file.Files.isDirectory(out.resolve("parity=even")))
    Runner.run(spark, Aqueduct(
      sources = Seq(DirSource("orc_dir", OrcFormat(), Location(out.toString),
        partitionColumns = Seq("parity" -> org.apache.spark.sql.types.StringType))),
      stages = Seq(Seq(Stage("orc_back",
        "SELECT parity, count(*) AS n, round(sum(score), 2) AS total FROM orc_dir GROUP BY parity")))))
    val rows = spark.table("orc_back").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set(("even", 5L, 45.0), ("odd", 5L, 37.5)))
    spark.catalog.dropTempView("orc_back")
  }

  test("Avro source and destination round-trip, incl. single_file and partitions (beyond reference)") {
    val dir = tmpDir("runner-avro")
    val in = dir.resolve("in")
    graft.sources.Avro.write(
      spark.range(1, 21).selectExpr("id", "concat('n', id) AS name",
        "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS parity",
        "CAST(id AS DOUBLE) * 1.5 AS score"),
      in.toString)
    // avro source → stage → single exact-path avro file
    val single = dir.resolve("out.avro")
    Runner.run(spark, Aqueduct(
      sources = Seq(FileSource("raw_av", AvroFormat(), Location(in.toString))),
      stages = Seq(Seq(Stage("av_sel",
        "SELECT id, name, parity, score FROM raw_av WHERE id <= 10"))),
      destination = Some(FileDestination("av_out", Location(single.toString),
        AvroDestFormat(codec = Some("deflate"))))))
    assert(java.nio.file.Files.isRegularFile(single))
    // hive-partitioned avro write; partition dirs on disk
    val parts = dir.resolve("parts")
    Runner.run(spark, Aqueduct(
      sources = Seq(FileSource("raw_av2", AvroFormat(), Location(single.toString))),
      stages = Seq(Seq(Stage("av_all", "SELECT * FROM raw_av2"))),
      destination = Some(FileDestination("av_parts", Location(parts.toString),
        AvroDestFormat(), singleFile = false, partitionColumns = Seq("parity")))))
    assert(java.nio.file.Files.isDirectory(parts.resolve("parity=even")))
    val back = graft.sources.Avro.read(spark, parts.resolve("parity=odd").toString)
    assert(back.count() == 5 &&
      back.selectExpr("sum(id)").head().getLong(0) == (1 + 3 + 5 + 7 + 9))
  }

  test("managed-table source with time travel through the config pipeline") {
    val dir = tmpDir("runner-mtsrc")
    val tblLoc = Location(dir.resolve("tbl").toString)
    import org.apache.spark.sql.types._
    import graft.destinations.DeltaWrite
    DeltaWrite.createIfAbsent(spark, tblLoc.spark,
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))))
    import spark.implicits._
    DeltaWrite.append(spark, tblLoc.spark, Seq((1L, "a")).toDF("id", "v"))
    DeltaWrite.append(spark, tblLoc.spark, Seq((2L, "b")).toDF("id", "v"))
    // latest
    val latest = Aqueduct(
      sources = Seq(ManagedTableSource("mt_latest", tblLoc)),
      stages = Seq(Seq(Stage("mt_n", "SELECT count(*) AS n FROM mt_latest"))))
    Runner.run(spark, latest)
    assert(spark.table("mt_n").head().getLong(0) == 2L)
    // version 1 (after first append) via config `version`
    val v1 = Aqueduct(
      sources = Seq(ManagedTableSource("mt_v1", tblLoc, version = Some(1))),
      stages = Seq(Seq(Stage("mt_n1", "SELECT count(*) AS n FROM mt_v1"))))
    Runner.run(spark, v1)
    assert(spark.table("mt_n1").head().getLong(0) == 1L)
  }

  test("a legacy `_log/` table is refused as source and destination, and left untouched") {
    val dir = tmpDir("runner-legacy")
    val tbl = dir.resolve("tbl")
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    graft.destinations.LegacyManagedTable.write(tbl, Seq((1L, "a")).toDF("id", "v"))
    def snapshot(): Map[String, Seq[Byte]] = {
      val walk = java.nio.file.Files.walk(tbl)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => tbl.relativize(p).toString ->
          java.nio.file.Files.readAllBytes(p).toSeq).toMap
      finally walk.close()
    }
    val before = snapshot()
    val loc = Location(tbl.toString)
    val asSource = Aqueduct(
      sources = Seq(ManagedTableSource("legacy_src", loc)),
      stages = Seq(Seq(Stage("legacy_n", "SELECT count(*) AS n FROM legacy_src"))))
    val asDest = Aqueduct(
      sources = Seq(InMemorySource("legacy_in")),
      stages = Seq(Seq(Stage("legacy_out", "SELECT * FROM legacy_in"))),
      destination = Some(ManagedTableDestination("legacy_dst", loc, TableAppend,
        schema = Seq(graft.config.Types.FieldSpec("id", org.apache.spark.sql.types.LongType),
          graft.config.Types.FieldSpec("v", org.apache.spark.sql.types.StringType)))))
    Seq((2L, "b")).toDF("id", "v").createOrReplaceTempView("legacy_in")
    try Seq(asSource, asDest).foreach { aq =>
      val e = intercept[Exception](Runner.run(spark, aq, new CollectingTracker))
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(e).exists(_.contains("convertFromManaged")), chain(e))
      assert(!java.nio.file.Files.exists(tbl.resolve("_delta_log")))
      assert(snapshot() == before, "the legacy table directory changed")
    } finally spark.catalog.dropTempView("legacy_in")
  }

  test("explain_analyze emits an executed plan with metrics") {
    val dir = tmpDir("runner-ea")
    val csv = writeFixtureCsv(dir)
    val tracker = new CollectingTracker
    val aq = Aqueduct(
      sources = Seq(FileSource("raw_ea", CsvFormat(), Location(csv.toString))),
      stages = Seq(Seq(Stage("ea_stage", "SELECT count(*) AS n FROM raw_ea",
        explainAnalyze = true))))
    Runner.run(spark, aq, tracker)
    val body = tracker.outputs.find(_._2 == OutputType.ExplainAnalyze).get._3
    assert(body.contains("HashAggregate") || body.contains("AdaptiveSparkPlan"), body)
  }

  test("directory source with typed hive partitions") {
    val dir = tmpDir("runner-dir")
    import spark.implicits._
    Seq((1, "a", "2024"), (2, "b", "2024"), (3, "c", "2025"))
      .toDF("id", "v", "year")
      .write.partitionBy("year").mode("overwrite")
      .parquet(dir.resolve("data").toString)
    val aq = Aqueduct(
      sources = Seq(DirSource("dirsrc", ParquetFormat(), Location(dir.resolve("data").toString),
        partitionColumns = Seq(("year", org.apache.spark.sql.types.IntegerType)))),
      stages = Seq(Seq(Stage("by_year",
        "SELECT year, count(*) AS n FROM dirsrc GROUP BY year ORDER BY year"))))
    Runner.run(spark, aq)
    val rows = spark.table("by_year").collect()
    assert(rows.map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((2024, 2L), (2025, 1L)))
  }

  test("validation: DDL/DML rejected at load time, before anything runs") {
    val aq = Aqueduct(
      sources = Nil,
      stages = Seq(Seq(Stage("bad", "DROP TABLE raw"))))
    assertThrows[SqlGuard.SqlValidationError](Runner.run(spark, aq))
    Seq("CREATE TABLE t (a INT)", "INSERT INTO t VALUES (1)", "SET spark.foo=1",
      "DELETE FROM t WHERE a = 1", "UPDATE t SET a = 2").foreach { q =>
      assertThrows[SqlGuard.SqlValidationError](SqlGuard.validate(spark, "s", q))
    }
    // pure queries pass, including CTEs and VALUES
    SqlGuard.validate(spark, "s", "WITH x AS (SELECT 1 AS a) SELECT * FROM x")
    SqlGuard.validate(spark, "s", "SELECT * FROM VALUES (1, 'a') AS t(id, name)")
    // syntax error carries position info
    val e = intercept[SqlGuard.SqlValidationError](SqlGuard.validate(spark, "s", "SELEC 1"))
    assert(e.getMessage.contains("s"))
  }

  test("stage failures carry the stage name; missing tables fail cleanly") {
    val aq = Aqueduct(
      stages = Seq(Seq(Stage("boom_stage", "SELECT * FROM table_that_does_not_exist_xyz"))))
    val e = intercept[Runner.PipelineError](Runner.run(spark, aq))
    assert(e.getMessage.contains("boom_stage"))

    // a missing file source location fails at registration, not mid-query
    val aq2 = Aqueduct(
      sources = Seq(FileSource("no_such", ParquetFormat(), Location("/tmp/definitely/missing.parquet"))),
      stages = Seq(Seq(Stage("s_ns", "SELECT 1"))))
    assertThrows[Exception](Runner.run(spark, aq2))
  }

  test("parquet sources register without running a Spark job") {
    val dir = tmpDir("runner-nojob")
    spark.range(0, 20, 1, 2).selectExpr("id", "id % 3 AS k")
      .write.parquet(dir.resolve("a").toString)
    spark.range(0, 20, 1, 1).selectExpr("id", "concat('v', id) AS v")
      .write.parquet(dir.resolve("b").toString)
    spark.range(0, 20, 1, 2).selectExpr("id", "CAST(id % 2 AS INT) AS part")
      .write.partitionBy("part").parquet(dir.resolve("c").toString)
    import scala.jdk.CollectionConverters._
    val bFile = java.nio.file.Files.list(dir.resolve("b")).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    val aq = Aqueduct(
      sources = Seq(
        FileSource("nj_a", ParquetFormat(), Location(dir.resolve("a").toString)),
        FileSource("nj_b", ParquetFormat(), Location(bFile.toString)),
        DirSource("nj_c", ParquetFormat(), Location(dir.resolve("c").toString))),
      stages = Seq(Seq(Stage("nj_joined",
        "SELECT a.id, a.k, b.v, c.part FROM nj_a a JOIN nj_b b ON a.id = b.id " +
          "JOIN nj_c c ON a.id = c.id"))))
    assert(countJobs(Runner.run(spark, aq))._2 == 0)
    assert(spark.table("nj_joined").schema.fieldNames.toSeq == Seq("id", "k", "v", "part"))
  }

  test("duplicate stage names rejected") {
    val aq = Aqueduct(stages = Seq(
      Seq(Stage("dup", "SELECT 1")), Seq(Stage("dup", "SELECT 2"))))
    assertThrows[Runner.PipelineError](Runner.run(spark, aq))
  }

  test("in-memory source must pre-exist") {
    val aq = Aqueduct(
      sources = Seq(InMemorySource("never_registered_xyz")),
      stages = Seq(Seq(Stage("s_mem", "SELECT * FROM never_registered_xyz"))))
    assertThrows[Exception](Runner.run(spark, aq))

    import spark.implicits._
    Seq((1, "x")).toDF("id", "v").createOrReplaceTempView("pre_registered")
    val ok = Aqueduct(
      sources = Seq(InMemorySource("pre_registered")),
      stages = Seq(Seq(Stage("s_mem2", "SELECT count(*) AS n FROM pre_registered"))))
    Runner.run(spark, ok)
    assert(spark.table("s_mem2").collect().head.getLong(0) == 1L)
  }

  test("in_memory destination name colliding with a stage fails at validate time") {
    val dir = tmpDir("runner-dest-collide")
    val csv = writeFixtureCsv(dir)
    val aq = Aqueduct(
      sources = Seq(FileSource("dc_src", CsvFormat(hasHeader = true), Location(csv.toString))),
      stages = Seq(Seq(Stage("dc_report", "SELECT * FROM dc_src"))),
      destination = Some(InMemoryDestination("dc_report")))
    val e = intercept[Runner.PipelineError](Runner.run(spark, aq, new CollectingTracker))
    assert(e.getMessage.contains("Duplicate"))
    assert(!spark.catalog.tableExists("dc_src")) // nothing ran, nothing leaked
  }

  test("README example pipeline runs end-to-end (reference examples/aqueduct_pipeline_example.yml)") {
    // Stage the reference's CSV fixtures in a writable dir (the config's
    // ${local_path} prefix covers both inputs and the output table).
    val base = tmpDir("example-pipeline")
    val ex = base.resolve("examples")
    java.nio.file.Files.createDirectories(ex)
    Seq("temp_readings_jan_2024.csv", "temp_readings_feb_2024.csv", "location_dict.csv").foreach { f =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"/root/reference/examples/$f"), ex.resolve(f))
    }
    val tracker = new CollectingTracker
    Runner.runFile(spark,
      java.nio.file.Paths.get("/root/reference/examples/aqueduct_pipeline_example.yml"),
      Map("local_path" -> base.toString, "run_id" -> "t1"),
      tracker)
    val tableLoc = Location(base.resolve("examples/output_delta_example/t1").toString)
    val out = graft.sources.DeltaLog.read(spark, tableLoc.spark)
    assert(out.count() > 0)
    assert(out.schema.fieldNames.toSeq ==
      Seq("date", "location_id", "min_temp_c", "min_humidity", "max_temp_c",
        "max_humidity", "avg_temp_c", "avg_humidity"))
    assert(out.schema("date").dataType == org.apache.spark.sql.types.DateType)
    assert(out.schema("location_id").dataType == org.apache.spark.sql.types.IntegerType)
    // stage debug outputs fired: show 20, show 0, print_schema
    assert(tracker.outputs.count(_._2 == OutputType.Show) == 2)
    assert(tracker.outputs.count(_._2 == OutputType.PrintSchema) == 1)
    // re-running upserts on `date` keys: identical source ⇒ stable row count
    Runner.runFile(spark,
      java.nio.file.Paths.get("/root/reference/examples/aqueduct_pipeline_example.yml"),
      Map("local_path" -> base.toString, "run_id" -> "t1"))
    val again = graft.sources.DeltaLog.read(spark, tableLoc.spark)
    assert(again.count() == out.count())
  }

  test("failed pipeline leaves the shared session clean (views + cache)") {
    val dir = tmpDir("runner-fail")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(dir.resolve("in.parquet").toString)
    // caller-owned in-memory source must survive the failure
    Seq((9L, "keep")).toDF("id", "name").createOrReplaceTempView("caller_owned")
    val aq = Aqueduct(
      sources = Seq(
        InMemorySource("caller_owned"),
        FileSource("f_src", ParquetFormat(), Location(dir.resolve("in.parquet").toString))),
      stages = Seq(
        // two consumers of a nondeterministic stage → s1 gets persisted
        // before the failure downstream, on either side of the size limit
        Seq(Stage("s1", "SELECT id, name, rand() AS r FROM f_src")),
        Seq(Stage("s2a", "SELECT count(*) AS n FROM s1"),
            Stage("s2b", "SELECT CAST(name AS BIGINT) + nosuchcol AS boom FROM s1"))))
    val probe = new CacheProbe
    assertThrows[Runner.PipelineError](Runner.run(spark, aq, probe))
    assert(probe.cachedAtGroup1 == 1)
    // pipeline-owned views and caches are gone; caller's view is untouched
    assert(probe.cachedNow == 0)
    Seq("f_src", "s1", "s2a").foreach(v => assert(!spark.catalog.tableExists(v), v))
    assert(spark.catalog.tableExists("caller_owned"))
    spark.catalog.dropTempView("caller_owned")
  }

  test("repo examples/ pipelines run end-to-end against the test data") {
    val sf = "/root/testdata/sf0.001"
    val out = tmpDir("repo-examples")

    Runner.runFile(spark, java.nio.file.Paths.get("examples/orders_summary.yml"),
      Map("sf_dir" -> sf, "out_dir" -> out.toString), new CollectingTracker)
    val csv = spark.read.option("header", "true")
      .csv(out.resolve("orders_summary.csv").toString)
    assert(csv.columns.toSeq == Seq("dim", "value", "n") && csv.count() > 0)

    Runner.runFile(spark, java.nio.file.Paths.get("examples/managed_table_upsert.yml"),
      Map("sf_dir" -> sf, "table_dir" -> out.resolve("customers").toString), new CollectingTracker)
    val tbl = graft.sources.DeltaLog.read(spark, Location(out.resolve("customers").toString).spark)
    assert(tbl.count() > 0)
    assert(tbl.schema("balance").dataType == org.apache.spark.sql.types.DoubleType)

    Runner.runFile(spark, java.nio.file.Paths.get("examples/documents_dedup.yml"),
      Map("sf_dir" -> sf, "out_dir" -> out.resolve("docs").toString), new CollectingTracker)
    val clean = spark.read.parquet(out.resolve("docs/clean").toString)
    assert(clean.columns.contains("lang") && clean.count() > 0)
    // dedup really deduplicated: fewer or equal rows than the corpus
    val corpus = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(clean.count() <= corpus)

    Runner.runFile(spark, java.nio.file.Paths.get("examples/text_curation.yml"),
      Map("sf_dir" -> sf, "out_dir" -> out.resolve("cur").toString), new CollectingTracker)
    val curated = spark.read.parquet(out.resolve("cur/curated").toString)
    assert(curated.columns.toSet ==
      Set("doc_id", "lang", "lang_pred", "quality", "n_tokens"))
    assert(curated.count() > 0 && curated.count() < corpus) // filter has bite

    Runner.runFile(spark, java.nio.file.Paths.get("examples/corpus_stats.yml"),
      Map("sf_dir" -> sf, "out_dir" -> out.resolve("stats").toString), new CollectingTracker)
    val terms = spark.read.option("header", "true")
      .csv(out.resolve("stats/top_terms").toString)
    assert(terms.columns.toSeq == Seq("lang", "word", "n", "rank"))
    // 10 terms per language present in the corpus slice
    assert(terms.groupBy("lang").count().collect().forall(_.getLong(1) == 10L))
  }

  /** Runs one pipeline twice on `caller`: the second run must compile no
    * generated code and its tasks must run under the first run's class
    * loaders. Returns those loaders.
    */
  private def assertCodegenReused(caller: org.apache.spark.sql.SparkSession, tag: String): Set[Int] = {
    val dir = tmpDir(s"runner-codegen-$tag")
    caller.range(0, 200, 1, 2).selectExpr("id", "id % 7 AS k")
      .write.parquet(dir.resolve("in").toString)
    val out = dir.resolve("out")
    val aq = Aqueduct(
      sources = Seq(FileSource("cg_src", ParquetFormat(), Location(dir.resolve("in").toString))),
      stages = Seq(
        Seq(Stage("cg_keys", "SELECT k, count(*) AS n, sum(id) AS s FROM cg_src GROUP BY k")),
        Seq(Stage("cg_out", "SELECT c.id, c.k, g.n, g.s, graft_task_loader() AS loader " +
          "FROM cg_src c JOIN cg_keys g ON c.k = g.k"))),
      destination = Some(FileDestination("cg_out", Location(out.toString),
        ParquetDestFormat(Map.empty), singleFile = false)))
    def loaders(): Set[Int] =
      spark.read.parquet(out.toString).select("loader").distinct().collect().map(_.getInt(0)).toSet
    Runner.run(caller, aq, new CollectingTracker)
    val firstLoaders = loaders()
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Runner.run(caller, aq, new CollectingTracker)
    assert(org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount ==
      compiles, "the second run compiled generated code again")
    assert(loaders() == firstLoaders, "the second run's tasks ran under a new class loader")
    firstLoaders
  }

  /** Registers, on `s`, a UDF giving the context class loader each task ran
    * under (one value per row).
    */
  private def registerTaskLoader(s: org.apache.spark.sql.SparkSession): Unit =
    s.udf.register("graft_task_loader", org.apache.spark.sql.functions.udf(() =>
      System.identityHashCode(Thread.currentThread.getContextClassLoader)).asNondeterministic()): Unit

  test("a repeated pipeline compiles no new code and gets no new executor class loader") {
    registerTaskLoader(spark)
    assertCodegenReused(spark, "sessions")
  }

  test("a caller session with artifact isolation on: its pipelines still share the default loader") {
    val isolation = "spark.sql.artifact.isolation.enabled"
    // Spark's default, set before the session's first query fixes its
    // artifact state
    val caller = spark.newSession()
    caller.conf.set(isolation, "true")
    registerTaskLoader(caller)
    val callerLoaders = caller.range(0, 4, 1, 2).selectExpr("graft_task_loader() AS l")
      .collect().map(_.getInt(0)).toSet
    val pipelineLoaders = assertCodegenReused(caller, "isolated")
    assert(callerLoaders.intersect(pipelineLoaders).isEmpty,
      "the caller is not isolated, so this case checks nothing")
    assert(caller.conf.get(isolation) == "true")
  }

  test("concurrent pipelines: each plans under its own policy and the caller keeps its confs") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("runner-iso")
    spark.range(0, 50).selectExpr("id", "id % 5 AS k").write.parquet(dir.resolve("small").toString)
    // an RDD-backed view: Spark cannot size it, so its pipeline takes the large side
    spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 50L).map(i => Row(i, i % 5)), 2),
      StructType(Seq(StructField("id", LongType), StructField("k", LongType))))
      .createOrReplaceTempView("iso_rdd")
    val small = Aqueduct(
      sources = Seq(FileSource("iso_small_src", ParquetFormat(),
        Location(dir.resolve("small").toString))),
      stages = Seq(
        Seq(Stage("iso_small_mid", "SELECT k, id FROM iso_small_src WHERE id > 0")),
        Seq(Stage("iso_small_final",
          "SELECT k, count(*) AS n FROM iso_small_mid GROUP BY k", explain = true))))
    val large = Aqueduct(
      sources = Seq(InMemorySource("iso_rdd")),
      stages = Seq(
        Seq(Stage("iso_large_mid", "SELECT k, id FROM iso_rdd WHERE id > 0")),
        Seq(Stage("iso_large_final",
          "SELECT k, sum(id) AS s FROM iso_large_mid GROUP BY k", explain = true))),
      destination = Some(InMemoryDestination("iso_large_out")))
    // both pipelines hold at their first stage until the other one is there
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    final class Gate extends ProgressTracker {
      val inner = new CollectingTracker
      override def onProgress(e: ProgressEvent): Unit = {
        e match {
          case ProgressEvent.StageStarted(_, 0) =>
            barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
          case _ => ()
        }
        inner.onProgress(e)
      }
      override def onOutput(stage: String, t: OutputType, body: String): Unit =
        inner.onOutput(stage, t, body)
      def explain: String = inner.outputs.find(_._2 == OutputType.Explain).get._3
    }
    val (gs, gl) = (new Gate, new Gate)
    val confBefore = spark.conf.getAll
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val runs = Seq(Future(Runner.run(spark, small, gs)), Future(Runner.run(spark, large, gl)))
    runs.foreach(Await.result(_, 2.minutes))
    try {
      assert(!gs.explain.contains("AdaptiveSparkPlan"), gs.explain)
      assert(gl.explain.contains("AdaptiveSparkPlan"), gl.explain)
      assert(spark.conf.getAll == confBefore)
      Seq("iso_small_src", "iso_small_mid", "iso_large_mid", "iso_large_final")
        .foreach(v => assert(!spark.catalog.tableExists(v), v))
      assert(spark.table("iso_small_final").collect().map(_.getLong(1)).sorted.toSeq ==
        Seq(9L, 10L, 10L, 10L, 10L))
      assert(spark.table("iso_large_out").collect().map(_.getLong(1)).sum == (1L until 50L).sum)
    } finally Seq("iso_rdd", "iso_small_final", "iso_large_out")
      .foreach(spark.catalog.dropTempView)
  }

  test("execution policy: planned input bytes from the views and the Delta log, no job") {
    import org.apache.spark.sql.GraftShims
    import scala.jdk.CollectionConverters._
    val dir = tmpDir("runner-policy")
    spark.range(0, 100, 1, 2).selectExpr("id", "CAST(id AS STRING) AS v")
      .write.parquet(dir.resolve("in").toString)
    val fileBytes = java.nio.file.Files.list(dir.resolve("in")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(java.nio.file.Files.size(_)).sum
    val tbl = Location(dir.resolve("tbl").toString)
    val schema = Seq(Types.FieldSpec("id", org.apache.spark.sql.types.LongType),
      Types.FieldSpec("v", org.apache.spark.sql.types.StringType))
    graft.destinations.DeltaWrite.createIfAbsent(spark, tbl.spark, Types.toStruct(schema))
    graft.destinations.DeltaWrite.append(spark, tbl.spark,
      spark.read.parquet(dir.resolve("in").toString))
    val tableBytes = graft.sources.DeltaLog.snapshot(spark, tbl.spark).files.map(_.size).sum
    val src = FileSource("pol_src", ParquetFormat(), Location(dir.resolve("in").toString))
    def bytes(dest: Option[Destination], sources: Seq[Source] = Seq(src)): Option[BigInt] = {
      val session = GraftShims.cloneSession(spark)
      sources.foreach(graft.sources.Sources.register(session, _))
      val aq = Aqueduct(sources = sources, stages = Seq(Seq(Stage("s", "SELECT 1"))),
        destination = dest)
      val (b, jobs) = countJobs(ExecutionPolicy.plannedInputBytes(session, aq))
      assert(jobs == 0)
      b
    }
    assert(bytes(None) == Some(BigInt(fileBytes)))
    // an upsert reads the table; an append does not
    assert(bytes(Some(ManagedTableDestination("d", tbl, TableUpsert(Seq("id")), schema = schema))) ==
      Some(BigInt(fileBytes + tableBytes)))
    assert(bytes(Some(ManagedTableDestination("d", tbl, TableAppend, schema = schema))) ==
      Some(BigInt(fileBytes)))
    // a view Spark cannot size makes the whole input unknown
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L)), 1),
      org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types.StructField(
        "id", org.apache.spark.sql.types.LongType)))).createOrReplaceTempView("pol_rdd")
    try {
      assert(bytes(None, Seq(src, InMemorySource("pol_rdd"))).isEmpty)
      // the side: small up to the minimum partition size per core, large
      // above it or when the size is unknown
      val cores = spark.sparkContext.defaultParallelism
      def small(minPartition: Long, sources: Seq[Source] = Seq(src)): Boolean = {
        val session = GraftShims.cloneSession(spark,
          Map("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> minPartition.toString))
        sources.foreach(graft.sources.Sources.register(session, _))
        ExecutionPolicy.small(session, Aqueduct(sources = sources, stages = Seq(Seq(Stage("s", "SELECT 1")))))
      }
      assert(small((fileBytes + cores - 1) / cores))
      assert(!small((fileBytes - 1) / cores))
      assert(!small(1L << 40, Seq(src, InMemorySource("pol_rdd"))))
    } finally spark.catalog.dropTempView("pol_rdd")
  }

  /** A pipeline whose stage `<p>_mid` (over `source`, columns id and k) has
    * two consumers in the next group, writing parquet to `out`.
    */
  private def reusePipeline(p: String, source: Source, out: java.nio.file.Path): Aqueduct =
    reusePipeline(p, source, FileDestination(s"${p}_out", Location(out.toString),
      ParquetDestFormat(Map.empty), singleFile = false))

  private def reusePipeline(p: String, source: Source, dest: Destination): Aqueduct = Aqueduct(
    sources = Seq(source),
    stages = Seq(
      Seq(Stage(s"${p}_mid", s"SELECT id, k FROM ${source.name} WHERE id % 2 = 0")),
      Seq(Stage(s"${p}_low", s"SELECT * FROM ${p}_mid WHERE k < 2"),
          Stage(s"${p}_high", s"SELECT * FROM ${p}_mid WHERE k >= 2")),
      Seq(Stage(s"${p}_out", s"SELECT * FROM ${p}_low UNION ALL SELECT * FROM ${p}_high"))),
    destination = Some(dest))

  /** 200 rows (id, k = id % 4) in parquet under `dir`, as a source `name`. */
  private def writeIdK(dir: java.nio.file.Path, name: String): Source = {
    spark.range(0, 200, 1, 2).selectExpr("id", "id % 4 AS k").write.parquet(dir.resolve("in").toString)
    FileSource(name, ParquetFormat(), Location(dir.resolve("in").toString))
  }

  test("small side: a deterministic stage with two consumers is recomputed by each, not cached") {
    val dir = tmpDir("runner-reuse")
    val src = writeIdK(dir, "ru_src")
    // the small side's settings, on a caller whose limit puts the pipeline
    // on the large side: the persisted stage is the one difference
    val large = org.apache.spark.sql.GraftShims.cloneSession(spark, ExecutionPolicy.smallConfs +
      ("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1"))
    def run(caller: org.apache.spark.sql.SparkSession, out: String): (Int, Int, Set[Row]) = {
      val probe = new CacheProbe
      val jobs = countJobs(Runner.run(caller, reusePipeline("ru", src, dir.resolve(out)), probe))._2
      (jobs, probe.cachedAtGroup1, spark.read.parquet(dir.resolve(out).toString).collect().toSet)
    }
    val (lazyJobs, lazyCached, lazyRows) = run(spark, "lazy")
    val (persistedJobs, persistedCached, persistedRows) = run(large, "persisted")
    assert(lazyCached == 0)
    assert(persistedCached == 1)
    assert(persistedJobs == lazyJobs + 1, s"lazy $lazyJobs, persisted $persistedJobs")
    assert(lazyRows.size == 100 && lazyRows == persistedRows)
  }

  test("large side: a cached stage whose readers are all lazy lives until the write reads it") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    val dir = tmpDir("runner-lazy-readers")
    val src = writeIdK(dir, "lz_src")
    val large = org.apache.spark.sql.GraftShims.cloneSession(spark,
      Map("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1"))
    // the pipeline's clone inherits the listener, so it sees the write
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    large.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan): Unit
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    // lz_mid is read by lz_low and lz_high, which stay lazy and run only
    // inside the write of lz_out
    val probe = new CacheProbe
    Runner.run(large, reusePipeline("lz", src, dir.resolve("out")), probe)
    val sourceBytes = localBytesRead() - probe.bytesReadAtGroup1
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    val helper = new AdaptiveSparkPlanHelper {}
    val writes = plans.toArray(Array.empty[SparkPlan]).toSeq
      .filter(p => helper.find(p)(_.isInstanceOf[DataWritingCommandExec]).nonEmpty)
    assert(writes.size == 1, writes.mkString("\n"))
    assert(helper.find(writes.head)(_.isInstanceOf[InMemoryTableScanExec]).nonEmpty,
      writes.head.toString)
    assert(probe.cachedAtGroup1 == 1)
    assert(sourceBytes == 0, s"$sourceBytes source bytes read after lz_mid's count()")
    assert(probe.cachedNow == 0)
    assert(spark.read.parquet(dir.resolve("out").toString).count() == 100)
  }

  test("large side: an in-memory destination does not keep a lazy reader's cache alive") {
    val dir = tmpDir("runner-lazy-mem")
    val src = writeIdK(dir, "lm_src")
    val large = org.apache.spark.sql.GraftShims.cloneSession(spark,
      Map("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1"))
    // the destination only registers a lazy cache, read after the run, so
    // lm_mid's cache has no reader left once the last group is planned
    val probe = new CacheProbe
    val out = Runner.run(large, reusePipeline("lm", src, InMemoryDestination("lm_result")), probe)
    assert(probe.cachedAtGroup1 == 1)
    assert(probe.cachedAtWrite == 0)
    assert(large.table("lm_result").count() == 100)
    assert(out.get.count() == 100)
    large.catalog.uncacheTable("lm_result")
    large.catalog.dropTempView("lm_result")
  }

  test("small side: a nondeterministic stage with two consumers stays cached, one value per row") {
    val dir = tmpDir("runner-rand")
    val src = writeIdK(dir, "rn_src")
    val aq = Aqueduct(
      sources = Seq(src),
      stages = Seq(
        Seq(Stage("rn_mid", s"SELECT id, rand() AS r FROM ${src.name}")),
        Seq(Stage("rn_a", "SELECT id, r FROM rn_mid ORDER BY id", show = Some(0)),
            Stage("rn_b", "SELECT id, r FROM rn_mid WHERE id >= 0 ORDER BY id", show = Some(0))),
        Seq(Stage("rn_out", "SELECT count(*) AS n FROM rn_a JOIN rn_b USING (id)"))))
    val probe = new CacheProbe
    Runner.run(spark, aq, probe)
    try {
      assert(probe.cachedAtGroup1 == 1)
      assert(probe.cachedNow == 0)
      val shown = probe.inner.outputs.filter(_._2 == OutputType.Show)
      assert(shown.map(_._1).toSet == Set("rn_a", "rn_b"))
      assert(shown.map(_._3).distinct.size == 1, shown.mkString("\n"))
    } finally spark.catalog.dropTempView("rn_out")
  }

  test("unknown input size: a reused deterministic stage is still cached") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("runner-reuse-rdd")
    spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 200L).map(i => Row(i, i % 4)), 2),
      StructType(Seq(StructField("id", LongType), StructField("k", LongType))))
      .createOrReplaceTempView("ru_rdd")
    try {
      val probe = new CacheProbe
      Runner.run(spark, reusePipeline("rr", InMemorySource("ru_rdd"), dir.resolve("out")), probe)
      assert(probe.cachedAtGroup1 == 1)
      assert(probe.cachedNow == 0)
      assert(spark.read.parquet(dir.resolve("out").toString).count() == 100)
    } finally spark.catalog.dropTempView("ru_rdd")
  }

  test("unknown input size: a stage named only in a later literal or alias is not cached") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("runner-literal")
    spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 200L).map(i => Row(i, i % 4)), 2),
      StructType(Seq(StructField("id", LongType), StructField("k", LongType))))
      .createOrReplaceTempView("rl_src")
    try {
      val aq = Aqueduct(
        sources = Seq(InMemorySource("rl_src")),
        stages = Seq(
          Seq(Stage("rl_mid", "SELECT id, k FROM rl_src WHERE id % 2 = 0")),
          // rl_mid's one reader is rl_a: rl_b names it in a string literal
          // and a column alias only
          Seq(Stage("rl_a", "SELECT id, k FROM rl_mid WHERE k < 2"),
            Stage("rl_b", "SELECT id, k, 'rl_mid' AS tag, id AS rl_mid FROM rl_src WHERE k = 3")),
          Seq(Stage("rl_out", "SELECT id, k FROM rl_a UNION ALL SELECT id, k FROM rl_b"))),
        destination = Some(FileDestination("rl_out", Location(dir.resolve("out").toString),
          ParquetDestFormat(Map.empty), singleFile = false)))
      val probe = new CacheProbe
      Runner.run(spark, aq, probe)
      assert(probe.cachedAtGroup1 == 0)
      assert(spark.read.parquet(dir.resolve("out").toString).count() == 100)
    } finally spark.catalog.dropTempView("rl_src")
  }
}
