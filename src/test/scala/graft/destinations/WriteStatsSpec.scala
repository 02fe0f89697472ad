package graft.destinations

import graft.SparkSpec
import graft.sources.{DeltaLog, IcebergRead}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftShims, Row, SparkSession}
import org.apache.spark.sql.types._

/** Pins the per-file stats the write tasks collect ([[FileStatsTracker]])
  * to the read-back scans they replaced: the stats JSON a Delta commit
  * logs must be byte-equal to what [[DeltaWrite.computeStats]] computes
  * over the same files, whatever the column types, values, row groups and
  * layout. And a commit runs no stats job of its own, whatever its size or
  * column types.
  */
class WriteStatsSpec extends SparkSpec {

  private def addsOf(table: String): Seq[DeltaLog.AddFile] =
    DeltaLog.snapshot(spark, table).files

  /** The logged stats of every live file next to the scan's, by path. */
  private def loggedAndScanned(table: String, dataSchema: StructType)
      : (Map[String, String], Map[String, String]) = {
    val adds = addsOf(table)
    val descriptors = adds.map(a => DeltaWrite.AddDescriptor(
      DeltaLog.decodePath(a.path),
      a.partitionValues.toSeq.sortBy(_._1).map { case (k, v) => k -> Option(v) },
      a.size, a.modificationTime))
    (adds.map(a => DeltaLog.decodePath(a.path) -> a.stats.get).toMap,
      DeltaWrite.computeStats(spark, new Path(table), descriptors, dataSchema))
  }

  private def assertByteEqual(table: String, dataSchema: StructType): Unit = {
    val (logged, scanned) = loggedAndScanned(table, dataSchema)
    assert(logged.nonEmpty)
    assert(logged.keySet === scanned.keySet)
    logged.foreach { case (rel, json) => assert(json === scanned(rel), s"stats diverge for $rel") }
  }

  private val mixedSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("i", IntegerType),
    StructField("name", StringType),
    StructField("x", DoubleType),
    StructField("f", FloatType),
    StructField("dec", DecimalType(8, 2)),
    StructField("big", DecimalType(30, 5)),
    StructField("d", DateType),
    StructField("ts", TimestampType),
    StructField("ntz", TimestampNTZType),
    StructField("flag", BooleanType),
    StructField("allnull", StringType)))

  /** `n` generated rows over every stats-eligible type: NaN, ±Infinity and
    * -0.0 doubles and floats, strings past the 32-char prefix (non-ASCII
    * and supplementary characters too), decimals at both precisions, dates
    * before the 1582 Gregorian cutover, timestamps, timestamp_ntz, booleans,
    * nulls in every column and one all-null column.
    */
  private def mixedRows(n: Int, seed: Long): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    val doubles = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0d, 0.0d)
    val strings = Seq("z" * 40, "héllo→𐍈" + ("y" * 30), "", "alpha", "a" * 32, "a" * 33)
    val dates = Seq("1500-01-01", "1582-10-04", "1582-10-15", "1969-12-31", "2031-08-17")
    (0 until n).map { k =>
      def orNull[A](a: => A): Any = if (rnd.nextInt(9) == 0) null else a
      Row(k.toLong,
        orNull(rnd.nextInt(2000) - 1000),
        orNull(if (rnd.nextBoolean()) strings(rnd.nextInt(strings.size)) else s"s-${rnd.nextInt(500)}"),
        orNull(if (rnd.nextInt(5) == 0) doubles(rnd.nextInt(doubles.size)) else rnd.nextGaussian()),
        orNull(if (rnd.nextInt(5) == 0) doubles(rnd.nextInt(doubles.size)).toFloat else rnd.nextFloat()),
        orNull(java.math.BigDecimal.valueOf(rnd.nextInt(2000000) - 1000000L, 2)),
        orNull(new java.math.BigDecimal(new java.math.BigInteger(90, rnd.self), 5)
          .multiply(java.math.BigDecimal.valueOf(if (rnd.nextBoolean()) 1L else -1L))),
        orNull(java.sql.Date.valueOf(if (rnd.nextInt(4) == 0) dates(rnd.nextInt(dates.size))
          else java.time.LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(900).toLong).toString)),
        orNull(java.sql.Timestamp.from(java.time.Instant.parse("2024-01-05T00:00:00Z")
          .plusNanos(rnd.nextLong() % 100000000000000000L / 1000L * 1000L))),
        orNull(java.time.LocalDateTime.of(1900 + rnd.nextInt(200), 1 + rnd.nextInt(12),
          1 + rnd.nextInt(28), rnd.nextInt(24), rnd.nextInt(60), rnd.nextInt(60),
          rnd.nextInt(1000000) * 1000)),
        orNull(rnd.nextBoolean()),
        null)
    }
  }

  private def frame(s: SparkSession, rows: Seq[Row], schema: StructType, slices: Int): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(rows, slices), schema)

  test("write-task stats are byte-equal to the scan over generated files") {
    val t = tmpDir("ws-mixed").resolve("t").toString
    DeltaWrite.createIfAbsent(spark, t, mixedSchema)
    DeltaWrite.append(spark, t, frame(spark, mixedRows(400, 1L), mixedSchema, 3))
    // a tiny row-group size: several row groups per file
    val grouped = GraftShims.cloneSession(spark, Map("parquet.block.size" -> "4096"))
    DeltaWrite.append(grouped, t, frame(grouped, mixedRows(3000, 2L), mixedSchema, 2))
    assertByteEqual(t, mixedSchema)
    val conf = spark.sessionState.newHadoopConf()
    val rowGroups = addsOf(t).map { a =>
      val r = LocalIo.openParquet(new Path(new Path(t), DeltaLog.decodePath(a.path)), conf)
      try r.getFooter.getBlocks.size finally r.close()
    }
    assert(rowGroups.max > 1, s"row groups per file: $rowGroups")
    // the truncated bounds and null counts really are there
    val one = addsOf(t).flatMap(_.stats).head
    assert(one.contains("\"nullCount\"") && one.contains("\"allnull\":") && one.contains("￿"))
  }

  test("an empty part file is not committed; the rest keep scan-equal stats") {
    val t = tmpDir("ws-empty").resolve("t").toString
    DeltaWrite.createIfAbsent(spark, t, mixedSchema)
    // three slices over two rows: the first task writes a schema-only file
    DeltaWrite.append(spark, t, frame(spark, mixedRows(2, 3L), mixedSchema, 3))
    assert(addsOf(t).size == 2)
    assert(addsOf(t).forall(a => a.stats.exists(_.startsWith("{\"numRecords\":1,"))))
    assertByteEqual(t, mixedSchema)
    assert(DeltaLog.read(spark, t).count() == 2)
  }

  test("partitioned write: special-character partition values, data-column stats scan-equal") {
    import spark.implicits._
    val t = tmpDir("ws-part").resolve("t").toString
    val values = Seq("a+b", "x%y", "p q", "s/l", "k=v", "c:d", null)
    val df = (1L to 140L).map(i => (i, values((i % values.size).toInt), i * 1.5, s"name-$i" * (i % 5).toInt))
      .toDF("id", "g", "v", "nm")
    DeltaWrite.createIfAbsent(spark, t, df.schema, partitionBy = Seq("g"))
    DeltaWrite.append(spark, t, df.repartition(3))
    assertByteEqual(t, StructType(df.schema.fields.filterNot(_.name == "g")))
    assert(addsOf(t).map(_.partitionValues("g")).toSet == values.toSet)
    val back = DeltaLog.read(spark, t).groupBy("g").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(back == values.map(v => Option(v) -> 20L).toMap)
  }

  /** SQL executions and jobs `op` runs. */
  private def counted(op: => Unit): (Int, Int) = {
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
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      op
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    (executions.get, jobs.get)
  }

  test("a Delta append to a timestamp table runs no job beyond the write") {
    import spark.implicits._
    val dir = tmpDir("ws-jobs-ts")
    def appended(df: DataFrame, name: String): (Int, Int) = {
      val t = dir.resolve(name).toString
      DeltaWrite.createIfAbsent(spark, t, df.schema)
      DeltaWrite.append(spark, t, df) // first commit: warm
      counted(DeltaWrite.append(spark, t, df))
    }
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val withTs = appended(Seq((1L, ts), (2L, ts)).toDF("id", "ts"), "ts")
    val plain = appended(Seq((1L, 7L), (2L, 8L)).toDF("id", "n"), "plain")
    assert(withTs == plain, s"timestamp table $withTs, plain table $plain")
  }

  test("64-file Delta and Iceberg commits run no stats job") {
    import spark.implicits._
    val dir = tmpDir("ws-jobs-64")
    val df = (1L to 640L).map(i => (i, s"v$i")).toDF("id", "v")
    def files(n: Int) = df.repartition(n)
    val deltaT = dir.resolve("delta").toString
    DeltaWrite.createIfAbsent(spark, deltaT, df.schema)
    val delta1 = counted(DeltaWrite.append(spark, deltaT, files(1)))
    val delta64 = counted(DeltaWrite.append(spark, deltaT, files(64)))
    assert(addsOf(deltaT).size == 65)
    assert(delta64 == delta1, s"64 files $delta64, one file $delta1")
    val iceT = dir.resolve("iceberg").toString
    IcebergWrite.create(spark, iceT, df.schema)
    val ice1 = counted(IcebergWrite.append(spark, iceT, files(1)))
    val ice64 = counted(IcebergWrite.append(spark, iceT, files(64)))
    assert(IcebergRead.files(spark, iceT).count() == 65)
    assert(ice64 == ice1, s"64 files $ice64, one file $ice1")
  }
}
