package graft.sources

import graft.SparkSpec
import graft.config._
import java.nio.file.{Files, Path => NioPath, StandardCopyOption}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Differential spec for parquet source registration: the schema a source
  * registers with (read from one footer on the driver) must be exactly what
  * `spark.read.parquet(location).schema` infers, and where registration hands
  * back to Spark's own inference the error must be Spark's own.
  */
class SourcesSpec extends SparkSpec {

  /** The schema, or the error's class and first message line with numbers
    * masked (a failed inference job names its own stage and task ids). */
  private def outcome(df: => DataFrame): Either[(String, String), StructType] =
    try Right(df.schema)
    catch { case e: Exception =>
      Left((e.getClass.getName, e.getMessage.linesIterator.next().replaceAll("[0-9]+", "N")))
    }

  /** `Sources.load(src)` and `spark.read.parquet` agree on `loc`; with
    * `driverSide`, the schema came from the driver-side footer read.
    * @return the schema, None where both raised the same error */
  private def assertLikeSpark(
      src: Source, loc: Location, driverSide: Boolean): Option[StructType] = {
    val ours = outcome(Sources.load(spark, src))
    val spark_ = outcome(spark.read.parquet(loc.spark))
    assert(ours == spark_)
    assert(Sources.parquetSchema(spark, loc.spark).isDefined == driverSide)
    ours.toOption
  }

  private def file(name: String, loc: Location) = FileSource(name, ParquetFormat(), loc)
  private def dir(name: String, loc: Location) = DirSource(name, ParquetFormat(), loc)

  private def partFiles(d: NioPath): Seq[NioPath] =
    Files.list(d).iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.toString)

  /** Writes `df` as one parquet file and copies it to `target`. */
  private def writeOne(df: DataFrame, target: NioPath): NioPath = {
    val staging = tmpDir("src-staging").resolve("out")
    df.coalesce(1).write.parquet(staging.toString)
    Files.createDirectories(target.getParent)
    Files.copy(partFiles(staging).head, target, StandardCopyOption.REPLACE_EXISTING)
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("single-file location and a directory of part files") {
    val d = tmpDir("src-parts").resolve("t")
    spark.range(0, 40, 1, 4).selectExpr("id", "CAST(id AS INT) AS i", "concat('s', id) AS s")
      .write.parquet(d.toString)
    assert(partFiles(d).size == 4)
    val one = Location(partFiles(d).head.toString)
    assert(assertLikeSpark(file("one_file", one), one, driverSide = true).get.fieldNames
      .toSeq == Seq("id", "i", "s"))
    val all = Location(d.toString)
    assertLikeSpark(file("dir_as_file", all), all, driverSide = true)
    assertLikeSpark(dir("dir_as_dir", all), all, driverSide = true)
  }

  test("files with different schemas: the first by sorted path wins, as in Spark") {
    val d = tmpDir("src-mixed").resolve("t")
    writeOne(spark.range(3).selectExpr("id", "'x' AS a"), d.resolve("part-1.parquet"))
    writeOne(spark.range(3).selectExpr("CAST(id AS INT) AS k", "id * 2.5 AS b"),
      d.resolve("part-0.parquet"))
    val loc = Location(d.toString)
    val s = assertLikeSpark(dir("mixed", loc), loc, driverSide = true).get
    assert(s.fieldNames.toSeq == Seq("k", "b"))
    // hidden and underscore files are not data: Spark's listing filter applies
    writeOne(spark.range(3).selectExpr("'h' AS hidden"), d.resolve("_aaa.parquet"))
    writeOne(spark.range(3).selectExpr("'h' AS hidden"), d.resolve(".aaa.parquet"))
    assert(assertLikeSpark(dir("mixed2", loc), loc, driverSide = true).contains(s))
  }

  test("a _common_metadata summary is preferred over _metadata and data files") {
    val d = tmpDir("src-summary").resolve("t")
    writeOne(spark.range(3).selectExpr("id", "'x' AS a"), d.resolve("part-0.parquet"))
    writeOne(spark.range(3).selectExpr("id", "'x' AS a", "1.5D AS from_metadata"),
      d.resolve("_metadata"))
    val loc = Location(d.toString)
    assert(assertLikeSpark(dir("meta", loc), loc, driverSide = true).get.fieldNames.toSeq ==
      Seq("id", "a", "from_metadata"))
    writeOne(spark.range(3).selectExpr("id", "'x' AS a", "true AS from_common"),
      d.resolve("_common_metadata"))
    assert(assertLikeSpark(dir("common", loc), loc, driverSide = true).get.fieldNames.toSeq ==
      Seq("id", "a", "from_common"))
  }

  test("hive-partitioned directory, with and without declared partition types") {
    val d = tmpDir("src-hive").resolve("t")
    spark.range(24).selectExpr("id", "CAST(2020 + id % 3 AS INT) AS year",
        "IF(id % 2 = 0, 'eu', 'us') AS region", "DATE'2024-01-01' + CAST(id % 2 AS INT) AS day")
      .write.partitionBy("year", "region", "day").parquet(d.toString)
    val loc = Location(d.toString)
    val s = assertLikeSpark(dir("hive", loc), loc, driverSide = true).get
    assert(s.fieldNames.toSeq == Seq("id", "year", "region", "day"))
    assert(s("year").dataType == IntegerType && s("day").dataType == DateType)

    val declared = Seq("year" -> LongType, "region" -> StringType)
    val typed = Sources.load(spark, DirSource("hive_typed", ParquetFormat(), loc, declared))
    val expected = declared.foldLeft(spark.read.parquet(loc.spark)) { case (df, (n, t)) =>
      df.withColumn(n, col(n).cast(t))
    }
    assert(typed.schema == expected.schema)
    assert(typed.orderBy("id").collect().toSeq == expected.orderBy("id").collect().toSeq)

    // data files that also carry a partition column's name: a declared
    // schema would retype that column, so Spark infers it
    val o = tmpDir("src-hive-overlap").resolve("t")
    writeOne(spark.range(3).selectExpr("id", "'inner' AS year"),
      o.resolve("year=2024/part-0.parquet"))
    val oLoc = Location(o.toString)
    assertLikeSpark(dir("overlap", oLoc), oLoc, driverSide = false)
  }

  test("Spark-written nested, decimal, binary and timestamp columns") {
    val d = tmpDir("src-types").resolve("t")
    spark.sql("""
      SELECT id,
        named_struct('a', id, 'b', named_struct('c', concat('x', id))) AS st,
        array(id, id + 1) AS arr,
        array(named_struct('k', id)) AS arr_st,
        map(concat('k', id), CAST(id AS DOUBLE)) AS m,
        CAST(id / 7 AS DECIMAL(12, 3)) AS dec,
        CAST(id AS DECIMAL(30, 2)) AS wide_dec,
        encode(concat('b', id), 'UTF-8') AS bin,
        TIMESTAMP'2024-03-01 12:00:00' AS ts,
        TIMESTAMP_NTZ'2024-03-01 12:00:00' AS ts_ntz,
        DATE'2024-03-01' AS dt
      FROM range(10)""").write.parquet(d.toString)
    val loc = Location(d.toString)
    val s = assertLikeSpark(dir("types", loc), loc, driverSide = true).get
    assert(s("ts_ntz").dataType == TimestampNTZType && s("dec").dataType == DecimalType(12, 3))
  }

  test("session flags reach the footer conversion as they reach Spark's") {
    // a footer without Spark's own schema key, so the converter decides types
    val d = tmpDir("src-raw").resolve("t")
    Files.createDirectories(d)
    val msg = MessageTypeParser.parseMessageType("""
      message m {
        required int32 id;
        optional binary raw;
        optional int96 t96;
        optional int64 tn (TIMESTAMP(NANOS,true));
        optional int64 tntz (TIMESTAMP(MICROS,false));
      }""")
    val c = new Configuration()
    GroupWriteSupport.setSchema(msg, c)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(d.resolve("part-0.parquet").toUri), c)).withConf(c).build()
    try w.write(new SimpleGroupFactory(msg).newGroup().append("id", 1)) finally w.close()
    val loc = Location(d.toString)
    val base = assertLikeSpark(dir("raw", loc), loc, driverSide = true).get
    assert(base("raw").dataType == BinaryType && base("tn").dataType == LongType &&
      base("t96").dataType == TimestampType && base("tntz").dataType == TimestampNTZType)

    withConf("spark.sql.parquet.binaryAsString", "true") {
      assert(assertLikeSpark(dir("raw_s", loc), loc, driverSide = true).get("raw").dataType ==
        StringType)
    }
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "false") {
      assert(assertLikeSpark(dir("raw_ntz", loc), loc, driverSide = true).get("tntz").dataType ==
        TimestampType)
    }
    // both make the conversion fail: Spark's inference runs and raises its error
    withConf("spark.sql.parquet.int96AsTimestamp", "false") {
      assert(assertLikeSpark(dir("raw_96", loc), loc, driverSide = false).isEmpty)
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
      assert(assertLikeSpark(dir("raw_ns", loc), loc, driverSide = false).isEmpty)
    }
  }

  test("merging, globs, missing paths and empty directories keep Spark's behaviour") {
    val d = tmpDir("src-fallback").resolve("t")
    writeOne(spark.range(3).selectExpr("id", "'x' AS a"), d.resolve("part-0.parquet"))
    writeOne(spark.range(3).selectExpr("id", "2.5D AS b"), d.resolve("part-1.parquet"))
    val loc = Location(d.toString)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(assertLikeSpark(dir("merged", loc), loc, driverSide = false).get.fieldNames.toSeq ==
        Seq("id", "a", "b"))
      writeOne(spark.range(3).selectExpr("'not a long' AS id"), d.resolve("part-2.parquet"))
      assert(assertLikeSpark(dir("merge_fail", loc), loc, driverSide = false).isEmpty)
    }

    val glob = Location(d.toString + "/part-*.parquet")
    assert(assertLikeSpark(file("glob", glob), glob, driverSide = false).get.fieldNames.toSeq ==
      Seq("id", "a"))
    val noMatch = Location(d.toString + "/nothing-*.parquet")
    assert(assertLikeSpark(file("glob_none", noMatch), noMatch, driverSide = false).isEmpty)

    val missing = Location(d.toString + "/missing.parquet")
    assert(assertLikeSpark(file("missing", missing), missing, driverSide = false).isEmpty)
    val empty = Location(Files.createDirectories(d.resolveSibling("empty")).toString)
    assert(assertLikeSpark(dir("empty", empty), empty, driverSide = false).isEmpty)

    val corrupt = d.resolveSibling("corrupt")
    Files.createDirectories(corrupt)
    Files.writeString(corrupt.resolve("part-0.parquet"), "not parquet")
    val corruptLoc = Location(corrupt.toString)
    assert(assertLikeSpark(dir("corrupt", corruptLoc), corruptLoc, driverSide = false).isEmpty)
  }

  test("a bare path with a bracket or brace glob reads the files it names") {
    val d = tmpDir("src-brackets").resolve("t")
    (0 to 2).foreach(i =>
      writeOne(spark.range(i * 10L, i * 10L + 3).toDF("id"), d.resolve(s"part-$i.parquet")))
    def ids(src: Source): Seq[Long] =
      Sources.load(spark, src).collect().map(_.getLong(0)).sorted.toSeq
    val brackets = Location(d.toString + "/part-[01].parquet")
    assert(brackets.spark.endsWith("/part-[01].parquet"), brackets.spark)
    assert(assertLikeSpark(file("brackets", brackets), brackets, driverSide = false).get
      .fieldNames.toSeq == Seq("id"))
    assert(ids(file("brackets", brackets)) == Seq(0L, 1L, 2L, 10L, 11L, 12L))
    val braces = Location(d.toString + "/part-{0,2}.parquet")
    assert(braces.spark.endsWith("/part-{0,2}.parquet"), braces.spark)
    assert(ids(file("braces", braces)) == Seq(0L, 1L, 2L, 20L, 21L, 22L))
  }
}

