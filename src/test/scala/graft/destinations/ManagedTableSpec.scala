package graft.destinations

import graft.SparkSpec
import graft.config._
import graft.sources.{DeltaLog, Sources}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Golden semantics of the `type: delta` route, ported from the reference
  * delta integration suite (aqueducts/delta/tests/integration.rs:36-349).
  * A `ManagedTableDestination` is prepared (created if absent) and written
  * through [[Destinations]]; a `ManagedTableSource` reads it back through
  * [[Sources.load]]. Covered: create/append/read-back, keyed upsert (incl.
  * null-safe and list-set-equality keys), predicate replace, time travel,
  * append without rewriting existing files, and the maintenance ops these
  * Delta tables get.
  */
class ManagedTableSpec extends SparkSpec {
  import spark.implicits._

  private val schema = Seq(
    Types.FieldSpec("id", LongType, nullable = false),
    Types.FieldSpec("name", StringType),
    Types.FieldSpec("value", DoubleType))

  private def newTable(prefix: String, fields: Seq[Types.FieldSpec] = schema,
      partitionColumns: Seq[String] = Nil): ManagedTableDestination = {
    val d = ManagedTableDestination(prefix.replace('-', '_'),
      Location(tmpDir(prefix).resolve("tbl").toString), TableAppend,
      partitionColumns = partitionColumns, tableProperties = Map("owner" -> "test"),
      schema = fields)
    Destinations.prepare(spark, d)
    d
  }

  private def append(d: ManagedTableDestination, df: DataFrame): Unit =
    Destinations.write(spark, d, df)

  private def upsert(d: ManagedTableDestination, df: DataFrame, keys: String*): Unit =
    Destinations.write(spark, d.copy(writeMode = TableUpsert(keys)), df)

  private def replace(d: ManagedTableDestination, df: DataFrame, conds: ReplaceCondition*): Unit =
    Destinations.write(spark, d.copy(writeMode = TableReplace(conds)), df)

  private def read(d: ManagedTableDestination, version: Option[Long] = None,
      timestamp: Option[java.time.Instant] = None): DataFrame =
    Sources.load(spark, ManagedTableSource(d.name, d.location, version, timestamp))

  private def path(d: ManagedTableDestination): String = d.location.spark

  /** Live data files of the latest (or given) version, table-relative. */
  private def files(d: ManagedTableDestination, version: Option[Long] = None): Set[String] =
    DeltaLog.snapshot(spark, path(d), versionAsOf = version).files.map(_.path).toSet

  test("create is idempotent; empty table reads back with declared schema") {
    val d = newTable("mt-create")
    Destinations.prepare(spark, d) // second call: no-op
    val df = read(d)
    assert(df.count() == 0)
    assert(df.schema.fieldNames.toSeq == Seq("id", "name", "value"))
    val snap = DeltaLog.snapshot(spark, path(d))
    assert(snap.version == 0L)
    assert(snap.configuration.get("owner").contains("test"))
  }

  test("append casts to schema, adds files without rewriting existing ones") {
    val d = newTable("mt-append")
    // ints + missing nullable column: cast/cast-null semantics (delta lib.rs:331-362)
    append(d, Seq((1, "a"), (2, "b")).toDF("id", "name"))
    val v1Files = files(d)
    append(d, Seq((3, "c", 3.5)).toDF("id", "name", "value"))
    assert(v1Files.subsetOf(files(d)), "append must not rewrite existing data files")
    val rows = read(d).orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows(0).isNullAt(2) && rows(2).getDouble(2) == 3.5)
  }

  test("concurrent appends: losers rebase and retry, no rows or files lost") {
    val d = newTable("mt-race")
    val writers = 6
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val futures = (1 to writers).map { w =>
      scala.concurrent.Future {
        append(d, Seq((w.toLong, s"writer$w", w * 1.0)).toDF("id", "name", "value"))
      }
    }
    import scala.concurrent.duration._
    scala.concurrent.Await.result(scala.concurrent.Future.sequence(futures), 120.seconds)
    // every writer committed exactly one version beyond the create
    assert(DeltaLog.snapshot(spark, path(d)).version == writers.toLong)
    val ids = read(d).select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (1L to writers.toLong)) // no lost appends, no duplicates
    // the final version carries every earlier version's files
    val last = files(d)
    assert((1L until writers.toLong).forall(v => files(d, Some(v)).subsetOf(last)))
  }

  test("append fails when a non-nullable column is missing") {
    val d = newTable("mt-nonnull")
    assertThrows[IllegalArgumentException](
      append(d, Seq(("x", 1.0)).toDF("name", "value")))
  }

  test("upsert: matched keys updated, unmatched inserted (delta integration.rs:189-272)") {
    val d = newTable("mt-upsert")
    append(d, Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("id", "name", "value"))
    upsert(d, Seq((2L, "b2", 20.0), (4L, "d", 4.0)).toDF("id", "name", "value"), "id")
    val rows = read(d).orderBy("id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "a", 1.0), (2L, "b2", 20.0), (3L, "c", 3.0), (4L, "d", 4.0)))
  }

  test("upsert key equality is null-safe (<=> semantics, delta lib.rs:279-284)") {
    val d = newTable("mt-nullkey",
      Seq(Types.FieldSpec("k", StringType), Types.FieldSpec("v", LongType)))
    append(d, Seq((Some("a"), 1L), (None, 2L)).toDF("k", "v"))
    // a null key must MATCH the existing null-key row, not duplicate it
    upsert(d, Seq((Option.empty[String], 20L)).toDF("k", "v"), "k")
    val rows = read(d).orderBy(col("v")).collect()
    assert(rows.length == 2)
    assert(rows.find(_.isNullAt(0)).get.getLong(1) == 20L)
  }

  test("upsert list keys: order-insensitive set equality incl. empty/null (delta lib.rs:266-278)") {
    val d = newTable("mt-listkey",
      Seq(Types.FieldSpec("tags", ArrayType(StringType)), Types.FieldSpec("v", LongType)))
    append(d, Seq(
      (Seq("x", "y"), 1L),
      (Seq.empty[String], 2L),
      (null.asInstanceOf[Seq[String]], 3L)).toDF("tags", "v"))
    // ["y","x"] is the same set as ["x","y"]; [] matches []; null matches null
    upsert(d, Seq(
      (Seq("y", "x"), 10L),
      (Seq.empty[String], 20L),
      (null.asInstanceOf[Seq[String]], 30L)).toDF("tags", "v"), "tags")
    val rows = read(d).orderBy(col("v")).collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(10L, 20L, 30L))
  }

  test("upsert rewrites only touched files (file-level pruning)") {
    val d = newTable("mt-prune")
    // two appends → disjoint file sets
    append(d, Seq((1L, "a", 1.0)).toDF("id", "name", "value"))
    val afterFirst = files(d)
    append(d, Seq((2L, "b", 2.0)).toDF("id", "name", "value"))
    val secondOnly = files(d) -- afterFirst
    // upsert touching only id=2 must keep the id=1 file(s) byte-identical
    upsert(d, Seq((2L, "b2", 20.0)).toDF("id", "name", "value"), "id")
    val finalFiles = files(d)
    assert(afterFirst.subsetOf(finalFiles), "untouched files must survive the upsert")
    assert(secondOnly.intersect(finalFiles).isEmpty, "touched files must be replaced")
  }

  test("replace: predicate-scoped delete + insert (delta integration.rs:274-349)") {
    val d = newTable("mt-replace",
      Seq(Types.FieldSpec("region", StringType), Types.FieldSpec("v", LongType)))
    append(d, Seq(("eu", 1L), ("eu", 2L), ("us", 3L)).toDF("region", "v"))
    replace(d, Seq(("eu", 10L)).toDF("region", "v"), ReplaceCondition("region", "eu"))
    val rows = read(d).orderBy("v").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("us", 3L), ("eu", 10L)))
  }

  test("replace with empty predicate = full overwrite (delta lib.rs:365-375)") {
    val d = newTable("mt-overwrite")
    append(d, Seq((1L, "a", 1.0)).toDF("id", "name", "value"))
    replace(d, Seq((9L, "z", 9.0)).toDF("id", "name", "value"))
    val rows = read(d).collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 9L)
  }

  test("time travel: by version and by timestamp (delta lib.rs:45-74)") {
    val d = newTable("mt-travel")
    append(d, Seq((1L, "a", 1.0)).toDF("id", "name", "value"))
    val tsAfterV1 = java.time.Instant.now()
    Thread.sleep(20)
    append(d, Seq((2L, "b", 2.0)).toDF("id", "name", "value"))
    assert(read(d, version = Some(0)).count() == 0)
    assert(read(d, version = Some(1)).count() == 1)
    assert(read(d).count() == 2)
    assert(read(d, timestamp = Some(tsAfterV1)).count() == 1)
    assertThrows[IllegalArgumentException](read(d, version = Some(99)))
  }

  test("history lists commits; vacuum prunes old versions and orphaned files") {
    val d = newTable("mt-vacuum")
    append(d, Seq((1L, "a", 1.0)).toDF("id", "name", "value"))
    val v1Files = files(d)
    // upsert rewrites the only data file → v1's file becomes tombstoned history
    upsert(d, Seq((1L, "a2", 2.0)).toDF("id", "name", "value"), "id")
    val hist = DeltaWrite.history(spark, path(d)).orderBy("version").collect()
    assert(hist.map(_.getAs[String]("operation")).toSeq == Seq("CREATE TABLE", "WRITE", "MERGE"))
    // inside the retention window nothing is deleted
    assert(DeltaWrite.vacuum(spark, path(d)) == 0)
    val removed = DeltaWrite.vacuum(spark, path(d), retainMs = 0L)
    assert(removed == v1Files.size) // the rewritten v1 file
    v1Files.foreach(f => assert(!java.nio.file.Files.exists(d.location.path.resolve(f))))
    // latest state still fully readable after vacuum
    val rows = read(d).collect()
    assert(rows.length == 1 && rows.head.getString(1) == "a2")
  }

  test("vacuum sweeps unreferenced orphan data files past the grace window") {
    val d = newTable("mt-orphan")
    append(d, Seq((1L, "a", 1.0)).toDF("id", "name", "value"))
    // simulate a crashed writer: a data file no commit references
    val root = new org.apache.hadoop.fs.Path(path(d))
    val orphan = new org.apache.hadoop.fs.Path(root, "part-orphan-crashed.parquet")
    Seq((9L, "x", 9.0)).toDF("id", "name", "value").coalesce(1)
      .write.mode("overwrite").parquet(root.toString + "/_tmp-orphan")
    val f = orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = f.listStatus(new org.apache.hadoop.fs.Path(root, "_tmp-orphan"))
      .find(_.getPath.getName.endsWith(".parquet")).get.getPath
    f.rename(part, orphan)
    f.delete(new org.apache.hadoop.fs.Path(root, "_tmp-orphan"), true)
    // inside the grace window: untouched (could be an in-flight writer)
    assert(DeltaWrite.vacuum(spark, path(d)) == 0)
    assert(f.exists(orphan))
    // past the grace window: swept, table contents unchanged
    assert(DeltaWrite.vacuum(spark, path(d), retainMs = 0L) == 1)
    assert(!f.exists(orphan))
    assert(read(d).count() == 1)
  }

  test("compact bin-packs small files into one, same data, new version") {
    val d = newTable("mt-compact")
    // 4 appends, each repartitioned to 3 → 12 tiny files
    (1 to 4).foreach { i =>
      append(d, (1 to 6).map(j => (i * 100L + j, s"r$i-$j", j.toDouble))
        .toDF("id", "name", "value").repartition(3))
    }
    assert(files(d).size == 12)
    val expected = read(d).orderBy("id").collect().toSeq

    val v = DeltaWrite.compact(spark, path(d)) // everything under 64 MB → one file
    assert(DeltaLog.snapshot(spark, path(d)).version == v)
    assert(files(d).size == 1, files(d))
    assert(read(d).orderBy("id").collect().toSeq == expected)
    // compaction again is a no-op (nothing left to pack)
    assert(DeltaWrite.compact(spark, path(d)) == v)
    // old small files remain referenced by history until vacuumed
    assert(read(d, version = Some(v - 1)).count() == 24)
  }

  test("partitioned table: writes hive layout, reads partition column back") {
    val d = newTable("mt-hive",
      Seq(Types.FieldSpec("id", LongType), Types.FieldSpec("year", IntegerType)),
      partitionColumns = Seq("year"))
    append(d, Seq((1L, 2024), (2L, 2025)).toDF("id", "year"))
    assert(files(d).forall(f => f.contains("year=")))
    val rows = read(d).orderBy("id").collect()
    assert(rows.map(_.getInt(1)).toSeq == Seq(2024, 2025))
  }
}
