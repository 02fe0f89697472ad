package graft.destinations

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.sources.IcebergRead

import org.apache.avro.generic.GenericRecord

import scala.jdk.CollectionConverters._

/** Native Iceberg v2 destination ([[IcebergWrite]]): create + multi-append
  * through the Iceberg metadata itself, partition handling (incl. null
  * partitions), time travel over appended snapshots, field-id resolution
  * of the written files, and the Delta-desync refusal.
  */
class IcebergWriteSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType),
    StructField("p", StringType)))

  private def rows(data: (Long, String, String)*) = {
    import spark.implicits._
    data.toDF("id", "v", "p")
  }

  test("create + two appends: snapshots accumulate, reader sees all rows, time travel works") {
    val t = tmpDir("icew-basic").resolve("t").toString
    IcebergWrite.create(spark, t, schema)
    // empty table reads as a schema-true empty frame
    val empty = IcebergRead.read(spark, t)
    assert(empty.schema.fieldNames.toSeq == Seq("id", "v", "p"))
    assert(empty.count() == 0L)
    val snap1 = IcebergWrite.append(spark, t, rows((1, "a", "x"), (2, "b", "y")))
    IcebergWrite.append(spark, t, rows((3, "c", "x")))
    val all = IcebergRead.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(all == Set((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x")))
    // first snapshot still readable (the carried manifest list)
    val s1 = IcebergRead.read(spark, t,
      IcebergRead.Options(snapshotId = Some(snap1))).collect()
      .map(_.getLong(0)).toSet
    assert(s1 == Set(1L, 2L))
  }

  test("identity-partitioned appends: manifest partition tuples typed, nulls handled") {
    val t = tmpDir("icew-part").resolve("t").toString
    IcebergWrite.create(spark, t, schema, partitionBy = Seq("p"))
    IcebergWrite.append(spark, t, rows((1, "a", "x"), (2, "b", "y")))
    IcebergWrite.append(spark, t,
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(3L, "c", null)), 1), schema))
    val back = IcebergRead.read(spark, t).collect()
      .map(r => (r.getLong(0), Option(r.getString(2)))).toSet
    assert(back == Set((1L, Some("x")), (2L, Some("y")), (3L, None)))
    // partition pruning data intact under a filter
    assert(IcebergRead.read(spark, t).filter("p = 'x'").count() == 1L)
  }

  test("equality delete: metadata-only, null-safe, applies only to PRIOR sequence numbers") {
    import spark.implicits._
    val t = tmpDir("icew-eqdel").resolve("t").toString
    IcebergWrite.create(spark, t, schema)
    IcebergWrite.append(spark, t,
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(1L, "a", "x"), Row(2L, "b", "y"), Row(3L, "c", null)), 1), schema))
    def parquetFiles(): Set[String] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(t, "data"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
    val dataFilesBefore = parquetFiles()
    // delete every row whose p is 'y' OR null (null matches null, per spec)
    IcebergWrite.deleteWhere(spark, t,
      Seq(Option("y"), Option.empty[String]).toDF("p"))
    assert(IcebergRead.read(spark, t).select("id").collect()
      .map(_.getLong(0)).toSet == Set(1L))
    // metadata-only: the original data files are untouched, one
    // equality-delete file was added
    val after = parquetFiles()
    assert(dataFilesBefore.subsetOf(after), s"$dataFilesBefore vs $after")
    assert((after -- dataFilesBefore).sizeIs == 1, s"$dataFilesBefore vs $after")
    // sequence rule: a LATER append of p='y' is untouched by the old delete
    IcebergWrite.append(spark, t, rows((4, "d", "y")))
    assert(IcebergRead.read(spark, t).select("id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 4L))
  }

  test("expireSnapshots: old snapshots drop, their lists delete, current stays readable") {
    val t = tmpDir("icew-expire").resolve("t").toString
    IcebergWrite.create(spark, t, schema)
    val snap1 = IcebergWrite.append(spark, t, rows((1, "a", "x")))
    IcebergWrite.append(spark, t, rows((2, "b", "y")))
    val listsBefore = java.nio.file.Files.list(java.nio.file.Paths.get(t, "metadata"))
      .iterator().asScala.count(_.getFileName.toString.startsWith("snap-"))
    assert(listsBefore == 2)
    // expire everything older than now: snapshot 1 goes, current survives
    val n = IcebergWrite.expireSnapshots(spark, t, System.currentTimeMillis() + 1)
    assert(n == 1)
    val listsAfter = java.nio.file.Files.list(java.nio.file.Paths.get(t, "metadata"))
      .iterator().asScala.count(_.getFileName.toString.startsWith("snap-"))
    assert(listsAfter == 1, "expired manifest list must be deleted")
    // current state intact (cumulative manifests keep all data reachable)
    assert(IcebergRead.read(spark, t).select("id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
    // time travel to the expired snapshot refuses
    intercept[IllegalArgumentException] {
      IcebergRead.read(spark, t, IcebergRead.Options(snapshotId = Some(snap1)))
    }
    // idempotent: nothing more to expire
    assert(IcebergWrite.expireSnapshots(spark, t, System.currentTimeMillis() + 1) == 0)
  }

  test("appending to a Delta-backed (UniForm-exported) table refuses loudly") {
    val t = tmpDir("icew-delta").resolve("t").toString
    DeltaWrite.createIfAbsent(spark, t, schema)
    import spark.implicits._
    DeltaWrite.append(spark, t, Seq((1L, "a", "x")).toDF("id", "v", "p"))
    IcebergExport.export(spark, t)
    val e = intercept[IllegalArgumentException](
      IcebergWrite.append(spark, t, rows((2, "b", "y"))))
    assert(e.getMessage.contains("desync"), e.getMessage)
    // maintenance is refused too: the Iceberg metadata mirrors only the
    // CURRENT Delta snapshot, so an orphan sweep would eat time travel
    val e2 = intercept[IllegalArgumentException](
      IcebergWrite.removeOrphanFiles(spark, t, olderThanMs = Long.MaxValue))
    assert(e2.getMessage.contains("vacuum"), e2.getMessage)
  }

  test("written files carry field ids: a rename in metadata still resolves old files") {
    val t = tmpDir("icew-ids").resolve("t").toString
    IcebergWrite.create(spark, t, schema)
    IcebergWrite.append(spark, t, rows((1, "a", "x")))
    // simulate a column rename by editing the schema in metadata (ids keep)
    val metaDir = java.nio.file.Paths.get(t, "metadata")
    val hint = new String(java.nio.file.Files.readAllBytes(
      metaDir.resolve("version-hint.text")), "UTF-8").trim
    val mdPath = metaDir.resolve(s"v$hint.metadata.json")
    val md = new String(java.nio.file.Files.readAllBytes(mdPath), "UTF-8")
      .replace("\"name\":\"v\"", "\"name\":\"v_renamed\"")
    java.nio.file.Files.write(mdPath, md.getBytes("UTF-8"))
    // the side-channel edit invalidates Hadoop's local checksum sidecar
    java.nio.file.Files.deleteIfExists(
      metaDir.resolve(s".v$hint.metadata.json.crc")): Unit
    val back = IcebergRead.read(spark, t)
    assert(back.schema.fieldNames.contains("v_renamed"))
    assert(back.select("v_renamed").head().getString(0) == "a",
      "pre-rename file must resolve by field id")
  }

  test("metadata tables: snapshots/history/manifests/files agree with the lifecycle") {
    import org.apache.spark.sql.functions._
    val t = tmpDir("icew-meta").resolve("t").toString
    IcebergWrite.create(spark, t, schema, partitionBy = Seq("p"))
    val s1 = IcebergWrite.append(spark, t, rows((1, "a", "x"), (2, "b", "y")))
    val s2 = IcebergWrite.append(spark, t, rows((3, "c", "x")))
    IcebergWrite.deleteWhere(spark, t, rows((1, "a", "x")).select("id"))
    val snaps = IcebergRead.snapshots(spark, t).orderBy("sequence_number").collect()
    assert(snaps.map(_.getAs[String]("operation")).toSeq ==
      Seq("append", "append", "delete"))
    assert(snaps.map(_.getAs[Long]("sequence_number")).toSeq == Seq(1L, 2L, 3L))
    assert(snaps(0).getAs[Long]("snapshot_id") == s1)
    assert(snaps(1).getAs[Any]("parent_id") == s1)
    val hist = IcebergRead.history(spark, t).collect()
    assert(hist.length == 3 && hist.forall(_.getAs[Boolean]("is_current_ancestor")))
    val mans = IcebergRead.manifests(spark, t)
    // cumulative lists: 2 data manifests + 1 delete manifest at current
    assert(mans.filter(col("content") === 0).count() == 2L)
    assert(mans.filter(col("content") === 1).count() == 1L)
    val files = IcebergRead.files(spark, t).collect()
    assert(files.count(_.getAs[Int]("content") == 0) >= 2)
    assert(files.count(_.getAs[Int]("content") == 2) == 1)
    // partition tuple surfaces as a string map on data entries
    val parts = files.filter(_.getAs[Int]("content") == 0)
      .flatMap(_.getAs[Map[String, String]]("partition").get("p")).toSet
    assert(parts == Set("x", "y"))
    // at the FIRST snapshot, only its own entries are visible
    assert(IcebergRead.files(spark, t, Some(s1)).count() ==
      IcebergRead.files(spark, t, Some(s2)).count() - 1)
  }

  test("rewriteDataFiles: deletes baked in, delete files dropped, time travel intact, partitions preserved") {
    import org.apache.spark.sql.functions._
    val t = tmpDir("icew-rewrite").resolve("t").toString
    IcebergWrite.create(spark, t, schema, partitionBy = Seq("p"))
    IcebergWrite.append(spark, t, rows((1, "a", "x"), (2, "b", "y")))
    IcebergWrite.append(spark, t, rows((3, "c", "x"), (4, "d", "y")))
    val pre = IcebergWrite.deleteWhere(spark, t, rows((2, "b", "y")).select("id"))
    val rw = IcebergWrite.rewriteDataFiles(spark, t)
    val snap = IcebergRead.snapshots(spark, t)
      .filter(col("snapshot_id") === rw).collect()(0)
    assert(snap.getAs[String]("operation") == "replace")
    assert(snap.getAs[Map[String, String]]("summary")
      .get("removed-delete-files").contains("1"))
    // current state: live rows only, no delete entries, partitions intact
    val cur = IcebergRead.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(cur == Set((1L, "x"), (3L, "x"), (4L, "y")))
    val files = IcebergRead.files(spark, t).collect()
    assert(files.forall(_.getAs[Int]("content") == 0), "delete files must drop out")
    // pre-rewrite snapshot still reads identically (manifest list carried)
    val old = IcebergRead.read(spark, t,
      IcebergRead.Options(snapshotId = Some(pre))).collect()
      .map(_.getLong(0)).toSet
    assert(old == Set(1L, 3L, 4L))
    // rewriting a fully-compacted table again is a fresh replace snapshot
    // over the same rows (idempotent content)
    IcebergWrite.rewriteDataFiles(spark, t)
    assert(IcebergRead.read(spark, t).count() == 3L)
  }

  test("schema evolution: add/rename/drop — field ids stable, retired ids never reused, pinned snapshots keep their schema") {
    import org.apache.spark.sql.functions._
    val t = tmpDir("icew-evolve").resolve("t").toString
    IcebergWrite.create(spark, t, schema, partitionBy = Seq("p"))
    val snap1 = IcebergWrite.append(spark, t, rows((1, "a", "x"), (2, "b", "y")))
    IcebergWrite.addColumn(spark, t, "n", LongType)
    IcebergWrite.renameColumn(spark, t, "v", "val")
    // post-evolution append provides the new column
    import spark.implicits._
    IcebergWrite.append(spark, t,
      Seq((3L, "c", "x", 30L)).toDF("id", "val", "p", "n"))
    val cur = IcebergRead.read(spark, t)
    assert(cur.columns.toSeq == Seq("id", "val", "p", "n"))
    val byId = cur.collect().map(r => r.getLong(0) ->
      ((r.getString(1), Option(r.get(3))))).toMap
    // old files resolve `val` by FIELD ID and null-fill `n`
    assert(byId == Map(1L -> (("a", None)), 2L -> (("b", None)),
      3L -> (("c", Some(30L)))))
    // pinned read shows the original schema
    val pinned = IcebergRead.read(spark, t,
      IcebergRead.Options(snapshotId = Some(snap1)))
    assert(pinned.columns.toSeq == Seq("id", "v", "p"))
    assert(pinned.count() == 2L)
    // drop n, then add n2: the retired id must NOT be reused — rows
    // written with n=30 must not resurrect into n2
    IcebergWrite.dropColumn(spark, t, "n")
    assert(IcebergRead.read(spark, t).columns.toSeq == Seq("id", "val", "p"))
    IcebergWrite.addColumn(spark, t, "n2", LongType)
    val n2s = IcebergRead.read(spark, t).select("id", "n2").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(n2s.values.forall(_.isEmpty),
      s"retired field id leaked old values into n2: $n2s")
    // guards
    intercept[IllegalArgumentException](
      IcebergWrite.dropColumn(spark, t, "p")) // partition source
    intercept[IllegalArgumentException](
      IcebergWrite.renameColumn(spark, t, "val", "id")) // collision
    intercept[IllegalArgumentException](
      IcebergWrite.addColumn(spark, t, "id", LongType)) // exists
  }

  test("removeOrphanFiles: the OPTIMIZE -> EXPIRE -> orphan-clean loop reclaims exactly the unreferenced files") {
    import org.apache.spark.sql.functions._
    val t = tmpDir("icew-orphans").resolve("t").toString
    IcebergWrite.create(spark, t, schema)
    IcebergWrite.append(spark, t, rows((1, "a", "x"), (2, "b", "y")))
    IcebergWrite.append(spark, t, rows((3, "c", "x")))
    IcebergWrite.deleteWhere(spark, t, rows((2, "b", "y")).select("id"))
    // a stray file (a crashed writer's leftover) in data/
    val stray = java.nio.file.Paths.get(t, "data", "stray-leftover.parquet")
    java.nio.file.Files.write(stray, Array[Byte](1, 2, 3))
    // grace window: a FUTURE cutoff collects everything unreferenced; a
    // PAST cutoff collects nothing (in-flight writes survive)
    assert(IcebergWrite.removeOrphanFiles(spark, t, olderThanMs = 0L).isEmpty)
    // before any expiration, only the stray is orphaned (every data file
    // is referenced by some snapshot's manifests)
    val first = IcebergWrite.removeOrphanFiles(spark, t,
      olderThanMs = System.currentTimeMillis() + 60000)
    assert(first == Seq("data/stray-leftover.parquet"), first)
    assert(!java.nio.file.Files.exists(stray))
    // compact, expire everything but the current snapshot, then clean:
    // the pre-rewrite data files + the delete file + their manifests are
    // now unreferenced by any LIVE snapshot and get reclaimed
    IcebergWrite.rewriteDataFiles(spark, t)
    IcebergWrite.expireSnapshots(spark, t,
      olderThanMs = System.currentTimeMillis() + 60000)
    val dry = IcebergWrite.removeOrphanFiles(spark, t,
      olderThanMs = System.currentTimeMillis() + 60000, dryRun = true)
    assert(dry.count(_.startsWith("data/")) == 4, dry) // 3 data + 1 eq-delete
    assert(dry.exists(_.startsWith("metadata/")), dry) // orphaned manifests
    val gone = IcebergWrite.removeOrphanFiles(spark, t,
      olderThanMs = System.currentTimeMillis() + 60000)
    assert(gone == dry)
    // the table still reads exactly its live rows, and nothing doomed
    // remains on disk
    assert(IcebergRead.read(spark, t).collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L))
    gone.foreach(rel => assert(
      !java.nio.file.Files.exists(java.nio.file.Paths.get(t, rel)), rel))
    // a second pass finds nothing
    assert(IcebergWrite.removeOrphanFiles(spark, t,
      olderThanMs = System.currentTimeMillis() + 60000).isEmpty)
  }

  test("rewriteDataFiles on an empty table is a no-op") {
    val t = tmpDir("icew-rewrite-empty").resolve("t").toString
    IcebergWrite.create(spark, t, schema)
    assert(IcebergWrite.rewriteDataFiles(spark, t) == -1L)
    assert(IcebergRead.snapshots(spark, t).count() == 0L)
  }

  test("refs: write-audit-publish on a branch, tag time travel, ref-protected expiry") {
    val t = tmpDir("icew-refs").resolve("t").toString
    IcebergWrite.create(spark, t, schema)
    IcebergWrite.append(spark, t, rows((1, "a", "x"), (2, "b", "x")))
    IcebergWrite.createTag(spark, t, "v1")
    IcebergWrite.createBranch(spark, t, "audit")
    IcebergWrite.append(spark, t, rows((3, "c", "y")), branch = Some("audit"))
    IcebergWrite.append(spark, t, rows((4, "d", "y")), branch = Some("audit"))
    def ids(opts: IcebergRead.Options = IcebergRead.Options()): Set[Long] =
      IcebergRead.read(spark, t, opts).collect().map(_.getLong(0)).toSet

    // staged commits are invisible on main until published
    assert(ids() == Set(1L, 2L))
    assert(ids(IcebergRead.Options(ref = Some("main"))) == Set(1L, 2L))
    assert(ids(IcebergRead.Options(ref = Some("audit"))) == Set(1L, 2L, 3L, 4L))

    // publish: main fast-forwards to the audited branch head
    IcebergWrite.fastForward(spark, t, to = "main", from = "audit")
    assert(ids() == Set(1L, 2L, 3L, 4L))

    // the tag still reads the pre-publish state, under ITS schema even
    // after evolution (branch/current reads see the new column)
    assert(ids(IcebergRead.Options(ref = Some("v1"))) == Set(1L, 2L))
    IcebergWrite.addColumn(spark, t, "extra", LongType)
    assert(!IcebergRead.read(spark, t,
      IcebergRead.Options(ref = Some("v1"))).columns.contains("extra"))
    assert(IcebergRead.read(spark, t,
      IcebergRead.Options(ref = Some("main"))).columns.contains("extra"))

    // expiry: the tagged snapshot survives a sweep that would drop it
    IcebergWrite.expireSnapshots(spark, t,
      olderThanMs = System.currentTimeMillis() + 60000)
    assert(ids(IcebergRead.Options(ref = Some("v1"))) == Set(1L, 2L))
    // ...until the tag is dropped
    IcebergWrite.dropRef(spark, t, "v1")
    IcebergWrite.expireSnapshots(spark, t,
      olderThanMs = System.currentTimeMillis() + 60000)
    val e = intercept[IllegalArgumentException](
      ids(IcebergRead.Options(ref = Some("v1"))))
    assert(e.getMessage.contains("no such ref"), e.getMessage)

    // fast-forward refuses to lose history: a stale branch cannot publish
    IcebergWrite.createBranch(spark, t, "stale",
      at = Some(IcebergRead.snapshots(spark, t)
        .orderBy("committed_at").head().getAs[Long]("snapshot_id")))
    IcebergWrite.append(spark, t, rows((5, "e", "z")))
    val e2 = intercept[IllegalArgumentException](
      IcebergWrite.fastForward(spark, t, to = "main", from = "stale"))
    assert(e2.getMessage.contains("descendant"), e2.getMessage)
  }

  test("per-file column stats: bounds skip files on an UNPARTITIONED table") {
    import org.apache.spark.sql.functions._
    val t = tmpDir("icew-stats").resolve("t").toString
    val sch = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("v", DoubleType)))
    def batch(lo: Long, hi: Long) = {
      import spark.implicits._
      (lo until hi).map(i => (i, s"name-$i", i * 0.5)).toDF("id", "name", "v")
    }
    IcebergWrite.create(spark, t, sch)
    IcebergWrite.append(spark, t, batch(0, 100).coalesce(1))    // ids 0-99
    IcebergWrite.append(spark, t, batch(100, 200).coalesce(1))  // ids 100-199
    IcebergWrite.append(spark, t, batch(200, 300).coalesce(1))  // ids 200-299

    // a range predicate on a DATA column prunes whole files by bounds
    val hit = IcebergRead.read(spark, t,
      IcebergRead.Options(where = Some("id >= 250")))
    val st = IcebergRead.lastPlanStats.get
    assert(st.dataFilesSeen == 3 && st.dataFilesPlanned == 1, st.toString)
    assert(hit.filter(col("id") >= 250).count() == 50L)

    // equality on the string column: lexicographic bounds overlap
    // legitimately ("name-150" sorts inside file 1's [name-0, name-99]
    // too), so 2-of-3 survive; a probe past every bound prunes ALL files
    IcebergRead.read(spark, t,
      IcebergRead.Options(where = Some("name = 'name-150'"))).collect()
    assert(IcebergRead.lastPlanStats.get.dataFilesPlanned == 2)
    IcebergRead.read(spark, t,
      IcebergRead.Options(where = Some("name = 'zzz'"))).collect()
    assert(IcebergRead.lastPlanStats.get.dataFilesPlanned == 0)

    // double column never participates (NaN-safe) — no pruning, no loss
    IcebergRead.read(spark, t,
      IcebergRead.Options(where = Some("v >= 100.0"))).collect()
    assert(IcebergRead.lastPlanStats.get.dataFilesPlanned == 3)

    // IS NOT NULL with an all-null file: nulls-only files drop
    import spark.implicits._
    IcebergWrite.append(spark, t,
      Seq((300L, null.asInstanceOf[String], 1.0)).toDF("id", "name", "v")
        .coalesce(1))
    IcebergRead.read(spark, t,
      IcebergRead.Options(where = Some("name IS NOT NULL"))).collect()
    assert(IcebergRead.lastPlanStats.get.dataFilesPlanned == 3, "all-null file kept")
    // and the complete read still serves every row
    assert(IcebergRead.read(spark, t).count() == 301L)
  }

  test("upperBoundString increments the truncated prefix validly") {
    assert(IcebergWrite.upperBoundString("short", 16).contains("short"))
    val long = "abcdefghijklmnopqrstuvwxyz"
    val ub = IcebergWrite.upperBoundString(long, 16).get
    assert(ub.length == 16 && ub > long.substring(0, 16) && ub > long)
    // surrogate-range skip: U+D7FF increments to U+E000, never a surrogate
    val tricky = "a" * 15 + "퟿" + "tail"
    val ub2 = IcebergWrite.upperBoundString(tricky, 16).get
    assert(ub2.codePointAt(15) == 0xE000)
  }

  private def metadataOf(t: String) = {
    val metaDir = new org.apache.hadoop.fs.Path(t, "metadata")
    IcebergRead.currentMetadata(
      metaDir.getFileSystem(spark.sessionState.newHadoopConf()), metaDir)
  }

  /** The table's current schema with its field ids. */
  private def logicalOf(t: String): StructType = {
    val md = metadataOf(t)
    IcebergRead.parseType(IcebergRead.schemaNodeById(md, IcebergRead.currentSchemaIdOf(md)))
      .asInstanceOf[StructType]
  }

  /** Every live data entry's (record count, bounds) from the current
    * snapshot's manifests, by file path. */
  private def manifestStats(t: String)
      : Map[String, (Long, Map[Int, (Option[Seq[Byte]], Option[Seq[Byte]], Long)])] = {
    val conf = spark.sessionState.newHadoopConf()
    val md = metadataOf(t)
    val snapId = md.get("current-snapshot-id").asLong()
    val list = md.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == snapId).get.get("manifest-list").asText()
    def kv(df: GenericRecord, name: String): Map[Int, AnyRef] =
      Option(df.get(name)).map(_.asInstanceOf[java.util.Collection[GenericRecord]]
        .asScala.map(r => r.get("key").asInstanceOf[Int] -> r.get("value")).toMap)
        .getOrElse(Map.empty)
    def bytes(v: AnyRef): Seq[Byte] = {
      val bb = v.asInstanceOf[java.nio.ByteBuffer].duplicate()
      val a = new Array[Byte](bb.remaining()); bb.get(a); a.toSeq
    }
    IcebergRead.avroRecords(conf, new org.apache.hadoop.fs.Path(list)).flatMap { m =>
      IcebergRead.avroRecords(conf, new org.apache.hadoop.fs.Path(m.get("manifest_path").toString))
    }.map { e =>
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      val (lo, hi) = (kv(df, "lower_bounds"), kv(df, "upper_bounds"))
      val nulls = kv(df, "null_value_counts")
      df.get("file_path").toString -> ((df.get("record_count").asInstanceOf[Long],
        nulls.map { case (fid, n) =>
          fid -> ((lo.get(fid).map(bytes), hi.get(fid).map(bytes), n.asInstanceOf[Long]))
        }))
    }.toMap
  }

  // The commit path takes per-file bounds from the write tasks; the
  // distributed scan is the reference. Pin the two equal on a mixed-null
  // fixture: nulls in eligible columns, an all-null column,
  // >16-code-point strings with an astral char (truncation + upper-bound
  // increment), a timestamp column, and an ineligible double column.
  test("write-task bounds equal the distributed stats scan per file") {
    val dir = tmpDir("icew-statscan")
    val logical = StructType(Seq(
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("s", StringType), StructField("d", DateType),
      StructField("ts", TimestampType), StructField("nul", StringType),
      StructField("f", DoubleType)))
    val data = (0 until 50).map { k =>
      Row(
        if (k % 7 == 0) null else Integer.valueOf(k - 25),
        java.lang.Long.valueOf(k.toLong * 1000003L),
        if (k % 5 == 0) null else s"prefix-that-is-long-$k-😀-pad",
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(k.toLong)),
        java.sql.Timestamp.from(
          java.time.Instant.parse("2024-01-05T00:00:00Z").plusSeconds(k * 977L)),
        null,
        java.lang.Double.valueOf(k * 0.5))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(data, 3), logical)
    def check(t: String, skip: Set[String]): Map[String, (Long, Map[Int, (Option[Seq[Byte]], Option[Seq[Byte]], Long)])] = {
      val tracked = manifestStats(t)
      assert(tracked.size >= 2, "fixture must span multiple files")
      val scanned = IcebergWrite.computeIcebergStats(
        spark, tracked.keys.toSeq, logicalOf(t), skip)
      assert(scanned.keySet == tracked.keySet)
      tracked.foreach { case (p, (rc, bounds)) =>
        val (n, ref) = scanned(p)
        assert(rc == n, s"record count of $p")
        assert(bounds == ref.map { case (fid, (lo, hi, nc)) =>
          fid -> ((lo.map(_.toSeq), hi.map(_.toSeq), nc)) }, s"bounds of $p")
      }
      tracked
    }
    val plain = dir.resolve("plain").toString
    IcebergWrite.create(spark, plain, logical)
    IcebergWrite.append(spark, plain, df)
    // the double column gets no bounds; the all-null one a null count only
    val fid = logicalOf(plain).fields.map(f => f.name -> IcebergRead.fieldId(f).toInt).toMap
    check(plain, Set.empty).values.foreach { case (_, b) =>
      assert(b.keySet == Set("i", "l", "s", "d", "ts", "nul").map(fid) && b(fid("nul"))._1.isEmpty)
    }
    // identity-partition sources are excluded (hive layout drops them)
    val parted = dir.resolve("parted").toString
    IcebergWrite.create(spark, parted, logical, partitionBy = Seq("i"))
    IcebergWrite.append(spark, parted, df)
    check(parted, Set("i")).values.foreach { case (_, b) =>
      assert(!b.contains(fid("i")) && b.contains(fid("l")))
    }
    val noSkip = IcebergWrite.computeIcebergStats(spark, manifestStats(plain).keys.toSeq,
      logicalOf(plain), Set("i", "s"))
    noSkip.values.foreach { case (_, stats) =>
      assert(!stats.contains(fid("i")) && !stats.contains(fid("s")) && stats.contains(fid("l")))
    }
  }

  test("identity partition values with '+', '%' and spaces read back exactly") {
    import spark.implicits._
    val t = tmpDir("icew-plus").resolve("t").toString
    IcebergWrite.create(spark, t, schema, partitionBy = Seq("p"))
    val values = Seq("a+b", "x%y", "p q")
    IcebergWrite.append(spark, t,
      values.zipWithIndex.map { case (p, i) => (i.toLong, s"v$i", p) }.toDF("id", "v", "p"))
    val back = IcebergRead.read(spark, t).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(back == values.zipWithIndex.map { case (p, i) => i.toLong -> p }.toMap)
    assert(IcebergRead.files(spark, t).collect().map(_.getMap[String, String](3)("p")).toSet ==
      values.toSet)
  }

  test("many-partition reads consolidate: one scan + broadcast injection, not a union per tuple") {
    import org.apache.spark.sql.functions._
    val t = tmpDir("icew-manypart").resolve("t").toString
    IcebergWrite.create(spark, t, schema, partitionBy = Seq("p"))
    import spark.implicits._
    // 40 distinct partition values (> the 32-tuple consolidation cap)
    val df = (0 until 120).map(i => (i.toLong, s"v$i", s"p${i % 40}"))
      .toDF("id", "v", "p")
    IcebergWrite.append(spark, t, df)
    val back = IcebergRead.read(spark, t)
    // plan stays O(1) in partition count: a single consolidated scan plus
    // the broadcast injection frame — never 40 union branches
    assert(back.queryExecution.logical.collectLeaves().size <= 4,
      back.queryExecution.logical.collectLeaves().size.toString)
    // identity injection is exact through the join path
    val got = back.collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got == (0 until 120).map(i => (i.toLong, s"p${i % 40}")).toSet)
    // deletes still apply through the consolidated scan (helper columns)
    IcebergWrite.deleteWhere(spark, t, Seq("p7").toDF("p"))
    val after = IcebergRead.read(spark, t)
    assert(after.filter(col("p") === "p7").count() == 0L)
    assert(after.count() == 117L)
  }

  // r17 (VERDICT item 3): the single-snapshot MERGE commit — equality
  // delete + replacement rows at the SAME sequence number, atomically.
  test("r17: mergeBatch commits upserts + tombstones as ONE overwrite snapshot") {
    import spark.implicits._
    val t = tmpDir("icew-merge").resolve("t").toString
    IcebergWrite.create(spark, t, schema)
    val s0 = IcebergWrite.append(spark, t, rows((1L, "a", "x"), (2L, "b", "x")))
    val snapsBefore = IcebergRead.snapshots(spark, t).count()
    val batch = Seq(
      (1L, "a2", "x", "U"), // upsert existing key
      (2L, "", "", "D"),    // tombstone
      (3L, "c", "y", "U"))  // new key
      .toDF("id", "v", "p", "op")
    IcebergWrite.mergeBatch(spark, t, batch, keys = Seq("id"),
      opCol = Some("op"))
    val got = IcebergRead.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a2", 3L -> "c"))
    // exactly ONE new snapshot, operation=overwrite
    val snaps = IcebergRead.snapshots(spark, t).collect()
    assert(snaps.length == snapsBefore.toInt + 1)
    assert(snaps.map(_.getAs[String]("operation")).contains("overwrite"))
    // time travel still sees the pre-merge state
    val pre = IcebergRead.read(spark, t,
      IcebergRead.Options(snapshotId = Some(s0))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pre == Map(1L -> "a", 2L -> "b"))
    // a second merge hitting key 3 replaces the first merge's row too
    // (the new delete's sequence exceeds the prior merge's data sequence)
    IcebergWrite.mergeBatch(spark, t,
      Seq((3L, "c2", "y", "U")).toDF("id", "v", "p", "op"),
      keys = Seq("id"), opCol = Some("op"))
    assert(IcebergRead.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a2", 3L -> "c2"))
  }

  // r17 (VERDICT item 4): dynamic partition overwrite — one snapshot,
  // untouched partitions byte-identical, pre-state time-travelable.
  test("r17: replacePartitions overwrites touched day partitions only, atomically") {
    import spark.implicits._
    val t = tmpDir("icew-replacepart").resolve("t").toString
    val sch = StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampType),
      StructField("v", StringType)))
    def ts(day: Int, h: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse(f"2024-01-$day%02dT$h%02d:00:00Z"))
    IcebergWrite.create(spark, t, sch, partitionBy = Seq("day(ts)"))
    val s0 = IcebergWrite.append(spark, t, Seq(
      (1L, ts(1, 1), "d1-a"), (2L, ts(1, 2), "d1-b"),
      (3L, ts(2, 1), "d2-a"), (4L, ts(3, 1), "d3-a"))
      .toDF("id", "ts", "v"))
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles(): Map[String, Long] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(t, "data"), true)
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) { val st = it.next(); b += st.getPath.getName -> st.getModificationTime }
      b.result()
    }
    val before = dataFiles()
    // recompute day 1: two rows become one corrected row
    IcebergWrite.replacePartitions(spark, t,
      Seq((10L, ts(1, 5), "d1-new")).toDF("id", "ts", "v"))
    val got = IcebergRead.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(10L -> "d1-new", 3L -> "d2-a", 4L -> "d3-a"))
    // exactly one new snapshot, operation=overwrite, counts in summary
    val snaps = IcebergRead.snapshots(spark, t).collect()
    assert(snaps.length == 2)
    val sum = snaps.find(_.getAs[String]("operation") == "overwrite").get
      .getAs[Map[String, String]]("summary")
    assert(sum("deleted-data-files").toLong >= 1L)
    assert(sum("deleted-records").toLong == 2L)
    // untouched partitions: files byte-identical (same names, same mtimes)
    val after = dataFiles()
    val untouchedBefore = before.filterNot(_._1.isEmpty)
    assert(untouchedBefore.toSet.subsetOf(after.toSet) ||
      before.count { case (k, v) => after.get(k).contains(v) } >= 2,
      "untouched partitions' data files must carry byte-identical")
    // time travel sees the pre-overwrite state
    val pre = IcebergRead.read(spark, t,
      IcebergRead.Options(snapshotId = Some(s0))).collect()
      .map(_.getLong(0)).toSet
    assert(pre == Set(1L, 2L, 3L, 4L))
    // partition pruning still plans correctly after the rewrite
    IcebergRead.read(spark, t,
      IcebergRead.Options(where = Some("ts >= timestamp'2024-01-03 00:00:00'")))
      .collect()
    assert(IcebergRead.lastPlanStats.get.dataFilesPlanned >= 1)
    // a second overwrite of a partition with NO prior files just appends
    IcebergWrite.replacePartitions(spark, t,
      Seq((20L, ts(9, 1), "d9")).toDF("id", "ts", "v"))
    assert(IcebergRead.read(spark, t).count() == 4L)
  }

  test("r18: replacePartitions records replaced files as DELETED entries") {
    import spark.implicits._
    val t = tmpDir("icew-replacepart-del").resolve("t").toString
    IcebergWrite.create(spark, t, schema, partitionBy = Seq("p"))
    val s0 = IcebergWrite.append(spark, t,
      rows((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")))
    IcebergWrite.replacePartitions(spark, t,
      Seq((10L, "new", "x")).toDF("id", "v", "p"))
    // manifest-list counters: the rewritten manifest must account the
    // replaced partition-x file(s) as deleted, not silently omit them
    val mans = IcebergRead.manifests(spark, t).collect()
    val deletedFiles = mans.map(_.getAs[Int]("deleted_data_files_count")).sum
    val deletedRows = mans.map(_.getAs[Long]("deleted_rows_count")).sum
    assert(deletedFiles >= 1, mans.mkString("\n"))
    assert(deletedRows == 2L, mans.mkString("\n"))
    // entry level: status=2 entries carry the OVERWRITE snapshot's id
    // (the spec's removed-by-this-snapshot contract for foreign
    // incremental/changelog consumers) and their original data sequence
    val snaps = IcebergRead.snapshots(spark, t).collect()
    val over = snaps.find(_.getAs[String]("operation") == "overwrite").get
    val overId = over.getAs[Long]("snapshot_id")
    val conf = spark.sessionState.newHadoopConf()
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import org.apache.avro.mapred.FsInput
    val deletedEntries = mans.filter(_.getAs[Int]("deleted_data_files_count") > 0)
      .flatMap { m =>
        val rd = new DataFileReader[GenericRecord](
          new FsInput(new org.apache.hadoop.fs.Path(m.getAs[String]("path")), conf),
          new GenericDatumReader[GenericRecord]())
        try rd.iterator().asScala.toVector.filter(
          _.get("status").asInstanceOf[Int] == 2)
        finally rd.close()
      }
    assert(deletedEntries.nonEmpty)
    deletedEntries.foreach { e =>
      assert(e.get("snapshot_id").asInstanceOf[Long] == overId, e.toString)
      assert(e.get("sequence_number").asInstanceOf[Long] == 1L,
        s"DELETED entry must keep its ORIGINAL data sequence: $e")
    }
    // reads stay correct: DELETED entries are dead for scans
    assert(IcebergRead.read(spark, t).collect()
      .map(r => r.getLong(0)).toSet == Set(10L, 3L))
    // and time travel to the pre-overwrite snapshot is untouched
    assert(IcebergRead.read(spark, t,
      IcebergRead.Options(snapshotId = Some(s0))).count() == 3L)
  }

  // r17 (VERDICT item 2): equality deletes batch into ONE anti-join per
  // DISTINCT equality-id set — ten un-compacted delete files must not
  // build ten chained joins.
  test("r17: many equality-delete files apply as one anti-join per id set") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val t = tmpDir("icew-eqbatch").resolve("t").toString
    IcebergWrite.create(spark, t, schema)
    IcebergWrite.append(spark, t,
      rows((1L to 12L).map(i => (i, s"v$i", "x")): _*))
    // 8 delete files over {id}, 2 over {v} — 10 files, 2 id sets
    (1 to 8).foreach(i =>
      IcebergWrite.deleteWhere(spark, t, Seq(i.toLong).toDF("id")))
    Seq("v9", "v10").foreach(v =>
      IcebergWrite.deleteWhere(spark, t, Seq(v).toDF("v")))
    val back = IcebergRead.read(spark, t)
    // ONE anti-join per id set; the per-set broadcast (file -> seq) inner
    // join is constant per set, not O(#files), so the plan as a whole
    // stays O(#id sets) however many delete files pile up
    val anti = back.queryExecution.logical.collect {
      case j: Join if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(anti.size == 2, s"expected one anti-join per id set, got ${anti.size}")
    val all = back.queryExecution.logical.collect { case j: Join => j }
    assert(all.size <= 4, s"plan joins must stay O(#id sets), got ${all.size}")
    assert(back.collect().map(_.getLong(0)).toSet == Set(11L, 12L))
    // a later append is NOT affected by earlier deletes (seq ordering
    // rides the unioned _del_seq column)
    IcebergWrite.append(spark, t, rows((1L, "v1", "y")))
    assert(IcebergRead.read(spark, t).collect().map(_.getLong(0)).toSet ==
      Set(1L, 11L, 12L))
  }

  test("r18: rewriteDeleteFiles compacts equality deletes into ONE position file") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val t = tmpDir("icew-eqcompact").resolve("t").toString
    IcebergWrite.create(spark, t, schema)
    IcebergWrite.append(spark, t,
      rows((1L to 12L).map(i => (i, s"v$i", "x")): _*))
    (1 to 8).foreach(i =>
      IcebergWrite.deleteWhere(spark, t, Seq(i.toLong).toDF("id")))
    Seq("v9", "v10").foreach(v =>
      IcebergWrite.deleteWhere(spark, t, Seq(v).toDF("v")))
    // a re-append AFTER the deletes: the spec's data_seq < delete_seq rule
    // keeps it alive, and compaction must preserve exactly that
    IcebergWrite.append(spark, t, rows((1L, "v1", "y")))
    val before = IcebergRead.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(before == Set((1L, "y"), (11L, "x"), (12L, "x")))

    val snap = IcebergWrite.rewriteDeleteFiles(spark, t)
    // result invariance
    val back = IcebergRead.read(spark, t)
    assert(back.collect().map(r => (r.getLong(0), r.getString(2))).toSet == before)
    // plan shape: the 10 equality files collapsed into ONE position
    // anti-join — no equality joins remain
    val anti = back.queryExecution.logical.collect {
      case j: Join if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(anti.size == 1, s"expected one position anti-join, got ${anti.size}")
    // every equality entry re-emitted DELETED; one live position entry
    val conf = spark.sessionState.newHadoopConf()
    val entries = IcebergRead.manifests(spark, t).collect().flatMap { m =>
      IcebergRead.avroRecords(conf,
        new org.apache.hadoop.fs.Path(m.getAs[String]("path")))
    }
    def dContent(e: org.apache.avro.generic.GenericRecord): Int =
      e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
        .get("content").asInstanceOf[Int]
    val liveEq = entries.filter(e =>
      e.get("status").asInstanceOf[Int] != 2 && dContent(e) == 2)
    val deadEq = entries.filter(e =>
      e.get("status").asInstanceOf[Int] == 2 && dContent(e) == 2)
    val livePos = entries.filter(e =>
      e.get("status").asInstanceOf[Int] != 2 && dContent(e) == 1)
    assert(liveEq.isEmpty && deadEq.length == 10 && livePos.length == 1,
      s"eq live=${liveEq.length} dead=${deadEq.length} pos=${livePos.length}")
    // the position file is SORTED by (file_path, pos) per spec
    val posFile = livePos.head.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("file_path").toString
    val posRows = spark.read.parquet(posFile)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(posRows == posRows.sorted)
    // summary accounting + idempotence (second run is a no-op)
    val sum = IcebergRead.snapshots(spark, t).collect()
      .find(_.getAs[Long]("snapshot_id") == snap).get
      .getAs[Map[String, String]]("summary")
    assert(sum("removed-delete-files") == "10")
    assert(sum("added-position-deletes").toLong == posRows.size.toLong)
    assert(IcebergWrite.rewriteDeleteFiles(spark, t) == snap)
    // time travel to the pre-compaction snapshot still applies eq deletes
    assert(IcebergRead.read(spark, t,
      IcebergRead.Options(snapshotId = Some(snap))).count() == 3L)
  }

  test("rollbackTo + incremental append scan between snapshots") {
    val t = tmpDir("icew-rollback").resolve("t").toString
    IcebergWrite.create(spark, t, schema)
    val s1 = IcebergWrite.append(spark, t, rows((1, "a", "x"), (2, "b", "x")))
    val s2 = IcebergWrite.append(spark, t, rows((3, "c", "y")))
    IcebergWrite.append(spark, t, rows((4, "d", "y")))
    def inc(from: Long, to: Option[Long] = None): Set[Long] =
      IcebergRead.readIncremental(spark, t, from, to)
        .collect().map(_.getLong(0)).toSet
    assert(inc(s1) == Set(3L, 4L))
    assert(inc(s1, Some(s2)) == Set(3L))
    assert(inc(s2) == Set(4L))

    // rollback: current moves back, nothing deleted; the abandoned
    // snapshot drops out of the ancestor flags
    IcebergWrite.rollbackTo(spark, t, s2)
    assert(IcebergRead.read(spark, t).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
    val hist = IcebergRead.history(spark, t).collect()
    assert(hist.count(!_.getAs[Boolean]("is_current_ancestor")) == 1)

    // divergent lineage after the rollback: incremental follows the NEW
    // parent chain (4 was abandoned, 5 is the successor)
    IcebergWrite.append(spark, t, rows((5, "e", "z")))
    assert(inc(s1) == Set(3L, 5L))

    // a compaction in range contributes nothing; a delete refuses
    IcebergWrite.rewriteDataFiles(spark, t, targetFileBytes = 1L << 30)
    assert(inc(s1) == Set(3L, 5L))
    import spark.implicits._
    IcebergWrite.deleteWhere(spark, t, Seq(1L).toDF("id"))
    val e = intercept[IllegalArgumentException](inc(s1))
    assert(e.getMessage.contains("incremental"), e.getMessage)
  }

  test("partition evolution: each manifest resolves and prunes under ITS OWN spec") {
    import org.apache.spark.sql.functions._
    val t = tmpDir("icew-evolve-spec").resolve("t").toString
    val sch = StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampType),
      StructField("v", DoubleType)))
    def batch(ids: Range, day: String) = {
      import spark.implicits._
      ids.map(i => (i.toLong,
        java.sql.Timestamp.valueOf(s"$day 0${i % 10}:00:00"), i * 1.5))
        .toDF("id", "ts", "v")
    }
    IcebergWrite.create(spark, t, sch)                     // spec 0: unpartitioned
    IcebergWrite.append(spark, t, batch(0 until 4, "2024-01-05"))
    val spec1 = IcebergWrite.updateSpec(spark, t, Seq("day(ts)"))
    assert(spec1 == 1)
    IcebergWrite.append(spark, t, batch(4 until 8, "2024-02-10"))
    val spec2 = IcebergWrite.updateSpec(spark, t, Seq("day(ts)", "bucket(4, id)"))
    assert(spec2 == 2)
    IcebergWrite.append(spark, t, batch(8 until 12, "2024-03-15"))

    // cross-spec identity rule: day(ts) keeps its field id in spec 2
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val md = IcebergRead.currentMetadata(fs,
      new org.apache.hadoop.fs.Path(
        fs.makeQualified(new org.apache.hadoop.fs.Path(t)), "metadata"))
    val specsById = md.get("partition-specs").elements().asScala
      .map(sp => sp.get("spec-id").asInt() ->
        sp.get("fields").elements().asScala.map(f =>
          f.get("name").asText() -> f.get("field-id").asInt()).toMap).toMap
    assert(specsById(1)("ts_day") == specsById(2)("ts_day"))
    assert(specsById(2)("id_bucket") == specsById(1)("ts_day") + 1)

    // unpruned read serves all three layouts at once
    val all = IcebergRead.read(spark, t)
    assert(all.count() == 12L)
    assert(all.agg(sum(col("id"))).head().getLong(0) == (0 until 12).sum)

    // a ts predicate prunes ONLY manifests whose own spec derives day
    // bounds: the spec-0 manifest (no tuple) and spec-1/2 manifests that
    // overlap survive; the non-overlapping day manifests are never opened
    val hit = IcebergRead.read(spark, t, IcebergRead.Options(
      where = Some("ts >= TIMESTAMP '2024-03-01 00:00:00'")))
    val st = IcebergRead.lastPlanStats.get
    assert(st.manifestsTotal == 3, st.toString)
    assert(st.manifestsOpened == 2, st.toString) // spec-0 + the March one
    assert(hit.filter(col("ts") >= lit("2024-03-01").cast("timestamp"))
      .collect().map(_.getLong(0)).toSet == (8 until 12).map(_.toLong).toSet)

    // bucket equality prunes within the spec-2 manifest only (entry level)
    IcebergRead.read(spark, t, IcebergRead.Options(
      where = Some("id = 9"))).collect()
    val st2 = IcebergRead.lastPlanStats.get
    assert(st2.dataFilesPlanned < st2.dataFilesSeen, st2.toString)

    // time travel to the pre-evolution snapshot still reads spec 0
    val snaps = IcebergRead.snapshots(spark, t)
      .orderBy("committed_at").collect().map(_.getAs[Long]("snapshot_id"))
    val s0 = IcebergRead.read(spark, t,
      IcebergRead.Options(snapshotId = Some(snaps.head)))
    assert(s0.count() == 4L)
  }

  private def metaDirOf(t: String) = {
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sessionState.newHadoopConf())
    (fs, new org.apache.hadoop.fs.Path(
      fs.makeQualified(new org.apache.hadoop.fs.Path(t)), "metadata"))
  }

  test("commit path: a hint left behind the newest version loses no append") {
    import java.nio.file.{Files, Paths}
    val t = tmpDir("icew-hint-lag").resolve("t").toString
    IcebergWrite.create(spark, t, schema)
    IcebergWrite.append(spark, t, rows((1, "a", "x")))
    // a writer that crashed after publishing v<N> but before rewriting
    // the hint leaves the hint at N-1
    val hint = Paths.get(t, "metadata", "version-hint.text")
    val newest = new String(Files.readAllBytes(hint), "UTF-8").trim.toInt
    Files.write(hint, (newest - 1).toString.getBytes("UTF-8"))
    IcebergWrite.append(spark, t, rows((2, "b", "y")))
    assert(IcebergRead.read(spark, t).collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(new String(Files.readAllBytes(hint), "UTF-8").trim.toInt == newest + 1)
    assert(IcebergRead.snapshots(spark, t).count() == 2L)
  }

  test("commit path: a table without version-hint.text takes refs, expiry, schema and spec changes") {
    import java.nio.file.{Files, Paths}
    val t = tmpDir("icew-no-hint").resolve("t").toString
    IcebergWrite.create(spark, t, schema)
    val s1 = IcebergWrite.append(spark, t, rows((1, "a", "x")))
    val s2 = IcebergWrite.append(spark, t, rows((2, "b", "y")))
    IcebergWrite.append(spark, t, rows((3, "c", "x")))
    val hint = Paths.get(t, "metadata", "version-hint.text")
    def withoutHint[A](op: => A): A = { Files.deleteIfExists(hint); op }

    withoutHint(IcebergWrite.createTag(spark, t, "first", Some(s1)))
    assert(IcebergRead.read(spark, t, IcebergRead.Options(ref = Some("first")))
      .collect().map(_.getLong(0)).toSet == Set(1L))

    // s1 is tagged and s3 is current: only s2 expires
    assert(withoutHint(IcebergWrite.expireSnapshots(spark, t,
      System.currentTimeMillis() + 1)) == 1)
    val left = IcebergRead.snapshots(spark, t).collect()
      .map(_.getAs[Long]("snapshot_id")).toSet
    assert(left.size == 2 && left.contains(s1) && !left.contains(s2))

    withoutHint(IcebergWrite.addColumn(spark, t, "n", LongType))
    assert(IcebergRead.read(spark, t).schema.fieldNames.toSeq == Seq("id", "v", "p", "n"))

    val specId = withoutHint(IcebergWrite.updateSpec(spark, t, Seq("p")))
    val (fs, metaDir) = metaDirOf(t)
    assert(IcebergRead.currentMetadata(fs, metaDir).get("default-spec-id").asInt() == specId)
    IcebergWrite.append(spark, t, rows((4, "d", "y")))
    assert(IcebergRead.read(spark, t).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 4L))
  }

  test("commit path: a commit built on stale metadata throws ConcurrentCommitException and keeps the winner") {
    import java.nio.file.{Files, Paths}
    val t = tmpDir("icew-stale").resolve("t").toString
    IcebergWrite.create(spark, t, schema)
    IcebergWrite.append(spark, t, rows((1, "a", "x")))
    val (fs, metaDir) = metaDirOf(t)
    var winner = 0L
    intercept[Concurrency.ConcurrentCommitException] {
      IcebergWrite.commit(fs, metaDir) { (_, current) =>
        // another writer commits v+1 while this one builds on v
        winner = IcebergWrite.append(spark, t, rows((2, "b", "y")))
        val md = current.get
        md.put("last-updated-ms", 0L)
        Right((md, ()))
      }
    }
    val (v, md) = IcebergRead.resolveMetadata(fs, metaDir).get
    assert(md.get("current-snapshot-id").asLong() == winner)
    assert(md.get("last-updated-ms").asLong() != 0L)
    assert(IcebergRead.read(spark, t).collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(new String(Files.readAllBytes(
      Paths.get(t, "metadata", "version-hint.text")), "UTF-8").trim.toInt == v)
    // the loser's temp file does not stay behind
    assert(!Files.list(Paths.get(t, "metadata")).iterator().asScala
      .exists(_.getFileName.toString.startsWith(".tmp-")))
  }

  test("an append's int64-micros timestamps stay on its write: a concurrent plain parquet write keeps INT96") {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val base = tmpDir("icew-ts-leak")
    val t = base.resolve("t").toString
    val tsSchema = StructType(Seq(StructField("id", LongType), StructField("ts", TimestampType)))
    IcebergWrite.create(spark, t, tsSchema)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def frame(id: Long) =
      spark.createDataFrame(java.util.List.of(Row(id, ts)), tsSchema)
    /** The physical type of `ts` in each parquet file under `dir`. */
    def tsTypes(dir: java.nio.file.Path): Set[PrimitiveTypeName] = {
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), new org.apache.hadoop.conf.Configuration()))
        try r.getFooter.getFileMetaData.getSchema.getFields.asScala.find(_.getName == "ts").get.asPrimitiveType
          .getPrimitiveTypeName
        finally r.close()
      }.toSet
      finally walk.close()
    }
    var plainWrites = 0
    (1 to 20).foreach { i =>
      val append = Future(IcebergWrite.append(spark, t, frame(i.toLong)))
      // plain writes for as long as the append runs, at least one
      var j = 0
      while (j == 0 || !append.isCompleted) {
        val plain = base.resolve(s"plain-$i-$j")
        frame(0L).coalesce(1).write.parquet(plain.toString)
        assert(tsTypes(plain) == Set(PrimitiveTypeName.INT96), s"append $i, plain write $j")
        j += 1
      }
      plainWrites += j
      Await.result(append, 1.minute)
    }
    assert(plainWrites >= 20)
    assert(tsTypes(java.nio.file.Paths.get(t, "data")) == Set(PrimitiveTypeName.INT64))
    assert(IcebergRead.read(spark, t).count() == 20L)
  }
}
