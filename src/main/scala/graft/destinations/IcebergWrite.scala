package graft.destinations

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, regexp_replace}
import org.apache.spark.sql.types._

import graft.sources.{IcebergRead, IcebergTransforms}

import scala.jdk.CollectionConverters._

/** NATIVE Apache Iceberg v2 destination (public Table Spec,
  * iceberg.apache.org/spec) in the filesystem-table ("HadoopTables")
  * layout: create a table and append snapshots through the Iceberg
  * metadata itself — the write-side complement of [[IcebergRead]], and a
  * different thing from [[IcebergExport]] (which mirrors a Delta table's
  * state; this owns the table).
  *
  * Append mechanics per the spec: data files (parquet, field ids stamped
  * at every struct level from the schema's ids) land under `data/`; one
  * new manifest lists them ADDED at the next sequence number; the new
  * manifest list re-carries every prior manifest unchanged, so earlier
  * snapshots stay readable (time travel) and planning stays incremental —
  * an append touches ONLY its own manifest regardless of table size.
  *
  * Refused loudly: appending to a Delta-backed (UniForm-exported) table —
  * its Iceberg metadata MIRRORS `_delta_log`, and a side-channel Iceberg
  * commit would silently desync the two logs (write through the Delta
  * path and re-export instead). Identity partition specs only, matching
  * the reader.
  *
  * Scale: the commit is metadata-bounded (one manifest for the new files,
  * one manifest-list rewrite linear in MANIFEST count, not file count);
  * the data write is an ordinary distributed parquet write partitioned by
  * the spec's columns. Record counts AND per-file column bounds are
  * collected by the write tasks as they write each file
  * ([[FileStatsTracker]]), and the staged→data renames run on a bounded
  * pool — a commit runs one Spark job, the write, plus the manifest write,
  * regardless of file count.
  */
object IcebergWrite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private val TransformSyntax = """(\w+)\(([^)]*)\)""".r

  /** Parse one `partitionBy` entry: a bare column name (identity) or a
    * transform call — `identity(c)`, `year(c)`, `month(c)`, `day(c)`,
    * `hour(c)`, `bucket(N, c)`, `truncate(W, c)` (Iceberg's own DDL
    * spellings). Returns (transform, source column).
    */
  private[graft] def parsePartitionField(
      s: String): (graft.sources.IcebergTransforms.Transform, String) = {
    import graft.sources.IcebergTransforms._
    s.trim match {
      case TransformSyntax(fn, args) =>
        val parts = args.split(",").map(_.trim).filter(_.nonEmpty)
        def one: String = {
          require(parts.length == 1, s"$fn() takes one column: $s"); parts(0)
        }
        fn.toLowerCase(java.util.Locale.ROOT) match {
          case "identity" => (Identity, one)
          case "year" | "years" => (Year, one)
          case "month" | "months" => (Month, one)
          case "day" | "days" | "date" => (Day, one)
          case "hour" | "hours" | "date_hour" => (Hour, one)
          case "bucket" =>
            require(parts.length == 2, s"bucket(N, col) expected: $s")
            (Bucket(parts(0).toInt), parts(1))
          case "truncate" =>
            require(parts.length == 2, s"truncate(W, col) expected: $s")
            (Truncate(parts(0).toInt), parts(1))
          case other => throw new IllegalArgumentException(
            s"unknown partition transform '$other' in '$s'")
        }
      case plain => (Identity, plain)
    }
  }

  /** Create an empty native Iceberg v2 table (no snapshots yet). Field
    * ids are assigned depth-first, Iceberg's own order. `partitionBy`
    * accepts bare columns (identity) and transform calls — see
    * [[parsePartitionField]].
    */
  def create(
      spark: SparkSession,
      tablePath: String,
      schema: StructType,
      partitionBy: Seq[String] = Nil,
      // r18: format-version 3 tables track row lineage (`next-row-id`
      // starts the id space) and take DELETES as deletion vectors
      formatVersion: Int = 2): Unit = {
    require(formatVersion == 2 || formatVersion == 3,
      s"format-version $formatVersion not supported")
    val partFields = partitionBy.map(parsePartitionField)
    partFields.foreach { case (t, c) =>
      require(schema.fieldNames.contains(c),
        s"partition column $c not in schema")
      graft.sources.IcebergTransforms.validate(t, schema(c).dataType, c)
      val pname = graft.sources.IcebergTransforms.fieldName(t, c)
      require(t == graft.sources.IcebergTransforms.Identity ||
        !schema.fieldNames.contains(pname),
        s"derived partition field name $pname collides with a table column")
    }
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val qualified = fs.makeQualified(table)
    val metaDir = new Path(qualified, "metadata")
    commit(fs, metaDir) { (_, current) =>
      require(current.isEmpty, s"Iceberg table already exists at $tablePath")
      fs.mkdirs(metaDir)

      val ids = new IcebergExport.IdGen(0)
      val schemaNode = IcebergExport.icebergType(schema, ids).asInstanceOf[ObjectNode]
      schemaNode.put("schema-id", 0)
      val fieldIdOf: Map[String, Int] = schemaNode.get("fields").elements().asScala
        .map(f => f.get("name").asText() -> f.get("id").asInt()).toMap

      val md = mapper.createObjectNode()
      md.put("format-version", formatVersion)
      if (formatVersion == 3) md.put("next-row-id", 0L): Unit
      md.put("table-uuid", java.util.UUID.randomUUID().toString)
      md.put("location", qualified.toString)
      md.put("last-sequence-number", 0L)
      md.put("last-updated-ms", System.currentTimeMillis())
      md.put("last-column-id", (fieldIdOf.values ++ Seq(ids.max)).max)
      md.put("current-schema-id", 0)
      md.putArray("schemas").add(schemaNode)
      md.put("default-spec-id", 0)
      val specNode = mapper.createObjectNode()
      specNode.put("spec-id", 0)
      val sf = specNode.putArray("fields")
      partFields.zipWithIndex.foreach { case ((t, c), i) =>
        val f = sf.addObject()
        f.put("name", graft.sources.IcebergTransforms.fieldName(t, c))
        f.put("transform", graft.sources.IcebergTransforms.render(t))
        f.put("source-id", fieldIdOf(c))
        f.put("field-id", 1000 + i)
      }
      md.putArray("partition-specs").add(specNode)
      md.put("last-partition-id", if (partFields.isEmpty) 999 else 999 + partFields.size)
      md.put("default-sort-order-id", 0)
      val so = md.putArray("sort-orders").addObject()
      so.put("order-id", 0)
      so.putArray("fields")
      md.putObject("properties").put("write.format.default", "parquet")
      md.putArray("snapshots")
      md.putArray("snapshot-log")
      md.putArray("metadata-log")
      Right((md, ()))
    }
  }

  /** True when an Iceberg table (version-hint or any `v<N>.metadata.json`)
    * exists at `tablePath`. */
  def exists(spark: SparkSession, tablePath: String): Boolean = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val metaDir = new Path(fs.makeQualified(table), "metadata")
    fs.exists(new Path(metaDir, "version-hint.text")) ||
      (fs.exists(metaDir) && fs.listStatus(metaDir).exists(
        _.getPath.getName.matches("""v\d+\.metadata\.json""")))
  }

  /** Append `df` as one new snapshot. Returns the new snapshot id.
    * `summary` entries join the snapshot summary — the Iceberg
    * commit-dedup convention streaming sinks use for exactly-once
    * ([[lastAppliedBatch]]).
    */
  def append(
      spark: SparkSession, tablePath: String, df: DataFrame,
      summary: Seq[(String, String)] = Nil,
      branch: Option[String] = None): Long =
    commitDataSnapshot(spark, tablePath, df, "append", carryPrior = true,
      extraSummary = summary, toBranch = branch)

  /** ONE-SNAPSHOT MERGE (the CDC-apply shape of Iceberg's MERGE INTO
    * commit): every key tuple of `batch` becomes an equality delete at
    * the new sequence number N, and the rows NOT marked deleted append
    * at the SAME N — the spec applies equality deletes only to
    * `data_seq < delete_seq`, so the new rows survive while every prior
    * version of the same keys drops. Upserts and deletes thus land
    * ATOMICALLY in one `overwrite` snapshot: there is no window where a
    * crash leaves the delete committed but the re-insert missing (the
    * failure mode of composing `deleteWhere` + `append`), which is what
    * makes the exactly-once streaming sink
    * ([[graft.streaming.Streams.icebergMergeSink]]) safe under
    * crash-replay. `opCol`, when set, names a column whose value
    * `deleteOp` marks delete-without-replacement rows (CDC tombstones);
    * it never reaches the table. `summary` carries the sink's commit-
    * dedup stamp. No data rewrite: the delete is metadata + one small
    * parquet of keys, the append only the batch's own rows.
    */
  def mergeBatch(
      spark: SparkSession,
      tablePath: String,
      batch: DataFrame,
      keys: Seq[String],
      opCol: Option[String] = None,
      deleteOp: String = "D",
      summary: Seq[(String, String)] = Nil): Long = {
    require(keys.nonEmpty, "mergeBatch needs at least one key column")
    def q(n: String) = col(s"`${n.replace("`", "``")}`")
    val dels = batch.select(keys.map(q): _*).distinct()
    val appends = opCol match {
      case Some(c) =>
        batch.filter(!coalesce(q(c) === lit(deleteOp), lit(false))).drop(c)
      case None => batch
    }
    commitDataSnapshot(spark, tablePath, appends, "overwrite",
      carryPrior = true, extraSummary = summary, eqDeletes = Some(dels))
  }

  /** The highest `graft.txn-batch` recorded in any snapshot summary whose
    * `graft.txn-app-id` equals `appId` (-1 when none) — the read half of
    * the streaming sink's exactly-once contract. Snapshot-metadata-only.
    * Caveat (same as Delta's SetTransaction retention): expireSnapshots
    * must keep at least the newest stamped snapshot, or a crash-replay
    * older than the retention horizon re-applies.
    */
  def lastAppliedBatch(
      spark: SparkSession, tablePath: String, appId: String): Long = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val md = IcebergRead.currentMetadata(
      fs, new Path(fs.makeQualified(table), "metadata"))
    md.get("snapshots").elements().asScala.flatMap { s =>
      Option(s.get("summary")).filterNot(_.isNull)
        .filter(n => Option(n.get("graft.txn-app-id"))
          .exists(_.asText() == appId))
        .flatMap(n => Option(n.get("graft.txn-batch")).map(_.asText().toLong))
    }.foldLeft(-1L)(math.max)
  }

  /** OPTIMIZE (rewrite-data-files, whole-table): read the CURRENT live
    * rows — position and equality deletes applied — and commit them back
    * as ~`targetFileBytes` files in a `replace` snapshot whose manifest
    * list carries ONLY the new manifest: stale delete files drop out with
    * the data files they masked (their effect is baked into the rewrite),
    * and the new files' higher sequence number keeps the spec's delete
    * rules vacuous for them. Prior snapshots keep their own manifest
    * lists, so time travel is untouched. Metadata-bounded planning (one
    * distributed aggregate over the live-entry index sizes the output);
    * the data pass is one distributed read + write. No-op (current
    * snapshot returned) on a table with no live data files.
    */
  def rewriteDataFiles(
      spark: SparkSession,
      tablePath: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    import org.apache.spark.sql.functions.{sum, when}
    val stats = IcebergRead.files(spark, tablePath).agg(
      sum(when(col("content") === 0, 1L).otherwise(0L)).as("n_data"),
      sum(when(col("content") =!= 0, 1L).otherwise(0L)).as("n_del"),
      sum(when(col("content") === 0, col("file_size_in_bytes"))
        .otherwise(0L)).as("bytes")).head()
    val (nData, nDel, bytes) =
      (Option(stats.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L),
        Option(stats.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L),
        Option(stats.get(2)).map(_.asInstanceOf[Long]).getOrElse(0L))
    if (nData == 0L) {
      val table = new Path(tablePath)
      val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
      val md = IcebergRead.currentMetadata(
        fs, new Path(fs.makeQualified(table), "metadata"))
      return Option(md.get("current-snapshot-id")).filterNot(_.isNull)
        .map(_.asLong()).getOrElse(-1L)
    }
    val parts = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    // v3: a rewrite must PRESERVE row lineage — read the live rows WITH
    // their lineage and materialize it into the compacted files (reserved
    // field ids), so surviving rows keep their original `_row_id`s
    val fsRw = new Path(tablePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val mdRw = IcebergRead.currentMetadata(
      fsRw, new Path(fsRw.makeQualified(new Path(tablePath)), "metadata"))
    val v3 = mdRw.get("format-version").asInt() == 3
    val live =
      if (v3) IcebergRead.read(spark, tablePath,
        IcebergRead.Options(exposeRowLineage = true))
      else IcebergRead.read(spark, tablePath)
    commitDataSnapshot(spark, tablePath, live.repartition(parts),
      "replace", carryPrior = false,
      extraSummary = Seq(
        "deleted-data-files" -> nData.toString,
        "removed-delete-files" -> nDel.toString),
      materializeLineage = v3)
  }

  /** Per-column min/max/null-count for a manifest entry's
    * `lower_bounds`/`upper_bounds`/`null_value_counts` maps (the Iceberg
    * analog of Delta's stats skipping), keyed by FIELD ID. */
  private[graft] type ColumnBounds = Map[Int, (Option[Array[Byte]], Option[Array[Byte]], Long)]

  /** The columns that get bounds: top-level int/long/date/timestamp[_ntz]/
    * string only, float/double excluded (NaN poisons bound ordering — the
    * spec's nan_value_counts dance is not worth the risk). `skip` names the
    * identity-partition source columns, which hive layout drops from the
    * files — their per-file values live in the manifest partition tuple.
    */
  private def boundColumns(logical: StructType, skip: Set[String]): Seq[StructField] =
    logical.fields.toSeq.filter { f =>
      !skip.contains(f.name) && (IcebergRead.clean(f.dataType) match {
        case IntegerType | LongType | DateType | TimestampType |
             TimestampNTZType | StringType => true
        case _ => false
      })
    }

  /** The bounds of one file from its aggregate row — min, max and null
    * count of each of `cols` from `first` on — single-value-serialized
    * (spec Appendix D). String bounds truncate to 16 code points (lower as
    * a prefix, upper via [[upperBoundString]]). Shared by the write tasks'
    * [[FileStatsTracker]] rows and the [[computeIcebergStats]] scan, so the
    * two cannot serialize differently.
    */
  private def boundsOf(r: org.apache.spark.sql.Row, first: Int, cols: Seq[StructField]): ColumnBounds =
    cols.zipWithIndex.map { case (f, i) =>
      val at = first + 3 * i
      val nulls = r.getLong(at + 2)
      val fid = IcebergRead.fieldId(f).toInt
      // collect()-JVM value → the pruning domain (Int / Long micros /
      // Int days / String)
      def norm(v: Any): Any = v match {
        case x: java.lang.Integer => x.intValue()
        case x: java.lang.Long => x.longValue()
        case s: String => s
        case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
        case d: java.time.LocalDate => d.toEpochDay.toInt
        case t: java.sql.Timestamp =>
          val inst = t.toInstant
          inst.getEpochSecond * 1000000L + inst.getNano / 1000L
        case t: java.time.Instant =>
          t.getEpochSecond * 1000000L + t.getNano / 1000L
        case l: java.time.LocalDateTime =>
          l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
            l.getNano / 1000L
        case other => other
      }
      if (r.isNullAt(at)) fid -> ((None, None, nulls)) // all-null column
      else {
        val loSer = norm(r.get(at)) match {
          case s: String => Some(IcebergTransforms.boundBytes(
            IcebergTransforms.truncateString(s, 16)))
          case other => Some(IcebergTransforms.boundBytes(other))
        }
        val hiSer = norm(r.get(at + 1)) match {
          case s: String => upperBoundString(s, 16).map(IcebergTransforms.boundBytes)
          case other => Some(IcebergTransforms.boundBytes(other))
        }
        fid -> ((loSer, hiSer, nulls))
      }
    }.toMap

  /** ONE distributed columnar scan over existing files → per-file
    * (record count, [[ColumnBounds]]): the reference the write path's
    * [[FileStatsTracker]] is pinned equal to. Columns as [[boundColumns]];
    * empty files get no entry. Returns Map.empty when no column is
    * eligible.
    */
  private[graft] def computeIcebergStats(
      spark: SparkSession,
      paths: Seq[String],
      logical: StructType,
      skip: Set[String]): Map[String, (Long, ColumnBounds)] = {
    import org.apache.spark.sql.functions.{count, lit, max => smax, min => smin, sum}
    if (paths.isEmpty) return Map.empty
    val eligible = boundColumns(logical, skip)
    if (eligible.isEmpty) return Map.empty
    val scanSchema = StructType(eligible.map(f =>
      StructField(f.name, IcebergRead.clean(f.dataType))))
    def q(n: String) = col(s"`${n.replace("`", "``")}`")
    val aggs = count(lit(1)).as("_n") +: eligible.zipWithIndex.flatMap { case (f, i) =>
      Seq(smin(q(f.name)).as(s"_min_$i"), smax(q(f.name)).as(s"_max_$i"),
        sum(q(f.name).isNull.cast("long")).as(s"_null_$i"))
    }
    val rows = spark.read.schema(scanSchema).parquet(paths: _*)
      .groupBy(col("_metadata.file_path").as("_f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    // `_metadata.file_path` is the URI-encoded spelling — decode before
    // matching the raw FS paths (same dance as DeltaWrite.computeStats)
    val wanted: Map[String, String] = paths.map(p => new Path(p).toString -> p).toMap
    rows.flatMap { r =>
      val abs =
        try new Path(new java.net.URI(r.getString(0))).toString
        catch { case _: Exception => new Path(r.getString(0)).toString }
      wanted.get(abs).map(orig => orig -> ((r.getLong(1), boundsOf(r, 2, eligible))))
    }.toMap
  }

  /** A 16-code-point VALID upper bound for `s`: the truncated prefix with
    * its last code point incremented (None when un-incrementable). */
  private[graft] def upperBoundString(s: String, w: Int): Option[String] = {
    if (s.codePointCount(0, s.length) <= w) return Some(s)
    val pre = graft.sources.IcebergTransforms.truncateString(s, w)
    val lastStart = pre.offsetByCodePoints(pre.length, -1)
    val cp = pre.codePointAt(lastStart)
    if (cp >= 0x10FFFF) None
    else {
      // never land in the surrogate range (unencodable as UTF-8)
      val next = if (cp + 1 >= 0xD800 && cp + 1 <= 0xDFFF) 0xE000 else cp + 1
      Some(pre.substring(0, lastStart) + new String(Character.toChars(next)))
    }
  }

  /** `df` on a clone of `spark` that writes parquet timestamps as int64
    * micros: the setting stays on the clone, so a concurrent parquet write
    * on `spark` keeps the session's own timestamp type.
    */
  private def withMicrosTimestamps(spark: SparkSession, df: DataFrame): DataFrame =
    GraftShims.ofRows(GraftShims.cloneSession(spark,
      Map("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")), df)

  /** Write ONE equality-delete parquet under `data/` for `values`, whose
    * columns name the equality fields (resolved against `logical` for
    * types + field ids). int64-micros timestamps enforced. Returns
    * (path, equality fields, row count, byte length).
    */
  private def writeEqDeleteFile(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      qualified: Path,
      logical: StructType,
      values: DataFrame): (Path, Seq[StructField], Long, Long) = {
    val conf = spark.sessionState.newHadoopConf()
    val byName = logical.fields.map(f => f.name -> f).toMap
    val eqFields = values.columns.toSeq.map(c => byName.getOrElse(c,
      throw new IllegalArgumentException(s"equality column $c not in table schema")))
    require(eqFields.nonEmpty, "equality delete needs at least one column")
    val delSchema = StructType(eqFields.map(f =>
      StructField(f.name, IcebergRead.clean(f.dataType), nullable = true,
        metadata = new MetadataBuilder()
          .putLong("parquet.field.id", IcebergRead.fieldId(f)).build())))
    val out = values.select(delSchema.fields.toIndexedSeq.map(f =>
      col(s"`${f.name.replace("`", "``")}`")
        .cast(f.dataType).as(f.name, f.metadata)): _*)
    val tmp = new Path(qualified, s"_tmp-del-${java.util.UUID.randomUUID()}")
    // same int64-micros discipline as commitDataSnapshot: a timestamp
    // equality column written as Spark's default INT96 would make the
    // delete file undecodable for spec-conformant foreign readers
    withMicrosTimestamps(spark, out.coalesce(1)).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath).find(p =>
      p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no parquet part under $tmp"))
    val dataDir = new Path(qualified, "data")
    fs.mkdirs(dataDir)
    val delPath = new Path(dataDir, s"eq-delete-${java.util.UUID.randomUUID()}.parquet")
    require(fs.rename(part, delPath), s"rename to $delPath failed")
    fs.delete(tmp, true)
    val r = LocalIo.openParquet(delPath, conf)
    val delRows = try r.getRecordCount finally r.close()
    (delPath, eqFields, delRows, fs.getFileStatus(delPath).getLen)
  }

  /** Write an equality-delete MANIFEST (content = deletes) holding one
    * delete-file entry at `sequence`. Returns (manifest path, length).
    */
  private def writeEqDeleteManifest(
      fs: org.apache.hadoop.fs.FileSystem,
      metaDir: Path,
      delPath: Path,
      eqFields: Seq[StructField],
      delRows: Long,
      delLen: Long,
      sequence: Long,
      snapshotId: Long,
      fv: Int = 2): (Path, Long) = {
    val entrySchema = IcebergExport.manifestEntrySchema(Nil, v3 = fv == 3)
    val dfSchema = entrySchema.getField("data_file").schema()
    val manifestPath = new Path(metaDir, s"${java.util.UUID.randomUUID()}-m1.avro")
    val mw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](entrySchema))
    mw.setMeta("format-version", fv.toString)
    mw.setMeta("content", "deletes")
    mw.create(entrySchema, LocalIo.create(fs, manifestPath, true))
    try {
      val d = new GenericData.Record(dfSchema)
      d.put("content", 2) // EQUALITY_DELETES
      d.put("file_path", delPath.toString)
      d.put("file_format", "PARQUET")
      d.put("partition",
        new GenericData.Record(dfSchema.getField("partition").schema()))
      d.put("record_count", delRows)
      d.put("file_size_in_bytes", delLen)
      d.put("equality_ids", new GenericData.Array[Integer](
        dfSchema.getField("equality_ids").schema().getTypes.get(1),
        eqFields.map(f => Integer.valueOf(IcebergRead.fieldId(f).toInt)).asJava))
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1)
      e.put("snapshot_id", snapshotId)
      e.put("sequence_number", sequence)
      e.put("file_sequence_number", sequence)
      e.put("data_file", d)
      mw.append(e)
    } finally mw.close()
    (manifestPath, fs.getFileStatus(manifestPath).getLen)
  }

  private def commitDataSnapshot(
      spark: SparkSession,
      tablePath: String,
      df: DataFrame,
      operation: String,
      carryPrior: Boolean,
      extraSummary: Seq[(String, String)] = Nil,
      // write-audit-publish: commit onto a BRANCH head instead of main —
      // current-snapshot-id and the snapshot-log stay untouched, only
      // refs[branch] advances (created from the current state if absent)
      toBranch: Option[String] = None,
      // r17 (single-snapshot MERGE): an equality-delete frame committed
      // ATOMICALLY with the data at the SAME sequence number N — the spec
      // applies equality deletes only to data_seq < delete_seq, so the
      // new rows survive while prior versions of the same keys drop
      eqDeletes: Option[DataFrame] = None,
      // r17 (dynamic partition overwrite): prior data files whose
      // partition tuple matches one of the NEW files' tuples are dropped
      // from the carried manifests — [[replacePartitions]]
      dropTouchedPartitions: Boolean = false,
      // r18 (v3 rewrite): `df` carries `_row_id`/
      // `_last_updated_sequence_number` columns that must MATERIALIZE
      // into the data files under the spec's reserved field ids (the
      // preserve-lineage contract for rewritten rows); entries then omit
      // first_row_id and the snapshot consumes no new row ids
      materializeLineage: Boolean = false): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val table = new Path(tablePath)
    val fs = table.getFileSystem(conf)
    val qualified = fs.makeQualified(table)
    require(!fs.exists(new Path(qualified, "_delta_log")),
      s"$tablePath is Delta-backed (UniForm export): an Iceberg-side append " +
        "would desync the logs — write through Delta and re-export instead")
    val metaDir = new Path(qualified, "metadata")
    update(fs, metaDir) { md =>
      // v2 AND v3 (r18): a v3 commit additionally assigns row-lineage ids
      // (entry first_row_id from the metadata's next-row-id; snapshot
      // first-row-id/added-rows) and spells format-version 3 in manifests
      val fv = md.get("format-version").asInt()
      require(fv == 2 || fv == 3, s"format-version $fv not supported")

      // ---- schema + spec from the CURRENT metadata
      val csid = md.get("current-schema-id").asInt()
      val schemaNode = md.get("schemas").elements().asScala
        .find(s => Option(s.get("schema-id")).exists(_.asInt() == csid))
        .getOrElse(throw new IllegalArgumentException(s"schema $csid missing"))
      val logical = IcebergRead.parseType(schemaNode).asInstanceOf[StructType]
      IcebergRead.refuseDivergentWrite(logical, "commitDataSnapshot")
      val idToName = logical.fields.map(f => IcebergRead.fieldId(f) -> f.name).toMap
      val specId = md.get("default-spec-id").asInt()
      val specNode = md.get("partition-specs").elements().asScala
        .find(_.get("spec-id").asInt() == specId)
        .getOrElse(throw new IllegalArgumentException(s"spec $specId missing"))
      // (spec field name, transform, source column, clean source type, field id)
      val specFields: Seq[(String, graft.sources.IcebergTransforms.Transform,
          String, DataType, Int)] =
        specNode.get("fields").elements().asScala.map { f =>
          val t = graft.sources.IcebergTransforms.parse(f.get("transform").asText())
          val src = idToName(f.get("source-id").asLong())
          val srcType = IcebergRead.clean(
            logical.fields.find(_.name == src).get.dataType)
          (f.get("name").asText(), t, src, srcType,
            Option(f.get("field-id")).map(_.asInt()).getOrElse(1000))
        }.toSeq

      // ---- data write: cast to the table schema with field ids stamped at
      // every struct level (Spark's writer emits them natively); identity
      // partitions use partitionBy (Hive layout — Iceberg readers constant-
      // fill identity source columns from the manifest partition tuple)
      def stamp(dt: DataType): DataType = dt match {
        case st: StructType => StructType(st.fields.map { f =>
          f.copy(dataType = stamp(f.dataType),
            metadata = new MetadataBuilder().withMetadata(f.metadata)
              .putLong("parquet.field.id", IcebergRead.fieldId(f)).build())
        })
        case ArrayType(et, n) => ArrayType(stamp(et), n)
        case MapType(k, v, n) => MapType(stamp(k), stamp(v), n)
        case other => other
      }
      val stamped = stamp(logical).asInstanceOf[StructType]
      val present = df.columns.toSet
      require(!materializeLineage || fv == 3,
        "lineage materialization is a format-version 3 contract")
      // v3 rewrite: the reserved lineage columns ride into the parquet with
      // their spec field ids, invisible to the logical schema
      val lineageOut: Seq[Column] =
        if (!materializeLineage) Nil
        else Seq(
          col("`_row_id`").as("_row_id", new MetadataBuilder()
            .putLong("parquet.field.id", IcebergRead.RowIdFieldId).build()),
          col("`_last_updated_sequence_number`")
            .as("_last_updated_sequence_number", new MetadataBuilder()
              .putLong("parquet.field.id", IcebergRead.LastUpdatedFieldId).build()))
      val out = df.select(stamped.fields.toIndexedSeq.map { f =>
        val c =
          if (present(f.name)) col(s"`${f.name.replace("`", "``")}`")
          else org.apache.spark.sql.functions.lit(null) // evolved column absent from this batch
        c.cast(f.dataType).as(f.name, f.metadata)
      } ++ lineageOut: _*)
      // derive the partition TUPLE columns (codegen'd transform of the
      // source column): identity reuses the source name, so hive layout
      // drops it from the file (readers re-inject from the manifest tuple);
      // a non-identity derived column is an EXTRA name partitionBy drops,
      // and the source column stays in the file — required, since a
      // transform value cannot reconstruct the source
      val withParts = specFields.foldLeft(out) { case (d, (name, t, src, srcType, _)) =>
        d.withColumn(name, graft.sources.IcebergTransforms.column(
          t, col(s"`${src.replace("`", "``")}`"), srcType))
      }
      // the PARENT state this commit builds on: the branch head for a
      // branch commit (falling back to the current state when the branch
      // does not exist yet), the current snapshot otherwise
      val baseSnapshotId: Option[Long] =
        toBranch.filter(_ != "main").flatMap(refSnapshotId(md, _))
          .orElse(currentSnapshotId(md))
      val tmp = new Path(qualified, s"_tmp-append-${java.util.UUID.randomUUID()}")
      // Iceberg REQUIRES timestamps as int64 micros (spec "Parquet" map);
      // Spark's default INT96 is non-conformant for foreign readers
      val written = withMicrosTimestamps(spark, withParts)
      val partNames = specFields.map(_._1)
      val identitySources: Set[String] = specFields.collect {
        case (_, graft.sources.IcebergTransforms.Identity, src, _, _) => src }.toSet
      // per-file record counts and bounds come from the write tasks
      val boundCols = boundColumns(logical, identitySources)
      val tracker = new FileStatsTracker(
        StructType(written.schema.fields.filterNot(f => partNames.contains(f.name))),
        boundCols.map(_.name), partNames.size)
      GraftShims.writeParquet(written, tmp.toString, partNames, Seq(tracker))
      val fileStats = tracker.rows

      // collect written part files (+ their hive partition values, through
      // the one hive segment parser), move them under data/ with fresh
      // unique names — renames run on a BOUNDED POOL (r17: thousands of
      // object-store renames must not serialize through one thread)
      val dataDir = new Path(qualified, "data")
      fs.mkdirs(dataDir)
      val staged = Seq.newBuilder[(Path, Seq[(String, Option[String])], Long, String)]
      def walk(dir: Path, pv: Seq[(String, Option[String])], rel: String): Unit =
        fs.listStatus(dir).foreach { st =>
          val name = st.getPath.getName
          val key = if (rel.isEmpty) name else s"$rel/$name"
          if (st.isDirectory && name.contains("=")) {
            walk(st.getPath, pv ++ DeltaWrite.hivePartitionValues(Seq(name)), key)
          } else if (name.startsWith("part-") && name.endsWith(".parquet")) {
            staged += ((st.getPath, pv, st.getLen, key))
          }
        }
      walk(tmp, Nil, "")
      val stagedFiles = staged.result()
      val renamed: Seq[(Path, Seq[(String, Option[String])], Long, String)] =
        if (stagedFiles.isEmpty) Nil
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(16, stagedFiles.size))
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutor(pool)
          try scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(stagedFiles.map { case (src, pv, len, key) =>
              scala.concurrent.Future {
                val target = new Path(dataDir, s"${java.util.UUID.randomUUID()}.parquet")
                require(fs.rename(src, target), s"rename to $target failed")
                (target, pv, len, key)
              }
            }),
            scala.concurrent.duration.Duration.Inf)
          finally pool.shutdown()
        }
      fs.delete(tmp, true)
      val files: Seq[(Path, Seq[(String, Option[String])], Long, Long, ColumnBounds)] =
        renamed.map { case (target, pv, len, key) =>
          // every file the writer produced passed through the tracker: a
          // file without stats fails loudly rather than committing a blind
          // entry. An EMPTY file (a tiny batch repartitioned wider than its
          // row count) is listed with no bounds.
          val r = fileStats.getOrElse(key,
            throw new IllegalStateException(s"no write stats for new file $target ($key)"))
          val rc = r.getLong(0)
          (target, pv, rc, len, if (rc == 0L) Map.empty: ColumnBounds else boundsOf(r, 1, boundCols))
        }
      val rows = files.map(_._3).sum

      // ---- new manifest (ADDED entries at the next sequence number)
      val prevSeq = md.get("last-sequence-number").asLong()
      val sequence = prevSeq + 1
      val snapshotId = math.abs(java.util.UUID.randomUUID().getLeastSignificantBits)
      // avro type + hive-dir-string converter per spec field, typed by the
      // TRANSFORM RESULT (int for year/month/hour/bucket, date for day, the
      // source type for identity/truncate)
      val partAvro: Seq[(String, String, Int, String => AnyRef)] =
        specFields.map { case (name, t, _, srcType, fid) =>
          val (at, conv) = IcebergExport.partitionAvro(
            graft.sources.IcebergTransforms.resultSparkType(t, srcType))
          (name, at, fid, conv)
        }
      val entrySchema = IcebergExport.manifestEntrySchema(
        partAvro.map { case (c, t, fid, _) => (c, t, fid) }, v3 = fv == 3)
      val dfSchema = entrySchema.getField("data_file").schema()
      val partSchema = dfSchema.getField("partition").schema()
      val manifestPath = new Path(metaDir, s"${java.util.UUID.randomUUID()}-m0.avro")
      val mw = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](entrySchema))
      mw.setMeta("format-version", fv.toString)
      mw.setMeta("content", "data")
      mw.setMeta("schema", schemaNode.toString)
      mw.setMeta("partition-spec", specNode.get("fields").toString)
      mw.setMeta("partition-spec-id", specId.toString)
      mw.create(entrySchema, LocalIo.create(fs, manifestPath, true))
      // v3 row lineage: each data file's first_row_id assigns sequentially
      // from the metadata's next-row-id (rewrites materialize per-row ids
      // into the files instead and consume none)
      val firstRowIdBase: Long =
        if (fv == 3) Option(md.get("next-row-id")).filterNot(_.isNull)
          .map(_.asLong()).getOrElse(0L)
        else 0L
      var rowIdCursor = firstRowIdBase
      try files.foreach { case (p, pv, rc, len, stats) =>
        val part = new GenericData.Record(partSchema)
        partAvro.foreach { case (c, _, _, conv) =>
          val raw = pv.collectFirst { case (k, v) if k == c => v }.flatten
          part.put(c, raw.map(conv).orNull)
        }
        val d = new GenericData.Record(dfSchema)
        d.put("content", 0)
        d.put("file_path", p.toString)
        d.put("file_format", "PARQUET")
        d.put("partition", part)
        d.put("record_count", rc)
        d.put("file_size_in_bytes", len)
        if (fv == 3 && !materializeLineage) {
          d.put("first_row_id", rowIdCursor)
          rowIdCursor += rc
        }
        if (stats.nonEmpty) {
          def kv(field: String, entries: Seq[(Int, AnyRef)]): Unit =
            if (entries.nonEmpty) {
              val arrSchema = dfSchema.getField(field).schema().getTypes.get(1)
              val rec = arrSchema.getElementType
              val arr = new GenericData.Array[GenericRecord](entries.size, arrSchema)
              entries.foreach { case (fid, v) =>
                val e = new GenericData.Record(rec)
                e.put("key", fid)
                e.put("value", v)
                arr.add(e)
              }
              d.put(field, arr)
            }
          val fids = stats.keys.toSeq.sorted
          kv("null_value_counts",
            fids.map(fid => fid -> java.lang.Long.valueOf(stats(fid)._3)))
          kv("lower_bounds", fids.flatMap(fid =>
            stats(fid)._1.map(b => fid -> java.nio.ByteBuffer.wrap(b))))
          kv("upper_bounds", fids.flatMap(fid =>
            stats(fid)._2.map(b => fid -> java.nio.ByteBuffer.wrap(b))))
        }
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1)
        e.put("snapshot_id", snapshotId)
        e.put("sequence_number", sequence)
        e.put("file_sequence_number", sequence)
        e.put("data_file", d)
        mw.append(e)
      } finally mw.close()
      val manifestLen = fs.getFileStatus(manifestPath).getLen

      // single-snapshot MERGE: the equality-delete file + its manifest land
      // at the SAME sequence as the data above (r17)
      val delManifest: Option[(Path, Long, Long)] = eqDeletes.map { values =>
        val (delPath, eqFields, delRows, delLen) =
          writeEqDeleteFile(spark, fs, qualified, logical, values)
        val (mp, ml) = writeEqDeleteManifest(
          fs, metaDir, delPath, eqFields, delRows, delLen, sequence, snapshotId,
          fv)
        (mp, ml, delRows)
      }

      // ---- manifest list: prior manifests carried verbatim + the new one
      var overwriteDropped = (0L, 0L) // (files, rows) replaced by the overwrite
      val listPath = IcebergExport.writeManifestList(
          fs, metaDir, fv, snapshotId, sequence) { lw =>
        if (carryPrior) {
          // dynamic partition overwrite: tuples the NEW files land in, in
          // the pruning's normalized domain (unmodeled value types fall
          // back to a tagged raw string — identical on both sides, never
          // equal to a null)
          def normalized(v: AnyRef): Any =
            graft.sources.IcebergTransforms.normalizeRaw(v)
              .getOrElse("raw:" + String.valueOf(v))
          lazy val touched: Set[Seq[Option[Any]]] = files.map { case (_, pv, _, _, _) =>
            partAvro.map { case (c, _, _, conv) =>
              pv.collectFirst { case (k, v) if k == c => v }.flatten
                .map(s => normalized(conv(s)))
            }
          }.toSet
          def tupleOf(e: GenericRecord): Seq[Option[Any]] = {
            val part = e.get("data_file").asInstanceOf[GenericRecord]
              .get("partition").asInstanceOf[GenericRecord]
            partAvro.map { case (n, _, _, _) => Option(part.get(n)).map(normalized) }
          }
          overwriteDropped = carryManifests(
            lw, md, conf, metaDir, baseSnapshotId, snapshotId) { rec =>
            // only DATA manifests holding touched entries rewrite; delete
            // manifests carry verbatim. A tuple comparison across
            // partition specs would be meaningless, so that refuses.
            if (!dropTouchedPartitions || listContent(rec) != 0) None
            else {
              val manSpec = rec.get("partition_spec_id") match {
                case i: java.lang.Integer => i.intValue()
                case _ => specId
              }
              require(manSpec == specId || touched.isEmpty,
                "replacePartitions across partition-spec evolution is not " +
                  "supported — rewriteDataFiles (which re-tuples under the " +
                  "current spec) first")
              Some(e => touched.contains(tupleOf(e)))
            }
          }
        }
        val m = IcebergExport.addedManifest(manifestPath, manifestLen, specId, 0,
          sequence, snapshotId, files.size, rows)
        // per-field partition summaries (contains_null + single-value-
        // serialized bounds): what lets a reader SKIP this manifest without
        // opening it when a predicate cannot overlap — plan cost at scale
        // becomes proportional to surviving manifests
        if (partAvro.nonEmpty) {
          import graft.sources.IcebergTransforms
          val sums = partAvro.map { case (c, _, _, conv) =>
            val vals = files.map(
              _._2.collectFirst { case (k, v) if k == c => v }.flatten)
            val containsNull = vals.exists(_.isEmpty)
            val normalized = vals.flatten.map(v =>
              IcebergTransforms.normalizeRaw(conv(v)))
            if (normalized.isEmpty || normalized.exists(_.isEmpty))
              (containsNull, None, None)
            else {
              val vsn = normalized.flatten
              val lo = vsn.reduceLeft((a, b) =>
                if (IcebergTransforms.cmp(a, b) <= 0) a else b)
              val hi = vsn.reduceLeft((a, b) =>
                if (IcebergTransforms.cmp(a, b) >= 0) a else b)
              (containsNull, Some(IcebergTransforms.boundBytes(lo)),
                Some(IcebergTransforms.boundBytes(hi)))
            }
          }
          m.put("partitions", IcebergExport.partitionsSummary(sums))
        }
        lw.append(m)
        delManifest.foreach { case (mp, ml, delRows) =>
          lw.append(IcebergExport.addedManifest(mp, ml, specId, 1, sequence,
            snapshotId, 1, delRows))
        }
      }

      // ---- metadata: new snapshot appended, version bumped
      // row-lineage accounting (v3): the snapshot claims [first-row-id,
      // first-row-id + added-rows) of the table's id space; a
      // materializing rewrite preserves ids and claims none
      if (fv == 3) md.put("next-row-id", rowIdCursor): Unit
      addSnapshot(md, snapshotId, baseSnapshotId, sequence, listPath, csid,
        Seq("operation" -> operation,
          "added-data-files" -> files.size.toString,
          "added-records" -> rows.toString) ++
          delManifest.toSeq.flatMap { case (_, _, delRows) =>
            Seq("added-delete-files" -> "1",
              "added-equality-deletes" -> delRows.toString) } ++
          (if (dropTouchedPartitions)
            Seq("deleted-data-files" -> overwriteDropped._1.toString,
              "deleted-records" -> overwriteDropped._2.toString)
          else Nil) ++ extraSummary,
        lineage = Option.when(fv == 3)((firstRowIdBase,
          if (materializeLineage) 0L else rowIdCursor - firstRowIdBase)),
        branch = toBranch)
      Right(snapshotId)
    }
  }

  /** METADATA-ONLY DELETE via an Iceberg v2 EQUALITY delete file: every
    * row of `values` (whose columns name the equality fields) marks all
    * table rows equal on those columns as deleted — applying to data
    * files with `data_seq < delete_seq` per the spec, i.e. everything
    * committed so far; nulls match nulls. No data rewrite at any table
    * size; the reader ([[IcebergRead]]) applies it as a null-safe
    * anti-join. Returns the new snapshot id.
    */
  def deleteWhere(spark: SparkSession, tablePath: String, values: DataFrame): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val table = new Path(tablePath)
    val fs = table.getFileSystem(conf)
    val qualified = fs.makeQualified(table)
    require(!fs.exists(new Path(qualified, "_delta_log")),
      s"$tablePath is Delta-backed (UniForm export): an Iceberg-side delete " +
        "would desync the logs — write through Delta and re-export instead")
    val metaDir = new Path(qualified, "metadata")
    update(fs, metaDir) { md =>
      val csid = md.get("current-schema-id").asInt()
      val schemaNode = md.get("schemas").elements().asScala
        .find(s => Option(s.get("schema-id")).exists(_.asInt() == csid))
        .getOrElse(throw new IllegalArgumentException(s"schema $csid missing"))
      val logical = IcebergRead.parseType(schemaNode).asInstanceOf[StructType]

      // v3: position deletes MUST be deletion vectors (the spec deprecates
      // new position-delete files and this engine's v2 equality-delete
      // shape would mix protocols) — resolve the matching rows to
      // per-file positions and write ONE puffin of consolidated DVs. The
      // divergent-type guard does NOT apply here: a DV delete writes no
      // row data, so variant/ns columns in the schema are harmless.
      val fv = md.get("format-version").asInt()
      if (fv == 3)
        deleteWhereDv(spark, tablePath, qualified, metaDir, fs, md,
          logical, values, csid)
      else {
        require(fv == 2, s"format-version $fv not supported for deleteWhere")
        IcebergRead.refuseDivergentWrite(logical, "deleteWhere")

        // delete file + manifest (content=1 in the list; data_file.content=2)
        // with the equality ids; unpartitioned-scoped, so it applies table-wide
        val prevSeq = md.get("last-sequence-number").asLong()
        val sequence = prevSeq + 1
        val snapshotId = math.abs(java.util.UUID.randomUUID().getLeastSignificantBits)
        val (delPath, eqFields, delRows, delLen) =
          writeEqDeleteFile(spark, fs, qualified, logical, values)
        val (manifestPath, manifestLen) = writeEqDeleteManifest(
          fs, metaDir, delPath, eqFields, delRows, delLen, sequence, snapshotId)

        val listPath = IcebergExport.writeManifestList(
            fs, metaDir, 2, snapshotId, sequence) { lw =>
          carryManifests(lw, md, conf, metaDir, currentSnapshotId(md), snapshotId)(_ => None)
          lw.append(IcebergExport.addedManifest(manifestPath, manifestLen,
            md.get("default-spec-id").asInt(), 1, sequence, snapshotId, 1, delRows))
        }

        addSnapshot(md, snapshotId, currentSnapshotId(md), sequence, listPath, csid,
          Seq("operation" -> "delete", "added-delete-files" -> "1",
            "added-equality-deletes" -> delRows.toString))
        Right(snapshotId)
      }
    }
  }

  /** DELETE-FILE COMPACTION (the maintenance complement of r17's
    * read-side delete batching): every live EQUALITY delete file converts
    * into ONE sorted position-delete file, so a long CDC history's
    * delete-union cost stops growing with delete-file count — the read
    * plan afterwards is a single (file_path, pos) anti-join however many
    * equality deletes had piled up. Exactness: a row is position-killed
    * iff some equality delete with `data_seq < delete_seq` matched it —
    * the spec's rule, applied here once at compaction time; equality
    * deletes never affect FUTURE appends, so the conversion loses
    * nothing. Data files are untouched (position deletes apply at
    * `data_seq <= delete_seq`, and the new file's sequence covers every
    * current data file); replaced equality entries re-emit DELETED.
    * Position-delete files and DVs already in place carry unchanged.
    * Scale shape: one distributed scan of the data + one broadcast
    * semi-join per distinct equality-id set; the killed positions never
    * visit the driver. Returns the new snapshot id (the current one when
    * no equality delete is live). v2 only — v3 tables consolidate
    * through [[deleteWhere]]'s DV path instead.
    */
  def rewriteDeleteFiles(spark: SparkSession, tablePath: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val table = new Path(tablePath)
    val fs = table.getFileSystem(conf)
    val qualified = fs.makeQualified(table)
    require(!fs.exists(new Path(qualified, "_delta_log")),
      s"$tablePath is Delta-backed (UniForm export): compact deletes " +
        "through Delta and re-export instead")
    val metaDir = new Path(qualified, "metadata")
    update(fs, metaDir)(md =>
      compactEqualityDeletes(spark, tablePath, conf, fs, qualified, metaDir, md))
  }

  /** [[rewriteDeleteFiles]] against the resolved metadata `md`; Left when
    * there is nothing to compact. */
  private def compactEqualityDeletes(
      spark: SparkSession,
      tablePath: String,
      conf: org.apache.hadoop.conf.Configuration,
      fs: org.apache.hadoop.fs.FileSystem,
      qualified: Path,
      metaDir: Path,
      md: ObjectNode): Either[Long, Long] = {
    import org.apache.spark.sql.functions.broadcast
    require(md.get("format-version").asInt() == 2,
      "rewriteDeleteFiles is the v2 maintenance op — a v3 table's " +
        "deletes consolidate as deletion vectors through deleteWhere")
    val curSnapId = currentSnapshotId(md)
    if (curSnapId.isEmpty) return Left(-1L)

    // ---- live equality-delete entries + data file spellings
    val priorList = md.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == curSnapId.get).get
      .get("manifest-list").asText()
    def norm(raw: String): String =
      new Path(raw).toUri.toString
        .replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")
    val eqFiles = Seq.newBuilder[(String, Long, Seq[Int])] // path, seq, ids
    val dataRefByNorm = Map.newBuilder[String, String]
    IcebergRead.avroRecords(conf, new Path(priorList)).foreach { m =>
      val mContent = IcebergRead.fieldOpt(m, "content")
        .map(_.asInstanceOf[Int]).getOrElse(0)
      IcebergRead.avroRecords(conf, new Path(m.get("manifest_path").toString))
        .foreach { e =>
          if (e.get("status").asInstanceOf[Int] != 2) {
            val d = e.get("data_file").asInstanceOf[GenericRecord]
            val dContent = IcebergRead.fieldOpt(d, "content")
              .map(_.asInstanceOf[Int]).getOrElse(0)
            val path = d.get("file_path").toString
            if (mContent == 0 && dContent == 0)
              dataRefByNorm += norm(path) -> path
            else if (dContent == 2) {
              val seq = IcebergRead.fieldOpt(e, "sequence_number")
                .map(_.asInstanceOf[Long]).getOrElse(
                  IcebergRead.fieldOpt(m, "sequence_number")
                    .map(_.asInstanceOf[Long]).getOrElse(0L))
              val ids = IcebergRead.fieldOpt(d, "equality_ids")
                .map(_.asInstanceOf[java.util.Collection[Integer]]
                  .asScala.map(_.intValue()).toSeq).getOrElse(Nil)
              eqFiles += ((path, seq, ids))
            }
          }
        }
    }
    val eqs = eqFiles.result()
    if (eqs.isEmpty) return Left(curSnapId.get)
    val dataRefs = dataRefByNorm.result()

    // ---- killed positions: raw rows (NO deletes planned) semi-joined
    // per distinct id set against that set's delete values, under the
    // spec's data_seq < delete_seq rule
    val csid = md.get("current-schema-id").asInt()
    val schemaNode = md.get("schemas").elements().asScala
      .find(s => Option(s.get("schema-id")).exists(_.asInt() == csid))
      .getOrElse(throw new IllegalArgumentException(s"schema $csid missing"))
    val logical = IcebergRead.parseType(schemaNode).asInstanceOf[StructType]
    val idToName = logical.fields.map(f =>
      IcebergRead.fieldId(f).toInt -> f.name).toMap
    val raw = IcebergRead.read(spark, tablePath,
      IcebergRead.Options(exposeFilePos = true, skipDeletes = true))
    val killedParts: Seq[DataFrame] = eqs.groupBy(_._3).toSeq.map {
      case (ids, files) =>
        val names = ids.map(id => idToName.getOrElse(id,
          throw new IllegalArgumentException(
            s"equality id $id not in current schema")))
        val dels = files.map { case (p, seq, _) =>
          spark.read.parquet(p)
            .select(names.map(n => col(s"`${n.replace("`", "``")}`")): _*)
            .withColumn("_del_seq", lit(seq))
        }.reduce(_ unionByName _)
          .withColumnsRenamed(names.map(n => n -> s"_dw_$n").toMap)
        val cond = names.map(n =>
          raw.col(n) <=> dels.col(s"_dw_$n")).reduce(_ && _) &&
          raw.col("_ib_seq") < dels.col("_del_seq")
        raw.join(broadcast(dels), cond, "left_semi")
          .select(col("_ib_file"), col("_ib_pos"))
    }
    val killed = killedParts.reduce(_ unionByName _)

    // map the scan's URI spellings back to the manifest-recorded ones
    // (exact file_path match is the foreign-reader contract)
    import spark.implicits._
    val refFrame = broadcast(
      dataRefs.toSeq.toDF("_norm", "_manifest_path"))
    val posRows = killed
      .withColumn("_norm", regexp_replace(col("_ib_file"),
        "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"))
      .join(refFrame, Seq("_norm"))
      .select(col("_manifest_path").as("file_path", new MetadataBuilder()
        .putLong("parquet.field.id", 2147483546L).build()),
        col("_ib_pos").as("pos", new MetadataBuilder()
          .putLong("parquet.field.id", 2147483545L).build()))

    // ---- ONE sorted position-delete parquet (spec: ordered by
    // file_path, then position)
    val tmp = new Path(qualified, s"_tmp-posdel-${java.util.UUID.randomUUID()}")
    posRows.coalesce(1).sortWithinPartitions("file_path", "pos")
      .write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath).find(p =>
      p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no parquet part under $tmp"))
    val dataDir = new Path(qualified, "data")
    fs.mkdirs(dataDir)
    val delPath = new Path(dataDir,
      s"pos-delete-${java.util.UUID.randomUUID()}.parquet")
    require(fs.rename(part, delPath), s"rename to $delPath failed")
    fs.delete(tmp, true)
    val delRows = {
      val r = LocalIo.openParquet(delPath, conf)
      try r.getRecordCount finally r.close()
    }

    // ---- new delete manifest: the position-delete entry
    val prevSeq = md.get("last-sequence-number").asLong()
    val sequence = prevSeq + 1
    val snapshotId = math.abs(java.util.UUID.randomUUID().getLeastSignificantBits)
    val entrySchema = IcebergExport.manifestEntrySchema(Nil)
    val dfSchema = entrySchema.getField("data_file").schema()
    val manifestPath = new Path(metaDir, s"${java.util.UUID.randomUUID()}-m1.avro")
    val mw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](entrySchema))
    mw.setMeta("format-version", "2")
    mw.setMeta("content", "deletes")
    mw.create(entrySchema, LocalIo.create(fs, manifestPath, true))
    try {
      val d = new GenericData.Record(dfSchema)
      d.put("content", 1) // POSITION_DELETES
      d.put("file_path", delPath.toString)
      d.put("file_format", "PARQUET")
      d.put("partition",
        new GenericData.Record(dfSchema.getField("partition").schema()))
      d.put("record_count", delRows)
      d.put("file_size_in_bytes", fs.getFileStatus(delPath).getLen)
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1)
      e.put("snapshot_id", snapshotId)
      e.put("sequence_number", sequence)
      e.put("file_sequence_number", sequence)
      e.put("data_file", d)
      mw.append(e)
    } finally mw.close()
    val manifestLen = fs.getFileStatus(manifestPath).getLen

    // ---- manifest list: carry everything, re-emitting every live
    // equality entry as DELETED (replaced by the position file)
    val listPath = IcebergExport.writeManifestList(
        fs, metaDir, 2, snapshotId, sequence) { lw =>
      carryManifests(lw, md, conf, metaDir, curSnapId, snapshotId) { rec =>
        if (listContent(rec) == 0) None
        else Some { e =>
          val d = e.get("data_file").asInstanceOf[GenericRecord]
          IcebergRead.fieldOpt(d, "content")
            .map(_.asInstanceOf[Int]).getOrElse(0) == 2
        }
      }
      lw.append(IcebergExport.addedManifest(manifestPath, manifestLen,
        md.get("default-spec-id").asInt(), 1, sequence, snapshotId, 1, delRows))
    }

    // ---- metadata
    addSnapshot(md, snapshotId, curSnapId, sequence, listPath, csid,
      Seq("operation" -> "replace", "added-delete-files" -> "1",
        "added-position-deletes" -> delRows.toString,
        "removed-delete-files" -> eqs.size.toString,
        "removed-equality-deletes" -> eqs.size.toString))
    Right(snapshotId)
  }

  /** v3 DELETE via DELETION VECTORS (Table Spec v3, which deprecates new
    * position-delete files): rows matching `values` (null-safe equality
    * on its columns, like the v2 equality path) resolve to per-file
    * positions; each affected data file gets ONE consolidated
    * `deletion-vector-v1` blob — existing DV ∪ new positions, the spec's
    * one-live-DV-per-file invariant the reader enforces — and all blobs
    * land in a single puffin container. Superseded DV entries re-emit as
    * status DELETED in rewritten delete manifests (the removals contract
    * for incremental consumers). Scale shape: bitmap union + roaring
    * serialization run on EXECUTORS keyed by file; the driver handles
    * only compressed DV bytes and metadata. Returns the new snapshot id
    * (the current one when nothing matched).
    */
  private def deleteWhereDv(
      spark: SparkSession,
      tablePath: String,
      qualified: Path,
      metaDir: Path,
      fs: org.apache.hadoop.fs.FileSystem,
      md: ObjectNode,
      logical: StructType,
      values: DataFrame,
      csid: Int): Either[Long, Long] = {
    import graft.sources.DeletionVectors
    val conf = spark.sessionState.newHadoopConf()
    // DV manifest entries here carry an EMPTY partition tuple, so every
    // declared spec must be unpartitioned (a partitioned v3 table needs
    // per-file tuple copying this writer does not do yet — refuse rather
    // than write spec-invalid entries)
    md.get("partition-specs").elements().asScala.foreach { sp =>
      require(!sp.get("fields").elements().hasNext,
        "v3 DV deletes support unpartitioned tables only")
    }
    def norm(raw: String): String =
      new Path(raw).toUri.toString
        .replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")
    val curSnapId = currentSnapshotId(md)
    if (curSnapId.isEmpty) return Left(-1L) // empty table: nothing to delete

    // ---- current live DV entries + data file spellings (driver scan,
    // bounded by manifest entry count — the same bound every read plans)
    val priorList = md.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == curSnapId.get).get
      .get("manifest-list").asText()
    val dataRefByNorm = Map.newBuilder[String, String]
    // norm(referenced data file) -> (puffin path, offset, size, ref spelling)
    val liveDvs = Map.newBuilder[String, (String, Long, Long, String)]
    IcebergRead.avroRecords(conf, new Path(priorList)).foreach { m =>
      val content = IcebergRead.fieldOpt(m, "content")
        .map(_.asInstanceOf[Int]).getOrElse(0)
      IcebergRead.avroRecords(conf, new Path(m.get("manifest_path").toString))
        .foreach { e =>
          if (e.get("status").asInstanceOf[Int] != 2) {
            val d = e.get("data_file").asInstanceOf[GenericRecord]
            val path = d.get("file_path").toString
            val dContent = IcebergRead.fieldOpt(d, "content")
              .map(_.asInstanceOf[Int]).getOrElse(0)
            if (content == 0 && dContent == 0)
              dataRefByNorm += norm(path) -> path
            else if (dContent == 1 &&
                d.get("file_format").toString.equalsIgnoreCase("PUFFIN")) {
              val ref = IcebergRead.fieldOpt(d, "referenced_data_file")
                .map(_.toString).getOrElse(throw new IllegalArgumentException(
                  s"puffin delete $path carries no referenced_data_file"))
              liveDvs += norm(ref) -> ((path,
                IcebergRead.fieldOpt(d, "content_offset")
                  .map(_.asInstanceOf[Long]).get,
                IcebergRead.fieldOpt(d, "content_size_in_bytes")
                  .map(_.asInstanceOf[Long]).get, ref))
            }
          }
        }
    }
    val dataRefs = dataRefByNorm.result()
    val existingDvs = liveDvs.result()

    // ---- resolve matching rows to (file, position); null-safe equality
    val byName = logical.fields.map(f => f.name -> f).toMap
    val vcols = values.columns.toSeq
    require(vcols.nonEmpty, "DV delete needs at least one column")
    val typed = values.select(vcols.map { c =>
      val f = byName.getOrElse(c, throw new IllegalArgumentException(
        s"delete column $c not in table schema"))
      values.col(c).cast(IcebergRead.clean(f.dataType)).as("_dw_" + c)
    }: _*).distinct()
    val withPos = IcebergRead.read(spark, tablePath,
      IcebergRead.Options(exposeFilePos = true))
    val cond = vcols.map(c => withPos.col(c) <=> typed.col("_dw_" + c))
      .reduce(_ && _)
    val matched = withPos
      .join(org.apache.spark.sql.functions.broadcast(typed), cond, "left_semi")
      .select(col("_ib_file"), col("_ib_pos"))

    // existing serialized bitmaps ride a broadcast; union + re-serialize
    // per file on executors
    val existingBytes: Map[String, Array[Byte]] = existingDvs.map {
      case (n, (p, off, size, _)) =>
        n -> DeletionVectors.readIcebergDvBytes(fs, new Path(p), off, size)
    }
    val bcExisting = spark.sparkContext.broadcast(existingBytes)
    import spark.implicits._
    val perFile: Array[(String, Array[Byte], Long, Long)] =
      matched.as[(String, Long)]
        .groupByKey { case (f, _) =>
          f.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/") }
        .mapGroups { (fileNorm, it) =>
          val fresh = it.map(_._2).toArray
          val prior = bcExisting.value.get(fileNorm)
            .map(b => DeletionVectors.decode(b).toLongArray)
            .getOrElse(Array.emptyLongArray)
          val priorSet = prior.toSet
          val addedNew = fresh.count(p => !priorSet.contains(p)).toLong
          val all = (prior ++ fresh).distinct.sorted
          (fileNorm, DeletionVectors.serialize(all), all.length.toLong, addedNew)
        }.collect().sortBy(_._1)
    if (perFile.isEmpty) return Left(curSnapId.get)

    // ---- one puffin container: header magic, per-file Delta-framed blob
    // (4B BE length | magic+bitmap | 4B BE CRC — the framing v3 adopted),
    // then the JSON footer a foreign puffin tool expects
    val prevSeq = md.get("last-sequence-number").asLong()
    val sequence = prevSeq + 1
    val snapshotId = math.abs(java.util.UUID.randomUUID().getLeastSignificantBits)
    val puffinMagic = Array[Byte]('P', 'F', 'A', '1')
    val dataDir = new Path(qualified, "data")
    fs.mkdirs(dataDir)
    val puffinPath = new Path(dataDir,
      s"dv-${java.util.UUID.randomUUID()}.puffin")
    var blobOff = 4L
    val blobMeta: Seq[(String, Long, Long, Long)] = perFile.toSeq.map {
      case (n, bytes, card, _) =>
        val size = bytes.length + 8L
        val m = (n, blobOff, size, card)
        blobOff += size
        m
    }
    locally {
      val footer = mapper.createObjectNode()
      val blobsArr = footer.putArray("blobs")
      blobMeta.foreach { case (n, off, size, card) =>
        val b = blobsArr.addObject()
        b.put("type", "deletion-vector-v1")
        b.putArray("fields")
        b.put("snapshot-id", snapshotId)
        b.put("sequence-number", sequence)
        b.put("offset", off)
        b.put("length", size)
        val props = b.putObject("properties")
        props.put("referenced-data-file",
          dataRefs.getOrElse(n, existingDvs.get(n).map(_._4).getOrElse(n)))
        props.put("cardinality", card.toString): Unit
      }
      footer.putObject("properties")
      val payload = footer.toString.getBytes("UTF-8")
      val out = LocalIo.create(fs, puffinPath, true)
      try {
        out.write(puffinMagic)
        perFile.foreach { case (_, bytes, _, _) =>
          val crc = new java.util.zip.CRC32
          crc.update(bytes)
          val frame = java.nio.ByteBuffer.allocate(bytes.length + 8)
            .putInt(bytes.length).put(bytes).putInt(crc.getValue.toInt)
          out.write(frame.array())
        }
        out.write(puffinMagic)
        out.write(payload)
        val tail = java.nio.ByteBuffer.allocate(8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .putInt(payload.length).putInt(0) // size, flags (uncompressed)
        out.write(tail.array())
        out.write(puffinMagic)
      } finally out.close()
    }
    val puffinLen = fs.getFileStatus(puffinPath).getLen

    // ---- new DV delete manifest (v3 entry schema, empty partition)
    val entrySchema = IcebergExport.manifestEntrySchema(Nil, v3 = true)
    val dfSchema = entrySchema.getField("data_file").schema()
    val manifestPath = new Path(metaDir, s"${java.util.UUID.randomUUID()}-m1.avro")
    val mw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](entrySchema))
    mw.setMeta("format-version", "3")
    mw.setMeta("content", "deletes")
    mw.create(entrySchema, LocalIo.create(fs, manifestPath, true))
    val totalCard = blobMeta.map(_._4).sum
    try blobMeta.foreach { case (n, off, size, card) =>
      val d = new GenericData.Record(dfSchema)
      d.put("content", 1) // POSITION_DELETES (DV)
      d.put("file_path", puffinPath.toString)
      d.put("file_format", "PUFFIN")
      d.put("partition",
        new GenericData.Record(dfSchema.getField("partition").schema()))
      d.put("record_count", card)
      d.put("file_size_in_bytes", puffinLen)
      d.put("referenced_data_file",
        dataRefs.getOrElse(n, existingDvs.get(n).map(_._4).getOrElse(n)))
      d.put("content_offset", off)
      d.put("content_size_in_bytes", size)
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1)
      e.put("snapshot_id", snapshotId)
      e.put("sequence_number", sequence)
      e.put("file_sequence_number", sequence)
      e.put("data_file", d)
      mw.append(e)
    } finally mw.close()
    val manifestLen = fs.getFileStatus(manifestPath).getLen

    // ---- new manifest list: carry prior manifests, rewriting delete
    // manifests whose live DV entries this commit supersedes
    val superseded: Set[String] = perFile.iterator.map(_._1)
      .filter(existingDvs.contains).toSet
    val listPath = IcebergExport.writeManifestList(
        fs, metaDir, 3, snapshotId, sequence) { lw =>
      carryManifests(lw, md, conf, metaDir, curSnapId, snapshotId) { rec =>
        if (listContent(rec) == 0) None
        else Some { e =>
          val d = e.get("data_file").asInstanceOf[GenericRecord]
          val dContent = IcebergRead.fieldOpt(d, "content")
            .map(_.asInstanceOf[Int]).getOrElse(0)
          dContent == 1 &&
            d.get("file_format").toString.equalsIgnoreCase("PUFFIN") &&
            IcebergRead.fieldOpt(d, "referenced_data_file")
              .map(_.toString).exists(r => superseded(norm(r)))
        }
      }
      lw.append(IcebergExport.addedManifest(manifestPath, manifestLen,
        md.get("default-spec-id").asInt(), 1, sequence, snapshotId,
        blobMeta.size, totalCard))
    }

    // ---- metadata: new snapshot (v3 row-lineage fields: a delete adds
    // no rows, so first-row-id pins at the current next-row-id)
    addSnapshot(md, snapshotId, curSnapId, sequence, listPath, csid,
      Seq("operation" -> "delete",
        "added-delete-files" -> blobMeta.size.toString,
        "added-dvs" -> blobMeta.size.toString,
        "removed-dvs" -> superseded.size.toString,
        "added-position-deletes" -> perFile.iterator.map(_._4).sum.toString),
      lineage = Option(md.get("next-row-id")).filterNot(_.isNull)
        .map(nri => (nri.asLong(), 0L)))
    Right(snapshotId)
  }

  /** EXPIRE SNAPSHOTS (Iceberg maintenance): drop snapshots with
    * `timestamp-ms < olderThanMs` (the current snapshot always survives),
    * delete their manifest-list files, and prune the snapshot log. With
    * this writer's cumulative manifest lists every MANIFEST (and every
    * data/delete file) stays referenced by the current snapshot, so
    * expiration frees exactly the expired lists and bounds the snapshot
    * array — time travel to an expired snapshot then refuses. Returns the
    * number of snapshots expired.
    */
  def expireSnapshots(
      spark: SparkSession, tablePath: String, olderThanMs: Long): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val table = new Path(tablePath)
    val fs = table.getFileSystem(conf)
    val qualified = fs.makeQualified(table)
    require(!fs.exists(new Path(qualified, "_delta_log")),
      s"$tablePath is Delta-backed (UniForm export): its Iceberg metadata " +
        "mirrors _delta_log and is regenerated on every export — expire " +
        "history through Delta (vacuum / log retention) instead")
    val metaDir = new Path(qualified, "metadata")
    // the expired manifest lists are deleted only once the new metadata
    // is published: a commit that loses the race leaves them referenced
    val expiredLists = update(fs, metaDir) { md =>
      val cur = Option(md.get("current-snapshot-id")).filterNot(_.isNull)
        .map(_.asLong()).getOrElse(-1L)
      val snaps = md.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("snapshots")
      // ref protection: every tag target and every BRANCH head plus its
      // ancestor chain stays (a branch is living history; a tag pins one
      // snapshot) — dropRef is the release valve
      val parentOf: Map[Long, Option[Long]] =
        snaps.elements().asScala.map(sn =>
          sn.get("snapshot-id").asLong() ->
            Option(sn.get("parent-snapshot-id")).filterNot(_.isNull)
              .map(_.asLong())).toMap
      val protectedIds: Set[Long] = {
        val b = Set.newBuilder[Long]
        Option(md.get("refs")).filterNot(_.isNull).foreach { refs =>
          // main is NOT ref-protected: its history expires by age like any
          // Iceberg table's (the head survives as `cur`) — only named
          // branches and tags pin snapshots past retention
          refs.fields().asScala.filterNot(_.getKey == "main").foreach { e =>
            val id = e.getValue.get("snapshot-id").asLong()
            if (e.getValue.get("type").asText() == "tag") b += id
            else {
              var c = Option(id)
              while (c.isDefined) { b += c.get; c = parentOf.getOrElse(c.get, None) }
            }
          }
        }
        b.result()
      }
      val (kept, gone) = snaps.elements().asScala.toSeq.partition { s =>
        val id = s.get("snapshot-id").asLong()
        id == cur || protectedIds(id) ||
          s.get("timestamp-ms").asLong() >= olderThanMs
      }
      if (gone.isEmpty) Left(Nil)
      else {
        val keep = mapper.createArrayNode()
        kept.foreach(keep.add)
        val keptIds = keep.elements().asScala.map(_.get("snapshot-id").asLong()).toSet
        md.set[ObjectNode]("snapshots", keep)
        val log = md.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("snapshot-log")
        val keptLog = mapper.createArrayNode()
        log.elements().asScala.foreach(e =>
          if (keptIds(e.get("snapshot-id").asLong())) keptLog.add(e): Unit)
        md.set[ObjectNode]("snapshot-log", keptLog)
        md.put("last-updated-ms", System.currentTimeMillis())
        Right(gone.map(_.get("manifest-list").asText()))
      }
    }
    expiredLists.foreach(p => fs.delete(new Path(p), false))
    expiredLists.size
  }

  /** Carry the manifests of snapshot `base` (none for an empty table)
    * into the manifest list `lw` of snapshot `newSnapshotId` — snapshots
    * are cumulative manifest lists in this writer. `rewrite` decides per
    * list record: None carries it verbatim; Some(drop) reads the manifest
    * and, when live entries match `drop`, writes it anew — survivors as
    * status EXISTING, matches as DELETED under `newSnapshotId` (spec:
    * files a snapshot removes appear DELETED with the REMOVING snapshot's
    * id, so foreign incremental/changelog consumers see the removals) —
    * while a manifest with no match carries verbatim. Both keep their
    * ORIGINAL data sequence: foreign writers leave seq/snapshot NULL on
    * ADDED entries (inherited from the list record, which the spec
    * allows only for ADDED), and the rewritten list record names THIS
    * snapshot, so the inherited values are materialized first. The
    * record's `partitions` summaries stay: survivors are a subset, so the
    * old bounds remain sound for manifest-level pruning. Returns the
    * dropped (file count, rows).
    */
  private def carryManifests(
      lw: DataFileWriter[GenericRecord],
      md: ObjectNode,
      conf: org.apache.hadoop.conf.Configuration,
      metaDir: Path,
      base: Option[Long],
      newSnapshotId: Long)(
      rewrite: GenericRecord => Option[GenericRecord => Boolean]): (Long, Long) = {
    var droppedFiles = 0L
    var droppedRows = 0L
    def copyListRec(rec: GenericRecord): GenericData.Record = {
      val m = new GenericData.Record(IcebergExport.manifestFileSchema)
      IcebergExport.manifestFileSchema.getFields.asScala.foreach { f =>
        m.put(f.name(), rec.get(f.name()) match {
          case s: org.apache.avro.util.Utf8 => s.toString
          case other => other
        })
      }
      m
    }
    def asLong(v: AnyRef): Long = v match {
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
      case _ => 0L
    }
    base.foreach { id =>
      val prior = md.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong() == id).get
      val priorList = new Path(prior.get("manifest-list").asText())
      val rd = new DataFileReader[GenericRecord](
        new FsInput(priorList, conf), new GenericDatumReader[GenericRecord]())
      try rd.iterator().asScala.foreach { rec =>
        rewrite(rec) match {
          case None => lw.append(copyListRec(rec))
          case Some(doomed) =>
            val mPath = new Path(rec.get("manifest_path").toString)
            val mrd = new DataFileReader[GenericRecord](
              new FsInput(mPath, conf), new GenericDatumReader[GenericRecord]())
            val (entrySchema, metas, entries) =
              try {
                val ms = Seq("format-version", "content", "schema",
                  "partition-spec", "partition-spec-id")
                  .flatMap(k => Option(mrd.getMetaString(k)).map(k -> _))
                (mrd.getSchema, ms, mrd.iterator().asScala.toVector)
              } finally mrd.close()
            val live = entries.filter(e =>
              e.get("status") match {
                case i: java.lang.Integer => i != 2; case _ => true })
            val (drop, keep) = live.partition(doomed)
            if (drop.isEmpty) lw.append(copyListRec(rec))
            else {
              def rows(e: GenericRecord): Long =
                e.get("data_file").asInstanceOf[GenericRecord]
                  .get("record_count") match {
                  case l: java.lang.Long => l.longValue(); case _ => 0L
                }
              droppedFiles += drop.size
              droppedRows += drop.map(rows).sum
              val fsm = metaDir.getFileSystem(conf)
              val newPath = new Path(metaDir,
                s"${java.util.UUID.randomUUID()}-m${listContent(rec)}.avro")
              val mw = new DataFileWriter[GenericRecord](
                new GenericDatumWriter[GenericRecord](entrySchema))
              metas.foreach { case (k, v) => mw.setMeta(k, v) }
              mw.create(entrySchema, LocalIo.create(fsm, newPath, true))
              val inheritedSeq = asLong(rec.get("sequence_number"))
              val inheritedSnap = asLong(rec.get("added_snapshot_id"))
              def hasF(n: String) = entrySchema.getField(n) != null
              def emit(e: GenericRecord, status: Int): Unit = {
                e.put("status", status) // 0 EXISTING, 2 DELETED
                if (hasF("sequence_number") && e.get("sequence_number") == null)
                  e.put("sequence_number", inheritedSeq)
                if (hasF("file_sequence_number") &&
                    e.get("file_sequence_number") == null)
                  e.put("file_sequence_number", inheritedSeq)
                if (hasF("snapshot_id")) {
                  if (status == 2) e.put("snapshot_id", newSnapshotId)
                  else if (e.get("snapshot_id") == null)
                    e.put("snapshot_id", inheritedSnap)
                }
                mw.append(e)
              }
              try {
                keep.foreach(emit(_, 0))
                drop.foreach(emit(_, 2))
              } finally mw.close()
              val m = copyListRec(rec)
              m.put("manifest_path", newPath.toString)
              m.put("manifest_length", fsm.getFileStatus(newPath).getLen)
              m.put("added_snapshot_id", newSnapshotId)
              m.put("added_files_count", 0)
              m.put("existing_files_count", keep.size)
              m.put("deleted_files_count", drop.size)
              m.put("added_rows_count", 0L)
              m.put("existing_rows_count", keep.map(rows).sum)
              m.put("deleted_rows_count", drop.map(rows).sum)
              lw.append(m)
            }
        }
      } finally rd.close()
    }
    (droppedFiles, droppedRows)
  }

  /** A manifest-list record's `content`: 0 data, 1 deletes. */
  private def listContent(rec: GenericRecord): Int = rec.get("content") match {
    case i: java.lang.Integer => i.intValue()
    case _ => 0
  }

  /** The current snapshot id; None for a table with no snapshot yet. */
  private def currentSnapshotId(md: ObjectNode): Option[Long] =
    Option(md.get("current-snapshot-id")).filterNot(_.isNull)
      .map(_.asLong()).filter(_ >= 0L)

  /** DYNAMIC PARTITION OVERWRITE (Iceberg's ReplacePartitions, the
    * nightly-recompute write shape): ONE `overwrite` snapshot atomically
    * drops every data file in the partitions `df` touches and appends
    * `df`'s rows. Untouched partitions' files AND manifests carry
    * byte-identical (only manifests holding touched entries rewrite);
    * time travel to any prior snapshot sees the pre-overwrite state.
    * On an unpartitioned table every file shares the empty tuple, so
    * this degenerates to a full replace — the Iceberg behavior. An empty
    * `df` commits an empty overwrite (touches nothing, drops nothing).
    * Refuses across partition-spec evolution (rewriteDataFiles first).
    */
  def replacePartitions(
      spark: SparkSession,
      tablePath: String,
      df: DataFrame,
      summary: Seq[(String, String)] = Nil): Long =
    commitDataSnapshot(spark, tablePath, df, "overwrite", carryPrior = true,
      extraSummary = summary, dropTouchedPartitions = true)

  /** REMOVE ORPHAN FILES (Iceberg maintenance, the third leg of the
    * OPTIMIZE → EXPIRE SNAPSHOTS → orphan-clean loop): delete files under
    * the table that NO live snapshot's metadata references and whose
    * modification time is older than `olderThanMs` (grace window so
    * in-flight writes survive). Protected by construction: every
    * data/delete file any manifest mentions (ANY entry status — a
    * DELETED entry's file may still be read through an older list),
    * every referenced manifest, every live manifest list, all
    * `v<N>.metadata.json` + `version-hint.text`, and hidden/temp names.
    * The referenced set AND the listing are both built DISTRIBUTED —
    * manifests are read on executors, and the table walk runs as one
    * recursive listing task per top-level prefix (r17; the r16 walk was
    * a single driver iterator, wall-clock O(#total files) through one
    * thread) — anti-joined on executors; the driver collects only the
    * doomed subset. Driver bound: O(#manifests + #orphans + #top-level
    * dirs), never O(#referenced files) or a full-table path set.
    * Refused on Delta-backed (UniForm) tables — their Iceberg metadata
    * mirrors only the CURRENT Delta snapshot. Returns the deleted
    * table-relative paths; `dryRun` lists only. (`listingBatch` is
    * retained for API compatibility; the r17 distributed listing no
    * longer batches on the driver.)
    */
  def removeOrphanFiles(
      spark: SparkSession,
      tablePath: String,
      olderThanMs: Long,
      listingBatch: Int = 100000,
      dryRun: Boolean = false): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val table = new Path(tablePath)
    val fs = table.getFileSystem(conf)
    val qualified = fs.makeQualified(table)
    // UniForm guard: the Iceberg metadata of a Delta-backed table mirrors
    // ONLY the current Delta snapshot (and maybeUniformSync tolerates a
    // lagging export) — an orphan sweep here would irreversibly delete
    // files older Delta versions (time travel/RESTORE/CDF) still
    // reference, or even CURRENT files if the export lags. Vacuum the
    // Delta side instead; its audits know the whole log.
    require(!fs.exists(new Path(qualified, "_delta_log")),
      s"$tablePath is Delta-backed (UniForm export): its Iceberg metadata " +
        "mirrors only the current Delta snapshot — removeOrphanFiles " +
        "would delete files older Delta versions reference. Use Delta " +
        "vacuum instead")
    val metaDir = new Path(qualified, "metadata")
    val md = IcebergRead.currentMetadata(fs, metaDir)
    // v1 legacy snapshots may list manifests INLINE instead of a list file
    val snapNodes = md.get("snapshots").elements().asScala.toSeq
    val listPaths = snapNodes.flatMap(s =>
      Option(s.get("manifest-list")).filterNot(_.isNull).map(_.asText()))
      .distinct
    val inlineManifests = snapNodes
      .filter(s => Option(s.get("manifest-list")).forall(_.isNull))
      .flatMap(s => Option(s.get("manifests")).filterNot(_.isNull)
        .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil))
    val manifestPaths = (inlineManifests ++ listPaths.flatMap(lp =>
      IcebergRead.avroRecords(conf, new Path(lp))
        .map(_.get("manifest_path").toString))).distinct
    import spark.implicits._
    // referenced DATA/DELETE paths: extracted on EXECUTORS (one task per
    // manifest slice) — the driver holds only manifest/list paths, so the
    // memory bound is O(#manifests + #orphans), never O(#referenced files)
    val confThunk = org.apache.spark.sql.GraftShims.serializableConfThunk(conf)
    val refData = spark.createDataset(manifestPaths)
      .repartition(math.max(1, math.min(manifestPaths.size, 32)))
      .mapPartitions { it =>
        val c = confThunk()
        it.flatMap { mp =>
          val p = new Path(mp)
          val pfs = p.getFileSystem(c)
          IcebergRead.avroRecords(c, p).map(e =>
            pfs.makeQualified(new Path(
              e.get("data_file").asInstanceOf[GenericRecord]
                .get("file_path").toString)).toString)
        }
      }
    val metaProtected = (manifestPaths ++ listPaths)
      .map(p => fs.makeQualified(new Path(p)).toString)
    val refDF = refData.toDF("p")
      .union(metaProtected.toDF("p")).distinct().persist()
    try {
      // r17: the LISTING runs on executors too — one recursive walk per
      // top-level prefix (r16 streamed a single driver-side fs.listFiles
      // iterator: memory-bounded, but wall-clock O(#total files) through
      // one thread; at 10^7 objects on S3 that is hours). The driver
      // lists only the root level; candidates anti-join the referenced
      // set distributed, and only the doomed subset is ever collected —
      // the driver bound stays O(#manifests + #orphans + #top-level dirs).
      val metaNamePattern = """(v\d+\.metadata\.json|version-hint\.text)"""
      val rootStr = qualified.toString
      def eligible(p: String, name: String, modMs: Long): Boolean = {
        val rel = p.stripPrefix(rootStr).dropWhile(_ == '/')
        !rel.split('/').exists(s => s.startsWith("_") || s.startsWith(".")) &&
          !name.matches(metaNamePattern) && modMs < olderThanMs
      }
      val top = fs.listStatus(qualified).toSeq
      val rootCandidates = top.filter(_.isFile)
        .map(st => (fs.makeQualified(st.getPath).toString, st.getPath.getName,
          st.getModificationTime))
        .collect { case (p, n, m) if eligible(p, n, m) => p }
      val topDirs = top.filter(_.isDirectory)
        .map(st => fs.makeQualified(st.getPath).toString)
        .filter(d => !d.stripPrefix(rootStr).dropWhile(_ == '/').split('/')
          .exists(s => s.startsWith("_") || s.startsWith(".")))
      val olderThan = olderThanMs
      val root = rootStr
      val metaPat = metaNamePattern
      val dirCandidates =
        if (topDirs.isEmpty) spark.emptyDataset[String]
        else spark.createDataset(topDirs)
          .repartition(math.max(1, math.min(topDirs.size, 32)))
          .mapPartitions { it =>
            val c = confThunk()
            it.flatMap { d =>
              val dp = new Path(d)
              val dfs = dp.getFileSystem(c)
              val out = scala.collection.mutable.ArrayBuffer.empty[String]
              val walk = dfs.listFiles(dp, true)
              while (walk.hasNext) {
                val st = walk.next()
                val p = dfs.makeQualified(st.getPath).toString
                val rel = p.stripPrefix(root).dropWhile(_ == '/')
                val hidden = rel.split('/')
                  .exists(s => s.startsWith("_") || s.startsWith("."))
                if (st.isFile && !hidden && !st.getPath.getName.matches(metaPat) &&
                    st.getModificationTime < olderThan)
                  out += p
              }
              out.iterator
            }
          }
      val doomed = dirCandidates.toDF("p")
        .union(rootCandidates.toDF("p"))
        .join(refDF, Seq("p"), "left_anti")
        .as[String].collect()
      // deletes run on a bounded pool (the commit path's rename-pool
      // shape): one blocking delete RPC at a time through the driver is
      // hours at 10^5 orphans on an object store — Hadoop FileSystem
      // clients are thread-safe, so issue up to 16 in flight
      if (!dryRun && doomed.nonEmpty) {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, doomed.length))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        try scala.concurrent.Await.result(
          scala.concurrent.Future.traverse(doomed.toSeq) { p =>
            scala.concurrent.Future { fs.delete(new Path(p), false); () }
          },
          scala.concurrent.duration.Duration.Inf): Unit
        finally pool.shutdown()
      }
      doomed.toSeq.map(_.stripPrefix(rootStr).dropWhile(_ == '/')).sorted
    } finally { refDF.unpersist(false); () }
  }

  // ------------------------------------------------- snapshot refs (WAP)

  /** refs[name].snapshot-id, if the ref exists ("main" falls back to
    * current-snapshot-id — every table has an implicit main branch). */
  private[graft] def refSnapshotId(md: ObjectNode, name: String): Option[Long] =
    Option(md.get("refs")).filterNot(_.isNull)
      .flatMap(r => Option(r.get(name)).filterNot(_.isNull))
      .map(_.get("snapshot-id").asLong())
      .orElse(if (name == "main") currentSnapshotId(md) else None)

  /** Add snapshot `snapshotId` to `md` — built on `parent` at `sequence`,
    * listing its manifests in `listPath`, `summary` led by the operation —
    * and make it the head of `branch`: a named branch moves only its ref
    * (main's current-snapshot-id and snapshot log stay until
    * [[fastForward]]), main also becomes the current snapshot. `lineage`
    * is a v3 snapshot's (first-row-id, added-rows).
    */
  private def addSnapshot(
      md: ObjectNode, snapshotId: Long, parent: Option[Long], sequence: Long,
      listPath: Path, schemaId: Int, summary: Seq[(String, String)],
      lineage: Option[(Long, Long)] = None,
      branch: Option[String] = None): Unit = {
    val nowMs = System.currentTimeMillis()
    md.put("last-sequence-number", sequence)
    md.put("last-updated-ms", nowMs)
    val snapNode = mapper.createObjectNode()
    snapNode.put("snapshot-id", snapshotId)
    parent.foreach(p => snapNode.put("parent-snapshot-id", p): Unit)
    snapNode.put("timestamp-ms", nowMs)
    snapNode.put("sequence-number", sequence)
    lineage.foreach { case (firstRowId, addedRows) =>
      snapNode.put("first-row-id", firstRowId)
      snapNode.put("added-rows", addedRows): Unit
    }
    snapNode.put("manifest-list", listPath.toString)
    snapNode.put("schema-id", schemaId)
    val summaryNode = snapNode.putObject("summary")
    summary.foreach { case (k, v) => summaryNode.put(k, v): Unit }
    md.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("snapshots")
      .add(snapNode)
    branch.filter(_ != "main") match {
      case Some(b) => setRef(md, b, snapshotId, "branch")
      case None =>
        md.put("current-snapshot-id", snapshotId)
        setRef(md, "main", snapshotId, "branch")
        val sl = md.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
          "snapshot-log").addObject()
        sl.put("timestamp-ms", nowMs)
        sl.put("snapshot-id", snapshotId): Unit
    }
  }

  private def setRef(
      md: ObjectNode, name: String, snapshotId: Long, tpe: String): Unit = {
    val refs = Option(md.get("refs")).filterNot(_.isNull)
      .map(_.asInstanceOf[ObjectNode])
      .getOrElse(md.putObject("refs"))
    val r = refs.putObject(name)
    r.put("snapshot-id", snapshotId)
    r.put("type", tpe): Unit
  }

  /** CREATE BRANCH (spec "refs"): a named head starting at `at` (default:
    * the current snapshot). Appends with `branch = Some(name)` advance
    * ONLY this head — main is untouched until [[fastForward]] publishes it
    * (write-audit-publish). Metadata-only. */
  def createBranch(
      spark: SparkSession, tablePath: String, name: String,
      at: Option[Long] = None): Unit =
    updateMetadata(spark, tablePath) { md =>
      require(name != "main", "main exists implicitly")
      require(refSnapshotId(md, name).isEmpty, s"ref $name already exists")
      val target = at.orElse(refSnapshotId(md, "main")).getOrElse(
        throw new IllegalArgumentException("table has no snapshot to branch from"))
      requireSnapshot(md, target)
      setRef(md, name, target, "branch")
    }

  /** CREATE TAG: an immutable named snapshot. Tag reads time-travel
    * (snapshot schema); [[expireSnapshots]] never expires a tagged
    * snapshot while the tag lives. Metadata-only. */
  def createTag(
      spark: SparkSession, tablePath: String, name: String,
      at: Option[Long] = None): Unit =
    updateMetadata(spark, tablePath) { md =>
      require(name != "main", "main is a branch, not a tag")
      require(refSnapshotId(md, name).isEmpty, s"ref $name already exists")
      val target = at.orElse(refSnapshotId(md, "main")).getOrElse(
        throw new IllegalArgumentException("table has no snapshot to tag"))
      requireSnapshot(md, target)
      setRef(md, name, target, "tag")
    }

  /** DROP a branch or tag. Snapshots it protected become expirable. */
  def dropRef(spark: SparkSession, tablePath: String, name: String): Unit =
    updateMetadata(spark, tablePath) { md =>
      require(name != "main", "cannot drop main")
      val refs = Option(md.get("refs")).filterNot(_.isNull)
        .map(_.asInstanceOf[ObjectNode])
        .getOrElse(throw new IllegalArgumentException(s"no ref $name"))
      require(refs.has(name), s"no ref $name")
      refs.remove(name): Unit
    }

  /** FAST-FORWARD `to` onto `from`'s head — the PUBLISH step of
    * write-audit-publish: after auditing a staged branch, main jumps to
    * the branch head in one metadata commit (the branch head must be a
    * descendant of `to`'s head, so no history is lost). Fast-forwarding
    * main also stamps current-snapshot-id and the snapshot-log. */
  def fastForward(
      spark: SparkSession, tablePath: String,
      to: String, from: String): Long = {
    var head = -1L
    updateMetadata(spark, tablePath) { md =>
      val fromId = refSnapshotId(md, from).getOrElse(
        throw new IllegalArgumentException(s"no ref $from"))
      val toId = refSnapshotId(md, to)
      // ancestry check: walk from the source head down its parent chain
      val parentOf: Map[Long, Option[Long]] =
        md.get("snapshots").elements().asScala.map(sn =>
          sn.get("snapshot-id").asLong() ->
            Option(sn.get("parent-snapshot-id")).filterNot(_.isNull)
              .map(_.asLong())).toMap
      toId.foreach { t =>
        var cur = Option(fromId)
        var found = false
        while (cur.isDefined && !found) {
          if (cur.get == t) found = true
          cur = parentOf.getOrElse(cur.get, None)
        }
        require(found,
          s"$from ($fromId) is not a descendant of $to ($t): fast-forward " +
            "would lose history — rebase the branch instead")
      }
      setRef(md, to, fromId, "branch")
      if (to == "main") {
        md.put("current-snapshot-id", fromId)
        val sl = md.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
          "snapshot-log").addObject()
        sl.put("timestamp-ms", System.currentTimeMillis())
        sl.put("snapshot-id", fromId): Unit
      }
      head = fromId
    }
    head
  }

  /** ROLLBACK to an earlier snapshot (Iceberg's rollback_to_snapshot):
    * current-snapshot-id moves BACK to `snapshotId` in one metadata
    * commit — no snapshot is deleted (the rolled-past ones stay in the
    * metadata until expireSnapshots; the snapshot-log records the jump,
    * so `history` shows the abandoned lineage as non-ancestors). */
  def rollbackTo(
      spark: SparkSession, tablePath: String, snapshotId: Long): Unit =
    updateMetadata(spark, tablePath) { md =>
      requireSnapshot(md, snapshotId)
      md.put("current-snapshot-id", snapshotId)
      setRef(md, "main", snapshotId, "branch")
      val sl = md.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
        "snapshot-log").addObject()
      sl.put("timestamp-ms", System.currentTimeMillis())
      sl.put("snapshot-id", snapshotId): Unit
    }

  private def requireSnapshot(md: ObjectNode, id: Long): Unit =
    require(md.get("snapshots").elements().asScala
      .exists(_.get("snapshot-id").asLong() == id), s"no snapshot $id")

  /** UPDATE PARTITION SPEC — Iceberg partition EVOLUTION (spec
    * "Partition Evolution"): append a NEW spec built from `partitionBy`
    * (same grammar as [[create]]) with a fresh spec-id, and make it the
    * default for FUTURE writes. Metadata-only: no snapshot, no data file
    * touched. Existing manifests keep their own `partition_spec_id`, so
    * a table carries data under several specs at once and the reader
    * ([[graft.sources.IcebergRead]]) resolves each manifest against ITS
    * spec — old files keep pruning under the old layout, new files under
    * the new. Partition field ids continue from `last-partition-id`
    * (1000-based, never reused); a field with the same (source column,
    * transform) as one in ANY earlier spec keeps that field's id, the
    * spec's cross-spec identity rule. Returns the new spec id.
    */
  def updateSpec(
      spark: SparkSession, tablePath: String,
      partitionBy: Seq[String]): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val table = new Path(tablePath)
    val fs = table.getFileSystem(conf)
    val qualified = fs.makeQualified(table)
    require(!fs.exists(new Path(qualified, "_delta_log")),
      s"$tablePath is Delta-backed (UniForm export): its layout follows " +
        "the Delta table — repartition through Delta and re-export instead")
    updateMetadata(spark, tablePath) { md =>
      require(md.get("format-version").asInt() == 2, "format-version 2 required")

      val csid = md.get("current-schema-id").asInt()
      val schemaNode = md.get("schemas").elements().asScala
        .find(s => Option(s.get("schema-id")).exists(_.asInt() == csid))
        .getOrElse(throw new IllegalArgumentException(s"schema $csid missing"))
      val logical = IcebergRead.parseType(schemaNode).asInstanceOf[StructType]
      val fieldIdOf: Map[String, Long] =
        logical.fields.map(f => f.name -> IcebergRead.fieldId(f)).toMap

      val partFields = partitionBy.map(parsePartitionField)
      partFields.foreach { case (t, c) =>
        require(fieldIdOf.contains(c), s"partition column $c not in schema")
        graft.sources.IcebergTransforms.validate(t,
          IcebergRead.clean(logical.fields.find(_.name == c).get.dataType), c)
        val pname = graft.sources.IcebergTransforms.fieldName(t, c)
        require(t == graft.sources.IcebergTransforms.Identity ||
          !fieldIdOf.contains(pname),
          s"derived partition field name $pname collides with a table column")
      }

      val specs = md.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
        "partition-specs")
      val newSpecId = specs.elements().asScala
        .map(_.get("spec-id").asInt()).foldLeft(-1)(math.max) + 1
      // (source-id, transform) -> existing field id, for cross-spec reuse
      val priorIds: Map[(Long, String), Int] =
        specs.elements().asScala.flatMap(_.get("fields").elements().asScala
          .map(f => (f.get("source-id").asLong(),
            f.get("transform").asText()) -> f.get("field-id").asInt())).toMap
      var lastPartId = Option(md.get("last-partition-id"))
        .filterNot(_.isNull).map(_.asInt()).getOrElse(999)
      val specNode = mapper.createObjectNode()
      specNode.put("spec-id", newSpecId)
      val sf = specNode.putArray("fields")
      partFields.foreach { case (t, c) =>
        val transform = graft.sources.IcebergTransforms.render(t)
        val fid = priorIds.getOrElse((fieldIdOf(c), transform),
          { lastPartId += 1; lastPartId })
        val f = sf.addObject()
        f.put("name", graft.sources.IcebergTransforms.fieldName(t, c))
        f.put("transform", transform)
        f.put("source-id", fieldIdOf(c))
        f.put("field-id", fid): Unit
      }
      specs.add(specNode)
      md.put("default-spec-id", newSpecId)
      md.put("last-partition-id", lastPartId)
      newSpecId
    }
  }

  // ------------------------------------------------ schema evolution (DDL)

  /** Append a NEW schema entry (copy of the current one mutated by
    * `evolve`), make it current, bump the metadata version — Iceberg's
    * metadata-only schema evolution: no snapshot, no data file touched.
    * Old snapshots keep their own `schema-id`, so pinned time travel
    * still shows the world as written. Returns the new schema id.
    */
  private def withEvolvedSchema(
      spark: SparkSession, tablePath: String)(
      evolve: (ObjectNode, com.fasterxml.jackson.databind.node.ArrayNode) => Unit): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val table = new Path(tablePath)
    val fs = table.getFileSystem(conf)
    val qualified = fs.makeQualified(table)
    require(!fs.exists(new Path(qualified, "_delta_log")),
      s"$tablePath is Delta-backed (UniForm export): evolve the schema " +
        "through Delta and re-export instead")
    updateMetadata(spark, tablePath) { md =>
      val csid = md.get("current-schema-id").asInt()
      val cur = md.get("schemas").elements().asScala
        .find(s => Option(s.get("schema-id")).exists(_.asInt() == csid))
        .getOrElse(throw new IllegalArgumentException(s"schema $csid missing"))
      val next = cur.deepCopy[ObjectNode]()
      val newId = md.get("schemas").elements().asScala
        .map(s => Option(s.get("schema-id")).map(_.asInt()).getOrElse(0)).max + 1
      next.put("schema-id", newId)
      evolve(md, next.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("fields"))
      md.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("schemas").add(next)
      md.put("current-schema-id", newId)
      newId
    }
  }

  /** ADD COLUMN: a new nullable field with a FRESH field id (continuing
    * `last-column-id` — retired ids are never reused). Current reads show
    * it immediately, null-filled for files written before; later appends
    * may omit it (null-filled) or provide it.
    */
  def addColumn(
      spark: SparkSession, tablePath: String,
      name: String, dataType: DataType): Int =
    withEvolvedSchema(spark, tablePath) { (md, fields) =>
      require(!fields.elements().asScala.exists(_.get("name").asText() == name),
        s"column $name already exists")
      val ids = new IcebergExport.IdGen(md.get("last-column-id").asInt())
      val one = IcebergExport.icebergType(
        StructType(Seq(StructField(name, dataType, nullable = true))), ids)
        .asInstanceOf[ObjectNode]
      fields.add(one.get("fields").get(0))
      md.put("last-column-id", ids.max): Unit
    }

  /** RENAME COLUMN: the field keeps its id, so every existing data file
    * resolves under the new name by FIELD ID — zero rewrite. */
  def renameColumn(
      spark: SparkSession, tablePath: String, from: String, to: String): Int =
    withEvolvedSchema(spark, tablePath) { (_, fields) =>
      val fs = fields.elements().asScala.toSeq
      require(fs.exists(_.get("name").asText() == from), s"no such column: $from")
      require(!fs.exists(_.get("name").asText() == to), s"column $to already exists")
      fs.foreach { f =>
        if (f.get("name").asText() == from)
          f.asInstanceOf[ObjectNode].put("name", to): Unit
      }
    }

  /** DROP COLUMN: the field leaves the current schema (its id is retired,
    * never reused — addColumn continues past it); data files keep the
    * physical column, readers simply never project it. Refused for
    * partition source columns and the last data column. */
  def dropColumn(
      spark: SparkSession, tablePath: String, name: String): Int =
    withEvolvedSchema(spark, tablePath) { (md, fields) =>
      val seq = fields.elements().asScala.toSeq
      val hit = seq.find(_.get("name").asText() == name).getOrElse(
        throw new IllegalArgumentException(s"no such column: $name"))
      require(seq.size > 1, "cannot drop the last column")
      val fid = hit.get("id").asInt()
      val referenced = md.get("partition-specs").elements().asScala.exists(
        _.get("fields").elements().asScala.exists(
          _.get("source-id").asInt() == fid))
      require(!referenced,
        s"cannot drop $name: a partition spec derives from it")
      fields.removeAll()
      seq.filterNot(_ eq hit).foreach(fields.add)
    }

  // ---------------------------------------------------------------- commit

  /** The one way a new table state is published. Resolves the table's
    * current `(v, md)` once ([[IcebergRead.resolveMetadata]]; 0 and None
    * before the first commit) and runs `body` against them: `body`
    * returns `Right((metadata, result))` to publish that metadata as
    * exactly `v+1` ([[publishMetadata]]), or `Left(result)` when it has
    * nothing to commit. A writer that overlapped another commit loses
    * the exclusive publish of `v+1` and gets
    * [[Concurrency.ConcurrentCommitException]] — there is no rebase; the
    * data files and manifests it already wrote stay unreferenced, for
    * [[removeOrphanFiles]].
    */
  private[graft] def commit[A](fs: org.apache.hadoop.fs.FileSystem, metaDir: Path)(
      body: (Int, Option[ObjectNode]) => Either[A, (ObjectNode, A)]): A = {
    val current = IcebergRead.resolveMetadata(fs, metaDir)
    val v = current.fold(0)(_._1)
    body(v, current.map(_._2)) match {
      case Left(result) => result
      case Right((md, result)) =>
        publishMetadata(fs, metaDir, v + 1, md.toString)
        result
    }
  }

  /** [[commit]] on an existing table: `body` edits `md` in place. */
  private def update[A](fs: org.apache.hadoop.fs.FileSystem, metaDir: Path)(
      body: ObjectNode => Either[A, A]): A =
    commit(fs, metaDir) { (_, current) =>
      require(current.nonEmpty, s"no Iceberg metadata under $metaDir")
      body(current.get).map(current.get -> _)
    }

  /** A metadata-only [[update]] (refs, partition spec, schema): `edit`
    * changes `md`, published with a fresh `last-updated-ms`. */
  private def updateMetadata[A](spark: SparkSession, tablePath: String)(
      edit: ObjectNode => A): A = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    update(fs, new Path(fs.makeQualified(table), "metadata")) { md =>
      val result = edit(md)
      md.put("last-updated-ms", System.currentTimeMillis())
      Right(result)
    }
  }

  /** Publish `json` as `v<version>.metadata.json` — the only writer of
    * that file — through [[LocalIo.publishExclusive]], then point
    * `version-hint.text` at it (`hint = false` is for fixtures that model
    * foreign tables without a hint). Throws
    * [[Concurrency.ConcurrentCommitException]] when the version exists
    * already: another writer committed it first.
    */
  private[graft] def publishMetadata(
      fs: org.apache.hadoop.fs.FileSystem, metaDir: Path, version: Int,
      json: String, hint: Boolean = true): Unit = {
    val target = new Path(metaDir, s"v$version.metadata.json")
    if (!LocalIo.publishExclusive(fs, target, json.getBytes("UTF-8")))
      throw new Concurrency.ConcurrentCommitException(
        s"Concurrent Iceberg commit detected for metadata version $version " +
          s"at ${metaDir.getParent}")
    if (hint) {
      val out = LocalIo.create(fs, new Path(metaDir, "version-hint.text"), true)
      try out.write(version.toString.getBytes("UTF-8")) finally out.close()
    }
  }
}
