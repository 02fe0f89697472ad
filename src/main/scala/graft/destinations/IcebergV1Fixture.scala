package graft.destinations

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Hand-built **format-version 1** Iceberg tables, exactly as a LEGACY
  * foreign writer would leave them (public Table Spec, "Version 1" notes
  * throughout): the deepest-legacy metadata shapes that
  * [[graft.sources.IcebergRead]] must tolerate but
  * [[IcebergWrite]] (v2-native) never produces —
  *
  *   - metadata JSON carrying ONLY the singular `schema` and
  *     `partition-spec` fields (no `schemas`/`current-schema-id`,
  *     no `partition-specs`/`default-spec-id`, no
  *     `last-sequence-number`), and NO `version-hint.text` (foreign
  *     tables are discovered by the highest `v<N>.metadata.json`);
  *   - the FIRST snapshot lists its manifests INLINE (the pre-
  *     manifest-list `manifests` path array); later snapshots use a v1
  *     manifest-list avro with the v1 column spellings
  *     (`added_data_files_count` 504-506, no `content`, no
  *     `sequence_number`/`min_sequence_number`);
  *   - manifest entries carry no sequence columns (v1 has no row-level
  *     deletes; everything reads at sequence 0) and the `data_file`
  *     struct keeps v1's required `block_size_in_bytes` (105) and has no
  *     `content` field;
  *   - data parquet files carry NO field ids (legacy writers predate
  *     id-stamping), exercising the reader's name-based fallback.
  *
  * Unpartitioned, append-only — the v1 feature set this engine reads.
  * Test/gate surface only: real writes go through [[IcebergWrite]] (v2).
  */
object IcebergV1Fixture {

  private val mapper = new ObjectMapper()

  private val entrySchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int","field-id":0},
      |{"name":"snapshot_id","type":"long","field-id":1},
      |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
      |  {"name":"file_path","type":"string","field-id":100},
      |  {"name":"file_format","type":"string","field-id":101},
      |  {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[]}},
      |  {"name":"record_count","type":"long","field-id":103},
      |  {"name":"file_size_in_bytes","type":"long","field-id":104},
      |  {"name":"block_size_in_bytes","type":"long","field-id":105}
      |]}}]}""".stripMargin)

  private val listSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_data_files_count","type":["null","int"],"default":null,"field-id":504},
      |{"name":"existing_data_files_count","type":["null","int"],"default":null,"field-id":505},
      |{"name":"deleted_data_files_count","type":["null","int"],"default":null,"field-id":506}
      |]}""".stripMargin)

  /** Write `batches` as successive v1 append snapshots at `tablePath`.
    * Returns the snapshot ids in commit order (snapshot 1 = inline
    * manifests; 2.. = v1 manifest lists carrying all prior manifests).
    */
  def write(
      spark: SparkSession,
      tablePath: String,
      batches: Seq[DataFrame]): Seq[Long] = {
    require(batches.nonEmpty, "at least one batch")
    val conf = spark.sessionState.newHadoopConf()
    val table = new Path(tablePath)
    val fs = table.getFileSystem(conf)
    val qualified = fs.makeQualified(table)
    val metaDir = new Path(qualified, "metadata")
    require(!fs.exists(metaDir), s"table already exists at $tablePath")
    fs.mkdirs(metaDir)
    val dataDir = new Path(qualified, "data")
    fs.mkdirs(dataDir)

    val schema = batches.head.schema
    val ids = new IcebergExport.IdGen(0)
    val schemaNode =
      IcebergExport.icebergType(schema, ids).asInstanceOf[ObjectNode]
    // v1 legacy: no schema-id on the singular schema node
    val lastColumnId = ids.max

    // (manifestPath, length, addedSnapshotId, fileCount) per commit
    val manifests = Seq.newBuilder[(Path, Long, Long, Int)]
    val snapIds = Seq.newBuilder[Long]
    val snapNodes = Seq.newBuilder[ObjectNode]
    val logNodes = Seq.newBuilder[ObjectNode]

    batches.zipWithIndex.foreach { case (df, i) =>
      val snapshotId = 1001L + i
      // ---- data files: plain parquet, NO field ids (legacy realism)
      val tmp = new Path(qualified, s"_tmp-v1-$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val moved = fs.listStatus(tmp).toSeq
        .filter(st => st.getPath.getName.startsWith("part-") &&
          st.getPath.getName.endsWith(".parquet"))
        .map { st =>
          val target = new Path(dataDir,
            s"${java.util.UUID.randomUUID()}.parquet")
          require(fs.rename(st.getPath, target), s"rename to $target failed")
          val r = LocalIo.openParquet(target, conf)
          val rc = try r.getRecordCount finally r.close()
          (target, rc, fs.getFileStatus(target).getLen)
        }
      fs.delete(tmp, true)

      // ---- v1 manifest (no sequence columns anywhere)
      val manifestPath =
        new Path(metaDir, s"${java.util.UUID.randomUUID()}-m0.avro")
      val dfSchema = entrySchema.getField("data_file").schema()
      val mw = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](entrySchema))
      mw.setMeta("format-version", "1")
      mw.setMeta("schema", schemaNode.toString)
      mw.setMeta("partition-spec", "[]")
      mw.setMeta("partition-spec-id", "0")
      mw.create(entrySchema, LocalIo.create(fs, manifestPath, true))
      try moved.foreach { case (p, rc, len) =>
        val d = new GenericData.Record(dfSchema)
        d.put("file_path", p.toString)
        d.put("file_format", "PARQUET")
        d.put("partition",
          new GenericData.Record(dfSchema.getField("partition").schema()))
        d.put("record_count", rc)
        d.put("file_size_in_bytes", len)
        d.put("block_size_in_bytes", len)
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1)
        e.put("snapshot_id", snapshotId)
        e.put("data_file", d)
        mw.append(e)
      } finally mw.close()
      manifests +=
        ((manifestPath, fs.getFileStatus(manifestPath).getLen,
          snapshotId, moved.size))

      // ---- snapshot node: inline `manifests` for the first commit, a v1
      // manifest-list avro for the rest
      val nowMs = System.currentTimeMillis()
      val snap = mapper.createObjectNode()
      snap.put("snapshot-id", snapshotId)
      if (i > 0) snap.put("parent-snapshot-id", snapshotId - 1)
      snap.put("timestamp-ms", nowMs)
      val summary = snap.putObject("summary")
      summary.put("operation", "append")
      if (i == 0) {
        val arr = snap.putArray("manifests")
        manifests.result().foreach(m => arr.add(m._1.toString))
      } else {
        val listPath = new Path(metaDir,
          s"snap-$snapshotId-1-${java.util.UUID.randomUUID()}.avro")
        val lw = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](listSchema))
        lw.setMeta("format-version", "1")
        lw.setMeta("snapshot-id", snapshotId.toString)
        lw.create(listSchema, LocalIo.create(fs, listPath, true))
        try manifests.result().foreach { case (mp, len, sid, n) =>
          val m = new GenericData.Record(listSchema)
          m.put("manifest_path", mp.toString)
          m.put("manifest_length", len)
          m.put("partition_spec_id", 0)
          m.put("added_snapshot_id", sid)
          m.put("added_data_files_count", n)
          m.put("existing_data_files_count", 0)
          m.put("deleted_data_files_count", 0)
          lw.append(m)
        } finally lw.close()
        snap.put("manifest-list", listPath.toString)
      }
      snapIds += snapshotId
      snapNodes += snap
      val le = mapper.createObjectNode()
      le.put("timestamp-ms", nowMs)
      le.put("snapshot-id", snapshotId)
      logNodes += le

      // ---- v<i+1>.metadata.json, v1 legacy shape (no version hint)
      val md = mapper.createObjectNode()
      md.put("format-version", 1)
      md.put("table-uuid", "9e6f2a52-1f00-4e00-8e00-000000000001")
      md.put("location", qualified.toString)
      md.put("last-updated-ms", nowMs)
      md.put("last-column-id", lastColumnId)
      md.set[ObjectNode]("schema", schemaNode)
      md.putArray("partition-spec")
      md.putObject("properties")
      md.put("current-snapshot-id", snapshotId)
      val snaps = md.putArray("snapshots")
      snapNodes.result().foreach(snaps.add)
      val slog = md.putArray("snapshot-log")
      logNodes.result().foreach(slog.add)
      IcebergWrite.publishMetadata(fs, metaDir, i + 1, md.toString, hint = false)
    }
    snapIds.result()
  }
}
