package graft.destinations

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

/** Hand-built **format-version 3** Iceberg table, as a FOREIGN v3 writer
  * would leave it (public Table Spec v3) — the shapes
  * [[graft.sources.IcebergRead]] reads but [[IcebergWrite]] (v2-native)
  * never produces:
  *
  *   - snapshot 1 (sequence 1): `df` as one field-id-stamped data parquet;
  *     the table schema may additionally declare a column with an
  *     `initial-default` that the file does NOT contain (the v3
  *     pre-addition-file semantics);
  *   - snapshot 2 (sequence 2): a DELETION VECTOR over positions of that
  *     data file — a `deletion-vector-v1` blob in a real puffin container
  *     (header magic, blob, JSON footer), referenced from the manifest by
  *     `referenced_data_file`/`content_offset`/`content_size_in_bytes`
  *     (field ids 143-145). The blob framing is Delta's DV framing, which
  *     v3 adopted verbatim: 4-byte BE length, portable magic, roaring64
  *     bitmap, 4-byte BE CRC-32 ([[graft.sources.DeletionVectors]]);
  *   - v3 metadata spellings: `format-version: 3`, `next-row-id`,
  *     snapshot `first-row-id`/`added-rows` (row lineage — readers
  *     tolerate, this engine does not expose).
  *
  * Gate/test surface only (the reference delegates lake formats to
  * delta-rs / DataFusion and has no v3 writer either).
  */
object IcebergV3Fixture {

  private val mapper = new ObjectMapper()

  private val entrySchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int","field-id":0},
      |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
      |  {"name":"content","type":"int","field-id":134},
      |  {"name":"file_path","type":"string","field-id":100},
      |  {"name":"file_format","type":"string","field-id":101},
      |  {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[]}},
      |  {"name":"record_count","type":"long","field-id":103},
      |  {"name":"file_size_in_bytes","type":"long","field-id":104},
      |  {"name":"first_row_id","type":["null","long"],"default":null,"field-id":142},
      |  {"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
      |  {"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
      |  {"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}
      |]}}]}""".stripMargin)

  /** Write the fixture. `extraColumn` = (name, iceberg type string,
    * initial-default JSON literal) declared in the schema but absent from
    * the data file. `deletedPositions` = row positions of the single data
    * file the snapshot-2 DV kills. Returns (tablePath snapshot1Id=1).
    */
  def write(
      spark: SparkSession,
      tablePath: String,
      df: DataFrame,
      deletedPositions: Seq[Long],
      extraColumn: Option[(String, String, String)] = None,
      // declare a column's Iceberg type explicitly instead of deriving it
      // from the Spark type — how a v3-only spelling whose physical form
      // Spark can't annotate (timestamp_ns over INT64 nanos) gets into
      // the table schema
      typeOverrides: Map[String, String] = Map.empty): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val table = new Path(tablePath)
    val fs = table.getFileSystem(conf)
    val qualified = fs.makeQualified(table)
    val metaDir = new Path(qualified, "metadata")
    require(!fs.exists(metaDir), s"table already exists at $tablePath")
    val dataDir = new Path(qualified, "data")
    fs.mkdirs(metaDir)
    fs.mkdirs(dataDir)

    // ---- schema: ids 1..n in field order (stamped into the parquet) +
    // the optional defaulted column at id n+1. Variant (v3-only) is
    // spelled here rather than in IcebergExport.icebergType — the
    // UniForm exporter targets v2 metadata, where emitting "variant"
    // would be spec-invalid for foreign readers.
    val ids = new IcebergExport.IdGen(0)
    val schemaNode = mapper.createObjectNode()
    schemaNode.put("type", "struct")
    locally {
      val fieldsArr = schemaNode.putArray("fields")
      df.schema.fields.foreach { f =>
        val fo = fieldsArr.addObject()
        fo.put("id", ids.fresh())
        fo.put("name", f.name)
        fo.put("required", !f.nullable)
        typeOverrides.get(f.name) match {
          case Some(spelled) => fo.put("type", spelled): Unit
          case None => f.dataType match {
            case org.apache.spark.sql.types.VariantType =>
              fo.put("type", "variant")
            case dt => IcebergExport.icebergType(dt, ids) match {
              case s: String => fo.put("type", s)
              case n: ObjectNode => fo.set[ObjectNode]("type", n)
              case other => throw new IllegalStateException(s"$other")
            }
          }
        }
      }
    }
    var lastColumnId = ids.max
    extraColumn.foreach { case (name, typ, dflt) =>
      lastColumnId += 1
      val f = schemaNode.withArray("fields").addObject()
      f.put("id", lastColumnId)
      f.put("name", name)
      f.put("required", false)
      f.put("type", typ)
      f.set[ObjectNode]("initial-default", mapper.readTree(dflt))
    }
    schemaNode.put("schema-id", 0)

    // ---- data file: Spark parquet WITH field ids (v3 requires them);
    // top-level ids come back from the schema node so they stay aligned
    // even when a nested type consumed intermediate ids
    val topIds = schemaNode.withArray("fields").elements()
      .asScala.map(_.get("id").asLong()).toArray
    val stamped = spark.createDataFrame(df.rdd.coalesce(1),
      org.apache.spark.sql.types.StructType(df.schema.fields.zipWithIndex.map {
        case (f, i) => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id", topIds(i)).build())
      }))
    val tmp = new Path(qualified, "_tmp-v3")
    stamped.write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .get
    val dataFile = new Path(dataDir, "data-00000.parquet")
    require(fs.rename(part, dataFile), s"rename to $dataFile failed")
    fs.delete(tmp, true)
    val recordCount = {
      val r = LocalIo.openParquet(dataFile, conf)
      try r.getRecordCount finally r.close()
    }

    // ---- puffin file: header magic, DV blob, JSON footer (spec framing;
    // the reader addresses the blob by manifest offsets, but a foreign
    // puffin tool should still recognize the container). No positions →
    // a single-snapshot table (a DV must be non-empty per spec).
    val withDv = deletedPositions.nonEmpty
    val puffinMagic = Array[Byte]('P', 'F', 'A', '1')
    val bitmap =
      if (withDv) graft.sources.DeletionVectors.serialize(
        deletedPositions.toArray.sorted)
      else Array.emptyByteArray
    val crc = new java.util.zip.CRC32
    crc.update(bitmap)
    val blob = ByteBuffer.allocate(4 + bitmap.length + 4)
      .putInt(bitmap.length).put(bitmap).putInt(crc.getValue.toInt).array()
    val blobOffset = 4L
    val dvFile = new Path(dataDir, "dv-00000.puffin")
    if (withDv) locally {
      val footer = mapper.createObjectNode()
      val b = footer.putArray("blobs").addObject()
      b.put("type", "deletion-vector-v1")
      b.putArray("fields")
      b.put("snapshot-id", 2L)
      b.put("sequence-number", 2L)
      b.put("offset", blobOffset)
      b.put("length", blob.length.toLong)
      val props = b.putObject("properties")
      props.put("referenced-data-file", dataFile.toString)
      props.put("cardinality", deletedPositions.size.toString)
      footer.putObject("properties")
      val payload = footer.toString.getBytes("UTF-8")
      val out = LocalIo.create(fs, dvFile, true)
      try {
        out.write(puffinMagic)
        out.write(blob)
        out.write(puffinMagic)
        out.write(payload)
        val tail = ByteBuffer.allocate(8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .putInt(payload.length).putInt(0) // size, flags (uncompressed)
        out.write(tail.array())
        out.write(puffinMagic)
      } finally out.close()
    }

    // ---- manifests
    def writeManifest(
        target: Path,
        content: Int,
        filePath: Path,
        fileFormat: String,
        rc: Long,
        seq: Long,
        dv: Option[(String, Long, Long)]): Long = {
      val dfSchema = entrySchema.getField("data_file").schema()
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](entrySchema))
      w.create(entrySchema, LocalIo.create(fs, target, true))
      try {
        val d = new GenericData.Record(dfSchema)
        d.put("content", content)
        d.put("file_path", filePath.toString)
        d.put("file_format", fileFormat)
        d.put("partition",
          new GenericData.Record(dfSchema.getField("partition").schema()))
        d.put("record_count", rc)
        d.put("file_size_in_bytes", fs.getFileStatus(filePath).getLen)
        // row lineage: the single data file starts the table's id space
        if (content == 0) d.put("first_row_id", 0L)
        dv.foreach { case (ref, off, size) =>
          d.put("referenced_data_file", ref)
          d.put("content_offset", off)
          d.put("content_size_in_bytes", size)
        }
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1)
        e.put("snapshot_id", seq) // fixture convention: snapshot id == seq
        e.put("sequence_number", seq)
        e.put("file_sequence_number", seq)
        e.put("data_file", d)
        w.append(e)
      } finally w.close()
      fs.getFileStatus(target).getLen
    }
    def writeManifestList(
        target: Path, manifests: Seq[(Path, Long, Int, Long)]): Unit = {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](IcebergExport.manifestFileSchema))
      w.create(IcebergExport.manifestFileSchema, LocalIo.create(fs, target, true))
      try manifests.foreach { case (p, len, content, seq) =>
        val m = new GenericData.Record(IcebergExport.manifestFileSchema)
        m.put("manifest_path", p.toString)
        m.put("manifest_length", len)
        m.put("partition_spec_id", 0)
        m.put("content", content)
        m.put("sequence_number", seq)
        m.put("min_sequence_number", seq)
        m.put("added_snapshot_id", seq)
        m.put("added_files_count", 1)
        m.put("existing_files_count", 0)
        m.put("deleted_files_count", 0)
        m.put("added_rows_count", 1L)
        m.put("existing_rows_count", 0L)
        m.put("deleted_rows_count", 0L)
        w.append(m)
      } finally w.close()
    }
    val m1 = new Path(metaDir, "m1.avro")
    val m1len = writeManifest(m1, 0, dataFile, "PARQUET", recordCount, 1L, None)
    val l1 = new Path(metaDir, "snap-1.avro")
    writeManifestList(l1, Seq((m1, m1len, 0, 1L)))
    val snap2 =
      if (!withDv) ""
      else {
        val m2 = new Path(metaDir, "m2.avro")
        val m2len = writeManifest(m2, 1, dvFile, "PUFFIN",
          deletedPositions.size.toLong, 2L,
          Some((dataFile.toString, blobOffset, blob.length.toLong)))
        val l2 = new Path(metaDir, "snap-2.avro")
        writeManifestList(l2, Seq((m1, m1len, 0, 1L), (m2, m2len, 1, 2L)))
        s""",
           |  {"snapshot-id":2,"timestamp-ms":1700000100000,"sequence-number":2,
           |   "parent-snapshot-id":1,"first-row-id":$recordCount,"added-rows":0,
           |   "manifest-list":"$l2","schema-id":0,"summary":{"operation":"delete"}}""".stripMargin
      }
    val lastSeq = if (withDv) 2 else 1
    val md =
      s"""{"format-version":3,"table-uuid":"${java.util.UUID.randomUUID()}",
         |"location":"$qualified",
         |"last-sequence-number":$lastSeq,"last-updated-ms":1700000100000,
         |"last-column-id":$lastColumnId,"next-row-id":${recordCount + 1},
         |"current-schema-id":0,
         |"schemas":[$schemaNode],
         |"default-spec-id":0,"partition-specs":[{"spec-id":0,"fields":[]}],
         |"last-partition-id":999,"default-sort-order-id":0,
         |"sort-orders":[{"order-id":0,"fields":[]}],
         |"properties":{},
         |"current-snapshot-id":$lastSeq,
         |"snapshots":[
         |  {"snapshot-id":1,"timestamp-ms":1700000000000,"sequence-number":1,
         |   "first-row-id":0,"added-rows":$recordCount,
         |   "manifest-list":"$l1","schema-id":0,"summary":{"operation":"append"}}$snap2],
         |"snapshot-log":[
         |  {"timestamp-ms":1700000000000,"snapshot-id":1}${
            if (withDv) ""","""+"\n"+"""  {"timestamp-ms":1700000100000,"snapshot-id":2}""" else ""}],
         |"metadata-log":[]}""".stripMargin
    IcebergWrite.publishMetadata(fs, metaDir, 1, md, hint = false)
  }
}
