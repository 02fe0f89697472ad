package graft.destinations

import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Hand-built foreign Iceberg v2 table carrying the primitive types only
  * FOREIGN writers produce — `uuid` (parquet FLBA(16) + UUID annotation),
  * `fixed[8]` (plain FLBA(8)), `time` (INT64 TIME(MICROS)) — the exact
  * physical shapes the public Iceberg spec's Appendix A prescribes.
  * Spark cannot write any of them, so the data files go through
  * parquet-mr's example writer; [[IcebergWrite]] (v2-native) deliberately
  * REFUSES tables with these columns (see
  * [[graft.sources.IcebergRead.refuseDivergentWrite]]).
  *
  * Two snapshots, mirroring a CDC-ish foreign history:
  *   1. append of `rows` (one data file, sequence 1);
  *   2. an EQUALITY DELETE keyed on the uuid column (field id 2) removing
  *      `deleteUuids` (sequence 2) — exercising the reader's binary→text
  *      uuid restore inside the delete anti-join, not just the scan.
  *
  * Gate/test surface only (reference has no Iceberg writer either:
  * `aqueducts` delegates lake formats to delta-rs / DataFusion).
  */
object IcebergForeignTypesFixture {

  /** `rows`: (id, uuid bytes (16), fixed bytes (8), time micros). */
  def write(
      spark: SparkSession,
      tablePath: String,
      rows: Seq[(Int, Array[Byte], Array[Byte], Long)],
      deleteUuids: Seq[Array[Byte]]): Unit = {
    require(rows.forall(r => r._2.length == 16 && r._3.length == 8),
      "uuid must be 16 bytes, fixed 8")
    val conf = spark.sessionState.newHadoopConf()
    val table = new Path(tablePath)
    val fs = table.getFileSystem(conf)
    val qualified = fs.makeQualified(table)
    val metaDir = new Path(qualified, "metadata")
    require(!fs.exists(metaDir), s"table already exists at $tablePath")
    val dataDir = new Path(qualified, "data")
    fs.mkdirs(metaDir)
    fs.mkdirs(dataDir)

    val uuidCol = Types.primitive(
        PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY, Repetition.OPTIONAL)
      .length(16).as(LogicalTypeAnnotation.uuidType()).id(2).named("u")

    // ---- data file (snapshot 1)
    val dataMsg: MessageType = Types.buildMessage()
      .addField(Types.primitive(PrimitiveTypeName.INT32, Repetition.REQUIRED)
        .id(1).named("id"))
      .addField(uuidCol)
      .addField(Types.primitive(
          PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY, Repetition.OPTIONAL)
        .length(8).id(3).named("fx"))
      .addField(Types.primitive(PrimitiveTypeName.INT64, Repetition.OPTIONAL)
        .as(LogicalTypeAnnotation.timeType(
          false, LogicalTypeAnnotation.TimeUnit.MICROS))
        .id(4).named("tm"))
      .named("table")
    val dataFile = new Path(dataDir, "data-00000.parquet")
    locally {
      val c = new org.apache.hadoop.conf.Configuration(conf)
      GroupWriteSupport.setSchema(dataMsg, c)
      val w = ExampleParquetWriter.builder(
          org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(dataFile, c))
        .withConf(c).build()
      val gf = new SimpleGroupFactory(dataMsg)
      try rows.foreach { case (id, u, fx, tm) =>
        val g = gf.newGroup()
        g.add("id", id)
        g.add("u", Binary.fromConstantByteArray(u))
        g.add("fx", Binary.fromConstantByteArray(fx))
        g.add("tm", tm)
        w.write(g)
      } finally w.close()
    }

    // ---- equality-delete file on the uuid column (snapshot 2)
    val delMsg: MessageType =
      Types.buildMessage().addField(uuidCol).named("table")
    val delFile = new Path(dataDir, "eqdel-00000.parquet")
    locally {
      val c = new org.apache.hadoop.conf.Configuration(conf)
      GroupWriteSupport.setSchema(delMsg, c)
      val w = ExampleParquetWriter.builder(
          org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(delFile, c))
        .withConf(c).build()
      val gf = new SimpleGroupFactory(delMsg)
      try deleteUuids.foreach { u =>
        val g = gf.newGroup()
        g.add("u", Binary.fromConstantByteArray(u))
        w.write(g)
      } finally w.close()
    }

    // ---- manifests (v2 spellings, unpartitioned)
    def writeManifest(
        target: Path,
        entries: Seq[(Path, Int, Long, Long, Option[Seq[Int]])]): Long = {
      val entrySchema = IcebergExport.manifestEntrySchema(Nil)
      val dfSchema = entrySchema.getField("data_file").schema()
      val partSchema = dfSchema.getField("partition").schema()
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](entrySchema))
      w.create(entrySchema, LocalIo.create(fs, target, true))
      try entries.foreach { case (path, content, rc, seq, eqIds) =>
        val df = new GenericData.Record(dfSchema)
        df.put("content", content)
        df.put("file_path", path.toString)
        df.put("file_format", "PARQUET")
        df.put("partition", new GenericData.Record(partSchema))
        df.put("record_count", rc)
        df.put("file_size_in_bytes", fs.getFileStatus(path).getLen)
        eqIds.foreach(ids => df.put("equality_ids",
          new GenericData.Array[Integer](
            dfSchema.getField("equality_ids").schema().getTypes.get(1),
            ids.map(Integer.valueOf).asJava)))
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1)
        e.put("snapshot_id", if (content == 0) 1L else 2L)
        e.put("sequence_number", seq)
        e.put("file_sequence_number", seq)
        e.put("data_file", df)
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
        m.put("added_snapshot_id", if (content == 0) 1L else 2L)
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
    val m1len = writeManifest(m1,
      Seq((dataFile, 0, rows.size.toLong, 1L, None)))
    val m2 = new Path(metaDir, "m2.avro")
    val m2len = writeManifest(m2,
      Seq((delFile, 2, deleteUuids.size.toLong, 2L, Some(Seq(2)))))
    val l1 = new Path(metaDir, "snap-1.avro")
    writeManifestList(l1, Seq((m1, m1len, 0, 1L)))
    val l2 = new Path(metaDir, "snap-2.avro")
    writeManifestList(l2, Seq((m1, m1len, 0, 1L), (m2, m2len, 1, 2L)))

    val md =
      s"""{"format-version":2,"table-uuid":"${java.util.UUID.randomUUID()}",
         |"location":"$qualified",
         |"last-sequence-number":2,"last-updated-ms":1700000100000,
         |"last-column-id":4,"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":[
         |  {"id":1,"name":"id","required":true,"type":"int"},
         |  {"id":2,"name":"u","required":false,"type":"uuid"},
         |  {"id":3,"name":"fx","required":false,"type":"fixed[8]"},
         |  {"id":4,"name":"tm","required":false,"type":"time"}]}],
         |"default-spec-id":0,"partition-specs":[{"spec-id":0,"fields":[]}],
         |"last-partition-id":999,"default-sort-order-id":0,
         |"sort-orders":[{"order-id":0,"fields":[]}],
         |"properties":{},
         |"current-snapshot-id":2,
         |"snapshots":[
         |  {"snapshot-id":1,"timestamp-ms":1700000000000,"sequence-number":1,
         |   "manifest-list":"$l1","schema-id":0,"summary":{"operation":"append"}},
         |  {"snapshot-id":2,"timestamp-ms":1700000100000,"sequence-number":2,
         |   "parent-snapshot-id":1,"manifest-list":"$l2","schema-id":0,
         |   "summary":{"operation":"delete"}}],
         |"snapshot-log":[
         |  {"timestamp-ms":1700000000000,"snapshot-id":1},
         |  {"timestamp-ms":1700000100000,"snapshot-id":2}],
         |"metadata-log":[]}""".stripMargin
    IcebergWrite.publishMetadata(fs, metaDir, 1, md, hint = false)
  }
}
