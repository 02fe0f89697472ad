package graft.destinations

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.sources.DeltaLog

import scala.jdk.CollectionConverters._

/** UniForm-style Apache Iceberg metadata export for Delta tables (public
  * Iceberg Table Spec v2, iceberg.apache.org/spec; capability class of
  * Delta UniForm: the same parquet data files served under BOTH table
  * formats — Iceberg metadata is generated alongside the Delta log, no
  * data rewrite at any table size).
  *
  * Layout is the Iceberg filesystem-table ("HadoopTables") convention an
  * Iceberg reader loads straight from the path:
  * {{{
  *   <table>/metadata/v<N>.metadata.json    table metadata (format-version 2)
  *   <table>/metadata/version-hint.text     current N
  *   <table>/metadata/snap-<id>-...avro     manifest list
  *   <table>/metadata/<uuid>-m0.avro        manifest file
  * }}}
  *
  * Each export writes ONE new snapshot describing the Delta table's
  * CURRENT live state (operation `overwrite`: every live file listed as
  * ADDED under the new snapshot — the spec shape for a replaced state),
  * appends it to the snapshot log, and bumps the metadata version.
  * `table-uuid` is the Delta table id, so re-exports stay one Iceberg
  * table.
  *
  * Since the Delta-written parquet carries no Iceberg field ids, the
  * metadata includes the spec's `schema.name-mapping.default` property
  * mapping column names → field ids — the public mechanism for exactly
  * this migrated-file case. Under column mapping mode `name` the mapping
  * speaks the files' PHYSICAL names while the Iceberg schema speaks
  * logical names, so mapped tables export cleanly too.
  *
  * Live deletion vectors export METADATA-ONLY as Iceberg v2 position
  * delete files (one per DV-carrying data file, scoped to its partition)
  * — no data rewrite at any table size. Refused loudly: VARIANT columns
  * (no Iceberg v2 type).
  *
  * Scale: the export is metadata-bounded — one pass over the live-file
  * manifest (the same list any read plans over), zero data-file IO; stats
  * carry the record counts.
  */
object IcebergExport {

  private val mapper = new ObjectMapper()

  // ------------------------------------------------------------ field ids

  /** Field-id assignment over the LOGICAL schema. Mapped tables REUSE the
    * Delta column-mapping ids — under icebergCompatV2 those very ids are
    * stamped into the parquet as field ids, so the exported schema, the
    * name mapping and the files all agree on one id space (ids stay
    * stable across renames too). Unmapped tables assign depth-first
    * (Iceberg's own order); either way fresh ids (list/map elements)
    * start past the highest assigned id.
    */
  private[graft] final class IdGen(startAfter: Int) {
    private var next = startAfter
    def id(f: StructField): Int =
      if (f.metadata.contains("delta.columnMapping.id"))
        f.metadata.getLong("delta.columnMapping.id").toInt
      else fresh()
    def fresh(): Int = { next += 1; next }
    def max: Int = next
  }

  private[graft] def icebergType(dt: DataType, ids: IdGen): Any =
    dt match {
      case BooleanType => "boolean"
      case ByteType | ShortType | IntegerType => "int"
      case LongType => "long"
      case FloatType => "float"
      case DoubleType => "double"
      case StringType => "string"
      case BinaryType => "binary"
      case DateType => "date"
      case _: TimestampType => "timestamptz"
      case t: TimestampNTZType => "timestamp"
      case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
      case s: StructType =>
        val o = mapper.createObjectNode()
        o.put("type", "struct")
        val fields = o.putArray("fields")
        s.fields.foreach { f =>
          val fo = fields.addObject()
          fo.put("id", ids.id(f))
          fo.put("name", f.name)
          fo.put("required", !f.nullable)
          putType(fo, "type", icebergType(f.dataType, ids))
        }
        o
      case a: ArrayType =>
        val o = mapper.createObjectNode()
        o.put("type", "list")
        o.put("element-id", ids.fresh())
        putType(o, "element", icebergType(a.elementType, ids))
        o.put("element-required", !a.containsNull)
        o
      case m: MapType =>
        val o = mapper.createObjectNode()
        o.put("type", "map")
        o.put("key-id", ids.fresh())
        putType(o, "key", icebergType(m.keyType, ids))
        o.put("value-id", ids.fresh())
        putType(o, "value", icebergType(m.valueType, ids))
        o.put("value-required", !m.valueContainsNull)
        o
      case other => throw new IllegalArgumentException(
        s"no Iceberg v2 type for ${other.catalogString}")
    }

  private def putType(o: ObjectNode, field: String, t: Any): Unit = t match {
    case s: String => o.put(field, s): Unit
    // NB: set is generic in its return; an ascription would make scalac
    // infer T = Unit and cast the returned node to BoxedUnit at runtime
    case n: ObjectNode => o.set[com.fasterxml.jackson.databind.JsonNode](field, n): Unit
  }

  /** Hierarchical `schema.name-mapping.default` entries: nested `fields`
    * arrays per the spec for struct/array/map types, so a standards
    * reader resolves NESTED fields of id-less files too (top-level-only
    * mapping silently reads nested columns as null). Walks the built
    * Iceberg schema node in lockstep with the Spark type, so the ids are
    * exactly the exported schema's.
    */
  private def mappingEntries(
      typeNode: com.fasterxml.jackson.databind.JsonNode,
      dt: DataType): Option[ArrayNode] = (typeNode, dt) match {
    case (o: ObjectNode, st: StructType) if o.get("type").asText() == "struct" =>
      val arr = mapper.createArrayNode()
      o.get("fields").elements().asScala.toSeq.zip(st.fields.toSeq).foreach {
        case (fn, sf) =>
          val m = arr.addObject()
          val names = m.putArray("names")
          val phys = DeltaLog.physicalFieldName(sf)
          names.add(phys)
          if (phys != sf.name) names.add(sf.name)
          m.put("field-id", fn.get("id").asInt())
          mappingEntries(fn.get("type"), sf.dataType)
            .foreach(nested => m.set[ObjectNode]("fields", nested))
      }
      Some(arr)
    case (o: ObjectNode, a: ArrayType) if o.get("type").asText() == "list" =>
      val arr = mapper.createArrayNode()
      val m = arr.addObject()
      m.putArray("names").add("element")
      m.put("field-id", o.get("element-id").asInt())
      mappingEntries(o.get("element"), a.elementType)
        .foreach(nested => m.set[ObjectNode]("fields", nested))
      Some(arr)
    case (o: ObjectNode, mt: MapType) if o.get("type").asText() == "map" =>
      val arr = mapper.createArrayNode()
      val k = arr.addObject()
      k.putArray("names").add("key")
      k.put("field-id", o.get("key-id").asInt())
      mappingEntries(o.get("key"), mt.keyType)
        .foreach(nested => k.set[ObjectNode]("fields", nested))
      val v = arr.addObject()
      v.putArray("names").add("value")
      v.put("field-id", o.get("value-id").asInt())
      mappingEntries(o.get("value"), mt.valueType)
        .foreach(nested => v.set[ObjectNode]("fields", nested))
      Some(arr)
    case _ => None // primitive
  }

  // --------------------------------------------------------- avro schemas

  /** `manifest_entry` Avro schema for ONE table (the data_file partition
    * struct depends on the partition columns). Field ids per the spec's
    * manifest tables. Only v2-required fields plus the ones this export
    * fills; every column is name-addressed, so optional spec fields may be
    * absent entirely.
    */
  private[graft] def manifestEntrySchema(
      partitionFields: Seq[(String, String, Int)],
      v3: Boolean = false): Schema = {
    val partFields = partitionFields.map { case (name, avroType, fid) =>
      s"""{"name":${quote(name)},"type":["null",$avroType],"default":null,"field-id":$fid}"""
    }.mkString(",")
    // v3 additions (spec field ids 142-145): row-lineage start id on data
    // files, and the deletion-vector addressing triple on puffin deletes
    val v3Fields = if (!v3) "" else
      """,
        |  {"name":"first_row_id","type":["null","long"],"default":null,"field-id":142},
        |  {"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
        |  {"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
        |  {"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}""".stripMargin
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int","field-id":0},
         |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
         |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
         |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
         |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
         |  {"name":"content","type":"int","field-id":134},
         |  {"name":"file_path","type":"string","field-id":100},
         |  {"name":"file_format","type":"string","field-id":101},
         |  {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[$partFields]}},
         |  {"name":"record_count","type":"long","field-id":103},
         |  {"name":"file_size_in_bytes","type":"long","field-id":104},
         |  {"name":"null_value_counts","field-id":110,"default":null,"type":["null",
         |    {"type":"array","logicalType":"map","items":{"type":"record","name":"k121_v122","fields":[
         |      {"name":"key","type":"int","field-id":121},{"name":"value","type":"long","field-id":122}]}}]},
         |  {"name":"lower_bounds","field-id":125,"default":null,"type":["null",
         |    {"type":"array","logicalType":"map","items":{"type":"record","name":"k126_v127","fields":[
         |      {"name":"key","type":"int","field-id":126},{"name":"value","type":"bytes","field-id":127}]}}]},
         |  {"name":"upper_bounds","field-id":128,"default":null,"type":["null",
         |    {"type":"array","logicalType":"map","items":{"type":"record","name":"k129_v130","fields":[
         |      {"name":"key","type":"int","field-id":129},{"name":"value","type":"bytes","field-id":130}]}}]},
         |  {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null,"field-id":135}$v3Fields
         |]}}]}""".stripMargin)
  }

  private[graft] val manifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514},
      |{"name":"partitions","field-id":507,"default":null,"type":["null",
      |  {"type":"array","items":{"type":"record","name":"r508","fields":[
      |    {"name":"contains_null","type":"boolean","field-id":509},
      |    {"name":"contains_nan","type":["null","boolean"],"default":null,"field-id":518},
      |    {"name":"lower_bound","type":["null","bytes"],"default":null,"field-id":510},
      |    {"name":"upper_bound","type":["null","bytes"],"default":null,"field-id":511}
      |  ]}}]}
      |]}""".stripMargin)

  /** Write snapshot `snapshotId`'s manifest list under `metaDir`; `fill`
    * appends its records. Returns the list's path. */
  private[destinations] def writeManifestList(
      fs: org.apache.hadoop.fs.FileSystem, metaDir: Path, formatVersion: Int,
      snapshotId: Long, sequence: Long)(
      fill: DataFileWriter[GenericRecord] => Unit): Path = {
    val listPath = new Path(metaDir,
      s"snap-$snapshotId-1-${java.util.UUID.randomUUID()}.avro")
    val lw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](manifestFileSchema))
    lw.setMeta("format-version", formatVersion.toString)
    lw.setMeta("snapshot-id", snapshotId.toString)
    lw.setMeta("sequence-number", sequence.toString)
    lw.create(manifestFileSchema, LocalIo.create(fs, listPath, true))
    try fill(lw) finally lw.close()
    listPath
  }

  /** The manifest-list record of a manifest that snapshot `snapshotId`
    * adds at `sequence`: `files` ADDED entries holding `rows` rows
    * (`content` 0 data, 1 deletes). */
  private[destinations] def addedManifest(
      path: Path, length: Long, specId: Int, content: Int, sequence: Long,
      snapshotId: Long, files: Int, rows: Long): GenericData.Record = {
    val m = new GenericData.Record(manifestFileSchema)
    m.put("manifest_path", path.toString)
    m.put("manifest_length", length)
    m.put("partition_spec_id", specId)
    m.put("content", content)
    m.put("sequence_number", sequence)
    m.put("min_sequence_number", sequence)
    m.put("added_snapshot_id", snapshotId)
    m.put("added_files_count", files)
    m.put("existing_files_count", 0)
    m.put("deleted_files_count", 0)
    m.put("added_rows_count", rows)
    m.put("existing_rows_count", 0L)
    m.put("deleted_rows_count", 0L)
    m
  }

  /** The manifest-list `partitions` field-summary array (spec-field
    * order): (contains_null, lower, upper) with single-value-serialized
    * bounds — None bounds mean "no information" (readers must keep). */
  private[graft] def partitionsSummary(
      sums: Seq[(Boolean, Option[Array[Byte]], Option[Array[Byte]])]): AnyRef = {
    val arrSchema = manifestFileSchema.getField("partitions").schema().getTypes.get(1)
    val recSchema = arrSchema.getElementType
    val arr = new GenericData.Array[GenericRecord](sums.size, arrSchema)
    sums.foreach { case (cn, lo, hi) =>
      val r = new GenericData.Record(recSchema)
      r.put("contains_null", cn)
      lo.foreach(b => r.put("lower_bound", java.nio.ByteBuffer.wrap(b)))
      hi.foreach(b => r.put("upper_bound", java.nio.ByteBuffer.wrap(b)))
      arr.add(r)
    }
    arr
  }

  private def quote(s: String): String = mapper.writeValueAsString(s)

  /** Avro type + value converter for a PARTITION column (Delta partition
    * values are strings in the log; Iceberg manifests carry them typed).
    */
  private[graft] def partitionAvro(dt: DataType): (String, String => AnyRef) = dt match {
    case StringType => ("\"string\"", s => s)
    case LongType => ("\"long\"", s => java.lang.Long.valueOf(s))
    case ByteType | ShortType | IntegerType => ("\"int\"", s => java.lang.Integer.valueOf(s))
    case BooleanType => ("\"boolean\"", s => java.lang.Boolean.valueOf(s))
    case DoubleType => ("\"double\"", s => java.lang.Double.valueOf(s))
    case FloatType => ("\"float\"", s => java.lang.Float.valueOf(s))
    case DateType => ("{\"type\":\"int\",\"logicalType\":\"date\"}",
      s => java.lang.Integer.valueOf(java.time.LocalDate.parse(s).toEpochDay.toInt))
    case other => throw new IllegalArgumentException(
      s"unsupported Iceberg partition type ${other.catalogString}")
  }

  /** Delta add-action stats JSON → the manifest entry's Iceberg bounds
    * maps (field-id keyed, spec Appendix-D serialization): integral,
    * string, date and timestamptz columns only — the forms that convert
    * losslessly from Delta's JSON spellings (dates ISO, timestamps
    * ISO-UTC). Two Delta max-side conventions are NOT valid Iceberg
    * upper bounds verbatim and get re-derived: (1) truncated string
    * maxima end in delta-spark's U+FFFF tie-breaker, an upper bound only
    * in UTF-16 order (an astral char after the prefix exceeds U+FFFF in
    * Iceberg's UTF-8 byte order) — the prefix's last code point is
    * incremented instead (omitted when un-incrementable); (2) a foreign
    * millisecond-truncated timestamp max would become an exact-micros
    * bound BELOW the true max — it is padded by the sub-precision
    * remainder. Unconvertible columns are omitted and simply never
    * prune. Foreign engines reading the UniForm export get file
    * skipping for free.
    */
  /** UTF-8-valid upper bound for a Delta-truncated string max whose
    * U+FFFF tie-breaker has been stripped: the prefix with its last code
    * point incremented (skipping the unencodable surrogate range). None
    * when the prefix is empty or ends at U+10FFFF — the column then
    * simply carries no upper bound. Sound either way: the increment also
    * covers the rare verbatim value that genuinely ends in U+FFFF.
    */
  private[graft] def upperAfterTieBreaker(prefix: String): Option[String] = {
    if (prefix.isEmpty) return None
    val lastStart = prefix.offsetByCodePoints(prefix.length, -1)
    val cp = prefix.codePointAt(lastStart)
    if (cp >= 0x10FFFF) None
    else {
      val next = if (cp + 1 >= 0xD800 && cp + 1 <= 0xDFFF) 0xE000 else cp + 1
      Some(prefix.substring(0, lastStart) + new String(Character.toChars(next)))
    }
  }

  /** Micros to ADD to a parsed timestamp max whose textual form carries
    * fewer than 6 fractional digits (a coarser-precision writer may have
    * truncated downward): 999 for milliseconds, 999999 for bare seconds,
    * 0 for this engine's own full-micros spelling.
    */
  private[graft] def tsSubPrecisionPad(txt: String): Long = {
    val dot = txt.indexOf('.')
    var digits = 0
    if (dot >= 0) {
      var k = dot + 1
      while (k < txt.length && Character.isDigit(txt.charAt(k))) { digits += 1; k += 1 }
    }
    if (digits >= 6) 0L
    else {
      var pad = 1L
      var d = digits
      while (d < 6) { pad *= 10L; d += 1 }
      pad - 1L
    }
  }

  private def statsBounds(
      statsJson: String,
      snap: DeltaLog.Snapshot,
      fieldIdOf: Map[String, Int])
      : (Map[Int, Array[Byte]], Map[Int, Array[Byte]], Map[Int, Long]) = {
    import graft.sources.IcebergTransforms.boundBytes
    val lower = Map.newBuilder[Int, Array[Byte]]
    val upper = Map.newBuilder[Int, Array[Byte]]
    val nulls = Map.newBuilder[Int, Long]
    try {
      val n = mapper.readTree(statsJson)
      snap.schema.fields.foreach { f =>
        val key = snap.physicalName(f.name)
        fieldIdOf.get(f.name).foreach { fid =>
          def ser(group: String, isUpper: Boolean): Option[Array[Byte]] =
            Option(n.get(group)).flatMap(g =>
              Option(g.get(key)).orElse(Option(g.get(f.name))))
              .filterNot(_.isNull).flatMap { v =>
                try f.dataType match {
                  case ByteType | ShortType | IntegerType =>
                    Some(boundBytes(v.asInt()))
                  case LongType => Some(boundBytes(v.asLong()))
                  case StringType =>
                    val s = v.asText()
                    if (isUpper && s.nonEmpty && s.charAt(s.length - 1) == '￿')
                      upperAfterTieBreaker(s.substring(0, s.length - 1))
                        .map(boundBytes)
                    else Some(boundBytes(s))
                  case DateType => Some(boundBytes(
                    java.time.LocalDate.parse(v.asText()).toEpochDay.toInt))
                  case TimestampType =>
                    val txt = v.asText()
                    val i = try java.time.OffsetDateTime.parse(txt).toInstant
                    catch { case _: Exception =>
                      java.time.LocalDateTime.parse(txt.replace(' ', 'T'))
                        .toInstant(java.time.ZoneOffset.UTC) }
                    val micros = i.getEpochSecond * 1000000L + i.getNano / 1000L
                    Some(boundBytes(
                      if (isUpper) micros + tsSubPrecisionPad(txt) else micros))
                  case _ => None
                } catch { case scala.util.control.NonFatal(_) => None }
              }
          ser("minValues", isUpper = false).foreach(b => lower += fid -> b)
          ser("maxValues", isUpper = true).foreach(b => upper += fid -> b)
          Option(n.get("nullCount")).flatMap(g =>
            Option(g.get(key)).orElse(Option(g.get(f.name))))
            .filterNot(_.isNull).foreach(c => nulls += fid -> c.asLong())
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    (lower.result(), upper.result(), nulls.result())
  }

  /** Stamp bounds/null-count maps onto a data_file avro record. */
  private def putBounds(
      df: GenericRecord,
      dataFileSchema: org.apache.avro.Schema,
      lower: Map[Int, Array[Byte]],
      upper: Map[Int, Array[Byte]],
      nulls: Map[Int, Long]): Unit = {
    def kv(field: String, entries: Seq[(Int, AnyRef)]): Unit =
      if (entries.nonEmpty) {
        val arrSchema = dataFileSchema.getField(field).schema().getTypes.get(1)
        val rec = arrSchema.getElementType
        val arr = new GenericData.Array[GenericRecord](entries.size, arrSchema)
        entries.sortBy(_._1).foreach { case (fid, v) =>
          val e = new GenericData.Record(rec)
          e.put("key", fid)
          e.put("value", v)
          arr.add(e)
        }
        df.put(field, arr)
      }
    kv("lower_bounds",
      lower.toSeq.map { case (k, b) => k -> java.nio.ByteBuffer.wrap(b) })
    kv("upper_bounds",
      upper.toSeq.map { case (k, b) => k -> java.nio.ByteBuffer.wrap(b) })
    kv("null_value_counts",
      nulls.toSeq.map { case (k, c) => k -> java.lang.Long.valueOf(c) })
  }

  // --------------------------------------------------------------- export

  /** Export/refresh Iceberg metadata for the Delta table at `tablePath`.
    * Returns the new Iceberg metadata version N (of `vN.metadata.json`).
    */
  def export(spark: SparkSession, tablePath: String): Int = {
    val snap = DeltaLog.snapshot(spark, tablePath)
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val qualifiedTable = fs.makeQualified(table)
    val metaDir = new Path(qualifiedTable, "metadata")
    fs.mkdirs(metaDir)

    // ---- schema + ids (logical names; physical names only in the mapping)
    val ids = new IdGen(
      snap.configuration.get("delta.columnMapping.maxColumnId")
        .map(_.toInt).getOrElse(0))
    val schemaNode = icebergType(snap.schema, ids)
      .asInstanceOf[ObjectNode]
    schemaNode.put("schema-id", 0)
    val fieldIdOf: Map[String, Int] =
      schemaNode.get("fields").elements().asScala
        .map(f => f.get("name").asText() -> f.get("id").asInt()).toMap

    // name mapping: the files carry no Iceberg field ids, so map the names
    // they DO carry (physical under column mapping) to the schema's ids —
    // hierarchical entries so nested struct/list/map fields resolve too
    val nameMapping = mappingEntries(schemaNode, snap.schema).get

    // ---- partition spec (identity transforms over the partition columns)
    val specFields = snap.partitionColumns.zipWithIndex.map { case (c, i) =>
      (c, snap.schema(c).dataType, 1000 + i)
    }
    val specNode = mapper.createObjectNode()
    specNode.put("spec-id", 0)
    val sf = specNode.putArray("fields")
    specFields.foreach { case (c, _, fid) =>
      val f = sf.addObject()
      f.put("name", c)
      f.put("transform", "identity")
      f.put("source-id", fieldIdOf(c))
      f.put("field-id", fid)
    }

    // the prior state is resolved once and the new version published
    // exclusively: an export that overlaps another one loses with
    // ConcurrentCommitException (IcebergWrite.commit)
    IcebergWrite.commit(fs, metaDir) { (current, prior) =>
      // ---- one manifest listing every live file as ADDED under this snapshot
      val snapshotId = math.abs(java.util.UUID.randomUUID().getLeastSignificantBits)
      val version = current + 1
      val sequence = version.toLong
      val nowMs = System.currentTimeMillis()

      val partAvro = specFields.map { case (c, dt, fid) =>
        val (t, conv) = partitionAvro(dt)
        (c, t, fid, conv)
      }
      val entrySchema = manifestEntrySchema(partAvro.map(p => (p._1, p._2, p._3)))
      val dataFileSchema = entrySchema.getField("data_file").schema()
      val partSchema = dataFileSchema.getField("partition").schema()

      var rows = 0L
      val manifestName = s"${java.util.UUID.randomUUID()}-m0.avro"
      val manifestPath = new Path(metaDir, manifestName)
      val mw = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](entrySchema))
      mw.setMeta("format-version", "2")
      mw.setMeta("content", "data")
      mw.setMeta("schema", schemaNode.toString)
      mw.setMeta("partition-spec", specNode.get("fields").toString)
      mw.setMeta("partition-spec-id", "0")
      mw.create(entrySchema, LocalIo.create(fs, manifestPath, true))
      try {
        snap.files.sortBy(_.path).foreach { a =>
          val rc = a.stats.flatMap(s =>
            Option(mapper.readTree(s).get("numRecords")).map(_.asLong()))
            .getOrElse {
              // stats-less add (foreign writers often omit stats): one
              // driver-side footer read — bounded by the stats-less count,
              // and exact (the footer's record count is authoritative)
              val f = new Path(qualifiedTable, DeltaLog.decodePath(a.path))
              val r = LocalIo.openParquet(f, spark.sessionState.newHadoopConf())
              try r.getRecordCount finally r.close()
            }
          rows += rc
          val part = new GenericData.Record(partSchema)
          partAvro.foreach { case (c, _, _, conv) =>
            val raw = a.partitionValues.get(snap.physicalName(c))
              .orElse(a.partitionValues.get(c)).filter(_ != null)
            part.put(c, raw.map(conv).orNull)
          }
          val df = new GenericData.Record(dataFileSchema)
          df.put("content", 0)
          df.put("file_path",
            new Path(qualifiedTable, DeltaLog.decodePath(a.path)).toString)
          df.put("file_format", "PARQUET")
          df.put("partition", part)
          df.put("record_count", rc)
          df.put("file_size_in_bytes", a.size)
          a.stats.foreach { sj =>
            val (lo, hi, nc) = statsBounds(sj, snap, fieldIdOf)
            putBounds(df, dataFileSchema, lo, hi, nc)
          }
          val e = new GenericData.Record(entrySchema)
          e.put("status", 1) // ADDED under this snapshot
          e.put("snapshot_id", snapshotId)
          e.put("sequence_number", sequence)
          e.put("file_sequence_number", sequence)
          e.put("data_file", df)
          mw.append(e)
        }
      } finally mw.close()
      val manifestLen = fs.getFileStatus(manifestPath).getLen

      // ---- deletion vectors → Iceberg v2 position-delete files (spec
      // §delete-files): each DV's masked rows become (file_path, pos) rows in
      // a delete parquet scoped to the data file's partition — METADATA-ONLY
      // DV export, no data rewrite at any table size (the rewrite UniForm
      // exists to avoid). Driver memory is bounded per file by one DV's
      // cardinality (the same bitmap any reader of that file decodes).
      val dvFiles = snap.files.filter(_.deletionVector.isDefined).sortBy(_.path)
      var deleteRows = 0L
      val deleteManifestInfo: Option[(Path, Long)] = if (dvFiles.isEmpty) None else {
        val dmName = s"${java.util.UUID.randomUUID()}-m1.avro"
        val dmPath = new Path(metaDir, dmName)
        val dw = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](entrySchema))
        dw.setMeta("format-version", "2")
        dw.setMeta("content", "deletes")
        dw.setMeta("schema", schemaNode.toString)
        dw.setMeta("partition-spec", specNode.get("fields").toString)
        dw.setMeta("partition-spec-id", "0")
        dw.create(entrySchema, LocalIo.create(fs, dmPath, true))
        try {
          dvFiles.foreach { a =>
            val d = graft.sources.DeletionVectors.parse(a.deletionVector.get)
            val positions = graft.sources.DeletionVectors
              .readBitmap(spark, tablePath, d).toLongArray.sorted
            val dataPath = new Path(qualifiedTable, DeltaLog.decodePath(a.path)).toString
            val (delPath, delLen) =
              writePositionDelete(spark, fs, metaDir, dataPath, positions)
            deleteRows += positions.length
            val part = new GenericData.Record(partSchema)
            partAvro.foreach { case (c, _, _, conv) =>
              val raw = a.partitionValues.get(snap.physicalName(c))
                .orElse(a.partitionValues.get(c)).filter(_ != null)
              part.put(c, raw.map(conv).orNull)
            }
            val df = new GenericData.Record(dataFileSchema)
            df.put("content", 1) // POSITION_DELETES
            df.put("file_path", delPath.toString)
            df.put("file_format", "PARQUET")
            df.put("partition", part)
            df.put("record_count", positions.length.toLong)
            df.put("file_size_in_bytes", delLen)
            val e = new GenericData.Record(entrySchema)
            e.put("status", 1)
            e.put("snapshot_id", snapshotId)
            e.put("sequence_number", sequence)
            e.put("file_sequence_number", sequence)
            e.put("data_file", df)
            dw.append(e)
          }
        } finally dw.close()
        Some((dmPath, fs.getFileStatus(dmPath).getLen))
      }

      // ---- manifest list
      val listPath = writeManifestList(fs, metaDir, 2, snapshotId, sequence) { lw =>
        lw.append(addedManifest(manifestPath, manifestLen, 0, 0, sequence,
          snapshotId, snap.files.size, rows))
        deleteManifestInfo.foreach { case (dmPath, dmLen) =>
          lw.append(addedManifest(dmPath, dmLen, 0, 1, sequence, snapshotId,
            dvFiles.size, deleteRows))
        }
      }

      // ---- table metadata
      val md = mapper.createObjectNode()
      md.put("format-version", 2)
      md.put("table-uuid", DeltaLog.tableId(snap)
        .getOrElse(java.util.UUID.randomUUID().toString))
      md.put("location", qualifiedTable.toString)
      md.put("last-sequence-number", sequence)
      md.put("last-updated-ms", nowMs)
      md.put("last-column-id", (fieldIdOf.values ++ Seq(ids.max)).max)
      md.put("current-schema-id", 0)
      md.putArray("schemas").add(schemaNode)
      md.put("default-spec-id", 0)
      md.putArray("partition-specs").add(specNode)
      md.put("last-partition-id", specFields.lastOption.map(_._3).getOrElse(999))
      md.put("default-sort-order-id", 0)
      val so = md.putArray("sort-orders").addObject()
      so.put("order-id", 0)
      so.putArray("fields")
      val props = md.putObject("properties")
      props.put("schema.name-mapping.default", nameMapping.toString)
      props.put("write.format.default", "parquet")
      md.put("current-snapshot-id", snapshotId)
      val snapNode = mapper.createObjectNode()
      snapNode.put("snapshot-id", snapshotId)
      prior.flatMap(p => Option(p.get("current-snapshot-id")))
        .foreach(p => snapNode.put("parent-snapshot-id", p.asLong()): Unit)
      snapNode.put("timestamp-ms", nowMs)
      snapNode.put("sequence-number", sequence)
      snapNode.put("manifest-list", listPath.toString)
      snapNode.put("schema-id", 0)
      val summary = snapNode.putObject("summary")
      summary.put("operation", "overwrite")
      summary.put("added-data-files", snap.files.size.toString)
      summary.put("added-records", rows.toString)
      summary.put("total-data-files", snap.files.size.toString)
      summary.put("total-records", rows.toString)
      if (dvFiles.nonEmpty) {
        summary.put("added-delete-files", dvFiles.size.toString)
        summary.put("total-delete-files", dvFiles.size.toString)
        summary.put("added-position-deletes", deleteRows.toString)
        summary.put("total-position-deletes", deleteRows.toString)
      }
      val snapshots = md.putArray("snapshots")
      prior.foreach(p => Option(p.get("snapshots")).foreach {
        case arr: com.fasterxml.jackson.databind.node.ArrayNode =>
          arr.elements().asScala.foreach(snapshots.add)
        case _ => ()
      })
      snapshots.add(snapNode)
      val slog = md.putArray("snapshot-log")
      prior.foreach(p => Option(p.get("snapshot-log")).foreach {
        case arr: com.fasterxml.jackson.databind.node.ArrayNode =>
          arr.elements().asScala.foreach(slog.add)
        case _ => ()
      })
      val sl = slog.addObject()
      sl.put("timestamp-ms", nowMs)
      sl.put("snapshot-id", snapshotId)
      md.putArray("metadata-log")
      Right((md, version))
    }
  }

  /** One Iceberg position-delete parquet for `dataFilePath`'s masked rows
    * — columns `file_path` (field id 2147483546) / `pos` (2147483545) per
    * the spec's reserved delete-file ids (Spark's parquet writer stamps
    * them from the `parquet.field.id` metadata key), rows sorted by pos.
    * Returns (path, length).
    */
  private def writePositionDelete(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      metaDir: Path,
      dataFilePath: String,
      positions: Array[Long]): (Path, Long) = {
    val schema = StructType(Seq(
      StructField("file_path", StringType, nullable = false,
        metadata = new MetadataBuilder().putLong("parquet.field.id", 2147483546L).build()),
      StructField("pos", LongType, nullable = false,
        metadata = new MetadataBuilder().putLong("parquet.field.id", 2147483545L).build())))
    val rows = positions.map(p =>
      org.apache.spark.sql.Row(dataFilePath, p)).toIndexedSeq
    val tmp = new Path(metaDir, s"_tmp-delete-${java.util.UUID.randomUUID()}")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath).find(p =>
      p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no parquet part under $tmp"))
    val target = new Path(metaDir, s"delete-${java.util.UUID.randomUUID()}.parquet")
    require(fs.rename(part, target), s"rename $part -> $target failed")
    fs.delete(tmp, true)
    (target, fs.getFileStatus(target).getLen)
  }

  // ------------------------------------------------------ validation read

  /** Read the table THROUGH its exported Iceberg metadata only —
    * version-hint → metadata.json → manifest list avro → manifest avro →
    * data files — deliberately never consulting `_delta_log`, so a gate
    * over this path proves an Iceberg reader would see the same rows.
    * Manifest IO is driver-side and manifest-bounded (exactly what an
    * Iceberg planner does); the data files scan distributed as usual.
    */
  def readThroughIceberg(spark: SparkSession, tablePath: String): DataFrame =
    graft.sources.IcebergRead.read(spark, tablePath)
}
