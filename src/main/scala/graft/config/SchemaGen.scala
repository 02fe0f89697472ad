package graft.config

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** JSON-Schema (draft-07) generator for the pipeline config — the
  * counterpart of the reference's `schema_gen` feature, which emits
  * `json_schema/aqueducts.schema.json` for editor validation/completion.
  *
  * Generated from the same tag/alias tables `ConfigParser` accepts, so the
  * schema and the parser stay in one repo and drift is a test failure
  * (ConfigSchemaSpec asserts every parser tag appears in the schema).
  * Emit with `graft.Main schema > aqueducts.schema.json`.
  */
object SchemaGen {

  private val mapper = new ObjectMapper()

  def schemaJson: String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(schema)

  def schema: ObjectNode = {
    val root = obj(
      "$schema" -> "http://json-schema.org/draft-07/schema#",
      "title" -> "Aqueduct",
      "description" -> "Declarative data pipeline: sources -> sequential groups of concurrent SQL stages -> optional destination.")
    root.put("type", "object")
    val reqd = root.putArray("required")
    Seq("sources", "stages").foreach(reqd.add)
    val props = root.putObject("properties")
    props.set[ObjectNode]("version", withDefault(typed("string", "Schema version"), "v2"))
    props.set[ObjectNode]("sources", arrayOf(ref("Source"), "Data sources registered before stages run"))
    props.set[ObjectNode]("stages",
      arrayOf(arrayOf(ref("Stage"), "One group; stages in a group run concurrently"),
        "Sequential groups of concurrently-executed stages"))
    props.set[ObjectNode]("destination", ref("Destination"))

    val defs = root.putObject("definitions")
    defs.set[ObjectNode]("Source", oneOfByTag(
      "in_memory" -> objSchema("Pre-registered session table",
        req = Seq("type", "name"), props = Seq("name" -> typed("string"))),
      "file" -> objSchema("Single file (csv/jsonl/parquet)",
        req = Seq("type", "name", "format", "location"),
        props = Seq("name" -> typed("string"), "format" -> ref("FileFormat"),
          "location" -> typed("string", "Path or URL (file/hdfs/s3a/gs/abfss)"),
          "storage_config" -> stringMapSchema)),
      "directory" -> objSchema("Directory with typed hive partition columns",
        req = Seq("type", "name", "format", "location"),
        props = Seq("name" -> typed("string"), "format" -> ref("FileFormat"),
          "location" -> typed("string"),
          "partition_columns" -> arrayOf(typed("array", "[name, type] pair or {name, data_type}")),
          "storage_config" -> stringMapSchema)),
      "delta" -> objSchema("Delta Lake table (`_delta_log`) with version/timestamp time travel",
        req = Seq("type", "name", "location"),
        props = Seq("name" -> typed("string"), "location" -> typed("string"),
          "version" -> typed("integer"), "timestamp" -> typed("string", "RFC3339"),
          "storage_config" -> stringMapSchema)),
      "iceberg" -> objSchema("External Apache Iceberg v2 table with snapshot time travel",
        req = Seq("type", "name", "location"),
        props = Seq("name" -> typed("string"), "location" -> typed("string"),
          "snapshot_id" -> typed("integer"), "timestamp" -> typed("string", "RFC3339"),
          "ref" -> typed("string", "branch or tag name"),
          "storage_config" -> stringMapSchema)),
      "odbc" -> objSchema("External database via JDBC (query pushed down)",
        req = Seq("type", "name", "load_query", "connection_string"),
        props = Seq("name" -> typed("string"), "load_query" -> typed("string"),
          "connection_string" -> typed("string")))))

    defs.set[ObjectNode]("FileFormat", oneOfByTag(
      "csv" -> objSchema("CSV with header/delimiter/declared-schema options",
        req = Seq("type"),
        props = Seq("options" -> objSchema("", Nil, Seq(
          "has_header" -> withDefault(typed("boolean"), true),
          "delimiter" -> withDefault(typed("string"), ","),
          "schema" -> arrayOf(ref("Field")))))),
      "json" -> objSchema("JSON lines", req = Seq("type"),
        props = Seq("options" -> objSchema("", Nil, Seq("schema" -> arrayOf(ref("Field")))))),
      "parquet" -> objSchema("Parquet", req = Seq("type"),
        props = Seq("options" -> objSchema("", Nil, Seq("schema" -> arrayOf(ref("Field")))))),
      "orc" -> objSchema("ORC (beyond reference)", req = Seq("type"),
        props = Seq("options" -> objSchema("", Nil, Seq("schema" -> arrayOf(ref("Field")))))),
      "avro" -> objSchema("Avro container files (beyond reference)", req = Seq("type"),
        props = Seq("options" -> objSchema("", Nil, Seq("schema" -> arrayOf(ref("Field"))))))))

    defs.set[ObjectNode]("Stage", objSchema(
      "One SELECT-only SQL transformation; result registered under `name`",
      req = Seq("name", "query"),
      props = Seq(
        "name" -> typed("string"),
        "query" -> typed("string", "SELECT-only SQL; may use ${param} templating, the json_* pack, and ->/->> operators"),
        "show" -> typed("integer", "print n rows (0 = all, capped at 500)"),
        "explain" -> typed("boolean"),
        "explain_analyze" -> typed("boolean"),
        "print_schema" -> typed("boolean"))))

    defs.set[ObjectNode]("Destination", oneOfByTag(
      "in_memory" -> objSchema("Session temp view (errors if the name is taken)",
        req = Seq("type", "name"), props = Seq("name" -> typed("string"))),
      "file" -> objSchema("File destination (csv/jsonl/parquet)",
        req = Seq("type", "name", "format", "location"),
        props = Seq("name" -> typed("string"), "format" -> ref("DestFormat"),
          "location" -> typed("string"),
          "single_file" -> withDefault(typed("boolean"), true),
          "partition_columns" -> arrayOf(typed("string")),
          "storage_config" -> stringMapSchema)),
      "iceberg" -> objSchema("Native Apache Iceberg v2 table (append; created if absent)",
        req = Seq("type", "name", "location"),
        props = Seq("name" -> typed("string"), "location" -> typed("string"),
          "partition_columns" -> arrayOf(typed("string")),
          "schema" -> arrayOf(ref("Field")),
          "storage_config" -> stringMapSchema)),
      "delta" -> objSchema("Delta Lake table (append/upsert/replace; created if absent)",
        req = Seq("type", "name", "location", "write_mode"),
        props = Seq("name" -> typed("string"), "location" -> typed("string"),
          "write_mode" -> ref("TableWriteMode"),
          "partition_columns" -> arrayOf(typed("string")),
          "table_properties" -> stringMapOf(
            "Delta table properties; `format: delta_log` is accepted as a no-op"),
          "metadata" -> stringMapOf("Custom metadata, stored in the table configuration"),
          "schema" -> arrayOf(ref("Field")),
          "storage_config" -> stringMapSchema)),
      "odbc" -> objSchema("External database via JDBC",
        req = Seq("type", "name", "connection_string", "write_mode"),
        props = Seq("name" -> typed("string"), "connection_string" -> typed("string"),
          "write_mode" -> ref("JdbcWriteMode"),
          "batch_size" -> withDefault(typed("integer"), 1000)))))

    defs.set[ObjectNode]("DestFormat", oneOfByTag(
      "csv" -> objSchema("CSV", req = Seq("type"),
        props = Seq("options" -> objSchema("", Nil, Seq(
          "has_header" -> withDefault(typed("boolean"), true),
          "delimiter" -> withDefault(typed("string"), ","),
          "compression" -> typed("string"))))),
      "json" -> objSchema("JSON lines", req = Seq("type"), props = Nil),
      "parquet" -> objSchema("Parquet (options pass through to the writer)",
        req = Seq("type"), props = Seq("options" -> stringMapSchema)),
      "orc" -> objSchema("ORC (beyond reference; options pass through)",
        req = Seq("type"), props = Seq("options" -> stringMapSchema)),
      "avro" -> objSchema("Avro container files (beyond reference)",
        req = Seq("type"), props = Seq("options" -> objSchema("", Nil,
          Seq("codec" -> typed("string", "deflate | snappy | null")))))))

    defs.set[ObjectNode]("TableWriteMode", oneOfByKey("operation",
      "append" -> objSchema("Add rows", req = Seq("operation"), props = Nil),
      "upsert" -> objSchema("MERGE by key columns",
        req = Seq("operation", "params"),
        props = Seq("params" -> arrayOf(typed("string", "key column")))),
      "replace" -> objSchema("Delete rows matching ALL conditions, then insert",
        req = Seq("operation", "params"),
        props = Seq("params" -> arrayOf(objSchema("", Seq("column", "value"),
          Seq("column" -> typed("string"), "value" -> typed("string"))))))))

    defs.set[ObjectNode]("JdbcWriteMode", oneOfByKey("operation",
      "append" -> objSchema("INSERT rows", req = Seq("operation"), props = Nil),
      "custom" -> objSchema("Single-transaction custom statements with rollback",
        req = Seq("operation", "transaction"),
        props = Seq("transaction" -> objSchema("", Seq("insert"), Seq(
          "pre_insert" -> typed("string"), "insert" -> typed("string")))))))

    defs.set[ObjectNode]("Field", objSchema(
      "Schema field with universal type-string grammar (int64, list<string>, struct<...>, decimal<p,s>, timestamp<unit,tz>)",
      req = Seq("name", "data_type"),
      props = Seq("name" -> typed("string"), "data_type" -> typed("string"),
        "nullable" -> withDefault(typed("boolean"), true),
        "description" -> typed("string"))))

    root
  }

  // ------------------------------------------------------------- builders

  private def obj(fields: (String, String)*): ObjectNode = {
    val n = mapper.createObjectNode()
    fields.foreach { case (k, v) => n.put(k, v) }
    n
  }

  private def typed(t: String, description: String = ""): ObjectNode = {
    val n = obj("type" -> t)
    if (description.nonEmpty) n.put("description", description)
    n
  }

  private def withDefault(n: ObjectNode, v: Any): ObjectNode = {
    v match {
      case b: Boolean => n.put("default", b)
      case i: Int => n.put("default", i)
      case s: String => n.put("default", s)
      case other => n.put("default", String.valueOf(other))
    }
    n
  }

  private def ref(name: String): ObjectNode =
    obj("$ref" -> s"#/definitions/$name")

  private def arrayOf(items: ObjectNode, description: String = ""): ObjectNode = {
    val n = typed("array", description)
    n.set[ObjectNode]("items", items)
    n
  }

  private def stringMapOf(description: String): ObjectNode = {
    val n = typed("object", description)
    n.set[ObjectNode]("additionalProperties", typed("string"))
    n
  }

  private val stringMapSchema: ObjectNode = stringMapOf("string -> string map")

  private def objSchema(description: String, req: Seq[String],
      props: Seq[(String, ObjectNode)]): ObjectNode = {
    val n = typed("object", description)
    if (req.nonEmpty) {
      val r = n.putArray("required")
      req.foreach(r.add)
    }
    val p = n.putObject("properties")
    props.foreach { case (k, v) => p.set[ObjectNode](k, v) }
    n
  }

  /** Tagged union on `type`, with the parser's accepted aliases recorded. */
  private def oneOfByTag(variants: (String, ObjectNode)*): ObjectNode =
    oneOfByKey("type", variants: _*)

  private def oneOfByKey(key: String, variants: (String, ObjectNode)*): ObjectNode = {
    val n = mapper.createObjectNode()
    val one = n.putArray("oneOf")
    variants.foreach { case (tagValue, v) =>
      val withTag = v.deepCopy()
      val props = withTag.get("properties").asInstanceOf[ObjectNode]
      val tagSchema = mapper.createObjectNode()
      val aliases = tagAliases.getOrElse(tagValue, Seq(tagValue))
      val e = tagSchema.putArray("enum")
      aliases.foreach(e.add)
      props.set[ObjectNode](key, tagSchema)
      one.add(withTag)
    }
    n
  }

  /** Alias table mirrored from ConfigParser's tag matches. */
  val tagAliases: Map[String, Seq[String]] = Map(
    "in_memory" -> Seq("in_memory", "memory", "inmemory"),
    "directory" -> Seq("directory", "dir"),
    "delta" -> Seq("delta", "managed", "table"),
    "odbc" -> Seq("odbc", "database", "jdbc"),
    "json" -> Seq("json", "jsonl"))
}
