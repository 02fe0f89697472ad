package graft.config

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import scala.jdk.CollectionConverters._

/** Pipeline-definition loading: raw YAML/JSON/TOML text → `${param}`
  * templating → [[Aqueduct]] case-class model.
  *
  * The accepted document shape (tags, aliases, defaults) mirrors the
  * reference's serde contract so its example pipelines deserialize unchanged
  * (aqueducts/schemas/src/{lib,sources,destinations,stages}.rs; alias tests
  * schemas/tests/integration.rs:10-47). Parsing is hand-rolled over Jackson's
  * tree model: explicit, dependency-light, and with actionable error
  * messages.
  */
object ConfigParser {

  final case class ConfigError(message: String) extends RuntimeException(message)

  /** `${name}` substitution over the raw config text; unknown params are an
    * error listing every missing name (reference templating.rs:250-282).
    */
  def substitute(raw: String, params: Map[String, String]): String = {
    val pattern = java.util.regex.Pattern.compile("""\$\{([A-Za-z0-9_.-]+)\}""")
    val m = pattern.matcher(raw)
    val missing = scala.collection.mutable.LinkedHashSet.empty[String]
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      params.get(m.group(1)) match {
        case Some(v) => m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(v))
        case None    => missing += m.group(1); m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(m.group(0)))
      }
    }
    m.appendTail(sb)
    if (missing.nonEmpty)
      throw ConfigError(s"Missing template parameters: ${missing.mkString(", ")}")
    sb.toString
  }

  def fromFile(path: java.nio.file.Path, params: Map[String, String] = Map.empty): Aqueduct = {
    val raw = java.nio.file.Files.readString(path)
    val name = path.getFileName.toString.toLowerCase(java.util.Locale.ROOT)
    if (name.endsWith(".yml") || name.endsWith(".yaml")) fromYaml(raw, params)
    else if (name.endsWith(".json")) fromJson(raw, params)
    else if (name.endsWith(".toml")) fromToml(raw, params)
    else throw ConfigError(s"Unsupported config format (expected .yml/.yaml/.json/.toml): $name")
  }

  def fromYaml(raw: String, params: Map[String, String] = Map.empty): Aqueduct =
    fromTree(new ObjectMapper(new YAMLFactory()).readTree(substitute(raw, params)))

  def fromJson(raw: String, params: Map[String, String] = Map.empty): Aqueduct =
    fromTree(new ObjectMapper().readTree(substitute(raw, params)))

  /** TOML via the in-repo [[Toml]] parser (no external TOML library resolves
    * in the offline build) — same templating and tree walk as YAML/JSON.
    */
  def fromToml(raw: String, params: Map[String, String] = Map.empty): Aqueduct =
    fromTree(Toml.parse(substitute(raw, params)))

  // ------------------------------------------------------------- tree walk

  def fromTree(root: JsonNode): Aqueduct = {
    require(root != null && root.isObject, "pipeline config must be a mapping")
    Aqueduct(
      version = str(root, "version").getOrElse("v2"),
      sources = arr(root, "sources").map(parseSource),
      stages = arr(root, "stages").map { g =>
        if (g.isArray) g.elements().asScala.toSeq.map(parseStage)
        else Seq(parseStage(g)) // tolerate a flat stage list
      },
      destination = Option(root.get("destination")).filterNot(_.isNull).map(parseDestination))
  }

  private def parseSource(n: JsonNode): Source = tag(n, "source") match {
    case "in_memory" | "memory" | "inmemory" => InMemorySource(req(n, "name"))
    case "file" =>
      FileSource(req(n, "name"), parseFileFormat(formatNode(n)), loc(n), stringMap(n, "storage_config", "storage_options"))
    case "directory" | "dir" =>
      DirSource(req(n, "name"), parseFileFormat(formatNode(n)), loc(n),
        parsePartitionTypes(first(n, "partition_columns", "partition_cols")),
        stringMap(n, "storage_config", "storage_options"))
    case "delta" | "managed" | "table" =>
      ManagedTableSource(req(n, "name"), loc(n),
        version = Option(n.get("version")).filterNot(_.isNull).map(_.asLong()),
        timestamp = str(n, "timestamp").map(java.time.Instant.parse),
        storageConfig = stringMap(n, "storage_config", "storage_options"))
    case "iceberg" =>
      IcebergSource(req(n, "name"), loc(n),
        snapshotId = Option(n.get("snapshot_id")).filterNot(_.isNull).map(_.asLong()),
        timestamp = str(n, "timestamp").map(java.time.Instant.parse),
        ref = str(n, "ref"),
        storageConfig = stringMap(n, "storage_config", "storage_options"))
    case "odbc" | "database" | "jdbc" =>
      JdbcSource(req(n, "name"),
        str(n, "load_query").orElse(str(n, "query"))
          .getOrElse(fail(n, "odbc source requires load_query")),
        req(n, "connection_string"))
    case other => fail(n, s"Unknown source type: $other")
  }

  private def parseFileFormat(n: JsonNode): FileFormat = {
    val opts = Option(n.get("options")).filterNot(_.isNull).getOrElse(new ObjectMapper().createObjectNode())
    tag(n, "file format") match {
      case "csv" =>
        CsvFormat(
          hasHeader = bool(opts, "has_header").getOrElse(true),
          delimiter = str(opts, "delimiter").map(_.charAt(0)).getOrElse(','),
          schema = parseFields(opts.get("schema")))
      case "json" | "jsonl" => JsonFormat(parseFields(opts.get("schema")))
      case "parquet"        => ParquetFormat(parseFields(opts.get("schema")))
      case "orc"            => OrcFormat(parseFields(opts.get("schema")))
      case "avro"           => AvroFormat(parseFields(opts.get("schema")))
      case other            => fail(n, s"Unknown file format: $other")
    }
  }

  private def parseStage(n: JsonNode): Stage =
    Stage(
      name = req(n, "name"),
      query = req(n, "query"),
      show = Option(n.get("show")).filterNot(_.isNull).map(_.asInt()),
      explain = bool(n, "explain").getOrElse(false),
      explainAnalyze = bool(n, "explain_analyze").getOrElse(false),
      printSchema = bool(n, "print_schema").getOrElse(false))

  private def parseDestination(n: JsonNode): Destination = tag(n, "destination") match {
    case "in_memory" | "memory" | "inmemory" => InMemoryDestination(req(n, "name"))
    case "file" =>
      FileDestination(req(n, "name"), loc(n), parseDestFormat(formatNode(n)),
        singleFile = bool(n, "single_file").getOrElse(true),
        partitionColumns = strArr(first(n, "partition_columns", "partition_cols")),
        storageConfig = stringMap(n, "storage_config", "storage_options"))
    case "delta" | "managed" | "table" =>
      ManagedTableDestination(req(n, "name"), loc(n),
        writeMode = parseTableWriteMode(first(n, "write_mode", "mode")
          .getOrElse(fail(n, "delta destination requires write_mode"))),
        storageConfig = stringMap(n, "storage_config", "storage_options"),
        partitionColumns = strArr(first(n, "partition_columns", "partition_cols")),
        tableProperties = deltaTableProperties(n),
        metadata = stringMap(n, "metadata", "custom_metadata"),
        schema = parseFields(n.get("schema")))
    case "iceberg" =>
      IcebergDestination(req(n, "name"), loc(n),
        partitionColumns = strArr(first(n, "partition_columns", "partition_cols")),
        schema = parseFields(n.get("schema")),
        storageConfig = stringMap(n, "storage_config", "storage_options"))
    case "odbc" | "database" | "jdbc" =>
      JdbcDestination(req(n, "name"), req(n, "connection_string"),
        writeMode = parseJdbcWriteMode(Option(n.get("write_mode"))
          .getOrElse(fail(n, "odbc destination requires write_mode"))),
        batchSize = Option(n.get("batch_size")).filterNot(_.isNull).map(_.asInt()).getOrElse(1000))
    case other => fail(n, s"Unknown destination type: $other")
  }

  private def parseDestFormat(n: JsonNode): DestFormat = {
    val opts = Option(n.get("options")).filterNot(_.isNull)
    tag(n, "destination file format") match {
      case "csv" =>
        val o = opts.getOrElse(new ObjectMapper().createObjectNode())
        CsvDestFormat(
          hasHeader = bool(o, "has_header").getOrElse(true),
          delimiter = str(o, "delimiter").map(_.charAt(0)).getOrElse(','),
          compression = str(o, "compression"))
      case "parquet" => ParquetDestFormat(opts.map(stringMapOf).getOrElse(Map.empty))
      case "json" | "jsonl" => JsonDestFormat
      case "orc" => OrcDestFormat(opts.map(stringMapOf).getOrElse(Map.empty))
      case "avro" => AvroDestFormat(opts.flatMap(o => str(o, "codec")))
      case other => fail(n, s"Unknown destination file format: $other")
    }
  }

  private def parseTableWriteMode(n: JsonNode): TableWriteMode = {
    str(n, "operation").map(_.toLowerCase(java.util.Locale.ROOT)) match {
      case Some("append") => TableAppend
      case Some("upsert") =>
        TableUpsert(strArr(Option(n.get("params"))))
      case Some("replace") =>
        TableReplace(arrOf(n.get("params")).map(c =>
          ReplaceCondition(req(c, "column"), req(c, "value"))))
      case other => fail(n, s"Unknown table write operation: ${other.getOrElse("<missing>")}")
    }
  }

  private def parseJdbcWriteMode(n: JsonNode): JdbcWriteMode =
    str(n, "operation").map(_.toLowerCase(java.util.Locale.ROOT)) match {
      case Some("append") => JdbcAppend
      case Some("custom") =>
        val tx = Option(n.get("transaction")).filterNot(_.isNull)
          .getOrElse(fail(n, "custom write mode requires transaction statements"))
        JdbcCustom(str(tx, "pre_insert"), req(tx, "insert"))
      case other => fail(n, s"Unknown jdbc write operation: ${other.getOrElse("<missing>")}")
    }

  /** Schema field lists: `[{name, data_type, nullable?, description?}]`. */
  private def parseFields(n: JsonNode): Seq[Types.FieldSpec] =
    arrOf(n).map { f =>
      Types.FieldSpec(
        name = req(f, "name"),
        dataType = Types.parse(str(f, "data_type").orElse(str(f, "type"))
          .getOrElse(fail(f, "schema field requires data_type"))),
        nullable = bool(f, "nullable").getOrElse(true),
        description = str(f, "description"))
    }

  /** Directory partition columns: `[[name, type], ...]` or `[{name, data_type}]`. */
  private def parsePartitionTypes(n: Option[JsonNode]): Seq[(String, org.apache.spark.sql.types.DataType)] =
    n.toSeq.flatMap(arrOf0).map {
      case p if p.isArray && p.size() == 2 => (p.get(0).asText(), Types.parse(p.get(1).asText()))
      case p if p.isObject =>
        (req(p, "name"), Types.parse(str(p, "data_type").orElse(str(p, "type"))
          .getOrElse(fail(p, "partition column requires data_type"))))
      case p => fail(p, s"Expected [name, type] pair or {name, data_type}: $p")
    }

  // ---------------------------------------------------------------- helpers

  private def tag(n: JsonNode, what: String): String =
    str(n, "type").map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse(fail(n, s"$what requires a 'type' tag"))

  private def formatNode(n: JsonNode): JsonNode =
    first(n, "format", "file_type").getOrElse(fail(n, "file source/destination requires 'format'"))

  private def loc(n: JsonNode): Location =
    Location(req(n, "location"))

  private def first(n: JsonNode, names: String*): Option[JsonNode] =
    names.iterator.map(n.get).find(v => v != null && !v.isNull)

  private def str(n: JsonNode, name: String): Option[String] =
    Option(n.get(name)).filterNot(_.isNull).map(_.asText())

  private def bool(n: JsonNode, name: String): Option[Boolean] =
    Option(n.get(name)).filterNot(_.isNull).map(_.asBoolean())

  private def req(n: JsonNode, name: String): String =
    str(n, name).getOrElse(fail(n, s"missing required field '$name'"))

  private def arr(root: JsonNode, name: String): Seq[JsonNode] =
    arrOf(root.get(name))

  private def arrOf(n: JsonNode): Seq[JsonNode] =
    Option(n).filterNot(_.isNull).toSeq.flatMap(arrOf0)

  private def arrOf0(n: JsonNode): Seq[JsonNode] =
    if (n.isArray) n.elements().asScala.toSeq else Seq(n)

  private def strArr(n: Option[JsonNode]): Seq[String] =
    n.toSeq.flatMap(arrOf0).map(_.asText())

  /** `table_properties` of a `type: delta` destination. Every such table is
    * real Delta, so the old `format: delta_log` selector is accepted and
    * dropped; any other `format` value names a table format that no longer
    * exists and is refused.
    */
  private def deltaTableProperties(n: JsonNode): Map[String, String] = {
    val props = stringMap(n, "table_properties")
    props.get("format").filter(_ != "delta_log").foreach(f => fail(n,
      s"table_properties.format '$f' is not supported: every `type: delta` table " +
        "is a Delta table; drop the key (`delta_log` is accepted as a no-op)"))
    props - "format"
  }

  private def stringMap(n: JsonNode, names: String*): Map[String, String] =
    first(n, names: _*).map(stringMapOf).getOrElse(Map.empty)

  private def stringMapOf(n: JsonNode): Map[String, String] =
    n.properties().asScala.map(e => e.getKey -> (if (e.getValue.isNull) "" else e.getValue.asText())).toMap

  private def fail(n: JsonNode, msg: String): Nothing =
    throw ConfigError(s"$msg (at: ${n.toString.take(120)})")
}
