package graft.config

import org.apache.spark.sql.types.StructType

/** Declarative pipeline model — the engine's public config surface.
  *
  * Mirrors the reference's config schema so that existing pipeline files load
  * unchanged (tag + alias contract: aqueducts/schemas/src/lib.rs:86-102,
  * sources.rs:40-260, destinations.rs:36-290, stages.rs:35-61), but the
  * execution semantics behind each node are Spark-native.
  */
final case class Aqueduct(
    version: String = "v2",
    sources: Seq[Source] = Nil,
    /** Outer list = sequential barrier groups; inner list = concurrent. */
    stages: Seq[Seq[Stage]] = Nil,
    destination: Option[Destination] = None)

/** Library-embedding entry points (reference `Aqueduct::from_file`/`from_str`,
  * README.md:203-226): load a definition, then `Runner.run(spark, aqueduct)`.
  */
object Aqueduct {
  def fromFile(path: java.nio.file.Path, params: Map[String, String] = Map.empty): Aqueduct =
    ConfigParser.fromFile(path, params)
  def fromYaml(raw: String, params: Map[String, String] = Map.empty): Aqueduct =
    ConfigParser.fromYaml(raw, params)
  def fromJson(raw: String, params: Map[String, String] = Map.empty): Aqueduct =
    ConfigParser.fromJson(raw, params)
}

// ----------------------------------------------------------------- sources

sealed trait Source { def name: String }

/** Table must already exist in the session (`type: in_memory`). */
final case class InMemorySource(name: String) extends Source

/** Single-file source (`type: file`): CSV / JSONL / Parquet / ORC. */
final case class FileSource(
    name: String,
    format: FileFormat,
    location: Location,
    storageConfig: Map[String, String] = Map.empty) extends Source

/** Directory source (`type: directory`) with typed hive partition columns. */
final case class DirSource(
    name: String,
    format: FileFormat,
    location: Location,
    partitionColumns: Seq[(String, org.apache.spark.sql.types.DataType)] = Nil,
    storageConfig: Map[String, String] = Map.empty) extends Source

/** Delta table source (`type: delta`) with version/timestamp time travel. */
final case class ManagedTableSource(
    name: String,
    location: Location,
    version: Option[Long] = None,
    timestamp: Option[java.time.Instant] = None,
    storageConfig: Map[String, String] = Map.empty) extends Source

/** External Apache Iceberg v2 table source (`type: iceberg`, beyond
  * reference) with snapshot time travel — read through
  * [[graft.sources.IcebergRead]] (foreign HadoopTables layout: snapshot
  * selection, field-id resolution, position/equality deletes).
  */
final case class IcebergSource(
    name: String,
    location: Location,
    snapshotId: Option[Long] = None,
    timestamp: Option[java.time.Instant] = None,
    // named snapshot ref (branch serves its head under the current
    // schema, tag time-travels) — `ref: audit`
    ref: Option[String] = None,
    storageConfig: Map[String, String] = Map.empty) extends Source

/** External-database source (`type: odbc`); executed via Spark JDBC, which is
  * lazy and pushes the query down to the database (strictly better than the
  * reference's eager full-table pull, odbc/src/lib.rs:50-82).
  */
final case class JdbcSource(
    name: String,
    loadQuery: String,
    connectionString: String) extends Source

sealed trait FileFormat { def schema: Seq[Types.FieldSpec] }
final case class CsvFormat(
    hasHeader: Boolean = true,
    delimiter: Char = ',',
    schema: Seq[Types.FieldSpec] = Nil) extends FileFormat
final case class JsonFormat(schema: Seq[Types.FieldSpec] = Nil) extends FileFormat
final case class ParquetFormat(schema: Seq[Types.FieldSpec] = Nil) extends FileFormat
/** ORC (beyond reference: the reference reads CSV/JSONL/Parquet only —
  * sources/mod.rs:224-299 — but ORC is native to spark-sql and common in
  * lakehouse estates, so pipelines can ingest it with zero extra deps). */
final case class OrcFormat(schema: Seq[Types.FieldSpec] = Nil) extends FileFormat
/** Avro container files (beyond reference), via [[graft.sources.Avro]] —
  * the spark-avro connector is absent in this build, so reads/writes go
  * through the public Hadoop Avro formats with a schema bridge. */
final case class AvroFormat(schema: Seq[Types.FieldSpec] = Nil) extends FileFormat

object FileFormat {
  def sparkName(f: FileFormat): String = f match {
    case _: CsvFormat => "csv"
    case _: JsonFormat => "json"
    case _: ParquetFormat => "parquet"
    case _: OrcFormat => "orc"
    case _: AvroFormat =>
      throw new IllegalStateException("avro routes through graft.sources.Avro, not a DataSource name")
  }
  def declaredSchema(f: FileFormat): Option[StructType] =
    if (f.schema.isEmpty) None else Some(Types.toStruct(f.schema))
}

// ------------------------------------------------------------------ stages

/** One SQL transformation; result is cached and registered under `name`. */
final case class Stage(
    name: String,
    query: String,
    /** Some(n) prints n rows; Some(0) prints all, capped at 500. */
    show: Option[Int] = None,
    explain: Boolean = false,
    explainAnalyze: Boolean = false,
    printSchema: Boolean = false)

// ------------------------------------------------------------ destinations

sealed trait Destination { def name: String }

/** Register the final frame as a session table (`type: in_memory`). */
final case class InMemoryDestination(name: String) extends Destination

/** File destination (`type: file`). */
final case class FileDestination(
    name: String,
    location: Location,
    format: DestFormat,
    singleFile: Boolean = true,
    partitionColumns: Seq[String] = Nil,
    storageConfig: Map[String, String] = Map.empty) extends Destination

sealed trait DestFormat
final case class CsvDestFormat(
    hasHeader: Boolean = true,
    delimiter: Char = ',',
    compression: Option[String] = None) extends DestFormat
final case class ParquetDestFormat(options: Map[String, String] = Map.empty) extends DestFormat
case object JsonDestFormat extends DestFormat
/** ORC writer (beyond reference; options pass through like Parquet's). */
final case class OrcDestFormat(options: Map[String, String] = Map.empty) extends DestFormat
/** Avro writer (beyond reference); `codec`: deflate / snappy / null. */
final case class AvroDestFormat(codec: Option[String] = None) extends DestFormat

/** Delta table destination (`type: delta`), created if absent. */
final case class ManagedTableDestination(
    name: String,
    location: Location,
    writeMode: TableWriteMode,
    storageConfig: Map[String, String] = Map.empty,
    partitionColumns: Seq[String] = Nil,
    tableProperties: Map[String, String] = Map.empty,
    metadata: Map[String, String] = Map.empty,
    schema: Seq[Types.FieldSpec] = Nil) extends Destination

sealed trait TableWriteMode
case object TableAppend extends TableWriteMode
/** MERGE keyed on `keys` (null-safe; order-insensitive list equality). */
final case class TableUpsert(keys: Seq[String]) extends TableWriteMode
/** Delete rows matching ALL conditions (empty ⇒ full overwrite), then write. */
final case class TableReplace(conditions: Seq[ReplaceCondition]) extends TableWriteMode
final case class ReplaceCondition(column: String, value: String)

/** External-database destination (`type: odbc`) via Spark JDBC. */
final case class JdbcDestination(
    name: String,
    connectionString: String,
    writeMode: JdbcWriteMode,
    batchSize: Int = 1000) extends Destination

/** Native Apache Iceberg v2 destination (`type: iceberg`, beyond
  * reference; append mode): the table is created if absent (declared
  * schema required then) and each run appends one snapshot — readable by
  * any Iceberg client, time travel included.
  */
final case class IcebergDestination(
    name: String,
    location: Location,
    partitionColumns: Seq[String] = Nil,
    schema: Seq[Types.FieldSpec] = Nil,
    storageConfig: Map[String, String] = Map.empty) extends Destination

sealed trait JdbcWriteMode
case object JdbcAppend extends JdbcWriteMode
/** Single transaction: optional pre-statement + prepared inserts, rollback on
  * error (all-or-nothing semantics force a single connection — same contract
  * as the reference, odbc/src/lib.rs:170-211).
  */
final case class JdbcCustom(preInsert: Option[String], insert: String) extends JdbcWriteMode

// ---------------------------------------------------------------- location

/** URL-or-path newtype; bare paths resolve to absolute `file:` URIs
  * (reference: aqueducts/schemas/src/location.rs:34-58). Spark/Hadoop handles
  * all schemes (file, hdfs, s3a, gs, abfss, ...) natively downstream.
  */
final case class Location(raw: String) {
  private val bare = Location.SchemePrefix.findPrefixOf(raw).isEmpty
  val uri: java.net.URI =
    if (bare) java.nio.file.Paths.get(raw).toAbsolutePath.normalize().toUri
    else java.net.URI.create(raw.replace(" ", "%20"))
  def scheme: String = uri.getScheme
  /** The string handed to Spark readers/writers. A bare path's bracket and
    * brace glob characters stay literal (`uri` must percent-encode them), so
    * Spark expands the same glob the path names.
    */
  def spark: String =
    if (bare) Location.GlobEscapes.foldLeft(uri.toString) { case (s, (e, c)) => s.replace(e, c) }
    else uri.toString
  /** Local filesystem path; only valid for file: locations. */
  def path: java.nio.file.Path = java.nio.file.Paths.get(uri)
  def isLocal: Boolean = scheme == "file"
}

object Location {
  private val SchemePrefix = "^[A-Za-z][A-Za-z0-9+.-]*:".r
  private val GlobEscapes = Seq("%5B" -> "[", "%5D" -> "]", "%7B" -> "{", "%7D" -> "}")
}
