package graft.sources

import graft.config._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import scala.util.Try

/** Source registration: each source becomes a named temp view in the session
  * catalog (reference: aqueducts/core/src/sources/mod.rs:122-391).
  *
  * Registration is declarative and lazy — a view over a `spark.read` plan, so
  * Catalyst keeps predicate pushdown / column pruning / partition pruning
  * into the scan for every downstream stage. Nothing is materialized here,
  * and a parquet source runs no Spark job either: Spark infers a parquet
  * schema with a one-task job per source (its footer reader always goes
  * through `parallelize(..).collect()`, shipping the whole session Hadoop
  * conf), so [[parquetSchema]] reads the one footer Spark would read on the
  * driver and hands the schema to the reader. CSV and JSON inference is a
  * pass over the data and stays a job.
  */
object Sources {

  def register(spark: SparkSession, source: Source): Unit = {
    val df = load(spark, source)
    df.createOrReplaceTempView(source.name)
  }

  def load(spark: SparkSession, source: Source): DataFrame = source match {
    case InMemorySource(name) =>
      require(spark.catalog.tableExists(name),
        s"InMemory source '$name' is not registered in the session")
      spark.table(name)

    case FileSource(_, format, location, storage) =>
      ObjectStores.configure(spark, location, storage)
      format match {
        case AvroFormat(schema) => castToDeclared(Avro.read(spark, location.spark), schema)
        case _ => reader(spark, format, location).load(location.spark)
      }

    case DirSource(_, format, location, partitionCols, storage) =>
      ObjectStores.configure(spark, location, storage)
      // Spark auto-discovers hive-style k=v partition dirs; declared partition
      // types are enforced by casting the discovered columns.
      val df = format match {
        case AvroFormat(schema) =>
          require(partitionCols.isEmpty,
            "avro directory sources do not support hive partition columns " +
              "(the Hadoop Avro input format has no partition discovery) — " +
              "read the partition directories as separate sources")
          castToDeclared(Avro.read(spark, location.spark), schema)
        case _ => reader(spark, format, location).load(location.spark)
      }
      partitionCols.foldLeft(df) { case (d, (name, dt)) =>
        require(d.columns.contains(name),
          s"partition column '$name' not found in directory source at ${location.spark}")
        d.withColumn(name, col(name).cast(dt))
      }

    case ManagedTableSource(_, location, version, timestamp, storage) =>
      ObjectStores.configure(spark, location, storage)
      DeltaLog.read(spark, location.spark, version, timestamp)

    case IcebergSource(_, location, snapshotId, timestamp, ref, storage) =>
      ObjectStores.configure(spark, location, storage)
      IcebergRead.read(spark, location.spark, IcebergRead.Options(
        snapshotId = snapshotId,
        asOfTimestampMs = timestamp.map(_.toEpochMilli),
        ref = ref))

    case JdbcSource(_, loadQuery, connectionString) =>
      // Lazy JDBC scan with the query pushed down to the database — strictly
      // better than the reference's eager full pull (odbc/src/lib.rs:50-82).
      spark.read.format("jdbc")
        .option("url", connectionString)
        .option("query", loadQuery)
        .load()
  }

  /** Declared-schema enforcement for formats read outside DataFrameReader:
    * select + cast to the declared fields (the reference's Delta-destination
    * cast semantic applied on the read side). */
  private def castToDeclared(df: DataFrame, schema: Seq[Types.FieldSpec]): DataFrame =
    if (schema.isEmpty) df
    else df.select(schema.map(f => col(f.name).cast(f.dataType)): _*)

  private def reader(spark: SparkSession, format: FileFormat, location: Location) = {
    val base = spark.read.format(FileFormat.sparkName(format))
    val withOpts = format match {
      case CsvFormat(hasHeader, delimiter, schema) =>
        val r = base.option("header", hasHeader.toString).option("delimiter", delimiter.toString)
        if (schema.isEmpty) r.option("inferSchema", "true") else r
      case _ => base
    }
    val schema = FileFormat.declaredSchema(format).orElse(format match {
      case _: ParquetFormat => parquetSchema(spark, location.spark)
      case _ => None
    })
    schema.map(withOpts.schema).getOrElse(withOpts)
  }

  /** The data schema Spark's non-merging parquet inference (Spark 4.1.2
    * `ParquetUtils.inferSchema` → `ParquetFileFormat.mergeSchemasInParallel`)
    * gives for `location`, read on the driver: the same listing, the same
    * file (`_common_metadata`, else `_metadata`, else the first data file by
    * path) and the same footer conversion, without the job. None where
    * Spark's own inference must run, keeping its errors and its
    * `ignoreCorruptFiles` handling: schema merging on, a glob, a streaming
    * sink's output, nothing to read (missing path, empty directory), a
    * footer that fails to read, or data columns named like discovered
    * partition columns (a declared schema would retype those).
    */
  private[graft] def parquetSchema(spark: SparkSession, location: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled || location.exists("{}[]*?\\".contains(_))) None
    else Try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      if (FileStreamSink.hasMetadata(Seq(location), hadoopConf, conf)) None
      else {
        val index = new InMemoryFileIndex(spark, Seq(new Path(location)), Map.empty, None)
        val leaves = index.allFiles().sortBy(_.getPath.toString)
        val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
          ParquetFileWriter.PARQUET_METADATA_FILE)
        summaries.view.flatMap(n => leaves.find(_.getPath.getName == n)).headOption
          .orElse(leaves.find(f => !summaries.contains(f.getPath.getName)))
          .map(footerSchema(_, hadoopConf, conf))
          .filterNot(s => s.fieldNames.exists(n =>
            index.partitionSchema.fieldNames.exists(conf.resolver(_, n))))
      }
    }.toOption.flatten
  }

  private def footerSchema(
      file: FileStatus, hadoopConf: Configuration, conf: SQLConf): StructType = {
    // the flags mergeSchemasInParallel passes; the rest keep their defaults
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hadoopConf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), converter)
  }
}
