package graft.sources

import graft.config._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Source registration: each source becomes a named temp view in the session
  * catalog (reference: aqueducts/core/src/sources/mod.rs:122-391).
  *
  * Registration is declarative and lazy — a view over a `spark.read` plan, so
  * Catalyst keeps predicate pushdown / column pruning / partition pruning
  * into the scan for every downstream stage. Nothing is materialized here.
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
        case _ => reader(spark, format).load(location.spark)
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
        case _ => reader(spark, format).load(location.spark)
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

  private def reader(spark: SparkSession, format: FileFormat) = {
    val base = spark.read.format(FileFormat.sparkName(format))
    val withOpts = format match {
      case CsvFormat(hasHeader, delimiter, schema) =>
        val r = base.option("header", hasHeader.toString).option("delimiter", delimiter.toString)
        if (schema.isEmpty) r.option("inferSchema", "true") else r
      case _ => base
    }
    FileFormat.declaredSchema(format).map(withOpts.schema).getOrElse(withOpts)
  }
}
