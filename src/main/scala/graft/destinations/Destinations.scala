package graft.destinations

import graft.config._
import graft.sources.ObjectStores
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Destination writers (reference: aqueducts/core/src/destinations/,
  * aqueducts/delta/src/lib.rs, aqueducts/odbc/src/lib.rs:87-211).
  */
object Destinations {

  /** Destination preparation runs before any source/stage (reference
    * core/src/lib.rs:82-91): Delta and Iceberg tables are created if absent
    * so stages can rely on their existence; other destinations need no
    * preparation.
    */
  def prepare(spark: SparkSession, dest: Destination): Unit = dest match {
    case d: ManagedTableDestination =>
      ObjectStores.configure(spark, d.location, d.storageConfig)
      // reference parity (delta/src/lib.rs:141-163): declared table
      // properties and custom metadata reach the created table's
      // configuration
      DeltaWrite.createIfAbsent(spark, d.location.spark,
        graft.config.Types.toStruct(d.schema), d.partitionColumns,
        properties = d.tableProperties ++ d.metadata): Unit
    case d: InMemoryDestination =>
      require(!spark.catalog.tableExists(d.name),
        s"InMemory destination '${d.name}' already exists in the session")
    case d: IcebergDestination =>
      ObjectStores.configure(spark, d.location, d.storageConfig)
      if (!IcebergWrite.exists(spark, d.location.spark)) {
        require(d.schema.nonEmpty,
          s"Creating an Iceberg table at ${d.location.spark} requires a declared schema")
        IcebergWrite.create(spark, d.location.spark,
          graft.config.Types.toStruct(d.schema), d.partitionColumns)
      }
    case _ => ()
  }

  def write(spark: SparkSession, dest: Destination, df: DataFrame): Unit = dest match {
    case InMemoryDestination(name) =>
      df.cache()
      df.createTempView(name) // errors if the name is taken, like the reference

    case d: FileDestination =>
      ObjectStores.configure(spark, d.location, d.storageConfig)
      writeFile(spark, d, df)

    case d: ManagedTableDestination =>
      d.writeMode match {
        case TableAppend => DeltaWrite.append(spark, d.location.spark, df)
        case TableUpsert(keys) => DeltaWrite.upsert(spark, d.location.spark, df, keys)
        case TableReplace(conds) => DeltaWrite.replace(spark, d.location.spark, df, conds)
      }

    case d: IcebergDestination =>
      val data =
        if (d.schema.isEmpty) df
        else DeltaWrite.castToSchema(df, graft.config.Types.toStruct(d.schema))
      IcebergWrite.append(spark, d.location.spark, data): Unit

    case d: JdbcDestination => Jdbc.write(spark, d, df)
  }

  // ------------------------------------------------------------------ file

  private def writeFile(spark: SparkSession, d: FileDestination, df: DataFrame): Unit = {
    d.format match {
      case AvroDestFormat(codec) => return writeAvro(spark, d, df, codec)
      case _ =>
    }
    val (fmt, options) = d.format match {
      case CsvDestFormat(hasHeader, delimiter, compression) =>
        ("csv", Map("header" -> hasHeader.toString, "delimiter" -> delimiter.toString) ++
          compression.map("compression" -> _))
      case ParquetDestFormat(opts) => ("parquet", opts)
      case JsonDestFormat => ("json", Map.empty[String, String])
      case OrcDestFormat(opts) => ("orc", opts)
      case _: AvroDestFormat => throw new IllegalStateException("handled above")
    }

    if (d.singleFile) {
      require(d.partitionColumns.isEmpty,
        "single_file output cannot be combined with partition_columns")
      writeSingleFile(spark, d.location, df, fmt, options)
    } else {
      val w = df.write.mode(SaveMode.Overwrite).format(fmt).options(options)
      (if (d.partitionColumns.nonEmpty) w.partitionBy(d.partitionColumns: _*) else w)
        .save(d.location.spark)
    }
  }

  /** Avro goes through [[graft.sources.Avro.write]] (Hadoop Avro output
    * format — no spark-avro connector in this build). Hive-style
    * `partition_columns` are laid out by a driver loop over the distinct
    * partition tuples (one distributed write per partition directory) —
    * fine for the low-cardinality layouts the option is for, and guarded so
    * a high-cardinality mistake fails loudly instead of launching thousands
    * of jobs. `single_file` coalesces to one task and renames the single
    * container file into place, same contract as the other formats.
    */
  private def writeAvro(spark: SparkSession, d: FileDestination, df: DataFrame,
      codec: Option[String]): Unit = {
    import graft.sources.Avro
    val target = new Path(d.location.spark)
    val fs: FileSystem = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (d.singleFile) {
      require(d.partitionColumns.isEmpty,
        "single_file output cannot be combined with partition_columns")
      val tmp = new Path(target.getParent, s".graft-tmp-${java.util.UUID.randomUUID()}")
      try {
        Avro.write(oneTask(df), tmp.toString, codec)
        val part = fs.listStatus(tmp).map(_.getPath)
          .find(p => p.getName.startsWith("part-"))
          .getOrElse(throw new IllegalStateException(s"No part file produced under $tmp"))
        fs.mkdirs(target.getParent)
        if (fs.exists(target)) fs.delete(target, false)
        if (!fs.rename(part, target))
          throw new IllegalStateException(s"Failed to move $part to $target")
      } finally fs.delete(tmp, true)
    } else if (d.partitionColumns.isEmpty) {
      if (fs.exists(target)) fs.delete(target, true)
      // an empty zero-partition frame must still produce one schema-bearing
      // container file, or Avro.read later rejects the directory
      Avro.write(if (rddPartitions(df) == 0) df.repartition(1) else df,
        target.toString, codec)
    } else {
      val parts = df.select(d.partitionColumns.map(org.apache.spark.sql.functions.col): _*)
        .distinct().collect()
      require(parts.length <= 1000,
        s"avro partitioned write would create ${parts.length} partition directories (cap 1000)")
      if (fs.exists(target)) fs.delete(target, true)
      val dataCols = df.columns.filterNot(d.partitionColumns.contains)
        .map(org.apache.spark.sql.functions.col)
      parts.foreach { p =>
        val dir = d.partitionColumns.zipWithIndex
          .map { case (c, i) => s"$c=${partitionSegment(p.get(i))}" }
          .mkString("/")
        val slice = d.partitionColumns.zipWithIndex.foldLeft(df) { case (acc, (c, i)) =>
          acc.filter(org.apache.spark.sql.functions.col(c) <=>
            org.apache.spark.sql.functions.lit(p.get(i)))
        }
        Avro.write(slice.select(dataCols: _*), s"$target/$dir", codec)
      }
    }
  }

  /** One write task even for empty results: `coalesce(1)` cannot RAISE a
    * zero-partition plan, and a zero-task Hadoop write produces no container
    * file at all (breaking the single_file rename and later reads), so the
    * empty case repartitions up to one (empty) task instead. */
  private def oneTask(df: DataFrame): DataFrame =
    if (rddPartitions(df) == 0) df.repartition(1) else df.coalesce(1)

  private def rddPartitions(df: DataFrame): Int = df.rdd.getNumPartitions

  /** One hive path segment value: null becomes Hive's default-partition
    * sentinel and special characters are `%XX`-escaped exactly as Spark's
    * `ExternalCatalogUtils.escapePathName` does (control chars plus
    * {@code " # % ' * / : = ? \ DEL { [ ] ^}), so directories produced by
    * the driver-loop Avro writer are byte-identical to `partitionBy`
    * layouts and un-escape cleanly on read. */
  private[destinations] def partitionSegment(value: Any): String = value match {
    case null => "__HIVE_DEFAULT_PARTITION__"
    case v =>
      val s = String.valueOf(v)
      val sb = new StringBuilder(s.length)
      s.foreach { c =>
        if (c < ' ' || c == '\u007F' || "\"#%'*/:=?\\{[]^".indexOf(c) >= 0)
          sb.append(f"%%${c.toInt}%02X")
        else sb.append(c)
      }
      sb.toString
  }

  /** Spark writes a directory of part files; `single_file` means "exactly the
    * file at this path" (reference destinations/file.rs:12-14), so write a
    * 1-partition frame to a temp dir and rename the part file into place.
    */
  private def writeSingleFile(
      spark: SparkSession, location: Location, df: DataFrame,
      fmt: String, options: Map[String, String]): Unit = {
    val target = new Path(location.spark)
    val fs: FileSystem = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(target.getParent, s".graft-tmp-${java.util.UUID.randomUUID()}")
    try {
      df.coalesce(1).write.mode(SaveMode.Overwrite).format(fmt).options(options).save(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .find(p => p.getName.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(s"No part file produced under $tmp"))
      fs.mkdirs(target.getParent)
      if (fs.exists(target)) fs.delete(target, false)
      if (!fs.rename(part, target))
        throw new IllegalStateException(s"Failed to move $part to $target")
    } finally fs.delete(tmp, true)
  }
}
