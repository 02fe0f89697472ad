package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, MapType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Read bridge to REAL Delta Lake tables: replays the `_delta_log`
  * commit protocol (the public Delta transaction-log spec — JSON commits
  * `<version %020d>.json` of add/remove/metaData actions, plus parquet
  * checkpoints) into the current snapshot's file list and reads those
  * parquet files directly. The WRITE half of the protocol — appends,
  * upserts, replaces, deletion-vector deletes, column-mapped tables,
  * checkpoints, maintenance — lives in
  * [[graft.destinations.DeltaWrite]]; together they interoperate with
  * delta-spark / delta-rs / DuckDB-delta without any Delta jar. Swap in
  * delta-spark and `spark.read.format("delta")` replaces this file;
  * nothing else moves.
  *
  * Scale: METADATA replay (protocol/metaData/txn) is driver-side and
  * bounded by the checkpoint interval; the FILE state (checkpoint adds ∪
  * tail commits) is reconciled as a distributed DataFrame ([[addIndex]])
  * and only collected after pruning — [[readWhere]] evaluates file stats
  * on executors and collects just the surviving files, so a 10M-file
  * table never materializes its add list in driver memory. The data read
  * is a normal distributed parquet scan with partition values injected
  * per the log's `partitionValues` (Delta data files do NOT embed
  * partition columns). Reference parity:
  * /root/reference/aqueducts/delta/src/lib.rs:45-74 (open + time travel).
  */
object DeltaLog {

  final case class AddFile(
      path: String,
      partitionValues: Map[String, String],
      size: Long = 0L,
      modificationTime: Long = 0L,
      stats: Option[String] = None,
      deletionVector: Option[String] = None,
      // row tracking (writer feature `rowTracking`): the file's first
      // fresh row id and the commit version its rows default to
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)

  /** The table's `protocol` action. Under `minReaderVersion` 3 /
    * `minWriterVersion` 7 the feature lists name exactly what a client
    * must implement; below that, the version numbers imply a fixed set
    * (reader 2 = column mapping, writer 2 = appendOnly + invariants).
    */
  final case class Protocol(
      minReaderVersion: Int,
      minWriterVersion: Int,
      readerFeatures: Set[String] = Set.empty,
      writerFeatures: Set[String] = Set.empty)

  /** `metaDataRaw` is the latest metaData action's raw JSON object —
    * carried so checkpoint writers can re-emit the table's identity (id,
    * format, configuration) without inventing a new one. `configuration`
    * is that action's table-property map (`delta.appendOnly`,
    * `delta.columnMapping.mode`, …).
    */
  final case class Snapshot(
      version: Long,
      schema: StructType,
      partitionColumns: Seq[String],
      files: Seq[AddFile],
      metaDataRaw: Option[String] = None,
      protocol: Option[Protocol] = None,
      configuration: Map[String, String] = Map.empty,
      txns: Map[String, Long] = Map.empty,
      // live domainMetadata actions: domain → configuration JSON string
      // (row tracking keeps its rowIdHighWaterMark in `delta.rowTracking`)
      domainMetadata: Map[String, String] = Map.empty) {

    def columnMappingMode: String =
      configuration.getOrElse("delta.columnMapping.mode", "none")

    /** Logical → physical top-level column names. Under column mapping the
      * parquet files, the add-action `partitionValues` keys, and the stats
      * objects all speak PHYSICAL names; the schema carries the rename in
      * each field's `delta.columnMapping.physicalName` metadata.
      */
    lazy val physicalNames: Map[String, String] =
      if (columnMappingMode == "none") Map.empty
      else schema.fields.iterator.map(f => f.name -> physicalFieldName(f)).toMap

    def physicalName(logical: String): String =
      physicalNames.getOrElse(logical, logical)
  }

  private[graft] def physicalFieldName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains("delta.columnMapping.physicalName"))
      f.metadata.getString("delta.columnMapping.physicalName")
    else f.name

  /** The schema as the parquet files spell it: every struct field (at any
    * nesting depth) renamed to its physical name.
    */
  private[graft] def physicalDataType(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(name = physicalFieldName(f), dataType = physicalDataType(f.dataType))))
    case org.apache.spark.sql.types.ArrayType(et, n) =>
      org.apache.spark.sql.types.ArrayType(physicalDataType(et), n)
    case org.apache.spark.sql.types.MapType(k, v, n) =>
      org.apache.spark.sql.types.MapType(physicalDataType(k), physicalDataType(v), n)
    case other => other
  }

  private val mapper = new ObjectMapper()

  private def logDir(table: Path) = new Path(table, "_delta_log")

  private[graft] def parseAddAction(add: JsonNode): AddFile = {
    val p = add.get("path").asText()
    // a JSON-null partition value is a NULL partition (the spec's
    // encoding) — asText() would stringify it to "null"
    val pv = Option(add.get("partitionValues"))
      .filterNot(_.isNull)
      .map(n => n.fields().asScala.map(e =>
        e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())).toMap)
      .getOrElse(Map.empty[String, String])
    val size = Option(add.get("size")).filterNot(_.isNull).map(_.asLong()).getOrElse(0L)
    val mt = Option(add.get("modificationTime")).filterNot(_.isNull).map(_.asLong()).getOrElse(0L)
    val stats = Option(add.get("stats")).filterNot(_.isNull).map(_.asText()).filter(_.nonEmpty)
    val dv = Option(add.get("deletionVector")).filterNot(_.isNull).map(_.toString)
    val bri = Option(add.get("baseRowId")).filterNot(_.isNull).map(_.asLong())
    val dcv = Option(add.get("defaultRowCommitVersion")).filterNot(_.isNull).map(_.asLong())
    AddFile(p, pv, size, mt, stats, dv, bri, dcv)
  }

  /** Fails unless `table` has a `_delta_log`. A location that holds only
    * the retired `_log/` managed-table format gets a message naming its
    * one-way migration instead of a bare "not a Delta table".
    */
  private def requireLog(fs: org.apache.hadoop.fs.FileSystem, table: Path): Unit =
    if (!fs.exists(logDir(table)))
      throw new IllegalArgumentException(
        if (fs.exists(new Path(table, "_log"))) legacyManagedMessage(table.toString)
        else s"not a Delta table (no _delta_log): $table")

  private[graft] def legacyManagedMessage(tablePath: String): String =
    s"$tablePath holds a legacy `_log/` managed table, which is no longer read " +
      "or written; migrate it in place with DeltaWrite.convertFromManaged"

  /** True when `path` holds a real Delta table (a `_delta_log` dir). */
  def isDeltaTable(spark: SparkSession, path: String): Boolean = {
    val log = logDir(new Path(path))
    try log.getFileSystem(spark.sessionState.newHadoopConf()).exists(log)
    catch { case _: java.io.IOException => false }
  }

  private val CommitRe = """(\d{20})\.json""".r
  private val CheckpointRe = """(\d{20})\.checkpoint(\..*)?\.parquet""".r
  // v2 checkpoint manifests may be JSON (`<v>.checkpoint.<uuid>.json`);
  // the parquet flavor already matches CheckpointRe
  private val CheckpointJsonRe = """(\d{20})\.checkpoint\.[^.]+\.json""".r
  private val CheckpointMultiPartRe =
    """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r

  /** Checkpoint versions among the given `_delta_log` file names that are
    * COMPLETE replay seeds. Multi-part classic checkpoints publish
    * part-by-part (sequential renames), so a crashed publish leaves a
    * partial part set — seeding a read or a metadata cleanup from one
    * silently drops every commit above it. Single-file classic and v2
    * manifests publish via one atomic rename: present ⇒ complete.
    * Shared by [[resolveState]] and `DeltaWrite.cleanupMetadata` so the
    * read and cleanup paths can never disagree on what counts as a seed.
    */
  private[graft] def completeCheckpointVersions(names: Seq[String]): Seq[Long] = {
    val multiParts = names
      .flatMap {
        case CheckpointMultiPartRe(v, part, n) => Some((v.toLong, n.toLong) -> part.toLong)
        case _ => None
      }
      .groupBy(_._1).map { case (k, ps) => k -> ps.map(_._2).toSet }
    val completeMulti = multiParts.collect {
      case ((v, n), parts) if parts == (1L to n).toSet => v
    }
    val atomic = names.flatMap {
      case CheckpointMultiPartRe(_, _, _) => None // judged by part-set completeness
      case CheckpointRe(v, _) => Some(v.toLong)
      case CheckpointJsonRe(v) => Some(v.toLong)
      case _ => None
    }
    (atomic ++ completeMulti).distinct.sorted
  }

  /** The seeding checkpoint's actions as one DataFrame — the bridge that
    * makes every checkpoint flavor look alike to the two consumers
    * ([[metaReplay]]'s single-row metadata collects, [[addIndex]]'s
    * distributed add reconcile):
    *   - classic single-file and multi-part checkpoints (parquet);
    *   - v2 checkpoints: a parquet OR newline-JSON manifest named
    *     `<v>.checkpoint.<uuid>.{parquet,json}`, whose file actions may
    *     live inline or in `sidecar` actions referencing parquet files
    *     under `_delta_log/_sidecars/` (read only when `withSidecars` —
    *     sidecars carry exclusively add/remove per the spec).
    * Frames union by name with missing columns null-filled, so a
    * sidecar-only manifest (no inline `add` column) still presents the
    * full shape. The sidecar NAME list is a bounded driver collect (one
    * short string per sidecar file, each covering thousands of adds);
    * the adds themselves stay distributed.
    */
  private def checkpointActions(
      spark: SparkSession, st: LogState, withSidecars: Boolean): DataFrame = {
    val (jsonParts, parquetParts) = st.checkpointParts.partition(_.endsWith(".json"))
    val frames = Seq.newBuilder[DataFrame]
    if (parquetParts.nonEmpty) frames += normalizedAdd(spark.read.parquet(parquetParts: _*))
    if (jsonParts.nonEmpty) frames += normalizedAdd(spark.read.json(jsonParts: _*))
    var out = frames.result().reduce(_.unionByName(_, allowMissingColumns = true))
    if (withSidecars && out.columns.contains("sidecar")) {
      val sidecarNames = out.filter(col("sidecar.path").isNotNull)
        .select(col("sidecar.path")).collect().map(_.getString(0))
      if (sidecarNames.nonEmpty) {
        val sidecarDir = new Path(logDir(st.table), "_sidecars")
        val paths = sidecarNames.map(n => new Path(sidecarDir, n).toString)
        out = out.unionByName(normalizedAdd(spark.read.parquet(paths: _*)),
          allowMissingColumns = true)
      }
    }
    out
  }

  private lazy val canonicalAddType = StructType(Seq(
    StructField("path", StringType),
    StructField("partitionValues", MapType(StringType, StringType)),
    StructField("size", LongType),
    StructField("modificationTime", LongType),
    StructField("stats", StringType),
    StructField("deletionVector", dvStructType),
    StructField("baseRowId", LongType),
    StructField("defaultRowCommitVersion", LongType)))

  /** Rewrite a checkpoint frame's `add` column to ONE canonical struct so
    * every source shape feeds [[addIndex]] identically and mixed flavors
    * union: JSON-inferred manifests spell `partitionValues` as a STRUCT
    * (JSON objects with dynamic keys infer that way, and struct→map is
    * not a legal cast) and may order/omit `deletionVector` fields
    * differently than parquet. Field access is BY NAME (a positional
    * struct cast would mis-assign reordered fields); absent fields
    * null-fill; null adds/DVs stay null (a DV struct of nulls would
    * to_json to "{}" downstream).
    */
  private def normalizedAdd(df: DataFrame): DataFrame = {
    val addType = df.schema.find(_.name == "add").map(_.dataType) match {
      case Some(s: StructType) => s
      case _ => return df
    }
    def has(n: String) = addType.fieldNames.contains(n)
    def sub(n: String, dt: DataType): org.apache.spark.sql.Column =
      if (has(n)) col(s"add.$n").cast(dt) else lit(null).cast(dt)
    val pv =
      if (!has("partitionValues")) lit(null).cast(pvType)
      else addType("partitionValues").dataType match {
        case _: MapType => col("add.partitionValues").cast(pvType)
        case _: StructType =>
          from_json(to_json(col("add.partitionValues")), pvType)
        case _ => lit(null).cast(pvType)
      }
    val dv =
      if (!has("deletionVector")) lit(null).cast(dvStructType)
      else addType("deletionVector").dataType match {
        case dvSt: StructType =>
          when(col("add.deletionVector").isNotNull,
            struct(dvStructType.fields.toIndexedSeq.map { f =>
              (if (dvSt.fieldNames.contains(f.name))
                col(s"add.deletionVector.${f.name}").cast(f.dataType)
              else lit(null).cast(f.dataType)).as(f.name)
            }: _*))
        case _ => lit(null).cast(dvStructType)
      }
    df.withColumn("add",
      when(col("add.path").isNotNull, struct(
        sub("path", StringType).as("path"),
        pv.as("partitionValues"),
        sub("size", LongType).as("size"),
        sub("modificationTime", LongType).as("modificationTime"),
        sub("stats", StringType).as("stats"),
        dv.as("deletionVector"),
        sub("baseRowId", LongType).as("baseRowId"),
        sub("defaultRowCommitVersion", LongType).as("defaultRowCommitVersion")))
        .otherwise(lit(null).cast(canonicalAddType)))
  }

  /** Resolved `_delta_log` listing for one target version: which commits
    * and which checkpoint (if any) constitute the snapshot.
    */
  private final case class LogState(
      table: Path,
      fs: org.apache.hadoop.fs.FileSystem,
      commits: Seq[(Long, org.apache.hadoop.fs.FileStatus)],
      checkpointParts: Seq[String],
      targetVersion: Long,
      fromCheckpoint: Option[Long]) {
    def replayFrom: Long = fromCheckpoint.map(_ + 1).getOrElse(0L)
    def tail: Seq[(Long, org.apache.hadoop.fs.FileStatus)] =
      commits.filter { case (v, _) => v >= replayFrom && v <= targetVersion }
    // one-shot driver-checkpoint parse, shared by metaReplay and
    // driverReplay (parsing the same ≤4 MiB checkpoint twice would double
    // the footer reads); None = not yet attempted
    @transient private[DeltaLog] var driverCpCache: Option[Option[DriverCheckpoint]] = None
  }

  /** A commit's authoritative timestamp: `commitInfo.inCommitTimestamp`
    * when the table carries the ICT feature (file mtimes lie after
    * copies/restores), otherwise the file's modification time — the
    * protocol's documented default. Reads only the commit's FIRST line.
    */
  private[graft] def commitTimestampOf(
      fs: org.apache.hadoop.fs.FileSystem,
      st: org.apache.hadoop.fs.FileStatus): Long = {
    val in = fs.open(st.getPath)
    val firstLine =
      try {
        val br = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
        br.readLine()
      } finally in.close()
    val ict =
      try Option(firstLine).map(mapper.readTree)
        .flatMap(n => Option(n.get("commitInfo")).filterNot(_.isNull))
        .flatMap(ci => Option(ci.get("inCommitTimestamp")).filterNot(_.isNull))
        .map(_.asLong())
      catch { case scala.util.control.NonFatal(_) => None }
    ict.getOrElse(st.getModificationTime)
  }

  /** Streaming-start resolution (delta-spark's `startingTimestamp`
    * contract): the EARLIEST version whose commit timestamp is >= `ts` —
    * a commit AT the timestamp is included. A timestamp past the last
    * commit resolves to `latest + 1` (new commits only); one before the
    * first available commit resolves to that earliest commit.
    */
  private[graft] def earliestVersionAtOrAfter(
      spark: SparkSession, tablePath: String, ts: java.time.Instant): Long = {
    val table = new Path(tablePath)
    val fs = logDir(table).getFileSystem(spark.sessionState.newHadoopConf())
    requireLog(fs, table)
    val commits = fs.listStatus(logDir(table)).toSeq.flatMap { st =>
      st.getPath.getName match {
        case CommitRe(v) => Some((v.toLong, st))
        case _ => None
      }
    }.sortBy(_._1)
    require(commits.nonEmpty, s"empty _delta_log at $tablePath")
    commits.collectFirst {
      case (v, st) if commitTimestampOf(fs, st) >= ts.toEpochMilli => v
    }.getOrElse(commits.last._1 + 1)
  }

  private def resolveState(
      spark: SparkSession,
      tablePath: String,
      versionAsOf: Option[Long],
      timestampAsOf: Option[java.time.Instant]): LogState = {
    val table = new Path(tablePath)
    val fs = logDir(table).getFileSystem(spark.sessionState.newHadoopConf())
    requireLog(fs, table)
    val entries = fs.listStatus(logDir(table)).toSeq
    val commits = entries.flatMap { st =>
      st.getPath.getName match {
        case CommitRe(v) => Some((v.toLong, st))
        case _ => None
      }
    }.sortBy(_._1)
    // only COMPLETE checkpoints may seed a snapshot — a crashed multi-part
    // publish must not hide the JSON commits above it
    val allCheckpointVersions =
      completeCheckpointVersions(entries.map(_.getPath.getName))
    require(commits.nonEmpty || allCheckpointVersions.nonEmpty,
      s"empty _delta_log at $tablePath")

    // timestamp travel: last commit at or before ts. Tables with the
    // inCommitTimestamps feature carry the authoritative clock in each
    // commit's commitInfo (file mtimes lie after copies/restores); others
    // fall back to modification time, the protocol's documented default.
    // The commitInfo probe reads only each commit's FIRST line, only when
    // timestamp travel is actually requested.
    val latestVersion = (commits.map(_._1) ++ allCheckpointVersions).max
    def commitTimestamp(st: org.apache.hadoop.fs.FileStatus): Long =
      commitTimestampOf(fs, st)
    val targetVersion = (versionAsOf, timestampAsOf) match {
      case (Some(v), _) =>
        // a version is reachable via its JSON commit OR a checkpoint at it
        // (JSON commits at/below a checkpoint may have been cleaned up)
        require(commits.exists(_._1 == v) || allCheckpointVersions.contains(v),
          s"version $v not in _delta_log (latest: $latestVersion)")
        v
      case (None, Some(ts)) =>
        val upTo = commits.filter(c => commitTimestamp(c._2) <= ts.toEpochMilli)
        require(upTo.nonEmpty, s"no Delta version at or before $ts")
        upTo.last._1
      case _ => latestVersion
    }

    // newest checkpoint at or below the target version seeds the state;
    // JSON commits after it replay on top
    val fromCheckpoint = allCheckpointVersions.filter(_ <= targetVersion).lastOption
    val checkpointParts = fromCheckpoint.map { cv =>
      val atVersion = entries.filter(_.getPath.getName match {
        case CheckpointRe(v, _) => v.toLong == cv
        case CheckpointJsonRe(v) => v.toLong == cv
        case _ => false
      })
      // never mix flavors or sets: an atomic seed (single-file / v2
      // manifest) wins over any multi-part set at the same version, and
      // when the seed IS multi-part, only the files of a COMPLETE part set
      // load — stray parts of a different-part-count crashed attempt at
      // the same version must not duplicate (or corrupt) the actions
      val (multi, atomic) = atVersion.partition(_.getPath.getName match {
        case CheckpointMultiPartRe(_, _, _) => true
        case _ => false
      })
      if (atomic.nonEmpty) atomic.map(_.getPath.toString)
      else {
        val byN = multi.groupBy(_.getPath.getName match {
          case CheckpointMultiPartRe(_, _, n) => n.toLong
        })
        val completeN = byN.collectFirst {
          case (n, fs) if fs.map(_.getPath.getName match {
            case CheckpointMultiPartRe(_, p, _) => p.toLong
          }).toSet == (1L to n).toSet => n
        }.getOrElse(throw new IllegalStateException(
          s"no complete checkpoint part set at version $cv"))
        byN(completeN).map(_.getPath.toString)
      }
    }.getOrElse(Nil)
    LogState(table, fs, commits, checkpointParts, targetVersion, fromCheckpoint)
  }

  /** Replay ONLY the metadata actions (protocol / metaData / txn) into a
    * files-empty Snapshot. Driver cost is bounded regardless of table
    * size: the checkpoint collects are single-row (protocol, metaData) or
    * bounded by writer-app count (txn), and the JSON tail between
    * checkpoint and target is bounded by the checkpoint interval — never
    * proportional to the table's file count.
    */
  private def metaReplay(spark: SparkSession, tablePath: String, st: LogState): Snapshot = {
    var schema: StructType = null
    var partCols: Seq[String] = Nil
    var metaRaw: Option[String] = None
    var config: Map[String, String] = Map.empty
    var protocol: Option[Protocol] = None
    // setTransaction high-water marks (streaming writers' exactly-once
    // state) — carried so OUR checkpoints don't erase THEIR guarantees
    val txns = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // domainMetadata actions (row tracking's rowIdHighWaterMark lives
    // here); removed=true tombstones the domain
    val domains = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def applyDomain(domain: String, configuration: String, removed: Boolean): Unit =
      if (removed) domains -= domain else domains += domain -> configuration

    def applyMeta(meta: JsonNode): Unit = {
      schema = DataType.fromJson(meta.get("schemaString").asText())
        .asInstanceOf[StructType]
      partCols = Option(meta.get("partitionColumns"))
        .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
      config = Option(meta.get("configuration"))
        .filterNot(_.isNull)
        .map(n => n.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty)
      metaRaw = Some(meta.toString)
    }
    def applyProtocol(p: JsonNode): Unit = {
      def features(f: String): Set[String] = Option(p.get(f)).filterNot(_.isNull)
        .map(_.elements().asScala.map(_.asText()).toSet).getOrElse(Set.empty)
      protocol = Some(Protocol(
        Option(p.get("minReaderVersion")).map(_.asInt()).getOrElse(1),
        Option(p.get("minWriterVersion")).map(_.asInt()).getOrElse(2),
        features("readerFeatures"), features("writerFeatures")))
    }

    // SMALL checkpoints parse once on the driver (r19) — same JSON
    // renderings as the distributed collect below (groupJson follows the
    // parquet group's field order exactly like to_json follows the
    // frame's struct order), so applyProtocol/applyMeta see identical
    // strings; bigger or surprising checkpoints keep the Spark job.
    val driverCp =
      if (st.checkpointParts.isEmpty) None else driverCheckpoint(spark, st)
    driverCp.foreach { cp =>
      cp.protocolJson.lastOption.foreach(s => applyProtocol(mapper.readTree(s)))
      cp.txns.foreach { case (app, v) => txns += app -> v }
      cp.metaJson.lastOption.foreach(s => applyMeta(mapper.readTree(s)))
      cp.domains.foreach { case (d, c, r) => applyDomain(d, c, r) }
    }
    if (st.checkpointParts.nonEmpty && driverCp.isEmpty) {
      // metadata rows only — the add actions are NOT collected here (see
      // addIndex); serializing the structs back to JSON funnels both log
      // representations through one parser. Sidecars carry only file
      // actions per the v2 spec, so they are not opened here.
      // ONE filtered collect for all four action kinds (r18; was four
      // separate jobs): the filter keeps driver rows bounded by metadata
      // actions — add rows, the bulk of any checkpoint, never collect —
      // and row order (hence lastOption) matches the per-kind collects.
      val cp = checkpointActions(spark, st, withSidecars = false)
      val cols = cp.columns.toSet
      def nullS: org.apache.spark.sql.Column = lit(null).cast(StringType)
      val proto = if (cols.contains("protocol"))
        when(col("protocol.minReaderVersion").isNotNull, to_json(col("protocol")))
      else nullS
      val txnApp = if (cols.contains("txn")) col("txn.appId") else nullS
      val txnVer = if (cols.contains("txn")) col("txn.version")
        else lit(null).cast(LongType)
      val metaJ = if (cols.contains("metaData"))
        when(col("metaData.schemaString").isNotNull, to_json(col("metaData")))
      else nullS
      val dmDomain = if (cols.contains("domainMetadata"))
        col("domainMetadata.domain") else nullS
      val dmConfig = if (cols.contains("domainMetadata"))
        col("domainMetadata.configuration") else nullS
      val dmRemoved = if (cols.contains("domainMetadata"))
        coalesce(col("domainMetadata.removed"), lit(false)) else lit(false)
      val rows = cp
        .select(proto.as("_p"), txnApp.as("_ta"), txnVer.as("_tv"),
          metaJ.as("_m"), dmDomain.as("_dd"), dmConfig.as("_dc"),
          dmRemoved.as("_dr"))
        .filter(col("_p").isNotNull || col("_ta").isNotNull ||
          col("_m").isNotNull || col("_dd").isNotNull)
        .collect()
      rows.flatMap(r => Option(r.getString(0))).lastOption
        .foreach(s => applyProtocol(mapper.readTree(s)))
      rows.foreach(r =>
        if (!r.isNullAt(1)) txns += r.getString(1) -> r.getLong(2))
      rows.flatMap(r => Option(r.getString(3))).lastOption
        .foreach(s => applyMeta(mapper.readTree(s)))
      rows.foreach(r =>
        if (!r.isNullAt(4))
          applyDomain(r.getString(4), r.getString(5), r.getBoolean(6)))
    }

    st.tail.foreach { case (_, c) =>
      val in = st.fs.open(c.getPath)
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      content.linesIterator.filter(_.trim.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        val proto = node.get("protocol")
        if (proto != null && !proto.isNull) applyProtocol(proto)
        val meta = node.get("metaData")
        if (meta != null && !meta.isNull) applyMeta(meta)
        val txn = node.get("txn")
        if (txn != null && !txn.isNull)
          txns += txn.get("appId").asText() -> txn.get("version").asLong()
        val dm = node.get("domainMetadata")
        if (dm != null && !dm.isNull)
          applyDomain(dm.get("domain").asText(),
            Option(dm.get("configuration")).filterNot(_.isNull)
              .map(_.asText()).getOrElse(""),
            Option(dm.get("removed")).filterNot(_.isNull).exists(_.asBoolean()))
      }
    }
    require(schema != null, s"no metaData action found up to version ${st.targetVersion}")
    val snap = Snapshot(st.targetVersion, schema, partCols, Nil,
      metaRaw, protocol, config, txns.toMap, domains.toMap)
    requireReadable(tablePath, snap)
    snap
  }

  private[graft] val dvStructType = StructType(Seq(
    StructField("storageType", StringType),
    StructField("pathOrInlineDv", StringType),
    StructField("offset", IntegerType),
    StructField("sizeInBytes", IntegerType),
    StructField("cardinality", LongType)))

  private val pvType = MapType(StringType, StringType)

  /** Commit-JSON action schema for the distributed tail read — only the
    * fields snapshot reconciliation consumes.
    */
  private val commitActionSchema = StructType(Seq(
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", pvType),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("stats", StringType),
      StructField("deletionVector", dvStructType),
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType)))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType))))))

  /** The snapshot's live-file state as a DISTRIBUTED DataFrame — columns
    * `(path, partitionValues, size, modificationTime, stats,
    * deletionVector)`, exactly [[AddFile]]'s shape. Checkpoint parquet
    * rows and post-checkpoint commit JSON are unioned with their commit
    * version and reconciled per path by a window (latest action wins; a
    * remove tombstones), so driver memory never holds the full add list —
    * callers collect either the pruned subset ([[readWhere]]) or, when
    * they genuinely need every file (writer rewrites), a compact typed
    * list. This is the 100 TB path: a 10M-file table reconciles as a
    * 10M-row shuffle, not a 10M-entry driver map.
    */
  private def addIndex(spark: SparkSession, st: LogState): DataFrame = {
    val emptyPv = map().cast(pvType)

    val fromCheckpoint: Option[DataFrame] = st.fromCheckpoint.map { cv =>
      val cp = checkpointActions(spark, st, withSidecars = true)
      val addFields = cp.schema.find(_.name == "add")
        .map(_.dataType.asInstanceOf[StructType].fieldNames.toSet)
        .getOrElse(Set.empty[String])
      def opt(name: String, dt: DataType): org.apache.spark.sql.Column =
        if (addFields(name)) col(s"add.$name").cast(dt) else lit(null).cast(dt)
      cp.filter(col("add.path").isNotNull).select(
        col("add.path").as("path"),
        coalesce(opt("partitionValues", pvType), emptyPv).as("partitionValues"),
        coalesce(opt("size", LongType), lit(0L)).as("size"),
        coalesce(opt("modificationTime", LongType), lit(0L)).as("modificationTime"),
        opt("stats", StringType).as("stats"),
        (if (addFields("deletionVector")) to_json(col("add.deletionVector"))
         else lit(null).cast(StringType)).as("deletionVector"),
        opt("baseRowId", LongType).as("baseRowId"),
        opt("defaultRowCommitVersion", LongType).as("defaultRowCommitVersion"),
        lit(cv).as("version"),
        lit(true).as("isAdd"))
    }

    val tailPaths = st.tail.map(_._2.getPath.toString)
    val fromTail: Option[DataFrame] = if (tailPaths.isEmpty) None else Some {
      val raw = spark.read.schema(commitActionSchema).json(tailPaths: _*)
        .withColumn("version",
          regexp_extract(col("_metadata.file_path"), """(\d{20})\.json""", 1).cast("long"))
      val adds = raw.filter(col("add.path").isNotNull).select(
        col("add.path").as("path"),
        coalesce(col("add.partitionValues"), emptyPv).as("partitionValues"),
        coalesce(col("add.size"), lit(0L)).as("size"),
        coalesce(col("add.modificationTime"), lit(0L)).as("modificationTime"),
        col("add.stats").as("stats"),
        to_json(col("add.deletionVector")).as("deletionVector"),
        col("add.baseRowId").as("baseRowId"),
        col("add.defaultRowCommitVersion").as("defaultRowCommitVersion"),
        col("version"),
        lit(true).as("isAdd"))
      val removes = raw.filter(col("remove.path").isNotNull).select(
        col("remove.path").as("path"),
        emptyPv.as("partitionValues"),
        lit(0L).as("size"),
        lit(0L).as("modificationTime"),
        lit(null).cast(StringType).as("stats"),
        lit(null).cast(StringType).as("deletionVector"),
        lit(null).cast(LongType).as("baseRowId"),
        lit(null).cast(LongType).as("defaultRowCommitVersion"),
        col("version"),
        lit(false).as("isAdd"))
      adds.unionByName(removes)
    }

    // resolveState requires a commit or a checkpoint, so at least one side
    // exists: no checkpoint ⇒ the tail starts at version 0
    val union = (fromCheckpoint.toSeq ++ fromTail.toSeq).reduce(_ unionByName _)
    // latest action per path wins; on a same-version tie the ADD beats the
    // remove — a deletion-vector update legitimately pairs `remove` + re-
    // `add` of the same path in one commit, and the file stays live with
    // the new descriptor
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("path"))
      .orderBy(col("version").desc, col("isAdd").desc)
    union
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("isAdd"))
      .drop("_rn", "isAdd", "version")
  }

  private val addFileEncoder = org.apache.spark.sql.Encoders.product[AddFile]

  /** A SMALL checkpoint's actions, parsed on the driver (r19 — extends the
    * r18 small-log driver replay to checkpoint-seeded states): the
    * metadata actions rendered exactly as [[metaReplay]]'s filtered
    * `to_json` collect renders them (group-schema field order, null
    * fields omitted), and the add actions in exactly [[addIndex]]'s
    * canonical [[AddFile]] shape (null-filled defaults, DV descriptor
    * re-serialized like `to_json` over [[dvStructType]]). Row order is
    * file order; the only order-sensitive consumers (last-meta-wins) see
    * at most one metaData/protocol action per checkpoint by spec.
    */
  private final case class DriverCheckpoint(
      protocolJson: Seq[String],
      metaJson: Seq[String],
      txns: Seq[(String, Long)],
      domains: Seq[(String, String, Boolean)],
      adds: Seq[AddFile])

  /** Parse the seeding checkpoint on the driver when it is small enough
    * (`graft.delta.driverReplayMaxBytes` over manifest + sidecar bytes)
    * and every row decodes into exactly what the distributed readers
    * would have produced. ANY surprise — unexpected physical type, an
    * unannotated binary, a map shape we don't model — returns None and
    * the caller keeps the distributed path (the only safe shape for the
    * multi-GB checkpoints of a 100 TB table). Handles every flavor
    * [[checkpointActions]] handles: classic single-file and multi-part
    * parquet, v2 parquet/JSON manifests, and parquet sidecars.
    */
  private def driverCheckpoint(
      spark: SparkSession, st: LogState): Option[DriverCheckpoint] = {
    if (st.checkpointParts.isEmpty) return None
    st.driverCpCache match {
      case Some(r) => return r
      case None => ()
    }
    val r = try driverCheckpointParse(spark, st)
            catch { case scala.util.control.NonFatal(_) => None }
    st.driverCpCache = Some(r)
    r
  }

  private def driverCheckpointParse(
      spark: SparkSession, st: LogState): Option[DriverCheckpoint] = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, Type}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import com.fasterxml.jackson.databind.node.ObjectNode

    val maxBytes = spark.conf.getOption("graft.delta.driverReplayMaxBytes")
      .map(_.toLong).getOrElse(4L << 20)
    val conf = spark.sessionState.newHadoopConf()
    val partPaths = st.checkpointParts.map(new Path(_))
    val partBytes = partPaths.map(p => st.fs.getFileStatus(p).getLen).sum
    if (partBytes > maxBytes) return None

    val protocolJson = Seq.newBuilder[String]
    val metaJson = Seq.newBuilder[String]
    val txns = Seq.newBuilder[(String, Long)]
    val domains = Seq.newBuilder[(String, String, Boolean)]
    val adds = Seq.newBuilder[AddFile]
    val sidecars = Seq.newBuilder[String]

    // ---- shared JSON rendering (to_json parity) --------------------------
    def isString(t: Type): Boolean =
      t.isPrimitive &&
        t.asPrimitiveType().getPrimitiveTypeName == PrimitiveTypeName.BINARY &&
        t.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
    def logicalIs[A <: LogicalTypeAnnotation](t: Type, c: Class[A]): Boolean =
      t.getLogicalTypeAnnotation != null && c.isInstance(t.getLogicalTypeAnnotation)
    // a MAP group's repeated key_value child and its key/value fields
    def mapParts(t: GroupType): (GroupType, Int, Int) = {
      val kv = t.getType(0).asGroupType()
      (kv, kv.getFieldIndex("key"), kv.getFieldIndex("value"))
    }
    def stringOf(g: Group, t: Type, i: Int): String = {
      val pt = t.asPrimitiveType().getPrimitiveTypeName
      if (isString(t)) g.getString(i, 0)
      else pt match { // struct-shaped partitionValues: JSON-number/bool → string
        case PrimitiveTypeName.INT32 => g.getInteger(i, 0).toString
        case PrimitiveTypeName.INT64 => g.getLong(i, 0).toString
        case PrimitiveTypeName.BOOLEAN => g.getBoolean(i, 0).toString
        case PrimitiveTypeName.DOUBLE => g.getDouble(i, 0).toString
        case _ => throw new IllegalStateException(s"unsupported pv type $t")
      }
    }
    // group → JSON object exactly like to_json over the frame's struct:
    // schema field order, null (absent) fields omitted
    def groupJson(g: Group, t: GroupType): ObjectNode = {
      val o = mapper.createObjectNode()
      (0 until t.getFieldCount).foreach { i =>
        val ft = t.getType(i)
        if (g.getFieldRepetitionCount(i) > 0) {
          if (ft.isPrimitive) {
            val pt = ft.asPrimitiveType().getPrimitiveTypeName
            if (isString(ft)) o.put(ft.getName, g.getString(i, 0))
            else pt match {
              case PrimitiveTypeName.INT32 => o.put(ft.getName, g.getInteger(i, 0))
              case PrimitiveTypeName.INT64 => o.put(ft.getName, g.getLong(i, 0))
              case PrimitiveTypeName.BOOLEAN => o.put(ft.getName, g.getBoolean(i, 0))
              case PrimitiveTypeName.DOUBLE => o.put(ft.getName, g.getDouble(i, 0))
              case _ => throw new IllegalStateException(s"unsupported type $ft")
            }
          } else {
            val gt = ft.asGroupType()
            val sub = g.getGroup(i, 0)
            if (logicalIs(ft, classOf[LogicalTypeAnnotation.MapLogicalTypeAnnotation])) {
              val (kv, ki, vi) = mapParts(gt)
              val m = o.putObject(ft.getName)
              (0 until sub.getFieldRepetitionCount(0)).foreach { j =>
                val e = sub.getGroup(0, j)
                val k = e.getString(ki, 0)
                if (e.getFieldRepetitionCount(vi) == 0) m.putNull(k)
                else m.put(k, stringOf(e, kv.getType(vi), vi))
              }
            } else if (logicalIs(ft, classOf[LogicalTypeAnnotation.ListLogicalTypeAnnotation])) {
              val inner = gt.getType(0).asGroupType() // repeated "list" group
              val arr = o.putArray(ft.getName)
              (0 until sub.getFieldRepetitionCount(0)).foreach { j =>
                val e = sub.getGroup(0, j)
                if (e.getFieldRepetitionCount(0) == 0) arr.addNull()
                else {
                  val et = inner.getType(0)
                  if (!isString(et))
                    throw new IllegalStateException(s"unsupported list element $et")
                  arr.add(e.getString(0, 0))
                }
              }
            } else o.set(ft.getName, groupJson(sub, gt)): Unit
          }
        }
      }
      o
    }
    // DV descriptor re-serialized like to_json over dvStructType: fixed
    // field order, null/absent fields omitted (the shape driverReplay's
    // dvJson pins for commit-JSON DVs)
    def dvOf(g: Group, t: GroupType): String = {
      val o = mapper.createObjectNode()
      def has(n: String) = t.containsField(n) &&
        g.getFieldRepetitionCount(t.getFieldIndex(n)) > 0
      def str(n: String): Unit =
        if (has(n)) o.put(n, g.getString(t.getFieldIndex(n), 0)): Unit
      def int(n: String): Unit =
        if (has(n)) {
          val i = t.getFieldIndex(n)
          val v = t.getType(i).asPrimitiveType().getPrimitiveTypeName match {
            case PrimitiveTypeName.INT32 => g.getInteger(i, 0)
            case PrimitiveTypeName.INT64 => g.getLong(i, 0).toInt // cast semantics
            case other => throw new IllegalStateException(s"dv $n: $other")
          }
          o.put(n, v): Unit
        }
      def lng(n: String): Unit =
        if (has(n)) {
          val i = t.getFieldIndex(n)
          val v = t.getType(i).asPrimitiveType().getPrimitiveTypeName match {
            case PrimitiveTypeName.INT64 => g.getLong(i, 0)
            case PrimitiveTypeName.INT32 => g.getInteger(i, 0).toLong
            case other => throw new IllegalStateException(s"dv $n: $other")
          }
          o.put(n, v): Unit
        }
      str("storageType"); str("pathOrInlineDv")
      int("offset"); int("sizeInBytes"); lng("cardinality")
      mapper.writeValueAsString(o)
    }
    def longOf(g: Group, t: GroupType, name: String): Option[Long] = {
      if (!t.containsField(name)) return None
      val i = t.getFieldIndex(name)
      if (g.getFieldRepetitionCount(i) == 0) None
      else t.getType(i).asPrimitiveType().getPrimitiveTypeName match {
        case PrimitiveTypeName.INT64 => Some(g.getLong(i, 0))
        case PrimitiveTypeName.INT32 => Some(g.getInteger(i, 0).toLong)
        case other => throw new IllegalStateException(s"$name: $other")
      }
    }
    def strField(g: Group, t: GroupType, name: String): Option[String] = {
      if (!t.containsField(name)) return None
      val i = t.getFieldIndex(name)
      if (g.getFieldRepetitionCount(i) == 0) None
      else if (isString(t.getType(i))) Some(g.getString(i, 0))
      else throw new IllegalStateException(s"$name is not a string")
    }
    def pvOf(g: Group, t: GroupType): Map[String, String] = {
      if (!t.containsField("partitionValues")) return Map.empty
      val i = t.getFieldIndex("partitionValues")
      if (g.getFieldRepetitionCount(i) == 0) return Map.empty
      val gt = t.getType(i).asGroupType()
      val sub = g.getGroup(i, 0)
      if (logicalIs(t.getType(i), classOf[LogicalTypeAnnotation.MapLogicalTypeAnnotation])) {
        val (kv, ki, vi) = mapParts(gt)
        (0 until sub.getFieldRepetitionCount(0)).map { j =>
          val e = sub.getGroup(0, j)
          e.getString(ki, 0) -> (if (e.getFieldRepetitionCount(vi) == 0) null
                                 else stringOf(e, kv.getType(vi), vi))
        }.toMap
      } else { // struct-shaped (JSON-inferred foreign manifests)
        (0 until gt.getFieldCount).flatMap { j =>
          if (sub.getFieldRepetitionCount(j) == 0)
            Some(gt.getType(j).getName -> (null: String))
          else Some(gt.getType(j).getName -> stringOf(sub, gt.getType(j), j))
        }.toMap
      }
    }

    // ---- one row of any checkpoint/sidecar parquet -----------------------
    def handleGroup(g: Group, schema: GroupType): Unit = {
      def groupField(name: String): Option[(Group, GroupType)] = {
        if (!schema.containsField(name)) return None
        val i = schema.getFieldIndex(name)
        if (g.getFieldRepetitionCount(i) == 0) None
        else Some((g.getGroup(i, 0), schema.getType(i).asGroupType()))
      }
      groupField("protocol").foreach { case (p, pt) =>
        // the distributed collect keys on a non-null minReaderVersion
        if (pt.containsField("minReaderVersion") &&
            p.getFieldRepetitionCount(pt.getFieldIndex("minReaderVersion")) > 0)
          protocolJson += mapper.writeValueAsString(groupJson(p, pt))
      }
      groupField("metaData").foreach { case (m, mt) =>
        if (mt.containsField("schemaString") &&
            m.getFieldRepetitionCount(mt.getFieldIndex("schemaString")) > 0)
          metaJson += mapper.writeValueAsString(groupJson(m, mt))
      }
      groupField("txn").foreach { case (x, xt) =>
        strField(x, xt, "appId").foreach { app =>
          txns += app -> longOf(x, xt, "version").getOrElse(
            throw new IllegalStateException("txn without version"))
        }
      }
      groupField("domainMetadata").foreach { case (d, dt) =>
        strField(d, dt, "domain").foreach { dom =>
          val cfg = strField(d, dt, "configuration").getOrElse(null)
          val ri = if (dt.containsField("removed")) dt.getFieldIndex("removed") else -1
          val removed = ri >= 0 && d.getFieldRepetitionCount(ri) > 0 &&
            d.getBoolean(ri, 0)
          domains += ((dom, cfg, removed))
        }
      }
      groupField("add").foreach { case (a, at) =>
        strField(a, at, "path").foreach { p =>
          val dv: Option[String] = {
            if (!at.containsField("deletionVector")) None
            else {
              val i = at.getFieldIndex("deletionVector")
              if (a.getFieldRepetitionCount(i) == 0) None
              else Some(dvOf(a.getGroup(i, 0), at.getType(i).asGroupType()))
            }
          }
          adds += AddFile(p, pvOf(a, at),
            longOf(a, at, "size").getOrElse(0L),
            longOf(a, at, "modificationTime").getOrElse(0L),
            strField(a, at, "stats"), dv,
            longOf(a, at, "baseRowId"),
            longOf(a, at, "defaultRowCommitVersion"))
        }
      }
      groupField("sidecar").foreach { case (s, stype) =>
        strField(s, stype, "path").foreach(sidecars += _)
      }
    }

    def parseParquet(p: Path): Unit = {
      val r = graft.destinations.LocalIo.openParquet(p, conf)
      try {
        val schema = r.getFooter.getFileMetaData.getSchema
        var pages = r.readNextRowGroup()
        while (pages != null) {
          val rec = new org.apache.parquet.io.ColumnIOFactory()
            .getColumnIO(schema)
            .getRecordReader(pages,
              new org.apache.parquet.example.data.simple.convert.GroupRecordConverter(schema))
          var i = 0L
          while (i < pages.getRowCount) { handleGroup(rec.read(), schema); i += 1 }
          pages = r.readNextRowGroup()
        }
      } finally r.close()
    }

    // JSON-flavor v2 manifests: newline actions, same commit-JSON shapes
    def parseJsonManifest(p: Path): Unit = {
      val in = st.fs.open(p)
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      content.linesIterator.filter(_.trim.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        def opt(n: String) = Option(node.get(n)).filterNot(_.isNull)
        // the distributed flavor renders these through spark.read.json +
        // to_json, whose inferred-schema field ORDER may differ from the
        // file's; every consumer is name-based (metaDataRaw is parsed,
        // never compared as bytes), so the original object is equivalent
        opt("protocol").filter(p0 => Option(p0.get("minReaderVersion"))
          .exists(!_.isNull)).foreach(p0 => protocolJson += p0.toString)
        opt("metaData").filter(m => Option(m.get("schemaString"))
          .exists(!_.isNull)).foreach(m => metaJson += m.toString)
        opt("txn").foreach { x =>
          txns += x.get("appId").asText() -> x.get("version").asLong()
        }
        opt("domainMetadata").foreach { d =>
          // null configuration stays null — the distributed collect's
          // getString returns null for an absent field (the TAIL replay's
          // "" default is a different code path; checkpoint domains are
          // re-emitted by writers from this exact value)
          domains += ((d.get("domain").asText(),
            Option(d.get("configuration")).filterNot(_.isNull)
              .map(_.asText()).orNull,
            Option(d.get("removed")).filterNot(_.isNull).exists(_.asBoolean())))
        }
        opt("add").filter(_.hasNonNull("path")).foreach { a =>
          // same decode driverReplay uses for commit-JSON adds
          adds += jsonAdd(a)
        }
        opt("sidecar").foreach { s =>
          Option(s.get("path")).filterNot(_.isNull).foreach(sidecars += _.asText())
        }
      }
    }

    val (jsonParts, parquetParts) = partPaths.partition(_.getName.endsWith(".json"))
    parquetParts.foreach(parseParquet)
    jsonParts.foreach(parseJsonManifest)
    val sidecarNames = sidecars.result()
    if (sidecarNames.nonEmpty) {
      val sidecarDir = new Path(logDir(st.table), "_sidecars")
      val sidecarPaths = sidecarNames.map(n => new Path(sidecarDir, n))
      if (partBytes +
          sidecarPaths.map(p => st.fs.getFileStatus(p).getLen).sum > maxBytes)
        return None
      sidecarPaths.foreach(parseParquet)
    }
    Some(DriverCheckpoint(protocolJson.result(), metaJson.result(),
      txns.result(), domains.result(), adds.result()))
  }

  /** One commit-JSON add action in [[addIndex]]'s canonical shape — the
    * decode shared by the tail replay and the JSON-manifest parser.
    * Callers guard on a non-null `path` (the distributed index filters
    * `add.path IS NOT NULL`). */
  private def jsonAdd(add: JsonNode): AddFile = {
    def optText(f: String): Option[String] =
      Option(add.get(f)).filterNot(_.isNull).flatMap(x => Option(x.textValue()))
    def optLong(f: String): Option[Long] =
      Option(add.get(f)).filterNot(_.isNull).filter(_.isNumber).map(_.asLong())
    val pv = Option(add.get("partitionValues")).filterNot(_.isNull)
      .map(_.fields().asScala.map(e =>
        e.getKey -> (if (e.getValue.isNull) null
                     else e.getValue.asText())).toMap)
      .getOrElse(Map.empty[String, String])
    AddFile(add.get("path").asText(), pv,
      optLong("size").getOrElse(0L),
      optLong("modificationTime").getOrElse(0L),
      optText("stats"),
      Option(add.get("deletionVector")).filterNot(_.isNull).flatMap(dvJsonOf),
      optLong("baseRowId"),
      optLong("defaultRowCommitVersion"))
  }

  /** DV descriptor re-serialized like `to_json` over [[dvStructType]]:
    * field order fixed, null/absent fields omitted. */
  private def dvJsonOf(n: JsonNode): Option[String] = {
    def optText(f: String): Option[String] =
      Option(n.get(f)).filterNot(_.isNull).flatMap(x => Option(x.textValue()))
    val o = mapper.createObjectNode()
    optText("storageType").foreach(o.put("storageType", _))
    optText("pathOrInlineDv").foreach(o.put("pathOrInlineDv", _))
    Option(n.get("offset")).filterNot(_.isNull).filter(_.isNumber)
      .foreach(x => o.put("offset", x.asInt()))
    Option(n.get("sizeInBytes")).filterNot(_.isNull).filter(_.isNumber)
      .foreach(x => o.put("sizeInBytes", x.asInt()))
    Option(n.get("cardinality")).filterNot(_.isNull).filter(_.isNumber)
      .foreach(x => o.put("cardinality", x.asLong()))
    Some(mapper.writeValueAsString(o))
  }

  /** Driver-side replay of the add index for SMALL logs — the
    * size-dispatch twin of [[addIndex]] (r18; extended to
    * checkpoint-seeded states in r19). A lifecycle of a few commits pays
    * a fixed Spark job (JSON scan + window + collect, plus AQE
    * re-planning) for every snapshot/filesWhere/liveFileStats call, when
    * the whole segment is a few KB the driver has often already read
    * once for [[metaReplay]]. At 100 TB the distributed index is the
    * only safe shape — so this engages ONLY below
    * `graft.delta.driverReplayMaxBytes` (default 4 MiB of tail commit
    * JSON, and independently 4 MiB of checkpoint manifest + sidecars —
    * [[driverCheckpoint]] refuses bigger or surprising seeds, keeping
    * checkpoint parquet of real tables a distributed read). Semantics
    * are pinned equal to the distributed path by DeltaDriverReplaySpec:
    * same canonical add shape (null-filled defaults, DV descriptor
    * re-serialized exactly like `to_json` — struct field order, null
    * fields omitted), same latest-action-wins reconciliation with the
    * same same-version add-beats-remove tie (checkpoint adds seed at the
    * checkpoint version, strictly below every tail commit). Any parse
    * surprise returns None and the caller falls back to the distributed
    * index.
    */
  private def driverReplay(
      spark: SparkSession, st: LogState): Option[Seq[AddFile]] = {
    val maxBytes = spark.conf.getOption("graft.delta.driverReplayMaxBytes")
      .map(_.toLong).getOrElse(4L << 20)
    val tail = st.tail
    if (tail.map(_._2.getLen).sum > maxBytes) return None
    val seed: Seq[AddFile] = st.fromCheckpoint match {
      case None => Nil
      case Some(_) => driverCheckpoint(spark, st) match {
        case Some(cp) => cp.adds
        case None => return None
      }
    }
    try {
      // (version, isAdd, add): latest version wins; same-version tie goes
      // to the ADD regardless of line order — the distributed window's
      // (version desc, isAdd desc) order exactly
      val latest = scala.collection.mutable.LinkedHashMap
        .empty[String, (Long, Boolean, AddFile)]
      def update(path: String, v: Long, isAdd: Boolean, a: AddFile): Unit =
        latest.get(path) match {
          case Some((v0, isAdd0, _)) if v0 > v || (v0 == v && (isAdd0 || !isAdd)) => ()
          case _ => latest += path -> ((v, isAdd, a))
        }
      val cv = st.fromCheckpoint.getOrElse(-1L)
      seed.foreach(a => update(a.path, cv, isAdd = true, a))
      def optText(n: JsonNode, f: String): Option[String] =
        Option(n.get(f)).filterNot(_.isNull).flatMap(x => Option(x.textValue()))
      tail.sortBy(_._1).foreach { case (v, cst) =>
        val in = st.fs.open(cst.getPath)
        val content =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        content.linesIterator.filter(_.trim.nonEmpty).foreach { line =>
          val node = mapper.readTree(line)
          val add = node.get("add")
          if (add != null && !add.isNull && add.hasNonNull("path")) {
            val a = jsonAdd(add)
            update(a.path, v, isAdd = true, a)
          }
          val rem = node.get("remove")
          if (rem != null && !rem.isNull) optText(rem, "path").foreach { p =>
            update(p, v, isAdd = false, null)
          }
        }
      }
      Some(latest.values.collect { case (_, true, a) => a }.toSeq)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Collect a DataFrame in [[AddFile]] column shape (`path,
    * partitionValues, size, modificationTime, stats, deletionVector`) into
    * typed descriptors — for callers that have already pruned down to the
    * acted-on subset on executors. */
  private[graft] def collectAdds(index: DataFrame): Seq[AddFile] = {
    val withIds =
      if (index.columns.contains("baseRowId")) index
      else index // callers that pre-select the narrow shape: null-fill
        .withColumn("baseRowId", lit(null).cast(LongType))
        .withColumn("defaultRowCommitVersion", lit(null).cast(LongType))
    withIds.select(col("path"), col("partitionValues"), col("size"),
        col("modificationTime"), col("stats"), col("deletionVector"),
        col("baseRowId"), col("defaultRowCommitVersion"))
      .as(addFileEncoder).collect().toSeq
  }

  /** Resolve the snapshot at `versionAsOf` / `timestampAsOf` / latest,
    * materializing the full file list. The only remaining in-repo caller
    * that needs that is `overwrite` (its acted-on set IS every live file —
    * each one becomes a remove action in the commit). Everything else goes
    * through [[lazySnapshot]]: reads via [[readWhere]] (stats-pruned),
    * sparse writes (append/upsert/replace/delete) and maintenance
    * (compact/restore/vacuum/checkpoint) collect only the acted-on subset
    * off the distributed index.
    */
  def snapshot(
      spark: SparkSession,
      tablePath: String,
      versionAsOf: Option[Long] = None,
      timestampAsOf: Option[java.time.Instant] = None): Snapshot = {
    val st = resolveState(spark, tablePath, versionAsOf, timestampAsOf)
    val meta = metaReplay(spark, tablePath, st)
    meta.copy(files = driverReplay(spark, st)
      .getOrElse(collectAdds(addIndex(spark, st))))
  }

  /** Metadata-resolved snapshot whose file list stays DISTRIBUTED until a
    * caller collects a (usually pruned) subset — the bounded-driver handle
    * for write paths: append needs no file list at all, upsert/replace/
    * delete collect only stats-pruned candidates. `meta` carries schema,
    * partition columns, protocol, configuration and version with
    * `files = Nil`.
    */
  final class LazySnapshot private[DeltaLog](
      spark: SparkSession, st: LogState, val meta: Snapshot) {

    // small checkpoint-free logs replay once on the driver; every
    // filesWhere / liveFileStats / indexDF call then skips its Spark job
    private lazy val driverAdds: Option[Seq[AddFile]] =
      driverReplay(spark, st)

    /** Collect the files passing `keep`, evaluated ON EXECUTORS over the
      * distributed add index — driver memory bounded by the kept count.
      * (Small checkpoint-free logs filter the driver replay directly.)
      */
    def filesWhere(keep: AddFile => Boolean): Seq[AddFile] =
      driverAdds match {
        case Some(as) => as.filter(keep)
        case None =>
          indexDF
            .as(addFileEncoder)
            .filter(keep)
            .collect().toSeq
      }

    /** The live-file state as a DataFrame in [[AddFile]] column shape
      * (`deletionVector` as raw descriptor JSON) — checkpoint writers
      * stream this straight back out without a driver materialization.
      */
    private[graft] def indexDF: DataFrame = driverAdds match {
      case Some(as) =>
        spark.createDataset(as)(addFileEncoder).toDF()
          .select(col("path"), col("partitionValues"), col("size"),
            col("modificationTime"), col("stats"), col("deletionVector"),
            col("baseRowId"), col("defaultRowCommitVersion"))
      case None =>
        addIndex(spark, st)
          .select(col("path"), col("partitionValues"), col("size"),
            col("modificationTime"), col("stats"), col("deletionVector"),
            col("baseRowId"), col("defaultRowCommitVersion"))
    }

    /** (live file count, total bytes) — ONE distributed aggregate over
      * the add index (the state summary both [[DeltaLog.verifyChecksum]]
      * audits against and restore's exact checksum derives from; one
      * definition, or the audit and the writer silently diverge), or
      * plain arithmetic over the driver replay. */
    private[graft] def liveFileStats(): (Long, Long) = driverAdds match {
      case Some(as) => (as.size.toLong, as.map(_.size).sum)
      case None =>
        val row = indexDF.agg(
          org.apache.spark.sql.functions.count(col("path")),
          org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.sum(col("size")),
            org.apache.spark.sql.functions.lit(0L))).head()
        (row.getLong(0), row.getLong(1))
    }

    /** Every table-relative path the snapshot keeps alive — decoded data
      * file paths plus the `.bin` sidecars its deletion vectors point into
      * — as a distributed single-column (`rel`) frame. Vacuum anti-joins
      * the FS listing against this on executors instead of holding a
      * driver-side live set. Absolute ("p"-type) DV paths pass through
      * unrelativized; they live outside the table root, which vacuum never
      * lists, so they are merely unreferenced-by-construction here. */
    private[graft] def liveRelPathsDF(tablePath: String): DataFrame = {
      val tableStr = tablePath
      indexDF.as(addFileEncoder).flatMap { a =>
        val dv = a.deletionVector.toSeq.flatMap { dj =>
          val d = DeletionVectors.parse(dj)
          if (d.storageType == "i") Nil
          else Seq(DeletionVectors.dvFilePath(tableStr, d).toString
            .stripPrefix(tableStr).dropWhile(_ == '/'))
        }
        decodePath(a.path) +: dv
      }(org.apache.spark.sql.Encoders.STRING).toDF("rel")
    }
  }

  def lazySnapshot(
      spark: SparkSession,
      tablePath: String,
      versionAsOf: Option[Long] = None,
      timestampAsOf: Option[java.time.Instant] = None): LazySnapshot = {
    val st = resolveState(spark, tablePath, versionAsOf, timestampAsOf)
    new LazySnapshot(spark, st, metaReplay(spark, tablePath, st))
  }

  /** The latest snapshot's live data bytes, found without a Spark job: the
    * version checksum's `tableSizeBytes` when the writer left one, else the
    * sum over the driver replay of a small log; None when neither exists.
    */
  def liveBytes(spark: SparkSession, tablePath: String): Option[Long] = {
    val st = resolveState(spark, tablePath, None, None)
    readCrc(spark, tablePath, st.targetVersion).map(_.tableSizeBytes)
      .orElse(driverReplay(spark, st).map(_.iterator.map(_.size).sum))
  }

  // ------------------------------------------------- protocol capability gate

  /** Reader features this bridge actually implements. Anything else on a
    * table's protocol action makes reads REFUSE loudly — replaying a log
    * whose semantics we don't understand would silently return wrong
    * rows, which for a lake reader is strictly worse than an error.
    * v2Checkpoint admitted since r10 ([[checkpointActions]] reads both
    * manifest flavors and expands sidecars).
    */
  private val supportedReaderFeatures: Set[String] =
    Set("columnMapping", "deletionVectors", "timestampNtz",
      "vacuumProtocolCheck", "variantType", "variantType-preview", "v2Checkpoint",
      // widened tables: old files carry the narrow parquet type; this
      // bridge reads every file group with the TABLE schema and Spark 4's
      // parquet readers up-cast natively (TypeWideningSpec pins the
      // promotions the writer may record)
      "typeWidening")

  private def requireReadable(tablePath: String, s: Snapshot): Unit = {
    s.protocol.foreach { p =>
      // legacy versions imply fixed feature sets; v3 names them explicitly
      val required: Set[String] =
        if (p.minReaderVersion >= 3) p.readerFeatures
        else if (p.minReaderVersion == 2) Set("columnMapping") // legacy implication
        else Set.empty
      val unsupported = required -- supportedReaderFeatures
      require(unsupported.isEmpty,
        s"Delta table $tablePath requires reader features not supported by this " +
          s"bridge: ${unsupported.toSeq.sorted.mkString(", ")} " +
          s"(minReaderVersion ${p.minReaderVersion})")
    }
    val mappingMode = s.columnMappingMode
    require(Set("none", "name", "id").contains(mappingMode),
      s"Delta table $tablePath uses unknown column mapping mode '$mappingMode'")
    if (mappingMode != "none") {
      // both 'name' and 'id' tables are read via physical names (writers
      // record physicalName in either mode); a field missing the rename
      // would silently read the WRONG parquet column, so verify all of
      // them up front
      def unmapped(prefix: String, st: StructType): Seq[String] = st.fields.toSeq.flatMap { f =>
        val here =
          if (f.metadata.contains("delta.columnMapping.physicalName")) Nil
          else Seq(prefix + f.name)
        here ++ (f.dataType match {
          case nested: StructType => unmapped(prefix + f.name + ".", nested)
          case org.apache.spark.sql.types.ArrayType(nested: StructType, _) =>
            unmapped(prefix + f.name + ".element.", nested)
          case org.apache.spark.sql.types.MapType(_, nested: StructType, _) =>
            unmapped(prefix + f.name + ".value.", nested)
          case _ => Nil
        })
      }
      val missing = unmapped("", s.schema)
      require(missing.isEmpty,
        s"Delta table $tablePath has columnMapping.mode=$mappingMode but no " +
          s"physicalName for: ${missing.mkString(", ")}")
    }
  }

  /** Percent-decode an `add.path` (RFC URI decoding — NOT URLDecoder,
    * whose form-encoding rules would corrupt a literal '+' into a space).
    * Paths that fail URI parsing are taken verbatim.
    */
  private[graft] def decodePath(p: String): String =
    try {
      val u = new java.net.URI(p)
      if (u.getScheme != null)
        // fully-qualified absolute reference (shallow-clone adds, "p" DV
        // descriptors): scheme and authority must SURVIVE decoding, or a
        // cross-filesystem reference would re-root onto the reader's
        // table filesystem
        new org.apache.hadoop.fs.Path(u).toString
      else if (u.getPath != null) u.getPath
      else p
    } catch {
      case _: java.net.URISyntaxException => p
      case _: IllegalArgumentException => p
    }

  /** Open the table as a DataFrame (latest / `versionAsOf` /
    * `timestampAsOf`). Partition columns are injected from the log's
    * `partitionValues` (cast from their string form to the schema type),
    * grouped so each distinct partition tuple is one parquet scan — the
    * same pruning surface a hive-layout read would give.
    */
  def read(
      spark: SparkSession,
      tablePath: String,
      versionAsOf: Option[Long] = None,
      timestampAsOf: Option[java.time.Instant] = None): DataFrame = {
    val st = resolveState(spark, tablePath, versionAsOf, timestampAsOf)
    val meta = metaReplay(spark, tablePath, st)
    // a full scan needs paths + partition values, never the stats strings —
    // null them out before the collect (they are the bulk of a large
    // table's add metadata)
    val files = driverReplay(spark, st).map(_.map(_.copy(stats = None)))
      .getOrElse(collectAdds(
        addIndex(spark, st).withColumn("stats", lit(null).cast(StringType))))
    readFiles(spark, tablePath, meta, files)
  }

  /** Read with FILE-LEVEL data skipping: `predicate` (a SQL boolean
    * expression over the table's columns) is evaluated conservatively
    * against each live file's add-action stats and partition values, files
    * that provably cannot hold a matching row are never opened, and the
    * full predicate then filters the surviving scans row-wise. At lake
    * scale this is the difference between opening millions of parquet
    * footers and opening the handful whose min/max ranges overlap the
    * query — the same skipping delta-spark derives from its stats, driven
    * by the stats this engine's writer records.
    */
  def readWhere(
      spark: SparkSession,
      tablePath: String,
      predicate: String,
      versionAsOf: Option[Long] = None,
      timestampAsOf: Option[java.time.Instant] = None): DataFrame = {
    val st = resolveState(spark, tablePath, versionAsOf, timestampAsOf)
    val meta = metaReplay(spark, tablePath, st)
    // derived partition conjuncts for monotone generated partition columns
    // ([[GeneratedPruning]]): predicates on the source column prune whole
    // partitions, the time-series-table payoff
    val expr = GeneratedPruning.augment(spark, meta,
      spark.sessionState.sqlParser.parseExpression(predicate))
    // the stats evaluation runs ON EXECUTORS over the distributed add
    // index; only files that may hold a matching row are ever collected,
    // so driver memory is bounded by the MATCHED-file count, not the
    // table's total file count
    val candidates = driverReplay(spark, st)
      .map(_.filter(f => DeltaStats.mayMatch(meta, f, expr)))
      .getOrElse(addIndex(spark, st)
        .select(col("path"), col("partitionValues"), col("size"),
          col("modificationTime"), col("stats"), col("deletionVector"),
          col("baseRowId"), col("defaultRowCommitVersion"))
        .as(addFileEncoder)
        .filter((f: AddFile) => DeltaStats.mayMatch(meta, f, expr))
        .collect().toSeq)
    lastPlannedFiles.set(PlannedFiles(candidates.size))
    readFiles(spark, tablePath, meta, candidates).filter(predicate)
  }

  /** Planning counters of the most recent [[readWhere]] on this thread —
    * the test/gate surface pinning that stats/partition pruning really
    * subtracted files (same pattern as `IcebergRead.lastPlanStats`). */
  final case class PlannedFiles(planned: Int)
  private val lastPlannedFiles = new ThreadLocal[PlannedFiles]
  def lastReadWherePlan: Option[PlannedFiles] = Option(lastPlannedFiles.get())

  /** Incremental tail WITHOUT change-data-feed: the rows appended by
    * commits in `(fromVersionExclusive, latest]`. The contract every
    * Delta-tailing consumer relies on: data-changing `add`s in range are
    * returned; layout-only commits (compaction, `dataChange: false`) are
    * invisible; a data-changing `remove` in range means the table moved
    * non-incrementally and the call REFUSES (the consumer must full-
    * refresh) rather than silently over- or under-delivering. Commits
    * cleaned past a checkpoint refuse the same way. Reads happen under
    * the LATEST snapshot's schema/mapping/protocol context, so mergeSchema
    * appends and DV'd files tail correctly.
    */
  def readChanges(
      spark: SparkSession,
      tablePath: String,
      fromVersionExclusive: Long): DataFrame = {
    // protocol gate + read context only — the tail scan below never needs
    // the table's file list, so don't collect it
    val snap = lazySnapshot(spark, tablePath).meta
    require(fromVersionExclusive <= snap.version,
      s"fromVersion $fromVersionExclusive is beyond latest ${snap.version}")
    val table = new Path(tablePath)
    val fs = logDir(table).getFileSystem(spark.sessionState.newHadoopConf())
    val adds = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    ((fromVersionExclusive + 1) to snap.version).foreach { v =>
      val p = new Path(logDir(table), f"$v%020d.json")
      require(fs.exists(p),
        s"commit $v no longer in _delta_log (checkpoint-cleaned); " +
          "incremental read impossible — full refresh required")
      val in = fs.open(p)
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      content.linesIterator.filter(_.trim.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        val add = node.get("add")
        if (add != null && !add.isNull) {
          val dc = Option(add.get("dataChange")).filterNot(_.isNull).forall(_.asBoolean())
          if (dc) { val a = parseAddAction(add); adds += a.path -> a }
        }
        val remove = node.get("remove")
        if (remove != null && !remove.isNull) {
          val dc = Option(remove.get("dataChange")).filterNot(_.isNull).forall(_.asBoolean())
          require(!dc,
            s"version $v removed data (${remove.get("path").asText()}); " +
              "the range is not append-only — full refresh required")
        }
      }
    }
    readFiles(spark, tablePath, snap, adds.values.toSeq)
  }

  /** Change-data-feed read: every change in `(fromVersionExclusive,
    * toVersion ?: latest]` as table rows plus `_change_type`,
    * `_commit_version`, `_commit_timestamp`.
    *
    * Per the public spec, a commit that carries `cdc` actions describes
    * its changes EXCLUSIVELY through them (`_change_data/` files written
    * by the partial-rewrite paths — upsert's update_preimage/postimage/
    * insert, replace/delete's delete rows); a commit without them derives:
    * data-changing `add`s are inserts and data-changing `remove`s are
    * deletes, their rows read from the still-retained removed files. A
    * removed file's partition values and deletion vector come from the
    * PREVIOUS version's distributed add index (one executor-side lookup
    * per remove-carrying commit — never a full file-list collect), so
    * DV-masked rows are not resurrected as deletes. Commits cleaned past
    * a checkpoint refuse, like [[readChanges]] — the consumer must full-
    * refresh.
    *
    * All reads run under the LATEST snapshot's schema/protocol context
    * (evolved columns null-fill for older files). The per-commit loop is
    * driver-side over the requested range only — tail consumption reads a
    * handful of commits regardless of table size.
    */
  def readCdf(
      spark: SparkSession,
      tablePath: String,
      fromVersionExclusive: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val snap = lazySnapshot(spark, tablePath).meta
    require(snap.configuration.get("delta.enableChangeDataFeed")
      .exists(_.equalsIgnoreCase("true")),
      s"$tablePath does not have change data feed enabled (delta.enableChangeDataFeed)")
    val to = toVersion.getOrElse(snap.version)
    require(fromVersionExclusive <= to && to <= snap.version,
      s"CDF range ($fromVersionExclusive, $to] out of bounds (latest ${snap.version})")
    val cdcSnap = snap.copy(schema =
      StructType(snap.schema.fields :+ StructField("_change_type", StringType)))
    val table = new Path(tablePath)
    val fsys = logDir(table).getFileSystem(spark.sessionState.newHadoopConf())
    var out: Option[DataFrame] = None
    ((fromVersionExclusive + 1) to to).foreach { v =>
      val p = new Path(logDir(table), f"$v%020d.json")
      require(fsys.exists(p),
        s"commit $v no longer in _delta_log (checkpoint-cleaned); " +
          "CDF read impossible — full refresh required")
      val in = fsys.open(p)
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val cdcFiles = Seq.newBuilder[AddFile]
      val addFiles = Seq.newBuilder[AddFile]
      val removed = Seq.newBuilder[String]
      var ts = 0L
      content.linesIterator.filter(_.trim.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        Option(node.get("commitInfo")).filterNot(_.isNull).foreach { ci =>
          val t = Option(ci.get("inCommitTimestamp")).filterNot(_.isNull)
            .orElse(Option(ci.get("timestamp")).filterNot(_.isNull))
          t.foreach(n => ts = n.asLong())
        }
        Option(node.get("cdc")).filterNot(_.isNull)
          .foreach(c => cdcFiles += parseAddAction(c))
        Option(node.get("add")).filterNot(_.isNull).foreach { add =>
          val dc = Option(add.get("dataChange")).filterNot(_.isNull).forall(_.asBoolean())
          if (dc) addFiles += parseAddAction(add)
        }
        Option(node.get("remove")).filterNot(_.isNull).foreach { rm =>
          val dc = Option(rm.get("dataChange")).filterNot(_.isNull).forall(_.asBoolean())
          if (dc) removed += rm.get("path").asText()
        }
      }
      if (ts == 0L) ts = fsys.getFileStatus(p).getModificationTime
      val cdcs = cdcFiles.result()
      val vdf: Option[DataFrame] =
        if (cdcs.nonEmpty) Some(readFiles(spark, tablePath, cdcSnap, cdcs))
        else {
          val adds = addFiles.result()
          val rems = removed.result()
          val ins =
            if (adds.isEmpty) None
            else Some(readFiles(spark, tablePath, snap, adds)
              .withColumn("_change_type", lit("insert")))
          val del =
            if (rems.isEmpty) None
            else {
              val prevSt = resolveState(spark, tablePath, Some(v - 1), None)
              val remSet = rems.toSet
              val files = addIndex(spark, prevSt)
                .select(col("path"), col("partitionValues"), col("size"),
                  col("modificationTime"), col("stats"), col("deletionVector"),
                  col("baseRowId"), col("defaultRowCommitVersion"))
                .as(addFileEncoder)
                .filter((f: AddFile) => remSet.contains(f.path))
                .collect().toSeq
              require(files.size == remSet.size,
                s"version $v removes files absent from version ${v - 1} " +
                  "state; cannot derive deletes")
              Some(readFiles(spark, tablePath, snap, files)
                .withColumn("_change_type", lit("delete")))
            }
          (ins.toSeq ++ del.toSeq).reduceOption(_ unionByName _)
        }
      vdf.foreach { df =>
        val stamped = df
          .withColumn("_commit_version", lit(v))
          .withColumn("_commit_timestamp", timestamp_millis(lit(ts)))
        out = Some(out.map(_.unionByName(stamped)).getOrElse(stamped))
      }
    }
    out.getOrElse {
      val schema = StructType(cdcSnap.schema.fields ++ Seq(
        StructField("_commit_version", LongType),
        StructField("_commit_timestamp",
          org.apache.spark.sql.types.TimestampType)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
  }

  /** Read a subset of a snapshot's files (the write path's file-pruned
    * rewrites read only candidate files through this). `withFilePath`
    * appends the physical path as `_graft_file` for file-level semi-joins;
    * `withRowIndex` appends `_metadata.row_index` as `_graft_row_index`
    * (live rows only — DV-deleted rows are already filtered), which is
    * what a deletion-vector writer needs to mark matched rows.
    */
  private[graft] def readFiles(
      spark: SparkSession,
      tablePath: String,
      s: Snapshot,
      files: Seq[AddFile],
      withFilePath: Boolean = false,
      withRowIndex: Boolean = false,
      extraDataCols: Seq[StructField] = Nil): DataFrame = {
    val table = new Path(tablePath)
    val logicalData = s.schema.fields.filterNot(f => s.partitionColumns.contains(f.name))
    val mapped = s.columnMappingMode != "none"
    // under column mapping the files spell PHYSICAL names; scan with those
    // and restore logical names after (struct casts rename nested levels
    // by position). `extraDataCols` are non-schema PHYSICAL columns some
    // files may carry (materialized row ids) — appended to the scan schema
    // so they surface, null-filled for files written without them.
    val dataSchema = StructType(
      (if (mapped) physicalDataType(StructType(logicalData)).asInstanceOf[StructType].fields
      else logicalData) ++ extraDataCols)
    if (files.isEmpty) {
      var empty0 = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s.schema)
      extraDataCols.foreach(f =>
        empty0 = empty0.withColumn(f.name, lit(null).cast(f.dataType)))
      val empty1 =
        if (withFilePath) empty0.withColumn("_graft_file", lit(null).cast("string"))
        else empty0
      return if (withRowIndex) empty1.withColumn("_graft_row_index", lit(null).cast("long"))
             else empty1
    }
    // files carrying a deletion vector scan alone: their row filter is a
    // per-FILE bitmap over `_metadata.row_index`, decoded once driver-side
    val (dvFiles, plain) = files.partition(_.deletionVector.isDefined)
    val plainGroups = plain.groupBy(_.partitionValues).toSeq
      .sortBy(_._1.toSeq.sorted.mkString("\u0000")) // deterministic plan order
      .map { case (pv, g) => (pv, g, None: Option[DeletionVectors.RoaringArray]) }
    val dvGroups = dvFiles.sortBy(_.path).map { f =>
      val d = DeletionVectors.parse(f.deletionVector.get)
      (f.partitionValues, Seq(f), Some(DeletionVectors.readBitmap(spark, tablePath, d)))
    }
    val groups = plainGroups ++ dvGroups
    val parts = groups.map { case (pv, group, dv) =>
      // paths are table-root-relative and URL-encoded per the spec
      val paths = group.map(f => new Path(table, decodePath(f.path)).toString)
      val scan0 = spark.read.schema(dataSchema).parquet(paths: _*)
      // capture the metadata columns BEFORE any projection — they resolve
      // only against the file-scan relation itself
      val withFile =
        if (withFilePath) scan0.withColumn("_graft_file", col("_metadata.file_path"))
        else scan0
      val withIdx =
        if (withRowIndex) withFile.withColumn("_graft_row_index", col("_metadata.row_index"))
        else withFile
      val withMeta = dv match {
        case None => withIdx
        case Some(bitmap) =>
          // native codegen'd predicate — a UDF here would break whole-stage
          // codegen for exactly the scans a merge-on-read table has most of
          def live(c: org.apache.spark.sql.Column) = BitmapNotContains(bitmap, c)
          if (withRowIndex) withIdx.filter(live(col("_graft_row_index")))
          else withIdx
            .withColumn("_graft_row_index", col("_metadata.row_index"))
            .filter(live(col("_graft_row_index")))
            .drop("_graft_row_index")
      }
      val metaCols =
        (if (withFilePath) Seq(col("_graft_file")) else Nil) ++
          (if (withRowIndex) Seq(col("_graft_row_index")) else Nil)
      val base =
        if (!mapped) withMeta
        else {
          val renames = logicalData.toIndexedSeq.zipWithIndex.map { case (f, i) =>
            col(dataSchema(i).name).cast(f.dataType).as(f.name)
          } ++ extraDataCols.map(f => col(f.name))
          withMeta.select(renames ++ metaCols: _*)
        }
      s.partitionColumns.foldLeft(base) { (df, pc) =>
        val dt = s.schema(pc).dataType
        // Delta encodes partition NULL as missing/null entry in the map;
        // mapped tables key partitionValues by PHYSICAL name
        val raw = pv.get(s.physicalName(pc)).orElse(pv.get(pc)).filter(_ != null)
        df.withColumn(pc, raw.map(v => lit(v).cast(dt)).getOrElse(lit(null).cast(dt)))
      }
    }
    val cols = s.schema.fieldNames.toIndexedSeq.map(col) ++
      extraDataCols.map(f => col(f.name)) ++
      (if (withFilePath) Seq(col("_graft_file")) else Nil) ++
      (if (withRowIndex) Seq(col("_graft_row_index")) else Nil)
    parts.reduce(_ unionByName _).select(cols: _*)
  }

  // ------------------------------------------------------------ row tracking

  /** The table's row-id high-water mark from the `delta.rowTracking`
    * domainMetadata (-1 when none assigned yet — fresh ids start at 0 per
    * spec). */
  private[graft] def rowIdHighWaterMark(s: Snapshot): Long =
    s.domainMetadata.get("delta.rowTracking").flatMap { cfg =>
      try Option(mapper.readTree(cfg).get("rowIdHighWaterMark")).map(_.asLong())
      catch { case scala.util.control.NonFatal(_) => None }
    }.getOrElse(-1L)

  private[graft] def rowTrackingEnabled(s: Snapshot): Boolean =
    s.configuration.get("delta.enableRowTracking").exists(_.equalsIgnoreCase("true"))

  /** The table's stable identity (`metaData.id`) — assigned at create and
    * preserved by every metaData re-emit (schema evolution must not make
    * the table look like a different table to streaming readers). */
  private[graft] def tableId(s: Snapshot): Option[String] =
    s.metaDataRaw.flatMap { raw =>
      try Option(mapper.readTree(raw).get("id")).filterNot(_.isNull).map(_.asText)
      catch { case scala.util.control.NonFatal(_) => None }
    }

  // --------------------------------------------------- version checksums

  /** `metadataJson`/`protocolJson` are "" and `domainMetadata` is None when
    * the crc omits the section — all three are OPTIONAL in delta-spark's
    * VersionChecksum, so an absent section means "nothing to audit" (a
    * healthy foreign-written crc), never corruption.
    */
  final case class VersionChecksum(
      tableSizeBytes: Long,
      numFiles: Long,
      metadataJson: String,
      protocolJson: String,
      domainMetadata: Option[Map[String, String]])

  private[graft] def crcPath(tablePath: String, v: Long) =
    new Path(new Path(tablePath, "_delta_log"), f"$v%020d.crc")

  /** Read `<version>.crc` when present (the delta-spark-style per-version
    * state summary this engine's writer maintains). */
  private[graft] def readCrc(
      spark: SparkSession, tablePath: String, version: Long): Option[VersionChecksum] = {
    val p = crcPath(tablePath, version)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!f.exists(p)) return None
    val in = f.open(p)
    val content = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    try {
      val n = mapper.readTree(content)
      val domains = Option(n.get("domainMetadata")).filter(_.isArray).map { arr =>
        (0 until arr.size).map { i =>
          val d = arr.get(i)
          d.get("domain").asText -> d.get("configuration").asText
        }.toMap
      }
      Some(VersionChecksum(
        n.get("tableSizeBytes").asLong(),
        n.get("numFiles").asLong(),
        Option(n.get("metadata")).map(_.toString).getOrElse(""),
        Option(n.get("protocol")).map(_.toString).getOrElse(""),
        domains))
    } catch {
      case scala.util.control.NonFatal(e) => throw new IllegalStateException(
        s"unparseable version checksum ${p}: ${content.take(200)}", e)
    }
  }

  /** AUDIT the version checksum against the actually-replayed state: live
    * file count and total bytes re-derived as one distributed aggregate
    * over the log index (never a driver-side file list), plus the
    * metadata/protocol/domain actions the replay resolved. Loud
    * IllegalStateException on any divergence — a checksum that disagrees
    * with the log means one of them is corrupt, and reading on would
    * silently serve wrong data. Returns true when a checksum existed and
    * matched, false when the version has no checksum (nothing to audit —
    * foreign writers and pre-checksum history are legal).
    */
  def verifyChecksum(
      spark: SparkSession, tablePath: String, version: Option[Long] = None): Boolean = {
    val ls = lazySnapshot(spark, tablePath, versionAsOf = version)
    val snap = ls.meta
    val crc = readCrc(spark, tablePath, snap.version).getOrElse(return false)
    val (nFiles, bytes) = ls.liveFileStats()
    def fail(what: String, want: Any, got: Any) = throw new IllegalStateException(
      s"version checksum mismatch for $tablePath@${snap.version} — $what: " +
        s"checksum says $want, log replay says $got")
    if (crc.numFiles != nFiles) fail("numFiles", crc.numFiles, nFiles)
    if (crc.tableSizeBytes != bytes) fail("tableSizeBytes", crc.tableSizeBytes, bytes)
    // protocol: version floors AND the feature lists must agree — but only
    // when the crc CARRIES a protocol (optional section per delta-spark's
    // VersionChecksum; absent = nothing to audit, not divergence)
    snap.protocol.filter(_ => crc.protocolJson.nonEmpty).foreach { p =>
      val pc = try mapper.readTree(crc.protocolJson) catch {
        case scala.util.control.NonFatal(_) => fail("protocol", crc.protocolJson, p)
      }
      // missing fields are the same verdict as wrong fields — a partially
      // tampered-but-parseable checksum must still fail BY NAME, never NPE
      def intField(field: String): Int =
        Option(pc.get(field)).filterNot(_.isNull).map(_.asInt)
          .getOrElse(fail("protocol", crc.protocolJson, p))
      def feats(field: String): Set[String] =
        Option(pc.get(field)).filter(_.isArray)
          .map(a => (0 until a.size).map(a.get(_).asText).toSet)
          .getOrElse(Set.empty)
      if (intField("minReaderVersion") != p.minReaderVersion ||
        intField("minWriterVersion") != p.minWriterVersion ||
        feats("readerFeatures") != p.readerFeatures ||
        feats("writerFeatures") != p.writerFeatures)
        fail("protocol", crc.protocolJson, p)
    }
    // metadata: structural equality with the replayed metaData action
    // (Jackson node equality is field-order-insensitive) — a checksum
    // carrying a different schema/id/config than the log is corruption
    snap.metaDataRaw.filter(_ => crc.metadataJson.nonEmpty).foreach { raw =>
      val want = try mapper.readTree(crc.metadataJson) catch {
        case scala.util.control.NonFatal(_) =>
          fail("metadata", crc.metadataJson, raw)
      }
      if (want != mapper.readTree(raw)) fail("metadata", crc.metadataJson, raw)
    }
    crc.domainMetadata.foreach { doms =>
      val liveDomains = snap.domainMetadata
      if (doms != liveDomains) fail("domainMetadata", doms, liveDomains)
    }
    true
  }

  // ------------------------------------------------------- liquid clustering

  /** The table's recorded clustering columns (LOGICAL names) from the
    * `delta.clustering` domain — the spec a bare OPTIMIZE re-clusters by.
    * Empty when the table is not clustered. The domain stores physical
    * name PATHS (arrays, for nested columns); this engine clusters on
    * top-level columns only, so anything else is refused loudly rather
    * than silently mis-clustered.
    */
  private[graft] def clusteringColumns(s: Snapshot): Seq[String] =
    s.domainMetadata.get("delta.clustering").map { cfg =>
      val node =
        try mapper.readTree(cfg).get("clusteringColumns")
        catch {
          case scala.util.control.NonFatal(e) => throw new IllegalStateException(
            s"unparseable delta.clustering domain: $cfg", e)
        }
      if (node == null || !node.isArray) Nil
      else {
        val physToLogical =
          s.schema.fieldNames.map(f => s.physicalName(f) -> f).toMap
        (0 until node.size).toList.map { i =>
          val path = node.get(i)
          require(path.isArray && path.size == 1,
            s"unsupported clustering column path in delta.clustering: $path")
          val p = path.get(0).asText
          physToLogical.getOrElse(p, p)
        }
      }
    }.getOrElse(Nil)

  /** Read the table with row-tracking metadata: every row gains `_row_id`
    * (STABLE — a rewrite-preserving writer materializes it into rewritten
    * files; otherwise it derives fresh as `baseRowId + row position`) and
    * `_row_commit_version` (materialized, else the add action's
    * `defaultRowCommitVersion`) — the exact coalesce the public spec
    * prescribes. The per-file (baseRowId, defaultRowCommitVersion) lookup
    * joins broadcast against the scan; its size is the file count of the
    * read, which this full-scan path has already collected driver-side —
    * bounded reads at lake scale should prune files first (readWhere
    * pattern) and join the pruned lookup.
    */
  def readWithRowIds(
      spark: SparkSession,
      tablePath: String,
      versionAsOf: Option[Long] = None,
      timestampAsOf: Option[java.time.Instant] = None): DataFrame = {
    val st = resolveState(spark, tablePath, versionAsOf, timestampAsOf)
    val meta = metaReplay(spark, tablePath, st)
    require(rowTrackingEnabled(meta),
      s"$tablePath does not have row tracking enabled (delta.enableRowTracking)")
    val files = driverReplay(spark, st).map(_.map(_.copy(stats = None)))
      .getOrElse(collectAdds(
        addIndex(spark, st).withColumn("stats", lit(null).cast(StringType))))
    readFilesWithRowIds(spark, tablePath, meta, files)
  }

  /** [[readFiles]] + the spec's stable-row-id derivation over `files`. */
  private[graft] def readFilesWithRowIds(
      spark: SparkSession,
      tablePath: String,
      s: Snapshot,
      files: Seq[AddFile]): DataFrame = {
    val matId = s.configuration.get("delta.rowTracking.materializedRowIdColumnName")
    val matVer = s.configuration.get("delta.rowTracking.materializedRowCommitVersionColumnName")
    val extra = (matId.toSeq ++ matVer.toSeq).map(n => StructField(n, LongType))
    val scan = readFiles(spark, tablePath, s, files,
      withFilePath = true, withRowIndex = true, extraDataCols = extra)
    val table = new Path(tablePath)
    val fsys = table.getFileSystem(spark.sessionState.newHadoopConf())
    val lookupSchema = StructType(Seq(
      StructField("_graft_key", StringType),
      StructField("_graft_base", LongType),
      StructField("_graft_defver", LongType)))
    // _metadata.file_path and makeQualified spell the same file differently
    // (file:/// vs file:/, percent-encoded vs decoded). Rather than
    // normalize the SCAN side per row (a codegen-breaking UDF on every row
    // of the read), emit every spelling of each file — decoded AND raw
    // log-escaped rel path — into the driver-side lookup; its size is the
    // file count, so a few extra rows are free, and the join stays on the
    // raw column. A spelling this enumeration still misses fails LOUDLY
    // below instead of silently null-ing row ids.
    val lookupRows = files.flatMap { a =>
      val spellings = Seq(decodePath(a.path), a.path).distinct.flatMap { rel =>
        val qualified = fsys.makeQualified(new Path(table, rel))
        val uri = qualified.toUri
        val emptyAuthority =
          uri.getScheme == "file" && (uri.getAuthority == null || uri.getAuthority.isEmpty)
        Seq(qualified.toString, uri.toString) ++
          (if (emptyAuthority) Seq("file://" + uri.getPath, "file:" + uri.getRawPath) else Nil)
      }.distinct
      spellings.map(key => org.apache.spark.sql.Row(key,
        a.baseRowId.map(Long.box).orNull,
        a.defaultRowCommitVersion.map(Long.box).orNull))
    }
    val lookup = spark.createDataFrame(
      spark.sparkContext.parallelize(lookupRows, 1), lookupSchema)
    val joined = scan.join(org.apache.spark.sql.functions.broadcast(lookup),
      col("_graft_file") === col("_graft_key"), "left")
    // every scanned file came from `files`, so a join miss can only be an
    // unenumerated path spelling — raise instead of deriving null ids
    val missGuard = org.apache.spark.sql.functions.raise_error(
      concat(lit("row-id lookup missed file spelling: "), col("_graft_file")))
    val derivedId = when(col("_graft_key").isNotNull,
      col("_graft_base") + col("_graft_row_index"))
      .otherwise(missGuard.cast("long"))
    val derivedVer = when(col("_graft_key").isNotNull, col("_graft_defver"))
      .otherwise(missGuard.cast("long"))
    val rowId = coalesce((matId.map(col).toSeq :+ derivedId): _*)
    val rowVer = coalesce((matVer.map(col).toSeq :+ derivedVer): _*)
    joined
      .withColumn("_row_id", rowId)
      .withColumn("_row_commit_version", rowVer)
      .drop((Seq("_graft_file", "_graft_row_index", "_graft_key",
        "_graft_base", "_graft_defver") ++ matId.toSeq ++ matVer.toSeq): _*)
  }
}
