package graft.destinations

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.sources.DeltaLog

/** Write REAL Delta Lake tables: emits the `_delta_log` commit protocol
  * (the public Delta transaction-log spec) so the output is readable by any
  * Delta reader — delta-spark, delta-rs, DuckDB's delta extension, and our
  * own [[graft.sources.DeltaLog]] bridge.
  *
  * Protocol surface written per commit (`_delta_log/<version %020d>.json`,
  * NDJSON one action per line):
  *   - `commitInfo` — operation metadata (plus a writer nonce used to
  *     detect lost commit races on object stores, see [[publishCommit]]);
  *   - `protocol` (v0 only) — `minReaderVersion` 1 / `minWriterVersion` 2;
  *   - `metaData` (v0, and again when overwrite changes the schema) —
  *     table id, parquet format, Spark-JSON `schemaString`,
  *     `partitionColumns`;
  *   - `add` — table-relative URI-encoded `path`, `partitionValues`
  *     (hive-style nulls mapped to JSON null), `size`,
  *     `modificationTime`, `dataChange`, and per-file `stats`
  *     (numRecords / minValues / maxValues / nullCount);
  *   - `remove` — `path`, `deletionTimestamp`, `dataChange`.
  *
  * Data files are plain parquet WITHOUT the partition columns (partition
  * values live only in the log, per the spec), laid out in hive-style
  * `col=value/` directories like delta-spark's writer. Every 10th
  * append/overwrite also emits a parquet checkpoint + `_last_checkpoint`
  * so replay stays bounded; `history`/`compact`/`vacuum` cover
  * maintenance, and `convertFromManaged` migrates a table written in the
  * retired `_log/` managed format in place.
  *
  * Scale: commits are driver-side file-manifest metadata, bounded by file
  * count; the data write is a normal distributed parquet write. `upsert`
  * and `replace` prune in two stages (driver-side stats range check, then
  * an exact `_metadata.file_path` semi-join) and rewrite only the files
  * that hold hits — see [[graft.sources.DeltaStats]] for the shared
  * conservative pruning rules. Reference parity:
  * /root/reference/aqueducts/delta/src/lib.rs:141-328 (create + write
  * modes against the same protocol).
  */
object DeltaWrite {

  private val mapper = new ObjectMapper()

  private def logDir(table: Path) = new Path(table, "_delta_log")
  private def commitPath(table: Path, v: Long) =
    new Path(logDir(table), f"$v%020d.json")

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  // ----------------------------------------------- writer capability gate

  /** Writer features this engine implements under `minWriterVersion` 7.
    * `appendOnly`/`invariants`/`checkConstraints` are "supported" by
    * ENFORCEMENT-OR-REFUSAL in [[requireWritable]]: a table that defines
    * an obligation we cannot evaluate refuses writes instead of silently
    * violating it.
    */
  private val supportedWriterFeatures: Set[String] =
    Set("appendOnly", "invariants", "checkConstraints", "generatedColumns",
      "changeDataFeed", "timestampNtz", "vacuumProtocolCheck",
      "variantType", "variantType-preview", "deletionVectors", "columnMapping",
      "identityColumns", "inCommitTimestamp", "v2Checkpoint",
      "rowTracking", "domainMetadata", "clusteredTable", "typeWidening",
      "icebergCompatV2", "allowColumnDefaults")

  /** delta.enableIcebergCompatV2: data files carry Iceberg field ids (the
    * column-mapping ids, stamped as parquet field ids at write), so an
    * Iceberg reader of the exported metadata resolves columns BY ID with
    * no name-mapping crutch. Requires column mapping (the id space) and
    * no deletion vectors (Iceberg v2 side has no DV representation).
    */
  private def icebergCompatOn(snap: DeltaLog.Snapshot): Boolean =
    snap.configuration.get("delta.enableIcebergCompatV2")
      .exists(_.equalsIgnoreCase("true"))

  /** Reader-writer features: the spec requires these in BOTH protocol
    * lists (readers that don't understand them would mis-read the data or
    * — for vacuumProtocolCheck — skip a check the table demands).
    */
  private val readerWriterFeatures: Set[String] =
    Set("deletionVectors", "typeWidening", "v2Checkpoint",
      "vacuumProtocolCheck", "timestampNtz", "variantType",
      "variantType-preview", "columnMapping")

  /** True when the type tree contains a VARIANT anywhere — the signal that
    * the table needs the `variantType` reader-writer feature (the
    * schemaString spells `variant`, and readers without the feature would
    * mis-read the binary encoding as a plain struct).
    */
  private def containsVariant(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case s: StructType => s.fields.exists(f => containsVariant(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => containsVariant(a.elementType)
      case m: org.apache.spark.sql.types.MapType =>
        containsVariant(m.keyType) || containsVariant(m.valueType)
      case _: org.apache.spark.sql.types.VariantType => true
      case _ => false
    }

  /** The feature names a property map explicitly marks supported via
    * delta-spark's `delta.feature.<name> = supported` mechanism. Support
    * is protocol-only (the feature joins the lists; nothing is enabled —
    * for vacuumProtocolCheck the listed feature IS the whole contract).
    * Unknown features are refused: emitting a protocol this writer itself
    * couldn't honor would wedge the table.
    */
  private def featurePropSupports(props: Map[String, String]): Set[String] = {
    val named = props.collect {
      case (k, v) if k.startsWith("delta.feature.") &&
        v.equalsIgnoreCase("supported") => k.stripPrefix("delta.feature.")
    }.toSet
    val unknown = named -- supportedWriterFeatures
    require(unknown.isEmpty,
      s"delta.feature.* marks features this engine cannot support: " +
        s"${unknown.toSeq.sorted.mkString(", ")}")
    named
  }

  /** The row-id assignment base for a commit: `Some(high-water mark)` when
    * the table tracks rows (every adds-producing commit must then assign),
    * None otherwise. */
  private def rowIdBaseOf(snap: DeltaLog.Snapshot): Option[Long] =
    if (DeltaLog.rowTrackingEnabled(snap))
      Some(DeltaLog.rowIdHighWaterMark(snap))
    else None

  /** The table's materialized row-id / row-commit-version column names
    * when it tracks rows (this writer records them at create), else empty.
    */
  private def rowIdCols(snap: DeltaLog.Snapshot): Seq[String] =
    if (!DeltaLog.rowTrackingEnabled(snap)) Nil
    else Seq("delta.rowTracking.materializedRowIdColumnName",
      "delta.rowTracking.materializedRowCommitVersionColumnName").map(k =>
      snap.configuration.getOrElse(k,
        throw new IllegalStateException(s"row-tracking table lacks $k")))

  /** Rewrite-side half of STABLE row ids: read `files` with the survivors'
    * stable ids (and last-change commit versions) attached under the
    * table's materialized column names, so a rewrite carries them INTO the
    * new files — the spec's preservation mechanism. Plain read when the
    * table doesn't track rows. Returns (frame, materialized col names).
    */
  private def readForRewrite(
      spark: SparkSession,
      tablePath: String,
      snap: DeltaLog.Snapshot,
      files: Seq[DeltaLog.AddFile]): (DataFrame, Seq[String]) =
    rowIdCols(snap) match {
      case Seq(matId, matVer) =>
        (DeltaLog.readFilesWithRowIds(spark, tablePath, snap, files)
          .withColumnRenamed("_row_id", matId)
          .withColumnRenamed("_row_commit_version", matVer), Seq(matId, matVer))
      case _ => (DeltaLog.readFiles(spark, tablePath, snap, files), Nil)
    }

  /** Refuse to commit to tables whose protocol demands semantics we don't
    * implement — a commit that ignores row tracking, CDF, or a CHECK
    * constraint corrupts the table for every OTHER client, which is the
    * cardinal sin of a multi-writer log. Legacy versions (≤ 6) imply their
    * obligations via table config / schema metadata, all checked below;
    * version 7 names its features explicitly.
    */
  private def requireWritable(
      tablePath: String,
      snap: DeltaLog.Snapshot,
      op: String,
      removesData: Boolean): Unit = {
    snap.protocol.foreach { p =>
      if (p.minWriterVersion >= 7) {
        val unsupported = p.writerFeatures -- supportedWriterFeatures
        require(unsupported.isEmpty,
          s"Delta table $tablePath requires writer features not supported by " +
            s"this engine: ${unsupported.toSeq.sorted.mkString(", ")}")
      }
    }
    val conf = snap.configuration
    if (removesData)
      require(!conf.get("delta.appendOnly").exists(_.equalsIgnoreCase("true")),
        s"Delta table $tablePath is append-only (delta.appendOnly=true); " +
          s"$op would remove data")
    // CDF is supported (r8): appends and full overwrites need no cdc
    // actions by spec (readers derive from dataChange adds/removes), and
    // the partial-rewrite paths (upsert/replace/delete) emit `_change_data`
    // files — since r10 also on column-mapped tables (cdc data columns
    // spell physical names; `_change_type` keeps its literal name, as it
    // is not part of the table schema).
    val mappingMode = conf.getOrElse("delta.columnMapping.mode", "none")
    // mode 'name' is writable (files + partitionValues + stats all speak
    // physical names, which this writer emits); mode 'id' resolves columns
    // by parquet field ids, which these files do not carry — refuse
    require(mappingMode == "none" || mappingMode == "name",
      s"Delta table $tablePath uses column mapping mode '$mappingMode'; " +
        "this writer supports 'name' only")
    // CHECK constraints, column invariants, and generated columns are
    // ENFORCED per-row by [[enforceObligations]] on every write path (the
    // delta-spark/delta-rs behavior). Identity columns are honored on
    // append and overwrite ([[assignIdentity]]: generation + high-water-
    // mark metaData update in the same commit; the mark NEVER resets, per
    // spec, even when an overwrite removes every row) and are value-
    // preserving under the rewrite-only ops (delete/compact/z-order/
    // restore move existing rows byte-for-byte); the row-ADDING merge
    // paths refuse rather than risk null-filling or colliding a
    // GENERATED ALWAYS column.
    if (Set("upsert", "replace")(op)) {
      val idCols = identityFields(snap.schema).map(_.name)
      require(idCols.isEmpty,
        s"Delta table $tablePath defines identity columns on " +
          s"${idCols.mkString(", ")}; this writer honors identity on " +
          s"append/overwrite only — $op would bypass high-water-mark assignment")
    }
  }

  // ------------------------------------------------------ identity columns

  /** Fields declared `GENERATED { ALWAYS | BY DEFAULT } AS IDENTITY` — the
    * Delta protocol stores start/step (and the assignment high-water mark,
    * once any value has been generated) as field metadata.
    */
  private def identityFields(schema: StructType) =
    schema.fields.filter(_.metadata.contains("delta.identity.start"))

  /** Build an identity StructField for [[createIfAbsent]] — Delta identity
    * columns are BIGINT by protocol. `allowExplicitInsert = false` is
    * GENERATED ALWAYS (writes providing the column are refused);
    * `true` is GENERATED BY DEFAULT (explicit values accepted and the
    * high-water mark advanced past them).
    */
  def identityField(
      name: String, start: Long = 1L, step: Long = 1L,
      allowExplicitInsert: Boolean = false): StructField = {
    require(step != 0L, "identity step must be non-zero")
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("delta.identity.start", start)
      .putLong("delta.identity.step", step)
      .putBoolean("delta.identity.allowExplicitInsert", allowExplicitInsert)
      .build()
    StructField(name, org.apache.spark.sql.types.LongType, nullable = true,
      metadata = md)
  }

  // ------------------------------------------------------- column defaults

  /** Fields carrying a column DEFAULT — Delta writer feature
    * `allowColumnDefaults`: the SQL expression in the field's
    * `CURRENT_DEFAULT` metadata key (the protocol's key, shared with
    * Spark's own default-column machinery) fills the column whenever an
    * insert-shaped write does not provide it. The protocol permits
    * defaults only at CREATE or on an EXISTING column (never ADD COLUMN
    * WITH DEFAULT), so no read path ever consults them — old files always
    * physically contain the column.
    */
  private def defaultFields(schema: StructType) =
    schema.fields.filter(_.metadata.contains("CURRENT_DEFAULT"))

  private def defaultSqlOf(f: StructField): String =
    f.metadata.getString("CURRENT_DEFAULT")

  /** Build a defaulted StructField for [[createIfAbsent]] — `defaultSql`
    * must be literal-foldable (no column references): every conforming
    * writer has to reproduce the value with no row context.
    */
  def defaultField(
      name: String, dataType: org.apache.spark.sql.types.DataType,
      defaultSql: String, nullable: Boolean = true): StructField =
    StructField(name, dataType, nullable,
      new org.apache.spark.sql.types.MetadataBuilder()
        .putString("CURRENT_DEFAULT", defaultSql).build())

  /** Validate every default in `schema`: no column references (the
    * expression must evaluate without a row), no stacking on
    * generated/identity columns (each already dictates the value), and
    * analyzable + castable to the column type — proven once here so a bad
    * default fails the DDL, not some later insert.
    */
  private def validateDefaults(spark: SparkSession, schema: StructType): Unit =
    defaultFields(schema).foreach { f =>
      require(!f.metadata.contains("delta.generationExpression") &&
          !f.metadata.contains("delta.identity.start"),
        s"column ${f.name}: a DEFAULT cannot combine with a generated or " +
          "identity column — both already dictate the value")
      val sql = defaultSqlOf(f)
      val parsed = spark.sessionState.sqlParser.parseExpression(sql)
      require(!parsed.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute]),
        s"column ${f.name}: DEFAULT must be literal-foldable (no column " +
          s"references), got: $sql")
      // analyzability + cast-to-type proven against a one-row frame
      spark.range(1)
        .select(org.apache.spark.sql.functions.expr(sql).cast(f.dataType))
        .queryExecution.analyzed
      ()
    }

  /** Honor the table's identity columns on an append: columns the incoming
    * frame LACKS are generated as `hwm + step·(1..n)` in the frame's
    * partition order (one `zipWithIndex` pass — a lightweight count job,
    * no row ever reaches the driver; values are unique and step-aligned
    * past the high-water mark, which is all the protocol promises — NOT
    * gap-free across concurrent writers); columns the frame PROVIDES
    * require `allowExplicitInsert` (GENERATED BY DEFAULT) and advance the
    * high-water mark past the provided extremum (one scalar aggregate).
    * Returns the frame with every identity column populated plus, when any
    * mark moved, the schema whose field metadata records the new
    * high-water marks — committed as a metaData action in the SAME commit
    * as the data, per spec (delta-spark's `delta.identity.highWaterMark`).
    */
  private def assignIdentity(
      spark: SparkSession, snap: DeltaLog.Snapshot,
      df: DataFrame): (DataFrame, Option[StructType], () => Unit) = {
    import org.apache.spark.sql.functions.{col, max => smax, min => smin}
    val noop: () => Unit = () => ()
    val idFields = identityFields(snap.schema)
    if (idFields.isEmpty) return (df, None, noop)
    val present = df.columns.map(_.toLowerCase).toSet
    def start(f: StructField) = f.metadata.getLong("delta.identity.start")
    def step(f: StructField) = f.metadata.getLong("delta.identity.step")
    def hwm(f: StructField): Option[Long] =
      if (f.metadata.contains("delta.identity.highWaterMark"))
        Some(f.metadata.getLong("delta.identity.highWaterMark"))
      else None
    val (explicit, missing) =
      idFields.partition(f => present(f.name.toLowerCase))
    explicit.foreach { f =>
      require(f.metadata.contains("delta.identity.allowExplicitInsert") &&
          f.metadata.getBoolean("delta.identity.allowExplicitInsert"),
        s"identity column ${f.name} is GENERATED ALWAYS; explicit values " +
          "are not allowed (declare it GENERATED BY DEFAULT to permit them)")
    }
    var cleanup = noop
    // When the frame SUPPLIES explicit identity values, the extremum
    // aggregate below and the later data write are two evaluations of the
    // same frame — for a nondeterministic source (sample, rand filter) the
    // written values could exceed the recorded mark. Persist first so both
    // observe the same rows (the same hazard the generated path guards
    // against with its RDD-level persist).
    val stable =
      if (explicit.nonEmpty) {
        val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cleanup = () => { p.unpersist(blocking = false); () }
        p
      } else df
    var out = stable
    val newMarks = scala.collection.mutable.Map.empty[String, Long]
    if (missing.nonEmpty) {
      // zipWithIndex by hand: the per-partition counting job (bounded
      // collect: one long per partition) also yields the total, so the
      // new high-water mark needs no extra pass; position i in the
      // frame's partition order gets hwm + step·(i+1)
      val n = missing.length
      val bases = missing.map(f => hwm(f).getOrElse(start(f) - step(f)))
      val steps = missing.map(step)
      val schema = StructType(out.schema.fields ++
        missing.map(f => StructField(f.name, org.apache.spark.sql.types.LongType)))
      // persist the source: the counting job and the later write job must
      // see the SAME rows in the same partitions — re-evaluating a
      // nondeterministic frame (sample, rand-filter, changed source)
      // between the two would durably write colliding or gapped values.
      // The caller unpersists after its commit. (When `stable` is already
      // DataFrame-persisted for the explicit path, its rdd reads the same
      // cached blocks — no second copy.)
      val src =
        if (explicit.nonEmpty) stable.rdd
        else {
          val r = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val prev = cleanup
          cleanup = () => { r.unpersist(blocking = false); prev() }
          r
        }
      val counts = src.mapPartitionsWithIndex { case (pid, it) =>
        Iterator((pid, it.size.toLong))
      }.collect().sortBy(_._1).map(_._2)
      val offsets = counts.scanLeft(0L)(_ + _)
      val total = offsets.last
      val rows = src.mapPartitionsWithIndex { case (pid, it) =>
        var i = offsets(pid)
        it.map { r =>
          i += 1
          org.apache.spark.sql.Row.fromSeq(r.toSeq ++
            (0 until n).map(j => bases(j) + steps(j) * i))
        }
      }
      out = spark.createDataFrame(rows, schema)
      missing.indices.foreach { j =>
        if (total > 0) newMarks(missing(j).name) = bases(j) + steps(j) * total
      }
    }
    if (explicit.nonEmpty) {
      val aggs = explicit.map { f =>
        val c = col(f.name).cast("long")
        (if (step(f) > 0) smax(c) else smin(c)).as(f.name)
      }
      val r = stable.agg(aggs.head, aggs.tail: _*).head()
      explicit.zipWithIndex.foreach { case (f, j) =>
        if (!r.isNullAt(j)) {
          val ext = r.getLong(j)
          val cur = hwm(f)
          val moved =
            if (step(f) > 0) cur.forall(ext > _) else cur.forall(ext < _)
          if (moved) newMarks(f.name) = ext
        }
      }
    }
    if (newMarks.isEmpty) (out, None, cleanup)
    else {
      val updated = StructType(snap.schema.fields.map { f =>
        newMarks.get(f.name) match {
          case Some(m) => f.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putLong("delta.identity.highWaterMark", m).build())
          case None => f
        }
      })
      (out, Some(updated), cleanup)
    }
  }

  // ------------------------------------------------- change data feed (write)

  private def cdfEnabled(snap: DeltaLog.Snapshot): Boolean =
    snap.configuration.get("delta.enableChangeDataFeed")
      .exists(_.equalsIgnoreCase("true"))

  /** Whether the snapshot's config enables in-commit timestamps — the
    * enablement bit config-less commits thread to [[commit]].
    */
  private def ictOn(snap: DeltaLog.Snapshot): Boolean =
    snap.configuration.get("delta.enableInCommitTimestamps")
      .exists(_.equalsIgnoreCase("true"))

  /** Write one commit's change rows (`table columns + _change_type`) as
    * `_change_data/` parquet and return the cdc descriptors for the commit.
    * Partitioned like the table so cdc readers prune the same way; no
    * stats (nothing data-skips cdc files). On column-mapped tables the
    * data columns are rewritten to their physical names (same translation
    * as the table's own files); `_change_type` is not a table column and
    * keeps its literal name, which is what the read bridge's pass-through
    * rename expects.
    */
  private def writeChangeData(
      spark: SparkSession, table: Path, snap: DeltaLog.Snapshot,
      changes: DataFrame): Seq[AddDescriptor] = {
    val (phys, physParts) = toPhysical(changes, snap.schema,
      snap.partitionColumns, snap.columnMappingMode,
      passthrough = Seq("_change_type"), fieldIds = icebergCompatOn(snap))
    writeDataFiles(spark, table, phys, physParts,
      subdir = "_change_data", withStats = false)
  }

  // ------------------------------------ write-time obligation enforcement

  /** The Delta protocol stores a column invariant as field metadata
    * `delta.invariants` = `{"expression": {"expression": "<sql>"}}`. */
  private def invariantSql(raw: String): String = {
    val node = new ObjectMapper().readTree(raw)
    val e = node.path("expression").path("expression")
    require(e.isTextual, s"unparseable delta.invariants payload: $raw")
    e.asText()
  }

  /** Enforce the table's row-level write obligations on the rows being
    * written — parity with delta-spark/delta-rs instead of refusing the
    * table:
    *   - **generated columns** (`delta.generationExpression` field
    *     metadata): computed when the incoming frame lacks the column,
    *     verified value-for-value (null-safe) when it provides one;
    *   - **CHECK constraints** (`delta.constraints.*` table properties):
    *     violated when the expression is FALSE (NULL passes, per spec);
    *   - **legacy column invariants** (`delta.invariants` field metadata).
    *
    * Each obligation compiles to an inline `assert_true` filter over the
    * outgoing scan — no extra pass over the data, not prunable by the
    * optimizer, and a violating row aborts the write job BEFORE any commit
    * is attempted (files already spilled stay uncommitted: invisible to
    * every reader, reclaimed by vacuum — exactly a failed transaction).
    *
    * `schemaObligations = false` skips the field-metadata obligations for
    * schema-replacing overwrites, where the old fields (and their
    * generation/invariant metadata) do not survive the commit; CHECK
    * constraints are table-level configuration and always apply.
    */
  private def enforceObligations(
      snap: DeltaLog.Snapshot, df: DataFrame,
      schemaObligations: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.{assert_true, coalesce, col, expr, lit}
    var out = df
    def check(cond: org.apache.spark.sql.Column, msg: String): Unit =
      out = out.filter(assert_true(cond, lit(msg)).isNull)
    if (schemaObligations) {
      val present = df.schema.fieldNames.map(_.toLowerCase).toSet
      // column DEFAULTs first: a generated column or invariant may read
      // the defaulted column, so it must exist before those evaluate.
      // Explicit values always win (the column being present skips the
      // fill); rewrite paths read the full schema, so this is insert-only.
      for (f <- defaultFields(snap.schema) if !present.contains(f.name.toLowerCase))
        out = out.withColumn(f.name, expr(defaultSqlOf(f)).cast(f.dataType))
      for (f <- snap.schema.fields if f.metadata.contains("delta.generationExpression")) {
        val genSql = f.metadata.getString("delta.generationExpression")
        if (!present.contains(f.name.toLowerCase))
          out = out.withColumn(f.name, expr(genSql).cast(f.dataType))
        else
          check(col(f.name) <=> expr(genSql).cast(f.dataType),
            s"generated column ${f.name} does not match its expression $genSql")
      }
      for (f <- snap.schema.fields if f.metadata.contains("delta.invariants")) {
        val sql = invariantSql(f.metadata.getString("delta.invariants"))
        check(coalesce(expr(sql).cast("boolean"), lit(true)),
          s"column invariant on ${f.name} violated: $sql")
      }
    }
    for ((key, sql) <- snap.configuration.toSeq
        .filter(_._1.startsWith("delta.constraints.")).sortBy(_._1))
      check(coalesce(expr(sql).cast("boolean"), lit(true)),
        s"CHECK constraint ${key.stripPrefix("delta.constraints.")} violated: $sql")
    out
  }

  // ---------------------------------------------------- column mapping (write)

  /** Assign column-mapping metadata — a unique `delta.columnMapping.id`
    * and a `delta.columnMapping.physicalName` (`col-<uuid>`) — to every
    * field at every nesting depth, numbering from `fromId` (exclusive).
    * Pre-existing id/physicalName metadata is replaced; other field
    * metadata is kept. Returns the mapped schema and the new max id.
    */
  private def assignMapping(schema: StructType, fromId: Long): (StructType, Long) = {
    import org.apache.spark.sql.types.{ArrayType, MapType, MetadataBuilder, StructField}
    var next = fromId
    def mapField(f: StructField): StructField = {
      val dt = f.dataType match {
        case st: StructType => StructType(st.fields.map(mapField))
        case ArrayType(st: StructType, n) => ArrayType(StructType(st.fields.map(mapField)), n)
        case MapType(k, st: StructType, n) => MapType(k, StructType(st.fields.map(mapField)), n)
        case other => other
      }
      next += 1
      val md = new MetadataBuilder().withMetadata(f.metadata)
        .putLong("delta.columnMapping.id", next)
        .putString("delta.columnMapping.physicalName", s"col-${java.util.UUID.randomUUID()}")
        .build()
      f.copy(dataType = dt, metadata = md)
    }
    (StructType(schema.fields.map(mapField)), next)
  }

  private def maxColumnId(snap: DeltaLog.Snapshot): Long =
    snap.configuration.get("delta.columnMapping.maxColumnId")
      .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(0L)

  /** Rewrite `df` (logical names) to the physical names `schema`'s
    * column-mapping metadata records, at every nesting depth (nested
    * renames ride a cast, which renames struct fields positionally), and
    * translate the partition columns. Identity when `mode` is none.
    * Fields absent from `df` are skipped (schema-overwrite data needn't
    * carry the old partition columns).
    */
  private def toPhysical(
      df: DataFrame,
      schema: StructType,
      partCols: Seq[String],
      mode: String,
      passthrough: Seq[String] = Nil,
      fieldIds: Boolean = false): (DataFrame, Seq[String]) = {
    if (mode == "none") return (df, partCols)
    import org.apache.spark.sql.functions.col
    val present = df.columns.toSet
    // icebergCompatV2: stamp each mapping id as the parquet field id at
    // EVERY nesting depth (Spark's parquet writer emits ids from this
    // metadata key on nested struct fields too), so Iceberg readers
    // resolve nested columns by id with no name mapping
    def stampIds(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
      dt match {
        case st: StructType => StructType(st.fields.map { f =>
          val meta =
            if (f.metadata.contains("delta.columnMapping.id"))
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putLong("parquet.field.id",
                  f.metadata.getLong("delta.columnMapping.id")).build()
            else f.metadata
          f.copy(dataType = stampIds(f.dataType), metadata = meta)
        })
        case org.apache.spark.sql.types.ArrayType(et, n) =>
          org.apache.spark.sql.types.ArrayType(stampIds(et), n)
        case org.apache.spark.sql.types.MapType(k, v, n) =>
          org.apache.spark.sql.types.MapType(stampIds(k), stampIds(v), n)
        case other => other
      }
    val cols = schema.fields.toIndexedSeq.filter(f => present(f.name)).map { f =>
      val physType = DeltaLog.physicalDataType(f.dataType)
      val cast = col(f.name).cast(
        if (fieldIds) stampIds(physType) else physType)
      if (fieldIds && f.metadata.contains("delta.columnMapping.id"))
        cast.as(DeltaLog.physicalFieldName(f),
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id",
              f.metadata.getLong("delta.columnMapping.id")).build())
      else cast.as(DeltaLog.physicalFieldName(f))
    } ++ passthrough.map(col) // non-schema columns (cdc `_change_type`) verbatim
    val byName = schema.fields.map(f => f.name -> f).toMap
    (df.select(cols: _*), partCols.map(c => DeltaLog.physicalFieldName(byName(c))))
  }

  // ---------------------------------------------------- write-mode helpers

  /** Schema evolution (mergeSchema): `newCols` appended to `base` as
    * nullable columns; on mapped tables they get fresh ids + physical
    * names continuing the table's id space. Returns the merged schema and
    * the configuration to commit with it. A VARIANT column needs the
    * variantType reader-writer feature named BEFORE the evolved metaData
    * exists (create with a variant column, or
    * delta.feature.variantType=supported), rather than emitting a schema
    * foreign readers would mis-read, and cannot enter a UniForm table.
    */
  private def evolveSchema(
      tablePath: String,
      snap: DeltaLog.Snapshot,
      base: StructType,
      newCols: Seq[StructField]): (StructType, Map[String, String]) = {
    if (newCols.exists(f => containsVariant(f.dataType))) {
      require(snap.protocol.exists(p =>
          p.minWriterVersion >= 7 && p.writerFeatures.contains("variantType")),
        s"cannot add a VARIANT column to $tablePath by schema evolution: the " +
          "protocol does not name the variantType feature; set " +
          "delta.feature.variantType=supported first")
      require(!uniformIceberg(snap.configuration),
        s"cannot add a VARIANT column to UniForm table $tablePath: Iceberg " +
          "v2 has no variant representation, so the auto-sync would wedge")
    }
    val added = StructType(newCols.map(_.copy(nullable = true)))
    if (snap.columnMappingMode == "none")
      (StructType(base.fields ++ added.fields), snap.configuration)
    else {
      val (mapped, maxId) = assignMapping(added, maxColumnId(snap))
      (StructType(base.fields ++ mapped.fields),
        snap.configuration + ("delta.columnMapping.maxColumnId" -> maxId.toString))
    }
  }

  /** Cast input to the table schema (reference delta/src/lib.rs:331-362):
    * matching columns cast to the declared type; absent nullable columns
    * become nulls; absent non-nullable columns are an error; extras dropped.
    */
  def castToSchema(df: DataFrame, schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val cols = schema.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else if (f.nullable) lit(null).cast(f.dataType).as(f.name)
      else throw new IllegalArgumentException(
        s"Input is missing non-nullable column '${f.name}' required by table schema")
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Merge-key equality (reference delta/src/lib.rs:249-286): null-safe for
    * scalars; for list keys, order-insensitive set equality with explicit
    * empty/null handling (array_except both ways).
    */
  def keyEquals(a: Column, b: Column, dt: org.apache.spark.sql.types.DataType): Column =
    dt match {
      case _: org.apache.spark.sql.types.ArrayType =>
        import org.apache.spark.sql.functions.{array_except, size}
        (a.isNull && b.isNull) ||
          (a.isNotNull && b.isNotNull &&
            size(array_except(a, b)) === 0 && size(array_except(b, a)) === 0)
      case _ => a <=> b
    }

  /** A key value in the form [[keyEquals]] compares: a list key as its
    * sorted distinct elements, a scalar as itself. Two values are
    * `keyEquals` iff their normal forms are `<=>`.
    */
  private def normalKey(c: Column, dt: org.apache.spark.sql.types.DataType): Column = dt match {
    case _: org.apache.spark.sql.types.ArrayType =>
      import org.apache.spark.sql.functions.{array_distinct, array_sort}
      array_sort(array_distinct(c))
    case _ => c
  }

  /** Can a key of `dt` be matched through [[keySetContains]] with exactly
    * [[keyEquals]]'s result? The set compares normal forms with Spark's
    * interpreted ordering, which is `<=>` for atomic values (nulls equal,
    * -0.0 = 0.0, NaN = NaN). A list key qualifies when its elements are
    * atomic and not floating point: `array_sort` leaves -0.0 and 0.0 in
    * either order, so two set-equal lists of doubles need not normalize to
    * one form. Those keys, and struct or map keys, keep the join.
    */
  private def keySetExact(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def atomic(t: DataType) = t match {
      case _: NumericType | _: StringType | BinaryType | BooleanType | DateType |
          TimestampType | TimestampNTZType => true
      case _ => false
    }
    dt match {
      case ArrayType(DoubleType | FloatType, _) => false
      case ArrayType(e, _) => atomic(e)
      case t => atomic(t)
    }
  }

  /** One Catalyst `InSet` over `normal` (a struct of normal-form keys) and
    * the set of its values in `keys`: the set is built once on the driver
    * and travels with the plan, so matching needs neither a join nor a
    * broadcast job. Its values are structs, which `InSet` compares by
    * ordering, never by `equals`; a struct is never null, so the result is
    * never null either.
    */
  private def keySetContains(normal: Column, dt: StructType,
      keys: Seq[org.apache.spark.sql.Row]): Column = {
    val toCatalyst =
      org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(dt)
    org.apache.spark.sql.GraftShims.column(
      org.apache.spark.sql.catalyst.expressions.InSet(
        org.apache.spark.sql.GraftShims.expression(normal), keys.map(toCatalyst).toSet))
  }

  /** Is `df` small by the optimizer's size estimate (at most 32 MiB) and
    * is that estimate reliable? Decides both the broadcast hint
    * ([[broadcastIfSmall]]) and whether [[upsert]] matches its keys
    * through one driver-built set, so there is one threshold.
    *
    * r18: decided from the OPTIMIZER'S size estimate, not a counting job —
    * the old `limit(100001).count()` launched a Spark job (and recomputed
    * the incoming frame, which may itself be expensive) on every
    * upsert/delete just to pick a join strategy. A wrong estimate only
    * changes the plan, never the result — the estimate is a fast path,
    * not a correctness gate.
    *
    * r19 (r18 verdict/advice): the estimate counts ONLY when it cannot be
    * a fan-out underestimate. Size-only estimation passes `Generate`
    * (explode) through at the child's size and a join's output can dwarf
    * its inputs, so a plan containing either can report 32 MB for a frame
    * that is really unbounded — and an explicit `broadcast()` bypasses
    * `autoBroadcastJoinThreshold` AND AQE's runtime size checks (driver
    * OOM or the hard 8 GB broadcast cap at 100 TB). Filters, projections,
    * aggregates and limits only ever shrink the TRUE size below their
    * input's, and leaves without real statistics surface the conf default
    * (huge), failing the threshold on their own.
    */
  private[destinations] def smallByEstimate(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan}
    def estimateReliable(p: LogicalPlan): Boolean = p match {
      case _: Generate | _: Join => false
      case other => other.children.forall(estimateReliable)
    }
    val plan = df.queryExecution.optimizedPlan
    plan.stats.sizeInBytes <= BigInt(32L << 20) && estimateReliable(plan)
  }

  /** Broadcast the key set when [[smallByEstimate]] holds, for a map-side
    * semi/anti join — the common case (incremental upserts are small vs
    * the table). When the hint is withheld, AQE still promotes the
    * runtime-small side to a broadcast join from actual shuffle sizes — we
    * lose only the pre-runtime shortcut, never safety. DeltaWriteSpec pins
    * that a Generate-bearing frame is never hinted.
    */
  private[destinations] def broadcastIfSmall(df: DataFrame): DataFrame =
    if (smallByEstimate(df)) org.apache.spark.sql.functions.broadcast(df) else df

  // ------------------------------------------------------------- write API

  /** Create an empty Delta table at `tablePath` (version 0: protocol +
    * metaData, no data) unless one already exists. Returns true if created.
    *
    * `columnMapping = true` creates the table in column-mapping mode
    * `name` (delta-spark's `delta.columnMapping.mode=name`): every field
    * gets an id + physical name, data files and partition dirs use the
    * physical names, and the v0 protocol is reader 2 / writer 5 — the
    * legacy versions that imply the feature. Renaming/dropping logical
    * columns then never has to touch data files.
    */
  def createIfAbsent(
      spark: SparkSession,
      tablePath: String,
      schema: StructType,
      partitionBy: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty,
      columnMapping: Boolean = false): Boolean = {
    if (DeltaLog.isDeltaTable(spark, tablePath)) return false
    require(!fs(spark, new Path(tablePath)).exists(new Path(tablePath, "_log")),
      DeltaLog.legacyManagedMessage(tablePath))
    require(schema.nonEmpty, s"Creating a Delta table at $tablePath requires a declared schema")
    partitionBy.foreach(pc => require(schema.fieldNames.contains(pc),
      s"partition column $pc not in schema"))
    // a declared delta.columnMapping.mode=name property is the
    // config-surface way to ask for a mapped table
    val wantMapping = columnMapping ||
      properties.get("delta.columnMapping.mode").contains("name")
    identityFields(schema).foreach { f =>
      require(f.dataType == org.apache.spark.sql.types.LongType,
        s"identity column ${f.name} must be BIGINT (Delta protocol)")
      require(f.metadata.getLong("delta.identity.step") != 0L,
        s"identity column ${f.name} has step 0")
    }
    // column DEFAULTs have no legacy writer version — they force a
    // feature-listed v7 protocol naming allowColumnDefaults (writer-only)
    validateDefaults(spark, schema)
    val hasDefaults = defaultFields(schema).nonEmpty
    // legacy writer floors: CHECK constraints need >= 3, generated
    // columns and change data feed >= 4, identity columns >= 6; column
    // mapping implies (2, 5)
    val hasGenerated =
      schema.fields.exists(_.metadata.contains("delta.generationExpression"))
    val legacyWriter = Seq(2,
      if (properties.keys.exists(_.startsWith("delta.constraints."))) 3 else 2,
      if (hasGenerated || properties.get("delta.enableChangeDataFeed")
        .exists(_.equalsIgnoreCase("true"))) 4 else 2,
      if (identityFields(schema).nonEmpty) 6 else 2).max
    val checkProto =
      if (legacyWriter > 2) Some(DeltaLog.Protocol(1, legacyWriter)) else None
    val (outSchema, outProps, proto0) =
      if (!wantMapping) (schema, properties, checkProto)
      else {
        val (mapped, maxId) = assignMapping(schema, 0L)
        (mapped,
          properties ++ Map(
            "delta.columnMapping.mode" -> "name",
            "delta.columnMapping.maxColumnId" -> maxId.toString),
          // the mapping floor (2, 5) must not DISCARD a higher legacy
          // writer floor (identity needs 6): a mapped identity table at
          // writer 5 would let conforming foreign writers append without
          // honoring the high-water mark
          Some(DeltaLog.Protocol(2, math.max(5, legacyWriter))))
      }
    // in-commit timestamps and the v2 checkpoint policy have no legacy
    // writer version — they force a feature-listed v7 protocol, which must
    // then name EVERY feature the table relies on (v7 implies nothing).
    // v2Checkpoint is ALSO a reader feature: minReaderVersion 3 naming it
    // (and every other reader-relevant feature) explicitly.
    val wantIct = properties.get("delta.enableInCommitTimestamps")
      .exists(_.equalsIgnoreCase("true"))
    val wantV2Cp = properties.get("delta.checkpointPolicy").contains("v2")
    val wantRowTracking = properties.get("delta.enableRowTracking")
      .exists(_.equalsIgnoreCase("true"))
    val wantWiden = properties.get("delta.enableTypeWidening")
      .exists(_.equalsIgnoreCase("true"))
    val wantDv = properties.get("delta.enableDeletionVectors")
      .exists(_.equalsIgnoreCase("true"))
    // delta-spark's explicit support mechanism: `delta.feature.<name> =
    // supported` adds <name> to the protocol WITHOUT enabling it (support
    // ≠ enablement — e.g. vacuumProtocolCheck has no config switch at all,
    // the feature IS the contract). The keys are protocol directives, not
    // table properties: stripped from the persisted metadata below.
    val wantIcebergCompat = properties.get("delta.enableIcebergCompatV2")
      .exists(_.equalsIgnoreCase("true"))
    if (wantIcebergCompat) {
      require(wantMapping,
        "delta.enableIcebergCompatV2 requires column mapping " +
          "(delta.columnMapping.mode=name): the mapping ids ARE the Iceberg " +
          "field ids")
      require(!wantDv,
        "delta.enableIcebergCompatV2 cannot combine with deletion vectors: " +
          "Iceberg v2 metadata has no representation for DV-masked rows")
    }
    val featSupports = featurePropSupports(properties) ++
      // a VARIANT column anywhere in the schema demands the stable
      // variantType reader-writer feature — it rides the same plumbing
      (if (containsVariant(schema)) Set("variantType") else Set.empty[String]) ++
      (if (wantIcebergCompat) Set("icebergCompatV2") else Set.empty[String])
    val proto =
      if (!wantIct && !wantV2Cp && !wantRowTracking && !wantWiden && !wantDv &&
          featSupports.isEmpty && !hasDefaults)
        proto0
      else {
        val feats = Set("invariants") ++
          (if (hasDefaults) Set("allowColumnDefaults") else Set.empty[String]) ++
          (if (wantIct) Set("inCommitTimestamp") else Set.empty[String]) ++
          (if (wantV2Cp) Set("v2Checkpoint") else Set.empty[String]) ++
          (if (wantWiden) Set("typeWidening") else Set.empty[String]) ++
          (if (wantRowTracking) Set("rowTracking", "domainMetadata")
          else Set.empty[String]) ++
          (if (properties.keys.exists(_.startsWith("delta.constraints.")))
            Set("checkConstraints") else Set.empty[String]) ++
          (if (properties.get("delta.enableChangeDataFeed")
            .exists(_.equalsIgnoreCase("true"))) Set("changeDataFeed")
          else Set.empty[String]) ++
          (if (hasGenerated) Set("generatedColumns") else Set.empty[String]) ++
          (if (identityFields(schema).nonEmpty) Set("identityColumns")
          else Set.empty[String]) ++
          (if (wantMapping) Set("columnMapping") else Set.empty[String]) ++
          (if (properties.get("delta.appendOnly").exists(_.equalsIgnoreCase("true")))
            Set("appendOnly") else Set.empty[String]) ++
          // deletionVectors is a reader-writer feature: the spec requires it
          // in BOTH lists, so non-DV-aware writers are blocked too
          (if (wantDv) Set("deletionVectors") else Set.empty[String]) ++
          featSupports
        // typeWidening is ALSO a reader feature (old files carry the
        // narrow type; readers must know to up-cast) — and a reader-3
        // protocol must name EVERY reader-relevant feature, so DVs join
        // the list when the table enables them
        val readerFeatSupports = featSupports intersect readerWriterFeatures
        val readerV =
          if (wantV2Cp || wantWiden || wantDv || readerFeatSupports.nonEmpty) 3
          else if (wantMapping) 2 else 1
        val readerFeats =
          if (readerV < 3) Set.empty[String]
          else (if (wantV2Cp) Set("v2Checkpoint") else Set.empty[String]) ++
            (if (wantWiden) Set("typeWidening") else Set.empty[String]) ++
            (if (wantMapping) Set("columnMapping") else Set.empty[String]) ++
            (if (wantDv) Set("deletionVectors") else Set.empty[String]) ++
            readerFeatSupports
        Some(DeltaLog.Protocol(readerV, 7,
          readerFeatures = readerFeats, writerFeatures = feats))
      }
    // row tracking reserves the materialized column names rewrites will
    // preserve stable ids under (per spec, recorded in the table config)
    val finalProps0 =
      if (!wantRowTracking) outProps
      else outProps ++ Map(
        "delta.rowTracking.materializedRowIdColumnName" ->
          s"_row-id-col-${java.util.UUID.randomUUID()}",
        "delta.rowTracking.materializedRowCommitVersionColumnName" ->
          s"_row-commit-version-col-${java.util.UUID.randomUUID()}")
    // delta.feature.* keys are commit-time protocol directives, never
    // persisted table properties (delta-spark strips them the same way)
    val finalProps = finalProps0.filterNot(_._1.startsWith("delta.feature."))
    // UniForm (delta.universalFormat.enabledFormats=iceberg): validate at
    // the DDL, then write the FIRST Iceberg metadata eagerly — after this,
    // every commit auto-refreshes it (maybeUniformSync)
    if (uniformIceberg(finalProps))
      require(!containsVariant(outSchema),
        "delta.universalFormat.enabledFormats=iceberg cannot combine with " +
          "VARIANT columns: Iceberg v2 has no variant representation")
    commit(spark, new Path(tablePath), 0L, "CREATE TABLE",
      withMeta = Some((outSchema, partitionBy)), adds = Nil, removes = Nil,
      metaConfig = finalProps, protocolUpgrade = proto)
    if (uniformIceberg(finalProps)) IcebergExport.export(spark, tablePath): Unit
    true
  }

  /** Append `df` (cast to the table schema) as a new commit. Blind appends
    * never conflict logically, so a lost commit race is retried against the
    * re-read latest version.
    *
    * `mergeSchema` widens the table on the fly (delta-spark's
    * mergeSchema=true): top-level columns in `df` that the table lacks are
    * appended (nullable) and a new metaData action records the merged
    * schema. Old files simply lack the column — parquet scans null-fill
    * it, and their stats answer "unknown" for it, so nothing is rewritten.
    * Existing columns keep their table type; partition columns cannot be
    * added this way.
    */
  def append(
      spark: SparkSession,
      tablePath: String,
      df: DataFrame,
      mergeSchema: Boolean = false,
      txn: Option[(String, Long)] = None): Long =
    appendAttempt(spark, tablePath, df, mergeSchema, identityRestarts = 5,
      txn = txn)

  private def appendAttempt(
      spark: SparkSession,
      tablePath: String,
      df: DataFrame,
      mergeSchema: Boolean,
      identityRestarts: Int,
      txn: Option[(String, Long)] = None): Long = {
    // append never reads the file list — metadata-only snapshot, bounded
    // driver memory regardless of table size
    val snap = DeltaLog.lazySnapshot(spark, tablePath).meta
    requireWritable(tablePath, snap, "append", removesData = false)
    val mode = snap.columnMappingMode
    // identity generation / high-water-mark advance rides THIS commit's
    // metaData action (identitySchema, merged with any schema evolution)
    val (dfWithIds, identitySchema, identityCleanup) = assignIdentity(spark, snap, df)
    try {
    val baseSchema = identitySchema.getOrElse(snap.schema)
    val existing = snap.schema.fieldNames.map(_.toLowerCase).toSet
    val newCols = dfWithIds.schema.fields.filter(f => !existing.contains(f.name.toLowerCase))
    // the protocol forbids ADDING a column with a default: old files were
    // written without it, and nothing backfills them — defaults attach at
    // CREATE or via setDefault on an existing column only
    require(!newCols.exists(_.metadata.contains("CURRENT_DEFAULT")),
      "cannot add a column carrying a DEFAULT via mergeSchema (Delta " +
        "protocol: defaults attach at create, or via setDefault on an " +
        "existing column)")
    val (schema0, meta0, metaCfg) =
      if (!mergeSchema || newCols.isEmpty) (baseSchema, None, snap.configuration)
      else {
        val (merged, cfg) = evolveSchema(tablePath, snap, baseSchema, newCols.toSeq)
        (merged, Some((merged, snap.partitionColumns)), cfg)
      }
    // type widening (delta.enableTypeWidening): existing columns whose
    // INCOMING type is strictly wider re-type the column instead of
    // down-casting the batch — metaData re-emit, zero file rewrite (old
    // files up-cast at scan). The protocol feature must already be named
    // (create / setProperties add it with the property) so foreign readers
    // see the reader requirement before any widened metaData exists.
    val widened: Seq[(String, org.apache.spark.sql.types.DataType)] =
      if (!mergeSchema || !snap.configuration.get("delta.enableTypeWidening")
          .exists(_.equalsIgnoreCase("true"))) Nil
      else schema0.fields.toSeq.flatMap { f =>
        dfWithIds.schema.fields
          .find(_.name.equalsIgnoreCase(f.name)).map(_.dataType)
          .filter(in => TypeWidening.allowed(f.dataType, in))
          .map(in => f.name -> in)
      }
    val schema =
      if (widened.isEmpty) schema0
      else {
        snap.protocol.foreach(p => require(
          p.minWriterVersion >= 7 && p.writerFeatures.contains("typeWidening"),
          s"table config enables type widening but the protocol does not " +
            s"name the typeWidening feature: $p"))
        StructType(schema0.fields.map { f =>
          widened.find(_._1 == f.name) match {
            case Some((_, to)) => TypeWidening.widenField(f, to)
            case None => f
          }
        })
      }
    val meta =
      if (widened.nonEmpty || (meta0.isEmpty && identitySchema.isDefined))
        Some((schema, snap.partitionColumns))
      else meta0
    val data = castToSchema(enforceObligations(snap, dfWithIds), schema)
    val (phys, physParts) = toPhysical(data, schema, snap.partitionColumns, mode,
      fieldIds = icebergCompatOn(snap))
    val adds = writeDataFiles(spark, new Path(tablePath), phys, physParts)
    // identity tables must NOT rebase at the commit layer: a lost race may
    // have advanced the identity high-water mark, so the assigned values
    // (and the metaData we were about to commit) are stale — restart the
    // WHOLE append against the fresh snapshot to reassign. The restart
    // budget carries ACROSS restarts (each one re-spills the data, so an
    // uncapped loop under contention would also leak a full copy of the
    // batch per round). Everything else is a blind append: the commit
    // layer rebases it over disjoint winners ([[Concurrency]]).
    val restartOnRace = identityFields(snap.schema).nonEmpty
    try {
      val version = commit(spark, new Path(tablePath), snap.version + 1, "WRITE",
        withMeta = meta, adds = adds, removes = Nil,
        metaConfig = metaCfg, rowIdBase = rowIdBaseOf(snap),
        tableId = DeltaLog.tableId(snap), txn = txn,
        opParams = Seq("mode" -> "Append"),
        readScope =
          if (restartOnRace) None else Some(Concurrency.ReadScope.Blind))
      maybeCheckpoint(spark, tablePath, version)
      version
    } catch {
      case e: Concurrency.ConcurrentCommitException if restartOnRace =>
        if (identityRestarts == 0) throw e
        appendAttempt(spark, tablePath, df, mergeSchema,
          identityRestarts - 1, txn = txn)
    }
    } finally identityCleanup()
  }

  /** Replace the table contents with `df`: removes every live file, adds
    * the new ones. `newSchema = true` re-emits metaData from `df`'s schema
    * (schema overwrite); otherwise `df` is cast to the existing schema.
    */
  def overwrite(
      spark: SparkSession,
      tablePath: String,
      df: DataFrame,
      newSchema: Boolean = false): Long = {
    val snap = DeltaLog.snapshot(spark, tablePath)
    requireWritable(tablePath, snap, "overwrite", removesData = true)
    val mode = snap.columnMappingMode
    // identity: assignment continues past the high-water mark even though
    // every old row is removed — the mark never retreats (Delta spec); a
    // schema-REPLACING overwrite would silently discard the identity
    // fields and their marks, so it refuses on identity tables
    require(!newSchema || identityFields(snap.schema).isEmpty,
      s"Delta table $tablePath defines identity columns; a schema-replacing " +
        "overwrite would drop them and their high-water marks — overwrite " +
        "with the existing schema, or drop the identity columns first")
    val (dfWithIds, identitySchema, identityCleanup) =
      if (newSchema) (df, None, () => ()) else assignIdentity(spark, snap, df)
    try {
    // schema-replacing overwrite drops the old fields' metadata obligations
    // with the old schema; table-level CHECK constraints still apply
    val checked = enforceObligations(snap, dfWithIds, schemaObligations = !newSchema)
    val data = if (newSchema) checked else castToSchema(checked, snap.schema)
    val (outSchema, meta, metaCfg) =
      if (!newSchema)
        (identitySchema.getOrElse(snap.schema),
          identitySchema.map(s => (s, snap.partitionColumns)), snap.configuration)
      else {
        val dataSchema = data.schema
        val full = StructType(dataSchema.fields ++
          snap.schema.fields.filter(f => snap.partitionColumns.contains(f.name))
            .filterNot(f => dataSchema.fieldNames.contains(f.name)))
        if (mode == "none") (full, Some((full, snap.partitionColumns)), snap.configuration)
        else {
          // every old file is removed by this commit, so the whole schema
          // can take fresh ids — continuing the id space keeps them unique
          // against anything already written
          val (mapped, maxId) = assignMapping(full, maxColumnId(snap))
          (mapped, Some((mapped, snap.partitionColumns)),
            snap.configuration + ("delta.columnMapping.maxColumnId" -> maxId.toString))
        }
      }
    val (phys, physParts) = toPhysical(data, outSchema, snap.partitionColumns, mode,
      fieldIds = icebergCompatOn(snap))
    val adds = writeDataFiles(spark, new Path(tablePath), phys, physParts)
    val v = commit(spark, new Path(tablePath), snap.version + 1, "WRITE",
      withMeta = meta, adds = adds, removes = snap.files.map(_.path),
      metaConfig = metaCfg, rowIdBase = rowIdBaseOf(snap),
      tableId = DeltaLog.tableId(snap),
      crc = CrcPlan.Incremental(snap.files.map(_.size)),
      opParams = Seq("mode" -> "Overwrite"),
      readScope = Some(Concurrency.ReadScope.Table))
    maybeCheckpoint(spark, tablePath, v)
    v
    } finally identityCleanup()
  }

  // ------------------------------------------------------ row-level rewrites

  /** The touched files' rows as [[rewriteFiles]] hands them to an op:
    * `rows` is None when no file was touched. `rowIdCols` names the
    * materialized row-id columns `rows` carries and the op's output must
    * carry too (null where a row takes a fresh id); empty when the table
    * does not track rows.
    */
  private final case class Touched(rows: Option[DataFrame], rowIdCols: Seq[String])

  /** The one row-level rewrite step under upsert, merge (and so update),
    * replace and copy-on-write delete.
    *
    * Scale shape: `candidates` are the files the op's own predicate could
    * not rule out on add-action stats (the check runs on executors over
    * the distributed add index, so only candidates reach the driver).
    * `hits` maps the candidates' rows to the rows the op acts on, and one
    * distinct `_graft_file` collect names the files that really hold them
    * (None: every candidate is touched, as MERGE's NOT MATCHED BY SOURCE
    * must see every target row — delta-spark scans the full table then
    * too). Only those files are read again, through [[readForRewrite]]
    * (row ids ride along), removed and rewritten. The rest of the table
    * is untouched bytes and untouched log entries: a sparse rewrite of a
    * 100 TB table reads the candidate slice and rewrites the hit files.
    *
    * `output` builds the rows to write from the touched rows (table
    * columns + row-id columns; None: nothing to write, so no commit).
    * `changes` builds the CDF rows (table columns + `_change_type`) and is
    * asked only when the table has CDF on: copied-over survivors sit in
    * rewritten files, so without cdc files a reader would derive every one
    * of them as a delete + insert. The commit takes
    * [[Concurrency.ReadScope.Table]] and the incremental checksum. Returns
    * the new version, or the current one when nothing changed (no rows to
    * write, or no file, cdc or metadata action and no transaction).
    */
  private def rewriteFiles(
      spark: SparkSession,
      tablePath: String,
      snap: DeltaLog.Snapshot,
      candidates: Seq[DeltaLog.AddFile],
      hits: Option[DataFrame => DataFrame],
      output: Touched => Option[DataFrame],
      changes: Touched => Seq[DataFrame],
      operation: String,
      opParams: Seq[(String, String)] = Nil,
      withMeta: Option[(StructType, Seq[String])] = None,
      metaConfig: Map[String, String] = Map.empty,
      txn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions.col
    val table = new Path(tablePath)
    val touchedFiles: Seq[DeltaLog.AddFile] = hits match {
      case _ if candidates.isEmpty => Nil
      case None => candidates
      case Some(hit) =>
        val cand = DeltaLog.readFiles(spark, tablePath, snap, candidates, withFilePath = true)
        // `_graft_file` is percent-encoded (a space reads %20): decode it
        // as the add paths are
        val hitFiles = hit(cand).select(col("_graft_file")).distinct()
          .collect().map(r => DeltaLog.decodePath(r.getString(0))).toSet
        val f = fs(spark, table)
        candidates.filter(c => hitFiles.contains(new Path(
          f.makeQualified(new Path(table, DeltaLog.decodePath(c.path))).toString).toString))
    }
    val touched =
      if (touchedFiles.isEmpty) Touched(None, rowIdCols(snap))
      else {
        val (rows, idCols) = readForRewrite(spark, tablePath, snap, touchedFiles)
        Touched(Some(rows), idCols)
      }
    val rows = output(touched) match {
      case Some(r) => r
      case None => return snap.version
    }
    val cdcs = if (!cdfEnabled(snap)) Nil else changes(touched) match {
      case Seq() => Nil
      case cs => writeChangeData(spark, table, snap, cs.reduce(_ unionByName _))
    }
    val (phys, physParts) = toPhysical(rows, snap.schema, snap.partitionColumns,
      snap.columnMappingMode, passthrough = touched.rowIdCols,
      fieldIds = icebergCompatOn(snap))
    val adds = writeDataFiles(spark, table, phys, physParts,
      statsExclude = touched.rowIdCols.toSet)
    if (adds.isEmpty && touchedFiles.isEmpty && cdcs.isEmpty && withMeta.isEmpty && txn.isEmpty)
      return snap.version
    commit(spark, table, snap.version + 1, operation,
      withMeta = withMeta, adds = adds, removes = touchedFiles.map(_.path),
      metaConfig = metaConfig, cdcs = cdcs, ictEnabled = ictOn(snap),
      rowIdBase = rowIdBaseOf(snap),
      crc = CrcPlan.Incremental(touchedFiles.map(_.size)), txn = txn,
      opParams = opParams, readScope = Some(Concurrency.ReadScope.Table))
  }

  /** Candidate files for a keyed rewrite: one min/max/null-count
    * aggregate over `src`'s key values (one small row to the driver)
    * range-prunes every file on its add-action stats; files `keep`
    * rejects drop out too. `keys` pairs a target column with the `src`
    * column holding its values. With `keySet` (a struct column), the same
    * aggregate also collects that column's distinct values, and the
    * second result is the [[keySetContains]] predicate over them; None
    * when there are more than [[KeySetMaxKeys]].
    */
  private def filesInKeyRange(
      ls: DeltaLog.LazySnapshot,
      snap: DeltaLog.Snapshot,
      src: DataFrame,
      keys: Seq[(String, Column)],
      keep: DeltaLog.AddFile => Boolean = _ => true,
      keySet: Option[Column] = None): (Seq[DeltaLog.AddFile], Option[Column]) = {
    import org.apache.spark.sql.functions.{max, min, sum}
    val aggs = keys.zipWithIndex.flatMap { case ((_, c), i) =>
      Seq(min(c).as(s"_min_$i"), max(c).as(s"_max_$i"),
        sum(c.isNull.cast("long")).as(s"_null_$i"))
    } ++ keySet.map(BoundedCollectSet(_, KeySetMaxKeys).as("_key_set"))
    val r = src.agg(aggs.head, aggs.tail: _*).collect()(0)
    // an empty `src` reads null counts (and null ranges): no file is a candidate
    val ranges = keys.zipWithIndex.map { case ((tc, _), i) =>
      (tc, snap.schema(tc).dataType, r.get(3 * i), r.get(3 * i + 1),
        !r.isNullAt(3 * i + 2) && r.getLong(3 * i + 2) > 0L)
    }
    val files = ls.filesWhere(f => keep(f) && ranges.forall { case (tc, dt, lo, hi, hasNull) =>
      graft.sources.DeltaStats.mayContain(
        graft.sources.DeltaStats.interval(snap, f, tc), dt, lo, hi, hasNull)
    })
    val set = 3 * keys.size
    (files, keySet.filterNot(_ => r.isNullAt(set)).map(keySetContains(_,
      r.schema(set).dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType.asInstanceOf[StructType],
      r.getSeq[org.apache.spark.sql.Row](set))))
  }

  /** The most distinct keys [[upsert]] matches through a key set; more
    * keep the join. An `InSet` travels inside every task of each query
    * that holds it and is printed into the query's plan description, so
    * its cost grows with its size while the join's broadcast is paid
    * once. Measured on sf0.1 orders (a 150,000-row table, one `long` key,
    * 4 vCPU, local[4], min of 3 upserts, key set against join): 1,500 keys
    * 470/489 ms, 3,334 keys 520/521 ms, 3,948 keys 531/511 ms, 5,000
    * keys 570/505 ms, 15,000 keys 686/493 ms. The bound sits where the
    * key set is still within 5 % of the join.
    */
  private[destinations] val KeySetMaxKeys = 4000

  /** How [[upsert]] finds the table rows an incoming key matches. */
  private[destinations] sealed trait KeyMatch
  private[destinations] object KeyMatch {
    /** The key set when the distinct incoming keys are [[smallByEstimate]],
      * every key type is [[keySetExact]] and there are at most
      * [[KeySetMaxKeys]] keys; otherwise the join. */
    case object ByEstimate extends KeyMatch
    /** As [[ByEstimate]], without the size estimate. */
    case object KeySet extends KeyMatch
    /** The semi/anti join against the (broadcast-if-small) key frame. */
    case object Join extends KeyMatch
  }

  /** MERGE keyed on `keys`: existing rows whose key matches an incoming
    * row are replaced, everything else is kept (reference
    * delta/src/lib.rs:249-286; key equality is [[keyEquals]]). Duplicate
    * incoming keys are allowed: every incoming row is written once. The
    * candidates are the files in the incoming key range, the hits the
    * rows matching an incoming key ([[rewriteFiles]]).
    *
    * A small source (its distinct keys [[smallByEstimate]], at most
    * [[KeySetMaxKeys]] of them) is matched through one driver-built key
    * set: the key-range aggregate also collects the distinct normal-form
    * keys, and hit detection and the write's survivor filter test each
    * table row against them with one `InSet`. Neither step then needs a
    * broadcast job. A larger source keeps the semi/anti join.
    */
  def upsert(spark: SparkSession, tablePath: String, df: DataFrame, keys: Seq[String],
      txn: Option[(String, Long)] = None): Long =
    upsertMatching(spark, tablePath, df, keys, txn, KeyMatch.ByEstimate)

  /** [[upsert]] with its key match chosen by `keyMatch`. */
  private[destinations] def upsertMatching(spark: SparkSession, tablePath: String,
      df: DataFrame, keys: Seq[String], txn: Option[(String, Long)],
      keyMatch: KeyMatch): Long = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, lit, min, row_number, struct, when}
    require(keys.nonEmpty, s"upsert on $tablePath: requires at least one key column")
    val ls = DeltaLog.lazySnapshot(spark, tablePath)
    val snap = ls.meta
    requireWritable(tablePath, snap, "upsert", removesData = true)
    keys.foreach(k => require(snap.schema.fieldNames.contains(k),
      s"upsert on $tablePath: upsert key $k not in table"))
    val incoming = castToSchema(enforceObligations(snap, df), snap.schema).cache()
    try {
      val keyType = keys.map(k => k -> snap.schema(k).dataType).toMap
      val keyFrame = incoming.select(keys.map(col): _*).distinct()
      val viaSet = keys.forall(k => keySetExact(keyType(k))) && (keyMatch match {
        case KeyMatch.ByEstimate => smallByEstimate(keyFrame)
        case KeyMatch.KeySet => true
        case KeyMatch.Join => false
      })
      val normal = keys.map(k => normalKey(col(k), keyType(k)))
      val (candidates, inKeySet) = filesInKeyRange(ls, snap, incoming,
        keys.map(k => k -> col(k)), keySet = if (viaSet) Some(struct(normal: _*)) else None)
      def keysMatch(a: DataFrame, b: DataFrame): Column =
        keys.map(k => keyEquals(a(k), b(k), keyType(k))).reduce(_ && _)
      lazy val srcKeys = broadcastIfSmall(keyFrame)
      // the table rows whose key an incoming row carries, and the others
      def hit(rows: DataFrame) = inKeySet.fold(
        rows.join(srcKeys, keysMatch(rows, srcKeys), "left_semi"))(rows.filter)
      def miss(rows: DataFrame) = inKeySet.fold(
        rows.join(srcKeys, keysMatch(rows, srcKeys), "left_anti"))(s => rows.filter(!s))
      val cols = snap.schema.fieldNames.toIndexedSeq.map(col)
      rewriteFiles(spark, tablePath, snap,
        candidates = candidates,
        hits = Some(hit(_)),
        output = { t =>
          // row tracking: the replaced rows group by normal-form key; the
          // smallest id of a group goes to one incoming row with that key,
          // the first in table-column order (its commit version nulls to
          // this commit). The other incoming rows of the group, and
          // inserts, get fresh ids (both columns null).
          val incomingTracked = t.rowIdCols match {
            case Seq(matId, matVer) =>
              val withId = t.rows match {
                case None => incoming.withColumn(matId, lit(null).cast("long"))
                case Some(rows) =>
                  val (inK, oldK) = keys.indices.map(i => (s"_k_$i", s"_o_$i")).unzip
                  val oldIds = broadcastIfSmall(hit(rows)
                    .groupBy(normal.zip(oldK).map { case (c, o) => c.as(o) }: _*)
                    .agg(min(col(matId)).as("_old_id")))
                  val first = row_number().over(Window.partitionBy(inK.map(col): _*)
                    .orderBy(snap.schema.fields.toIndexedSeq
                      .filter(f => RowOrdering.isOrderable(f.dataType)).map(f => col(f.name)): _*))
                  incoming.withColumns(inK.zip(normal).toMap)
                    .join(oldIds, inK.zip(oldK).map { case (i, o) => col(i) <=> col(o) }
                      .reduce(_ && _), "left")
                    .withColumn(matId, when(first === 1, col("_old_id")))
                    .drop(inK ++ oldK :+ "_old_id": _*)
              }
              withId.withColumn(matVer, lit(null).cast("long"))
            case _ => incoming
          }
          val outCols = cols ++ t.rowIdCols.map(col)
          Some(t.rows.fold(incomingTracked) { rows =>
            miss(rows).select(outCols: _*).unionByName(incomingTracked.select(outCols: _*))
          })
        },
        // matched old rows are update_preimage, their incoming replacements
        // update_postimage, unmatched incoming rows insert
        changes = { t =>
          val pre = t.rows.map(hit(_).select(cols: _*))
          val (post, ins) = pre match {
            case Some(p) =>
              val oldKeys = broadcastIfSmall(p.select(keys.map(col): _*).distinct())
              val m = keysMatch(incoming, oldKeys)
              (Some(incoming.join(oldKeys, m, "left_semi").select(cols: _*)),
                incoming.join(oldKeys, m, "left_anti").select(cols: _*))
            case None => (None, incoming.select(cols: _*))
          }
          pre.map(_.withColumn("_change_type", lit("update_preimage"))).toSeq ++
            post.map(_.withColumn("_change_type", lit("update_postimage"))).toSeq :+
            ins.withColumn("_change_type", lit("insert"))
        },
        operation = "MERGE",
        opParams = Seq("matchedPredicates" ->
          keys.map(k => s"s.$k <=> t.$k").mkString(" AND ")),
        txn = txn)
    } finally incoming.unpersist()
  }

  /** One `WHEN ...` clause of a full MERGE (delta-spark's `MERGE INTO`
    * matrix). `condition`/`set`/`values` are SQL over the aliases `t`
    * (target) and `s` (source); `set`/`values` keys are target columns
    * (insert leaves unnamed columns null).
    */
  sealed trait MergeClause { def condition: Option[String] }
  object MergeClause {
    /** WHEN MATCHED [AND cond] THEN UPDATE SET ... */
    final case class Update(condition: Option[String],
        set: Map[String, String]) extends MergeClause
    /** WHEN MATCHED [AND cond] THEN DELETE */
    final case class Delete(condition: Option[String]) extends MergeClause
    /** WHEN NOT MATCHED [AND cond] THEN INSERT (...) VALUES (...) */
    final case class Insert(condition: Option[String],
        values: Map[String, String]) extends MergeClause
    /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ...
      * (conditions/sets reference `t` only — there is no source row) */
    final case class SourceUpdate(condition: Option[String],
        set: Map[String, String]) extends MergeClause
    /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE */
    final case class SourceDelete(condition: Option[String]) extends MergeClause

    /** UPDATE SET * / INSERT * over `schema`'s columns. */
    def allColumns(schema: StructType): Map[String, String] =
      schema.fieldNames.map(f => f -> s"s.`${f.replace("`", "``")}`").toMap
  }

  /** Full `MERGE INTO` (delta-spark's public matrix): `condition` joins
    * target `t` against source `s`; `matched` clauses apply to join hits
    * (FIRST match wins, evaluated in order), `notMatched` to source rows
    * with no target hit, `notMatchedBySource` to target rows with no
    * source hit. Multiple source rows matching one target row abort
    * (delta-spark's cardinality rule — the result would be
    * nondeterministic).
    *
    * The candidates are the files that equality conjuncts `t.k = s.k`
    * (key range) and target-only conjuncts (stats) cannot rule out; the
    * hits are the target rows the condition joins to a source row, or
    * every candidate row when a NOT MATCHED BY SOURCE clause exists
    * ([[rewriteFiles]]). CDF emits per-clause update_pre/postimage /
    * delete / insert rows; row ids are preserved (updates inherit, copies
    * keep, inserts mint).
    */
  def merge(
      spark: SparkSession,
      tablePath: String,
      source: DataFrame,
      condition: String,
      matched: Seq[MergeClause] = Nil,
      notMatched: Seq[MergeClause.Insert] = Nil,
      notMatchedBySource: Seq[MergeClause] = Nil,
      mergeSchema: Boolean = false,
      operation: String = "MERGE",
      // SetTransaction stamped into the commit — the exactly-once handle
      // for streaming foreachBatch MERGE (same contract as append/upsert)
      txn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions.{col, expr, lit, when}
    val where = s"${operation.toLowerCase} on $tablePath: "
    require(matched.forall(c =>
      c.isInstanceOf[MergeClause.Update] || c.isInstanceOf[MergeClause.Delete]),
      where + "matched clauses must be Update or Delete")
    require(notMatchedBySource.forall(c =>
      c.isInstanceOf[MergeClause.SourceUpdate] || c.isInstanceOf[MergeClause.SourceDelete]),
      where + "notMatchedBySource clauses must be SourceUpdate or SourceDelete")
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      where + "merge needs at least one WHEN clause")
    // delta-spark's reachability rule: a clause after an unconditioned one
    // in the same group can never apply
    Seq(matched, notMatched, notMatchedBySource).foreach { group =>
      group.dropRight(1).zipWithIndex.foreach { case (c, i) =>
        require(c.condition.isDefined, where +
          s"clause ${i + 1} of ${group.size} has no condition; later clauses are unreachable")
      }
    }
    val ls = DeltaLog.lazySnapshot(spark, tablePath)
    val snap0 = ls.meta
    requireWritable(tablePath, snap0, "merge",
      removesData = matched.nonEmpty || notMatchedBySource.nonEmpty)
    val schemaCols = snap0.schema.fieldNames.toIndexedSeq
    def q(n: String) = s"`${n.replace("`", "``")}`"
    val src = source.cache()
    try {
    // schema evolution (delta-spark autoMerge): SET/INSERT columns absent
    // from the target become new NULLABLE columns — types inferred from
    // the defining expression analyzed against the SOURCE (the expression
    // cannot reference target columns: there is no target value to read)
    val targeted: Seq[(String, String)] =
      (matched ++ notMatched ++ notMatchedBySource).flatMap {
        case MergeClause.Update(_, set) => set.toSeq
        case MergeClause.SourceUpdate(_, set) => set.toSeq
        case MergeClause.Insert(_, values) => values.toSeq
        case _ => Nil
      }
    val existingLower = schemaCols.map(_.toLowerCase).toSet
    val evolving = targeted.filterNot(kv => existingLower(kv._1.toLowerCase))
    require(evolving.isEmpty || mergeSchema, where +
      s"SET/INSERT columns not in table: ${evolving.map(_._1).distinct.mkString(", ")} " +
        "(pass mergeSchema = true to evolve the schema)")
    val newCols: Seq[StructField] = evolving.map(_._1).distinct.map { c =>
      val dt = evolving.collect { case (`c`, e) => e }.view.flatMap { e =>
        scala.util.Try(src.alias("s").selectExpr(e).schema.head.dataType).toOption
      }.headOption.getOrElse(throw new IllegalArgumentException(where +
        s"cannot infer the type of evolved column $c: its expression must " +
          "be analyzable against the source alone (reference s.* only)"))
      StructField(c, dt, nullable = true)
    }
    val (snap, withMeta, metaCfg) =
      if (newCols.isEmpty) (snap0, None, Map.empty[String, String])
      else {
        val (merged, cfg) = evolveSchema(tablePath, snap0, snap0.schema, newCols)
        (snap0.copy(schema = merged), Some((merged, snap0.partitionColumns)), cfg)
      }
      // ---- candidate files: equality conjuncts `t.k = s.k` range-prune on
      // stats exactly like upsert; a NOT MATCHED BY SOURCE clause needs
      // every target row, so pruning is off then
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
      val parsed = conjuncts(spark.sessionState.sqlParser.parseExpression(condition))
      // an `alias.column` reference as (lower-cased alias, column)
      def ref(e: Expression): Option[(String, String)] = e match {
        case u: UnresolvedAttribute if u.nameParts.length == 2 =>
          Some((u.nameParts.head.toLowerCase, u.nameParts.last))
        case _ => None
      }
      // (targetCol, sourceCol) pairs from t.k = s.k / s.k = t.k conjuncts
      val equiKeys: Seq[(String, String)] = parsed.flatMap {
        case EqualTo(a, b) => (ref(a), ref(b)) match {
          case (Some(("t", tc)), Some(("s", sc))) => Some((tc, sc))
          case (Some(("s", sc)), Some(("t", tc))) => Some((tc, sc))
          case _ => None
        }
        case _ => None
      }.filter { case (tc, _) => snap.schema.fieldNames.contains(tc) }
      // conjuncts over TARGET columns only (t.x > 5) stats-prune files
      // exactly like DELETE — the UPDATE-shaped merges live on this
      val tOnlyPred: Option[Expression] = parsed.filter { c =>
        val refs = c.collect { case a: UnresolvedAttribute => ref(a) }
        refs.nonEmpty && refs.forall(_.exists { case (alias, n) =>
          alias == "t" && snap.schema.fieldNames.exists(_.equalsIgnoreCase(n))
        })
      }.map(_.transform {
        case a: UnresolvedAttribute if ref(a).exists(_._1 == "t") =>
          UnresolvedAttribute(Seq(a.nameParts.last))
      }).reduceOption(And(_, _))
        .map(p => graft.sources.GeneratedPruning.augment(spark, snap, p))
      def tOnlyKeep(f: DeltaLog.AddFile): Boolean =
        tOnlyPred.forall(p => graft.sources.DeltaStats.mayMatch(snap, f, p))
      val candidates: Seq[DeltaLog.AddFile] =
        if (notMatchedBySource.nonEmpty) ls.filesWhere(_ => true)
        else if (equiKeys.isEmpty) ls.filesWhere(tOnlyKeep)
        else filesInKeyRange(ls, snap, src,
          equiKeys.map { case (tc, sc) => tc -> col(q(sc)) }, tOnlyKeep)._1

      // ---- first-match-wins action index over a clause group (-1 = none)
      def actionOf(group: Seq[MergeClause]): Column =
        group.zipWithIndex.foldRight(lit(-1): Column) { case ((c, i), els) =>
          when(c.condition.map(expr).getOrElse(lit(true)), lit(i)).otherwise(els)
        }
      // a clause's SET (or INSERT VALUES) map; None for the DELETE clauses
      def setOf(c: MergeClause): Option[Map[String, String]] = c match {
        case MergeClause.Update(_, set) => Some(set)
        case MergeClause.SourceUpdate(_, set) => Some(set)
        case MergeClause.Insert(_, values) => Some(values)
        case _ => None
      }
      // the group's UPDATE (or else DELETE) clause indices
      def idxs(group: Seq[MergeClause], updates: Boolean): Seq[Integer] =
        group.indices.filter(i => setOf(group(i)).isDefined == updates).map(Integer.valueOf)
      // column f under the group's action (CASE on _m_action); `base`
      // where the clause names no value for f
      def outCol(group: Seq[MergeClause], f: StructField)(
          base: Column = col(s"t.${q(f.name)}")): Column =
        group.zipWithIndex.foldRight(base) { case ((c, i), els) =>
          val v = setOf(c).flatMap(_.get(f.name)).fold(base)(s => expr(s).cast(f.dataType))
          when(col("_m_action") === i, v).otherwise(els)
        }.as(f.name)
      // a clause group applied to its acted rows: deletes dropped, sets
      // projected; row ids: updates inherit the id (ver nulls to THIS
      // commit), copies keep both
      def applied(acted: DataFrame, group: Seq[MergeClause], rowIdCols: Seq[String]) = {
        val track = rowIdCols match {
          case Seq(matId, matVer) =>
            Seq(col(s"t.${q(matId)}").as(matId),
              when(col("_m_action").isin(idxs(group, updates = true): _*),
                lit(null).cast("long"))
                .otherwise(col(s"t.${q(matVer)}")).as(matVer))
          case _ => Nil
        }
        acted.filter(!col("_m_action").isin(idxs(group, updates = false) :+ Integer.valueOf(-999): _*))
          .select(snap.schema.fields.toIndexedSeq.map(outCol(group, _)()) ++ track: _*)
      }
      // target rows tagged with the action their clause group picks:
      // matched rows join a source row, unmatched ones (copied through
      // when there is no NOT MATCHED BY SOURCE clause) have none. Without
      // a MATCHED clause a matched row only copies through, once however
      // many source rows it matches (the cardinality rule does not apply).
      def matchedActed(rows: DataFrame) =
        (if (matched.isEmpty)
          rows.alias("t").join(src.alias("s"), expr(condition), "left_semi").alias("t")
        else rows.alias("t").join(src.alias("s"), expr(condition), "inner"))
          .withColumn("_m_action", actionOf(matched))
      def unmatchedActed(rows: DataFrame) =
        rows.alias("t").join(src.alias("s"), expr(condition), "left_anti").alias("t")
          .withColumn("_m_action", actionOf(notMatchedBySource))

      // ---- not-matched (insert) side: source rows with no target hit
      def inserts(t: Touched): Option[DataFrame] =
        if (notMatched.isEmpty) None
        else Some {
          val insertBase = t.rows.fold(src.alias("s")) { rows =>
            src.alias("s").join(rows.alias("t"), expr(condition), "left_anti").alias("s")
          }
          val acted = insertBase.withColumn("_m_action",
            actionOf(notMatched)).filter(col("_m_action") =!= -1)
          // an INSERT clause that doesn't name the column takes its
          // DEFAULT when one is declared (allowColumnDefaults), NULL
          // otherwise — delta-spark's insert semantics
          val insCols = snap.schema.fields.toIndexedSeq.map(f => outCol(notMatched, f)(
            if (f.metadata.contains("CURRENT_DEFAULT")) expr(defaultSqlOf(f)).cast(f.dataType)
            else lit(null).cast(f.dataType))) ++ t.rowIdCols.map(c => lit(null).cast("long").as(c)) // fresh row ids
          acted.select(insCols: _*)
        }

      rewriteFiles(spark, tablePath, snap, candidates,
        hits =
          if (notMatchedBySource.nonEmpty) None
          else Some(_.alias("t").join(src.alias("s"), expr(condition), "left_semi")),
        output = { t =>
          if (matched.nonEmpty) t.rows.foreach { rows =>
            // cardinality rule: a target row matched by >1 source rows makes
            // update/delete nondeterministic — abort, delta-spark-style. The
            // probe groups on the target's physical row identity.
            val probe = rows.alias("t")
              .withColumn("_t_tag", org.apache.spark.sql.functions.monotonically_increasing_id())
              .join(src.alias("s"), expr(condition), "inner")
              .groupBy(col("_t_tag")).count().filter(col("count") > 1).limit(1)
            require(probe.isEmpty,
              where + "MERGE cannot update/delete a target row matched by multiple source rows")
          }
          (t.rows.toSeq.flatMap(rows => Seq(applied(matchedActed(rows), matched, t.rowIdCols),
            applied(unmatchedActed(rows), notMatchedBySource, t.rowIdCols))) ++ inserts(t))
            .reduceOption(_ unionByName _)
            .map(enforceObligations(snap, _, schemaObligations = true))
        },
        changes = { t =>
          val tCols = snap.schema.fieldNames.toIndexedSeq
          def tSel(df: DataFrame) = df.select(tCols.map(f => col(s"t.${q(f)}").as(f)): _*)
          // update_pre/postimage and delete rows of one clause group
          def groupChanges(acted: DataFrame, group: Seq[MergeClause]): Seq[DataFrame] = {
            val (updIdx, delIdx) = (idxs(group, updates = true), idxs(group, updates = false))
            val upd = acted.filter(col("_m_action").isin(updIdx: _*))
            (if (updIdx.isEmpty) Nil
            else Seq(tSel(upd).withColumn("_change_type", lit("update_preimage")),
              upd.select(snap.schema.fields.toIndexedSeq.map(outCol(group, _)()): _*)
                .withColumn("_change_type", lit("update_postimage")))) ++
              (if (delIdx.isEmpty) Nil
              else Seq(tSel(acted.filter(col("_m_action").isin(delIdx: _*)))
                .withColumn("_change_type", lit("delete"))))
          }
          t.rows.toSeq.flatMap { rows =>
            groupChanges(matchedActed(rows), matched) ++
              groupChanges(unmatchedActed(rows), notMatchedBySource)
          } ++ inserts(t).map(_.select(tCols.map(col): _*)
            .withColumn("_change_type", lit("insert")))
        },
        operation = operation,
        opParams = Seq("predicate" -> condition,
          "matchedPredicates" -> matched.size.toString,
          "notMatchedPredicates" -> notMatched.size.toString,
          "notMatchedBySourcePredicates" -> notMatchedBySource.size.toString),
        withMeta = withMeta, metaConfig = metaCfg, txn = txn)
    } finally src.unpersist()
  }

  /** `UPDATE <table> SET ... WHERE <predicate>` — delta-spark's UPDATE as
    * a self-contained composition over the MERGE machinery: a one-row
    * dummy source joins every predicate-matching target row exactly once,
    * so the rewrite, CDF update_pre/postimages, row-id inheritance and
    * Table-scope concurrency all come from one code path. The predicate
    * (and any generated-column partition derivation over it) stats-prunes
    * files before any read; only files that really hold matching rows
    * rewrite. `set` values are SQL over the target's columns (bare names).
    */
  def update(
      spark: SparkSession,
      tablePath: String,
      predicate: String,
      set: Map[String, String]): Long = {
    require(set.nonEmpty, s"update on $tablePath: UPDATE needs at least one SET column")
    val snap = DeltaLog.lazySnapshot(spark, tablePath).meta
    // qualify bare target-column references so the MERGE layer's t-only
    // conjunct pruning sees them (and the dummy source can't shadow them)
    def qualify(sql: String): String =
      spark.sessionState.sqlParser.parseExpression(sql).transform {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if a.nameParts.length == 1 && snap.schema.fieldNames
              .exists(_.equalsIgnoreCase(a.name)) =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
            Seq("t", a.nameParts.head))
      }.sql
    import spark.implicits._
    merge(spark, tablePath,
      source = Seq(1).toDF("_graft_one"),
      condition = s"_graft_one = 1 AND (${qualify(predicate)})",
      matched = Seq(MergeClause.Update(None,
        set.map { case (k, v) => k -> qualify(v) })),
      operation = "UPDATE")
  }

  /** Delete rows matching ALL `conditions` (empty ⇒ full overwrite), then
    * write `df` (reference delta/src/lib.rs:203-231, :365-375): a
    * copy-on-write delete with the null-safe predicate, plus the incoming
    * rows. Partition-column conditions match the log's `partitionValues`
    * exactly (a NULL partition never matches), other conditions
    * range-check add-action stats; those are the candidates.
    */
  def replace(
      spark: SparkSession,
      tablePath: String,
      df: DataFrame,
      conditions: Seq[graft.config.ReplaceCondition]): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    val ls = DeltaLog.lazySnapshot(spark, tablePath)
    val snap = ls.meta
    requireWritable(tablePath, snap, "replace", removesData = true)
    val incoming = castToSchema(enforceObligations(snap, df), snap.schema)
    if (conditions.isEmpty) return overwrite(spark, tablePath, incoming)
    conditions.foreach(c => require(snap.schema.fieldNames.contains(c.column),
      s"replace on $tablePath: replace column '${c.column}' not in table"))
    val pred = conditions.map { c =>
      col(c.column) <=> lit(c.value).cast(snap.schema(c.column).dataType)
    }.reduce(_ && _)
    val condList = conditions.toList
    val candidates = ls.filesWhere { f =>
      condList.forall { c =>
        if (snap.partitionColumns.contains(c.column))
          f.partitionValues.get(snap.physicalName(c.column))
            .orElse(f.partitionValues.get(c.column)) match {
            case Some(null) => false // NULL partition never <=> a value
            case Some(v) => graft.sources.DeltaStats.partitionValueMatches(v, c.value)
            case None => true // value not recorded — stay a candidate
          }
        else
          graft.sources.DeltaStats.mayContain(
            graft.sources.DeltaStats.interval(snap, f, c.column),
            snap.schema(c.column).dataType, c.value, c.value, inHasNull = false)
      }
    }
    deleteRows(spark, tablePath, snap, candidates, pred, Some(incoming), "DELETE+WRITE")
  }

  /** Copy-on-write delete over [[rewriteFiles]]: the rows of `candidates`
    * where `pred` is true leave (NULL keeps the row, per SQL DELETE) as
    * `delete` change rows, and `incoming` rows are added with fresh row
    * ids as `insert` change rows.
    */
  private def deleteRows(
      spark: SparkSession,
      tablePath: String,
      snap: DeltaLog.Snapshot,
      candidates: Seq[DeltaLog.AddFile],
      pred: Column,
      incoming: Option[DataFrame],
      operation: String,
      opParams: Seq[(String, String)] = Nil): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    val cols = snap.schema.fieldNames.toIndexedSeq.map(col)
    rewriteFiles(spark, tablePath, snap, candidates,
      hits = Some(_.filter(pred)),
      output = { t =>
        val fresh = incoming.map(in => t.rowIdCols.foldLeft(in)(
          (d, c) => d.withColumn(c, lit(null).cast("long"))))
        (t.rows.map(_.filter(coalesce(not(pred), lit(true)))).toSeq ++ fresh)
          .map(_.select(cols ++ t.rowIdCols.map(col): _*))
          .reduceOption(_ unionByName _)
      },
      changes = t =>
        t.rows.map(_.filter(pred).select(cols: _*)
          .withColumn("_change_type", lit("delete"))).toSeq ++
          incoming.map(_.select(cols: _*).withColumn("_change_type", lit("insert"))),
      operation = operation, opParams = opParams)
  }

  /** DELETE rows matching `predicate` (SQL boolean over the table's
    * columns; rows where it evaluates NULL are kept, per SQL DELETE).
    *
    * On tables that opt in (`delta.enableDeletionVectors=true`) this is
    * MERGE-ON-READ: matched rows are recorded in per-file deletion
    * vectors — roaring bitmaps built ON EXECUTORS (only the compressed
    * bytes reach the driver), stored inline in the add action when small
    * or framed into one `deletion_vector_<uuid>.bin` sidecar when not —
    * and the commit re-adds the same data files with their DV
    * descriptors. No data bytes are rewritten: a sparse delete against a
    * 100 TB table writes kilobytes. Files whose every remaining row is
    * deleted are dropped outright. The first DV commit upgrades the
    * table's protocol to reader 3 / writer 7 with the `deletionVectors`
    * feature (delta-spark's behavior); [[DeltaLog]] and DV-aware foreign
    * readers see deleted rows filtered, pre-DV readers refuse loudly
    * rather than resurrecting them.
    *
    * Without the table property the delete is COPY-ON-WRITE
    * ([[deleteRows]]) over the stats-pruned candidate files.
    * Returns the new version, or the current one when nothing matched.
    */
  def delete(spark: SparkSession, tablePath: String, predicate: String): Long = {
    import org.apache.spark.sql.functions.{col, collect_list, expr, lit}
    val ls = DeltaLog.lazySnapshot(spark, tablePath)
    val snap = ls.meta
    requireWritable(tablePath, snap, "delete", removesData = true)
    val parsed = graft.sources.GeneratedPruning.augment(spark, snap,
      spark.sessionState.sqlParser.parseExpression(predicate))
    // stats pruning on executors; only candidates reach the driver
    val candidates = ls.filesWhere(f => graft.sources.DeltaStats.mayMatch(snap, f, parsed))
    if (candidates.isEmpty) return snap.version
    val useDv = snap.configuration.get("delta.enableDeletionVectors")
      .exists(_.equalsIgnoreCase("true"))
    if (!useDv)
      return deleteRows(spark, tablePath, snap, candidates, expr(predicate), None,
        "DELETE", Seq("predicate" -> predicate))

    val table = new Path(tablePath)
    val f = fs(spark, table)
    val byAbs = candidates.map(a =>
      f.makeQualified(new Path(table, DeltaLog.decodePath(a.path))).toString -> a).toMap
    import graft.sources.DeletionVectors
    // live rows only (existing DVs already filtered): new deletions are
    // serialized per file on executors; the driver sees compressed bytes
    val scan = DeltaLog.readFiles(spark, tablePath, snap, candidates,
      withFilePath = true, withRowIndex = true)
    import spark.implicits._
    val matched = scan.filter(predicate)
      .select(col("_graft_file"), col("_graft_row_index"))
      .groupBy(col("_graft_file"))
      .agg(collect_list(col("_graft_row_index")).as("idx"))
      .as[(String, Seq[Long])]
      .map { case (file, idxs) =>
        val arr = idxs.toArray
        (file, DeletionVectors.serialize(arr), arr.distinct.length.toLong)
      }
      .collect().toSeq
    if (matched.isEmpty) return snap.version

    val touched: Seq[(DeltaLog.AddFile, Array[Byte], Long)] = matched.flatMap {
      case (file, bytes, card) =>
        byAbs.get(DeltaLog.decodePath(file)).map { a =>
          a.deletionVector match {
            case None => (a, bytes, card)
            case Some(dj) => // union with the file's existing deletions
              val old = DeletionVectors
                .readBitmap(spark, tablePath, DeletionVectors.parse(dj)).toLongArray
              val merged = DeletionVectors.serialize(
                old ++ DeletionVectors.decode(bytes).toLongArray)
              (a, merged, DeletionVectors.decode(merged).cardinality)
          }
        }
    }

    // fully-dead files (every physical row deleted) drop without a re-add
    val (dead, marked) = touched.partition { case (a, _, card) =>
      graft.sources.DeltaStats.numRecords(a).contains(card)
    }
    // small DVs inline in the add action; the rest frame into ONE .bin
    val (inline, filed) = marked.partition(_._2.length <= DeletionVectors.InlineThresholdBytes)
    val filedDescriptors: Seq[(DeltaLog.AddFile, String)] =
      if (filed.isEmpty) Nil
      else {
        val uuid = java.util.UUID.randomUUID()
        val (blob, offsets) = DeletionVectors.frameBinFile(filed.map(_._2))
        val out = LocalIo.create(f, new Path(table, s"deletion_vector_$uuid.bin"), false)
        try out.write(blob) finally out.close()
        filed.zip(offsets).map { case ((a, bytes, card), off) =>
          a -> DeletionVectors.uuidDescriptorJson(uuid, off, bytes.length, card)
        }
      }
    val descriptors = inline.map { case (a, bytes, card) =>
      a -> DeletionVectors.inlineDescriptorJson(bytes, card)
    } ++ filedDescriptors

    val adds = descriptors.map { case (a, dj) =>
      AddDescriptor(
        DeltaLog.decodePath(a.path),
        a.partitionValues.toSeq.sortBy(_._1).map { case (k, v) => k -> Option(v) },
        a.size, a.modificationTime, a.stats, Some(dj),
        // file bytes untouched: row-tracking ids ride through unchanged
        a.baseRowId, a.defaultRowCommitVersion)
    }
    // CDF: the DV commit re-adds files with descriptors, which no reader
    // can derive changes from — emit the matched rows as delete cdc
    val cdcs =
      if (!cdfEnabled(snap)) Nil
      else writeChangeData(spark, table, snap,
        scan.filter(predicate)
          .select(snap.schema.fieldNames.toIndexedSeq.map(col): _*)
          .withColumn("_change_type", lit("delete")))
    val upgrade =
      if (snap.protocol.exists(p =>
        p.minReaderVersion >= 3 && p.readerFeatures.contains("deletionVectors") &&
          p.minWriterVersion >= 7 && p.writerFeatures.contains("deletionVectors")))
        None
      else Some {
        val p = snap.protocol.getOrElse(DeltaLog.Protocol(1, 2))
        val mapped = snap.columnMappingMode != "none"
        // name only the legacy obligations the table actually carries:
        // declaring unused legacy features (CDF, generated columns, …)
        // would lock this writer out of its own table
        val legacyReader =
          if (p.minReaderVersion >= 3) p.readerFeatures
          else if (mapped) Set("columnMapping")
          else Set.empty[String]
        val legacyWriter =
          if (p.minWriterVersion >= 7) p.writerFeatures
          else Set("appendOnly", "invariants") ++
            (if (mapped) Set("columnMapping") else Set.empty) ++
            (if (cdfEnabled(snap)) Set("changeDataFeed") else Set.empty) ++
            (if (snap.configuration.keys
              .exists(_.startsWith("delta.constraints.")))
              Set("checkConstraints") else Set.empty)
        DeltaLog.Protocol(3, 7,
          legacyReader + "deletionVectors", legacyWriter + "deletionVectors")
      }
    commit(spark, table, snap.version + 1, "DELETE",
      withMeta = None, adds = adds,
      removes = (dead ++ marked).map(_._1.path),
      protocolUpgrade = upgrade, cdcs = cdcs, ictEnabled = ictOn(snap),
      rowIdBase = rowIdBaseOf(snap),
      crc = CrcPlan.Incremental((dead ++ marked).map(_._1.size)),
      opParams = Seq("predicate" -> predicate),
      readScope = Some(Concurrency.ReadScope.Table))
  }

  /** CONVERT TO DELTA, metadata-only: migrate a table written in the
    * retired `_log/` managed format (`_log/v%08d.json` commits, each
    * listing the table's full schema, partition columns and data files)
    * by emitting a version-0 `_delta_log` whose add actions reference the
    * NEWEST commit's data files in place — zero data bytes move. Partition
    * values are recovered from the hive path segments. The old log is
    * renamed to `_log_converted` (frozen): after conversion the Delta log
    * is the single source of truth; the old versions are not carried over.
    * Returns the file count.
    */
  def convertFromManaged(spark: SparkSession, loc: graft.config.Location): Int = {
    import scala.jdk.CollectionConverters._
    val tablePath = loc.spark
    require(!DeltaLog.isDeltaTable(spark, tablePath),
      s"$tablePath is already a Delta table")
    val table = new Path(tablePath)
    val f = fs(spark, table)
    val oldLog = new Path(table, "_log")
    val newest =
      if (!f.exists(oldLog)) None
      else f.listStatus(oldLog).map(_.getPath)
        .filter(_.getName.matches("v\\d{8}\\.json")).maxByOption(_.getName)
    require(newest.nonEmpty, s"no managed table at $tablePath")
    val last = {
      val in = f.open(newest.get)
      try mapper.readTree(in) finally in.close()
    }
    val schema = org.apache.spark.sql.types.DataType.fromJson(last.get("schema").asText())
      .asInstanceOf[StructType]
    val partitionColumns = last.get("partitionColumns").elements().asScala.map(_.asText()).toSeq
    val adds = last.get("files").elements().asScala.map(_.asText()).toSeq.map { rel =>
      val st = f.getFileStatus(new Path(table, rel))
      val pv = hivePartitionValues(rel.split('/').dropRight(1).toSeq.filter(_.contains('=')))
      AddDescriptor(rel, pv, st.getLen, st.getModificationTime)
    }
    commit(spark, table, 0L, "CONVERT", withMeta = Some((schema, partitionColumns)),
      adds = adds, removes = Nil)
    if (!f.rename(oldLog, new Path(table, "_log_converted")))
      throw new IllegalStateException(s"converted, but could not freeze the managed log at $table")
    adds.size
  }

  /** CONVERT TO DELTA for a plain parquet directory (delta-spark's
    * `CONVERT TO DELTA parquet.`…``): emit a version-0 `_delta_log` whose
    * add actions reference the directory's parquet files in place — zero
    * data bytes move. Schema comes from Spark's parquet reader (which also
    * types hive partition columns discovered from `k=v/` segments);
    * `partitionColumns` must name exactly the discovered partition
    * columns, as a guard against converting a directory whose layout is
    * not what the caller thinks. The listing is the acted-on set by
    * definition (every file becomes an add action). Returns the file
    * count.
    */
  def convertFromParquet(
      spark: SparkSession,
      tablePath: String,
      partitionColumns: Seq[String] = Nil): Int = {
    require(!DeltaLog.isDeltaTable(spark, tablePath),
      s"$tablePath is already a Delta table")
    val table = new Path(tablePath)
    val f = fs(spark, table)
    val schema = spark.read.parquet(tablePath).schema
    val partCols = partitionColumns
    val missing = partCols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"declared partition columns not present in the discovered schema: ${missing.mkString(", ")}")
    val qualifiedRoot = f.makeQualified(table).toString
    val it = f.listFiles(table, true)
    val adds = scala.collection.mutable.ArrayBuffer.empty[AddDescriptor]
    while (it.hasNext) {
      val st = it.next()
      val rel = f.makeQualified(st.getPath).toString
        .stripPrefix(qualifiedRoot).dropWhile(_ == '/')
      val hidden = rel.split('/').exists(s => s.startsWith("_") || s.startsWith("."))
      if (st.isFile && !hidden && rel.endsWith(".parquet")) {
        val pv = hivePartitionValues(rel.split('/').dropRight(1).toSeq.filter(_.contains('=')))
        val pvKeys = pv.map(_._1).toSet
        require(pvKeys == partCols.toSet,
          s"file $rel sits under partition dirs [${pvKeys.mkString(",")}] " +
            s"but declared partition columns are [${partCols.mkString(",")}]")
        adds += AddDescriptor(rel, pv.sortBy(_._1), st.getLen, st.getModificationTime)
      }
    }
    require(adds.nonEmpty, s"no parquet files under $tablePath")
    commit(spark, table, 0L, "CONVERT",
      withMeta = Some((schema, partCols)), adds = adds.toSeq, removes = Nil)
    adds.size
  }

  /** SHALLOW CLONE: create a new Delta table at `dstPath` whose version-0
    * log references `srcPath`'s CURRENT live files by absolute path — a
    * zero-copy fork (delta-spark `CREATE TABLE … SHALLOW CLONE src`).
    * Schema, partition columns, table configuration, per-file stats, and
    * the source's protocol carry over verbatim; deletion-vector
    * descriptors are rewritten to absolute ("p") form so they keep
    * resolving against the source's sidecars. Writes to the clone
    * copy-on-write into the clone's own directory and never touch the
    * source; the clone's vacuum cannot delete source files (they are
    * outside its root). Caveat (same as delta-spark): vacuuming the
    * SOURCE can delete files a clone still references. The manifest is
    * the only thing written — cost is bounded by live-file count, with
    * zero data bytes read or moved. Returns the number of cloned file
    * references.
    */
  def shallowClone(spark: SparkSession, srcPath: String, dstPath: String): Int = {
    require(!DeltaLog.isDeltaTable(spark, dstPath),
      s"$dstPath is already a Delta table")
    val ls = DeltaLog.lazySnapshot(spark, srcPath)
    val snap = ls.meta
    val srcRoot = new Path(srcPath)
    val fsrc = fs(spark, srcRoot)
    val qualifiedSrc = fsrc.makeQualified(srcRoot)
    val files = ls.filesWhere(_ => true) // the clone references every live file
    val adds = files.map { a =>
      // FULLY-QUALIFIED references (scheme + authority): a clone on another
      // filesystem must keep resolving against the source's, not re-root
      // the path onto its own
      val abs = new Path(qualifiedSrc, DeltaLog.decodePath(a.path)).toString
      val dv = a.deletionVector.map { dj =>
        val d = graft.sources.DeletionVectors.parse(dj)
        if (d.storageType == "i" || d.storageType == "p") dj
        else graft.sources.DeletionVectors.absoluteDescriptorJson(
          fsrc.makeQualified(
            graft.sources.DeletionVectors.dvFilePath(srcPath, d)).toString,
          d.offset, d.sizeInBytes, d.cardinality)
      }
      AddDescriptor(abs,
        a.partitionValues.toSeq.sortBy(_._1).map { case (k, v) => k -> Option(v) },
        a.size, a.modificationTime, a.stats, dv,
        a.baseRowId, a.defaultRowCommitVersion)
    }
    commit(spark, new Path(dstPath), 0L, "CLONE",
      withMeta = Some((snap.schema, snap.partitionColumns)),
      adds = adds, removes = Nil,
      metaConfig = snap.configuration, protocolUpgrade = snap.protocol)
    adds.size
  }

  /** Backfill per-file pruning stats for live adds that carry none — the
    * state every [[convertFromParquet]] table starts in (zero-copy
    * conversion references files it has never scanned), and what
    * delta-spark repairs with `ANALYZE TABLE … COMPUTE DELTA STATISTICS`.
    * One distributed columnar scan over exactly the stat-less files; each
    * is re-added with stats in a dataChange=false commit (replay's
    * latest-add-wins keeps the path live with the new descriptor, the same
    * mechanism deletion-vector updates use). Files under a deletion vector
    * keep physical-row stats — a superset interval, so pruning stays
    * conservative. Returns the number of files that gained stats.
    */
  def collectStats(spark: SparkSession, tablePath: String): Int = {
    val ls = DeltaLog.lazySnapshot(spark, tablePath)
    val snap = ls.meta
    requireWritable(tablePath, snap, "collectStats", removesData = false)
    require(snap.columnMappingMode == "none",
      "stats backfill on column-mapped tables is not supported (mapped writes always carry stats)")
    val statless = ls.filesWhere(_.stats.isEmpty)
    if (statless.isEmpty) return 0
    val table = new Path(tablePath)
    val dataSchema = StructType(
      snap.schema.fields.filterNot(f => snap.partitionColumns.contains(f.name)))
    val adds0 = statless.map(a => AddDescriptor(
      DeltaLog.decodePath(a.path),
      a.partitionValues.toSeq.sortBy(_._1).map { case (k, v) => k -> Option(v) },
      a.size, a.modificationTime, None, a.deletionVector,
      a.baseRowId, a.defaultRowCommitVersion))
    val statsMap = computeStats(spark, table, adds0, dataSchema)
    val adds = adds0.map(a => a.copy(stats = statsMap.get(a.relPath)))
    commit(spark, table, snap.version + 1, "COMPUTE STATS",
      crc = CrcPlan.Unchanged,
      withMeta = None, adds = adds, removes = Nil, dataChange = false,
      ictEnabled = ictOn(snap),
      // re-adding a file a winner removed would resurrect it — the read
      // set (the re-statted files) is exactly the conflict surface
      readScope = Some(Concurrency.ReadScope.Files(statless.map(_.path).toSet)))
    adds.count(_.stats.isDefined)
  }

  // ----------------------------------------------------------- maintenance

  /** DESCRIBE HISTORY: one row per commit, from the log's commitInfo
    * lines and action counts. Driver-side, bounded by commit count.
    */
  def history(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val table = new Path(tablePath)
    val f = fs(spark, table)
    val CommitName = """(\d{20})\.json""".r
    val rows = f.listStatus(logDir(table)).toSeq
      .flatMap(st => st.getPath.getName match {
        case CommitName(v) => Some((v.toLong, st))
        case _ => None
      })
      .sortBy(_._1)
      .map { case (v, st) =>
        val in = f.open(st.getPath)
        val content = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        var op: String = null; var ts = st.getModificationTime
        var nAdd = 0; var nRemove = 0
        var params = Map.empty[String, String]
        var metrics = Map.empty[String, String]
        def toMap(node: com.fasterxml.jackson.databind.JsonNode): Map[String, String] = {
          val b = Map.newBuilder[String, String]
          val it = node.fields()
          while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText }
          b.result()
        }
        content.linesIterator.filter(_.trim.nonEmpty).foreach { line =>
          val n = mapper.readTree(line)
          val ci = n.get("commitInfo")
          if (ci != null && !ci.isNull) {
            Option(ci.get("operation")).filterNot(_.isNull).foreach(o => op = o.asText)
            Option(ci.get("timestamp")).filterNot(_.isNull).foreach(t => ts = t.asLong)
            Option(ci.get("operationParameters")).filterNot(_.isNull)
              .foreach(p => params = toMap(p))
            Option(ci.get("operationMetrics")).filterNot(_.isNull)
              .foreach(m => metrics = toMap(m))
          }
          if (n.has("add") && !n.get("add").isNull) nAdd += 1
          if (n.has("remove") && !n.get("remove").isNull) nRemove += 1
        }
        (v, ts, op, nAdd, nRemove, params, metrics)
      }
    rows.toDF("version", "timestamp_ms", "operation", "num_added_files",
      "num_removed_files", "operation_parameters", "operation_metrics")
  }

  /** `DESCRIBE DETAIL` (delta-spark's column set): a one-row summary of
    * the table's current state. `numFiles`/`sizeInBytes` come from ONE
    * distributed aggregate over the add index — never a driver-side file
    * list, so the call is metadata-bounded at any table size. `createdAt`
    * is the metaData action's `createdTime`; `lastModified` is the newest
    * commit's timestamp (in-commit timestamp when the table records one);
    * `tableFeatures` is the protocol's combined reader+writer feature set.
    */
  def describeDetail(spark: SparkSession, tablePath: String): DataFrame = {
    import org.apache.spark.sql.Row
    val ls = DeltaLog.lazySnapshot(spark, tablePath)
    val snap = ls.meta
    val (numFiles, sizeInBytes) = ls.liveFileStats()
    val createdAt: Option[Long] = snap.metaDataRaw.flatMap { raw =>
      val n = mapper.readTree(raw)
      Option(n.get("createdTime")).filterNot(_.isNull).map(_.asLong())
    }
    val table = new Path(tablePath)
    val f = fs(spark, table)
    val latest = commitPath(table, snap.version)
    val lastModified: Long = {
      var ts = f.getFileStatus(latest).getModificationTime
      val in = f.open(latest)
      val content = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      content.linesIterator.filter(_.trim.nonEmpty).foreach { line =>
        val ci = mapper.readTree(line).get("commitInfo")
        if (ci != null && !ci.isNull) {
          val t = Option(ci.get("inCommitTimestamp")).filterNot(_.isNull)
            .orElse(Option(ci.get("timestamp")).filterNot(_.isNull))
          t.foreach(n => ts = n.asLong())
        }
      }
      ts
    }
    val proto = snap.protocol.getOrElse(DeltaLog.Protocol(1, 2))
    val feats = (proto.readerFeatures ++ proto.writerFeatures).toSeq.sorted
    val schema = StructType(Seq(
      StructField("format", org.apache.spark.sql.types.StringType),
      StructField("id", org.apache.spark.sql.types.StringType),
      StructField("name", org.apache.spark.sql.types.StringType),
      StructField("description", org.apache.spark.sql.types.StringType),
      StructField("location", org.apache.spark.sql.types.StringType),
      StructField("createdAt", org.apache.spark.sql.types.TimestampType),
      StructField("lastModified", org.apache.spark.sql.types.TimestampType),
      StructField("partitionColumns", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)),
      StructField("clusteringColumns", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)),
      StructField("numFiles", org.apache.spark.sql.types.LongType),
      StructField("sizeInBytes", org.apache.spark.sql.types.LongType),
      StructField("properties",
        org.apache.spark.sql.types.MapType(org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType)),
      StructField("minReaderVersion", org.apache.spark.sql.types.IntegerType),
      StructField("minWriterVersion", org.apache.spark.sql.types.IntegerType),
      StructField("tableFeatures", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))))
    val row = Row("delta", DeltaLog.tableId(snap).orNull, null, null,
      f.makeQualified(table).toString,
      createdAt.map(new java.sql.Timestamp(_)).orNull,
      new java.sql.Timestamp(lastModified),
      snap.partitionColumns, DeltaLog.clusteringColumns(snap),
      numFiles, sizeInBytes, snap.configuration,
      proto.minReaderVersion, proto.minWriterVersion, feats)
    spark.createDataFrame(
      java.util.Collections.singletonList(row), schema)
  }

  /** Bin-pack small live files (< target/2) into ~`targetFileBytes` files,
    * per partition. The commit carries `dataChange: false` on both sides —
    * a compaction changes layout, not data, and downstream incremental
    * consumers must be able to skip it. `clusterBy` tightens every output
    * file's min/max stats so [[DeltaLog.readWhere]] and upsert pruning
    * skip more: one column gets linear range clustering (exact); two or
    * more get a space-filling-curve rewrite via [[ZOrder.cluster]] —
    * `curve = "zorder"` (Morton, `OPTIMIZE … ZORDER BY`) or `"hilbert"`
    * (the liquid-clustering curve) — so predicates on ANY clustered
    * column skip files.
    *
    * Explicit `clusterBy` also records the table as CLUSTERED, liquid
    * style (the public `clusteredTable` writer feature + the
    * `delta.clustering` domain carrying the clustering columns, physical
    * names under column mapping) in the same commit; a later bare
    * `compact()` on such a table re-clusters by the recorded columns on
    * the Hilbert curve — the "OPTIMIZE a clustered table" maintenance
    * loop, no caller-side column bookkeeping. Returns the new version (or
    * the current one when there is nothing to compact).
    */
  def compact(
      spark: SparkSession,
      tablePath: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      clusterBy: Seq[String] = Nil,
      where: Map[String, String] = Map.empty,
      curve: String = "zorder"): Long = {
    import org.apache.spark.sql.functions.col
    val ls = DeltaLog.lazySnapshot(spark, tablePath)
    val snap = ls.meta
    // layout-only (dataChange=false), so appendOnly tables may compact
    requireWritable(tablePath, snap, "compact", removesData = false)
    // partition-scoped compaction (delta-spark's `OPTIMIZE … WHERE`):
    // equality conditions on partition columns — the shape a daily
    // maintenance job wants ("compact yesterday's partition") without
    // touching the other 10⁴ partitions of a lake-scale table. Keys are
    // logical names; under column mapping the log's partitionValues use
    // physical names, so translate before matching.
    val badKeys = where.keySet -- snap.partitionColumns.toSet
    require(badKeys.isEmpty,
      s"compact WHERE references non-partition columns: ${badKeys.mkString(", ")}")
    require(curve == "zorder" || curve == "hilbert", s"unknown curve: $curve")
    // clustering columns: explicit clusterBy wins (and records the table
    // as clustered); a bare compact() on a clustered table re-clusters by
    // the recorded columns on the liquid curve
    val (effCols, effCurve) =
      if (clusterBy.nonEmpty) (clusterBy, curve)
      else (DeltaLog.clusteringColumns(snap), "hilbert")
    val badCluster = effCols.filterNot(snap.schema.fieldNames.contains)
    require(badCluster.isEmpty,
      s"cluster columns not in table schema: ${badCluster.mkString(", ")}")
    val partCluster = effCols.filter(snap.partitionColumns.contains)
    require(partCluster.isEmpty,
      "cluster columns cannot be partition columns (each partition already " +
        s"holds one value): ${partCluster.mkString(", ")}")
    val physWhere = where.map { case (k, v) =>
      snap.physicalNames.getOrElse(k, k) -> v
    }
    def inScope(a: DeltaLog.AddFile): Boolean =
      physWhere.forall { case (k, v) => a.partitionValues.get(k).contains(v) }
    val table = new Path(tablePath)
    val f = fs(spark, table)
    // candidate selection stays on executors: the driver collects only the
    // small files (the acted-on set), never the full live list. Files with
    // an unrecorded size (0) pass the distributed filter and are stat'ed
    // here — bounded by the collected count.
    val small0 = ls.filesWhere(a =>
      inScope(a) && (a.size <= 0 || a.size < targetFileBytes / 2))
    val small = small0
      .map(a => if (a.size > 0) a
        else a.copy(size =
          f.getFileStatus(new Path(table, DeltaLog.decodePath(a.path))).getLen))
      .filter(_.size < targetFileBytes / 2)
    // explicit clusterBy ⇒ record/refresh the clustering spec in the same
    // commit (the clustered-table contract: the spec and the layout that
    // satisfies it land atomically), upgrading the protocol to name
    // domainMetadata + clusteredTable when the table predates them
    val (clusterDomains, clusterProto) =
      if (clusterBy.isEmpty) (Nil, None)
      else {
        val physCols = clusterBy.map(c => snap.physicalNames.getOrElse(c, c))
        val cfg = physCols.map(c =>
          "[" + mapper.writeValueAsString(c) + "]").mkString(
          """{"clusteringColumns":[""", ",", "]}")
        val cur = snap.protocol.getOrElse(DeltaLog.Protocol(1, 2))
        val curFeats = impliedWriterFeatures(cur)
        val need = Set("domainMetadata", "clusteredTable") -- curFeats
        val proto =
          if (need.isEmpty) None
          else Some(DeltaLog.Protocol(cur.minReaderVersion, 7,
            cur.readerFeatures, curFeats ++ need))
        (Seq("delta.clustering" -> cfg), proto)
      }
    // only partitions holding 2+ small files shrink their file count — but
    // a DV-carrying file is ALWAYS work (purging the deletion vector into a
    // clean rewrite is exactly what OPTIMIZE is for on merge-on-read
    // tables, delta-spark semantics), even alone in its partition
    val byPart = small.groupBy(_.partitionValues)
      .filter { case (_, g) => g.size >= 2 || g.exists(_.deletionVector.isDefined) }
    val toCompact = byPart.values.flatten.toSeq
    if (toCompact.isEmpty) {
      // nothing to rewrite, but an explicit clusterBy must still RECORD
      // the spec (ALTER TABLE CLUSTER BY semantics) — otherwise "compact
      // on a big-file table" silently discards the caller's clustering
      // intent and every later bare compact bin-packs unclustered
      if (clusterBy.isEmpty ||
          DeltaLog.clusteringColumns(snap) == clusterBy) return snap.version
      val v = commit(spark, table, snap.version + 1, "CLUSTER BY",
        withMeta = None, adds = Nil, removes = Nil, dataChange = false,
        protocolUpgrade = clusterProto, ictEnabled = ictOn(snap),
        extraDomains = clusterDomains,
        opParams = Seq(
          "clusterBy" -> clusterBy.mkString("[\"", "\",\"", "\"]"),
          "curve" -> curve),
        readScope = Some(Concurrency.ReadScope.Blind))
      maybeCheckpoint(spark, tablePath, v)
      return v
    }
    val totalBytes = toCompact.map(_.size).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // row tracking: a compaction moves every row — stable ids ride the
    // materialized columns into the packed files
    val (baseSrc, matCols) = readForRewrite(spark, tablePath, snap, toCompact)
    val base = baseSrc
      .select((snap.schema.fieldNames.toIndexedSeq ++ matCols).map(col): _*)
    val rewritten =
      if (effCols.isEmpty) base.coalesce(nOut)
      else if (effCols.size == 1)
        base.repartitionByRange(nOut, effCols.map(col): _*)
          .sortWithinPartitions(effCols.map(col): _*)
      else {
        val counts = toCompact.map(graft.sources.DeltaStats.numRecords)
        val approxRows =
          if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
        ZOrder.cluster(base, effCols, nOut, approxRows, curve = effCurve)
      }
    val (phys, physParts) =
      toPhysical(rewritten, snap.schema, snap.partitionColumns,
        snap.columnMappingMode, passthrough = matCols,
        fieldIds = icebergCompatOn(snap))
    val adds = writeDataFiles(spark, table, phys, physParts,
      statsExclude = matCols.toSet)
    commit(spark, table, snap.version + 1, "OPTIMIZE",
      withMeta = None, adds = adds, removes = toCompact.map(_.path),
      dataChange = false, protocolUpgrade = clusterProto,
      ictEnabled = ictOn(snap), rowIdBase = rowIdBaseOf(snap),
      extraDomains = clusterDomains,
      // a rearrange reads ONLY the files it compacts: winners' appends
      // never conflict (they just stay un-compacted this round); a winner
      // removing a compacted file does
      readScope = Some(Concurrency.ReadScope.Files(toCompact.map(_.path).toSet)),
      crc = CrcPlan.Incremental(toCompact.map(_.size)),
      opParams = (if (effCols.isEmpty) Nil
        else Seq("clusterBy" -> effCols.mkString("[\"", "\",\"", "\"]"),
          "curve" -> effCurve)) ++
        (if (where.isEmpty) Nil
         else Seq("predicate" -> where.map { case (k, v) => s"$k = '$v'" }
           .mkString(" AND "))))
  }

  /** `REORG TABLE … APPLY (PURGE)` (delta-spark): rewrite every file that
    * carries a deletion vector — whatever its size — into clean files with
    * the masked rows physically dropped. Rows are unchanged, so the commit
    * is `dataChange = false` (a REORG is invisible to CDF and streaming
    * tails, like any OPTIMIZE); row-tracking ids ride the materialized
    * columns through the rewrite. The use cases are the spec's: shrink a
    * heavily-deleted table, unblock DV-less interop (Iceberg export), and
    * stop paying the merge-on-read filter at scan time. Candidate
    * selection stays on executors (only DV-carrying files are collected);
    * a no-op when the table has no DVs. Returns the committed version
    * (or the current one when there was nothing to purge).
    */
  def reorgPurge(spark: SparkSession, tablePath: String): Long = {
    import org.apache.spark.sql.functions.col
    val ls = DeltaLog.lazySnapshot(spark, tablePath)
    val snap = ls.meta
    requireWritable(tablePath, snap, "reorgPurge", removesData = false)
    val table = new Path(tablePath)
    val dvFiles = ls.filesWhere(_.deletionVector.isDefined)
    if (dvFiles.isEmpty) return snap.version
    val (baseSrc, matCols) = readForRewrite(spark, tablePath, snap, dvFiles)
    val base = baseSrc
      .select((snap.schema.fieldNames.toIndexedSeq ++ matCols).map(col): _*)
    val (phys, physParts) =
      toPhysical(base, snap.schema, snap.partitionColumns,
        snap.columnMappingMode, passthrough = matCols,
        fieldIds = icebergCompatOn(snap))
    val adds = writeDataFiles(spark, table, phys, physParts,
      statsExclude = matCols.toSet)
    val v = commit(spark, table, snap.version + 1, "REORG",
      withMeta = None, adds = adds, removes = dvFiles.map(_.path),
      dataChange = false, ictEnabled = ictOn(snap),
      rowIdBase = rowIdBaseOf(snap),
      readScope = Some(Concurrency.ReadScope.Files(dvFiles.map(_.path).toSet)),
      crc = CrcPlan.Incremental(dvFiles.map(_.size)),
      opParams = Seq("applyPurge" -> "true"))
    maybeCheckpoint(spark, tablePath, v)
    v
  }

  /** `ALTER TABLE … CLUSTER BY NONE`: stop maintaining the clustering
    * spec — the `delta.clustering` domain re-commits with an empty column
    * list (matching delta-spark; the `clusteredTable` feature stays on the
    * protocol, features are never retired), so later bare [[compact]]
    * calls bin-pack without re-clustering. Data and layout are untouched;
    * this is a pure metadata commit. Returns the new version (current
    * when the table has no clustering spec to clear).
    */
  def clusterByNone(spark: SparkSession, tablePath: String): Long = {
    val snap = DeltaLog.snapshot(spark, tablePath)
    requireWritable(tablePath, snap, "clusterByNone", removesData = false)
    if (DeltaLog.clusteringColumns(snap).isEmpty) return snap.version
    val v = commit(spark, new Path(tablePath), snap.version + 1,
      "CLUSTER BY", withMeta = None, adds = Nil, removes = Nil,
      dataChange = false, ictEnabled = ictOn(snap),
      extraDomains = Seq("delta.clustering" -> """{"clusteringColumns":[]}"""),
      opParams = Seq("clusterBy" -> "[]"),
      readScope = Some(Concurrency.ReadScope.Blind))
    maybeCheckpoint(spark, tablePath, v)
    v
  }

  /** RESTORE the table to an earlier version as a NEW commit (time travel
    * made durable — the history stays intact, delta-spark's `RESTORE TABLE
    * … TO VERSION AS OF`). Pure manifest surgery: files in the current
    * snapshot but not the target are removed, files in the target but not
    * the current are re-added by reference with their original stats — no
    * data bytes move. Refuses when a needed file was already vacuumed, and
    * re-emits metaData when the schemas differ (e.g. restoring to before a
    * mergeSchema append). Returns the new version.
    */
  /** RESTORE to the snapshot as of `timestamp` (delta-spark's `RESTORE …
    * TO TIMESTAMP AS OF`) — resolves the version the log had at that
    * instant, then restores to it. */
  def restore(spark: SparkSession, tablePath: String,
      timestamp: java.time.Instant): Long = {
    val v = DeltaLog.lazySnapshot(spark, tablePath,
      timestampAsOf = Some(timestamp)).meta.version
    restore(spark, tablePath, v)
  }

  def restore(spark: SparkSession, tablePath: String, version: Long): Long = {
    import org.apache.spark.sql.functions.{col, lit, not}
    val lsCur = DeltaLog.lazySnapshot(spark, tablePath)
    val cur = lsCur.meta
    requireWritable(tablePath, cur, "restore", removesData = true)
    if (version == cur.version) return cur.version
    val lsTgt = DeltaLog.lazySnapshot(spark, tablePath, versionAsOf = Some(version))
    val target = lsTgt.meta
    // the current↔target file-state diff runs as distributed anti-/outer-
    // joins of the two log indexes; the driver collects only the DIFF (the
    // acted-on set of the commit), never either full file list
    val curIdx = lsCur.indexDF
      .select(col("path"), col("deletionVector").as("_dv_cur"), lit(true).as("_in_cur"))
    val tgtIdx = lsTgt.indexDF
    val removes = curIdx
      .join(tgtIdx.select(col("path")), Seq("path"), "left_anti")
      .select(col("path")).collect().map(_.getString(0)).toSeq
    // re-add files the current snapshot lacks, AND files whose deletion-
    // vector state differs — same path, different live rows (a newer add
    // of the same path supersedes the old entry on replay)
    val readds = DeltaLog.collectAdds(
      tgtIdx.join(curIdx, Seq("path"), "left_outer")
        .filter(col("_in_cur").isNull || not(col("_dv_cur") <=> col("deletionVector")))
        .select(col("path"), col("partitionValues"), col("size"),
          col("modificationTime"), col("stats"), col("deletionVector"),
          col("baseRowId"), col("defaultRowCommitVersion")))
    val table = new Path(tablePath)
    val f = fs(spark, table)
    readds.foreach { a =>
      require(f.exists(new Path(table, DeltaLog.decodePath(a.path))),
        s"cannot restore to version $version: data file ${a.path} was vacuumed")
      // a re-added file's DV must also still exist, or its deleted rows
      // would resurrect
      a.deletionVector.foreach { dj =>
        val d = graft.sources.DeletionVectors.parse(dj)
        if (d.storageType != "i")
          require(f.exists(graft.sources.DeletionVectors.dvFilePath(tablePath, d)),
            s"cannot restore to version $version: deletion vector of ${a.path} was vacuumed")
      }
    }
    val adds = readds.map(a => AddDescriptor(
      DeltaLog.decodePath(a.path),
      a.partitionValues.toSeq.sortBy(_._1).map { case (k, v) => k -> Option(v) },
      a.size, a.modificationTime, a.stats, a.deletionVector,
      // restored files keep their original row-id span (the mark never
      // retreats, so the ids stay unique against post-restore writes)
      a.baseRowId, a.defaultRowCommitVersion))
    // re-emit metaData when ANYTHING the metaData action carries changed —
    // schema, partitioning, or configuration. Config matters for the ICT
    // chain: restoring an ICT-enabled table to a pre-enablement version
    // must COMMIT the disablement (a metaData action without the flag) in
    // the same commit that stops writing inCommitTimestamp, or readers see
    // an enabled table whose newest commit has no in-commit clock.
    val meta =
      if (target.schema != cur.schema ||
          target.partitionColumns != cur.partitionColumns ||
          target.configuration != cur.configuration)
        Some((target.schema, target.partitionColumns))
      else None
    // checksum: the post-restore live set IS the target snapshot's — one
    // distributed aggregate over the already-loaded target index (the
    // incremental plan cannot express restore's re-add-without-remove)
    val (crcFiles, crcBytes) = lsTgt.liveFileStats()
    val v = commit(spark, table, cur.version + 1, "RESTORE",
      withMeta = meta, adds = adds, removes = removes,
      metaConfig = target.configuration,
      tableId = DeltaLog.tableId(cur),
      crc = CrcPlan.Exact(crcFiles, crcBytes),
      opParams = Seq("version" -> version.toString),
      // the commit is a diff against the observed current state — ANY
      // winner data change invalidates it
      readScope = Some(Concurrency.ReadScope.Exclusive))
    maybeCheckpoint(spark, tablePath, v)
    v
  }

  /** Writer features a legacy (< 7) protocol version implies — the public
    * PROTOCOL.md mapping used when a legacy protocol must convert to a
    * feature-listed v7 (which names EVERY capability explicitly).
    */
  private def impliedWriterFeatures(p: DeltaLog.Protocol): Set[String] =
    if (p.minWriterVersion >= 7) p.writerFeatures
    else Seq(
      2 -> Set("appendOnly", "invariants"),
      3 -> Set("checkConstraints"),
      4 -> Set("changeDataFeed", "generatedColumns"),
      5 -> Set("columnMapping"),
      6 -> Set("identityColumns")
    ).collect { case (v, fs) if v <= p.minWriterVersion => fs }.flatten.toSet

  /** ALTER TABLE SET/UNSET TBLPROPERTIES as a new commit: re-emits the
    * metaData action with the updated configuration — schema, partitioning
    * and data untouched. Upgrades the protocol when a newly-set property
    * demands a capability the current protocol does not declare:
    * `delta.enableInCommitTimestamps` has no legacy writer version, so it
    * converts the protocol to feature-listed v7 carrying every implied
    * legacy feature plus the new one; CDF / CHECK constraints raise the
    * legacy writer floor (4 / 3) or join the feature list on v7 tables.
    * `delta.columnMapping.mode` cannot change this way (mapping assignment
    * is a schema rewrite, not a property flip). Returns the new version
    * (current version when nothing changes).
    */
  def setProperties(
      spark: SparkSession,
      tablePath: String,
      set: Map[String, String],
      unset: Seq[String] = Nil): Long = {
    val snap = DeltaLog.snapshot(spark, tablePath)
    requireWritable(tablePath, snap, "setProperties", removesData = false)
    // delta.feature.* keys are protocol directives (see featurePropSupports),
    // applied to the protocol below and never persisted as table properties
    val featSupports = featurePropSupports(set)
    val newCfg = (snap.configuration -- unset ++ set)
      .filterNot(_._1.startsWith("delta.feature."))
    if (newCfg == snap.configuration && featSupports.isEmpty)
      return snap.version
    require(newCfg.getOrElse("delta.columnMapping.mode", "none") ==
        snap.columnMappingMode,
      "delta.columnMapping.mode cannot be changed via setProperties; " +
        "column mapping is assigned at table creation")
    def on(cfg: Map[String, String], k: String) =
      cfg.get(k).exists(_.equalsIgnoreCase("true"))
    // enabling row tracking mid-life needs a backfill (materialize column
    // names, protocol features, base row ids for every EXISTING file) —
    // half-enabling via a property flip would break later rewrites, so
    // refuse it the same way column mapping is refused
    require(on(newCfg, "delta.enableRowTracking") ==
        DeltaLog.rowTrackingEnabled(snap),
      "delta.enableRowTracking cannot be changed via setProperties; " +
        "row tracking is enabled at table creation")
    val need = Set.newBuilder[String]
    if (on(newCfg, "delta.enableInCommitTimestamps")) need += "inCommitTimestamp"
    if (on(newCfg, "delta.enableChangeDataFeed")) need += "changeDataFeed"
    if (newCfg.keys.exists(_.startsWith("delta.constraints.")))
      need += "checkConstraints"
    val wantV2Cp = newCfg.get("delta.checkpointPolicy").contains("v2")
    if (wantV2Cp) need += "v2Checkpoint"
    // type widening may enable mid-life with NO backfill: it only governs
    // future mergeSchema appends, so the property flip plus the protocol
    // features is the whole enablement
    val wantWiden = on(newCfg, "delta.enableTypeWidening")
    if (wantWiden) need += "typeWidening"
    // deletionVectors is reader-writer: the spec requires it in BOTH lists
    val wantDv = on(newCfg, "delta.enableDeletionVectors")
    if (wantDv) need += "deletionVectors"
    if (on(newCfg, "delta.enableIcebergCompatV2")) {
      require(snap.columnMappingMode == "name",
        "delta.enableIcebergCompatV2 requires column mapping mode 'name'")
      require(!wantDv,
        "delta.enableIcebergCompatV2 cannot combine with deletion vectors")
      // only FUTURE files carry field ids; the name mapping in the Iceberg
      // export keeps older files resolvable, so a mid-life flip is safe
      need += "icebergCompatV2"
    }
    featSupports.foreach(need += _)
    val cur = snap.protocol.getOrElse(DeltaLog.Protocol(1, 2))
    val curFeats = impliedWriterFeatures(cur)
    val missing = need.result() -- curFeats
    // v2Checkpoint, typeWidening and deletionVectors are also READER
    // features: raising minReaderVersion to 3 requires naming every
    // reader-relevant feature explicitly
    val readerNeeds = (if (wantV2Cp) Set("v2Checkpoint") else Set.empty[String]) ++
      (if (wantWiden) Set("typeWidening") else Set.empty[String]) ++
      (if (wantDv) Set("deletionVectors") else Set.empty[String]) ++
      (featSupports intersect readerWriterFeatures)
    val readerUp: Option[(Int, Set[String])] =
      if (readerNeeds.isEmpty || (cur.minReaderVersion >= 3 &&
          readerNeeds.subsetOf(cur.readerFeatures))) None
      else Some((3, cur.readerFeatures ++ readerNeeds ++
        (if (snap.columnMappingMode == "name") Set("columnMapping")
        else Set.empty[String])))
    val proto: Option[DeltaLog.Protocol] =
      if (missing.isEmpty && readerUp.isEmpty) None
      else if (cur.minWriterVersion >= 7 || missing.contains("inCommitTimestamp") ||
          missing.contains("typeWidening") ||
          missing.contains("deletionVectors") ||
          missing.contains("v2Checkpoint") ||
          missing.contains("icebergCompatV2") ||
          (missing intersect featSupports).nonEmpty) {
        val (rv, rf) = readerUp.getOrElse((cur.minReaderVersion, cur.readerFeatures))
        Some(DeltaLog.Protocol(rv, 7, rf, curFeats ++ missing))
      } else Some(cur.copy(minWriterVersion = (Seq(cur.minWriterVersion) ++
        (if (missing.contains("checkConstraints")) Seq(3) else Nil) ++
        (if (missing.contains("changeDataFeed")) Seq(4) else Nil)).max))
    // UniForm enablement mid-life: validate at the DDL, commit, then write
    // the first Iceberg metadata — later commits auto-refresh it
    val enablingUniform =
      uniformIceberg(newCfg) && !uniformIceberg(snap.configuration)
    if (enablingUniform)
      require(!containsVariant(snap.schema),
        "delta.universalFormat.enabledFormats=iceberg cannot combine with " +
          "VARIANT columns: Iceberg v2 has no variant representation")
    val v = commit(spark, new Path(tablePath), snap.version + 1,
      "SET TBLPROPERTIES", withMeta = Some((snap.schema, snap.partitionColumns)),
      adds = Nil, removes = Nil, dataChange = false, protocolUpgrade = proto,
      metaConfig = newCfg, tableId = DeltaLog.tableId(snap),
      // rebases over data-only winners (their commits don't move the
      // config this was derived from); a concurrent metadata/protocol
      // change aborts via the classifier
      readScope = Some(Concurrency.ReadScope.Blind))
    if (enablingUniform) IcebergExport.export(spark, tablePath): Unit
    maybeCheckpoint(spark, tablePath, v)
    v
  }

  /** `ALTER TABLE … ALTER COLUMN … SET DEFAULT <sql>` — records the
    * literal-foldable `defaultSql` in the column's `CURRENT_DEFAULT`
    * metadata and upgrades the protocol to a feature-listed v7 naming
    * `allowColumnDefaults` (writer-only) when it doesn't yet. Only an
    * EXISTING column can gain a default — the protocol forbids ADD COLUMN
    * WITH DEFAULT, so no read path ever consults defaults; they govern
    * FUTURE insert-shaped writes that omit the column (explicit values
    * always win). Metadata-only commit; returns the new version.
    */
  def setDefault(
      spark: SparkSession,
      tablePath: String,
      column: String,
      defaultSql: String): Long =
    alterDefault(spark, tablePath, column, Some(defaultSql))

  /** `ALTER TABLE … ALTER COLUMN … DROP DEFAULT` — removes the column's
    * `CURRENT_DEFAULT`; later writes that omit the column null-fill it
    * again. The protocol keeps naming the feature (features never
    * retract). Returns the new version.
    */
  def dropDefault(
      spark: SparkSession,
      tablePath: String,
      column: String): Long =
    alterDefault(spark, tablePath, column, None)

  private def alterDefault(
      spark: SparkSession,
      tablePath: String,
      column: String,
      defaultSql: Option[String]): Long = {
    val snap = DeltaLog.snapshot(spark, tablePath)
    requireWritable(tablePath, snap, "alterDefault", removesData = false)
    require(snap.schema.fieldNames.contains(column), s"no such column: $column")
    val newSchema = StructType(snap.schema.fields.map { f =>
      if (f.name != column) f
      else {
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        defaultSql match {
          case Some(sql) => f.copy(metadata = mb.putString("CURRENT_DEFAULT", sql).build())
          case None => f.copy(metadata = mb.remove("CURRENT_DEFAULT").build())
        }
      }
    })
    if (defaultSql.isEmpty)
      require(snap.schema(column).metadata.contains("CURRENT_DEFAULT"),
        s"column $column has no DEFAULT to drop")
    validateDefaults(spark, newSchema)
    val cur = snap.protocol.getOrElse(DeltaLog.Protocol(1, 2))
    val proto: Option[DeltaLog.Protocol] =
      if (defaultSql.isEmpty ||
          (cur.minWriterVersion >= 7 &&
            cur.writerFeatures.contains("allowColumnDefaults"))) None
      else Some(DeltaLog.Protocol(cur.minReaderVersion, 7, cur.readerFeatures,
        impliedWriterFeatures(cur) + "allowColumnDefaults"))
    val v = commit(spark, new Path(tablePath), snap.version + 1,
      "ALTER COLUMN", withMeta = Some((newSchema, snap.partitionColumns)),
      adds = Nil, removes = Nil, dataChange = false, protocolUpgrade = proto,
      metaConfig = snap.configuration, ictEnabled = ictOn(snap),
      tableId = DeltaLog.tableId(snap),
      opParams = Seq("column" -> column,
        "default" -> defaultSql.getOrElse("(dropped)")),
      readScope = Some(Concurrency.ReadScope.Blind))
    maybeCheckpoint(spark, tablePath, v)
    v
  }

  // --------------------------------------------------------- DROP FEATURE

  /** Features [[dropFeature]] can remove, with the TRACE each one must
    * have cleared first — a dropped feature whose artifacts remain would
    * let a non-supporting writer corrupt the table, so validation refuses
    * until the trace is gone. Structural features (columnMapping,
    * rowTracking, typeWidening, v2Checkpoint, icebergCompatV2,
    * variantType, inCommitTimestamp, domainMetadata, clusteredTable,
    * identityColumns) are NOT droppable: their traces live in file
    * layouts / schema history that no validation can cheaply prove clean
    * — delta-spark restricts its droppable set the same way.
    */
  private val droppableFeatures: Set[String] =
    Set("deletionVectors", "allowColumnDefaults", "checkConstraints",
      "changeDataFeed", "appendOnly", "invariants", "generatedColumns",
      "vacuumProtocolCheck")

  /** `ALTER TABLE … DROP FEATURE <name>` — protocol DOWNGRADE: removes the
    * feature from the writer (and reader) list after validating the table
    * carries no trace of it. For `deletionVectors` (a reader-writer
    * feature whose ACTIONS live in old commits) the drop is delta-spark's
    * TRUNCATE HISTORY flow: checkpoint the current state, truncate the
    * pre-checkpoint log, then commit the downgraded protocol — a reader
    * without the feature replays checkpoint + tail and never sees a DV
    * action. Time travel below the checkpoint is gone (that is the
    * contract). The reader version drops to 1 when no reader feature
    * remains (2 under column mapping). Returns the new version.
    */
  def dropFeature(
      spark: SparkSession,
      tablePath: String,
      name: String): Long = {
    val snap0 = DeltaLog.snapshot(spark, tablePath)
    requireWritable(tablePath, snap0, "dropFeature", removesData = false)
    val cur = snap0.protocol.getOrElse(DeltaLog.Protocol(1, 2))
    require(cur.minWriterVersion >= 7 && cur.writerFeatures.contains(name),
      s"table protocol does not name feature $name (protocol $cur)")
    require(droppableFeatures.contains(name),
      s"feature $name is not droppable: its traces are structural " +
        s"(droppable: ${droppableFeatures.toSeq.sorted.mkString(", ")})")
    def cfgOn(k: String) =
      snap0.configuration.get(k).exists(_.equalsIgnoreCase("true"))
    val trace: Option[String] = name match {
      case "deletionVectors" =>
        if (cfgOn("delta.enableDeletionVectors"))
          Some("delta.enableDeletionVectors is still true — unset it first")
        else if (DeltaLog.lazySnapshot(spark, tablePath)
            .filesWhere(_.deletionVector.isDefined).nonEmpty)
          Some("live files still carry deletion vectors — run reorgPurge first")
        else None
      case "allowColumnDefaults" =>
        if (defaultFields(snap0.schema).nonEmpty)
          Some("columns still declare DEFAULTs — dropDefault them first")
        else None
      case "checkConstraints" =>
        if (snap0.configuration.keys.exists(_.startsWith("delta.constraints.")))
          Some("CHECK constraints still defined — unset delta.constraints.* first")
        else None
      case "changeDataFeed" =>
        if (cfgOn("delta.enableChangeDataFeed"))
          Some("delta.enableChangeDataFeed is still true — unset it first")
        else None
      case "appendOnly" =>
        if (cfgOn("delta.appendOnly"))
          Some("delta.appendOnly is still true — unset it first")
        else None
      case "invariants" =>
        if (snap0.schema.fields.exists(_.metadata.contains("delta.invariants")))
          Some("column invariants still defined") else None
      case "generatedColumns" =>
        if (snap0.schema.fields.exists(
            _.metadata.contains("delta.generationExpression")))
          Some("generated columns still defined") else None
      case _ => None // vacuumProtocolCheck: the listed feature IS the contract
    }
    trace.foreach(t => throw new IllegalArgumentException(
      s"cannot drop feature $name from $tablePath: $t"))
    // reader-writer features with ACTION traces in old commits truncate
    // history so a non-supporting reader can never replay into them
    if (name == "deletionVectors") {
      checkpoint(spark, tablePath)
      cleanupMetadata(spark, tablePath): Unit
    }
    val snap = DeltaLog.snapshot(spark, tablePath)
    val p = snap.protocol.getOrElse(cur)
    val newReaderFeats = p.readerFeatures - name
    val newProto = DeltaLog.Protocol(
      if (newReaderFeats.nonEmpty) 3
      else if (snap.columnMappingMode == "name") 2 else 1,
      7, newReaderFeats, p.writerFeatures - name)
    val v = commit(spark, new Path(tablePath), snap.version + 1,
      "DROP FEATURE", withMeta = Some((snap.schema, snap.partitionColumns)),
      adds = Nil, removes = Nil, dataChange = false,
      protocolUpgrade = Some(newProto), metaConfig = snap.configuration,
      ictEnabled = ictOn(snap), tableId = DeltaLog.tableId(snap),
      opParams = Seq("feature" -> name))
    maybeCheckpoint(spark, tablePath, v)
    v
  }

  /** ALTER TABLE RENAME COLUMN, metadata-only (public protocol: column
    * mapping decouples the logical name from the parquet field, so a
    * rename re-emits metaData with the field renamed and its
    * `delta.columnMapping.{id,physicalName}` UNCHANGED — zero file
    * rewrite at any table size; every existing file, stat, partition
    * value and DV keeps working because they all speak physical names).
    * Requires mapping mode `name`; refuses when the old name is
    * referenced by a CHECK constraint or a generation expression (those
    * store logical-name SQL the rename would orphan). Renaming a
    * partition column updates the metaData's partitionColumns list (also
    * logical names). Returns the new version.
    */
  def renameColumn(
      spark: SparkSession,
      tablePath: String,
      from: String,
      to: String): Long = {
    val snap = DeltaLog.snapshot(spark, tablePath)
    requireWritable(tablePath, snap, "renameColumn", removesData = false)
    require(snap.columnMappingMode == "name",
      s"RENAME COLUMN needs column mapping (mode 'name'); table " +
        s"$tablePath has mode '${snap.columnMappingMode}' — files resolve " +
        "columns by NAME there, so a metadata rename would orphan the data")
    require(snap.schema.fieldNames.contains(from), s"no such column: $from")
    require(!snap.schema.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"column $to already exists")
    requireUnreferenced(snap, from, "RENAME COLUMN")
    val newSchema = StructType(snap.schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val newParts = snap.partitionColumns.map(p => if (p == from) to else p)
    val v = commit(spark, new Path(tablePath), snap.version + 1,
      "RENAME COLUMN", withMeta = Some((newSchema, newParts)),
      adds = Nil, removes = Nil, dataChange = false,
      metaConfig = snap.configuration, ictEnabled = ictOn(snap),
      tableId = DeltaLog.tableId(snap),
      opParams = Seq("oldColumnPath" -> from, "newColumnPath" -> to),
      readScope = Some(Concurrency.ReadScope.Blind))
    maybeCheckpoint(spark, tablePath, v)
    v
  }

  /** ALTER TABLE DROP COLUMN, metadata-only (same mapping argument as
    * [[renameColumn]]: old files keep the physical column, readers simply
    * never project it). Refuses for partition columns (partitionValues in
    * every add action spell it), clustering columns (the recorded spec
    * would dangle), constraint/generated references, and the last data
    * column. Returns the new version.
    */
  def dropColumn(
      spark: SparkSession,
      tablePath: String,
      name: String): Long = {
    val snap = DeltaLog.snapshot(spark, tablePath)
    requireWritable(tablePath, snap, "dropColumn", removesData = false)
    require(snap.columnMappingMode == "name",
      s"DROP COLUMN needs column mapping (mode 'name'); table $tablePath " +
        s"has mode '${snap.columnMappingMode}'")
    require(snap.schema.fieldNames.contains(name), s"no such column: $name")
    require(snap.schema.fields.length > 1, "cannot drop the last column")
    require(!snap.partitionColumns.contains(name),
      s"cannot drop partition column $name")
    require(!DeltaLog.clusteringColumns(snap).contains(name),
      s"cannot drop clustering column $name (re-cluster on other columns first)")
    requireUnreferenced(snap, name, "DROP COLUMN")
    val newSchema = StructType(snap.schema.fields.filterNot(_.name == name))
    val v = commit(spark, new Path(tablePath), snap.version + 1,
      "DROP COLUMNS", withMeta = Some((newSchema, snap.partitionColumns)),
      adds = Nil, removes = Nil, dataChange = false,
      metaConfig = snap.configuration, ictEnabled = ictOn(snap),
      tableId = DeltaLog.tableId(snap),
      opParams = Seq("columns" -> ("[\"" + name + "\"]")),
      readScope = Some(Concurrency.ReadScope.Blind))
    maybeCheckpoint(spark, tablePath, v)
    v
  }

  /** Refuse schema surgery on a column referenced by stored logical-name
    * SQL — CHECK constraints (table config) or generation expressions
    * (field metadata). Word-boundary match errs loud-and-conservative: a
    * false positive costs the caller a constraint drop first; a false
    * negative would orphan the expression for every reader.
    */
  private def requireUnreferenced(
      snap: DeltaLog.Snapshot, column: String, op: String): Unit = {
    val word = java.util.regex.Pattern.compile(
      "(?i)(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(column) +
        "(?![A-Za-z0-9_])")
    // match against the backtick-STRIPPED SQL: `score` must hit the same
    // guard as bare score (stripping can only merge tokens, i.e. create
    // MORE matches — the conservative-loud direction for a refusal guard)
    def references(sql: String): Boolean =
      word.matcher(sql.replace("`", "")).find()
    snap.configuration.filter(_._1.startsWith("delta.constraints."))
      .foreach { case (k, sql) =>
        require(!references(sql),
          s"$op: column $column is referenced by CHECK constraint " +
            s"${k.stripPrefix("delta.constraints.")} ($sql); drop it first")
      }
    snap.schema.fields
      .filter(f => f.name != column &&
        f.metadata.contains("delta.generationExpression"))
      .foreach { f =>
        val sql = f.metadata.getString("delta.generationExpression")
        require(!references(sql),
          s"$op: column $column is referenced by generated column " +
            s"${f.name} ($sql); drop the generated column first")
      }
  }

  /** Delete data files the CURRENT snapshot no longer references —
    * tombstoned by past removes or stranded by crashed writers — once they
    * are older than `retainMs` (the retention guard that keeps concurrent
    * readers of recent versions and in-flight writers safe). Time travel
    * to versions whose files are vacuumed stops working, like any Delta
    * VACUUM. Returns the number of files deleted.
    */
  def vacuum(
      spark: SparkSession,
      tablePath: String,
      retainMs: Long = 7L * 24 * 3600 * 1000,
      listingBatch: Int = 100000,
      dryRun: Boolean = false): Int = {
    import org.apache.spark.sql.functions.col
    val ls = DeltaLog.lazySnapshot(spark, tablePath)
    val snap = ls.meta
    // the vacuumProtocolCheck feature's contract: check writer capability
    // before deleting anything (physical cleanup, no data change)
    requireWritable(tablePath, snap, "vacuum", removesData = false)
    val table = new Path(tablePath)
    val f = fs(spark, table)
    // live = referenced data files PLUS any .bin sidecar a live add's
    // deletion vector points into — deleting one would resurrect rows.
    // The live set stays DISTRIBUTED: the driver streams the FS listing in
    // bounded batches and anti-joins each batch against the log index on
    // executors, collecting only the delete list — never a full-table path
    // set (at 10⁷ files that set is GBs of driver strings).
    val liveRel = ls.liveRelPathsDF(tablePath).persist()
    try {
      import spark.implicits._
      val cutoff = System.currentTimeMillis() - retainMs
      val qualifiedRoot = f.makeQualified(table).toString
      // the doomed list is the commit's acted-on set (same driver-memory
      // convention as restore's diff / compact's small-file list); batches
      // still anti-join against the DISTRIBUTED live set
      val doomed = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      val batch = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      def flush(): Unit = if (batch.nonEmpty) {
        doomed ++= batch.toSeq.toDF("rel", "bytes")
          .join(liveRel, Seq("rel"), "left_anti")
          .select(col("rel"), col("bytes")).as[(String, Long)].collect()
        batch.clear()
      }
      val it = f.listFiles(table, true)
      while (it.hasNext) {
        val st = it.next()
        val p = f.makeQualified(st.getPath).toString
        // never touch the log, hidden/temp paths, or anything inside them
        val rel = p.stripPrefix(qualifiedRoot).dropWhile(_ == '/')
        val hidden = rel.split('/').exists(s => s.startsWith("_") || s.startsWith("."))
        if (st.isFile && !hidden && st.getModificationTime < cutoff) {
          batch += rel -> st.getLen
          if (batch.size >= listingBatch) flush()
        }
      }
      flush()
      // dry run (delta-spark `VACUUM … DRY RUN`): count candidates, delete
      // nothing, COMMIT nothing — the safety check before a retention change
      if (dryRun || doomed.isEmpty) return doomed.size
      // delta-spark's audit trail: VACUUM START declares what will go
      // (metrics BEFORE deletion — a crashed vacuum leaves evidence of
      // intent), VACUUM END what actually went. Both are dataChange=false
      // metadata commits; the live set is untouched so the checksum chain
      // carries straight through. The Audit read scope rebases over
      // anything but a protocol change (a vacuum bookkeeping commit has no
      // logical conflict); losing forever is LOUD — for START the caller
      // aborts BEFORE any deletion (intent unrecorded = nothing deleted),
      // for END the deletions are done and the failure surfaces.
      def blindCommit(op: String, params: Seq[(String, String)],
          metrics: Seq[(String, String)]): Unit = {
        val version = DeltaLog.lazySnapshot(spark, tablePath).meta.version + 1
        commit(spark, table, version, op, withMeta = None,
          adds = Nil, removes = Nil, dataChange = false,
          ictEnabled = ictOn(snap), opParams = params, opMetrics = metrics,
          readScope = Some(Concurrency.ReadScope.Audit))
      }
      blindCommit("VACUUM START",
        Seq("retentionMs" -> retainMs.toString),
        Seq("numFilesToDelete" -> doomed.size.toString,
          "sizeOfDataToDelete" -> doomed.map(_._2).sum.toString))
      var removed = 0
      doomed.foreach { case (rel, _) =>
        if (f.delete(new Path(table, rel), false)) removed += 1
      }
      blindCommit("VACUUM END", Nil, Seq(
        "numDeletedFiles" -> removed.toString))
      removed
    } finally liveRel.unpersist()
  }

  // ------------------------------------------------------------ checkpoint

  /** Auto-checkpoint cadence for append/overwrite commits (delta-spark's
    * default interval): every 10th version gets a parquet checkpoint so
    * snapshot replay stays bounded on long-lived tables.
    */
  val checkpointInterval = 10

  /** Write a protocol checkpoint (`<version %020d>.checkpoint.parquet`, or
    * the spec's multi-part `…checkpoint.%010d.%010d.parquet` form past
    * [[checkpointPartActions]] actions, plus `_last_checkpoint`) of the
    * CURRENT snapshot: one parquet row per action — protocol, metaData
    * (the table's original identity, carried through
    * [[DeltaLog.Snapshot.metaDataRaw]]), and every live add with
    * `dataChange: false`. The add rows stream STRAIGHT FROM the
    * distributed log index into the checkpoint parquet — the driver never
    * materializes the file list, so checkpointing a 10M-file table is a
    * distributed copy, not a driver OOM. Remove tombstones are not
    * checkpointed (they only coordinate vacuum retention, which stays
    * with the maintenance job). Returns the checkpointed version.
    */
  def checkpoint(
      spark: SparkSession,
      tablePath: String,
      partActions: Long = checkpointPartActions): Long = {
    import org.apache.spark.sql.types._
    require(partActions > 0, "partActions must be positive")
    val table = new Path(tablePath)
    val ls = DeltaLog.lazySnapshot(spark, tablePath)
    val snap = ls.meta
    // a checkpoint REPLACES log replay below it — emitting one that drops
    // actions we don't model would corrupt a foreign table, so gate first
    requireWritable(tablePath, snap, "checkpoint", removesData = false)
    // tables under the v2Checkpoint feature (or the v2 policy) forbid
    // classic checkpoints — route to the v2 manifest + sidecar writer
    if (snap.protocol.exists(_.writerFeatures.contains("v2Checkpoint")) ||
        snap.configuration.get("delta.checkpointPolicy").contains("v2"))
      return checkpointV2(spark, tablePath, partActions = partActions)
    val cpSchema = StructType(CheckpointActions.fields :+ StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType, valueContainsNull = true)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      // dropping a live add's DV from a checkpoint would resurrect its
      // deleted rows for every reader that replays from it
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", IntegerType),
        StructField("sizeInBytes", IntegerType),
        StructField("cardinality", LongType)))),
      // row tracking: ids live in the add actions; a checkpoint that
      // dropped them would re-assign every row on the next replay
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType)))))
    val metaRows = CheckpointActions.rows(snap, cpSchema)
    val metaDf = spark.createDataFrame(
      spark.sparkContext.parallelize(metaRows, 1), cpSchema)
    // add actions stream from the distributed index — never collected
    val addDf = {
      import org.apache.spark.sql.functions.lit
      ls.indexDF.select(CheckpointActions.fields.map(f =>
        lit(null).cast(f.dataType).as(f.name)) :+ CheckpointActions.add: _*)
    }
    val nFiles = addDf.count()
    val nParts = math.max(1L, math.min(512L,
      (nFiles + partActions - 1) / partActions)).toInt
    val union = metaDf.unionByName(addDf)
    val out = if (nParts == 1) union.coalesce(1) else union.repartition(nParts)

    val f = fs(spark, table)
    val tmp = new Path(logDir(table), s".cp-tmp-${java.util.UUID.randomUUID()}")
    out.write.parquet(tmp.toString)
    val parts = CheckpointActions.parquetParts(f, tmp)
    // idempotent re-checkpoint: clear any prior checkpoint files of this
    // version (single- or multi-part) before publishing
    val CpName = (f"${snap.version}%020d" + """\.checkpoint(\..*)?\.parquet""").r
    f.listStatus(logDir(table)).foreach { st =>
      if (CpName.pattern.matcher(st.getPath.getName).matches())
        f.delete(st.getPath, false)
    }
    val targets =
      if (parts.size == 1)
        Seq(new Path(logDir(table), f"${snap.version}%020d.checkpoint.parquet"))
      else parts.indices.map(i => new Path(logDir(table),
        f"${snap.version}%020d.checkpoint.${i + 1}%010d.${parts.size}%010d.parquet"))
    parts.zip(targets).foreach { case (src, dst) =>
      if (!f.rename(src, dst))
        throw new IllegalStateException(s"Failed to publish checkpoint $dst")
    }
    f.delete(tmp, true)
    // _last_checkpoint is advisory (plain overwrite per spec)
    val lc = mapper.createObjectNode()
    lc.put("version", snap.version)
    lc.put("size", metaRows.length.toLong + nFiles)
    if (parts.size > 1) lc.put("parts", parts.size)
    val outLc = LocalIo.create(f, new Path(logDir(table), "_last_checkpoint"), true)
    try outLc.write(mapper.writeValueAsBytes(lc)) finally outLc.close()
    snap.version
  }

  /** The checkpoint parquet columns of the non-file actions (protocol,
    * txn, metaData, domainMetadata — the spec's checkpoint schema) and of
    * an add action, shared by [[checkpoint]] and [[checkpointV2]].
    */
  private object CheckpointActions {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    private val strMap = MapType(StringType, StringType, valueContainsNull = true)
    val fields: Seq[StructField] = Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", strMap)))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", strMap),
        StructField("createdTime", LongType)))),
      StructField("domainMetadata", StructType(Seq(
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType)))))

    /** A row of `schema` holding `value` in `column`, null elsewhere. */
    def row(schema: StructType, column: String, value: Row): Row =
      Row.fromSeq(schema.fieldNames.toSeq.map(n => if (n == column) value else null))

    /** `snap`'s non-file actions as rows of `schema` (which holds
      * [[fields]]): protocol, metaData (the table's original identity),
      * every txn, every domainMetadata. */
    def rows(snap: DeltaLog.Snapshot, schema: StructType): Seq[Row] = {
      def row(column: String, value: Row) = CheckpointActions.row(schema, column, value)
      val metaNode = snap.metaDataRaw.map(mapper.readTree)
      def metaField(f: String): Option[com.fasterxml.jackson.databind.JsonNode] =
        metaNode.flatMap(n => Option(n.get(f)).filterNot(_.isNull))
      val p = snap.protocol.getOrElse(DeltaLog.Protocol(1, 2))
      def feats(s: Set[String]) = if (s.isEmpty) null else s.toSeq.sorted
      Seq(
        row("protocol", Row(p.minReaderVersion, p.minWriterVersion,
          feats(p.readerFeatures), feats(p.writerFeatures))),
        row("metaData", Row(
          metaField("id").map(_.asText).getOrElse(java.util.UUID.randomUUID().toString),
          Row("parquet", Map.empty[String, String]),
          snap.schema.json,
          snap.partitionColumns,
          snap.configuration, // dropping config here would strip DV/mapping opt-ins
          metaField("createdTime").map(_.asLong()).getOrElse(System.currentTimeMillis())))) ++
        snap.txns.toSeq.sortBy(_._1).map { case (app, v) => row("txn", Row(app, v)) } ++
        snap.domainMetadata.toSeq.sortBy(_._1).map { case (d, cfg) =>
          row("domainMetadata", Row(d, cfg, false))
        }
    }

    /** The `add` column over the distributed log index's rows. */
    def add: Column = {
      import org.apache.spark.sql.functions.{col, from_json, lit, struct}
      struct(
        col("path"), col("partitionValues"), col("size"),
        col("modificationTime"), lit(false).as("dataChange"), col("stats"),
        from_json(col("deletionVector"), graft.sources.DeltaLog.dvStructType)
          .as("deletionVector"),
        col("baseRowId"), col("defaultRowCommitVersion")).as("add")
    }

    /** The parquet part files a write left in `dir`, by name. */
    def parquetParts(f: FileSystem, dir: Path): Seq[Path] = {
      val it = f.listFiles(dir, false)
      val found = Seq.newBuilder[Path]
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && s.getPath.getName.endsWith(".parquet")) found += s.getPath
      }
      val parts = found.result().sortBy(_.getName)
      require(parts.nonEmpty, s"checkpoint write produced no parquet part in $dir")
      parts
    }
  }

  /** Multi-part checkpoint threshold: past this many add actions the
    * checkpoint splits into `%010d.%010d` parts (the spec's multi-part
    * form), each written by its own task.
    */
  val checkpointPartActions: Long = 1000000L

  /** Write a V2 checkpoint of the CURRENT snapshot (the public
    * PROTOCOL.md v2Checkpoint spec — the same section the reader half in
    * [[DeltaLog.checkpointActions]] was built from):
    *
    *   - file actions stream FROM the distributed log index into parquet
    *     **sidecar** files under `_delta_log/_sidecars/<uuid>.parquet`
    *     (each carrying `add`/`remove` columns only, ≤ `partActions` adds
    *     per file, written by its own task — the driver never holds the
    *     file list);
    *   - one small **manifest** `<v %020d>.checkpoint.<uuid>.{parquet,json}`
    *     carries the non-file actions — `checkpointMetadata` (v2's marker,
    *     exactly one), `protocol`, `metaData` (the table's original
    *     identity), every `txn` — plus one `sidecar` reference per sidecar
    *     file; driver cost is bounded by sidecar COUNT, not file count;
    *   - `_last_checkpoint` is refreshed (advisory, per spec — readers
    *     that distrust it list the directory, as ours does).
    *
    * Long-lived v2 tables can thus compact their log: once the manifest is
    * published, the JSON commits at/below it are replay-redundant and
    * eligible for metadata cleanup. Both manifest encodings round-trip
    * through the reader; `jsonManifest = true` selects NDJSON. Returns the
    * checkpointed version.
    */
  def checkpointV2(
      spark: SparkSession,
      tablePath: String,
      jsonManifest: Boolean = false,
      partActions: Long = checkpointPartActions): Long = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.lit
    require(partActions > 0, "partActions must be positive")
    val table = new Path(tablePath)
    val ls = DeltaLog.lazySnapshot(spark, tablePath)
    val snap = ls.meta
    requireWritable(tablePath, snap, "checkpoint", removesData = false)
    val f = fs(spark, table)
    val uuid = java.util.UUID.randomUUID().toString
    val strMap = MapType(StringType, StringType, valueContainsNull = true)
    // sidecars carry exclusively file actions per spec: add rows here,
    // plus an always-null remove column so the schema names both
    val removeType = StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType),
      StructField("dataChange", BooleanType)))
    val addDf = ls.indexDF.select(CheckpointActions.add,
      lit(null).cast(removeType).as("remove"))
    val nFiles = addDf.count()
    val sidecars: Seq[(String, Long, Long)] =
      if (nFiles == 0) Nil
      else {
        val nParts = math.max(1L, math.min(512L,
          (nFiles + partActions - 1) / partActions)).toInt
        val tmp = new Path(logDir(table), s".cp-tmp-$uuid")
        (if (nParts == 1) addDf.coalesce(1) else addDf.repartition(nParts))
          .write.parquet(tmp.toString)
        val sidecarDir = new Path(logDir(table), "_sidecars")
        f.mkdirs(sidecarDir)
        val parts = CheckpointActions.parquetParts(f, tmp)
        val out = parts.zipWithIndex.map { case (src, i) =>
          // fresh uuid-based names: sidecars are immutable and shared
          // across checkpoints that reference them — never overwritten
          val name = f"$uuid-${i + 1}%05d.parquet"
          val dst = new Path(sidecarDir, name)
          if (!f.rename(src, dst))
            throw new IllegalStateException(s"Failed to publish sidecar $dst")
          val st = f.getFileStatus(dst)
          (name, st.getLen, st.getModificationTime)
        }
        f.delete(tmp, true)
        out
      }

    val metaNode = snap.metaDataRaw.map(mapper.readTree)
    def metaField(n: String): Option[com.fasterxml.jackson.databind.JsonNode] =
      metaNode.flatMap(m => Option(m.get(n)).filterNot(_.isNull))
    val p = snap.protocol.getOrElse(DeltaLog.Protocol(1, 2))
    val manifestName = f"${snap.version}%020d.checkpoint.$uuid." +
      (if (jsonManifest) "json" else "parquet")
    val manifestPath = new Path(logDir(table), manifestName)

    if (jsonManifest) {
      val lines = Seq.newBuilder[String]
      val cm = mapper.createObjectNode()
      cm.putObject("checkpointMetadata").put("version", snap.version)
      lines += mapper.writeValueAsString(cm)
      lines += mapper.writeValueAsString(protocolAction(p))
      val mn = mapper.createObjectNode()
      metaNode match {
        case Some(raw) => mn.set[com.fasterxml.jackson.databind.JsonNode]("metaData", raw)
        case None =>
          val meta = mn.putObject("metaData")
          meta.put("id", java.util.UUID.randomUUID().toString)
          val fmt = meta.putObject("format")
          fmt.put("provider", "parquet"); fmt.putObject("options")
          meta.put("schemaString", snap.schema.json)
          val pcs = meta.putArray("partitionColumns")
          snap.partitionColumns.foreach(pcs.add)
          val cfg = meta.putObject("configuration")
          snap.configuration.toSeq.sortBy(_._1).foreach { case (k, v) => cfg.put(k, v) }
          meta.put("createdTime", System.currentTimeMillis())
      }
      lines += mapper.writeValueAsString(mn)
      snap.txns.toSeq.sortBy(_._1).foreach { case (app, v) =>
        val tn = mapper.createObjectNode()
        val txn = tn.putObject("txn")
        txn.put("appId", app); txn.put("version", v)
        lines += mapper.writeValueAsString(tn)
      }
      snap.domainMetadata.toSeq.sortBy(_._1).foreach { case (d, cfg) =>
        val dn = mapper.createObjectNode()
        val dm = dn.putObject("domainMetadata")
        dm.put("domain", d); dm.put("configuration", cfg); dm.put("removed", false)
        lines += mapper.writeValueAsString(dn)
      }
      sidecars.foreach { case (name, len, mt) =>
        val sn = mapper.createObjectNode()
        val sc = sn.putObject("sidecar")
        sc.put("path", name); sc.put("sizeInBytes", len)
        sc.put("modificationTime", mt)
        lines += mapper.writeValueAsString(sn)
      }
      val tmpManifest = new Path(logDir(table), s".tmp-manifest-$uuid")
      val out = LocalIo.create(f, tmpManifest, false)
      try out.write(lines.result().mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
      if (!f.rename(tmpManifest, manifestPath))
        throw new IllegalStateException(s"Failed to publish manifest $manifestPath")
    } else {
      val manifestSchema = StructType(
        StructField("checkpointMetadata", StructType(Seq(
          StructField("version", LongType),
          StructField("tags", strMap)))) +: CheckpointActions.fields :+
        StructField("sidecar", StructType(Seq(
          StructField("path", StringType),
          StructField("sizeInBytes", LongType),
          StructField("modificationTime", LongType),
          StructField("tags", strMap)))))
      def row(column: String, value: Row) = CheckpointActions.row(manifestSchema, column, value)
      // domainMetadata MUST ride in the manifest (like the JSON flavor and
      // the classic checkpoint): after metadata cleanup it is the only
      // carrier of e.g. delta.rowTracking's rowIdHighWaterMark — dropping
      // it would reassign stable row ids from 0 on the next commit
      val rows: Seq[Row] =
        row("checkpointMetadata", Row(snap.version, null)) +:
          CheckpointActions.rows(snap, manifestSchema) ++:
          sidecars.map { case (name, len, mt) => row("sidecar", Row(name, len, mt, null)) }
      val manifestDf = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), manifestSchema)
      val tmpManifest = new Path(logDir(table), s".tmp-manifest-$uuid")
      manifestDf.coalesce(1).write.parquet(tmpManifest.toString)
      val part = {
        val it = f.listFiles(tmpManifest, false)
        var found: Option[Path] = None
        while (it.hasNext && found.isEmpty) {
          val s = it.next()
          if (s.isFile && s.getPath.getName.endsWith(".parquet")) found = Some(s.getPath)
        }
        found.getOrElse(throw new IllegalStateException(
          s"manifest write produced no parquet part in $tmpManifest"))
      }
      if (!f.rename(part, manifestPath))
        throw new IllegalStateException(s"Failed to publish manifest $manifestPath")
      f.delete(tmpManifest, true)
    }

    // the new uuid-named manifest is live — NOW clear superseded manifests
    // of this version (classic or prior-uuid v2). Publish-then-delete:
    // after metadata cleanup a manifest can be the table's only replay
    // seed, so there must never be a window with no manifest on disk.
    val CpName =
      (f"${snap.version}%020d" + """\.checkpoint(\..*)?\.(parquet|json)""").r
    f.listStatus(logDir(table)).foreach { st =>
      val n = st.getPath.getName
      if (n != manifestName && CpName.pattern.matcher(n).matches())
        f.delete(st.getPath, false)
    }

    val lc = mapper.createObjectNode()
    lc.put("version", snap.version)
    lc.put("size",
      3L + snap.txns.size + snap.domainMetadata.size + sidecars.size)
    lc.put("sizeInBytes", sidecars.map(_._2).sum)
    lc.put("numOfAddFiles", nFiles)
    val outLc = LocalIo.create(f, new Path(logDir(table), "_last_checkpoint"), true)
    try outLc.write(mapper.writeValueAsBytes(lc)) finally outLc.close()
    snap.version
  }

  /** Remove JSON commit files (and superseded checkpoint files) strictly
    * BELOW the newest checkpoint — metadata cleanup for long-lived tables
    * (delta-spark's log-retention expiry). Only versions the checkpoint
    * makes replay-redundant are touched; the checkpoint itself and every
    * commit after it stay. Returns the number of files deleted.
    */
  def cleanupMetadata(spark: SparkSession, tablePath: String): Int = {
    val table = new Path(tablePath)
    val f = fs(spark, table)
    val CommitName = """(\d{20})\.json""".r
    val CrcName = """(\d{20})\.crc""".r
    val CpAnyName = """(\d{20})\.checkpoint(\..*)?\.(parquet|json)""".r
    val entries = f.listStatus(logDir(table)).toSeq
    // Only COMPLETE checkpoints count as replay seeds — shared judgement
    // with the read path (DeltaLog.resolveState) so cleanup can never
    // delete a commit the reader still needs.
    val cpVersions =
      graft.sources.DeltaLog.completeCheckpointVersions(entries.map(_.getPath.getName))
    if (cpVersions.isEmpty) return 0
    val newest = cpVersions.max
    var n = 0
    entries.foreach { st =>
      val del = st.getPath.getName match {
        case CommitName(v) => v.toLong <= newest
        // keep the newest version's checksum: post-cleanup readers seed at
        // `newest` and may still want to audit that state
        case CrcName(v) => v.toLong < newest
        case CpAnyName(v, _, _) => v.toLong < newest
        case _ => false
      }
      if (del && f.delete(st.getPath, false)) n += 1
    }
    n
  }

  /** Best-effort auto-checkpoint: the commit it follows is already
    * durable, so a checkpoint failure must not fail the write — the next
    * interval-crossing commit simply retries it.
    */
  private def maybeCheckpoint(spark: SparkSession, tablePath: String, version: Long): Unit =
    if (version > 0 && version % checkpointInterval == 0)
      try checkpoint(spark, tablePath)
      catch { case scala.util.control.NonFatal(_) => () }

  // ------------------------------------------------------------ data files

  /** Hive-unescape one `%XX`-escaped path segment (Spark's escapePathName
    * encoding — NOT URLDecoder, which also corrupts '+' into a space).
    */
  private[destinations] def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Partition values of hive `k=v` dir segments, Spark's escaping undone;
    * `__HIVE_DEFAULT_PARTITION__` (Spark's null marker) becomes a JSON null
    * per the Delta spec.
    */
  private[destinations] def hivePartitionValues(segments: Seq[String]): Seq[(String, Option[String])] =
    segments.map { seg =>
      val eq = seg.indexOf('=')
      require(eq > 0, s"unexpected non-hive partition dir: $seg")
      val v = unescapePathName(seg.substring(eq + 1))
      unescapePathName(seg.substring(0, eq)) ->
        (if (v == "__HIVE_DEFAULT_PARTITION__") None else Some(v))
    }

  /** Write `df` as parquet under the table root (hive `col=value/` layout,
    * partition columns dropped from the file data per the Delta spec) and
    * return the add-action descriptors. Move-dont-copy publication:
    * temp-dir write, one rename per part file. Each file's stats come from
    * the write task that wrote it ([[FileStatsTracker]]); `statsExclude`
    * keeps internal columns (materialized row ids) out of the stats
    * object — they are not table data and must never prune.
    */
  private def writeDataFiles(
      spark: SparkSession,
      table: Path,
      df: DataFrame,
      partitionColumns: Seq[String],
      subdir: String = "",
      withStats: Boolean = true,
      statsExclude: Set[String] = Set.empty): Seq[AddDescriptor] = {
    val f = fs(spark, table)
    val tmp = new Path(table, s"_tmp-${java.util.UUID.randomUUID()}")
    val dataSchema = StructType(df.schema.fields.filterNot(fd => partitionColumns.contains(fd.name)))
    val statCols = if (!withStats) Nil else dataSchema.fields.toSeq
      .filter(fd => statsEligible(fd.dataType) && !statsExclude(fd.name)).map(_.name)
    val tracker = new FileStatsTracker(dataSchema, statCols, partitionColumns.size)
    GraftShims.writeParquet(df, tmp.toString, partitionColumns, Seq(tracker))
    val fileStats = tracker.rows

    val base = if (subdir.isEmpty) table else new Path(table, subdir)
    val adds = Seq.newBuilder[AddDescriptor]
    val qtmp = f.makeQualified(tmp)
    // manual listStatus walk, NOT listFiles: LocatedFileStatus eagerly
    // copies owner/permission, which on RawLocalFileSystem forks a
    // process per file (visible in driver profiles); plain FileStatus
    // loads permissions lazily and this loop never asks for them
    def walkStatuses(dir: Path): Iterator[org.apache.hadoop.fs.FileStatus] =
      f.listStatus(dir).iterator.flatMap { st =>
        if (st.isDirectory) walkStatuses(st.getPath) else Iterator(st)
      }
    val it = walkStatuses(tmp)
    while (it.hasNext) {
      val s = it.next()
      val name = s.getPath.getName
      if (s.isFile && !name.startsWith("_") && !name.startsWith(".")) {
        val relDir = {
          val b = qtmp.toString; val d = f.makeQualified(s.getPath.getParent).toString
          if (d == b) "" else d.substring(b.length).dropWhile(_ == '/')
        }
        // every file the writer produced passed through the tracker: a
        // file without stats is a path-mapping bug and fails loudly rather
        // than committing a blind add
        val row = fileStats.getOrElse(if (relDir.isEmpty) name else s"$relDir/$name",
          throw new IllegalStateException(s"no write stats for new file ${s.getPath}"))
        // an EMPTY file (Spark emits a schema-only part file when a tiny
        // batch repartitions wider than its row count) is log noise: every
        // future scan would plan it and no stat would ever prune it. CDC
        // files (no stats) are published as written.
        if (!withStats || row.getLong(0) > 0L) {
          val destDir = if (relDir.isEmpty) base else new Path(base, relDir)
          f.mkdirs(destDir)
          val unique = s"part-${java.util.UUID.randomUUID()}.snappy.parquet"
          val dest = new Path(destDir, unique)
          if (!f.rename(s.getPath, dest))
            throw new IllegalStateException(s"Failed to move ${s.getPath} to $dest")
          val st = f.getFileStatus(dest)
          val rel0 = if (relDir.isEmpty) unique else s"$relDir/$unique"
          val rel = if (subdir.isEmpty) rel0 else s"$subdir/$rel0"
          val pv = if (relDir.isEmpty) Nil else hivePartitionValues(relDir.split('/').toSeq)
          adds += AddDescriptor(rel, pv, st.getLen, st.getModificationTime,
            stats = if (withStats) Some(statsJsonOf(row, 0, statCols)) else None)
        }
      }
    }
    f.delete(tmp, true)
    adds.result()
  }

  private[destinations] final case class AddDescriptor(
      relPath: String,
      partitionValues: Seq[(String, Option[String])],
      size: Long,
      modificationTime: Long,
      stats: Option[String] = None,
      deletionVector: Option[String] = None,
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)

  // ----------------------------------------------------------- file stats

  /** Columns that get per-file stats: top-level atomic types whose min/max
    * compare unambiguously. Timestamps (r16) serialize as ISO-8601 UTC
    * with microsecond precision ("2024-01-05T01:00:00.000000Z" —
    * delta-spark's convention at full precision, so no upper-bound
    * adjustment is needed); [[graft.sources.DeltaStats]] compares them as
    * INSTANTS, never strings, so foreign millisecond-precision stats
    * order correctly too. TimestampNTZ (r17) serializes the same ISO form
    * WITHOUT the zone suffix ("2024-01-05T01:00:00.000000", delta-spark's
    * zone-free spelling) and compares as wall-clock LocalDateTime; a
    * foreign coarser-precision max gets the same read-side pad as tz
    * timestamps ([[graft.sources.DeltaStats]]).
    */
  private def statsEligible(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.NumericType => true
    case org.apache.spark.sql.types.StringType => true
    case org.apache.spark.sql.types.DateType => true
    case org.apache.spark.sql.types.BooleanType => true
    case org.apache.spark.sql.types.TimestampType => true
    case org.apache.spark.sql.types.TimestampNTZType => true
    case _ => false
  }

  private val statsTsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    .withZone(java.time.ZoneOffset.UTC)

  private val statsNtzFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  private val StatsStringPrefix = 32

  /** One distributed scan over existing files → per-file
    * `{"numRecords":…,"minValues":{…},"maxValues":{…},"nullCount":{…}}`
    * stats JSON, keyed by table-relative path: what [[collectStats]]
    * backfills, and the reference the write path's [[FileStatsTracker]]
    * is pinned byte-equal to. Empty files get no entry.
    */
  private[destinations] def computeStats(
      spark: SparkSession,
      table: Path,
      adds: Seq[AddDescriptor],
      dataSchema: StructType): Map[String, String] = {
    import org.apache.spark.sql.functions.{col, count, lit, max => smax, min => smin, sum}
    val cols = dataSchema.fields.filter(f => statsEligible(f.dataType)).map(_.name).toSeq
    if (adds.isEmpty) return Map.empty
    val f = fs(spark, table)
    val absToRel = adds.map(a =>
      f.makeQualified(new Path(table, a.relPath)).toString -> a.relPath).toMap
    val aggs =
      count(lit(1)).as("_n") +:
        cols.flatMap(c => Seq(
          smin(col(c)).as(s"_min_$c"), smax(col(c)).as(s"_max_$c"),
          sum(col(c).isNull.cast("long")).as(s"_null_$c")))
    val rows = spark.read.schema(dataSchema).parquet(absToRel.keys.toSeq: _*)
      .groupBy(col("_metadata.file_path").as("_f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    rows.flatMap { r =>
      // `_metadata.file_path` is the URI-ENCODED form (hive-escaped dirs
      // surface as %xx); decode before matching the raw FS paths, or
      // every special-char partition file silently loses its stats
      val abs =
        try new Path(new java.net.URI(r.getString(0))).toString
        catch { case _: Exception => new Path(r.getString(0)).toString }
      absToRel.get(abs).orElse(
        absToRel.find { case (k, _) => new Path(k).toString == abs }.map(_._2)
      ).map(rel => rel -> statsJsonOf(r, 1, cols))
    }.toMap
  }

  /** The stats JSON of one file from its aggregate row: the record count
    * at `first`, then min, max and null count of each of `cols` — shared
    * by the write tasks' [[FileStatsTracker]] rows and the [[computeStats]]
    * scan, so the two cannot serialize differently.
    */
  private def statsJsonOf(r: org.apache.spark.sql.Row, first: Int, cols: Seq[String]): String = {
    val node = mapper.createObjectNode()
    node.put("numRecords", r.getLong(first))
    val minV = node.putObject("minValues")
    val maxV = node.putObject("maxValues")
    val nullC = node.putObject("nullCount")
    def put(o: com.fasterxml.jackson.databind.node.ObjectNode,
        c: String, v: Any, upper: Boolean): Unit =
      v match {
        case null => ()
        case s: String =>
          if (s.length <= StatsStringPrefix) o.put(c, s)
          else if (upper) o.put(c, s.substring(0, StatsStringPrefix) + "￿")
          else o.put(c, s.substring(0, StatsStringPrefix))
        case b: Boolean => o.put(c, b)
        case d: java.sql.Date => o.put(c, d.toString)
        case ld: java.time.LocalDate => o.put(c, ld.toString)
        case t: java.sql.Timestamp =>
          o.put(c, statsTsFormat.format(t.toInstant))
        case t: java.time.Instant => o.put(c, statsTsFormat.format(t))
        case l: java.time.LocalDateTime => // ntz: zone-free wall clock
          o.put(c, statsNtzFormat.format(l))
        case n: java.math.BigDecimal => o.put(c, n)
        case n: Number =>
          // NaN/Infinity have no JSON-number form — omit (never prunes)
          try o.put(c, new java.math.BigDecimal(n.toString))
          catch { case _: NumberFormatException => () }
        case other => o.put(c, other.toString)
      }
    cols.zipWithIndex.foreach { case (c, i) =>
      val at = first + 1 + 3 * i
      put(minV, c, r.get(at), upper = false)
      put(maxV, c, r.get(at + 1), upper = true)
      nullC.put(c, r.getLong(at + 2))
    }
    mapper.writeValueAsString(node)
  }

  // --------------------------------------------------------------- commits

  /** URI-encode an `add.path`/`remove.path` (RFC percent-encoding
    * preserving '/', per the Delta spec; the read bridge and delta-spark
    * both decode it). Two input shapes:
    *   - table-relative (every normal write): encode the whole string as
    *     a URI path component;
    *   - fully qualified with scheme(+authority) — shallowClone and
    *     collectStats-on-clone adds: the scheme and authority MUST
    *     survive into the log (the Delta spec stores absolute adds as
    *     full URIs), so only the path component is percent-encoded.
    *     Encoding `s3a://bucket/tbl/f.parquet` as a bare path would drop
    *     scheme and bucket and silently re-root the clone reference onto
    *     the reader's filesystem.
    */
  private[graft] def encodePath(rel: String): String = {
    val scheme = new Path(rel).toUri.getScheme
    if (scheme == null) new java.net.URI(null, null, rel, null).getRawPath
    else {
      val u = new Path(rel).toUri
      new java.net.URI(u.getScheme, u.getAuthority, u.getPath, null).toASCIIString
    }
  }

  /** The previous commit's `commitInfo.inCommitTimestamp` — one
    * first-line read of `<v>.json`; None when the commit is gone
    * (checkpoint-cleaned) or carries no in-commit clock.
    */
  private def prevInCommitTimestamp(
      spark: SparkSession, table: Path, v: Long): Option[Long] =
    try {
      val f = fs(spark, table)
      val p = commitPath(table, v)
      if (!f.exists(p)) return None
      val in = f.open(p)
      val firstLine =
        try new java.io.BufferedReader(
          new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8)).readLine()
        finally in.close()
      Option(firstLine).map(mapper.readTree)
        .flatMap(n => Option(n.get("commitInfo")).filterNot(_.isNull))
        .flatMap(ci => Option(ci.get("inCommitTimestamp")).filterNot(_.isNull))
        .map(_.asLong())
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Per-commit version-checksum maintenance (`<v>.crc`, the delta-spark
    * state summary a reader can audit the replay against).
    *   - Incremental: new state = previous crc + this commit's adds −
    *     removes (sizes supplied by the caller, who holds the removed
    *     AddFiles). Correct whenever every re-added EXISTING path also
    *     appears in removes (true for every rewrite path here — the
    *     remove/re-add pair cancels); chain-breaking shapes must not use
    *     it. No previous crc ⇒ nothing is written (foreign tables,
    *     pre-checksum history).
    *   - Exact: the caller supplies the post-commit numFiles/bytes (e.g.
    *     restore, which re-adds live paths without removing them and
    *     already holds the target index to aggregate).
    */
  /** The `{"protocol": {...}}` action for `p`; the feature lists appear
    * only at the versions that carry them (reader 3, writer 7). */
  private def protocolAction(p: DeltaLog.Protocol)
      : com.fasterxml.jackson.databind.node.ObjectNode = {
    val pn = mapper.createObjectNode()
    val proto = pn.putObject("protocol")
    proto.put("minReaderVersion", p.minReaderVersion)
    proto.put("minWriterVersion", p.minWriterVersion)
    if (p.minReaderVersion >= 3) {
      val rf = proto.putArray("readerFeatures")
      p.readerFeatures.toSeq.sorted.foreach(rf.add)
    }
    if (p.minWriterVersion >= 7) {
      val wf = proto.putArray("writerFeatures")
      p.writerFeatures.toSeq.sorted.foreach(wf.add)
    }
    pn
  }

  private[graft] sealed trait CrcPlan
  private[graft] object CrcPlan {
    final case class Incremental(removedSizes: Seq[Long]) extends CrcPlan
    final case class Exact(numFiles: Long, tableSizeBytes: Long) extends CrcPlan
    /** Re-add-in-place commits (stats backfill): live set unchanged. */
    case object Unchanged extends CrcPlan
  }

  private def commit(
      spark: SparkSession,
      table: Path,
      version: Long,
      operation: String,
      withMeta: Option[(StructType, Seq[String])],
      adds: Seq[AddDescriptor],
      removes: Seq[String],
      dataChange: Boolean = true,
      protocolUpgrade: Option[DeltaLog.Protocol] = None,
      metaConfig: Map[String, String] = Map.empty,
      cdcs: Seq[AddDescriptor] = Nil,
      ictEnabled: Boolean = false,
      rowIdBase: Option[Long] = None,
      extraDomains: Seq[(String, String)] = Nil,
      tableId: Option[String] = None,
      crc: CrcPlan = CrcPlan.Incremental(Nil),
      txn: Option[(String, Long)] = None,
      opParams: Seq[(String, String)] = Nil,
      opMetrics: Seq[(String, String)] = Nil,
      readScope: Option[Concurrency.ReadScope] = None): Long = {
    // one attempt at `version`, with the row-id base for that version
    def attempt(version: Long, rowIdBase: Option[Long], blindAppend: Boolean): Long = {
      val now = System.currentTimeMillis()
      val nonce = java.util.UUID.randomUUID().toString
      val lines = Seq.newBuilder[String]

      // row tracking: every add needs a baseRowId (its first fresh row id)
      // and defaultRowCommitVersion. Fresh files take ids past the table's
      // high-water mark in order (id space advances by numRecords per file);
      // adds arriving WITH ids (restore re-adds) keep them, only bumping the
      // mark. The new mark commits as a `delta.rowTracking` domainMetadata
      // action in the SAME commit — the spec's atomicity requirement.
      def nRecs(stats: Option[String]): Option[Long] =
        stats.flatMap(s =>
          try Option(mapper.readTree(s).get("numRecords")).filterNot(_.isNull).map(_.asLong())
          catch { case scala.util.control.NonFatal(_) => None })
      val (trackedAdds, rowDomain) = rowIdBase match {
        case None => (adds, None)
        case Some(prevHwm) =>
          var hwm = prevHwm
          val assigned = adds.map { a =>
            a.baseRowId match {
              case Some(b) =>
                nRecs(a.stats).foreach(n => hwm = math.max(hwm, b + n - 1))
                a
              case None =>
                val n = nRecs(a.stats).getOrElse(throw new IllegalStateException(
                  s"row tracking requires numRecords stats on ${a.relPath}"))
                val b = hwm + 1
                hwm += n
                a.copy(baseRowId = Some(b),
                  defaultRowCommitVersion = Some(version))
            }
          }
          val dm =
            if (hwm == prevHwm) None
            else Some("delta.rowTracking" -> s"""{"rowIdHighWaterMark":$hwm}""")
          (assigned, dm)
      }

      // in-commit timestamps: the authoritative monotonic clock lives in
      // commitInfo (file mtimes lie after copies/restores). Enablement comes
      // from the config riding THIS commit when one does (create / metadata
      // / append paths pass the table config) or from the caller's snapshot
      // config (`ictEnabled` — partial-rewrite commits pass no config), so
      // the chain NEVER depends on the previous commit file's survival
      // (checkpoint cleanup may remove it). The previous commit is read
      // only on ICT tables, for monotonicity: max(now, prev+1) per spec;
      // when cleanup removed it, `now` is the best available clock.
      val enabled =
        if (version == 0L || metaConfig.nonEmpty)
          metaConfig.get("delta.enableInCommitTimestamps")
            .exists(_.equalsIgnoreCase("true"))
        else ictEnabled
      val ict: Option[Long] =
        if (!enabled) None
        else {
          val prev =
            if (version == 0L) None
            else prevInCommitTimestamp(spark, table, version - 1)
          Some(math.max(now, prev.map(_ + 1L).getOrElse(now)))
        }

      val ci = mapper.createObjectNode()
      val info = ci.putObject("commitInfo")
      info.put("timestamp", now)
      ict.foreach(t => info.put("inCommitTimestamp", t))
      info.put("operation", operation)
      // DESCRIBE HISTORY fidelity (delta-spark convention: both maps carry
      // STRING values; metrics are the generic add/remove counts every
      // operation can state truthfully)
      val params = info.putObject("operationParameters")
      opParams.foreach { case (k, v) => params.put(k, v) }
      val metrics = info.putObject("operationMetrics")
      metrics.put("numAddedFiles", trackedAdds.size.toString)
      metrics.put("numRemovedFiles", removes.size.toString)
      metrics.put("numAddedBytes", trackedAdds.map(_.size).sum.toString)
      if (cdcs.nonEmpty)
        metrics.put("numAddedChangeFiles", cdcs.size.toString)
      val outRows = trackedAdds.map(a => nRecs(a.stats))
      if (trackedAdds.nonEmpty && outRows.forall(_.isDefined))
        metrics.put("numOutputRows", outRows.flatten.sum.toString)
      opMetrics.foreach { case (k, v) => metrics.put(k, v) }
      info.put("engineInfo", "graft")
      info.put("isBlindAppend", blindAppend)
      info.put("txnId", nonce)
      lines += mapper.writeValueAsString(ci)

      // idempotent-writer bookmark (SetTransaction): replay keeps the latest
      // version per appId, so a restarted job can ask "did my batch N land?"
      txn.foreach { case (appId, v) =>
        val tn = mapper.createObjectNode()
        val t = tn.putObject("txn")
        t.put("appId", appId)
        t.put("version", v)
        t.put("lastUpdated", now)
        lines += mapper.writeValueAsString(tn)
      }

      val protoJsonThisCommit: Option[String] = protocolUpgrade
        .orElse(if (version == 0L) Some(DeltaLog.Protocol(1, 2)) else None).map { p =>
          val pn = protocolAction(p)
          lines += mapper.writeValueAsString(pn)
          mapper.writeValueAsString(pn.get("protocol"))
        }
      val metaJsonThisCommit: Option[String] = withMeta.map { case (schema, partitionBy) =>
        val mn = mapper.createObjectNode()
        val meta = mn.putObject("metaData")
        // the table id is its IDENTITY: a re-emit keeps the one assigned at
        // create (a fresh id per schema change would make every evolution
        // look like a table replacement to streaming readers)
        meta.put("id", tableId.getOrElse(java.util.UUID.randomUUID().toString))
        val fmt = meta.putObject("format")
        fmt.put("provider", "parquet")
        fmt.putObject("options")
        meta.put("schemaString", schema.json)
        val pcs = meta.putArray("partitionColumns"); partitionBy.foreach(pcs.add)
        // a re-emitted metaData REPLACES the old one wholesale: dropping the
        // table's configuration here would silently strip properties like
        // delta.enableDeletionVectors or the column-mapping mode
        val cfg = meta.putObject("configuration")
        metaConfig.toSeq.sortBy(_._1).foreach { case (k, v) => cfg.put(k, v) }
        meta.put("createdTime", now)
        lines += mapper.writeValueAsString(mn)
        mapper.writeValueAsString(mn.get("metaData"))
      }
      removes.foreach { p =>
        val rn = mapper.createObjectNode()
        val rm = rn.putObject("remove")
        rm.put("path", p) // already encoded in the log we replayed it from
        rm.put("deletionTimestamp", now)
        rm.put("dataChange", dataChange)
        lines += mapper.writeValueAsString(rn)
      }
      val domainsThisCommit = rowDomain.toSeq ++ extraDomains
      domainsThisCommit.foreach { case (domain, cfg) =>
        val dn = mapper.createObjectNode()
        val d = dn.putObject("domainMetadata")
        d.put("domain", domain)
        d.put("configuration", cfg)
        d.put("removed", false)
        lines += mapper.writeValueAsString(dn)
      }
      trackedAdds.foreach { a =>
        val an = mapper.createObjectNode()
        val add = an.putObject("add")
        add.put("path", encodePath(a.relPath))
        val pv = add.putObject("partitionValues")
        a.partitionValues.foreach {
          case (k, Some(v)) => pv.put(k, v)
          case (k, None) => pv.putNull(k)
        }
        add.put("size", a.size)
        add.put("modificationTime", a.modificationTime)
        add.put("dataChange", dataChange)
        a.stats.foreach(add.put("stats", _))
        a.deletionVector.foreach(dj => add.set[com.fasterxml.jackson.databind.JsonNode](
          "deletionVector", mapper.readTree(dj)))
        a.baseRowId.foreach(add.put("baseRowId", _))
        a.defaultRowCommitVersion.foreach(add.put("defaultRowCommitVersion", _))
        lines += mapper.writeValueAsString(an)
      }
      // change-data files (CDF): readers use these EXCLUSIVELY for this
      // commit's changes when present; dataChange is false by spec (the cdc
      // file describes the change, it is not table data)
      cdcs.foreach { c =>
        val cn = mapper.createObjectNode()
        val cdc = cn.putObject("cdc")
        cdc.put("path", encodePath(c.relPath))
        val pv = cdc.putObject("partitionValues")
        c.partitionValues.foreach {
          case (k, Some(v)) => pv.put(k, v)
          case (k, None) => pv.putNull(k)
        }
        cdc.put("size", c.size)
        cdc.put("dataChange", false)
        lines += mapper.writeValueAsString(cn)
      }

      publishCommit(spark, table, version, lines.result().mkString("", "\n", "\n"))
      // the commit is durable; checksum maintenance is best-effort on top
      // (a crc write failure must not surface as a commit failure — the
      // retry discipline above would then double-publish). The failure IS
      // logged: it severs the incremental chain until the next Exact-plan
      // commit or an explicit [[repairChecksum]], and a silent severance
      // would surface as a confusing audit failure far from the cause.
      try maybeWriteCrc(spark, table, version, trackedAdds, removes, crc,
        metaJsonThisCommit, protoJsonThisCommit, domainsThisCommit)
      catch {
        case scala.util.control.NonFatal(e) =>
          Console.err.println(
            s"[graft] WARN: version checksum write failed for $table@$version " +
              s"(chain severed until repairChecksum): $e")
      }
      version
    }
    def rebasing(): Long = {
      // Optimistic concurrency: with a declared readScope, a lost commit race
      // re-reads the winning commit(s), classifies the overlap
      // (WriteSerializable rules, [[Concurrency.classify]]) and REBASES the
      // same actions at the next free version when disjoint — re-deriving the
      // row-id high-water mark from the winners so fresh ids never collide.
      // Without a readScope (create/convert/clone, version-embedding paths)
      // a lost race stays a loud ConcurrentCommitException.
      // stamped into commitInfo so a racing writer can tell a true blind
      // append from an insert-only read-based commit (MERGE with no matches
      // emits only adds but its adds are post-images) — delta-spark's
      // isBlindAppend convention, consumed by [[Concurrency.summarize]]
      val blindAppend =
        readScope.contains(Concurrency.ReadScope.Blind) && removes.isEmpty
      var attemptVersion = version
      var attemptRowIdBase = rowIdBase
      var rebases = 0
      while (readScope.isDefined) {
        try {
          return attempt(attemptVersion, attemptRowIdBase, blindAppend)
        } catch {
          case e: Concurrency.ConcurrentCommitException =>
            if (rebases >= 10) throw e
            rebases += 1
            val latest = DeltaLog.lazySnapshot(spark, table.toString).meta
            val winners =
              Concurrency.summarize(spark, table, attemptVersion, latest.version)
            val serializable = latest.configuration
              .get("delta.isolationLevel").exists(_.equalsIgnoreCase("Serializable"))
            Concurrency.classify(readScope.get, removes.toSet,
              txn.map(_._1).toSet, extraDomains.map(_._1).toSet,
              serializable, winners) match {
              case Some(reason) => throw new Concurrency.ConflictException(
                s"cannot commit $operation to $table: $reason")
              case None =>
                attemptVersion = latest.version + 1
                attemptRowIdBase = attemptRowIdBase
                  .map(_ => DeltaLog.rowIdHighWaterMark(latest))
            }
        }
      }
      attempt(version, rowIdBase, blindAppend)
    }
    val committed = rebasing()
    maybeUniformSync(spark, table, operation)
    committed
  }

  /** UniForm auto-sync (`delta.universalFormat.enabledFormats=iceberg`,
    * delta-spark's Universal Format): after every durable commit to an
    * enabled table, refresh the Iceberg metadata so foreign Iceberg
    * readers see the new state with NO manual export step. Matching
    * delta-spark's asynchronous-conversion contract, a failed refresh
    * warns loudly and never undoes the (already durable) Delta commit —
    * the next commit's export regenerates the FULL state from the
    * current snapshot, so a lagging Iceberg view self-heals. Cost is
    * metadata-bounded: one manifest listing the live files (plus
    * position-delete files for DVs), no data rewrite.
    */
  private def uniformIceberg(cfg: Map[String, String]): Boolean =
    cfg.get("delta.universalFormat.enabledFormats")
      .exists(_.toLowerCase.split(",").map(_.trim).contains("iceberg"))

  private def maybeUniformSync(
      spark: SparkSession, table: Path, operation: String): Unit = {
    // cheap short-circuit: enablement eagerly writes the FIRST Iceberg
    // metadata (createIfAbsent/setProperties below), so a table with no
    // version-hint can't be UniForm-enabled — one FS stat instead of a
    // log replay on every ordinary table's commit
    val hint = new Path(new Path(table, "metadata"), "version-hint.text")
    val maybe =
      try fs(spark, table).exists(hint)
      catch { case scala.util.control.NonFatal(_) => false }
    if (!maybe) return
    val enabled =
      try uniformIceberg(
        DeltaLog.lazySnapshot(spark, table.toString).meta.configuration)
      catch { case scala.util.control.NonFatal(_) => false }
    if (enabled)
      try { IcebergExport.export(spark, table.toString); () }
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] UniForm Iceberg sync after " +
            s"$operation on $table failed (Delta commit stands; next " +
            s"commit re-syncs): ${e.getMessage}")
      }
  }



  /** Write `<version>.crc` (delta-spark's VersionChecksum shape) when the
    * state can be derived soundly — see [[CrcPlan]]. Never throws into the
    * commit path; a missing crc is always legal, a wrong one never is.
    */
  private def maybeWriteCrc(
      spark: SparkSession,
      table: Path,
      version: Long,
      adds: Seq[AddDescriptor],
      removes: Seq[String],
      crc: CrcPlan,
      metaJsonThisCommit: Option[String],
      protoJsonThisCommit: Option[String],
      domainsThisCommit: Seq[(String, String)]): Unit = {
    val prev: Option[DeltaLog.VersionChecksum] =
      if (version == 0L)
        Some(DeltaLog.VersionChecksum(0L, 0L, "", "", Some(Map.empty)))
      else DeltaLog.readCrc(spark, table.toString, version - 1)
    val (nFiles, bytes) = crc match {
      case CrcPlan.Exact(n, b) => (n, b)
      case CrcPlan.Unchanged =>
        val p = prev.getOrElse(return ())
        (p.numFiles, p.tableSizeBytes)
      case CrcPlan.Incremental(removedSizes) =>
        val p = prev.getOrElse(return ()) // no chain to extend
        // a caller that removes files MUST supply their sizes; breaking
        // the chain (writing nothing) is safe, a guessed size is not
        if (removedSizes.size != removes.size) return ()
        (p.numFiles + adds.size - removes.size,
          p.tableSizeBytes + adds.map(_.size).sum - removedSizes.sum)
    }
    val metaJson = metaJsonThisCommit.orElse(
      prev.map(_.metadataJson).filter(_.nonEmpty)).getOrElse(return ())
    val protoJson = protoJsonThisCommit.orElse(
      prev.map(_.protocolJson).filter(_.nonEmpty)).getOrElse(return ())
    val domains =
      prev.flatMap(_.domainMetadata).getOrElse(Map.empty) ++ domainsThisCommit
    writeCrcFile(spark, table, version, nFiles, bytes, metaJson, protoJson, domains)
  }

  private def writeCrcFile(
      spark: SparkSession,
      table: Path,
      version: Long,
      nFiles: Long,
      bytes: Long,
      metaJson: String,
      protoJson: String,
      domains: Map[String, String]): Unit = {
    val n = mapper.createObjectNode()
    n.put("tableSizeBytes", bytes)
    n.put("numFiles", nFiles)
    n.put("numMetadata", 1L)
    n.put("numProtocol", 1L)
    n.set[com.fasterxml.jackson.databind.JsonNode]("metadata", mapper.readTree(metaJson))
    n.set[com.fasterxml.jackson.databind.JsonNode]("protocol", mapper.readTree(protoJson))
    if (domains.nonEmpty) {
      val arr = n.putArray("domainMetadata")
      domains.toSeq.sortBy(_._1).foreach { case (d, cfg) =>
        val dn = arr.addObject()
        dn.put("domain", d); dn.put("configuration", cfg); dn.put("removed", false)
      }
    }
    val f = fs(spark, table)
    val target = DeltaLog.crcPath(table.toString, version)
    // readers must never observe a half-written checksum (verifyChecksum
    // would scream corruption on a healthy table): write aside, publish by
    // rename. `version`'s crc has exactly one legal writer — the commit
    // winner — so an existing target can only be our own earlier partial
    // attempt, safe to replace.
    val tmp = new Path(logDir(table), s".tmp-crc-${java.util.UUID.randomUUID()}")
    val out = LocalIo.create(f, tmp, false)
    try out.write((mapper.writeValueAsString(n) + "\n").getBytes("UTF-8"))
    finally out.close()
    if (f.exists(target)) f.delete(target, false)
    if (!f.rename(tmp, target)) f.delete(tmp, false)
  }

  /** Recompute and publish the CURRENT version's checksum exactly from
    * the replayed state (one distributed aggregate over the log index) —
    * the chain-restart tool after a severed incremental chain (a crashed
    * crc write, commits by a checksum-less foreign writer) or for
    * adopting a pre-existing table into the audit regime. Subsequent
    * commits extend the chain incrementally again.
    */
  def repairChecksum(spark: SparkSession, tablePath: String): Long = {
    val ls = DeltaLog.lazySnapshot(spark, tablePath)
    val snap = ls.meta
    val (nFiles, bytes) = ls.liveFileStats()
    val metaJson = snap.metaDataRaw.getOrElse(throw new IllegalStateException(
      s"cannot repair checksum: $tablePath resolves no metaData"))
    val p = snap.protocol.getOrElse(DeltaLog.Protocol(1, 2))
    writeCrcFile(spark, new Path(tablePath), snap.version, nFiles, bytes,
      metaJson, mapper.writeValueAsString(protocolAction(p).get("protocol")),
      snap.domainMetadata)
    snap.version
  }

  /** Test seam: deterministic race injection. When set, runs ONCE (self-
    * clearing, so the injected winner's own commits don't recurse) right
    * before the atomic claim — the injected action commits the contended
    * version first and this writer loses the race on purpose.
    */
  private[destinations] var racePublishHook: Option[(Path, Long) => Unit] = None

  /** Create-exclusive publication of a commit file through
    * [[LocalIo.publishExclusive]]: a lost race is a
    * [[Concurrency.ConcurrentCommitException]], never a silently dropped
    * commit.
    */
  private def publishCommit(
      spark: SparkSession, table: Path, version: Long, content: String): Unit = {
    racePublishHook.foreach { h =>
      racePublishHook = None
      h(table, version)
    }
    val f = fs(spark, table)
    f.mkdirs(logDir(table))
    val won = LocalIo.publishExclusive(f, commitPath(table, version), content.getBytes("UTF-8"))
    if (!won)
      throw new Concurrency.ConcurrentCommitException(
        s"Concurrent Delta commit detected for version $version at $table")
  }
}
