package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.internal.SQLConf

/** Minimal bridge to `private[sql]` Column↔Expression conversion (the
  * supported classic-mode helpers are sql-package-private in Spark 4).
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eagerly convert a Column's node tree to a Catalyst expression tree
    * (function calls become `UnresolvedFunction`s the analyzer resolves).
    * `expression` wraps lazily in a `ColumnNodeExpression`, which only the
    * DataFrame construction path converts — an expression returned from an
    * injected SQL FunctionBuilder must already be a plain Catalyst tree.
    */
  def convertedExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** A serializable thunk yielding the Hadoop configuration on executors
    * (`org.apache.spark.util.SerializableConfiguration` is spark-package-
    * private, so it cannot appear in a graft-visible signature).
    */
  def serializableConfThunk(
      conf: org.apache.hadoop.conf.Configuration)
      : () => org.apache.hadoop.conf.Configuration = {
    val sc = new org.apache.spark.util.SerializableConfiguration(conf)
    () => sc.value
  }

  /** A session on `spark`'s SparkContext and shared state (cache manager,
    * external catalog) with `spark`'s extensions and a copy of its SQL
    * confs, temp views and functions, with `confs` set on the copy only:
    * confs and views set on either session never reach the other.
    *
    * The copy never has artifact isolation of its own unless `spark` holds
    * session artifacts. A clone's artifact state is fixed from its confs
    * when it is cloned, and a clone of a session with
    * `spark.sql.artifact.isolation.enabled=true` (Spark 4.1's default) is
    * an artifact session of its own: every executor builds it a fresh class
    * loader, so its whole-stage code compiles again and its jobs run
    * slower. Such a session is cloned through an intermediate clone with
    * isolation off. Well under a millisecond for a session built with the
    * setting off (as `graft.Sessions` does), a few with the intermediate.
    */
  def cloneSession(spark: SparkSession, confs: Map[String, String] = Map.empty): SparkSession = {
    val caller = spark.asInstanceOf[classic.SparkSession]
    val isolation = SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key
    // `sessionArtifactAdded` is protected in Scala, public in the bytecode
    def hasArtifacts = {
      val am = caller.artifactManager
      am.getClass.getMethod("sessionArtifactAdded").invoke(am)
        .asInstanceOf[java.util.concurrent.atomic.AtomicBoolean].get
    }
    val base =
      if (caller.conf.get(isolation).toBoolean && !hasArtifacts) {
        val shared = caller.cloneSession()
        shared.conf.set(isolation, "false")
        shared
      } else caller
    val clone = base.cloneSession()
    confs.foreach { case (k, v) => clone.conf.set(k, v) }
    clone
  }

  /** Takes `spark`'s streaming listener bus off the SparkContext's listener
    * bus. A session's stream manager adds that bus when the session first
    * runs a stream, and Spark never removes it, so every short-lived clone
    * that ran a stream would leave one behind, fed every event, for the
    * life of the context. Does nothing while a stream of the session is
    * still active.
    */
  def releaseStreams(spark: SparkSession): Unit = {
    def field(owner: Class[_], name: String, of: AnyRef) = {
      val f = owner.getDeclaredField(name)
      f.setAccessible(true)
      f.get(of)
    }
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    // the manager is a lazy val: null until the session first used it
    Option(field(classOf[internal.SessionState], "streamingQueryManager", state)
      .asInstanceOf[classic.StreamingQueryManager]).filter(_.active.isEmpty).foreach { m =>
      spark.sparkContext.listenerBus.removeListener(
        field(m.getClass, "listenerBus", m)
          .asInstanceOf[org.apache.spark.scheduler.SparkListenerInterface])
    }
  }

  /** `df`'s analyzed plan as a frame of `spark`: planned and run under
    * `spark`'s confs from then on (the `classic.Dataset.ofRows` the
    * public API hides).
    */
  def ofRows(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], df.queryExecution.analyzed)

  /** Write `df` as parquet files under `path`, in hive `col=value/`
    * directories for `partitionColumns`, through Spark's file writer
    * (`FileFormatWriter`, the writer `df.write.parquet` ends in) as one SQL
    * execution. `trackers` see every file and row in the task that writes
    * them, beside Spark's own output metrics; delta-spark's
    * `TransactionalWrite.writeFiles` is the model. The write runs under
    * `df`'s session, so that session's parquet settings apply.
    *
    * The plan has the shape `df.write` plans (Spark's `V1Writes`): empty
    * strings of partition columns become null, the rows are sorted by the
    * partition columns, and a `WriteFilesExec` on top runs the write tasks.
    * Without that node the writer's job closure, which carries the Hadoop
    * configuration, would be serialized once more to check it.
    */
  def writeParquet(
      df: DataFrame,
      path: String,
      partitionColumns: Seq[String],
      trackers: Seq[execution.datasources.WriteJobStatsTracker]): Unit = {
    import execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter, WriteFilesExec}
    val resolver = df.sparkSession.sessionState.conf.resolver
    def isPartition(name: String) = partitionColumns.exists(resolver(_, name))
    val input =
      if (partitionColumns.isEmpty) df
      else df.select(df.schema.fields.toIndexedSeq.map { f =>
        val c = functions.col(s"`${f.name.replace("`", "``")}`")
        if (isPartition(f.name) && f.dataType == types.StringType)
          column(catalyst.expressions.Empty2Null(expression(c))).as(f.name, f.metadata)
        else c
      }: _*).sortWithinPartitions(df.schema.fieldNames.toIndexedSeq.filter(isPartition)
        .map(n => functions.col(s"`${n.replace("`", "``")}`")): _*)
    val ds = input.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    val hadoopConf = spark.sessionState.newHadoopConf()
    val out = new org.apache.hadoop.fs.Path(path)
    val qualified = out.getFileSystem(hadoopConf).makeQualified(out).toString
    execution.SQLExecution.withNewExecutionId(qe, Some("parquet write")) {
      val plan = qe.executedPlan
      val parts = partitionColumns.map(c => plan.output.find(a => resolver(a.name, c))
        .getOrElse(throw new IllegalArgumentException(s"partition column $c not in $path's data")))
      val format = new execution.datasources.parquet.ParquetFileFormat
      val committer = org.apache.spark.internal.io.FileCommitProtocol.instantiate(
        spark.sessionState.conf.fileCommitProtocolClass,
        java.util.UUID.randomUUID().toString, qualified)
      val basic = new BasicWriteJobStatsTracker(
        new org.apache.spark.util.SerializableConfiguration(hadoopConf),
        BasicWriteJobStatsTracker.metrics)
      FileFormatWriter.write(spark, WriteFilesExec(plan, format, parts, None, Map.empty, Map.empty),
        format, committer, FileFormatWriter.OutputSpec(qualified, Map.empty, plan.output),
        hadoopConf, parts, None, basic +: trackers, Map.empty)
    }
  }

  /** `spark.sql.files.maxPartitionBytes` as a Long (the typed SQLConf
    * accessor is sql-package-private).
    */
  def filesMaxPartitionBytes(spark: SparkSession): Long =
    spark.sessionState.conf.filesMaxPartitionBytes

  /** Re-wrap a batch DataFrame's physical rows as a STREAMING DataFrame —
    * what a v1 streaming `Source.getBatch` must return (MicroBatchExecution
    * asserts `isStreaming`; the classic `internalCreateDataFrame` that sets
    * the flag is sql-package-private, same pattern as FileStreamSource).
    */
  def asStreamingDataFrame(spark: SparkSession, df: DataFrame): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = true)

  /** The inverse, for v1 `Sink.addBatch`: the engine hands a
    * streaming-flagged frame whose plan IS the executable micro-batch;
    * re-wrap it as a batch frame so batch writers accept it (the
    * ForeachBatchSink pattern).
    */
  def asBatchDataFrame(spark: SparkSession, df: DataFrame): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = false)

  /** Inspect a `Source.getBatch` result OUTSIDE a running micro-batch:
    * re-flag the underlying row RDD as a batch frame without executing
    * the streaming plan first (`asBatchDataFrame` calls `toRdd`, which
    * batch execution refuses on an `isStreaming` plan).
    */
  def stripStreaming(spark: SparkSession, df: DataFrame): DataFrame = {
    val rdd = df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.asInstanceOf[org.apache.spark.rdd.RDD[
          org.apache.spark.sql.catalyst.InternalRow]]
    }.getOrElse(throw new IllegalArgumentException(
      s"not a Source.getBatch frame: ${df.queryExecution.analyzed.nodeName}"))
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, df.schema, isStreaming = false)
  }
}
