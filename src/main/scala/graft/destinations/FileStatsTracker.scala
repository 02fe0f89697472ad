package graft.destinations

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{
  AttributeReference, Cast, InterpretedMutableProjection, InterpretedProjection, IsNull,
  JoinedRow, Literal, MutableProjection, SpecificInternalRow, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, DeclarativeAggregate, Max, Min, Sum}
import org.apache.spark.sql.execution.datasources.{
  WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Per-file column statistics collected in the write tasks, as each file
  * is written — the one stats path of the Delta and Iceberg commits
  * (delta-spark's `DeltaJobStatisticsTracker` shape).
  *
  * Each task keeps one aggregation buffer per file it opens and updates it
  * with every row the file writer receives. The buffers evaluate the same
  * Catalyst aggregates the read-back scans ([[DeltaWrite.computeStats]],
  * [[IcebergWrite.computeIcebergStats]]) run: `count(1)`, then `min`,
  * `max` and `sum(isNull)` of each of `statCols`. [[rows]] hands each
  * file's result through the Row deserializer `collect()` uses, so a
  * file's stats serialize exactly as the scan's would.
  *
  * @param dataSchema the data columns the file writer receives, in order
  *   (the written frame minus its partition columns)
  * @param statCols the columns of `dataSchema` that get min/max/null count
  * @param partitionDepth the number of hive `k=v` directories a file sits
  *   under (the number of partition columns)
  */
private[destinations] final class FileStatsTracker(
    dataSchema: StructType,
    statCols: Seq[String],
    partitionDepth: Int) extends WriteJobStatsTracker {

  @transient private lazy val collected =
    scala.collection.mutable.Map.empty[String, InternalRow]

  override def newTaskInstance(): WriteTaskStatsTracker =
    new FileStatsTracker.Task(dataSchema, statCols, partitionDepth)

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    stats.foreach { case FileStatsTracker.Files(files) => collected ++= files }

  /** Each written file's aggregate row — record count, then min, max and
    * null count of each stat column — keyed by the file's path under the
    * output directory (`k=v/…/part-….parquet`).
    */
  def rows: Map[String, Row] = {
    val schema = StructType(StructField("_n", LongType) +: statCols.zipWithIndex.flatMap {
      case (c, i) =>
        val t = dataSchema(c).dataType
        Seq(StructField(s"_min_$i", t), StructField(s"_max_$i", t),
          StructField(s"_null_$i", LongType))
    })
    val fromRow = FileStatsTracker.deserializer(schema)
    fromRow.synchronized(collected.iterator.map { case (k, r) => k -> fromRow(r) }.toMap)
  }
}

private[destinations] object FileStatsTracker {

  final case class Files(files: Map[String, InternalRow]) extends WriteTaskStats

  /** A written file's key: its last `depth + 1` path segments. */
  def keyOf(path: String, depth: Int): String =
    path.split('/').takeRight(depth + 1).mkString("/")

  private def lru[K, V](n: Int): java.util.Map[K, V] =
    new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = size > n
    }

  /** The per-row update projection by (data schema, stat columns), kept
    * per task thread (a projection is not thread-safe): generating its
    * code costs more than updating a small file's rows. It is bound by
    * position, so every task of that shape can use it.
    */
  private val updates =
    ThreadLocal.withInitial[java.util.Map[(StructType, Seq[String]), MutableProjection]](() => lru(16))

  /** Row deserializers by result schema and the Java 8 datetime setting
    * that picks their date and timestamp classes: building one runs the
    * analyzer and generates code, which costs more than a small commit's
    * other driver work. A deserializer is not thread-safe: callers hold
    * its lock while they use it.
    */
  private val deserializers = lru[(StructType, Boolean), ExpressionEncoder.Deserializer[Row]](16)

  private def deserializer(schema: StructType): ExpressionEncoder.Deserializer[Row] =
    deserializers.synchronized {
      deserializers.computeIfAbsent((schema, SQLConf.get.datetimeJava8ApiEnabled),
        _ => ExpressionEncoder(schema).resolveAndBind().createDeserializer())
    }

  private final class Task(dataSchema: StructType, statCols: Seq[String], depth: Int)
      extends WriteTaskStatsTracker {
    private val dataAttrs = dataSchema.map(f => AttributeReference(f.name, f.dataType)())
    private val aggs: Seq[DeclarativeAggregate] =
      Count(Literal(1)) +: statCols.flatMap { c =>
        val a = dataAttrs(dataSchema.fieldIndex(c))
        Seq(Min(a), Max(a), Sum(Cast(IsNull(a), LongType)))
      }
    private val bufferAttrs = aggs.flatMap(_.aggBufferAttributes)
    // init and result run once per file: interpreted, no code to generate
    private val init = new InterpretedMutableProjection(aggs.flatMap(_.initialValues))
    private val update = updates.get.computeIfAbsent((dataSchema, statCols), _ =>
      MutableProjection.create(aggs.flatMap(_.updateExpressions), bufferAttrs ++ dataAttrs))
    private val result = new InterpretedProjection(aggs.map(_.evaluateExpression), bufferAttrs)
    // buffer slots that can hold a reference into the writer's reused row
    // (a string min/max): copied whenever an update replaces them
    private val refSlots = bufferAttrs.indices.filterNot(i =>
      UnsafeRow.isFixedLength(bufferAttrs(i).dataType)).toArray
    private val refTypes = refSlots.map(bufferAttrs(_).dataType)
    private val before = new Array[AnyRef](refSlots.length)
    private val joined = new JoinedRow
    private val buffers = scala.collection.mutable.Map.empty[String, SpecificInternalRow]

    override def newPartition(partitionValues: InternalRow): Unit = ()

    override def newFile(filePath: String): Unit =
      buffers.getOrElseUpdate(filePath, {
        val b = new SpecificInternalRow(bufferAttrs.map(_.dataType))
        init.target(b).apply(InternalRow.empty)
        b
      })

    override def newRow(filePath: String, row: InternalRow): Unit = {
      val b = buffers(filePath)
      refSlots.indices.foreach(j => before(j) = b.get(refSlots(j), refTypes(j)).asInstanceOf[AnyRef])
      update.target(b).apply(joined(b, row))
      refSlots.indices.foreach { j =>
        val v = b.get(refSlots(j), refTypes(j)).asInstanceOf[AnyRef]
        if (v != null && (v ne before(j))) b.update(refSlots(j), InternalRow.copyValue(v))
      }
    }

    override def closeFile(filePath: String): Unit = ()

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      Files(buffers.iterator.map { case (p, b) => keyOf(p, depth) -> result(b).copy() }.toMap)
  }
}
