package graft.run

import graft.config._
import graft.sources.DeltaLog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import scala.util.Try

/** Which side of the size limit one pipeline runs on, chosen from the bytes
  * its inputs plan to read once its sources are registered and before any
  * stage is planned. The side sets its session's execution settings and
  * whether it caches the stages it reuses.
  */
object ExecutionPolicy {

  /** Whether a pipeline whose sources are registered on `session` runs on
    * the small side. Its session then takes [[smallConfs]], and a stage it
    * reuses stays lazy when it is deterministic (see [[Runner]]).
    * Everything else, inputs of unknown size included, keeps the session's
    * settings and persists reused stages.
    *
    * Small means at most `spark.sql.adaptive.coalescePartitions.minPartitionSize`
    * (1 MiB by default) per core of the SparkContext: the bytes below which
    * adaptive coalescing would give each core at most one minimum-size
    * partition. The limit is measured: on 4 cores an etl-shaped pipeline
    * (four parquet sources, joins, aggregates, a window) on one partition
    * was faster up to 3.4 MB of input, neither side won consistently from
    * 5.7 to 14 MB, and it ran 1.1-1.7x slower from 38 MB on, where the one
    * post-shuffle task leaves the other cores idle. Other shapes and core
    * counts are not measured.
    */
  def small(session: SparkSession, pipeline: Aqueduct): Boolean = {
    val limit = session.sessionState.conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) *
      session.sparkContext.defaultParallelism
    plannedInputBytes(session, pipeline).exists(_ <= limit)
  }

  /** The small side's settings: adaptive execution off and one shuffle
    * partition. Each shuffle then runs inside the job that consumes it,
    * with no job of its own and no re-planning in between, and the
    * post-shuffle work runs in one task.
    */
  val smallConfs: Map[String, String] =
    Map("spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> "1")

  /** The bytes a registered pipeline plans to read, found without a Spark
    * job: each source view's analyzed size estimate (file listings, Delta
    * and Iceberg log file sizes), plus the live bytes of a Delta destination
    * whose write mode reads the table. None when any of them is unknown: an
    * RDD-backed view, JDBC, or anything else Spark sizes at
    * `spark.sql.defaultSizeInBytes`.
    */
  def plannedInputBytes(session: SparkSession, pipeline: Aqueduct): Option[BigInt] = {
    val unknown = BigInt(session.sessionState.conf.defaultSizeInBytes)
    val sources = pipeline.sources.map { s =>
      Try(session.table(s"`${s.name.replace("`", "``")}`")
        .queryExecution.analyzed.stats.sizeInBytes).toOption
        .filter(_ < unknown)
    }
    val table = pipeline.destination.toSeq.collect {
      case d: ManagedTableDestination if d.writeMode != TableAppend =>
        Try(DeltaLog.liveBytes(session, d.location.spark)).toOption.flatten.map(BigInt(_))
    }
    val all = sources ++ table
    if (all.forall(_.isDefined)) Some(all.flatten.sum) else None
  }
}
