package graft.run

import graft.config.Aqueduct
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.concurrent.{Future, Promise}

/** Single-concurrency pipeline execution service — the Spark-native
  * equivalent of the reference executor's manager: FIFO queue, exactly one
  * pipeline running at a time (Semaphore(1),
  * aqueducts-executor/src/executor/manager.rs:13-27), queue-position
  * reporting, and cancellation (CancellationToken raced against the job,
  * manager.rs:62-70 → here `sparkContext.cancelJobGroup`).
  *
  * Transport-free by design: the WebSocket layer of the reference is
  * plumbing around exactly this contract; embed this service behind any
  * server front end.
  */
final class PipelineService(spark: SparkSession, maxQueue: Int = 16) {

  final class Handle private[PipelineService] (
      val id: String, val result: Future[Option[DataFrame]]) {
    /** 0 = running, n>0 = position in queue, -1 = finished/not found. */
    def queuePosition: Int = positionOf(id)
  }

  import PipelineService.Submission

  private val queue = new java.util.concurrent.LinkedBlockingDeque[Submission](maxQueue)
  @volatile private var current: Option[Submission] = None
  @volatile private var shutdown = false

  def submit(pipeline: Aqueduct, tracker: ProgressTracker = new LoggingTracker): Handle = {
    if (shutdown) throw new IllegalStateException("PipelineService is closed")
    val id = s"graft-${java.util.UUID.randomUUID()}"
    val sub = Submission(id, pipeline, tracker, Promise())
    if (!queue.offerLast(sub))
      throw new IllegalStateException(s"Pipeline queue full (max $maxQueue)")
    new Handle(id, sub.promise.future)
  }

  /** Cancel a queued submission (removed, promise fails) or the running one
    * (its cancelled flag is set AND its Spark job group is cancelled: the
    * group kill aborts jobs already running, the flag stops the runner from
    * submitting the remaining stages when the cancel lands between jobs).
    */
  def cancel(id: String): Boolean = {
    val it = queue.iterator()
    while (it.hasNext) {
      val s = it.next()
      if (s.id == id) {
        it.remove()
        s.promise.failure(new java.util.concurrent.CancellationException(s"cancelled: $id"))
        return true
      }
    }
    current match {
      case Some(s) if s.id == id =>
        s.cancelled.set(true)
        spark.sparkContext.cancelJobGroup(s.id)
        true
      case _ => false
    }
  }

  private def positionOf(id: String): Int = {
    if (current.exists(_.id == id)) return 0
    var pos = 1
    val it = queue.iterator()
    while (it.hasNext) {
      if (it.next().id == id) return pos
      pos += 1
    }
    -1
  }

  private val worker = new Thread("graft-pipeline-service") {
    override def run(): Unit = {
      while (!shutdown) {
        val sub = queue.pollFirst(100, java.util.concurrent.TimeUnit.MILLISECONDS)
        if (sub != null) {
          current = Some(sub)
          try {
            // group id scopes cancellation to this pipeline's Spark jobs
            spark.sparkContext.setJobGroup(sub.id, s"pipeline ${sub.id}", interruptOnCancel = true)
            val out = Runner.run(spark, sub.pipeline, sub.tracker,
              shouldAbort = () => sub.cancelled.get)
            sub.promise.success(out)
          } catch {
            case e: Throwable => sub.promise.tryFailure(e)
          } finally {
            spark.sparkContext.clearJobGroup()
            current = None
          }
        }
      }
    }
  }
  worker.setDaemon(true)
  worker.start()

  /** Stop the worker and fail every still-queued submission — a caller
    * awaiting a queued handle must see a prompt CancellationException, not
    * hang until its own timeout.
    */
  def close(): Unit = {
    shutdown = true
    var s = queue.pollFirst()
    while (s != null) {
      s.promise.tryFailure(
        new java.util.concurrent.CancellationException(s"service closed: ${s.id}"))
      s = queue.pollFirst()
    }
  }
}

object PipelineService {
  private final case class Submission(
      id: String, pipeline: Aqueduct, tracker: ProgressTracker,
      promise: Promise[Option[DataFrame]],
      cancelled: java.util.concurrent.atomic.AtomicBoolean =
        new java.util.concurrent.atomic.AtomicBoolean(false))
}
