package graft.run

import graft.config.Aqueduct
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.concurrent.{Future, Promise}

/** Single-concurrency pipeline execution service — the Spark-native
  * equivalent of the reference executor's manager: FIFO queue, exactly one
  * pipeline running at a time (Semaphore(1),
  * aqueducts-executor/src/executor/manager.rs:13-27), queue-position
  * reporting, and cancellation (CancellationToken raced against the job,
  * manager.rs:62-70 → here `sparkContext.cancelJobGroupAndFutureJobs`).
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
    * (its cancelled flag is set AND its Spark job group is cancelled with
    * its future jobs: the group kill aborts jobs already running and every
    * job the group starts later — a cancel that lands after the runner's
    * last abort check but before the stage's job starts must not let that
    * job run — and the flag stops steps that run no Spark job). Either way
    * the handle fails with a CancellationException.
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
        cancelledGroups.add(s.id)
        killLateJobs()
        // group ids are per-submission UUIDs: cancelling the group's future
        // jobs never touches a later pipeline
        spark.sparkContext.cancelJobGroupAndFutureJobs(s.id)
        true
      case _ => false
    }
  }

  // Group ids of cancelled RUNNING submissions. `cancelJobGroupAndFutureJobs`
  // makes Spark skip the group's later result jobs, but adaptive execution
  // submits shuffle map stages through `submitMapStage`, which never checks
  // the cancelled groups (Spark 4.1) — so a listener, added on the first
  // such cancel, kills any job that starts in one of these groups.
  private val cancelledGroups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private var lateJobKiller: Option[org.apache.spark.scheduler.SparkListener] = None

  private def killLateJobs(): Unit = synchronized {
    if (lateJobKiller.isEmpty) {
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .filter(cancelledGroups.contains)
            .foreach(g => spark.sparkContext.cancelJob(e.jobId, s"pipeline $g cancelled"))
      }
      spark.sparkContext.addSparkListener(l)
      lateJobKiller = Some(l)
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
            case e: Throwable =>
              sub.promise.tryFailure(
                if (!sub.cancelled.get || e.isInstanceOf[java.util.concurrent.CancellationException]) e
                else {
                  val c = new java.util.concurrent.CancellationException(s"cancelled: ${sub.id}")
                  c.initCause(e)
                  c
                })
          } finally {
            spark.sparkContext.clearJobGroup()
            cancelledGroups.remove(sub.id)
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
    synchronized {
      lateJobKiller.foreach(spark.sparkContext.removeSparkListener)
      lateJobKiller = None
    }
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
