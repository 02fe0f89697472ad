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
  // Every submission, by id, from `submit` until it finishes or is
  // cancelled while queued. `cancel` finds it here, so the moment between
  // the worker's take off `queue` and its run hides it from no cancel.
  private val live = new java.util.concurrent.ConcurrentHashMap[String, Submission]()
  @volatile private var shutdown = false

  /** Test seam: runs on the worker right after it takes a submission (by
    * id) off the queue and before the submission runs.
    */
  @volatile private[run] var afterTakeHook: String => Unit = _ => ()

  def submit(pipeline: Aqueduct, tracker: ProgressTracker = new LoggingTracker): Handle = {
    if (shutdown) throw new IllegalStateException("PipelineService is closed")
    val id = s"graft-${java.util.UUID.randomUUID()}"
    val sub = Submission(id, pipeline, tracker, Promise())
    live.put(id, sub)
    if (!queue.offerLast(sub)) {
      live.remove(id)
      throw new IllegalStateException(s"Pipeline queue full (max $maxQueue)")
    }
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
  def cancel(id: String): Boolean = Option(live.get(id)) match {
    case None => false
    case Some(s) =>
      s.cancelled.set(true)
      if (queue.remove(s)) { // still queued: the worker never sees it
        live.remove(id)
        s.promise.failure(new java.util.concurrent.CancellationException(s"cancelled: $id"))
      } else { // taken by the worker, running or about to
        cancelledGroups.add(id)
        killLateJobs()
        // group ids are per-submission UUIDs: cancelling the group's future
        // jobs never touches a later pipeline
        spark.sparkContext.cancelJobGroupAndFutureJobs(id)
      }
      true
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
    val s = live.get(id)
    if (s == null) return -1
    var pos = 1
    val it = queue.iterator()
    while (it.hasNext) {
      if (it.next().id == id) return pos
      pos += 1
    }
    if (s.cancelled.get) -1 else 0 // off the queue: cancelled, or taken by the worker
  }

  private val worker = new Thread("graft-pipeline-service") {
    override def run(): Unit = {
      while (!shutdown) {
        val sub = queue.pollFirst(100, java.util.concurrent.TimeUnit.MILLISECONDS)
        if (sub != null) {
          // the handle completes after the cleanup, so a finished handle
          // never reads as running
          val outcome = try {
            afterTakeHook(sub.id)
            if (sub.cancelled.get)
              throw new java.util.concurrent.CancellationException(s"cancelled: ${sub.id}")
            // group id scopes cancellation to this pipeline's Spark jobs
            spark.sparkContext.setJobGroup(sub.id, s"pipeline ${sub.id}", interruptOnCancel = true)
            scala.util.Success(Runner.run(spark, sub.pipeline, sub.tracker,
              shouldAbort = () => sub.cancelled.get))
          } catch {
            case e: Throwable =>
              scala.util.Failure(
                if (!sub.cancelled.get || e.isInstanceOf[java.util.concurrent.CancellationException]) e
                else {
                  val c = new java.util.concurrent.CancellationException(s"cancelled: ${sub.id}")
                  c.initCause(e)
                  c
                })
          } finally {
            spark.sparkContext.clearJobGroup()
            live.remove(sub.id)
            cancelledGroups.remove(sub.id)
          }
          sub.promise.tryComplete(outcome)
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
      live.remove(s.id)
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
