package perfbench

import graft.run.{OutputType, ProgressEvent, ProgressTracker}
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Timestamps every progress event a pipeline reports. The benchmark passes
  * one to `Runner.run`; for remote pipelines it is fed from the client-side
  * arrival times of `progress_update` messages.
  */
final class EventClock extends ProgressTracker {
  private val evts = new java.util.concurrent.ConcurrentLinkedQueue[(Long, ProgressEvent)]()
  def record(at: Long, event: ProgressEvent): Unit = evts.add((at, event))
  override def onProgress(event: ProgressEvent): Unit = record(System.nanoTime(), event)
  override def onOutput(stageName: String, outputType: OutputType, body: String): Unit = ()
  def events: Seq[(Long, ProgressEvent)] = evts.asScala.toSeq.sortBy(_._1)
}

object EventClock {
  private val One = """(\w+)\((.*)\)""".r

  /** Inverse of `ProgressEvent.toString`, the form `progress_update` carries. */
  def parse(s: String): Option[ProgressEvent] = s match {
    case "Started" => Some(ProgressEvent.Started)
    case One("SourceRegistered", n) => Some(ProgressEvent.SourceRegistered(n))
    case One("StageStarted", a) => a.split(",") match {
      case Array(n, g) => Some(ProgressEvent.StageStarted(n, g.toInt))
      case _ => None
    }
    case One("StageCompleted", a) => a.split(",") match {
      case Array(n, g, d) => Some(ProgressEvent.StageCompleted(n, g.toInt, d.toLong))
      case _ => None
    }
    case One("DestinationCompleted", n) => Some(ProgressEvent.DestinationCompleted(n))
    case One("Completed", d) => Some(ProgressEvent.Completed(d.toLong))
    case _ => None
  }
}

/** One Spark job with the task metrics summed over its stages. Times are in
  * the `System.nanoTime` domain of the spans.
  */
final class JobRecord(val id: Int, val group: Option[String], val start: Long) {
  @volatile var end: Long = Long.MaxValue
  var tasks = 0L
  var taskCpuNs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
}

/** Collects job intervals and task metrics through the public listener API. */
final class JobListener extends SparkListener {
  // listener events carry wall-clock milliseconds; spans use nanoTime
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNs(ms: Long) = ms * 1000000L + offsetNs
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRecord]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRecord]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val j = new JobRecord(e.jobId, group, toNs(e.time))
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageToJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = toNs(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageToJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null) j.synchronized {
      j.tasks += 1
      if (m != null) {
        j.taskCpuNs += m.executorCpuTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def all: Seq[JobRecord] = jobs.values().asScala.toSeq.sortBy(_.start)
}

/** A timed interval of one pipeline at one layer boundary. */
final case class Span(pipeline: Int, id: Int, parent: Int, name: String, layer: String,
    start: Long, end: Long) {
  def durNs: Long = end - start
}

/** Everything the benchmark observed about one pipeline, from outside the
  * engine. All times are `System.nanoTime` values.
  *
  * @param kind     `etl`, `upsert`, `timetravel` or `remote`
  * @param start    the call (in-process) or the client-side render (remote)
  * @param parsed   when `ConfigParser.fromYaml` returned
  * @param submit   remote only: when the request was sent
  * @param ready    remote only: when the service could take the request,
  *                 that is the later of `submit` and the previous
  *                 pipeline's terminal message
  * @param end      return of the call, or arrival of the terminal message
  * @param group    Spark job group the benchmark set (in-process traced runs)
  */
final case class PipelineRecord(
    seq: Int,
    kind: String,
    start: Long,
    parsed: Long,
    end: Long,
    events: Seq[(Long, ProgressEvent)],
    submit: Option[Long] = None,
    ready: Option[Long] = None,
    group: Option[String] = None,
    messages: Int = 0,
    bytesIn: Long = 0L,
    error: Option[String] = None,
    listing: Option[Listing] = None) {
  def wallMs: Double = (end - start) / 1e6
  def at(p: PartialFunction[ProgressEvent, Boolean]): Seq[Long] =
    events.collect { case (t, e) if p.isDefinedAt(e) && p(e) => t }
}

/** File counts under a destination after one commit. */
final case class Listing(logFiles: Long, logBytes: Long, dataFiles: Long, dataBytes: Long)

object Listing {
  def of(dir: java.nio.file.Path): Listing = {
    var lf, lb, df, db = 0L
    if (java.nio.file.Files.exists(dir)) {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p)).foreach { p =>
        val size = java.nio.file.Files.size(p)
        if (dir.relativize(p).toString.startsWith("_delta_log")) { lf += 1; lb += size }
        else if (p.getFileName.toString.endsWith(".parquet")) { df += 1; db += size }
      } finally s.close()
    }
    Listing(lf, lb, df, db)
  }

  /** Total bytes of regular files under `dir`. */
  def bytes(dir: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(dir)
    try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => java.nio.file.Files.size(p)).sum
    finally s.close()
  }
}

/** Builds span trees from pipeline records and job records, and reduces them
  * to the per-layer metrics.
  */
object Trace {

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0L
    var open = false
    clipped.foreach { case (a, b) =>
      if (!open) { curA = a; curB = b; open = true }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (open) total += curB - curA
    total
  }

  /** Jobs of each pipeline: by job group where the benchmark set one, else by
    * time containment in the window where the pipeline ran. The service runs
    * one pipeline at a time, so running windows do not overlap.
    */
  def assign(records: Seq[PipelineRecord], jobs: Seq[JobRecord]): Map[Int, Seq[JobRecord]] = {
    val byGroup = jobs.filter(_.group.nonEmpty).groupBy(_.group.get)
    records.map { r =>
      val mine = r.group match {
        case Some(g) => byGroup.getOrElse(g, Nil)
        case None =>
          val lo = r.ready.getOrElse(r.start)
          jobs.filter(j => j.group.forall(_.startsWith("graft-")) && j.start >= lo && j.start <= r.end)
      }
      r.seq -> mine
    }.toMap
  }

  def spans(r: PipelineRecord, jobs: Seq[JobRecord]): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    def add(parent: Int, name: String, layer: String, a: Long, b: Long): Int = {
      val id = out.size
      out += Span(r.seq, id, parent, name, layer, a, math.max(a, b))
      id
    }
    val root = add(-1, s"pipeline[${r.kind}]", "pipeline", r.start, r.end)
    add(root, "config.parse", "config", r.start, r.parsed)
    val started = r.at { case ProgressEvent.Started => true }.headOption
    r.submit.foreach { s =>
      val ready = r.ready.getOrElse(s)
      if (ready > s) add(root, "server.queue", "server", s, ready)
    }
    started.foreach(t => add(root, "run.validate", "run", r.ready.getOrElse(r.parsed), t))
    val registered = r.at { case _: ProgressEvent.SourceRegistered => true }
    for (t0 <- started; t1 <- registered.lastOption) add(root, "sources.register", "sources", t0, t1)

    val stageStarts = r.events.collect { case (t, ProgressEvent.StageStarted(n, g)) => (n, g, t) }
    val stageEnds = r.events.collect { case (t, ProgressEvent.StageCompleted(n, _, _)) => n -> t }.toMap
    val stageSpans = mutable.ArrayBuffer.empty[Int]
    stageStarts.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (g, ss) =>
      val ends = ss.flatMap(s => stageEnds.get(s._1))
      val gid = add(root, s"run.stage_group[$g]", "run", ss.map(_._3).min,
        (ends :+ ss.map(_._3).max).max)
      ss.foreach { case (n, _, t) =>
        stageSpans += add(gid, s"run.stage[$n]", "run", t, stageEnds.getOrElse(n, t))
      }
    }
    val lastStageEnd = stageEnds.values.maxOption
    val destDone = r.at { case _: ProgressEvent.DestinationCompleted => true }.headOption
    for (a <- lastStageEnd; b <- destDone) add(root, "destinations.write", "destinations", a, b)
    if (r.kind == "timetravel")
      r.at { case _: ProgressEvent.Completed => true }.headOption
        .foreach(t => add(root, "run.result", "run", t, r.end))

    // a job nests in the innermost span that contains its start; concurrent
    // stages of one group leave it at the group
    val containers = out.toSeq.filter(_.layer != "config")
    jobs.foreach { j =>
      val end = math.min(j.end, r.end)
      val holders = containers.filter(s => s.start <= j.start && j.start <= s.end)
      val innermost = holders.filter(h => !holders.exists(o => o.parent == h.id))
      val parent =
        if (innermost.size == 1) innermost.head.id
        else holders.filter(h => innermost.forall(i => i.parent == h.id)).lastOption
          .map(_.id).getOrElse(root)
      add(parent, s"spark.job[${j.id}]", "spark", j.start, end)
    }
    out.toSeq
  }

  /** Per-span self time: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Seq[(Span, Long)] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s -> (s.durNs - covered(kids, s.start, s.end))
    }
  }

  val Layers: Seq[String] = Seq("pipeline", "config", "run", "sources", "destinations", "spark", "server")
}
