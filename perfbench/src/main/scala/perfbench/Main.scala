package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Pipeline benchmark entry point. One invocation runs one workload:
  *
  *   1. set-up, once and cold: JVM start, a session from `graft.Sessions`,
  *      fresh directories (and the executor service for `remote_small`),
  *      and untimed warm-up pipelines. `setup_s` is its wall time. A
  *      repetition inside the same, warm JVM would not measure class
  *      loading, JIT or the first session start.
  *   2. the timed closed loop. With `--trace 1` the window is split into an
  *      untraced quarter, a traced half (SparkListener, job groups,
  *      destination listings) and an untraced quarter; the tracing overhead
  *      is the difference of the traced and untraced medians.
  *   3. output checks against DataFrame references, outside the timing.
  *
  * Prints an environment record, a table of metrics, and as the last line
  * one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
  * end-to-end metrics, or with `--trace 1` the per-layer metrics). Exits 1
  * when any output is wrong.
  *
  * {{{
  *   perfbench.Main gen --data DIR [--toy]
  *   perfbench.Main --workload etl --seed 1 --seconds 20 --trace 0 \
  *     --data DIR --work DIR [--toy] [--corrupt-expected] [--spans FILE] \
  *     [--nproc N --heap 2g --commit ID --load1 L]
  * }}}
  */
object Main {

  final case class Opts(
      workload: String = "",
      seed: Long = 0,
      seconds: Double = 10,
      trace: Boolean = false,
      data: String = "",
      work: String = "",
      toy: Boolean = false,
      corruptExpected: Boolean = false,
      spans: Option[String] = None,
      nproc: Int = Runtime.getRuntime.availableProcessors(),
      heap: String = "",
      commit: String = "unknown",
      load1: Double = -1)

  private def parse(args: List[String], o: Opts): Opts = args match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--data" :: v :: t => parse(t, o.copy(data = v))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--toy" :: t => parse(t, o.copy(toy = true))
    case "--corrupt-expected" :: t => parse(t, o.copy(corruptExpected = true))
    case "--spans" :: v :: t => parse(t, o.copy(spans = Some(v)))
    case "--nproc" :: v :: t => parse(t, o.copy(nproc = v.toInt))
    case "--heap" :: v :: t => parse(t, o.copy(heap = v))
    case "--commit" :: v :: t => parse(t, o.copy(commit = v))
    case "--load1" :: v :: t => parse(t, o.copy(load1 = v.toDouble))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
  }

  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val mainEntered = System.currentTimeMillis()
    val code =
      try args.toList match {
        case "gen" :: rest => generate(parse(rest, Opts())); 0
        case rest => run(parse(rest, Opts()), mainEntered)
      } catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${e.getMessage}")
          e.printStackTrace()
          2
      }
    System.out.flush()
    sys.exit(code)
  }

  private def generate(o: Opts): Unit = {
    val spark = graft.Sessions.local()
    try {
      Workloads.inputs(o.toy).foreach { case (sf, tables) => Data.generate(spark, o.data, sf, tables) }
    } finally spark.stop()
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Process CPU time in ns. */
  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gc(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount).filter(_ >= 0).sum, beans.map(_.getCollectionTime).filter(_ >= 0).sum)
  }

  private def heapAfterGcMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  private def status(field: String): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def load1(): Double =
    Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble

  /** One timed window and what the process spent on it. */
  final case class Phase(
      records: Seq[PipelineRecord],
      wallNs: Long,
      cpuNs: Long,
      rssPeakKb: Long,
      gcCount: Long,
      gcMs: Long,
      codegen: Long,
      heapAfterGcMb: Double,
      wrong: Map[Int, String]) {
    def completed: Seq[PipelineRecord] = records.filter(_.error.isEmpty)
    def failed: Int = records.count(r => r.error.nonEmpty || wrong.contains(r.seq))
    def walls: Seq[Double] = completed.map(_.wallMs)
    def +(o: Phase): Phase = Phase(records ++ o.records, wallNs + o.wallNs, cpuNs + o.cpuNs,
      math.max(rssPeakKb, o.rssPeakKb), gcCount + o.gcCount, gcMs + o.gcMs, codegen + o.codegen,
      o.heapAfterGcMb, wrong ++ o.wrong)
  }

  private def timed(w: Workload, seconds: Double, traced: Boolean, nextSeq: () => Int): Phase = {
    @volatile var sampling = true
    var peak = 0L
    val sampler = new Thread(() => while (sampling) {
      peak = math.max(peak, status("VmRSS"))
      Thread.sleep(20)
    }, "perfbench-rss")
    sampler.setDaemon(true)
    val (gc0, gcMs0) = gc()
    val cg0 = SparkInternals.codegenCompiles
    val cpu0 = cpuNs()
    val t0 = System.nanoTime()
    sampler.start()
    val recs = w.loop(t0 + (seconds * 1e9).toLong, traced, nextSeq)
    val t1 = System.nanoTime()
    val cpu1 = cpuNs()
    sampling = false
    sampler.join()
    val (gc1, gcMs1) = gc()
    Phase(recs, t1 - t0, cpu1 - cpu0, peak, gc1 - gc0, gcMs1 - gcMs0,
      SparkInternals.codegenCompiles - cg0, heapAfterGcMb(), Map.empty)
  }

  /** Linear-interpolated percentile, `p` in [0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return Double.NaN
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def endToEnd(p: Phase, setupS: Double): Seq[(String, Double, String)] = {
    val ok = p.completed.count(r => !p.wrong.contains(r.seq))
    Seq(
      ("setup_s", setupS, "s"),
      ("pipeline_ms_p50", percentile(p.walls, 0.5), "ms"),
      ("pipelines_per_s", ok / (p.wallNs / 1e9), "1/s"),
      ("cpu_s_per_pipeline", p.cpuNs / 1e9 / math.max(1, p.completed.size), "s"))
  }

  /** Per-layer metrics of a traced phase, each a mean per pipeline. */
  def perLayer(p: Phase, jobs: Seq[JobRecord], storageRatio: Option[Double],
      overheadMs: Double): (Seq[(String, Double, String)], Seq[Span]) = {
    val recs = p.completed
    val n = math.max(1, recs.size).toDouble
    val jobsOf = Trace.assign(recs, jobs)
    val spansOf = recs.map(r => r.seq -> Trace.spans(r, jobsOf(r.seq))).toMap
    val all = spansOf.values.flatten.toSeq
    def spanMean(name: String) = {
      val ds = recs.flatMap(r => spansOf(r.seq).find(_.name == name)).map(_.durNs / 1e6)
      mean(ds)
    }
    def perJob(f: JobRecord => Long) = recs.map(r => jobsOf(r.seq).map(f).sum).sum / n
    val jobMs = recs.map(r => Trace.covered(jobsOf(r.seq).map(j => (j.start, math.min(j.end, r.end))),
      r.start, r.end) / 1e6)
    val writes = recs.flatMap { r =>
      spansOf(r.seq).find(_.name == "destinations.write").map { w =>
        val busy = Trace.covered(jobsOf(r.seq).map(j => (j.start, math.min(j.end, r.end))), w.start, w.end)
        (w.durNs - busy) / 1e6
      }
    }
    val groups = recs.flatMap { r =>
      val s = r.at { case _: graft.run.ProgressEvent.StageStarted => true }
      val e = r.at { case _: graft.run.ProgressEvent.StageCompleted => true }
      if (s.isEmpty || e.isEmpty) None else Some((e.max - s.min) / 1e6)
    }
    // files one commit adds: all of a fresh directory, or what the table
    // gained since the commit before
    val listed = recs.filter(_.listing.nonEmpty).sortBy(_.seq)
    val added = listed.zipWithIndex.flatMap { case (r, i) =>
      val now = r.listing.get
      if (r.kind != "upsert") Some(now)
      else if (i == 0) None
      else {
        val before = listed(i - 1).listing.get
        Some(Listing(now.logFiles - before.logFiles, now.logBytes - before.logBytes,
          now.dataFiles - before.dataFiles, now.dataBytes - before.dataBytes))
      }
    }
    val remote = recs.filter(_.submit.nonEmpty)
    val selfs = Trace.selfTimes(all).groupBy(_._1.layer).map { case (l, xs) => l -> xs.map(_._2).sum / 1e6 / n }
    val metrics = Seq(
      ("config.parse_ms", mean(recs.map(r => (r.parsed - r.start) / 1e6)), "ms"),
      ("run.validate_ms", spanMean("run.validate"), "ms"),
      ("run.stage_groups_ms", mean(groups), "ms"),
      ("sources.register_ms", spanMean("sources.register"), "ms"),
      ("sources.timetravel_ms", mean(recs.filter(_.kind == "timetravel").map(_.wallMs)), "ms"),
      ("destinations.write_ms", spanMean("destinations.write"), "ms"),
      ("destinations.commit_driver_ms", mean(writes), "ms"),
      ("destinations.log_files", mean(added.map(_.logFiles.toDouble)), "count"),
      ("destinations.log_bytes", mean(added.map(_.logBytes.toDouble)), "bytes"),
      ("destinations.data_files", mean(added.map(_.dataFiles.toDouble)), "count"),
      ("destinations.storage_bytes_per_user_byte", storageRatio.getOrElse(0.0), "ratio"),
      ("spark.jobs", perJob(_ => 1L), "count"),
      ("spark.tasks", perJob(_.tasks), "count"),
      ("spark.codegen_compiles", p.codegen / n, "count"),
      ("spark.job_ms", mean(jobMs), "ms"),
      ("spark.driver_gap_ms", mean(recs.zip(jobMs).map { case (r, j) => r.wallMs - j }), "ms"),
      ("spark.task_cpu_ms", perJob(_.taskCpuNs) / 1e6, "ms"),
      ("spark.input_bytes", perJob(_.inputBytes), "bytes"),
      ("spark.shuffle_read_bytes", perJob(_.shuffleReadBytes), "bytes"),
      ("spark.shuffle_write_bytes", perJob(_.shuffleWriteBytes), "bytes"),
      ("spark.spill_bytes", perJob(_.spillBytes), "bytes"),
      ("spark.output_bytes", perJob(_.outputBytes), "bytes"),
      ("server.queue_wait_ms", mean(remote.map { r =>
        val first = r.events.headOption.map(_._1).getOrElse(r.end)
        (first - r.submit.get) / 1e6
      }), "ms"),
      ("server.overhead_ms", mean(remote.flatMap { r =>
        r.events.collectFirst { case (_, graft.run.ProgressEvent.Completed(d)) =>
          (r.end - r.submit.get) / 1e6 - d
        }
      }), "ms"),
      ("server.messages", mean(remote.map(_.messages.toDouble)), "count"),
      ("server.bytes_in", mean(remote.map(_.bytesIn.toDouble)), "bytes"),
      ("jvm.gc_ms", p.gcMs / n, "ms"),
      ("jvm.gc_count", p.gcCount / n, "count"),
      ("jvm.heap_after_gc_mb", p.heapAfterGcMb, "MiB"),
      ("jvm.rss_peak_mb", p.rssPeakKb / 1024.0, "MiB"),
      ("trace.overhead_ms", overheadMs, "ms")) ++
      Trace.Layers.map(l => (s"$l.self_ms", selfs.getOrElse(l, 0.0), "ms"))
    (metrics, all)
  }

  private def run(o: Opts, mainEntered: Long): Int = {
    require(Workloads.Names.contains(o.workload), s"--workload must be one of ${Workloads.Names.mkString(", ")}")
    require(o.data.nonEmpty && o.work.nonEmpty, "--data and --work are required")
    val load1Start = if (o.load1 >= 0) o.load1 else load1()
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "?")
    val workRoot = Paths.get(o.work)
    var seq = 0
    val nextSeq: () => Int = () => synchronized { seq += 1; seq }

    // -- set-up, cold: from JVM start to a warmed-up workload
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    var workload: Workload = null
    try {
      val t0 = System.nanoTime()
      spark = graft.Sessions.local()
      graft.functions.JsonUdfs.register(spark) // as graft.Main does
      val setupWork = workRoot.resolve("setup")
      Files.createDirectories(setupWork)
      workload = Workloads(o.workload,
        Ctx(spark, o.data, setupWork, o.seed, o.toy, o.corruptExpected))
      workload.phase("warmup")
      val t1 = System.nanoTime()
      workload.warmup()
      val t2 = System.nanoTime()
      val jvmS = (mainEntered - jvmStartMs) / 1e3
      val setupS = jvmS + (t2 - t0) / 1e9
      val setupParts = f"jvm $jvmS%.2f session ${(t1 - t0) / 1e9}%.2f warmup ${(t2 - t1) / 1e9}%.2f"

      // -- timed windows
      workload.phase("timed")
      val (untraced, traced, jobs) =
        if (!o.trace) {
          val p = timed(workload, o.seconds, traced = false, nextSeq)
          (p.copy(wrong = workload.verify(p.records).toMap), None, Nil)
        } else {
          // untraced quarter, traced half, untraced quarter: a drift over the
          // run (JIT, table history) weighs on both sides alike
          val a1 = timed(workload, o.seconds / 4, traced = false, nextSeq)
          val listener = new JobListener
          spark.sparkContext.addSparkListener(listener)
          val b = timed(workload, o.seconds / 2, traced = true, nextSeq)
          SparkInternals.drainListenerBus(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
          val a2 = timed(workload, o.seconds / 4, traced = false, nextSeq)
          val wrong = workload.verify(a1.records ++ b.records ++ a2.records).toMap
          val a = a1 + a2
          (a.copy(wrong = wrong.filter(w => a.records.exists(_.seq == w._1))),
            Some(b.copy(wrong = wrong.filter(w => b.records.exists(_.seq == w._1)))),
            listener.all)
        }
      val phases = untraced +: traced.toSeq
      val attempted = phases.map(_.records.size).sum
      val failed = phases.map(_.failed).sum
      val rows = workload.rowsPerPipeline
      val load1End = load1()

      // -- report
      val env = mapper.createObjectNode()
      env.put("workload", o.workload).put("seed", o.seed).put("seconds", o.seconds)
        .put("trace", o.trace).put("toy", o.toy).put("nproc", o.nproc).put("cores_used", cores)
        .put("heap", o.heap).put("load1_start", load1Start).put("load1_end", load1End)
        .put("load_flagged", load1Start > cores.toDoubleOption.getOrElse(o.nproc.toDouble))
        .put("java", System.getProperty("java.version")).put("spark", spark.version)
        .put("scala", scala.util.Properties.versionNumberString).put("commit", o.commit)
        .put("rows_per_pipeline", rows)
        .put("vm_hwm_mb", status("VmHWM") / 1024.0)
        .put("setup_parts_s", setupParts)
      if (env.get("load_flagged").asBoolean())
        System.err.println(s"perfbench: load1 $load1Start at start exceeds the $cores cores used; " +
          "this run is flagged in its environment record")
      println("perfbench env " + mapper.writeValueAsString(env))

      phases.foreach(p => p.wrong.toSeq.sortBy(_._1).foreach { case (s, why) =>
        System.err.println(s"perfbench: pipeline $s wrong: $why")
      })
      phases.foreach(p => p.records.filter(_.error.nonEmpty).foreach(r =>
        System.err.println(s"perfbench: pipeline ${r.seq} failed: ${r.error.get}")))

      val e2e = endToEnd(untraced, setupS)
      val result = mapper.createObjectNode()
      result.put("correct", failed == 0).put("attempted", attempted).put("failed", failed)
      val metrics = result.putObject("metrics")
      // a run with no completed pipeline has no percentiles; it is already
      // counted as failed, and the line must stay valid JSON
      def emit(ms: Seq[(String, Double, String)]): Unit = ms.foreach { case (name, v, unit) =>
        metrics.putObject(name).put("value", if (v.isNaN || v.isInfinite) 0.0 else v).put("unit", unit)
      }
      println(f"perfbench ${o.workload}: ${untraced.records.size} pipelines untraced, " +
        f"$rows rows read per pipeline, failed_ratio ${failed.toDouble / math.max(1, attempted)}%.4f, " +
        f"pipeline_ms_p90 ${percentile(untraced.walls, 0.9)}%.1f ms of ${untraced.walls.size} samples, " +
        f"rss_peak_mb ${untraced.rssPeakKb / 1024.0}%.1f")
      e2e.foreach { case (n, v, u) => println(f"  $n%-44s $v%14.4f $u") }
      traced match {
        case None => emit(e2e)
        case Some(b) =>
          val overhead = percentile(b.walls, 0.5) - percentile(untraced.walls, 0.5)
          val (layers, spans) = perLayer(b, jobs, workload.storageRatio(), overhead)
          println(s"perfbench ${o.workload}: ${b.records.size} pipelines traced")
          layers.foreach { case (n, v, u) => println(f"  $n%-44s $v%14.4f $u") }
          emit(layers)
          o.spans.foreach(f => writeSpans(Paths.get(f), env, spans))
      }
      println(mapper.writeValueAsString(result))
      if (failed == 0) 0 else 1
    } finally {
      if (workload != null) workload.close()
      if (spark != null) stop(spark)
      Workloads.deleteTree(workRoot)
    }
  }

  private def writeSpans(file: Path, env: ObjectNode, spans: Seq[Span]): Unit = {
    val root = mapper.createObjectNode()
    root.set[ObjectNode]("env", env)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    val arr = root.putArray("spans")
    spans.foreach { s =>
      arr.addObject().put("pipeline", s.pipeline).put("id", s.id).put("parent", s.parent)
        .put("name", s.name).put("layer", s.layer)
        .put("start_ms", (s.start - t0) / 1e6).put("end_ms", (s.end - t0) / 1e6)
    }
    Files.createDirectories(file.toAbsolutePath.getParent)
    mapper.writerWithDefaultPrettyPrinter().writeValue(file.toFile, root)
  }
}
