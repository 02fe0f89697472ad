package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Measurement tooling (optimization rounds, guide §1): run one or more
  * declared queries through the same noop-sink materialization the bench
  * uses, and attribute wall time to the individual Spark JOBS each query
  * launches (call site + duration). Lifecycle queries (Delta/Iceberg
  * commits, streaming sinks) run many internal jobs — write jobs, stats
  * scans, log replays — and this is the cheapest way to see which of them
  * the seconds actually go to, without the UI.
  *
  * Usage: Profile <sfDir> <ignored> <namePatterns>   (run_verify.sh shape)
  * Output: per-query total + a per-job table on stdout; gaps between jobs
  * (driver-side work: commit JSON I/O, footer reads, planning) show up as
  * the difference between the query wall and the summed job time.
  */
object Profile {
  private final case class JobRow(id: Int, desc: String, site: String,
      submitted: Long, var finished: Long = -1L)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val selected = Measure.select(Some(if (args.length > 2) args(2) else args(1)))
    val spark = Sessions.local()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val order = java.util.Collections.synchronizedList(new java.util.ArrayList[Int]())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        jobs.put(e.jobId, JobRow(e.jobId, desc, site, e.time))
        order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId); if (r != null) r.finished = e.time
      }
    })
    // whole-stage-codegen compile cost per query: Janino compile time is a
    // real per-micro-batch tax for streaming plans whose generated source
    // changes every trigger (watermark literals) — attribute it directly
    def codegenN(): Long =
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
    Measure.warmUp(spark, sfDir, selected)
    selected.foreach { case (name, fn) =>
      jobs.clear(); order.clear()
      val cg0 = codegenN()
      // sample the driver (query) thread every 10ms: the aggregated top
      // frames attribute inter-job "driver gap" time (log replay, commit
      // I/O, planning) that the job listener cannot see
      val qThread = Thread.currentThread()
      val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      @volatile var sampling = true
      val sampler = new Thread(() => {
        def sig(st: Array[StackTraceElement], tag: String): Option[String] = {
          if (st.isEmpty) return None
          // skip idle threads: parked/waiting/polling top frames
          val top = st.head
          val idle = Set("park", "wait", "wait0", "sleep", "epollWait",
            "poll", "accept", "read0", "socketAccept", "park0")
          if (idle.contains(top.getMethodName)) return None
          // signature: innermost graft frame + innermost interesting spark frame
          val g = st.find(f => f.getClassName.startsWith("graft."))
            .map(f => s"${f.getClassName.stripPrefix("graft.")}.${f.getMethodName}:${f.getLineNumber}")
            .getOrElse("")
          val s = st.find(f => f.getClassName.startsWith("org.apache.spark") &&
              !f.getClassName.contains("Profile"))
            .map(f => s"${f.getClassName.split('.').last}.${f.getMethodName}")
            .getOrElse(st.head.getClassName.split('.').last + "." + st.head.getMethodName)
          Some(s"$tag$s | $g")
        }
        while (sampling) {
          sig(qThread.getStackTrace, "").foreach(k =>
            samples.merge(k, 1, (a, b) => a + b))
          // also sample OTHER driver-side worker threads (micro-batch
          // execution, commit pools): streaming per-trigger work happens
          // off the query thread, which only waits in processAllAvailable
          import scala.jdk.CollectionConverters._
          Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
            val n = t.getName
            if ((t ne qThread) && (t ne Thread.currentThread()) &&
                !n.startsWith("Executor task launch") && !n.contains("dispatcher") &&
                !n.contains("shuffle") && !n.contains("netty"))
              sig(st, s"[$n] ").foreach(k => samples.merge(k, 1, (a, b) => a + b))
          }
          Thread.sleep(10)
        }
      })
      sampler.setDaemon(true); sampler.start()
      val t = Measure.timed(Measure.materialize(spark, sfDir, fn))
      val wall = t.wallSec
      sampling = false
      val cgn = codegenN() - cg0
      t.value.foreach(err => println(s"[profile] $name failed: $err"))
      import scala.jdk.CollectionConverters._
      val rows = order.asScala.toSeq.flatMap(id => Option(jobs.get(id)))
      val jobSum = rows.collect { case r if r.finished > 0 => (r.finished - r.submitted) / 1e3 }.sum
      println(f"== $name  wall=$wall%.3fs  jobs=${rows.size}  jobSum=$jobSum%.3fs  driverGap=${wall - jobSum}%.3fs  codegenCompiles=$cgn")
      val top = samples.asScala.toSeq.sortBy(-_._2).take(18)
      top.foreach { case (sig, n) => println(f"   ${n * 10}%6dms  $sig") }
      var prevEnd = -1L
      rows.foreach { r =>
        val dur = if (r.finished > 0) (r.finished - r.submitted) / 1e3 else Double.NaN
        val gap = if (prevEnd > 0) (r.submitted - prevEnd) / 1e3 else 0.0
        prevEnd = math.max(prevEnd, r.finished)
        val label = (if (r.desc.nonEmpty) r.desc else r.site).take(90)
        println(f"   job ${r.id}%4d  ${dur}%7.3fs  (gap before: ${gap}%6.3fs)  $label")
      }
    }
    spark.stop()
  }
}
