package graft.run

import graft.SparkSpec
import graft.config._
import scala.concurrent.Await
import scala.concurrent.duration._

class PipelineServiceSpec extends SparkSpec {

  private def pipelineOf(stage: String, query: String) = Aqueduct(
    stages = Seq(Seq(Stage(stage, query))))

  test("FIFO single-concurrency execution with queue positions (manager.rs:13-27)") {
    val svc = new PipelineService(spark)
    try {
      val h1 = svc.submit(pipelineOf("svc_a", "SELECT 1 AS x"), new CollectingTracker)
      val h2 = svc.submit(pipelineOf("svc_b", "SELECT 2 AS x"), new CollectingTracker)
      val r1 = Await.result(h1.result, 60.seconds)
      val r2 = Await.result(h2.result, 60.seconds)
      assert(r1.get.collect().head.getInt(0) == 1)
      assert(r2.get.collect().head.getInt(0) == 2)
      assert(h1.queuePosition == -1 && h2.queuePosition == -1) // both done
    } finally svc.close()
  }

  test("queued submission can be cancelled before it runs (manager.rs:62-70)") {
    val svc = new PipelineService(spark)
    try {
      // a slow head-of-queue keeps the next submission queued long enough
      val slow = pipelineOf("svc_slow",
        "SELECT count(*) AS n FROM (SELECT explode(sequence(1, 2000000)) v) t")
      val h1 = svc.submit(slow, new CollectingTracker)
      val h2 = svc.submit(pipelineOf("svc_never", "SELECT 3 AS x"), new CollectingTracker)
      assert(svc.cancel(h2.id))
      assertThrows[java.util.concurrent.CancellationException](
        Await.result(h2.result, 60.seconds))
      Await.result(h1.result, 120.seconds) // head still completes normally
      assert(!svc.cancel("graft-nonexistent"))
    } finally svc.close()
  }

  test("RUNNING pipeline cancels promptly via its job group (per-run executor threads)") {
    spark.udf.register("graft_svc_sleep", (x: Long) => { Thread.sleep(5); x })
    val svc = new PipelineService(spark)
    try {
      // a REAL distributed job: a parquet scan cannot be constant-folded
      // into a LocalRelation (a literal explode would be, and the sleep UDF
      // would run inside the optimizer with no job to cancel). ~6000 rows ×
      // 5ms over local[4] ≈ 7.5s if cancellation failed to land.
      // explain_analyze forces persist+count INSIDE the stage Future, i.e.
      // on a Runner pool thread — the exact path the job-group fix covers.
      val slow = Aqueduct(
        sources = Seq(FileSource("svc_li", ParquetFormat(),
          Location("/root/testdata/sf0.001/lineitem.parquet"))),
        stages = Seq(Seq(Stage("svc_running",
          "SELECT sum(graft_svc_sleep(l_orderkey)) AS s FROM svc_li",
          explainAnalyze = true))))
      val h = svc.submit(slow, new CollectingTracker)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (h.queuePosition != 0 && System.nanoTime() < deadline) Thread.sleep(10)
      Thread.sleep(500) // let the stage's Spark job actually start
      val t0 = System.nanoTime()
      assert(svc.cancel(h.id))
      intercept[Exception](Await.result(h.result, 60.seconds))
      val cancelledAfterMs = (System.nanoTime() - t0) / 1000000
      // the pre-fix failure mode: job-group props pinned to a pooled thread's
      // creation-time group ⇒ cancel is a no-op and the job runs to the end
      assert(cancelledAfterMs < 8000, s"cancel took ${cancelledAfterMs}ms — job group not applied?")
    } finally svc.close()
  }

  test("a cancel landing after the runner's abort check still stops the stage's job") {
    spark.udf.register("graft_svc_sleep", (x: Long) => { Thread.sleep(5); x })
    val svc = new PipelineService(spark)
    // StageStarted fires after the group's abort check and before the
    // stage submits its job: holding the stage there until cancel() has
    // returned puts the cancel exactly in that window, every run
    val started = new java.util.concurrent.CountDownLatch(1)
    val cancelled = new java.util.concurrent.CountDownLatch(1)
    val tracker = new ProgressTracker {
      override def onProgress(event: ProgressEvent): Unit = event match {
        case _: ProgressEvent.StageStarted =>
          started.countDown()
          cancelled.await(30, java.util.concurrent.TimeUnit.SECONDS): Unit
        case _ => ()
      }
      override def onOutput(stageName: String, outputType: OutputType, body: String): Unit = ()
    }
    try {
      // the same ~7.5 s sleep-UDF scan as above, run by explain_analyze
      // in the stage's own step
      val slow = Aqueduct(
        sources = Seq(FileSource("svc_li_late", ParquetFormat(),
          Location("/root/testdata/sf0.001/lineitem.parquet"))),
        stages = Seq(Seq(Stage("svc_late",
          "SELECT sum(graft_svc_sleep(l_orderkey)) AS s FROM svc_li_late",
          explainAnalyze = true))))
      val h = svc.submit(slow, tracker)
      assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(svc.cancel(h.id))
      val t0 = System.nanoTime()
      cancelled.countDown()
      intercept[java.util.concurrent.CancellationException](
        Await.result(h.result, 60.seconds))
      val endedAfterMs = (System.nanoTime() - t0) / 1000000
      assert(endedAfterMs < 4000,
        s"the stage's job ran ${endedAfterMs}ms after the cancel — its group's future jobs were not cancelled")
    } finally { cancelled.countDown(); svc.close() }
  }

  test("a cancel landing between the worker's take and the run still cancels it") {
    val svc = new PipelineService(spark)
    val taken = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    // hold the worker right after it took the submission off the queue
    svc.afterTakeHook = _ => {
      taken.countDown()
      release.await(60, java.util.concurrent.TimeUnit.SECONDS): Unit
    }
    try {
      val tracker = new CollectingTracker
      val h = svc.submit(pipelineOf("svc_window", "SELECT 4 AS x"), tracker)
      assert(taken.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(h.queuePosition == 0)
      assert(svc.cancel(h.id))
      release.countDown()
      assertThrows[java.util.concurrent.CancellationException](
        Await.result(h.result, 60.seconds))
      assert(tracker.events.isEmpty) // it never started
      assert(!spark.catalog.tableExists("svc_window"))
    } finally { release.countDown(); svc.close() }
  }

  test("close() promptly fails queued submissions instead of hanging callers") {
    val svc = new PipelineService(spark)
    val slow = pipelineOf("svc_close_slow",
      "SELECT count(*) AS n FROM (SELECT explode(sequence(1, 2000000)) v) t")
    svc.submit(slow, new CollectingTracker)
    val queued = svc.submit(pipelineOf("svc_close_q", "SELECT 1 AS x"), new CollectingTracker)
    svc.close()
    assertThrows[java.util.concurrent.CancellationException](
      Await.result(queued.result, 60.seconds))
    assertThrows[IllegalStateException](
      svc.submit(pipelineOf("svc_after_close", "SELECT 1 AS x"), new CollectingTracker))
  }

  test("abort flag stops a runner between stages (cancel landing between jobs)") {
    // shouldAbort polled at group boundaries: an immediately-true flag must
    // abort before any stage work, not run the pipeline to completion
    assertThrows[java.util.concurrent.CancellationException](
      Runner.run(spark, pipelineOf("svc_abort", "SELECT 1 AS x"),
        new CollectingTracker, shouldAbort = () => true))
    assert(!spark.catalog.tableExists("svc_abort"))
  }

  test("PercentTracker reaches 100 over the reference step accounting") {
    val dir = tmpDir("svc-pct")
    val csv = writeFixtureCsv(dir)
    val aq = Aqueduct(
      sources = Seq(FileSource("pct_src", CsvFormat(), Location(csv.toString))),
      stages = Seq(Seq(Stage("pct_stage", "SELECT count(*) AS n FROM pct_src"))),
      destination = Some(InMemoryDestination("pct_out")))
    val pct = new PercentTracker(new CollectingTracker, aq)
    Runner.run(spark, aq, pct)
    assert(pct.percent == 100) // 1 source + 2*1 stage + 1 destination steps
  }
}
