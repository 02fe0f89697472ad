package graft.run

import graft.config._
import graft.destinations.Destinations
import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Pipeline orchestrator — the Spark-native `run_pipeline`
  * (reference: aqueducts/core/src/lib.rs:68-220).
  *
  * Order of operations mirrors the reference: prepare destination first
  * (lib.rs:82-91), register all sources in parallel (lib.rs:93-123), execute
  * stage groups — outer list sequential, inner list concurrent
  * (lib.rs:125-175) — then write the last stage to the destination
  * (lib.rs:177-204), firing progress events throughout.
  *
  * Execution model differences, deliberate and Spark-first:
  *
  *   - '''No collect-to-driver.''' The reference materializes every stage
  *     into driver memory (`collect_partitioned` → MemTable,
  *     stages/mod.rs:150-167). Here a stage is a temp view over a Catalyst
  *     plan; data stays distributed on executors.
  *   - '''Materialize only what is reused.''' A stage consumed exactly once
  *     is left lazy so Catalyst fuses it into its consumer — one pass, full
  *     pushdown through the stage boundary. A stage with ≥2 consumers (or
  *     `explain_analyze`) is persisted and eagerly computed so concurrent
  *     consumers share one evaluation instead of recomputing the subtree.
  *   - '''TTL eviction''' (reference lib.rs:223-274): after each group, any
  *     stage with no remaining consumer is dropped from the catalog and
  *     unpersisted, bounding executor-memory footprint on long pipelines.
  */
object Runner {

  final case class PipelineError(message: String) extends RuntimeException(message)

  def runFile(
      spark: SparkSession,
      path: java.nio.file.Path,
      params: Map[String, String] = Map.empty,
      tracker: ProgressTracker = new LoggingTracker): Option[DataFrame] =
    run(spark, ConfigParser.fromFile(path, params), tracker)

  /** @param shouldAbort polled between units of work (source registration,
    *   each stage group, the destination write): job-group cancellation
    *   kills RUNNING Spark jobs, but a cancel that lands between jobs
    *   would otherwise let the remaining stages run to completion. The
    *   service wires this to its per-submission cancelled flag.
    */
  def run(
      spark: SparkSession,
      pipeline: Aqueduct,
      tracker: ProgressTracker = new LoggingTracker,
      shouldAbort: () => Boolean = () => false): Option[DataFrame] = {
    val t0 = System.nanoTime()
    // stage SQL may use the reference's JSON pack (incl. ->/->> rewrites)
    graft.functions.JsonUdfs.registerOnce(spark)
    // ... and the SpaceSaving heavy-hitters aggregate
    graft.functions.HeavyHitters.registerOnce(spark)
    val stageSql = validate(spark, pipeline)
    tracker.onProgress(ProgressEvent.Started)

    // Per-run executor, not a shared pool: Spark job-group / local properties
    // are InheritableThreadLocals, so pooled threads keep whatever group was
    // active when they were first created — under a shared pool,
    // PipelineService.cancel(id) could miss the running pipeline or cancel a
    // different one. Fresh threads are created by tasks submitted from THIS
    // call stack and inherit the caller's job group. Thread churn is noise
    // next to the Spark jobs these threads merely drive.
    val pool = java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-runner")
      t.setDaemon(true)
      t
    })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {

    pipeline.destination.foreach(Destinations.prepare(spark, _))

    // Unlike the reference, whose per-run SessionContext dies with a failed
    // pipeline, our SparkSession is shared (service/embedding reuse) — so a
    // failed run must clean up every view and cached frame it created.
    val persisted = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
    val results = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
    def cleanupOnFailure(): Unit = {
      persisted.values.foreach(df => try df.unpersist() catch { case _: Throwable => () })
      results.keys.foreach(n => try spark.catalog.dropTempView(n) catch { case _: Throwable => () })
      pipeline.sources.foreach {
        case _: InMemorySource => () // caller-owned, never ours to drop
        case src => try spark.catalog.dropTempView(src.name) catch { case _: Throwable => () }
      }
    }

    // Await ALL futures to settle (success or failure) before rethrowing the
    // first failure: fail-fast Await.result would run cleanupOnFailure while
    // sibling futures are still registering views / persisting frames, and
    // whatever they register after the cleanup pass leaks in the shared
    // session forever.
    def awaitSettled(fs: Seq[Future[Unit]]): Unit = {
      val settled = Await.result(
        Future.traverse(fs)(f => f.transform(scala.util.Success(_))), Duration.Inf)
      settled.collectFirst { case scala.util.Failure(e) => e }.foreach(throw _)
    }
    def abortCheck(): Unit =
      if (shouldAbort())
        throw new java.util.concurrent.CancellationException("pipeline cancelled")

    try {

    // -- sources, registered concurrently (view registration is cheap but
    //    schema inference / footer reads are IO: parallelism is real here)
    abortCheck()
    awaitSettled(pipeline.sources.map { src =>
      Future {
        try Sources.register(spark, src)
        catch {
          case e: Exception =>
            throw PipelineError(s"source '${src.name}' failed to register: ${e.getMessage}")
        }
        tracker.onProgress(ProgressEvent.SourceRegistered(src.name))
      }
    })

    // -- stage groups
    val allStages = pipeline.stages.flatten
    val lastStage = allStages.lastOption

    pipeline.stages.zipWithIndex.foreach { case (group, gi) =>
      abortCheck()
      awaitSettled(group.map { stage =>
        Future {
          tracker.onProgress(ProgressEvent.StageStarted(stage.name, gi))
          val s0 = System.nanoTime()
          try {
            val df = spark.sql(stageSql(stage.name))
            val consumers = consumerCount(pipeline, stage, lastStage)
            if (consumers >= 2 || stage.explainAnalyze) {
              df.persist()
              df.count() // materialize now so concurrent consumers share it
              persisted.put(stage.name, df)
            }
            debugOutputs(stage, df, tracker)
            df.createOrReplaceTempView(stage.name)
            results.put(stage.name, df)
          } catch {
            case e: Exception =>
              throw PipelineError(s"stage '${stage.name}' failed: ${e.getMessage}")
          }
          tracker.onProgress(
            ProgressEvent.StageCompleted(stage.name, gi, (System.nanoTime() - s0) / 1000000))
        }
      })

      // TTL eviction: drop every stage registered so far whose last consumer
      // group is <= gi (never the final stage — it feeds the destination).
      pipeline.stages.take(gi + 1).flatten.foreach { s =>
        val isFinal = lastStage.exists(_.name == s.name)
        if (!isFinal && results.contains(s.name) && lastConsumerGroup(pipeline, s.name) <= gi) {
          spark.catalog.dropTempView(s.name)
          persisted.remove(s.name).foreach(_.unpersist())
          results.remove(s.name)
        }
      }
    }

    // -- destination
    abortCheck()
    val finalDf = lastStage.map(s => results(s.name))
    (pipeline.destination, finalDf) match {
      case (Some(dest), Some(df)) =>
        Destinations.write(spark, dest, df)
        tracker.onProgress(ProgressEvent.DestinationCompleted(dest.name))
        // reference deregisters the last stage after the write (lib.rs:177-204)
        lastStage.foreach { s =>
          spark.catalog.dropTempView(s.name)
          persisted.remove(s.name).foreach(_.unpersist())
        }
      case _ => () // no destination: last stage stays registered and queryable
    }

    tracker.onProgress(ProgressEvent.Completed((System.nanoTime() - t0) / 1000000))
    finalDf

    } catch { case e: Throwable => cleanupOnFailure(); throw e }
    } finally pool.shutdown()
  }

  // ------------------------------------------------------------ validation

  /** Load-time checks (reference templating.rs:286-330): every stage query
    * must parse as a pure SELECT; names must be unique.
    * @return each stage's SQL with the JSON operators rewritten, by stage
    *   name: the text that passed the check, for the run to execute
    */
  def validate(spark: SparkSession, pipeline: Aqueduct): Map[String, String] = {
    // an in_memory destination registers a view under ITS name at the end of
    // the run — a collision with a source/stage must fail at load time, not
    // after the whole pipeline has executed
    val destViewName = pipeline.destination.collect { case d: InMemoryDestination => d.name }
    val names = pipeline.sources.map(_.name) ++ pipeline.stages.flatten.map(_.name) ++
      destViewName
    val dup = names.diff(names.distinct).distinct
    if (dup.nonEmpty) throw PipelineError(s"Duplicate source/stage names: ${dup.mkString(", ")}")
    if (pipeline.stages.flatten.isEmpty && pipeline.destination.nonEmpty)
      throw PipelineError("A destination requires at least one stage")
    pipeline.stages.flatten.map { s =>
      val sql = SqlRewrite.jsonOperators(s.query)
      SqlGuard.validate(spark, s.name, sql)
      s.name -> sql
    }.toMap
  }

  // -------------------------------------------------------------- liveness

  private def refPattern(name: String) =
    java.util.regex.Pattern.compile(s"\\b${java.util.regex.Pattern.quote(name)}\\b",
      java.util.regex.Pattern.CASE_INSENSITIVE)

  /** Number of downstream consumers of a stage: later stage queries that
    * reference it, plus the destination if this is the final stage.
    */
  private def consumerCount(pipeline: Aqueduct, stage: Stage, lastStage: Option[Stage]): Int = {
    val later = laterQueries(pipeline, stage.name)
    val p = refPattern(stage.name)
    val refs = later.count(q => p.matcher(q).find())
    refs + (if (lastStage.exists(_.name == stage.name) && pipeline.destination.nonEmpty) 1 else 0)
  }

  /** Index of the last group whose queries reference `name` (its own group if
    * nothing ever references it again — evict immediately).
    */
  private def lastConsumerGroup(pipeline: Aqueduct, name: String): Int = {
    val p = refPattern(name)
    val own = pipeline.stages.indexWhere(_.exists(_.name == name))
    val referencing = pipeline.stages.zipWithIndex.collect {
      case (g, gi) if gi > own && g.exists(st => p.matcher(st.query).find()) => gi
    }
    if (referencing.isEmpty) own else referencing.max
  }

  private def laterQueries(pipeline: Aqueduct, name: String): Seq[String] = {
    val own = pipeline.stages.indexWhere(_.exists(_.name == name))
    pipeline.stages.drop(own + 1).flatten.map(_.query)
  }

  // ----------------------------------------------------------- debug output

  private def debugOutputs(stage: Stage, df: DataFrame, tracker: ProgressTracker): Unit = {
    if (stage.explain)
      tracker.onOutput(stage.name, OutputType.Explain,
        df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    if (stage.explainAnalyze)
      // plan has been executed (persist+count above): metrics are populated
      tracker.onOutput(stage.name, OutputType.ExplainAnalyze,
        df.queryExecution.executedPlan.toString())
    stage.show.foreach { n =>
      val limit = if (n == 0) 500 else n // show: 0 ⇒ all rows, capped at 500
      tracker.onOutput(stage.name, OutputType.Show, captureShow(df, limit))
    }
    if (stage.printSchema)
      tracker.onOutput(stage.name, OutputType.PrintSchema, df.schema.treeString)
  }

  private def captureShow(df: DataFrame, n: Int): String = {
    val baos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(baos, true, "UTF-8")) {
      df.show(n, truncate = false)
    }
    baos.toString("UTF-8")
  }

}
