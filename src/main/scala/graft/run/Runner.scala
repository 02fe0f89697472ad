package graft.run

import graft.config._
import graft.destinations.Destinations
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}
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
  *   - '''A session per pipeline.''' The reference gives each run a fresh
  *     SessionContext. Here each run works on a clone of the caller's
  *     session (`GraftShims.cloneSession`): it starts with the caller's
  *     confs, temp views (so `in_memory` sources resolve), functions and
  *     extensions, and its own views and confs never reach the caller or a
  *     concurrent pipeline. The clone shares the default artifact class
  *     loader even when the caller has artifact isolation on, so its code
  *     compiles once per JVM, not once per pipeline. The caller gets back
  *     the final stage's frame re-bound to its own session, and with it the
  *     final stage's view (no destination) or the `in_memory` destination's
  *     view.
  *   - '''Settings from input size.''' Once the sources are registered,
  *     [[ExecutionPolicy]] sizes the planned input from the analyzed plans
  *     and the Delta log, without a job. Inputs of at most the minimum
  *     coalesced partition size per core (4 MiB on 4 cores), the small
  *     side, run with adaptive execution off and one shuffle partition;
  *     the rest, and inputs of unknown size, keep the session's settings.
  *     The settings cover the work done inside `run`: stages, debug outputs
  *     and every destination write but `in_memory`. What the caller gets
  *     back (the returned frame, the final stage's view, the `in_memory`
  *     destination) is planned and run later under the caller's settings.
  *   - '''No collect-to-driver.''' The reference materializes every stage
  *     into driver memory (`collect_partitioned` → MemTable,
  *     stages/mod.rs:150-167). Here a stage is a temp view over a Catalyst
  *     plan; data stays distributed on executors.
  *   - '''Materialize only what is reused.''' A stage consumed exactly once
  *     is left lazy so Catalyst fuses it into its consumer — one pass, full
  *     pushdown through the stage boundary. A stage with ≥2 consumers (or
  *     `explain_analyze`) is persisted and eagerly computed so concurrent
  *     consumers share one evaluation instead of recomputing the subtree.
  *     On the small side a deterministic stage with ≥2 consumers stays lazy
  *     too: each consumer recomputes it, fused and pruned, which at that
  *     size costs less than the extra job and the columnar cache build. A
  *     nondeterministic stage is persisted on either side, so that all its
  *     consumers see the same rows.
  *   - '''TTL eviction''' (reference lib.rs:223-274): after each group, any
  *     stage that no job still to run reads is unpersisted (a lazy consumer
  *     reads inside its own consumers or the write), and after the write
  *     every stage still cached, bounding executor-memory footprint on
  *     long pipelines (the cache manager is shared with the caller; the
  *     views go with the clone).
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
    // and the SpaceSaving heavy-hitters aggregate: registered once on the
    // caller, every clone inherits them
    graft.functions.JsonUdfs.registerOnce(spark)
    graft.functions.HeavyHitters.registerOnce(spark)
    val validated = validate(spark, pipeline)
    tracker.onProgress(ProgressEvent.Started)
    // the pipeline's own session: its views and execution settings die with
    // it and never reach the caller or a concurrent pipeline
    val session = GraftShims.cloneSession(spark)

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

    pipeline.destination.foreach(Destinations.prepare(session, _))

    // The cache manager is shared with the caller, so a failed run must
    // unpersist every frame it cached; its views die with the clone.
    val persisted = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
    val results = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

    // Await ALL futures to settle (success or failure) before rethrowing the
    // first failure: fail-fast Await.result would unpersist while sibling
    // futures are still persisting frames, and whatever they cache after
    // the cleanup pass leaks in the shared cache manager forever.
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
        try Sources.register(session, src)
        catch {
          case e: Exception =>
            throw PipelineError(s"source '${src.name}' failed to register: ${e.getMessage}")
        }
        tracker.onProgress(ProgressEvent.SourceRegistered(src.name))
      }
    })
    val small = ExecutionPolicy.small(session, pipeline)
    if (small) ExecutionPolicy.smallConfs.foreach { case (k, v) => session.conf.set(k, v) }

    // -- stage groups
    val allStages = pipeline.stages.flatten
    val lastStage = allStages.lastOption
    // an in-memory destination only registers a lazy cache: no job of the
    // run reads the last stage there
    def toWrite(name: String) = lastStage.exists(_.name == name) &&
      pipeline.destination.exists(!_.isInstanceOf[InMemoryDestination])

    pipeline.stages.zipWithIndex.foreach { case (group, gi) =>
      abortCheck()
      awaitSettled(group.map { stage =>
        Future {
          tracker.onProgress(ProgressEvent.StageStarted(stage.name, gi))
          val s0 = System.nanoTime()
          try {
            val df = session.sql(validated(stage.name).sql)
            val shared = readers(pipeline, validated, stage.name).size >= 2 &&
              !(small && df.queryExecution.analyzed.deterministic)
            if (shared || stage.explainAnalyze) {
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

      // TTL eviction: unpersist every stage so far that no job still to run
      // reads (never the final stage). A reader that was not persisted runs
      // inside its own readers, or inside the write if it is the last stage.
      def live(name: String): Boolean = toWrite(name) ||
        readers(pipeline, validated, name).exists { case (r, rg) =>
          rg > gi || (!persisted.contains(r) && live(r)) }
      pipeline.stages.take(gi + 1).flatten.foreach { s =>
        if (!lastStage.exists(_.name == s.name) && !live(s.name))
          persisted.remove(s.name).foreach(_.unpersist())
      }
    }

    // -- destination; what the caller gets back is re-bound to its session
    abortCheck()
    val finalDf = lastStage.map(s => results(s.name))
    val out = finalDf.map(GraftShims.ofRows(spark, _))
    pipeline.destination match {
      case Some(dest) => // validate: a destination comes with a stage
        dest match {
          case _: InMemoryDestination => Destinations.write(spark, dest, out.get)
          case _ => Destinations.write(session, dest, finalDf.get)
        }
        tracker.onProgress(ProgressEvent.DestinationCompleted(dest.name))
        // reference deregisters the last stage after the write (lib.rs:177-204)
        persisted.values.foreach(_.unpersist())
        persisted.clear()
      case None => // the last stage stays queryable on the caller
        lastStage.zip(out).foreach { case (s, df) => df.createOrReplaceTempView(s.name) }
    }

    tracker.onProgress(ProgressEvent.Completed((System.nanoTime() - t0) / 1000000))
    out

    } catch {
      case e: Throwable =>
        persisted.values.foreach(df => try df.unpersist() catch { case _: Throwable => () })
        throw e
    }
    } finally pool.shutdown()
  }

  // ------------------------------------------------------------ validation

  /** A stage query that passed validation: the text the run executes (the
    * JSON operators rewritten) and the lower-cased single-part names of the
    * relations its parsed plan reads — sources and earlier stages — except
    * the query's own CTEs.
    */
  final case class ValidatedStage(sql: String, reads: Set[String])

  /** Load-time checks (reference templating.rs:286-330): every stage query
    * must parse as a pure SELECT; names must be unique.
    * @return each stage's validated query, by stage name
    */
  def validate(spark: SparkSession, pipeline: Aqueduct): Map[String, ValidatedStage] = {
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
      s.name -> ValidatedStage(sql, relationsRead(SqlGuard.validate(spark, s.name, sql)))
    }.toMap
  }

  // -------------------------------------------------------------- liveness

  private def lower(name: String) = name.toLowerCase(java.util.Locale.ROOT)

  /** Single-part relation names `plan` reads, subqueries and CTE bodies
    * included, minus the names its CTEs define. Names only in a literal,
    * an alias or a comment are not relations, so they are not read.
    */
  private def relationsRead(plan: LogicalPlan): Set[String] = {
    val ctes = plan.collectWithSubqueries { case w: UnresolvedWith => w.cteRelations.map(_._1) }
    plan.collectWithSubqueries {
      case r: UnresolvedRelation if r.multipartIdentifier.size == 1 =>
        Set(lower(r.multipartIdentifier.head))
      case w: UnresolvedWith => w.cteRelations.flatMap(c => relationsRead(c._2)).toSet
    }.flatten.toSet -- ctes.flatten.map(lower)
  }

  /** Each later stage that reads `name`, with its group index: its
    * consumers besides the destination.
    */
  private def readers(pipeline: Aqueduct, validated: Map[String, ValidatedStage],
      name: String): Seq[(String, Int)] = {
    val own = pipeline.stages.indexWhere(_.exists(_.name == name))
    pipeline.stages.zipWithIndex.drop(own + 1).flatMap { case (g, gi) =>
      g.filter(st => validated(st.name).reads(lower(name))).map(_.name -> gi)
    }
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
