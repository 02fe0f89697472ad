package graft

import graft.run.{LoggingTracker, Runner, Server}

/** CLI entry point: run a declarative pipeline file locally, or serve the
  * remote-execution endpoint.
  *
  * Usage mirrors the reference CLI's local mode
  * (aqueducts-cli/src/main.rs:122-144 → local_exec.rs:7-25) and the
  * executor's serve mode (aqueducts-executor/src/main.rs:20-45, default
  * port 3031):
  *
  * {{{
  *   graft.Main run -f pipeline.yml -p key=value -p key2=value2
  *   graft.Main run -f pipeline.yml --executor host:3031 --api-key SECRET
  *   graft.Main serve --port 3031 --api-key SECRET
  * }}}
  */
object Main {

  def main(args: Array[String]): Unit = {
    val parsed = parse(args.toList, CliArgs())
    parsed match {
      case Left(err) =>
        System.err.println(err)
        System.err.println(
          """usage: run -f <pipeline.{yml|yaml|json}> [-p key=value ...] [--validate-only]
            |           [--executor host:port] [--api-key KEY]
            |       serve [--port N] [--api-key KEY]""".stripMargin)
        sys.exit(2)
      case Right(cli) if cli.mode == "run" && cli.executor.nonEmpty =>
        // remote execution: no local SparkSession, just the wire client
        val (host, port) = cli.executor.get.split(":", 2) match {
          case Array(h, p) => (h, p.toInt)
          case Array(h) => (h, 3031)
        }
        val ok = run.RemoteClient.runRemote(
          java.nio.file.Paths.get(cli.file), cli.params, host, port, cli.apiKey)
        if (!ok) sys.exit(1)
      case Right(cli) if cli.mode == "schema" =>
        // JSON Schema for pipeline configs (reference schema_gen equivalent)
        println(config.SchemaGen.schemaJson)
      case Right(cli) if cli.mode == "serve" =>
        val spark = Sessions.local()
        val server = new Server(spark, cli.port, cli.apiKey)
        System.err.println(s"[graft] executor listening on port ${server.boundPort}" +
          cli.apiKey.map(_ => " (API key required)").getOrElse(""))
        // serve until the process is killed; the accept loop runs on daemon
        // threads, so the main thread must block
        Thread.currentThread().join()
      case Right(cli) =>
        val spark = Sessions.local()
        try {
          val path = java.nio.file.Paths.get(cli.file)
          if (cli.validateOnly) {
            // parse config + templating + stage-SQL validation, no execution
            val aq = config.ConfigParser.fromFile(path, cli.params)
            Runner.validate(spark, aq)
            println(s"OK: ${aq.sources.size} sources, " +
              s"${aq.stages.map(_.size).sum} stages, " +
              s"destination=${aq.destination.map(_.getClass.getSimpleName).getOrElse("none")}")
          } else {
            Runner.runFile(spark, path, cli.params, new LoggingTracker)
            ()
          }
        } catch {
          case e: Exception =>
            System.err.println(s"pipeline failed: ${e.getMessage}")
            sys.exit(1)
        } finally spark.stop()
    }
  }

  private[graft] final case class CliArgs(
      mode: String = "run",
      file: String = "",
      params: Map[String, String] = Map.empty,
      validateOnly: Boolean = false,
      port: Int = 3031, // reference executor default (main.rs:31)
      apiKey: Option[String] = None,
      executor: Option[String] = None)

  private[graft] def parse(args: List[String], acc: CliArgs): Either[String, CliArgs] = args match {
    case Nil =>
      if (acc.mode == "run" && acc.file.isEmpty) Left("missing -f <pipeline file>") else Right(acc)
    case "run" :: rest => parse(rest, acc.copy(mode = "run"))
    case "serve" :: rest => parse(rest, acc.copy(mode = "serve"))
    case "schema" :: rest => parse(rest, acc.copy(mode = "schema"))
    case ("-f" | "--file") :: f :: rest => parse(rest, acc.copy(file = f))
    case ("-p" | "--param") :: kv :: rest =>
      kv.split("=", 2) match {
        case Array(k, v) => parse(rest, acc.copy(params = acc.params + (k -> v)))
        case _ => Left(s"malformed param (expected key=value): $kv")
      }
    case "--validate-only" :: rest => parse(rest, acc.copy(validateOnly = true))
    case "--port" :: p :: rest =>
      p.toIntOption.toRight(s"malformed port: $p").flatMap(n => parse(rest, acc.copy(port = n)))
    case "--api-key" :: k :: rest => parse(rest, acc.copy(apiKey = Some(k)))
    case "--executor" :: url :: rest => parse(rest, acc.copy(executor = Some(url)))
    case other :: _ => Left(s"unknown argument: $other")
  }
}
