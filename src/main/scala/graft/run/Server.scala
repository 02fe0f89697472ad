package graft.run

import graft.config.ConfigParser
import org.apache.spark.sql.SparkSession
import scala.concurrent.ExecutionContext
import scala.util.{Failure, Success}

/** Remote-execution server: the transport that binds [[PipelineService]]
  * (FIFO manager) and [[Protocol]] (wire contract) together — the runnable
  * counterpart of the reference executor's WebSocket endpoint
  * (aqueducts-executor/src/api/mod.rs:78-160, main.rs:1-199).
  *
  * Two transports share one port, sniffed from the first line:
  *   - NDJSON-over-TCP (a raw JSON line connects directly), and
  *   - HTTP: GET /api/health plus a WebSocket upgrade (any other path)
  *     carrying the same Protocol messages one per text frame, API key via
  *     the reference's X-API-Key header — a reference-shaped WS client
  *     connects unchanged (RFC 6455 framing in [[WebSocket]]).
  *
  * Connection contract, one JSON message per line (or text frame):
  *   - client → server: `execution_request` (rendered pipeline config),
  *     `cancellation_request`
  *   - server → client: `queue_position` updates while queued,
  *     `progress_update` (+ percent) and `stage_output_chunk` (32k-chunked
  *     show/explain/schema output) during the run, then a terminal
  *     `execution_succeeded` / `execution_error`
  *
  * Auth mirrors the reference's API-key middleware (api/auth.rs): when
  * constructed with an `apiKey`, the first non-HEALTH line of a connection
  * must be `AUTH <key>` (compared constant-time) or the connection is
  * refused. The literal line `HEALTH` answers `{"status":"OK"}` before or
  * after auth — the reference's /api/health is likewise unauthenticated
  * (api/mod.rs:43-49).
  *
  * Plain `java.net` sockets — zero dependencies, embeddable anywhere a
  * SparkSession lives. Like the reference (which recommends fronting the
  * executor with TLS-terminating infrastructure), transport encryption is an
  * deployment concern layered outside the process.
  */
final class Server(
    spark: SparkSession,
    port: Int = 0,
    apiKey: Option[String] = None,
    maxQueue: Int = 16) {

  private val service = new PipelineService(spark, maxQueue)
  private val server = new java.net.ServerSocket(port)
  // requestId → service handle, server-wide: a cancel may arrive on a
  // different connection than the one that submitted
  private val handles = new java.util.concurrent.ConcurrentHashMap[String, service.Handle]()
  @volatile private var closed = false

  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-server")
      t.setDaemon(true)
      t
    }))

  /** The actual bound port (useful with port = 0 for tests). */
  def boundPort: Int = server.getLocalPort

  private val acceptThread = new Thread("graft-server-accept") {
    override def run(): Unit =
      while (!closed) {
        try {
          val socket = server.accept()
          ec.execute(() => handle(socket))
        } catch {
          case _: java.net.SocketException if closed => () // normal shutdown
          case _: java.io.IOException => ()
        }
      }
  }
  acceptThread.setDaemon(true)
  acceptThread.start()

  def close(): Unit = {
    closed = true
    try server.close() catch { case _: java.io.IOException => () }
    service.close()
  }

  // ------------------------------------------------------------ connection

  /** One byte-level line (LF-terminated, CR stripped, UTF-8); null on EOF.
    * Reads the raw stream so a connection can switch to binary WebSocket
    * frames after the HTTP handshake without a reader buffering ahead.
    */
  private def readLine(in: java.io.InputStream): String = {
    val buf = new java.io.ByteArrayOutputStream(128)
    var b = in.read()
    if (b < 0) return null
    while (b >= 0 && b != '\n') { buf.write(b); b = in.read() }
    val s = new String(buf.toByteArray, "UTF-8")
    if (s.endsWith("\r")) s.dropRight(1) else s
  }

  private def handle(socket: java.net.Socket): Unit = {
    val in = new java.io.BufferedInputStream(socket.getInputStream)
    val out = new java.io.BufferedOutputStream(socket.getOutputStream)
    try {
      val first = readLine(in)
      if (first == null) ()
      // an HTTP request line means a reference-shaped client: health probe
      // or WebSocket upgrade (the reference's /api/health + /ws/connect).
      // Sniff on the HTTP-version suffix, not a method allowlist — a POST
      // must get a clean 405, not be dispatched as NDJSON junk
      else if (first.matches(".* HTTP/\\d\\.\\d"))
        handleHttp(first, in, out)
      else handleNdjson(first, in, out)
    } catch {
      case _: java.io.IOException => () // disconnect: running pipelines proceed
    } finally {
      try socket.close() catch { case _: java.io.IOException => () }
    }
  }

  private def handleNdjson(
      first: String, in: java.io.InputStream, out: java.io.OutputStream): Unit = {
    val writeLock = new Object
    def sendRaw(line: String): Unit = writeLock.synchronized {
      try { out.write((line + "\n").getBytes("UTF-8")); out.flush() }
      catch { case _: java.io.IOException => () } // client gone: drop output
    }
    def send(m: AnyRef): Unit = sendRaw(Protocol.write(m))

    var line = first
    apiKey match {
      case Some(key) =>
        // HEALTH stays reachable without credentials, matching the
        // reference's unauthenticated /api/health (api/mod.rs:43-49)
        while (line != null && line.trim == "HEALTH") {
          sendRaw("""{"status":"OK"}""")
          line = readLine(in)
        }
        // constant-time comparison: this is an unauthenticated TCP endpoint,
        // so a bytewise-early-exit == would leak key prefixes via timing.
        // Trimmed like every other line (HEALTH, dispatch): a CRLF client's
        // trailing \r must not fail an otherwise-correct key.
        val ok = line != null && java.security.MessageDigest.isEqual(
          s"AUTH $key".getBytes("UTF-8"), line.trim.getBytes("UTF-8"))
        if (!ok) {
          sendRaw("""{"type":"execution_error","request_id":"","message":"unauthorized"}""")
          return
        }
        line = readLine(in)
      case None => ()
    }
    while (line != null && !closed) {
      line.trim match {
        case "" => ()
        case "HEALTH" => sendRaw("""{"status":"OK"}""")
        case text => dispatch(text, send)
      }
      line = readLine(in)
    }
  }

  // ------------------------------------------------------- HTTP / WebSocket

  /** The reference executor's HTTP surface (api/mod.rs:27-31): GET
    * /api/health unauthenticated; /ws/connect behind the X-API-Key header
    * (auth.rs:11-35), upgraded to a WebSocket carrying the same Protocol
    * JSON messages, one per text frame.
    */
  private def handleHttp(
      requestLine: String, in: java.io.InputStream, out: java.io.OutputStream): Unit = {
    val headers = scala.collection.mutable.Map.empty[String, String]
    var l = readLine(in)
    while (l != null && l.nonEmpty) {
      val i = l.indexOf(':')
      if (i > 0) headers += (l.substring(0, i).trim.toLowerCase -> l.substring(i + 1).trim)
      l = readLine(in)
    }
    val method = requestLine.takeWhile(_ != ' ')
    // HEAD answers like GET minus the body (RFC 9110 §9.3.2): headers —
    // including Content-Length — describe the representation, none is sent
    val withBody = method != "HEAD"
    def respond(status: String, body: String, extra: String = ""): Unit = {
      val bytes = body.getBytes("UTF-8")
      out.write((s"HTTP/1.1 $status\r\nConnection: close\r\n$extra" +
        s"Content-Type: application/json\r\nContent-Length: ${bytes.length}\r\n\r\n")
        .getBytes("UTF-8"))
      if (withBody) out.write(bytes)
      out.flush()
    }
    if (method != "GET" && method != "HEAD") {
      respond("405 Method Not Allowed", """{"error":"method not allowed"}""",
        extra = "Allow: GET, HEAD\r\n")
      return
    }
    val path = requestLine.split(" ").lift(1).getOrElse("/").takeWhile(_ != '?')
    if (path == "/api/health") { respond("200 OK", """{"status":"OK"}"""); return }
    val authorized = apiKey.forall(key => headers.get("x-api-key").exists(v =>
      java.security.MessageDigest.isEqual(key.getBytes("UTF-8"), v.getBytes("UTF-8"))))
    if (!authorized) { respond("401 Unauthorized", """{"error":"unauthorized"}"""); return }
    (headers.get("upgrade").map(_.toLowerCase), headers.get("sec-websocket-key")) match {
      // RFC 6455 §4.1: the opening handshake must be a GET
      case (Some("websocket"), Some(wsKey)) if method == "GET" =>
        out.write(("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n" +
          s"Connection: Upgrade\r\nSec-WebSocket-Accept: ${WebSocket.acceptKey(wsKey)}\r\n\r\n")
          .getBytes("UTF-8"))
        out.flush()
        wsLoop(in, out)
      case _ => respond("400 Bad Request", """{"error":"expected websocket upgrade"}""")
    }
  }

  /** Frame loop after a completed upgrade: text messages dispatch exactly
    * like NDJSON lines; ping answered with pong, close echoed then closed,
    * continuation frames reassembled. Server output is one unmasked text
    * frame per Protocol message.
    */
  private def wsLoop(in: java.io.InputStream, out: java.io.OutputStream): Unit = {
    val writeLock = new Object
    def frame(opcode: Int, payload: Array[Byte]): Unit = writeLock.synchronized {
      try WebSocket.writeFrame(out, opcode, payload)
      catch { case _: java.io.IOException => () } // client gone: drop output
    }
    def sendText(s: String): Unit = frame(WebSocket.OpText, s.getBytes("UTF-8"))
    def send(m: AnyRef): Unit = sendText(Protocol.write(m))

    val pending = new java.io.ByteArrayOutputStream()
    var open = true
    while (open && !closed) {
      WebSocket.readFrame(in) match {
        case None => open = false
        case Some(WebSocket.Frame(fin, op, payload)) =>
          // RFC 6455 §5.5: control frames must not be fragmented and carry
          // at most 125 payload bytes — enforce rather than mis-handle
          if (op >= WebSocket.OpClose && (!fin || payload.length > 125))
            throw new java.io.IOException(
              s"control frame violates RFC 6455 (fin=$fin, ${payload.length} bytes)")
          op match {
          case WebSocket.OpClose =>
            frame(WebSocket.OpClose, payload.take(2)) // echo the status code
            open = false
          case WebSocket.OpPing => frame(WebSocket.OpPong, payload)
          case WebSocket.OpPong => ()
          case WebSocket.OpText | WebSocket.OpBinary | WebSocket.OpContinuation =>
            pending.write(payload, 0, payload.length)
            if (pending.size > WebSocket.MaxFrameBytes)
              throw new java.io.IOException("fragmented message exceeds cap")
            if (fin) {
              val text = new String(pending.toByteArray, "UTF-8")
              pending.reset()
              text.trim match {
                case "" => ()
                case "HEALTH" => sendText("""{"status":"OK"}""")
                case t => dispatch(t, send)
              }
            }
          case other =>
            throw new java.io.IOException(s"unsupported opcode $other")
        }
      }
    }
  }

  private def dispatch(text: String, send: AnyRef => Unit): Unit = {
    val msg =
      try Protocol.read(text)
      catch {
        case e: Exception =>
          send(Protocol.ExecutionError("", s"malformed message: ${e.getMessage}")); return
      }
    msg match {
      case Protocol.ExecutionRequest(requestId, pipelineYaml) =>
        submit(requestId, pipelineYaml, send)
      case Protocol.CancellationRequest(requestId) =>
        // terminal outcome reaches the client through the submission's own
        // completion forwarder (CancellationException → execution_error)
        Option(handles.get(requestId)).foreach(h => service.cancel(h.id))
      case other =>
        send(Protocol.ExecutionError("", s"unexpected client message: ${other.getClass.getSimpleName}"))
    }
  }

  private def submit(requestId: String, pipelineYaml: String, send: AnyRef => Unit): Unit = {
    // the request carries the fully-rendered config (templating happens
    // client-side, like the reference ships the rendered Aqueduct struct);
    // YAML parse accepts JSON documents too (YAML superset)
    val pipeline =
      try ConfigParser.fromYaml(pipelineYaml)
      catch { case e: Exception => send(Protocol.ExecutionError(requestId, e.getMessage)); return }

    val handle =
      try service.submit(pipeline, wireTracker(requestId, pipeline, send))
      catch { case e: IllegalStateException => send(Protocol.ExecutionError(requestId, e.getMessage)); return }
    handles.put(requestId, handle)

    // queue-position forwarder: report the initial position and every change
    // until the pipeline starts running (reference api/mod.rs:110-131). The
    // INITIAL position goes out synchronously, before this connection's
    // reader dispatches its next message — a cancel arriving right behind
    // the submit could otherwise remove the submission before the async
    // forwarder ever observed (and reported) a position.
    val initial = math.max(handle.queuePosition, 0)
    send(Protocol.QueuePosition(requestId, initial))
    ec.execute { () =>
      var last = initial
      var pos = handle.queuePosition
      while (pos > 0 && !closed) {
        if (pos != last) { send(Protocol.QueuePosition(requestId, pos)); last = pos }
        Thread.sleep(50)
        pos = handle.queuePosition
      }
      if (pos == 0 && last != 0) send(Protocol.QueuePosition(requestId, 0))
    }

    handle.result.onComplete { r =>
      handles.remove(requestId)
      r match {
        case Success(_) => send(Protocol.ExecutionSucceeded(requestId))
        case Failure(e) => send(Protocol.ExecutionError(requestId, String.valueOf(e.getMessage)))
      }
    }
  }

  /** Tracker → wire messages. `progress_update.progress` is the
    * [[PercentTracker]] step count, the same 0-100 scale the reference
    * executor reports; `Completed` always sends 100.
    */
  private def wireTracker(
      requestId: String, pipeline: graft.config.Aqueduct, send: AnyRef => Unit): ProgressTracker = {
    lazy val steps: PercentTracker = new PercentTracker(new ProgressTracker {
      override def onProgress(event: ProgressEvent): Unit = {
        val pct = event match {
          case _: ProgressEvent.Completed => 100
          case _ => steps.percent
        }
        send(Protocol.ProgressUpdate(requestId, pct, event.toString))
      }
      override def onOutput(stageName: String, outputType: OutputType, body: String): Unit =
        Protocol.chunked(requestId, stageName, outputType.toString, body).foreach(send)
    }, pipeline)
    steps
  }
}
