package graft.run

import graft.SparkSpec

/** End-to-end wire tests: a real socket client drives pipelines through
  * [[Server]] → [[PipelineService]] → [[Runner]], observing queue positions,
  * progress, chunked stage output, terminal messages, and cancellation —
  * the integration surface of the reference executor's WebSocket endpoint.
  */
class ServerSpec extends SparkSpec {

  private def connect(port: Int) = {
    val s = new java.net.Socket("127.0.0.1", port)
    s.setSoTimeout(120000)
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(s.getInputStream, "UTF-8"))
    val out = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(s.getOutputStream, "UTF-8"))
    (s, in, out)
  }

  private def sendLine(out: java.io.BufferedWriter, line: String): Unit = {
    out.write(line); out.write("\n"); out.flush()
  }

  private def yamlOf(csv: java.nio.file.Path, prefix: String, query: String, show: Int = 0): String =
    s"""version: "v2"
       |sources:
       |  - type: file
       |    name: ${prefix}_src
       |    format:
       |      type: csv
       |      options: { has_header: true }
       |    location: $csv
       |stages:
       |  - - name: ${prefix}_stage
       |      query: "$query"
       |${if (show > 0) s"      show: $show" else ""}
       |""".stripMargin

  /** Read server messages for `requestId` until a terminal one arrives. */
  private def drain(in: java.io.BufferedReader, requestId: String): Seq[AnyRef] = {
    val seen = Seq.newBuilder[AnyRef]
    var done = false
    while (!done) {
      val line = in.readLine()
      assert(line != null, s"connection closed before terminal message for $requestId")
      val m = Protocol.read(line)
      seen += m
      m match {
        case Protocol.ExecutionSucceeded(id) if id == requestId => done = true
        case Protocol.ExecutionError(id, _) if id == requestId => done = true
        case _ => ()
      }
    }
    seen.result()
  }

  test("execution over the wire: queue position, progress to 100, chunked show output, succeeded") {
    val server = new Server(spark)
    try {
      val csv = writeFixtureCsv(tmpDir("srv-e2e"))
      val (sock, in, out) = connect(server.boundPort)
      try {
        sendLine(out, "HEALTH")
        assert(in.readLine().contains("\"OK\""))

        val yaml = yamlOf(csv, "srv1", "SELECT active, count(*) AS n FROM srv1_src GROUP BY active ORDER BY active", show = 5)
        sendLine(out, Protocol.write(Protocol.ExecutionRequest("req-1", yaml)))
        val msgs = drain(in, "req-1")

        assert(msgs.exists { case Protocol.QueuePosition("req-1", p) => p >= 0; case _ => false })
        val progress = msgs.collect { case Protocol.ProgressUpdate("req-1", pct, _) => pct }
        assert(progress.nonEmpty && progress.last == 100, progress)
        val chunks = msgs.collect { case c: Protocol.StageOutputChunk => c }
        assert(chunks.nonEmpty && chunks.head.outputType == "Show")
        assert(chunks.map(_.body).mkString.contains("true")) // the shown rows
        assert(msgs.last == Protocol.ExecutionSucceeded("req-1"))
      } finally sock.close()
    } finally server.close()
  }

  test("progress_update sequence: one step each of sources + 2·stages + destination, Completed at 100") {
    val server = new Server(spark)
    try {
      val csv = writeFixtureCsv(tmpDir("srv-pct"))
      val (sock, in, out) = connect(server.boundPort)
      try {
        val yaml = yamlOf(csv, "srvpct", "SELECT count(*) AS n FROM srvpct_src") +
          """destination:
            |  type: in_memory
            |  name: srvpct_out
            |""".stripMargin
        sendLine(out, Protocol.write(Protocol.ExecutionRequest("req-pct", yaml)))
        val msgs = drain(in, "req-pct")
        assert(msgs.last == Protocol.ExecutionSucceeded("req-pct"), msgs.mkString("\n"))
        val progress = msgs.collect { case Protocol.ProgressUpdate("req-pct", pct, ev) =>
          (pct, ev.takeWhile(_ != '(')) }
        // 1 source + 2·1 stage + 1 destination = 4 steps of 25
        assert(progress == Seq(0 -> "Started", 25 -> "SourceRegistered", 50 -> "StageStarted",
          75 -> "StageCompleted", 100 -> "DestinationCompleted", 100 -> "Completed"), progress)
      } finally sock.close()
    } finally server.close()
  }

  test("queued request reports its position and can be cancelled over the wire") {
    spark.udf.register("graft_srv_sleep", (x: Long) => { Thread.sleep(8); x })
    val server = new Server(spark)
    try {
      val csv = writeFixtureCsv(tmpDir("srv-cancel"))
      val (sock, in, out) = connect(server.boundPort)
      try {
        // head-of-queue: ~8ms × 200 evaluations keeps the worker busy
        val slow = yamlOf(csv, "srvslow",
          "SELECT sum(graft_srv_sleep(CAST(id AS BIGINT) + s)) AS n FROM srvslow_src LATERAL VIEW explode(sequence(1, 40)) t AS s")
        val quick = yamlOf(csv, "srvq", "SELECT count(*) AS n FROM srvq_src")
        sendLine(out, Protocol.write(Protocol.ExecutionRequest("req-slow", slow)))
        sendLine(out, Protocol.write(Protocol.ExecutionRequest("req-b", quick)))
        sendLine(out, Protocol.write(Protocol.CancellationRequest("req-b")))

        val msgs = drain(in, "req-b")
        // the queued request observed a position behind the running head
        assert(msgs.exists { case Protocol.QueuePosition("req-b", p) => p >= 1; case _ => false },
          msgs.mkString("\n"))
        val terminal = msgs.collect { case Protocol.ExecutionError("req-b", m) => m }
        assert(terminal.nonEmpty && terminal.head.contains("cancelled"), msgs.mkString("\n"))
        // the head of the queue is unaffected
        val rest = drain(in, "req-slow")
        assert(rest.exists { case Protocol.ExecutionSucceeded("req-slow") => true; case _ => false })
      } finally sock.close()
    } finally server.close()
  }

  test("API key: wrong key refused, correct key accepted") {
    val server = new Server(spark, apiKey = Some("sekrit"))
    try {
      val csv = writeFixtureCsv(tmpDir("srv-auth"))
      val (bad, badIn, badOut) = connect(server.boundPort)
      try {
        sendLine(badOut, "AUTH wrong")
        val resp = badIn.readLine()
        assert(resp != null && resp.contains("unauthorized"))
        assert(badIn.readLine() == null) // server closed the connection
      } finally bad.close()

      val (ok, okIn, okOut) = connect(server.boundPort)
      try {
        sendLine(okOut, "AUTH sekrit")
        sendLine(okOut, Protocol.write(Protocol.ExecutionRequest("req-auth",
          yamlOf(csv, "srva", "SELECT count(*) AS n FROM srva_src"))))
        val msgs = drain(okIn, "req-auth")
        assert(msgs.last == Protocol.ExecutionSucceeded("req-auth"))
      } finally ok.close()
    } finally server.close()
  }

  test("RemoteClient round trip: submit, stream progress, succeed; cancel path errors") {
    spark.udf.register("graft_rc_sleep", (x: Long) => { Thread.sleep(8); x })
    val server = new Server(spark, apiKey = Some("rckey"))
    try {
      val csv = writeFixtureCsv(tmpDir("srv-client"))
      val progress = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val h1 = RemoteClient.submit("127.0.0.1", server.boundPort,
        yamlOf(csv, "rc1", "SELECT count(*) AS n FROM rc1_src"), Some("rckey"), {
          case Protocol.ProgressUpdate(_, pct, _) => progress.add(pct)
          case _ => ()
        })
      assert(h1.result(120) == Right(()))
      assert(!progress.isEmpty && progress.toArray.last == 100)
      h1.close()

      // occupy the worker, then cancel a queued submission from the client
      val slow = RemoteClient.submit("127.0.0.1", server.boundPort,
        yamlOf(csv, "rcslow",
          "SELECT sum(graft_rc_sleep(CAST(id AS BIGINT) + s)) AS n FROM rcslow_src LATERAL VIEW explode(sequence(1, 40)) t AS s"),
        Some("rckey"))
      val queued = RemoteClient.submit("127.0.0.1", server.boundPort,
        yamlOf(csv, "rcq", "SELECT count(*) AS n FROM rcq_src"), Some("rckey"))
      queued.cancel()
      val cancelled = queued.result(120)
      assert(cancelled.isLeft && cancelled.left.exists(_.contains("cancelled")), cancelled)
      assert(slow.result(120) == Right(()))
      slow.close(); queued.close()
    } finally server.close()
  }

  // ------------------------------------------------- WebSocket test client

  private def rawLine(in: java.io.InputStream): String = {
    val buf = new java.io.ByteArrayOutputStream()
    var b = in.read()
    while (b >= 0 && b != '\n') { buf.write(b); b = in.read() }
    new String(buf.toByteArray, "UTF-8").stripSuffix("\r")
  }

  /** HTTP request over a fresh socket; returns (status line, headers, body). */
  private def httpGet(port: Int, path: String, headers: Seq[(String, String)])
      : (String, Map[String, String], String) =
    httpReq(port, "GET", path, headers)

  private def httpReq(port: Int, method: String, path: String,
      headers: Seq[(String, String)]): (String, Map[String, String], String) = {
    val s = new java.net.Socket("127.0.0.1", port)
    s.setSoTimeout(120000)
    try {
      val out = s.getOutputStream
      out.write(((s"$method $path HTTP/1.1" +: "Host: t" +: headers.map { case (k, v) => s"$k: $v" })
        .mkString("\r\n") + "\r\n\r\n").getBytes("UTF-8"))
      out.flush()
      val in = new java.io.BufferedInputStream(s.getInputStream)
      val status = rawLine(in)
      val hs = Iterator.continually(rawLine(in)).takeWhile(_.nonEmpty)
        .map { l => val i = l.indexOf(':'); l.take(i).toLowerCase -> l.drop(i + 1).trim }.toMap
      // HEAD advertises Content-Length but sends no body — read what the
      // server actually closes with, not what the header promises
      val expect = if (method == "HEAD") 0 else hs.get("content-length").fold(0)(_.toInt)
      val body = {
        val buf = new Array[Byte](expect)
        var off = 0
        while (off < buf.length) {
          val r = in.read(buf, off, buf.length - off); assert(r >= 0); off += r
        }
        new String(buf, "UTF-8")
      }
      if (method == "HEAD") assert(in.read() == -1, "HEAD response carried a body")
      (status, hs, body)
    } finally s.close()
  }

  /** Open a socket and complete the RFC 6455 upgrade on `/ws/connect`. */
  private def wsConnect(port: Int, apiKey: Option[String])
      : (java.net.Socket, java.io.InputStream, java.io.OutputStream) = {
    val s = new java.net.Socket("127.0.0.1", port)
    s.setSoTimeout(120000)
    val in = new java.io.BufferedInputStream(s.getInputStream)
    val out = new java.io.BufferedOutputStream(s.getOutputStream)
    val key = java.util.Base64.getEncoder.encodeToString(Array.tabulate(16)(_.toByte))
    val headers = Seq("Host: t", "Upgrade: websocket", "Connection: Upgrade",
      s"Sec-WebSocket-Key: $key", "Sec-WebSocket-Version: 13") ++
      apiKey.map(k => s"X-API-Key: $k")
    out.write((("GET /ws/connect HTTP/1.1" +: headers).mkString("\r\n") + "\r\n\r\n")
      .getBytes("UTF-8"))
    out.flush()
    val status = rawLine(in)
    assert(status.contains("101"), status)
    var accept = ""
    var l = rawLine(in)
    while (l.nonEmpty) {
      if (l.toLowerCase.startsWith("sec-websocket-accept:")) accept = l.drop(21).trim
      l = rawLine(in)
    }
    assert(accept == WebSocket.acceptKey(key), s"bad accept key: $accept")
    (s, in, out)
  }

  /** One masked client frame (RFC 6455 §5.1 requires client masking). */
  private def wsSend(out: java.io.OutputStream, payload: Array[Byte],
      opcode: Int, fin: Boolean = true): Unit = {
    out.write((if (fin) 0x80 else 0x00) | opcode)
    if (payload.length < 126) out.write(0x80 | payload.length)
    else { out.write(0x80 | 126); out.write(payload.length >> 8); out.write(payload.length & 0xff) }
    val mask = Array[Byte](7, 11, 13, 17)
    out.write(mask)
    payload.indices.foreach(i => out.write(payload(i) ^ mask(i & 3)))
    out.flush()
  }

  private def wsSendText(out: java.io.OutputStream, text: String): Unit =
    wsSend(out, text.getBytes("UTF-8"), WebSocket.OpText)

  /** One server frame (servers never mask). Returns (opcode, payload). */
  private def wsRead(in: java.io.InputStream): (Int, Array[Byte]) = {
    def rb(): Int = { val b = in.read(); assert(b >= 0, "EOF mid-frame"); b }
    val b0 = rb(); val b1 = rb()
    assert((b1 & 0x80) == 0, "server frame must be unmasked")
    val len7 = b1 & 0x7f
    val n =
      if (len7 < 126) len7
      else if (len7 == 126) (rb() << 8) | rb()
      else (0 until 8).foldLeft(0L)((a, _) => (a << 8) | rb()).toInt
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) { val r = in.read(buf, off, n - off); assert(r >= 0); off += r }
    (b0 & 0x0f, buf)
  }

  /** Read Protocol messages off text frames until `requestId` terminates,
    * unless one of the messages `read` earlier already ended it: the
    * result is `read` followed by every message read here.
    */
  private def wsDrain(in: java.io.InputStream, requestId: String,
      read: Seq[AnyRef] = Nil): Seq[AnyRef] = {
    def terminal(m: AnyRef): Boolean = m match {
      case Protocol.ExecutionSucceeded(id) => id == requestId
      case Protocol.ExecutionError(id, _) => id == requestId
      case _ => false
    }
    val seen = Seq.newBuilder[AnyRef] ++= read
    var done = read.exists(terminal)
    while (!done) {
      val (op, payload) = wsRead(in)
      if (op == WebSocket.OpText) {
        val m = Protocol.read(new String(payload, "UTF-8"))
        seen += m
        done = terminal(m)
      }
    }
    seen.result()
  }

  test("WebSocket: upgrade, ping/pong, fragmented request, progress + chunks to succeeded") {
    val server = new Server(spark, apiKey = Some("wskey"))
    try {
      val csv = writeFixtureCsv(tmpDir("srv-ws"))
      val (sock, in, out) = wsConnect(server.boundPort, Some("wskey"))
      try {
        // control frames round-trip
        wsSend(out, "hello?".getBytes("UTF-8"), WebSocket.OpPing)
        val (pongOp, pongBody) = wsRead(in)
        assert(pongOp == WebSocket.OpPong && new String(pongBody, "UTF-8") == "hello?")

        // the execution request arrives split across text + continuation
        val req = Protocol.write(Protocol.ExecutionRequest("ws-1",
          yamlOf(csv, "ws1", "SELECT active, count(*) AS n FROM ws1_src GROUP BY active ORDER BY active", show = 5)))
        val bytes = req.getBytes("UTF-8")
        val cut = bytes.length / 2
        wsSend(out, bytes.take(cut), WebSocket.OpText, fin = false)
        wsSend(out, bytes.drop(cut), WebSocket.OpContinuation)

        val msgs = wsDrain(in, "ws-1")
        assert(msgs.exists { case Protocol.QueuePosition("ws-1", p) => p >= 0; case _ => false })
        val progress = msgs.collect { case Protocol.ProgressUpdate("ws-1", pct, _) => pct }
        assert(progress.nonEmpty && progress.last == 100, progress)
        val chunks = msgs.collect { case c: Protocol.StageOutputChunk => c }
        assert(chunks.nonEmpty && chunks.head.outputType == "Show")
        assert(msgs.last == Protocol.ExecutionSucceeded("ws-1"))

        // clean close: echo with the client's status code
        wsSend(out, Array[Byte](0x03, 0xe8.toByte), WebSocket.OpClose)
        val (closeOp, closeBody) = wsRead(in)
        assert(closeOp == WebSocket.OpClose && closeBody.toSeq == Seq[Byte](0x03, 0xe8.toByte))
      } finally sock.close()
    } finally server.close()
  }

  test("WebSocket: cancellation over the wire reaches a queued request") {
    spark.udf.register("graft_ws_sleep", (x: Long) => { Thread.sleep(8); x })
    val server = new Server(spark)
    try {
      val csv = writeFixtureCsv(tmpDir("srv-ws-cancel"))
      val (sock, in, out) = wsConnect(server.boundPort, None)
      try {
        val slow = yamlOf(csv, "wsslow",
          "SELECT sum(graft_ws_sleep(CAST(id AS BIGINT) + s)) AS n FROM wsslow_src LATERAL VIEW explode(sequence(1, 40)) t AS s")
        val quick = yamlOf(csv, "wsq", "SELECT count(*) AS n FROM wsq_src")
        wsSendText(out, Protocol.write(Protocol.ExecutionRequest("ws-slow", slow)))
        wsSendText(out, Protocol.write(Protocol.ExecutionRequest("ws-b", quick)))
        // wait until the server has REPORTED ws-b queued before cancelling:
        // an instant cancel can beat the position forwarder's first poll,
        // which then (correctly) never reports a position for a dead request
        val preCancel = Seq.newBuilder[AnyRef]
        var queued = false
        while (!queued) {
          val (op, payload) = wsRead(in)
          if (op == WebSocket.OpText) {
            val m = Protocol.read(new String(payload, "UTF-8"))
            preCancel += m
            queued = m match {
              case Protocol.QueuePosition("ws-b", p) => p >= 1
              case _ => false
            }
          }
        }
        wsSendText(out, Protocol.write(Protocol.CancellationRequest("ws-b")))
        val msgs = preCancel.result() ++ wsDrain(in, "ws-b")
        val terminal = msgs.collect { case Protocol.ExecutionError("ws-b", m) => m }
        assert(terminal.nonEmpty && terminal.head.contains("cancelled"), msgs.mkString("\n"))
        // ws-slow may have ended before ws-b's terminal message: look at
        // what was read already before reading on
        val rest = wsDrain(in, "ws-slow", msgs)
        assert(rest.exists { case Protocol.ExecutionSucceeded("ws-slow") => true; case _ => false })
      } finally sock.close()
    } finally server.close()
  }

  test("HTTP: /api/health open, /ws/connect enforces X-API-Key, non-upgrade is 400") {
    val server = new Server(spark, apiKey = Some("sekrit"))
    try {
      val (st, _, body) = httpGet(server.boundPort, "/api/health", Nil)
      assert(st.contains("200") && body.contains("OK"))
      val (st401, _, _) = httpGet(server.boundPort, "/ws/connect", Seq("X-API-Key" -> "wrong"))
      assert(st401.contains("401"))
      val (st400, _, _) = httpGet(server.boundPort, "/ws/connect", Seq("X-API-Key" -> "sekrit"))
      assert(st400.contains("400")) // authorized but no upgrade headers
    } finally server.close()
  }

  test("HTTP conformance: POST is 405 (not NDJSON junk), HEAD omits the body") {
    val server = new Server(spark, apiKey = Some("sekrit"))
    try {
      val (st405, hs405, _) = httpReq(server.boundPort, "POST", "/api/health", Nil)
      assert(st405.contains("405"), st405)
      assert(hs405.get("allow").exists(_.contains("GET")), hs405.toString)
      val (stHead, hsHead, body) = httpReq(server.boundPort, "HEAD", "/api/health", Nil)
      assert(stHead.contains("200"), stHead)
      assert(hsHead.get("content-length").exists(_.toInt > 0), hsHead.toString)
      assert(body.isEmpty)
    } finally server.close()
  }

  test("WebSocket: oversized and fragmented control frames are rejected (RFC 6455 §5.5)") {
    val server = new Server(spark)
    try {
      // ping with a 126-byte payload: connection must drop, not pong
      val (s1, in1, out1) = wsConnect(server.boundPort, None)
      try {
        wsSend(out1, new Array[Byte](126), WebSocket.OpPing); out1.flush()
        assert(in1.read() == -1, "server kept the connection after an oversized ping")
      } finally s1.close()
      // fragmented close (FIN clear): same
      val (s2, in2, out2) = wsConnect(server.boundPort, None)
      try {
        wsSend(out2, Array[Byte](3, -24), WebSocket.OpClose, fin = false); out2.flush()
        assert(in2.read() == -1, "server kept the connection after a fragmented close")
      } finally s2.close()
      // and a healthy connection still works afterwards
      val (s3, in3, out3) = wsConnect(server.boundPort, None)
      try {
        wsSend(out3, "HEALTH".getBytes("UTF-8"), WebSocket.OpText); out3.flush()
        val (_, payload) = wsRead(in3)
        assert(new String(payload, "UTF-8").contains("OK"))
      } finally s3.close()
    } finally server.close()
  }

  test("malformed pipeline and malformed message produce execution_error, server keeps serving") {
    val server = new Server(spark)
    try {
      val (sock, in, out) = connect(server.boundPort)
      try {
        sendLine(out, Protocol.write(Protocol.ExecutionRequest("req-bad", "stages: [[{]]")))
        val m1 = drain(in, "req-bad")
        assert(m1.exists { case Protocol.ExecutionError("req-bad", _) => true; case _ => false })

        sendLine(out, """{"type":"mystery"}""")
        val err = Protocol.read(in.readLine())
        assert(err.isInstanceOf[Protocol.ExecutionError])

        // still alive afterwards
        sendLine(out, "HEALTH")
        assert(in.readLine().contains("\"OK\""))
      } finally sock.close()
    } finally server.close()
  }
}
