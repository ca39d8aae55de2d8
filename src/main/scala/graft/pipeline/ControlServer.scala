package graft.pipeline

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.Verify.jstr

/** HTTP control surface over [[EtlScheduler]] — the engine analogue of
  * the reference's Express app (`index.js:46-355`), on the JDK's
  * built-in `HttpServer` (no dependencies; this is control plane only —
  * the data plane stays Spark):
  *
  *  - `POST /api/start-etl` `{"schedule":"<cron>"}` — start the
  *    validated cron schedule (400 when already running / bad pattern)
  *  - `POST /api/start-etl-force` — immediate one-shot run (400 when
  *    the scheduler is running, 409 when a run is in flight — the
  *    single-flight guard, R3)
  *  - `POST /api/stop-etl` — graceful stop with uptime summary
  *  - `GET  /api/etl-status`, `GET /health` — status snapshots (R6)
  *  - `GET  /api/logs` — last 100 parsed `[ts] message` lines, newest
  *    first (`index.js:208-253`)
  *  - `DELETE /api/logs` — truncate + broadcast `clear` to stream
  *    clients (`index.js:255-276`)
  *  - `GET  /api/logs/stream` — SSE tail-follow fan-out (R4,
  *    `index.js:278-310`): `connected` on attach, `log` per appended
  *    line, `clear` on truncate.
  */
/** Marks a string as ALREADY-rendered JSON (arrays/objects) so
  * jfield embeds it verbatim instead of quoting it into a string.
  * (Top-level: a nested case class's pattern match can't check the
  * outer instance at runtime.)
  */
private[pipeline] final case class RawJson(rendered: String)

final class ControlServer(
    scheduler: EtlScheduler,
    logPath: String,
    port: Int = 0,
    lastReport: () => Option[RunReport] = () => None,
) {

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  private val sseClients =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.OutputStream]()
  @volatile private var currentSchedule: Option[String] = None
  @volatile private var watcherRunning = true

  /** Ephemeral-port servers (port=0) report where they actually bound. */
  def boundPort: Int = server.getAddress.getPort

  // ------------------------------------------------------------- helpers

  private def jfield(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => jfield(x)
    case RawJson(r) => r
    case s: String => jstr(s)
    case b: Boolean => b.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case d: Double => d.toString
    case other => jstr(other.toString)
  }

  private def json(kv: (String, Any)*): String =
    kv.map { case (k, v) => jstr(k) + ":" + jfield(v) }
      .mkString("{", ",", "}")

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def formatUptime(ms: Long): String = {
    val s = ms / 1000 % 60
    val m = ms / 60000 % 60
    val h = ms / 3600000
    s"${h}h ${m}m ${s}s"
  }

  private def iso(msOpt: Option[Long]): Any =
    msOpt.map(ms => java.time.Instant.ofEpochMilli(ms).toString)

  private def parseLine(line: String): String = {
    val m = "^\\[(.*?)\\]\\s*".r.findFirstMatchIn(line)
    m match {
      case Some(mm) => json("timestamp" -> mm.group(1),
        "message" -> line.substring(mm.matched.length).trim)
      case None => json("timestamp" -> java.time.Instant.now().toString,
        "message" -> line.trim)
    }
  }

  private def broadcast(event: String, data: String): Unit = {
    val payload = s"event: $event\ndata: $data\n\n"
      .getBytes(StandardCharsets.UTF_8)
    sseClients.forEach { os =>
      // per-stream lock: the watcher thread (log events) and HTTP
      // handler threads (clear events) both broadcast — interleaved
      // partial writes would corrupt the SSE framing
      os.synchronized {
        try { os.write(payload); os.flush() }
        catch { case _: java.io.IOException =>
          sseClients.remove(os)
          try os.close() catch { case _: Exception => () }
        }
      }
    }
  }

  // ------------------------------------------------------------ handlers

  private def handleStart(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    if (scheduler.status.scheduled)
      respond(ex, 400, json(
        "message" -> "ETL scheduler is already running",
        "currentSchedule" -> currentSchedule,
        "startTime" -> iso(scheduler.status.startTimeMs)))
    else if (body.trim.isEmpty)
      respond(ex, 400, json(
        "message" -> "Request body is missing or invalid",
        "example" -> RawJson(json("schedule" -> "* * * * *"))))
    else {
      val schedule = "\"schedule\"\\s*:\\s*\"([^\"]+)\"".r
        .findFirstMatchIn(body).map(_.group(1)).getOrElse("* * * * *")
      if (!Cron.isValid(schedule))
        respond(ex, 400, json(
          "message" -> "Invalid cron schedule pattern",
          "validExample" -> "* * * * * (every minute)"))
      else {
        scheduler.start(schedule)
        currentSchedule = Some(schedule)
        respond(ex, 200, json(
          "message" -> "ETL scheduler started successfully",
          "schedule" -> schedule,
          "timezone" -> Cron.DefaultZone.getId,
          "startTime" -> iso(scheduler.status.startTimeMs)))
      }
    }
  }

  private def handleForce(ex: HttpExchange): Unit =
    if (scheduler.status.scheduled)
      respond(ex, 400, json(
        "message" -> "ETL process is already running. Stop the scheduler first or wait for it to complete.",
        "currentSchedule" -> currentSchedule))
    else {
      val t0 = System.currentTimeMillis()
      val ran = try scheduler.runOnce() catch {
        case e: Exception =>
          respond(ex, 500, json(
            "message" -> "Forced ETL process failed",
            "error" -> String.valueOf(e.getMessage)))
          return
      }
      if (!ran)
        respond(ex, 409, json(
          "message" -> "ETL run already in flight")) // single-flight, R3
      else {
        val report = lastReport()
        respond(ex, 200, json(
          "message" -> "Forced ETL process completed successfully",
          "processed" -> report.map(_.processed).getOrElse(0L),
          "skipped" -> report.map(_.skipped).getOrElse(0L),
          "duration" -> formatUptime(System.currentTimeMillis() - t0)))
      }
    }

  private def handleStop(ex: HttpExchange): Unit =
    if (!scheduler.status.scheduled)
      respond(ex, 400, json("message" -> "ETL scheduler is not running"))
    else {
      val stopped = scheduler.stop()
      val sched = currentSchedule
      currentSchedule = None
      respond(ex, 200, json(
        "message" -> "ETL scheduler stopped successfully",
        "stoppedSchedule" -> sched,
        "stoppedAt" -> java.time.Instant.now().toString,
        "totalUptime" -> formatUptime(stopped.uptimeMs),
        "lastRun" -> iso(stopped.lastRunMs)))
    }

  private def handleLogs(ex: HttpExchange): Unit = ex.getRequestMethod match {
    case "GET" =>
      val p = Paths.get(logPath)
      if (!Files.exists(p)) {
        Files.createDirectories(p.toAbsolutePath.getParent)
        Files.writeString(p, "")
        respond(ex, 200, json(
          "message" -> "Created new log file", "logs" -> RawJson("[]"), "count" -> 0))
      } else {
        val lines = Files.readString(p).split("\n")
          .filter(_.trim.nonEmpty).takeRight(100).reverse
        respond(ex, 200, json(
          "message" -> "Logs retrieved successfully",
          "logs" -> RawJson(lines.map(parseLine).mkString("[", ",", "]")),
          "count" -> lines.length,
          "path" -> logPath))
      }
    case "DELETE" =>
      graft.operators.Sinks.truncateLog(logPath)
      broadcast("clear", "{}")
      respond(ex, 200, json(
        "message" -> "Logs cleared successfully",
        "timestamp" -> java.time.Instant.now().toString))
    case other => respond(ex, 405, json("message" -> s"$other not allowed"))
  }

  private def handleStream(ex: HttpExchange): Unit = {
    ex.getResponseHeaders.add("Content-Type", "text/event-stream")
    ex.getResponseHeaders.add("Cache-Control", "no-cache")
    ex.sendResponseHeaders(200, 0)
    val os = ex.getResponseBody
    os.write(s"event: connected\ndata: ${json(
      "message" -> "Connected to log stream",
      "timestamp" -> java.time.Instant.now().toString)}\n\n"
      .getBytes(StandardCharsets.UTF_8))
    os.flush()
    sseClients.add(os) // kept open; the watcher thread feeds it
  }

  private def statusJson: String = {
    val st = scheduler.status
    json(
      "isRunning" -> st.scheduled,
      "currentSchedule" -> currentSchedule,
      "lastRun" -> iso(st.lastRunMs),
      "startTime" -> iso(st.startTimeMs),
      "uptime" -> formatUptime(if (st.scheduled) st.uptimeMs else 0L),
      "lastError" -> st.lastError)
  }

  // ------------------------------------------------- tail-follow watcher

  /** Poll-based tail of the run log feeding SSE clients (`log` events);
    * a shrink (truncate) resets the read pointer — the `clear` event
    * itself is broadcast by the DELETE handler.
    */
  private val watcher = new Thread(() => {
    var offset =
      try Files.size(Paths.get(logPath)) catch { case _: Exception => 0L }
    while (watcherRunning) {
      try {
        val p = Paths.get(logPath)
        val size = if (Files.exists(p)) Files.size(p) else 0L
        if (size < offset) offset = 0L
        if (size > offset && !sseClients.isEmpty) {
          val ch = Files.newByteChannel(p, StandardOpenOption.READ)
          try {
            ch.position(offset)
            val buf = java.nio.ByteBuffer.allocate((size - offset).toInt)
            while (buf.hasRemaining && ch.read(buf) > 0) ()
            val text = new String(buf.array(), 0, buf.position(), StandardCharsets.UTF_8)
            val upTo = text.lastIndexOf('\n')
            if (upTo >= 0) {
              text.substring(0, upTo).split("\n").filter(_.trim.nonEmpty)
                .foreach(line => broadcast("log", parseLine(line)))
              offset += (upTo + 1)
            }
          } finally ch.close()
        } else if (size > offset) offset = size // nobody listening: skip ahead
      } catch { case _: Exception => () }
      Thread.sleep(100)
    }
  }, "graft-log-watcher")
  watcher.setDaemon(true)

  // --------------------------------------------------------------- wire

  /** Lifecycle endpoints mutate state — POST only (the reference's
    * Express routes are `app.post`; a GET from a prefetcher or prober
    * must not start or stop anything).
    */
  private def postOnly(handler: HttpExchange => Unit)(ex: HttpExchange): Unit =
    if (ex.getRequestMethod == "POST") handler(ex)
    else respond(ex, 405, json(
      "message" -> s"${ex.getRequestMethod} not allowed; use POST"))

  server.createContext("/api/start-etl",
    (ex: HttpExchange) => postOnly(handleStart)(ex))
  server.createContext("/api/start-etl-force",
    (ex: HttpExchange) => postOnly(handleForce)(ex))
  server.createContext("/api/stop-etl",
    (ex: HttpExchange) => postOnly(handleStop)(ex))
  server.createContext("/api/logs",
    (ex: HttpExchange) => handleLogs(ex))
  server.createContext("/api/logs/stream",
    (ex: HttpExchange) => handleStream(ex))
  server.createContext("/api/etl-status",
    (ex: HttpExchange) => respond(ex, 200, statusJson))
  server.createContext("/health",
    (ex: HttpExchange) => respond(ex, 200, json(
      "status" -> "healthy",
      "etlScheduler" -> (if (scheduler.status.scheduled) "running" else "stopped"),
      "uptime" -> formatUptime(
        if (scheduler.status.scheduled) scheduler.status.uptimeMs else 0L))))

  server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-http"); t.setDaemon(true); t
  }))

  def start(): ControlServer = { server.start(); watcher.start(); this }

  def stop(): Unit = {
    watcherRunning = false
    sseClients.forEach(os => try os.close() catch { case _: Exception => () })
    sseClients.clear()
    server.stop(0)
  }
}
