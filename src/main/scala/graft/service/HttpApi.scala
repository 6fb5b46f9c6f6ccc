package graft.service

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.control.NonFatal
import graft.jobs.Pipeline

/** The reference's HTTP entry points (SURVEY.md §3.2/§3.3) as a thin layer
  * over the engine seams — JDK `HttpServer`, zero added dependencies, no
  * transform logic in handlers (the same rule MainDag follows: endpoints
  * compose spec-tested pieces).
  *
  * Routes (reference files):
  *  - `POST /sign_off/establish`          → async §3.2 chain: simulate →
  *    create sign-off → notify; returns `{"id","state"}` immediately
  *    (app/sign_off/blueprint.py:184-224, utils/response.py:4-7), or 429
  *    while an earlier chain is still running
  *  - `POST /sign_off/notification-reviewer` → async notify + status flip
  *    (app/sign_off/blueprint.py:124-180)
  *  - `GET  /tasks/{task_id}`             → poll; unknown id = PENDING
  *    (app/task/blueprint.py:14-56)
  *  - `GET  /tasks/ids?route_name=…`      → task ids by route name, 400 on
  *    unknown route (app/task/blueprint.py:59-102, jobs/task_names.py)
  *  - `POST /solar/remaining_power/`      → §3.3 SYNC mini-DAG in the
  *    request thread, returns `{"msg":…}` (app/solar/remaining_power.py:12-39)
  *  - `POST /notification/`               → async notify with the
  *    reference's defaults (app/notification/blueprint.py:10-61)
  *  - the five remaining async upload/update routes mount through
  *    `Hooks.asyncJobs` (path → body handler) with their reference task
  *    names from [[Api.routeNames]], so `/tasks/ids` polling works for
  *    them unchanged; an unmounted route 404s
  *
  * The chain bodies are injected ([[Api.Hooks]]): the spec wires them to
  * the real engine seams (model/SignOff, jobs/Mail, a simulator run), so
  * this class owns only routing, JSON framing, and task lifecycle.
  */
object Api {

  /** Name prefix of the request-handler threads [[Api.start]] creates. */
  val HandlerThreadPrefix = "graft-api-handler-"

  /** What the endpoints do, supplied by the embedder. Each hook returns
    * the task's result string (celery_taskmeta.result analog). */
  final case class Hooks(
      /** §3.2 worker chain: simulate → sign-off → notify. */
      establish: (String, String) => String,
      /** notify reviewer + flip sign-off status. */
      notifyReviewer: (String, String, String, Seq[String]) => String,
      /** §3.3 sync solar refresh; returns the response message. */
      solarRefresh: () => String,
      /** the notify task behind POST /notification/
        * (topic, htmlContent, toList) → result. */
      notifyMail: (String, String, Seq[String]) => String =
        (_, _, _) => "notification success",
      /** the remaining async upload/update endpoints
        * (reference: jobs/task_names.py routes — shipment upload,
        * summary update, ratio sim, reconciliation upload, certificate
        * update): path → (raw request body → task result). Mounting a
        * route is adding its entry; the task name comes from
        * [[routeNames]] so `/tasks/ids` polling works unchanged. */
      asyncJobs: Map[String, String => String] = Map.empty)

  /** route_name → task name — the reference's mapping_list verbatim
    * (jobs/task_names.py:1-8) plus the two sign-off chains this engine
    * also tracks by route. */
  val routeNames: Map[String, String] = Map(
    "/electricity/shipment/upload" -> "shipment-upload",
    "/electricity/summary/update" -> "electricity-summary-update",
    "/renewable_energy/sim/ratio" -> "renewable-energy-ratio-sim-update",
    "/green_power/reconciliation/upload" -> "reconciliation-upload",
    "/certificate/green_energy/update" -> "green-certificate-update",
    "/sign_off/establish" -> "sign-off-establish-chain",
    "/sign_off/notification-reviewer" -> "sign-off-notify-chain")

  // -- minimal JSON: only what these five endpoints need --
  private[service] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Decode the standard JSON string escapes (a serializer emits \n for
    * every multi-line body; leaving it as literal backslash-n would
    * diverge from the reference's real JSON parser). */
  private def unescape(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => b += '"'; i += 2
          case '\\' => b += '\\'; i += 2
          case '/' => b += '/'; i += 2
          case 'n' => b += '\n'; i += 2
          case 'r' => b += '\r'; i += 2
          case 't' => b += '\t'; i += 2
          case 'b' => b += '\b'; i += 2
          case 'f' => b += '\f'; i += 2
          case 'u' if i + 5 < s.length =>
            b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
            i += 6
          case other => b += other; i += 2
        }
      } else { b += c; i += 1 }
    }
    b.toString
  }

  /** Extract a top-level string field from a (flat) JSON body. The
    * reference's request bodies are flat objects; a full parser would be
    * a dependency this layer exists to avoid. */
  private[service] def field(body: String, name: String): Option[String] = {
    val m = java.util.regex.Pattern
      .compile("\"" + java.util.regex.Pattern.quote(name) +
        "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"")
      .matcher(body)
    if (m.find()) Some(unescape(m.group(1))) else None
  }

  /** Extract a top-level array-of-strings field. */
  private[service] def fieldList(body: String, name: String): Option[Seq[String]] = {
    val m = java.util.regex.Pattern
      .compile("\"" + java.util.regex.Pattern.quote(name) + "\"\\s*:\\s*\\[([^\\]]*)\\]")
      .matcher(body)
    if (!m.find()) None
    else Some("\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findAllMatchIn(m.group(1)).map(g => unescape(g.group(1))).toSeq)
  }

  private def taskResponse(id: String, state: String): String =
    s"""{"id":${jstr(id)},"state":${jstr(state)}}"""
}

final class Api(runner: TaskRunner, hooks: Api.Hooks,
                taskFailMail: (String, String, String) => Unit = (_, _, _) => ()) {
  import Api._

  /** One establish chain in flight at a time, from the request until its
    * task ends: a second request while one runs is rejected with 429, not
    * queued (reference: utils/indicator_queue.py:5-17). */
  private val establishing = new Pipeline.SingleFlight("sign-off establish")
  private var server: HttpServer = _
  private var handlers: ExecutorService = _

  /** Bind on an ephemeral (or given) port; returns the bound port. */
  def start(port: Int = 0): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    // without an executor every handler runs on the single dispatcher
    // thread — the inline §3.3 mini-DAG would block every /tasks poll for
    // its whole runtime
    val seq = new AtomicInteger()
    handlers = Executors.newCachedThreadPool(r =>
      new Thread(r, s"$HandlerThreadPrefix${seq.incrementAndGet()}"))
    server.setExecutor(handlers)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.start()
    server.getAddress.getPort
  }

  /** Unbind and end every handler thread; a handler still running gets
    * up to 10 s to finish its response. */
  def stop(): Unit = if (server != null) {
    server.stop(0)
    handlers.shutdown()
    handlers.awaitTermination(10, TimeUnit.SECONDS)
  }

  private def respond(ex: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def handle(ex: HttpExchange): Unit = try {
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    val method = ex.getRequestMethod
    lazy val body = new String(
      ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    (method, path) match {

      case ("POST", "/sign_off/establish") =>
        val pic = field(body, "pic").getOrElse("")
        val reviewer = field(body, "reviewer").getOrElse("")
        val name = routeNames("/sign_off/establish")
        establishing.acquire() match {
          case Left(busy) =>
            respond(ex, 429, s"""{"error":${jstr(busy)}}""")
          case Right(release) =>
            val id =
              try runner.submit(name,
                onError = (tid, e) => taskFailMail(
                  "sign_off establish, simulate() | create_sign_off() | send_pic_mail()",
                  tid, String.valueOf(e.getMessage))) {
                try hooks.establish(pic, reviewer) finally release()
              }
              catch { case NonFatal(e) => release(); throw e }
            respond(ex, 200, taskResponse(id, runner.state(id)))
        }

      case ("POST", "/sign_off/notification-reviewer") =>
        val signId = field(body, "sign_id").getOrElse("")
        // reference defaults (app/sign_off/blueprint.py:158-170)
        val topic = field(body, "topic")
          .getOrElse("AI simulated electricity update")
        val content = field(body, "content").getOrElse("<html></html>")
        val toList = fieldList(body, "to_list").getOrElse(Seq.empty)
        val name = routeNames("/sign_off/notification-reviewer")
        val id = runner.submit(name,
          onError = (tid, e) => taskFailMail(
            "sign_off send_notification, notify() | update_sign_off()",
            tid, String.valueOf(e.getMessage))) {
          hooks.notifyReviewer(signId, topic, content, toList)
        }
        respond(ex, 200, taskResponse(id, runner.state(id)))

      case ("GET", p) if p.startsWith("/tasks/ids") =>
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        val route = q.split('&').collectFirst {
          case kv if kv.startsWith("route_name=") =>
            java.net.URLDecoder.decode(
              kv.stripPrefix("route_name="), "UTF-8")
        }.getOrElse("")
        routeNames.get(route) match {
          case None =>
            respond(ex, 400, """{"error":"route_name not found"}""")
          case Some(taskName) =>
            val rows = runner.byName(taskName)
              .map(m => s"""{"id":${jstr(m.id)},"status":${jstr(m.status)}}""")
            respond(ex, 200, s"""{"data":[${rows.mkString(",")}]}""")
        }

      case ("GET", p) if p.startsWith("/tasks/") =>
        val id = p.stripPrefix("/tasks/")
        respond(ex, 200, taskResponse(id, runner.state(id)))

      case ("POST", "/notification") =>
        // reference defaults (app/notification/blueprint.py:51-58)
        val topic = field(body, "topic")
          .getOrElse("AI simulated electricity update")
        val content = field(body, "content").getOrElse("<html></html>")
        val toList = fieldList(body, "to_list").getOrElse(Seq.empty)
        val id = runner.submit("notify") {
          hooks.notifyMail(topic, content, toList)
        }
        respond(ex, 200, taskResponse(id, runner.state(id)))

      case ("POST", p) if hooks.asyncJobs.contains(p) =>
        val job = hooks.asyncJobs(p)
        val b = body // force the lazy read before the handler thread moves on
        val id = runner.submit(routeNames.getOrElse(p, p),
          onError = (tid, e) => taskFailMail(
            p, tid, String.valueOf(e.getMessage))) { job(b) }
        respond(ex, 200, taskResponse(id, runner.state(id)))

      case ("POST", "/solar/remaining_power") =>
        // §3.3: runs INLINE in the request thread (the reference's
        // synchronous mini-DAG), so the response carries the outcome
        try respond(ex, 200, s"""{"msg":${jstr(hooks.solarRefresh())}}""")
        catch {
          case NonFatal(e) =>
            respond(ex, 500, s"""{"error":${jstr(String.valueOf(e.getMessage))}}""")
        }

      case _ =>
        respond(ex, 404, """{"error":"not found"}""")
    }
  } catch {
    case NonFatal(e) =>
      respond(ex, 500, s"""{"error":${jstr(String.valueOf(e.getMessage))}}""")
  }
}
