package graft.service

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import graft.SparkSpec
import graft.jobs.Mail
import graft.model.SignOff
import org.apache.spark.sql.functions._

/** Drives the reference's §3.2 async chain and §3.3 sync endpoint through
  * the thin HTTP layer with REAL engine seams behind the hooks:
  * simulate (version stamp + parquet append) → sign-off record → notify
  * mail → poll `/tasks/{id}` to SUCCESS — then the failure path: the chain
  * throws, the poll reads FAILURE, and the task-fail mail reaches the
  * developer list with the task id inline. */
class ApiSpec extends SparkSpec {
  import spark.implicits._

  private val http = HttpClient.newHttpClient()
  private def get(port: Int, path: String): (Int, String) = {
    val r = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  private def post(port: Int, path: String, body: String): (Int, String) = {
    val r = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  private def pollTerminal(port: Int, id: String): String = {
    val deadline = System.currentTimeMillis() + 30000
    var s = ""
    while (System.currentTimeMillis() < deadline) {
      s = Api.field(get(port, s"/tasks/$id")._2, "state").get
      if (s == "SUCCESS" || s == "FAILURE") return s
      Thread.sleep(20)
    }
    s
  }

  test("§3.2 establish chain: simulate → sign-off → notify, polled to SUCCESS") {
    val wh = java.nio.file.Files.createTempDirectory("api_wh").toString
    val box = new Mail.CollectingTransport
    val router = Mail.Router("test", Seq("ops@example.com"),
      Seq("dev@example.com"), box)
    val signOffs = scala.collection.mutable.ArrayBuffer.empty[SignOff.Record]
    val runner = new TaskRunner()
    val ids = Iterator.from(1)
    val idGen = new SignOff.IdGen { def next() = s"nano-${ids.next()}" }

    val api = new Api(runner, Api.Hooks(
      establish = (pic, reviewer) => {
        // the worker chain (§3.2), on the real seams: simulate = stamp a
        // new version and append it; then the sign-off record; then mail
        val path = s"$wh/decarb_elect_simulate"
        val existing =
          try spark.read.parquet(path)
          catch { case _: Exception => Seq.empty[(String, Double, Int)]
            .toDF("plant", "amount", "version") }
        val v = SignOff.nextVersion(existing)
        SignOff.stage(
          Seq(("P1", 10.0), ("P2", 20.0)).toDF("plant", "amount"), v, 2026)
          .write.mode("append").parquet(path)
        val rec = SignOff.create(v, 2026, pic, reviewer, idGen)
        signOffs += rec
        router.notify("sign-off ready",
          s"<p>version $v sign-off ${rec.signOffId}</p>")
        s"""{"version":$v,"sign_off_id":"${rec.signOffId}"}"""
      },
      notifyReviewer = (signId, topic, content, toList) => {
        router.notify(topic, content,
          if (toList.nonEmpty) Some(toList) else None)
        s"notified $signId"
      },
      solarRefresh = () => "solar refresh success",
      notifyMail = (topic, content, toList) => {
        router.notify(topic, content,
          if (toList.nonEmpty) Some(toList) else None)
        "notification success"
      }))
    val port = api.start()
    try {
      val (code, body) = post(port, "/sign_off/establish",
        """{"pic": "alice@example.com", "reviewer": "bob@example.com"}""")
      assert(code == 200)
      val taskId = Api.field(body, "id").get
      assert(pollTerminal(port, taskId) == "SUCCESS")

      // the chain really ran on the warehouse: version 1 staged, unvalidated
      val staged = spark.read.parquet(s"$wh/decarb_elect_simulate")
      assert(staged.count() == 2 &&
        staged.agg(max(col("version"))).head().getInt(0) == 1)
      assert(signOffs.toList ==
        List(SignOff.Record("nano-1", 1, 2026, "alice@example.com",
          "bob@example.com", "pending")))
      assert(box.sent.exists(m => m.subject == "sign-off ready" && m.html))

      // a second establish appends version 2 — the versioned-append model
      val id2 = Api.field(post(port, "/sign_off/establish",
        """{"pic": "a", "reviewer": "b"}""")._2, "id").get
      assert(pollTerminal(port, id2) == "SUCCESS")
      assert(SignOff.nextVersion(
        spark.read.parquet(s"$wh/decarb_elect_simulate")) == 3)

      // task lookup by route name sees both chain runs as SUCCESS
      val (c3, listing) = get(port, "/tasks/ids?route_name=/sign_off/establish")
      assert(c3 == 200)
      assert("\"status\":\"SUCCESS\"".r.findAllIn(listing).size == 2)
      // unknown route_name → 400, the reference's error contract
      assert(get(port, "/tasks/ids?route_name=nope")._1 == 400)
      // unknown task id polls as PENDING (AsyncResult semantics)
      assert(Api.field(get(port, "/tasks/no-such-id")._2, "state").get == "PENDING")

      // §3.3 sync endpoint answers inline
      val (c4, solar) = post(port, "/solar/remaining_power/", "{}")
      assert(c4 == 200 && Api.field(solar, "msg").get == "solar refresh success")

      // /notification/: async notify through the same mail seam; the JSON
      // \n escape must arrive as a REAL newline (what a serializer sends
      // for any multi-line HTML body)
      val nid = Api.field(post(port, "/notification/",
        """{"topic": "heads up", "content": "<p>line1\nline2</p>", "to_list": ["a@example.com"]}""")._2,
        "id").get
      assert(pollTerminal(port, nid) == "SUCCESS")
      assert(box.sent.last ==
        Mail.Message("heads up", "<p>line1\nline2</p>",
          Seq("a@example.com"), html = true))
    } finally { api.stop(); runner.shutdown() }
  }

  test("generic async routes mount via asyncJobs with reference task names") {
    val runner = new TaskRunner()
    val uploads = scala.collection.mutable.ArrayBuffer.empty[String]
    val api = new Api(runner, Api.Hooks(
      establish = (_, _) => "",
      notifyReviewer = (_, _, _, _) => "",
      solarRefresh = () => "",
      asyncJobs = Map("/electricity/shipment/upload" -> { body =>
        uploads += body; s"ingested ${body.length} bytes"
      })))
    val port = api.start()
    try {
      val (code, resp) = post(port, "/electricity/shipment/upload",
        """{"file": "UEsDBA=="}""")
      assert(code == 200)
      val id = Api.field(resp, "id").get
      assert(pollTerminal(port, id) == "SUCCESS")
      assert(uploads.size == 1 && uploads.head.contains("UEsDBA=="))
      // the reference's route mapping resolves it for /tasks/ids
      val (c2, listing) =
        get(port, "/tasks/ids?route_name=/electricity/shipment/upload")
      assert(c2 == 200 && listing.contains("\"status\":\"SUCCESS\""))
      // an unmounted (but mapped) route is 404: mounting is the embedder's
      // explicit choice, not implied by the name table
      assert(post(port, "/certificate/green_energy/update", "{}")._1 == 404)
    } finally { api.stop(); runner.shutdown() }
  }

  test("a failing chain polls as FAILURE and mails the developer list") {
    val box = new Mail.CollectingTransport
    val router = Mail.Router("test", Seq("ops@example.com"),
      Seq("dev@example.com"), box)
    val runner = new TaskRunner()
    val api = new Api(runner,
      Api.Hooks(
        establish = (_, _) => throw new RuntimeException("simulator blew up"),
        notifyReviewer = (_, _, _, _) => "",
        solarRefresh = () => ""),
      taskFailMail = (topic, taskId, exc) =>
        router.taskFailure(topic, taskId, exc))
    val port = api.start()
    try {
      val taskId = Api.field(post(port, "/sign_off/establish",
        """{"pic": "a", "reviewer": "b"}""")._2, "id").get
      assert(pollTerminal(port, taskId) == "FAILURE")
      val mail = box.sent.last
      assert(mail.to == Seq("dev@example.com"))
      assert(mail.subject ==
        "[failed][test][sign_off establish, simulate() | create_sign_off() | send_pic_mail()] decarb-etl cron job report")
      assert(mail.body.contains(s"Task $taskId") &&
        mail.body.contains("simulator blew up"))
    } finally { api.stop(); runner.shutdown() }
  }

  test("establish is single-flight: a second request while one runs is rejected") {
    val runner = new TaskRunner()
    val started = new java.util.concurrent.CountDownLatch(1)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val runs = new java.util.concurrent.atomic.AtomicInteger()
    val api = new Api(runner, Api.Hooks(
      establish = (pic, _) => {
        runs.incrementAndGet()
        if (pic == "first") { started.countDown(); gate.await() }
        s"established $pic"
      },
      notifyReviewer = (_, _, _, _) => "", solarRefresh = () => ""))
    val port = api.start()
    try {
      val (c1, r1) = post(port, "/sign_off/establish",
        """{"pic": "first", "reviewer": "r"}""")
      assert(c1 == 200)
      assert(started.await(30, java.util.concurrent.TimeUnit.SECONDS))
      // the first chain is still running: the second is refused, not queued
      val (c2, r2) = post(port, "/sign_off/establish",
        """{"pic": "second", "reviewer": "r"}""")
      assert(c2 == 429 && Api.field(r2, "error").contains("sign-off establish is busy"), r2)
      gate.countDown()
      assert(pollTerminal(port, Api.field(r1, "id").get) == "SUCCESS")
      // the permit came back when the first task ended
      val (c3, r3) = post(port, "/sign_off/establish",
        """{"pic": "third", "reviewer": "r"}""")
      assert(c3 == 200)
      assert(pollTerminal(port, Api.field(r3, "id").get) == "SUCCESS")
      assert(runs.get == 2)
    } finally { gate.countDown(); api.stop(); runner.shutdown() }
  }

  test("stop() ends every request-handler thread") {
    val runner = new TaskRunner()
    val api = new Api(runner, Api.Hooks(
      establish = (_, _) => "", notifyReviewer = (_, _, _, _) => "",
      solarRefresh = () => ""))
    def handlers() = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.isAlive && t.getName.startsWith(Api.HandlerThreadPrefix))
    try {
      val port = api.start()
      assert(get(port, "/no_such_route")._1 == 404)
      assert(handlers().nonEmpty, "the request ran on no named handler thread")
    } finally { api.stop(); runner.shutdown() }
    assert(handlers().isEmpty)
  }
}
