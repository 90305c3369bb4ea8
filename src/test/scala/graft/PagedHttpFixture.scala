package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import graft.sources.PagedEntitySource

/** A localhost REST backend for the paged source (JDK
  * com.sun.net.httpserver — zero new dependencies), speaking the
  * reference's API dialect: `GET /{entity}?limit&offset&where=
  * ts_us:GTE:a,ts_us:LT:b&order=ts_us:ASC&fields=…` under Basic auth,
  * answering the `{"response":[…]}` envelope on 200 and injectable
  * 429/5xx faults (ChargeOverApiClient.java:80-183). Records come from
  * the SAME closed-form generator the local mode uses, so HTTP reads are
  * comparable row-for-row against generator reads — which is exactly what
  * the specs assert: the R12 retry loop runs against real sockets and
  * real status codes. This is the source's one page-fault path; specs
  * inject faults with [[failFirst]]. */
class PagedHttpFixture(rows: Map[String, Long]) {
  /** (entity, window-relative offset) → remaining injected failures and
    * the status they answer with. */
  private val faults = new ConcurrentHashMap[(String, Long), (AtomicInteger, Int)]()
  val requests = new ConcurrentLinkedQueue[String]()
  /** The status of every answer sent, in order. */
  val statuses = new ConcurrentLinkedQueue[Int]()

  /** The first `times` requests for `entity` at window-relative `offset`
    * answer `status`. Windows repeat offsets, so a key's failures go to
    * the first requests at that offset in any window. */
  def failFirst(entity: String, offset: Long, times: Int, status: Int): Unit =
    faults.put((entity, offset), (new AtomicInteger(times), status))

  private val server = {
    val s = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    s.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    s.createContext("/", handler)
    s.start()
    s
  }
  val endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = server.stop(0)

  private def handler: com.sun.net.httpserver.HttpHandler = exchange => {
    try {
      val uri = exchange.getRequestURI
      requests.add(uri.toString)
      val expectAuth = "Basic " + java.util.Base64.getEncoder.encodeToString(
        "graft:secret".getBytes("UTF-8"))
      if (exchange.getRequestHeaders.getFirst("Authorization") != expectAuth) {
        reply(exchange, 401, """{"code":401,"status":"Unauthorized"}""")
      } else {
        val entity = uri.getPath.stripPrefix("/")
        val q = Option(uri.getQuery).getOrElse("").split("&")
          .flatMap(_.split("=", 2) match {
            case Array(k, v) => Some(k -> v)
            case _ => None
          }).toMap
        val limit = q("limit").toLong
        val offset = q("offset").toLong
        // where=ts_us:GTE:a,ts_us:LT:b — half-open window in ts micros
        val w = q("where").split(",").map(_.split(":", 3)).map {
          case Array("ts_us", op, v) => op -> v.toLong
          case other => fail(s"unexpected where clause ${other.mkString(":")}")
        }.toMap
        val loId = PagedEntitySource.idOfTsCeil(w("GTE"))
        val hiId = math.min(PagedEntitySource.idOfTsCeil(w("LT")),
          rows.getOrElse(entity, 0L))
        assert(q.get("order").contains("ts_us:ASC"), s"order missing in $uri")
        val fault = faults.get((entity, offset))
        if (fault != null && fault._1.getAndDecrement() > 0) {
          reply(exchange, fault._2,
            s"""{"code":${fault._2},"status":"injected fault"}""")
        } else {
          val fields = q.get("fields").map(_.split(",").toSet)
          val catMod = q.get("category_mod").map(_.toInt).getOrElse(5)
          val updEvery = q.get("update_every").map(_.toInt).getOrElse(0)
          val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
          val root = mapper.createObjectNode()
          root.put("code", 200)
          root.put("status", "OK")
          val arr = root.putArray("response")
          var p = loId + offset
          val end = math.min(hiId, loId + offset + limit)
          while (p < end) {
            val rid = PagedEntitySource.recordId(p, updEvery)
            val ver = PagedEntitySource.recordVer(p, updEvery)
            val rec = arr.addObject()
            def has(f: String) = fields.forall(_.contains(f))
            if (has("id")) rec.put("id", rid)
            if (has("ts_us")) rec.put("ts_us", PagedEntitySource.tsOf(p))
            if (has("value"))
              rec.put("value", ((rid * 7919 + ver * 1000003L) % 100000) / 100.0)
            if (has("category")) rec.put("category", s"cat${rid % catMod}")
            p += 1
          }
          reply(exchange, 200, mapper.writeValueAsString(root))
        }
      }
    } catch {
      case e: Throwable =>
        reply(exchange, 500, s"""{"code":500,"status":"${e.getMessage}"}""")
    } finally exchange.close()
  }

  private def reply(e: com.sun.net.httpserver.HttpExchange, code: Int,
      body: String): Unit = {
    statuses.add(code)
    val bytes = body.getBytes("UTF-8")
    e.getResponseHeaders.set("Content-Type", "application/json")
    e.sendResponseHeaders(code, bytes.length.toLong)
    e.getResponseBody.write(bytes)
    e.getResponseBody.close()
  }

  private def fail(msg: String): Nothing = throw new AssertionError(msg)
}

object PagedHttpFixture {
  /** Runs `f` against a fresh fixture serving `rows` per entity, and
    * stops the server on every path. */
  def serving[A](rows: Map[String, Long])(f: PagedHttpFixture => A): A = {
    val fx = new PagedHttpFixture(rows)
    try f(fx) finally fx.stop()
  }
}
