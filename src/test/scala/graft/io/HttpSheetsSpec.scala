package graft.io

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.net.URLDecoder

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

/** Drives [[HttpSheetService]] through REAL HTTP against an in-process JDK
  * HttpServer that fakes the Sheets values API — request paths, methods,
  * auth headers, JSON bodies, and error codes are all exercised end-to-end.
  */
class HttpSheetsSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  /** (spreadsheetKey, sheetName) → stored values; also records clears and
    * auth headers, and can inject failures.
    */
  private final class FakeSheetsServer {
    val store = mutable.Map.empty[(String, String), Seq[Seq[String]]]
    val cleared = mutable.ArrayBuffer.empty[(String, String, String)]
    val authHeaders = mutable.ArrayBuffer.empty[String]
    var failNextWith: List[Int] = Nil // status codes to return before succeeding

    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.start()
    val baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}"

    def stop(): Unit = server.stop(0)

    private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(UTF_8)
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

    private def handle(ex: HttpExchange): Unit = try {
      authHeaders += Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
      failNextWith match {
        case code :: rest =>
          failNextWith = rest
          respond(ex, code, s"""{"error":{"code":$code,"message":"injected"}}""")
          return
        case Nil =>
      }
      // path: /v4/spreadsheets/{key}/values/{Sheet!Range}[:clear] — split the
      // RAW path first so %2F inside a segment doesn't break segmentation,
      // then decode each segment (what a real router does)
      val parts = ex.getRequestURI.getRawPath.split("/").toList
        .map(URLDecoder.decode(_, UTF_8))
      (ex.getRequestMethod, parts) match {
        case (m, _ :: "v4" :: "spreadsheets" :: key :: "values" :: target :: Nil) =>
          val (sheetAndRange, isClear) =
            if (target.endsWith(":clear")) (target.dropRight(6), true) else (target, false)
          val Array(sheet, range) = sheetAndRange.split("!", 2)
          (m, isClear) match {
            case ("POST", true) =>
              cleared += ((key, sheet, range))
              store.remove((key, sheet))
              respond(ex, 200, "{}")
            case ("PUT", false) =>
              val body = mapper.readTree(ex.getRequestBody)
              import scala.jdk.CollectionConverters._
              val rows = body.path("values").elements().asScala.map(r =>
                r.elements().asScala.map(n => n.asText()).toSeq).toSeq
              store((key, sheet)) = rows
              respond(ex, 200, s"""{"updatedRange":"$sheet!$range"}""")
            case ("GET", false) =>
              store.get((key, sheet)) match {
                case Some(rows) =>
                  val root = mapper.createObjectNode()
                  val values = root.putArray("values")
                  rows.foreach { r =>
                    val arr = values.addArray(); r.foreach(arr.add)
                  }
                  respond(ex, 200, mapper.writeValueAsString(root))
                case None => respond(ex, 200, "{}") // Sheets omits "values" when empty
              }
            case _ => respond(ex, 405, "{}")
          }
        case _ => respond(ex, 404, "{}")
      }
    } catch {
      case e: Throwable => respond(ex, 500, s"""{"error":"${e.getMessage}"}""")
    }
  }

  private def withServer(f: (FakeSheetsServer, HttpSheetService) => Unit): Unit = {
    val srv = new FakeSheetsServer
    try f(srv, new HttpSheetService(srv.baseUrl, () => "test-token", retryBaseMs = 1L))
    finally srv.stop()
  }

  test("clear → update → get round trip over real HTTP with auth header") {
    withServer { (srv, svc) =>
      svc.clearRange("key1", "raw data", "A:C")
      svc.update("key1", "raw data", "A1:C3", Seq(
        Seq[Any]("Day", "Clicks", "비용"), Seq[Any](45870L, 10L, 1.5),
        Seq[Any](null, true, "x,y")))
      val rows = svc.get("key1", "raw data", "A1:C3")
      assert(rows == Seq(
        Seq("Day", "Clicks", "비용"), Seq("45870", "10", "1.5"), Seq("", "true", "x,y")))
      assert(srv.cleared.toSeq == Seq(("key1", "raw data", "A:C")))
      assert(srv.authHeaders.forall(_ == "Bearer test-token"))
    }
  }

  test("sheet names and keys are URL-encoded (spaces, Korean, specials)") {
    withServer { (srv, svc) =>
      svc.update("k/2", "시트 1", "A1:A2", Seq(Seq("h"), Seq("v")))
      assert(svc.get("k/2", "시트 1", "A1:A2") == Seq(Seq("h"), Seq("v")))
      assert(srv.store.keySet == Set(("k/2", "시트 1")))
    }
  }

  test("empty range: Sheets omits the values field → empty result, not a crash") {
    withServer { (_, svc) =>
      assert(svc.get("nope", "empty", "A1:B2") == Seq.empty)
    }
  }

  test("429/5xx retry with backoff then succeed; 4xx fails fast with the message") {
    withServer { (srv, svc) =>
      srv.failNextWith = List(429, 503)
      svc.update("k", "s", "A1:A1", Seq(Seq("v"))) // succeeds on 3rd attempt
      assert(srv.store(("k", "s")) == Seq(Seq("v")))

      srv.failNextWith = List(403)
      val e = intercept[java.io.IOException](svc.get("k", "s", "A1:A1"))
      assert(e.getMessage.contains("403"))

      // retries exhausted → the terminal error surfaces
      srv.failNextWith = List(500, 500, 500, 500)
      intercept[java.io.IOException](svc.get("k", "s", "A1:A1"))
    }
  }

  test("token provider is re-invoked on every attempt so refresh takes effect mid-retry") {
    val srv = new FakeSheetsServer
    try {
      var calls = 0
      val svc = new HttpSheetService(srv.baseUrl, () => { calls += 1; "test-token" },
        retryBaseMs = 1L)
      srv.failNextWith = List(429)
      svc.get("k", "s", "A1:A1")
      assert(calls == 2) // initial + one retry, fresh token each
    } finally srv.stop()
  }

  test("connection-level failures retry on the same budget, then surface") {
    var calls = 0
    // port 1 refuses connections → IOException before any HTTP status
    val dead = new HttpSheetService("http://127.0.0.1:1", () => { calls += 1; "t" },
      maxRetries = 2, retryBaseMs = 1L)
    intercept[java.io.IOException](dead.get("k", "s", "A1:A1"))
    assert(calls == 3) // initial + 2 retries — connect failures are transient too
  }

  test("plugs into the engine's upload path as a drop-in SheetService") {
    withServer { (srv, svc) =>
      Sinks.uploadPayload(svc, Seq("Day", "Spend"),
        Seq(Seq[Any](45870L, 12.5), Seq[Any](45871L, 9.0)), "key9", "Sheet1")
      // clear of the column range, then the full-range upload
      assert(srv.cleared.toSeq == Seq(("key9", "Sheet1", "A:B")))
      assert(srv.store(("key9", "Sheet1")) == Seq(
        Seq("Day", "Spend"), Seq("45870", "12.5"), Seq("45871", "9.0")))
    }
  }

  /** The tree encoder the upload body was built with before it was
    * streamed, kept as the reference for the streamed bytes.
    */
  private def treeBody(rows: Seq[Seq[Any]]): Array[Byte] = {
    val root = mapper.createObjectNode()
    val values = root.putArray("values")
    rows.foreach { r =>
      val row = values.addArray()
      r.foreach {
        case null                     => row.add("")
        case v: Int                   => row.add(v)
        case v: Long                  => row.add(v)
        case v: Double                => row.add(v)
        case v: Float                 => row.add(v)
        case v: Short                 => row.add(v.toInt)
        case v: Byte                  => row.add(v.toInt)
        case v: java.math.BigDecimal  => row.add(v)
        case v: scala.math.BigDecimal => row.add(v.bigDecimal)
        case v: Boolean               => row.add(v)
        case v                        => row.add(v.toString)
      }
    }
    mapper.writeValueAsString(root).getBytes(UTF_8)
  }

  test("the streamed upload body is byte-identical to the tree encoder's") {
    val svc = new HttpSheetService("http://127.0.0.1:1", () => "t")
    val rows = Seq(
      Seq[Any]("Day", "지출 금액 (KRW)", "say \"hi\"", "a,b"),
      Seq[Any](null, 7, -2147483648, 45870L, Long.MaxValue, 1.5, -0.0, 1e20, Double.NaN,
        2.25f, 3.toShort, (-4).toByte, true, false),
      Seq[Any](new java.math.BigDecimal("10.00"), new java.math.BigDecimal("0.000"),
        new java.math.BigDecimal("123.4500"), new java.math.BigDecimal("-1E+3"),
        BigDecimal("2.50"), BigDecimal("100"), BigDecimal("0.10")),
      Seq[Any]("한글 \"인용\", 쉼표", "line\nbreak\ttab \\ slash", "😀", java.sql.Date.valueOf("2025-08-01")),
      Seq.empty[Any])
    val body = svc.valuesBody(rows)
    assert(new String(body, UTF_8) == new String(treeBody(rows), UTF_8))
    assert(body.sameElements(treeBody(rows)))
    assert(svc.valuesBody(Nil).sameElements(treeBody(Nil)))
  }
}
