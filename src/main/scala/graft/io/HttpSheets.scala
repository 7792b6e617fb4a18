package graft.io

import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.core.{JsonEncoding, JsonGenerator}
import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.core.util.ByteArrayBuilder
import com.fasterxml.jackson.databind.ObjectMapper

/** HTTP transport for [[Sinks.SheetService]] over the public Google Sheets
  * REST surface (the same API the reference reaches through gspread —
  * `src/google_cloud_client/google_cloud_client.py:39-188`):
  *
  * - GET  {base}/v4/spreadsheets/{key}/values/{Sheet!A1:B2}
  * - PUT  {base}/v4/spreadsheets/{key}/values/{range}?valueInputOption=RAW
  * - POST {base}/v4/spreadsheets/{key}/values/{range}:clear
  *
  * JDK `java.net.http` + the Jackson already on Spark's classpath — no new
  * dependencies. The base URL and bearer-token supplier are injected so the
  * full request/response protocol is testable offline against an in-process
  * `com.sun.net.httpserver` fake (HttpSheetsSpec); pointing `baseUrl` at the
  * real endpoint with a real OAuth token is the production configuration.
  *
  * Transient failures (429 rate limit, 5xx) retry with exponential backoff —
  * the failure mode the reference's sleep-and-spin loop papers over; client
  * errors (4xx other than 429) fail fast with the server's message.
  */
final class HttpSheetService(
    baseUrl: String,
    tokenProvider: () => String,
    client: HttpClient = HttpClient.newBuilder()
      .connectTimeout(Duration.ofSeconds(10)).build(),
    maxRetries: Int = 3,
    retryBaseMs: Long = 200L) extends Sinks.SheetService {

  private val mapper = new ObjectMapper()
  // the upload body's writer: a character outside the BMP as its 4 UTF-8
  // bytes, as the JSON string's `getBytes(UTF_8)` encoded it (Jackson's
  // byte writer escapes it as a surrogate pair by default)
  private val bodyWriter = mapper.writer().`with`(JsonWriteFeature.COMBINE_UNICODE_SURROGATES_IN_UTF8)

  private def enc(s: String): String =
    URLEncoder.encode(s, UTF_8).replace("+", "%20")

  private def valuesUrl(sheetKey: String, sheetName: String, a1Range: String): String =
    s"$baseUrl/v4/spreadsheets/${enc(sheetKey)}/values/${enc(s"$sheetName!$a1Range")}"

  private def send(builder: HttpRequest.Builder): String = {
    var attempt = 0
    while (true) {
      // (re)build per attempt: the token is re-fetched so a provider that
      // refreshes expired credentials takes effect on retry
      val req = builder.copy()
        .header("Authorization", s"Bearer ${tokenProvider()}")
        .header("Content-Type", "application/json")
        .timeout(Duration.ofSeconds(30))
        .build()
      // connection-level failures (connect timeout, reset) are as transient
      // as a 503 — they retry on the same budget
      val outcome: Either[java.io.IOException, HttpResponse[String]] =
        try Right(client.send(req, HttpResponse.BodyHandlers.ofString()))
        catch { case e: java.io.IOException => Left(e) }
      outcome match {
        case Right(resp) if resp.statusCode() / 100 == 2 => return resp.body()
        case Right(resp) =>
          val code = resp.statusCode()
          val retryable = code == 429 || code / 100 == 5
          if (!retryable || attempt >= maxRetries)
            throw new java.io.IOException(
              s"Sheets API ${req.method()} ${req.uri()} failed: HTTP $code " +
                s"${resp.body().take(300)}")
        case Left(e) =>
          if (attempt >= maxRetries) throw e
      }
      Thread.sleep(retryBaseMs << attempt) // 200, 400, 800 ms
      attempt += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** Cell encoding: null → "" (how Sheets renders an empty cell), numbers and
    * booleans as native JSON scalars, everything else as its string form —
    * mirroring the reference upload (`google_cloud_client.py:168-188`, where
    * dates are already Excel serials by the time rows reach the API).
    * The body is streamed cell by cell into one UTF-8 byte array; no tree
    * or `String` copy of the table is built. A decimal is written as the
    * Jackson tree writes it: through the mapper's node factory, which drops
    * trailing zeros.
    */
  private[io] def valuesBody(rows: Seq[Seq[Any]]): Array[Byte] = {
    val out = new ByteArrayBuilder()
    Using.resource(bodyWriter.createGenerator(out, JsonEncoding.UTF8)) { g =>
      g.writeStartObject()
      g.writeArrayFieldStart("values")
      rows.foreach { r =>
        g.writeStartArray()
        r.foreach {
          case null                     => g.writeString("")
          case v: Int                   => g.writeNumber(v)
          case v: Long                  => g.writeNumber(v)
          case v: Double                => g.writeNumber(v)
          case v: Float                 => g.writeNumber(v)
          case v: Short                 => g.writeNumber(v.toInt)
          case v: Byte                  => g.writeNumber(v.toInt)
          case v: java.math.BigDecimal  => writeDecimal(g, v) // DecimalType collects as this
          case v: scala.math.BigDecimal => writeDecimal(g, v.bigDecimal)
          case v: Boolean               => g.writeBoolean(v)
          case v                        => g.writeString(v.toString)
        }
        g.writeEndArray()
      }
      g.writeEndArray()
      g.writeEndObject()
    }
    out.toByteArray
  }

  private def writeDecimal(g: JsonGenerator, v: java.math.BigDecimal): Unit =
    g.writeNumber(mapper.getNodeFactory.numberNode(v).decimalValue())

  override def clearRange(sheetKey: String, sheetName: String, a1Range: String): Unit =
    send(HttpRequest.newBuilder()
      .uri(java.net.URI.create(valuesUrl(sheetKey, sheetName, a1Range) + ":clear"))
      .POST(HttpRequest.BodyPublishers.ofString("{}")))

  override def update(sheetKey: String, sheetName: String, a1Range: String,
      rows: Seq[Seq[Any]]): Unit =
    send(HttpRequest.newBuilder()
      .uri(java.net.URI.create(
        valuesUrl(sheetKey, sheetName, a1Range) + "?valueInputOption=RAW"))
      .PUT(HttpRequest.BodyPublishers.ofByteArray(valuesBody(rows))))

  override def get(sheetKey: String, sheetName: String, a1Range: String): Seq[Seq[String]] = {
    val body = send(HttpRequest.newBuilder()
      .uri(java.net.URI.create(valuesUrl(sheetKey, sheetName, a1Range)))
      .GET())
    val values = mapper.readTree(body).path("values")
    if (values.isMissingNode || !values.isArray) Seq.empty
    else values.elements().asScala.map { row =>
      row.elements().asScala.map(n => if (n.isNull) "" else n.asText()).toSeq
    }.toSeq
  }
}
