package graft.llm

import java.io.{BufferedReader, InputStreamReader}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

/** Live OpenAI-compatible chat-completions transport (reference:
  * src/llm.go:23-116, wired at cmd/gendata.go:110-129): POST
  * `{base}/chat/completions` with `stream: true`, read the SSE event
  * stream, concatenate `choices[0].delta.content`, surface
  * `reasoning_content` separately (Deepseek's reasoning channel — the
  * reference prints it dim to stderr and excludes it from the result).
  *
  * The anonymize-before-send and validate/confirm stages live OUTSIDE
  * the transport (LlmGendata.prepare/generate) and are unchanged: by the
  * time a ChatRequest reaches `complete`, identifiers are already
  * aliases when the caller asked for anonymization.
  *
  * Transport-level retry: connect/IO failures and retryable statuses
  * (429, 5xx) back off and retry up to `maxRetries`; other 4xx fail
  * fast (a malformed request does not heal by resending). A stream that
  * dies MID-SSE retries whole — completions are not resumable, and the
  * partial text is discarded rather than risking a spliced config.
  *
  * JSON in/out without a new dependency: the request body is assembled
  * with a local escaper; each SSE `data:` payload is parsed with
  * snakeyaml (JSON is a YAML subset — the StreamLoad.parseResult
  * precedent). */
final class HttpTransport(
    baseUrl: String,
    apiKey: String,
    maxRetries: Int = 3,
    connectTimeout: Duration = Duration.ofSeconds(30),
    onContent: String => Unit = _ => (),
    onReasoning: String => Unit = _ => (),
    headerTimeout: Duration = Duration.ofSeconds(120),
    idleReadTimeout: Duration = Duration.ofSeconds(120))
  extends LlmTransport {

  require(maxRetries >= 1, "maxRetries >= 1")

  private val endpoint =
    URI.create(baseUrl.stripSuffix("/") + "/chat/completions")

  def complete(req: ChatRequest): String = {
    var lastErr: Throwable = null
    var attempt = 0
    while (attempt < maxRetries) {
      attempt += 1
      try return streamOnce(req)
      catch {
        case e: HttpTransport.FatalHttpError => throw e
        case scala.util.control.NonFatal(e) =>
          lastErr = e
          // linear backoff, capped — enough for a rate-limit window to
          // pass, no exponential sleep on a config typo
          if (attempt < maxRetries) Thread.sleep(math.min(attempt, 5) * 1000L)
      }
    }
    throw new RuntimeException(
      s"llm request failed after $maxRetries attempt(s): ${lastErr.getMessage}",
      lastErr)
  }

  private def streamOnce(req: ChatRequest): String = {
    val client = HttpClient.newBuilder()
      .connectTimeout(connectTimeout)
      .build()
    val http = HttpRequest.newBuilder(endpoint)
      // response-HEADER deadline: without it a server that accepts the
      // connection but never answers blocks send() forever and the
      // retry loop never engages (ADVICE r11). The body keeps streaming
      // past this deadline; the idle watchdog below covers the stream.
      .timeout(headerTimeout)
      .header("Authorization", s"Bearer $apiKey")
      .header("Content-Type", "application/json")
      .header("Accept", "text/event-stream")
      .POST(HttpRequest.BodyPublishers.ofString(HttpTransport.requestJson(req)))
      .build()
    val resp = client.send(http, HttpResponse.BodyHandlers.ofInputStream())
    val code = resp.statusCode()
    if (code != 200) {
      val body = try new String(resp.body().readAllBytes(),
        StandardCharsets.UTF_8) catch { case _: Throwable => "" }
      val msg = s"HTTP $code from $endpoint: ${body.take(300)}"
      // 429 + 5xx are transient; everything else 4xx is a caller bug
      if (code == 429 || code >= 500) throw new RuntimeException(msg)
      else throw new HttpTransport.FatalHttpError(msg)
    }
    val stream = resp.body()
    val reader = new BufferedReader(
      new InputStreamReader(stream, StandardCharsets.UTF_8))
    // idle-READ deadline: a stalled mid-SSE stream (connection alive,
    // no bytes) surfaces as an IOException from readLine — a retryable
    // failure — instead of hanging gendata --llm forever. The watchdog
    // closes the underlying stream when no line has arrived within
    // idleReadTimeout.
    val lastRead = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    val stalled = new java.util.concurrent.atomic.AtomicBoolean(false)
    val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => { val t = new Thread(r, "llm-sse-watchdog"); t.setDaemon(true); t })
    val tickMs = math.max(100L, idleReadTimeout.toMillis / 4)
    watchdog.scheduleAtFixedRate(() => {
      if (System.nanoTime() - lastRead.get() > idleReadTimeout.toNanos) {
        stalled.set(true)
        try stream.close() catch { case _: Throwable => () }
      }
    }, tickMs, tickMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    try {
      val out = new StringBuilder
      // SSE event framing (ADVICE r11): an event may carry MULTIPLE
      // `data:` lines (joined with \n per the spec) and is dispatched
      // at the blank separator line — treating each data line as an
      // independent payload broke legal multi-line events.
      val dataBuf = new StringBuilder
      var done = false
      def dispatch(): Unit = {
        val payload = dataBuf.toString
        dataBuf.clear()
        if (payload == "[DONE]") done = true
        else if (payload.nonEmpty) HttpTransport.parseDelta(payload) match {
          case HttpTransport.Delta(content, reasoning) =>
            reasoning.foreach(onReasoning)
            content.foreach { c => onContent(c); out.append(c) }
        }
      }
      var line = reader.readLine()
      while (line != null && !done) {
        lastRead.set(System.nanoTime())
        if (line.isEmpty) dispatch()
        else if (line.startsWith("data:")) {
          if (dataBuf.nonEmpty) dataBuf.append('\n')
          // SSE field-value rule: strip exactly ONE leading space; any
          // other whitespace is part of the payload
          dataBuf.append(line.drop("data:".length).stripPrefix(" "))
        } // event:/id:/retry:/comment lines are ignored
        line = if (done) null else reader.readLine()
      }
      // a watchdog close looks like a server close to the reader — but
      // partial text from a stalled stream must RETRY whole (the class
      // doc's contract), never be accepted as a completion
      if (stalled.get() && !done)
        throw new RuntimeException(
          s"SSE stream stalled (no bytes for ${idleReadTimeout.toSeconds}s)")
      if (!done) dispatch() // server closed without a trailing blank line
      if (done || out.nonEmpty) out.toString
      else throw new RuntimeException("empty SSE stream (no content deltas)")
    } finally {
      watchdog.shutdownNow()
      reader.close()
    }
  }
}

object HttpTransport {

  /** Non-retryable HTTP failure (4xx other than 429). */
  final class FatalHttpError(msg: String) extends RuntimeException(msg)

  private[llm] final case class Delta(content: Option[String],
                                      reasoning: Option[String])

  /** JSON allows `\/` inside strings; YAML 1.1 (snakeyaml) rejects it.
    * Rewrite it to a bare `/` BEFORE yaml-parsing, scanning escape
    * pairs left-to-right so an escaped backslash followed by a real
    * slash (`\\/`) is not mangled (ADVICE r11). Every other JSON escape
    * is YAML-legal and passes through untouched. */
  private[llm] def unescapeSolidus(s: String): String = {
    if (!s.contains("\\/")) return s
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        val n = s.charAt(i + 1)
        if (n == '/') b.append('/') else { b.append(c); b.append(n) }
        i += 2
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** One SSE chunk → (content delta, reasoning delta). Absent/null
    * fields are None; a chunk carrying only role/finish_reason yields
    * Delta(None, None). Unparseable chunks raise — a garbled stream
    * must retry, not silently drop text. */
  private[llm] def parseDelta(rawJson: String): Delta = {
    val json = unescapeSolidus(rawJson)
    val root =
      try new org.yaml.snakeyaml.Yaml()
        .load[java.util.Map[String, Any]](json)
      catch { case scala.util.control.NonFatal(_) =>
        throw new RuntimeException(s"unparseable SSE chunk: ${json.take(200)}")
      }
    val delta = for {
      r <- Option(root)
      choices <- Option(r.get("choices")).collect {
        case l: java.util.List[_] if !l.isEmpty => l }
      first <- Option(choices.get(0)).collect {
        case m: java.util.Map[_, _] => m.asInstanceOf[java.util.Map[String, Any]] }
      d <- Option(first.get("delta")).collect {
        case m: java.util.Map[_, _] => m.asInstanceOf[java.util.Map[String, Any]] }
    } yield d
    Delta(
      delta.flatMap(d => Option(d.get("content")).map(_.toString))
        .filter(_.nonEmpty),
      delta.flatMap(d => Option(d.get("reasoning_content")).map(_.toString))
        .filter(_.nonEmpty))
  }

  /** Default base URL per the reference's model-family switch
    * (src/llm.go:30-38): deepseek-* models hit the Deepseek beta
    * endpoint (its `prefix: true` assistant-message continuation lives
    * there), everything else the OpenAI v1 surface. */
  def defaultBaseUrl(model: String): String =
    if (model.toLowerCase.startsWith("deepseek")) "https://api.deepseek.com/beta"
    else "https://api.openai.com/v1/"

  /** OpenAI chat-completions body. Message order mirrors the reference
    * exactly (src/llm.go:81-85): system guide, assistant prefix (the
    * ```yaml fence the model continues from), then the user payload.
    * `stop` cuts generation at the closing fence. */
  private[llm] def requestJson(req: ChatRequest): String = {
    import graft.OracleJson.quote
    s"""{"model":${quote(req.model)},"temperature":${req.temperature},""" +
      s""""top_p":${req.topP},"stop":[${quote(req.stop)}],"stream":true,""" +
      s""""messages":[{"role":"system","content":${quote(req.system)}},""" +
      s"""{"role":"assistant","content":${quote(req.assistantPrefix)}},""" +
      s"""{"role":"user","content":${quote(req.user)}}]}"""
  }
}
