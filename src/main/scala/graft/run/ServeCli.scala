package graft.run

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.crf.{CrfDecoder, CrfModel}
import graft.io.ModelIO.jstr

/** HTTP model-serving surface, mirroring the reference's FastAPI app
  * (ref serve.py:13-93) on the JDK's built-in HttpServer (zero extra deps):
  *
  *   GET  /status → {"status":"OK","crf_model":"<basename>"}
  *   POST /parse  {"text": "..."} or {"text": ["...", ...]}
  *        → {"data":[{"text":"...","entities":[{"start","end","value","entity"}]}]}
  *
  * Entity objects carry the same four fields as the reference's `Entity`
  * model (start/end char offsets, value, entity label); confidence is
  * intentionally omitted to match the reference response shape. Decoders are
  * thread-confined (`CrfDecoder.forModel`'s one per worker thread) because
  * CrfDecoder's contribution cache is not thread-safe.
  *
  * Usage: ServeCli -m <model.json> [-p 8000]
  */
object ServeCli {

  def main(args: Array[String]): Unit = {
    val (opts, _) = Cli.parse(args, Set("-m", "--model", "-p", "--port"))
    val modelPath = opts.get("-m").orElse(opts.get("--model"))
      .getOrElse(sys.error("usage: ServeCli -m <model.json> [-p 8000]"))
    val port = opts.get("-p").orElse(opts.get("--port")).map(_.toInt).getOrElse(8000)
    val model = graft.io.ModelIO.load(modelPath)
    // a dense-features model decoded WITHOUT its vector source would silently
    // drop the dense atoms its weights were trained against — refuse loudly
    require(!model.config.useDenseFeatures,
      s"$modelPath was trained with use_dense_features=true; serving it needs " +
        "the training VectorSource, which this CLI cannot reconstruct")
    val server = start(model, port, new java.io.File(modelPath).getName)
    println(s"[serve] listening on :$port (GET /status, POST /parse)")
    server.getAddress // keep reference
    Thread.currentThread().join()
  }

  /** Starts the server (non-blocking) — also the test entry point. */
  def start(model: CrfModel, port: Int, modelName: String): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)

    server.createContext("/status", (ex: HttpExchange) =>
      respond(ex, 200, s"""{"status":"OK","crf_model":${jstr(modelName)}}"""))

    // shared scaffolding for the POST-texts endpoints (/parse, /triples):
    // method check, body read, text parsing, data envelope, error shape —
    // ONE implementation so a charset/error fix cannot miss an endpoint
    def textsEndpoint(renderOne: (CrfDecoder, String) => String): HttpExchange => Unit =
      (ex: HttpExchange) => {
        try {
          if (ex.getRequestMethod != "POST") respond(ex, 405, """{"error":"POST only"}""")
          else {
            val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
            val decoder = CrfDecoder.forModel(model)
            val data = parseTexts(body).map(renderOne(decoder, _)).mkString("[", ",", "]")
            respond(ex, 200, s"""{"data":$data}""")
          }
        } catch {
          case e: Exception => respond(ex, 400, s"""{"error":${jstr(String.valueOf(e.getMessage))}}""")
        }
      }

    server.createContext("/parse", textsEndpoint { (decoder, text) =>
      val ents = decoder.process(text).map { s =>
        s"""{"start":${s.start},"end":${s.end},"value":${jstr(s.value)},"entity":${jstr(s.entity)}}"""
      }.mkString("[", ",", "]")
      s"""{"text":${jstr(text)},"entities":$ents}"""
    }(_))

    // KG-as-a-service: POST /triples {"text": ...} runs the SAME page-local
    // decode→link→relate chain as the streaming/batch pipelines
    // (graft.kg.PageLocal — one implementation, three surfaces)
    val tripleAlias = graft.kg.PageLocal.aliasIndex
    val triplePatterns = graft.kg.PageLocal.compilePatterns()
    server.createContext("/triples", textsEndpoint { (decoder, text) =>
      val items = text.split('\n').iterator.flatMap(s =>
          graft.kg.PageLocal.sentenceTriples(decoder, s, tripleAlias, triplePatterns))
        .map(t =>
          s"""{"subj":${jstr(t.subj)},"pred":${jstr(t.pred)},"obj":${jstr(t.obj)},"conf":${t.conf}}""")
        .mkString("[", ",", "]")
      s"""{"text":${jstr(text)},"triples":$items}"""
    }(_))

    // highlighted-entity demo (the reference's visualize.py Gradio
    // HighlightedText surface, ref visualize.py:23-45, as plain HTML):
    // GET /visualize?text=... renders the decode with <mark> spans
    server.createContext("/visualize", (ex: HttpExchange) => {
      try {
        val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
        val text = q.split("&").collectFirst {
          case p if p.startsWith("text=") =>
            java.net.URLDecoder.decode(p.drop(5), StandardCharsets.UTF_8)
        }.getOrElse("George Walker Bush (born July 6, 1946) is an American politician.")
        val spans = CrfDecoder.forModel(model).process(text)
        val sb = new StringBuilder
        var pos = 0
        for (s <- spans.sortBy(_.start)) {
          sb.append(esc(text.substring(pos, s.start)))
          sb.append(s"""<mark title="${esc(s.entity)} (${f"${s.confidence}%.3f"})">""")
            .append(esc(text.substring(s.start, s.end)))
            .append(s""" <small>${esc(s.entity)}</small></mark>""")
          pos = s.end
        }
        sb.append(esc(text.substring(pos)))
        val html =
          s"""<!DOCTYPE html><html><head><meta charset="utf-8"><title>graft ner</title>
             |<style>body{font-family:sans-serif;max-width:48em;margin:2em auto}
             |mark{background:#cde;border-radius:4px;padding:0 3px}
             |small{color:#357;font-weight:bold}</style></head><body>
             |<form method="get"><input name="text" size="80" value="${esc(text)}"/>
             |<button>tag</button></form><p>${sb.result()}</p></body></html>""".stripMargin
        respondHtml(ex, 200, html)
      } catch {
        case e: Exception => respond(ex, 400, s"""{"error":${jstr(String.valueOf(e.getMessage))}}""")
      }
    })

    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    server
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  private def respondHtml(ex: HttpExchange, code: Int, html: String): Unit = {
    val bytes = html.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
  }

  /** Request body: {"text": "..."} or {"text": ["...", ...]} (ref `Request`). */
  private[run] def parseTexts(body: String): Seq[String] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    val t = node.get("text")
    require(t != null, "missing 'text' field")
    if (t.isTextual) Seq(t.asText())
    else if (t.isArray) {
      import scala.jdk.CollectionConverters._
      val elems = t.elements().asScala.toSeq
      require(elems.forall(_.isTextual), "'text' array must contain only strings")
      elems.map(_.asText())
    } else throw new IllegalArgumentException(
      "'text' must be a string or an array of strings")
  }

  private def respond(ex: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
  }
}
