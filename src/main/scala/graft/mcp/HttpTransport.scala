package graft.mcp

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import scala.collection.immutable.ListMap

import graft.service.Json

/** Streamable-HTTP transport for the MCP server (reference
  * internal/mcp/server.go:71-167): POST /mcp carries one JSON-RPC frame
  * per request with MCP session management (`Mcp-Session-Id` issued on
  * initialize, unknown ids → 404, DELETE terminates — the streamable-
  * HTTP spec the reference's WithStateLess(false) server provides),
  * GET /status reports liveness/version, CORS headers are permissive
  * like the reference's, and shutdown is graceful. Built on the JDK's
  * HttpServer — the zero-dependency build has no HTTP framework.
  *
  * The reference's legacy HTTP+SSE transport (server.go:100-102) is
  * served too, for clients pinned to the deprecated 2024-11-05 spec:
  * GET /sse opens a text/event-stream and announces the POST endpoint
  * (`event: endpoint`, data `/messages?sessionId=…`); POST /messages
  * returns 202 Accepted and pushes each JSON-RPC response over the
  * session's stream as a `message` event.
  */
object HttpTransport {
  /** Host-header shape check: `host` or `host:port` where host is a
    * hostname, IPv4, or bracketed IPv6 literal. Anything else (paths,
    * userinfo, quotes, spaces) is rejected before it can reach a
    * WWW-Authenticate discovery URL. */
  private[mcp] def isValidHostHeader(h: String): Boolean =
    h != null && h.nonEmpty && h.length <= 255 &&
      h.matches("""(\[[0-9A-Fa-f:]+\]|[A-Za-z0-9._-]+)(:\d{1,5})?""")

  /** TCP_NODELAY on accepted connections. The JDK server writes a
    * response's headers and body as separate segments; with Nagle on,
    * the body waits for the client's delayed ACK of the headers (~40 ms
    * per keep-alive call). The JDK reads the property once per process,
    * when the server's config class initializes, so it must be set
    * before the first `HttpServer.create`; an explicit `-D` value wins. */
  private[graft] def enableNoDelay(): Unit =
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")

  /** The largest POST body read, in bytes; a longer one is answered
    * 413 without being read further. */
  val MaxBodyBytes: Int = 1 << 20
}

class HttpTransport(server: StdioServer, port: Int, version: String = "dev",
    auth: Option[graft.security.BearerAuth] = None,
    oauth: Option[OAuthEndpoints] = None,
    publicUrl: Option[String] = None) {

  HttpTransport.enableNoDelay()
  private val http = HttpServer.create(new InetSocketAddress(port), 0)
  // A real pool: the default (single dispatcher thread) would let one
  // open /sse stream starve every other request.
  http.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-http"); t.setDaemon(true); t
  }))
  @volatile private var started = false

  /** Live session ids (bounded; oldest evicted past `maxSessions` —
    * a client that never DELETEs cannot grow the set unboundedly). */
  private val maxSessions = 1024
  private val sessions =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, java.lang.Long](64, 0.75f, false) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.lang.Long]): Boolean =
          size() > maxSessions
      })

  /** The request body as UTF-8, reading at most MaxBodyBytes + 1
    * bytes; None when it is longer than MaxBodyBytes. */
  private def readBody(ex: HttpExchange): Option[String] = {
    val bytes = ex.getRequestBody.readNBytes(HttpTransport.MaxBodyBytes + 1)
    if (bytes.length > HttpTransport.MaxBodyBytes) None
    else Some(new String(bytes, StandardCharsets.UTF_8))
  }

  private val tooLarge = s"request body exceeds ${HttpTransport.MaxBodyBytes} bytes"

  /** 413 for a JSON-RPC endpoint: an Invalid Request error with no id. */
  private def rpcTooLarge(ex: HttpExchange): Unit =
    respond(ex, 413, Json.write(ListMap("jsonrpc" -> "2.0", "id" -> null,
      "error" -> ListMap("code" -> -32600, "message" -> tooLarge))))

  /** Bound port (useful when constructed with port 0 in tests). */
  def boundPort: Int = http.getAddress.getPort

  private def cors(ex: HttpExchange): Unit = {
    val h = ex.getResponseHeaders
    h.add("Access-Control-Allow-Origin", "*")
    h.add("Access-Control-Allow-Methods", "GET, POST, DELETE, OPTIONS")
    h.add("Access-Control-Allow-Headers", "Content-Type, Authorization, Mcp-Session-Id")
    h.add("Access-Control-Expose-Headers", "Mcp-Session-Id")
  }

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
  }

  http.createContext("/mcp", (ex: HttpExchange) => {
    cors(ex)
    ex.getRequestMethod match {
      case "OPTIONS" => ex.sendResponseHeaders(204, -1)
      case "POST" =>
        // Bearer validation when OAuth is enabled (reference wires its
        // oauth middleware over every tool handler, server.go:45-53)
        val denied = auth.flatMap { a =>
          a.validate(Option(ex.getRequestHeaders.getFirst("Authorization")))
            .left.toOption
        }
        denied match {
          case Some(reason) =>
            deniedHeaders(ex)
            respond(ex, 401, Json.write(ListMap("error" -> reason)))
          case None => readBody(ex) match {
            case None => rpcTooLarge(ex)
            case Some(body) =>
              val sid = Option(ex.getRequestHeaders.getFirst("Mcp-Session-Id"))
              val isInit = body.contains("\"initialize\"")
              if (sid.exists(s => !sessions.containsKey(s)))
                // spec: a request with an unknown/expired session id → 404,
                // client must re-initialize
                respond(ex, 404, """{"error":"unknown or expired session"}""")
              else server.handle(body) match {
                case Some(resp) =>
                  if (isInit && resp.contains("protocolVersion")) {
                    val fresh = java.util.UUID.randomUUID().toString
                    sessions.put(fresh, java.lang.Long.valueOf(System.currentTimeMillis()))
                    ex.getResponseHeaders.add("Mcp-Session-Id", fresh)
                  }
                  respond(ex, 200, resp)
                case None => ex.sendResponseHeaders(202, -1) // notification
              }
          }
        }
      case "DELETE" =>
        // spec: DELETE with the session header terminates the session
        Option(ex.getRequestHeaders.getFirst("Mcp-Session-Id")) match {
          case Some(s) if sessions.remove(s) != null => ex.sendResponseHeaders(204, -1)
          case _ => respond(ex, 404, """{"error":"unknown or expired session"}""")
        }
      case _ => respond(ex, 405, """{"error":"method not allowed"}""")
    }
    ex.close()
  })

  /** Open SSE streams by legacy session id (same bound as `sessions`). */
  private val sseStreams =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, java.io.OutputStream](64, 0.75f, false) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.io.OutputStream]): Boolean =
          size() > maxSessions
      })

  /** One SSE frame; data is split per line as the spec requires (the
    * JSON-RPC frames are single-line, but stay correct regardless). */
  private def sseEvent(event: String, data: String): Array[Byte] = {
    val dataLines = data.split("\n", -1).map(l => s"data: $l").mkString("\n")
    s"event: $event\n$dataLines\n\n".getBytes(StandardCharsets.UTF_8)
  }

  http.createContext("/sse", (ex: HttpExchange) => {
    cors(ex)
    ex.getRequestMethod match {
      case "OPTIONS" => ex.sendResponseHeaders(204, -1); ex.close()
      case "GET" =>
        val denied = auth.flatMap(a => a.validate(
          Option(ex.getRequestHeaders.getFirst("Authorization"))).left.toOption)
        denied match {
          case Some(reason) =>
            deniedHeaders(ex)
            respond(ex, 401, Json.write(ListMap("error" -> reason)))
            ex.close()
          case None =>
            val h = ex.getResponseHeaders
            h.add("Content-Type", "text/event-stream")
            h.add("Cache-Control", "no-cache")
            ex.sendResponseHeaders(200, 0) // chunked; stream stays open
            val sid = java.util.UUID.randomUUID().toString
            val os = ex.getResponseBody
            sseStreams.put(sid, os)
            os.write(sseEvent("endpoint", s"/messages?sessionId=$sid"))
            os.flush()
            // the exchange is deliberately NOT closed — /messages pushes
            // responses through this stream until the client disconnects
        }
      case _ => respond(ex, 405, """{"error":"method not allowed"}"""); ex.close()
    }
  })

  http.createContext("/messages", (ex: HttpExchange) => {
    cors(ex)
    ex.getRequestMethod match {
      case "OPTIONS" => ex.sendResponseHeaders(204, -1)
      case "POST" =>
        val sid = Option(ex.getRequestURI.getQuery).toSeq
          .flatMap(_.split('&')).collectFirst {
            case kv if kv.startsWith("sessionId=") => kv.drop("sessionId=".length)
          }
        sid.map(s => Option(sseStreams.get(s))) match {
          case Some(Some(stream)) => readBody(ex) match {
            case None => rpcTooLarge(ex)
            case Some(body) =>
              server.handle(body).foreach { resp =>
                try {
                  stream.write(sseEvent("message", resp))
                  stream.flush()
                } catch { case _: java.io.IOException =>
                  sseStreams.remove(sid.get) // client went away
                }
              }
              respond(ex, 202, "Accepted", contentType = "text/plain")
          }
          case _ => respond(ex, 404, """{"error":"unknown or expired session"}""")
        }
      case _ => respond(ex, 405, """{"error":"method not allowed"}""")
    }
    ex.close()
  })

  http.createContext("/status", (ex: HttpExchange) => {
    cors(ex)
    // oauth status mirrors the reference's getOAuthStatus log line
    // (server.go:119-121: enabled + mode + provider)
    val oauthStatus: ListMap[String, Any] = oauth match {
      case Some(oa) => ListMap("oauth" -> ListMap(
        "enabled" -> true, "mode" -> oa.mode, "provider" -> oa.provider))
      case None => ListMap("oauth" -> ListMap("enabled" -> false))
    }
    respond(ex, 200, Json.write(ListMap[String, Any](
      "status" -> "ok", "name" -> "mcp-graft-spark", "version" -> version)
      ++ oauthStatus))
    ex.close()
  })

  /** 401 challenge with the discovery pointer (server.go:185-196).
    * ONE Bearer challenge: RFC 9728 makes resource_metadata a
    * PARAMETER of the Bearer scheme — a second bare header would not
    * parse as an RFC 7235 challenge (every value must start with a
    * scheme) and clients would never find the metadata URL. */
  private def deniedHeaders(ex: HttpExchange): Unit = {
    val base =
      """Bearer realm="OAuth", error="invalid_token", error_description="Missing or invalid access token""""
    val challenge =
      if (oauth.isDefined)
        base + s""", resource_metadata="${selfUrlFor(ex)}/.well-known/oauth-protected-resource""""
      else base
    ex.getResponseHeaders.add("WWW-Authenticate", challenge)
  }

  /** Public base URL: MCP_URL override first (the reference's env,
    * server.go:116 — required behind TLS terminators / non-local
    * deployments), then the request Host — VALIDATED, with the scheme
    * taken from X-Forwarded-Proto when a proxy supplies it — then the
    * bound port. A client-supplied Host that is not a plain
    * hostname[:port] is ignored rather than echoed into the RFC 9728
    * discovery URL. */
  private def selfUrlFor(ex: HttpExchange): String =
    publicUrl
      .orElse(Option(ex.getRequestHeaders.getFirst("Host"))
        .filter(HttpTransport.isValidHostHeader)
        .map { h =>
          val scheme = Option(ex.getRequestHeaders.getFirst("X-Forwarded-Proto"))
            .filter(p => p == "http" || p == "https").getOrElse("http")
          s"$scheme://$h"
        })
      .getOrElse(s"http://localhost:$boundPort")

  // ---- OAuth discovery + proxy endpoints (server.go:95-97,124-128:
  // well-known metadata, /oauth/callback, /callback alias) ----
  oauth.foreach { oa =>
    def metadataCtx(path: String, body: () => String): Unit =
      http.createContext(path, (ex: HttpExchange) => {
        cors(ex)
        ex.getRequestMethod match {
          case "OPTIONS" => ex.sendResponseHeaders(204, -1)
          case "GET" => respond(ex, 200, body())
          case _ => respond(ex, 405, """{"error":"method not allowed"}""")
        }
        ex.close()
      })
    metadataCtx("/.well-known/oauth-authorization-server", () => oa.authorizationServerMetadata)
    // legacy alias (server.go:125)
    metadataCtx("/.well-known/oauth-metadata", () => oa.authorizationServerMetadata)
    metadataCtx("/.well-known/oauth-protected-resource", () => oa.protectedResourceMetadata)

    // The authorize/callback/token/register flow belongs to PROXY mode
    // only (docs/oauth.md "Proxy Mode"; server.go registers it behind the
    // proxy-mode switch). In native mode these contexts are NOT mounted:
    // exposing an unauthenticated token-exchange endpoint that injects
    // OIDC_CLIENT_SECRET into arbitrary callers' requests would be a
    // larger surface than the reference. Metadata endpoints above stay
    // mounted in both modes.
    if (oa.mode == "proxy") {

    def redirectOrError(ex: HttpExchange, result: Either[String, String]): Unit = {
      result match {
        case Right(location) =>
          ex.getResponseHeaders.add("Location", location)
          ex.sendResponseHeaders(302, -1)
        case Left(err) =>
          respond(ex, 400, Json.write(ListMap("error" -> err)))
      }
      ex.close()
    }

    http.createContext("/oauth/authorize", (ex: HttpExchange) => {
      cors(ex)
      redirectOrError(ex, oa.authorize(OAuthEndpoints.parseParams(ex.getRequestURI.getRawQuery)))
    })

    http.createContext("/oauth/callback", (ex: HttpExchange) => {
      cors(ex)
      redirectOrError(ex, oa.callback(OAuthEndpoints.parseParams(ex.getRequestURI.getRawQuery)))
    })

    // Claude Code hits /callback; redirect preserving the query
    // (server.go:128)
    http.createContext("/callback", (ex: HttpExchange) => {
      cors(ex)
      val q = Option(ex.getRequestURI.getRawQuery).map("?" + _).getOrElse("")
      ex.getResponseHeaders.add("Location", s"/oauth/callback$q")
      ex.sendResponseHeaders(302, -1)
      ex.close()
    })

    http.createContext("/oauth/register", (ex: HttpExchange) => {
      cors(ex)
      ex.getRequestMethod match {
        case "OPTIONS" => ex.sendResponseHeaders(204, -1)
        case "POST" => readBody(ex) match {
          case None => respond(ex, 413, Json.write(ListMap("error" -> tooLarge)))
          case Some(body) => oa.register(body) match {
            case Right(json) => respond(ex, 201, json)
            case Left(err) => respond(ex, 400, Json.write(ListMap("error" -> err)))
          }
        }
        case _ => respond(ex, 405, """{"error":"method not allowed"}""")
      }
      ex.close()
    })

    http.createContext("/oauth/token", (ex: HttpExchange) => {
      cors(ex)
      ex.getRequestMethod match {
        case "OPTIONS" => ex.sendResponseHeaders(204, -1)
        case "POST" => readBody(ex) match {
          case None => respond(ex, 413, Json.write(ListMap("error" -> tooLarge)))
          case Some(body) => oa.token(OAuthEndpoints.parseParams(body)) match {
            case Right(json) => respond(ex, 200, json)
            case Left(err) => respond(ex, 400, Json.write(ListMap("error" -> err)))
          }
        }
        case _ => respond(ex, 405, """{"error":"method not allowed"}""")
      }
      ex.close()
    })
    } // end proxy-mode gate
  }

  def start(): Unit = {
    http.start()
    started = true
  }

  /** Graceful shutdown (bounded, like server.go:153-166's 30 s drain). */
  def stop(drainSeconds: Int = 2): Unit = if (started) {
    sseStreams.values.forEach(os => try os.close() catch { case _: Throwable => })
    sseStreams.clear()
    http.stop(drainSeconds)
    started = false
  }
}

/** `runMain graft.mcp.HttpMain <dataDir> [port]` — HTTP variant of the
  * stdio entrypoint (MCP_TRANSPORT=http equivalent, cmd/main.go:61-76). */
object HttpMain {
  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    val port = args.lift(1).map(_.toInt)
      .orElse(sys.env.get("MCP_PORT").map(_.toInt)).getOrElse(8080)
    graft.config.EngineConfig.fromEnv() match {
      case Left(err) =>
        System.err.println(s"config error: $err"); sys.exit(1)
      case Right(cfg) =>
        val engine = new graft.engine.Engine(cfg, Some(dataDir))
        // MCP_URL is the reference's public-URL override (server.go:116)
        val publicUrl = sys.env.get("MCP_URL").filter(_.nonEmpty)
        val selfUrl = publicUrl.getOrElse(s"http://localhost:$port")
        val transport = new HttpTransport(new StdioServer(engine), port,
          auth = graft.security.BearerAuth.fromConfig(cfg),
          oauth = if (cfg.oauthEnabled)
            Some(new OAuthEndpoints(cfg, selfUrl)) else None,
          publicUrl = publicUrl)
        if (cfg.oauthEnabled)
          System.err.println(s"[graft-mcp] OAuth enabled (mode: ${cfg.oauthMode}, " +
            s"provider: ${cfg.oauthProvider})")
        transport.start()
        System.err.println(s"[graft-mcp] http listening on :${transport.boundPort}")
        Thread.currentThread().join()
    }
  }
}
