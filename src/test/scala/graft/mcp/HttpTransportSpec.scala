package graft.mcp

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.SparkSpec
import graft.config.EngineConfig
import graft.engine.Engine
import graft.service.Json

/** HTTP transport: POST /mcp JSON-RPC frames, GET /status, CORS
  * preflight (reference internal/mcp/server.go:71-167 behaviors). */
class HttpTransportSpec extends SparkSpec {

  private lazy val transport = {
    val cfg = EngineConfig.fromEnv(Map.empty).toOption.get
    val t = new HttpTransport(
      new StdioServer(new Engine(cfg, Some("/root/testdata/sf0.001"), Some(spark))),
      port = 0)
    t.start()
    t
  }
  private lazy val base = s"http://127.0.0.1:${transport.boundPort}"
  private val client = HttpClient.newHttpClient()

  override def afterAll(): Unit = {
    transport.stop(0)
    super.afterAll()
  }

  private def post(body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base/mcp"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("POST /mcp executes a tool call") {
    val resp = post("""{"jsonrpc":"2.0","id":1,"method":"tools/call","params":{"name":"execute_query","arguments":{"query":"SELECT COUNT(*) AS n FROM region"}}}""")
    assert(resp.statusCode() == 200)
    val r = Json.parse(resp.body()).asInstanceOf[collection.Map[String, Any]]
    val result = r("result").asInstanceOf[collection.Map[String, Any]]
    assert(result("isError") == false)
    assert(result("content").asInstanceOf[Vector[Any]].head
      .asInstanceOf[collection.Map[String, Any]]("text").toString.contains("\"n\": 5"))
  }

  test("POST /mcp notification returns 202 with no body") {
    val resp = post("""{"jsonrpc":"2.0","method":"notifications/initialized"}""")
    assert(resp.statusCode() == 202 && resp.body().isEmpty)
  }

  test("POST /mcp with a malformed JSON-RPC body yields -32700") {
    val resp = post("""{"jsonrpc":"2.0","id":1,"method":""")
    val r = Json.parse(resp.body()).asInstanceOf[collection.Map[String, Any]]
    assert(r("error").asInstanceOf[collection.Map[String, Any]]("code") == -32700L)
    // and the transport still serves the next call
    assert(post("""{"jsonrpc":"2.0","id":2,"method":"tools/list"}""").statusCode() == 200)
  }

  test("an over-cap POST body gets 413 and a JSON-RPC error; the next call is served") {
    val big = "{\"jsonrpc\":\"2.0\",\"id\":1,\"method\":\"tools/list\",\"pad\":\"" +
      ("x" * (HttpTransport.MaxBodyBytes + 1000)) + "\"}"
    val resp = post(big)
    assert(resp.statusCode() == 413)
    val r = Json.parse(resp.body()).asInstanceOf[collection.Map[String, Any]]
    assert(r("id") == null)
    assert(r("error").asInstanceOf[collection.Map[String, Any]]("code") == -32600L)
    assert(post("""{"jsonrpc":"2.0","id":2,"method":"tools/list"}""").statusCode() == 200)
  }

  test("GET /status reports ok") {
    val resp = client.send(HttpRequest.newBuilder(URI.create(s"$base/status")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200)
    val r = Json.parse(resp.body()).asInstanceOf[collection.Map[String, Any]]
    assert(r("status") == "ok" && r("name") == "mcp-graft-spark")
  }

  test("keep-alive calls do not stall on Nagle + delayed ACK") {
    // headers and body leave as separate segments: without TCP_NODELAY
    // every keep-alive reply waits ~40 ms for the client's delayed ACK
    val frame = """{"jsonrpc":"2.0","id":1,"method":"tools/list"}"""
    assert(post(frame).statusCode() == 200) // connect + warm
    val ms = (1 to 20).map { _ =>
      val t0 = System.nanoTime()
      val resp = post(frame)
      assert(resp.statusCode() == 200 && resp.body().contains("execute_query"))
      (System.nanoTime() - t0) / 1e6
    }.sorted
    val median = (ms(9) + ms(10)) / 2
    assert(median < 20.0, f"median keep-alive tools/list $median%.1f ms: ${ms.mkString(", ")}")
  }

  test("OPTIONS preflight carries CORS headers") {
    val resp = client.send(HttpRequest.newBuilder(URI.create(s"$base/mcp"))
      .method("OPTIONS", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 204)
    assert(resp.headers().firstValue("Access-Control-Allow-Origin").orElse("") == "*")
  }

  test("GET /mcp is rejected") {
    val resp = client.send(HttpRequest.newBuilder(URI.create(s"$base/mcp")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 405)
  }

  test("MCP session lifecycle: issue on initialize, 404 unknown, DELETE ends") {
    val init = post("""{"jsonrpc":"2.0","id":1,"method":"initialize","params":{}}""")
    assert(init.statusCode() == 200)
    val sid = init.headers().firstValue("Mcp-Session-Id").orElse("")
    assert(sid.nonEmpty, "initialize must issue Mcp-Session-Id")

    def withSid(s: String) = client.send(HttpRequest.newBuilder(URI.create(s"$base/mcp"))
      .header("Content-Type", "application/json").header("Mcp-Session-Id", s)
      .POST(HttpRequest.BodyPublishers.ofString(
        """{"jsonrpc":"2.0","id":2,"method":"ping"}""")).build(),
      HttpResponse.BodyHandlers.ofString())

    assert(withSid(sid).statusCode() == 200)
    assert(withSid("not-a-session").statusCode() == 404)

    def del(s: String) = client.send(HttpRequest.newBuilder(URI.create(s"$base/mcp"))
      .header("Mcp-Session-Id", s).DELETE().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(del(sid).statusCode() == 204)
    assert(del(sid).statusCode() == 404)        // already terminated
    assert(withSid(sid).statusCode() == 404)    // and requests now rejected
  }

  test("legacy /sse transport: endpoint event, POST /messages, response over stream") {
    val conn = new java.net.URI(s"$base/sse").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("GET")
    conn.setReadTimeout(30000)
    assert(conn.getResponseCode == 200)
    assert(conn.getContentType.startsWith("text/event-stream"))
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(conn.getInputStream, "UTF-8"))
    // frame 1: the endpoint announcement
    assert(reader.readLine() == "event: endpoint")
    val endpoint = reader.readLine()
    assert(endpoint.startsWith("data: /messages?sessionId="), endpoint)
    assert(reader.readLine() == "")
    val postUrl = s"$base${endpoint.drop("data: ".length)}"
    // tool call POSTed to the announced endpoint → 202, result on stream
    val resp = client.send(HttpRequest.newBuilder(URI.create(postUrl))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(
        """{"jsonrpc":"2.0","id":7,"method":"tools/call","params":{"name":"execute_query","arguments":{"query":"SELECT COUNT(*) AS n FROM region"}}}"""))
      .build(), HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 202)
    assert(reader.readLine() == "event: message")
    val data = reader.readLine()
    assert(data.startsWith("data: ") && data.contains("\\\"n\\\": 5"), data)
    conn.disconnect()
  }

  test("legacy /messages with unknown session returns 404") {
    val resp = client.send(HttpRequest.newBuilder(
        URI.create(s"$base/messages?sessionId=nope"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString("""{"jsonrpc":"2.0","id":1,"method":"ping"}"""))
      .build(), HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 404)
  }

  test("OAuth-enabled transport enforces bearer tokens on /mcp") {
    val cfg = EngineConfig.fromEnv(Map(
      "OAUTH_ENABLED" -> "true", "OAUTH_HMAC_SECRET" -> "s3cret")).toOption.get
    val t = new HttpTransport(
      new StdioServer(new Engine(cfg, Some("/root/testdata/sf0.001"), Some(spark))),
      port = 0, auth = graft.security.BearerAuth.fromConfig(cfg))
    t.start()
    try {
      val url = s"http://127.0.0.1:${t.boundPort}/mcp"
      def call(headers: Seq[(String, String)]): HttpResponse[String] = {
        val b = HttpRequest.newBuilder(URI.create(url))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"jsonrpc":"2.0","id":1,"method":"ping"}"""))
        headers.foreach { case (k, v) => b.header(k, v) }
        client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      }
      val noToken = call(Nil)
      assert(noToken.statusCode() == 401)
      // 401 carries the discovery-shaped challenge (server.go:193-196)
      assert(noToken.headers().firstValue("WWW-Authenticate").orElse("")
        .startsWith("""Bearer realm="OAuth""""))
      val badToken = call(Seq("Authorization" -> "Bearer bogus.token"))
      assert(badToken.statusCode() == 401)
      val good = graft.security.BearerAuth.mintJwt("s3cret", "alice",
        System.currentTimeMillis() / 1000L + 3600L)
      val ok = call(Seq("Authorization" -> s"Bearer $good"))
      assert(ok.statusCode() == 200)
    } finally t.stop(0)
  }

  /** Raw HTTP/1.1 over a socket: the JDK HttpClient refuses to send
    * restricted headers (Host), which is exactly what these tests vary. */
  private def rawHeaders(port: Int, request: String): String = {
    val s = new java.net.Socket("127.0.0.1", port)
    try {
      s.setSoTimeout(5000)
      s.getOutputStream.write(request.getBytes("ISO-8859-1"))
      s.getOutputStream.flush()
      val in = s.getInputStream
      val sb = new StringBuilder
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0 && !sb.toString.contains("\r\n\r\n")) {
        sb.append(new String(buf, 0, n, "ISO-8859-1"))
        n = in.read(buf)
      }
      if (n > 0) sb.append(new String(buf, 0, n, "ISO-8859-1"))
      sb.toString
    } finally s.close()
  }

  test("401 discovery URL validates Host and honors X-Forwarded-Proto") {
    import HttpTransport.isValidHostHeader
    assert(isValidHostHeader("mcp.example.com"))
    assert(isValidHostHeader("mcp.example.com:8443"))
    assert(isValidHostHeader("127.0.0.1:8080"))
    assert(isValidHostHeader("[::1]:8080"))
    assert(!isValidHostHeader("""evil"host"""))
    assert(!isValidHostHeader("evil.example.com/steal"))
    assert(!isValidHostHeader("a b"))
    assert(!isValidHostHeader("user@evil.com"))

    val cfg = EngineConfig.fromEnv(Map(
      "OAUTH_ENABLED" -> "true", "OAUTH_MODE" -> "proxy",
      "OAUTH_PROVIDER" -> "okta", "JWT_SECRET" -> "s3cret",
      "OIDC_ISSUER" -> "https://issuer.test", "OIDC_AUDIENCE" -> "api",
      "OIDC_CLIENT_ID" -> "cid")).toOption.get
    val t = new HttpTransport(
      new StdioServer(new Engine(EngineConfig.fromEnv(Map.empty).toOption.get,
        Some("/root/testdata/sf0.001"), Some(spark))),
      port = 0, auth = graft.security.BearerAuth.fromConfig(cfg),
      oauth = Some(new OAuthEndpoints(cfg, "http://localhost:0")))
    t.start()
    try {
      def challenge(hostLine: String, extra: String = ""): String = {
        val resp = rawHeaders(t.boundPort,
          s"POST /mcp HTTP/1.1\r\nHost: $hostLine\r\n${extra}Content-Type: application/json\r\n" +
            "Content-Length: 2\r\nConnection: close\r\n\r\n{}")
        assert(resp.startsWith("HTTP/1.1 401"), resp.linesIterator.next())
        resp.linesIterator.find(_.toLowerCase.startsWith("www-authenticate"))
          .getOrElse(fail("no WWW-Authenticate header"))
      }
      // valid Host behind a TLS terminator: scheme from X-Forwarded-Proto
      assert(challenge("mcp.example.com:8443", "X-Forwarded-Proto: https\r\n")
        .contains("https://mcp.example.com:8443/.well-known/oauth-protected-resource"))
      // valid Host, no forwarded proto: http
      assert(challenge("mcp.example.com")
        .contains("http://mcp.example.com/.well-known/oauth-protected-resource"))
      // bogus forwarded proto is ignored
      assert(challenge("mcp.example.com", "X-Forwarded-Proto: jaVasCript\r\n")
        .contains("http://mcp.example.com/.well-known/oauth-protected-resource"))
      // attacker-shaped Host is NOT echoed into the discovery URL
      val evil = challenge("evil.example.com/steal")
      assert(!evil.contains("evil"), evil)
      assert(evil.contains(s"http://localhost:${t.boundPort}/.well-known/oauth-protected-resource"), evil)
      // configured MCP_URL always wins over any Host
      val t2 = new HttpTransport(
        new StdioServer(new Engine(EngineConfig.fromEnv(Map.empty).toOption.get,
          Some("/root/testdata/sf0.001"), Some(spark))),
        port = 0, auth = graft.security.BearerAuth.fromConfig(cfg),
        oauth = Some(new OAuthEndpoints(cfg, "https://public.example.com")),
        publicUrl = Some("https://public.example.com"))
      t2.start()
      try {
        val resp = rawHeaders(t2.boundPort,
          "POST /mcp HTTP/1.1\r\nHost: other.example.com\r\nContent-Type: application/json\r\n" +
            "Content-Length: 2\r\nConnection: close\r\n\r\n{}")
        assert(resp.linesIterator.find(_.toLowerCase.startsWith("www-authenticate"))
          .exists(_.contains("https://public.example.com/.well-known/oauth-protected-resource")), resp)
      } finally t2.stop(0)
    } finally t.stop(0)
  }

  test("native mode serves discovery metadata but NOT the proxy flow endpoints") {
    // In native mode the client talks to the upstream provider directly;
    // mounting /oauth/token here would expose an unauthenticated
    // token-exchange proxy that injects OIDC_CLIENT_SECRET into any
    // caller's request — a larger surface than the reference.
    val cfg = EngineConfig.fromEnv(Map(
      "OAUTH_ENABLED" -> "true", "OAUTH_MODE" -> "native",
      "OAUTH_PROVIDER" -> "okta",
      "OIDC_ISSUER" -> "https://issuer.test", "OIDC_AUDIENCE" -> "api",
      "OIDC_CLIENT_ID" -> "cid", "OIDC_CLIENT_SECRET" -> "topsecret")).toOption.get
    val t = new HttpTransport(
      new StdioServer(new Engine(EngineConfig.fromEnv(Map.empty).toOption.get,
        Some("/root/testdata/sf0.001"), Some(spark))),
      port = 0, auth = graft.security.BearerAuth.fromConfig(cfg),
      oauth = Some(new OAuthEndpoints(cfg, "http://localhost:0")))
    t.start()
    try {
      val b = s"http://127.0.0.1:${t.boundPort}"
      def get(path: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(s"$b$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      def postForm(path: String, body: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(s"$b$path"))
          .header("Content-Type", "application/x-www-form-urlencoded")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      // metadata stays mounted in both modes
      assert(get("/.well-known/oauth-authorization-server").statusCode() == 200)
      assert(get("/.well-known/oauth-protected-resource").statusCode() == 200)
      // the proxy flow is not
      assert(get("/oauth/authorize?redirect_uri=http%3A%2F%2Flocalhost%3A3000%2Fcb").statusCode() == 404)
      assert(get("/oauth/callback?code=c&state=s").statusCode() == 404)
      assert(get("/callback?code=c&state=s").statusCode() == 404)
      val tok = postForm("/oauth/token", "grant_type=authorization_code&code=x")
      assert(tok.statusCode() == 404)
      assert(!tok.body().contains("topsecret"))
      assert(postForm("/oauth/register", """{"redirect_uris":["http://localhost:3000/cb"]}""").statusCode() == 404)
    } finally t.stop(0)
  }

  test("OAuth discovery + proxy endpoints served over HTTP") {
    val cfg = EngineConfig.fromEnv(Map(
      "OAUTH_ENABLED" -> "true", "OAUTH_MODE" -> "proxy",
      "OAUTH_PROVIDER" -> "okta", "JWT_SECRET" -> "s3cret",
      "OIDC_ISSUER" -> "https://issuer.test", "OIDC_AUDIENCE" -> "api",
      "OIDC_CLIENT_ID" -> "cid")).toOption.get
    val stub = new OAuthEndpoints.Upstream {
      override def resolve(issuer: String) = Right(
        OAuthEndpoints.UpstreamEndpoints(s"$issuer/authorize", s"$issuer/token"))
      override def postToken(url: String, form: Map[String, String]) =
        Right("""{"access_token":"t"}""")
    }
    val t = new HttpTransport(
      new StdioServer(new Engine(EngineConfig.fromEnv(Map.empty).toOption.get,
        Some("/root/testdata/sf0.001"), Some(spark))),
      port = 0, auth = graft.security.BearerAuth.fromConfig(cfg),
      oauth = Some(new OAuthEndpoints(cfg, "http://localhost:0", stub)))
    t.start()
    try {
      val b = s"http://127.0.0.1:${t.boundPort}"
      def get(path: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(s"$b$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      val meta = get("/.well-known/oauth-authorization-server")
      assert(meta.statusCode() == 200 && meta.body().contains("authorization_endpoint"))
      // /status reports oauth state (server.go:119-121)
      val st = get("/status")
      assert(st.body().contains("\"mode\":\"proxy\"") &&
        st.body().contains("\"provider\":\"okta\""), st.body())
      assert(get("/.well-known/oauth-metadata").statusCode() == 200)
      val prm = get("/.well-known/oauth-protected-resource")
      assert(prm.statusCode() == 200 && prm.body().contains("authorization_servers"))
      // /callback preserves the query and bounces to /oauth/callback
      val noRedirect = HttpClient.newBuilder()
        .followRedirects(HttpClient.Redirect.NEVER).build()
      val cb = noRedirect.send(HttpRequest.newBuilder(
        URI.create(s"$b/callback?code=c&state=s")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(cb.statusCode() == 302)
      assert(cb.headers().firstValue("Location").orElse("") == "/oauth/callback?code=c&state=s")
      // authorize 302s to the (stubbed) upstream
      val az = noRedirect.send(HttpRequest.newBuilder(URI.create(
        s"$b/oauth/authorize?redirect_uri=http%3A%2F%2Flocalhost%3A3000%2Fcb")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(az.statusCode() == 302)
      assert(az.headers().firstValue("Location").orElse("")
        .startsWith("https://issuer.test/authorize?"))
      // 401 advertises the protected-resource metadata
      val denied = client.send(HttpRequest.newBuilder(URI.create(s"$b/mcp"))
        .POST(HttpRequest.BodyPublishers.ofString("{}")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(denied.statusCode() == 401)
      val challenges = denied.headers().allValues("WWW-Authenticate")
      assert(challenges.stream().anyMatch(_.contains("oauth-protected-resource")))
    } finally t.stop(0)
  }
}
