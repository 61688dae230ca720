package graft.security

import java.math.BigInteger
import java.security.interfaces.{ECPublicKey, RSAPublicKey}
import java.security.{KeyPair, KeyPairGenerator}
import java.util.Base64

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.immutable.ListMap

import graft.service.Json

/** OIDC resource-server validation (reference providers okta / google /
  * azure, internal/config/config.go:30-36; semantics per docs/jwt.md +
  * docs/oauth.md "Native Mode": JWKS signature, iss/aud/exp checks,
  * claim extraction). Keys are generated in-test; the HTTP discovery
  * path runs against a loopback stub issuer — zero egress. */
class OidcSpec extends AnyFunSuite {

  private val NOW = 1_700_000_000L

  private def b64(b: BigInteger): String =
    Base64.getUrlEncoder.withoutPadding.encodeToString(b.toByteArray.dropWhile(_ == 0))

  private lazy val rsa: KeyPair = {
    val g = KeyPairGenerator.getInstance("RSA"); g.initialize(2048); g.generateKeyPair()
  }
  private lazy val ec: KeyPair = {
    val g = KeyPairGenerator.getInstance("EC")
    g.initialize(new java.security.spec.ECGenParameterSpec("secp256r1"))
    g.generateKeyPair()
  }

  private def rsaJwkJson(kid: String, key: RSAPublicKey = rsa.getPublic.asInstanceOf[RSAPublicKey]): String =
    Json.write(ListMap("kty" -> "RSA", "kid" -> kid, "use" -> "sig", "alg" -> "RS256",
      "n" -> b64(key.getModulus), "e" -> b64(key.getPublicExponent)))

  private def ecJwkJson(kid: String): String = {
    val pub = ec.getPublic.asInstanceOf[ECPublicKey]
    Json.write(ListMap("kty" -> "EC", "kid" -> kid, "use" -> "sig", "crv" -> "P-256",
      "x" -> b64(pub.getW.getAffineX), "y" -> b64(pub.getW.getAffineY)))
  }

  private def jwks(keys: String*): String = s"""{"keys":[${keys.mkString(",")}]}"""

  private def claims(extra: (String, Any)*): Map[String, Any] =
    ListMap[String, Any]("iss" -> "https://issuer.test", "aud" -> "graft-api",
      "sub" -> "u123", "preferred_username" -> "alice", "email" -> "alice@example.com",
      "exp" -> (NOW + 600)) ++ extra

  private def validator(source: Jwks.Source, aud: String = "graft-api") =
    new OidcValidator("https://issuer.test", aud, source, () => NOW)

  private val staticSource = new Jwks.Static(jwks(rsaJwkJson("k1"), ecJwkJson("k2")))

  test("RS256 token validates and yields the attribution claims") {
    val tok = Jwt.mintAsymmetric(rsa.getPrivate, "RS256", claims(), kid = Some("k1"))
    assert(validator(staticSource).validate(tok) ==
      Right(Attribution.User(username = "alice", email = "alice@example.com", subject = "u123")))
  }

  test("ES256 token validates (JOSE R||S signature handled)") {
    val tok = Jwt.mintAsymmetric(ec.getPrivate, "ES256", claims(), kid = Some("k2"))
    assert(validator(staticSource).validate(tok).map(_.subject) == Right("u123"))
  }

  test("aud array form accepted; wrong audience rejected") {
    val arr = Jwt.mintAsymmetric(rsa.getPrivate, "RS256",
      claims("aud" -> Seq("other", "graft-api")), kid = Some("k1"))
    assert(validator(staticSource).validate(arr).isRight)
    val wrong = Jwt.mintAsymmetric(rsa.getPrivate, "RS256",
      claims("aud" -> "someone-else"), kid = Some("k1"))
    assert(validator(staticSource).validate(wrong) == Left("invalid token audience"))
  }

  test("wrong issuer rejected") {
    val tok = Jwt.mintAsymmetric(rsa.getPrivate, "RS256",
      claims("iss" -> "https://evil.test"), kid = Some("k1"))
    assert(validator(staticSource).validate(tok) == Left("invalid token issuer"))
  }

  test("expired rejected; 60s leeway honored; nbf in future rejected") {
    def at(exp: Long, extra: (String, Any)*) =
      Jwt.mintAsymmetric(rsa.getPrivate, "RS256", claims(Seq("exp" -> (exp: Any)) ++ extra: _*), kid = Some("k1"))
    assert(validator(staticSource).validate(at(NOW - 120)) == Left("token expired"))
    assert(validator(staticSource).validate(at(NOW - 30)).isRight) // inside leeway
    val future = Jwt.mintAsymmetric(rsa.getPrivate, "RS256",
      claims("nbf" -> (NOW + 600)), kid = Some("k1"))
    assert(validator(staticSource).validate(future) == Left("token not yet valid"))
  }

  test("missing exp rejected (fail closed)") {
    val tok = Jwt.mintAsymmetric(rsa.getPrivate, "RS256",
      (claims() - "exp"), kid = Some("k1"))
    assert(validator(staticSource).validate(tok) == Left("token has no expiry"))
  }

  test("alg none and HS256 key-confusion are rejected") {
    val enc = Base64.getUrlEncoder.withoutPadding()
    val noneTok = enc.encodeToString("""{"alg":"none"}""".getBytes) + "." +
      enc.encodeToString(Json.write(claims()).getBytes) + "."
    assert(validator(staticSource).validate(noneTok).isLeft)
    // HS256 token "signed" with the public modulus string must not pass
    val hsTok = Jwt.mintHs256("some-shared-secret", claims())
    assert(validator(staticSource).validate(hsTok) == Left("unsupported algorithm 'HS256'"))
  }

  test("tampered payload rejected") {
    val tok = Jwt.mintAsymmetric(rsa.getPrivate, "RS256", claims(), kid = Some("k1"))
    val Array(h, _, s) = tok.split('.')
    val forged = h + "." + Base64.getUrlEncoder.withoutPadding
      .encodeToString(Json.write(claims("sub" -> "mallory")).getBytes) + "." + s
    assert(validator(staticSource).validate(forged) == Left("invalid token signature"))
  }

  test("unknown kid triggers one refresh (key rotation)") {
    val rotated = new Jwks.Source {
      var calls = 0
      override def keys(): Either[String, Seq[Jwks.Jwk]] = Jwks.parse(jwks(rsaJwkJson("old")))
      override def refresh(): Either[String, Seq[Jwks.Jwk]] = {
        calls += 1; Jwks.parse(jwks(rsaJwkJson("new-kid")))
      }
    }
    val tok = Jwt.mintAsymmetric(rsa.getPrivate, "RS256", claims(), kid = Some("new-kid"))
    assert(validator(rotated).validate(tok).isRight)
    assert(rotated.calls == 1)
    val unknown = Jwt.mintAsymmetric(rsa.getPrivate, "RS256", claims(), kid = Some("gone"))
    assert(validator(rotated).validate(unknown) == Left("no JWKS key matches kid 'gone'"))
  }

  test("no kid: single-key set matches, ambiguous multi-key set rejects") {
    val single = new Jwks.Static(jwks(rsaJwkJson("only")))
    val tok = Jwt.mintAsymmetric(rsa.getPrivate, "RS256", claims())
    assert(validator(single).validate(tok).isRight)
    val g = KeyPairGenerator.getInstance("RSA"); g.initialize(2048)
    val other = g.generateKeyPair().getPublic.asInstanceOf[RSAPublicKey]
    val twoRsa = new Jwks.Static(jwks(rsaJwkJson("a"), rsaJwkJson("b", other)))
    assert(validator(twoRsa).validate(tok) ==
      Left("token has no kid and JWKS is not a single-key set"))
  }

  test("missing issuer/audience config fails closed") {
    val noIss = new OidcValidator("", "aud", staticSource, () => NOW)
    assert(noIss.validate("x.y.z") == Left("OIDC_ISSUER is not configured"))
    val noAud = new OidcValidator("https://issuer.test", "", staticSource, () => NOW)
    assert(noAud.validate("x.y.z") == Left("OIDC_AUDIENCE is not configured"))
  }

  test("JWKS parser skips enc-use and malformed keys, keeps good ones") {
    val mixed = jwks(
      """{"kty":"RSA","kid":"enc","use":"enc","n":"AQAB","e":"AQAB"}""",
      """{"kty":"RSA","kid":"bad"}""",
      """{"kty":"oct","kid":"sym","k":"c2VjcmV0"}""",
      rsaJwkJson("good"))
    val ks = Jwks.parse(mixed).toOption.get
    assert(ks.map(_.kid) == Seq(Some("good")))
  }

  test("Discovery.keys() rate-limits re-fetch after failure (serves stale, backs off)") {
    var now = 0L
    var fail = false
    var gets = 0
    val get: String => Either[String, String] = { url =>
      gets += 1
      if (fail) Left("issuer down")
      else if (url.endsWith("openid-configuration"))
        Right("""{"jwks_uri":"https://iss/jwks"}""")
      else Right(jwks(rsaJwkJson("k1")))
    }
    val d = new Jwks.Discovery("https://iss", get,
      cacheTtlMillis = 1000, minRefreshMillis = 300, nowMillis = () => now)
    // first call always fetches (discovery + jwks = 2 GETs)
    assert(d.keys().exists(_.nonEmpty)); assert(gets == 2)
    // within TTL: cached, no GETs
    now = 500; assert(d.keys().isRight); assert(gets == 2)
    // TTL lapsed during an outage: one failed attempt, stale served
    fail = true
    now = 1500; assert(d.keys().exists(_.nonEmpty)); assert(gets == 3)
    // still down, within the refresh window: NO further GETs per call
    now = 1600; assert(d.keys().exists(_.nonEmpty)); assert(gets == 3)
    now = 1700; assert(d.keys().exists(_.nonEmpty)); assert(gets == 3)
    // window elapsed: retried once more
    now = 1900; assert(d.keys().exists(_.nonEmpty)); assert(gets == 4)
    // provider back: next retry refreshes the cache
    fail = false
    now = 2300; assert(d.keys().exists(_.nonEmpty)); assert(gets == 6)
    now = 2400; assert(d.keys().isRight); assert(gets == 6) // fresh cache again
  }

  test("Discovery.keys() with no cache backs off between failed fetches") {
    var now = 0L
    var gets = 0
    val get: String => Either[String, String] = { _ => gets += 1; Left("boom") }
    val d = new Jwks.Discovery("https://iss", get,
      cacheTtlMillis = 1000, minRefreshMillis = 300, nowMillis = () => now)
    assert(d.keys().isLeft); assert(gets == 1) // real attempt
    now = 100; assert(d.keys().isLeft); assert(gets == 1) // backed off
    now = 350; assert(d.keys().isLeft); assert(gets == 2) // retried
  }

  test("JWKS over HTTP: discovery against a loopback stub issuer") {
    // the JDK reads its server config once per process: the first
    // server in this JVM fixes it for the HTTP transport specs too
    graft.mcp.HttpTransport.enableNoDelay()
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val port = srv.getAddress.getPort
    val issuer = s"http://127.0.0.1:$port"
    def serve(path: String, body: String): Unit =
      srv.createContext(path, (ex: com.sun.net.httpserver.HttpExchange) => {
        val b = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length.toLong)
        ex.getResponseBody.write(b); ex.close()
      })
    serve("/.well-known/openid-configuration",
      s"""{"issuer":"$issuer","jwks_uri":"$issuer/jwks"}""")
    serve("/jwks", jwks(rsaJwkJson("k1")))
    srv.start()
    try {
      val v = new OidcValidator(issuer, "graft-api",
        new Jwks.Discovery(issuer), () => NOW)
      val tok = Jwt.mintAsymmetric(rsa.getPrivate, "RS256",
        claims("iss" -> issuer), kid = Some("k1"))
      assert(v.validate(tok).map(_.username) == Right("alice"))
    } finally srv.stop(0)
  }

  test("BearerAuth routes OIDC providers end-to-end from config") {
    import graft.config.EngineConfig
    val cfg = EngineConfig.fromEnv(Map(
      "OAUTH_ENABLED" -> "true", "OAUTH_PROVIDER" -> "okta",
      "OIDC_ISSUER" -> "https://issuer.test", "OIDC_AUDIENCE" -> "graft-api",
      "OIDC_JWKS" -> jwks(rsaJwkJson("k1")))).toOption.get
    val auth = BearerAuth.fromConfig(cfg).get
    val tok = Jwt.mintAsymmetric(rsa.getPrivate, "RS256",
      claims("exp" -> (System.currentTimeMillis() / 1000L + 600)), kid = Some("k1"))
    assert(auth.validate(Some(s"Bearer $tok")) == Right("alice"))
    assert(auth.validateUser(Some(s"Bearer $tok")).map(_.email) == Right("alice@example.com"))
    assert(auth.validate(Some("Bearer garbage")).isLeft)
    // provider configured but no issuer -> fail closed
    val bare = EngineConfig.fromEnv(Map(
      "OAUTH_ENABLED" -> "true", "OAUTH_PROVIDER" -> "okta")).toOption.get
    assert(BearerAuth.fromConfig(bare).get.validate(Some(s"Bearer $tok")).isLeft)
  }
}
