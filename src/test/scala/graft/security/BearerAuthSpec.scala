package graft.security

import org.scalatest.funsuite.AnyFunSuite

/** HMAC bearer validation for the OAuth-enabled HTTP transport
  * (embedded disposition of reference internal/mcp/server.go:45-53). */
class BearerAuthSpec extends AnyFunSuite {

  private val auth = new BearerAuth("hmac", "s3cret", () => 1_000_000L)

  private def mint(secret: String, subject: String, expiry: Long = 2_000_000L) =
    BearerAuth.mintJwt(secret, subject, expiry)

  test("valid token yields the subject") {
    assert(auth.validate(Some(s"Bearer ${mint("s3cret", "alice")}"))
      == Right("alice"))
  }

  test("missing / malformed headers rejected") {
    assert(auth.validate(None) == Left("missing bearer token"))
    assert(auth.validate(Some("Basic Zm9v")) == Left("malformed Authorization header"))
    assert(auth.validate(Some("Bearer notdotted")) == Left("invalid token format"))
    // 'a' is not valid base64url
    assert(auth.validate(Some("Bearer a.b.c")) == Left("invalid token encoding"))
    assert(auth.validate(Some("Bearer %%%.%%%")) == Left("invalid token format"))
  }

  test("a two-segment token (payload.signature, no expiry) is refused") {
    // a validly signed never-expiring token of the old two-segment form
    val payload = "alice".getBytes("UTF-8")
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec("s3cret".getBytes("UTF-8"), "HmacSHA256"))
    val enc = java.util.Base64.getUrlEncoder.withoutPadding()
    val token = enc.encodeToString(payload) + "." + enc.encodeToString(mac.doFinal(payload))
    assert(auth.validate(Some(s"Bearer $token")) == Left("invalid token format"))
  }

  test("wrong secret rejected") {
    assert(auth.validate(Some(s"Bearer ${mint("other", "alice")}"))
      == Left("invalid token signature"))
  }

  test("tampered payload rejected") {
    val Array(header, _, sig) = mint("s3cret", "alice").split('.')
    val Array(_, payload, _) = mint("other", "mallory").split('.')
    val forged = s"$header.$payload.$sig"
    assert(auth.validate(Some(s"Bearer $forged")) == Left("invalid token signature"))
  }

  test("expiry honored when present") {
    val live = mint("s3cret", "alice", 2_000_000L)
    val dead = mint("s3cret", "alice", 999L)
    assert(auth.validate(Some(s"Bearer $live")) == Right("alice"))
    assert(auth.validate(Some(s"Bearer $dead")) == Left("token expired"))
  }

  test("empty secret fails closed") {
    val noSecret = new BearerAuth("hmac", "")
    assert(noSecret.validate(Some(s"Bearer ${mint("s3cret", "alice")}"))
      == Left("JWT_SECRET is not configured"))
  }

  test("reference-native HS256 JWT validates (docs/jwt.md claims)") {
    val jwt = BearerAuth.mintJwt("s3cret", "bob", expiry = 2_000_000L,
      extraClaims = Map("preferred_username" -> "bobby", "email" -> "bob@x.com"))
    assert(auth.validate(Some(s"Bearer $jwt")) == Right("bobby"))
    assert(auth.validateUser(Some(s"Bearer $jwt")) ==
      Right(Attribution.User(username = "bobby", email = "bob@x.com", subject = "bob")))
    // exp is required and enforced (60s leeway)
    val dead = BearerAuth.mintJwt("s3cret", "bob", expiry = 100L)
    assert(auth.validate(Some(s"Bearer $dead")) == Left("token expired"))
    // sub is required
    val noSub = Jwt.mintHs256("s3cret", Map("exp" -> 2_000_000L))
    assert(auth.validate(Some(s"Bearer $noSub")) == Left("token has no sub claim"))
    // wrong secret
    val forged = BearerAuth.mintJwt("other", "bob", expiry = 2_000_000L)
    assert(auth.validate(Some(s"Bearer $forged")) == Left("invalid token signature"))
    // RS256 token against the hmac provider is rejected, not waved through
    val g = java.security.KeyPairGenerator.getInstance("RSA"); g.initialize(2048)
    val rsTok = Jwt.mintAsymmetric(g.generateKeyPair().getPrivate, "RS256",
      Map("sub" -> "x", "exp" -> 2_000_000L))
    assert(auth.validate(Some(s"Bearer $rsTok")) ==
      Left("unsupported algorithm 'RS256' for hmac provider"))
  }

  test("alg=none is rejected by the hmac JWT path") {
    val enc = java.util.Base64.getUrlEncoder.withoutPadding()
    val tok = enc.encodeToString("""{"alg":"none","typ":"JWT"}""".getBytes) + "." +
      enc.encodeToString("""{"sub":"x","exp":2000000}""".getBytes) + "."
    assert(auth.validate(Some(s"Bearer $tok")) ==
      Left("unsupported algorithm 'none' for hmac provider"))
  }

  test("OIDC providers without issuer config fail closed") {
    val okta = new BearerAuth("okta", "ignored")
    assert(okta.validate(Some("Bearer whatever")).isLeft)
  }

  test("fromConfig gates on OAUTH_ENABLED") {
    import graft.config.EngineConfig
    assert(BearerAuth.fromConfig(
      EngineConfig.fromEnv(Map.empty).toOption.get).isEmpty)
    assert(BearerAuth.fromConfig(
      EngineConfig.fromEnv(Map("OAUTH_ENABLED" -> "true")).toOption.get).isDefined)
  }
}
